import java.nio.file.Path;
import java.util.ArrayList;
import java.util.Comparator;
import java.util.List;
import java.util.Map;
import java.util.TreeMap;

import jdk.jfr.consumer.RecordedEvent;
import jdk.jfr.consumer.RecordedFrame;
import jdk.jfr.consumer.RecordingFile;

/**
 * Driver self time of a perfbench stream-ingest run, per warm pass, by
 * ingest (CorpusIngest / FrontierIngest / neither) and by Spark phase.
 *
 * Record the harness JVM with 1 ms sampling and full stacks (build the
 * harness first with a plain run, so the recorded run starts no sbt):
 *
 *   JAVA_TOOL_OPTIONS="-XX:FlightRecorderOptions:stackdepth=1024 -XX:StartFlightRecording:filename=/tmp/si.jfr,+jdk.ExecutionSample#period=1ms" python3 perfbench/run.py --workload stream-ingest --seed 1 --seconds 30 --trace 0
 *   java tools/JfrDriverPhases.java /tmp/si.jfr
 *
 * Every execution sample of the driver thread ("main") counts as one
 * sampling period of CPU; a thread blocked on a running job is not
 * sampled, so the counts are driver work outside Spark jobs. A batch
 * starts where a CorpusIngest sample follows a FrontierIngest one; the
 * first four batches are the cold pass and are left out. A sample's
 * phase is that of its innermost frame that names one.
 */
public class JfrDriverPhases {

  static final int BATCHES_PER_PASS = 4;

  static final String[][] MARKERS = {
    {"codegen", "org.codehaus.janino.", "org.codehaus.commons.", ".codegen.CodeGenerator",
        ".codegen.Generate"},
    {"analyze", ".catalyst.analysis.", "QueryExecution.assertAnalyzed",
        "QueryExecution.analyzed", "QueryExecution.lambda$analyzed", "QueryExecution.$anonfun$analyzed"},
    {"optimize", ".catalyst.optimizer.", "SparkOptimizer", "QueryExecution.optimizedPlan",
        "QueryExecution.$anonfun$optimizedPlan"},
    {"plan/AQE", ".execution.adaptive.", ".catalyst.planning.", "SparkStrategies",
        "SparkPlanner", "EnsureRequirements", "QueryExecution.sparkPlan",
        "QueryExecution.$anonfun$sparkPlan", "QueryExecution.executedPlan",
        "QueryExecution.$anonfun$executedPlan", "QueryExecution.prepareForExecution"},
    {"job launch", "org.apache.spark.scheduler.", "SparkContext.runJob", "ClosureCleaner",
        "org.apache.spark.rdd."},
    {"io", "org.apache.hadoop.", "org.apache.parquet.", ".datasources.parquet."},
  };

  static String phase(List<RecordedFrame> frames) {
    for (RecordedFrame f : frames) {
      String name = f.getMethod().getType().getName() + "." + f.getMethod().getName();
      for (String[] m : MARKERS)
        for (int i = 1; i < m.length; i++)
          if (name.contains(m[i])) return m[0];
    }
    return "other";
  }

  static String ingest(List<RecordedFrame> frames) {
    for (RecordedFrame f : frames) {
      String type = f.getMethod().getType().getName();
      if (type.startsWith("graft.streaming.CorpusIngest")) return "CorpusIngest";
      if (type.startsWith("graft.streaming.FrontierIngest")) return "FrontierIngest";
    }
    return "neither";
  }

  public static void main(String[] args) throws Exception {
    if (args.length != 1) {
      System.err.println("usage: java tools/JfrDriverPhases.java <recording.jfr>");
      System.exit(2);
    }
    List<RecordedEvent> samples = new ArrayList<>();
    try (RecordingFile f = new RecordingFile(Path.of(args[0]))) {
      while (f.hasMoreEvents()) {
        RecordedEvent e = f.readEvent();
        if (!e.getEventType().getName().equals("jdk.ExecutionSample")) continue;
        if (e.getThread("sampledThread") == null ||
            !"main".equals(e.getThread("sampledThread").getJavaName())) continue;
        samples.add(e);
      }
    }
    samples.sort(Comparator.comparing(RecordedEvent::getStartTime));
    Map<String, Map<String, Integer>> counts = new TreeMap<>();
    int batch = -1;
    String last = null;
    for (RecordedEvent e : samples) {
      List<RecordedFrame> frames = e.getStackTrace().getFrames();
      String in = ingest(frames);
      if (in.equals("CorpusIngest") && !in.equals(last)) batch++;
      if (!in.equals("neither")) last = in;
      if (batch < BATCHES_PER_PASS) continue;
      counts.computeIfAbsent(in, k -> new TreeMap<>()).merge(phase(frames), 1, Integer::sum);
    }
    int warmBatches = batch + 1 - BATCHES_PER_PASS;
    if (warmBatches < BATCHES_PER_PASS) {
      System.err.println("fewer than one warm pass in the recording (" + (batch + 1) + " batches)");
      System.exit(1);
    }
    double passes = (double) warmBatches / BATCHES_PER_PASS;
    System.out.printf("driver samples per warm pass (%.2f warm passes, %d main-thread samples)%n",
        passes, samples.size());
    for (var byIngest : counts.entrySet()) {
      int total = byIngest.getValue().values().stream().mapToInt(Integer::intValue).sum();
      System.out.printf("%-15s %7.0f%n", byIngest.getKey(), total / passes);
      for (var byPhase : byIngest.getValue().entrySet())
        System.out.printf("  %-13s %7.0f%n", byPhase.getKey(), byPhase.getValue() / passes);
    }
  }
}
