package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GraftSession, SparkEntry}
import graft.streaming.{CorpusIngest, FrontierIngest}

/** One benchmark run in one JVM: set up, then closed-loop passes with a
  * single client until the time budget is spent, then one JSON record
  * of raw samples for `run.py`, which checks and summarises them.
  *
  * The inputs come from the plan file that `run.py` generates from the
  * seed, one tab-separated line per pass with that pass's query order
  * (`pass  i  q1,q2,...`), or one per micro-batch
  * (`batch  id  parquet-path  rows`). The first pass of a run is the
  * cold pass. A traced run (`--trace 1`) records the same passes with
  * the Spark listeners on and the plan, storage and codegen reads made,
  * and writes its spans next to the record. The session gets one core
  * per processor the JVM may use.
  *
  * Usage: Harness --workload W --data DIR --plan FILE --work DIR
  *   --out FILE --seconds N --trace 0|1
  */
object Harness {

  /** Every pass after the cold one is warm; a run makes at least two. */
  val MinPasses = 2

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val dataDir = opt("data")
    val work = opt("work")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors

    val trace = new Trace
    // set-up: JVM start (class loading included) until the session is up
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val t0 = System.nanoTime()
    val spark = GraftSession.local(cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val plan = readPlan(opt("plan"))
    require(plan.nonEmpty, "empty plan")
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val sc = spark.sparkContext
    val run = trace.open(0, 0, "run", workload)
    val ctx = new Ctx(spark, trace, dataDir, work, traced)
    // one listener for the whole run; stopping the context drains the
    // listener bus, so the last pass's events arrive before spans are written
    if (traced) sc.addSparkListener(new trace.Listener)

    // Closed loop: the next pass starts only if it is expected to end
    // within the budget (expected = the last pass's time), after the
    // minimum number of passes, and never more than 64 passes.
    val passes = scala.collection.mutable.ArrayBuffer.empty[String]
    val start = System.nanoTime()
    var last = 0.0
    var i = 0
    def elapsed = (System.nanoTime() - start) / 1e9
    while (i < MinPasses || (elapsed + last <= seconds && i < 64)) {
      val p0 = elapsed
      val pass = trace.open(run.id, 0, "pass", s"pass $i")
      val body = workload match {
        case "stream-ingest" => ctx.streamPass(pass, plan)
        case _ =>
          val order = plan.filter(_.head == "pass")
          ctx.queryPass(pass, i, order(i % order.size)(2).split(',').toSeq)
      }
      trace.close(pass)
      passes += s"""{"index":$i,"ops":[${body.mkString(",")}]}"""
      last = elapsed - p0
      i += 1
    }
    trace.close(run)
    spark.stop()
    if (traced) trace.writeJsonl(opt("out") + ".spans.jsonl")
    val peakRssMb = peakRss()
    val w = new java.io.PrintWriter(opt("out"), "UTF-8")
    try w.println(
      s"""{"workload":${Json.str(workload)},"cores":$cores,"setup_s":$setupS,""" +
      s""""session_s":$sessionS,"passes":[${passes.mkString(",")}],""" +
      s""""peak_rss_mb":$peakRssMb}""")
    finally w.close()
  }

  private def readPlan(path: String): Seq[Array[String]] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map(_.split('\t')).toVector
    finally src.close()
  }

  /** VmHWM of this process, from the kernel's accounting. */
  private def peakRss(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }

  /** The calls the benchmark makes into the engine, each phase under a
    * job group that is restored afterwards.
    */
  final class Ctx(spark: SparkSession, trace: Trace, dataDir: String, work: String,
      traced: Boolean) {
    private val sc = spark.sparkContext
    private val hconf = sc.hadoopConfiguration

    /** Traced runs: the executed `noop` writes, as the listener bus
      * delivers them; each op takes its own write after it returns.
      */
    private val writes = new LinkedBlockingQueue[QueryExecution]
    if (traced) spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "overwrite") writes.put(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })

    private def phase[T](op: Span, name: String)(body: => T): T = {
      val s = trace.open(op.id, op.op, "phase", name)
      val keys = Seq("spark.jobGroup.id", "spark.job.description",
        "spark.job.interruptOnCancel")
      val saved = keys.map(k => k -> sc.getLocalProperty(k))
      sc.setJobGroup(trace.group(s), s"perfbench ${op.name} $name")
      try body
      finally {
        saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
        trace.close(s)
      }
    }

    /** Drops both cache surfaces: the SQL cache and the blocks left by
      * `localCheckpoint`, so no op inherits another's cached state.
      */
    private def dropRunState(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }

    private def delete(p: String): Unit = {
      val path = new Path(p)
      path.getFileSystem(hconf).delete(path, true): Unit
    }

    private def counters(): Map[String, Double] = Map(
      "codegen_classes" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "codegen_s" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount *
        CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean / 1e3,
      "jit_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
      "gc_s" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3)

    private def record(op: Span, before: Map[String, Double]): Unit = {
      val after = counters()
      after.foreach { case (k, v) => op.attrs(k) = math.max(0.0, v - before(k)) }
      val persisted = sc.getPersistentRDDs.keySet
      op.attrs("materialize_rdds") = persisted.size
      op.attrs("materialize_mem_bytes") = sc.getRDDStorageInfo
        .filter(r => persisted.contains(r.id)).map(_.memSize).sum.toDouble
    }

    private def opJson(op: Span, ok: Boolean, err: String, extra: String): String = {
      val secs = (op.end - op.start) / 1e6
      s"""{"name":${Json.str(op.name)},"s":$secs,"ok":$ok,"error":${
        if (err == null) "null" else Json.str(err)}$extra}"""
    }

    /** The op's own `noop` write: its optimization and planning time
      * from the write's planning tracker, and its physical plan.
      */
    private def recordWrite(op: Span): Unit = {
      val qe = writes.poll(60, TimeUnit.SECONDS)
      require(qe != null, s"no write event for ${op.name}")
      op.attrs("plan_s") = Seq("optimization", "planning")
        .flatMap(qe.tracker.phases.get).map(_.durationMs).sum / 1e3
      val nodes = planNodes(qe.executedPlan)
      op.attrs("plan_nodes") = nodes.size
      op.attrs("plan_exchanges") = nodes.count {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
        case _ => false
      }
    }

    def queryPass(pass: Span, index: Int, names: Seq[String]): Seq[String] = names.map { name =>
      dropRunState()
      writes.clear()
      val op = trace.open(pass.id, 0, "op", name)
      val before = if (traced) counters() else Map.empty[String, Double]
      var df: DataFrame = null
      val err = try {
        df = phase(op, "build")(SparkEntry.queries(name)(spark, dataDir))
        phase(op, "exec")(df.write.format("noop").mode("overwrite").save())
        trace.close(op)
        if (traced) {
          record(op, before)
          recordWrite(op)
        }
        null
      } catch { case e: Throwable =>
        if (op.end < 0) trace.close(op)
        s"${e.getClass.getName}: ${e.getMessage}"
      }
      // correctness output of every pass, outside the op's timed span
      val verr = if (err != null) null else try {
        val v = trace.open(pass.id, op.id, "verify", name)
        try phase(v, "write")(df.write.mode("overwrite").parquet(s"$work/verify/$index/$name"))
        finally trace.close(v)
        null
      } catch { case e: Throwable => s"verify write: ${e.getMessage}" }
      val e = Option(err).orElse(Option(verr)).orNull
      opJson(op, e == null, e, "")
    }

    /** Every node of an executed physical plan: the final adaptive
      * plans, the exchanges inside their query stages, and subqueries.
      */
    private def planNodes(p: SparkPlan): Seq[SparkPlan] =
      p.collectWithSubqueries { case n => n }.flatMap {
        case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
        case q: QueryStageExec => planNodes(q.plan)
        case n => Seq(n)
      }

    def streamPass(pass: Span, plan: Seq[Array[String]]): Seq[String] = {
      val dir = s"$work/stream-pass"
      delete(dir)
      val corpusIdx = s"$dir/corpus-index"
      val corpus = s"$dir/corpus"
      val urlIdx = s"$dir/url-index"
      val fetchLog = s"$dir/fetch-log"
      val ops = plan.filter(_.head == "batch").map { case Array(_, id, path, rows) =>
        val op = trace.open(pass.id, 0, "op", s"batch $id")
        op.attrs("offered") = rows.toDouble
        val before = if (traced) counters() else Map.empty[String, Double]
        var kept, fetched = -1L
        val err = try {
          val batch = phase(op, "read")(spark.read.parquet(path))
          kept = phase(op, "corpus")(CorpusIngest.ingestBatch(
            batch.select(col("doc_id"), col("text")), corpusIdx, corpus,
            "doc_id", "text", batchId = Some(id.toLong)))
          fetched = phase(op, "frontier")(FrontierIngest.ingestBatch(
            batch.select(col("doc_id"), col("url")), urlIdx, fetchLog,
            "doc_id", "url", batchId = Some(id.toLong)))
          trace.close(op)
          if (traced) record(op, before)
          null
        } catch { case e: Throwable =>
          if (op.end < 0) trace.close(op)
          s"${e.getClass.getName}: ${e.getMessage}"
        }
        op.attrs("kept") = kept.toDouble
        (op, err, kept, fetched)
      }
      // what was committed, read back outside the ops' timed spans
      def ids(p: String): String =
        try spark.read.parquet(p).select(col("doc_id").cast("long")).collect()
          .map(_.getLong(0)).sorted.mkString("[", ",", "]")
        catch { case _: Throwable => "[]" }
      val v = trace.open(pass.id, 0, "verify", "committed")
      val (corpusIds, logIds) =
        try phase(v, "read")((ids(corpus), ids(fetchLog))) finally trace.close(v)
      delete(dir)
      dropRunState()
      ops.zipWithIndex.map { case ((op, err, kept, fetched), j) =>
        val committed = if (j == ops.size - 1)
          s""","corpus_ids":$corpusIds,"fetch_ids":$logIds""" else ""
        opJson(op, err == null, err, s""","kept":$kept,"fetched":$fetched$committed""")
      }
    }
  }
}
