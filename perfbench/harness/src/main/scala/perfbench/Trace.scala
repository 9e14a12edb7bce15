package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** In-memory span recorder, written out once when the run ends.
  *
  * Spans nest run → pass → op (query or batch) → phase → Spark job →
  * Spark stage. Times are epoch microseconds on one clock: harness
  * spans read `System.nanoTime` offset to the epoch at start-up, and
  * Spark's listener times are epoch milliseconds. Jobs are attributed
  * to the phase whose job group was set when they were submitted, never
  * by job description (operators overwrite descriptions).
  */
final class Trace {
  private val epochMicros0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowMicros: Long = epochMicros0 + (System.nanoTime() - nano0) / 1000L

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L

  /** Opens a span; `op` 0 makes the span the op of its own subtree. */
  def open(parent: Long, op: Long, kind: String, name: String): Span =
    synchronized {
      val s = Span(nextId, parent, if (op == 0 && kind == "op") nextId else op,
        kind, name, nowMicros, -1L, mutable.LinkedHashMap.empty)
      nextId += 1
      spans += s
      s
    }

  def close(s: Span): Unit = s.end = nowMicros

  /** Job group of a phase span; the listener maps it back to the span. */
  def group(s: Span): String = s"perfbench-${s.id}"

  private def spanOfGroup(g: String): Option[Span] =
    Option(g).filter(_.startsWith("perfbench-"))
      .flatMap(x => x.stripPrefix("perfbench-").toLongOption)
      .flatMap(id => synchronized(spans.find(_.id == id)))

  /** Listener: one span per job and per stage, with task counters
    * summed per stage. Registered once for the whole traced run.
    */
  final class Listener extends SparkListener {
    private val jobSpans = mutable.Map.empty[Int, Span]
    private val stageJob = mutable.Map.empty[Int, Span]
    private val stageAcc = mutable.Map.empty[Int, mutable.LinkedHashMap[String, Double]]

    private def add(m: mutable.Map[String, Double], k: String, v: Double): Unit =
      m(k) = m.getOrElse(k, 0.0) + v

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      val phase = spanOfGroup(g)
      val s = Trace.this.synchronized {
        val sp = Span(nextId, phase.map(_.id).getOrElse(0L),
          phase.map(_.op).getOrElse(0L), "job", s"job ${e.jobId}",
          e.time * 1000L, -1L, mutable.LinkedHashMap.empty)
        nextId += 1
        spans += sp
        sp
      }
      jobSpans(e.jobId) = s
      e.stageIds.foreach(id => if (!stageJob.contains(id)) stageJob(id) = s)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobSpans.remove(e.jobId).foreach(_.end = e.time * 1000L)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = stageAcc.getOrElseUpdate(e.stageId, mutable.LinkedHashMap.empty)
      val info = e.taskInfo
      val tm = e.taskMetrics
      add(m, "tasks", 1)
      if (info.duration < 10) add(m, "tiny_tasks", 1)
      if (tm != null) {
        val run = tm.executorRunTime.toDouble
        val deser = tm.executorDeserializeTime.toDouble
        // scheduler delay as the Spark UI computes it, plus deserialization
        val delay = math.max(0.0, info.duration - run - deser -
          tm.resultSerializationTime - info.gettingResultTime)
        add(m, "run_s", run / 1e3)
        add(m, "cpu_s", tm.executorCpuTime / 1e9)
        add(m, "gc_s", tm.jvmGCTime / 1e3)
        add(m, "wait_s", (delay + deser) / 1e3)
        add(m, "shuffle_write_bytes", tm.shuffleWriteMetrics.bytesWritten.toDouble)
        add(m, "shuffle_write_rows", tm.shuffleWriteMetrics.recordsWritten.toDouble)
        add(m, "shuffle_read_bytes", tm.shuffleReadMetrics.totalBytesRead.toDouble)
        add(m, "fetch_wait_s", tm.shuffleReadMetrics.fetchWaitTime / 1e3)
        add(m, "spill_bytes", (tm.memoryBytesSpilled + tm.diskBytesSpilled).toDouble)
        add(m, "scan_rows", tm.inputMetrics.recordsRead.toDouble)
        add(m, "scan_bytes", tm.inputMetrics.bytesRead.toDouble)
        add(m, "sink_rows", tm.outputMetrics.recordsWritten.toDouble)
        add(m, "sink_bytes", tm.outputMetrics.bytesWritten.toDouble)
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val job = stageJob.get(si.stageId)
      val acc = stageAcc.remove(si.stageId).getOrElse(mutable.LinkedHashMap.empty[String, Double])
      Trace.this.synchronized {
        spans += Span(nextId, job.map(_.id).getOrElse(0L), job.map(_.op).getOrElse(0L),
          "stage", s"stage ${si.stageId}",
          si.submissionTime.getOrElse(0L) * 1000L,
          si.completionTime.getOrElse(0L) * 1000L, acc)
        nextId += 1
      }
    }
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def writeJsonl(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try synchronized {
      spans.foreach { s =>
        val attrs = s.attrs.map { case (k, v) => s""""$k":${num(v)}""" }.mkString(",")
        w.println(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"kind":"${s.kind}",""" +
          s""""name":${Json.str(s.name)},"start":${s.start},"end":${s.end},"attrs":{$attrs}}""")
      }
    } finally w.close()
  }
}

final case class Span(id: Long, parent: Long, op: Long, kind: String,
    name: String, start: Long, var end: Long,
    attrs: mutable.LinkedHashMap[String, Double])

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
