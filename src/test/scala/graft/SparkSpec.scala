package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM per `sbt test` fork). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // as GraftSession.builder: Tables.events requires it
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sfDir: String = TestSpark.sfDir
}

/** What Spark reported while `body` ran: each job by its call site, and
  * each physical plan description of its SQL executions (the initial
  * plan and every adaptive re-plan). The listener bus is asynchronous
  * but FIFO, so a marker job before and after `body` brackets exactly
  * its events.
  */
object SparkEvents {
  final case class Captured(jobs: Seq[String], plans: Seq[String])

  def capture(spark: SparkSession)(body: => Unit): Captured = {
    import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
    val sc = spark.sparkContext
    val (begin, end) = ("SparkEvents:begin", "SparkEvents:end")
    val jobs, plans = new ConcurrentLinkedQueue[String]()
    val closed = new CountDownLatch(1)
    @volatile var open = false
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.job.description"))
          .orNull match {
          case `begin` => open = true
          case `end` => open = false; closed.countDown()
          case _ => if (open) jobs.add(e.stageInfos.maxBy(_.stageId).name): Unit
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = if (open) e match {
        case s: SparkListenerSQLExecutionStart => plans.add(s.physicalPlanDescription): Unit
        case u: SparkListenerSQLAdaptiveExecutionUpdate => plans.add(u.physicalPlanDescription): Unit
        case _ =>
      }
    }
    def marker(label: String): Unit =
      GraftSession.withLabel(sc, label)(sc.parallelize(Seq(1), 1).count(): Unit)
    sc.addSparkListener(l)
    try {
      marker(begin)
      body
      marker(end)
      assert(closed.await(60, TimeUnit.SECONDS), "listener bus did not drain")
    } finally sc.removeSparkListener(l)
    Captured(jobs.toArray(Array.empty[String]).toSeq,
      plans.toArray(Array.empty[String]).toSeq)
  }
}
