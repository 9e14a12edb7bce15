package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

/** Operators have no session-global side effects: the read path's
  * "several users on one session" shape — read-path queries on their
  * own threads beside the heavy exact-Jaccard and reach-sketch
  * operators — answers exactly as a serial run does, labels each
  * thread's jobs with that thread's own label, and never changes the
  * shared session's conf.
  */
class ConcurrencySpec extends SparkSpec {
  private val light = Seq("q14_date_rescue", "q17_read_path", "q71_geocode_enrich")
  private val heavy = Seq("q112_exact_jaccard", "q215_reach_sketch")
  private val owner = "graft.test.owner"

  private def digest(df: DataFrame): String = {
    val rows = df.collect().map(_.toSeq.mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private def run(name: String): String = digest(SparkEntry.queries(name)(spark, sfDir))

  test("one session, five threads: serial hashes, own job labels, untouched conf") {
    val sc = spark.sparkContext
    val serial = (light ++ heavy).map(n => n -> run(n)).toMap
    val before = spark.conf.getAll

    // every job's (owner, description), recorded by the listener bus
    val jobs = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(owner))).foreach { o =>
          jobs.add(o -> e.properties.getProperty("spark.job.description")): Unit
        }
    }
    val confSamples = new ConcurrentLinkedQueue[Map[String, String]]()
    val done = new CountDownLatch(1)
    val sampler = new Thread(() => {
      while (!done.await(5, TimeUnit.MILLISECONDS)) confSamples.add(spark.conf.getAll): Unit
    })

    // the read-path threads repeat their query so they overlap the heavy ones
    val work = light.map(n => n -> 3) ++ heavy.map(n => n -> 1)
    val pool = Executors.newFixedThreadPool(work.size)
    sc.addSparkListener(listener)
    sampler.start()
    val results = try {
      val futures = work.map { case (name, reps) =>
        name -> pool.submit(() => {
          val label = s"concurrent:$name"
          sc.setLocalProperty(owner, label)
          try GraftSession.withLabel(sc, label)((1 to reps).map(_ => run(name)))
          finally sc.setLocalProperty(owner, null)
        })
      }
      futures.map { case (name, f) => name -> f.get(10, TimeUnit.MINUTES) }
    } finally {
      done.countDown()
      sampler.join()
      pool.shutdown()
      // drain the listener bus with one last job before detaching
      sc.parallelize(Seq(1), 1).count()
      sc.removeSparkListener(listener)
    }

    results.foreach { case (name, hashes) =>
      assert(hashes.forall(_ == serial(name)), s"$name answered differently under concurrency")
    }
    val seen = jobs.asScala.toSeq
    work.foreach { case (name, _) =>
      assert(seen.exists(_._1 == s"concurrent:$name"), s"no job recorded for $name")
    }
    val mislabeled = seen.filter { case (o, d) => o != d }
    assert(mislabeled.isEmpty, s"jobs carrying another label: ${mislabeled.distinct.take(5)}")
    assert(confSamples.size > 0)
    val changed = confSamples.asScala.toSeq
      .map(c => (c.toSet.diff(before.toSet), before.toSet.diff(c.toSet)))
      .filter(d => d._1.nonEmpty || d._2.nonEmpty).distinct
    assert(changed.isEmpty, s"session conf changed while queries ran (added, removed): $changed")
    assert(spark.conf.getAll == before)
  }
}
