package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event

class StreamingSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("streaming windowed counts match the batch computation") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val events = Seq(
      Event(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
      Event(2, ts("2024-01-01 10:15:00"), 2, "click", 2.0),
      Event(3, ts("2024-01-01 10:55:00"), 1, "view", 3.0),
      Event(4, ts("2024-01-01 11:05:00"), 1, "click", 4.0),
      Event(5, ts("2024-01-01 12:30:00"), 2, "view", 5.0),
      // late watermark advancer
      Event(6, ts("2024-01-01 15:00:00"), 3, "click", 6.0))

    val agg = EventStreams.windowedCounts(input.toDF(), "1 hour", "1 hour")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("win_out").start()
    try {
      input.addData(events.take(5))
      q.processAllAvailable()
      input.addData(events.drop(5)) // advances watermark past earlier windows
      q.processAllAvailable()
      val streamed = spark.table("win_out")
        .select("window_start", "event_type", "n_events", "total_value")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      // batch twin on the same data (windows before the final watermark)
      val batch = EventStreams.windowedCounts(events.toDF(), "1 hour", "1 hour")
        .filter(col("window_start") < lit(ts("2024-01-01 14:00:00")))
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(batch.subsetOf(streamed))
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("stream-static enrichment join: stream == batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dim = graft.queries.StreamingQueries.eventCategories
      .toDF("event_type", "category")
    val input = MemoryStream[Event]
    val events = Seq(
      Event(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
      Event(2, ts("2024-01-01 10:15:00"), 2, "purchase", 2.0),
      Event(3, ts("2024-01-01 10:55:00"), 1, "view", 3.0),
      Event(4, ts("2024-01-01 11:05:00"), 1, "error", 4.0),
      // watermark advancer
      Event(5, ts("2024-01-01 15:00:00"), 3, "click", 6.0))
    val agg = EventStreams.enrichedWindowedCounts(input.toDF(), dim, "1 hour", "1 hour")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("enrich_out").start()
    try {
      input.addData(events.take(4))
      q.processAllAvailable()
      input.addData(events.drop(4))
      q.processAllAvailable()
      val streamed = spark.table("enrich_out")
        .select("window_start", "category", "n_events", "total_value")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      val batch = EventStreams.enrichedWindowedCounts(events.toDF(), dim, "1 hour", "1 hour")
        .filter(col("window_start") < lit(ts("2024-01-01 14:00:00")))
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(batch.nonEmpty && batch.subsetOf(streamed))
      // click+view fold into one 'engagement' row per window
      assert(streamed.exists { case (_, c, n, v) => c == "engagement" && n == 2 && v == 4.0 })
    } finally q.stop()
  }

  test("streaming dedup drops replayed events; stream == batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val base = Seq(
      Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
      Event(2, ts("2024-01-01 10:01:00"), 2, "view", 2.0),
      Event(3, ts("2024-01-01 10:02:00"), 1, "click", 3.0))
    val deduped = EventStreams.dedupEvents(input.toDF(), Seq("event_id"), "1 hour")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      input.addData(base)
      q.processAllAvailable()
      input.addData(base.take(2)) // replay within the watermark horizon
      q.processAllAvailable()
      val streamed = spark.table("dedup_out")
        .select("event_id").collect().map(_.getLong(0)).sorted
      val batch = EventStreams.dedupEvents((base ++ base.take(2)).toDF(), Seq("event_id"))
        .select("event_id").collect().map(_.getLong(0)).sorted
      assert(streamed.toSeq == Seq(1L, 2L, 3L), s"stream kept ${streamed.toSeq}")
      assert(batch.toSeq == streamed.toSeq)
    } finally q.stop()
  }

  test("stream-stream interval join: stream == batch, matches planted intervals") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val rows = Seq(
      Event(1, ts("2024-01-01 10:00:00"), 1, "error", 0.0),
      Event(2, ts("2024-01-01 10:05:00"), 1, "purchase", 5.0),  // within 10 min of error 1
      Event(3, ts("2024-01-01 10:20:00"), 1, "purchase", 7.0),  // outside the window
      Event(4, ts("2024-01-01 10:01:00"), 2, "purchase", 9.0),  // other user: no error
      Event(5, ts("2024-01-01 11:00:00"), 1, "error", 0.0),
      Event(6, ts("2024-01-01 11:09:00"), 1, "purchase", 1.0),  // within 10 min of error 5
      // late watermark driver so all joinable pairs are emitted
      Event(7, ts("2024-01-01 15:00:00"), 9, "view", 0.0))
    def split(df: org.apache.spark.sql.DataFrame) = (
      df.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts")),
      df.filter(col("event_type") === "error")
        .select(col("event_id").as("error_id"), col("user_id"), col("ts")))
    val (sp, se) = split(input.toDF())
    val joined = EventStreams.joinWithinInterval(sp, se, "user_id",
      rightTs = "ts", windowSec = 600)
      .select("purchase_id", "error_id")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj_out").start()
    try {
      input.addData(rows)
      q.processAllAvailable()
      input.addData(Seq(Event(8, ts("2024-01-01 16:00:00"), 9, "view", 0.0)))
      q.processAllAvailable()
      val streamed = spark.table("ssj_out")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val (bp, be) = split(rows.toDF())
      val batch = EventStreams.joinWithinInterval(bp, be, "user_id",
          rightTs = "ts", windowSec = 600)
        .select("purchase_id", "error_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == Set((2L, 1L), (6L, 5L)), s"stream got $streamed")
      assert(batch == streamed, s"batch $batch != stream $streamed")
    } finally q.stop()
  }

  test("base events table has unique event_ids (q44 replay-identity assumption)") {
    // q44's oracle and Spark dedup both pick an arbitrary copy per
    // event_id; they agree because every planted replay is byte-identical
    // — which holds only while event_id is unique in the BASE table. A
    // future dataset violating this must fail loudly here, not as a
    // nondeterministic oracle mismatch.
    val dups = graft.sources.Tables.events(spark, sfDir)
      .groupBy(col("event_id")).count().filter(col("count") > 1).count()
    assert(dups == 0L, s"$dups duplicated event_ids in the base events table")
  }

  test("mapGroupsWithState running profiles accumulate across triggers") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val profiles = EventStreams.runningUserProfiles(input.toDS())
    val q = profiles.writeStream.outputMode("update")
      .format("memory").queryName("prof_out").start()
    try {
      input.addData(Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
        Event(2, ts("2024-01-01 10:01:00"), 1, "view", 2.0))
      q.processAllAvailable()
      input.addData(Event(3, ts("2024-01-01 10:02:00"), 1, "click", 3.0))
      q.processAllAvailable()
      val rows = spark.table("prof_out")
        .groupBy("user_id").agg(max("n_events").as("n"), max("total_value").as("v"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(rows.toSet == Set((1L, 3L, 6.0)))
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionization closes sessions on gap") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val sessions = EventStreams.sessionize(input.toDS(), gapSec = 600)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    try {
      // user 1: two events 5 min apart (one session), then a 30-min gap
      input.addData(
        Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
        Event(2, ts("2024-01-01 10:05:00"), 1, "view", 1.0))
      q.processAllAvailable()
      input.addData(
        Event(3, ts("2024-01-01 10:40:00"), 1, "click", 1.0), // new session
        Event(4, ts("2024-01-01 16:00:00"), 2, "click", 1.0)) // watermark push
      q.processAllAvailable()
      input.addData(
        Event(5, ts("2024-01-01 20:00:00"), 3, "click", 1.0)) // more watermark
      q.processAllAvailable()
      val rows = spark.table("sess_out").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Timestamp]("session_start"),
          r.getAs[Int]("n_events")))
      // the first user-1 session (10:00-10:05, 2 events) must be closed
      assert(rows.contains((1L, ts("2024-01-01 10:00:00"), 2)))
    } finally q.stop()
  }

  test("streaming corpus ingest: stream == sequential batch ingest (3 batches)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.CorpusIngest
    // synthetic corpus: 40 base docs, long enough for 7-shingles;
    // batch 2 and 3 carry truncated near-dups of earlier batches
    // pseudorandom hex tokens: cross-doc shingle overlap ≈ 0, so only
    // the planted truncations are near-dups
    def body(i: Int): String =
      (0 until 15).map(k => java.lang.Long.toHexString(
        (i.toLong * 1000003 + k) * 2654435761L & 0xffffffffffL)).mkString(" ")
    def docsDf(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
    val b1 = (0 until 20).map(i => (i.toLong, body(i)))
    val b2 = (20 until 40).map(i => (i.toLong, body(i))) ++
      (0 until 5).map(i => (1000L + i, body(i).dropRight(10)))   // dups of b1
    val b3 = (20 until 25).map(i => (2000L + i, body(i).dropRight(12))) ++ // dups of b2
      (0 until 5).map(i => (3000L + i, body(i).dropRight(20)))   // dups of b1
    val tmp = java.nio.file.Files.createTempDirectory("graft-cingest").toString
    // batch reference: the same handler applied sequentially
    Seq(b1, b2, b3).foreach(b => CorpusIngest.ingestBatch(
      docsDf(b), s"$tmp/idxB", s"$tmp/outB", "doc_id", "text", minJaccard = 0.5): Unit)
    val batchKept = spark.read.parquet(s"$tmp/outB")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // the plants must actually exercise the index: every dup dropped
    assert(batchKept == (0 until 40).map(_.toLong).toSet,
      s"expected only base docs to survive, got $batchKept")
    // streaming: three AvailableNow drains over one checkpoint — one
    // micro-batch each, and a restart-recovery proof for free
    val input = MemoryStream[(Long, String)]
    Seq(b1, b2, b3).foreach { b =>
      input.addData(b)
      val q = CorpusIngest.ingestStream(
        input.toDF().toDF("doc_id", "text"),
        s"$tmp/idxS", s"$tmp/outS", "doc_id", "text", s"$tmp/ckpt",
        minJaccard = 0.5)
      q.awaitTermination()
    }
    val streamKept = spark.read.parquet(s"$tmp/outS")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamKept == batchKept, "stream != batch")
  }

  test("corpus ingest keyed commit: crash replay and duplicate replay are exactly-once") {
    import spark.implicits._
    import graft.streaming.CorpusIngest
    import org.apache.hadoop.fs.Path
    def body(i: Int): String =
      (0 until 15).map(k => java.lang.Long.toHexString(
        (i.toLong * 1000003 + k) * 2654435761L & 0xffffffffffL)).mkString(" ")
    def docsDf(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
    val b1 = (0 until 20).map(i => (i.toLong, body(i)))
    val b2 = (20 until 40).map(i => (i.toLong, body(i))) ++
      (0 until 5).map(i => (1000L + i, body(i).dropRight(10))) // dups of b1
    val tmp = java.nio.file.Files.createTempDirectory("graft-exonce").toString
    val (idx, out) = (s"$tmp/idx", s"$tmp/out")
    val fs = new Path(tmp).getFileSystem(spark.sparkContext.hadoopConfiguration)

    val n1 = CorpusIngest.ingestBatch(docsDf(b1), idx, out, "doc_id", "text",
      minJaccard = 0.5, batchId = Some(0L))
    assert(n1 == 20)

    // CRASH WINDOW 1: an attempt of batch 1 died after moving SOME
    // corpus and index files in but BEFORE the commit marker. Fabricate
    // the residue by running batch 1 keyed, then deleting its marker
    // and one of its corpus files — the replay must first sweep all
    // batch1-* residue and then redo the batch from the pre-batch
    // index state.
    val n2 = CorpusIngest.ingestBatch(docsDf(b2), idx, out, "doc_id", "text",
      minJaccard = 0.5, batchId = Some(1L))
    assert(n2 == 20, s"expected the 5 planted dups dropped, kept $n2")
    fs.delete(new Path(out, "_committed-batch-1"), false)
    val partial = fs.listStatus(new Path(out))
      .filter(_.getPath.getName.startsWith("batch1-")).head.getPath
    fs.delete(partial, false)

    val n2replay = CorpusIngest.ingestBatch(docsDf(b2), idx, out, "doc_id", "text",
      minJaccard = 0.5, batchId = Some(1L))
    assert(n2replay == 20)
    val afterCrashReplay = spark.read.parquet(out)
      .groupBy("doc_id").count().filter(col("count") > 1).count()
    assert(afterCrashReplay == 0, "crash replay duplicated corpus rows")
    assert(spark.read.parquet(out).count() == 40)

    // CRASH WINDOW 2: replay of a FULLY COMMITTED batch (crash after
    // marker, before checkpoint advance) must be a pure no-op that
    // still reports the committed count.
    val corpusFilesBefore = fs.listStatus(new Path(out)).map(_.getPath.getName).toSet
    val n2dup = CorpusIngest.ingestBatch(docsDf(b2), idx, out, "doc_id", "text",
      minJaccard = 0.5, batchId = Some(1L))
    assert(n2dup == 20, "committed replay must report the committed count")
    val corpusFilesAfter = fs.listStatus(new Path(out)).map(_.getPath.getName).toSet
    assert(corpusFilesAfter == corpusFilesBefore, "committed replay touched the corpus")
    assert(spark.read.parquet(out).count() == 40)

    // the index must match the corpus exactly after all replays: one
    // signature row per surviving doc
    assert(spark.read.parquet(idx).select("_id").distinct().count() == 40)
    assert(spark.read.parquet(idx).count() == 40)
  }

  test("streaming frontier ingest: stream == sequential batch ingest (3 batches)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.FrontierIngest
    def urlDf(rows: Seq[(Long, String)]) = rows.toDF("id", "url")
    val b1 = (0 until 20).map(i => (i.toLong, s"https://h$i.example.com/a?x=$i"))
    val b2 = (20 until 40).map(i => (i.toLong, s"https://h$i.example.com/a?x=$i")) ++
      (0 until 5).map(i =>          // respellings of b1: case/port/tracking
        (1000L + i, s"HTTPS://H$i.example.COM:443/a?x=$i&utm_r=1")) ++
      Seq((2000L, "https://dup.example.com/z"),
        (2001L, "https://dup.example.com/z?fbclid=1")) // intra-batch twin
    val b3 = (20 until 25).map(i =>  // respellings of b2
        (3000L + i, s"https://h$i.example.com/a?utm_q=2&x=$i")) ++
      Seq((4000L, "not a url"), (4001L, "https://fresh.example.net/new"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-fingest").toString
    Seq(b1, b2, b3).foreach(b => FrontierIngest.ingestBatch(
      urlDf(b), s"$tmp/idxB", s"$tmp/logB", "id", "url"): Unit)
    val batchKept = spark.read.parquet(s"$tmp/logB")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(batchKept ==
      ((0 until 40).map(_.toLong) ++ Seq(2000L, 4001L)).toSet,
      s"respellings/twins/non-urls must drop: $batchKept")
    val input = MemoryStream[(Long, String)]
    Seq(b1, b2, b3).foreach { b =>
      input.addData(b)
      val q = FrontierIngest.ingestStream(
        input.toDF().toDF("id", "url"),
        s"$tmp/idxS", s"$tmp/logS", "id", "url", s"$tmp/ckpt")
      q.awaitTermination()
    }
    val streamKept = spark.read.parquet(s"$tmp/logS")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(streamKept == batchKept, "stream != batch")
  }

  test("two-hop streaming crawl: stream == batch when hop 2's input " +
      "is hop 1's logged discoveries") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.Urls
    import graft.streaming.FrontierIngest
    import org.apache.spark.sql.functions._
    // six seed pages; each links to a hot root-relative target
    // (/hot/{id%2}: in-batch keep-first), a unique child, and a
    // tracking respelling of itself (index dedup)
    val seeds = (0L until 6L).map(i =>
      (i, s"https://h${i % 3}.example.com/s/$i",
        s"""<a href="/hot/${i % 2}">a</a><a href='c$i'>b</a>""" +
          s"""<a href="/s/$i?utm_x=1">c</a>"""))
    val seedPages = seeds.toDF("id", "url", "html")
    def discover(pages: org.apache.spark.sql.DataFrame, off: Long) =
      pages.select(col("id"), col("url"),
          posexplode(Urls.extractHrefs(col("html")))
            .as(Seq("_ln", "_href")))
        .select((lit(off) + col("id") * 8 + col("_ln")).as("id"),
          Urls.resolveUrl(col("url"), col("_href")).as("url"))
    // pages hop 1 fetched, with bodies: one fresh child (absolute) +
    // a link back to /hot/0 (cross-hop dedup on its host)
    def secondHop(log: org.apache.spark.sql.DataFrame) =
      discover(log.filter(col("id") >= 100L)
        .select(col("id"), col("url"),
          concat(lit("<a href=\""), col("canonical_url"),
            lit("/d\">x</a><a href='/hot/0'>y</a>")).as("html")), 10000L)
    val tmp = java.nio.file.Files.createTempDirectory("graft-2hop").toString

    // batch path: three sequential keyed ingests, hop 2 from the log
    FrontierIngest.ingestBatch(seedPages.select("id", "url"),
      s"$tmp/idxB", s"$tmp/logB", "id", "url", batchId = Some(0L)): Unit
    val h1 = discover(seedPages, 100L)
    FrontierIngest.ingestBatch(h1, s"$tmp/idxB", s"$tmp/logB",
      "id", "url", batchId = Some(1L)): Unit
    FrontierIngest.ingestBatch(secondHop(spark.read.parquet(s"$tmp/logB")),
      s"$tmp/idxB", s"$tmp/logB", "id", "url", batchId = Some(2L)): Unit
    val batchLog = spark.read.parquet(s"$tmp/logB")
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet

    // stream path: each hop drains through ingestStream; hop 2's
    // batch is read back from the STREAM's own fetch log
    val input = MemoryStream[(Long, String)]
    def drain(): Unit = {
      val q = FrontierIngest.ingestStream(
        input.toDF().toDF("id", "url"), s"$tmp/idxS", s"$tmp/logS",
        "id", "url", s"$tmp/ckpt")
      q.awaitTermination()
    }
    def tuples(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    input.addData(seeds.map(s => (s._1, s._2))); drain()
    input.addData(tuples(h1)); drain()
    input.addData(tuples(secondHop(spark.read.parquet(s"$tmp/logS"))))
    drain()
    val streamLog = spark.read.parquet(s"$tmp/logS")
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(streamLog == batchLog, "two-hop stream != batch")
    // sanity on the loop semantics: hop-2 children fetched, /hot/0 on
    // host h0 (fetched in hop 1) did NOT re-fetch
    assert(streamLog.exists(_._2.endsWith("/d")))
    assert(streamLog.count(_._2 == "https://h0.example.com/hot/0") == 1)
  }

  test("frontier ingest keyed commit: crash replay and duplicate replay are exactly-once") {
    import spark.implicits._
    import graft.streaming.FrontierIngest
    import org.apache.hadoop.fs.Path
    def urlDf(rows: Seq[(Long, String)]) = rows.toDF("id", "url")
    val b1 = (0 until 20).map(i => (i.toLong, s"https://h$i.example.com/a"))
    val b2 = (20 until 40).map(i => (i.toLong, s"https://h$i.example.com/a")) ++
      (0 until 5).map(i => (1000L + i, s"https://h$i.example.com/a?utm_r=1"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-fexonce").toString
    val (idx, log) = (s"$tmp/idx", s"$tmp/log")
    val fs = new Path(tmp).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(FrontierIngest.ingestBatch(urlDf(b1), idx, log, "id", "url",
      batchId = Some(0L)) == 20)
    assert(FrontierIngest.ingestBatch(urlDf(b2), idx, log, "id", "url",
      batchId = Some(1L)) == 20)
    // crash window: marker gone + one batch1 log file gone → the
    // replay sweeps residue and redoes the batch from pre-batch state
    fs.delete(new Path(log, "_committed-batch-1"), false)
    val partial = fs.listStatus(new Path(log))
      .filter(_.getPath.getName.startsWith("batch1-")).head.getPath
    fs.delete(partial, false)
    assert(FrontierIngest.ingestBatch(urlDf(b2), idx, log, "id", "url",
      batchId = Some(1L)) == 20)
    assert(spark.read.parquet(log).groupBy("id").count()
      .filter(col("count") > 1).count() == 0, "crash replay duplicated rows")
    assert(spark.read.parquet(log).count() == 40)
    // committed replay: pure no-op reporting the committed count
    val before = fs.listStatus(new Path(log)).map(_.getPath.getName).toSet
    assert(FrontierIngest.ingestBatch(urlDf(b2), idx, log, "id", "url",
      batchId = Some(1L)) == 20)
    assert(fs.listStatus(new Path(log)).map(_.getPath.getName).toSet == before)
    // index holds exactly one hash per fetched canonical
    assert(spark.read.parquet(s"$idx/urls").distinct().count() == 40)
  }

  // ---- keyed corpus + frontier ingest over planted batches ----

  /** Hex-token bodies: cross-doc 7-shingle overlap ≈ 0, so only the
    * planted rewrites are near-dups. */
  private def hexBody(i: Int): String =
    (0 until 15).map(k => java.lang.Long.toHexString(
      (i.toLong * 1000003 + k) * 2654435761L & 0xffffffffffL)).mkString(" ")

  /** Batch `b` of a planted (doc_id, text, url) stream, written to
    * parquet under `dir` and read back, as a file source hands a
    * micro-batch over. Every batch holds 30 fresh docs, a non-URL, an
    * in-batch URL twin and two null-id rows: one with a URL of its own,
    * one respelling a fresh doc's URL. Batch 0 adds 4 copies of one boilerplate
    * text, so the index holds a 4-member bucket in every band. Later
    * batches add 4 truncated rewrites of the previous batch's docs
    * under respelled URLs and one more boilerplate copy; batch 2 adds
    * a 4-copy increment-side flood of a rewrite of doc 101.
    */
  private def plantedBatch(dir: String, b: Int): DataFrame = {
    import spark.implicits._
    def url(i: Int) = s"https://h${i % 7}.example.com/p/$i"
    val base = b * 100
    val fresh = (base until base + 30).map(i => (i.toLong, hexBody(i), url(i)))
    val odd = Seq(
      (base + 80L, hexBody(base + 80), "not a url"),
      (base + 81L, hexBody(base + 81), url(base) + "?fbclid=1"))
    val boiler = hexBody(99999)
    val plants =
      if (b == 0) (0 until 4).map(k =>
        (900L + k, boiler, s"https://boiler.example.org/$k"))
      else (0 until 4).map { k =>
        val i = base - 100 + k
        (base + 50L + k, hexBody(i).dropRight(10),
          s"HTTPS://H${i % 7}.EXAMPLE.com:443/p/$i?utm_source=x$b")
      } :+ ((base + 60L, boiler, s"https://boiler.example.org/0?gclid=$b"))
    val flood =
      if (b == 2) (0 until 4).map(k =>
        (base + 70L + k, hexBody(101).dropRight(6), url(101) + s"#f$k"))
      else Nil
    val nullIds = Seq(
      (None, hexBody(base + 90), url(base + 90)),
      (None, hexBody(base + 91), url(base + 1) + "?fbclid=n"))
    val path = s"$dir/batch$b.parquet"
    ((fresh ++ odd ++ plants ++ flood).map { case (i, t, u) => (Option(i), t, u) } ++
      nullIds).toDF("doc_id", "text", "url")
      .coalesce(1).write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  /** One keyed micro-batch through both ingest sinks, as a stream runs them. */
  private def ingestKeyed(batch: DataFrame, dir: String, id: Long,
      maxBucketSize: Int = 10000): (Long, Long) = {
    import graft.streaming.{CorpusIngest, FrontierIngest}
    (CorpusIngest.ingestBatch(batch.select("doc_id", "text"),
        s"$dir/cidx", s"$dir/corpus", "doc_id", "text", minJaccard = 0.5,
        maxBucketSize = maxBucketSize, batchId = Some(id)),
      FrontierIngest.ingestBatch(batch.select("doc_id", "url"),
        s"$dir/uidx", s"$dir/log", "doc_id", "url", batchId = Some(id)))
  }

  /** A row's leading id, None when null. */
  private def id(r: org.apache.spark.sql.Row): Option[Long] =
    if (r.isNullAt(0)) None else Some(r.getLong(0))

  test("keyed corpus + frontier ingest equals the public batch operators " +
      "(planted near-dups, respelled URLs, star links)") {
    import graft.operators.{Dedup, Urls}
    val tmp = java.nio.file.Files.createTempDirectory("graft-ingest-eq").toString
    val cap = 3 // the boilerplate bucket (4 copies) and the flood trip it
    val refIdx = s"$tmp/ref-cidx"
    val refUidx = s"$tmp/ref-uidx"
    var refCorpus = Set.empty[(Option[Long], String)]
    var refLog = Set.empty[(Long, String, String)]
    var capped = 0L
    (0 until 4).foreach { b =>
      val batch = plantedBatch(tmp, b)
      ingestKeyed(batch, tmp, b.toLong, cap): Unit
      // reference: the public batch operators, one step at a time
      val docs = batch.select("doc_id", "text")
      val survivors =
        if (b == 0) docs
        else {
          val cp = Dedup.incrementalNearDupPairsMetered(docs, refIdx,
            "doc_id", "text", minJaccard = 0.5, maxBucketSize = cap)
          capped += cp.cappedBucketCount
          docs.join(cp.pairs.select(col("new_id").as("doc_id")).distinct(),
            Seq("doc_id"), "left_anti")
        }
      refCorpus ++= survivors.collect().map(r => (id(r), r.getString(1)))
      if (b == 0) Dedup.writeMinHashIndex(survivors, refIdx, "doc_id", "text")
      else Dedup.appendToMinHashIndex(survivors, refIdx, "doc_id", "text")
      val urls = batch.select("doc_id", "url")
      val fetched = Urls.probeFrontier(spark, refUidx, urls, "doc_id", "url")
        .filter("fetch").join(urls, Seq("doc_id"))
        .select("doc_id", "url", "canonical_url").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      refLog ++= fetched
      val fetchedDf = spark.createDataFrame(fetched.toSeq).toDF("doc_id", "url", "c")
      if (b == 0) Urls.writeFrontierIndex(fetchedDf, "url", refUidx)
      else Urls.appendToFrontierIndex(fetchedDf, "url", refUidx)
    }
    // the plants fired: star links, dropped rewrites, unfetched respellings
    assert(capped > 0, "no bucket went over the cap")
    assert(!refCorpus.exists(_._1.contains(160L)) && refCorpus.exists(_._1.contains(129L)))
    assert(!refLog.exists(_._1 == 150L) && !refLog.exists(_._1 == 81L))
    assert(refCorpus.count(_._1.isEmpty) == 8, "the null-id docs are kept")
    assert(refLog.exists(_._1 == 101L), "the null-id respelling does not win doc 101's URL")

    def index(p: String) = spark.read.parquet(p)
      .select(col("_id"), col("_sh"), col("_bands")).collect()
      .map(r => (id(r), r.getSeq[String](1), r.getSeq[Long](2)))
      .sortBy(r => (r._1, r._3.mkString(","))).toSeq
    def hashes(p: String) =
      spark.read.parquet(s"$p/urls").collect().map(_.getLong(0)).sorted.toSeq
    val corpus = spark.read.parquet(s"$tmp/corpus").collect()
      .map(r => (id(r), r.getString(1))).toSet
    val log = spark.read.parquet(s"$tmp/log").collect()
      .map(r => (id(r), r.getString(1), r.getString(2))).toSet
    assert(corpus == refCorpus, s"corpus ${corpus.map(_._1)} != ${refCorpus.map(_._1)}")
    assert(index(s"$tmp/cidx") == index(refIdx), "index rows differ")
    val wantLog = refLog.map { case (i, u, c) => (Option(i), u, c) }
    assert(log -- wantLog == Set.empty && wantLog -- log == Set.empty, "fetch log differs")
    assert(hashes(s"$tmp/uidx") == hashes(refUidx), "URL hashes differ")
  }

  test("keyed corpus ingest publishes the index manifest: a batch with " +
      "other MinHash parameters throws, a committed replay stays a no-op") {
    import graft.streaming.CorpusIngest
    import org.apache.hadoop.fs.Path
    val tmp = java.nio.file.Files.createTempDirectory("graft-ingest-meta").toString
    val (idx, out) = (s"$tmp/cidx", s"$tmp/corpus")
    val fs = new Path(tmp).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val b0 = plantedBatch(tmp, 0).select("doc_id", "text")
    val b1 = plantedBatch(tmp, 1).select("doc_id", "text")
    val n0 = CorpusIngest.ingestBatch(b0, idx, out, "doc_id", "text",
      minJaccard = 0.5, batchId = Some(0L))
    val meta = graft.sinks.Pruning.readIndexMeta(spark, idx)
    assert(meta.map(_.params("num_hashes")).contains(96L), s"manifest: $meta")
    val err = intercept[IllegalArgumentException](
      CorpusIngest.ingestBatch(b1, idx, out, "doc_id", "text",
        minJaccard = 0.5, numHashes = 64, bands = 16, batchId = Some(1L)))
    assert(err.getMessage.contains("num_hashes=96"), err.getMessage)
    assert(!fs.exists(new Path(out, "_committed-batch-1")))
    val files = fs.listStatus(new Path(out)).map(_.getPath.getName).toSet
    assert(CorpusIngest.ingestBatch(b0, idx, out, "doc_id", "text",
      minJaccard = 0.5, batchId = Some(0L)) == n0)
    assert(fs.listStatus(new Path(out)).map(_.getPath.getName).toSet == files)
  }

  test("a steady keyed corpus + frontier batch runs at most 32 Spark jobs") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-ingest-jobs").toString
    (0 until 2).foreach(b => ingestKeyed(plantedBatch(tmp, b), tmp, b.toLong): Unit)
    val batch = plantedBatch(tmp, 2)
    val jobs = SparkEvents.capture(spark)(ingestKeyed(batch, tmp, 2L): Unit).jobs
    assert(jobs.size <= 32, s"${jobs.size} jobs:\n${jobs.mkString("\n")}")
  }

  test("streaming geofence alerts == batch fenceTransitions across triggers") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // fences wide enough that the md5 walk crosses them repeatedly
    val fences: Array[(Int, Long, Long, Long, Long)] = Array(
      (0, 0L, 0L, 2200L, 2200L), (1, 1800L, 1800L, 4800L, 4800L),
      (2, 0L, 2600L, 1500L, 4800L))
    val events = (0 until 300).map { i =>
      Event(i.toLong, new Timestamp(1700000000000L + i * 60000L),
        (i % 5).toLong, "move", 0.0)
    }
    val batch = graft.operators.Geo.fenceTransitions(
      events.toDF(), "user_id", "ts", "event_id", fences)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
      .toSet
    assert(batch.nonEmpty, "fixture produced no transitions — tune fences")

    val input = MemoryStream[Event]
    val alerts = EventStreams.geofenceAlerts(input.toDS(), fences)
    val q = alerts.writeStream.outputMode("append")
      .format("memory").queryName("fence_out").start()
    try {
      // feed in three time-ordered triggers: state (position + last
      // fence) must carry the walk across trigger boundaries
      events.grouped(100).foreach { chunk =>
        input.addData(chunk: _*)
        q.processAllAvailable()
      }
      val streamed = spark.table("fence_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
      assert(streamed.length == streamed.toSet.size, "duplicate alerts")
      assert(streamed.toSet == batch)
    } finally q.stop()
  }

  test("transformWithState rate limiter matches the RANGE-window batch twin") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // transformWithState requires the RocksDB state store provider
    val prevProvider = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[Event]
    val verdicts = EventStreams.rateLimit(input.toDS(),
      windowSec = 600, quota = 2)
    val q = verdicts.writeStream.outputMode("append")
      .format("memory").queryName("rate_out").start()
    try {
      // user 1: four events inside 10 min (3rd and 4th throttled at
      // quota 2), then one after the window slides past the first two
      // — delivered across TWO triggers so ListState carries over
      input.addData(
        Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
        Event(2, ts("2024-01-01 10:03:00"), 1, "click", 1.0),
        Event(3, ts("2024-01-01 10:06:00"), 1, "click", 1.0))
      q.processAllAvailable()
      input.addData(
        Event(4, ts("2024-01-01 10:09:00"), 1, "click", 1.0),
        Event(5, ts("2024-01-01 10:14:00"), 1, "click", 1.0),
        Event(6, ts("2024-01-01 10:00:00"), 2, "click", 1.0))
      q.processAllAvailable()
      val streamed = spark.table("rate_out").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getInt(3))).toSet
      // batch twin over the same rows
      val rows = Seq(
        (1L, ts("2024-01-01 10:00:00"), 1L), (2L, ts("2024-01-01 10:03:00"), 1L),
        (3L, ts("2024-01-01 10:06:00"), 1L), (4L, ts("2024-01-01 10:09:00"), 1L),
        (5L, ts("2024-01-01 10:14:00"), 1L), (6L, ts("2024-01-01 10:00:00"), 2L))
        .toDF("event_id", "ts", "user_id")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(unix_micros(col("ts")))
        .rangeBetween(-600L * 1000000L, -1L)
      val batch = rows
        .withColumn("n_recent", count(lit(1)).over(w))
        .withColumn("allowed", when(col("n_recent") < 2, 1).otherwise(0))
        .collect()
        .map(r => (r.getLong(0), r.getLong(3), r.getInt(4))).toSet
      assert(streamed == batch, s"stream $streamed != batch $batch")
      // the hand-computable verdicts: events 3 and 4 throttled (2 in
      // window), event 5 allowed again (10:04–10:14 window holds 3:06,
      // 3 events... recompute: within [10:04, 10:14) are 10:06, 10:09
      // → n_recent=2 → throttled!), event 6 is another user's first
      assert(streamed == Set((1L, 0L, 1), (2L, 1L, 1), (3L, 2L, 0),
        (4L, 3L, 0), (5L, 2L, 0), (6L, 0L, 1)))
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }
}
