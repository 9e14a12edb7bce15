package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** The measurement runner: one protocol (job label, cache drop, warm
  * run, best of 2 through the `noop` sink, a failure reported as -1)
  * behind every mode of [[Bench.usage]]. Query lists take full names or
  * prefixes ("q73" matches "q73_salted_join").
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cmd = orUsage(parse(args.toSeq, sfDir), usage)
    val runner = new Runner(GraftSession.local(GraftSession.cpus), cmd.sfDir)
    try if (cmd.mode == "suite") suite(runner, cmd) else execute(runner, cmd).foreach(println)
    finally runner.spark.stop()
  }

  type Query = (SparkSession, String) => DataFrame

  /** A parsed command line: mode, scale directory, the entries to run. */
  final case class Cmd(mode: String, sfDir: String, entries: Seq[(String, Query)])

  val usage = """usage: graft.Bench                   the suite on SPARK_GRAFT_SF_DIR
    |  graft.Bench subset <sfDir> <q,...>   named queries, one JSON line of seconds
    |  graft.Bench phases <sfDir> <q,...>   ... split into build, plan and execute
    |  graft.Bench stages <sfDir> <q,...>   ... logging each stage over 200 ms of task time
    |  graft.Bench plan <sfDir> <q,...>     the final adaptive plan of each query's write
    |  graft.Bench probe bitext|hardneg <sfDir> <k> <nlist> <nprobe>""".stripMargin

  /** The queries a comma list selects, sorted. A name matching nothing
    * is an error: a silently empty run reads as success.
    */
  def select(list: String): Either[String, Seq[(String, Query)]] = {
    val wanted = list.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val all = SparkEntry.queries.toSeq.sortBy(_._1)
    val unknown = wanted.filterNot(w => all.exists(_._1.startsWith(w)))
    if (wanted.isEmpty || unknown.nonEmpty) Left(s"no query matches: ${unknown.mkString(",")} in '$list'")
    else Right(all.filter { case (n, _) => wanted.exists(n.startsWith) })
  }

  /** `suiteSfDir` is the scale directory of the no-argument suite. */
  def parse(args: Seq[String], suiteSfDir: String): Either[String, Cmd] = args match {
    case Seq() => Right(Cmd("suite", suiteSfDir, SparkEntry.queries.toSeq.sortBy(_._1)))
    case Seq(mode @ ("subset" | "phases" | "stages" | "plan"), sfDir, list) =>
      select(list).map(Cmd(mode, sfDir, _))
    case Seq("probe", op @ ("bitext" | "hardneg"), sfDir, k, nlist, nprobe) =>
      Seq(k, nlist, nprobe).map(_.toIntOption.filter(_ > 0)) match {
        case Seq(Some(k), Some(nl), Some(np)) =>
          Right(Cmd("subset", sfDir, Seq(s"${op}_k${k}_nlist${nl}_nprobe$np" -> probe(op, k, nl, np))))
        case _ => Left(s"k, nlist and nprobe must be positive integers: $k $nlist $nprobe")
      }
    case _ => Left(s"unexpected arguments: ${args.mkString(" ")}")
  }

  /** The parsed value, or exit 2 with the error and `usage` on stderr. */
  def orUsage[T](parsed: Either[String, T], usage: String): T =
    parsed.fold({ err => System.err.println(s"$err\n$usage"); sys.exit(2) }, identity)

  /** An IVF operator at caller-chosen geometry: the nlist ≈ √N regime
    * that q235 (bitext) and q238 (hard negatives) cannot express, since
    * their oracles need exhaustive probing. Hard-negative anchors are
    * 2% of the corpus, each labeled with its id-successor as positive.
    */
  def probe(op: String, k: Int, nlist: Int, nprobe: Int): Query = (spark, sfDir) => {
    val emb = sources.Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    def mod(n: Int, r: Int) = emb.filter(pmod(col("vec_id"), lit(n)) === r)
    if (op == "bitext")
      operators.Bitext.marginMutualPairsIvf(mod(2, 0), mod(2, 1),
        "vec_id", "embedding", k, nlist, nprobe)
    else {
      val anchors = mod(50, 0)
      operators.Selection.hardNegativesIvf(emb, anchors,
        anchors.select(col("vec_id").as("query_id"), (col("vec_id") + 1).as("neighbor_id")),
        "vec_id", "embedding", k, semiHard = true, nlist = nlist, nprobe = nprobe)
    }
  }

  /** The protocol, in one place. */
  final class Runner(val spark: SparkSession, sfDir: String) {
    private val sc = spark.sparkContext
    private val held = sc.getPersistentRDDs.keySet
    // executed `noop` writes as the listener bus delivers them (split runs only)
    private lazy val writes = {
      val q = new LinkedBlockingQueue[QueryExecution]
      spark.listenerManager.register(new QueryExecutionListener {
        def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
          if (funcName == "overwrite") q.put(qe)
        def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
      })
      q
    }
    var lastWrite: QueryExecution = _

    /** Drops the SQL cache and the `localCheckpoint` blocks the catalog
      * cannot see (surviving blocks once doubled a late query's time),
      * but only RDDs persisted since the runner started: state the caller
      * holds survives. Blocking, or block removal bleeds into a sample.
      */
    def drop(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!held(id)) rdd.unpersist(blocking = true)
      }
    }

    /** One labeled run through the `noop` sink (`count()` would let
      * Catalyst prune computed columns): seconds of build, plan, execute,
      * or None on failure. Only a `split` run splits out the write's
      * planning time and keeps the write in `lastWrite`.
      */
    def run(name: String, fn: Query, split: Boolean = false): Option[Seq[Double]] =
      try GraftSession.withLabel(sc, name) {
        if (split) writes.clear()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val write = (System.nanoTime() - t1) / 1e9
        val plan = if (!split) 0.0 else {
          lastWrite = Option(writes.poll(60, TimeUnit.SECONDS))
            .getOrElse(sys.error("no write event"))
          Seq("optimization", "planning").flatMap(lastWrite.tracker.phases.get)
            .map(_.durationMs).sum / 1e3
        }
        Some(Seq((t1 - t0) / 1e9, plan, write - plan))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        None
      }

    /** A warm run (codegen, JIT, parquet footers), then the best of two
      * timed runs by total: a sample right after the warm run still eats
      * its JIT/GC interference. None if a timed run failed.
      */
    def measure(name: String, fn: Query, split: Boolean = false): Option[Seq[Double]] = {
      drop()
      run(name, fn, split)
      val samples = Seq.fill(2) { drop(); run(name, fn, split) }
      if (samples.forall(_.nonEmpty)) Some(samples.flatten.minBy(_.sum)) else None
    }

    def seconds(name: String, fn: Query): Double = measure(name, fn).fold(-1.0)(_.sum)
  }

  // 3-decimal timings: ms resolution is all a multi-second suite can claim
  def fmt(v: Double): String =
    if (v < 0) "-1" else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** Runs a subset, phases, stages or plan command; returns the lines
    * it prints: one JSON line, or per query a header and its plan.
    */
  def execute(runner: Runner, cmd: Cmd): Seq[String] = cmd.mode match {
    case "plan" =>
      cmd.entries.flatMap { case (name, fn) =>
        runner.drop()
        runner.run(name, fn, split = true).map(_ =>
          s"=== $name @ ${cmd.sfDir}: final adaptive plan ===\n${runner.lastWrite.executedPlan}")
      }
    case mode =>
      if (mode == "stages") runner.spark.sparkContext.addSparkListener(new SparkListener {
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
          val (si, m) = (e.stageInfo, e.stageInfo.taskMetrics)
          if (m.executorRunTime > 200) System.err.println(s"[stage] id=${si.stageId} " +
            s"tasks=${si.numTasks} runTimeMs=${m.executorRunTime} " +
            s"cpuMs=${m.executorCpuTime / 1000000} name=${si.name.take(80)}")
        }
      })
      val split = mode == "phases"
      Seq(cmd.entries.map { case (name, fn) =>
        val value = runner.measure(name, fn, split) match {
          case Some(Seq(b, p, e)) if split =>
            s"""{"build":${fmt(b)},"plan":${fmt(p)},"exec":${fmt(e)}}"""
          case best => fmt(best.fold(-1.0)(_.sum))
        }
        "\"" + name + "\":" + value
      }.mkString(s"""{"sf":"${cmd.sfDir}","queries":{""", ",", "}}"))
  }

  /** The suite: every query, one compact stdout line, the full
    * record in a file (`bench_out/last_run.json`, or SPARK_GRAFT_BENCH_OUT).
    */
  private def suite(runner: Runner, cmd: Cmd): Unit = {
    val (sfDir, queries) = (cmd.sfDir, cmd.entries.toMap)
    // Interference pinning: queries with suite-position-dependent history
    // are ALSO measured in isolation at session start, before other
    // queries' GC/JIT debris lands on them; the in-suite sample min-merges
    // with the isolated one (same plan; the spread is interference).
    val pinnedFirst = Seq("q01_pricing_summary", "q19_text_stats",
      "q21_minhash_neardup", "q22_simhash_neardup", "q28_cube",
      "q40_approx_percentiles", "q41_risk_category", "q42_embedding_neardup")
    val isolated = pinnedFirst.flatMap { n =>
      queries.get(n).map(fn => n -> runner.seconds(n, fn))
    }.toMap
    // deterministic (sorted) suite order: run-to-run interleaving is
    // identical, so per-query deltas across runs are comparable rather
    // than order-shuffle artifacts
    val inSuiteResults = cmd.entries.map { case (name, fn) => name -> runner.seconds(name, fn) }
    // Adaptive pinning: bench_prior.json carries each query's best known
    // steady-state. Any query whose in-suite time exceeds its prior by
    // >2× (and by an absolute margin that rules out sub-second noise) is
    // re-measured in isolation after the suite and min-merged — bounded
    // extra work, only outliers re-run, no name list to maintain.
    // The prior's numbers are scale-specific ("_sf" key): against a
    // different SF_DIR a >2× delta is real data growth, not interference,
    // so there is no adaptive re-measure there.
    val priorFile = java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_PRIOR", "bench_prior.json"))
    val prior: Map[String, Double] = Some(priorFile).filter(java.nio.file.Files.isRegularFile(_))
      .map(java.nio.file.Files.readString)
      .filter(""""_sf":\s*"([^"]+)"""".r.findFirstMatchIn(_).forall(m => sfDir.contains(m.group(1))))
      .fold(Map.empty[String, Double])(""""(q[^"]+)":\s*(-?\d+(?:\.\d+)?)""".r.findAllMatchIn(_)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap)
    val adaptive = inSuiteResults.collect {
      case (name, t) if t >= 0 && !isolated.contains(name) &&
          prior.get(name).exists(p => t > 2 * p && t - p > 0.25) =>
        System.err.println(f"[bench] adaptive re-measure: $name in-suite $t%.2fs > 2x prior ${prior(name)}%.2fs")
        System.gc()
        name -> runner.seconds(name, queries(name))
    }.toMap
    val merged = isolated ++ adaptive
    val results = inSuiteResults.map { case (name, inSuite) =>
      name -> (merged.get(name) match {
        case Some(iso) if iso >= 0 && inSuite >= 0 => math.min(iso, inSuite)
        case _ => inSuite
      })
    }
    // The stdout line must fit a 2000-char log-tail capture, so it
    // keys queries by their `qNN` prefix ("q01_pricing_summary" → "q01"),
    // falling back to the full name on a collision rather than silently
    // dropping a timing, and carries only a summary.
    def prefix(name: String) = name.takeWhile(_ != '_')
    val collisions = results.groupBy(r => prefix(r._1)).filter(_._2.size > 1).keySet
    def shortNames(name: String) = if (collisions(prefix(name))) name else prefix(name)
    def qmap(rs: Seq[(String, Double)], names: String => String): String =
      rs.map { case (k, v) => "\"" + names(k) + "\":" + fmt(v) }
        .mkString("{", ",", "}")
    val (total, nFailed) = (results.map(_._2).filter(_ >= 0).sum, results.count(_._2 < 0))
    // Drift calibration: the median ratio of current-vs-prior time over
    // ~10 cheap, historically stable queries. Per-query elevations at ≈
    // the scalar are environment; an isolated outlier far above it is a
    // real regression.
    val calibrationSet = Seq("q02_filter_project", "q03_shipping_priority",
      "q05_local_supplier", "q06_revenue_filter", "q07_top_customers",
      "q08_window_rank", "q09_duplicate_groups", "q101_shuffle_shard",
      "q102_chunk_docs", "q106_category_drift")
    val ratios = calibrationSet.flatMap { n =>
      for (p <- prior.get(n); t <- results.toMap.get(n) if t > 0 && p > 0) yield t / p
    }.sorted
    // need most of the panel present for the median to mean anything
    val calStr = if (ratios.size >= 5) fmt(ratios(ratios.size / 2)) else "null"
    // summary: suite total, failures, the 20 slowest queries (the ones a
    // verdict diffs for regressions) and the path of the full record
    val slowest = results.filter(_._2 >= 0).sortBy(-_._2).take(20)
    val failedNames = results.collect { case (n, t) if t < 0 => "\"" + shortNames(n) + "\"" }
      .mkString("[", ",", "]")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out/last_run.json")
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":${results.size},"failed":$nFailed,"failed_names":$failedNames,"sf":"$sfDir","calibration":$calStr,"slowest":${qmap(slowest, shortNames)},"out":"$outPath"}""")
    // The full record: the full-name map, plus both samples of every
    // pinned or re-measured query, so a reader can see which protocol
    // produced the published min.
    val pinnedDetail = merged.keys.toSeq.sorted.map { n =>
      val inSuite = inSuiteResults.toMap.getOrElse(n, -1.0)
      val proto = if (isolated.contains(n)) "pinned_first" else "adaptive_isolated"
      "\"" + n + "\":{\"isolated\":" + fmt(merged(n)) +
        ",\"in_suite\":" + fmt(inSuite) + ",\"protocol\":\"" + proto + "\"}"
    }.mkString("{", ",", "}")
    val fileLine =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${qmap(results, identity)},"short_keys":${qmap(results, shortNames)},"pinned":$pinnedDetail,"failed":$nFailed,"sf":"$sfDir","calibration":$calStr}"""
    val out = java.nio.file.Paths.get(outPath).toAbsolutePath
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.writeString(out, fileLine + "\n")
  }
}
