package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** Canonical session factory: one place for the engine's Spark tuning.
  *
  * These are the settings the 100 TB deployment and the local testbed
  * share; only parallelism-shaped values (master, shuffle partitions)
  * vary by environment.
  */
object GraftSession {

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      // custom planner strategies (TopKPerKey two-phase operator)
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // oracle parity + sane timestamps everywhere
      .config("spark.sql.session.timeZone", "UTC")
      // runtime re-planning: partition coalescing, skew-join splitting,
      // broadcast conversion from runtime stats
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // NOTE (round-9 A/B at sf3, both directions measured): a global
      // initialPartitionNum = 8× was tried for the q112 verify-join
      // spill (214 s → 150 s) but REGRESSED the shuffle_hash wedge
      // joins 2.3–3× (q114 66 s → 154/190 s — the wedge stream pays
      // mapper×reducer shuffle-segment fan-out at 256 partitions).
      // Verdict: partition count must track the STAGE's data, not a
      // session constant; the session default stays at the core count.
      // idempotent per-day reloads replace only written partitions
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      // events.ts is parquet TIMESTAMP(NANOS); read as long + convert
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  /** Local cores for the CLI mains: SPARK_GRAFT_CPUS, else every
    * processor of this machine.
    */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Runs `body` with `label` as the description of this thread's jobs,
    * restoring the caller's description on every exit path (the
    * property is thread-local, so an unrestored label mislabels every
    * later job of the caller).
    */
  def withLabel[T](sc: SparkContext, label: String)(body: => T): T = {
    val saved = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try body finally sc.setJobDescription(saved)
  }

  /** Local session sized for this machine (tests, Verify, Bench). */
  def local(cores: Int): SparkSession = {
    val s = builder(s"local[$cores]", cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
