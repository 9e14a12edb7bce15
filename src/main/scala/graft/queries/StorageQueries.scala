package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sinks.Writers
import graft.sources.Tables
import Det.scratchPath

/** Storage-layout operator query surface: the operators behind the
  * 100 TB layout story ([[graft.sinks.Writers]] compaction /
  * range-clustering / partition-pruned MERGE, and
  * [[graft.sources.Ingest.readEvolved]] schema-evolution reads), each
  * proven against a DuckDB oracle. The layout claims themselves
  * (file-count targets, disjoint file ranges, untouched-partition
  * preservation, PlanShape pruning asserts) live in WritersSpec /
  * PlanShapeSpec; what the oracle adds is the invariant a layout
  * operator must never break: THE ROWS DO NOT CHANGE. Each query runs
  * write → layout-op → read-back inside the timed region and emits the
  * full row set; the oracle recomputes the expected rows straight from
  * the source table.
  */
object StorageQueries {

  type Q = (SparkSession, String) => DataFrame

  private def docsProjection(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("n_chars"))

  /** Small-files compaction round-trip
    * ([[graft.sinks.Writers.compactParquet]]): fragment the documents
    * projection into 64 small files, compact to ≈8 MiB targets (the
    * lock + tmp/bak rename-swap path), read the compacted table back.
    * Row identity through the rewrite is the oracle contract; the
    * file-count arithmetic and crash-safety are WritersSpec's.
    */
  def q67Compaction(s: SparkSession, dir: String): DataFrame = {
    val path = scratchPath("q67", dir) + "/t"
    docsProjection(s, dir).repartition(64)
      .write.mode("overwrite").parquet(path)
    graft.sinks.Writers.compactParquet(s, path, targetFileBytes = 8L << 20)
    Tables.read(s, path)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy("doc_id")
  }

  val q67Sql: String =
    """SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id""".stripMargin

  /** Range-clustered rewrite round-trip
    * ([[graft.sinks.Writers.writeRangeClustered]]): write the documents
    * projection range-partitioned + sorted on (n_chars, doc_id) — the
    * min/max file-skipping layout for the non-partition key — and read
    * it back. Disjoint per-file ranges are asserted in WritersSpec and
    * pruning in PlanShapeSpec; the oracle pins row identity.
    */
  def q68RangeCluster(s: SparkSession, dir: String): DataFrame = {
    val path = scratchPath("q68", dir) + "/t"
    graft.sinks.Writers.writeRangeClustered(
      docsProjection(s, dir), path, Seq("n_chars", "doc_id"), nFiles = 8)
    Tables.read(s, path)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy("doc_id")
  }

  val q68Sql: String = q67Sql

  /** Partition-pruned MERGE semantics
    * ([[graft.sinks.Writers.mergeIntoPartitioned]]): load documents
    * partitioned by `lang`, merge an update set (every doc_id % 7 == 0
    * row with a recomputed value, plus 20 brand-new keys), read the
    * table back. The DuckDB oracle is a FULL-TABLE SQL merge twin
    * (base minus updated keys, union updates) — the partition-pruned
    * implementation must reproduce exactly what the naive whole-table
    * formulation produces. Untouched-partition file preservation is
    * WritersSpec's assert.
    */
  def q69MergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val path = scratchPath("q69", dir) + "/t"
    docsProjection(s, dir)
      .write.partitionBy("lang").mode("overwrite").parquet(path)
    val docs = Tables.documents(s, dir)
    val updates = docs.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"), col("lang"), (col("n_chars") * 2 + 1).as("n_chars"))
      .unionByName(docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 500000).as("doc_id"), col("lang"), col("n_chars")))
    graft.sinks.Writers.mergeIntoPartitioned(s, path, updates, "doc_id", "lang")
    Tables.read(s, path)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy("doc_id")
  }

  val q69Sql: String =
    """WITH updates AS (
      |  SELECT doc_id, lang, CAST(n_chars * 2 + 1 AS BIGINT) AS n_chars
      |  FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id + 500000 AS doc_id, lang, n_chars
      |  FROM documents WHERE doc_id < 20)
      |SELECT doc_id, lang, n_chars FROM (
      |  SELECT doc_id, lang, n_chars FROM documents
      |  WHERE doc_id NOT IN (SELECT doc_id FROM updates)
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars FROM updates)
      |ORDER BY doc_id""".stripMargin

  /** Schema-evolution read ([[graft.sources.Ingest.readEvolved]]): two
    * batches written with DIFFERENT schemas (batch 2 adds `n_chars`),
    * unified by a mergeSchema read — old rows surface the new column
    * as NULL, no rewrite of batch 1. The oracle reconstructs the same
    * union with an explicit NULL column.
    */
  def q70SchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val base = scratchPath("q70", dir)
    val docs = Tables.documents(s, dir)
    docs.filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("lang"))
      .write.mode("overwrite").parquet(base + "/batch1")
    docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .write.mode("overwrite").parquet(base + "/batch2")
    graft.sources.Ingest.readEvolved(s, base + "/batch1", base + "/batch2")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy("doc_id")
  }

  val q70Sql: String =
    """SELECT doc_id, lang, CAST(NULL AS BIGINT) AS n_chars
      |FROM documents WHERE doc_id % 2 = 0
      |UNION ALL
      |SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 2 = 1
      |ORDER BY doc_id""".stripMargin

  /** K1 dynamic partition overwrite — the reference's core load
    * semantics (`to_sql(if_exists='replace')` per day table,
    * `/root/reference/monarch_etl/db_loader.py:50-59`) as
    * [[graft.sinks.Writers.writePartitionedByDay]]: full load, then
    * "reprocess" the earliest day with HALF its rows and recomputed
    * values. The overwrite must replace exactly that partition —
    * dropped rows stay dropped (replace, not append/merge), other
    * days' rows are untouched. The oracle reconstructs the
    * post-reprocess state from the source table.
    */
  def q72PartitionOverwrite(s: SparkSession, dir: String): DataFrame = {
    val path = scratchPath("q72", dir) + "/t"
    val ev = Tables.events(s, dir).select(
      col("event_id"), to_date(col("ts")).as("date_only"), col("value"))
    Writers.writePartitionedByDay(ev, path)
    // bounded driver scalar: the day being reprocessed
    val minDay = ev.agg(min(col("date_only"))).collect()(0).getDate(0)
    val redo = ev
      .filter(col("date_only") === lit(minDay) && col("event_id") % 2 === 0)
      .withColumn("value", col("value") * 2)
    Writers.writePartitionedByDay(redo, path)
    Tables.read(s, path)
      .select(col("event_id"),
        date_format(col("date_only"), "yyyy-MM-dd").as("day"),
        col("value"))
      .orderBy("event_id")
  }

  val q72Sql: String =
    """WITH ev AS (
      |  SELECT event_id, CAST(ts AS DATE) AS d, value FROM events),
      |m AS (SELECT min(d) AS md FROM ev)
      |SELECT event_id, strftime(d, '%Y-%m-%d') AS day, value
      |FROM ev, m WHERE d <> md
      |UNION ALL
      |SELECT event_id, strftime(d, '%Y-%m-%d') AS day, value * 2 AS value
      |FROM ev, m WHERE d = md AND event_id % 2 = 0
      |ORDER BY event_id""".stripMargin

  /** Partition-aware compaction
    * ([[graft.sinks.Writers.compactPartitionedTable]] — q67's sibling
    * for the partitioned-table shape): load documents partitioned by
    * `lang` with every partition fragmented into 16 files, compact each
    * LEAF directory independently, read the partitioned table back.
    * Per-leaf file-count targets + healthy-partition skip (files
    * byte-identical) are WritersSpec's asserts; the oracle pins the
    * invariant: the rows — including the partition column round-trip —
    * do not change.
    */
  def q75PartitionedCompaction(s: SparkSession, dir: String): DataFrame = {
    val path = scratchPath("q75", dir) + "/t"
    docsProjection(s, dir).repartition(16)
      .write.partitionBy("lang").mode("overwrite").parquet(path)
    Writers.compactPartitionedTable(s, path, targetFileBytes = 8L << 20)
    Tables.read(s, path)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy("doc_id")
  }

  val q75Sql: String = q67Sql

  /** Z-order clustering round-trip ([[graft.sinks.Writers
    * .writeZOrdered]], the lakehouse OPTIMIZE ZORDER BY): write
    * lineitem clustered on the Morton interleave of (l_partkey,
    * l_suppkey), read it back, and aggregate per Z-tile (zvalue >>
    * 16) — counts, per-dimension key bounds, exact quantity sums.
    * The bucket is PURE integer arithmetic (never a file index, which
    * would expose the range partitioner's sampled boundaries), so
    * DuckDB replays the interleave bit-for-bit from the source table:
    * the layout op must not change a single row, and the 32-term
    * shift/mask replay pins the Morton encoding itself. File-level
    * tile disjointness is WritersSpec's assert.
    */
  def q89ZOrderCluster(s: SparkSession, dir: String): DataFrame = {
    val path = scratchPath("q89", dir) + "/t"
    val li = Tables.lineitem(s, dir).select(
      col("l_orderkey"), col("l_partkey"), col("l_suppkey"), col("l_quantity"))
    Writers.writeZOrdered(li, path, "l_partkey", "l_suppkey", nFiles = 8)
    Tables.read(s, path)
      .withColumn("_z", Writers.zValue(col("l_partkey"), col("l_suppkey")))
      .withColumn("zbucket", shiftrightunsigned(col("_z"), 16))
      .groupBy(col("zbucket"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_orderkey")).cast("long").as("sum_orderkey"),
        min(col("l_partkey")).as("min_partkey"),
        max(col("l_partkey")).as("max_partkey"),
        min(col("l_suppkey")).as("min_suppkey"),
        max(col("l_suppkey")).as("max_suppkey"),
        Det.exactSum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("zbucket"))
  }

  val q89Sql: String = {
    val zExpr = (0 until 16).map(i =>
      s"(((l_partkey >> $i) & 1) << ${2 * i}) | " +
        s"(((l_suppkey >> $i) & 1) << ${2 * i + 1})")
      .mkString(" | ")
    s"""WITH z AS (
       |  SELECT l_orderkey, l_partkey, l_suppkey, l_quantity,
       |    ($zExpr) AS zv
       |  FROM lineitem)
       |SELECT zv >> 16 AS zbucket,
       |  CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(l_orderkey) AS BIGINT) AS sum_orderkey,
       |  min(l_partkey) AS min_partkey, max(l_partkey) AS max_partkey,
       |  min(l_suppkey) AS min_suppkey, max(l_suppkey) AS max_suppkey,
       |  ${Det.exactSumSql("l_quantity")} AS sum_qty
       |FROM z
       |GROUP BY zbucket
       |ORDER BY zbucket""".stripMargin
  }

  /** SCD type-2 dimension building on the oracle gate
    * ([[graft.operators.Scd.scd2FromEvents]]): per user, collapse the
    * event log into attribute runs (consecutive same-event_type rows)
    * and emit validity intervals — valid_from/valid_to at microsecond
    * precision, NULL = still current. The DuckDB twin replays the
    * identical (ts, event_id)-total-ordered lag/lead construction, so
    * any divergence in run detection, tie-breaking, interval chaining,
    * or sub-second timestamp handling (Spark reads the parquet ns
    * column at µs — the oracle casts to TIMESTAMP to match) moves a
    * boundary and breaks the hash.
    */
  def q94Scd2(s: SparkSession, dir: String): DataFrame =
    graft.operators.Scd.scd2FromEvents(
        Tables.events(s, dir), "user_id", "ts",
        attrCols = Seq("event_type"), tieCol = "event_id")
      .select(col("user_id"), col("event_type"),
        date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("valid_from"),
        date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("valid_to"))
      .orderBy("user_id", "valid_from")

  val q94Sql: String =
    """WITH ev AS (
      |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id
      |  FROM events),
      |runs AS (
      |  SELECT user_id, event_type, ts, event_id,
      |    lag(event_type) OVER
      |      (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM ev
      |  QUALIFY prev IS NULL OR event_type IS DISTINCT FROM prev),
      |iv AS (
      |  SELECT user_id, event_type, ts AS valid_from,
      |    lead(ts) OVER
      |      (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
      |  FROM runs)
      |SELECT user_id, event_type,
      |  strftime(valid_from, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
      |  strftime(valid_to, '%Y-%m-%d %H:%M:%S.%f') AS valid_to
      |FROM iv
      |ORDER BY user_id, valid_from""".stripMargin

  /** Temporal (as-of) lookup against the q94 SCD2 dimension
    * ([[graft.operators.Scd.asOfLookup]]): for every error event, what
    * was the user's state ONE HOUR EARLIER? Each fact probes the
    * dimension at a timestamp that is generally strictly inside some
    * other run's interval (or before the user's first run → NULL), so
    * the oracle — a SQL interval join over the same replayed dimension
    * — breaks if interval membership, the half-open boundary, the open
    * (NULL valid_to) row, or the no-amplification guarantee slips
    * anywhere.
    */
  def q96AsOfState(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Scd
    val ev = Tables.events(s, dir)
    val dim = Scd.scd2FromEvents(ev, "user_id", "ts",
      attrCols = Seq("event_type"), tieCol = "event_id")
    val facts = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"),
        (col("ts") - expr("INTERVAL 1 HOUR")).as("asof_ts"))
    Scd.asOfLookup(facts, dim, "user_id", "asof_ts")
      .select(col("event_id"), col("user_id"),
        col("_attrs.event_type").as("state_1h_before"))
      .orderBy("event_id")
  }

  val q96Sql: String =
    """WITH ev AS (
      |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id
      |  FROM events),
      |runs AS (
      |  SELECT user_id, event_type, ts, event_id,
      |    lag(event_type) OVER
      |      (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM ev
      |  QUALIFY prev IS NULL OR event_type IS DISTINCT FROM prev),
      |iv AS (
      |  SELECT user_id, event_type, ts AS valid_from,
      |    lead(ts) OVER
      |      (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
      |  FROM runs),
      |f AS (
      |  SELECT event_id, user_id, ts - INTERVAL 1 HOUR AS asof_ts
      |  FROM ev WHERE event_type = 'error')
      |SELECT f.event_id, f.user_id, i.event_type AS state_1h_before
      |FROM f LEFT JOIN iv i ON i.user_id = f.user_id
      |  AND f.asof_ts >= i.valid_from
      |  AND (i.valid_to IS NULL OR f.asof_ts < i.valid_to)
      |ORDER BY f.event_id""".stripMargin

  /** Snapshot CDC diff on the oracle gate
    * ([[graft.operators.Diff.snapshotDiff]]): mutate orders
    * deterministically — delete every 97th key, bump o_custkey on
    * every 13th, insert NEGATED copies of every 101st (the negative
    * key space is disjoint from real keys at EVERY scale — a fixed
    * positive shift collided with the 10⁷-per-copy key offset of the
    * 10× scaled fixtures and tripped the dup-key guard) — and classify
    * every key as insert/delete/update via the chr(31)/chr(30)
    * md5 row fingerprint. The oracle rebuilds BOTH snapshots and
    * replays the same fingerprint comparison, so any divergence in
    * the hash recipe, NULL sentinel, join classification, or the
    * changed-keys-only contract shifts a row. Value columns never
    * cross an exchange — only keys and 16-byte hashes (the same
    * discipline as exact dedup's anti-join).
    */
  def q100SnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val before = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
    val after = before
      .filter(pmod(col("o_orderkey"), lit(97)) =!= 0)
      .withColumn("o_custkey",
        when(pmod(col("o_orderkey"), lit(13)) === 0, col("o_custkey") + 1)
          .otherwise(col("o_custkey")))
      .unionByName(before.filter(pmod(col("o_orderkey"), lit(101)) === 0)
        .select((-col("o_orderkey") - 1).as("o_orderkey"),
          col("o_custkey"), col("o_orderstatus")))
    graft.operators.Diff.snapshotDiff(before, after,
        keyCols = Seq("o_orderkey"), valueCols = Seq("o_custkey", "o_orderstatus"))
      .orderBy("o_orderkey")
  }

  val q100Sql: String =
    """WITH before_t AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus FROM orders),
      |after_t AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 13 = 0 THEN o_custkey + 1
      |         ELSE o_custkey END AS o_custkey,
      |    o_orderstatus
      |  FROM before_t WHERE o_orderkey % 97 <> 0
      |  UNION ALL
      |  SELECT -o_orderkey - 1, o_custkey, o_orderstatus
      |  FROM before_t WHERE o_orderkey % 101 = 0),
      |bh AS (
      |  SELECT o_orderkey, md5(concat_ws(chr(31),
      |    coalesce(o_custkey::VARCHAR, chr(30)),
      |    coalesce(o_orderstatus, chr(30)))) AS h
      |  FROM before_t),
      |ah AS (
      |  SELECT o_orderkey, md5(concat_ws(chr(31),
      |    coalesce(o_custkey::VARCHAR, chr(30)),
      |    coalesce(o_orderstatus, chr(30)))) AS h
      |  FROM after_t),
      |j AS (
      |  SELECT coalesce(b.o_orderkey, a.o_orderkey) AS o_orderkey,
      |    b.h AS hb, a.h AS ha
      |  FROM bh b FULL OUTER JOIN ah a ON b.o_orderkey = a.o_orderkey)
      |SELECT o_orderkey,
      |  CASE WHEN hb IS NULL THEN 'insert'
      |       WHEN ha IS NULL THEN 'delete'
      |       WHEN hb <> ha THEN 'update' END AS change
      |FROM j
      |WHERE hb IS NULL OR ha IS NULL OR hb <> ha
      |ORDER BY o_orderkey""".stripMargin

  /** Versioned snapshot time travel on the oracle gate
    * ([[graft.sinks.Writers.writeSnapshotVersion]] /
    * `readSnapshotVersion`): commit two FULL snapshots of an orders
    * projection — v1 the odd keys, v2 a mutated view (every 3rd key
    * deleted, o_custkey bumped on every 5th) — into one table dir,
    * then read BOTH versions back (v1 pinned by number AFTER v2 was
    * committed, v2 as latest) and emit per-version per-status
    * aggregates. The oracle recomputes both logical snapshots from
    * the orders table directly, so a time-travel read that leaks
    * later files, loses files, or resolves the wrong manifest breaks
    * counts and sums. The dataflow proof this adds over q67-q75:
    * version pinning is METADATA-only — both reads scan the same
    * directory and disagree only through their manifests.
    */
  def q105SnapshotVersions(s: SparkSession, dir: String): DataFrame = {
    import graft.sinks.Writers
    val base = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
    val v1 = base.filter(pmod(col("o_orderkey"), lit(2)) === 1)
    val v2 = v1.filter(pmod(col("o_orderkey"), lit(3)) =!= 0)
      .withColumn("o_custkey",
        when(pmod(col("o_orderkey"), lit(5)) === 0, col("o_custkey") + 1)
          .otherwise(col("o_custkey")))
    val path = scratchPath("q105", dir) + "/snap"
    // rerun hygiene: versions accrete by design, start from empty
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(hp, true)
    val ver1 = Writers.writeSnapshotVersion(v1, path)
    Writers.writeSnapshotVersion(v2, path)
    def agg(df: DataFrame, version: Int) =
      df.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), Det.longSum(col("o_custkey")).as("sum_cust"))
        .withColumn("version", lit(version))
    agg(Writers.readSnapshotVersion(s, path, Some(ver1)), 1)
      .unionByName(agg(Writers.readSnapshotVersion(s, path, None), 2))
      .select(col("version"), col("o_orderstatus"), col("n"), col("sum_cust"))
      .orderBy("version", "o_orderstatus")
  }

  val q105Sql: String =
    """WITH v1 AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
      |  WHERE o_orderkey % 2 = 1),
      |v2 AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 5 = 0 THEN o_custkey + 1
      |         ELSE o_custkey END AS o_custkey,
      |    o_orderstatus
      |  FROM v1 WHERE o_orderkey % 3 <> 0)
      |SELECT version, o_orderstatus, n, sum_cust FROM (
      |  SELECT 1 AS version, o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(o_custkey) AS BIGINT) AS sum_cust
      |  FROM v1 GROUP BY o_orderstatus
      |  UNION ALL
      |  SELECT 2, o_orderstatus, CAST(count(*) AS BIGINT),
      |    CAST(sum(o_custkey) AS BIGINT)
      |  FROM v2 GROUP BY o_orderstatus)
      |ORDER BY version, o_orderstatus""".stripMargin

  /** Append (delta) snapshot commits on the oracle gate
    * ([[graft.sinks.Writers.appendSnapshotVersion]]): v1 = the odd
    * orders, v2 = v1 + an appended increment (every 10th even key) —
    * the manifest extends the parent's file list, historical files
    * are untouched. Reading v1 pinned AFTER the append and v2 as
    * latest, both aggregated per status, proves the delta commit is
    * metadata-only and the pinned history immutable; the oracle
    * recomputes both logical versions from source.
    */
  def q110SnapshotAppend(s: SparkSession, dir: String): DataFrame = {
    import graft.sinks.Writers
    val base = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
    val v1 = base.filter(pmod(col("o_orderkey"), lit(2)) === 1)
    val delta = base.filter(pmod(col("o_orderkey"), lit(2)) === 0 &&
      pmod(col("o_orderkey"), lit(10)) === 0)
    val path = scratchPath("q110", dir) + "/snap"
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(hp, true)
    val ver1 = Writers.writeSnapshotVersion(v1, path)
    Writers.appendSnapshotVersion(delta, path)
    def agg(df: DataFrame, version: Int) =
      df.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), Det.longSum(col("o_custkey")).as("sum_cust"))
        .withColumn("version", lit(version))
    agg(Writers.readSnapshotVersion(s, path, Some(ver1)), 1)
      .unionByName(agg(Writers.readSnapshotVersion(s, path, None), 2))
      .select(col("version"), col("o_orderstatus"), col("n"), col("sum_cust"))
      .orderBy("version", "o_orderstatus")
  }

  val q110Sql: String =
    """WITH v1 AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
      |  WHERE o_orderkey % 2 = 1),
      |v2 AS (
      |  SELECT * FROM v1
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
      |  WHERE o_orderkey % 2 = 0 AND o_orderkey % 10 = 0)
      |SELECT version, o_orderstatus, n, sum_cust FROM (
      |  SELECT 1 AS version, o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(o_custkey) AS BIGINT) AS sum_cust
      |  FROM v1 GROUP BY o_orderstatus
      |  UNION ALL
      |  SELECT 2, o_orderstatus, CAST(count(*) AS BIGINT),
      |    CAST(sum(o_custkey) AS BIGINT)
      |  FROM v2 GROUP BY o_orderstatus)
      |ORDER BY version, o_orderstatus""".stripMargin

  /** Partition-TTL retention on the oracle gate
    * ([[graft.sinks.Writers.dropPartitionsBelow]]): the event log is
    * written day-partitioned, every partition before 2024-01-11 is
    * retired — a per-directory namespace delete, no surviving file
    * read or rewritten — and the survivors aggregate per event type.
    * The oracle applies the same date filter to the source, so a TTL
    * that drops the wrong leaves, leaks expired rows, or loses
    * surviving rows breaks counts and sums. Combined with the
    * partition-dirs read-back, this is the retention path every
    * compliance-bound 100 TB table runs nightly.
    */
  def q111PartitionTtl(s: SparkSession, dir: String): DataFrame = {
    import graft.sinks.Writers
    val ev = Tables.events(s, dir).select(col("event_id"), col("event_type"),
      col("value"), date_format(col("ts"), "yyyy-MM-dd").as("date_only"))
    val path = scratchPath("q111", dir) + "/tbl"
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(hp, true)
    Writers.writePartitionedByDay(ev, path)
    val dropped = Writers.dropPartitionsBelow(s, path, "date_only", "2024-01-11")
    require(dropped.nonEmpty, "q111: expected partitions to expire")
    Tables.read(s, path)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), Det.exactSum(col("value")).as("sum_value"))
      .orderBy("event_type")
  }

  val q111Sql: String =
    s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |  ${Det.exactSumSql("value")} AS sum_value
       |FROM events
       |WHERE strftime(ts, '%Y-%m-%d') >= '2024-01-11'
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  /** Incremental materialized-view maintenance
    * ([[graft.operators.Materialize]]): a per-customer order summary MV
    * (count, decimal-exact revenue sum, first/last order timestamp) is
    * initialized from one third of `orders` and brought up to date by
    * merging the two remaining thirds as delta batches — each merge
    * touching only the view and the delta's partials, never re-scanning
    * earlier batches, with every refresh an atomic snapshot-version
    * commit. The oracle computes the same summary in ONE pass over all
    * of `orders`: incremental maintenance must be exactly
    * indistinguishable from a full rebuild.
    */
  def q123IncrementalMv(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Materialize
    import graft.operators.Materialize.MvSpec
    val path = scratchPath("q123", dir) + "/mv"
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(hp, true)
    val spec = MvSpec(
      keys = Seq("o_custkey"),
      sums = Seq("o_totalprice" -> "total_price"),
      mins = Seq("o_orderdate" -> "first_order"),
      maxs = Seq("o_orderdate" -> "last_order"),
      countAs = "n_orders")
    val batched = Tables.orders(s, dir).withColumn("b",
      pmod(graft.functions.TextFunctions.md5Hash60(
        concat(col("o_orderkey").cast("string"), lit("mvb"))), lit(3L)))
    Materialize.init(batched.where(col("b") === 0), path, spec)
    Materialize.applyDelta(s, path, batched.where(col("b") === 1), spec)
    Materialize.applyDelta(s, path, batched.where(col("b") === 2), spec)
    Materialize.read(s, path)
      .select(col("o_custkey"), col("n_orders"),
        col("total_price").cast("double").as("total_price"),
        (col("total_price").cast("double") / col("n_orders")).as("avg_price"),
        date_format(col("first_order"), "yyyy-MM-dd").as("first_order"),
        date_format(col("last_order"), "yyyy-MM-dd").as("last_order"))
      .orderBy("o_custkey")
  }

  val q123Sql: String =
    s"""SELECT o_custkey,
       |  CAST(count(*) AS BIGINT) AS n_orders,
       |  ${Det.exactSumSql("o_totalprice")} AS total_price,
       |  ${Det.exactSumSql("o_totalprice")} / count(*) AS avg_price,
       |  strftime(min(o_orderdate), '%Y-%m-%d') AS first_order,
       |  strftime(max(o_orderdate), '%Y-%m-%d') AS last_order
       |FROM orders
       |GROUP BY o_custkey
       |ORDER BY o_custkey""".stripMargin

  /** CDC apply ([[graft.operators.Diff.applyChanges]]): the write side
    * of the q100 snapshot diff — a change feed (I/U/D with per-key
    * sequence numbers) folded into the orders snapshot as one
    * max-over-structs aggregate plus one full-outer join. The feed
    * plants every interesting lifecycle: double update (last wins),
    * plain delete, insert in the negative key space, delete-then-
    * resurrect, update-then-delete. The oracle computes the final
    * state independently (row_number DESC + full outer join) — any
    * divergence in last-wins, resurrection, or passthrough shows as a
    * row diff.
    */
  def q134CdcApply(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(col("o_orderkey"),
      col("o_custkey"), col("o_totalprice"), col("o_orderstatus"))
    def ch(m: Int, seq: Int, op: String, negKey: Boolean, delta: Double) =
      o.where(col("o_orderkey") % 400 === m).select(
        (if (negKey) -col("o_orderkey") - 1 else col("o_orderkey"))
          .as("o_orderkey"),
        lit(seq.toLong).as("seq"), lit(op).as("op"), col("o_custkey"),
        (col("o_totalprice") + delta).as("o_totalprice"),
        col("o_orderstatus"))
    val changes = Seq(
      ch(1, 1, "U", negKey = false, 50.0),
      ch(1, 2, "U", negKey = false, 100.0),
      ch(2, 1, "D", negKey = false, 0.0),
      ch(3, 1, "I", negKey = true, 0.0),
      ch(5, 1, "D", negKey = false, 0.0),
      ch(5, 2, "U", negKey = false, 7.0),
      ch(6, 1, "U", negKey = false, 3.0),
      ch(6, 2, "D", negKey = false, 0.0)).reduce(_ unionByName _)
    graft.operators.Diff.applyChanges(o, changes, Seq("o_orderkey"),
        "seq", "op", Seq("o_custkey", "o_totalprice", "o_orderstatus"))
      .orderBy("o_orderkey")
  }

  val q134Sql: String =
    """WITH b AS (
      |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      |  FROM orders),
      |ch AS (
      |  SELECT o_orderkey, 1 AS seq, 'U' AS op, o_custkey,
      |    o_totalprice + 50.0 AS o_totalprice, o_orderstatus
      |  FROM b WHERE o_orderkey % 400 = 1
      |  UNION ALL SELECT o_orderkey, 2, 'U', o_custkey,
      |    o_totalprice + 100.0, o_orderstatus
      |  FROM b WHERE o_orderkey % 400 = 1
      |  UNION ALL SELECT o_orderkey, 1, 'D', o_custkey, o_totalprice,
      |    o_orderstatus
      |  FROM b WHERE o_orderkey % 400 = 2
      |  UNION ALL SELECT -o_orderkey - 1, 1, 'I', o_custkey, o_totalprice,
      |    o_orderstatus
      |  FROM b WHERE o_orderkey % 400 = 3
      |  UNION ALL SELECT o_orderkey, 1, 'D', o_custkey, o_totalprice,
      |    o_orderstatus
      |  FROM b WHERE o_orderkey % 400 = 5
      |  UNION ALL SELECT o_orderkey, 2, 'U', o_custkey,
      |    o_totalprice + 7.0, o_orderstatus
      |  FROM b WHERE o_orderkey % 400 = 5
      |  UNION ALL SELECT o_orderkey, 1, 'U', o_custkey,
      |    o_totalprice + 3.0, o_orderstatus
      |  FROM b WHERE o_orderkey % 400 = 6
      |  UNION ALL SELECT o_orderkey, 2, 'D', o_custkey, o_totalprice,
      |    o_orderstatus
      |  FROM b WHERE o_orderkey % 400 = 6),
      |l AS (
      |  SELECT *, row_number() OVER (PARTITION BY o_orderkey
      |    ORDER BY seq DESC) AS rn
      |  FROM ch),
      |last AS (SELECT * FROM l WHERE rn = 1)
      |SELECT o_orderkey,
      |  CASE WHEN last.op IS NOT NULL THEN last.o_custkey
      |       ELSE b.o_custkey END AS o_custkey,
      |  CASE WHEN last.op IS NOT NULL THEN last.o_totalprice
      |       ELSE b.o_totalprice END AS o_totalprice,
      |  CASE WHEN last.op IS NOT NULL THEN last.o_orderstatus
      |       ELSE b.o_orderstatus END AS o_orderstatus
      |FROM b FULL OUTER JOIN last USING (o_orderkey)
      |WHERE last.op IS NULL OR last.op <> 'D'
      |ORDER BY o_orderkey""".stripMargin

  /** Zone-map pruned scan: lineitem lands zone-partitioned on disk
    * (zone = 90-day block of l_shipdate — a deterministic, engine-
    * replayable layout, unlike sampled range boundaries), a manifest
    * of per-zone (min, max, count) stats is derived, and a date-range
    * predicate consults the MANIFEST to decide which zones to read —
    * the Iceberg/Delta data-skipping loop in engine primitives. The
    * output is the pruning decision table itself: every zone's stats,
    * its scanned verdict, and the matching row count found inside the
    * scanned zones (0 for pruned zones).
    *
    * Scale: the matching scan filters on the PARTITION column, so
    * Catalyst prunes unread zones at planning time (PartitionFilters
    * — WritersSpec asserts it); the manifest is zone-bounded; the
    * scanned-zone list the driver holds is ≤ |zones| by construction.
    * The oracle recomputes zones, stats, verdicts and counts from the
    * raw table — proving the pruned scan found exactly what a full
    * scan would.
    */
  def q175ZoneMapPrune(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.IntegerType
    val path = scratchPath("q175", dir) + "/t"
    val zone = expr(
      "CAST(datediff(to_date(l_shipdate), DATE '1995-01-01') div 90 AS INT)")
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), to_date(col("l_shipdate")).as("l_shipdate"))
      .withColumn("zone", zone)
      .write.partitionBy("zone").mode("overwrite").parquet(path)
    val t = Tables.read(s, path)
    val manifest = t.groupBy(col("zone"))
      .agg(min(col("l_shipdate")).as("mn"), max(col("l_shipdate")).as("mx"),
        count(lit(1)).as("n_rows"))
    val lo = to_date(lit("1997-01-01")); val hi = to_date(lit("1997-06-30"))
    val scannedFlag = col("mx") >= lo && col("mn") <= hi
    val scannedZones = manifest.filter(scannedFlag)
      .select(col("zone")).collect().map(_.getInt(0)).toSeq
    val matching = t
      .filter(col("zone").isin(scannedZones: _*) &&
        col("l_shipdate").between(lo, hi))
      .groupBy(col("zone")).agg(count(lit(1)).as("n_match"))
    manifest.join(matching, Seq("zone"), "left")
      .select(col("zone").cast(IntegerType).as("zone"),
        date_format(col("mn"), "yyyy-MM-dd").as("min_ship"),
        date_format(col("mx"), "yyyy-MM-dd").as("max_ship"),
        col("n_rows"),
        when(scannedFlag, 1).otherwise(0).cast(IntegerType).as("scanned"),
        coalesce(col("n_match"), lit(0L)).as("n_match"))
      .orderBy("zone")
  }

  val q175Sql: String =
    """WITH z AS (
      |  SELECT CAST(l_shipdate AS DATE) AS d,
      |    CAST(datediff('day', DATE '1995-01-01', CAST(l_shipdate AS DATE)) // 90 AS INT) AS zone
      |  FROM lineitem),
      |m AS (
      |  SELECT zone, min(d) AS mn, max(d) AS mx,
      |    CAST(count(*) AS BIGINT) AS n_rows
      |  FROM z GROUP BY zone),
      |mt AS (
      |  SELECT zone, CAST(count(*) AS BIGINT) AS n_match
      |  FROM z WHERE d BETWEEN DATE '1997-01-01' AND DATE '1997-06-30'
      |  GROUP BY zone)
      |SELECT m.zone,
      |  strftime(m.mn, '%Y-%m-%d') AS min_ship,
      |  strftime(m.mx, '%Y-%m-%d') AS max_ship,
      |  m.n_rows,
      |  CAST(CASE WHEN m.mx >= DATE '1997-01-01' AND m.mn <= DATE '1997-06-30'
      |    THEN 1 ELSE 0 END AS INT) AS scanned,
      |  COALESCE(mt.n_match, 0) AS n_match
      |FROM m LEFT JOIN mt USING (zone)
      |ORDER BY zone""".stripMargin

  /** Retractable incremental view maintenance
    * ([[graft.operators.Materialize.retractPartials]] /
    * [[Materialize.mergeRetract]]): q123's insert-only view upgraded
    * to absorb a CDC-style delta of inserts AND deletes — signed
    * partials (Σop, Σ op·value) retract exactly what an insert
    * contributed, fully-retracted keys leave the view. Batches are
    * md5-bucketed; the second delta inserts bucket 2 and deletes
    * every 5th-orderkey row of bucket 0. The oracle aggregates the
    * FINAL logical row set directly — proving the incremental signed
    * path lands on the recompute answer, zero ghost keys included.
    */
  def q195RetractableMv(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Materialize
    import graft.operators.Materialize.MvSpec
    val spec = MvSpec(keys = Seq("o_custkey"),
      sums = Seq("o_totalprice" -> "total_price"), countAs = "n_orders")
    val b = Tables.orders(s, dir).withColumn("b",
      pmod(graft.functions.TextFunctions.md5Hash60(
        concat(col("o_orderkey").cast("string"), lit("mvr"))), lit(3L)))
    val batch1 = b.where(col("b") < 2).withColumn("op", lit(1))
    val delta2 = b.where(col("b") === 2).withColumn("op", lit(1))
      .unionByName(b.where(col("b") === 0 && col("o_orderkey") % 5 === 0)
        .withColumn("op", lit(-1)))
    val view = Materialize.mergeRetract(
      Materialize.retractPartials(batch1, "op", spec),
      Materialize.retractPartials(delta2, "op", spec), spec)
    view.select(col("o_custkey"), col("n_orders"),
        col("total_price").cast("double").as("total_price"))
      .orderBy("o_custkey")
  }

  val q195Sql: String =
    s"""WITH b AS (
       |  SELECT *, ('0x' || substr(md5(o_orderkey::VARCHAR || 'mvr'),
       |    1, 15))::BIGINT % 3 AS b
       |  FROM orders),
       |final AS (
       |  SELECT * FROM b
       |  WHERE (b < 2 AND NOT (b = 0 AND o_orderkey % 5 = 0)) OR b = 2)
       |SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
       |  ${Det.exactSumSql("o_totalprice")} AS total_price
       |FROM final
       |GROUP BY o_custkey
       |ORDER BY o_custkey""".stripMargin

  /** Bloom-manifest file skipping ([[graft.operators.JoinOps
    * .bloomManifest]] / [[graft.operators.JoinOps.bloomCandidates]]):
    * the point-lookup companion to q175's zone-map pruning. Documents
    * land in 8 disk partitions; an 8192-bit-per-partition Bloom
    * manifest answers "which partitions COULD hold key k" for a probe
    * set that is half present keys, half absent — the absent half is
    * where the manifest earns its keep (min/max zones can't prune
    * uniformly-hashed keys at all). The exact lookup then touches
    * only candidate (shard, key) pairs; no false negatives by
    * construction, and the oracle rebuilds every Bloom word and
    * replays every membership bit test.
    */
  def q196BloomPrune(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.JoinOps
    val path = scratchPath("q196", dir) + "/t"
    Tables.documents(s, dir)
      .select(col("doc_id"), pmod(col("doc_id"), lit(8)).as("shard"))
      .write.partitionBy("shard").mode("overwrite").parquet(path)
    val t = Tables.read(s, path)
    val manifest = JoinOps.bloomManifest(t, "shard", "doc_id",
      numBits = 8192, numHashes = 4)
    val docs = Tables.documents(s, dir)
    val probes = docs.filter(col("doc_id") % 10 === 3).select(col("doc_id"))
      .unionByName(docs.filter(col("doc_id") % 10 === 7)
        .select((col("doc_id") + 1000000L).as("doc_id")))
    val cand = JoinOps.bloomCandidates(manifest, probes, "doc_id",
      numBits = 8192, numHashes = 4)
    val nc = cand.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_candidate_shards"))
    val fnd = cand.withColumnRenamed("part", "shard")
      .join(t, Seq("doc_id", "shard"))
      .select(col("doc_id")).distinct().withColumn("found", lit(1))
    probes.join(nc, Seq("doc_id"), "left").join(fnd, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_candidate_shards"), lit(0L)).as("n_candidate_shards"),
        coalesce(col("found"), lit(0)).cast("int").as("found"))
      .orderBy("doc_id")
  }

  val q196Sql: String =
    """WITH d AS (SELECT doc_id, CAST(doc_id % 8 AS INT) AS shard FROM documents),
      |pos AS (
      |  SELECT shard,
      |    ('0x' || substr(md5(doc_id::VARCHAR || ':' || t.i::VARCHAR),
      |     1, 15))::BIGINT % 8192 AS p
      |  FROM d CROSS JOIN range(4) t(i)),
      |words AS (
      |  SELECT shard, p // 64 AS w,
      |    bit_or(1::HUGEINT << CAST(p % 64 AS INT)) AS mask
      |  FROM pos GROUP BY 1, 2),
      |probes AS (
      |  SELECT doc_id FROM documents WHERE doc_id % 10 = 3
      |  UNION ALL
      |  SELECT doc_id + 1000000 FROM documents WHERE doc_id % 10 = 7),
      |pp AS (
      |  SELECT pr.doc_id AS k, s.shard, t.i,
      |    ('0x' || substr(md5(pr.doc_id::VARCHAR || ':' || t.i::VARCHAR),
      |     1, 15))::BIGINT % 8192 AS p
      |  FROM probes pr
      |  CROSS JOIN (SELECT DISTINCT shard FROM d) s
      |  CROSS JOIN range(4) t(i)),
      |hit AS (
      |  SELECT pp.k, pp.shard,
      |    min(CASE WHEN w.mask IS NOT NULL
      |      AND (w.mask & (1::HUGEINT << CAST(pp.p % 64 AS INT))) <> 0
      |      THEN 1 ELSE 0 END) AS pass
      |  FROM pp LEFT JOIN words w ON w.shard = pp.shard AND w.w = pp.p // 64
      |  GROUP BY 1, 2),
      |cand AS (SELECT k, shard FROM hit WHERE pass = 1),
      |nc AS (SELECT k, CAST(count(*) AS BIGINT) AS n_candidate_shards
      |       FROM cand GROUP BY 1),
      |fnd AS (SELECT DISTINCT c.k FROM cand c
      |        JOIN d ON d.doc_id = c.k AND d.shard = c.shard)
      |SELECT pr.doc_id,
      |  COALESCE(nc.n_candidate_shards, 0) AS n_candidate_shards,
      |  CAST(CASE WHEN fnd.k IS NOT NULL THEN 1 ELSE 0 END AS INT) AS found
      |FROM probes pr
      |LEFT JOIN nc ON nc.k = pr.doc_id
      |LEFT JOIN fnd ON fnd.k = pr.doc_id
      |ORDER BY pr.doc_id""".stripMargin

  /** Unified file-skipping API ([[graft.sinks.Pruning]]): ONE
    * `pruneFiles(table, predicates)` consulting BOTH skipping
    * structures — q175's min/max zone maps and q196's Bloom manifests
    * — and feeding the scan's partition filters. Two probes through
    * the SAME api on the same zone-partitioned lineitem layout:
    *  - a ship-day RANGE, where the zone stats prune (orderkey Bloom
    *    not consulted — not an equality);
    *  - an orderkey EQUALITY, where the zone stats are useless (every
    *    zone spans nearly the whole orderkey domain — order dates are
    *    independent of keys) and the per-zone Bloom prunes to the
    *    zones actually holding the key plus its deterministic false
    *    positives.
    * Output is the per-(probe, zone) decision table with the match
    * counts found by the RESTRICTED scan; the oracle recomputes zone
    * stats, every Bloom word and every probe bit from the raw table —
    * so an unsound prune (a dropped zone that held matches) or a
    * wrong bit recipe breaks the hash. PlanShapeSpec separately
    * asserts both probes reach PartitionFilters.
    */
  def q212UnifiedPrune(s: SparkSession, dir: String): DataFrame = {
    import graft.sinks.Pruning
    import org.apache.spark.sql.types.IntegerType
    val path = scratchPath("q212", dir) + "/t"
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"),
        expr("CAST(datediff(to_date(l_shipdate), DATE '1995-01-01') AS INT)")
          .as("ship_day"))
      .withColumn("zone", expr("CAST(ship_day div 90 AS INT)"))
      .write.partitionBy("zone").mode("overwrite").parquet(path)
    Pruning.writeManifest(s, path, "zone",
      zoneCols = Seq("ship_day", "l_orderkey"),
      bloomCols = Seq("l_orderkey"), numBits = 8192, numHashes = 4)
    val probes = Seq(
      "range_ship_day" -> Seq(Pruning.Pred.range("ship_day", 731L, 911L)),
      "eq_orderkey" -> Seq(Pruning.Pred.eq("l_orderkey", 4999L)))
    val allZones = Tables.read(s, s"$path/_graft_manifest/zones")
      .select(col("part")).distinct()
    probes.map { case (tag, preds) =>
      val keep = Pruning.pruneFiles(s, path, preds)
      val matches = Pruning.prunedRead(s, path, "zone", preds)
        .groupBy(col("zone").cast("long").as("part"))
        .agg(count(lit(1)).as("n_match"))
      allZones.join(matches, Seq("part"), "left")
        .select(lit(tag).as("probe"),
          col("part").cast(IntegerType).as("zone"),
          when(col("part").isin(keep: _*), 1).otherwise(0)
            .cast(IntegerType).as("scanned"),
          coalesce(col("n_match"), lit(0L)).as("n_match"))
    }.reduce(_ unionByName _).orderBy("probe", "zone")
  }

  val q212Sql: String =
    """WITH zz AS (
      |  SELECT l_orderkey,
      |    datediff('day', DATE '1995-01-01', CAST(l_shipdate AS DATE)) AS ship_day,
      |    CAST(datediff('day', DATE '1995-01-01', CAST(l_shipdate AS DATE)) // 90 AS INT) AS zone
      |  FROM lineitem),
      |m AS (
      |  SELECT zone, min(ship_day) AS sd_mn, max(ship_day) AS sd_mx,
      |    min(l_orderkey) AS ok_mn, max(l_orderkey) AS ok_mx
      |  FROM zz GROUP BY zone),
      |ma AS (SELECT zone, CAST(count(*) AS BIGINT) AS n FROM zz
      |       WHERE ship_day BETWEEN 731 AND 911 GROUP BY zone),
      |pos AS (
      |  SELECT zone,
      |    ('0x' || substr(md5(l_orderkey::VARCHAR || ':' || t.i::VARCHAR),
      |     1, 15))::BIGINT % 8192 AS p
      |  FROM (SELECT DISTINCT zone, l_orderkey FROM zz) q
      |  CROSS JOIN range(4) t(i)),
      |words AS (
      |  SELECT zone, p // 64 AS w,
      |    bit_or(1::HUGEINT << CAST(p % 64 AS INT)) AS mask
      |  FROM pos GROUP BY 1, 2),
      |pb AS (
      |  SELECT ('0x' || substr(md5('4999' || ':' || t.i::VARCHAR),
      |    1, 15))::BIGINT % 8192 AS p
      |  FROM range(4) t(i)),
      |hitb AS (
      |  SELECT m.zone,
      |    min(CASE WHEN w.mask IS NOT NULL
      |      AND (w.mask & (1::HUGEINT << CAST(pb.p % 64 AS INT))) <> 0
      |      THEN 1 ELSE 0 END) AS pass
      |  FROM m CROSS JOIN pb
      |  LEFT JOIN words w ON w.zone = m.zone AND w.w = pb.p // 64
      |  GROUP BY m.zone),
      |mb AS (SELECT zone, CAST(count(*) AS BIGINT) AS n FROM zz
      |       WHERE l_orderkey = 4999 GROUP BY zone)
      |SELECT 'range_ship_day' AS probe, m.zone,
      |  CAST(CASE WHEN m.sd_mx >= 731 AND m.sd_mn <= 911 THEN 1 ELSE 0 END AS INT) AS scanned,
      |  COALESCE(ma.n, 0) AS n_match
      |FROM m LEFT JOIN ma ON ma.zone = m.zone
      |UNION ALL
      |SELECT 'eq_orderkey', m.zone,
      |  CAST(CASE WHEN m.ok_mn <= 4999 AND m.ok_mx >= 4999 AND h.pass = 1
      |    THEN 1 ELSE 0 END AS INT),
      |  COALESCE(mb.n, 0)
      |FROM m JOIN hitb h ON h.zone = m.zone
      |LEFT JOIN mb ON mb.zone = m.zone
      |ORDER BY probe, zone""".stripMargin

  /** Targeted key erasure through the file-skipping manifest
    * ([[graft.sinks.Writers.deleteKeysPruned]] over
    * [[graft.sinks.Pruning]]): delete three order keys from the
    * zone-partitioned lineitem layout of q212 — only zones the
    * manifest cannot prove clean are READ (zone bounds + Bloom bits),
    * only zones actually holding matches are REWRITTEN (staged write +
    * locked rename-swap); everything else stays byte-identical. The
    * audit row per zone carries (scanned, n_deleted, rewritten) plus
    * the survivor count from RE-READING the table after the delete —
    * so a leaked row, a lost survivor, an unsound prune, or a wrong
    * Bloom bit all break the hash. The oracle recomputes zone bounds,
    * every Bloom word, each key's probe bits, and both counts from the
    * raw table.
    */
  def q221PrunedDelete(s: SparkSession, dir: String): DataFrame = {
    import graft.sinks.{Pruning, Writers}
    import org.apache.spark.sql.types.IntegerType
    val path = scratchPath("q221", dir) + "/t"
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"),
        expr("CAST(datediff(to_date(l_shipdate), DATE '1995-01-01') AS INT)")
          .as("ship_day"))
      .withColumn("zone", expr("CAST(ship_day div 90 AS INT)"))
      .write.partitionBy("zone").mode("overwrite").parquet(path)
    Pruning.writeManifest(s, path, "zone",
      zoneCols = Seq("ship_day", "l_orderkey"),
      bloomCols = Seq("l_orderkey"), numBits = 8192, numHashes = 4)
    val keys = Seq(4999L, 32L, 11111L)
    val audit = Writers.deleteKeysPruned(s, path, "zone", "l_orderkey", keys)
    val post = Tables.read(s, path)
      .groupBy(col("zone").cast("long").as("part"))
      .agg(count(lit(1)).as("n_remaining"))
    audit.join(post, Seq("part"), "left_outer")
      .select(col("part").cast(IntegerType).as("zone"),
        col("scanned"), col("n_deleted"), col("rewritten"),
        coalesce(col("n_remaining"), lit(0L)).as("n_remaining"))
      .orderBy("zone")
  }

  val q221Sql: String =
    """WITH zz AS (
      |  SELECT l_orderkey,
      |    CAST(datediff('day', DATE '1995-01-01', CAST(l_shipdate AS DATE)) // 90 AS INT) AS zone
      |  FROM lineitem),
      |m AS (SELECT zone, min(l_orderkey) AS ok_mn, max(l_orderkey) AS ok_mx
      |      FROM zz GROUP BY zone),
      |keys(k) AS (VALUES (4999), (32), (11111)),
      |pos AS (
      |  SELECT zone,
      |    ('0x' || substr(md5(l_orderkey::VARCHAR || ':' || t.i::VARCHAR),
      |     1, 15))::BIGINT % 8192 AS p
      |  FROM (SELECT DISTINCT zone, l_orderkey FROM zz) q
      |  CROSS JOIN range(4) t(i)),
      |words AS (
      |  SELECT zone, p // 64 AS w,
      |    bit_or(1::HUGEINT << CAST(p % 64 AS INT)) AS mask
      |  FROM pos GROUP BY 1, 2),
      |pb AS (
      |  SELECT k, ('0x' || substr(md5(k::VARCHAR || ':' || t.i::VARCHAR),
      |    1, 15))::BIGINT % 8192 AS p
      |  FROM keys CROSS JOIN range(4) t(i)),
      |hit AS (
      |  SELECT m.zone, pb.k,
      |    min(CASE WHEN w.mask IS NOT NULL
      |      AND (w.mask & (1::HUGEINT << CAST(pb.p % 64 AS INT))) <> 0
      |      THEN 1 ELSE 0 END) AS pass
      |  FROM m CROSS JOIN pb
      |  LEFT JOIN words w ON w.zone = m.zone AND w.w = pb.p // 64
      |  GROUP BY m.zone, pb.k),
      |sc AS (
      |  SELECT m.zone,
      |    max(CASE WHEN m.ok_mn <= h.k AND m.ok_mx >= h.k AND h.pass = 1
      |      THEN 1 ELSE 0 END) AS scanned
      |  FROM m JOIN hit h ON h.zone = m.zone GROUP BY m.zone),
      |del AS (SELECT zone, CAST(count(*) AS BIGINT) AS n_deleted FROM zz
      |        WHERE l_orderkey IN (4999, 32, 11111) GROUP BY zone),
      |rem AS (SELECT zone, CAST(count(*) AS BIGINT) AS n_remaining FROM zz
      |        WHERE l_orderkey NOT IN (4999, 32, 11111) GROUP BY zone)
      |SELECT m.zone, CAST(sc.scanned AS INT) AS scanned,
      |  COALESCE(del.n_deleted, 0) AS n_deleted,
      |  CAST(CASE WHEN COALESCE(del.n_deleted, 0) > 0 THEN 1 ELSE 0 END
      |    AS INT) AS rewritten,
      |  COALESCE(rem.n_remaining, 0) AS n_remaining
      |FROM m
      |LEFT JOIN sc ON sc.zone = m.zone
      |LEFT JOIN del ON del.zone = m.zone
      |LEFT JOIN rem ON rem.zone = m.zone
      |ORDER BY m.zone""".stripMargin

  val queries: Map[String, Q] = Map(
    "q221_pruned_delete"   -> q221PrunedDelete _,
    "q212_unified_prune"   -> q212UnifiedPrune _,
    "q196_bloom_prune"     -> q196BloomPrune _,
    "q195_retractable_mv"  -> q195RetractableMv _,
    "q175_zone_map_prune"  -> q175ZoneMapPrune _,
    "q134_cdc_apply"       -> q134CdcApply _,
    "q123_incremental_mv"  -> q123IncrementalMv _,
    "q111_partition_ttl"   -> q111PartitionTtl _,
    "q110_snapshot_append" -> q110SnapshotAppend _,
    "q105_snapshot_versions" -> q105SnapshotVersions _,
    "q100_snapshot_diff"   -> q100SnapshotDiff _,
    "q96_asof_state"       -> q96AsOfState _,
    "q94_scd2_history"     -> q94Scd2 _,
    "q89_zorder_cluster"   -> q89ZOrderCluster _,
    "q75_partitioned_compaction" -> q75PartitionedCompaction _,
    "q67_compaction"       -> q67Compaction _,
    "q68_range_cluster"    -> q68RangeCluster _,
    "q69_merge_upsert"     -> q69MergeUpsert _,
    "q70_schema_evolution" -> q70SchemaEvolution _,
    "q72_partition_overwrite" -> q72PartitionOverwrite _)

  val oracle: Map[String, String] = Map(
    "q221_pruned_delete"   -> q221Sql,
    "q212_unified_prune"   -> q212Sql,
    "q196_bloom_prune"     -> q196Sql,
    "q195_retractable_mv"  -> q195Sql,
    "q175_zone_map_prune"  -> q175Sql,
    "q134_cdc_apply"       -> q134Sql,
    "q123_incremental_mv"  -> q123Sql,
    "q111_partition_ttl"   -> q111Sql,
    "q110_snapshot_append" -> q110Sql,
    "q105_snapshot_versions" -> q105Sql,
    "q100_snapshot_diff"   -> q100Sql,
    "q96_asof_state"       -> q96Sql,
    "q94_scd2_history"     -> q94Sql,
    "q89_zorder_cluster"   -> q89Sql,
    "q75_partitioned_compaction" -> q75Sql,
    "q67_compaction"       -> q67Sql,
    "q68_range_cluster"    -> q68Sql,
    "q69_merge_upsert"     -> q69Sql,
    "q70_schema_evolution" -> q70Sql,
    "q72_partition_overwrite" -> q72Sql)
}
