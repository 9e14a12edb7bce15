package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Unified file-skipping: ONE manifest + ONE pruning entry point over
  * the two skipping structures the engine already demonstrates
  * separately — per-partition min/max zone maps (q175, range
  * predicates) and per-partition Bloom filters (q196, equality
  * probes on uniformly-spread keys that min/max can't prune). A
  * production table wants a single `pruneFiles(table, predicates)`
  * that consults BOTH and feeds the scan's partition filters; this is
  * that API (the Iceberg/Delta data-skipping loop in engine
  * primitives).
  *
  * Layout: next to the table at `<path>/_graft_manifest/`,
  *   - `meta`    — one row: (part_col, num_bits, num_hashes)
  *   - `zones`   — (part, col_name, min_v, max_v, n_rows) per
  *                 partition × covered column (values long-encoded;
  *                 date columns enter as day numbers)
  *   - `bloom`   — (col_name, part, w, mask) packed Bloom words per
  *                 partition × covered column
  * (parquet frames — mergeable, engine-replayable: the Bloom recipe
  * is [[graft.operators.JoinOps.bloomManifest]]'s md5 bit scheme, the
  * zone stats are plain min/max aggregates).
  *
  * Scale shape: the manifest is metadata-sized (partitions × columns
  * for zones, partitions × numBits/64 words for Blooms). Pruning
  * reads ONLY the manifest; the surviving-partition list the driver
  * holds is ≤ |partitions| by construction (the q175 contract), and
  * the restricted scan filters on the PARTITION column, so Catalyst
  * prunes unread files at planning time (PartitionFilters —
  * PlanShapeSpec asserts it for both predicate shapes).
  */
object Pruning {

  /** A conjunction atom over a long-encoded manifest column: closed
    * range `[lo, hi]` (either bound optional) — equality is the
    * degenerate `lo == hi`. */
  final case class Pred(column: String, lo: Option[Long], hi: Option[Long]) {
    def isEquality: Boolean = lo.isDefined && lo == hi
  }
  object Pred {
    def eq(column: String, v: Long): Pred = Pred(column, Some(v), Some(v))
    def range(column: String, lo: Long, hi: Long): Pred =
      Pred(column, Some(lo), Some(hi))
  }

  private def manifestDir(path: String) = s"$path/_graft_manifest"

  /** Build and persist the combined manifest for a table partitioned
    * by numeric `partCol`. `zoneCols` get min/max zone stats;
    * `bloomCols` additionally get per-partition Bloom filters. All
    * covered columns must be long-castable (encode dates as day
    * numbers upstream).
    */
  def writeManifest(spark: SparkSession, path: String, partCol: String,
      zoneCols: Seq[String], bloomCols: Seq[String],
      numBits: Int = 8192, numHashes: Int = 4): Unit = {
    require(zoneCols.nonEmpty, "at least one zone column")
    require(bloomCols.forall(zoneCols.contains),
      "bloom columns must also carry zone stats (the equality pred " +
        "consults both)")
    val t = spark.read.parquet(path)
    val zones = zoneCols.map { c =>
      t.groupBy(col(partCol).cast(LongType).as("part"))
        .agg(min(col(c)).cast(LongType).as("min_v"),
          max(col(c)).cast(LongType).as("max_v"),
          count(lit(1)).as("n_rows"))
        .select(col("part"), lit(c).as("col_name"),
          col("min_v"), col("max_v"), col("n_rows"))
    }.reduce(_ unionByName _)
    zones.write.mode("overwrite").parquet(s"${manifestDir(path)}/zones")
    val blooms = bloomCols.map { c =>
      graft.operators.JoinOps
        .bloomManifest(t.select(col(partCol).cast(LongType).as("_bp"),
          col(c)), "_bp", c, numBits, numHashes)
        .select(lit(c).as("col_name"), col("part"), col("w"), col("mask"))
    }
    blooms.reduceOption(_ unionByName _).foreach {
      _.write.mode("overwrite").parquet(s"${manifestDir(path)}/bloom")
    }
    import spark.implicits._
    Seq((partCol, numBits, numHashes))
      .toDF("part_col", "num_bits", "num_hashes")
      .write.mode("overwrite").parquet(s"${manifestDir(path)}/meta")
  }

  /** The pruning decision: partition values that can possibly hold
    * rows satisfying ALL `preds`, consulting zone stats for every
    * predicate and the Bloom filter additionally for equality
    * predicates on Bloom-covered columns. Sound by construction (a
    * partition is dropped only on zone-bound disproof or an unset
    * Bloom bit — no false negatives), so a scan over the survivors
    * plus the residual filter is exact. Returns the sorted surviving
    * partition values (≤ |partitions|, driver-bounded).
    */
  def pruneFiles(spark: SparkSession, path: String,
      preds: Seq[Pred]): Seq[Long] = {
    require(preds.nonEmpty, "at least one predicate")
    val zones = spark.read.parquet(s"${manifestDir(path)}/zones")
    val meta = spark.read.parquet(s"${manifestDir(path)}/meta").collect()(0)
    val (numBits, numHashes) =
      (meta.getAs[Int]("num_bits"), meta.getAs[Int]("num_hashes"))
    val all = zones.select(col("part")).distinct()
    val covered = zones.select(col("col_name")).distinct()
      .collect().map(_.getString(0)).toSet
    val bloomCovered: Set[String] =
      try spark.read.parquet(s"${manifestDir(path)}/bloom")
        .select(col("col_name")).distinct().collect().map(_.getString(0)).toSet
      catch { case _: org.apache.spark.sql.AnalysisException => Set.empty }
    val survivors = preds.foldLeft(all) { (acc, p) =>
      val zoned =
        if (!covered(p.column)) acc
        else {
          val stats = zones.filter(col("col_name") === p.column)
          val keep = Seq(
            p.lo.map(v => col("max_v") >= v),
            p.hi.map(v => col("min_v") <= v)).flatten.reduce(_ && _)
          acc.join(stats.filter(keep).select(col("part")), Seq("part"),
            "left_semi")
        }
      if (p.isEquality && bloomCovered(p.column)) {
        import spark.implicits._
        val manifest = spark.read
          .parquet(s"${manifestDir(path)}/bloom")
          .filter(col("col_name") === p.column)
          .select(col("part"), col("w"), col("mask"))
        val cand = graft.operators.JoinOps.bloomCandidates(manifest,
          Seq(p.lo.get).toDF("_k"), "_k", numBits, numHashes)
        zoned.join(cand.select(col("part")), Seq("part"), "left_semi")
      } else zoned
    }
    survivors.collect().map(_.getLong(0)).sorted.toSeq
  }

  /** Disjunctive multi-key equality pruning in ONE manifest pass:
    * the partitions that may hold ANY of `keys` in `column` — the
    * erasure-request shape ([[Writers.deleteKeysPruned]]), where
    * per-key [[pruneFiles]] calls would re-read the manifest |keys|
    * times. Same soundness: a partition is dropped only when the zone
    * bounds disprove every key or the Bloom filter rejects every key
    * it zoned for.
    */
  def pruneFilesAnyOf(spark: SparkSession, path: String,
      column: String, keys: Seq[Long]): Seq[Long] = {
    require(keys.nonEmpty, "at least one key")
    import spark.implicits._
    val zones = spark.read.parquet(s"${manifestDir(path)}/zones")
    val meta = spark.read.parquet(s"${manifestDir(path)}/meta").collect()(0)
    val (numBits, numHashes) =
      (meta.getAs[Int]("num_bits"), meta.getAs[Int]("num_hashes"))
    val kdf = keys.toDF("_k")
    val covered = zones.filter(col("col_name") === column)
    val zoned =
      if (covered.isEmpty)
        zones.select(col("part")).distinct().crossJoin(kdf)
      else covered
        .join(kdf, col("min_v") <= col("_k") && col("max_v") >= col("_k"))
        .select(col("part"), col("_k"))
    val bloomCovered: Boolean =
      try spark.read.parquet(s"${manifestDir(path)}/bloom")
        .filter(col("col_name") === column).head(1).nonEmpty
      catch { case _: org.apache.spark.sql.AnalysisException => false }
    val survivors =
      if (!bloomCovered) zoned
      else {
        val manifest = spark.read.parquet(s"${manifestDir(path)}/bloom")
          .filter(col("col_name") === column)
          .select(col("part"), col("w"), col("mask"))
        zoned.join(
          graft.operators.JoinOps.bloomCandidates(
            manifest, kdf, "_k", numBits, numHashes),
          Seq("part", "_k"), "left_semi")
      }
    survivors.select(col("part")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
  }

  // ---- shared index-manifest convention (round 10) ----

  /** What a persisted derived index IS and how it was built: kind
    * ("ivf" | "postings" | "minhash"), the partition column its probe
    * prunes on ("" for unpartitioned layouts), and the build
    * parameters + freshness counters as a flat name→long map.
    *
    * Before round 10 each index carried its own convention — postings
    * a `_stats` sidecar, IVF nothing (nlist unrecorded), MinHash a
    * documented "caller owns the parameter discipline" with NO
    * metadata handshake at all. All three now write THIS record under
    * the same `_graft_manifest/` directory as table-skipping
    * manifests, and their readers consult it: one audited code path
    * for "can I probe this artifact with these parameters".
    */
  final case class IndexMeta(kind: String, partCol: String,
      params: Map[String, Long])

  /** Persist (replace) an index's manifest record. One row per
    * parameter — a flat (kind, part_col, param, value) frame, so any
    * engine (or the DuckDB oracle) can audit it without a schema
    * registry.
    *
    * The replace rides [[Writers.publishByRename]]'s staging + checked
    * rename-swap discipline (round-11 fix — a direct parquet overwrite
    * deletes the live record before the new one is complete, so a
    * crash mid-overwrite left a TORN manifest): the new record is
    * fully staged under a `.tmp-` path, then published by two
    * metadata-only renames. A crashed bump therefore leaves the old
    * record, the new record, or a clean absence with both copies
    * preserved — an absent/old manifest only makes [[readIndexMeta]]
    * readers lenient (freshness counters understate), never wrong.
    * No lock: index writes are single-writer by their own contracts
    * (daily-job discipline / build-then-probe lifecycle).
    */
  def writeIndexMeta(spark: SparkSession, path: String,
      meta: IndexMeta): Unit = {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val dst = new Path(s"${manifestDir(path)}/index_meta")
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (tmp, bak) = Writers.swapPaths(dst)
    meta.params.toSeq.sortBy(_._1)
      .map { case (k, v) => (meta.kind, meta.partCol, k, v) }
      .toDF("kind", "part_col", "param", "value")
      .coalesce(1)
      .write.mode("overwrite").parquet(tmp.toString)
    Writers.publishByRename(fs, dst, tmp, bak, "writeIndexMeta",
      hadPrior = fs.exists(dst))
  }

  /** The record's fixed layout, as [[writeIndexMeta]] writes it. */
  private val indexMetaSchema = StructType(Seq(
    StructField("kind", StringType), StructField("part_col", StringType),
    StructField("param", StringType), StructField("value", LongType)))

  /** Read an index manifest back; None when the artifact predates the
    * convention (readers stay lenient for those, strict once present).
    * Absence is one `exists` call, not a caught Spark read failure, and
    * the known schema spares the read its footer-inference job: the
    * stream sinks consult this on every micro-batch.
    */
  def readIndexMeta(spark: SparkSession, path: String): Option[IndexMeta] = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(s"${manifestDir(path)}/index_meta")
    if (!dir.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(dir)) None
    else {
      val rows = spark.read.schema(indexMetaSchema).parquet(dir.toString).collect()
      rows.headOption.map { h =>
        IndexMeta(h.getString(0), h.getString(1),
          rows.map(r => r.getString(2) -> r.getLong(3)).toMap)
      }
    }
  }

  /** Freshness bump for append paths: add `deltas` to the named
    * counters (missing counters start at 0). Metadata-sized rewrite;
    * the index append jobs are single-writer by their own contracts
    * (locks / daily-job discipline), so no CAS is needed here.
    */
  def bumpIndexMeta(spark: SparkSession, path: String,
      deltas: Map[String, Long]): Unit =
    readIndexMeta(spark, path).foreach { m =>
      writeIndexMeta(spark, path, m.copy(params =
        m.params ++ deltas.map { case (k, d) =>
          k -> (m.params.getOrElse(k, 0L) + d)
        }))
    }

  /** Fail-fast handshake: require that the manifest (when present)
    * matches the parameters a probe/append was invoked with. Replaces
    * per-index "the caller owns the parameter discipline" caveats —
    * a mismatched probe now throws instead of silently mis-bucketing.
    */
  def requireIndexParams(spark: SparkSession, path: String, kind: String,
      expect: Map[String, Long]): Unit =
    readIndexMeta(spark, path).foreach { m =>
      require(m.kind == kind,
        s"index at $path is kind '${m.kind}', expected '$kind'")
      expect.foreach { case (k, v) =>
        m.params.get(k).foreach(actual => require(actual == v,
          s"index at $path was built with $k=$actual, probed with $k=$v"))
      }
    }

  /** Restricted scan: the table filtered to the surviving partitions
    * (an `isin` on the partition column — Catalyst turns it into
    * PartitionFilters, so pruned files are never opened) with the
    * residual predicates re-applied exactly.
    */
  def prunedRead(spark: SparkSession, path: String, partCol: String,
      preds: Seq[Pred]): DataFrame = {
    val keep = pruneFiles(spark, path, preds)
    val residual = preds.map { p =>
      Seq(p.lo.map(col(p.column) >= _), p.hi.map(col(p.column) <= _))
        .flatten.reduce(_ && _)
    }.reduce(_ && _)
    spark.read.parquet(path)
      .filter(col(partCol).isin(keep: _*))
      .filter(residual)
  }
}
