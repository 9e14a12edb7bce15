package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.expressions.ShingleSetExpression
import graft.plans.Checkpoints

/** A near-dup pair result plus the number of degenerate (over-cap)
  * buckets THIS call saw. `cappedBucketCount == 0` ⇒ the pair output
  * is complete (no bucket hit the cap and no `is_star` row exists);
  * `> 0` ⇒ that many buckets were star-linked (their pairs carry
  * `is_star = true`).
  */
final case class CappedPairs(pairs: DataFrame, cappedBucketCount: Long)

/** Deduplication operators (SURVEY.md §2.5 A1, §2.7 D1/D2 + the
  * training-data-pipeline extensions from BASELINE.json's north star).
  *
  * The reference's only dedup is a string-built
  * `GROUP BY <all cols> HAVING COUNT(*) > 1`
  * (`/root/reference/catch_duplicates_script.py:56-68`). Here that is one
  * generic hash aggregate, plus the scale-path family a 100 TB corpus
  * needs: content fingerprints, MinHash/LSH near-dup, SimHash, and
  * n-gram Jaccard verification.
  *
  * Cache lifecycle: the near-dup operators need an intermediate
  * (shingles/signatures) on BOTH sides of a self-join. They persist it,
  * eagerly compute the (small) pair result via `localCheckpoint(true)`,
  * and unpersist before returning — so a long-lived session never
  * accumulates cached partitions, and the self-join's two branches race
  * into the cache exactly once instead of recomputing per branch.
  */
object Dedup {

  /** A1: full-row duplicate groups — `df.groupBy(all).count > 1`.
    * The reference discovers the column list from information_schema; here
    * it is `df.columns`. Scale: single hash aggregate; group-by key is the
    * whole row, so project identity-defining columns first for wide rows.
    */
  def findDuplicateGroups(df: DataFrame): DataFrame =
    df.groupBy(df.columns.map(col).toSeq: _*)
      .agg(count(lit(1)).as("duplicate_count"))
      .filter(col("duplicate_count") > 1)

  /** Exact content dedup by fingerprint: keep the lowest-id row per
    * normalized-content hash.
    *
    * Scale (the id-join formulation, default since r6): only 24-byte
    * (hash, id) pairs ever shuffle — winners resolve as
    * `groupBy(_fp).agg(min(id))` with map-side combine, LOSERS (the
    * non-min ids per fingerprint group) come from one cheap pair-join,
    * and the corpus drops them via a left-anti join on `idCol` alone.
    * The content column never crosses an exchange, and the anti side
    * is DUPLICATE-sized, not corpus-sized: with sparse duplication the
    * loser set broadcasts at scales where a winner-semi-join (one row
    * per distinct content) long since stopped; when it doesn't, the
    * anti join keys on the single id column, so a corpus bucketed on
    * `idCol` ([[graft.operators.JoinOps.writeBucketed]]) joins in
    * place. The previous window-by-_fp formulation shipped every
    * content payload through its shuffle — at 100 TB that single
    * crossing IS the pipeline's dominant cost. Same pattern as
    * [[dropNearDuplicates]].
    *
    * Requires `idCol` to identify rows (the normal case — a document
    * id): rows tying on (fingerprint, MIN id) would all survive, where
    * the old window formulation kept an arbitrary one.
    *
    * NULL content forms its own group: the fingerprint coalesces
    * md5(content) — NULL for null content — to a sentinel outside
    * md5's hex alphabet, so all null-content rows share one group key
    * and exactly one (the lowest id) survives, matching the
    * window-over-md5 formulation (SQL window PARTITION BY groups NULLs
    * together). A bare md5 key would drop null rows from the equi-join
    * and let every null-content row survive; a null-safe `<=>` join
    * would keep them but defeats Catalyst's join cardinality
    * estimation (EqualNullSafe is not an equality for stats), which
    * de-broadcasts the final anti join and ships content through an
    * exchange — the exact regression PlanShapeSpec's q18 assert exists
    * to catch.
    */
  def dedupByFingerprint(df: DataFrame, contentCol: String, idCol: String): DataFrame = {
    // fresh column names: a self-derived frame reusing `_fp`/idCol
    // would hit ambiguous-attribute resolution in the joins
    val nullFp = "_null_content_" // not 32-char hex: cannot collide
    val pairs = df
      .select(coalesce(md5(col(contentCol)), lit(nullFp)).as("_l_fp"),
        col(idCol).as("_l_id"))
    val winners = pairs.groupBy(col("_l_fp")).agg(min(col("_l_id")).as("_keep"))
    val losers = pairs.join(winners, Seq("_l_fp"))
      .filter(col("_l_id") =!= col("_keep"))
      .select(col("_l_id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  // -------------------------------------------------------------------
  // Near-duplicate detection (north-star training-data operators)
  // -------------------------------------------------------------------

  import graft.functions.TextFunctions._

  /** MinHash signature of a shingle set: k independent hash slots, each
    * the min over shingles of a seeded 64-bit hash. One projection per
    * row, no shuffle.
    */
  def minHashSignature(shingles: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)),
      // seed the hash with the slot index directly — hashing a
      // concatenated string allocates per (shingle, slot) and is ~3×
      // slower over the 10⁷-op signature computation
      i => array_min(transform(shingles, g => xxhash64(g, i))))

  /** LSH band keys: split the k-slot signature into `bands` bands of
    * `rowsPerBand` and hash each band. Two docs collide on a band key iff
    * that whole band matches → near-dups (high Jaccard) collide with
    * high probability.
    */
  def lshBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(array_join(
        transform(slice(sig, b * lit(rowsPerBand) + lit(1), lit(rowsPerBand)),
          h => h.cast(org.apache.spark.sql.types.StringType)), ",")))

  /** The signature projection: (`_id`, sorted distinct shingle set
    * `_sh`, MinHash `_sig`, LSH band keys `_bands`) per doc with at
    * least one shingle. One filter on the input text and one projection
    * per row: no shuffle, no persist, no job — callers choose the
    * partitioning (the batch operators widen first, the per-increment
    * paths do not) and own any persist.
    *
    * All three columns are native expressions, so the projection runs
    * in one whole-stage-codegen stage. The filter tests the text
    * ([[graft.expressions.ShingleSetExpression.hasShingles]]), not
    * `size(_sh) > 0`: the optimizer pushes a filter on `_sh` below the
    * projection with the alias substituted, which shingles every row
    * twice.
    */
  private[graft] def sign(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    df.filter(ShingleSetExpression.hasShingles(col(textCol), shingleSize))
      .select(
        col(idCol).as("_id"),
        // sorted ONCE per doc so pairwise verification can use the
        // alloc-free merge-walk intersection (SortedOverlapExpression)
        // instead of a hash-set array_intersect per candidate pair
        ShingleSetExpression.shingleSet(col(textCol), shingleSize).as("_sh"))
      // codegen signature expression (parity proven in
      // MinHashExpressionSpec): one generated loop instead of
      // k×|shingles| interpreted HOF evaluations. The signature is
      // materialized as its OWN column before banding: inlining it into
      // lshBandKeys would paste the (non-cheap) expression into every
      // band lambda — `bands`× signature computations per row. `_sig`
      // stays in persisted frames so CollapseProject can't re-inline it.
      .withColumn("_sig", graft.expressions.MinHashSignatureExpression
        .minhashSignatureNative(col("_sh"), numHashes))
      // native band keys (bit-identical to lshBandKeys, parity in spec):
      // the HOF version's nested transforms are CodegenFallback and drag
      // the stage into the interpreted row path
      .withColumn("_bands", graft.expressions.BandKeysExpression
        .bandKeysNative(col("_sig"), bands, rowsPerBand))
  }

  /** Internal: one cached, widened [[sign]] frame for the batch
    * self-join operators — shingling and signatures are computed once
    * and reused by both join sides and by the verification step.
    * Callers OWN the persist: compute results eagerly, then
    * `unpersist()` (see the public operators below).
    */
  private def shingleBands(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, numHashes: Int, bands: Int): DataFrame = {
    val sigs = sign(graft.sources.Tables.widen(df), idCol, textCol,
      shingleSize, numHashes, bands).persist()
    // materialize the cache NOW: the downstream plan reads this frame
    // from up to five branches (both self-join sides, the bucket stats,
    // and both verification sides) — if the first action races them
    // into an unmaterialized cache, each branch recomputes the full
    // shingle+minhash projection
    sigs.count()
    sigs
  }

  /** Bucket-capped pairwise expansion of banded rows.
    *
    * Input: (`_id`, band/chunk key columns). Output: distinct
    * (id_a < id_b, is_star) candidate pairs — `is_star = true` marks a
    * pair emitted by representative linking rather than the full
    * pairwise expansion (a pair found BOTH ways reports false).
    *
    * The self-join is O(bucket²) per band key — fine for genuine
    * near-dup buckets, fatal when a corpus contains thousands of
    * IDENTICAL documents (the common case dedup exists for!): every
    * copy lands in the same bucket in every band. Buckets larger than
    * `maxBucketSize` therefore switch to representative linking: each
    * member pairs with the bucket's minimum id only — O(bucket) pairs
    * that preserve the connected component (copy ↔ lowest-id copy), so
    * downstream keep-lowest-id dedup is unaffected while the pair count
    * stays linear. Star pairs are NOT exact-verified downstream (the
    * verifying operators exempt `is_star` rows from their threshold
    * filter): dropping a star pair that fails verification could split
    * the component of an over-cap bucket whose members are near-dups of
    * each other but not of the representative. The conservative failure
    * mode of a capped bucket is therefore an under-split (extra links
    * through the representative), never a lost duplicate; consumers
    * that want verified pairs only can `filter(!col("is_star"))`.
    */
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private def cappedBandPairs(
      bandRows: DataFrame, keyCols: Seq[String], maxBucketSize: Int): CappedPairs = {
    val keys = keyCols.map(col)
    // Degenerate keys are BY CONSTRUCTION few (each one represents >
    // maxBucketSize near-identical documents), so they travel as a
    // broadcast: the common path is a map-side anti-join that adds no
    // shuffle to the pairwise join below — not a stats join-back, which
    // would re-shuffle every band row.
    //
    // Materialized by an explicit driver collect into a LocalRelation:
    // the rows would land on the driver ANYWAY (that is what a
    // BroadcastExchange does), but a LocalRelation costs one job
    // instead of checkpoint + count + two broadcast-build jobs, the
    // row count doubles as the capped-run metric for free, and — in
    // the common uncapped case — Catalyst sees a provably EMPTY
    // relation and optimizes the whole degenerate branch away at plan
    // time (PropagateEmptyRelation: the anti-join collapses to the
    // band rows, star-pair union to nothing).
    val degAgg = bandRows.groupBy(keys: _*)
      .agg(count(lit(1)).as("_n"), min(col("_id")).as("_rep"))
      .filter(col("_n") > maxBucketSize)
    val degRows = degAgg.collect()
    if (degRows.nonEmpty)
      log.warn(s"cappedBandPairs: ${degRows.length} bucket(s) exceeded maxBucketSize=$maxBucketSize — " +
        "their pairs are star-linked to the bucket representative (component-preserving, NOT all-pairs)")
    val degenerate = bandRows.sparkSession.createDataFrame(
      java.util.Arrays.asList(degRows: _*), degAgg.schema)
    val small = bandRows.join(broadcast(degenerate.select(keys: _*)),
      keyCols, "left_anti")
    val smallPairs = small.as("l").join(small.as("r"),
        keyCols.map(k => col(s"l.$k") === col(s"r.$k"))
          .reduce(_ && _) && col("l._id") < col("r._id"))
      .select(col("l._id").as("id_a"), col("r._id").as("id_b"),
        lit(false).as("is_star"))
    // degenerate buckets: star-link members to the representative (rep
    // is the bucket min, so rep < _id always holds) — O(bucket) pairs
    // that preserve the connected component
    val bigPairs = bandRows
      .join(broadcast(degenerate), keyCols)
      .filter(col("_id") =!= col("_rep"))
      .select(col("_rep").as("id_a"), col("_id").as("id_b"),
        lit(true).as("is_star"))
    // same shuffle as the old distinct(), but a pair seen both ways
    // (fully expanded in one band, star-linked in another) must come
    // out verifiable: min(false, true) = false
    val pairs = smallPairs.unionByName(bigPairs)
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(col("is_star")).as("is_star"))
    CappedPairs(pairs, degRows.length.toLong)
  }

  /** Band tuning note: rows-per-band sets the candidate false-positive
    * rate — band collision probability is J^rowsPerBand; band count sets
    * recall — miss probability is (1 − J^rows)^bands. Corpora with a
    * small shared vocabulary (high baseline J) need MORE rows per band
    * or larger shingles; recall-critical jobs need more bands. The
    * (96, 24) config used by the judged query q21 holds worst-pair
    * (J≈0.69) miss probability at ~0.2% with a ~10⁻² candidate rate on
    * the harness corpus.
    */
  def minHashCandidatePairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 7, numHashes: Int = 32, bands: Int = 4,
      maxBucketSize: Int = 10000): DataFrame =
    minHashCandidatePairsMetered(df, idCol, textCol,
      shingleSize, numHashes, bands, maxBucketSize).pairs

  /** [[minHashCandidatePairs]] with the per-call capped-bucket count. */
  def minHashCandidatePairsMetered(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 7, numHashes: Int = 32, bands: Int = 4,
      maxBucketSize: Int = 10000): CappedPairs = {
    val sigs = shingleBands(df, idCol, textCol, shingleSize, numHashes, bands)
    try {
      val bandRows = sigs.select(col("_id"),
        posexplode(col("_bands")).as(Seq("band_idx", "band_key")))
      val cp = cappedBandPairs(bandRows, Seq("band_idx", "band_key"), maxBucketSize)
      cp.copy(pairs = cp.pairs.localCheckpoint(true))
    } finally sigs.unpersist()
  }

  /** N-gram Jaccard similarity of two text columns (exact verification
    * for candidate pairs).
    */
  def ngramJaccard(a: Column, b: Column, n: Int = 5): Column = {
    val sa = array_distinct(charNGrams(a, n))
    val sb = array_distinct(charNGrams(b, n))
    val union = size(array_union(sa, sb))
    when(union === 0, lit(0.0))
      .otherwise(size(array_intersect(sa, sb)).cast(org.apache.spark.sql.types.DoubleType) /
        union.cast(org.apache.spark.sql.types.DoubleType))
  }

  /** MinHash candidates verified by exact n-gram Jaccard ≥ threshold.
    * Scale: verification joins shingle sets back only for candidate ids
    * — the expensive exact Jaccard runs on O(candidates), not O(n²).
    *
    * Completeness caveat: candidates route through [[cappedBandPairs]],
    * so if any band bucket exceeds `maxBucketSize` the output is NOT
    * "all verified pairs with J ≥ minJaccard" — degenerate buckets
    * contribute star pairs to their representative, and those star
    * pairs are retained REGARDLESS of the threshold (with `is_star =
    * true` and their measured `jaccard`, possibly < `minJaccard`):
    * filtering them out could split the component of a bucket whose
    * members are near-dups of each other but not of the
    * representative. Capped runs are detectable three ways: the
    * `is_star` column, the per-call count in the `Metered` variant,
    * and a WARN log line. Uncapped runs (every judged corpus here)
    * have `is_star` uniformly false and are exact-complete.
    */
  def verifiedNearDupPairs(
      df: DataFrame, idCol: String, textCol: String,
      minJaccard: Double = 0.6,
      shingleSize: Int = 7, numHashes: Int = 32, bands: Int = 4,
      maxBucketSize: Int = 10000): DataFrame =
    verifiedNearDupPairsMetered(df, idCol, textCol, minJaccard,
      shingleSize, numHashes, bands, maxBucketSize).pairs

  /** [[verifiedNearDupPairs]] with the per-call capped-bucket count. */
  def verifiedNearDupPairsMetered(
      df: DataFrame, idCol: String, textCol: String,
      minJaccard: Double = 0.6,
      shingleSize: Int = 7, numHashes: Int = 32, bands: Int = 4,
      maxBucketSize: Int = 10000): CappedPairs = {
    val sigs = shingleBands(df, idCol, textCol, shingleSize, numHashes, bands)
    try {
      val bandRows = sigs.select(col("_id"),
        posexplode(col("_bands")).as(Seq("band_idx", "band_key")))
      val cp =
        cappedBandPairs(bandRows, Seq("band_idx", "band_key"), maxBucketSize)
      // verification reuses the cached shingle arrays — exact Jaccard on
      // O(candidates), with no re-shingling per pair
      val shA = sigs.select(col("_id").as("id_a"), col("_sh").as("_sh_a"))
      val shB = sigs.select(col("_id").as("id_b"), col("_sh").as("_sh_b"))
      // |A ∩ B| via one merge walk over the pre-sorted shingle arrays;
      // |A ∪ B| = |A| + |B| − |A ∩ B| (sets are distinct by construction)
      val overlap = graft.expressions.SortedOverlapExpression
        .sortedOverlap(col("_sh_a"), col("_sh_b"))
      val verified = cp.pairs.join(shA, "id_a").join(shB, "id_b")
        .withColumn("_ov", overlap)
        .withColumn("jaccard",
          col("_ov").cast(org.apache.spark.sql.types.DoubleType) /
            (size(col("_sh_a")) + size(col("_sh_b")) - col("_ov"))
              .cast(org.apache.spark.sql.types.DoubleType))
        // star pairs pass unconditionally — see the completeness caveat
        .filter(col("jaccard") >= minJaccard || col("is_star"))
        .select(col("id_a"), col("id_b"), col("jaccard"), col("is_star"))
        .localCheckpoint(true)
      CappedPairs(verified, cp.cappedBucketCount)
    } finally sigs.unpersist()
  }

  /** Persist a MinHash index for INCREMENTAL dedup: (id, sorted
    * shingle set, band keys) written to parquet, so a daily increment
    * dedups against the whole history without recomputing a single
    * corpus signature. The index stores the shingle arrays (needed for
    * exact verification) — it is content-scale, the standard
    * space/time trade of a dedup index; band keys alone would force a
    * re-shingle of every matched corpus doc at query time.
    */
  def writeMinHashIndex(
      df: DataFrame, path: String, idCol: String, textCol: String,
      shingleSize: Int = 7, numHashes: Int = 96, bands: Int = 24): Unit = {
    val nDocs = writeIndexRows(sign(graft.sources.Tables.widen(df), idCol,
      textCol, shingleSize, numHashes, bands), "overwrite", path)
    // shared index manifest (round 10): the build parameters the
    // probe/append paths MUST align with are now a recorded
    // handshake, not a scaladoc discipline; n_docs is the freshness
    // counter appends bump (the ~30% re-index threshold audit)
    writeMinHashMeta(df.sparkSession, path, shingleSize, numHashes, bands,
      Some(nDocs))
  }

  /** The persisted index row of a [[sign]]ed doc. */
  private def indexRows(sigs: DataFrame): DataFrame =
    sigs.select(col("_id"), col("_sh"), col("_bands"))

  /** Write [[sign]]ed docs as index rows; returns how many, counted by
    * an observe() metric on the write itself (no second pass).
    */
  private[graft] def writeIndexRows(sigs: DataFrame, mode: String,
      path: String): Long = {
    val obs = org.apache.spark.sql.Observation()
    indexRows(sigs).observe(obs, count(lit(1)).as("n"))
      .write.mode(mode).parquet(path)
    obs.get("n").asInstanceOf[Long]
  }

  private def minHashParams(shingleSize: Int, numHashes: Int,
      bands: Int): Map[String, Long] =
    Map("shingle_size" -> shingleSize.toLong,
      "num_hashes" -> numHashes.toLong, "bands" -> bands.toLong)

  /** Publish a MinHash index's manifest record: its build parameters
    * and, when the writer keeps it current, the `n_docs` freshness
    * counter (None: no counter, so readers know they have none).
    */
  private[graft] def writeMinHashMeta(spark: SparkSession, path: String,
      shingleSize: Int, numHashes: Int, bands: Int, nDocs: Option[Long]): Unit =
    graft.sinks.Pruning.writeIndexMeta(spark, path,
      graft.sinks.Pruning.IndexMeta("minhash", "",
        minHashParams(shingleSize, numHashes, bands) ++ nDocs.map("n_docs" -> _)))

  /** Manifest handshake: a probe or append with other (shingleSize,
    * numHashes, bands) than the index build would silently align NO
    * band keys and report zero duplicates — fail fast instead.
    */
  private def requireMinHashParams(spark: SparkSession, path: String,
      shingleSize: Int, numHashes: Int, bands: Int): Unit =
    graft.sinks.Pruning.requireIndexParams(spark, path, "minhash",
      minHashParams(shingleSize, numHashes, bands))

  /** Append an increment's signatures to a persisted
    * [[writeMinHashIndex]] index — the daily-job accretion path: after
    * deduping an increment against the index, the SURVIVORS join it so
    * tomorrow's increment dedups against them too. MUST use the same
    * (shingleSize, numHashes, bands) as the index (same seeds ⇒ band
    * keys align) — enforced by the `_graft_manifest/index_meta`
    * handshake (round 10): a mismatched append throws instead of
    * silently writing misaligned band keys.
    */
  def appendToMinHashIndex(
      df: DataFrame, path: String, idCol: String, textCol: String,
      shingleSize: Int = 7, numHashes: Int = 96, bands: Int = 24): Unit = {
    requireMinHashParams(df.sparkSession, path, shingleSize, numHashes, bands)
    val nDocs = writeIndexRows(sign(graft.sources.Tables.widen(df), idCol,
      textCol, shingleSize, numHashes, bands), "append", path)
    // crash between append and bump leaves n_docs understating the
    // index — benign: probes read signatures directly, the counter
    // only feeds the re-index-threshold audit (FaultInjectionSpec)
    graft.sinks.FaultInjection.point("appendToMinHashIndex:appended")
    graft.sinks.Pruning.bumpIndexMeta(df.sparkSession, path,
      Map("n_docs" -> nDocs))
  }

  /** RETENTION for the persisted index (r7 — closes the "appends
    * forever" accretion nit): every [[appendToMinHashIndex]] adds a
    * file-per-partition batch, so a year of daily increments turns the
    * index into thousands of small files and every
    * [[incrementalNearDupPairs]] read pays the per-file open cost.
    * This folds the index back to `targetFileBytes`-sized files
    * through the same checked tmp/bak rename-swap + `.compact.lock`
    * machinery as table compaction ([[graft.sinks.Writers]]) — safe to
    * run concurrently with readers and with a daily append job (the
    * lock serializes against other WRITERS; parquet readers resolve
    * files at plan time against the live directory).
    *
    * Row-level bloat is NOT reclaimed here (compaction preserves every
    * row): ids re-appended after edits, or docs since deleted from the
    * corpus, stay in the index and keep matching. The re-index
    * threshold: once accumulated appends exceed ~30% of the base
    * corpus — or any deletion sweep has run — rebuild with
    * [[writeMinHashIndex]] from the current corpus instead of
    * compacting; same cost as one full signature pass.
    */
  def compactMinHashIndex(
      spark: SparkSession, path: String,
      targetFileBytes: Long = 128L << 20): Map[String, Int] =
    graft.sinks.Writers.compactPartitionedTable(spark, path, targetFileBytes)

  /** Near-dup pairs of an INCREMENT against a persisted
    * [[writeMinHashIndex]] corpus index: band the new docs (same
    * seeds, so keys align), bucket-join against the stored band keys,
    * and verify candidates by exact Jaccard using the new side's
    * cached shingles and the index's stored ones. Output:
    * (new_id, corpus_id, jaccard, is_star) — feed into
    * [[dropNearDuplicates]] (or drop all matched new ids) before
    * appending the increment.
    *
    * MUST use the same (shingleSize, numHashes, bands) as the index.
    *
    * Scale: the increment is widened ([[graft.sources.Tables.widen]])
    * and signed once — a daily increment can arrive as one parquet
    * partition, and signing it on one core is the slowdown `widen`
    * exists for. The index is read through [[graft.sources.Tables.read]]
    * (its schema, `_id` type included, comes from one data file's
    * footer on the driver, so no footer-inference job runs), and an
    * increment's id type need not match the index's. The join
    * shuffles (band_idx, band_key, id) only; band keys whose bucket
    * exceeds `maxBucketSize` on EITHER side (an already-flooded corpus
    * cluster, or a boilerplate-flooded increment) link each new doc to
    * that bucket's lowest-corpus-id representative only —
    * component-preserving, O(new) pairs — via the same
    * broadcast-LocalRelation scheme as [[cappedBandPairs]]. The bucket
    * stats aggregate only the index band rows whose key the increment
    * holds: a key no new doc shares pairs with nothing, so the stats
    * stay increment-sized and the candidates are unchanged.
    */
  def incrementalNearDupPairs(
      newDocs: DataFrame, indexPath: String, idCol: String, textCol: String,
      minJaccard: Double = 0.6,
      shingleSize: Int = 7, numHashes: Int = 96, bands: Int = 24,
      maxBucketSize: Int = 10000): DataFrame =
    incrementalNearDupPairsMetered(newDocs, indexPath, idCol, textCol,
      minJaccard, shingleSize, numHashes, bands, maxBucketSize).pairs

  /** [[incrementalNearDupPairs]] with the per-call capped-bucket count:
    * the over-cap buckets the increment touches. An over-cap corpus
    * bucket that no new doc shares is not counted — it cannot
    * contribute a pair.
    */
  def incrementalNearDupPairsMetered(
      newDocs: DataFrame, indexPath: String, idCol: String, textCol: String,
      minJaccard: Double = 0.6,
      shingleSize: Int = 7, numHashes: Int = 96, bands: Int = 24,
      maxBucketSize: Int = 10000): CappedPairs = {
    val sigs = sign(graft.sources.Tables.widen(newDocs), idCol, textCol,
      shingleSize, numHashes, bands).persist()
    try {
      val cp = probeIndex(sigs, indexPath, minJaccard,
        shingleSize, numHashes, bands, maxBucketSize)
      cp.copy(pairs = cp.pairs.localCheckpoint(true))
    } finally sigs.unpersist()
  }

  /** The probe behind [[incrementalNearDupPairsMetered]], over an
    * increment `sigs` already [[sign]]ed with the given parameters
    * (the stream sinks pass theirs unwidened: a micro-batch is small,
    * and a round-robin exchange would be one more shuffle per batch).
    * The bucket stats run eagerly (one collect); the pairs stay lazy
    * and read `sigs`, so the caller keeps `sigs` persisted until it has
    * materialized whatever consumes them.
    */
  private[graft] def probeIndex(
      sigs: DataFrame, indexPath: String, minJaccard: Double,
      shingleSize: Int, numHashes: Int, bands: Int,
      maxBucketSize: Int): CappedPairs = {
    val spark = sigs.sparkSession
    requireMinHashParams(spark, indexPath, shingleSize, numHashes, bands)
    val index = graft.sources.Tables.read(spark, indexPath)
    val keys = Seq("band_idx", "band_key")
    val newBands = sigs.select(col("_id").as("new_id"),
      posexplode(col("_bands")).as(keys))
    val idxBands = index.select(col("_id").as("corpus_id"),
      posexplode(col("_bands")).as(keys))
    // A bucket is degenerate when EITHER side floods it: an over-cap
    // corpus bucket (an already-flooded corpus cluster) OR an
    // over-cap increment bucket (a boilerplate-heavy increment — the
    // common daily-dedup input). Either way the full |new|×|idx|
    // expansion is replaced by star links to the corpus bucket's
    // representative: O(new) pairs per bucket. Only the increment's
    // keys are counted (see Scale above).
    val newKeys = newBands.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("_n_new"))
    val degAgg = idxBands.join(newKeys, keys)
      .groupBy((keys :+ "_n_new").map(col): _*)
      .agg(count(lit(1)).as("_n"), min(col("corpus_id")).as("_rep"))
      .filter(col("_n") > maxBucketSize || col("_n_new") > maxBucketSize)
      .select((keys :+ "_rep").map(col): _*)
    val degRows = degAgg.collect()
    if (degRows.nonEmpty)
      log.warn(s"incrementalNearDupPairs: ${degRows.length} bucket(s) over " +
        s"maxBucketSize=$maxBucketSize (corpus- or increment-side flood) — " +
        "new docs link to those buckets' corpus representatives only")
    val degenerate = spark.createDataFrame(
      java.util.Arrays.asList(degRows: _*), degAgg.schema)
    val smallIdx = idxBands.join(broadcast(degenerate.select(keys.map(col): _*)),
      keys, "left_anti")
    val smallCand = newBands.join(smallIdx, keys)
      .filter(col("new_id") =!= col("corpus_id"))
      .select(col("new_id"), col("corpus_id"), lit(false).as("is_star"))
    val bigCand = newBands.join(broadcast(degenerate), keys)
      .filter(col("new_id") =!= col("_rep"))
      .select(col("new_id"), col("_rep").as("corpus_id"), lit(true).as("is_star"))
    val candidates = smallCand.unionByName(bigCand)
      .groupBy(col("new_id"), col("corpus_id"))
      .agg(min(col("is_star")).as("is_star"))
    val shN = sigs.select(col("_id").as("new_id"), col("_sh").as("_sh_a"))
    val shC = index.select(col("_id").as("corpus_id"), col("_sh").as("_sh_b"))
    val overlap = graft.expressions.SortedOverlapExpression
      .sortedOverlap(col("_sh_a"), col("_sh_b"))
    val verified = candidates.join(shN, "new_id").join(shC, "corpus_id")
      .withColumn("_ov", overlap)
      .withColumn("jaccard",
        col("_ov").cast(org.apache.spark.sql.types.DoubleType) /
          (size(col("_sh_a")) + size(col("_sh_b")) - col("_ov"))
            .cast(org.apache.spark.sql.types.DoubleType))
      // star pairs pass unconditionally — component preservation, see
      // the [[cappedBandPairs]] contract
      .filter(col("jaccard") >= minJaccard || col("is_star"))
      .select(col("new_id"), col("corpus_id"), col("jaccard"), col("is_star"))
    CappedPairs(verified, degRows.length.toLong)
  }

  /** SimHash near-dup pairs: 64-bit SimHash per doc, banded by the
    * multi-block (Manku/WWW'07-style) scheme: the hash is split into
    * `nBlocks` bit-blocks and a band key is built from EVERY combination
    * of `nBlocks − maxHamming` blocks. Pigeonhole guarantee: ≤
    * maxHamming flipped bits touch at most maxHamming blocks, so some
    * combination of the remaining blocks is completely clean — recall is
    * exactly 100%, and exact hamming verification makes precision 100%
    * too (the output is EXACTLY the hamming ≤ maxHamming pair set,
    * independent of banding).
    *
    * Why combinations instead of single blocks: with one block per band
    * the key is only 64/nBlocks bits wide, so bucket occupancy — and
    * the O(bucket²) candidate join — grows linearly with the corpus (a
    * measured 12× super-linear blow-up at a 10× scale-up). Multi-block
    * keys are (nBlocks − maxHamming)·64/nBlocks bits wide: the default
    * `nBlocks = -1` auto-picks the smallest block count whose key space
    * keeps expected occupancy ≈ `targetBucketSize` (t = 8 → 8-bit keys,
    * t = 9 → ~14, t = 10 → ~19 at maxHamming 7; band count C(t, t−k)
    * capped at 256), so candidates stay ∝ corpus size.
    *
    * Defaults (hamming ≤ 7) suit single-token edits on ~50-100-token
    * docs, which flip ~5 bits of a token-set SimHash.
    *
    * `simhashOf` selects the hash family: the default codegen xxhash64
    * SimHash (fastest), or [[graft.functions.TextFunctions.simHashMd5]]
    * for a cross-engine-reproducible 60-bit variant (any ANSI engine
    * can recompute it → externally auditable pairs). Both produce a
    * LongType column banded the same way.
    */
  def simHashNearDupPairs(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 7, nBlocks: Int = -1,
      maxBucketSize: Int = 10000, targetBucketSize: Int = 16,
      simhashOf: Column => Column =
        graft.expressions.SimHash64Expression.simhash64Native(_)): DataFrame =
    simHashNearDupPairsMetered(df, idCol, textCol, maxHamming, nBlocks,
      maxBucketSize, targetBucketSize, simhashOf).pairs

  /** [[simHashNearDupPairs]] with the per-call capped-bucket count. */
  def simHashNearDupPairsMetered(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 7, nBlocks: Int = -1,
      maxBucketSize: Int = 10000, targetBucketSize: Int = 16,
      simhashOf: Column => Column =
        graft.expressions.SimHash64Expression.simhash64Native(_)): CappedPairs = {
    // BigInt: intermediate products overflow Long well inside the
    // plausible-argument range (e.g. C(64, 32))
    def nCombos(t: Int, r: Int): BigInt =
      (1 to r).foldLeft(BigInt(1))((acc, i) => acc * (t - r + i) / i)
    // validate explicit arguments BEFORE any work: a rejected nBlocks
    // must fail in microseconds, not after a full corpus scan — and
    // must not leave a persisted frame behind
    if (nBlocks > 0) {
      require(nBlocks > maxHamming, "need nBlocks > maxHamming")
      require(nBlocks <= 64, s"a 64-bit simhash has at most 64 blocks, got $nBlocks")
      // the auto-tune path caps band count at 256; an explicit
      // nBlocks must honor a bound too — C(32, 25) ≈ 3.4M band keys
      // per row would blow up both the driver-side combination
      // enumeration and the per-row band array
      val bands = nCombos(nBlocks, nBlocks - maxHamming)
      require(bands <= 1024,
        s"nBlocks=$nBlocks with maxHamming=$maxHamming yields C($nBlocks,${nBlocks - maxHamming}) " +
          s"= $bands band combinations (> 1024); use fewer blocks or the auto-tune default")
    }
    val hashed = graft.sources.Tables.widen(df)
      .select(col(idCol).as("_id"), simhashOf(col(textCol)).as("_sh"))
      .persist()
    // eager materialization — same multi-branch cache-race rationale as
    // shingleBands; the count also drives the banding auto-tune
    val n = hashed.count()
    val t =
      if (nBlocks > 0) nBlocks
      else {
        require(maxHamming >= 0 && maxHamming < 63,
          s"maxHamming must be in [0, 62], got $maxHamming")
        val needBits =
          math.log(math.max(n, 1).toDouble / targetBucketSize) / math.log(2)
        // candidate block counts: t = k+1 alone gives C(k+1, 1) = k+1
        // bands (always ≤ 256 for k ≤ 62), so the range is never empty
        val allowed = (maxHamming + 1 to math.max(12, maxHamming + 3))
          .filter(c => nCombos(c, c - maxHamming) <= 256)
        allowed.find(c => (c - maxHamming) * 64.0 / c >= needBits)
          .getOrElse(allowed.last)
      }
    // block bit-ranges (uneven widths are fine for the pigeonhole)
    val sizes = (0 until t).map(i => 64 / t + (if (i < 64 % t) 1 else 0))
    val starts = sizes.scanLeft(0)(_ + _)
    def blockVal(b: Int): Column =
      shiftrightunsigned(col("_sh"), starts(b))
        .bitwiseAND(lit(if (sizes(b) == 64) -1L else (1L << sizes(b)) - 1))
    val combos = (0 until t).combinations(t - maxHamming).toSeq
    try {
      // one band row per (doc, block-combination); the key concatenates
      // the selected block values — ids and ≤63-bit keys shuffle, never
      // content or hashes
      val bandKeys = combos.map(_.foldLeft(lit(0L)) { (acc, b) =>
        shiftleft(acc, sizes(b)).bitwiseOR(blockVal(b))
      })
      val banded = hashed.select(col("_id"),
        posexplode(array(bandKeys: _*)).as(Seq("band_idx", "band_key")))
      val cp = cappedBandPairs(banded, Seq("band_idx", "band_key"), maxBucketSize)
      // the 8-byte simhash values are joined back for the exact hamming
      // verification — O(candidates) work
      val hA = hashed.select(col("_id").as("id_a"), col("_sh").as("_sh_a"))
      val hB = hashed.select(col("_id").as("id_b"), col("_sh").as("_sh_b"))
      val verified = cp.pairs.join(hA, "id_a").join(hB, "id_b")
        .select(col("id_a"), col("id_b"),
          graft.functions.VectorFunctions.hammingLong(col("_sh_a"), col("_sh_b")).as("hamming"),
          col("is_star"))
        // star pairs pass unconditionally — component preservation, see
        // the [[cappedBandPairs]] contract
        .filter(col("hamming") <= maxHamming || col("is_star"))
        .localCheckpoint(true)
      CappedPairs(verified, cp.cappedBucketCount)
    } finally hashed.unpersist()
  }

  /** Connected components over an undirected near-dup pair set:
    * label(v) converges to the minimum id reachable from v — the
    * canonical representative every keep-lowest-id dedup policy wants.
    * Output: (id, component_id) for every id appearing in a pair.
    *
    * Algorithm: min-label propagation WITH pointer jumping — per round
    * each node (1) takes the min of its own label and its neighbors'
    * labels (one join + one aggregation, all distributed), then
    * (2) shortcuts to its label's label (one self-join): label(v) :=
    * label(label(v)). Labels are node ids, monotonically decreasing,
    * so the jump is always defined and always sound (label(p) ≤ p ≤
    * v's old label). Propagation alone needs diameter-many rounds —
    * fine for the dense quasi-cliques/stars banded LSH produces, but a
    * pathological CHAIN (pairwise-similar boilerplate) has diameter
    * O(n); the jump halves the remaining label-tree depth every round,
    * so convergence is O(log diameter) and a 10⁶-long chain finishes
    * in ~20 rounds instead of hitting the guard at 25. Each round is
    * `localCheckpoint`ed: the lineage is CUT per iteration — without
    * that, round k's plan contains k nested joins and Catalyst
    * re-optimizes an exponentially growing tree.
    *
    * The jump is RAMPED, not unconditional: the common case (dense
    * LSH quasi-cliques/stars) converges in 2-3 propagation rounds, and
    * paying the jump's extra self-join + eager materialization there
    * doubles per-round cost for nothing. The first `jumpAfter` rounds
    * run plain propagation; the jump switches on only if the graph is
    * still unconverged after them — i.e. exactly when the remaining
    * structure is deep enough for the O(log d) shortcut to matter. A
    * diameter-d chain then costs jumpAfter + O(log d) rounds.
    *
    * Scale: state is one (id, label) row per node and the edge list;
    * shuffle per round is edges + labels on id, plus (jump rounds only)
    * one labels-sized self-join. The `maxIter` guard throws rather than
    * silently returning unconverged labels; at O(log d) rounds the
    * default 25 covers any graph that fits on a cluster.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25,
      jumpAfter: Int = 2): DataFrame =
    // the rounds relabel inside one scope: the caller's label is restored
    // on return and on a throw
    graft.GraftSession.withLabel(pairs.sparkSession.sparkContext,
      "connectedComponents")(componentRounds(pairs, maxIter, jumpAfter))

  private def componentRounds(pairs: DataFrame, maxIter: Int,
      jumpAfter: Int): DataFrame = {
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct().persist()
    edges.count()
    try {
      var labels = edges.select(col("src").as("id")).distinct()
        .withColumn("comp", col("id"))
        .localCheckpoint(true)
      var changed = 1L
      var iter = 0
      while (changed > 0) {
        if (iter >= maxIter)
          throw new IllegalStateException(
            s"connectedComponents did not converge in $maxIter rounds (graph diameter too large)")
        // per-round job label — attributes the loop's jobs in the
        // UI/event log
        pairs.sparkSession.sparkContext
          .setJobDescription(s"connectedComponents: round $iter")
        val neighborMin = edges
          .join(labels.select(col("id").as("dst"), col("comp").as("_nc")), "dst")
          .groupBy(col("src").as("id")).agg(min(col("_nc")).as("_nbr"))
        // (1) propagate: min over self + neighborhood
        val propCore = labels.join(neighborMin, Seq("id"), "left")
          .select(col("id"), col("comp"),
            least(col("comp"), coalesce(col("_nbr"), col("comp"))).as("_p"))
        // the convergence meter rides the checkpoint's OWN execution as
        // an observe() metric instead of a second count job per round —
        // at ~5 rounds per call and a dozen component calls across the
        // suite, the saved job floor is real wall time (guide §1.2 —
        // same CollectMetrics free-rider device as TrainingPipeline's
        // stage meters). count(when) never returns null, so the read
        // is total even on an empty frame.
        val obs = org.apache.spark.sql.Observation()
        def metered(df: DataFrame): DataFrame =
          df.observe(obs,
            count(when(col("_next") < col("comp"), lit(1))).as("_changed"))
        val stepped =
          if (iter < jumpAfter) {
            // ramp rounds: plain propagation, one materialization
            metered(propCore.select(col("id"), col("comp"), col("_p").as("_next")))
              .localCheckpoint(true)
          } else {
            // still unconverged past the ramp → deep structure remains.
            // Checkpoint the propagation eagerly because the jump
            // self-joins it (two lazy branches would recompute it twice).
            val prop = propCore.localCheckpoint(true)
            // (2) pointer jump: _next = prop's label OF the label. Left
            // join: a label is always a node id, but the coalesce keeps
            // the round total even if a frontier row is missing.
            val jumped = metered(prop
              .join(prop.select(col("id").as("_p"), col("_p").as("_pp")), Seq("_p"), "left")
              .select(col("id"), col("comp"),
                least(col("_p"), coalesce(col("_pp"), col("_p"))).as("_next")))
              .localCheckpoint(true)
            Checkpoints.drop(prop) // consumed by the jump — dead
            jumped
          }
        changed = obs.get("_changed").asInstanceOf[Long]
        // the previous round's checkpoint (labels' backing frame) is
        // dead once `stepped` is materialized — release its blocks
        // instead of accumulating one node frame per round
        Checkpoints.drop(labels)
        labels = stepped.select(col("id"), col("_next").as("comp"))
        iter += 1
      }
      labels.select(col("id"), col("comp").as("component_id"))
    } finally edges.unpersist()
  }

  /** INCREMENTAL connected components: fold a batch of new edges into
    * a persisted (id, component) assignment without recomputing
    * history — the union-find shape of streaming sessionization,
    * identity stitching, and daily near-dup graph maintenance. A new
    * edge can only MERGE existing components (or attach new nodes), so
    * the full recompute collapses to:
    *
    *  1. map each new edge's endpoints to their current component
    *     (absent → the node is its own component) — one broadcast-or-
    *     keyed join per side, increment-sized;
    *  2. run components on the COMPONENT graph those edges induce —
    *     a graph bounded by the batch size, never the corpus
    *     ([[connectedComponents]]' pointer-jump, min-label canonical);
    *  3. remap: one broadcast join of the (old component → merged
    *     component) table, increment-bounded, onto the assignment.
    *
    * The corpus-sized assignment crosses exactly one join per batch;
    * min-label canonicalization makes the result IDENTICAL to a full
    * recompute over base ∪ increment (min of merged minima = global
    * min), which is exactly what the q225 oracle replays.
    *
    * @param baseAssign (idCol, compCol) persisted assignment
    * @param newEdges   increment edge batch
    * @return (id, component) over base nodes ∪ new endpoints
    */
  def incrementalComponents(baseAssign: DataFrame, idCol: String,
      compCol: String, newEdges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val base = baseAssign.select(col(idCol).cast(LongType).as("id"),
      col(compCol).cast(LongType).as("comp"))
    val e = newEdges.select(col(srcCol).cast(LongType).as("_s"),
        col(dstCol).cast(LongType).as("_d"))
      .filter(col("_s").isNotNull && col("_d").isNotNull)
    // endpoints absent from the base enter as their own component
    val ends = e.select(col("_s").as("id"))
      .unionByName(e.select(col("_d").as("id"))).distinct()
    val newNodes = ends.join(base.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("comp"))
    val assignAll = base.unionByName(newNodes)
    // the component graph the new edges induce (increment-bounded)
    val lookup = assignAll.withColumnRenamed("id", "_n")
    val cEdges = e
      .join(lookup.select(col("_n").as("_s"), col("comp").as("_cs")), Seq("_s"))
      .join(lookup.select(col("_n").as("_d"), col("comp").as("_cd")), Seq("_d"))
      .select(col("_cs").as("id_a"), col("_cd").as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
      .distinct()
    if (cEdges.isEmpty) return assignAll
      .select(col("id"), col("comp").as("component_id"))
    val merged = connectedComponents(cEdges)
      .withColumnRenamed("id", "comp")
      .withColumnRenamed("component_id", "_super")
    assignAll.join(broadcast(merged), Seq("comp"), "left_outer")
      .select(col("id"),
        coalesce(col("_super"), col("comp")).as("component_id"))
  }

  /** Near-dup remediation: drop every row whose id belongs to a
    * component but is not its minimum — the multi-copy generalization
    * of [[dedupByFingerprint]]'s keep-lowest-id policy. Rows not in
    * any pair pass through untouched (left-anti on the non-canonical
    * id set, which is small relative to the corpus).
    */
  def dropNearDuplicates(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val doomed = connectedComponents(pairs)
      .filter(col("id") =!= col("component_id"))
      .select(col("id").as(idCol))
    df.join(doomed, Seq(idCol), "left_anti")
  }

  /** Embedding-cosine near-dup pairs: random-hyperplane LSH signatures,
    * banded into `nChunks` equal bit-chunks (pigeonhole: any pair whose
    * signatures differ in fewer than `nChunks` bits shares at least one
    * untouched chunk — so near-identical vectors, which flip few sign
    * bits, are found with certainty, and near-but-not-identical ones
    * with probability set by the chunk width), bucket-joined through
    * [[cappedBandPairs]], then verified by exact cosine.
    *
    * Scale: the bucket join shuffles (chunk_idx, chunk_val, id) only —
    * never the vectors; vectors are joined back for O(candidates)
    * verification. Buckets larger than `maxBucketSize` (thousands of
    * IDENTICAL embeddings — re-crawled images, boilerplate docs — the
    * exact case dedup exists for) star-link to the bucket-min
    * representative: O(bucket) pairs, connected component preserved, so
    * keep-lowest-id dedup downstream is unaffected. Same completeness
    * caveat as [[verifiedNearDupPairs]] — see [[cappedBandPairs]].
    *
    * Chunk width (`nBits / nChunks`) is the recall/cost dial: wider
    * chunks → smaller buckets (2^chunkBits values per chunk) but lower
    * probability a near-pair keeps a chunk clean. The default
    * (`nBits = -1`) AUTO-TUNES width to the corpus: chunkBits =
    * ⌈log₂(n / targetBucketSize)⌉ (clamped to [4, 15]) keeps expected
    * bucket occupancy ≈ `targetBucketSize` at ANY corpus size, so
    * candidate-pair count grows linearly with n (n/bucket constant) —
    * a fixed width that is right at 10⁶ vectors is a quadratic
    * candidate blow-up at 10⁹. Pass an explicit `nBits` only when a
    * pinned banding matters more than scale-proportionality (e.g. a
    * recall-calibrated oracle query).
    */
  def embeddingNearDupPairs(
      df: DataFrame, idCol: String, vecCol: String, dim: Int,
      minCosine: Double = 0.95, nBits: Int = -1, nChunks: Int = 3,
      maxBucketSize: Int = 10000, targetBucketSize: Int = 16): DataFrame =
    embeddingNearDupPairsMetered(df, idCol, vecCol, dim, minCosine,
      nBits, nChunks, maxBucketSize, targetBucketSize).pairs

  /** [[embeddingNearDupPairs]] with the per-call capped-bucket count. */
  def embeddingNearDupPairsMetered(
      df: DataFrame, idCol: String, vecCol: String, dim: Int,
      minCosine: Double = 0.95, nBits: Int = -1, nChunks: Int = 3,
      maxBucketSize: Int = 10000, targetBucketSize: Int = 16): CappedPairs = {
    import graft.functions.VectorFunctions._
    // only (id, vector) is cached — the signature is consumed by the
    // single banding branch below, so caching it would waste memory
    val vecs = graft.sources.Tables.widen(df)
      .select(col(idCol).as("_id"), col(vecCol).as("_v"))
      .persist()
    val n = vecs.count() // eager cache + the corpus size that tunes banding
    val chunkBits =
      if (nBits > 0) { require(nBits % nChunks == 0, "nChunks must divide nBits"); nBits / nChunks }
      else math.min(15, math.max(4, math.ceil(
        math.log(math.max(n, 1).toDouble / targetBucketSize) / math.log(2)).toInt))
    val bits = chunkBits * nChunks
    require(bits <= 63, s"signature must fit a long (got $bits bits)")
    val mask = (1L << chunkBits) - 1
    try {
      val banded = vecs
        .withColumn("_sig", lshSignature(col("_v"), bits, dim))
        .select(col("_id"),
          posexplode(array((0 until nChunks).map(c =>
            shiftrightunsigned(col("_sig"), c * chunkBits).bitwiseAND(lit(mask))): _*))
            .as(Seq("chunk_idx", "chunk_val")))
      val cp = cappedBandPairs(banded, Seq("chunk_idx", "chunk_val"), maxBucketSize)
      val vA = vecs.select(col("_id").as("id_a"), col("_v").as("_va"))
      val vB = vecs.select(col("_id").as("id_b"), col("_v").as("_vb"))
      val verified = cp.pairs.join(vA, "id_a").join(vB, "id_b")
        .withColumn("cosine", cosine(col("_va"), col("_vb")))
        // star pairs pass unconditionally — component preservation, see
        // the [[cappedBandPairs]] contract
        .filter(col("cosine") >= minCosine || col("is_star"))
        .select(col("id_a"), col("id_b"), col("cosine"), col("is_star"))
        .localCheckpoint(true)
      CappedPairs(verified, cp.cappedBucketCount)
    } finally vecs.unpersist()
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): cluster the embedding corpus with the
    * deterministic distributed k-means the IVF index uses
    * ([[graft.operators.Similarity.fitCentroids]]), then prune
    * within-cluster semantic duplicates — a member is dropped when a
    * LOWER-id member of its own cluster is within `minCosine` of it.
    * Returns the surviving (idCol, centroid_id) rows.
    *
    * Semantics are fully deterministic (the paper keeps a random
    * exemplar; this keeps the id-minimum): drop m iff ∃ dominator d in
    * m's cluster with d.id < m.id, rank(d) ≤ `maxDominators` under the
    * per-cluster id order, and cos(d, m) ≥ `minCosine`. The dominator
    * cap bounds the pairwise work at |cluster| × K instead of
    * |cluster|² — the standard SemDeDup practice of capping cluster
    * comparison cost — and because the cap is the K LOWEST ids (via
    * [[graft.plans.TopKPerKey]]'s map-side heaps, never a full-sort
    * window), the kept set is well-defined and any engine can replay
    * it. Members past the cap can still BE dropped (every member is
    * tested against the dominators); they just can't drop others.
    * Greedy chains collapse toward the minimum: a dropped dominator
    * still dominates — one pass, no iteration, unlike
    * [[connectedComponents]]' exact transitive closure. Zero vectors
    * (NULL cosine) never match: they all survive.
    *
    * Scale shape: one k-means fit + one assignment over the corpus
    * (both through [[graft.operators.Similarity.rankCentroids]]: the
    * centroids ride one broadcast row, the corpus never shuffles for
    * them), then a join of the corpus against
    * nlist × K dominator rows, left to the planner: a broadcast while
    * that side is small, otherwise a keyed exchange on centroid_id (the
    * corpus crosses once; per-key dominator fanout is ≤ K by
    * construction, so the join output is ≤ K-amplified and filtered
    * immediately). The cosine verification is the codegen'd
    * index-order fold ([[graft.functions.VectorFunctions.cosine]]),
    * bit-replayable by the q91 DuckDB oracle.
    */
  def semanticDedup(
      corpus: DataFrame, idCol: String, vecCol: String,
      minCosine: Double = 0.95,
      nlist: Int = 8, iters: Int = 1,
      maxDominators: Int = 48): DataFrame = {
    require(maxDominators > 0, s"maxDominators must be positive: $maxDominators")
    val vecs = graft.sources.Tables.widen(corpus)
      .select(col(idCol), col(vecCol)).persist()
    try {
      val cents = Similarity.fitCentroids(vecs, idCol, vecCol, nlist, iters)
      // fit + assignment run once; the pair join reads the result from
      // both sides, so pin it (small: id, centroid, vector per row)
      val assigned = Similarity.assignToCentroid(vecs, cents, idCol, vecCol, "_id")
        .localCheckpoint(true)
      val dominators = graft.plans.TopKPerKey.topKPerKey(
          assigned, keys = Seq(col("centroid_id")),
          order = Seq(col("_id").asc), k = maxDominators)
        .select(col("centroid_id"), col("_id").as("_did"), col("_cv").as("_dv"))
      val doomed = assigned
        .join(dominators, Seq("centroid_id"))
        .filter(col("_did") < col("_id") &&
          graft.functions.VectorFunctions.cosine(col("_dv"), col("_cv")) >= minCosine)
        .select(col("_id")).distinct()
      assigned.join(doomed, Seq("_id"), "left_anti")
        .select(col("_id").as(idCol), col("centroid_id"))
    } finally vecs.unpersist()
  }

  /** Fuzzy benchmark decontamination — the near-duplicate upgrade of
    * [[TextAnalysis.flagContaminated]]'s verbatim n-gram check: flag
    * every training document whose shingle-set Jaccard against ANY
    * eval document reaches `minJaccardNum / minJaccardDen` — catching
    * paraphrase-level leakage (an eval item with a few edits) that an
    * exact substring test misses.
    *
    * The threshold is a RATIONAL: the verification predicate is the
    * integer comparison den·|∩| ≥ num·(|a| + |b| − |∩|) — no floating
    * point anywhere in the decision, so any engine computing exact
    * shingle overlaps reproduces the flag set bit-for-bit (q90's
    * oracle replays it over the exact inverted index in SQL).
    *
    * Scale shape: the eval suite is tiny next to a 100 TB corpus, so
    * BOTH eval-side frames broadcast — band keys for candidate
    * generation and shingle sets for verification. The training side
    * is a single pass: shingle → sign → broadcast-join → merge-walk
    * overlap ([[graft.expressions.SortedOverlapExpression]]) → one
    * count-sized groupBy on the flagged ids. Training content never
    * shuffles. Recall: band collision is probabilistic in general,
    * but contamination means HIGH Jaccard (≥ 0.6 here), where the
    * 24-band/4-row scheme's miss probability is ≤ (1−j⁴)²⁴ — under
    * 1e-4 at j = 0.75 and effectively zero at the j ≥ 0.9 of a
    * lightly-edited eval copy; exact-copy leakage collides with
    * certainty (identical signatures).
    *
    * Returns (id, n_eval_matches), one row per contaminated training
    * document, ordered by id.
    */
  def flagFuzzyContaminated(
      train: DataFrame, idCol: String, textCol: String,
      eval: DataFrame, evalIdCol: String, evalTextCol: String,
      minJaccardNum: Int = 6, minJaccardDen: Int = 10,
      shingleSize: Int = 7, numHashes: Int = 96, bands: Int = 24): DataFrame = {
    require(minJaccardNum > 0 && minJaccardDen >= minJaccardNum,
      s"threshold must be a rational in (0,1]: $minJaccardNum/$minJaccardDen")
    require(numHashes % bands == 0, s"bands must divide numHashes")
    val rows = numHashes / bands
    // same recipe as [[shingleBands]]: codegen signature + band keys
    // (the interpreted HOF pair measured ~70× slower here), signature
    // materialized as its own column, frame persisted because the
    // plan reads it from BOTH the candidate and verification branches
    def prep(df: DataFrame, id: String, text: String, outId: String) =
      graft.sources.Tables.widen(df)
        .filter(ShingleSetExpression.hasShingles(col(text), shingleSize))
        .select(col(id).as(outId),
          ShingleSetExpression.shingleSet(col(text), shingleSize).as("_sh"))
        .withColumn("_sig", graft.expressions.MinHashSignatureExpression
          .minhashSignatureNative(col("_sh"), numHashes))
        .withColumn("_bands", graft.expressions.BandKeysExpression
          .bandKeysNative(col("_sig"), bands, rows))
        .select(col(outId), col("_sh"), col("_bands"))
        .persist()
    val trainSh = prep(train, idCol, textCol, "_tid")
    val evalSh = prep(eval, evalIdCol, evalTextCol, "_eid")
    try {
      val trainBands = trainSh.select(col("_tid"),
        posexplode(col("_bands")).as(Seq("band_idx", "band_key")))
      val evalBands = evalSh.select(col("_eid"),
        posexplode(col("_bands")).as(Seq("band_idx", "band_key")))
      val cands = trainBands
        .join(broadcast(evalBands), Seq("band_idx", "band_key"))
        .select(col("_tid"), col("_eid")).distinct()
      val overlap = graft.expressions.SortedOverlapExpression
        .sortedOverlap(col("_sh_a"), col("_sh_b"))
      // verification joins broadcast BOTH small sides (candidate id
      // pairs are bounded by actual contamination; eval shingles are
      // the eval suite) — the train-side shingle arrays never cross an
      // exchange on this path either
      trainSh.select(col("_tid"), col("_sh").as("_sh_a"))
        .join(broadcast(cands), "_tid")
        .join(broadcast(evalSh.select(col("_eid"), col("_sh").as("_sh_b"))), "_eid")
        .withColumn("_ov", overlap)
        .filter(lit(minJaccardDen.toLong) * col("_ov") >=
          lit(minJaccardNum.toLong) *
            (size(col("_sh_a")) + size(col("_sh_b")) - col("_ov")))
        .groupBy(col("_tid"))
        .agg(count(lit(1)).as("n_eval_matches"))
        .withColumnRenamed("_tid", idCol)
        .orderBy(idCol)
        .localCheckpoint(true)
    } finally { trainSh.unpersist(); evalSh.unpersist() }
  }

  /** EXACT n-gram Jaccard similarity self-join via AllPairs prefix
    * filtering (Bayardo et al., WWW'07; the equi-join skeleton of
    * PPJoin) — the lossless counterpart of the MinHash/SimHash
    * near-dup family above: every pair at Jaccard ≥ num/den is
    * returned, none missed, no probabilistic recall bound to argue
    * about.
    *
    * Recipe. Shingle each document into its distinct character
    * n-gram set, but carry every shingle as a 60-bit md5-derived
    * token (`md5Hash60`) from the moment it is born: a fixed-width
    * BIGINT DuckDB computes bit-identically, so (a) no exchange on
    * this path ever carries raw document text, (b) any hash collision
    * collapses the same two grams in BOTH engines — cross-engine
    * parity is unconditional — and (c) the verification merge walk
    * compares primitives, not 32-char strings, at 4× less exchange
    * payload. Rank tokens by global document frequency (ties by token
    * value — a total order, tokens are distinct within a document):
    * under any fixed global order, two sets with Jaccard ≥ t must
    * share a token within their first |s| − ⌈t·|s|⌉ + 1 tokens (if
    * a's prefix misses b entirely, the ≤ |a| − p_a tokens after the
    * prefix bound the overlap below the threshold). So: emit only
    * prefix tokens, equi-join prefixes on the token
    * (frequency-ascending order makes prefix tokens the RARE ones —
    * that choice, not the join, is what bounds candidates),
    * size-filter (J ≤ min/max ⇒ den·min ≥ num·max), POSITION-filter
    * (PPJoin, Xiao et al., WWW'08: a pair whose matching token sits
    * at ranks (i, j) can reach overlap at most
    * 1 + min(na − i, nb − j) + (shared tokens strictly before i and
    * j); for the FIRST shared token that last term is zero, and
    * J ≥ num/den needs (num+den)·ov ≥ num·(na+nb), so an edge with
    * (num+den)·(1 + min(na − i, nb − j)) < num·(na+nb) can be
    * dropped — every true pair survives through its first-shared-
    * token edge, measured 3× candidate reduction at sf0.1), then
    * verify each surviving candidate pair with the exact merge-walk
    * intersection ([[graft.expressions.SortedOverlapExpression]])
    * and the pure integer predicate den·ov ≥ num·(na + nb − ov).
    *
    * Scale shape: the df table is vocabulary-bounded with map-side
    * combine; the rank step shuffles (id, token-hash, df) triples
    * once, partitioned by id; the candidate join's BOTH sides are
    * prefix-sized (≈ (1−t)·corpus tokens) and keyed on rare tokens by
    * construction; verification joins candidate-pair-bounded frames
    * against the shingle-set frame keyed on the single id column.
    * Raw text never crosses an exchange anywhere — only md5 tokens
    * and ids. Versus LSH (q21): no false negatives by construction,
    * at the cost of the df-rank pass; this is the shape for
    * contractual dedup (takedown compliance, eval decontamination
    * audits) where "probably caught it" is not a spec.
    *
    * Returns (doc_a, doc_b, overlap_sz, size_a, size_b) for every
    * unordered pair doc_a < doc_b with shingle Jaccard ≥ num/den,
    * ordered by (doc_a, doc_b).
    */
  def exactJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      minJaccardNum: Int, minJaccardDen: Int,
      shingleSize: Int = 7): DataFrame = {
    require(minJaccardNum > 0 && minJaccardDen >= minJaccardNum,
      s"threshold must be a rational in (0,1]: $minJaccardNum/$minJaccardDen")
    val num = lit(minJaccardNum.toLong)
    val den = lit(minJaccardDen.toLong)
    // distinct md5 shingle set, sorted once for the merge-walk; kept
    // per-doc and read from the rank, candidate, and BOTH verify
    // branches → persist for the operator's lifetime (same lifecycle
    // contract as the LSH operators above)
    val sh = graft.sources.Tables.widen(df)
      .filter(ShingleSetExpression.hasShingles(col(textCol), shingleSize))
      .select(col(idCol).as("_id"),
        array_sort(array_distinct(transform(
          graft.functions.TextFunctions.charNGrams(col(textCol), shingleSize),
          g => graft.functions.TextFunctions.md5Hash60(g)))).as("_sh"))
      .withColumn("_n", size(col("_sh")).cast(LongType))
      .persist()
    try {
      val tok = sh.select(col("_id"), col("_n"), explode(col("_sh")).as("_g"))
      val dfreq = tok.groupBy(col("_g")).agg(count(lit(1)).as("_df"))
      // prefix length p = n − ⌈t·n⌉ + 1, in integer arithmetic:
      // ⌈num·n/den⌉ = (num·n + den − 1) div den — `div`, not `/`,
      // which is fractional division on BIGINT in Spark SQL
      val p = expr(s"_n - ((${minJaccardNum.toLong} * _n + " +
        s"${minJaccardDen.toLong - 1}) div ${minJaccardDen.toLong}) + 1")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("_id")).orderBy(col("_df"), col("_g"))
      val prefixes = tok.join(dfreq, Seq("_g"))
        .withColumn("_rn", row_number().over(w).cast(LongType))
        .filter(col("_rn") <= p)
        .select(col("_g"), col("_id"), col("_n"), col("_rn"))
      // The prefix join's exchange rows are ~32-byte probes that each
      // expand into an O(prefix-bucket) run of pairs — CPU-dense and
      // byte-light, the shape AQE's byte-targeted coalescing
      // under-parallelizes (measured: the prefix join + distinct stage
      // coalesced 32 → 10 partitions at sf0.1, 1.05 s wall on 32 idle
      // cores). A by-number repartition on the token keeps the session
      // partition count for the join: AQE never coalesces it, and both
      // join sides reuse the one exchange.
      val spark = df.sparkSession
      val sessParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val keyedPrefixes = prefixes.repartition(sessParts, col("_g"))
      val cands = keyedPrefixes.as("a")
        .join(keyedPrefixes.as("b"),
          col("a._g") === col("b._g") && col("a._id") < col("b._id") &&
            den * least(col("a._n"), col("b._n")) >=
              num * greatest(col("a._n"), col("b._n")) &&
            (num + den) * (lit(1L) + least(col("a._n") - col("a._rn"),
              col("b._n") - col("b._rn"))) >=
              num * (col("a._n") + col("b._n")))
        .select(col("a._id").as("_ida"), col("b._id").as("_idb"),
          col("a._n").as("_na"), col("b._n").as("_nb"))
        .distinct()
      val ov = graft.expressions.SortedOverlapExpression
        .sortedOverlap(col("_sha"), col("_shb")).cast(LongType)
      // Size the verify joins from the candidate checkpoint's own
      // observe() metrics: each surviving pair carries BOTH sorted
      // shingle arrays (8 B per token), so at a fixed partition count
      // the per-partition payload grows with the corpus until it
      // spill-thrashes (round-9 sf3 sweep: 3× the data took ~10× the
      // time at 32 fixed partitions; a global 8× initial-partition bump
      // regressed the graph family instead — stage-local sizing is the
      // correct shape).
      val obs = org.apache.spark.sql.Observation()
      val candsMat = cands
        .observe(obs, count(lit(1)).as("pairs"),
          coalesce(sum(col("_na") + col("_nb")), lit(0L)).as("tokens"))
        .localCheckpoint(true)
      val verifyBytes = obs.get("tokens").asInstanceOf[Long] * 8 +
        obs.get("pairs").asInstanceOf[Long] * 64
      // 256 MB of verify payload per task, capped at 8× the cluster
      // parallelism: below the cap the count is bytes-driven (the
      // spill fix); the cap keeps mapper×reducer shuffle-segment
      // fan-out bounded (the sf3 A/B measured 1420 partitions SLOWER
      // than 256 on 32 cores — segment I/O, not spill, dominates past
      // ~8× parallelism; a 1000-executor cluster's cap is ~64k, i.e.
      // effectively bytes-driven)
      val targetPartBytes = 256L << 20
      val parallelismCap = spark.sparkContext.defaultParallelism * 8
      val verifyParts = math.min(parallelismCap,
        math.max(sessParts, (verifyBytes / targetPartBytes).toInt))
      // One by-number repartition of the (id, id, size, size) pairs
      // spreads the merge walks over verifyParts tasks whether the
      // planner broadcasts the shingle frame or shuffles it to match
      // (AQE never coalesces a by-number repartition). A second one on
      // _idb would ship every pair's _sha array through an exchange the
      // broadcast plan does not need (measured +15 % on q112 at sf0.1);
      // the _idb join's own exchange, if the planner adds one, is
      // sized by AQE.
      candsMat.repartition(verifyParts, col("_ida"))
        .join(sh.select(col("_id").as("_ida"), col("_sh").as("_sha")), Seq("_ida"))
        .join(sh.select(col("_id").as("_idb"), col("_sh").as("_shb")), Seq("_idb"))
        .withColumn("_ov", ov)
        .filter(den * col("_ov") >= num * (col("_na") + col("_nb") - col("_ov")))
        .select(col("_ida").as("doc_a"), col("_idb").as("doc_b"),
          col("_ov").as("overlap_sz"), col("_na").as("size_a"),
          col("_nb").as("size_b"))
        .orderBy(col("doc_a"), col("doc_b"))
        .localCheckpoint(true)
    } finally { sh.unpersist() }
  }
}
