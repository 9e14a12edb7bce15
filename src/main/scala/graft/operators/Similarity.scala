package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VectorFunctions._
import graft.plans.Checkpoints

/** Approximate-nearest-neighbor search over embedding columns
  * (BASELINE.json north star). Three tiers:
  *
  *  1. [[bruteForceTopK]] — exact, O(|queries|·n): the correctness
  *     baseline; right answer at any scale where |queries| is small.
  *  2. [[lshTopK]] — random-hyperplane bucket candidates + exact
  *     re-rank: the 10⁹-vector scale path (shuffle on signature only).
  *  3. [[ivfTopK]] — inverted-file: coarse centroids, probe the nearest
  *     `nprobe` lists; centroid assignment is a zero-shuffle projection
  *     against collected centroid literals.
  */
object Similarity {

  /** Exact cosine top-k: broadcast the (small) query side, cross-join
    * against the corpus, per-query window top-k.
    * Scale: corpus side never shuffles for the join (broadcast-nested-
    * loop); the only shuffle is the final window by query id, bounded by
    * |queries|·n candidate rows — prune first when n is huge (LSH/IVF).
    */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    // widen: the broadcast-NLJ streams the corpus side, so its scan
    // partitioning IS the scoring parallelism — a one-file bench-scale
    // corpus would score every pair on one core; no-op at real scale
    val c = graft.sources.Tables.widen(corpus).select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cosine"), asc("neighbor_id"))
    c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("_qv"), col("_cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Decimal-exact inner-product top-k (oracle-comparable variant:
    * engine-exact arithmetic, deterministic ranking).
    */
  def dotTopKExact(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    // widen: broadcast-NLJ streamed side (see bruteForceTopK)
    val c = graft.sources.Tables.widen(corpus).select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("dot"), asc("neighbor_id"))
    c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("dot", dotExact(col("_qv"), col("_cv")))
      .withColumn("rank", row_number().over(w).cast(IntegerType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("dot"), col("rank"))
  }

  /** LSH-bucketed ANN: candidates = corpus vectors whose signature is
    * within hamming distance `multiProbeBits` of the query signature
    * (query-side probe expansion — the corpus is bucketed once on exact
    * signatures and never re-bucketed), re-ranked exactly.
    *
    * Recall/latency tradeoff is explicit: more bits → smaller buckets,
    * lower recall; multi-probe recovers recall without rebucketing.
    */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      dim: Int, nBits: Int = 12, multiProbeBits: Int = 1): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"))
      .withColumn("_sig", lshSignature(col("_cv"), nBits, dim))
    // query probes: own signature + every signature within hamming
    // distance `multiProbeBits` (multi-probe LSH). The XOR masks — all
    // bit subsets of size 1..multiProbeBits — are enumerated driver-side
    // (static per (nBits, radius)); probe count is Σ C(nBits, r), so
    // radius 2 at 12 bits = 79 probes, radius 3 = 299. Distinct nonzero
    // masks give distinct probes, so no dedup pass is needed here.
    val probes: Column = {
      val base = lshSignature(col("_qv"), nBits, dim)
      val masks: Seq[Long] = 0L +: (1 to multiProbeBits).flatMap(r =>
        (0 until nBits).combinations(r).map(_.map(i => 1L << i).reduce(_ | _)).toSeq)
      array(masks.map(m => if (m == 0L) base else base.bitwiseXOR(lit(m))): _*)
    }
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv"))
      .withColumn("_probe", explode(probes))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cosine"), asc("neighbor_id"))
    // multi-probe can match the same (query, neighbor) via several
    // probes: dedup on the ID PAIR ONLY (8-byte shuffle rows), then
    // join the two vector payloads back for the exact re-rank — a
    // distinct over rows still carrying both embedding arrays would
    // shuffle the full vector payloads
    val candidateIds =
      c.join(q.select(col("query_id"), col("_probe")),
          col("_sig") === col("_probe") && col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"))
        .distinct()
    candidateIds
      .join(queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv")), "query_id")
      .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv")), "neighbor_id")
      .withColumn("cosine", cosine(col("_qv"), col("_cv")))
      .withColumn("rank", row_number().over(w).cast(IntegerType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** IVF (inverted-file) ANN: coarse-quantize the corpus onto `nlist`
    * deterministic centroids (sampled by id — at scale, a k-means fit
    * would run once offline), then search only the `nprobe` nearest
    * lists per query.
    *
    * Scale: centroid assignment is a zero-shuffle per-row projection
    * ([[assignNearest]]); the persisted form (partitioned by
    * `centroid_id`) means a query touches nprobe/nlist of the corpus.
    */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nlist: Int = 16, nprobe: Int = 4, refineIters: Int = 0,
      literalCellBudget: Int = maxLiteralCells): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cosine"), asc("neighbor_id"))
    ivfCandidates(corpus, queries, idCol, vecCol, nlist, nprobe,
      refineIters, literalCellBudget)
      .withColumn("rank", row_number().over(w).cast(IntegerType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** The probed IVF candidate pool WITHOUT the top-k cut:
    * (query_id, neighbor_id, cosine) for every corpus vector living in
    * one of the query's `nprobe` nearest lists. This is the pluggable
    * CANDIDATE ARM for operators whose semantics are defined over a
    * candidate pool rather than a fixed top-k — semi-hard negative
    * mining ([[Selection.hardNegativesIvf]]) filters the pool by a
    * per-anchor ceiling BEFORE ranking, so a pre-cut top-k arm would
    * return fewer than k survivors. At `nprobe = nlist` the pool is
    * exactly the brute-force pair set (minus self-pairs), making the
    * consumer bit-identical to its exact arm — the q65/q235b oracle
    * discipline.
    *
    * Scale: candidate volume is |queries|·nprobe·(n/nlist) rows instead
    * of |queries|·n; under the standing nlist ≈ √N rule the downstream
    * per-query work drops from quadratic to N^1.5.
    */
  def ivfCandidates(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String,
      nlist: Int = 16, nprobe: Int = 4, refineIters: Int = 0,
      literalCellBudget: Int = maxLiteralCells): DataFrame = {
    // deterministic centroid sample via TakeOrderedAndProject
    // (per-partition top-nlist heaps + driver merge of nlist·P rows).
    // A row_number() over a global Window.orderBy here would funnel
    // the ENTIRE corpus through one partition — fatal at scale.
    // refineIters > 0 runs the deterministic k-means fit instead
    // ([[fitCentroids]]) — better-balanced lists, same contract.
    val centroids =
      if (refineIters > 0)
        fitCentroids(corpus, idCol, vecCol, nlist, refineIters, literalCellBudget)
      else centroidSample(corpus, idCol, vecCol, nlist)

    // widen: the list-probe join streams the assigned corpus side —
    // its scan partitioning is the candidate-scoring parallelism
    val assigned = assignToCentroid(graft.sources.Tables.widen(corpus), centroids, idCol, vecCol,
      "neighbor_id", literalCellBudget)
    val probed = assignToCentroids(queries, centroids, idCol, vecCol, "query_id", nprobe)

    assigned.join(probed, Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("_qv"), col("_cv")))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
  }

  /** Persist the IVF index: centroids plus the corpus assignment,
    * written `partitionBy(centroid_id)` — the layout that makes the
    * "query touches nprobe/nlist of the corpus" claim physical: a
    * probe-filtered read PRUNES PARTITION DIRECTORIES (visible as
    * `PartitionFilters` in the scan), it does not scan-and-discard.
    * The assignment is the one-off offline cost; queries amortize it.
    */
  def writeIvfIndex(
      corpus: DataFrame, path: String,
      idCol: String, vecCol: String, nlist: Int = 16,
      refineIters: Int = 0,
      literalCellBudget: Int = maxLiteralCells): Unit = {
    val centroids =
      if (refineIters > 0)
        fitCentroids(corpus, idCol, vecCol, nlist, refineIters, literalCellBudget)
      else centroidSample(corpus, idCol, vecCol, nlist)
    centroids.write.mode("overwrite").parquet(s"$path/centroids")
    assignToCentroid(corpus, centroids, idCol, vecCol, "neighbor_id",
      literalCellBudget)
      .select(col("neighbor_id"), col("_cv").as("embedding"), col("centroid_id"))
      .write.mode("overwrite").partitionBy("centroid_id")
      .parquet(s"$path/index")
    // shared index manifest (round 10): record what was unrecorded —
    // nlist/refine_iters for rebuild audits, n_vectors as the
    // freshness counter the append path bumps
    graft.sinks.Pruning.writeIndexMeta(corpus.sparkSession, path,
      graft.sinks.Pruning.IndexMeta("ivf", "centroid_id", Map(
        "nlist" -> nlist.toLong, "refine_iters" -> refineIters.toLong,
        "n_vectors" -> corpus.count())))
  }

  /** Append new vectors to a persisted IVF index WITHOUT touching the
    * existing entries: the centroids are read back and pinned (never
    * recomputed — recall characteristics drift with the corpus, but
    * re-clustering is an explicit offline rebuild decision, not an
    * ingest side effect), the new batch is assigned to those pinned
    * centroids with the same literal/aggregate regime auto-switch as
    * the initial build, and the assignments land as NEW files inside
    * the existing `centroid_id=` partition directories (parquet
    * append — existing files are never rewritten). Readers
    * ([[ivfTopKFromIndex]]) are transparent: partition pruning sees
    * one directory per probed centroid regardless of how many append
    * batches produced it. Append cost is one assignment projection
    * over the batch — the index's existing bulk is untouched, the
    * ANN sibling of the MinHash incremental-index append (q60).
    */
  def appendToIvfIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      newVectors: DataFrame, idCol: String, vecCol: String,
      literalCellBudget: Int = maxLiteralCells): Unit = {
    val centroids = graft.sources.Tables.read(spark, s"$path/centroids")
    assignToCentroid(newVectors, centroids, idCol, vecCol, "neighbor_id",
      literalCellBudget)
      .select(col("neighbor_id"), col("_cv").as("embedding"), col("centroid_id"))
      .write.mode("append").partitionBy("centroid_id")
      .parquet(s"$path/index")
    // data append and counter bump are two steps: a crash between them
    // (the FaultInjection point) leaves n_vectors UNDERSTATING the
    // index — benign by design, since probes read the data directly
    // and never gate on the freshness counter (FaultInjectionSpec
    // proves the probe stays exact across that window)
    graft.sinks.FaultInjection.point("appendToIvfIndex:appended")
    graft.sinks.Pruning.bumpIndexMeta(spark, path,
      Map("n_vectors" -> newVectors.count()))
  }

  /** ANN search against a persisted IVF index: assign queries to their
    * `nprobe` nearest centroids, then read ONLY those index partitions
    * (the probed centroid set is ≤ nlist ids — a bounded driver-side
    * literal that becomes a partition-pruning filter) and re-rank
    * exactly. Same result contract as [[ivfTopK]] with the same
    * (nlist, nprobe); the difference is the corpus assignment is read,
    * not recomputed.
    */
  def ivfTopKFromIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nprobe: Int = 4): DataFrame = {
    // manifest handshake (lenient on pre-manifest artifacts): a
    // non-IVF index probed here fails fast instead of mis-reading
    graft.sinks.Pruning.requireIndexParams(spark, path, "ivf", Map.empty)
    val centroids = graft.sources.Tables.read(spark, s"$path/centroids")
    // materialized once: both the centroid-id collect below AND the
    // final join read `probed` — unchecked, the scoring projection
    // (nlist cosines per query row) would execute twice
    val probed = assignToCentroids(queries, centroids, idCol, vecCol, "query_id", nprobe)
      .localCheckpoint(true)
    // bounded collect: distinct probed centroids ≤ nlist (a handful of
    // longs) — the literal IN-list is what turns into PartitionFilters
    // getAs[Number]: the centroid id inherits the corpus id column's
    // type — an IntegerType corpus writes INT32 centroid ids, which a
    // getLong would reject with a ClassCastException at query time
    val probedCentroids = probed.select(col("centroid_id"))
      .distinct().collect().map(_.getAs[Number](0).longValue).toSeq
    val index = graft.sources.Tables.read(spark, s"$path/index")
      .filter(col("centroid_id").isin(probedCentroids: _*))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cosine"), asc("neighbor_id"))
    index.join(probed, Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("_qv"), col("embedding")))
      .withColumn("rank", row_number().over(w).cast(IntegerType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Deterministic centroid sample shared by [[ivfTopK]] and
    * [[writeIvfIndex]]: the nlist lowest-id vectors via
    * TakeOrderedAndProject (never a global window).
    */
  private def centroidSample(
      corpus: DataFrame, idCol: String, vecCol: String, nlist: Int): DataFrame =
    corpus
      .select(col(idCol).as("centroid_id"), col(vecCol).as("_centroid"))
      .orderBy(col("centroid_id"))
      .limit(nlist)

  /** Deterministic distributed k-means (Lloyd) refinement for IVF
    * centroids — the offline fit [[ivfTopK]]'s scaladoc defers to.
    * Seeds from [[centroidSample]], then per iteration: assign every
    * corpus vector to its nearest centroid (the same two-regime
    * assignment the index build uses — zero-shuffle literal projection
    * or min_by aggregation, never a window) and recompute each
    * centroid as its list's per-dimension mean. Returns
    * (centroid_id, _centroid) with the seed ids as stable labels,
    * ready to feed an index build; empty lists keep their previous
    * centroid (standard Lloyd handling).
    *
    * DETERMINISM is load-bearing: a plain `avg(double)` folds in
    * partial-aggregation order and yields different centroids run to
    * run — a rebuilt index would silently re-bucket. The means here
    * use decimal-exact sums (the `graft.queries.Det` discipline):
    * decimal addition is associative, so the fit is bit-stable for a
    * given corpus regardless of partitioning. A spec asserts two runs
    * produce identical centroids and that refinement does not worsen
    * mean assignment cosine.
    *
    * Scale shape per iteration: one assignment pass, then a
    * per-dimension aggregation — `posexplode` amplifies rows ×dim but
    * hash partial aggregation collapses them to ≤ nlist × dim rows per
    * task before the exchange, the standard distributed-k-means
    * profile. The centroid means themselves (nlist × dim cells) are
    * driver-bounded by the same budget the assignment uses.
    */
  def fitCentroids(
      corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 16, iters: Int = 2,
      literalCellBudget: Int = maxLiteralCells): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val elemType = corpus.schema(vecCol).dataType match {
      case ArrayType(t, _) => t
      case t => throw new IllegalArgumentException(s"$vecCol is not a vector: $t")
    }
    var centroids = centroidSample(corpus, idCol, vecCol, nlist)
      .localCheckpoint(true)
    for (_ <- 0 until iters) {
      val assigned =
        assignToCentroid(corpus, centroids, idCol, vecCol, "_kid",
          literalCellBudget)
      // per-(centroid, dimension) exact-decimal mean: associative sum,
      // one final double division — order-independent, bit-stable
      val dimMeans = assigned
        .select(col("centroid_id"), posexplode(col("_cv")).as(Seq("_pos", "_x")))
        .groupBy(col("centroid_id"), col("_pos"))
        .agg((sum(col("_x").cast(DecimalType(28, 8))).cast(DoubleType) /
          count(lit(1))).as("_m"))
      val refit = dimMeans
        .groupBy(col("centroid_id"))
        .agg(array_sort(collect_list(struct(col("_pos").as("p"), col("_m").as("m"))))
          .as("_pm"))
        .select(col("centroid_id"),
          transform(col("_pm"), x => x.getField("m").cast(elemType)).as("_refit"))
      // empty lists vanish from `refit`: keep their previous centroid
      centroids = centroids
        .join(refit, Seq("centroid_id"), "left")
        .select(col("centroid_id"),
          coalesce(col("_refit"), col("_centroid")).as("_centroid"))
        .localCheckpoint(true)
    }
    centroids
  }

  private[graft] def assignToCentroid(
      df: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, outId: String,
      literalCellBudget: Int = maxLiteralCells): DataFrame =
    assignNearest(df, centroids, idCol, vecCol, outId, "_cv", nprobe = 1,
      literalCellBudget)

  private[graft] def assignToCentroids(
      df: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, outId: String, nprobe: Int): DataFrame =
    assignNearest(df, centroids, idCol, vecCol, outId, "_qv", nprobe)

  /** Nearest-centroid assignment (shared by the index build and the
    * query probe), two regimes:
    *
    * **Literal regime** (nlist × dim ≤ [[maxLiteralCells]], the normal
    * IVF shape at test and mid scale): the ≤`nlist` centroids are
    * collected — they are `orderBy.limit(nlist)` driver-sized by
    * construction — and each row's `nprobe` nearest centroids come out
    * of ONE native projection: score every centroid literal, sort the
    * scored array, keep the first `nprobe`, explode. ZERO shuffle: the
    * build plan is scan → projection → write (PlanShapeSpec asserts no
    * Exchange at all).
    *
    * **Aggregate regime** (huge indexes — a 10⁹-vector corpus wants
    * nlist ~3·10⁴, and 3·10⁴ × dim literals would blow plan/codegen
    * limits): broadcast-join the centroid table, score per (row,
    * centroid) MAP-SIDE, and reduce to the argmin with a `min_by`
    * aggregation — partial aggregation collapses the nlist-amplified
    * scored rows inside each task, so the exchange carries the corpus
    * exactly ONCE (payload included, un-amplified). Never the window
    * formulation this module dropped in r6, whose exchange was
    * nlist-amplified. Only the nprobe = 1 (corpus-assignment) case can
    * take this path; the probe side is query-sized and always fits the
    * literal regime.
    *
    * Tie-break parity across both regimes and with the window they
    * replace (`row_number over (desc(_sim), asc(centroid_id))`): the
    * ordering key is the struct (negated cosine, centroid_id) —
    * lexicographic struct ordering gives cosine desc then id asc —
    * with NULL cosine (zero vectors) mapped to Double.MaxValue,
    * matching desc-nulls-last. NaN/Inf vector ELEMENTS are
    * unsupported: a NaN cosine sorts LAST here (both regimes agree),
    * whereas the pre-r6 window's `desc(_sim)` sorted NaN first and
    * would have crowned the NaN centroid nearest — behavior not worth
    * reproducing. Sanitize embeddings upstream; the parity contract
    * covers finite and zero/NULL vectors only.
    *
    * `literalCellBudget` (r7) injects the regime threshold so the
    * aggregate path — the one that actually runs at 10⁹-vector scale —
    * is exercisable on the cross-engine oracle gate (q65b forces it
    * with budget 1) and in plan-shape CI, not just in regime-parity
    * specs. Production callers leave the default.
    */
  private def assignNearest(
      df: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, outId: String, vecOut: String,
      nprobe: Int, literalCellBudget: Int = maxLiteralCells): DataFrame = {
    val nlist = centroids.limit(maxLiteralCells + 1).count()
    require(nlist > 0, "assignNearest: empty centroid set")
    val dim = centroids.select(size(col("_centroid"))).head().getInt(0)
    if (nlist * dim <= literalCellBudget)
      assignNearestLiteral(df, centroids, idCol, vecCol, outId, vecOut, nprobe)
    else {
      require(nprobe == 1,
        s"assignNearest: nlist=$nlist x dim=$dim exceeds the literal-plan budget " +
          s"($maxLiteralCells cells) and the aggregate path supports nprobe=1 only " +
          "(corpus assignment); probe query batches with <= budget-sized centroid sets")
      assignNearestAgg(df, centroids, idCol, vecCol, outId, vecOut)
    }
  }

  /** Plan-size budget for embedding centroids as literals: ~256k cells
    * ≈ 2 MB of doubles in the plan — well under codegen/proto limits,
    * far above any test fixture.
    */
  private[graft] val maxLiteralCells = 1 << 18

  private[graft] def assignNearestLiteral(
      df: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, outId: String, vecOut: String,
      nprobe: Int): DataFrame = {
    // bounded collect: ≤ nlist rows, each one centroid id + one vector
    val vecType = centroids.schema("_centroid").dataType
    val cents = centroids.select(col("centroid_id"), col("_centroid")).collect()
    val scored = cents.map { r =>
      val cvec: Column = vecType match {
        case ArrayType(FloatType, _)  => typedlit(r.getSeq[Float](1))
        case ArrayType(DoubleType, _) => typedlit(r.getSeq[Double](1))
        case t => throw new IllegalArgumentException(
          s"assignNearest: unsupported vector type $t")
      }
      val sim = cosine(col(vecOut), cvec)
      struct(
        when(sim.isNull, lit(Double.MaxValue)).otherwise(-sim).as("negsim"),
        lit(r.get(0)).as("cid")) // lit preserves the id column's type
    }
    val best = slice(array_sort(array(scored.toIndexedSeq: _*)), 1, nprobe)
    df.select(col(idCol).as(outId), col(vecCol).as(vecOut))
      .withColumn("_best", explode(best))
      .select(col(outId), col("_best.cid").as("centroid_id"), col(vecOut))
  }

  /** Exact cosine top-k (float vectors, plain sequential double
    * folds — the [[graft.operators.Quantize.dequantCosineTopK]] shape
    * without the quantization): the reference arm for index-quality
    * evaluation. Norms compute once per vector in each side's
    * projection; only the dot fold runs per candidate pair.
    */
  def cosineTopKExact(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    // native codegen dot (DotProductExpression) — documented
    // bit-identical to the HOF `aggregate(zip_with(...))` fold it
    // replaces (same left-to-right IEEE fold from +0.0, same casts,
    // same null/length semantics); the interpreted HOF paid a boxed
    // allocation + virtual call per dimension PER CANDIDATE PAIR,
    // which dominated the exact arms (guide §1.2 per-task work)
    def nrm(v: Column): Column =
      sqrt(graft.functions.VectorFunctions.dot(v, v))
    // widen: broadcast-NLJ streamed side (see bruteForceTopK)
    val c = graft.sources.Tables.widen(corpus).select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"),
      nrm(col(vecCol)).as("_cn"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv"),
      nrm(col(vecCol)).as("_qn"))
    val dot = graft.functions.VectorFunctions.dot(col("_qv"), col("_cv"))
    val denom = col("_qn") * col("_cn")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cosine"), asc("neighbor_id"))
    c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        when(denom === 0.0, lit(null).cast(DoubleType)).otherwise(dot / denom))
      .withColumn("rank", row_number().over(w).cast(IntegerType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Index-quality evaluation: recall@k of an approximate retrieval
    * arm against the exact arm. Both inputs carry
    * (query_id, neighbor_id) top-k rows; output is one row per exact-
    * arm query: (query_id, n_hits, recall) with recall = |exact ∩
    * approx| / k — queries the approx arm missed entirely score 0,
    * not NULL.
    *
    * This is the "evaluate the index before trusting it" step of an
    * ANN deployment: sample queries, run both arms, gate the rollout
    * on recall. Scale: both inputs are top-k frames (|queries|·k rows
    * by construction); the join and count are bounded by them, never
    * by the corpus.
    */
  def recallAtK(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val e = exact.select(col("query_id"), col("neighbor_id"))
    val a = approx.select(col("query_id"), col("neighbor_id"))
    val hits = e.join(a, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    e.select(col("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast(DoubleType) / lit(k.toDouble))
          .as("recall"))
  }

  /** Matryoshka cascade ANN (Kusupati et al. 2022 retrieval recipe):
    * stage 1 scores only the first `prefixDims` dimensions of every
    * vector (matryoshka-trained embeddings front-load information) and
    * keeps a `shortlist` per query; stage 2 reranks the shortlist with
    * the exact full-dimension inner product and returns the top `k`.
    *
    * Output: (query_id, neighbor_id, dot, rank) — `dot` is the FULL
    * dot product, rank by (dot desc, neighbor_id asc).
    *
    * Scale: stage 1 reads prefixDims/dim of the vector bytes (a 4×
    * scan/compute cut at 16/64) and is the same broadcast-queries ×
    * corpus pass as [[dotTopKExact]] — swap in an index (IVF/LSH) for
    * a real deployment; the cascade's contract is that stage 2 touches
    * only |queries|·shortlist full vectors, never the corpus. The
    * shortlist join broadcasts (query_id, neighbor_id) pairs — bounded
    * by construction — so the corpus-side probe is a broadcast
    * semi-style join with no corpus shuffle.
    */
  def matryoshkaTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String,
      prefixDims: Int, shortlist: Int, k: Int): DataFrame = {
    require(prefixDims >= 1 && shortlist >= k && k >= 1,
      s"bad cascade parameters ($prefixDims, $shortlist, $k)")
    val cPre = corpus.select(col(idCol).as("neighbor_id"),
      slice(col(vecCol), 1, prefixDims).as("_cv"))
    val qPre = queries.select(col(idCol).as("query_id"),
      slice(col(vecCol), 1, prefixDims).as("_qv"))
    val wPre = Window.partitionBy(col("query_id"))
      .orderBy(desc("_pdot"), asc("neighbor_id"))
    val cand = cPre.join(broadcast(qPre), col("query_id") =!= col("neighbor_id"))
      .withColumn("_pdot", dotExact(col("_qv"), col("_cv")))
      .withColumn("_prank", row_number().over(wPre))
      .filter(col("_prank") <= shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val wFull = Window.partitionBy(col("query_id"))
      .orderBy(desc("dot"), asc("neighbor_id"))
    cand
      .join(corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("_cfull")), Seq("neighbor_id"))
      .join(broadcast(queries.select(col(idCol).as("query_id"),
        col(vecCol).as("_qfull"))), Seq("query_id"))
      .withColumn("dot", dotExact(col("_qfull"), col("_cfull")))
      .withColumn("rank", row_number().over(wFull).cast(IntegerType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("dot"), col("rank"))
  }

  private[graft] def assignNearestAgg(
      df: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, outId: String, vecOut: String): DataFrame = {
    val sim = cosine(col(vecOut), col("_centroid"))
    df.select(col(idCol).as(outId), col(vecCol).as(vecOut))
      .join(broadcast(centroids))
      .select(col(outId), col(vecOut), col("centroid_id"),
        when(sim.isNull, lit(Double.MaxValue)).otherwise(-sim).as("_negsim"))
      .groupBy(col(outId))
      .agg(
        min_by(col("centroid_id"), struct(col("_negsim"), col("centroid_id")))
          .as("centroid_id"),
        // every row in the group carries the same vector (it rode the
        // broadcast expansion), so first() is deterministic here
        first(col(vecOut)).as(vecOut))
      .select(col(outId), col("centroid_id"), col(vecOut))
  }

  /** Maximal-marginal-relevance diversified top-k: greedy selection
    * maximizing λ·relevance − (1−λ)·max-similarity-to-already-chosen,
    * the standard retrieval/sampling diversifier (a plain top-k
    * returns k near-copies of the best hit; MMR's penalty term forces
    * coverage — the property a few-shot example picker or dedup-aware
    * retriever actually wants).
    *
    * Greedy steps are part of the SEMANTICS (each pick conditions on
    * the set so far — there is nothing to parallelize ACROSS steps),
    * so the loop runs k bounded iterations, each one keyed window
    * over frames bounded by |queries|·shortlist: the relevance
    * shortlist and its |shortlist|² pairwise similarities are
    * computed ONCE and checkpointed; a step is one anti-join, one
    * keyed max-penalty aggregate and one keyed argmax. Relevance and
    * similarity use the exact decimal dot ([[graft.functions
    * .VectorFunctions.dotExact]]), the score combiner is two IEEE
    * multiplies on identical operands, ties break on neighbor id —
    * every pick is bit-reproducible and ANSI-replayable (q199's
    * oracle unrolls all k picks).
    *
    * `lambdaPct` ∈ [0,100]: 100 = pure relevance (plain top-k),
    * 0 = pure diversity.
    */
  def mmrTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String,
      shortlist: Int, k: Int, lambdaPct: Int): DataFrame = {
    require(shortlist >= k && k >= 1, s"bad MMR parameters ($shortlist, $k)")
    require(lambdaPct >= 0 && lambdaPct <= 100, s"bad lambdaPct $lambdaPct")
    val lam = lambdaPct.toDouble
    val pen = (100 - lambdaPct).toDouble
    // widen: the shortlist NLJ + decimal-exact dot streams the corpus
    val c = graft.sources.Tables.widen(corpus).select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv"))
    val wRel = Window.partitionBy(col("query_id"))
      .orderBy(desc("rel"), asc("neighbor_id"))
    val cand = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("rel", dotExact(col("_qv"), col("_cv")))
      .withColumn("_r", row_number().over(wRel))
      .filter(col("_r") <= shortlist)
      .select(col("query_id"), col("neighbor_id"), col("rel"), col("_cv"))
      .localCheckpoint(true)
    val sims = cand.as("a").join(cand.as("b"),
        col("a.query_id") === col("b.query_id") &&
          col("a.neighbor_id") =!= col("b.neighbor_id"))
      .select(col("a.query_id").as("query_id"),
        col("a.neighbor_id").as("na"), col("b.neighbor_id").as("nb"),
        dotExact(col("a._cv"), col("b._cv")).as("sim"))
      .localCheckpoint(true)
    val wPick = Window.partitionBy(col("query_id"))
      .orderBy(desc("_mmr"), asc("neighbor_id"))
    var selected = cand
      .withColumn("_mmr", lit(lam) * col("rel"))
      .withColumn("_rn", row_number().over(wPick))
      .filter(col("_rn") === 1)
      .select(col("query_id"), col("neighbor_id"), col("rel"),
        lit(1).as("sel_rank"))
      .localCheckpoint(true)
    for (i <- 2 to k) {
      val penalty = sims
        .join(selected.select(col("query_id"), col("neighbor_id").as("nb")),
          Seq("query_id", "nb"))
        .groupBy(col("query_id"), col("na").as("neighbor_id"))
        .agg(max(col("sim")).as("_pen"))
      val pick = cand
        .join(selected.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_anti")
        .join(penalty, Seq("query_id", "neighbor_id"))
        .withColumn("_mmr", lit(lam) * col("rel") - lit(pen) * col("_pen"))
        .withColumn("_rn", row_number().over(wPick))
        .filter(col("_rn") === 1)
        .select(col("query_id"), col("neighbor_id"), col("rel"),
          lit(i).as("sel_rank"))
      val grown = selected.unionByName(pick).localCheckpoint(true)
      Checkpoints.drop(selected) // superseded pick round
      selected = grown
    }
    selected.withColumn("sel_rank", col("sel_rank").cast(IntegerType))
  }
}
