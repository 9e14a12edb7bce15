package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Mergeable distinct-count sketch maintenance (Apache DataSketches
  * HLL via Spark's native `hll_sketch_agg` family — codegen'd
  * aggregates, no UDFs).
  *
  * The scale problem this solves: "distinct users per segment over the
  * whole corpus" on 100 TB is a full-table shuffle every time someone
  * asks. Sketches make the aggregate INCREMENTALLY MAINTAINABLE: build
  * a per-group sketch table for each arriving batch (one map-side-
  * combined aggregate over the batch only), persist it as plain
  * parquet (the sketch is a binary column), and answer queries by
  * merging the persisted sketches — work proportional to
  * groups × batches, never to the corpus. HLL merging is a per-
  * register max, so it is associative, commutative, and idempotent —
  * merge order and batch boundaries never change the result
  * (SketchesSpec asserts order-invariance and idempotence under
  * overlap). One honest caveat, found empirically and documented by
  * DataSketches: a UNIONED sketch answers with the composite
  * estimator (union invalidates the direct sketch's HIP estimator),
  * so past the sparse regime the merged estimate can differ from a
  * from-scratch single-scan sketch by a fraction of a percent —
  * within the same error bound, exactly equal while sparse
  * (SketchesSpec pins both regimes) — never drifting with repetition.
  * Corollary: PERSIST batch sketches and merge the stored bytes
  * (serialization is promotion-path dependent, so re-sketching a batch
  * can yield different-but-equally-accurate bytes); every caller here
  * follows sketch-at-ingest, merge-the-tables.
  */
object Sketches {

  /** Per-group HLL sketch of a value column: one hash aggregate, the
    * sketch buffers combining map-side. Output (groupCol, sketch) —
    * the sketch is a BinaryType column that round-trips parquet.
    */
  def distinctSketches(df: DataFrame, groupCol: String, valueCol: String): DataFrame =
    df.groupBy(col(groupCol))
      .agg(hll_sketch_agg(col(valueCol)).as("sketch"))

  /** Merge any number of per-group sketch tables (e.g. one per
    * ingested batch) into one: union the (group, sketch) rows — batch
    * tables are group-sized, not corpus-sized — and reduce per group
    * with the HLL register-max union.
    */
  def mergeSketches(tables: Seq[DataFrame], groupCol: String): DataFrame = {
    require(tables.nonEmpty, "mergeSketches: no sketch tables")
    tables.reduce(_ unionByName _)
      .groupBy(col(groupCol))
      .agg(hll_union_agg(col("sketch")).as("sketch"))
  }

  /** Read the distinct-count estimates out of a sketch table. */
  def estimateDistinct(sketches: DataFrame, groupCol: String): DataFrame =
    sketches.select(col(groupCol),
      hll_sketch_estimate(col("sketch")).as("estimate"))

  // ---------------------------------------------------------------
  // Count-Min sketch: mergeable approximate FREQUENCY under a fixed
  // memory bound — the point-query companion to the HLL distinct
  // sketches above and the bounded-memory companion to the EXACT
  // Misra-Gries heavy hitters ([[Frequency]]): Misra-Gries answers
  // "which keys are frequent" exactly but its shuffle grows with
  // k·tasks; a CMS table is a CONSTANT depth×width integer grid that
  // answers "how often does key x occur" within ε·N overcounting
  // (never undercounting), merges across batches by cellwise
  // addition (associative, commutative — batch boundaries and merge
  // order never change the table), and costs one map-side-combined
  // aggregate per batch. The sketch is an ordinary (d, w, cnt)
  // DataFrame persisted as parquet — no binary blobs, so an
  // independent engine (the DuckDB oracle) can rebuild it cell by
  // cell from the same recipe and reproduce every estimate exactly.
  //
  // Hash recipe: row d of the grid buckets key x with the
  // cross-engine md5 bucket ([[Sampling.md5Bucket]]) salted by the
  // row index — `('0x'||substr(md5(x||'cms<d>'),1,15))::BIGINT % w`
  // in any engine. Pairwise-independence is approximated the same
  // way production CMS libraries do (independent salted hashes).
  // ---------------------------------------------------------------

  /** Build a Count-Min sketch table of a key column: (d, w, cnt) for
    * 0 ≤ d < depth, 0 ≤ w < width, cnt = number of rows whose salted
    * hash lands in the cell. Only occupied cells are materialized
    * (the full grid is the left-join default-0 in [[cmsEstimate]]).
    * One explode(depth) + hash aggregate: the exchange carries at
    * most depth·width cells per task after map-side combine.
    */
  /** Sliding-window distinct maintenance from per-unit sketches: given
    * the per-day HLL sketch table [[distinctSketches]] maintains, the
    * trailing-`window`-day distinct count for EVERY day is a merge of
    * ≤`window` sketches — the days-frame never touches the corpus
    * again. The 100 TB promise: "7-day unique users, daily" costs one
    * |days|×window self-join over a days-sized table, not |days|
    * rescans of the event log (the naive form re-deduplicates ~window×
    * the corpus).
    *
    * Returns (groupCol, window_days, estimate): the HLL estimate per
    * day over [day − window + 1, day]. `groupCol` must be an ISO date
    * string (lexicographic = chronological). Register-max merging makes
    * the estimate independent of merge order and of how the daily
    * sketches were batched.
    */
  def slidingDistinct(daily: DataFrame, groupCol: String,
      window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val target = daily.select(col(groupCol).as("_day"))
    val contrib = daily.select(col(groupCol).as("_src_day"), col("sketch"))
    target.join(contrib,
        col("_src_day") <= col("_day") &&
          col("_src_day") >= date_format(
            date_sub(to_date(col("_day")), window - 1), "yyyy-MM-dd"))
      .groupBy(col("_day"))
      .agg(hll_union_agg(col("sketch")).as("_merged"))
      .select(col("_day").as(groupCol),
        lit(window).as("window_days"),
        hll_sketch_estimate(col("_merged")).as("estimate"))
  }

  def cmsSketch(df: DataFrame, keyCol: String,
      depth: Int = 4, width: Int = 512): DataFrame = {
    require(depth >= 1 && width >= 1, s"bad CMS shape $depth x $width")
    val rows = (0 until depth).map { d =>
      struct(lit(d).as("d"),
        Sampling.md5Bucket(col(keyCol), width, s"cms$d").as("w"))
    }
    df.select(explode(array(rows: _*)).as("c"))
      .groupBy(col("c.d").as("d"), col("c.w").as("w"))
      .agg(count(lit(1)).cast("long").as("cnt"))
  }

  /** Merge CMS tables (one per ingested batch) by cellwise addition —
    * work ∝ depth·width·batches, never corpus-sized.
    */
  def cmsMerge(tables: Seq[DataFrame]): DataFrame = {
    require(tables.nonEmpty, "cmsMerge: no sketch tables")
    tables.reduce(_ unionByName _)
      .groupBy(col("d"), col("w"))
      .agg(sum(col("cnt")).cast("long").as("cnt"))
  }

  /** Equi-join cardinality estimate from two CMS tables over the join
    * key — the optimizer-side "how big would this join be" question
    * answered without touching either corpus: |A ⋈ B| = Σ_k
    * c_A(k)·c_B(k), estimated as min over grid rows d of the cells'
    * inner product Σ_w cntA(d,w)·cntB(d,w) (the classic AMS/CMS
    * inner-product estimator — always ≥ the truth, = it when no
    * salted hash collides within a row). This is what a planner
    * consults before choosing broadcast vs shuffle vs salting; q178's
    * skew planner answers "WHERE is it big", this answers "HOW big
    * overall".
    *
    * Both sketches must share (depth, width, salt recipe) — i.e. come
    * from [[cmsSketch]] with the same shape. Work is depth·width
    * cells: one cell join + depth-row roll-up + one scalar min.
    * Missing cells are zero and drop out via the inner join.
    */
  def cmsJoinCardinality(sketchA: DataFrame, sketchB: DataFrame): DataFrame =
    sketchA.select(col("d"), col("w"), col("cnt").as("_ca"))
      .join(sketchB.select(col("d"), col("w"), col("cnt").as("_cb")),
        Seq("d", "w"))
      .groupBy(col("d"))
      .agg(sum(col("_ca") * col("_cb")).cast("long").as("_ip"))
      // no shared cells anywhere = estimated size 0, not NULL
      .agg(coalesce(min(col("_ip")), lit(0L)).cast("long").as("est"))

  /** Point-frequency estimates for the keys of `probes`: for each
    * probe key, min over the grid's rows of that key's cell — the
    * classic CMS estimate, ≥ the true count always, = it when no
    * salted hash collides. The probe side is query-sized: it explodes
    * ×depth, left-joins the sketch cells (absent cell = 0), and
    * min-groups back to one row per key — the sketch never re-scans
    * the corpus.
    */
  def cmsEstimate(sketch: DataFrame, probes: DataFrame,
      keyCol: String, depth: Int = 4, width: Int = 512): DataFrame = {
    val rows = (0 until depth).map { d =>
      struct(lit(d).as("d"),
        Sampling.md5Bucket(col(keyCol), width, s"cms$d").as("w"))
    }
    probes.select(col(keyCol), explode(array(rows: _*)).as("c"))
      .select(col(keyCol), col("c.d").as("d"), col("c.w").as("w"))
      .join(sketch, Seq("d", "w"), "left")
      .groupBy(col(keyCol))
      .agg(min(coalesce(col("cnt"), lit(0L))).cast("long").as("est"))
  }

  // ---------------------------------------------------------------
  // Fixed-bin histogram sketch: mergeable QUANTILE maintenance — the
  // third leg of the incremental-sketch family (HLL = distincts, CMS
  // = frequencies, this = percentiles). `approx_percentile` (q40)
  // answers one-shot quantiles but its GK state is not exposed for
  // persistence/merging; a fixed [lo, hi)×bins histogram is: integer
  // (bin, cnt) parquet rows, cellwise-additive merges, and a
  // rank-walk estimator — every step exact integers or a fixed IEEE
  // tree, so the DuckDB oracle replays estimates bit-for-bit. Error
  // model is honest and a-priori: an estimate is the LOWER EDGE of
  // the rank's bin — within one bin width of the true quantile,
  // chosen at sketch definition, not data-dependent.
  // ---------------------------------------------------------------

  /** Bin index for a value: floor((v − lo) / width), clamped to the
    * edge bins (out-of-range mass is visible at the edges, never
    * dropped — a quantile landing in bin 0 or bins−1 says "widen the
    * range"). The expression tree ((v − lo) / width, one floor) is
    * fixed so any engine reproduces the index exactly.
    */
  def histogramBin(v: org.apache.spark.sql.Column,
      lo: Double, hi: Double, bins: Int): org.apache.spark.sql.Column = {
    val width = (hi - lo) / bins
    least(greatest(floor((v.cast("double") - lit(lo)) / lit(width))
      .cast("long"), lit(0L)), lit((bins - 1).toLong))
  }

  /** Histogram sketch of a value column: (bin, cnt), occupied bins
    * only. One map-side-combined aggregate; ≤ `bins` cells cross the
    * exchange per task. NULLs are excluded (not a value).
    */
  def histogramSketch(df: DataFrame, valueCol: String,
      lo: Double, hi: Double, bins: Int = 256): DataFrame = {
    require(bins >= 1 && hi > lo, s"bad histogram [$lo, $hi) x $bins")
    df.filter(col(valueCol).isNotNull)
      .groupBy(histogramBin(col(valueCol), lo, hi, bins).as("bin"))
      .agg(count(lit(1)).cast("long").as("cnt"))
  }

  /** Merge histogram sketches cellwise — work ∝ bins·batches. */
  def histogramMerge(tables: Seq[DataFrame]): DataFrame = {
    require(tables.nonEmpty, "histogramMerge: no sketch tables")
    tables.reduce(_ unionByName _)
      .groupBy(col("bin")).agg(sum(col("cnt")).cast("long").as("cnt"))
  }

  /** Quantile estimates from a histogram sketch: for each q, the
    * lower edge (lo + bin·width) of the bin containing rank
    * ceil(q·N) in the cumulative count — the deterministic rank walk,
    * one window over ≤ `bins` rows. Returns (q, rank, bin, est)
    * ordered by q.
    */
  def histogramQuantiles(sketch: DataFrame, qs: Seq[Double],
      lo: Double, hi: Double, bins: Int = 256): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1), s"bad quantiles $qs")
    val width = (hi - lo) / bins
    val spark = sketch.sparkSession
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("bin"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    // ≤ bins rows: the single-partition window is bins-sized by
    // construction, the same driver-bounded regime as the k-sized
    // centroid frames
    val cum = sketch
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("total", sum(col("cnt")).over(
        org.apache.spark.sql.expressions.Window
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.unboundedFollowing)))
    val probes = qs.toDF("q")
    probes.crossJoin(broadcast(cum))
      .withColumn("rank", ceil(col("q") * col("total").cast("double")).cast("long"))
      .filter(col("cum") >= col("rank"))
      .groupBy(col("q"), col("rank"))
      .agg(min(col("bin")).as("bin"))
      .withColumn("est", lit(lo) + col("bin").cast("double") * lit(width))
      .select(col("q"), col("rank"), col("bin"), col("est"))
      .orderBy(col("q"))
  }

  /** Sketch-based winsorization: clamp a value column to the
    * [pLow, pHigh] histogram-quantile thresholds — the outlier-capping
    * step quality/reward scores go through before they feed a training
    * mix (a handful of pathological documents must not own the scale).
    *
    * Thresholds come from [[histogramSketch]] + [[histogramQuantiles]]
    * (one parallel aggregate folded to a one-row (low, high) frame that
    * is broadcast onto the scan — no driver collect, no job while the
    * query is built; never an `approx_percentile` per-executor buffer,
    * never a global sort), with the q108 bin-lower-edge estimator
    * contract: rows within one bin width of a true quantile may clamp
    * or not — the a-priori documented error, identical in every
    * engine. The clamp itself is one codegen'd `least/greatest`
    * projection on the original scan; NULL values pass through NULL and
    * never clamp, and empty or all-NULL input yields NULL thresholds,
    * which clamp nothing (`least`/`greatest` skip NULLs). Returns the
    * input plus `<valueCol>_w` (clamped) and `_clamped` (-1 low /
    * 0 untouched / 1 high).
    */
  def winsorize(df: DataFrame, valueCol: String, lo: Double, hi: Double,
      bins: Int, pLow: Double, pHigh: Double): DataFrame = {
    require(pLow > 0 && pLow < pHigh && pHigh <= 1,
      s"bad winsor percentiles ($pLow, $pHigh)")
    val sk = histogramSketch(df, valueCol, lo, hi, bins)
    val cuts = histogramQuantiles(sk, Seq(pLow, pHigh), lo, hi, bins)
      .agg(max(when(col("q") === pLow, col("est"))).as("_tLow"),
        max(when(col("q") === pHigh, col("est"))).as("_tHigh"))
    val (v, tLow, tHigh) = (col(valueCol).cast("double"), col("_tLow"), col("_tHigh"))
    df.crossJoin(broadcast(cuts))
      .withColumn(s"${valueCol}_w",
        when(v.isNull, lit(null).cast("double"))
          .otherwise(least(greatest(v, tLow), tHigh)))
      .withColumn("_clamped",
        when(v.isNull, lit(0))
          .when(v < tLow, lit(-1)).when(v > tHigh, lit(1)).otherwise(lit(0)))
      .drop("_tLow", "_tHigh")
  }

  // ---- k-minimum-values (KMV) set sketches -----------------------

  /** Per-group KMV sketch: the k smallest distinct values of
    * `valueCol` (already uniform-ish hashes — callers pass md5-derived
    * tokens, never raw content). KMV is the mergeable bottom-k order
    * statistic behind distinct-count AND set-overlap estimation: the
    * k-th smallest hash pins the sampled fraction of the value space,
    * and two groups' sketches estimate their Jaccard from how the
    * bottom-k of the UNION splits between them ([[kmvOverlap]]).
    *
    * Scale: the only corpus-sized stage is the (group, value)
    * distinct; the bottom-k itself runs through [[graft.plans.TopKPerKey]]
    * — per-partition bounded heaps, so k·partitions rows cross the
    * exchange, never a per-group sort of everything.
    */
  def kmvSketch(df: DataFrame, groupCol: String, valueCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    graft.plans.TopKPerKey.topKPerKey(
      df.select(col(groupCol), col(valueCol)).distinct(),
      Seq(col(groupCol)), Seq(col(valueCol).asc), k)
  }

  /** Pairwise Jaccard estimates between per-group KMV sketches: for
    * each group pair, take the k smallest of the sketch UNION and
    * count how many sit in both sketches — `est = shared·10⁶ div m`
    * (m = min(k, union size), so degenerate small groups stay exact).
    * All integer; pair work is |groups|²-bounded sketch rows, the
    * corpus is never touched.
    */
  def kmvOverlap(sketch: DataFrame, groupCol: String, valueCol: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sk = sketch.select(col(groupCol).as("_g"), col(valueCol).as("_v"))
    val groups = sk.select(col("_g")).distinct()
    // groups² pair frame (tiny): broadcast-nested-loop by design
    val pairs = groups.select(col("_g").as("source_a"))
      .join(broadcast(groups.select(col("_g").as("source_b"))),
        col("source_a") < col("source_b"))
    val tagged = sk
      .join(broadcast(pairs),
        col("_g") === col("source_a") || col("_g") === col("source_b"))
      .groupBy(col("source_a"), col("source_b"), col("_v"))
      .agg(max(when(col("_g") === col("source_a"), 1).otherwise(0)).as("_ina"),
        max(when(col("_g") === col("source_b"), 1).otherwise(0)).as("_inb"))
    val ranked = tagged.withColumn("_rn", row_number().over(
      Window.partitionBy(col("source_a"), col("source_b"))
        .orderBy(col("_v"))))
      .where(col("_rn") <= k)
    ranked.groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("m"),
        sum(when(col("_ina") === 1 && col("_inb") === 1, 1L).otherwise(0L))
          .as("shared"))
      .select(col("source_a"), col("source_b"), col("m"), col("shared"),
        expr("shared * 1000000 div m").as("jaccard_est_micro"))
  }
}
