package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

/** Training-data SELECTION operators: which documents make the cut.
  *
  * Three selectors a 100 TB pre-training pipeline runs after cleaning
  * and dedup (the reference's pipeline stops at load —
  * `/root/reference/monarch_etl/pipeline.py:60-76` ends with
  * `load_*`; selection is the step a training corpus needs next):
  *
  *   - [[leakageSafeSplit]]: train/val/test assignment that never
  *     separates near-duplicates — the split key is the near-dup
  *     COMPONENT, not the document, so contamination of eval splits
  *     by a training-set twin is impossible by construction (and
  *     [[crossSplitLeaks]] proves it to an external auditor).
  *   - [[prototypePrune]]: drop the most prototypical members of each
  *     embedding cluster (the SemDeDup/SSL-prototypes observation:
  *     examples nearest their cluster centroid carry the least
  *     training signal).
  *   - [[dsirTopK]]: Data Selection via Importance Resampling — score
  *     every document by how much more likely its hashed-unigram
  *     profile is under a target distribution than under the raw
  *     corpus, in EXACT integer micro-log2 arithmetic (the q210
  *     convention), so ranking is engine-independent.
  *
  * Scale contracts are per-operator below; the shared rule is that
  * nothing here materializes per-pair or per-(doc × vocab) state —
  * every exchange is keyed by doc id, component id, or a bounded
  * bucket/centroid id.
  */
object Selection {

  /** Near-dup-component-aware split: every document in a connected
    * component of `pairs` (id_a, id_b) lands in the SAME split,
    * assigned by the cross-engine md5 bucket of the component
    * representative (min id — singletons represent themselves).
    *
    * Output = `docs` + `group_id` (the split key) + `split`. The split
    * is externally auditable: any ANSI-SQL engine can recompute both
    * the components and the md5 assignment and verify zero leakage
    * ([[crossSplitLeaks]] is the Spark-side audit).
    *
    * Scale: components are [[Dedup.connectedComponents]] (id-keyed
    * label propagation, O(log d) rounds); the assignment is one
    * id-keyed left join plus a per-row hash — no new exchange class.
    * The doc payload crosses the component join once; at 100 TB pass
    * a projected (id) frame and join text back by id if the full rows
    * are not needed downstream.
    */
  def leakageSafeSplit(docs: DataFrame, idCol: String, pairs: DataFrame,
      splits: Seq[(String, Double)], salt: String = ""): DataFrame = {
    val comps = Dedup.connectedComponents(pairs)
      .select(col("id").as(idCol), col("component_id").as("_comp"))
    val keyed = docs.join(comps, Seq(idCol), "left")
      .withColumn("group_id", coalesce(col("_comp"), col(idCol)))
      .drop("_comp")
    Sampling.md5Split(keyed, "group_id", splits, salt)
  }

  /** Audit twin of [[leakageSafeSplit]]: pairs whose endpoints were
    * assigned different splits. Zero by construction when `assigned`
    * came from [[leakageSafeSplit]] over the same `pairs`; non-zero
    * counts quantify the leakage of any OTHER split policy (e.g. the
    * per-document [[Sampling.md5Split]]) against the same near-dup
    * graph — the comparison a migration review wants.
    *
    * Returns a 1-row (leaked_pairs BIGINT) frame so callers can
    * broadcast it into a report without a driver round-trip.
    */
  def crossSplitLeaks(assigned: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    val a = assigned.select(col(idCol).as("id_a"), col("split").as("_sa"))
    val b = assigned.select(col(idCol).as("id_b"), col("split").as("_sb"))
    pairs.join(a, Seq("id_a")).join(b, Seq("id_b"))
      .filter(col("_sa") =!= col("_sb"))
      .agg(count(lit(1)).cast(LongType).as("leaked_pairs"))
  }

  /** Prototype pruning: fit k-means centroids
    * ([[Similarity.fitCentroids]] — the IVF fit), assign each vector
    * to its nearest centroid, and inside each cluster DROP the
    * `dropNum/dropDen` fraction nearest the centroid by cosine
    * (ties → lower id drops first). Returns the dropped set
    * (idCol, centroid_id, proto_rank) — callers anti-join to keep the
    * diverse remainder.
    *
    * The drop count per cluster is exact integer arithmetic
    * (`n_members * dropNum / dropDen`, floored), and the cosine is the
    * one the assignment computed (bit-identical to
    * [[graft.functions.VectorFunctions.cosine]]) — both replayable by
    * any engine, so the pruned set is deterministic.
    *
    * Scale: the assignment is the IVF centroid scorer
    * ([[Similarity.rankCentroids]] — one broadcast centroid row, never
    * an nlist-amplified exchange); the per-cluster rank is a window partitioned by centroid_id,
    * which is bounded work per task PROVIDED nlist scales with the
    * corpus (the standing IVF rule: nlist ≈ √N keeps clusters
    * ~10⁶-row — same contract as the index build; a fixed nlist at
    * 10⁹ vectors would funnel giant clusters through single tasks).
    */
  def prototypePrune(vecs: DataFrame, idCol: String, vecCol: String,
      nlist: Int, iters: Int, dropNum: Int, dropDen: Int): DataFrame = {
    require(dropNum >= 0 && dropDen > 0 && dropNum <= dropDen,
      s"bad drop fraction $dropNum/$dropDen")
    val cents = Similarity.fitCentroids(vecs, idCol, vecCol, nlist, iters)
    // the scorer's nearest (negsim, cid): negsim is the negated cosine,
    // with a NULL cosine (zero vector) mapped to +MaxValue, so
    // ascending negsim is cosine desc-nulls-last
    val best = Similarity.rankCentroids(
        vecs.select(col(idCol).as("_id"), col(vecCol).as("_cv")),
        cents, "_cv", 1, "_best")
      .select(col("_id"), element_at(col("_best"), 1).as("_b"))
      .select(col("_id"), col("_b.cid").as("centroid_id"),
        col("_b.negsim").as("_negsim"))
    val w = Window.partitionBy(col("centroid_id"))
      .orderBy(asc("_negsim"), asc("_id"))
    val wAll = Window.partitionBy(col("centroid_id"))
    best
      .withColumn("proto_rank", row_number().over(w).cast(IntegerType))
      .withColumn("_n", count(lit(1)).over(wAll))
      // integer DIV, not `/`: Spark's `/` on integer operands is double
      // division, which matches the floored contract only while
      // n·dropNum stays inside double's exact-integer range — DIV keeps
      // the documented `floor(n·dropNum/dropDen)` bit-exact at any
      // magnitude (the q232 oracle replays it as DuckDB `//`)
      .filter(col("proto_rank") <= expr(s"(_n * $dropNum) DIV $dropDen"))
      .select(col("_id").as(idCol), col("centroid_id"), col("proto_rank"))
  }

  /** HARD-NEGATIVE mining for contrastive training pairs: for every
    * anchor, the k corpus vectors most similar by cosine that are NOT
    * the anchor itself and NOT one of its labeled positives — the
    * negatives that actually move an embedding model (random negatives
    * — [[Sampling.negativeSamples]] — are trivially separable; hard
    * ones come from the neighborhood).
    *
    * `semiHard = true` applies the FaceNet band: keep only negatives
    * LESS similar than the anchor's least-similar positive
    * (`cos(a, n) < min_p cos(a, p)`), the regime where the triplet
    * loss has gradient without collapsing on label noise. Anchors
    * with no labeled positive keep all candidates (no threshold).
    *
    * Determinism: the engine cosine fold, (cosine DESC, id ASC)
    * ranking — the [[Similarity.cosineTopKExact]] contract, with the
    * positive exclusion applied BEFORE ranking so the output is a
    * true top-k of the eligible set (excluding after rank would
    * silently return fewer than k).
    *
    * Scale: PLUGGABLE CANDIDATE ARMS, the bitext pattern
    * ([[graft.operators.Bitext]]) — [[hardNegatives]] is the
    * brute-force baseline arm (broadcast-NLJ anchors × corpus, the
    * oracle-exact quadratic), [[hardNegativesIvf]] swaps in
    * [[Similarity.ivfCandidates]] (probe volume
    * |anchors|·nprobe·(n/nlist) — N^1.5 under the nlist ≈ √N rule)
    * past ~10⁶ vectors; the exclusion anti-join, the threshold join,
    * and the ranking are arm-agnostic ([[hardNegativesFromCandidates]])
    * and keyed by anchor id either way. At `nprobe = nlist` the IVF
    * pool equals the brute-force pool, so the two arms are
    * bit-identical (the q65/q235b oracle discipline — q238b).
    *
    * `positives` carries (query_id, neighbor_id) pairs — anchor id,
    * positive's corpus id. Output: (query_id, neighbor_id, cosine,
    * rank) with rank 1..k per anchor.
    */
  def hardNegatives(corpus: DataFrame, anchors: DataFrame,
      positives: DataFrame, idCol: String, vecCol: String, k: Int,
      semiHard: Boolean): DataFrame = {
    // widen: broadcast-NLJ streamed side (see Similarity.bruteForceTopK)
    val c = graft.sources.Tables.widen(corpus).select(col(idCol).as("neighbor_id"),
      col(vecCol).as("_cv"), nrm(col(vecCol)).as("_cn"))
    val a = anchors.select(col(idCol).as("query_id"),
      col(vecCol).as("_qv"), nrm(col(vecCol)).as("_qn"))
    val cand = c.join(broadcast(a), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        cosPre(col("_qv"), col("_qn"), col("_cv"), col("_cn")))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
    hardNegativesFromCandidates(cand, corpus, anchors, positives,
      idCol, vecCol, k, semiHard)
  }

  /** [[hardNegatives]] through the IVF candidate arm
    * ([[Similarity.ivfCandidates]]): same exclusion / semi-hard band /
    * ranking, candidate volume |anchors|·nprobe·(n/nlist) instead of
    * |anchors|·n. Exhaustive probing (`nprobe = nlist`) is
    * bit-identical to [[hardNegatives]]; partial probing can miss
    * negatives whose corpus vector lives in an unprobed cell — the
    * recall knob, fixture-tested in SelectionSpec.
    */
  def hardNegativesIvf(corpus: DataFrame, anchors: DataFrame,
      positives: DataFrame, idCol: String, vecCol: String, k: Int,
      semiHard: Boolean, nlist: Int, nprobe: Int): DataFrame =
    hardNegativesFromCandidates(
      Similarity.ivfCandidates(corpus, anchors, idCol, vecCol, nlist, nprobe),
      corpus, anchors, positives, idCol, vecCol, k, semiHard)

  /** Arm-agnostic tail of hard-negative mining: positive exclusion,
    * optional semi-hard ceiling, (cosine DESC, id ASC) top-k — over any
    * (query_id, neighbor_id, cosine) candidate arm. Null cosines
    * (zero-norm corpus vectors) are dropped up front — a vector with no
    * defined direction is never a usable negative, and nulls-last
    * ranking would otherwise emit them whenever an anchor has fewer
    * than k real candidates (the r11 ADVICE finding); this also mirrors
    * [[Bitext.marginMutualFromTopK]]'s candidate pool.
    *
    * The semi-hard ceiling is computed from the (corpus, anchors)
    * VECTORS, not from the arm — a labeled positive must bound the band
    * even when the arm's probing missed it.
    */
  def hardNegativesFromCandidates(cand: DataFrame, corpus: DataFrame,
      anchors: DataFrame, positives: DataFrame, idCol: String,
      vecCol: String, k: Int, semiHard: Boolean): DataFrame = {
    require(k >= 1, s"bad k $k")
    val pos = positives.select(col("query_id"), col("neighbor_id"))
    val eligible = cand
      .filter(col("cosine").isNotNull)
      .join(pos, Seq("query_id", "neighbor_id"), "left_anti")
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
    val banded = if (!semiHard) eligible else {
      val c = corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("_cv"), nrm(col(vecCol)).as("_cn"))
      val a = anchors.select(col(idCol).as("query_id"),
        col(vecCol).as("_qv"), nrm(col(vecCol)).as("_qn"))
      // least-similar positive per anchor = the semi-hard ceiling
      val thresh = pos
        .join(a, Seq("query_id"))
        .join(c, Seq("neighbor_id"))
        .withColumn("_pc",
          cosPre(col("_qv"), col("_qn"), col("_cv"), col("_cn")))
        .groupBy(col("query_id")).agg(min(col("_pc")).as("_pc"))
      eligible.join(broadcast(thresh), Seq("query_id"), "left")
        .filter(col("_pc").isNull || col("cosine") < col("_pc"))
        .drop("_pc")
    }
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cosine"), asc("neighbor_id"))
    banded
      .withColumn("rank", row_number().over(w).cast(IntegerType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** The engine cosine fold with PRECOMPUTED norms (same sequential
    * element-order fold and zero-norm → NULL convention as
    * [[graft.functions.VectorFunctions.cosine]], which recomputes norms
    * per pair — precomputing them once per row is the broadcast-NLJ
    * arm's saving). Values are bit-identical: the norm is the same
    * fold either way and multiplication order is preserved.
    */
  // native codegen dot (DotProductExpression) — bit-identical to the
  // HOF `aggregate(zip_with(...))` fold these helpers previously spelt
  // out (same sequential IEEE fold, casts, null/length semantics), at
  // a primitive loop instead of a boxed allocation per dimension per
  // candidate pair (guide §1.2 per-task work)
  private def nrm(v: Column): Column =
    sqrt(graft.functions.VectorFunctions.dot(v, v))
  private def cosPre(qv: Column, qn: Column, cv: Column, cn: Column): Column = {
    val denom = qn * cn
    when(denom === 0.0, lit(null).cast(DoubleType))
      .otherwise(graft.functions.VectorFunctions.dot(qv, cv) / denom)
  }

  /** DSIR-style importance scoring (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", 2023): hashed-unigram
    * bag-of-words importance weights, top-k selection.
    *
    * Features are md5-bucketed lowercase whitespace tokens (`nBuckets`
    * cells — the paper's hashed n-gram generative model with n = 1).
    * Per-bucket weight in exact integer micro-log2 units
    * ([[Unigram.ilog2Micro]]):
    *
    *   w(b) = [ilog(t_b + 1) − ilog(T + B)] − [ilog(r_b + 1) − ilog(R + B)]
    *
    * (add-one-smoothed log-likelihood ratio of the target unigram
    * distribution over the raw one; t/r = bucket counts under the
    * `target` predicate / the whole corpus, T/R their totals,
    * B = nBuckets). A document's weight is the sum of its token
    * occurrences' bucket weights — a BIGINT, so the (weight DESC, id)
    * top-k is bit-deterministic on any engine: no float log ever
    * enters the ranking.
    *
    * Output: (idCol, n_tokens, weight_micro) for the k highest-weight
    * documents.
    *
    * Scale: the bucket-weight table is bounded by `nBuckets` (built
    * with two map-side-combined aggregates over the token stream) and
    * broadcast onto the tokens; the only corpus-sized exchange is the
    * per-doc sum keyed by id; the top-k is a TakeOrdered (per-partition
    * heaps, no global sort). Token text never crosses an exchange —
    * tokens reduce to (bucket, count) partials inside each task.
    */
  def dsirTopK(docs: DataFrame, idCol: String, textCol: String,
      target: Column, nBuckets: Int, k: Int): DataFrame = {
    require(nBuckets > 0 && k > 0, s"bad parameters ($nBuckets, $k)")
    val toks = docs
      .select(col(idCol).as("_id"), target.as("_tgt"),
        explode(graft.functions.TextFunctions.nonEmptyTokens(
          lower(col(textCol)))).as("_tok"))
      .withColumn("_b",
        pmod(graft.functions.TextFunctions.md5Hash60(col("_tok")),
          lit(nBuckets.toLong)))
      .select(col("_id"), col("_tgt"), col("_b"))
    val raw = toks.groupBy(col("_b")).agg(count(lit(1)).as("_r"))
    val tgt = toks.filter(col("_tgt")).groupBy(col("_b"))
      .agg(count(lit(1)).as("_t"))
    val totals = raw.agg(sum(col("_r")).cast(LongType).as("_rtot"))
      .crossJoin(tgt.agg(sum(col("_t")).cast(LongType).as("_ttot")))
    val ilog = Unigram.ilog2Micro _
    val bucketW = raw.join(tgt, Seq("_b"), "left")
      .crossJoin(broadcast(totals))
      .select(col("_b"),
        ((ilog(coalesce(col("_t"), lit(0L)) + 1L) -
          ilog(col("_ttot") + nBuckets.toLong)) -
          (ilog(col("_r") + 1L) -
            ilog(col("_rtot") + nBuckets.toLong))).as("_w"))
    toks.join(broadcast(bucketW), Seq("_b"))
      .groupBy(col("_id"))
      .agg(count(lit(1)).cast(LongType).as("n_tokens"),
        sum(col("_w")).cast(LongType).as("weight_micro"))
      .orderBy(desc("weight_micro"), asc("_id"))
      .limit(k)
      .select(col("_id").as(idCol), col("n_tokens"), col("weight_micro"))
  }
}
