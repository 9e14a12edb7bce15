package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scalar int8 quantization for embedding columns — the storage side
  * of vector search at corpus scale: a 10⁹ × 768-dim float corpus is
  * ~3 TB of parquet; per-vector min/max int8 quantization stores the
  * same geometry in a quarter of the bytes (and parquet
  * integer-packs the 0..255 range further). ANN recall degrades by
  * the quantization error, which is bounded per element by
  * `qscale / 2` — the contract QuantizeSpec asserts.
  *
  * Everything here is closed-form deterministic arithmetic (float →
  * double widening, one division, `floor(x + 0.5)` rounding — ties
  * away from the banker's-rounding ambiguity), so a cross-engine
  * oracle can replay quantize → dequantize → cosine → rank EXACTLY:
  * IEEE double ops are bit-defined in both engines and both folds run
  * left-to-right (q80).
  *
  * All of it is native expressions in one projection: quantization is
  * a zero-shuffle scan-side map, like every per-row operator in this
  * engine.
  */
object Quantize {

  /** Per-vector scalar quantization: (idCol, qmin, qscale,
    * qvec: array<int> in 0..255). Constant vectors (max == min) get
    * qscale 0 and all-zero codes — dequantization restores `qmin`
    * exactly. NULL vectors pass through as NULL codes.
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = col(vecCol)
    val mn = array_min(v).cast(DoubleType)
    val scale = (array_max(v).cast(DoubleType) - mn) / lit(255.0)
    df.select(
      col(idCol),
      mn.as("qmin"),
      scale.as("qscale"),
      transform(v, x =>
        when(scale === 0.0, lit(0))
          .otherwise(floor((x.cast(DoubleType) - mn) / scale + lit(0.5))
            .cast(IntegerType))).as("qvec"))
  }

  /** Reconstruct the (approximate) vector: x̂ᵢ = qmin + qᵢ · qscale,
    * as a double array. |x̂ᵢ − xᵢ| ≤ qscale / 2 by construction.
    */
  def dequantize(qvec: Column, qmin: Column, qscale: Column): Column =
    transform(qvec, q => qmin + q.cast(DoubleType) * qscale)

  /** Exact cosine top-k over a QUANTIZED corpus: dequantize in the
    * scoring projection (the stored index stays int8; nothing is
    * materialized at float width), score against float queries,
    * rank (cosine DESC, neighbor ASC). Same broadcast-query shape as
    * [[Similarity.bruteForceTopK]].
    */
  def dequantCosineTopK(
      quantized: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // norms are per-VECTOR: computed once in each side's projection
    // (|corpus| + |queries| norm folds), never per candidate pair —
    // the same shape the cross-engine oracle uses. Only the dot runs
    // per pair — the native DotProductExpression, bit-identical to the
    // HOF fold it replaces (same sequential IEEE fold, same casts —
    // float elements cast to double exactly as x.cast(Double) did)
    def ndot(a: Column, b: Column): Column =
      graft.functions.VectorFunctions.dot(a, b)
    val dv = dequantize(col("qvec"), col("qmin"), col("qscale"))
    // widen: broadcast-NLJ streamed side (see Similarity.bruteForceTopK)
    val c = graft.sources.Tables.widen(quantized)
      .select(col(idCol).as("neighbor_id"), dv.as("_cv"),
        sqrt(ndot(dv, dv)).as("_cn"))
    val qv = col(vecCol)
    val q = queries.select(col(idCol).as("query_id"), qv.as("_qv"),
      sqrt(ndot(qv, qv)).as("_qn"))
    val dot = ndot(col("_qv"), col("_cv"))
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

  // ---- Product quantization (PQ) ---------------------------------
  //
  // The other axis of vector compression: scalar int8 shrinks each
  // ELEMENT; PQ shrinks each SUBVECTOR to one codebook id — m bytes
  // per vector regardless of dim, the memory layout behind
  // billion-vector ANN (IVF-PQ). Fit = the deterministic Lloyd
  // k-means this module already ships ([[Similarity.fitCentroids]]),
  // run per subspace; encode = ONE zero-shuffle projection (each
  // subspace's nearest-centroid argmin is the IVF centroid scorer,
  // [[Similarity.rankCentroids]]); search = asymmetric distance
  // computation (ADC): the query precomputes its inner product
  // against every codebook entry (m × nlist doubles), and a
  // candidate's score is m table lookups + (m−1) additions — no
  // per-candidate O(dim) work.

  /** Per-subspace PQ codebooks: subspace j covers elements
    * [j·subDim, (j+1)·subDim). Returns one (centroid_id, _centroid)
    * frame per subspace, fitted with the deterministic shared k-means
    * (seed = lowest ids, decimal-exact means) so the codebooks — and
    * everything downstream — are bit-stable and replayable.
    */
  def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      subDim: Int, m: Int, nlist: Int, iters: Int): Seq[DataFrame] =
    (0 until m).map { j =>
      Similarity.fitCentroids(
        corpus.select(col(idCol),
          slice(col(vecCol), j * subDim + 1, subDim).as("_sub")),
        idCol, "_sub", nlist, iters)
    }

  /** PQ encode: append `code_j` (the assigned codebook id per
    * subspace) in ONE pass over one scan — each codebook rides one
    * broadcast row ([[Similarity.rankCentroids]]), so the corpus side
    * is scan → projection → output with ZERO shuffles (the shape that
    * encodes 10⁹ vectors embarrassingly parallel). Float and double
    * vectors alike. Tie-break matches the IVF assignment: (cosine
    * desc, centroid id asc).
    */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
      codebooks: Seq[DataFrame], subDim: Int): DataFrame = {
    var out = corpus.select(col(idCol) +: codebooks.indices.map(j =>
      slice(col(vecCol), j * subDim + 1, subDim).as(s"_sub$j")): _*)
    codebooks.zipWithIndex.foreach { case (cb, j) =>
      out = Similarity.rankCentroids(out, cb, s"_sub$j", nprobe = 1, s"_near$j")
        .withColumn(s"code_$j", col(s"_near$j").getItem(0).getField("cid"))
        .drop(s"_near$j")
    }
    out.drop(codebooks.indices.map(j => s"_sub$j"): _*)
  }

  /** ADC top-k: for each query, the per-subspace inner-product tables
    * against the codebooks are a queries × (m·nlist) frame (tiny,
    * broadcast); candidates join it by their codes, so the scored
    * stream carries codes — never embeddings — and the per-candidate
    * cost is m lookups. Top-k per query through the bounded-heap
    * TopKPerKey; score ties break on candidate id (replayable).
    * Self-matches are excluded.
    */
  def pqTopK(codes: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, codebooks: Seq[DataFrame], subDim: Int,
      k: Int): DataFrame = {
    // per-subspace query IP table: (query_id, code_j, _ip_j) —
    // queries × nlist rows, the query subvector dotted with every
    // entry of the codebook's broadcast row, then exploded
    def qTable(cb: DataFrame, j: Int): DataFrame =
      Similarity.withCentroidRow(
          queries.select(col(idCol).as("query_id"),
            slice(col(vecCol), j * subDim + 1, subDim).as("_qs")), cb, "_cb")
        .select(col("query_id"), explode(transform(col("_cb"), c =>
          struct(c.getField("cid").as("cid"),
            graft.functions.VectorFunctions.dot(col("_qs"), c.getField("v")).as("ip"))))
          .as("_e"))
        .select(col("query_id"), col("_e.cid").as(s"code_$j"),
          col("_e.ip").as(s"_ip$j"))
    // candidates pick up (query_id, ip) through their subspace-0 code,
    // then each further subspace joins on (query_id, code_j): the
    // scored stream carries codes and ids only, never embeddings
    var joined = codes.select(col(idCol).as("neighbor_id") +:
      codebooks.indices.map(j => col(s"code_$j")): _*)
    codebooks.zipWithIndex.foreach { case (cb, j) =>
      joined = joined.join(broadcast(qTable(cb, j)),
        if (j == 0) Seq(s"code_$j") else Seq("query_id", s"code_$j"))
    }
    val withScore = joined.withColumn("adc_score",
      codebooks.indices.map(j => col(s"_ip$j")).reduce(_ + _))
      .where(col("neighbor_id") =!= col("query_id"))
    graft.plans.TopKPerKey.topKPerKey(withScore, Seq(col("query_id")),
        Seq(col("adc_score").desc, col("neighbor_id").asc), k)
      .select(col("query_id"), col("neighbor_id"))
  }
}
