package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextFunctions._

/** Ranked retrieval over the document corpus — the "find the best
  * training examples for this probe query" / corpus-search primitive.
  *
  * Scoring is BM25 with a RATIONAL idf: the standard
  * ln((N − df + 0.5)/(df + 0.5) + 1) is replaced by the un-logged odds
  * (N − df + 0.5)/(df + 0.5). Rationale: ln() is correctly rounded on
  * neither engine by spec, and cross-engine last-ulp differences in a
  * transcendental poison bit-exact comparison (the same reason
  * [[TextAnalysis.termStats]] publishes tf/df instead of tf-idf). The
  * rational variant preserves BM25's ranking behavior for single-term
  * contributions (idf is monotone in df either way) and keeps every
  * arithmetic step an IEEE operation both engines perform identically
  * on identical operands.
  *
  * Scale shape:
  *  - Query terms broadcast as an `isin` literal filter — only
  *    matching tokens survive the map side, so the (doc, term) tf
  *    shuffle carries query-term hits, never the corpus vocabulary.
  *  - Corpus constants (N, Σdl) come from one bounded scalar
  *    aggregate collected driver-side and embedded as literals.
  *  - Per-term contributions pivot into fixed columns via
  *    order-independent `max` (each (doc, term) group is a single
  *    row), and the final score is a FIXED-ORDER sum s₁+s₂+…+sₖ —
  *    never a float aggregate over nondeterministic row order.
  *  - Top-k plans as TakeOrderedAndProject (per-partition heaps + one
  *    k-row merge), not a global sort.
  */
object Ranking {

  /** Top-k documents for `queryTerms` under rational-idf BM25.
    * Output: (id, score, n_terms_hit), ordered by score desc, id asc.
    */
  def bm25TopK(
      df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int = 20,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(queryTerms.distinct == queryTerms, "queryTerms must be distinct")
    require(k >= 1, s"k must be >= 1, got $k")
    val base = graft.sources.Tables.widen(df)
      .select(col(idCol).as("_id"),
        nonEmptyTokens(lower(col(textCol))).as("_toks"))
    // corpus constants, driver-bounded (one row)
    val stats = base.agg(
      count(lit(1)).as("n"),
      sum(size(col("_toks")).cast(LongType)).as("sum_dl")).collect()(0)
    val n = stats.getLong(0)
    val sumDl = if (stats.isNullAt(1)) 0L else stats.getLong(1)
    if (n == 0L) {
      val s = df.sparkSession
      return s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("_id0", LongType),
          StructField("score", DoubleType),
          StructField("n_terms_hit", IntegerType))))
        .withColumnRenamed("_id0", idCol)
    }
    val hits = base
      .select(col("_id"), size(col("_toks")).cast(DoubleType).as("_dl"),
        explode(col("_toks")).as("_term"))
      .filter(col("_term").isin(queryTerms: _*))
    val tf = hits.groupBy(col("_id"), col("_term"))
      .agg(count(lit(1)).cast(DoubleType).as("_tf"),
        first(col("_dl")).as("_dl"))
    scoreTopK(tf, queryTerms, k, k1, b, n, sumDl)
      .withColumnRenamed("_id", idCol)
  }

  /** Shared BM25 scoring tail over a (_id, _term, _tf, _dl) frame —
    * identical expression tree for the direct (q85) and index-probed
    * (q224) paths, so the two answer bit-identically.
    */
  private def scoreTopK(tf: DataFrame, queryTerms: Seq[String], k: Int,
      k1: Double, b: Double, n: Long, sumDl: Long): DataFrame = {
    // one IEEE division on exact integer operands — identical everywhere
    val avgdl = lit(sumDl.toDouble) / lit(n.toDouble)
    val dfreq = tf.groupBy(col("_term"))
      .agg(count(lit(1)).cast(DoubleType).as("_df"))
    val scored = tf.join(broadcast(dfreq), "_term")
      .withColumn("_idf",
        (lit(n.toDouble) - col("_df") + lit(0.5)) / (col("_df") + lit(0.5)))
      .withColumn("_s",
        col("_idf") * (col("_tf") * lit(k1 + 1.0)) /
          (col("_tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("_dl") / avgdl)))
    // pivot to fixed per-term columns (max over a 1-row group is
    // order-independent), then sum in the queryTerms order
    val perTerm: Seq[Column] = queryTerms.zipWithIndex.map { case (t, i) =>
      max(when(col("_term") === t, col("_s"))).as(s"_s$i")
    }
    val pivoted = scored.groupBy(col("_id")).agg(perTerm.head, perTerm.tail: _*)
    val score = queryTerms.indices
      .map(i => coalesce(col(s"_s$i"), lit(0.0)))
      .reduceLeft(_ + _)
    val nHit = queryTerms.indices
      .map(i => when(col(s"_s$i").isNotNull, 1).otherwise(0))
      .reduceLeft(_ + _)
    pivoted
      .select(col("_id"), score.as("score"), nHit.cast(IntegerType).as("n_terms_hit"))
      .orderBy(col("score").desc, col("_id"))
      .limit(k)
  }

  /** Persist an inverted postings index for BM25 probing: the text
    * twin of the IVF vector index (q65) — postings (term, doc, tf, dl)
    * written `partitionBy(term-bucket)`, so a query's terms prune the
    * read to ≤|terms| buckets via PartitionFilters; corpus constants
    * (N, Σdl) land in a 1-row `_stats` sidecar. Per-term document
    * frequencies are NOT materialized: the probe derives them exactly
    * from the postings it reads anyway (df = rows per term).
    *
    * Build cost: one corpus scan + one (term, doc) aggregate — the
    * one-off a production query stream amortizes. The md5 bucket is
    * the cross-engine [[Sampling.md5Bucket]] recipe, so any engine can
    * locate a term's bucket.
    */
  def writePostingsIndex(docs: DataFrame, idCol: String, textCol: String,
      path: String, nBuckets: Int = 32): Unit = {
    require(nBuckets >= 1, s"nBuckets must be >= 1: $nBuckets")
    val base = docs
      .select(col(idCol).as("_id"),
        nonEmptyTokens(lower(col(textCol))).as("_toks"))
    // corpus constants land in the shared index manifest (the former
    // one-off `_stats` sidecar, folded into the _graft_manifest
    // convention in round 10 so all persisted indexes audit alike)
    val st = base.agg(count(lit(1)).as("n"),
      sum(size(col("_toks")).cast(LongType)).as("sum_dl")).collect()(0)
    val (n, sumDl) = (st.getLong(0), if (st.isNullAt(1)) 0L else st.getLong(1))
    base
      .select(col("_id"), size(col("_toks")).cast(LongType).as("dl"),
        explode(col("_toks")).as("term"))
      .groupBy(col("term"), col("_id"))
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))
      .withColumn("tb", Sampling.md5Bucket(col("term"), nBuckets))
      .write.partitionBy("tb").mode("overwrite")
      .parquet(s"$path/postings")
    graft.sinks.Pruning.writeIndexMeta(docs.sparkSession, path,
      graft.sinks.Pruning.IndexMeta("postings", "tb", Map(
        "n_buckets" -> nBuckets.toLong, "n_docs" -> n, "sum_dl" -> sumDl)))
  }

  /** Driver-side twin of [[Sampling.md5Bucket]] for locating a term's
    * postings bucket without touching the cluster. */
  private[graft] def md5BucketOf(s: String, buckets: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    val hex = d.map(b => f"$b%02x").mkString.substring(0, 15)
    (java.lang.Long.parseLong(hex, 16) % buckets).toInt
  }

  /** BM25 top-k through the persisted postings index: reads ONLY the
    * query terms' buckets (PartitionFilters — PlanShapeSpec-asserted),
    * then runs the exact [[bm25TopK]] scoring tail, so results are
    * bit-identical to scanning the corpus. 100 TB of text, |terms|
    * bucket reads.
    */
  def bm25TopKFromIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String, queryTerms: Seq[String], k: Int = 20,
      k1: Double = 1.2, b: Double = 0.75, nBuckets: Int = 32): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    // same contract as bm25TopK: a duplicated term would double-count
    // its score and n_terms_hit through the per-term pivot — fail fast
    // instead of silently diverging from the direct-scan path
    require(queryTerms.distinct == queryTerms, "queryTerms must be distinct")
    // manifest handshake: corpus constants come FROM the index record,
    // and a probe invoked with a different bucket count than the build
    // throws instead of silently reading the wrong partitions.
    // Pre-round-10 indexes carried the constants in a 1-row `_stats`
    // sidecar instead — readers stay lenient for those (the Pruning
    // convention: strict once a manifest exists, lenient before), so
    // legacy artifacts remain probe-able without a rebuild; only an
    // index with NEITHER record is an error.
    val (n, sumDl) = graft.sinks.Pruning.readIndexMeta(spark, path) match {
      case Some(meta) =>
        graft.sinks.Pruning.requireIndexParams(spark, path, "postings",
          Map("n_buckets" -> nBuckets.toLong))
        (meta.params("n_docs"), meta.params("sum_dl"))
      case None =>
        val st =
          try graft.sources.Tables.read(spark, s"$path/_stats").collect()(0)
          catch { case _: org.apache.spark.sql.AnalysisException =>
            throw new IllegalStateException(
              s"no index manifest (and no legacy _stats sidecar) at " +
                s"$path — build with writePostingsIndex")
          }
        (st.getLong(0), st.getLong(1))
    }
    val buckets = queryTerms.map(t => md5BucketOf(t, nBuckets)).distinct
    val tf = graft.sources.Tables.read(spark, s"$path/postings")
      .filter(col("tb").isin(buckets: _*) &&
        col("term").isin(queryTerms: _*))
      .select(col("_id"), col("term").as("_term"),
        col("tf").cast(DoubleType).as("_tf"),
        col("dl").cast(DoubleType).as("_dl"))
    scoreTopK(tf, queryTerms, k, k1, b, n, sumDl)
      .withColumnRenamed("_id", idCol)
  }

  /** All-pairs nearest document by TF-IDF cosine over word n-grams —
    * the corpus-level "which documents say the same thing" map (BM25
    * above answers query→document; this is document→document). Exact
    * over a DECLARED vocabulary: n-gram terms with document frequency
    * ≤ `maxDf` (stop-phrase removal is part of the operator contract,
    * not a lossy shortcut — pair generation AND scoring use the same
    * filtered vocabulary, so the result is exactly the cosine in that
    * tf-idf space).
    *
    * Fixed-point exactness (the q138 recipe): idf quantizes to integer
    * milli-units (floor(1000·ln(N/df)) — one double ln on identical
    * operands per engine), weights are tf·idf integers, dot products
    * and norms accumulate in BIGINT, and the reported similarity is
    * (10⁶·ab² div (aa·bb)) in DECIMAL(38,0) integer division — no
    * float accumulation anywhere, bit-identical in any engine.
    *
    * Shape: (doc, term) frames keyed on the term for the inverted-
    * index pair join — candidates are bounded by the df cap (each
    * term contributes ≤ maxDf² pairs); norms are per-doc aggregates;
    * the per-doc best partner goes through [[graft.plans.TopKPerKey]]
    * (map-side bounded heaps), never a global sort.
    */
  def tfidfNearestNeighbors(docs: DataFrame, idCol: String,
      textCol: String, ngram: Int = 3, maxDf: Long = 50,
      k: Int = 1): DataFrame = {
    require(ngram >= 1 && maxDf >= 2 && k >= 1,
      s"bad tfidf-nn parameters ($ngram, $maxDf, $k)")
    val n = docs.count() // one driver scalar, like the BM25 stats row
    val tf = graft.sources.Tables.widen(docs)
      .select(col(idCol).as("_id"),
        explode(wordNGrams(col(textCol), ngram)).as("_t"))
      .groupBy(col("_id"), col("_t")).agg(count(lit(1)).as("_tf"))
    val dfc = tf.groupBy(col("_t")).agg(count(lit(1)).as("_df"))
      .where(col("_df") <= maxDf)
    val kept = tf.join(dfc, Seq("_t"))
      .withColumn("_w", (col("_tf") *
        floor(lit(1000.0) * log(lit(n.toDouble) / col("_df"))))
        .cast(LongType))
    val norms = kept.groupBy(col("_id"))
      .agg(sum(col("_w") * col("_w")).as("_nrm"))
    val a = kept.select(col("_t"), col("_id").as("_ida"), col("_w").as("_wa"))
    val b = kept.select(col("_t"), col("_id").as("_idb"), col("_w").as("_wb"))
    val pairs = a.join(b, Seq("_t"))
      .where(col("_ida") < col("_idb"))
      .groupBy(col("_ida"), col("_idb"))
      .agg(sum(col("_wa") * col("_wb")).as("_ab"))
    val sym = pairs.unionByName(pairs.select(col("_idb").as("_ida"),
      col("_ida").as("_idb"), col("_ab")))
    val scored = sym
      .join(norms.select(col("_id").as("_ida"), col("_nrm").as("_na")), Seq("_ida"))
      .join(norms.select(col("_id").as("_idb"), col("_nrm").as("_nb")), Seq("_idb"))
      .withColumn("cos2_micros", expr(
        "CAST((1000000 * CAST(_ab AS DECIMAL(38,0)) * CAST(_ab AS DECIMAL(38,0)))" +
          " div (CAST(_na AS DECIMAL(38,0)) * CAST(_nb AS DECIMAL(38,0))) AS BIGINT)"))
      .where(col("_ab") > 0)
    graft.plans.TopKPerKey.topKPerKey(scored,
        keys = Seq(col("_ida")),
        order = Seq(col("cos2_micros").desc, col("_idb").asc),
        k = k)
      .select(col("_ida").as(idCol), col("_idb").as("nn_id"),
        col("cos2_micros"))
      .orderBy(col(idCol), col("cos2_micros").desc, col("nn_id"))
  }

  /** Graded retrieval-quality evaluation: NDCG@k per query, in exact
    * integer arithmetic — the ranking-eval companion to the recall
    * contract (q173). DCG uses the engine's one replayable logarithm
    * ([[Unigram.ilog2Micro]]'s piecewise-linear micro-log2, the same
    * recipe behind the unigram tokenizer and entropy scoring):
    *
    *   dcg_micro  = Σ_{i≤k} rel_i · 10¹² div ilog2m(i + 1)
    *   idcg_micro = the same sum over the k best labels
    *   ndcg_ppm   = dcg·10⁶ div idcg  (NULL when no relevant docs)
    *
    * Scale shape: the run side is already ≤ |queries|·k rows; the
    * ideal side takes the top-k labels per query through ONE keyed
    * window over (query, rel desc, doc asc) — exchanges carry
    * (query, doc, rel) triples only. Unjudged run docs score rel 0
    * (the standard convention), via a left join on (query, doc).
    *
    * @param run  (qidCol, docCol, rankCol): ranked results, rank 1-based
    * @param rels (qidCol, docCol, relCol): graded labels (missing = 0)
    * @return (qidCol, dcg_micro, idcg_micro, ndcg_ppm) per query
    */
  def ndcgAtK(run: DataFrame, rels: DataFrame, qidCol: String,
      docCol: String, rankCol: String, relCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    // rel·10¹² div ilog2m(rank+1): one truncating integer division per
    // contribution, exactly replayable (rel ≥ 0 keeps operands positive)
    def gain(rel: Column, rank: Column): Column =
      call_function("div",
        (rel * 1000000000000L).cast(DecimalType(38, 0)),
        Unigram.ilog2Micro(rank + lit(1L))).cast(LongType)

    val labels = rels.select(col(qidCol).as("_q"), col(docCol).as("_d"),
      col(relCol).cast(LongType).as("_rel"))
    val dcg = run
      .select(col(qidCol).as("_q"), col(docCol).as("_d"),
        col(rankCol).cast(LongType).as("_r"))
      .filter(col("_r") <= k)
      .join(labels, Seq("_q", "_d"), "left_outer")
      .select(col("_q"), gain(coalesce(col("_rel"), lit(0L)), col("_r"))
        .as("_g"))
      .groupBy(col("_q")).agg(sum(col("_g")).as("dcg_micro"))

    val idealRank = Window.partitionBy(col("_q"))
      .orderBy(col("_rel").desc, col("_d").asc)
    val idcg = labels
      .withColumn("_ir", row_number().over(idealRank).cast(LongType))
      .filter(col("_ir") <= k && col("_rel") > 0)
      .select(col("_q"), gain(col("_rel"), col("_ir")).as("_g"))
      .groupBy(col("_q")).agg(sum(col("_g")).as("idcg_micro"))

    dcg.join(idcg, Seq("_q"), "left_outer")
      .select(col("_q").as(qidCol), col("dcg_micro"),
        coalesce(col("idcg_micro"), lit(0L)).as("idcg_micro"),
        expr("CAST((CAST(dcg_micro AS DECIMAL(38,0)) * 1000000) div " +
          "nullif(idcg_micro, 0) AS BIGINT)").as("ndcg_ppm"))
  }
}
