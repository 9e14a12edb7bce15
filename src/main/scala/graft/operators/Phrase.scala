package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.TextFunctions.nonEmptyTokens

/** Exact PHRASE search: find documents containing an exact token
  * sequence — the corpus-forensics query ("which documents contain
  * this sentence?") behind contamination audits, quote tracing, and
  * boilerplate hunting. BM25 ([[Ranking]]) is bag-of-words and cannot
  * answer it; phrase search needs token POSITIONS and an adjacency
  * join.
  *
  * Two paths with bit-identical results (the q60/q224 direct-vs-index
  * discipline):
  *
  *   - [[phraseMatches]]: one corpus scan, positions materialized for
  *     the PHRASE TERMS ONLY (the `isin` filter runs inside the scan
  *     projection, so the exchange carries the phrase terms' postings,
  *     not the corpus).
  *   - [[writePositionalIndex]] / [[phraseMatchesFromIndex]]: persist
  *     (term, doc, pos) postings bucketed by term md5, then answer
  *     any phrase by reading |distinct terms| buckets
  *     (PartitionFilters — the 100 TB path: index once, probe in
  *     seconds).
  *
  * The match rule: token t_i of the phrase must sit at position
  * p + i for a match starting at p (0-based whitespace-token
  * positions over lowercased text — the [[Ranking]] tokenization).
  * Overlapping matches count separately ("a a a" contains "a a"
  * twice).
  *
  * Scale: every join is keyed by (doc, start) on term-posting-sized
  * frames — the plan is bounded by the RAREST phrase term's postings
  * list, never the corpus; a phrase of all-stopwords degrades to the
  * stopword posting volume, which is the honest cost of the query.
  */
object Phrase {

  /** Per-document match report for one phrase: (idCol, n_matches,
    * first_pos), documents with no match absent. Direct-scan variant.
    */
  def phraseMatches(docs: DataFrame, idCol: String, textCol: String,
      phrase: Seq[String]): DataFrame = {
    val terms = normalized(phrase)
    matchStarts(positions(docs, idCol, textCol, terms), idCol, terms)
  }

  /** Persist the positional postings index: (term, _id, pos) rows
    * partitioned by the term's md5 bucket, under the shared
    * `_graft_manifest` convention (kind "positional"). One corpus
    * scan; the exchange is the partitioned write's own shuffle.
    */
  def writePositionalIndex(docs: DataFrame, idCol: String,
      textCol: String, path: String, nBuckets: Int = 32): Unit = {
    require(nBuckets >= 1, s"nBuckets must be >= 1: $nBuckets")
    // the n_docs freshness counter rides the write job itself as an
    // observe() metric over the PRE-explode rows (counted where doc
    // rows flow, so empty/null-text docs still count) — a separate
    // docs.count() action here would pay a second full corpus scan per
    // (re)build at 100 TB (the r11 VERDICT finding; same convention as
    // TrainingPipeline's stage meters)
    val obs = new org.apache.spark.sql.Observation("pos_index_write")
    docs.observe(obs, count(lit(1)).as("n_docs"))
      .select(col(idCol).as("_id"),
        posexplode(nonEmptyTokens(lower(col(textCol)))))
      .withColumnRenamed("col", "term")
      .withColumn("tb", Sampling.md5Bucket(col("term"), nBuckets))
      .write.partitionBy("tb").mode("overwrite")
      .parquet(s"$path/postings")
    graft.sinks.Pruning.writeIndexMeta(docs.sparkSession, path,
      graft.sinks.Pruning.IndexMeta("positional", "tb", Map(
        "n_buckets" -> nBuckets.toLong,
        "n_docs" -> obs.get("n_docs").asInstanceOf[Long])))
  }

  /** Incremental maintenance: append a new document batch's positions
    * to a persisted positional index — same bucketing, fail-fast on a
    * parameter mismatch ([[graft.sinks.Pruning.requireIndexParams]]),
    * freshness counter bumped after the data lands (crash between the
    * two leaves `n_docs` understating the index — benign, probes read
    * postings directly; the unified-index convention shared with the
    * MinHash/IVF/postings appenders).
    */
  def appendToPositionalIndex(docs: DataFrame, idCol: String,
      textCol: String, path: String, nBuckets: Int = 32): Unit = {
    graft.sinks.Pruning.requireIndexParams(docs.sparkSession, path,
      "positional", Map("n_buckets" -> nBuckets.toLong))
    // batch size rides the append job as an observe() metric — one
    // scan total, as in [[writePositionalIndex]]
    val obs = new org.apache.spark.sql.Observation("pos_index_append")
    docs.observe(obs, count(lit(1)).as("n_docs"))
      .select(col(idCol).as("_id"),
        posexplode(nonEmptyTokens(lower(col(textCol)))))
      .withColumnRenamed("col", "term")
      .withColumn("tb", Sampling.md5Bucket(col("term"), nBuckets))
      .write.partitionBy("tb").mode("append")
      .parquet(s"$path/postings")
    graft.sinks.FaultInjection.point("appendToPositionalIndex:appended")
    graft.sinks.Pruning.bumpIndexMeta(docs.sparkSession, path,
      Map("n_docs" -> obs.get("n_docs").asInstanceOf[Long]))
  }

  /** Phrase report through the persisted index: reads ONLY the phrase
    * terms' buckets (an `isin` on the partition column →
    * PartitionFilters), then the same adjacency tail as the scan
    * variant — results bit-identical to [[phraseMatches]] over the
    * indexed corpus.
    */
  def phraseMatchesFromIndex(spark: SparkSession, path: String,
      idCol: String, phrase: Seq[String], nBuckets: Int = 32): DataFrame = {
    val terms = normalized(phrase)
    graft.sinks.Pruning.requireIndexParams(spark, path, "positional",
      Map("n_buckets" -> nBuckets.toLong))
    val buckets = terms.distinct.map(Ranking.md5BucketOf(_, nBuckets))
    val pos = graft.sources.Tables.read(spark, s"$path/postings")
      .filter(col("tb").isin(buckets.distinct: _*) &&
        col("term").isin(terms.distinct: _*))
      .select(col("_id"), col("pos"), col("term"))
    matchStarts(pos, idCol, terms)
  }

  /** BATCH probe: N phrases against ONE index read — the
    * contamination-audit shape (thousands of probe phrases per run),
    * where per-phrase [[phraseMatchesFromIndex]] calls would each pay
    * their own scan of the term buckets. One read of the UNION of all
    * phrases' buckets, then a single relational adjacency pass: each
    * (phrase, offset, term) row joins the postings to a candidate
    * start `pos − offset`, and a start is a match iff ALL `len` offsets
    * hit — `count(*) == len` per (phrase, doc, start), exact because a
    * posting row can satisfy only the offset that produced it. Same
    * per-phrase semantics as [[phraseMatches]] (overlaps count,
    * repeated terms handled), proven in PhraseSpec.
    *
    * Output: (phrase_id, idCol, n_matches, first_pos) — `phrase_id` is
    * the 0-based index into `phrases`; phrases with no match
    * contribute no rows.
    *
    * Scale: the phrase table is driver-side tiny (Σ phrase lengths)
    * and broadcast; the postings read is pruned to the probed buckets
    * (PartitionFilters); the one exchange is keyed
    * (phrase_id, doc, start) and bounded by Σ per-phrase posting
    * volumes — the same bound as N separate probes, paid with ONE scan
    * and ONE shuffle instead of N.
    */
  def phraseMatchesMany(spark: SparkSession, path: String, idCol: String,
      phrases: Seq[Seq[String]], nBuckets: Int = 32): DataFrame = {
    require(phrases.nonEmpty, "phrases must be non-empty")
    val norm = phrases.map(normalized)
    graft.sinks.Pruning.requireIndexParams(spark, path, "positional",
      Map("n_buckets" -> nBuckets.toLong))
    val allTerms = norm.flatten.distinct
    val buckets = allTerms.map(Ranking.md5BucketOf(_, nBuckets)).distinct
    import spark.implicits._
    val phraseTerms = norm.zipWithIndex.flatMap { case (ts, pid) =>
      ts.zipWithIndex.map { case (t, i) =>
        (pid.toLong, t, i.toLong, ts.length.toLong)
      }
    }.toDF("phrase_id", "term", "_i", "_len")
    val pos = graft.sources.Tables.read(spark, s"$path/postings")
      .filter(col("tb").isin(buckets: _*) &&
        col("term").isin(allTerms: _*))
      .select(col("_id"), col("pos"), col("term"))
    pos.join(broadcast(phraseTerms), Seq("term"))
      .select(col("phrase_id"), col("_id"),
        (col("pos").cast(LongType) - col("_i")).as("_start"), col("_len"))
      .groupBy(col("phrase_id"), col("_id"), col("_start"))
      .agg(count(lit(1)).as("_hits"), max(col("_len")).as("_len"))
      .filter(col("_hits") === col("_len"))
      .groupBy(col("phrase_id"), col("_id"))
      .agg(count(lit(1)).cast(LongType).as("n_matches"),
        min(col("_start")).as("first_pos"))
      .select(col("phrase_id"), col("_id").as(idCol),
        col("n_matches"), col("first_pos"))
  }

  private def normalized(phrase: Seq[String]): Seq[String] = {
    val terms = phrase.map(_.trim.toLowerCase)
    require(terms.nonEmpty && terms.forall(t => t.nonEmpty && !t.exists(_.isWhitespace)),
      s"phrase must be non-empty single tokens, got $phrase")
    terms
  }

  /** Phrase-term positions only: the `isin` runs inside the scan
    * projection's generator filter, so only phrase-term postings ever
    * reach an exchange.
    */
  private def positions(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String]): DataFrame =
    docs.select(col(idCol).as("_id"),
        posexplode(nonEmptyTokens(lower(col(textCol)))))
      .withColumnRenamed("col", "term")
      .filter(col("term").isin(terms.distinct: _*))

  /** Adjacency tail: intersect per-term start-candidate sets. Each
    * join is keyed (doc, start); per-term positions are unique, so
    * the joins never fan out.
    */
  private def matchStarts(pos: DataFrame, outIdCol: String,
      terms: Seq[String]): DataFrame = {
    var starts = pos.filter(col("term") === terms.head)
      .select(col("_id"), col("pos").cast(LongType).as("_start"))
    terms.zipWithIndex.drop(1).foreach { case (t, i) =>
      starts = starts.join(
        pos.filter(col("term") === t)
          .select(col("_id"), (col("pos").cast(LongType) - i).as("_start")),
        Seq("_id", "_start"))
    }
    starts.groupBy(col("_id"))
      .agg(count(lit(1)).cast(LongType).as("n_matches"),
        min(col("_start")).as("first_pos"))
      .select(col("_id").as(outIdCol), col("n_matches"), col("first_pos"))
  }
}
