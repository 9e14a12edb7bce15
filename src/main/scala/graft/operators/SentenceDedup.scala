package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, StringType}

import graft.functions.TextFunctions.md5Hash60

/** C4-style duplicated sentence-span removal (Raffel et al. 2020
  * §2.2: "we discarded all but one of any three-sentence span
  * occurring more than once in the data set"): the SENTENCE-granular
  * sibling of the token-window ExactSubstr scrub
  * ([[SubstringDedup.exactSubstringDedup]]) — boilerplate legal
  * notices, cookie banners and syndicated paragraphs repeat as whole
  * sentences, and sentence boundaries are where a scrub can cut
  * without leaving half-words.
  *
  * Keep-first semantics: for every `spanLen`-sentence window whose
  * joined text occurs ≥ 2 times corpus-wide, the lexicographically
  * first (id, position) occurrence survives; every sentence covered by
  * a NON-first occurrence is removed from its document. Detection,
  * first-occurrence choice, coverage and reassembly all mirror the
  * ExactSubstr machinery one level up: spans hash to 60-bit md5 keys
  * (only hashes cross the detection exchange), coverage is the same
  * RANGE-frame window trick, and the reassembly is one id-keyed
  * rebuild.
  *
  * Scale: the exchanges carry (60-bit hash, id, pos) triples and one
  * id-keyed sentence reassembly — sentence text crosses once, exactly
  * like the q208 token scrub.
  */
object SentenceDedup {

  /** Per-document scrub report: (idCol, n_sentences, n_dropped, text)
    * where `text` is the surviving sentences re-joined in order.
    */
  def dropDuplicateSpans(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", spanLen: Int = 3): DataFrame = {
    require(spanLen >= 1, s"spanLen must be >= 1: $spanLen")
    val base = segmented(df, idCol, textCol)
    val occ = occurrences(base, spanLen)
    val dup = occ
      .groupBy(col("_h"))
      .agg(count(lit(1)).as("_cnt"),
        min(struct(col("_id").as("d"), col("_pos").as("p"))).as("_first"))
      .filter(col("_cnt") >= 2)
      .select(col("_h"), col("_first.d").as("_fd"), col("_first.p").as("_fp"))
    val marked = occ.join(dup, Seq("_h"))
      .filter(!(col("_id") === col("_fd") && col("_pos") === col("_fp")))
      .select(col("_id"), col("_pos"))
    scrubMarked(base, marked, idCol, spanLen)
  }

  /** Persist the corpus span-hash set: the distinct 60-bit hashes of
    * every `spanLen`-sentence window, under the shared
    * `_graft_manifest` convention (kind "spanhash"). The index is the
    * SEEN-SPAN memory cross-snapshot dedup needs: yesterday's corpus
    * writes once, each new crawl batch probes + appends — C4's rule
    * without recomputing yesterday's spans. One segmentation scan;
    * span text dies at the hash.
    */
  def writeSpanIndex(docs: DataFrame, idCol: String, textCol: String,
      path: String, spanLen: Int = 3): Unit = {
    val obs = new org.apache.spark.sql.Observation("span_index_write")
    spanHashes(docs.observe(obs, count(lit(1)).as("n_docs")),
        idCol, textCol, spanLen)
      .select(col("_h").as("h")).distinct()
      .write.mode("overwrite").parquet(s"$path/spans")
    graft.sinks.Pruning.writeIndexMeta(docs.sparkSession, path,
      graft.sinks.Pruning.IndexMeta("spanhash", "", Map(
        "span_len" -> spanLen.toLong,
        "n_docs" -> obs.get("n_docs").asInstanceOf[Long])))
  }

  /** Append a new batch's span hashes (fail-fast on a span_len
    * mismatch; freshness counter bumped AFTER the data lands — a
    * crash between leaves n_docs understating, benign as everywhere:
    * probes read the span set directly). Appended batches may re-add
    * hashes the index already holds; probes are semi-joins, so
    * duplicates cost bytes, never correctness — `compactParquet`
    * is the existing remedy when growth warrants it.
    */
  def appendToSpanIndex(docs: DataFrame, idCol: String, textCol: String,
      path: String, spanLen: Int = 3): Unit = {
    graft.sinks.Pruning.requireIndexParams(docs.sparkSession, path,
      "spanhash", Map("span_len" -> spanLen.toLong))
    val obs = new org.apache.spark.sql.Observation("span_index_append")
    spanHashes(docs.observe(obs, count(lit(1)).as("n_docs")),
        idCol, textCol, spanLen)
      .select(col("_h").as("h")).distinct()
      .write.mode("append").parquet(s"$path/spans")
    graft.sinks.FaultInjection.point("appendToSpanIndex:appended")
    graft.sinks.Pruning.bumpIndexMeta(docs.sparkSession, path,
      Map("n_docs" -> obs.get("n_docs").asInstanceOf[Long]))
  }

  /** Incremental scrub: clean a NEW batch against the persisted span
    * index AND against itself — a batch sentence span drops when its
    * hash is already in the index (yesterday's corpus wins) or when it
    * repeats within the batch (keep-first by (id, pos), the q249
    * rule). Same report shape as [[dropDuplicateSpans]]. Callers
    * append the surviving batch's hashes via [[appendToSpanIndex]]
    * when they commit the batch.
    *
    * Scale: the index side is a hash column only; the decision is one
    * hash-keyed semi-join plus the batch-local first-occurrence
    * aggregate — batch-sized work against an index READ, never a
    * recompute of the indexed corpus.
    */
  def dropDuplicateSpansIncremental(spark: org.apache.spark.sql.SparkSession,
      path: String, docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", spanLen: Int = 3): DataFrame = {
    require(spanLen >= 1, s"spanLen must be >= 1: $spanLen")
    graft.sinks.Pruning.requireIndexParams(spark, path,
      "spanhash", Map("span_len" -> spanLen.toLong))
    val base = segmented(docs, idCol, textCol)
    val occ = occurrences(base, spanLen)
    val indexed = graft.sources.Tables.read(spark, s"$path/spans")
      .select(col("h").as("_h")).distinct()
    val inIndex = occ.join(indexed, Seq("_h"), "left_semi")
      .select(col("_id"), col("_pos"))
    val dupInBatch = occ.join(
        occ.groupBy(col("_h"))
          .agg(count(lit(1)).as("_cnt"),
            min(struct(col("_id").as("d"), col("_pos").as("p"))).as("_first"))
          .filter(col("_cnt") >= 2)
          .select(col("_h"), col("_first.d").as("_fd"),
            col("_first.p").as("_fp")),
        Seq("_h"))
      .filter(!(col("_id") === col("_fd") && col("_pos") === col("_fp")))
      .select(col("_id"), col("_pos"))
    val marked = inIndex.unionByName(dupInBatch).distinct()
    scrubMarked(base, marked, idCol, spanLen)
  }

  private def segmented(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    graft.sources.Tables.widen(df)
      .select(col(idCol).as("_id"),
        Sentences.segment(col(textCol)).as("_sents"))

  /** (_id, _pos, _h): one row per span occurrence of a segmented
    * frame; span text dies here, only the 60-bit hash travels. */
  private def occurrences(base: DataFrame, spanLen: Int): DataFrame = {
    val windows = when(size(col("_sents")) < spanLen,
      array().cast(ArrayType(StringType)))
      .otherwise(transform(
        sequence(lit(1), size(col("_sents")) - lit(spanLen - 1)),
        i => array_join(slice(col("_sents"), i, lit(spanLen)), "\u001F")))
    base
      .select(col("_id"), posexplode(windows).as(Seq("_pos", "_sp")))
      .select(col("_id"), col("_pos"), md5Hash60(col("_sp")).as("_h"))
  }

  private def spanHashes(df: DataFrame, idCol: String, textCol: String,
      spanLen: Int): DataFrame =
    occurrences(segmented(df, idCol, textCol), spanLen)

  /** Coverage + reassembly over marked span starts — the shared tail
    * of the one-shot and incremental scrubs. */
  private def scrubMarked(base: DataFrame, marked: DataFrame,
      idCol: String, spanLen: Int): DataFrame = {
    // coverage: sentence at 0-based index j drops iff a marked span
    // start sits within [j - spanLen + 1, j] — the ExactSubstr
    // RANGE-frame union trick at sentence granularity
    val starts = marked
      .select(col("_id"), col("_pos"),
        lit(null).cast(StringType).as("_s"), lit(1).as("_hit"))
    val sented = base
      .select(col("_id"), posexplode(col("_sents")).as(Seq("_pos", "_s")))
      .withColumn("_hit", lit(0))
    val w = Window.partitionBy(col("_id")).orderBy(col("_pos"))
      .rangeBetween(-(spanLen - 1), 0)
    val covered = sented.unionByName(starts)
      .withColumn("_cov", max(col("_hit")).over(w))
      .filter(col("_s").isNotNull)
    val report = covered
      .groupBy(col("_id"))
      .agg(
        count(lit(1)).cast(IntegerType).as("n_sentences"),
        sum(col("_cov")).cast(IntegerType).as("n_dropped"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("_cov") === 0, struct(col("_pos"), col("_s"))))),
            x => x.getField("_s")), " ").as("text"))
    // sentence-less documents (empty/whitespace/null text) vanish at
    // the posexplode above — reinstate them as (0, 0, "") rows so the
    // report covers every input doc (the widen/left-join all-docs
    // convention; a caller substituting `text` back loses nothing)
    base.select(col("_id"))
      .join(report, Seq("_id"), "left")
      .select(col("_id").as(idCol),
        coalesce(col("n_sentences"), lit(0)).as("n_sentences"),
        coalesce(col("n_dropped"), lit(0)).as("n_dropped"),
        coalesce(col("text"), lit("")).as("text"))
  }
}
