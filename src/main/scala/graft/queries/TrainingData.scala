package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextFunctions._
import graft.operators.{Dedup, Similarity}
import graft.sources.Tables
import Det._

/** Training-data pipeline query surface (BASELINE.json north star):
  * dedup, similarity search, text analysis over `documents` /
  * `embeddings`. Oracle SQL provided wherever DuckDB can express the
  * same semantics; the MinHash/SimHash graph queries get rows-only
  * checks (their hash functions are engine-specific) and are instead
  * verified against exact Jaccard/hamming ground truth in ScalaTest.
  */
object TrainingData {

  type Q = (SparkSession, String) => DataFrame

  /** Exact dedup: keep the lowest doc_id per md5(text) fingerprint.
    * Scale: shuffles 16-byte hashes + ids, never content.
    */
  def q18ExactDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // duplicate injection (first 40 docs re-appended with shifted ids)
    // so the "drop the copy, keep the original" behavior is observable
    val withDups = docs.select(col("doc_id"), col("text"))
      .unionAll(docs.filter(col("doc_id") < 40)
        .select((col("doc_id") + 100000).as("doc_id"), col("text")))
    Dedup.dedupByFingerprint(withDups, "text", "doc_id")
      .select(col("doc_id"), md5(col("text")).as("fingerprint"))
      .orderBy("doc_id")
  }

  val q18Sql: String =
    """SELECT doc_id, md5(text) AS fingerprint FROM (
      |  SELECT doc_id, text,
      |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      |  FROM (
      |    SELECT doc_id, text FROM documents
      |    UNION ALL
      |    SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 40))
      |WHERE rn = 1
      |ORDER BY doc_id""".stripMargin

  /** Token counting + quality metrics per document (text analysis). */
  def q19TextStats(s: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    // one let-bound tokenization shared by the three token-derived
    // stats (composed by copy they re-split the document 3× per row —
    // the r14 qualityScore lesson); struct-then-reselect so
    // CollapseProject keeps the shared alias un-inlined. Same
    // expressions in the same operation order — bit-identical values.
    val stats = graft.functions.Bind.once(tokens(t)) { toks =>
      struct(
        size(toks).cast(IntegerType).as("n_tokens"),
        bpeishTokenCount(t).as("n_bpeish"),
        punctCount(t).as("n_punct"),
        length(t).cast(IntegerType).as("n_chars"),
        // stopwordCount splits lower(t), not t — its subtree stays
        // verbatim (lower-then-split vs split-then-lower is not
        // provably identical for every Unicode mapping)
        stopwordCount(t, enStopwords).as("n_stopwords"),
        (aggregate(toks, lit(0L), (acc, x) => acc + length(x))
          .cast(DoubleType) /
          greatest(size(toks).cast(IntegerType), lit(1)).cast(DoubleType))
          .as("mean_token_len"))
    }
    Tables.widen(Tables.documents(s, dir))
      .select(col("doc_id"), stats.as("_s"))
      .select(col("doc_id"), col("_s.n_tokens").as("n_tokens"),
        col("_s.n_bpeish").as("n_bpeish"), col("_s.n_punct").as("n_punct"),
        col("_s.n_chars").as("n_chars"),
        col("_s.n_stopwords").as("n_stopwords"),
        col("_s.mean_token_len").as("mean_token_len"))
      .orderBy("doc_id")
  }

  // DuckDB reimplementation: same token/regex semantics, double division
  val q19Sql: String =
    """SELECT doc_id,
      |  CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_tokens,
      |  CAST(len(regexp_extract_all(text, '[\p{L}]+|[\p{N}]+|[^\s\p{L}\p{N}]')) AS INT) AS n_bpeish,
      |  CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS INT) AS n_punct,
      |  CAST(length(text) AS INT) AS n_chars,
      |  CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
      |    t -> list_contains(['the','a','an','and','or','of','to','in','is','are','was',
      |                        'it','that','this','for','on','with','as','at','by','be'], t))) AS INT) AS n_stopwords,
      |  CAST(list_sum(list_transform(string_split_regex(trim(text), '\s+'), t -> length(t))) AS DOUBLE)
      |    / greatest(len(string_split_regex(trim(text), '\s+')), 1) AS mean_token_len
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Language-ID heuristic + quality score per document, summarized.
    * The corpus is synthetic English-ish for every `lang` label, so the
    * oracle checks the HEURISTIC's determinism (same formula in SQL),
    * not label recovery.
    */
  def q20LangQuality(s: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    Tables.widen(Tables.documents(s, dir))
      .select(col("doc_id"), langIdHeuristic(t).as("lang_pred"),
        qualityScore(t).as("quality"))
      .groupBy(col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"), exactSum(col("quality")).as("sum_quality"))
      .orderBy("lang_pred")
  }

  val q20Sql: String = {
    val stop = "['the','a','an','and','or','of','to','in','is','are','was'," +
      "'it','that','this','for','on','with','as','at','by','be']"
    // mirrors TextFunctions.qualityScore / langIdHeuristic term by term
    s"""WITH scored AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_extract_all(lower(text), '\\b(the|and|of|to|is|in|that|for|with|was)\\b')) AS INT) AS s_en,
       |    CAST(len(regexp_extract_all(lower(text), '\\b(el|la|los|las|de|que|y|en|un|una|es|por)\\b')) AS INT) AS s_es,
       |    CAST(len(regexp_extract_all(lower(text), '\\b(der|die|das|und|ist|nicht|ein|eine|mit|von|zu)\\b')) AS INT) AS s_de,
       |    CAST(len(regexp_extract_all(lower(text), '\\b(le|les|des|et|est|une|du|dans|pour|que|qui)\\b')) AS INT) AS s_fr,
       |    regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') AS has_cjk,
       |    len(string_split_regex(trim(text), '\\s+')) AS n_tok,
       |    CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
       |      t -> list_contains($stop, t))) AS DOUBLE) AS n_stop,
       |    CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE) AS n_punct,
       |    CAST(length(text) AS DOUBLE) AS n_chars,
       |    CAST(list_sum(list_transform(string_split_regex(trim(text), '\\s+'), t -> length(t))) AS DOUBLE) AS tok_chars
       |  FROM documents),
       |q AS (
       |  SELECT doc_id,
       |    CASE
       |      WHEN has_cjk THEN 'zh'
       |      WHEN s_en = 0 AND s_es = 0 AND s_de = 0 AND s_fr = 0 THEN 'und'
       |      WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
       |      WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
       |      WHEN s_de >= s_fr THEN 'de'
       |      ELSE 'fr' END AS lang_pred,
       |    least(n_tok / 100.0, 1.0) * 0.3
       |      + least((n_stop / greatest(n_tok, 1)) * 3.0, 1.0) * 0.3
       |      + greatest(1.0 - (n_punct / greatest(n_chars, 1)) * 10.0, 0.0) * 0.2
       |      + (CASE WHEN tok_chars / greatest(n_tok, 1) BETWEEN 3.0 AND 10.0
       |              THEN 1.0 ELSE 0.5 END) * 0.2 AS quality
       |  FROM scored)
       |SELECT lang_pred, count(*) AS n_docs,
       |  CAST(sum(CAST(quality AS DECIMAL(18,6))) AS DOUBLE) AS sum_quality
       |FROM q GROUP BY lang_pred ORDER BY lang_pred""".stripMargin
  }

  /** MinHash+LSH near-dup pairs over a corpus with planted near-dups
    * (each doc_id < 60 re-appended with its tail truncated — high but
    * not perfect Jaccard), verified by exact n-gram Jaccard ≥ 0.5.
    *
    * Oracle-checked bit-for-bit: the exact verification step makes the
    * output a deterministic SUBSET of the true J ≥ 0.5 pairs, and the
    * (96 hashes × 24 bands) config drives per-pair miss probability
    * below 10⁻² for the corpus's worst true pair (J ≈ 0.69) — measured
    * recall on the harness corpus is 100%, so the result equals DuckDB's
    * exact all-pairs Jaccard join. The oracle is the inverted-index
    * formulation (explode shingles → equi-join → per-pair overlap
    * counts); the naive list_intersect all-pairs form is ~60× slower.
    */
  def q21MinhashNearDup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val planted = docs.unionAll(
      docs.filter(col("doc_id") < 60).select(
        (col("doc_id") + 100000).as("doc_id"),
        expr("substring(text, 1, greatest(length(text) - 15, 40))").as("text")))
    Dedup.verifiedNearDupPairs(planted, "doc_id", "text", minJaccard = 0.5,
        shingleSize = 7, numHashes = 96, bands = 24)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .orderBy("id_a", "id_b")
  }

  val q21Sql: String =
    """WITH planted AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000 AS doc_id,
      |    substr(text, 1, greatest(length(text) - 15, 40)) AS text
      |  FROM documents WHERE doc_id < 60),
      |sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, length(text)-7+2), i -> substr(text, i, 7))) AS s
      |  FROM planted WHERE length(text) >= 7),
      |ex AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM sh),
      |inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    count(*) AS i, any_value(a.n) AS na, any_value(b.n) AS nb
      |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id)
      |SELECT id_a, id_b,
      |  CAST(i AS DOUBLE) / CAST(na + nb - i AS DOUBLE) AS jaccard
      |FROM inter
      |WHERE CAST(i AS DOUBLE) / CAST(na + nb - i AS DOUBLE) >= 0.5
      |ORDER BY id_a, id_b""".stripMargin

  /** SimHash near-dup pairs over the same planted corpus (hamming ≤ 7,
    * 8-chunk banding → pigeonhole-guaranteed 100% recall, exact hamming
    * verification → 100% precision: the output is EXACTLY the set of
    * pairs at hamming ≤ 7, independent of the LSH plumbing).
    *
    * Uses the cross-engine md5-derived 60-bit SimHash
    * ([[graft.functions.TextFunctions.simHashMd5]]) so DuckDB can
    * recompute every signature bit-for-bit and verify the pair set via
    * an all-pairs `bit_count(xor(...))` — a full hash-match oracle for
    * an LSH operator. The xxhash64 codegen SimHash remains the scale
    * default in [[graft.operators.Dedup.simHashNearDupPairs]].
    */
  def q22SimhashNearDup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val planted = docs.unionAll(
      docs.filter(col("doc_id") < 60).select(
        (col("doc_id") + 100000).as("doc_id"),
        // append one token: tiny token-multiset perturbation
        concat(col("text"), lit(" appended")).as("text")))
    Dedup.simHashNearDupPairs(planted, "doc_id", "text",
        simhashOf = graft.expressions.SimHashMd5Expression.simhashMd5Native(_))
      .select(col("id_a"), col("id_b"), col("hamming"))
      .orderBy("id_a", "id_b")
  }

  val q22Sql: String =
    """WITH planted AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000 AS doc_id, text || ' appended' AS text
      |  FROM documents WHERE doc_id < 60),
      |th AS (
      |  SELECT doc_id, ('0x'||substr(md5(tok), 1, 15))::BIGINT AS h
      |  FROM (SELECT doc_id, unnest(list_filter(string_split_regex(trim(text), '\s+'),
      |                                          t -> length(t) > 0)) AS tok
      |        FROM planted WHERE text IS NOT NULL)),
      |votes AS (
      |  SELECT doc_id, i, sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
      |  FROM th CROSS JOIN (SELECT unnest(range(60)) AS i) bits
      |  GROUP BY doc_id, i),
      |shv AS (
      |  SELECT doc_id,
      |    sum(CASE WHEN v > 0 THEN (1::BIGINT << i) ELSE 0::BIGINT END) AS simhash
      |  FROM votes GROUP BY doc_id),
      |sh AS (
      |  SELECT p.doc_id, coalesce(v.simhash, 0::BIGINT) AS simhash
      |  FROM (SELECT doc_id FROM planted WHERE text IS NOT NULL) p
      |  LEFT JOIN shv v USING (doc_id))
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
      |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.simhash, b.simhash)) <= 7
      |ORDER BY id_a, id_b""".stripMargin

  /** Embedding inner-product top-3 neighbors for query vectors
    * vec_id < 5 — decimal-exact arithmetic so the DuckDB oracle (same
    * per-element products, exact decimal sum via sequential list fold)
    * hash-matches bit for bit.
    */
  def q23DotTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < 5)
    Similarity.dotTopKExact(emb, queries, "vec_id", "embedding", k = 3)
      .orderBy("query_id", "rank")
  }

  val q23Sql: String =
    """SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
      |  CAST(list_reduce(
      |    list_transform(list_zip(q.embedding, e.embedding),
      |      x -> CAST(CAST(CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE) AS DECIMAL(20,12)) AS DECIMAL(32,12))),
      |    (a, b) -> CAST(a + b AS DECIMAL(32,12))) AS DOUBLE) AS dot,
      |  CAST(row_number() OVER (
      |    PARTITION BY q.vec_id
      |    ORDER BY list_reduce(
      |      list_transform(list_zip(q.embedding, e.embedding),
      |        x -> CAST(CAST(CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE) AS DECIMAL(20,12)) AS DECIMAL(32,12))),
      |      (a, b) -> CAST(a + b AS DECIMAL(32,12))) DESC, e.vec_id ASC) AS INT) AS rank
      |FROM embeddings q JOIN embeddings e ON q.vec_id < 5 AND e.vec_id <> q.vec_id
      |QUALIFY rank <= 3
      |ORDER BY query_id, rank""".stripMargin

  /** S7-style unnest: posexplode the embedding arrays (vec_id < 20).
    * Float values round-trip bit-exactly through both engines.
    */
  def q24UnnestEmbeddings(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .filter(col("vec_id") < 20)
      .select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("pos", "val")))
      .withColumn("pos", col("pos").cast(IntegerType))
      .orderBy("vec_id", "pos")

  val q24Sql: String =
    """SELECT vec_id,
      |  CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
      |  unnest(embedding) AS val
      |FROM embeddings
      |WHERE vec_id < 20
      |ORDER BY vec_id, pos""".stripMargin

  /** Document fingerprints: whole-doc md5 over normalized content +
    * rolling min-md5 shingle fingerprint — the cross-engine family
    * ([[graft.functions.TextFunctions.docFingerprintMd5]]), so DuckDB
    * reproduces both values bit-for-bit (hash-match oracle). The
    * cheaper xxhash64 variants remain the 100 TB default and are
    * spec-verified for stability.
    */
  def q25Fingerprints(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.widen(Tables.documents(s, dir))
    docs.select(col("doc_id"),
      docFingerprintMd5(col("text")).as("fingerprint"),
      rollingMinFingerprintMd5(col("text")).as("rolling_fp"))
      .orderBy("doc_id")
  }

  val q25Sql: String =
    """SELECT doc_id,
      |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
      |  CASE WHEN length(text) < 8 THEN NULL
      |       ELSE list_min(list_transform(range(1, length(text)-8+2),
      |                     i -> md5(substr(text, i, 8)))) END AS rolling_fp
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Deterministic train/val/test split summary (hash-stable, layout-
    * independent — no rand()). Uses the cross-engine md5 bucket
    * ([[graft.operators.Sampling.md5Split]]) so any ANSI engine can
    * audit the assignment — hash-match oracle. The xxhash64 split
    * ([[graft.operators.Sampling.hashSplit]]) is the cheaper scale
    * default; stability/disjointness/nesting proven in SamplingSpec.
    */
  def q39HashSplit(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.md5Split(
        Tables.documents(s, dir), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast(org.apache.spark.sql.types.LongType).as("total_chars"))
      .orderBy("split")

  val q39Sql: String =
    """WITH b AS (
      |  SELECT n_chars,
      |    ('0x'||substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 1000000 AS bucket
      |  FROM documents),
      |assigned AS (
      |  SELECT n_chars,
      |    CASE WHEN bucket < 800000 THEN 'train'
      |         WHEN bucket < 900000 THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM b)
      |SELECT split, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM assigned
      |GROUP BY split
      |ORDER BY split""".stripMargin

  /** Embedding-cosine near-dup pairs: random-hyperplane LSH bucket
    * candidates + exact cosine verification, over a corpus with planted
    * identical twins (vec_id < 20 re-appended). Identical vectors share
    * every LSH bit, so the planted pairs are found with certainty; the
    * synthetic corpus has no natural pair at cosine ≥ 0.95, so the
    * result is exactly the planted set. The output carries ONLY the id
    * pair — set equality is engine-independent, no float comparison in
    * the oracle — while the DuckDB side verifies via exact all-pairs
    * cosine (quadratic: fine at 2k vectors, the reason the LSH path
    * exists at 10⁹).
    */
  def q42EmbeddingNearDup(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val planted = emb.unionAll(
      emb.filter(col("vec_id") < 20)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
    Dedup.embeddingNearDupPairs(planted, "vec_id", "embedding",
        dim = 64, minCosine = 0.95)
      .select(col("id_a"), col("id_b"))
      .orderBy("id_a", "id_b")
  }

  val q42Sql: String =
    """WITH planted AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings WHERE vec_id < 20),
      |n AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
      |                     (a, b) -> a + b)) AS nrm
      |  FROM planted)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b
      |FROM n a JOIN n b ON a.vec_id < b.vec_id
      |WHERE list_reduce(list_transform(list_zip(a.embedding, b.embedding),
      |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (x, y) -> x + y)
      |      / (a.nrm * b.nrm) >= 0.95
      |ORDER BY id_a, id_b""".stripMargin

  /** Embedding near-dup with NEAR-BUT-NOT-IDENTICAL planted pairs:
    * each planted copy perturbs the first component by +0.04 (float
    * arithmetic — bit-identical in both engines), so the planted
    * cosine is ≈ 0.999: high, but the signatures are no longer equal
    * bit-for-bit. This exercises the banded (pigeonhole-chunk) LSH
    * recall path that identical twins (q42) cannot: the pair is found
    * only if at least one signature chunk survives the perturbation —
    * hence 4 chunks here (vs the default 3) with auto-tuned width:
    * per-pair miss stays ≤ ~10⁻³ at this cosine across corpus sizes
    * (verified 20/20 on the harness corpora at sf0.01 AND sf0.1 and on
    * the 10× synthetic scale-up). Output is the id-pair set; DuckDB
    * verifies against exact all-pairs cosine ≥ 0.95 (both engines fold
    * the SAME stored floats in the same order, and every true pair
    * sits ≈0.999 — far from the threshold — so set equality is
    * robust).
    */
  def q42bEmbeddingNearDupNear(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val planted = emb.unionAll(
      emb.filter(col("vec_id") < 20).select(
        (col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, x + lit(0.04f)).otherwise(x)).as("embedding")))
    Dedup.embeddingNearDupPairs(planted, "vec_id", "embedding",
        dim = 64, minCosine = 0.95, nChunks = 4)
      .select(col("id_a"), col("id_b"))
      .orderBy("id_a", "id_b")
  }

  val q42bSql: String =
    """WITH planted AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 100000 AS vec_id,
      |    list_concat([embedding[1] + 0.04::FLOAT], embedding[2:]) AS embedding
      |  FROM embeddings WHERE vec_id < 20),
      |n AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
      |                     (a, b) -> a + b)) AS nrm
      |  FROM planted)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b
      |FROM n a JOIN n b ON a.vec_id < b.vec_id
      |WHERE list_reduce(list_transform(list_zip(a.embedding, b.embedding),
      |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (x, y) -> x + y)
      |      / (a.nrm * b.nrm) >= 0.95
      |ORDER BY id_a, id_b""".stripMargin

  /** Benchmark decontamination: training docs sharing a verbatim
    * 30-char n-gram with a simulated eval set (a 120-char slice of each
    * doc_id < 30). Exact on both engines — the planted sources are
    * flagged by construction, plus any document that genuinely repeats
    * one of those 30-char substrings verbatim.
    */
  def q43Decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val bench = docs.filter(col("doc_id") < 30)
      .select(expr("substring(text, 21, 120)").as("btext"))
    graft.operators.TextAnalysis
      .flagContaminated(docs, "doc_id", "text", bench, "btext", n = 30)
      .orderBy("doc_id")
  }

  val q43Sql: String =
    """WITH bench AS (
      |  SELECT substr(text, 21, 120) AS btext FROM documents WHERE doc_id < 30),
      |bg AS (
      |  SELECT DISTINCT unnest(list_distinct(list_transform(
      |    range(1, length(btext)-30+2), i -> substr(btext, i, 30)))) AS g
      |  FROM bench WHERE length(btext) >= 30),
      |dg AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(1, length(text)-30+2), i -> substr(text, i, 30)))) AS g
      |  FROM documents WHERE length(text) >= 30)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
      |FROM dg JOIN bg USING (g)
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** Binary media stats: the multimodal storage pattern (opaque
    * `binary` column + typed metadata, `operators/Multimodal.scala`)
    * exercised end-to-end with an oracle. Text bytes stand in for media
    * payloads (the container has no image/audio codecs — the DATAFLOW
    * is the thing under test): byte length, content digest, and head
    * samples in base64/hex — the metadata a media-ingest pipeline
    * derives before any decode. All operations are on BinaryType
    * columns in Spark and byte-equivalent BLOB/string ops in DuckDB.
    */
  def q48BinaryMediaStats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      length(col("text").cast(org.apache.spark.sql.types.BinaryType))
        .cast(IntegerType).as("n_bytes"),
      md5(col("text").cast(org.apache.spark.sql.types.BinaryType)).as("content_md5"),
      base64(expr("cast(substring(text, 1, 24) as binary)")).as("head_b64"),
      lower(hex(expr("cast(substring(text, 1, 12) as binary)"))).as("head_hex"))
      .orderBy("doc_id")

  val q48Sql: String =
    """SELECT doc_id,
      |  CAST(strlen(text) AS INT) AS n_bytes,
      |  md5(text) AS content_md5,
      |  to_base64(encode(substr(text, 1, 24))) AS head_b64,
      |  lower(hex(encode(substr(text, 1, 12)))) AS head_hex
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** C13 for real: synthesize a solid-color PNG per document (dims and
    * fill color are pure functions of doc_id), draw the reference-style
    * text overlay (white, 1-px black outline, at (10,10) — ImageIO +
    * Java2D, `/root/reference/openweatherbasicmap.py:36-83`), then
    * DECODE THE OVERLAID PNG and report raster width/height, container
    * format, and the top-left pixel. The DuckDB oracle recomputes the
    * expected values from the same doc_id formulas — a genuine
    * cross-engine check that the encode → overlay → re-encode → decode
    * chain is real: a stubbed codec could not reproduce the decoded
    * dimensions or the round-tripped pixel color. (The overlay leaves
    * column x=0 untouched — outline glyphs start at x ≥ 9 — so the
    * (0,0) probe reads the original fill.)
    */
  def q49ImageRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Multimodal
    val base = Tables.widen(Tables.documents(s, dir)).select(
      col("doc_id"),
      (lit(16) + col("doc_id") % 48).cast(IntegerType).as("w"),
      (lit(16) + (col("doc_id") * 7) % 32).cast(IntegerType).as("h"),
      (col("doc_id") % 256).cast(IntegerType).as("r"),
      ((col("doc_id") * 31) % 256).cast(IntegerType).as("g"),
      ((col("doc_id") * 97) % 256).cast(IntegerType).as("b"),
      concat(lit("ID:"), col("doc_id")).as("overlay_text"))
    val png = Multimodal.synthesizeImages(base, "w", "h", "r", "g", "b")
    val overlaid = Multimodal.overlayImage(png)
    Multimodal.decodeImageMeta(overlaid, binCol = "content_overlaid")
      .select(col("doc_id"),
        col("img_width").as("width"), col("img_height").as("height"),
        col("img_format").as("format"), col("img_pixel00").as("px00"))
      .orderBy("doc_id")
  }

  val q49Sql: String =
    """SELECT doc_id,
      |  CAST(16 + doc_id % 48 AS INT) AS width,
      |  CAST(16 + (doc_id * 7) % 32 AS INT) AS height,
      |  'png' AS format,
      |  printf('%02x%02x%02x', doc_id % 256, (doc_id * 31) % 256, (doc_id * 97) % 256) AS px00
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** REAL image resize round-trip (q49's sibling for the
    * thumbnail/normalize step — [[graft.operators.Multimodal.resizeImage]]):
    * synthesize a solid-color PNG per doc (real ImageIO encode),
    * bilinear-resize it to doc_id-derived target dimensions (real
    * Java2D), decode the RESULT (real ImageIO decode) and emit its
    * header facts + corner pixel. The decoded dimensions can only
    * match if the scale actually ran; the corner pixel is exact
    * because bilinear interpolation of a CONSTANT field is the
    * constant (weights sum to 1) — so the oracle recomputes everything
    * from the formulas with no float tolerance.
    */
  def q79ImageResize(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Multimodal
    val base = Tables.widen(Tables.documents(s, dir)).select(
      col("doc_id"),
      (lit(16) + col("doc_id") % 48).cast(IntegerType).as("w"),
      (lit(16) + (col("doc_id") * 7) % 32).cast(IntegerType).as("h"),
      (col("doc_id") % 256).cast(IntegerType).as("r"),
      ((col("doc_id") * 31) % 256).cast(IntegerType).as("g"),
      ((col("doc_id") * 97) % 256).cast(IntegerType).as("b"),
      (lit(8) + col("doc_id") % 24).cast(IntegerType).as("target_w"),
      (lit(8) + (col("doc_id") * 5) % 24).cast(IntegerType).as("target_h"))
    val png = Multimodal.synthesizeImages(base, "w", "h", "r", "g", "b")
    val resized = Multimodal.resizeImage(png)
    Multimodal.decodeImageMeta(resized, binCol = "content_resized")
      .select(col("doc_id"),
        col("img_width").as("width"), col("img_height").as("height"),
        col("img_format").as("format"), col("img_pixel00").as("px00"))
      .orderBy("doc_id")
  }

  val q79Sql: String =
    """SELECT doc_id,
      |  CAST(8 + doc_id % 24 AS INT) AS width,
      |  CAST(8 + (doc_id * 5) % 24 AS INT) AS height,
      |  'png' AS format,
      |  printf('%02x%02x%02x', doc_id % 256, (doc_id * 31) % 256, (doc_id * 97) % 256) AS px00
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Int8-quantized vector search on the oracle gate
    * ([[graft.operators.Quantize]]): quantize the embeddings corpus to
    * per-vector int8 codes (the 4× index-shrink a 10⁹-vector corpus
    * stores), then answer top-1 cosine queries by dequantizing INSIDE
    * the scoring projection. Every step is closed-form deterministic
    * double arithmetic (floor(x+0.5) rounding, left-to-right folds),
    * so DuckDB replays quantize → dequantize → cosine → rank exactly
    * and the id output hash-matches — any quantization bug (a
    * mis-rounded code, a scale off by one ulp, a tie broken
    * differently on degraded cosines) reorders some neighbor.
    */
  def q80QuantizedTopK(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Quantize
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val qz = Quantize.quantizeInt8(emb, "vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 20)
    Quantize.dequantCosineTopK(qz, queries, "vec_id", "embedding", k = 1)
      .select(col("query_id"), col("neighbor_id"))
      .orderBy("query_id")
  }

  val q80Sql: String =
    """WITH e AS (SELECT vec_id, embedding FROM embeddings),
      |qz0 AS (
      |  SELECT vec_id, embedding,
      |    CAST(list_min(embedding) AS DOUBLE) AS qmin,
      |    (CAST(list_max(embedding) AS DOUBLE) - CAST(list_min(embedding) AS DOUBLE)) / 255.0 AS qscale
      |  FROM e),
      |dq AS (
      |  SELECT vec_id,
      |    list_transform(
      |      list_transform(embedding, x -> CASE WHEN qscale = 0 THEN 0
      |        ELSE CAST(floor((CAST(x AS DOUBLE) - qmin) / qscale + 0.5) AS INT) END),
      |      q -> qmin + CAST(q AS DOUBLE) * qscale) AS dv
      |  FROM qz0),
      |n_dq AS (
      |  SELECT vec_id, dv,
      |    sqrt(list_reduce(list_transform(dv, x -> x * x), (a, b) -> a + b)) AS nrm
      |  FROM dq),
      |n_q AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
      |                     (a, b) -> a + b)) AS nrm
      |  FROM e WHERE vec_id < 20)
      |SELECT nq.vec_id AS query_id, c.vec_id AS neighbor_id
      |FROM n_q nq JOIN n_dq c ON c.vec_id <> nq.vec_id
      |QUALIFY row_number() OVER (PARTITION BY nq.vec_id ORDER BY
      |  list_reduce(list_transform(list_zip(nq.embedding, c.dv),
      |    x -> CAST(x[1] AS DOUBLE) * x[2]), (a, b) -> a + b)
      |    / (nq.nrm * c.nrm) DESC, c.vec_id ASC) = 1
      |ORDER BY query_id""".stripMargin

  /** Near-dup components: the q21 pair graph (exact-verified J ≥ 0.5
    * pairs over the planted corpus) collapsed to connected components —
    * (doc_id, component_id = min reachable id), the canonical-document
    * assignment a keep-one-per-cluster dedup applies. The DuckDB
    * oracle is an INDEPENDENT formulation: recursive-CTE transitive
    * closure over the same exact pair set, then min per node — so this
    * checks the distributed label-propagation against a from-first-
    * principles graph reachability computation.
    */
  def q50DedupComponents(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val planted = docs.unionAll(
      docs.filter(col("doc_id") < 60).select(
        (col("doc_id") + 100000).as("doc_id"),
        expr("substring(text, 1, greatest(length(text) - 15, 40))").as("text")))
    val pairs = Dedup.verifiedNearDupPairs(planted, "doc_id", "text",
      minJaccard = 0.5, shingleSize = 7, numHashes = 96, bands = 24)
    Dedup.connectedComponents(pairs)
      .select(col("id").as("doc_id"), col("component_id"))
      .orderBy("doc_id")
  }

  val q50Sql: String =
    """WITH RECURSIVE planted AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000 AS doc_id,
      |    substr(text, 1, greatest(length(text) - 15, 40)) AS text
      |  FROM documents WHERE doc_id < 60),
      |sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, length(text)-7+2), i -> substr(text, i, 7))) AS s
      |  FROM planted WHERE length(text) >= 7),
      |ex AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM sh),
      |inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    count(*) AS i, any_value(a.n) AS na, any_value(b.n) AS nb
      |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id),
      |pairs AS (
      |  SELECT id_a, id_b FROM inter
      |  WHERE CAST(i AS DOUBLE) / CAST(na + nb - i AS DOUBLE) >= 0.5),
      |edges AS (
      |  SELECT id_a AS s, id_b AS d FROM pairs
      |  UNION
      |  SELECT id_b AS s, id_a AS d FROM pairs),
      |reach(s, d) AS (
      |  SELECT s, d FROM edges
      |  UNION
      |  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s)
      |SELECT s AS doc_id, least(min(d), s) AS component_id
      |FROM reach
      |GROUP BY s
      |ORDER BY doc_id""".stripMargin

  /** Training-corpus PII scrub: plant a deterministic email / URL /
    * phone per document, run the full mask-and-normalize pipeline
    * ([[graft.functions.TextFunctions.scrubText]]), and emit the md5
    * of the scrubbed text plus per-kind match counts. The DuckDB
    * oracle replays the identical RE2-compatible regex chain — an
    * md5 hash-match proves the masking is byte-identical cross-engine
    * on every document.
    */
  def q51ScrubPii(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.widen(Tables.documents(s, dir))
    val planted = docs.select(col("doc_id"),
      concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com or https://ex.org/d/"),
        col("doc_id"), lit(" tel +1 (555) 010-"),
        lpad((col("doc_id") % 10000).cast(org.apache.spark.sql.types.StringType), 4, "0"))
        .as("text"))
    planted.select(col("doc_id"),
      md5(scrubText(col("text"))).as("scrubbed_md5"),
      size(regexp_extract_all(col("text"), lit(emailPattern), lit(0)))
        .cast(IntegerType).as("n_emails"),
      size(regexp_extract_all(col("text"), lit(urlPattern), lit(0)))
        .cast(IntegerType).as("n_urls"),
      size(regexp_extract_all(col("text"), lit(phonePattern), lit(0)))
        .cast(IntegerType).as("n_phones"))
      .orderBy("doc_id")
  }

  // the SQL twin interpolates the SAME pattern constants the Spark side
  // masks/counts with (Java's "\\s" renders as the raw "\s" DuckDB
  // expects; none of the patterns contain a single quote)
  val q51Sql: String =
    s"""WITH planted AS (
       |  SELECT doc_id,
       |    text || ' contact user' || doc_id || '@example.com or https://ex.org/d/'
       |      || doc_id || ' tel +1 (555) 010-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') AS text
       |  FROM documents)
       |SELECT doc_id,
       |  md5(trim(regexp_replace(
       |    regexp_replace(
       |      regexp_replace(
       |        regexp_replace(text,
       |          '$emailPattern', '<EMAIL>', 'g'),
       |        '$urlPattern', '<URL>', 'g'),
       |      '$phonePattern', '<PHONE>', 'g'),
       |    '\\s+', ' ', 'g'))) AS scrubbed_md5,
       |  CAST(len(regexp_extract_all(text, '$emailPattern')) AS INT) AS n_emails,
       |  CAST(len(regexp_extract_all(text, '$urlPattern')) AS INT) AS n_urls,
       |  CAST(len(regexp_extract_all(text, '$phonePattern')) AS INT) AS n_phones
       |FROM planted
       |ORDER BY doc_id""".stripMargin

  /** Document-term matrix + per-doc top terms: tf/df from
    * [[graft.operators.TextAnalysis.termStats]], then the top-3 terms
    * per document by (tf desc, term asc) through the custom two-phase
    * [[graft.plans.TopKPerKey]] physical operator (map-side bounded
    * heaps before the shuffle — the right top-k at any corpus size).
    * Oracle: the same matrix in SQL with a window row_number — an
    * independent formulation of both the matrix and the top-k.
    */
  def q52TermMatrix(s: SparkSession, dir: String): DataFrame = {
    val stats = graft.operators.TextAnalysis.termStats(
      Tables.documents(s, dir), "doc_id", "text")
    graft.plans.TopKPerKey.topKPerKey(
        stats,
        keys = Seq(col("doc_id")),
        order = Seq(col("tf").desc, col("term").asc),
        k = 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"))
      .orderBy("doc_id", "term")
  }

  val q52Sql: String =
    """WITH terms AS (
      |  SELECT doc_id,
      |    unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
      |                       t -> length(t) > 0)) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
      |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
      |SELECT doc_id, term, tf, df
      |FROM tf JOIN dfreq USING (term)
      |QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, term ASC) <= 3
      |ORDER BY doc_id, term""".stripMargin

  /** Intra-document repetition stats + gate verdict
    * ([[graft.operators.TextAnalysis.repetitionStats]]) over the corpus
    * plus planted boilerplate (each of the first 10 docs re-appended as
    * its first 50 chars repeated 20×, which any repetition filter must
    * catch). All counts are exact integers; the two fractions are one
    * double division each (cross-engine bit-identical); `keep` is the
    * Gopher-style gate both engines evaluate from those fractions.
    */
  def q53Repetition(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val planted = docs.unionAll(docs.filter(col("doc_id") < 10).select(
      (col("doc_id") + 100000).as("doc_id"),
      repeat(concat(substring(col("text"), 1, 50), lit(" ")), 20).as("text")))
    graft.operators.TextAnalysis.repetitionStats(planted, "doc_id", "text")
      .withColumn("keep",
        col("dup_token_frac") <= 0.5 && col("top_bigram_frac") <= 0.18)
      .orderBy("doc_id")
  }

  val q53Sql: String =
    """WITH planted AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000 AS doc_id,
      |    repeat(substr(text, 1, 50) || ' ', 20) AS text
      |  FROM documents WHERE doc_id < 10),
      |t AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(trim(lower(text)), '\s+'),
      |                x -> length(x) > 0) AS toks
      |  FROM planted),
      |b AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS bg
      |  FROM t WHERE len(toks) >= 2),
      |bc AS (SELECT doc_id, bg, count(*) AS c FROM b GROUP BY 1, 2),
      |bs AS (SELECT doc_id, max(c) AS top_bigram_n,
      |              CAST(sum(c) AS BIGINT) AS n_bigrams
      |       FROM bc GROUP BY 1)
      |SELECT t.doc_id,
      |  CAST(len(toks) AS INT) AS n_tokens,
      |  CAST(len(list_distinct(toks)) AS INT) AS n_distinct,
      |  CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE)
      |    / CAST(greatest(len(toks), 1) AS DOUBLE) AS dup_token_frac,
      |  COALESCE(top_bigram_n, 0) AS top_bigram_n,
      |  COALESCE(n_bigrams, 0) AS n_bigrams,
      |  CAST(COALESCE(top_bigram_n, 0) AS DOUBLE)
      |    / CAST(greatest(COALESCE(n_bigrams, 0), 1) AS DOUBLE) AS top_bigram_frac,
      |  (CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE)
      |     / CAST(greatest(len(toks), 1) AS DOUBLE)) <= 0.5
      |   AND (CAST(COALESCE(top_bigram_n, 0) AS DOUBLE)
      |     / CAST(greatest(COALESCE(n_bigrams, 0), 1) AS DOUBLE)) <= 0.18 AS keep
      |FROM t LEFT JOIN bs ON t.doc_id = bs.doc_id
      |ORDER BY t.doc_id""".stripMargin

  /** Sequence-packing manifest ([[graft.operators.Packing]]): documents
    * assigned to fixed-512-token training sequences by sharded
    * concat-and-chunk (8 shards — no global window at any scale), then
    * summarized per pack. Pure integer arithmetic end to end (integer
    * division for the chunk index), so the oracle is a bit-exact window
    * cumsum in SQL.
    */
  def q54PackManifest(s: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.packManifest(
        Tables.widen(Tables.documents(s, dir)), "doc_id",
        tokenCount(col("text")), seqLen = 512, nShards = 8)
      .orderBy("shard", "pack_id")

  val q54Sql: String =
    """WITH tk AS (
      |  SELECT doc_id, CAST(doc_id % 8 AS INT) AS shard,
      |    CAST(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
      |         ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_tok
      |  FROM documents),
      |o AS (
      |  SELECT doc_id, shard, n_tok,
      |    COALESCE(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS poff
      |  FROM tk)
      |SELECT shard, CAST(poff // 512 AS BIGINT) AS pack_id,
      |  count(*) AS n_docs,
      |  CAST(sum(n_tok) AS BIGINT) AS pack_tokens,
      |  min(doc_id) AS first_id, max(doc_id) AS last_id
      |FROM o
      |GROUP BY 1, 2
      |ORDER BY shard, pack_id""".stripMargin

  /** Per-document corpus-frequency profile: join each document's terms
    * back to the corpus document-frequency table
    * ([[graft.operators.TextAnalysis.termStats]]) and aggregate — the
    * two-pass "score documents against corpus statistics" shape every
    * frequency-based quality heuristic uses (df mass ≈ how much of the
    * doc is common vocabulary; hapax count ≈ how much is unique to it).
    * Exact integers only, so cross-engine equality is bit-for-bit.
    */
  def q55DocFreqProfile(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.termStats(Tables.documents(s, dir))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_terms"),
        sum(col("df")).as("df_mass"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .orderBy("doc_id")

  val q55Sql: String =
    """WITH terms AS (
      |  SELECT doc_id,
      |    unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
      |                       t -> length(t) > 0)) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
      |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
      |SELECT doc_id,
      |  count(*) AS n_terms,
      |  CAST(sum(df) AS BIGINT) AS df_mass,
      |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
      |FROM tf JOIN dfreq USING (term)
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** Balanced-corpus cap ([[graft.operators.Sampling.stratumCap]]): at
    * most 50 documents per language, chosen by md5-hash order — the
    * "no stratum swamps the training mix" construction, deterministic
    * and reproducible by any engine (the kept set is a function of
    * doc_id alone).
    */
  def q56LangCap(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.stratumCap(
        Tables.documents(s, dir).select(col("doc_id"), col("lang")),
        "doc_id", "lang", cap = 50)
      .orderBy("lang", "doc_id")

  val q56Sql: String =
    """SELECT doc_id, lang FROM (
      |  SELECT doc_id, lang,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM documents)
      |WHERE rn <= 50
      |ORDER BY lang, doc_id""".stripMargin

  /** The WHOLE training pipeline, hash-matched cross-engine:
    * [[graft.pipeline.TrainingPipeline.prepare]] (scrub → quality gate
    * → exact dedup → near-dup components → deterministic split) over a
    * corpus with planted near-dup truncations, emitting
    * (doc_id, split, md5-of-prepared-text). The DuckDB oracle replays
    * every stage from first principles — the regex scrub chain (q51's
    * mirror), the q20 quality formula, a row_number exact dedup, exact
    * all-pairs Jaccard + recursive-CTE components (q21/q50's mirrors),
    * and the md5 split (q39's mirror) — so one hash verifies the
    * composition end to end, not just each stage in isolation.
    * `auditableSplit` swaps stage 5 to the md5 bucket any engine can
    * recompute.
    *
    * Exactness note: the near-dup stage is exact for the same reason
    * q21 is — banded-LSH candidates at (96, 24) have measured 100%
    * recall at J ≥ 0.5 on this corpus (the gate applies J ≥ 0.6,
    * a subset), and exact Jaccard verification makes precision 1.
    */
  def q59TrainingPipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val planted = docs.unionAll(
      docs.filter(col("doc_id") < 60).select(
        (col("doc_id") + 100000).as("doc_id"),
        expr("substring(text, 1, greatest(length(text) - 15, 40))").as("text")))
    graft.pipeline.TrainingPipeline.prepare(planted,
        graft.pipeline.TrainingPipeline.Config(auditableSplit = true))
      .select(col("doc_id"), col("split"), md5(col("text")).as("content_md5"))
      .orderBy("doc_id")
  }

  val q59Sql: String = {
    val stop = "['the','a','an','and','or','of','to','in','is','are','was'," +
      "'it','that','this','for','on','with','as','at','by','be']"
    s"""WITH RECURSIVE planted AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000 AS doc_id,
       |    substr(text, 1, greatest(length(text) - 15, 40)) AS text
       |  FROM documents WHERE doc_id < 60),
       |scrubbed AS (
       |  SELECT doc_id,
       |    trim(regexp_replace(
       |      regexp_replace(
       |        regexp_replace(
       |          regexp_replace(text,
       |            '$emailPattern', '<EMAIL>', 'g'),
       |          '$urlPattern', '<URL>', 'g'),
       |        '$phonePattern', '<PHONE>', 'g'),
       |      '\\s+', ' ', 'g')) AS text
       |  FROM planted),
       |scored AS (
       |  SELECT doc_id, text,
       |    len(string_split_regex(trim(text), '\\s+')) AS n_tok,
       |    CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
       |      t -> list_contains($stop, t))) AS DOUBLE) AS n_stop,
       |    CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE) AS n_punct,
       |    CAST(length(text) AS DOUBLE) AS n_chars,
       |    CAST(list_sum(list_transform(string_split_regex(trim(text), '\\s+'),
       |      t -> length(t))) AS DOUBLE) AS tok_chars
       |  FROM scrubbed),
       |gated AS (
       |  SELECT doc_id, text FROM scored
       |  WHERE n_tok >= 10
       |    AND least(n_tok / 100.0, 1.0) * 0.3
       |      + least((n_stop / greatest(n_tok, 1)) * 3.0, 1.0) * 0.3
       |      + greatest(1.0 - (n_punct / greatest(n_chars, 1)) * 10.0, 0.0) * 0.2
       |      + (CASE WHEN tok_chars / greatest(n_tok, 1) BETWEEN 3.0 AND 10.0
       |              THEN 1.0 ELSE 0.5 END) * 0.2 >= 0.3),
       |deduped AS MATERIALIZED (
       |  SELECT doc_id, text FROM (
       |    SELECT doc_id, text,
       |      row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
       |    FROM gated)
       |  WHERE rn = 1),
       |sh AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(1, length(text)-7+2), i -> substr(text, i, 7))) AS s
       |  FROM deduped WHERE length(text) >= 7),
       |ex AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM sh),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    count(*) AS i, any_value(a.n) AS na, any_value(b.n) AS nb
       |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id),
       |pairs AS (
       |  SELECT id_a, id_b FROM inter
       |  WHERE CAST(i AS DOUBLE) / CAST(na + nb - i AS DOUBLE) >= 0.6),
       |edges AS (
       |  SELECT id_a AS s, id_b AS d FROM pairs
       |  UNION
       |  SELECT id_b AS s, id_a AS d FROM pairs),
       |reach(s, d) AS (
       |  SELECT s, d FROM edges
       |  UNION
       |  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
       |doomed AS (
       |  SELECT s AS doc_id FROM reach GROUP BY s
       |  HAVING least(min(d), s) < s)
       |SELECT doc_id,
       |  CASE WHEN bucket < 800000 THEN 'train'
       |       WHEN bucket < 900000 THEN 'val'
       |       ELSE 'test' END AS split,
       |  md5(text) AS content_md5
       |FROM (
       |  SELECT doc_id, text,
       |    ('0x'||substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 1000000 AS bucket
       |  FROM deduped
       |  WHERE doc_id NOT IN (SELECT doc_id FROM doomed))
       |ORDER BY doc_id""".stripMargin
  }

  /** Incremental near-dup dedup against a PERSISTED MinHash index
    * ([[graft.operators.Dedup.writeMinHashIndex]] /
    * [[graft.operators.Dedup.incrementalNearDupPairs]]): the corpus is
    * indexed once, then a 40-doc increment (truncated near-dups of
    * corpus docs) is banded against the stored band keys and verified
    * by exact Jaccard — the daily-increment shape that avoids
    * recomputing a single corpus signature. The oracle is the exact
    * inverted-index new×corpus Jaccard join; same exactness argument
    * as q21 (measured-100%-recall banding + exact verification).
    */
  def q60IncrementalNearDup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    // per-(dataset, JVM) path: repeated runs in one session overwrite
    // rather than accumulate, while two processes benchmarking the
    // same dataset concurrently (bench + verify) never race on one
    // index directory
    val idxPath = scratchPath("q60_idx", dir)
    Dedup.writeMinHashIndex(docs, idxPath, "doc_id", "text")
    val increment = docs.filter(col("doc_id") < 40).select(
      (col("doc_id") + 100000).as("doc_id"),
      expr("substring(text, 1, greatest(length(text) - 15, 40))").as("text"))
    Dedup.incrementalNearDupPairs(increment, idxPath, "doc_id", "text",
        minJaccard = 0.5)
      .select(col("new_id"), col("corpus_id"), col("jaccard"))
      .orderBy("new_id", "corpus_id")
  }

  /** The index RETENTION path on the oracle gate (r7): base index +
    * a daily-style append ([[graft.operators.Dedup.appendToMinHashIndex]])
    * + file compaction ([[graft.operators.Dedup.compactMinHashIndex]]),
    * then the same increment query as q60 — proving (a) appended
    * signature rows are matched exactly like base rows, and (b)
    * compaction is read-transparent: the DuckDB oracle computes exact
    * Jaccard of the increment against corpus ∪ appended docs, knowing
    * nothing of the file layout, so any row lost or duplicated by the
    * rename-swap would break the hash. The appended batch is a
    * second, differently-truncated copy of the first 40 docs (ids
    * +200000) — the increment's truncations match BOTH the originals
    * and the appended near-dups, so the append visibly changes the
    * answer.
    */
  def q60bIndexCompaction(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val idxPath = scratchPath("q60b_idx", dir)
    Dedup.writeMinHashIndex(docs, idxPath, "doc_id", "text")
    val appended = docs.filter(col("doc_id") < 40).select(
      (col("doc_id") + 200000).as("doc_id"),
      expr("substring(text, 1, greatest(length(text) - 30, 40))").as("text"))
    Dedup.appendToMinHashIndex(appended, idxPath, "doc_id", "text")
    Dedup.compactMinHashIndex(s, idxPath)
    val increment = docs.filter(col("doc_id") < 40).select(
      (col("doc_id") + 100000).as("doc_id"),
      expr("substring(text, 1, greatest(length(text) - 15, 40))").as("text"))
    Dedup.incrementalNearDupPairs(increment, idxPath, "doc_id", "text",
        minJaccard = 0.5)
      .select(col("new_id"), col("corpus_id"), col("jaccard"))
      .orderBy("new_id", "corpus_id")
  }

  val q60bSql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 200000 AS doc_id,
      |    substr(text, 1, greatest(length(text) - 30, 40)) AS text
      |  FROM documents WHERE doc_id < 40),
      |newdocs AS (
      |  SELECT doc_id + 100000 AS doc_id,
      |    substr(text, 1, greatest(length(text) - 15, 40)) AS text
      |  FROM documents WHERE doc_id < 40),
      |shc AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, length(text)-7+2), i -> substr(text, i, 7))) AS s
      |  FROM corpus WHERE length(text) >= 7),
      |shn AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, length(text)-7+2), i -> substr(text, i, 7))) AS s
      |  FROM newdocs WHERE length(text) >= 7),
      |exc AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM shc),
      |exn AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM shn),
      |inter AS (
      |  SELECT n.doc_id AS new_id, c.doc_id AS corpus_id,
      |    count(*) AS i, any_value(n.n) AS nn, any_value(c.n) AS nc
      |  FROM exn n JOIN exc c ON n.g = c.g
      |  GROUP BY 1, 2)
      |SELECT new_id, corpus_id,
      |  CAST(i AS DOUBLE) / CAST(nn + nc - i AS DOUBLE) AS jaccard
      |FROM inter
      |WHERE CAST(i AS DOUBLE) / CAST(nn + nc - i AS DOUBLE) >= 0.5
      |ORDER BY new_id, corpus_id""".stripMargin

  val q60Sql: String =
    """WITH newdocs AS (
      |  SELECT doc_id + 100000 AS doc_id,
      |    substr(text, 1, greatest(length(text) - 15, 40)) AS text
      |  FROM documents WHERE doc_id < 40),
      |shc AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, length(text)-7+2), i -> substr(text, i, 7))) AS s
      |  FROM documents WHERE length(text) >= 7),
      |shn AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, length(text)-7+2), i -> substr(text, i, 7))) AS s
      |  FROM newdocs WHERE length(text) >= 7),
      |exc AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM shc),
      |exn AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM shn),
      |inter AS (
      |  SELECT n.doc_id AS new_id, c.doc_id AS corpus_id,
      |    count(*) AS i, any_value(n.n) AS nn, any_value(c.n) AS nc
      |  FROM exn n JOIN exc c ON n.g = c.g
      |  GROUP BY 1, 2)
      |SELECT new_id, corpus_id,
      |  CAST(i AS DOUBLE) / CAST(nn + nc - i AS DOUBLE) AS jaccard
      |FROM inter
      |WHERE CAST(i AS DOUBLE) / CAST(nn + nc - i AS DOUBLE) >= 0.5
      |ORDER BY new_id, corpus_id""".stripMargin

  /** WAV audio round-trip (the audio twin of q49): synthesize a PCM
    * WAV tone per document with doc_id-derived parameters
    * ([[graft.operators.Multimodal.synthesizeWavs]]), decode it back
    * with the REAL JDK audio codec
    * ([[graft.operators.Multimodal.decodeAudioMeta]]), and report the
    * decoded header facts. The oracle recomputes the expected values
    * from the same formulas — a decoded frame count/duration can only
    * match if the WAV encode→decode round-trip actually ran. Sample
    * content (RMS energy features) is spec-verified; the oracle checks
    * the header surface (exact integers + one exact double division).
    */
  def q61WavRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val params = Tables.widen(Tables.documents(s, dir)).select(
      col("doc_id"),
      lit(8000).as("rate"),
      (lit(4000) + (col("doc_id") % 5).cast(IntegerType) * 800).as("n_samples"),
      (lit(200) + (col("doc_id") % 7).cast(IntegerType) * 50).as("freq"))
    val wavs = graft.operators.Multimodal.synthesizeWavs(
      params, "rate", "n_samples", "freq")
    graft.operators.Multimodal.decodeAudioMeta(wavs)
      .select(col("doc_id"), col("audio_sample_rate"), col("audio_channels"),
        col("audio_frames"), col("audio_duration_sec"))
      .orderBy("doc_id")
  }

  val q61Sql: String =
    """SELECT doc_id,
      |  8000.0 AS audio_sample_rate,
      |  1 AS audio_channels,
      |  CAST(4000 + (doc_id % 5) * 800 AS BIGINT) AS audio_frames,
      |  CAST(4000 + (doc_id % 5) * 800 AS BIGINT) / 8000.0 AS audio_duration_sec
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** ANN-LSH recall contract ([[graft.operators.Similarity.lshTopK]] —
    * the 10⁹-vector scale path, on the oracle surface): plant an
    * identical twin (vec_id + 100000) for every vec_id < 20, query with
    * the originals, and emit each query's TOP-1 neighbor through the
    * full LSH path (signature bucketing → multi-probe expansion →
    * id-pair dedup → exact cosine re-rank). Identical vectors share
    * every signature bit, so the twin is a candidate with certainty,
    * and its exact cosine (≈1) dominates every natural pair (the
    * synthetic corpus tops out far below — q42's argument), so LSH
    * top-1 == brute-force top-1. The DuckDB oracle recomputes the
    * brute-force side from scratch (exact all-pairs cosine, same
    * (cosine desc, id asc) tie-break): a bucketing bug that loses the
    * twin, or a re-rank bug that misorders it, breaks the match.
    * Output is the id pair only — no float crosses engines.
    */
  def q64LshTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val planted = emb.unionAll(
      emb.filter(col("vec_id") < 20)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
    val queries = emb.filter(col("vec_id") < 20)
    Similarity.lshTopK(planted, queries, "vec_id", "embedding", k = 1,
        dim = 64, nBits = 12, multiProbeBits = 1)
      .select(col("query_id"), col("neighbor_id"))
      .orderBy("query_id")
  }

  val q64Sql: String =
    """WITH planted AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings WHERE vec_id < 20),
      |n AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
      |                     (a, b) -> a + b)) AS nrm
      |  FROM planted)
      |SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
      |FROM n q JOIN n c ON q.vec_id < 20 AND c.vec_id <> q.vec_id
      |QUALIFY row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |  list_reduce(list_transform(list_zip(q.embedding, c.embedding),
      |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, b) -> a + b)
      |    / (q.nrm * c.nrm) DESC, c.vec_id ASC) = 1
      |ORDER BY query_id""".stripMargin

  /** The q74 fixture: a (query, twin) pair at EXACT LSH signature
    * hamming distance 2 under the engine's fixed hyperplanes (nBits=12,
    * dim=64, planeSeed=42), cosine(query, twin) = 0.9984 while the max
    * natural corpus cosine vs the query is ≤ 0.41 at every SF. All
    * coordinates are 1/128 dyadic rationals — exactly representable as
    * FLOAT and as short decimal literals, so the SAME bits appear in
    * these constants, in [[multiProbeSqlList]]'s DuckDB literals, and
    * on disk. Generated by construction (push the base vector across
    * exactly its two smallest-margin hyperplanes) by
    * [[graft.tools.PlantMultiProbeTwin]]; SimilaritySpec re-verifies
    * the distance-2 and cosine-dominance properties on every run.
    */
  object MultiProbeFixture {
    val queryVec: Array[Float] = Array(-0.90625f, -0.6171875f, -0.328125f, -0.0390625f, 0.25f, 0.5390625f, 0.828125f, -0.875f, -0.5859375f, -0.296875f, -0.0078125f, 0.28125f, 0.5703125f, 0.859375f, -0.84375f, -0.5546875f, -0.265625f, 0.0234375f, 0.3125f, 0.6015625f, 0.890625f, -0.8125f, -0.5234375f, -0.234375f, 0.0546875f, 0.34375f, 0.6328125f, 0.921875f, -0.78125f, -0.4921875f, -0.203125f, 0.0859375f, 0.375f, 0.6640625f, 0.953125f, -0.75f, -0.4609375f, -0.171875f, 0.1171875f, 0.40625f, 0.6953125f, 0.984375f, -0.71875f, -0.4296875f, -0.140625f, 0.1484375f, 0.4375f, 0.7265625f, -0.9765625f, -0.6875f, -0.3984375f, -0.109375f, 0.1796875f, 0.46875f, 0.7578125f, -0.9453125f, -0.65625f, -0.3671875f, -0.078125f, 0.2109375f, 0.5f, 0.7890625f, -0.9140625f, -0.625f)
    val twinVec: Array[Float] = Array(-0.859375f, -0.6171875f, -0.328125f, -0.0390625f, 0.296875f, 0.5390625f, 0.828125f, -0.921875f, -0.6328125f, -0.25f, -0.0078125f, 0.28125f, 0.5703125f, 0.90625f, -0.890625f, -0.6015625f, -0.265625f, 0.0234375f, 0.3125f, 0.6015625f, 0.890625f, -0.8125f, -0.5234375f, -0.234375f, 0.0078125f, 0.390625f, 0.6328125f, 0.875f, -0.828125f, -0.4453125f, -0.15625f, 0.0859375f, 0.375f, 0.6640625f, 0.90625f, -0.703125f, -0.4609375f, -0.125f, 0.0703125f, 0.453125f, 0.7421875f, 0.984375f, -0.71875f, -0.4296875f, -0.140625f, 0.1484375f, 0.4375f, 0.6796875f, -0.9765625f, -0.640625f, -0.3984375f, -0.15625f, 0.1796875f, 0.421875f, 0.7109375f, -0.8984375f, -0.65625f, -0.3203125f, -0.125f, 0.2578125f, 0.453125f, 0.7890625f, -0.9609375f, -0.671875f)
    val queryId = 900000L
    val twinId = 900001L
    def sqlList(v: Array[Float]): String =
      v.map(x => (BigDecimal(math.round(x * 128)) / 128).toString)
        .mkString("[", ", ", "]")
  }

  /** Multi-probe LSH at radius 2, proven to WORK — not just to not
    * break ([[graft.operators.Similarity.lshTopK]] `multiProbeBits`):
    * q64's planted twins are IDENTICAL vectors, which collide on every
    * signature bit, so its probe expansion never has to fire. Here the
    * planted twin ([[MultiProbeFixture]]) sits at signature hamming
    * distance EXACTLY 2 from the query — invisible to exact-signature
    * bucketing and to radius-1 probing (SimilaritySpec proves both
    * miss) — while its 0.9984 cosine makes it the unambiguous
    * brute-force top-1 (max natural cosine ≤ 0.41). The DuckDB oracle
    * recomputes brute force over corpus ∪ twin from the same literal
    * vectors: only a correctly-enumerated radius-2 probe expansion
    * (all C(12,1)+C(12,2) XOR masks, bucket join, exact re-rank)
    * produces the matching (query_id, neighbor_id) row.
    */
  def q74MultiProbe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import MultiProbeFixture._
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val corpus = emb.unionByName(
      Seq((twinId, twinVec.toSeq)).toDF("vec_id", "embedding"))
    val queries = Seq((queryId, queryVec.toSeq)).toDF("vec_id", "embedding")
    Similarity.lshTopK(corpus, queries, "vec_id", "embedding", k = 1,
        dim = 64, nBits = 12, multiProbeBits = 2)
      .select(col("query_id"), col("neighbor_id"))
      .orderBy("query_id")
  }

  val q74Sql: String = {
    import MultiProbeFixture._
    s"""WITH planted AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT ${twinId} AS vec_id, CAST(${sqlList(twinVec)} AS FLOAT[]) AS embedding),
       |n AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
       |                     (a, b) -> a + b)) AS nrm
       |  FROM planted),
       |q AS (
       |  SELECT CAST(${queryId} AS BIGINT) AS vec_id, CAST(${sqlList(queryVec)} AS FLOAT[]) AS embedding),
       |nq AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
       |                     (a, b) -> a + b)) AS nrm
       |  FROM q)
       |SELECT nq.vec_id AS query_id, c.vec_id AS neighbor_id
       |FROM nq JOIN n c ON c.vec_id <> nq.vec_id
       |QUALIFY row_number() OVER (PARTITION BY nq.vec_id ORDER BY
       |  list_reduce(list_transform(list_zip(nq.embedding, c.embedding),
       |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, b) -> a + b)
       |    / (nq.nrm * c.nrm) DESC, c.vec_id ASC) = 1
       |ORDER BY query_id""".stripMargin
  }

  /** ANN-IVF recall contract through the PERSISTED index
    * ([[graft.operators.Similarity.writeIvfIndex]] +
    * [[graft.operators.Similarity.ivfTopKFromIndex]]): same planted-twin
    * construction as q64, but the corpus assignment is written
    * `partitionBy(centroid_id)` and the query path reads ONLY the
    * probed partitions (partition pruning — the physical claim behind
    * "a query touches nprobe/nlist of the corpus"). The twin is
    * assigned to the query vector's own nearest centroid (identical
    * vectors, identical arithmetic, identical tie-break), so nprobe ≥ 1
    * guarantees its list is probed and exact re-rank puts it at rank 1.
    * Same brute-force DuckDB oracle as q64: index write, partition-
    * pruned read, centroid assignment, and re-rank all have to be right
    * for the match.
    */
  def q65IvfTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val planted = emb.unionAll(
      emb.filter(col("vec_id") < 20)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
    val idxPath = scratchPath("q65_idx", dir)
    Similarity.writeIvfIndex(planted, idxPath, "vec_id", "embedding", nlist = 16)
    val queries = emb.filter(col("vec_id") < 20)
    Similarity.ivfTopKFromIndex(s, idxPath, queries, "vec_id", "embedding",
        k = 1, nprobe = 4)
      .select(col("query_id"), col("neighbor_id"))
      .orderBy("query_id")
  }

  val q65Sql: String = q64Sql

  /** q65 probed at `nprobe = 1`: identical construction, identical
    * expected output, identical DuckDB brute-force twin. Each planted
    * twin carries its query's exact vector, so the centroid scorer
    * ([[graft.operators.Similarity.rankCentroids]]) puts both in the
    * same list and the single probed partition must hold the twin:
    * the entry gates the scorer's argmin and tie-break (cosine desc,
    * centroid id asc) on the build and the probe side alike, and the
    * narrowest partition-pruned read (one `centroid_id=` directory per
    * query) against the oracle.
    */
  def q65bIvfTopKOneProbe(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val planted = emb.unionAll(
      emb.filter(col("vec_id") < 20)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
    val idxPath = scratchPath("q65b_idx", dir)
    Similarity.writeIvfIndex(planted, idxPath, "vec_id", "embedding", nlist = 16)
    val queries = emb.filter(col("vec_id") < 20)
    Similarity.ivfTopKFromIndex(s, idxPath, queries, "vec_id", "embedding",
        k = 1, nprobe = 1)
      .select(col("query_id"), col("neighbor_id"))
      .orderBy("query_id")
  }

  val q65bSql: String = q64Sql

  /** Deterministic distributed k-means on the oracle gate
    * ([[graft.operators.Similarity.fitCentroids]] — the IVF offline
    * fit): seed 16 centroids by lowest vec_id, run TWO full Lloyd
    * iterations (assign → decimal-exact per-dimension means, empty
    * lists keep their centroid), assign the corpus to the final
    * centroids, and emit per-centroid membership COUNTS — an
    * integer-only contract, so no float crosses engines, yet any
    * divergence anywhere in the iteration (a mean off by one ulp, a
    * tie broken differently, a float cast rounded differently)
    * re-buckets some vector and breaks the count match. The DuckDB
    * twin replays both iterations in SQL with the identical
    * arithmetic: the q64 cosine formula, (cosine DESC, centroid ASC)
    * assignment tie-break, DECIMAL(28,8) sums with one double
    * division, means cast back to REAL. This is exactly the
    * bit-stability property the operator exists for: a re-run fit
    * must never silently re-bucket a persisted index.
    */
  def q76KmeansCounts(s: SparkSession, dir: String): DataFrame = {
    val corpus = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val cents = Similarity.fitCentroids(corpus, "vec_id", "embedding",
      nlist = 16, iters = 2)
    Similarity.assignToCentroid(corpus, cents, "vec_id", "embedding", "_id")
      .groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy("centroid_id")
  }

  // one Lloyd step in SQL: assign by cosine (q64's formula, same
  // tie-break), then per-dimension decimal-exact means, empty lists
  // keeping the previous centroid
  private def kmeansStepSql(prev: String, out: String): String =
    s"""a_$out AS (
       |  SELECT e.vec_id, c.cid, e.embedding
       |  FROM n_e e CROSS JOIN n_$prev c
       |  QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |    list_reduce(list_transform(list_zip(e.embedding, c.c),
       |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, b) -> a + b)
       |      / (e.nrm * c.nrm) DESC, c.cid ASC) = 1),
       |m_$out AS (
       |  SELECT cid, pos,
       |    CAST(sum(CAST(x AS DECIMAL(28,8))) AS DOUBLE) / count(*) AS m
       |  FROM (SELECT cid, unnest(range(len(embedding))) AS pos,
       |          unnest(embedding) AS x
       |        FROM a_$out)
       |  GROUP BY cid, pos),
       |r_$out AS (
       |  SELECT cid, list(CAST(m AS REAL) ORDER BY pos) AS c
       |  FROM m_$out GROUP BY cid),
       |$out AS (
       |  SELECT p.cid, COALESCE(r.c, p.c) AS c
       |  FROM $prev p LEFT JOIN r_$out r ON p.cid = r.cid),
       |n_$out AS (
       |  SELECT cid, c,
       |    sqrt(list_reduce(list_transform(c, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
       |                     (a, b) -> a + b)) AS nrm
       |  FROM $out)""".stripMargin

  val q76Sql: String =
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |n_e AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
       |                     (a, b) -> a + b)) AS nrm
       |  FROM e),
       |seed AS (SELECT vec_id AS cid, embedding AS c FROM e ORDER BY vec_id LIMIT 16),
       |n_seed AS (
       |  SELECT cid, c,
       |    sqrt(list_reduce(list_transform(c, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
       |                     (a, b) -> a + b)) AS nrm
       |  FROM seed),
       |${kmeansStepSql("seed", "it1")},
       |${kmeansStepSql("it1", "it2")},
       |final_assign AS (
       |  SELECT e.vec_id, c.cid
       |  FROM n_e e CROSS JOIN n_it2 c
       |  QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |    list_reduce(list_transform(list_zip(e.embedding, c.c),
       |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, b) -> a + b)
       |      / (e.nrm * c.nrm) DESC, c.cid ASC) = 1)
       |SELECT cid AS centroid_id, count(*) AS n_members
       |FROM final_assign
       |GROUP BY cid
       |ORDER BY centroid_id""".stripMargin

  /** Distributed BPE tokenizer training on the oracle gate
    * ([[graft.operators.Bpe.learnBpeMerges]]): learn the first 3 merge
    * rules from the documents corpus. The output is the merge TABLE —
    * (iter, left, right, pair_count) — so any divergence anywhere in
    * the loop (a word miscounted, a pair double-counted across an
    * overlap, a tie broken differently, a merge mis-applied before the
    * next count) changes a winner or its count and breaks the hash.
    * The DuckDB twin replays all 3 iterations in SQL: word-frequency
    * table, per-position pair explode, (count DESC, left, right)
    * argmax, and a window-based leftmost-first merge rewrite
    * (consecutive-match runs keep alternating positions — the
    * sequential fold's overlap semantics, reconstructed relationally).
    * Same iterate-then-replay oracle pattern as q76's k-means.
    */
  def q77BpeMerges(s: SparkSession, dir: String): DataFrame =
    graft.operators.Bpe.learnBpeMerges(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "text", iters = 3)
      .orderBy("iter")

  /** The inference side of q77 ([[graft.operators.Bpe.bpeTokenCounts]]):
    * learn 3 merges, then TOKENIZE THE CORPUS under them — per-doc BPE
    * token counts via the scale-correct shape (segment the
    * distinct-word vocabulary once, join counts back by word). The
    * DuckDB twin reuses the q77 iteration machinery to reach the same
    * post-merge symbol table, then replays the word-explode + per-doc
    * sum. Integer-only contract; any divergence in training OR
    * segmentation shifts some doc's count.
    */
  def q81BpeTokenize(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Bpe
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val merges = Bpe.learnBpeMerges(docs, "text", iters = 3)
      .orderBy("iter").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    Bpe.bpeTokenCounts(docs, "doc_id", "text", merges)
      .orderBy("doc_id")
  }

  val q81Sql: String =
    s"""WITH wf AS MATERIALIZED (
       |  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
       |    FROM documents WHERE text IS NOT NULL)
       |  WHERE length(word) > 0 GROUP BY word),
       |s0 AS (
       |  SELECT word, freq,
       |    list_transform(range(1, length(word) + 1), i -> word[i]) AS sym
       |  FROM wf),
       |${bpeStepSql("s0", "s1")},
       |${bpeStepSql("s1", "s2")},
       |${bpeStepSql("s2", "s3")},
       |wtok AS (SELECT word, CAST(len(sym) AS BIGINT) AS ntok FROM s3),
       |docwords AS (
       |  SELECT doc_id, word FROM (
       |    SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
       |    FROM documents WHERE text IS NOT NULL)
       |  WHERE length(word) > 0)
       |SELECT d.doc_id,
       |  COALESCE(CAST(sum(w.ntok) AS BIGINT), 0) AS n_bpe_tokens
       |FROM documents d
       |LEFT JOIN docwords dw ON d.doc_id = dw.doc_id
       |LEFT JOIN wtok w ON dw.word = w.word
       |GROUP BY d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // one BPE iteration in SQL over word-symbol table `prev` →
  // best-pair table b_<out> and merged table <out>
  private def bpeStepSql(prev: String, out: String): String =
    s"""p_$out AS (
       |  SELECT word, freq, sym, unnest(range(1, len(sym))) AS i FROM $prev),
       |c_$out AS (
       |  SELECT sym[i] AS l, sym[i+1] AS r, CAST(sum(freq) AS BIGINT) AS n
       |  FROM p_$out GROUP BY 1, 2),
       |b_$out AS (SELECT l, r, n FROM c_$out ORDER BY n DESC, l ASC, r ASC LIMIT 1),
       |pos_$out AS (
       |  SELECT word, freq, sym, unnest(range(1, len(sym) + 1)) AS i FROM $prev),
       |m_$out AS (
       |  SELECT p.word, p.freq, p.i, p.sym[p.i] AS tok,
       |    (p.i < len(p.sym) AND p.sym[p.i] = b.l AND p.sym[p.i+1] = b.r) AS m,
       |    b.l || b.r AS fused
       |  FROM pos_$out p CROSS JOIN b_$out b),
       |runs_$out AS (
       |  SELECT word, i, i - row_number() OVER (PARTITION BY word ORDER BY i) AS grp
       |  FROM m_$out WHERE m),
       |keep_$out AS (
       |  SELECT word, i FROM (
       |    SELECT word, i, row_number() OVER (PARTITION BY word, grp ORDER BY i) AS rn
       |    FROM runs_$out) WHERE rn % 2 = 1),
       |$out AS (
       |  SELECT m.word, any_value(m.freq) AS freq,
       |    list(CASE WHEN k.i IS NOT NULL THEN m.fused ELSE m.tok END ORDER BY m.i) AS sym
       |  FROM m_$out m
       |  LEFT JOIN keep_$out k  ON m.word = k.word  AND m.i = k.i
       |  LEFT JOIN keep_$out k2 ON m.word = k2.word AND m.i = k2.i + 1
       |  WHERE k2.i IS NULL
       |  GROUP BY m.word)""".stripMargin

  val q77Sql: String =
    s"""WITH wf AS MATERIALIZED (
       |  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
       |    FROM documents WHERE text IS NOT NULL)
       |  WHERE length(word) > 0 GROUP BY word),
       |s0 AS (
       |  SELECT word, freq,
       |    list_transform(range(1, length(word) + 1), i -> word[i]) AS sym
       |  FROM wf),
       |${bpeStepSql("s0", "s1")},
       |${bpeStepSql("s1", "s2")},
       |${bpeStepSql("s2", "s3")}
       |SELECT * FROM (
       |  SELECT 1 AS iter, l AS "left", r AS "right", n AS pair_count FROM b_s1
       |  UNION ALL
       |  SELECT 2, l, r, n FROM b_s2
       |  UNION ALL
       |  SELECT 3, l, r, n FROM b_s3)
       |ORDER BY iter""".stripMargin

  /** Streaming corpus ingestion with near-dup filtering on the oracle
    * gate ([[graft.streaming.CorpusIngest.ingestBatch]] — the batch
    * twin of the `foreachBatch` stream, stream==batch proven in
    * StreamingSpec, same pattern as q44/q58): three arrival batches —
    * originals, then a batch mixing fresh docs with truncated copies
    * of batch-1 docs, then a batch of truncated copies of batch-1 AND
    * batch-2 docs — flow through index-backed sequential dedup. The
    * oracle replays the greedy batch-order semantics in SQL: kept(b)
    * = docs of b with no exact-Jaccard ≥ 0.5 match in kept(<b);
    * within-batch docs never filter each other. All sets are
    * fixed-size (doc_id windows) so the oracle's quadratic exact
    * joins stay bounded at every SF. Output = the final corpus as
    * (doc_id, md5(text)) — any wrongly kept or dropped doc at any of
    * the three steps breaks the hash.
    */
  def q78StreamingIngest(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.CorpusIngest
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    def trunc(cut: Int, lo: Int, hi: Int, shift: Int): DataFrame =
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi).select(
        (col("doc_id") + shift).as("doc_id"),
        expr(s"substring(text, 1, greatest(length(text) - $cut, 40))").as("text"))
    val b1 = docs.filter(col("doc_id") < 300)
    val b2 = docs.filter(col("doc_id") >= 300 && col("doc_id") < 600)
      .unionAll(trunc(15, 0, 20, 100000))
    val b3 = trunc(30, 300, 320, 200000).unionAll(trunc(45, 0, 20, 300000))
    val idxPath = scratchPath("q78_idx", dir)
    val outPath = scratchPath("q78_out", dir)
    // bench/verify rerun hygiene: ingest accretes by design, so a
    // repeated run must start from empty state
    Seq(idxPath, outPath).foreach { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(hp, true): Unit
    }
    Seq(b1, b2, b3).foreach { b =>
      CorpusIngest.ingestBatch(b, idxPath, outPath, "doc_id", "text",
        minJaccard = 0.5): Unit
    }
    Tables.read(s, outPath)
      .select(col("doc_id"), md5(col("text")).as("content_md5"))
      .orderBy("doc_id")
  }

  // shingle + exact-Jaccard match of set `nw` against set `kp` →
  // matched new doc_ids (mirrors the q60 inverted-index construction)
  private def jaccardMatchSql(nw: String, kp: String, out: String): String =
    s"""shn_$out AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(1, length(text)-7+2), i -> substr(text, i, 7))) AS s
       |  FROM $nw WHERE length(text) >= 7),
       |shc_$out AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(1, length(text)-7+2), i -> substr(text, i, 7))) AS s
       |  FROM $kp WHERE length(text) >= 7),
       |exn_$out AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM shn_$out),
       |exc_$out AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM shc_$out),
       |$out AS (
       |  SELECT DISTINCT new_id FROM (
       |    SELECT n.doc_id AS new_id,
       |      count(*) AS i, any_value(n.n) AS nn, any_value(c.n) AS nc
       |    FROM exn_$out n JOIN exc_$out c ON n.g = c.g
       |    GROUP BY n.doc_id, c.doc_id)
       |  WHERE CAST(i AS DOUBLE) / CAST(nn + nc - i AS DOUBLE) >= 0.5)""".stripMargin

  val q78Sql: String =
    s"""WITH b1 AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id < 300),
       |b2 AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id >= 300 AND doc_id < 600
       |  UNION ALL
       |  SELECT doc_id + 100000, substr(text, 1, greatest(length(text) - 15, 40))
       |  FROM documents WHERE doc_id < 20),
       |b3 AS (
       |  SELECT doc_id + 200000 AS doc_id,
       |    substr(text, 1, greatest(length(text) - 30, 40)) AS text
       |  FROM documents WHERE doc_id >= 300 AND doc_id < 320
       |  UNION ALL
       |  SELECT doc_id + 300000, substr(text, 1, greatest(length(text) - 45, 40))
       |  FROM documents WHERE doc_id < 20),
       |k1 AS (SELECT doc_id, text FROM b1),
       |${jaccardMatchSql("b2", "k1", "m2")},
       |k2 AS (SELECT doc_id, text FROM b2 WHERE doc_id NOT IN (SELECT new_id FROM m2)),
       |k12 AS (SELECT * FROM k1 UNION ALL SELECT * FROM k2),
       |${jaccardMatchSql("b3", "k12", "m3")},
       |k3 AS (SELECT doc_id, text FROM b3 WHERE doc_id NOT IN (SELECT new_id FROM m3))
       |SELECT doc_id, md5(text) AS content_md5
       |FROM (SELECT * FROM k12 UNION ALL SELECT * FROM k3)
       |ORDER BY doc_id""".stripMargin

  /** Row-level packing surface ([[graft.operators.Packing.packSequences]]):
    * the per-document (shard, pack_id, pack_offset) assignment — q54
    * checks the pack-level manifest; this checks every document's
    * placement. Pure integer arithmetic end to end: the sharded
    * exclusive prefix sum (never a global window) and the exact `div`
    * chunk index, mirrored in SQL by a window cumsum with HUGEINT→
    * BIGINT casts.
    */
  def q66PackRows(s: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.packSequences(
        Tables.widen(Tables.documents(s, dir)), "doc_id",
        tokenCount(col("text")), seqLen = 512, nShards = 8)
      .select(col("doc_id"), col("shard"), col("pack_id"), col("pack_offset"))
      .orderBy("doc_id")

  // the CASE guard mirrors Spark tokenCount's empty/NULL → 0 contract
  // (a bare len(string_split_regex(trim(''), ...)) is 1 in DuckDB, and
  // one blank doc would shift the prefix sum of its whole shard tail)
  val q66Sql: String =
    """WITH tk AS (
      |  SELECT doc_id, CAST(doc_id % 8 AS INT) AS shard,
      |    CAST(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
      |         ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_tok
      |  FROM documents),
      |o AS (
      |  SELECT doc_id, shard,
      |    COALESCE(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS poff
      |  FROM tk)
      |SELECT doc_id, shard,
      |  CAST(poff // 512 AS BIGINT) AS pack_id,
      |  CAST(poff AS BIGINT) AS pack_offset
      |FROM o
      |ORDER BY doc_id""".stripMargin

  /** Scalable sequential corpus-id assignment
    * ([[graft.operators.Sampling.assignSequentialIds]]): dense 0..n−1
    * ids in doc_id order over a FILTERED corpus (so ids ≠ doc_ids),
    * computed with range partitioning + per-partition offsets — never
    * a global window. The oracle is the global-window formulation
    * (`row_number() OVER (ORDER BY …)`), i.e. exactly the plan shape
    * the operator avoids — proving the scalable formulation computes
    * the identical ranking.
    */
  def q63SequentialIds(s: SparkSession, dir: String): DataFrame = {
    val nonEn = Tables.documents(s, dir)
      .filter(col("lang") =!= "en").select(col("doc_id"), col("lang"))
    graft.operators.Sampling.assignSequentialIds(nonEn, "doc_id")
      .orderBy("doc_id")
  }

  val q63Sql: String =
    """SELECT doc_id, lang,
      |  row_number() OVER (ORDER BY doc_id) - 1 AS seq_id
      |FROM documents WHERE lang <> 'en'
      |ORDER BY doc_id""".stripMargin

  /** Cross-document duplicated-passage scrub
    * ([[graft.operators.TextAnalysis.commonPassageScrub]], the
    * Gopher/RefinedWeb boilerplate pass). The corpus has no natural
    * cross-document 6-gram (≈31-word vocab → 6-grams are one-in-10⁹),
    * so an 8-token "subscribe" banner is planted on every doc_id % 7
    * == 0 — its 3 interior 6-grams become common across ~1/7 of the
    * corpus while every junction 6-gram stays document-unique. A
    * correct scrub therefore removes EXACTLY the planted banner and
    * nothing else; the oracle replays the full pipeline (shingle →
    * distinct-doc threshold → coverage window → ordered reassembly)
    * in SQL, so any coverage off-by-one or ordering bug in either
    * stage shifts a text hash.
    */
  def q82PassageScrub(s: SparkSession, dir: String): DataFrame = {
    val planted = Tables.documents(s, dir)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" " + q82Banner)))
          .otherwise(col("text")).as("text"))
    graft.operators.TextAnalysis
      .commonPassageScrub(planted, "doc_id", "text", n = 6, minDocs = 5)
      .orderBy("doc_id")
  }

  private val q82Banner = "subscribe to our newsletter for weekly updates today"

  val q82Sql: String =
    s"""WITH planted AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0 THEN text || ' $q82Banner'
      |         ELSE text END AS text
      |  FROM documents),
      |t AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(trim(text), '\\s+'),
      |                x -> length(x) > 0) AS toks
      |  FROM planted),
      |toki AS (
      |  SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM t),
      |tok AS (
      |  SELECT doc_id, i - 1 AS pos, toks[i] AS tok FROM toki),
      |shi AS (
      |  SELECT doc_id, toks, unnest(range(1, len(toks) - 4)) AS i FROM t),
      |sh AS (
      |  SELECT doc_id, i - 1 AS start,
      |    array_to_string(toks[i:i+5], ' ') AS g
      |  FROM shi),
      |common AS (
      |  SELECT g FROM sh GROUP BY g HAVING count(DISTINCT doc_id) >= 5),
      |starts AS (
      |  SELECT doc_id, start, 1 AS hit FROM sh JOIN common USING (g)),
      |cov AS (
      |  SELECT tok.doc_id, tok.pos, tok.tok,
      |    COALESCE(max(s.hit) OVER (PARTITION BY tok.doc_id ORDER BY tok.pos
      |      ROWS BETWEEN 5 PRECEDING AND CURRENT ROW), 0) AS cov
      |  FROM tok LEFT JOIN starts s
      |    ON tok.doc_id = s.doc_id AND tok.pos = s.start)
      |SELECT doc_id,
      |  CAST(count(*) AS INT) AS n_tokens,
      |  CAST(sum(cov) AS INT) AS n_covered,
      |  COALESCE(string_agg(CASE WHEN cov = 0 THEN tok END, ' '
      |    ORDER BY pos), '') AS scrubbed_text
      |FROM cov
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** Exact distributed heavy hitters
    * ([[graft.operators.Frequency.exactHeavyHitters]]): Misra-Gries
    * partition sketches bound the shuffle to k rows per task, a
    * provable candidate filter (mgCount ≥ ceil(τN) − decrements)
    * guarantees no false negatives, and an exact verification pass
    * over only the candidates removes false positives — so the output
    * is bit-identical to the naive full-vocabulary GROUP BY the
    * oracle runs. τ = 0.033 lands INSIDE the corpus's near-uniform
    * ~3.1–3.5% band, so the cut discriminates between real terms (any
    * sketch undercount that leaked into the final counts would move
    * terms across it).
    */
  def q83HeavyHitters(s: SparkSession, dir: String): DataFrame =
    graft.operators.Frequency.exactHeavyHitters(
      Tables.documents(s, dir), "text", tau = 0.033, k = 64)

  val q83Sql: String =
    """WITH t AS (
      |  SELECT unnest(list_filter(
      |    string_split_regex(trim(lower(text)), '\s+'),
      |    x -> length(x) > 0)) AS term
      |  FROM documents),
      |tot AS (SELECT count(*) AS n FROM t)
      |SELECT term, CAST(count(*) AS BIGINT) AS n_occurrences
      |FROM t
      |GROUP BY term
      |HAVING count(*) >= (SELECT ceil(CAST(0.033 AS DOUBLE) * n) FROM tot)
      |ORDER BY n_occurrences DESC, term""".stripMargin

  /** Embedding covariance matrix ([[graft.operators.Moments
    * .covarianceUpper]]): all 2080 upper-triangle co-moment cells in
    * ONE corpus scan — per-row pairwise products flat-mapped in
    * codegen, collapsed by a map-side partial hash aggregate, linear
    * sums riding the same explode under a j = −1 sentinel. Exact
    * decimal sums make the cells order-independent; the oracle
    * replays the identical arithmetic (float products are exact in
    * double) cell by cell.
    */
  def q84EmbeddingCovariance(s: SparkSession, dir: String): DataFrame =
    graft.operators.Moments.covarianceUpper(
      Tables.embeddings(s, dir), "embedding", dim = 64)

  val q84Sql: String =
    """WITH v AS (
      |  SELECT embedding AS e FROM embeddings
      |  WHERE embedding IS NOT NULL AND len(embedding) >= 64),
      |pi AS (SELECT e, unnest(range(0, 64)) AS i FROM v),
      |pij AS (SELECT e, i, unnest(range(i, 64)) AS j FROM pi),
      |cells AS (
      |  SELECT i, j,
      |    floor(CAST(e[CAST(i AS INT) + 1] AS DOUBLE) *
      |          CAST(e[CAST(j AS INT) + 1] AS DOUBLE) * 68719476736) AS xq
      |  FROM pij),
      |quad AS (
      |  SELECT i, j, CAST(count(*) AS BIGINT) AS n,
      |    sum(xq) / 68719476736 AS sum_xy
      |  FROM cells GROUP BY i, j),
      |lini AS (
      |  SELECT i, floor(CAST(e[CAST(i AS INT) + 1] AS DOUBLE)
      |    * 68719476736) AS xq
      |  FROM pi),
      |lin AS (
      |  SELECT i, sum(xq) / 68719476736 AS sum_x
      |  FROM lini GROUP BY i)
      |SELECT CAST(q.i AS INT) AS i, CAST(q.j AS INT) AS j, q.n, q.sum_xy,
      |  q.sum_xy / q.n - (li.sum_x / q.n) * (lj.sum_x / q.n) AS cov
      |FROM quad q
      |JOIN lin li ON q.i = li.i
      |JOIN lin lj ON q.j = lj.i
      |ORDER BY i, j""".stripMargin

  /** Ranked retrieval ([[graft.operators.Ranking.bm25TopK]]): BM25
    * with a rational idf — the log is deliberately dropped because
    * cross-engine `ln` differs in the last ulp (same policy as q52's
    * tf/df contract) — so every score is a fixed tree of IEEE ops on
    * integer-derived operands, bit-identical on both engines. The
    * oracle replays the identical association order (left-assoc
    * sums, the same parenthesization) — any aggregation-order
    * nondeterminism in the pivot or the per-term sum shifts a hash.
    */
  def q85Bm25TopK(s: SparkSession, dir: String): DataFrame =
    graft.operators.Ranking.bm25TopK(
      Tables.documents(s, dir), "doc_id", "text",
      Seq("merge", "join", "filter"), k = 25)

  val q85Sql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(trim(lower(text)), '\s+'),
      |                x -> length(x) > 0) AS toks
      |  FROM documents),
      |const AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS n,
      |    CAST(sum(len(toks)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
      |  FROM t),
      |hit AS (
      |  SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
      |    unnest(toks) AS term
      |  FROM t),
      |tf AS (
      |  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf, max(dl) AS dl
      |  FROM hit WHERE term IN ('merge', 'join', 'filter')
      |  GROUP BY doc_id, term),
      |dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
      |scored AS (
      |  SELECT tf.doc_id, tf.term,
      |    (((SELECT n FROM const) - df + 0.5) / (df + 0.5))
      |      * (tf * (CAST(1.2 AS DOUBLE) + 1.0))
      |      / (tf + CAST(1.2 AS DOUBLE)
      |         * ((1.0 - CAST(0.75 AS DOUBLE))
      |            + CAST(0.75 AS DOUBLE) * dl / (SELECT avgdl FROM const))) AS s
      |  FROM tf JOIN dfq USING (term)),
      |piv AS (
      |  SELECT doc_id,
      |    max(CASE WHEN term = 'merge'  THEN s END) AS s0,
      |    max(CASE WHEN term = 'join'   THEN s END) AS s1,
      |    max(CASE WHEN term = 'filter' THEN s END) AS s2
      |  FROM scored GROUP BY doc_id)
      |SELECT doc_id,
      |  COALESCE(s0, 0.0) + COALESCE(s1, 0.0) + COALESCE(s2, 0.0) AS score,
      |  CAST((CASE WHEN s0 IS NOT NULL THEN 1 ELSE 0 END)
      |     + (CASE WHEN s1 IS NOT NULL THEN 1 ELSE 0 END)
      |     + (CASE WHEN s2 IS NOT NULL THEN 1 ELSE 0 END) AS INT) AS n_terms_hit
      |FROM piv
      |ORDER BY score DESC, doc_id
      |LIMIT 25""".stripMargin

  /** Deterministic domain balancing
    * ([[graft.operators.Sampling.balanceSources]]): every source is
    * down-sampled toward 10 documents in expectation through a pure
    * INTEGER rate gate (threshold = min(10^6, 10^7 div count) over
    * the md5 per-million bucket) — no float division anywhere, so
    * the kept set is bit-reproducible by any engine with md5. The
    * audit aggregate (per-source original count, threshold, kept
    * count, kept chars) is the oracle contract.
    */
  def q86SourceBalance(s: SparkSession, dir: String): DataFrame = {
    val kept = graft.operators.Sampling.balanceSources(
      Tables.documents(s, dir), "doc_id", "source", targetPerSource = 10)
    kept.groupBy(col("source"))
      .agg(
        max(col("_src_total")).as("n_orig"),
        max(col("_keep_threshold")).as("keep_threshold"),
        count(lit(1)).as("n_kept"),
        sum(col("n_chars")).cast(LongType).as("total_chars"))
      .orderBy("source")
  }

  val q86Sql: String =
    """WITH c AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_orig
      |  FROM documents GROUP BY source),
      |thr AS (
      |  SELECT source, n_orig,
      |    least(1000000, 10000000 // n_orig) AS keep_threshold
      |  FROM c),
      |kept AS (
      |  SELECT d.source, d.n_chars, t.n_orig, t.keep_threshold
      |  FROM documents d JOIN thr t USING (source)
      |  WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 15))::BIGINT
      |          % 1000000 < t.keep_threshold)
      |SELECT source, max(n_orig) AS n_orig,
      |  max(keep_threshold) AS keep_threshold,
      |  CAST(count(*) AS BIGINT) AS n_kept,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM kept
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** Distributed PCA first component
    * ([[graft.operators.Moments.pc1Projection]]): covariance scan →
    * driver-side fixed-point power iteration (5 steps from the
    * uniform unit start) → distributed projection. The oracle
    * INDEPENDENTLY re-derives the loadings — covariance cells,
    * symmetric expansion, all 5 matrix–vector/normalize steps
    * unrolled in SQL with the same floor(x·2^36) quantization — and
    * replays every vector's projection; Spark's only shared input is
    * the parquet. A single-ulp divergence anywhere in the 5
    * iterations shifts every projection and fails the hash.
    */
  def q87Pc1Projection(s: SparkSession, dir: String): DataFrame =
    graft.operators.Moments.pc1Projection(
      Tables.embeddings(s, dir), "vec_id", "embedding", dim = 64, iters = 5)

  val q87Sql: String = {
    val S = "68719476736"
    def step(t: Int, prev: String): String =
      s"""m$t AS (
         |  SELECT f.i, sum(floor(f.cov * p.val * $S)) / $S AS m
         |  FROM fullm f JOIN $prev p ON f.j = p.vi GROUP BY f.i),
         |n$t AS (SELECT sum(floor(m * m * $S)) / $S AS n2 FROM m$t),
         |v$t AS (SELECT i AS vi, m / sqrt((SELECT n2 FROM n$t)) AS val FROM m$t)"""
        .stripMargin
    s"""WITH v AS (
       |  SELECT embedding AS e FROM embeddings
       |  WHERE embedding IS NOT NULL AND len(embedding) >= 64),
       |pi AS (SELECT e, unnest(range(0, 64)) AS i FROM v),
       |pij AS (SELECT e, i, unnest(range(i, 64)) AS j FROM pi),
       |cells AS (
       |  SELECT i, j,
       |    floor(CAST(e[CAST(i AS INT) + 1] AS DOUBLE) *
       |          CAST(e[CAST(j AS INT) + 1] AS DOUBLE) * $S) AS xq
       |  FROM pij),
       |quad AS (
       |  SELECT i, j, CAST(count(*) AS BIGINT) AS n,
       |    sum(xq) / $S AS sum_xy
       |  FROM cells GROUP BY i, j),
       |lini AS (
       |  SELECT i, floor(CAST(e[CAST(i AS INT) + 1] AS DOUBLE) * $S) AS xq
       |  FROM pi),
       |lin AS (SELECT i, sum(xq) / $S AS sum_x FROM lini GROUP BY i),
       |cov AS (
       |  SELECT q.i, q.j,
       |    q.sum_xy / q.n - (li.sum_x / q.n) * (lj.sum_x / q.n) AS cov
       |  FROM quad q
       |  JOIN lin li ON q.i = li.i
       |  JOIN lin lj ON q.j = lj.i),
       |fullm AS (
       |  SELECT i, j, cov FROM cov
       |  UNION ALL
       |  SELECT j AS i, i AS j, cov FROM cov WHERE i < j),
       |v0 AS MATERIALIZED (
       |  SELECT i AS vi, CAST(1.0 AS DOUBLE) / sqrt(CAST(64 AS DOUBLE)) AS val
       |  FROM range(0, 64) t(i)),
       |${(1 to 5).map(t => step(t, s"v${t - 1}")).mkString(",\n")},
       |corpus AS (
       |  SELECT vec_id, embedding AS e FROM embeddings
       |  WHERE embedding IS NOT NULL AND len(embedding) >= 64)
       |SELECT c.vec_id,
       |  sum(floor(CAST(c.e[CAST(p.vi AS INT) + 1] AS DOUBLE) * p.val * $S))
       |    / $S AS pc1_proj
       |FROM corpus c JOIN v5 p ON TRUE
       |GROUP BY c.vec_id
       |ORDER BY c.vec_id""".stripMargin
  }

  /** Fuzzy benchmark decontamination
    * ([[graft.operators.Dedup.flagFuzzyContaminated]]): the eval set
    * is each doc_id < 30 document MINUS its last 15 characters — a
    * lightly-truncated copy, so the train↔eval shingle Jaccard sits
    * around 0.9 (LSH collision effectively certain) while every
    * cross pair stays at the corpus's natural sub-0.6 level. The
    * decision predicate is pure integer arithmetic
    * (10·|∩| ≥ 6·(|a|+|b|−|∩|)), and the oracle recomputes it over
    * the exact shingle inverted index — band keys, signatures, and
    * the merge-walk overlap all have to agree with brute force.
    */
  def q90FuzzyDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val eval = docs.filter(col("doc_id") < 30)
      .select(col("doc_id").as("eval_id"),
        expr("substring(text, 1, cast(n_chars as int) - 15)").as("etext"))
    graft.operators.Dedup.flagFuzzyContaminated(
      docs, "doc_id", "text", eval, "eval_id", "etext",
      minJaccardNum = 6, minJaccardDen = 10)
  }

  val q90Sql: String =
    """WITH ev AS (
      |  SELECT doc_id AS eval_id,
      |    substr(text, 1, CAST(n_chars AS INT) - 15) AS etext
      |  FROM documents WHERE doc_id < 30),
      |evsh AS (
      |  SELECT eval_id, unnest(list_distinct(list_transform(
      |    range(1, length(etext) - 7 + 2), i -> substr(etext, i, 7)))) AS g
      |  FROM ev WHERE length(etext) >= 7),
      |evsz AS (SELECT eval_id, count(*) AS nb FROM evsh GROUP BY eval_id),
      |trsh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(1, length(text) - 7 + 2), i -> substr(text, i, 7)))) AS g
      |  FROM documents WHERE length(text) >= 7),
      |trsz AS (SELECT doc_id, count(*) AS na FROM trsh GROUP BY doc_id),
      |ov AS (
      |  SELECT t.doc_id, e.eval_id, count(*) AS ov
      |  FROM trsh t JOIN evsh e USING (g)
      |  GROUP BY t.doc_id, e.eval_id),
      |m AS (
      |  SELECT o.doc_id, o.eval_id
      |  FROM ov o
      |  JOIN trsz USING (doc_id)
      |  JOIN evsz USING (eval_id)
      |  WHERE 10 * ov >= 6 * (na + nb - ov))
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_eval_matches
      |FROM m
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** SemDeDup semantic deduplication on the oracle gate
    * ([[graft.operators.Dedup.semanticDedup]]): fit 8 k-means centroids
    * with ONE Lloyd iteration, assign the corpus, and within each
    * cluster drop every vector that sits at cosine ≥ 0.95 to a
    * lower-id member among the cluster's 48 lowest ids. The DuckDB
    * twin replays the entire composition — seed, the Lloyd step
    * (q76's recipe), the assignment tie-break, the id-ranked
    * dominator cap, and the exact index-order cosine fold of every
    * (dominator, member) pair — so a divergence anywhere (a centroid
    * mean off by an ulp re-clustering a vector, a cap ranked
    * differently, one cosine comparison flipping) changes the
    * surviving set and breaks the hash. The corpus is the embeddings
    * table plus 35 planted duplicates (identical and exactly-doubled
    * copies at id + 100000 — scaling by 2 keeps cosine exactly 1 in
    * any IEEE engine); the natural table has no pair above cosine
    * 0.7, so the planted drops are the signal, and the ~65-member
    * average cluster keeps the 48-dominator cap genuinely active —
    * the capped semantics, not just the uncapped ideal, cross-check.
    */
  def q91SemanticDedup(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    // the natural corpus has no pair above cosine 0.7, so plant the
    // duplicates the operator exists to remove: 20 identical copies
    // and 15 exactly-doubled copies (scaling by 2 is exact in IEEE
    // float AND keeps cosine exactly 1, in any engine) — all at
    // id + 100000, so keep-lowest-id must drop precisely the plants
    // that share a cluster with a ranked dominator
    val copies = base.filter(col("vec_id") < 20)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
    val doubled = base.filter(col("vec_id") >= 20 && col("vec_id") < 35)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"),
          x => (x.cast(DoubleType) * lit(2.0)).cast(FloatType)).as("embedding"))
    val corpus = base.unionByName(copies).unionByName(doubled)
    graft.operators.Dedup.semanticDedup(
        corpus, "vec_id", "embedding",
        minCosine = 0.95, nlist = 8, iters = 1, maxDominators = 48)
      .orderBy("vec_id")
  }

  val q91Sql: String =
    s"""WITH base AS (SELECT vec_id, embedding FROM embeddings),
       |e AS (
       |  SELECT vec_id, embedding FROM base
       |  UNION ALL
       |  SELECT vec_id + 100000, embedding FROM base WHERE vec_id < 20
       |  UNION ALL
       |  SELECT vec_id + 100000,
       |    list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) * 2.0 AS REAL))
       |  FROM base WHERE vec_id >= 20 AND vec_id < 35),
       |n_e AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
       |                     (a, b) -> a + b)) AS nrm
       |  FROM e),
       |seed AS (SELECT vec_id AS cid, embedding AS c FROM e ORDER BY vec_id LIMIT 8),
       |n_seed AS (
       |  SELECT cid, c,
       |    sqrt(list_reduce(list_transform(c, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
       |                     (a, b) -> a + b)) AS nrm
       |  FROM seed),
       |${kmeansStepSql("seed", "it1")},
       |assign AS (
       |  SELECT e.vec_id, c.cid, e.embedding, e.nrm
       |  FROM n_e e CROSS JOIN n_it1 c
       |  QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |    list_reduce(list_transform(list_zip(e.embedding, c.c),
       |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, b) -> a + b)
       |      / (e.nrm * c.nrm) DESC, c.cid ASC) = 1),
       |dom AS (
       |  SELECT vec_id, cid, embedding, nrm FROM assign
       |  QUALIFY row_number() OVER (PARTITION BY cid ORDER BY vec_id) <= 48),
       |doomed AS (
       |  SELECT DISTINCT m.vec_id
       |  FROM assign m JOIN dom d ON d.cid = m.cid AND d.vec_id < m.vec_id
       |  WHERE d.nrm * m.nrm > 0
       |    AND list_reduce(list_transform(list_zip(d.embedding, m.embedding),
       |          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, b) -> a + b)
       |        / (d.nrm * m.nrm) >= 0.95)
       |SELECT a.vec_id, a.cid AS centroid_id
       |FROM assign a LEFT JOIN doomed dd ON a.vec_id = dd.vec_id
       |WHERE dd.vec_id IS NULL
       |ORDER BY a.vec_id""".stripMargin

  /** Per-row-probability deterministic sampling on the oracle gate
    * ([[graft.operators.Sampling.weightedHashSample]]): every document
    * carries its own keep probability (length-derived: n_chars/2000,
    * clamped to 1) and membership is decided by the cross-engine md5
    * bucket against floor(w·10⁶) — the temperature-weighted source
    * sampling a training mix runs, auditable bit-for-bit by any ANSI
    * engine. The oracle replays bucket, weight arithmetic, and the
    * spelled-out floor (Spark's int cast truncates where DuckDB's
    * rounds — the exact class of silent divergence this gate exists
    * to catch).
    */
  def q99WeightedSample(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .withColumn("w",
        least(lit(1.0), col("n_chars").cast(DoubleType) / lit(2000.0)))
    graft.operators.Sampling.weightedHashSample(docs, "doc_id", "w")
      .select(col("doc_id"), col("n_chars"))
      .orderBy("doc_id")
  }

  val q99Sql: String =
    """SELECT doc_id, n_chars
      |FROM documents
      |WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 1000000
      |  < CAST(floor(least(CAST(1.0 AS DOUBLE), n_chars / 2000.0) * 1000000)
      |         AS BIGINT)
      |ORDER BY doc_id""".stripMargin

  /** Deterministic corpus shuffle + shard manifest on the oracle gate
    * ([[graft.operators.Sampling.shuffleShard]]): every document gets a
    * (shard, pos) under the cross-engine md5 permutation — the "global
    * shuffle without a global sort" a training run performs before
    * writing shard files. The oracle replays bucket, per-shard rank,
    * and tie-break; any drift in the permutation (hash recipe, shard
    * arithmetic, rank base) moves a row. The only exchange is the
    * shard hash partition; each sort is shard-local.
    */
  def q101ShuffleShard(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    graft.operators.Sampling.shuffleShard(docs, "doc_id", 64)
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy("shard", "pos")
  }

  val q101Sql: String =
    """SELECT doc_id, CAST(h % 64 AS INTEGER) AS shard,
      |  CAST(row_number() OVER (PARTITION BY h % 64 ORDER BY h, doc_id) - 1
      |       AS BIGINT) AS pos
      |FROM (SELECT doc_id,
      |        ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS h
      |      FROM documents)
      |ORDER BY shard, pos""".stripMargin

  /** Overlapping document chunking on the oracle gate
    * ([[graft.operators.Chunking.chunkText]]): 2000-char windows with
    * 200-char overlap over every document; the artifact carries each
    * chunk's length and md5 (not the text — same discipline as the PII
    * scrub oracle). The oracle regenerates every window with
    * generate_series + substr, so the chunk-count formula, the
    * step/overlap arithmetic, 1-based substring addressing, and the
    * at-least-one-chunk rule are all independently replayed. The Spark
    * plan is exchange-free: explode(sequence) inside codegen.
    */
  def q102ChunkDocs(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    graft.operators.Chunking.chunkText(docs, "text", 2000, 200)
      .select(col("doc_id"), col("chunk_id"),
        length(col("chunk")).cast(LongType).as("chunk_len"),
        md5(col("chunk")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_id")
  }

  val q102Sql: String =
    """WITH n AS (
      |  SELECT doc_id, text,
      |    greatest(1, CAST(floor((length(text) - 200 + 1799) / 1800.0)
      |                     AS BIGINT)) AS nc
      |  FROM documents WHERE text IS NOT NULL),
      |c AS (
      |  SELECT doc_id, text, unnest(range(0, nc)) AS chunk_id FROM n)
      |SELECT doc_id, chunk_id,
      |  length(substr(text, CAST(chunk_id * 1800 + 1 AS INTEGER), 2000)) AS chunk_len,
      |  md5(substr(text, CAST(chunk_id * 1800 + 1 AS INTEGER), 2000)) AS chunk_md5
      |FROM c
      |ORDER BY doc_id, chunk_id""".stripMargin

  /** Blocked fuzzy record linkage on the oracle gate
    * ([[graft.operators.Linkage.blockedFuzzyPairs]]): plant two
    * deterministic variant families over customer names — a NEAR typo
    * (last char → 'X', edit distance 1 from its source and ≤2 from
    * every same-block original) and a FAR corruption ("Customer" →
    * "Kastoner", distance 3, same block) — and link originals to
    * variants under distance ≤ 2 with an 8-digit-prefix blocking key.
    * The oracle replays block formation and `levenshtein` (both
    * engines implement classic edit distance) including the far
    * family's REJECTION, so the block key recipe, the join scope
    * (candidates only within a block), and the distance threshold are
    * all independently checked. Plan shape: one equi-join on the
    * block key + a codegen'd distance filter — never a cross product.
    */
  def q103FuzzyLinkage(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir).select(col("c_custkey"), col("c_name"))
    val near = cust.filter(pmod(col("c_custkey"), lit(7)) === 0)
      .select((col("c_custkey") + 100000L).as("c_custkey"),
        concat(substring(col("c_name"), 1, 17), lit("X")).as("c_name"))
    val far = cust.filter(pmod(col("c_custkey"), lit(11)) === 0)
      .select((col("c_custkey") + 200000L).as("c_custkey"),
        concat(lit("Kastoner"), substring(col("c_name"), 9, 10)).as("c_name"))
    def blocked(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("_blk", substring(col("c_name"), 10, 8))
    graft.operators.Linkage.blockedFuzzyPairs(
        blocked(cust), blocked(near.unionByName(far)),
        "c_custkey", "_blk", "c_name", maxDist = 2)
      .select(col("id_a"), col("id_b"), col("dist").cast(IntegerType).as("dist"))
      .orderBy("id_a", "id_b")
  }

  val q103Sql: String =
    """WITH orig AS (
      |  SELECT c_custkey, c_name, substr(c_name, 10, 8) AS blk FROM customer),
      |vars AS (
      |  SELECT c_custkey + 100000 AS c_custkey,
      |    substr(c_name, 1, 17) || 'X' AS c_name,
      |    substr(c_name, 10, 8) AS blk
      |  FROM customer WHERE c_custkey % 7 = 0
      |  UNION ALL
      |  SELECT c_custkey + 200000,
      |    'Kastoner' || substr(c_name, 9, 10),
      |    substr(c_name, 10, 8)
      |  FROM customer WHERE c_custkey % 11 = 0)
      |SELECT o.c_custkey AS id_a, v.c_custkey AS id_b,
      |  CAST(levenshtein(o.c_name, v.c_name) AS INTEGER) AS dist
      |FROM orig o JOIN vars v ON o.blk = v.blk
      |WHERE levenshtein(o.c_name, v.c_name) <= 2
      |ORDER BY id_a, id_b""".stripMargin

  /** Count-Min sketch frequency maintenance on the oracle gate
    * ([[graft.operators.Sketches.cmsSketch]] family): three "daily"
    * order batches each build a 4×512 integer counter table, the
    * tables merge by cellwise addition, and the merged sketch answers
    * point-frequency probes for every 100th customer — including
    * customers with zero orders. The sketch is plain integers under
    * the cross-engine md5 bucket recipe, so the oracle rebuilds the
    * ENTIRE grid from scratch (cellwise addition over batches ≡ one
    * count over the union — the mergeability identity) and replays
    * every estimate exactly: any drift in the salted hash, the cell
    * aggregation, the absent-cell-is-zero rule, or the min-over-rows
    * estimator moves a value. `true_n` cross-checks the exact count;
    * est ≥ true always (CMS never undercounts — hash-checked, not
    * just claimed).
    */
  def q104CmsFrequency(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches
    val orders = Tables.orders(s, dir).select(col("o_custkey"), col("o_orderkey"))
    val daily = (0 until 3).map(i =>
      Sketches.cmsSketch(
        orders.filter(pmod(col("o_orderkey"), lit(3)) === i), "o_custkey"))
    val merged = Sketches.cmsMerge(daily)
    val probes = Tables.customer(s, dir).select(col("c_custkey"))
      .filter(pmod(col("c_custkey"), lit(100)) === 0)
    val est = Sketches.cmsEstimate(merged, probes, "c_custkey")
    val truth = orders.groupBy(col("o_custkey")).count()
      .select(col("o_custkey").as("c_custkey"), col("count").as("_true"))
    est.join(truth, Seq("c_custkey"), "left")
      .select(col("c_custkey"), col("est"),
        coalesce(col("_true"), lit(0L)).as("true_n"))
      .orderBy("c_custkey")
  }

  val q104Sql: String =
    """WITH cells AS (
      |  SELECT t.d,
      |    ('0x' || substr(md5(o_custkey::VARCHAR || 'cms' || t.d::VARCHAR),
      |     1, 15))::BIGINT % 512 AS w,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM orders CROSS JOIN range(4) t(d)
      |  GROUP BY 1, 2),
      |probes AS (
      |  SELECT c_custkey FROM customer WHERE c_custkey % 100 = 0),
      |pe AS (
      |  SELECT c_custkey, t.d,
      |    ('0x' || substr(md5(c_custkey::VARCHAR || 'cms' || t.d::VARCHAR),
      |     1, 15))::BIGINT % 512 AS w
      |  FROM probes CROSS JOIN range(4) t(d)),
      |est AS (
      |  SELECT pe.c_custkey, CAST(min(coalesce(cells.cnt, 0)) AS BIGINT) AS est
      |  FROM pe LEFT JOIN cells ON pe.d = cells.d AND pe.w = cells.w
      |  GROUP BY pe.c_custkey),
      |truth AS (
      |  SELECT o_custkey AS c_custkey, CAST(count(*) AS BIGINT) AS t
      |  FROM orders GROUP BY 1)
      |SELECT e.c_custkey, e.est, coalesce(t.t, 0) AS true_n
      |FROM est e LEFT JOIN truth t ON e.c_custkey = t.c_custkey
      |ORDER BY e.c_custkey""".stripMargin

  /** Curriculum / quality-tier bucketing on the oracle gate
    * ([[graft.operators.Sampling.bucketByQuantiles]]): every document
    * assigned to a quartile tier of the length distribution — the
    * "order training data easy→hard" primitive — with thresholds from
    * the q108 histogram sketch instead of a global `ntile` sort. The
    * oracle replays histogram, rank walk, threshold edges, and every
    * per-document comparison; any drift in the bin formula, the rank
    * rule, or the ≥-threshold bucket count moves a row. Plan shape:
    * one parallel aggregate for the sketch, a ≤256-row rank walk,
    * and a codegen'd comparison chain on the second scan — the corpus
    * is never globally sorted.
    */
  def q109CurriculumBuckets(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"),
      length(col("text")).cast(DoubleType).as("len"))
    graft.operators.Sampling.bucketByQuantiles(
        docs, "len", 0.0, 2048.0, 256, Seq(0.25, 0.5, 0.75))
      .select(col("doc_id"), col("len").cast(LongType).as("len"), col("bucket"))
      .orderBy("doc_id")
  }

  val q109Sql: String =
    """WITH d AS (
      |  SELECT doc_id, CAST(length(text) AS DOUBLE) AS len FROM documents),
      |s AS (
      |  SELECT least(greatest(CAST(floor((len - 0.0) / ((2048.0 - 0.0) / 256))
      |      AS BIGINT), 0), 255) AS bin,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM d WHERE len IS NOT NULL GROUP BY 1),
      |c AS (
      |  SELECT bin,
      |    CAST(sum(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)
      |         AS BIGINT) AS cum,
      |    CAST(sum(cnt) OVER () AS BIGINT) AS total
      |  FROM s),
      |p AS (SELECT unnest([0.25, 0.5, 0.75]) AS q),
      |cuts AS (
      |  SELECT q, 0.0 + CAST(min(bin) AS DOUBLE) * ((2048.0 - 0.0) / 256) AS est
      |  FROM p CROSS JOIN c
      |  WHERE c.cum >= ceil(p.q * CAST(c.total AS DOUBLE))
      |  GROUP BY q)
      |SELECT doc_id, CAST(len AS BIGINT) AS len,
      |  CAST((SELECT count(*) FROM cuts WHERE d.len >= cuts.est) AS INTEGER)
      |    AS bucket
      |FROM d ORDER BY doc_id""".stripMargin

  /** EXACT n-gram Jaccard self-join
    * ([[graft.operators.Dedup.exactJaccardPairs]]): every document
    * pair at shingle Jaccard ≥ 0.8 via AllPairs prefix filtering —
    * the lossless member of the dedup family (q21 MinHash / q22
    * SimHash are its probabilistic-recall siblings). Corpus: the
    * documents table plus two plant families — docs < 40 minus their
    * last 10 characters at id + 200000 (J ≈ 0.98, must ALL surface)
    * and docs 40–49 truncated to half at id + 300000 (J ≈ 0.45, must
    * ALL be rejected — they exercise the verify stage, not just the
    * size filter). Because the operator is exact and the predicate is
    * pure integer arithmetic over md5 tokens both engines compute
    * bit-identically, the oracle needs only SOME correct exact
    * algorithm — it replays the same prefix-filter shape because the
    * brute-force inverted-index join is quadratic in the corpus'
    * stop-gram buckets; candidate-set differences between the engines
    * cannot change the answer (the filter is lossless, verification
    * exact).
    */
  def q112ExactJaccard(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val near = docs.filter(col("doc_id") < 40)
      .select((col("doc_id") + 200000).as("doc_id"),
        expr("substring(text, 1, length(text) - 10)").as("text"))
    val far = docs.filter(col("doc_id") >= 40 && col("doc_id") < 50)
      .select((col("doc_id") + 300000).as("doc_id"),
        expr("substring(text, 1, length(text) div 2)").as("text"))
    val corpus = docs.unionByName(near).unionByName(far)
    graft.operators.Dedup.exactJaccardPairs(
      corpus, "doc_id", "text", minJaccardNum = 8, minJaccardDen = 10)
  }

  val q112Sql: String =
    """WITH base AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 200000, substr(text, 1, length(text) - 10)
      |  FROM documents WHERE doc_id < 40
      |  UNION ALL
      |  SELECT doc_id + 300000, substr(text, 1, length(text) // 2)
      |  FROM documents WHERE doc_id >= 40 AND doc_id < 50),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(1, length(text) - 7 + 2),
      |    i -> ('0x'||substr(md5(substr(text, i, 7)),1,15))::BIGINT))) AS g
      |  FROM base WHERE length(text) >= 7),
      |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1),
      |dfreq AS (SELECT g, count(*) AS df FROM sh GROUP BY g),
      |ranked AS (
      |  SELECT s.doc_id, s.g, z.n,
      |    row_number() OVER (PARTITION BY s.doc_id ORDER BY d.df, s.g) AS rn
      |  FROM sh s JOIN dfreq d USING (g) JOIN sz z USING (doc_id)),
      |pref AS (
      |  SELECT doc_id, g, n, rn FROM ranked
      |  WHERE rn <= n - ((8 * n + 9) // 10) + 1),
      |cand AS MATERIALIZED (
      |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      |  FROM pref a JOIN pref b ON a.g = b.g AND a.doc_id < b.doc_id
      |  WHERE 10 * least(a.n, b.n) >= 8 * greatest(a.n, b.n)
      |    AND 18 * (1 + least(a.n - a.rn, b.n - b.rn)) >= 8 * (a.n + b.n)),
      |ver AS (
      |  SELECT c.da, c.db, CAST(count(*) AS BIGINT) AS ov
      |  FROM cand c
      |  JOIN sh x ON x.doc_id = c.da
      |  JOIN sh y ON y.doc_id = c.db AND y.g = x.g
      |  GROUP BY c.da, c.db)
      |SELECT v.da AS doc_a, v.db AS doc_b, v.ov AS overlap_sz,
      |  sa.n AS size_a, sb.n AS size_b
      |FROM ver v
      |JOIN sz sa ON v.da = sa.doc_id
      |JOIN sz sb ON v.db = sb.doc_id
      |WHERE 10 * v.ov >= 8 * (sa.n + sb.n - v.ov)
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Bigram language-model quality scoring
    * ([[graft.operators.TextAnalysis.bigramLmScores]]): the CCNet-style
    * "train an LM on the corpus, score every document by how
    * predictable the model finds it" filter, with the per-bigram
    * conditional probability in fixed-point integer arithmetic
    * (⌊10⁹·(c12+1)/(c1+V)⌋) so DuckDB replays training AND scoring
    * bit-identically — counts, smoothing, the head-marginal, the
    * vocabulary scalar, and both integer divisions all have to agree
    * on every document.
    */
  def q113BigramLm(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.bigramLmScores(
      Tables.documents(s, dir).select(col("doc_id"), col("text")))

  val q113Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(trim(lower(text)),
      |    '\s+'), t -> length(t) > 0) AS ts
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(ts)),
      |    i -> ts[i] || ' ' || ts[i + 1])) AS bg
      |  FROM toks WHERE len(ts) >= 2),
      |c12 AS (SELECT bg, count(*) AS c12 FROM bg GROUP BY bg),
      |c1 AS (
      |  SELECT split_part(bg, ' ', 1) AS w1, count(*) AS c1
      |  FROM bg GROUP BY 1),
      |v AS (SELECT count(*) AS v FROM c1),
      |scored AS (
      |  SELECT b.doc_id, (1000000000 * (c.c12 + 1)) // (o.c1 + v.v) AS q
      |  FROM bg b
      |  JOIN c12 c USING (bg)
      |  JOIN c1 o ON split_part(b.bg, ' ', 1) = o.w1
      |  CROSS JOIN v),
      |agg AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |    CAST(sum(q) AS BIGINT) AS lm_score_sum
      |  FROM scored GROUP BY doc_id)
      |SELECT d.doc_id,
      |  coalesce(a.n_bigrams, 0) AS n_bigrams,
      |  coalesce(a.lm_score_sum, 0) AS lm_score_sum,
      |  CASE WHEN a.n_bigrams IS NULL THEN 0
      |       ELSE a.lm_score_sum // a.n_bigrams END AS lm_avg_q
      |FROM documents d LEFT JOIN agg a USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  /** Epoch-weighted corpus mixing ([[graft.operators.Sampling.epochMix]]):
    * md5-derived source weights and a budget of 2× the corpus token
    * mass turn into a per-document epoch count — upsampling (repeat),
    * downsampling (epoch 0), and the remainder boundary all in integer
    * arithmetic. The oracle replays the whole plan in SQL: weights,
    * per-source targets, the (shard, hash, id) permutation, the
    * cumulative prefix, and both integer divisions — a doc shifted by
    * one position in the permutation or one token in the cumulative
    * changes its epoch count and breaks the hash.
    */
  def q125EpochMix(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val budget = 2L * docs.agg(sum(col("n_chars"))).head.getLong(0)
    graft.operators.Sampling.epochMix(
        docs, "doc_id", "source", "n_chars", budget)
      .select(col("_id").as("doc_id"), col("_src").as("source"),
        col("n_epochs"))
      .orderBy("doc_id")
  }

  val q125Sql: String =
    """WITH doc AS (
      |  SELECT doc_id, source, n_chars,
      |    ('0x'||substr(md5(doc_id::VARCHAR||'mixo'),1,15))::BIGINT AS h,
      |    ('0x'||substr(md5(source||'mixw'),1,15))::BIGINT % 4 + 1 AS w
      |  FROM documents),
      |tot AS (SELECT CAST(2*sum(n_chars) AS BIGINT) AS b FROM documents),
      |sw AS (SELECT CAST(sum(w) AS BIGINT) AS sumw
      |       FROM (SELECT DISTINCT source, w FROM doc)),
      |src AS (
      |  SELECT source, max(w) AS w, CAST(sum(n_chars) AS BIGINT) AS t
      |  FROM doc GROUP BY source),
      |plan AS (
      |  SELECT s.source,
      |    ((tot.b * s.w) // sw.sumw) // s.t AS full_e,
      |    ((tot.b * s.w) // sw.sumw) % s.t AS rem
      |  FROM src s CROSS JOIN tot CROSS JOIN sw),
      |ordered AS (
      |  SELECT d.doc_id, d.source, d.n_chars,
      |    sum(d.n_chars) OVER (PARTITION BY d.source
      |      ORDER BY d.h % 64, d.h, d.doc_id
      |      ROWS UNBOUNDED PRECEDING) - d.n_chars AS before
      |  FROM doc d)
      |SELECT o.doc_id, o.source,
      |  CAST(p.full_e + CASE WHEN o.before < p.rem THEN 1 ELSE 0 END
      |    AS BIGINT) AS n_epochs
      |FROM ordered o JOIN plan p USING (source)
      |ORDER BY o.doc_id""".stripMargin

  /** Longest contaminated span per eval document
    * ([[graft.operators.TextAnalysis.contaminationSpans]]): diagonal
    * run-length over positional shingles — the depth gauge behind the
    * set-overlap decontamination passes. Three planted eval families:
    * verbatim 150-char excerpts (one long span, must dominate),
    * two-source concatenations (two spans from two train docs — the
    * longest/lowest-id one must win), and reversed documents (no
    * 7-gram survives reversal: must be absent). The oracle replays
    * positions, diagonals, run ids, and the best-span tie-break.
    */
  def q129ContaminationSpans(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val evA = docs.where(col("doc_id") < 20)
      .select((col("doc_id") + 400000).as("eval_id"),
        expr("substring(text, 21, 150)").as("text"))
    val d2 = docs.select(col("doc_id").as("d2"), col("text").as("t2"))
    val evB = docs.where(col("doc_id") >= 20 && col("doc_id") < 40)
      .join(d2, col("d2") === col("doc_id") + 1)
      .select((col("doc_id") + 500000).as("eval_id"),
        concat(expr("substring(text, 1, 60)"), lit("|"),
          expr("substring(t2, 1, 60)")).as("text"))
    val evC = docs.where(col("doc_id") >= 40 && col("doc_id") < 50)
      .select((col("doc_id") + 600000).as("eval_id"),
        reverse(col("text")).as("text"))
    graft.operators.TextAnalysis.contaminationSpans(
      docs, "doc_id", evA.unionByName(evB).unionByName(evC), "eval_id",
      "text", shingleSize = 7, minSpan = 10)
  }

  val q129Sql: String =
    """WITH ev AS (
      |  SELECT doc_id + 400000 AS eid, substr(text, 21, 150) AS t
      |  FROM documents WHERE doc_id < 20
      |  UNION ALL
      |  SELECT d1.doc_id + 500000,
      |    substr(d1.text, 1, 60) || '|' || substr(d2.text, 1, 60)
      |  FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 1
      |  WHERE d1.doc_id >= 20 AND d1.doc_id < 40
      |  UNION ALL
      |  SELECT doc_id + 600000, reverse(text)
      |  FROM documents WHERE doc_id >= 40 AND doc_id < 50),
      |tsh AS (
      |  SELECT doc_id AS tid, u.pos AS tpos, u.h FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, length(text) - 7 + 2),
      |      i -> {'pos': i - 1,
      |            'h': ('0x'||substr(md5(substr(text, i, 7)),1,15))::BIGINT}))
      |      AS u
      |    FROM documents WHERE length(text) >= 7)),
      |esh AS (
      |  SELECT eid, u.pos AS epos, u.h FROM (
      |    SELECT eid, unnest(list_transform(range(1, length(t) - 7 + 2),
      |      i -> {'pos': i - 1,
      |            'h': ('0x'||substr(md5(substr(t, i, 7)),1,15))::BIGINT}))
      |      AS u
      |    FROM ev WHERE length(t) >= 7)),
      |m AS (
      |  SELECT e.eid, t.tid, e.epos, e.epos - t.tpos AS diag
      |  FROM esh e JOIN tsh t ON e.h = t.h),
      |r AS (
      |  SELECT *, epos - row_number() OVER (PARTITION BY eid, tid, diag
      |    ORDER BY epos) AS run
      |  FROM m),
      |sp AS (
      |  SELECT eid, tid, CAST(count(*) AS BIGINT) AS span
      |  FROM r GROUP BY eid, tid, diag, run HAVING count(*) >= 10),
      |best AS (
      |  SELECT eid, tid, span,
      |    row_number() OVER (PARTITION BY eid ORDER BY span DESC, tid) AS rk
      |  FROM sp)
      |SELECT eid AS eval_id, CAST(tid AS BIGINT) AS train_id,
      |  span AS span_shingles, CAST(span + 6 AS BIGINT) AS span_chars
      |FROM best WHERE rk = 1 ORDER BY eval_id""".stripMargin

  /** Incremental IVF index append
    * ([[graft.operators.Similarity.appendToIvfIndex]]): the ANN
    * sibling of the q60 MinHash incremental index. The index is built
    * from one third of the planted corpus (whose low ids pin the same
    * centroid sample a one-shot build over everything would choose),
    * then the remaining thirds APPEND against the pinned centroids —
    * new files in existing partition directories, existing entries
    * untouched. Search over the appended index must find every
    * planted identical twin, which is exactly the q64 brute-force
    * contract — an appended index indistinguishable from a one-shot
    * build.
    */
  def q135IvfAppend(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val planted = emb.unionAll(
      emb.filter(col("vec_id") < 20)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
    val idxPath = scratchPath("q135_idx", dir)
    // batch 0 carries every id < 20, so its nlist=16 lowest-id
    // centroid sample equals the full corpus' sample — appends are
    // then provably equivalent to a one-shot build
    val b0 = planted.where(col("vec_id") < 20 || col("vec_id") % 3 === 0)
    val b1 = planted.where(col("vec_id") >= 20 && col("vec_id") % 3 === 1)
    val b2 = planted.where(col("vec_id") >= 20 && col("vec_id") % 3 === 2)
    Similarity.writeIvfIndex(b0, idxPath, "vec_id", "embedding", nlist = 16)
    Similarity.appendToIvfIndex(s, idxPath, b1, "vec_id", "embedding")
    Similarity.appendToIvfIndex(s, idxPath, b2, "vec_id", "embedding")
    Similarity.ivfTopKFromIndex(s, idxPath,
        emb.filter(col("vec_id") < 20), "vec_id", "embedding",
        k = 1, nprobe = 4)
      .select(col("query_id"), col("neighbor_id"))
      .orderBy("query_id")
  }

  val q135Sql: String = q64Sql

  /** Source-centroid similarity matrix — dataset cartography: which
    * sources are semantically close, from pairwise cosine between
    * per-source embedding centroids. Exactness trick #1: cosine is
    * scale-invariant, so the per-source SUM vector stands in for the
    * mean and the cross-engine-hazardous decimal division never
    * happens. Trick #2: components quantize to exact integer
    * milli-units at the scan (floor(x·1000) — identical double ops on
    * both engines), so sums, dot products, and norms are all BIGINT/
    * DECIMAL(38,0) integer arithmetic, and the reported similarity is
    * the signed fixed-point square sign(ab)·(10⁶·ab² div (aa·bb)) —
    * monotone in |cos|, bit-identical everywhere, no square root.
    * Shape: corpus → (source, dim) sums (one partial-aggregated
    * exchange of 64·|sources| cells), then all pairwise work happens
    * on the |sources|-bounded centroid table.
    */
  def q138SourceSimilarity(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.embeddings(s, dir)
      .join(Tables.documents(s, dir).select(col("doc_id"), col("source")),
        col("vec_id") === col("doc_id"))
      .select(col("source"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .withColumn("xi",
        floor(col("x").cast(DoubleType) * 1000).cast(LongType))
      .groupBy(col("source"), col("dim"))
      .agg(sum(col("xi")).as("sv"))
    val a = cells.select(col("source").as("src_a"), col("dim"),
      col("sv").as("sa"))
    val b = cells.select(col("source").as("src_b"), col("dim"),
      col("sv").as("sb"))
    a.join(b, Seq("dim"))
      .where(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(sum(col("sa") * col("sb")).as("ab"),
        sum(col("sa") * col("sa")).as("aa"),
        sum(col("sb") * col("sb")).as("bb"))
      .select(col("src_a"), col("src_b"),
        (signum(col("ab")).cast(LongType) *
          expr("CAST((1000000 * CAST(ab AS DECIMAL(38,0)) * CAST(ab AS DECIMAL(38,0)))" +
            " div (CAST(aa AS DECIMAL(38,0)) * CAST(bb AS DECIMAL(38,0))) AS BIGINT)"))
          .as("cos2_micros"))
      .orderBy(col("src_a"), col("src_b"))
  }

  val q138Sql: String =
    """WITH cells AS (
      |  SELECT d.source, u.dim, CAST(sum(u.xi) AS BIGINT) AS sv
      |  FROM (
      |    SELECT vec_id, unnest(list_transform(range(1, len(embedding) + 1),
      |      i -> {'dim': i - 1,
      |            'xi': CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000)
      |                  AS BIGINT)})) AS u
      |    FROM embeddings) e
      |  JOIN documents d ON e.vec_id = d.doc_id
      |  GROUP BY d.source, u.dim)
      |SELECT a.source AS src_a, b.source AS src_b,
      |  CAST(sign(sum(a.sv * b.sv)) AS BIGINT) *
      |  CAST((1000000 * CAST(sum(a.sv * b.sv) AS HUGEINT)
      |                * CAST(sum(a.sv * b.sv) AS HUGEINT))
      |       // (CAST(sum(a.sv * a.sv) AS HUGEINT)
      |          * CAST(sum(b.sv * b.sv) AS HUGEINT)) AS BIGINT)
      |    AS cos2_micros
      |FROM cells a JOIN cells b ON a.dim = b.dim AND a.source < b.source
      |GROUP BY a.source, b.source
      |ORDER BY src_a, src_b""".stripMargin

  /** Nearest document by TF-IDF cosine over word trigrams
    * ([[graft.operators.Ranking.tfidfNearestNeighbors]]): each
    * document's best semantic partner through the inverted-index pair
    * join on the df≤50 vocabulary, scored in the same fixed-point
    * integer regime as q138 (idf milli-units, BIGINT dot products,
    * DECIMAL(38,0) division). The oracle replays tokenization,
    * trigram construction, df filtering, every weight, and the
    * rank-1 tie-break.
    */
  def q142TfidfNn(s: SparkSession, dir: String): DataFrame =
    graft.operators.Ranking.tfidfNearestNeighbors(
      Tables.documents(s, dir).select(col("doc_id"), col("text")),
      "doc_id", "text", ngram = 3, maxDf = 50, k = 1)

  val q142Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
      |  FROM documents),
      |tg AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(ts) - 1),
      |    i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS t
      |  FROM toks WHERE len(ts) >= 3),
      |tf AS (SELECT doc_id, t, count(*) AS tf FROM tg GROUP BY 1, 2),
      |dfc AS (SELECT t, count(*) AS df FROM tf GROUP BY 1
      |        HAVING count(*) <= 50),
      |n AS (SELECT count(*) AS n FROM documents),
      |kept AS (
      |  SELECT tf.doc_id, tf.t,
      |    CAST(tf.tf * floor(1000.0 * ln(CAST(n.n AS DOUBLE) / dfc.df))
      |         AS BIGINT) AS w
      |  FROM tf JOIN dfc USING (t) CROSS JOIN n),
      |nrm AS (SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS nrm
      |        FROM kept GROUP BY 1),
      |p AS (
      |  SELECT a.doc_id AS ida, b.doc_id AS idb,
      |    CAST(sum(a.w * b.w) AS BIGINT) AS ab
      |  FROM kept a JOIN kept b ON a.t = b.t AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |sym AS (SELECT ida, idb, ab FROM p
      |        UNION ALL SELECT idb, ida, ab FROM p),
      |sc AS (
      |  SELECT s.ida, s.idb,
      |    CAST((1000000 * CAST(s.ab AS HUGEINT) * CAST(s.ab AS HUGEINT))
      |         // (CAST(na.nrm AS HUGEINT) * CAST(nb.nrm AS HUGEINT))
      |         AS BIGINT) AS cos2_micros
      |  FROM sym s
      |  JOIN nrm na ON na.doc_id = s.ida
      |  JOIN nrm nb ON nb.doc_id = s.idb
      |  WHERE s.ab > 0),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY ida
      |    ORDER BY cos2_micros DESC, idb) AS rk
      |  FROM sc)
      |SELECT ida AS doc_id, idb AS nn_id, cos2_micros
      |FROM r WHERE rk = 1
      |ORDER BY doc_id, cos2_micros DESC, nn_id""".stripMargin

  /** Perceptual image dedup via average-hash
    * ([[graft.operators.Multimodal.aHashHex]]): 64×64 gray pattern
    * payloads go through REAL PNG encode → REAL ImageIO decode → the
    * all-integer 8×8-block aHash (bit = 64·blockSum > totalSum, hex-
    * nibble packed — no division, no 64-bit sign pitfalls), and
    * same-hash images collapse to a canonical id. The oracle never
    * decodes a byte: it replays the pattern GENERATOR arithmetic and
    * recomputes every block sum, bit, and nibble in SQL — so any
    * defect in the encode/decode round-trip (channel order, row
    * order, color management) breaks the hash match. Twenty planted
    * twins (seed = doc_id mod 700000) must land on their originals'
    * canonical ids.
    */
  def q150ImageAhash(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Multimodal
    val ids = Tables.widen(Tables.documents(s, dir)).select(col("doc_id"))
      .unionByName(Tables.documents(s, dir).where(col("doc_id") < 20)
        .select((col("doc_id") + 700000).as("doc_id")))
    val seeded = ids.withColumn("seed", pmod(col("doc_id"), lit(700000L)))
    val hashed = Multimodal.withAHash(
        Multimodal.synthesizePatternImages(seeded, "seed"))
      .select(col("doc_id"), col("ahash"))
    val canon = hashed.groupBy(col("ahash"))
      .agg(min(col("doc_id")).as("canonical_id"))
    hashed.join(canon, Seq("ahash"))
      .select(col("doc_id"), col("ahash"), col("canonical_id"))
      .orderBy("doc_id")
  }

  val q150Sql: String =
    """WITH ids AS (
      |  SELECT doc_id FROM documents
      |  UNION ALL
      |  SELECT doc_id + 700000 FROM documents WHERE doc_id < 20),
      |sd AS (SELECT doc_id, doc_id % 700000 AS seed FROM ids),
      |px AS (
      |  SELECT sd.doc_id, x, y,
      |    (((seed * 2654435761) % 1000003) + 7 * x + 13 * y) % 256 AS v
      |  FROM sd CROSS JOIN range(64) tx(x) CROSS JOIN range(64) ty(y)),
      |bs AS (
      |  SELECT doc_id, (y // 8) * 8 + (x // 8) AS blk, sum(v) AS sm
      |  FROM px GROUP BY 1, 2),
      |tot AS (SELECT doc_id, sum(sm) AS t FROM bs GROUP BY 1),
      |bits AS (
      |  SELECT b.doc_id, b.blk,
      |    CASE WHEN 64 * b.sm > t.t THEN 1 ELSE 0 END AS bit
      |  FROM bs b JOIN tot t USING (doc_id)),
      |nib AS (
      |  SELECT doc_id, blk // 4 AS k,
      |    CAST(sum(bit * CAST(power(2, blk % 4) AS BIGINT)) AS BIGINT) AS nv
      |  FROM bits GROUP BY 1, 2),
      |hx AS (
      |  SELECT doc_id, string_agg(printf('%x', nv), '' ORDER BY k DESC)
      |    AS ahash
      |  FROM nib GROUP BY doc_id),
      |canon AS (SELECT ahash, min(doc_id) AS canonical_id
      |          FROM hx GROUP BY ahash)
      |SELECT h.doc_id, h.ahash, c.canonical_id
      |FROM hx h JOIN canon c USING (ahash)
      |ORDER BY h.doc_id""".stripMargin

  /** Cross-source corpus overlap cartography
    * ([[graft.operators.Sketches.kmvSketch]]/[[graft.operators.Sketches.kmvOverlap]]):
    * per-source k-minimum-values sketches over 60-bit shingle tokens,
    * then pairwise Jaccard estimates from how the bottom-k of each
    * pair's sketch union splits between the sides — "which crawl
    * sources are near-copies of each other" at sketch cost (the
    * corpus is touched once; pair work is sources²-bounded). The
    * oracle replays the bottom-k order statistics and the integer
    * estimator; any tie-break or ranking drift in the TopKPerKey
    * physical operator breaks the hash.
    */
  def q154SourceOverlap(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches
    val toks = Tables.widen(Tables.documents(s, dir))
      .where(length(col("text")) >= 7)
      .select(col("source"), explode(array_distinct(transform(
        charNGrams(col("text"), 7), g => md5Hash60(g)))).as("tok"))
    val sk = Sketches.kmvSketch(toks, "source", "tok", k = 128)
    Sketches.kmvOverlap(sk, "source", "tok", k = 128)
      .orderBy(col("source_a"), col("source_b"))
  }

  val q154Sql: String =
    """WITH shd AS (
      |  SELECT DISTINCT source, tok FROM (
      |    SELECT source, unnest(list_transform(
      |      range(1, length(text) - 7 + 2),
      |      i -> ('0x'||substr(md5(substr(text, i, 7)),1,15))::BIGINT)) AS tok
      |    FROM documents WHERE length(text) >= 7)),
      |ksm AS (
      |  SELECT source, tok FROM (
      |    SELECT source, tok,
      |      row_number() OVER (PARTITION BY source ORDER BY tok) AS rn
      |    FROM shd)
      |  WHERE rn <= 128),
      |srcs AS (SELECT DISTINCT source FROM ksm),
      |pairs AS (
      |  SELECT a.source AS sa, b.source AS sb
      |  FROM srcs a JOIN srcs b ON a.source < b.source),
      |tagged AS (
      |  SELECT p.sa, p.sb, s.tok,
      |    max(CASE WHEN s.source = p.sa THEN 1 ELSE 0 END) AS ina,
      |    max(CASE WHEN s.source = p.sb THEN 1 ELSE 0 END) AS inb
      |  FROM ksm s JOIN pairs p ON s.source = p.sa OR s.source = p.sb
      |  GROUP BY 1, 2, 3),
      |ranked AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY sa, sb ORDER BY tok)
      |      AS rn FROM tagged)
      |  WHERE rn <= 128)
      |SELECT sa AS source_a, sb AS source_b,
      |  CAST(count(*) AS BIGINT) AS m,
      |  CAST(sum(CASE WHEN ina = 1 AND inb = 1 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS shared,
      |  CAST(sum(CASE WHEN ina = 1 AND inb = 1 THEN 1 ELSE 0 END)
      |    * 1000000 // count(*) AS BIGINT) AS jaccard_est_micro
      |FROM ranked GROUP BY sa, sb
      |ORDER BY source_a, source_b""".stripMargin

  /** Corpus novelty curve
    * ([[graft.operators.TextAnalysis.noveltyCurve]]): the fraction of
    * each ingest slice's shingles that no earlier document contains —
    * crawl-saturation monitoring as three hash aggregates (first
    * container = min doc id per token; no prefix windows, no history
    * rescans). The oracle recomputes first-container, per-doc token
    * counts, and the bucket rollup's integer division.
    */
  def q157NoveltyCurve(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.noveltyCurve(
      Tables.widen(Tables.documents(s, dir)), "doc_id", "text",
      shingleSize = 7, bucketWidth = 100L)

  val q157Sql: String =
    """WITH sh AS (
      |  SELECT DISTINCT doc_id, tok FROM (
      |    SELECT doc_id, unnest(list_transform(
      |      range(1, length(text) - 7 + 2),
      |      i -> ('0x'||substr(md5(substr(text, i, 7)),1,15))::BIGINT)) AS tok
      |    FROM documents WHERE length(text) >= 7)),
      |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok
      |       FROM sh GROUP BY 1),
      |nv AS (SELECT first, CAST(count(*) AS BIGINT) AS n_novel FROM (
      |         SELECT tok, min(doc_id) AS first FROM sh GROUP BY tok)
      |       GROUP BY 1)
      |SELECT doc_id // 100 AS bucket, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
      |  CAST(sum(coalesce(n_novel, 0)) AS BIGINT) AS n_novel,
      |  CAST(sum(coalesce(n_novel, 0)) * 1000000 // sum(n_tok) AS BIGINT)
      |    AS novelty_micro
      |FROM pd LEFT JOIN nv ON pd.doc_id = nv.first
      |GROUP BY 1 ORDER BY bucket""".stripMargin

  /** Sample-exact audio frame features
    * ([[graft.operators.Multimodal.synthesizeTriangleWavs]] →
    * [[graft.operators.Multimodal.decodePcmSamples]] →
    * [[graft.operators.Multimodal.audioFrameFeatures]]): an INTEGER
    * triangle wave is synthesized per document, encoded as a real PCM
    * WAV, decoded back through the real JDK codec, and reduced to
    * frame-level features (total energy, zero crossings, max frame
    * energy) by native integer array expressions. The oracle
    * regenerates every sample from the closed-form integer formula —
    * so the WAV encode→decode round-trip is proven value-exact at the
    * SAMPLE level (q61's sine path can only check headers: float
    * samples don't replay across engines; integers do).
    */
  def q155AudioFrames(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Multimodal
    val params = Tables.widen(Tables.documents(s, dir)).select(
      col("doc_id"),
      lit(8000).as("rate"),
      (lit(4000) + (col("doc_id") % 5).cast(IntegerType) * 800).as("n_samp"),
      (lit(200) + (col("doc_id") % 7).cast(IntegerType) * 50).as("freq"))
    val wavs = Multimodal.synthesizeTriangleWavs(
      params, "rate", "n_samp", "freq")
    Multimodal.audioFrameFeatures(
        Multimodal.decodePcmSamples(wavs), "samples", frameSize = 400)
      .select(col("doc_id"), col("n_samples"), col("n_frames"),
        col("total_energy"), col("zcr"), col("max_frame_energy"))
      .orderBy("doc_id")
  }

  val q155Sql: String =
    """WITH p AS (
      |  SELECT doc_id, 4000 + (doc_id % 5) * 800 AS n,
      |         200 + (doc_id % 7) * 50 AS f
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, n,
      |    list_transform(range(0, n), i ->
      |      CAST(abs(((i * f * 64000) // 8000) % 64000 - 32000) - 16000
      |        AS BIGINT)) AS sm
      |  FROM p)
      |SELECT doc_id,
      |  CAST(n AS BIGINT) AS n_samples,
      |  CAST(n // 400 AS BIGINT) AS n_frames,
      |  list_reduce(list_transform(sm, x -> x * x), (a, b) -> a + b)
      |    AS total_energy,
      |  CAST(len(list_filter(range(2, n + 1), i -> sm[i-1] * sm[i] < 0))
      |    AS BIGINT) AS zcr,
      |  list_max(list_transform(range(0, n // 400), fr ->
      |    list_reduce(list_transform(list_slice(sm, fr * 400 + 1, fr * 400 + 400),
      |      x -> x * x), (a, b) -> a + b))) AS max_frame_energy
      |FROM s ORDER BY doc_id""".stripMargin

  /** Product quantization ANN
    * ([[graft.operators.Quantize.pqCodebooks]]/[[graft.operators.Quantize.pqEncode]]/[[graft.operators.Quantize.pqTopK]]):
    * two 32-dim subspace codebooks fitted with the deterministic
    * shared k-means, the corpus encoded to 2 codebook ids per vector
    * in one zero-shuffle projection, queries answered by asymmetric
    * distance computation — per-candidate cost is 2 table lookups +
    * 1 addition, the billion-vector memory layout (IVF-PQ's PQ half).
    * The DuckDB twin replays the ENTIRE pipeline: both subspace
    * k-means fits (seed, 2 Lloyd iterations with decimal-exact means,
    * empty-cluster carry), both code assignments, the ADC tables, and
    * the (score desc, id asc) top-1 — the q76 iterate-then-replay
    * pattern squared.
    */
  def q158PqTopK(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Quantize
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val cbs = Quantize.pqCodebooks(emb, "vec_id", "embedding",
      subDim = 32, m = 2, nlist = 16, iters = 2)
    val codes = Quantize.pqEncode(emb, "vec_id", "embedding", cbs, subDim = 32)
    Quantize.pqTopK(codes, emb.filter(col("vec_id") < 20),
        "vec_id", "embedding", cbs, subDim = 32, k = 1)
      .orderBy("query_id")
  }

  /** One subspace's k-means fit + assignment CTEs (suffix `sfx`,
    * DuckDB 1-based slice [lo,hi]): seed = lowest-id subvectors, two
    * Lloyd steps with DECIMAL(28,8)-exact means cast to REAL (the
    * [[graft.operators.Similarity.fitCentroids]] contract), cosine
    * assignment with (cos desc, cid asc) tie-break.
    */
  private def pqSubSql(sfx: String, lo: Int, hi: Int): String = {
    def normed(src: String, out: String, idc: String, vc: String) =
      s"""$out AS (
         |  SELECT $idc, $vc,
         |    sqrt(list_reduce(list_transform($vc, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
         |                     (a, b) -> a + b)) AS nrm
         |  FROM $src)""".stripMargin
    def step(prev: String, out: String) =
      s"""a_$out AS (
         |  SELECT e.vec_id, c.cid, e.sub
         |  FROM n_e_$sfx e CROSS JOIN n_$prev c
         |  QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |    list_reduce(list_transform(list_zip(e.sub, c.c),
         |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, b) -> a + b)
         |      / (e.nrm * c.nrm) DESC, c.cid ASC) = 1),
         |m_$out AS (
         |  SELECT cid, pos,
         |    CAST(sum(CAST(x AS DECIMAL(28,8))) AS DOUBLE) / count(*) AS m
         |  FROM (SELECT cid, unnest(range(len(sub))) AS pos,
         |          unnest(sub) AS x
         |        FROM a_$out)
         |  GROUP BY cid, pos),
         |r_$out AS (
         |  SELECT cid, list(CAST(m AS REAL) ORDER BY pos) AS c
         |  FROM m_$out GROUP BY cid),
         |$out AS (
         |  SELECT p.cid, COALESCE(r.c, p.c) AS c
         |  FROM $prev p LEFT JOIN r_$out r ON p.cid = r.cid),
         |${normed(out, s"n_$out", "cid", "c")}""".stripMargin
    s"""e_$sfx AS (SELECT vec_id, embedding[$lo:$hi] AS sub FROM embeddings),
       |${normed(s"e_$sfx", s"n_e_$sfx", "vec_id", "sub")},
       |seed_$sfx AS (SELECT vec_id AS cid, sub AS c FROM e_$sfx
       |              ORDER BY vec_id LIMIT 16),
       |${normed(s"seed_$sfx", s"n_seed_$sfx", "cid", "c")},
       |${step(s"seed_$sfx", s"it1_$sfx")},
       |${step(s"it1_$sfx", s"it2_$sfx")},
       |codes_$sfx AS (
       |  SELECT e.vec_id, c.cid
       |  FROM n_e_$sfx e CROSS JOIN n_it2_$sfx c
       |  QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |    list_reduce(list_transform(list_zip(e.sub, c.c),
       |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, b) -> a + b)
       |      / (e.nrm * c.nrm) DESC, c.cid ASC) = 1),
       |qt_$sfx AS (
       |  SELECT q.vec_id AS query_id, c.cid,
       |    list_reduce(list_transform(list_zip(q.sub, c.c),
       |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, b) -> a + b)
       |      AS ip
       |  FROM n_e_$sfx q CROSS JOIN n_it2_$sfx c
       |  WHERE q.vec_id < 20)""".stripMargin
  }

  val q158Sql: String =
    s"""WITH ${pqSubSql("s0", 1, 32)},
       |${pqSubSql("s1", 33, 64)},
       |scored AS (
       |  SELECT q0.query_id, c0.vec_id AS neighbor_id,
       |    q0.ip + q1.ip AS score
       |  FROM codes_s0 c0
       |  JOIN codes_s1 c1 ON c0.vec_id = c1.vec_id
       |  JOIN qt_s0 q0 ON q0.cid = c0.cid
       |  JOIN qt_s1 q1 ON q1.cid = c1.cid AND q1.query_id = q0.query_id
       |  WHERE c0.vec_id <> q0.query_id)
       |SELECT query_id, neighbor_id FROM scored
       |QUALIFY row_number() OVER (PARTITION BY query_id
       |  ORDER BY score DESC, neighbor_id ASC) = 1
       |ORDER BY query_id""".stripMargin

  /** Matryoshka cascade ANN
    * ([[graft.operators.Similarity.matryoshkaTopK]]): stage 1 ranks by
    * the first 16 of 64 dimensions (4× less vector data touched) into
    * a 50-candidate shortlist; stage 2 reranks the shortlist with the
    * exact full-dimension decimal dot. The oracle replays both stages
    * — prefix slices, shortlist boundary, exact rerank — so the
    * cascade's pruning is proven not to change the reported top-5
    * beyond its declared shortlist contract.
    */
  def q170MatryoshkaTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Similarity.matryoshkaTopK(emb, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", prefixDims = 16, shortlist = 50, k = 5)
      .orderBy("query_id", "rank")
  }

  private def dotDecSql(a: String, b: String): String =
    s"""list_reduce(
       |      list_transform(list_zip($a, $b),
       |        x -> CAST(CAST(CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE) AS DECIMAL(20,12)) AS DECIMAL(32,12))),
       |      (a, b) -> CAST(a + b AS DECIMAL(32,12)))""".stripMargin

  val q170Sql: String =
    s"""WITH pre AS (
       |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${dotDecSql("q.embedding[1:16]", "e.embedding[1:16]")} DESC,
       |               e.vec_id ASC) AS pr
       |  FROM embeddings q JOIN embeddings e
       |    ON q.vec_id < 5 AND e.vec_id <> q.vec_id),
       |cand AS (SELECT query_id, neighbor_id FROM pre WHERE pr <= 50),
       |reranked AS (
       |  SELECT c.query_id, c.neighbor_id,
       |    CAST(${dotDecSql("q.embedding", "e.embedding")} AS DOUBLE) AS dot
       |  FROM cand c
       |  JOIN embeddings e ON e.vec_id = c.neighbor_id
       |  JOIN embeddings q ON q.vec_id = c.query_id)
       |SELECT query_id, neighbor_id, dot,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY dot DESC, neighbor_id ASC) AS INT) AS rank
       |FROM reranked
       |QUALIFY rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** ANN index-quality evaluation
    * ([[graft.operators.Similarity.recallAtK]]): recall@10 of the
    * int8-quantized cosine arm (q80's machinery) against the exact
    * float cosine arm, per query — the "evaluate the index before
    * trusting it" gate of a vector-search rollout. Both arms AND the
    * recall join replay in DuckDB, so the measured recall itself is
    * cross-engine-proven, not just plausible.
    */
  def q173RecallEval(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Quantize
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.cosineTopKExact(emb, queries, "vec_id", "embedding", k = 10)
    val approx = Quantize.dequantCosineTopK(
      Quantize.quantizeInt8(emb, "vec_id", "embedding"),
      queries, "vec_id", "embedding", k = 10)
    Similarity.recallAtK(exact, approx, k = 10).orderBy("query_id")
  }

  val q173Sql: String =
    """WITH e AS (SELECT vec_id, embedding FROM embeddings),
      |qz0 AS (
      |  SELECT vec_id, embedding,
      |    CAST(list_min(embedding) AS DOUBLE) AS qmin,
      |    (CAST(list_max(embedding) AS DOUBLE) - CAST(list_min(embedding) AS DOUBLE)) / 255.0 AS qscale
      |  FROM e),
      |dq AS (
      |  SELECT vec_id,
      |    list_transform(
      |      list_transform(embedding, x -> CASE WHEN qscale = 0 THEN 0
      |        ELSE CAST(floor((CAST(x AS DOUBLE) - qmin) / qscale + 0.5) AS INT) END),
      |      q -> qmin + CAST(q AS DOUBLE) * qscale) AS dv
      |  FROM qz0),
      |n_dq AS (
      |  SELECT vec_id, dv,
      |    sqrt(list_reduce(list_transform(dv, x -> x * x), (a, b) -> a + b)) AS nrm
      |  FROM dq),
      |n_c AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
      |                     (a, b) -> a + b)) AS nrm
      |  FROM e),
      |n_q AS (SELECT vec_id, embedding, nrm FROM n_c WHERE vec_id < 20),
      |ex AS (
      |  SELECT nq.vec_id AS query_id, c.vec_id AS neighbor_id
      |  FROM n_q nq JOIN n_c c ON c.vec_id <> nq.vec_id
      |  QUALIFY row_number() OVER (PARTITION BY nq.vec_id ORDER BY
      |    list_reduce(list_transform(list_zip(nq.embedding, c.embedding),
      |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, b) -> a + b)
      |      / (nq.nrm * c.nrm) DESC, c.vec_id ASC) <= 10),
      |ap AS (
      |  SELECT nq.vec_id AS query_id, c.vec_id AS neighbor_id
      |  FROM n_q nq JOIN n_dq c ON c.vec_id <> nq.vec_id
      |  QUALIFY row_number() OVER (PARTITION BY nq.vec_id ORDER BY
      |    list_reduce(list_transform(list_zip(nq.embedding, c.dv),
      |      x -> CAST(x[1] AS DOUBLE) * x[2]), (a, b) -> a + b)
      |      / (nq.nrm * c.nrm) DESC, c.vec_id ASC) <= 10),
      |hits AS (
      |  SELECT e.query_id, count(*) AS n
      |  FROM ex e JOIN ap a ON e.query_id = a.query_id
      |    AND e.neighbor_id = a.neighbor_id
      |  GROUP BY e.query_id)
      |SELECT q.vec_id AS query_id,
      |  CAST(COALESCE(h.n, 0) AS BIGINT) AS n_hits,
      |  CAST(COALESCE(h.n, 0) AS DOUBLE) / 10.0 AS recall
      |FROM (SELECT DISTINCT vec_id FROM embeddings WHERE vec_id < 20) q
      |LEFT JOIN hits h ON h.query_id = q.vec_id
      |ORDER BY query_id""".stripMargin

  /** PMI collocation mining
    * ([[graft.operators.TextAnalysis.pmiCollocations]]): the corpus's
    * 25 most-associated adjacent word pairs at support ≥ 10, ranked by
    * the integer-scaled PMI transform (c12·N·10⁶) DIV (c1·c2) — the
    * q113 fixed-point recipe applied to association mining, so the
    * ranking carries zero float/log determinism risk and DuckDB
    * replays every count and division.
    */
  def q184PmiCollocations(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.pmiCollocations(
        Tables.documents(s, dir).select(col("text")), "text",
        minCount = 10L, k = 25)
      .orderBy(desc("pmi_scaled"), col("w1"), col("w2"))

  val q184Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(trim(lower(text)),
      |    '\s+'), t -> length(t) > 0) AS ts
      |  FROM documents),
      |bg AS (
      |  SELECT unnest(list_transform(range(1, len(ts)),
      |    i -> ts[i] || ' ' || ts[i + 1])) AS bg
      |  FROM toks WHERE len(ts) >= 2),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM bg),
      |c12 AS (
      |  SELECT bg, CAST(count(*) AS BIGINT) AS c12 FROM bg
      |  GROUP BY bg HAVING count(*) >= 10),
      |c1 AS (SELECT split_part(bg, ' ', 1) AS w, CAST(count(*) AS BIGINT) AS c
      |       FROM bg GROUP BY 1),
      |c2 AS (SELECT split_part(bg, ' ', 2) AS w, CAST(count(*) AS BIGINT) AS c
      |       FROM bg GROUP BY 1)
      |SELECT split_part(c12.bg, ' ', 1) AS w1,
      |  split_part(c12.bg, ' ', 2) AS w2,
      |  c12.c12 AS n_pair,
      |  (c12.c12 * n.n * 1000000) // (c1.c * c2.c) AS pmi_scaled
      |FROM c12 CROSS JOIN n
      |JOIN c1 ON c1.w = split_part(c12.bg, ' ', 1)
      |JOIN c2 ON c2.w = split_part(c12.bg, ' ', 2)
      |ORDER BY pmi_scaled DESC, w1, w2
      |LIMIT 25""".stripMargin

  /** Sorted-neighborhood duplicate blocking
    * ([[graft.operators.Linkage.sortedNeighborhoodPairs]]): impose a
    * total order by text prefix (doc_id tiebreak), compare each doc
    * against its 2 sort-successors, verify with exact token Jaccard at
    * 80% — the third blocking family next to key blocking (q103) and
    * LSH banding (q21), with the complementary recall profile (shared
    * prefix ⇒ adjacent, no hash involved). Candidate volume is exactly
    * 2N by construction. The oracle replays the sort ranks, both
    * window joins and every intersection count; only 60-bit token
    * hashes cross the Spark exchanges.
    */
  def q188SortedNeighborhood(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    graft.operators.Linkage.sortedNeighborhoodPairs(
        Tables.widen(Tables.documents(s, dir)), "doc_id",
        concat(substring(col("text"), 1, 64), lit("\u0001"),
          lpad(col("doc_id").cast("string"), 10, "0")),
        transform(TextFunctions.tokens(col("text")),
          t => TextFunctions.md5Hash60(t)),
        window = 2, minPct = 80)
      .orderBy("id_a", "id_b")
  }

  val q188Sql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(
      |      list_filter(string_split_regex(trim(text), '\s+'),
      |        x -> length(x) > 0),
      |      x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS tk,
      |    substr(text, 1, 64) || chr(1) || lpad(doc_id::VARCHAR, 10, '0') AS sk
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, tk, row_number() OVER (ORDER BY sk) - 1 AS rn FROM t),
      |p AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    len(list_intersect(a.tk, b.tk)) AS i,
      |    len(a.tk) + len(b.tk) - len(list_intersect(a.tk, b.tk)) AS u
      |  FROM r a JOIN r b ON b.rn - a.rn IN (1, 2))
      |SELECT id_a, id_b, CAST(i AS BIGINT) AS n_common,
      |  CAST(u AS BIGINT) AS n_union
      |FROM p
      |WHERE i * 100 >= 80 * u
      |ORDER BY id_a, id_b""".stripMargin

  /** Deterministic negative sampling
    * ([[graft.operators.Sampling.negativeSamples]]): 4 contrastive
    * partners per anchor (every 50th document), drawn by the md5 mod-n
    * recipe with the one-slot-over self-exclusion, joined back to the
    * corpus for the partner's source. The corpus size enters as a
    * driver scalar (one count), so the same query is SF-agnostic; the
    * oracle replays every hash, mod, and the self-collision rule.
    */
  def q190NegativeSamples(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val n = docs.count() // one driver scalar: the dense-id corpus size
    graft.operators.Sampling.negativeSamples(
        docs.filter(col("doc_id") % 50 === 0), "doc_id",
        docs.select(col("doc_id"), col("source").as("neg_source")),
        "doc_id", corpusN = n, k = 4)
      .select(col("anchor_id"), col("neg_idx"), col("neg_id"),
        col("neg_source"))
      .orderBy("anchor_id", "neg_idx")
  }

  val q190Sql: String =
    """WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
      |d AS (
      |  SELECT doc_id AS anchor_id, CAST(unnest(range(0, 4)) AS INT) AS neg_idx
      |  FROM documents WHERE doc_id % 50 = 0),
      |h AS (
      |  SELECT anchor_id, neg_idx,
      |    ('0x' || substr(md5(anchor_id::VARCHAR || '#'
      |      || neg_idx::VARCHAR || 'neg'), 1, 15))::BIGINT % nn.n AS hh,
      |    nn.n AS n
      |  FROM d CROSS JOIN nn),
      |x AS (
      |  SELECT anchor_id, neg_idx,
      |    CASE WHEN hh = anchor_id THEN (hh + 1) % n ELSE hh END AS neg_id
      |  FROM h)
      |SELECT anchor_id, neg_idx, neg_id, s.source AS neg_source
      |FROM x JOIN documents s ON s.doc_id = x.neg_id
      |ORDER BY anchor_id, neg_idx""".stripMargin

  /** Sketch-estimated equi-join cardinality
    * ([[graft.operators.Sketches.cmsJoinCardinality]]): how big would
    * `lineitem ⋈ lineitem[qty ≥ 40]` on l_partkey be — answered from
    * two 4×65536 CMS grids via the AMS inner-product estimator
    * (min over rows of Σ_w cntA·cntB), next to the exact answer for
    * honesty (the estimate is always ≥ truth; the gap IS the
    * collision term ‖A‖₁‖B‖₁/w). This is the planner-side primitive
    * behind broadcast-vs-shuffle-vs-salt decisions; q178 locates
    * skew, this sizes the join. The oracle rebuilds both grids cell
    * by cell and replays the inner products and the min.
    */
  def q191JoinCardinality(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches
    val a = Tables.lineitem(s, dir).select(col("l_partkey"))
    val b = Tables.lineitem(s, dir).filter(col("l_quantity") >= 40)
      .select(col("l_partkey"))
    val est = Sketches.cmsJoinCardinality(
      Sketches.cmsSketch(a, "l_partkey", depth = 4, width = 65536),
      Sketches.cmsSketch(b, "l_partkey", depth = 4, width = 65536))
    val truth = a.groupBy(col("l_partkey")).agg(count(lit(1)).as("_ca"))
      .join(b.groupBy(col("l_partkey")).agg(count(lit(1)).as("_cb")),
        Seq("l_partkey"))
      .agg(sum(col("_ca") * col("_cb")).cast(LongType).as("true_n"))
    est.crossJoin(truth)
  }

  val q191Sql: String =
    """WITH ca AS (
      |  SELECT t.d,
      |    ('0x' || substr(md5(l_partkey::VARCHAR || 'cms' || t.d::VARCHAR),
      |     1, 15))::BIGINT % 65536 AS w,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM lineitem CROSS JOIN range(4) t(d) GROUP BY 1, 2),
      |cb AS (
      |  SELECT t.d,
      |    ('0x' || substr(md5(l_partkey::VARCHAR || 'cms' || t.d::VARCHAR),
      |     1, 15))::BIGINT % 65536 AS w,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM lineitem CROSS JOIN range(4) t(d)
      |  WHERE l_quantity >= 40 GROUP BY 1, 2),
      |ip AS (
      |  SELECT ca.d, sum(ca.cnt * cb.cnt) AS ip
      |  FROM ca JOIN cb ON ca.d = cb.d AND ca.w = cb.w GROUP BY 1),
      |est AS (SELECT CAST(min(ip) AS BIGINT) AS est FROM ip),
      |tr AS (
      |  SELECT CAST(sum(a.c * b.c) AS BIGINT) AS true_n
      |  FROM (SELECT l_partkey, count(*) AS c FROM lineitem GROUP BY 1) a
      |  JOIN (SELECT l_partkey, count(*) AS c FROM lineitem
      |        WHERE l_quantity >= 40 GROUP BY 1) b USING (l_partkey))
      |SELECT est, true_n FROM est CROSS JOIN tr""".stripMargin

  /** Exact percentile-rank normalization
    * ([[graft.operators.RobustStats.percentileRank]]): every
    * document's n_chars mapped to rank_lt (#docs strictly smaller;
    * ties share) and pct_scaled ∈ [0, 10⁶] — the distribution-free
    * feature scaling, computed with the two-phase range-bucket prefix
    * sum (never a global window). The ORACLE is the global-window
    * formulation (`rank() OVER (ORDER BY …)`) — exactly the plan
    * shape the operator avoids, proving the sharded path computes the
    * identical ranking.
    */
  def q197PercentileRank(s: SparkSession, dir: String): DataFrame =
    graft.operators.RobustStats.percentileRank(
        Tables.documents(s, dir), "doc_id", "n_chars")
      .select(col("doc_id"), col("rank_lt"), col("pct_scaled"))
      .orderBy("doc_id")

  val q197Sql: String =
    """WITH r AS (
      |  SELECT doc_id, rank() OVER (ORDER BY n_chars) - 1 AS rank_lt,
      |    count(*) OVER () AS n
      |  FROM documents)
      |SELECT doc_id, CAST(rank_lt AS BIGINT) AS rank_lt,
      |  CAST((rank_lt * 1000000)
      |    // (CASE WHEN n > 1 THEN n - 1 ELSE 1 END) AS BIGINT) AS pct_scaled
      |FROM r ORDER BY doc_id""".stripMargin

  /** MMR diversified top-k ([[graft.operators.Similarity.mmrTopK]]):
    * 5 diversified picks from a 20-candidate relevance shortlist per
    * query at λ=0.5 — the few-shot-example / retrieval diversifier
    * (plain top-k returns near-copies; the penalty term forces
    * coverage). All relevance and pairwise-similarity dots are the
    * exact decimal fold; the oracle unrolls every greedy pick as a
    * CTE, so each step's argmax (including the diversity penalty and
    * id tie-breaks) is cross-engine-proven.
    */
  def q199MmrTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Similarity.mmrTopK(emb, emb.filter(col("vec_id") < 3),
        "vec_id", "embedding", shortlist = 20, k = 5, lambdaPct = 50)
      .select(col("query_id"), col("neighbor_id"), col("rel"),
        col("sel_rank"))
      .orderBy("query_id", "sel_rank")
  }

  private def mmrStepSql(i: Int): String =
    s"""pick$i AS (
       |  SELECT qid, nid, rel, $i AS sel_rank FROM (
       |    SELECT c.qid, c.nid, c.rel,
       |      50 * c.rel - 50 * max(m.sim) AS mmr
       |    FROM cand c
       |    JOIN sim m ON m.qid = c.qid AND m.na = c.nid
       |    JOIN sel${i - 1} s ON s.qid = m.qid AND s.nid = m.nb
       |    WHERE NOT EXISTS (SELECT 1 FROM sel${i - 1} x
       |      WHERE x.qid = c.qid AND x.nid = c.nid)
       |    GROUP BY c.qid, c.nid, c.rel)
       |  QUALIFY row_number() OVER (PARTITION BY qid
       |    ORDER BY mmr DESC, nid ASC) = 1),
       |sel$i AS (SELECT qid, nid, rel, sel_rank FROM sel${i - 1}
       |  UNION ALL SELECT qid, nid, rel, sel_rank FROM pick$i)""".stripMargin

  val q199Sql: String =
    s"""WITH raw AS (
       |  SELECT q.vec_id AS qid, e.vec_id AS nid,
       |    CAST(${dotDecSql("q.embedding", "e.embedding")} AS DOUBLE) AS rel
       |  FROM embeddings q JOIN embeddings e
       |    ON q.vec_id < 3 AND e.vec_id <> q.vec_id),
       |cand AS MATERIALIZED (
       |  SELECT qid, nid, rel FROM raw
       |  QUALIFY row_number() OVER (PARTITION BY qid
       |    ORDER BY rel DESC, nid ASC) <= 20),
       |sim AS (
       |  SELECT a.qid, a.nid AS na, b.nid AS nb,
       |    CAST(${dotDecSql("ea.embedding", "eb.embedding")} AS DOUBLE) AS sim
       |  FROM cand a JOIN cand b ON a.qid = b.qid AND a.nid <> b.nid
       |  JOIN embeddings ea ON ea.vec_id = a.nid
       |  JOIN embeddings eb ON eb.vec_id = b.nid),
       |sel1 AS (
       |  SELECT qid, nid, rel, 1 AS sel_rank FROM cand
       |  QUALIFY row_number() OVER (PARTITION BY qid
       |    ORDER BY (50 * rel) DESC, nid ASC) = 1),
       |${mmrStepSql(2)},
       |${mmrStepSql(3)},
       |${mmrStepSql(4)},
       |${mmrStepSql(5)}
       |SELECT qid AS query_id, nid AS neighbor_id, rel,
       |  CAST(sel_rank AS INT) AS sel_rank
       |FROM sel5
       |ORDER BY query_id, sel_rank""".stripMargin

  /** Quantile normalization across sources
    * ([[graft.operators.RobustStats.quantileNormalize]]): each
    * source's n_chars distribution mapped onto the POOLED
    * distribution — the batch-effect correction that makes per-source
    * length/score scales comparable without a parametric model. All
    * rank positions are exact integers; the pooled order-statistic
    * lookup replays as a range join against distinct-value intervals.
    */
  def q200QuantileNormalize(s: SparkSession, dir: String): DataFrame =
    graft.operators.RobustStats.quantileNormalize(
        Tables.documents(s, dir), "doc_id", "source", "n_chars")
      .orderBy("doc_id")

  val q200Sql: String =
    """WITH v AS (
      |  SELECT doc_id, source,
      |    CAST(CAST(n_chars AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS vm
      |  FROM documents),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
      |grp AS (
      |  SELECT doc_id, source, vm,
      |    rank() OVER (PARTITION BY source ORDER BY vm) - 1 AS rg,
      |    count(*) OVER (PARTITION BY source) AS ng
      |  FROM v),
      |pos AS (
      |  SELECT g.doc_id, g.source, g.vm,
      |    (g.rg * (nn.n - 1))
      |      // (CASE WHEN g.ng > 1 THEN g.ng - 1 ELSE 1 END) AS p
      |  FROM grp g CROSS JOIN nn),
      |pooled AS (SELECT vm AS pv, CAST(count(*) AS BIGINT) AS c
      |           FROM v GROUP BY vm),
      |pr AS (
      |  SELECT pv, c, COALESCE(sum(c) OVER (ORDER BY pv
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS rl
      |  FROM pooled)
      |SELECT pos.doc_id, pos.source, pos.vm AS value_mic,
      |  pr.pv AS norm_mic
      |FROM pos JOIN pr ON pos.p >= pr.rl AND pos.p < pr.rl + pr.c
      |ORDER BY pos.doc_id""".stripMargin

  /** Token-weighted median document length per source
    * ([[graft.operators.RobustStats.weightedMedian]]): the smallest
    * n_chars whose cumulative TOKEN weight reaches half the source's
    * total — "the typical token's document", which under length skew
    * sits far from the unweighted median ("the typical document").
    * Integer cross-multiplied threshold (2·cumw ≥ totw), replayed by
    * the oracle window-for-window.
    */
  def q207WeightedMedian(s: SparkSession, dir: String): DataFrame =
    graft.operators.RobustStats.weightedMedian(
        Tables.documents(s, dir)
          .withColumn("n_tok", tokenCount(col("text")).cast("long")),
        "source", "n_chars", "n_tok", "doc_id")
      .orderBy("source")

  val q207Sql: String =
    """WITH d AS (
      |  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS v,
      |    CAST(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
      |         ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS w
      |  FROM documents),
      |c AS (
      |  SELECT *,
      |    sum(w) OVER (PARTITION BY source ORDER BY v, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    sum(w) OVER (PARTITION BY source) AS tot,
      |    count(*) OVER (PARTITION BY source) AS n
      |  FROM d)
      |SELECT source, CAST(max(n) AS BIGINT) AS n_rows,
      |  CAST(max(tot) AS BIGINT) AS total_w,
      |  CAST(min(CASE WHEN cum * 2 >= tot THEN v END) AS BIGINT) AS wmedian
      |FROM c GROUP BY source ORDER BY source""".stripMargin

  /** Unigram-LM (SentencePiece-style) tokenizer fit
    * ([[graft.operators.Unigram.learnUnigramVocab]] — the EM-prune
    * twin of q77's BPE): substring-frequency seed, then 2 Viterbi
    * hard-EM rounds under integer micro-log2 likelihoods, pruning to
    * a 16-piece multi-character budget each round (all seen single
    * characters retained, add-one smoothed). Output is the full
    * learning TRACE — (iter, piece, cnt) for the seed and both EM
    * rounds — so a divergence ANYWHERE (a substring miscounted, a log
    * approximated differently, a Viterbi tie broken the other way, a
    * prune rank flipped) changes some row and breaks the hash. The
    * DuckDB twin replays every round: candidate substrings, the
    * bit-length micro-log2 arithmetic in HUGEINT, the position-
    * unrolled Viterbi DP (16 steps — fixture words are ≤8 chars), the
    * backpointer walk, the EM recount and both prunes.
    */
  def q210UnigramFit(s: SparkSession, dir: String): DataFrame =
    graft.operators.Unigram.learnUnigramVocab(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "text", keepMulti = 16, iters = 2, maxPieceLen = 4, minCount = 2)
      .orderBy("iter", "piece")

  /** The inference side of q210
    * ([[graft.operators.Unigram.unigramTokenCounts]], the q81
    * contract): fit the unigram vocabulary, Viterbi-segment the
    * DISTINCT-word vocabulary once under the final scores, join
    * per-word piece counts back for a per-doc sum.
    */
  def q211UnigramTokenize(s: SparkSession, dir: String): DataFrame =
    graft.operators.Unigram.unigramTokenCounts(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", keepMulti = 16, iters = 2, maxPieceLen = 4,
        minCount = 2)
      .orderBy("doc_id")

  // ---- unigram oracle machinery (generated CTE unroll) ----

  /** Integer micro-log2 of a positive BIGINT expression, in exact
    * HUGEINT arithmetic — the DuckDB mirror of Unigram.ilog2Micro. */
  // NOTE: self-parenthesized — the expansion is a SUM, and an
  // unparenthesized `ilog(a) - ilog(b)` interpolation flips the sign
  // of b's interpolation term (a real bug: it skewed the q210 oracle's
  // piece scores by a constant per piece, a more-pieces bonus that
  // flipped segmentations first at sf0.1)
  private def ilogSql(x: String): String =
    s"((length(bin($x))-1)*1000000 + CAST(CAST($x - (1::BIGINT << (length(bin($x))-1)) AS HUGEINT) * 1000000 // (1::BIGINT << (length(bin($x))-1)) AS BIGINT))"

  private val UniMaxWordLen = 16 // fixture words are <= 8 chars; 2x headroom

  /** One EM round in SQL: vocab `vin` → scores, position-unrolled
    * Viterbi DP, backpointer walk, recount, prune → vocab `vout`.
    * Tag `t` uniquifies the round's CTE names.
    */
  private def unigramEmStepSql(vin: String, vout: String, t: String,
      keepMulti: Int): String = {
    val L = UniMaxWordLen
    val dpSteps = (1 to L).map { m =>
      s"""dp${t}_$m AS MATERIALIZED (
         |  SELECT * FROM dp${t}_${m - 1}
         |  UNION ALL
         |  SELECT word, $m AS pos, sc AS score, j AS bp FROM (
         |    SELECT word, sc, j,
         |      row_number() OVER (PARTITION BY word ORDER BY sc DESC, j ASC) AS rn
         |    FROM (SELECT e.word AS word, d.score + e.s AS sc, e.j AS j
         |          FROM e$t e JOIN dp${t}_${m - 1} d
         |            ON d.word = e.word AND d.pos = e.j
         |          WHERE e.i = $m)) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val btSteps = (1 to (L - 1)).map { n =>
      s"""bt${t}_$n AS MATERIALIZED (
         |  SELECT b.word, d.bp AS pos
         |  FROM bt${t}_${n - 1} b JOIN dp${t}_$L d
         |    ON d.word = b.word AND d.pos = b.pos
         |  WHERE b.pos > 0)""".stripMargin
    }.mkString(",\n")
    val btUnion = (0 until L).map(n => s"SELECT * FROM bt${t}_$n")
      .mkString("\n  UNION ALL ")
    s"""t$t AS MATERIALIZED (SELECT CAST(sum(c) AS BIGINT) AS tot FROM $vin),
       |s$t AS MATERIALIZED (SELECT p, (${ilogSql("c")}) - (${ilogSql("tot")}) AS s
       |        FROM $vin CROSS JOIN t$t),
       |e$t AS MATERIALIZED (SELECT c.word, c.freq, c.j, c.i, s.s
       |        FROM cand c JOIN s$t s ON c.p = s.p),
       |dp${t}_0 AS MATERIALIZED (SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS score, -1 AS bp
       |             FROM wf),
       |$dpSteps,
       |bt${t}_0 AS MATERIALIZED (SELECT word, length(word) AS pos FROM wf),
       |$btSteps,
       |bt$t AS MATERIALIZED ($btUnion),
       |seg$t AS MATERIALIZED (
       |  SELECT b.word, substr(b.word, d.bp + 1, b.pos - d.bp) AS p
       |  FROM bt$t b JOIN dp${t}_$L d ON d.word = b.word AND d.pos = b.pos
       |  WHERE b.pos > 0),
       |emc$t AS MATERIALIZED (SELECT s.p, CAST(sum(w.freq) AS BIGINT) AS c
       |          FROM seg$t s JOIN wf w ON s.word = w.word GROUP BY s.p),
       |$vout AS MATERIALIZED (
       |  SELECT c0.p, CAST(COALESCE(m.c, 0) + 1 AS BIGINT) AS c
       |  FROM chars0 c0 LEFT JOIN emc$t m ON c0.p = m.p
       |  UNION ALL
       |  SELECT p, c FROM (SELECT p, c FROM emc$t WHERE length(p) > 1
       |    ORDER BY c DESC, p ASC LIMIT $keepMulti))""".stripMargin
  }

  /** Shared prefix: word freqs, candidate substrings, seed vocab v0,
    * then EM rounds v1..v`iters`. */
  private def unigramCoreSql(maxPieceLen: Int, keepMulti: Int,
      minCount: Int, iters: Int): String = {
    val em = (1 to iters)
      .map(k => unigramEmStepSql(s"v${k - 1}", s"v$k", s"m$k", keepMulti))
      .mkString(",\n")
    s"""WITH wf AS MATERIALIZED (
       |  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
       |    FROM documents WHERE text IS NOT NULL)
       |  WHERE length(word) > 0 GROUP BY word),
       |cand AS MATERIALIZED (
       |  SELECT word, freq, (e).j AS j, (e).i AS i, (e).p AS p FROM (
       |    SELECT word, freq,
       |      unnest(flatten(list_transform(range(0, length(word)),
       |        j -> list_transform(range(1, least($maxPieceLen, length(word)-j)+1),
       |          l -> {'j': j, 'i': j+l, 'p': substr(word, j+1, l)})))) AS e
       |    FROM wf)),
       |seedc AS MATERIALIZED (SELECT p, CAST(sum(freq) AS BIGINT) AS c FROM cand GROUP BY p),
       |chars0 AS MATERIALIZED (SELECT p, c FROM seedc WHERE length(p) = 1),
       |v0 AS MATERIALIZED (
       |  SELECT p, c FROM chars0
       |  UNION ALL
       |  SELECT p, c FROM (SELECT p, c FROM seedc
       |    WHERE length(p) > 1 AND c >= $minCount
       |    ORDER BY c DESC, p ASC LIMIT $keepMulti)),
       |$em""".stripMargin
  }

  /** [[unigramEmStepSql]] with `lang` threaded through every CTE —
    * the per-language EM round: totals, scores, DP, backtrack,
    * recount and prune all key on (lang, …); the per-lang prune is a
    * rank window instead of ORDER BY/LIMIT. Mirrors
    * [[graft.operators.Unigram.unigramNllScoresByKey]]'s fit.
    */
  private def unigramEmStepSqlByLang(vin: String, vout: String, t: String,
      keepMulti: Int): String = {
    val L = UniMaxWordLen
    val dpSteps = (1 to L).map { m =>
      s"""dp${t}_$m AS MATERIALIZED (
         |  SELECT * FROM dp${t}_${m - 1}
         |  UNION ALL
         |  SELECT lang, word, $m AS pos, sc AS score, j AS bp FROM (
         |    SELECT lang, word, sc, j,
         |      row_number() OVER (PARTITION BY lang, word
         |        ORDER BY sc DESC, j ASC) AS rn
         |    FROM (SELECT e.lang AS lang, e.word AS word,
         |            d.score + e.s AS sc, e.j AS j
         |          FROM e$t e JOIN dp${t}_${m - 1} d
         |            ON d.lang = e.lang AND d.word = e.word AND d.pos = e.j
         |          WHERE e.i = $m)) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val btSteps = (1 to (L - 1)).map { n =>
      s"""bt${t}_$n AS MATERIALIZED (
         |  SELECT b.lang, b.word, d.bp AS pos
         |  FROM bt${t}_${n - 1} b JOIN dp${t}_$L d
         |    ON d.lang = b.lang AND d.word = b.word AND d.pos = b.pos
         |  WHERE b.pos > 0)""".stripMargin
    }.mkString(",\n")
    val btUnion = (0 until L).map(n => s"SELECT * FROM bt${t}_$n")
      .mkString("\n  UNION ALL ")
    s"""t$t AS MATERIALIZED (SELECT lang, CAST(sum(c) AS BIGINT) AS tot
       |        FROM $vin GROUP BY lang),
       |s$t AS MATERIALIZED (SELECT v.lang, v.p,
       |          (${ilogSql("c")}) - (${ilogSql("tot")}) AS s
       |        FROM $vin v JOIN t$t tt ON tt.lang = v.lang),
       |e$t AS MATERIALIZED (SELECT c.lang, c.word, c.freq, c.j, c.i, s.s
       |        FROM cand c JOIN s$t s ON c.lang = s.lang AND c.p = s.p),
       |dp${t}_0 AS MATERIALIZED (SELECT lang, word, 0 AS pos,
       |               CAST(0 AS BIGINT) AS score, -1 AS bp
       |             FROM wf),
       |$dpSteps,
       |bt${t}_0 AS MATERIALIZED (SELECT lang, word, length(word) AS pos
       |            FROM wf),
       |$btSteps,
       |bt$t AS MATERIALIZED ($btUnion),
       |seg$t AS MATERIALIZED (
       |  SELECT b.lang, b.word, substr(b.word, d.bp + 1, b.pos - d.bp) AS p
       |  FROM bt$t b JOIN dp${t}_$L d
       |    ON d.lang = b.lang AND d.word = b.word AND d.pos = b.pos
       |  WHERE b.pos > 0),
       |emc$t AS MATERIALIZED (SELECT s.lang, s.p,
       |            CAST(sum(w.freq) AS BIGINT) AS c
       |          FROM seg$t s JOIN wf w
       |            ON s.lang = w.lang AND s.word = w.word
       |          GROUP BY s.lang, s.p),
       |$vout AS MATERIALIZED (
       |  SELECT c0.lang, c0.p, CAST(COALESCE(m.c, 0) + 1 AS BIGINT) AS c
       |  FROM chars0 c0 LEFT JOIN emc$t m
       |    ON c0.lang = m.lang AND c0.p = m.p
       |  UNION ALL
       |  SELECT lang, p, c FROM (SELECT lang, p, c,
       |      row_number() OVER (PARTITION BY lang ORDER BY c DESC, p ASC)
       |        AS rn
       |    FROM emc$t WHERE length(p) > 1) WHERE rn <= $keepMulti)""".stripMargin
  }

  /** [[unigramCoreSql]] per language: word freqs, candidates, seed
    * and EM vocab CTEs all carry `lang`. */
  private def unigramCoreSqlByLang(maxPieceLen: Int, keepMulti: Int,
      minCount: Int, iters: Int): String = {
    val em = (1 to iters)
      .map(k => unigramEmStepSqlByLang(s"v${k - 1}", s"v$k", s"m$k",
        keepMulti))
      .mkString(",\n")
    s"""WITH wf AS MATERIALIZED (
       |  SELECT lang, word, CAST(count(*) AS BIGINT) AS freq FROM (
       |    SELECT lang, unnest(string_split_regex(trim(text), '\\s+')) AS word
       |    FROM documents WHERE text IS NOT NULL)
       |  WHERE length(word) > 0 GROUP BY lang, word),
       |cand AS MATERIALIZED (
       |  SELECT lang, word, freq, (e).j AS j, (e).i AS i, (e).p AS p FROM (
       |    SELECT lang, word, freq,
       |      unnest(flatten(list_transform(range(0, length(word)),
       |        j -> list_transform(range(1, least($maxPieceLen, length(word)-j)+1),
       |          l -> {'j': j, 'i': j+l, 'p': substr(word, j+1, l)})))) AS e
       |    FROM wf)),
       |seedc AS MATERIALIZED (SELECT lang, p, CAST(sum(freq) AS BIGINT) AS c
       |  FROM cand GROUP BY lang, p),
       |chars0 AS MATERIALIZED (SELECT lang, p, c FROM seedc
       |  WHERE length(p) = 1),
       |v0 AS MATERIALIZED (
       |  SELECT lang, p, c FROM chars0
       |  UNION ALL
       |  SELECT lang, p, c FROM (SELECT lang, p, c,
       |      row_number() OVER (PARTITION BY lang ORDER BY c DESC, p ASC)
       |        AS rn
       |    FROM seedc WHERE length(p) > 1 AND c >= $minCount)
       |  WHERE rn <= $keepMulti),
       |$em""".stripMargin
  }

  val q210Sql: String =
    unigramCoreSql(maxPieceLen = 4, keepMulti = 16, minCount = 2, iters = 2) +
      """
        |SELECT 0 AS iter, p AS piece, c AS cnt FROM v0
        |UNION ALL SELECT 1, p, c FROM v1
        |UNION ALL SELECT 2, p, c FROM v2
        |ORDER BY iter, piece""".stripMargin

  val q211Sql: String =
    unigramCoreSql(maxPieceLen = 4, keepMulti = 16, minCount = 2, iters = 2) +
      "," + unigramEmStepSql("v2", "vF", "mf", keepMulti = 16) +
      """
        |, wtok AS (SELECT word, CAST(count(*) AS BIGINT) AS ntok
        |           FROM segmf GROUP BY word),
        |docwords AS (
        |  SELECT doc_id, word FROM (
        |    SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS word
        |    FROM documents WHERE text IS NOT NULL)
        |  WHERE length(word) > 0)
        |SELECT d.doc_id,
        |  COALESCE(CAST(sum(w.ntok) AS BIGINT), 0) AS n_unigram_tokens
        |FROM documents d
        |LEFT JOIN docwords dw ON d.doc_id = dw.doc_id
        |LEFT JOIN wtok w ON dw.word = w.word
        |GROUP BY d.doc_id
        |ORDER BY d.doc_id""".stripMargin

  /** CCNet-style LM quality bucketing
    * ([[graft.operators.Unigram.unigramNllScores]] +
    * [[graft.operators.Sampling.bucketByQuantiles]]): every document
    * scored by its negative log likelihood under the corpus-fitted
    * unigram LM (exact integer micro-log2 — the q210/q211 machinery,
    * no float log anywhere) and split into head/middle/tail terciles
    * of the length-normalized score, the Wenzek et al. 2020 recipe.
    * The oracle replays the ENTIRE composition: the 2-round EM fit, a
    * final Viterbi segmentation, per-piece scores, per-doc NLL sums,
    * and the q109 histogram rank-walk for the tercile thresholds —
    * one hash covers fit + scoring + bucketing end to end.
    */
  def q253CcnetBuckets(s: SparkSession, dir: String): DataFrame = {
    val scores = graft.operators.Unigram.unigramNllScores(
      Tables.documents(s, dir).select(col("doc_id"), col("text")),
      "doc_id", "text", keepMulti = 16, iters = 2, maxPieceLen = 4,
      minCount = 2)
    graft.operators.Sampling.bucketByQuantiles(
        scores.withColumn("score",
          col("nll_per_piece_micro").cast(DoubleType)),
        "score", 0.0, 24000000.0, 256, Seq(1.0 / 3, 2.0 / 3))
      .select(col("doc_id"), col("nll_micro"), col("n_pieces"),
        col("nll_per_piece_micro"), col("bucket"))
      .orderBy("doc_id")
  }

  val q253Sql: String =
    unigramCoreSql(maxPieceLen = 4, keepMulti = 16, minCount = 2, iters = 2) +
      "," + unigramEmStepSql("v2", "vF", "mf", keepMulti = 16) +
      s"""
        |, wnll AS (
        |  SELECT sg.word, CAST(-sum(s.s) AS BIGINT) AS nll,
        |    CAST(count(*) AS BIGINT) AS np
        |  FROM segmf sg JOIN smf s ON sg.p = s.p
        |  GROUP BY sg.word),
        |docwords AS (
        |  SELECT doc_id, word FROM (
        |    SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
        |    FROM documents WHERE text IS NOT NULL)
        |  WHERE length(word) > 0),
        |dstat AS (
        |  SELECT d.doc_id,
        |    COALESCE(CAST(sum(w.nll) AS BIGINT), 0) AS nll_micro,
        |    COALESCE(CAST(sum(w.np) AS BIGINT), 0) AS n_pieces
        |  FROM documents d
        |  LEFT JOIN docwords dw ON d.doc_id = dw.doc_id
        |  LEFT JOIN wnll w ON dw.word = w.word
        |  GROUP BY d.doc_id),
        |dsc AS (
        |  SELECT doc_id, nll_micro, n_pieces,
        |    nll_micro // greatest(n_pieces, 1) AS ppm,
        |    CAST(nll_micro // greatest(n_pieces, 1) AS DOUBLE) AS score
        |  FROM dstat),
        |hbins AS (
        |  SELECT least(greatest(CAST(floor((score - 0.0) /
        |      ((24000000.0 - 0.0) / 256)) AS BIGINT), 0), 255) AS bin,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM dsc WHERE score IS NOT NULL GROUP BY 1),
        |hcum AS (
        |  SELECT bin,
        |    CAST(sum(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)
        |         AS BIGINT) AS cum,
        |    CAST(sum(cnt) OVER () AS BIGINT) AS total
        |  FROM hbins),
        |pq AS (SELECT unnest([0.3333333333333333, 0.6666666666666666]) AS q),
        |cuts AS (
        |  SELECT q, 0.0 + CAST(min(bin) AS DOUBLE) * ((24000000.0 - 0.0) / 256)
        |    AS est
        |  FROM pq CROSS JOIN hcum
        |  WHERE hcum.cum >= ceil(pq.q * CAST(hcum.total AS DOUBLE))
        |  GROUP BY q)
        |SELECT doc_id, nll_micro, n_pieces, ppm AS nll_per_piece_micro,
        |  CAST((SELECT count(*) FROM cuts WHERE dsc.score >= cuts.est)
        |    AS INTEGER) AS bucket
        |FROM dsc
        |ORDER BY doc_id""".stripMargin

  /** CCNet bucketing PER LANGUAGE (the Wenzek et al. 2020 recipe as
    * published — one LM per language, head/middle/tail terciles
    * WITHIN the language:
    * [[graft.operators.Unigram.unigramNllScoresByKey]] +
    * [[graft.operators.Sampling.bucketByQuantilesKeyed]]). q253's
    * corpus-wide LM scores low-resource languages as noise; here each
    * of the corpus's five languages gets its own fitted vocabulary,
    * its own normalizing total, and its own tercile thresholds — a
    * verbose language's scores must never shift a terse language's
    * cuts. The oracle replays the per-language EM fit (every CTE
    * keyed by lang, per-lang rank-window prunes), per-language
    * scoring, and a per-language histogram rank-walk; one hash covers
    * fit + score + bucket for all languages at once.
    */
  def q253bCcnetBucketsByLang(s: SparkSession, dir: String): DataFrame = {
    val scores = graft.operators.Unigram.unigramNllScoresByKey(
      Tables.documents(s, dir).select(col("doc_id"), col("lang"),
        col("text")),
      "doc_id", "lang", "text", keepMulti = 16, iters = 2,
      maxPieceLen = 4, minCount = 2)
    graft.operators.Sampling.bucketByQuantilesKeyed(
        scores.withColumn("score",
          col("nll_per_piece_micro").cast(DoubleType)),
        "lang", "score", 0.0, 24000000.0, 256, Seq(1.0 / 3, 2.0 / 3))
      .select(col("doc_id"), col("lang"), col("nll_micro"),
        col("n_pieces"), col("nll_per_piece_micro"), col("bucket"))
      .orderBy("doc_id")
  }

  val q253bSql: String =
    unigramCoreSqlByLang(maxPieceLen = 4, keepMulti = 16, minCount = 2,
      iters = 2) +
      "," + unigramEmStepSqlByLang("v2", "vF", "mf", keepMulti = 16) +
      s"""
        |, wnll AS (
        |  SELECT sg.lang, sg.word, CAST(-sum(s.s) AS BIGINT) AS nll,
        |    CAST(count(*) AS BIGINT) AS np
        |  FROM segmf sg JOIN smf s ON sg.lang = s.lang AND sg.p = s.p
        |  GROUP BY sg.lang, sg.word),
        |docwords AS (
        |  SELECT doc_id, lang, word FROM (
        |    SELECT doc_id, lang,
        |      unnest(string_split_regex(trim(text), '\\s+')) AS word
        |    FROM documents WHERE text IS NOT NULL)
        |  WHERE length(word) > 0),
        |dstat AS (
        |  SELECT d.doc_id, d.lang,
        |    COALESCE(CAST(sum(w.nll) AS BIGINT), 0) AS nll_micro,
        |    COALESCE(CAST(sum(w.np) AS BIGINT), 0) AS n_pieces
        |  FROM documents d
        |  LEFT JOIN docwords dw ON d.doc_id = dw.doc_id
        |  LEFT JOIN wnll w ON dw.lang = w.lang AND dw.word = w.word
        |  GROUP BY d.doc_id, d.lang),
        |dsc AS (
        |  SELECT doc_id, lang, nll_micro, n_pieces,
        |    nll_micro // greatest(n_pieces, 1) AS ppm,
        |    CAST(nll_micro // greatest(n_pieces, 1) AS DOUBLE) AS score
        |  FROM dstat),
        |hbins AS (
        |  SELECT lang, least(greatest(CAST(floor((score - 0.0) /
        |      ((24000000.0 - 0.0) / 256)) AS BIGINT), 0), 255) AS bin,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM dsc WHERE score IS NOT NULL GROUP BY 1, 2),
        |hcum AS (
        |  SELECT lang, bin,
        |    CAST(sum(cnt) OVER (PARTITION BY lang ORDER BY bin
        |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |    CAST(sum(cnt) OVER (PARTITION BY lang) AS BIGINT) AS total
        |  FROM hbins),
        |pq AS (SELECT unnest([0.3333333333333333, 0.6666666666666666]) AS q),
        |cuts AS (
        |  SELECT hcum.lang, q,
        |    0.0 + CAST(min(bin) AS DOUBLE) * ((24000000.0 - 0.0) / 256)
        |      AS est
        |  FROM pq CROSS JOIN hcum
        |  WHERE hcum.cum >= ceil(pq.q * CAST(hcum.total AS DOUBLE))
        |  GROUP BY hcum.lang, q)
        |SELECT doc_id, lang, nll_micro, n_pieces,
        |  ppm AS nll_per_piece_micro,
        |  CAST((SELECT count(*) FROM cuts
        |        WHERE cuts.lang = dsc.lang AND dsc.score >= cuts.est)
        |    AS INTEGER) AS bucket
        |FROM dsc
        |ORDER BY doc_id""".stripMargin

  /** Exact substring-level dedup
    * ([[graft.operators.SubstringDedup.exactSubstringDedup]], the Lee
    * et al. ExactSubstr pass at 20-token granularity — the fixture
    * corpus averages ~54 tokens/doc, so 20 exercises genuine
    * cross-document verbatim spans while the operator's default stays
    * at the published 50): every repeated 20-token window keeps its
    * globally-first occurrence and loses every other copy. The oracle
    * replays the positional shingle hashes, the first-site election,
    * the coverage merge and the scrubbed reassembly verbatim.
    */
  def q208SubstringDedup(s: SparkSession, dir: String): DataFrame =
    graft.operators.SubstringDedup
      .exactSubstringDedup(Tables.documents(s, dir), "doc_id", "text", k = 20)
      .orderBy("doc_id")

  private def substrOracleCore(k: Int): String =
    "WITH " + substrCtes(k, "documents")

  /** The ExactSubstr detection CTE chain (t/occ/dup/firstp/marked) as a
    * fragment over an arbitrary source relation — shared by q208/q209
    * (over `documents`) and the composed-pipeline q228 (over the
    * near-deduped corpus CTE).
    */
  private def substrCtes(k: Int, src: String): String =
    s"""t AS MATERIALIZED (
       |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'),
       |    x -> length(x) > 0) AS toks
       |  FROM $src),
       |occ AS MATERIALIZED (
       |  SELECT doc_id, i - 1 AS pos,
       |    ('0x' || substr(md5(array_to_string(toks[i : i + ${k - 1}], ' ')),
       |      1, 15))::BIGINT AS h
       |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - $k + 2)) AS i
       |        FROM t WHERE len(toks) >= $k)),
       |dup AS (
       |  SELECT h, min(doc_id) AS fd FROM occ
       |  GROUP BY h HAVING count(*) >= 2),
       |firstp AS (
       |  SELECT o.h, o.doc_id AS fd, min(o.pos) AS fp
       |  FROM occ o JOIN dup ON o.h = dup.h AND o.doc_id = dup.fd
       |  GROUP BY o.h, o.doc_id),
       |marked AS MATERIALIZED (
       |  SELECT o.doc_id, o.pos FROM occ o JOIN firstp f ON o.h = f.h
       |  WHERE NOT (o.doc_id = f.fd AND o.pos = f.fp))""".stripMargin

  val q208Sql: String =
    substrOracleCore(20) +
      """,
        |tok AS (
        |  SELECT doc_id, unnest(toks) AS tok,
        |    unnest(range(0, len(toks))) AS pos
        |  FROM t),
        |cov AS (
        |  SELECT tk.doc_id, tk.pos, tk.tok,
        |    CASE WHEN EXISTS (SELECT 1 FROM marked m
        |      WHERE m.doc_id = tk.doc_id
        |        AND m.pos BETWEEN tk.pos - 19 AND tk.pos) THEN 1 ELSE 0 END AS c
        |  FROM tok tk)
        |SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
        |  CAST(sum(c) AS INT) AS n_dup_tokens,
        |  coalesce(string_agg(CASE WHEN c = 0 THEN tok END, ' ' ORDER BY pos),
        |    '') AS dedup_text
        |FROM cov GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Duplicated-span audit
    * ([[graft.operators.SubstringDedup.duplicatedSpans]]): the maximal
    * scrubbed regions behind q208 — per removed copy, where the
    * verbatim duplicate sits and how many tokens it spans
    * (gaps-and-islands over the marked window starts, merge gap ≤ k).
    */
  def q209SubstringSpans(s: SparkSession, dir: String): DataFrame =
    graft.operators.SubstringDedup
      .duplicatedSpans(Tables.documents(s, dir), "doc_id", "text", k = 20)
      .orderBy("doc_id", "span_start")

  val q209Sql: String =
    substrOracleCore(20) +
      """,
        |isl AS (
        |  SELECT doc_id, pos,
        |    sum(CASE WHEN prev IS NULL OR pos - prev > 20 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        |  FROM (SELECT doc_id, pos,
        |          lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |        FROM marked))
        |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
        |  CAST(max(pos) + 20 - min(pos) AS BIGINT) AS span_tokens
        |FROM isl GROUP BY doc_id, isl ORDER BY doc_id, span_start""".stripMargin

  /** Leakage-safe categorical feature encoding
    * ([[graft.operators.Encoding.looTargetEncode]]): leave-one-out
    * m-estimate target encoding of event_type against the event value —
    * one |categories|-row aggregate + one broadcast join back, the
    * corpus never shuffles. Every encoded value is exact integer
    * arithmetic (micro-units, one truncating division), so the oracle
    * replays all 10,000 of them bit-for-bit; any leak of the row's own
    * label, a wrong smoothing denominator, or a float sneaking into the
    * mean breaks the hash.
    */
  def q213TargetEncoding(s: SparkSession, dir: String): DataFrame =
    graft.operators.Encoding.looTargetEncode(
      Tables.events(s, dir), "event_id", "event_type", "value",
      priorWeight = 10)
      .orderBy("event_id")

  val q213Sql: String =
    """WITH b AS (
      |  SELECT event_id, event_type,
      |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS y
      |  FROM events),
      |c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(y) AS BIGINT) AS s
      |      FROM b GROUP BY event_type),
      |g AS (SELECT CAST((CAST(sum(s) AS HUGEINT) * 10)
      |        // CAST(sum(n) AS HUGEINT) AS BIGINT) AS mprior FROM c)
      |SELECT b.event_id, b.event_type,
      |  CAST((c.s - b.y + g.mprior) // (c.n - 1 + 10) AS BIGINT)
      |    AS loo_micro
      |FROM b JOIN c USING (event_type) CROSS JOIN g
      |ORDER BY event_id""".stripMargin

  /** Coverage-driven curation
    * ([[graft.operators.Coverage.greedyCoverageSelect]]): three greedy
    * max-coverage rounds over 12-char shingles — each round one
    * broadcast anti-join + count, corpus shingled exactly once. The
    * oracle unrolls all three rounds in SQL (gain ranking, lowest-id
    * tie-break, running coverage), so a wrong gain count, a stale
    * covered set, or a tie broken differently shifts a winner and
    * breaks the hash.
    */
  def q214CoverageSelect(s: SparkSession, dir: String): DataFrame =
    graft.operators.Coverage.greedyCoverageSelect(
      Tables.documents(s, dir), "doc_id", "text",
      shingleSize = 12, rounds = 3)

  val q214Sql: String =
    """WITH sh AS (
      |  SELECT DISTINCT doc_id,
      |    ('0x' || substr(md5(substr(text, CAST(i AS INT), 12)), 1, 15))::BIGINT AS h
      |  FROM documents, unnest(range(1, length(text) - 12 + 2)) AS t(i)
      |  WHERE text IS NOT NULL AND length(text) >= 12),
      |g1 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS gain
      |       FROM sh GROUP BY doc_id),
      |w1 AS (SELECT doc_id, gain FROM g1 ORDER BY gain DESC, doc_id LIMIT 1),
      |c1 AS (SELECT DISTINCT h FROM sh
      |       WHERE doc_id = (SELECT doc_id FROM w1)),
      |g2 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS gain FROM sh
      |       WHERE doc_id <> (SELECT doc_id FROM w1)
      |         AND h NOT IN (SELECT h FROM c1)
      |       GROUP BY doc_id),
      |w2 AS (SELECT doc_id, gain FROM g2 ORDER BY gain DESC, doc_id LIMIT 1),
      |c2 AS (SELECT DISTINCT h FROM sh
      |       WHERE doc_id IN (SELECT doc_id FROM w1
      |                        UNION SELECT doc_id FROM w2)),
      |g3 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS gain FROM sh
      |       WHERE doc_id NOT IN (SELECT doc_id FROM w1
      |                            UNION SELECT doc_id FROM w2)
      |         AND h NOT IN (SELECT h FROM c2)
      |       GROUP BY doc_id),
      |w3 AS (SELECT doc_id, gain FROM g3 ORDER BY gain DESC, doc_id LIMIT 1)
      |SELECT CAST(1 AS INT) AS round, doc_id, gain, gain AS covered_total
      |FROM w1
      |UNION ALL
      |SELECT 2, w2.doc_id, w2.gain, (SELECT gain FROM w1) + w2.gain FROM w2
      |UNION ALL
      |SELECT 3, w3.doc_id, w3.gain,
      |  (SELECT gain FROM w1) + (SELECT gain FROM w2) + w3.gain FROM w3
      |ORDER BY round""".stripMargin

  /** Character-entropy quality profile
    * ([[graft.operators.Entropy.charEntropyProfile]]): exact integer
    * Shannon entropy per document in micro-bits via the same
    * piecewise-linear micro-log2 the unigram tokenizer scores with —
    * two content-free hash aggregates, symbols travel as 60-bit md5
    * tokens. The oracle replays length, per-symbol counts, every
    * micro-log2 term, and the final division for all documents.
    */
  def q217CharEntropy(s: SparkSession, dir: String): DataFrame =
    graft.operators.Entropy.charEntropyProfile(
      Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  val q217Sql: String = {
    val ilogN = ilogSql("n")
    val ilogC = ilogSql("c")
    s"""WITH ch AS (
       |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n,
       |    ('0x' || substr(md5(substr(text, CAST(i AS INT), 1)), 1, 15))::BIGINT AS h
       |  FROM documents, unnest(range(1, length(text) + 1)) AS t(i)
       |  WHERE text IS NOT NULL AND length(text) >= 1),
       |cc AS (SELECT doc_id, n, h, CAST(count(*) AS BIGINT) AS c
       |       FROM ch GROUP BY doc_id, n, h),
       |tm AS (SELECT doc_id, n, CAST(count(*) AS BIGINT) AS n_symbols,
       |         sum(c * (($ilogN) - ($ilogC))) AS tsum
       |       FROM cc GROUP BY doc_id, n)
       |SELECT doc_id, n AS n_chars, n_symbols,
       |  CAST(tsum // n AS BIGINT) AS entropy_microbits
       |FROM tm ORDER BY doc_id""".stripMargin
  }

  /** Graded retrieval evaluation ([[graft.operators.Ranking.ndcgAtK]]):
    * NDCG@10 for three probe queries — the run is a deliberately
    * imperfect single-term tf ranking, the labels grade documents by
    * how many of the query's three terms they contain, so the metric
    * is genuinely < 1 and every discounted-gain division matters. DCG
    * uses the engine's one replayable logarithm (micro-log2), so the
    * oracle recomputes runs, labels, ideal rankings, and every
    * truncating gain division bit-for-bit.
    */
  def q218NdcgEval(s: SparkSession, dir: String): DataFrame = {
    val qdefs = Seq((1, Seq("merge", "join", "filter")),
      (2, Seq("hash", "scan", "sort")),
      (3, Seq("vector", "batch", "window")))
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), nonEmptyTokens(lower(col("text"))).as("_toks"))
      .filter(col("_toks").isNotNull)
    val runs = qdefs.map { case (qid, terms) =>
      docs.select(lit(qid).as("qid"), col("doc_id"),
        size(filter(col("_toks"), t => t === lit(terms.head))).as("_tf"))
        .filter(col("_tf") > 0)
    }.reduce(_ unionByName _)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("_tf").desc, col("doc_id").asc)
    val run = runs.withColumn("rank", row_number().over(w))
    val rels = qdefs.map { case (qid, terms) =>
      docs.select(lit(qid).as("qid"), col("doc_id"),
        terms.map(t => when(array_contains(col("_toks"), t), 1L)
          .otherwise(0L)).reduce(_ + _).as("rel"))
        .filter(col("rel") > 0)
    }.reduce(_ unionByName _)
    graft.operators.Ranking
      .ndcgAtK(run, rels, "qid", "doc_id", "rank", "rel", k = 10)
      .orderBy("qid")
  }

  val q218Sql: String = {
    def ilogp(x: String) = s"(${ilogSql(x)})"
    s"""WITH t AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(trim(lower(text)), '\\s+'),
       |                x -> length(x) > 0) AS toks
       |  FROM documents),
       |q(qid, t1, t2, t3) AS (VALUES
       |  (1, 'merge', 'join', 'filter'),
       |  (2, 'hash', 'scan', 'sort'),
       |  (3, 'vector', 'batch', 'window')),
       |run0 AS (
       |  SELECT q.qid, t.doc_id,
       |    len(list_filter(t.toks, x -> x = q.t1)) AS tf
       |  FROM q, t),
       |run AS (
       |  SELECT qid, doc_id,
       |    row_number() OVER (PARTITION BY qid ORDER BY tf DESC, doc_id) AS r
       |  FROM run0 WHERE tf > 0),
       |rp AS (
       |  SELECT q.qid, t.doc_id,
       |    CAST(CASE WHEN list_contains(t.toks, q.t1) THEN 1 ELSE 0 END +
       |         CASE WHEN list_contains(t.toks, q.t2) THEN 1 ELSE 0 END +
       |         CASE WHEN list_contains(t.toks, q.t3) THEN 1 ELSE 0 END
       |      AS BIGINT) AS rel
       |  FROM q, t
       |  WHERE list_contains(t.toks, q.t1) OR list_contains(t.toks, q.t2)
       |     OR list_contains(t.toks, q.t3)),
       |dcg AS (
       |  SELECT r.qid,
       |    CAST(sum((COALESCE(l.rel, 0) * 1000000000000)
       |      // ${ilogp("r.r + 1")}) AS BIGINT) AS dcg_micro
       |  FROM run r LEFT JOIN rp l ON l.qid = r.qid AND l.doc_id = r.doc_id
       |  WHERE r.r <= 10 GROUP BY r.qid),
       |irk AS (
       |  SELECT qid, rel,
       |    row_number() OVER (PARTITION BY qid ORDER BY rel DESC, doc_id) AS ir
       |  FROM rp),
       |idcg AS (
       |  SELECT qid, CAST(sum((rel * 1000000000000)
       |    // ${ilogp("ir + 1")}) AS BIGINT) AS idcg_micro
       |  FROM irk WHERE ir <= 10 GROUP BY qid)
       |SELECT d.qid, d.dcg_micro,
       |  COALESCE(i.idcg_micro, 0) AS idcg_micro,
       |  CAST((CAST(d.dcg_micro AS HUGEINT) * 1000000)
       |    // nullif(i.idcg_micro, 0) AS BIGINT) AS ndcg_ppm
       |FROM dcg d LEFT JOIN idcg i USING (qid) ORDER BY qid""".stripMargin
  }

  /** Exact proportional corpus apportionment
    * ([[graft.operators.Sampling.apportionSelect]]): exactly 137
    * documents split across languages by the largest-remainder
    * (Hamilton) method — 137 is chosen so two bonus seats exist and
    * the remainder ranking is exercised. The oracle replays quotas,
    * remainders, bonus assignment, and the per-source composite
    * (md5 bucket, md5 hex, id) selection rank for every selected row.
    */
  def q219ApportionSelect(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.apportionSelect(
      Tables.documents(s, dir), "doc_id", "lang",
      budget = 137L, nBuckets = 64, salt = "apq")
      .orderBy("lang", "sel_rank")

  val q219Sql: String =
    """WITH n AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
      |           FROM documents GROUP BY lang),
      |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM n),
      |fq AS (SELECT lang, n, (137 * n) // tot AS q0, (137 * n) % tot AS rem
      |       FROM n, t),
      |lo AS (SELECT 137 - CAST(sum(q0) AS BIGINT) AS l FROM fq),
      |rk AS (SELECT *, row_number() OVER (ORDER BY rem DESC, lang) AS rr
      |       FROM fq),
      |quota AS (SELECT lang,
      |    least(n, q0 + CASE WHEN rr <= (SELECT l FROM lo)
      |      THEN 1 ELSE 0 END) AS quota
      |  FROM rk),
      |ord AS (SELECT doc_id, lang,
      |    ('0x' || substr(md5(doc_id::VARCHAR || 'apq'), 1, 15))::BIGINT
      |      % 64 AS b,
      |    md5(doc_id::VARCHAR || 'apq') AS hx
      |  FROM documents),
      |rkd AS (SELECT doc_id, lang,
      |    row_number() OVER (PARTITION BY lang ORDER BY b, hx, doc_id) AS r
      |  FROM ord)
      |SELECT d.doc_id, d.lang, CAST(d.r AS BIGINT) AS sel_rank, q.quota
      |FROM rkd d JOIN quota q USING (lang)
      |WHERE d.r <= q.quota
      |ORDER BY d.lang, sel_rank""".stripMargin

  // ---- WordPiece oracle machinery (q222/q223) ----

  /** Shared WordPiece SQL core: word freqs, substring candidates,
    * frequency-selected vocabulary (chars + top-16 multi ≥ 2). */
  private val wpCoreSql: String = "WITH " + wpCtes("documents")

  /** The WordPiece fit CTE chain (dw/wf/cand/cnts/vocab) as a fragment
    * over an arbitrary source relation — shared by q222/q223 (over
    * `documents`) and the composed-pipeline q228 (over the final
    * substring-scrubbed corpus CTE).
    */
  private def wpCtes(src: String): String =
    s"""dw AS MATERIALIZED (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
      |  FROM $src WHERE text IS NOT NULL),
      |wf AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS freq,
      |         CAST(length(w) AS INT) AS len
      |       FROM dw WHERE length(w) > 0 GROUP BY w),
      |cand AS MATERIALIZED (
      |  SELECT wf.w, wf.freq, wf.len, CAST(t.j AS INT) AS j,
      |    CAST(t.j + u.l AS INT) AS i,
      |    substr(wf.w, CAST(t.j + 1 AS INT), CAST(u.l AS INT)) AS p
      |  FROM wf,
      |    unnest(range(0, wf.len)) AS t(j),
      |    unnest(range(1, least(4, wf.len - t.j) + 1)) AS u(l)),
      |cnts AS MATERIALIZED (SELECT p, CAST(sum(freq) AS BIGINT) AS cnt
      |         FROM cand GROUP BY p),
      |vocab AS MATERIALIZED (
      |  SELECT p, cnt FROM cnts WHERE length(p) = 1
      |  UNION ALL
      |  SELECT p, cnt FROM (
      |    SELECT p, cnt FROM cnts WHERE length(p) > 1 AND cnt >= 2
      |    ORDER BY cnt DESC, p LIMIT 16))""".stripMargin

  /** One greedy longest-match step: state (pos, cnt) per word. */
  private def wpStepSql(prev: String, out: String,
      edges: String = "edges"): String =
    s"""$out AS MATERIALIZED (
       |  SELECT s.w, s.freq, s.len,
       |    CASE WHEN s.pos >= s.len THEN s.pos
       |         ELSE (SELECT max(e.i) FROM $edges e
       |               WHERE e.w = s.w AND e.j = s.pos) END AS pos,
       |    s.cnt + CASE WHEN s.pos >= s.len THEN 0 ELSE 1 END AS cnt
       |  FROM $prev s)""".stripMargin

  /** WordPiece-style tokenizer fit
    * ([[graft.operators.WordPiece.learnVocab]]): the third tokenizer
    * family next to BPE (q77) and unigram-LM (q210) — vocabulary =
    * every character plus the top-16 multi-char substrings by
    * occurrence-weighted frequency. The oracle rebuilds word
    * frequencies, all substring candidates, and the ranked selection.
    */
  def q222WordPieceVocab(s: SparkSession, dir: String): DataFrame =
    graft.operators.WordPiece.learnVocab(
      Tables.documents(s, dir), "text",
      maxPieceLen = 4, keepMulti = 16, minCount = 2)
      .orderBy("piece")

  val q222Sql: String =
    wpCoreSql + "\nSELECT p AS piece, cnt FROM vocab ORDER BY piece"

  /** WordPiece greedy longest-match tokenization
    * ([[graft.operators.WordPiece.wordPieceTokenCounts]]): the
    * BERT-family inference rule — at each position consume the LONGEST
    * vocabulary piece. The distinct-word table is segmented once (one
    * Catalyst fold per word, no shuffle) and per-doc counts join back.
    * The oracle unrolls the greedy walk position by position (16
    * steps, the q210 unroll convention) — a different rule (shortest
    * match, off-by-one, a stale covered position) shifts token counts
    * and breaks the hash.
    */
  def q223WordPieceTokenize(s: SparkSession, dir: String): DataFrame = {
    // The oracle unrolls exactly UniMaxWordLen greedy steps while the
    // Spark fold iterates word-length steps: a fixture word longer than
    // the unroll would silently break the hash gate. Fail loudly here
    // instead (the q210 family shares the same unroll depth).
    requireMaxWordLen(s, dir)
    graft.operators.WordPiece.wordPieceTokenCounts(
      Tables.documents(s, dir), "doc_id", "text",
      maxPieceLen = 4, keepMulti = 16, minCount = 2)
      .orderBy("doc_id")
  }

  /** Guard shared by the unrolled-oracle tokenizer queries: assert no
    * fixture word exceeds the oracle's [[UniMaxWordLen]]-step unroll. */
  private def requireMaxWordLen(s: SparkSession, dir: String): Unit = {
    val m = Tables.documents(s, dir)
      .select(explode(split(trim(col("text")), "\\s+")).as("_w"))
      .agg(max(length(col("_w"))).as("_m")).collect()(0)
    val maxLen = if (m.isNullAt(0)) 0 else m.getInt(0)
    require(maxLen <= UniMaxWordLen,
      s"fixture word length $maxLen exceeds the oracle unroll depth " +
        s"$UniMaxWordLen — deepen the SQL unroll before trusting the gate")
  }

  val q223Sql: String = {
    val steps = (1 to 16)
      .map(i => wpStepSql(s"s${i - 1}", s"s$i")).mkString(",\n")
    wpCoreSql +
      s""",
         |edges AS (SELECT DISTINCT c.w, c.j, c.i
         |          FROM cand c JOIN vocab v ON v.p = c.p),
         |s0 AS (SELECT w, freq, len, 0 AS pos, CAST(0 AS BIGINT) AS cnt
         |       FROM wf),
         |$steps,
         |wtok AS (SELECT w, cnt FROM s16),
         |docw AS (
         |  SELECT dw.doc_id, t.cnt
         |  FROM dw JOIN wtok t ON t.w = dw.w
         |  WHERE length(dw.w) > 0)
         |SELECT d.doc_id,
         |  COALESCE(CAST(sum(x.cnt) AS BIGINT), 0) AS n_wordpiece_tokens
         |FROM documents d
         |LEFT JOIN docw x ON x.doc_id = d.doc_id
         |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin
  }

  /** BM25 through a persisted inverted postings index
    * ([[graft.operators.Ranking.writePostingsIndex]] /
    * [[graft.operators.Ranking.bm25TopKFromIndex]]): the text twin of
    * the IVF vector index q65 — postings partitioned by term bucket,
    * the probe reads ONLY the query terms' buckets (PartitionFilters,
    * PlanShapeSpec-asserted) and must answer BIT-IDENTICALLY to
    * scanning the corpus, which is exactly what the oracle does
    * (the q85 rational-BM25 replay over raw documents, different
    * terms). Index write inside the timed region by design (the q65
    * convention: the one-off a production query stream amortizes).
    */
  def q224IndexedBm25(s: SparkSession, dir: String): DataFrame = {
    val path = scratchPath("q224", dir) + "/ix"
    graft.operators.Ranking.writePostingsIndex(
      Tables.documents(s, dir), "doc_id", "text", path, nBuckets = 32)
    graft.operators.Ranking.bm25TopKFromIndex(
      s, path, "doc_id", Seq("customer", "vector", "stream"),
      k = 15, nBuckets = 32)
      .orderBy(col("score").desc, col("doc_id"))
  }

  val q224Sql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(trim(lower(text)), '\s+'),
      |                x -> length(x) > 0) AS toks
      |  FROM documents),
      |const AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS n,
      |    CAST(sum(len(toks)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
      |  FROM t),
      |hit AS (
      |  SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
      |    unnest(toks) AS term
      |  FROM t),
      |tf AS (
      |  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf, max(dl) AS dl
      |  FROM hit WHERE term IN ('customer', 'vector', 'stream')
      |  GROUP BY doc_id, term),
      |dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
      |scored AS (
      |  SELECT tf.doc_id, tf.term,
      |    (((SELECT n FROM const) - df + 0.5) / (df + 0.5))
      |      * (tf * (CAST(1.2 AS DOUBLE) + 1.0))
      |      / (tf + CAST(1.2 AS DOUBLE)
      |         * ((1.0 - CAST(0.75 AS DOUBLE))
      |            + CAST(0.75 AS DOUBLE) * dl / (SELECT avgdl FROM const))) AS s
      |  FROM tf JOIN dfq USING (term)),
      |piv AS (
      |  SELECT doc_id,
      |    max(CASE WHEN term = 'customer' THEN s END) AS s0,
      |    max(CASE WHEN term = 'vector'   THEN s END) AS s1,
      |    max(CASE WHEN term = 'stream'   THEN s END) AS s2
      |  FROM scored GROUP BY doc_id)
      |SELECT doc_id,
      |  COALESCE(s0, 0.0) + COALESCE(s1, 0.0) + COALESCE(s2, 0.0) AS score,
      |  CAST((CASE WHEN s0 IS NOT NULL THEN 1 ELSE 0 END)
      |     + (CASE WHEN s1 IS NOT NULL THEN 1 ELSE 0 END)
      |     + (CASE WHEN s2 IS NOT NULL THEN 1 ELSE 0 END) AS INT) AS n_terms_hit
      |FROM piv
      |ORDER BY score DESC, doc_id
      |LIMIT 15""".stripMargin

  /** Rendezvous (highest-random-weight) sharding stability
    * ([[graft.operators.Sampling.rendezvousAssign]]): assign every
    * document under 5 shards and again under 6, and publish the full
    * transition matrix. The defining property — adding a shard moves
    * rows ONLY into the new shard, never laterally — is visible in the
    * output (`lateral_move` rows carry the moved counts; there must be
    * none) and hash-checked against the oracle's independent argmax
    * replay; RendezvousSpec additionally asserts the zero-lateral
    * invariant directly.
    */
  def q226RendezvousShards(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val five = Seq("n0", "n1", "n2", "n3", "n4")
    val a = Sampling.rendezvousAssign(docs, "doc_id", five)
      .withColumnRenamed("shard", "shard5")
    val b = Sampling.rendezvousAssign(docs, "doc_id", five :+ "n5")
      .withColumnRenamed("shard", "shard6")
    a.join(b, Seq("doc_id"))
      .groupBy(col("shard5"), col("shard6"))
      .agg(count(lit(1)).as("n_docs"))
      .select(col("shard5"), col("shard6"), col("n_docs"),
        (col("shard5") =!= col("shard6") && col("shard6") =!= "n5")
          .as("lateral_move"))
      .orderBy("shard5", "shard6")
  }

  val q226Sql: String =
    """WITH sh5(s) AS (VALUES ('n0'), ('n1'), ('n2'), ('n3'), ('n4')),
      |sh6(s) AS (VALUES ('n0'), ('n1'), ('n2'), ('n3'), ('n4'), ('n5')),
      |a AS (
      |  SELECT doc_id, s AS shard5 FROM (
      |    SELECT d.doc_id, sh5.s,
      |      row_number() OVER (PARTITION BY d.doc_id ORDER BY
      |        ('0x' || substr(md5(d.doc_id::VARCHAR || ':' || sh5.s),
      |         1, 15))::BIGINT DESC, sh5.s DESC) AS rn
      |    FROM documents d, sh5) WHERE rn = 1),
      |b AS (
      |  SELECT doc_id, s AS shard6 FROM (
      |    SELECT d.doc_id, sh6.s,
      |      row_number() OVER (PARTITION BY d.doc_id ORDER BY
      |        ('0x' || substr(md5(d.doc_id::VARCHAR || ':' || sh6.s),
      |         1, 15))::BIGINT DESC, sh6.s DESC) AS rn
      |    FROM documents d, sh6) WHERE rn = 1)
      |SELECT a.shard5, b.shard6, CAST(count(*) AS BIGINT) AS n_docs,
      |  (a.shard5 <> b.shard6 AND b.shard6 <> 'n5') AS lateral_move
      |FROM a JOIN b USING (doc_id)
      |GROUP BY a.shard5, b.shard6
      |ORDER BY shard5, shard6""".stripMargin

  /** Zipf-law corpus-health audit per language
    * ([[graft.operators.TextAnalysis.zipfSlope]]): the log-log OLS
    * slope of term frequency vs rank in exact integer arithmetic —
    * micro-log2 coordinates, DECIMAL(38,0) closed-form slope. The
    * oracle recomputes counts, ranks (count desc, term asc), both
    * micro-logs, and the Cramer division per language.
    */
  def q227ZipfSlope(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis
      .zipfSlope(Tables.documents(s, dir), "lang", "text")
      .orderBy("lang")

  val q227Sql: String = {
    def ilogp(x: String) = s"(${ilogSql(x)})"
    s"""WITH tok AS (
       |  SELECT lang,
       |    unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
       |           x -> length(x) > 0)) AS t
       |  FROM documents WHERE text IS NOT NULL),
       |c AS (SELECT lang, t, CAST(count(*) AS BIGINT) AS c
       |      FROM tok GROUP BY lang, t),
       |r AS (SELECT lang, c,
       |        row_number() OVER (PARTITION BY lang
       |          ORDER BY c DESC, t ASC) AS rk
       |      FROM c),
       |xy AS (SELECT lang, ${ilogp("rk")} AS x, ${ilogp("c")} AS y FROM r),
       |g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_terms,
       |        CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
       |        CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
       |        CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
       |      FROM xy GROUP BY lang)
       |SELECT lang, n_terms,
       |  CAST((1000000 * (n_terms * sxy - sx * sy))
       |    // nullif(n_terms * sxx - sx * sx, 0) AS BIGINT)
       |    AS zipf_slope_ppm
       |FROM g ORDER BY lang""".stripMargin
  }

  // ---- q228/q229: the COMPOSED flagship pipeline (round-10 ask #1) ----

  /** Constant filler appended to the q228 substring-planted docs: long
    * enough to dilute Jaccard vs the span donor to ≈0.3 (comfortably
    * below the 0.5 LSH-recall floor AND the 0.6 gate, so the planted
    * docs deterministically SURVIVE near-dedup and reach the
    * ExactSubstr stage), every word ≤ 10 chars (the WP unroll guard).
    */
  private val ComposedFiller: String =
    "the quick brown fox jumps over the lazy dog while common filler " +
      "words pad this synthetic tail to dilute similarity safely below " +
      "the near dup threshold"

  /** q228/q229 fixture: the q59 planting (near-dup char truncations,
    * +100000) plus substring-span plants (+200000) — each is the first
    * 25 TOKENS of a real doc followed by the constant filler and a
    * unique marker token, so after near-dedup keeps them, the
    * ExactSubstr stage must find and scrub exactly the 25-token donor
    * span (its 20-token windows all re-occur in the lower-id donor).
    */
  private def composedPlanted(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    docs
      .unionAll(docs.filter(col("doc_id") < 60).select(
        (col("doc_id") + 100000).as("doc_id"),
        expr("substring(text, 1, greatest(length(text) - 15, 40))")
          .as("text")))
      .unionAll(docs.filter(col("doc_id") < 40).select(
        (col("doc_id") + 200000).as("doc_id"),
        concat(
          array_join(slice(filter(split(trim(col("text")), "\\s+"),
            t => length(t) > 0), 1, 25), " "),
          lit(" " + ComposedFiller + " zz"),
          (col("doc_id") + 200000).cast("string")).as("text")))
  }

  private val composedConfig = graft.pipeline.TrainingPipeline.Config(
    auditableSplit = true,
    exactSubstrK = Some(20),
    wordPieceCfg = Some(graft.pipeline.TrainingPipeline.WordPieceCfg(
      maxPieceLen = 4, keepMulti = 16, minCount = 2)))

  /** Shared oracle CTE chain for q228/q229: the q59 pipeline mirror
    * (scrub → quality gate → exact dedup → all-pairs near-dup +
    * recursive components) extended with the round-9 stages — the
    * ExactSubstr scrub ([[substrCtes]] over the kept corpus, k=20,
    * positional coverage + reassembly) and the WordPiece fit +
    * greedy-unroll tokenize ([[wpCtes]] over the FINAL scrubbed text).
    * One WITH chain, so a single hash verifies the whole composition.
    */
  /** The pipeline FRONT HALF as oracle CTE text over a `src` CTE with
    * (doc_id, text): scrub → quality gate → exact dedup → all-pairs
    * near-dup at the pipeline's default J ≥ 0.6 → recursive components
    * → `doomed`/`kept`. Thresholds mirror `TrainingPipeline.Config`
    * defaults. Shared by q228/q229 (the composed flagship), q240 (the
    * HTML-input composition) and q241 (kept near-dup families) so one
    * SQL text cannot drift per query.
    */
  private def frontCtes(src: String): String = {
    val stop = "['the','a','an','and','or','of','to','in','is','are','was'," +
      "'it','that','this','for','on','with','as','at','by','be']"
    s"""scrubbed AS MATERIALIZED (
       |  SELECT doc_id,
       |    trim(regexp_replace(
       |      regexp_replace(
       |        regexp_replace(
       |          regexp_replace(text,
       |            '$emailPattern', '<EMAIL>', 'g'),
       |          '$urlPattern', '<URL>', 'g'),
       |        '$phonePattern', '<PHONE>', 'g'),
       |      '\\s+', ' ', 'g')) AS text
       |  FROM $src),
       |scored AS (
       |  SELECT doc_id, text,
       |    len(string_split_regex(trim(text), '\\s+')) AS n_tok,
       |    CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
       |      t -> list_contains($stop, t))) AS DOUBLE) AS n_stop,
       |    CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE) AS n_punct,
       |    CAST(length(text) AS DOUBLE) AS n_chars,
       |    CAST(list_sum(list_transform(string_split_regex(trim(text), '\\s+'),
       |      t -> length(t))) AS DOUBLE) AS tok_chars
       |  FROM scrubbed),
       |gated AS MATERIALIZED (
       |  SELECT doc_id, text FROM scored
       |  WHERE n_tok >= 10
       |    AND least(n_tok / 100.0, 1.0) * 0.3
       |      + least((n_stop / greatest(n_tok, 1)) * 3.0, 1.0) * 0.3
       |      + greatest(1.0 - (n_punct / greatest(n_chars, 1)) * 10.0, 0.0) * 0.2
       |      + (CASE WHEN tok_chars / greatest(n_tok, 1) BETWEEN 3.0 AND 10.0
       |              THEN 1.0 ELSE 0.5 END) * 0.2 >= 0.3),
       |deduped AS MATERIALIZED (
       |  SELECT doc_id, text FROM (
       |    SELECT doc_id, text,
       |      row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
       |    FROM gated)
       |  WHERE rn = 1),
       |sh AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(1, length(text)-7+2), i -> substr(text, i, 7))) AS s
       |  FROM deduped WHERE length(text) >= 7),
       |ex AS MATERIALIZED (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM sh),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    count(*) AS i, any_value(a.n) AS na, any_value(b.n) AS nb
       |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id),
       |pairs AS (
       |  SELECT id_a, id_b FROM inter
       |  WHERE CAST(i AS DOUBLE) / CAST(na + nb - i AS DOUBLE) >= 0.6),
       |edges AS MATERIALIZED (
       |  SELECT id_a AS s, id_b AS d FROM pairs
       |  UNION
       |  SELECT id_b AS s, id_a AS d FROM pairs),
       |reach(s, d) AS (
       |  SELECT s, d FROM edges
       |  UNION
       |  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
       |doomed AS (
       |  SELECT s AS doc_id FROM reach GROUP BY s
       |  HAVING least(min(d), s) < s),
       |kept AS MATERIALIZED (
       |  SELECT doc_id, text FROM deduped
       |  WHERE doc_id NOT IN (SELECT doc_id FROM doomed))""".stripMargin
  }

  private def composedCtes: String = {
    val wpSteps = (1 to 16)
      .map(i => wpStepSql(s"s${i - 1}", s"s$i", edges = "wpedges"))
      .mkString(",\n")
    s"""planted AS MATERIALIZED (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000 AS doc_id,
       |    substr(text, 1, greatest(length(text) - 15, 40)) AS text
       |  FROM documents WHERE doc_id < 60
       |  UNION ALL
       |  SELECT doc_id + 200000 AS doc_id,
       |    array_to_string(list_filter(string_split_regex(trim(text), '\\s+'),
       |      x -> length(x) > 0)[1:25], ' ') ||
       |      ' $ComposedFiller zz' || CAST(doc_id + 200000 AS VARCHAR)
       |      AS text
       |  FROM documents WHERE doc_id < 40),
       |${frontCtes("planted")},
       |${substrCtes(20, "kept")},
       |tok AS (
       |  SELECT doc_id, unnest(toks) AS tok,
       |    unnest(range(0, len(toks))) AS pos
       |  FROM t),
       |cov AS (
       |  SELECT tk.doc_id, tk.pos, tk.tok,
       |    CASE WHEN EXISTS (SELECT 1 FROM marked m
       |      WHERE m.doc_id = tk.doc_id
       |        AND m.pos BETWEEN tk.pos - 19 AND tk.pos) THEN 1 ELSE 0 END AS c
       |  FROM tok tk),
       |final AS MATERIALIZED (
       |  SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
       |    CAST(sum(c) AS INT) AS n_dup_tokens,
       |    coalesce(string_agg(CASE WHEN c = 0 THEN tok END, ' ' ORDER BY pos),
       |      '') AS text
       |  FROM cov GROUP BY doc_id),
       |${wpCtes("final")},
       |wpedges AS MATERIALIZED (SELECT DISTINCT c.w, c.j, c.i
       |            FROM cand c JOIN vocab v ON v.p = c.p),
       |s0 AS (SELECT w, freq, len, 0 AS pos, CAST(0 AS BIGINT) AS cnt
       |       FROM wf),
       |$wpSteps,
       |wtok AS (SELECT w, cnt FROM s16),
       |docw AS (
       |  SELECT dw.doc_id, wt.cnt
       |  FROM dw JOIN wtok wt ON wt.w = dw.w
       |  WHERE length(dw.w) > 0),
       |wpc AS MATERIALIZED (
       |  SELECT f.doc_id,
       |    COALESCE(CAST(sum(x.cnt) AS BIGINT), 0) AS n_wordpiece_tokens
       |  FROM final f LEFT JOIN docw x ON x.doc_id = f.doc_id
       |  GROUP BY f.doc_id)""".stripMargin
  }

  /** The composed flagship pipeline ([[graft.pipeline.TrainingPipeline]]
    * with BOTH round-9 stages on): scrub → quality gate → exact dedup →
    * near-dup components → ExactSubstr scrub (k=20) → WordPiece fit +
    * tokenize → auditable split, hash-matched end to end. The fixture
    * plants BOTH failure modes: char-truncated near-dups (+100000, the
    * q59 plant — must be DROPPED by stage 4) and 25-token verbatim-span
    * borrowers (+200000 — must SURVIVE stage 4 at J≈0.3, then lose
    * exactly the donor span to stage 5). One hash verifies the whole
    * composition: doc set, per-doc substr counters, WordPiece token
    * counts over the final text, split assignment, and content md5.
    */
  def q228ComposedPipeline(s: SparkSession, dir: String): DataFrame = {
    requireMaxWordLen(s, dir) // WP-unroll guard (filler/marker words ≤ 10)
    val prep = graft.pipeline.TrainingPipeline
      .prepareMetered(composedPlanted(s, dir), composedConfig)
    prep.corpus.select(col("doc_id"), col("split"), col("n_tokens"),
        col("n_dup_tokens"), col("n_wordpiece_tokens"),
        md5(col("text")).as("content_md5"))
      .orderBy("doc_id")
  }

  val q228Sql: String =
    s"""WITH RECURSIVE
       |${composedCtes}
       |SELECT f.doc_id,
       |  CASE WHEN bucket < 800000 THEN 'train'
       |       WHEN bucket < 900000 THEN 'val'
       |       ELSE 'test' END AS split,
       |  f.n_tokens, f.n_dup_tokens, w.n_wordpiece_tokens,
       |  md5(f.text) AS content_md5
       |FROM (
       |  SELECT doc_id, n_tokens, n_dup_tokens, text,
       |    ('0x'||substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 1000000 AS bucket
       |  FROM final) f
       |JOIN wpc w ON w.doc_id = f.doc_id
       |ORDER BY f.doc_id""".stripMargin

  /** Per-stage pipeline metering
    * ([[graft.pipeline.TrainingPipeline.Config.meterStages]]): one row
    * per stage of the q228 composition with surviving rows and the
    * corpus token total at that point (WordPiece tokens for the
    * tokenizer stage — the number a packing stage budgets against).
    * The oracle recounts every stage from its own CTE chain, so the
    * meters themselves are cross-engine-verified, not just logged.
    */
  def q229PipelineMeters(s: SparkSession, dir: String): DataFrame = {
    val prep = graft.pipeline.TrainingPipeline.prepareMetered(
      composedPlanted(s, dir), composedConfig.copy(meterStages = true))
    import s.implicits._
    prep.meters.map(m => (m.stageNo, m.stage, m.nRows, m.nTokens))
      .toDF("stage_no", "stage", "n_rows", "n_tokens")
      .orderBy("stage_no")
  }

  val q229Sql: String = {
    val toksum = "coalesce(CAST(sum(len(list_filter(" +
      "string_split_regex(trim(text), '\\s+'), x -> length(x) > 0))) " +
      "AS BIGINT), 0)"
    s"""WITH RECURSIVE
       |${composedCtes},
       |splitasg AS (
       |  SELECT doc_id,
       |    CASE WHEN b < 800000 THEN 'train'
       |         WHEN b < 900000 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM (
       |    SELECT doc_id,
       |      ('0x'||substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 1000000 AS b
       |    FROM final))
       |SELECT * FROM (
       |  SELECT CAST(1 AS INT) AS stage_no, 'input' AS stage,
       |    CAST(count(*) AS BIGINT) AS n_rows, $toksum AS n_tokens
       |  FROM planted
       |  UNION ALL
       |  SELECT CAST(2 AS INT), 'scrubbed', CAST(count(*) AS BIGINT),
       |    $toksum FROM scrubbed
       |  UNION ALL
       |  SELECT CAST(3 AS INT), 'gated', CAST(count(*) AS BIGINT),
       |    $toksum FROM gated
       |  UNION ALL
       |  SELECT CAST(4 AS INT), 'exact_dedup', CAST(count(*) AS BIGINT),
       |    $toksum FROM deduped
       |  UNION ALL
       |  SELECT CAST(5 AS INT), 'near_dedup', CAST(count(*) AS BIGINT),
       |    $toksum FROM kept
       |  UNION ALL
       |  SELECT CAST(6 AS INT), 'substr_scrub', CAST(count(*) AS BIGINT),
       |    $toksum FROM final
       |  UNION ALL
       |  SELECT CAST(7 AS INT), 'wordpiece', CAST(count(*) AS BIGINT),
       |    coalesce(CAST(sum(n_wordpiece_tokens) AS BIGINT), 0) FROM wpc
       |  UNION ALL
       |  SELECT CAST(8 AS INT), 'split_leaks',
       |    CAST((SELECT count(*) FROM pairs p
       |          JOIN splitasg a ON a.doc_id = p.id_a
       |          JOIN splitasg b ON b.doc_id = p.id_b
       |          WHERE a.split <> b.split) AS BIGINT),
       |    CAST(0 AS BIGINT))
       |ORDER BY stage_no""".stripMargin
  }

  // ---- q230: skew-adversarial LSH flood (round-10 ask #4) ----

  /** q230 flood base: 40 distinct nonsense tokens (letters only, 6-7
    * chars) sharing essentially no 7-gram shingle with the corpus text,
    * so the flood's star links can only land INSIDE the flood — the
    * capped-bucket drop can never pull a corpus doc into the flood
    * component, which is what makes the uncapped all-pairs oracle
    * exact on a capped run.
    */
  private val FloodBase: String =
    "vorqel blenth krastu zimbor fleqan drubex woshti plarnik gevoti " +
      "muxard qelfin tarvok xubeni ralques pintoq hasver jolkri wexang " +
      "bruqom steyfal cruvek gyphor naldriq welbuxo zarqint fomelk " +
      "trubiqa heskarn uvraqel biltrox ogrenv dwemiq yastrub kelvorn " +
      "ximbral puqzet larvex snovqil merqath jixolb"

  /** Zipf-headed near-dup flood through the full pipeline with the LSH
    * bucket cap DOWN at 64: 260 copies of one nonsense-token document
    * (each with a unique marker suffix, so none is an exact dup and
    * every pairwise Jaccard is ≈0.9) are planted at +300000 amid the
    * real corpus. With 260 near-identical docs, every band's majority
    * bucket is ~4× over the cap — the guard MUST fire
    * ([[graft.pipeline.TrainingPipeline.Prepared.cappedBucketCount]]
    * surfaces it, emitted here as `capped_fired`), pairs inside the
    * flood become star links to the bucket representative instead of
    * an O(260²)-per-band expansion, and the canonical (lowest-id)
    * flood doc must be the component's sole survivor. The oracle is
    * the UNCAPPED exact all-pairs chain (q59's mirror): hash equality
    * proves capped components ≡ uncapped components on this fixture.
    * The natural corpus buckets stay under the cap (measured max 30 at
    * sf0.1, 3 at sf0.01 with the (96, 24) config), so corpus-side
    * semantics are exactly q59's.
    */
  def q230CappedFlood(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val flood = s.range(260).select(
      (col("id") + 300000L).as("doc_id"),
      concat(lit(FloodBase + " m"), col("id").cast("string")).as("text"))
    val planted = docs.unionAll(flood)
    val prep = graft.pipeline.TrainingPipeline.prepareMetered(planted,
      graft.pipeline.TrainingPipeline.Config(
        auditableSplit = true, maxBucketSize = 64))
    prep.corpus.select(col("doc_id"), col("split"),
        md5(col("text")).as("content_md5"),
        lit(prep.cappedBucketCount > 0).as("capped_fired"))
      .orderBy("doc_id")
  }

  /** The oracle's `TRUE AS capped_fired` is an assertion about the
    * fixture, not a recomputation: 260 near-identical docs against a
    * cap of 64 over-fills the majority bucket of every band by ~4×
    * deterministically (seeded MinHash), so any correct capped-LSH
    * implementation must report a capped run here.
    */
  val q230Sql: String = {
    val stop = "['the','a','an','and','or','of','to','in','is','are','was'," +
      "'it','that','this','for','on','with','as','at','by','be']"
    s"""WITH RECURSIVE planted AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT 300000 + i AS doc_id,
       |    '$FloodBase m' || CAST(i AS VARCHAR) AS text
       |  FROM range(0, 260) t(i)),
       |scrubbed AS (
       |  SELECT doc_id,
       |    trim(regexp_replace(
       |      regexp_replace(
       |        regexp_replace(
       |          regexp_replace(text,
       |            '$emailPattern', '<EMAIL>', 'g'),
       |          '$urlPattern', '<URL>', 'g'),
       |        '$phonePattern', '<PHONE>', 'g'),
       |      '\\s+', ' ', 'g')) AS text
       |  FROM planted),
       |scored AS (
       |  SELECT doc_id, text,
       |    len(string_split_regex(trim(text), '\\s+')) AS n_tok,
       |    CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
       |      t -> list_contains($stop, t))) AS DOUBLE) AS n_stop,
       |    CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE) AS n_punct,
       |    CAST(length(text) AS DOUBLE) AS n_chars,
       |    CAST(list_sum(list_transform(string_split_regex(trim(text), '\\s+'),
       |      t -> length(t))) AS DOUBLE) AS tok_chars
       |  FROM scrubbed),
       |gated AS (
       |  SELECT doc_id, text FROM scored
       |  WHERE n_tok >= 10
       |    AND least(n_tok / 100.0, 1.0) * 0.3
       |      + least((n_stop / greatest(n_tok, 1)) * 3.0, 1.0) * 0.3
       |      + greatest(1.0 - (n_punct / greatest(n_chars, 1)) * 10.0, 0.0) * 0.2
       |      + (CASE WHEN tok_chars / greatest(n_tok, 1) BETWEEN 3.0 AND 10.0
       |              THEN 1.0 ELSE 0.5 END) * 0.2 >= 0.3),
       |deduped AS MATERIALIZED (
       |  SELECT doc_id, text FROM (
       |    SELECT doc_id, text,
       |      row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
       |    FROM gated)
       |  WHERE rn = 1),
       |sh AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(1, length(text)-7+2), i -> substr(text, i, 7))) AS s
       |  FROM deduped WHERE length(text) >= 7),
       |ex AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM sh),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    count(*) AS i, any_value(a.n) AS na, any_value(b.n) AS nb
       |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id),
       |pairs AS (
       |  SELECT id_a, id_b FROM inter
       |  WHERE CAST(i AS DOUBLE) / CAST(na + nb - i AS DOUBLE) >= 0.6),
       |edges AS (
       |  SELECT id_a AS s, id_b AS d FROM pairs
       |  UNION
       |  SELECT id_b AS s, id_a AS d FROM pairs),
       |reach(s, d) AS (
       |  SELECT s, d FROM edges
       |  UNION
       |  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
       |doomed AS (
       |  SELECT s AS doc_id FROM reach GROUP BY s
       |  HAVING least(min(d), s) < s)
       |SELECT doc_id,
       |  CASE WHEN bucket < 800000 THEN 'train'
       |       WHEN bucket < 900000 THEN 'val'
       |       ELSE 'test' END AS split,
       |  md5(text) AS content_md5,
       |  TRUE AS capped_fired
       |FROM (
       |  SELECT doc_id, text,
       |    ('0x'||substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 1000000 AS bucket
       |  FROM deduped
       |  WHERE doc_id NOT IN (SELECT doc_id FROM doomed))
       |ORDER BY doc_id""".stripMargin
  }

  /** Leakage-safe train/val/test split
    * ([[graft.operators.Selection.leakageSafeSplit]]): the q50 planted
    * near-dup corpus, split 80/10/10 by the md5 bucket of each
    * document's near-dup COMPONENT representative — so a near-dup of a
    * training document can never land in val/test. The output carries
    * the audit alongside the split sizes: `leaked_pairs` counts
    * near-dup pairs straddling a split boundary and must be 0 by
    * construction, which the DuckDB oracle re-proves from scratch
    * (recursive-CTE components + its own md5 assignment + its own
    * leak join). Per-document md5Split on the SAME corpus leaks —
    * the planted twins hash independently — so the zero is earned by
    * the component key, not by fixture luck.
    *
    * Banding-vs-oracle margin (the r11 ADVICE note): the Spark side
    * finds pairs through MinHash banding (96 hashes / 24 bands of 4)
    * while the oracle enumerates ALL pairs at true Jaccard ≥ 0.5, so a
    * borderline pair near J = 0.5 could in principle be missed by
    * banding (hit probability 1−(1−J⁴)²⁴ ≈ 0.79 at J = 0.5). The
    * fixture is deliberately NOT borderline: a 15-char tail truncation
    * leaves the twin sharing all but ~21 of the donor's 7-gram
    * shingles, so even at the 40-char truncation floor the planted
    * Jaccard is ≥ ~0.77 (miss probability < 4·10⁻⁵ per pair; typical
    * docs are hundreds of chars, J > 0.9, miss < 10⁻¹¹) — every
    * planted pair sits far above the banding recall knee, which is
    * what licenses the exact all-pairs oracle on a banded run.
    */
  def q231LeakageSafeSplit(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val planted = docs.unionAll(
      docs.filter(col("doc_id") < 60).select(
        (col("doc_id") + 100000).as("doc_id"),
        expr("substring(text, 1, greatest(length(text) - 15, 40))").as("text")))
    val pairs = Dedup.verifiedNearDupPairs(planted, "doc_id", "text",
      minJaccard = 0.5, shingleSize = 7, numHashes = 96, bands = 24)
    val assigned = graft.operators.Selection.leakageSafeSplit(
      planted, "doc_id", pairs,
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val leaks = graft.operators.Selection.crossSplitLeaks(
      assigned, "doc_id", pairs)
    assigned.groupBy(col("split"))
      .agg(count(lit(1)).cast(LongType).as("n_docs"),
        countDistinct(col("group_id")).cast(LongType).as("n_groups"))
      .crossJoin(broadcast(leaks))
      .orderBy("split")
  }

  val q231Sql: String =
    """WITH RECURSIVE planted AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000 AS doc_id,
      |    substr(text, 1, greatest(length(text) - 15, 40)) AS text
      |  FROM documents WHERE doc_id < 60),
      |sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, length(text)-7+2), i -> substr(text, i, 7))) AS s
      |  FROM planted WHERE length(text) >= 7),
      |ex AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM sh),
      |inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    count(*) AS i, any_value(a.n) AS na, any_value(b.n) AS nb
      |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id),
      |pairs AS (
      |  SELECT id_a, id_b FROM inter
      |  WHERE CAST(i AS DOUBLE) / CAST(na + nb - i AS DOUBLE) >= 0.5),
      |edges AS (
      |  SELECT id_a AS s, id_b AS d FROM pairs
      |  UNION
      |  SELECT id_b AS s, id_a AS d FROM pairs),
      |reach(s, d) AS (
      |  SELECT s, d FROM edges
      |  UNION
      |  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
      |comp AS (
      |  SELECT s AS doc_id, least(min(d), s) AS component_id
      |  FROM reach GROUP BY s),
      |asg AS (
      |  SELECT doc_id, g,
      |    CASE WHEN b < 800000 THEN 'train'
      |         WHEN b < 900000 THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM (
      |    SELECT p.doc_id, COALESCE(c.component_id, p.doc_id) AS g,
      |      ('0x'||substr(md5(CAST(COALESCE(c.component_id, p.doc_id) AS VARCHAR)), 1, 15))::BIGINT
      |        % 1000000 AS b
      |    FROM planted p LEFT JOIN comp c ON c.doc_id = p.doc_id)),
      |leak AS (
      |  SELECT CAST(count(*) AS BIGINT) AS leaked_pairs
      |  FROM pairs p
      |  JOIN asg a ON a.doc_id = p.id_a
      |  JOIN asg b ON b.doc_id = p.id_b
      |  WHERE a.split <> b.split)
      |SELECT asg.split, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(count(DISTINCT g) AS BIGINT) AS n_groups,
      |  (SELECT leaked_pairs FROM leak) AS leaked_pairs
      |FROM asg
      |GROUP BY asg.split
      |ORDER BY asg.split""".stripMargin

  /** Prototype pruning ([[graft.operators.Selection.prototypePrune]]):
    * the q76 k-means fit (nlist 16, 2 Lloyd rounds, identical seeds)
    * then per cluster DROP the 25% of members nearest their centroid
    * by cosine — the SemDeDup/SSL-prototypes curation rule. The output
    * is the dropped set with its within-cluster rank; the oracle
    * replays the full k-means (q76's CTE machinery), recomputes every
    * member's cosine to its winning centroid, and re-derives the
    * floor(n/4) cut — any drift in assignment, tie-break, or the cut
    * arithmetic moves a vec across the boundary and breaks the hash.
    */
  def q232PrototypePrune(s: SparkSession, dir: String): DataFrame =
    graft.operators.Selection.prototypePrune(
      Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", nlist = 16, iters = 2, dropNum = 1, dropDen = 4)
      .orderBy("vec_id")

  val q232Sql: String =
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |n_e AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
       |                     (a, b) -> a + b)) AS nrm
       |  FROM e),
       |seed AS (SELECT vec_id AS cid, embedding AS c FROM e ORDER BY vec_id LIMIT 16),
       |n_seed AS (
       |  SELECT cid, c,
       |    sqrt(list_reduce(list_transform(c, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
       |                     (a, b) -> a + b)) AS nrm
       |  FROM seed),
       |${kmeansStepSql("seed", "it1")},
       |${kmeansStepSql("it1", "it2")},
       |fa AS (
       |  SELECT e.vec_id, c.cid,
       |    list_reduce(list_transform(list_zip(e.embedding, c.c),
       |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, b) -> a + b)
       |      / (e.nrm * c.nrm) AS sim
       |  FROM n_e e CROSS JOIN n_it2 c
       |  QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY sim DESC, c.cid ASC) = 1),
       |sized AS (SELECT cid, CAST(count(*) AS BIGINT) AS n FROM fa GROUP BY cid),
       |ranked AS (
       |  SELECT vec_id, cid,
       |    CAST(row_number() OVER (PARTITION BY cid ORDER BY sim DESC, vec_id ASC) AS INT) AS rnk
       |  FROM fa)
       |SELECT r.vec_id, r.cid AS centroid_id, r.rnk AS proto_rank
       |FROM ranked r JOIN sized s ON s.cid = r.cid
       |WHERE r.rnk <= (s.n * 1) // 4
       |ORDER BY r.vec_id""".stripMargin

  /** Cross-lingual tokenizer-quality report
    * ([[graft.operators.WordPiece.fertilityByGroup]]): fit the
    * WordPiece vocabulary on the ENGLISH slice only, then measure
    * per-language fertility (tokens per word) and UNK-word rate over
    * the whole corpus — the standard eval for "how badly does an
    * en-fit tokenizer fragment the other languages". The zh slice has
    * characters outside the en fit charset, so real UNKs appear; the
    * oracle refits the vocabulary on the same slice and replays
    * coverage, the 16-step greedy walk, and the per-language sums.
    */
  def q233TokenFertility(s: SparkSession, dir: String): DataFrame = {
    requireMaxWordLen(s, dir)
    graft.operators.WordPiece.fertilityByGroup(
      Tables.documents(s, dir), "text", "lang", col("lang") === "en",
      maxPieceLen = 4, keepMulti = 16, minCount = 2)
      .orderBy("lang")
  }

  val q233Sql: String = {
    val steps = (1 to 16)
      .map(i => wpStepSql(s"f${i - 1}", s"f$i", edges = "edgesF"))
      .mkString(",\n")
    "WITH " + wpCtes("(SELECT doc_id, text FROM documents WHERE lang = 'en')") +
      s""",
         |dwF AS MATERIALIZED (
         |  SELECT lang, unnest(string_split_regex(trim(text), '\\s+')) AS w
         |  FROM documents WHERE text IS NOT NULL),
         |wfF AS MATERIALIZED (
         |  SELECT w, CAST(count(*) AS BIGINT) AS freq,
         |    CAST(length(w) AS INT) AS len
         |  FROM dwF WHERE length(w) > 0 GROUP BY w),
         |candF AS MATERIALIZED (
         |  SELECT wfF.w, wfF.len, CAST(t.j AS INT) AS j,
         |    CAST(t.j + u.l AS INT) AS i,
         |    substr(wfF.w, CAST(t.j + 1 AS INT), CAST(u.l AS INT)) AS p
         |  FROM wfF,
         |    unnest(range(0, wfF.len)) AS t(j),
         |    unnest(range(1, least(4, wfF.len - t.j) + 1)) AS u(l)),
         |cov AS (
         |  SELECT c.w, count(*) AS m
         |  FROM candF c JOIN vocab v ON v.p = c.p
         |  WHERE c.i - c.j = 1
         |  GROUP BY c.w),
         |covered AS (
         |  SELECT wfF.w, wfF.freq, wfF.len
         |  FROM wfF JOIN cov ON cov.w = wfF.w AND cov.m = wfF.len),
         |edgesF AS (SELECT DISTINCT c.w, c.j, c.i
         |           FROM candF c JOIN vocab v ON v.p = c.p),
         |f0 AS (SELECT w, freq, len, 0 AS pos, CAST(0 AS BIGINT) AS cnt
         |       FROM covered),
         |$steps,
         |wstats AS (
         |  SELECT w, cnt AS ntok, FALSE AS unk FROM f16
         |  UNION ALL
         |  SELECT w, CAST(1 AS BIGINT) AS ntok, TRUE AS unk
         |  FROM wfF WHERE w NOT IN (SELECT w FROM covered))
         |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(CASE WHEN ws.unk THEN 1 ELSE 0 END) AS BIGINT) AS n_unk_words,
         |  CAST(sum(ws.ntok) AS BIGINT) AS n_tokens,
         |  CAST(CAST(sum(ws.ntok) AS BIGINT) AS DOUBLE)
         |    / CAST(CAST(count(*) AS BIGINT) AS DOUBLE) AS fertility
         |FROM (SELECT lang, w FROM dwF WHERE length(w) > 0) d
         |JOIN wstats ws ON ws.w = d.w
         |GROUP BY d.lang
         |ORDER BY d.lang""".stripMargin
  }

  /** DSIR importance selection
    * ([[graft.operators.Selection.dsirTopK]]): target distribution =
    * the English slice, features = 4096 md5-hashed lowercase unigram
    * buckets, document weight = add-one-smoothed log-likelihood ratio
    * in EXACT integer micro-log2 units (the q210 ilog convention —
    * no float log anywhere near the ranking). Top-100 by
    * (weight DESC, doc_id). The oracle rebuilds both hashed unigram
    * models and every document's weight in HUGEINT-exact arithmetic;
    * a one-ulp float shortcut on the Spark side would reorder the
    * boundary and break the hash.
    */
  def q234DsirSelect(s: SparkSession, dir: String): DataFrame =
    graft.operators.Selection.dsirTopK(
      Tables.documents(s, dir), "doc_id", "text",
      target = col("lang") === "en", nBuckets = 4096, k = 100)

  val q234Sql: String = {
    def ilog(x: String) = ilogSql(x)
    s"""WITH tok AS (
       |  SELECT doc_id, tgt,
       |    ('0x'||substr(md5(w), 1, 15))::BIGINT % 4096 AS b
       |  FROM (
       |    SELECT doc_id, (lang = 'en') AS tgt,
       |      unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
       |    FROM documents WHERE text IS NOT NULL)
       |  WHERE length(w) > 0),
       |raw AS (SELECT b, CAST(count(*) AS BIGINT) AS r FROM tok GROUP BY b),
       |tgt AS (SELECT b, CAST(count(*) AS BIGINT) AS t FROM tok WHERE tgt GROUP BY b),
       |tot AS (
       |  SELECT (SELECT CAST(sum(r) AS BIGINT) FROM raw) AS rr,
       |    (SELECT CAST(sum(t) AS BIGINT) FROM tgt) AS tt),
       |bw AS (
       |  SELECT raw.b,
       |    ((${ilog("COALESCE(tgt.t, 0) + 1")}) - (${ilog("tot.tt + 4096")}))
       |      - ((${ilog("raw.r + 1")}) - (${ilog("tot.rr + 4096")})) AS wm
       |  FROM raw LEFT JOIN tgt ON raw.b = tgt.b CROSS JOIN tot)
       |SELECT tok.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(sum(bw.wm) AS BIGINT) AS weight_micro
       |FROM tok JOIN bw ON bw.b = tok.b
       |GROUP BY tok.doc_id
       |ORDER BY weight_micro DESC, tok.doc_id
       |LIMIT 100""".stripMargin
  }

  /** Margin-based bitext mining
    * ([[graft.operators.Bitext.marginMutualPairs]]): the embedding
    * table split into two disjoint "language" slices (even / odd
    * vec_id), mined for translation pairs by the CCMatrix rule —
    * ratio-margin scoring over both endpoints' 4-NN neighborhoods,
    * mutual-argmax selection. The oracle replays the whole recipe:
    * both brute-force arms, the rank-ordered neighborhood means, the
    * margin division, and both argmax selections with their id
    * tie-breaks — any drift in a single cosine fold or in either
    * argmax moves a pair in or out and breaks the hash.
    */
  def q235BitextMine(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    graft.operators.Bitext.marginMutualPairs(
      emb.filter(pmod(col("vec_id"), lit(2)) === 0),
      emb.filter(pmod(col("vec_id"), lit(2)) === 1),
      "vec_id", "embedding", k = 4)
      .orderBy("src_id")
  }

  val q235Sql: String =
    """WITH n AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_reduce(list_transform(embedding,
      |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
      |         (a, b) -> a + b)) AS nrm
      |  FROM embeddings),
      |src AS (SELECT * FROM n WHERE vec_id % 2 = 0),
      |tgt AS (SELECT * FROM n WHERE vec_id % 2 = 1),
      |fwd0 AS (
      |  SELECT s.vec_id AS src_id, t.vec_id AS tgt_id,
      |    list_reduce(list_transform(list_zip(s.embedding, t.embedding),
      |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, b) -> a + b)
      |      / (s.nrm * t.nrm) AS cosine
      |  FROM src s CROSS JOIN tgt t),
      |fwd AS (
      |  SELECT src_id, tgt_id, cosine,
      |    CAST(row_number() OVER (PARTITION BY src_id
      |      ORDER BY cosine DESC, tgt_id ASC) AS INT) AS rank
      |  FROM fwd0 QUALIFY rank <= 4),
      |bwd AS (
      |  SELECT src_id, tgt_id, cosine,
      |    CAST(row_number() OVER (PARTITION BY tgt_id
      |      ORDER BY cosine DESC, src_id ASC) AS INT) AS rank
      |  FROM fwd0 QUALIFY rank <= 4),
      |af AS (
      |  SELECT src_id,
      |    list_reduce(list(cosine ORDER BY rank), (a, b) -> a + b)
      |      / count(*) AS af
      |  FROM fwd GROUP BY src_id),
      |ab AS (
      |  SELECT tgt_id,
      |    list_reduce(list(cosine ORDER BY rank), (a, b) -> a + b)
      |      / count(*) AS ab
      |  FROM bwd GROUP BY tgt_id),
      |cand AS (
      |  SELECT src_id, tgt_id, min(cosine) AS cosine
      |  FROM (SELECT src_id, tgt_id, cosine FROM fwd
      |        UNION ALL
      |        SELECT src_id, tgt_id, cosine FROM bwd)
      |  WHERE cosine IS NOT NULL
      |  GROUP BY src_id, tgt_id),
      |scored AS (
      |  SELECT c.src_id, c.tgt_id, c.cosine,
      |    2.0 * c.cosine / (af.af + ab.ab) AS margin
      |  FROM cand c
      |  JOIN af ON af.src_id = c.src_id
      |  JOIN ab ON ab.tgt_id = c.tgt_id),
      |bf AS (
      |  SELECT src_id, tgt_id FROM scored
      |  QUALIFY row_number() OVER (PARTITION BY src_id
      |    ORDER BY margin DESC, tgt_id ASC) = 1),
      |bb AS (
      |  SELECT src_id, tgt_id FROM scored
      |  QUALIFY row_number() OVER (PARTITION BY tgt_id
      |    ORDER BY margin DESC, src_id ASC) = 1)
      |SELECT s.src_id, s.tgt_id, s.cosine, s.margin
      |FROM scored s
      |JOIN bf ON bf.src_id = s.src_id AND bf.tgt_id = s.tgt_id
      |JOIN bb ON bb.src_id = s.src_id AND bb.tgt_id = s.tgt_id
      |ORDER BY s.src_id""".stripMargin

  /** q235's scale path on the oracle gate
    * ([[graft.operators.Bitext.marginMutualPairsIvf]]): the same
    * mining through IVF arms at `nprobe = nlist` — exhaustive probing
    * makes the candidate set equal to the brute-force arms', so the
    * output must be BIT-IDENTICAL to q235 and shares its oracle (the
    * q65/q65b discipline: the approximate machinery faces the exact
    * oracle in the regime where it is provably exact; the
    * nprobe < nlist recall tradeoff is fixture-tested in BitextSpec
    * and the N^1.5 slope is measured in BENCH_NOTES R11).
    */
  def q235bBitextIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    graft.operators.Bitext.marginMutualPairsIvf(
      emb.filter(pmod(col("vec_id"), lit(2)) === 0),
      emb.filter(pmod(col("vec_id"), lit(2)) === 1),
      "vec_id", "embedding", k = 4, nlist = 16, nprobe = 16)
      .orderBy("src_id")
  }

  val q235bSql: String = q235Sql

  /** Raked mixture calibration
    * ([[graft.operators.Raking.rakeWeights]]): per-(lang × source)
    * sampling weights fitted by 3 rounds of iterative proportional
    * fitting to hit "40% en, 15% each other language" AND "uniform
    * 5% per source" simultaneously — the joint-marginal training-mix
    * problem independent per-dimension scaling cannot solve. Every
    * float sum that feeds a division is a sorted fold, so the oracle
    * replays all 6 unrolled rake steps bit-for-bit.
    */
  def q236RakedMixture(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val langT = Seq("en" -> 0.4, "de" -> 0.15, "es" -> 0.15,
      "fr" -> 0.15, "zh" -> 0.15).toDF("lang", "target")
    val srcT = (0 until 20).map(i => s"src$i" -> 0.05).toDF("source", "target")
    graft.operators.Raking.rakeWeights(
      Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("source")),
      "lang", "source", langT, srcT, iters = 3)
      .orderBy("lang", "source")
  }

  val q236Sql: String = {
    def rowStep(prev: String, next: String) =
      s"""${next}_s AS (
         |  SELECT lang, list_reduce(list(CAST(n_docs AS DOUBLE) * w
         |      ORDER BY source), (a, b) -> a + b) AS s
         |  FROM $prev GROUP BY lang),
         |$next AS (
         |  SELECT p.lang, p.source, p.n_docs, p.tr, p.tc,
         |    p.w * (p.tr * tot.n) / st.s AS w
         |  FROM $prev p JOIN ${next}_s st ON st.lang = p.lang CROSS JOIN tot)"""
        .stripMargin
    def colStep(prev: String, next: String) =
      s"""${next}_s AS (
         |  SELECT source, list_reduce(list(CAST(n_docs AS DOUBLE) * w
         |      ORDER BY lang), (a, b) -> a + b) AS s
         |  FROM $prev GROUP BY source),
         |$next AS (
         |  SELECT p.lang, p.source, p.n_docs, p.tr, p.tc,
         |    p.w * (p.tc * tot.n) / st.s AS w
         |  FROM $prev p JOIN ${next}_s st ON st.source = p.source CROSS JOIN tot)"""
        .stripMargin
    val steps = (1 to 3).map(i =>
      rowStep(if (i == 1) "w0" else s"c${i - 1}", s"r$i") + ",\n" +
        colStep(s"r$i", s"c$i")).mkString(",\n")
    val langVals = Seq("en" -> 0.4, "de" -> 0.15, "es" -> 0.15,
      "fr" -> 0.15, "zh" -> 0.15)
      .map { case (l, t) => s"('$l', $t)" }.mkString(", ")
    val srcVals = (0 until 20).map(i => s"('src$i', 0.05)").mkString(", ")
    s"""WITH rt AS (SELECT * FROM (VALUES $langVals) AS v(lang, t)),
       |ct AS (SELECT * FROM (VALUES $srcVals) AS v(source, t)),
       |cells AS (
       |  SELECT d.lang, d.source, CAST(count(*) AS BIGINT) AS n_docs,
       |    any_value(rt.t) AS tr, any_value(ct.t) AS tc
       |  FROM documents d
       |  JOIN rt ON rt.lang = d.lang
       |  JOIN ct ON ct.source = d.source
       |  GROUP BY d.lang, d.source),
       |tot AS (SELECT CAST(sum(n_docs) AS DOUBLE) AS n FROM cells),
       |w0 AS (SELECT lang, source, n_docs, tr, tc, 1.0 AS w FROM cells),
       |$steps
       |SELECT lang, source, n_docs, w AS weight,
       |  CAST(n_docs AS DOUBLE) * w AS expected
       |FROM c3
       |ORDER BY lang, source""".stripMargin
  }

  /** Exact phrase search, direct scan
    * ([[graft.operators.Phrase.phraseMatches]]): per-document match
    * count and first position of the 2-token phrase "table hash" —
    * the corpus-forensics query BM25 cannot answer (bag-of-words has
    * no adjacency). The oracle rebuilds every token position and
    * replays the adjacency join; an off-by-one anywhere in the
    * position arithmetic moves first_pos and breaks the hash.
    */
  def q237PhraseSearch(s: SparkSession, dir: String): DataFrame =
    graft.operators.Phrase.phraseMatches(
      Tables.documents(s, dir), "doc_id", "text", Seq("table", "hash"))
      .orderBy("doc_id")

  private def phraseSql(terms: Seq[String]): String = {
    val joins = terms.zipWithIndex.drop(1).map { case (t, i) =>
      s"  JOIN p t$i ON t$i.doc_id = t0.doc_id AND t$i.pos = t0.pos + $i AND t$i.term = '$t'"
    }.mkString("\n")
    s"""WITH t AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(trim(lower(text)), '\\s+'),
       |                w -> length(w) > 0) AS l
       |  FROM documents WHERE text IS NOT NULL),
       |p AS (
       |  SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS pos, l[u.i] AS term
       |  FROM t, unnest(range(1, len(l) + 1)) AS u(i)),
       |m AS (
       |  SELECT t0.doc_id, t0.pos
       |  FROM p t0
       |$joins
       |  WHERE t0.term = '${terms.head}')
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches,
       |  CAST(min(pos) AS BIGINT) AS first_pos
       |FROM m
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin
  }

  val q237Sql: String = phraseSql(Seq("table", "hash"))

  /** Exact phrase search through the persisted positional index
    * ([[graft.operators.Phrase.writePositionalIndex]] →
    * [[graft.operators.Phrase.phraseMatchesFromIndex]]): build the
    * term-md5-bucketed (term, doc, pos) index, then answer a 3-token
    * phrase by reading only the phrase terms' buckets
    * (PartitionFilters). Bit-identical to the q237 scan path by
    * construction; the oracle is the same full positional replay, so
    * the index round-trip itself is what's being proven.
    */
  def q237bPhraseIndexed(s: SparkSession, dir: String): DataFrame = {
    val path = scratchPath("q237b", dir) + "/ix"
    val docs = Tables.documents(s, dir)
    // write the even half, APPEND the odd half — the probe below must
    // see both batches (append read-transparency on the oracle gate,
    // the q60b discipline) and the oracle replays the WHOLE corpus
    graft.operators.Phrase.writePositionalIndex(
      docs.filter(pmod(col("doc_id"), lit(2)) === 0),
      "doc_id", "text", path, nBuckets = 32)
    graft.operators.Phrase.appendToPositionalIndex(
      docs.filter(pmod(col("doc_id"), lit(2)) === 1),
      "doc_id", "text", path, nBuckets = 32)
    graft.operators.Phrase.phraseMatchesFromIndex(
      s, path, "doc_id", Seq("a", "key", "column"), nBuckets = 32)
      .orderBy("doc_id")
  }

  val q237bSql: String = phraseSql(Seq("a", "key", "column"))

  /** Batch phrase probe
    * ([[graft.operators.Phrase.phraseMatchesMany]]): three phrases —
    * two that hit the corpus, one that cannot — answered from ONE
    * positional-index read (a single postings scan + one
    * (phrase, doc, start) exchange; PhraseSpec pins the one-scan plan
    * shape). The contamination-audit consumer runs thousands of probe
    * phrases; per-phrase probes would pay a bucket scan each. The
    * oracle replays every phrase independently from full positional
    * joins and unions the reports — per-phrase semantics must be
    * IDENTICAL to q237's scan path, no-match phrases contribute no
    * rows.
    */
  def q242PhraseBatch(s: SparkSession, dir: String): DataFrame = {
    val path = scratchPath("q242", dir) + "/ix"
    val docs = Tables.documents(s, dir)
    graft.operators.Phrase.writePositionalIndex(
      docs, "doc_id", "text", path, nBuckets = 32)
    graft.operators.Phrase.phraseMatchesMany(s, path, "doc_id",
      Seq(Seq("a", "key", "column"), Seq("table", "hash"),
        Seq("zqxval", "never", "present")),
      nBuckets = 32)
      .orderBy("phrase_id", "doc_id")
  }

  val q242Sql: String = {
    def arm(pid: Int, terms: Seq[String]): String = {
      val joins = terms.zipWithIndex.drop(1).map { case (t, i) =>
        s"  JOIN p t$i ON t$i.doc_id = t0.doc_id AND t$i.pos = t0.pos + $i AND t$i.term = '$t'"
      }.mkString("\n")
      s"""SELECT CAST($pid AS BIGINT) AS phrase_id, doc_id,
         |  CAST(count(*) AS BIGINT) AS n_matches,
         |  CAST(min(pos) AS BIGINT) AS first_pos
         |FROM (
         |  SELECT t0.doc_id, t0.pos
         |  FROM p t0
         |$joins
         |  WHERE t0.term = '${terms.head}') m
         |GROUP BY doc_id""".stripMargin
    }
    val arms = Seq(
      arm(0, Seq("a", "key", "column")),
      arm(1, Seq("table", "hash")),
      arm(2, Seq("zqxval", "never", "present"))).mkString("\nUNION ALL\n")
    s"""WITH t AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(trim(lower(text)), '\\s+'),
       |                w -> length(w) > 0) AS l
       |  FROM documents WHERE text IS NOT NULL),
       |p AS (
       |  SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS pos, l[u.i] AS term
       |  FROM t, unnest(range(1, len(l) + 1)) AS u(i))
       |$arms
       |ORDER BY phrase_id, doc_id""".stripMargin
  }

  /** Corpus BLEU counting ([[graft.operators.Bleu
    * .corpusNgramPrecision]]): candidates are deterministic
    * perturbations of the reference documents — even doc_ids truncate
    * to the first 60% of tokens (the brevity side), odd doc_ids append
    * their own first 5 tokens (repeats, so CLIPPING must bite: the
    * excess gram occurrences earn no credit). The oracle rebuilds both
    * sides, re-derives every order's gram multisets under the same
    * 60-bit md5 keys, replays min-clipping, totals, and the
    * micro-log2 smoothed precision in HUGEINT-exact arithmetic —
    * a wrong clip, a boundary gram, or an off-by-one in the gram
    * window changes `matched` and breaks the hash.
    */
  /** The shared q243/q256 fixture: even docs get a TRUNCATED candidate
    * (brevity-penalty pressure), odd docs a PADDED repeating one
    * (clipping pressure). */
  private def bleuPairs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text")).filter(col("text").isNotNull)
      .withColumn("_t",
        expr("filter(split(trim(text), '\\\\s+'), x -> length(x) > 0)"))
      .withColumn("cand",
        when(pmod(col("doc_id"), lit(2)) === 0,
          expr("array_join(slice(_t, 1, greatest(1, (size(_t) * 3) DIV 5)), ' ')"))
          .otherwise(
            expr("array_join(concat(_t, slice(_t, 1, least(5, size(_t)))), ' ')")))
      .select(col("doc_id"), col("cand"), col("text").as("ref"))

  def q243BleuCounts(s: SparkSession, dir: String): DataFrame =
    graft.operators.Bleu.corpusNgramPrecision(
      bleuPairs(s, dir), "doc_id", "cand", "ref", maxN = 4)
      .orderBy("n")

  /** Corpus BLEU SCORE ([[graft.operators.Bleu.corpusBleuScore]]):
    * the q243 counts assembled into the one evaluation number —
    * add-one-smoothed geometric-mean precision plus the brevity
    * penalty, all in exact integer micro-log2 (negate-before-DIV so
    * truncating and flooring engines agree; 1/ln 2 as the micro
    * constant 1442695). The truncated even-doc candidates force
    * c < r, so the BP branch is live in the hash. The oracle rebuilds
    * the score from the shared q243 counting chain.
    */
  def q256BleuScore(s: SparkSession, dir: String): DataFrame =
    graft.operators.Bleu.corpusBleuScore(
      bleuPairs(s, dir), "doc_id", "cand", "ref", maxN = 4)

  val q256Sql: String =
    s"""$bleuCountCtes,
       |ps AS (
       |  SELECT CAST(sum((${ilogSql("(matched+1)")}) -
       |    (${ilogSql("(total+1)")})) AS BIGINT) AS sp
       |  FROM pn)
       |SELECT
       |  CAST(-((-sp) // 4) AS BIGINT) AS mean_prec_micro_log2,
       |  CAST(CASE WHEN cand_tokens >= ref_tokens THEN 0
       |       ELSE -(((ref_tokens - cand_tokens) * 1442695)
       |              // greatest(cand_tokens, 1)) END AS BIGINT)
       |    AS bp_micro_log2,
       |  CAST(-((-sp) // 4) +
       |    (CASE WHEN cand_tokens >= ref_tokens THEN 0
       |          ELSE -(((ref_tokens - cand_tokens) * 1442695)
       |                 // greatest(cand_tokens, 1)) END) AS BIGINT)
       |    AS bleu_micro_log2,
       |  cand_tokens, ref_tokens
       |FROM ps, lens""".stripMargin

  /** The q243 BLEU-count chain (fixture pairs, tokenization, per-order
    * gram CTEs, `lens`, `pn`) as a WITH body — shared by q243 (the
    * per-order counts) and q256 (the one-row score) so the counting
    * SQL cannot drift per query. */
  // lazy: referenced by q256Sql, which is declared above this val —
  // a strict val would interpolate null at object init
  private lazy val bleuCountCtes: String = {
    def gramCte(tag: String, listCol: String, n: Int): String =
      s"""${tag}$n AS (
         |  SELECT doc_id, ('0x'||substr(md5(g), 1, 15))::BIGINT AS gh,
         |    count(*) AS c
         |  FROM (
         |    SELECT doc_id,
         |      unnest(list_transform(range(1, len($listCol)-$n+2),
         |        i -> array_to_string($listCol[i:i+$n-1], ' '))) AS g
         |    FROM tok WHERE len($listCol) >= $n)
         |  GROUP BY doc_id, gh)""".stripMargin
    val gramCtes = (1 to 4).flatMap(n =>
      Seq(gramCte("cg", "cl", n), gramCte("rg", "rl", n))).mkString(",\n")
    val arms = (1 to 4).map(n =>
      s"""SELECT CAST($n AS INT) AS n,
         |  coalesce(CAST(sum(least(cg$n.c, coalesce(r.c2, 0))) AS BIGINT), 0)
         |    AS matched,
         |  coalesce(CAST(sum(cg$n.c) AS BIGINT), 0) AS total
         |FROM cg$n
         |LEFT JOIN (SELECT doc_id, gh, c AS c2 FROM rg$n) r
         |  USING (doc_id, gh)""".stripMargin).mkString("\nUNION ALL\n")
    s"""WITH t0 AS (
       |  SELECT doc_id, text,
       |    list_filter(string_split_regex(trim(text), '\\s+'),
       |      x -> length(x) > 0) AS tl
       |  FROM documents WHERE text IS NOT NULL),
       |prs AS (
       |  SELECT doc_id, text AS ref,
       |    CASE WHEN doc_id % 2 = 0
       |         THEN array_to_string(tl[1:greatest(1, (len(tl)*3)//5)], ' ')
       |         ELSE array_to_string(list_concat(tl, tl[1:least(5, len(tl))]), ' ')
       |    END AS cand
       |  FROM t0),
       |tok AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(trim(lower(cand)), '\\s+'),
       |      w -> length(w) > 0) AS cl,
       |    list_filter(string_split_regex(trim(lower(ref)), '\\s+'),
       |      w -> length(w) > 0) AS rl
       |  FROM prs),
       |$gramCtes,
       |lens AS (
       |  SELECT coalesce(CAST(sum(len(cl)) AS BIGINT), 0) AS cand_tokens,
       |    coalesce(CAST(sum(len(rl)) AS BIGINT), 0) AS ref_tokens
       |  FROM tok),
       |pn AS (
       |$arms)""".stripMargin
  }

  val q243Sql: String =
    s"""$bleuCountCtes
       |SELECT n, matched, total,
       |  (${ilogSql("(matched+1)")}) - (${ilogSql("(total+1)")})
       |    AS prec_micro_log2,
       |  (SELECT cand_tokens FROM lens) AS cand_tokens,
       |  (SELECT ref_tokens FROM lens) AS ref_tokens
       |FROM pn
       |ORDER BY n""".stripMargin

  /** URL canonicalization ([[graft.operators.Urls.canonicalize]]):
    * deterministic synthetic URLs built from each document's fields
    * exercise every rule — mixed-case scheme/host (lowercased),
    * default ports :80/:443 (stripped) vs :8080 (kept), utm_* and
    * click-id tracking params (dropped and counted), unsorted
    * remaining params (sorted — note 'A=2' sorts before 'z=9' in byte
    * order, pinning the collation), fragments (dropped), and co.uk
    * hosts (three-label registrable domain). The oracle replays the
    * PARSER rules on the same strings — it never shortcuts from the
    * generator — so a regex off-by-one in authority/path/query
    * splitting breaks the hash.
    */
  /** The shared q244/q248 synthetic-URL generator (Spark side). */
  private def syntheticUrl: org.apache.spark.sql.Column = concat(
    when(pmod(col("doc_id"), lit(2)) === 0, lit("HTTPS"))
      .otherwise(lit("http")),
    lit("://WWW."), col("source"),
    when(pmod(col("doc_id"), lit(3)) === 0, lit(".Example.CO.UK"))
      .otherwise(lit(".Example.COM")),
    when(pmod(col("doc_id"), lit(4)) === 0,
      when(pmod(col("doc_id"), lit(2)) === 0, lit(":443"))
        .otherwise(lit(":80")))
      .when(pmod(col("doc_id"), lit(4)) === 1, lit(":8080"))
      .otherwise(lit("")),
    lit("/Docs/"), col("doc_id").cast("string"),
    // percent-encoding battery (every 6th doc): %7e decodes to ~, %2f
    // uppercases but stays encoded (reserved), %41 decodes to A, %zz
    // and a trailing %4 are malformed and pass through untouched
    when(pmod(col("doc_id"), lit(6)) === 0, lit("/%7euser/%2fx%41%zz%4"))
      .otherwise(lit("")),
    when(pmod(col("doc_id"), lit(2)) === 0,
      concat(lit("?utm_source=feed&b="), col("lang"),
        lit("&utm_campaign=spring&a=1&fbclid=XYZ")))
      .otherwise(lit("?z=9&A=2&gclid=g1")),
    // a pct-encoded QUERY param (every 6k+1 doc, always the odd-query
    // branch): key p%61th normalizes to 'path' BEFORE the tracking
    // check and byte-order sort
    when(pmod(col("doc_id"), lit(6)) === 1, lit("&p%61th=x%2f"))
      .otherwise(lit("")),
    when(pmod(col("doc_id"), lit(5)) === 0, lit("#sec2"))
      .otherwise(lit("")))

  /** The same generator in DuckDB's dialect (the `u` column body). */
  private val syntheticUrlSql: String =
    """(CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'http' END) ||
      |    '://WWW.' || source ||
      |    (CASE WHEN doc_id % 3 = 0 THEN '.Example.CO.UK'
      |          ELSE '.Example.COM' END) ||
      |    (CASE WHEN doc_id % 4 = 0
      |          THEN (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END)
      |          WHEN doc_id % 4 = 1 THEN ':8080' ELSE '' END) ||
      |    '/Docs/' || CAST(doc_id AS VARCHAR) ||
      |    (CASE WHEN doc_id % 6 = 0 THEN '/%7euser/%2fx%41%zz%4'
      |          ELSE '' END) ||
      |    (CASE WHEN doc_id % 2 = 0
      |          THEN '?utm_source=feed&b=' || lang ||
      |               '&utm_campaign=spring&a=1&fbclid=XYZ'
      |          ELSE '?z=9&A=2&gclid=g1' END) ||
      |    (CASE WHEN doc_id % 6 = 1 THEN '&p%61th=x%2f' ELSE '' END) ||
      |    (CASE WHEN doc_id % 5 = 0 THEN '#sec2' ELSE '' END)""".stripMargin

  def q244UrlCanonicalize(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("lang"))
    docs.select(col("doc_id"),
        graft.operators.Urls.canonicalize(syntheticUrl).as("u"))
      .select(col("doc_id"), col("u.canonical_url").as("canonical_url"),
        col("u.host").as("host"),
        col("u.registrable_domain").as("registrable_domain"),
        col("u.n_params_dropped").as("n_params_dropped"))
      .orderBy("doc_id")
  }

  /** The canonicalization parser chain (the q244 oracle body) as CTE
    * text over a relation `src` with (doc_id, u), tag-suffixed so two
    * batches can run through it in one query: yields `canon$tag` with
    * (doc_id, canonical_url, host, registrable_domain,
    * n_params_dropped; canonical_url NULL for scheme-less non-URLs —
    * the scheme || ... concat nulls out exactly like the Spark side's
    * explicit null). Shared by q244 and the frontier probe q255 so
    * the parser SQL cannot drift per query.
    */
  /** RFC 3986 §6.2.2 percent normalization in DuckDB's dialect — the
    * [[graft.expressions.CanonicalizeUrlExpression]] replay: split on '%', and
    * per tail piece uppercase a valid hex pair, decode it when the
    * code is unreserved (digits 48-57, upper 65-90, lower 97-122, and
    * `-._~` = 45/46/95/126), pass malformed escapes through. The hex
    * value comes from strpos against the same digit table the Spark
    * side uses.
    */
  private def duckPctNorm(e: String): String = {
    val hx = "'0123456789ABCDEF'"
    def n1 = s"(strpos($hx, upper(p[1])) - 1)"
    def n2 = s"(strpos($hx, upper(p[2])) - 1)"
    val nn = s"($n1 * 16 + $n2)"
    // coalesce: DuckDB's array_to_string([]) is NULL, not '' — a
    // pct-free string must pass through, not null out
    s"""(string_split($e, '%') [1] ||
       |      coalesce(array_to_string(list_transform(string_split($e, '%') [2:],
       |        p -> CASE
       |          WHEN strpos($hx, upper(p[1])) > 0
       |               AND strpos($hx, upper(p[2])) > 0
       |          THEN (CASE WHEN $nn BETWEEN 48 AND 57
       |                       OR $nn BETWEEN 65 AND 90
       |                       OR $nn BETWEEN 97 AND 122
       |                       OR $nn IN (45, 46, 95, 126)
       |                THEN chr(CAST($nn AS INTEGER)) || p[3:]
       |                ELSE '%' || upper(p[1:2]) || p[3:] END)
       |          ELSE '%' || p END), ''), ''))""".stripMargin
  }

  private def duckCanonicalCtes(src: String, tag: String): String = {
    val tracking = "('fbclid','gclid','msclkid','igshid','mc_eid','ref')"
    val suffixes = graft.operators.Urls.multiPartSuffixes
      .map(s => s"'$s'").mkString("(", ",", ")")
    s"""parsed$tag AS (
       |  SELECT doc_id, u,
       |    lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
       |      AS scheme,
       |    lower(regexp_extract(
       |      regexp_extract(
       |        regexp_extract(regexp_replace(u,
       |          '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '^([^/?#]*)', 1),
       |        '([^@]*)$$', 1),
       |      '^([^:]*)', 1)) AS host,
       |    regexp_extract(
       |      regexp_extract(
       |        regexp_extract(regexp_replace(u,
       |          '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '^([^/?#]*)', 1),
       |        '([^@]*)$$', 1),
       |      ':([0-9]+)$$', 1) AS port,
       |    regexp_extract(regexp_replace(u,
       |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', ''), '^([^?#]*)', 1)
       |      AS path0,
       |    regexp_extract(u,
       |      '^[A-Za-z][A-Za-z0-9+.-]*://[^?#]*\\?([^#]*)', 1) AS query
       |  FROM $src),
       |pnorm$tag AS (
       |  SELECT doc_id, scheme, host, port,
       |    ${duckPctNorm("path0")} AS path0,
       |    ${duckPctNorm("query")} AS query
       |  FROM parsed$tag),
       |par$tag AS (
       |  SELECT doc_id, scheme, host, port,
       |    CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path,
       |    list_filter(string_split(query, '&'), p -> length(p) > 0) AS raw
       |  FROM pnorm$tag),
       |flt$tag AS (
       |  SELECT doc_id, scheme, host, port, path, raw,
       |    list_sort(list_filter(raw, p ->
       |      NOT (starts_with(lower(split_part(p, '=', 1)), 'utm_')
       |           OR lower(split_part(p, '=', 1)) IN $tracking))) AS kept,
       |    string_split(host, '.') AS labels
       |  FROM par$tag),
       |canon$tag AS (
       |  SELECT doc_id,
       |    CASE WHEN scheme = '' THEN NULL
       |         ELSE scheme || '://' || host ||
       |      (CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
       |                 OR (scheme = 'https' AND port = '443')
       |            THEN '' ELSE ':' || port END) ||
       |      path ||
       |      (CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&')
       |            ELSE '' END) END AS canonical_url,
       |    host,
       |    CASE WHEN len(labels) >= 3
       |              AND labels[-2] || '.' || labels[-1] IN $suffixes
       |         THEN labels[-3] || '.' || labels[-2] || '.' || labels[-1]
       |         WHEN len(labels) >= 2 THEN labels[-2] || '.' || labels[-1]
       |         ELSE host END AS registrable_domain,
       |    CAST(len(raw) - len(kept) AS INTEGER) AS n_params_dropped
       |  FROM flt$tag)""".stripMargin
  }

  val q244Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    $syntheticUrlSql AS u
       |  FROM documents),
       |${duckCanonicalCtes("d", "")}
       |SELECT doc_id, canonical_url, host, registrable_domain,
       |  n_params_dropped
       |FROM canon
       |ORDER BY doc_id""".stripMargin

  /** Per-domain crawl budgeting — the composition q244 + q219 exist
    * for: canonicalize raw URLs ([[graft.operators.Urls.canonicalize]]
    * → registrable domain), then apportion an exact crawl budget of 97
    * pages across domains by the largest-remainder method
    * ([[graft.operators.Sampling.apportionSelect]]) — "fetch exactly
    * 97 pages, proportional to domain share, no domain over-crawled".
    * The oracle replays BOTH halves from scratch: the URL parser rules
    * down to the registrable domain, then quotas, remainders, bonus
    * seats, and the per-domain composite (md5 bucket, hex, id)
    * selection rank.
    */
  def q248DomainBudget(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("lang"))
    val withDom = docs.select(col("doc_id"),
      graft.operators.Urls.canonicalize(syntheticUrl)
        .getField("registrable_domain").as("registrable_domain"))
    graft.operators.Sampling.apportionSelect(
      withDom, "doc_id", "registrable_domain",
      budget = 97L, nBuckets = 64, salt = "apq")
      .orderBy("registrable_domain", "sel_rank")
  }

  val q248Sql: String = {
    val suffixes = graft.operators.Urls.multiPartSuffixes
      .map(s => s"'$s'").mkString("(", ",", ")")
    s"""WITH d AS (
       |  SELECT doc_id,
       |    $syntheticUrlSql AS u
       |  FROM documents),
       |hosts AS (
       |  SELECT doc_id,
       |    string_split(lower(regexp_extract(
       |      regexp_extract(
       |        regexp_extract(regexp_replace(u,
       |          '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '^([^/?#]*)', 1),
       |        '([^@]*)$$', 1),
       |      '^([^:]*)', 1)), '.') AS labels
       |  FROM d),
       |dom AS (
       |  SELECT doc_id,
       |    CASE WHEN len(labels) >= 3
       |              AND labels[-2] || '.' || labels[-1] IN $suffixes
       |         THEN labels[-3] || '.' || labels[-2] || '.' || labels[-1]
       |         WHEN len(labels) >= 2 THEN labels[-2] || '.' || labels[-1]
       |         ELSE array_to_string(labels, '.') END AS g
       |  FROM hosts),
       |n AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM dom GROUP BY g),
       |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM n),
       |fq AS (SELECT g, n, (97 * n) // tot AS q0, (97 * n) % tot AS rem
       |       FROM n, t),
       |lo AS (SELECT 97 - CAST(sum(q0) AS BIGINT) AS l FROM fq),
       |rk AS (SELECT *, row_number() OVER (ORDER BY rem DESC, g) AS rr
       |       FROM fq),
       |quota AS (SELECT g,
       |    least(n, q0 + CASE WHEN rr <= (SELECT l FROM lo)
       |      THEN 1 ELSE 0 END) AS quota
       |  FROM rk),
       |ord AS (SELECT doc_id, g,
       |    ('0x' || substr(md5(doc_id::VARCHAR || 'apq'), 1, 15))::BIGINT
       |      % 64 AS b,
       |    md5(doc_id::VARCHAR || 'apq') AS hx
       |  FROM dom),
       |rkd AS (SELECT doc_id, g,
       |    row_number() OVER (PARTITION BY g ORDER BY b, hx, doc_id) AS r
       |  FROM ord)
       |SELECT d2.doc_id, d2.g AS registrable_domain,
       |  CAST(d2.r AS BIGINT) AS sel_rank, q.quota
       |FROM rkd d2 JOIN quota q USING (g)
       |WHERE d2.r <= q.quota
       |ORDER BY registrable_domain, sel_rank""".stripMargin
  }

  /** Obfuscation-folded blocklist matching
    * ([[graft.operators.Curation.blocklistHits]]): planted evasions —
    * leetspeak (`SP4MW0RD`), symbol substitution (`b@dtoken` twice,
    * once with an extra 0→o fold), and a zero-width space inserted
    * mid-word — must all match their blocklist entries after the fold.
    * The oracle replays the ENTIRE fold chain (lowercase, zero-width
    * strip, translate table, per-vowel run squeeze) on the same
    * planted text; the blocklist terms are fold fixed points
    * (documented), so both engines match them verbatim.
    */
  def q245BlocklistFold(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val planted = docs.withColumn("text",
      when(pmod(col("doc_id"), lit(10)) === 0,
        concat(col("text"), lit(" SP4MW0RD extra")))
        .when(pmod(col("doc_id"), lit(10)) === 1,
          concat(col("text"), lit(" b@dtoken and b@dt0ken")))
        .when(pmod(col("doc_id"), lit(10)) === 2,
          concat(col("text"), lit(" ev\u200Bilco ends")))
        .otherwise(col("text")))
    graft.operators.Curation.blocklistHits(
      planted, "doc_id", "text", Seq("spamword", "badtoken", "evilco"))
      .orderBy("doc_id")
  }

  val q245Sql: String = {
    val zw = "\u200B"
    def fold(x: String): String = {
      val base = s"translate(regexp_replace(lower($x), " +
        "'[\\x{200B}\\x{200C}\\x{200D}\\x{FEFF}]', '', 'g'), " +
        "'0134578@$!', 'oleastbasi')"
      Seq("a", "e", "i", "o", "u").foldLeft(base)((acc, v) =>
        s"regexp_replace($acc, '$v{2,}', '$v', 'g')")
    }
    s"""WITH planted AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 10 = 0 THEN text || ' SP4MW0RD extra'
       |         WHEN doc_id % 10 = 1 THEN text || ' b@dtoken and b@dt0ken'
       |         WHEN doc_id % 10 = 2 THEN text || ' ev${zw}ilco ends'
       |         ELSE text END AS text
       |  FROM documents),
       |tok AS (
       |  SELECT doc_id, unnest(list_filter(
       |    string_split_regex(trim(${fold("text")}), '\\s+'),
       |    w -> length(w) > 0)) AS t
       |  FROM planted)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
       |  CAST(count(DISTINCT t) AS BIGINT) AS n_terms
       |FROM tok
       |WHERE t IN ('spamword', 'badtoken', 'evilco')
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin
  }

  /** Sentence segmentation ([[graft.operators.Sentences.segment]]):
    * every fourth document gets an abbreviation gauntlet appended —
    * `Dr.` / `Prof.` / `fig.` (one-dot abbreviations), `e.g.` / `p.m.`
    * (two-dot forms whose INNER dot is the classic false split),
    * a decimal `3.14`, and `!`/`?` terminators — and the per-doc
    * sentence count, total sentence characters, and the md5 of the
    * unit-separator-joined sentence array must match the oracle's
    * replay of the full mask-split-unmask chain. A wrong mask order
    * (two-dot forms after one-dot) or a boundary slip changes the
    * sentence array and breaks the hash.
    */
  def q246SentenceSegment(s: SparkSession, dir: String): DataFrame = {
    val gauntlet = " Dr. Smith met Prof. Jones at 3.14 today! They e.g. " +
      "agreed on p.m. plans. Look at fig. 7 now? The end"
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("text")).filter(col("text").isNotNull)
    val planted = docs.withColumn("text",
      when(pmod(col("doc_id"), lit(4)) === 0,
        concat(col("text"), lit(gauntlet)))
        .otherwise(col("text")))
    val sents = graft.operators.Sentences.segment(col("text"))
    planted.select(col("doc_id"),
        size(sents).cast(IntegerType).as("n_sentences"),
        length(array_join(sents, "")).cast(LongType).as("total_sent_chars"),
        md5(array_join(sents, "\u001F")).as("sents_md5"))
      .orderBy("doc_id")
  }

  /** [[graft.operators.Sentences.segment]] replayed in DuckDB's
    * dialect as a list expression over `x` — shared by q246 and the
    * sentence-span dedup q249 so the mask-split-unmask SQL cannot
    * drift per query.
    */
  private def duckSentences(x: String): String =
    s"""list_filter(list_transform(
       |      regexp_extract_all(
       |        regexp_replace(
       |          regexp_replace(
       |            regexp_replace(
       |              trim(regexp_replace($x, '\\s+', ' ', 'g')),
       |              '(?i)\\b([eipa])\\.([gem])\\.',
       |              '\\1' || chr(1) || '\\2' || chr(1), 'g'),
       |            '(?i)\\b(mr|mrs|ms|dr|prof|st|vs|etc|fig|inc|ltd|jr|sr)\\.',
       |            '\\1' || chr(1), 'g'),
       |          '([0-9])\\.([0-9])', '\\1' || chr(1) || '\\2', 'g'),
       |        '[^.!?]+(?:[.!?]+|$$)'),
       |      s9 -> trim(replace(s9, chr(1), '.'))),
       |      s9 -> length(s9) > 0)""".stripMargin

  val q246Sql: String = {
    val gauntlet = " Dr. Smith met Prof. Jones at 3.14 today! They e.g. " +
      "agreed on p.m. plans. Look at fig. 7 now? The end"
    s"""WITH planted AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 4 = 0 THEN text || '$gauntlet'
       |         ELSE text END AS text
       |  FROM documents WHERE text IS NOT NULL),
       |seg AS (
       |  SELECT doc_id,
       |    ${duckSentences("text")} AS l
       |  FROM planted)
       |SELECT doc_id, CAST(len(l) AS INTEGER) AS n_sentences,
       |  CAST(length(array_to_string(l, '')) AS BIGINT) AS total_sent_chars,
       |  md5(array_to_string(l, chr(31))) AS sents_md5
       |FROM seg
       |ORDER BY doc_id""".stripMargin
  }

  /** robots.txt crawlability ([[graft.operators.Urls.robotsFilter]]),
    * crawling as agent `graftbot`: synthetic per-host robots files
    * with PER-AGENT groups and WILDCARD rules — every host opens with
    * a `Googlebot` block-everything group (must be IGNORED: a wrong
    * agent match blocks the whole crawl), then the `*` group
    * (Disallow /private, Allow /private/ok, a parity-dependent
    * Disallow /tmp, comment/Sitemap noise); every 3rd source adds a
    * `graft` group (Disallow /public — close-but-shorter token, must
    * LOSE to the longer match) and a double-headed
    * `graftbot`+`extrabot` group (a `*.pdf$` wildcard Disallow, plus
    * Disallow /private, Allow /private/p). Every 7th source has NO robots at
    * all. Two RFC most-specific-only edges ride the hash: every
    * 5th-mod-non-3rd host a graftbot group with ONLY an empty
    * `Disallow:` (the allow-all idiom) and every (5k+4)-mod-non-3rd
    * host a graftbot group with ONLY a `Crawl-delay:` — on both, the
    * matched-but-ruleless group must WIN and allow everything (a
    * fallback to `*` rules over-blocks). The paths hit every
    * divergence: on graftbot-group hosts /private/p… flips to ALLOWED,
    * /private/ok/… flips to DISALLOWED, /tmp survives even on even
    * hosts (group exclusivity — `*` rules must NOT union in), `.pdf`
    * dies to the wildcard and `.pdfx` proves the `$` anchor. The
    * oracle replays group segmentation (lag/sum windows), agent-token
    * specificity over ALL groups (directive-bearing or not), the
    * wildcard→regex translation, and the (len, allow, rule_path)
    * precedence rank.
    */
  def q250RobotsFilter(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    val host = concat(lit("www."), col("source"), lit(".example.com"))
    val id = col("doc_id").cast("string")
    val path = when(pmod(col("doc_id"), lit(7)) === 0,
        concat(lit("/public/page"), id))
      .when(pmod(col("doc_id"), lit(7)) === 1,
        concat(lit("/private/p"), id))
      .when(pmod(col("doc_id"), lit(7)) === 2,
        concat(lit("/private/ok/p"), id))
      .when(pmod(col("doc_id"), lit(7)) === 3,
        concat(lit("/tmp/x"), id))
      .when(pmod(col("doc_id"), lit(7)) === 4,
        concat(lit("/files/d"), id, lit(".pdf")))
      .when(pmod(col("doc_id"), lit(7)) === 5,
        concat(lit("/files/d"), id, lit(".pdfx")))
      .otherwise(lit("/"))
    val urls = docs.select(col("doc_id"),
      concat(lit("https://"), host, path).as("url"))
    val srcNum = expr("CAST(substring(source, 4) AS INT)")
    val robots = Tables.documents(s, dir).select(col("source")).distinct()
      .filter(srcNum % 7 =!= 3)
      .select(concat(lit("www."), col("source"), lit(".example.com"))
          .as("host"),
        concat(
          lit("User-agent: Googlebot\nDisallow: /\n\n"),
          lit("User-agent: *\nDisallow: /private\nAllow: /private/ok\n"),
          when(srcNum % 2 === 0, lit("Disallow: /tmp\n")).otherwise(lit("")),
          lit("# notes\nSitemap: https://x.example.com/sitemap.xml\n"),
          when(srcNum % 3 === 0, lit(
            "\nUser-agent: graft\nDisallow: /public\n" +
              "\nUser-agent: graftbot\nUser-agent: extrabot\n" +
              "Disallow: /*.pdf$\nDisallow: /private\nAllow: /private/p\n"))
            .otherwise(lit("")),
          // the RFC 9309 most-specific-only edge: a matching group
          // carrying NO rules of the consumed class must still WIN
          // (and so allow everything) — the empty-Disallow allow-all
          // idiom and a Crawl-delay-only group
          when(srcNum % 5 === 0 && srcNum % 3 =!= 0,
            lit("\nUser-agent: graftbot\nDisallow:\n")).otherwise(lit("")),
          when(srcNum % 5 === 4 && srcNum % 3 =!= 0,
            lit("\nUser-agent: graftbot\nCrawl-delay: 3\n"))
            .otherwise(lit("")))
          .as("robots_txt"))
    graft.operators.Urls.robotsFilter(
      urls, "doc_id", "url", robots, "host", "robots_txt",
      agent = "graftbot")
      .orderBy("doc_id")
  }

  val q250Sql: String =
    s"""WITH u AS (
       |  SELECT doc_id,
       |    'www.' || source || '.example.com' AS host,
       |    CASE WHEN doc_id % 7 = 0 THEN '/public/page' || CAST(doc_id AS VARCHAR)
       |         WHEN doc_id % 7 = 1 THEN '/private/p' || CAST(doc_id AS VARCHAR)
       |         WHEN doc_id % 7 = 2 THEN '/private/ok/p' || CAST(doc_id AS VARCHAR)
       |         WHEN doc_id % 7 = 3 THEN '/tmp/x' || CAST(doc_id AS VARCHAR)
       |         WHEN doc_id % 7 = 4 THEN '/files/d' || CAST(doc_id AS VARCHAR) || '.pdf'
       |         WHEN doc_id % 7 = 5 THEN '/files/d' || CAST(doc_id AS VARCHAR) || '.pdfx'
       |         ELSE '/' END AS path
       |  FROM documents),
       |rb AS (
       |  SELECT 'www.' || source || '.example.com' AS host,
       |    'User-agent: Googlebot' || chr(10) || 'Disallow: /' || chr(10) ||
       |      chr(10) ||
       |    'User-agent: *' || chr(10) ||
       |    'Disallow: /private' || chr(10) ||
       |    'Allow: /private/ok' || chr(10) ||
       |    (CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
       |          THEN 'Disallow: /tmp' || chr(10) ELSE '' END) ||
       |    '# notes' || chr(10) ||
       |    'Sitemap: https://x.example.com/sitemap.xml' || chr(10) ||
       |    (CASE WHEN CAST(substr(source, 4) AS INT) % 3 = 0
       |          THEN chr(10) || 'User-agent: graft' || chr(10) ||
       |               'Disallow: /public' || chr(10) || chr(10) ||
       |               'User-agent: graftbot' || chr(10) ||
       |               'User-agent: extrabot' || chr(10) ||
       |               'Disallow: /*.pdf$$' || chr(10) ||
       |               'Disallow: /private' || chr(10) ||
       |               'Allow: /private/p' || chr(10)
       |          ELSE '' END) ||
       |    (CASE WHEN CAST(substr(source, 4) AS INT) % 5 = 0
       |               AND CAST(substr(source, 4) AS INT) % 3 <> 0
       |          THEN chr(10) || 'User-agent: graftbot' || chr(10) ||
       |               'Disallow:' || chr(10) ELSE '' END) ||
       |    (CASE WHEN CAST(substr(source, 4) AS INT) % 5 = 4
       |               AND CAST(substr(source, 4) AS INT) % 3 <> 0
       |          THEN chr(10) || 'User-agent: graftbot' || chr(10) ||
       |               'Crawl-delay: 3' || chr(10) ELSE '' END) AS txt
       |  FROM (SELECT DISTINCT source FROM documents)
       |  WHERE CAST(substr(source, 4) AS INT) % 7 <> 3),
       |lns AS (
       |  SELECT host, CAST(u2.i AS INTEGER) AS ln, l[u2.i] AS line
       |  FROM (SELECT host, string_split_regex(txt, '\\r?\\n') AS l FROM rb),
       |    unnest(range(1, len(l) + 1)) AS u2(i)),
       |kept AS (
       |  SELECT host, ln,
       |    lower(regexp_extract(line,
       |      '(?i)^[ \\t]*user-agent[ \\t]*:[ \\t]*(\\S*)', 1)) AS ua,
       |    lower(regexp_extract(line,
       |      '(?i)^[ \\t]*(disallow|allow)[ \\t]*:', 1)) AS rule_type,
       |    regexp_extract(line,
       |      '(?i)^[ \\t]*(?:disallow|allow)[ \\t]*:[ \\t]*(\\S*)', 1)
       |      AS rule_path
       |  FROM lns
       |  WHERE lower(regexp_extract(line,
       |      '(?i)^[ \\t]*user-agent[ \\t]*:[ \\t]*(\\S*)', 1)) <> ''
       |    OR lower(regexp_extract(line,
       |      '(?i)^[ \\t]*(disallow|allow)[ \\t]*:', 1)) <> ''),
       |lagged AS (
       |  SELECT *, (ua <> '') AS is_ua,
       |    coalesce(lag(ua <> '')
       |      OVER (PARTITION BY host ORDER BY ln), FALSE) AS prev_ua
       |  FROM kept),
       |grp AS (
       |  SELECT *, sum(CASE WHEN is_ua AND NOT prev_ua THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY host ORDER BY ln) AS gid
       |  FROM lagged),
       |gbest AS (
       |  SELECT host, gid,
       |    max(CASE WHEN ua = '*' THEN 0
       |             WHEN starts_with('graftbot', ua) THEN length(ua)
       |             ELSE -1 END) AS best
       |  FROM grp WHERE is_ua GROUP BY host, gid),
       |aball AS (
       |  SELECT host, gid, best FROM gbest
       |  UNION ALL
       |  SELECT DISTINCT host, 0 AS gid, 0 AS best FROM grp WHERE gid = 0),
       |dmax AS (SELECT host, max(best) AS dmax FROM aball
       |         WHERE best >= 0 GROUP BY host),
       |r0 AS (
       |  SELECT g.host, g.rule_type, g.rule_path,
       |    coalesce(b.best, -1) AS best
       |  FROM grp g LEFT JOIN aball b ON b.host = g.host AND b.gid = g.gid
       |  WHERE g.rule_type <> '' AND length(g.rule_path) > 0),
       |rules AS (
       |  SELECT DISTINCT r.host, r.rule_type, r.rule_path
       |  FROM r0 r JOIN dmax d ON d.host = r.host WHERE r.best = d.dmax),
       |pat AS (
       |  SELECT host, rule_type, rule_path,
       |    CAST(length(rule_path) AS INTEGER) AS rule_len,
       |    '^' || replace(regexp_replace(
       |        CASE WHEN rule_path LIKE '%$$'
       |             THEN substr(rule_path, 1, length(rule_path) - 1)
       |             ELSE rule_path END,
       |        '([.\\[\\]{}()+?^$$\\\\|])', '\\\\\\1', 'g'), '*', '.*') ||
       |      (CASE WHEN rule_path LIKE '%$$' THEN '$$' ELSE '' END) AS rx
       |  FROM rules),
       |m AS (
       |  SELECT u.doc_id, p.rule_type, p.rule_path,
       |    row_number() OVER (PARTITION BY u.doc_id
       |      ORDER BY p.rule_len DESC,
       |        CASE WHEN p.rule_type = 'allow' THEN 1 ELSE 0 END DESC,
       |        p.rule_path DESC) AS rn
       |  FROM u JOIN pat p ON p.host = u.host
       |    AND regexp_matches(u.path, p.rx))
       |SELECT u.doc_id, u.host, u.path,
       |  COALESCE(m.rule_type <> 'disallow', TRUE) AS allowed,
       |  m.rule_type, m.rule_path
       |FROM u LEFT JOIN (SELECT * FROM m WHERE rn = 1) m
       |  ON m.doc_id = u.doc_id
       |ORDER BY u.doc_id""".stripMargin

  /** Gopher line/paragraph repetition battery
    * ([[graft.operators.Curation.lineRepetitionRules]]): the corpus is
    * given deterministic line structure (6-token lines, 3-line
    * paragraphs), then every 9th doc gets its first LINE twice more
    * (count + char mass move at line granularity) and every 9th+1 doc
    * its first PARAGRAPH again (both granularities move). The oracle
    * rebuilds the same structure and replays all four fractions and
    * the 0.30/0.20 keep thresholds — a missed trim, a blank-line
    * miscount, or first-occurrence-vs-duplicate confusion in the char
    * mass changes a fraction and breaks the hash.
    */
  def q251LineRepetition(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("text")).filter(col("text").isNotNull)
      .withColumn("_t",
        expr("filter(split(trim(text), '\\\\s+'), x -> length(x) > 0)"))
      .filter(size(col("_t")) >= 24)
      .withColumn("_nl", expr("size(_t) DIV 6").cast(IntegerType))
    val lines = transform(sequence(lit(0), col("_nl") - 1),
      g => array_join(slice(col("_t"), g * 6 + 1, lit(6)), " "))
    val structured = docs
      .withColumn("_lines",
        when(pmod(col("doc_id"), lit(9)) === 0,
          concat(slice(lines, lit(1), lit(1)), slice(lines, lit(1), lit(1)),
            lines))
          .otherwise(lines))
      .withColumn("_np",
        expr("(size(_lines) + 2) DIV 3").cast(IntegerType))
      .withColumn("_paras",
        transform(sequence(lit(0), col("_np") - 1),
          p => array_join(slice(col("_lines"), p * 3 + 1, lit(3)), "\n")))
      .withColumn("_paras2",
        when(pmod(col("doc_id"), lit(9)) === 1,
          concat(slice(col("_paras"), lit(1), lit(1)), col("_paras")))
          .otherwise(col("_paras")))
      .select(col("doc_id"), array_join(col("_paras2"), "\n\n").as("text"))
    graft.operators.Curation.lineRepetitionRules(structured, "doc_id", "text")
      .orderBy("doc_id")
  }

  val q251Sql: String = {
    def stats(u: String) =
      (s"len($u)", s"len(list_distinct($u))",
        s"CAST(len($u) - len(list_distinct($u)) AS DOUBLE) / CAST(greatest(len($u), 1) AS DOUBLE)",
        s"CAST(list_sum(list_transform(list_distinct($u), d -> (len(list_filter($u, x2 -> x2 = d)) - 1) * length(d))) AS DOUBLE) / CAST(greatest(list_sum(list_transform($u, x2 -> length(x2))), 1) AS DOUBLE)")
    val (nl, _, dlf, dlcf) = stats("lns")
    val (np, _, dpf, dpcf) = stats("prs")
    s"""WITH t0 AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(trim(text), '\\s+'),
       |      x -> length(x) > 0) AS tl
       |  FROM documents WHERE text IS NOT NULL),
       |t1 AS (
       |  SELECT doc_id, tl, CAST(len(tl) // 6 AS INTEGER) AS nl
       |  FROM t0 WHERE len(tl) >= 24),
       |l0 AS (
       |  SELECT doc_id,
       |    list_transform(range(0, nl),
       |      g -> array_to_string(tl[g*6+1 : g*6+6], ' ')) AS lines0
       |  FROM t1),
       |l1 AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 9 = 0
       |         THEN list_concat(list_concat(lines0[1:1], lines0[1:1]), lines0)
       |         ELSE lines0 END AS lines
       |  FROM l0),
       |p0 AS (
       |  SELECT doc_id, lines,
       |    list_transform(range(0, CAST((len(lines) + 2) // 3 AS INTEGER)),
       |      p -> array_to_string(lines[p*3+1 : p*3+3], chr(10))) AS paras0
       |  FROM l1),
       |p1 AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 9 = 1
       |         THEN list_concat(paras0[1:1], paras0)
       |         ELSE paras0 END AS paras
       |  FROM p0),
       |txt AS (
       |  SELECT doc_id,
       |    array_to_string(paras, chr(10) || chr(10)) AS text
       |  FROM p1),
       |u AS (
       |  SELECT doc_id,
       |    list_filter(list_transform(
       |      string_split_regex(text, '\\r?\\n'), x2 -> trim(x2)),
       |      x2 -> length(x2) > 0) AS lns,
       |    list_filter(list_transform(
       |      string_split_regex(text, '(?:\\r?\\n){2,}'), x2 -> trim(x2)),
       |      x2 -> length(x2) > 0) AS prs
       |  FROM txt)
       |SELECT doc_id,
       |  CAST($nl AS INTEGER) AS n_lines,
       |  $dlf AS dup_line_frac,
       |  $dlcf AS dup_line_char_frac,
       |  CAST($np AS INTEGER) AS n_paras,
       |  $dpf AS dup_para_frac,
       |  $dpcf AS dup_para_char_frac,
       |  CAST(CASE WHEN $dlf <= 0.3 AND $dpf <= 0.3
       |       AND $dlcf <= 0.2 AND $dpcf <= 0.2
       |       THEN 1 ELSE 0 END AS INTEGER) AS keep
       |FROM u
       |ORDER BY doc_id""".stripMargin
  }

  /** C4-style duplicated three-sentence-span removal
    * ([[graft.operators.SentenceDedup.dropDuplicateSpans]]): the
    * corpus is first SENTENCED deterministically (5-token groups,
    * period-joined) so the span machinery has real boundaries to cut
    * at, then every doc under 40 gets a copier twin (+100000) that
    * embeds the donor's sentences 2–4 between two unique sentences —
    * C4's rule must remove exactly the borrowed span from the copier
    * (the donor, lexicographically first, keeps it) and leave the
    * unique head/tail intact. The oracle replays sentencing, the
    * shared segmentation chain, span hashing, the global first-
    * occurrence choice, range coverage, and the re-joined surviving
    * text (pinned by md5).
    */
  def q249SentenceSpanDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("text")).filter(col("text").isNotNull)
      .withColumn("_t",
        expr("filter(split(trim(text), '\\\\s+'), x -> length(x) > 0)"))
      .filter(size(col("_t")) >= 25)
      .withColumn("_ng", expr("size(_t) DIV 5").cast(IntegerType))
    def group(g: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      array_join(slice(col("_t"), g * 5 + 1, lit(5)), " ")
    val sentenced = docs.select(col("doc_id"),
      concat(array_join(
        transform(sequence(lit(0), col("_ng") - 1), g => group(g)),
        ". "), lit(".")).as("text"))
    val copiers = docs.filter(col("doc_id") < 40).select(
      (col("doc_id") + 100000).as("doc_id"),
      concat(
        lit("uniq"), col("doc_id").cast("string"),
        lit(" head marker sentence. "),
        group(lit(1)), lit(". "), group(lit(2)), lit(". "),
        group(lit(3)), lit(". uniq"), col("doc_id").cast("string"),
        lit(" tail words end.")).as("text"))
    graft.operators.SentenceDedup.dropDuplicateSpans(
      sentenced.unionByName(copiers), "doc_id", "text", spanLen = 3)
      .select(col("doc_id"), col("n_sentences"), col("n_dropped"),
        md5(col("text")).as("text_md5"))
      .orderBy("doc_id")
  }

  /** The C4 sentence-span dedup chain (spanLen = 3) as CTE text over a
    * relation `src` with (doc_id, text): segmentation (the shared
    * [[duckSentences]] replay), span hashing, global keep-first,
    * range coverage, and the per-doc report CTE `spanrep` with
    * (doc_id, n_sentences, n_dropped, text) — sentence-less docs
    * reinstated as (0, 0, '') rows, the all-docs convention. Shared
    * by q249 and the composed crawl flagship q254 so one SQL text
    * cannot drift per query.
    */
  private def duckSpanCtes(src: String): String =
    s"""sseg AS (
       |  SELECT doc_id,
       |    ${duckSentences("text")} AS l
       |  FROM $src),
       |socc AS (
       |  SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS pos,
       |    ('0x'||substr(md5(array_to_string(l[u.i : u.i+2], chr(31))),
       |      1, 15))::BIGINT AS h
       |  FROM sseg, unnest(range(1, len(l) - 1)) AS u(i)),
       |sdup AS (
       |  SELECT doc_id, pos, h,
       |    count(*) OVER (PARTITION BY h) AS cnt,
       |    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
       |  FROM socc),
       |smarked AS (
       |  SELECT doc_id, pos FROM sdup WHERE cnt >= 2 AND rn > 1),
       |ssent AS (
       |  SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS j, l[u.i] AS s
       |  FROM sseg, unnest(range(1, len(l) + 1)) AS u(i)),
       |scov AS (
       |  SELECT ssent.doc_id, ssent.j, ssent.s,
       |    CASE WHEN EXISTS (SELECT 1 FROM smarked m
       |      WHERE m.doc_id = ssent.doc_id
       |        AND m.pos BETWEEN ssent.j - 2 AND ssent.j) THEN 1 ELSE 0 END AS c
       |  FROM ssent),
       |spanrep AS MATERIALIZED (
       |  SELECT g.doc_id,
       |    CAST(coalesce(r.ns, 0) AS INT) AS n_sentences,
       |    CAST(coalesce(r.nd, 0) AS INT) AS n_dropped,
       |    coalesce(r.t, '') AS text
       |  FROM (SELECT doc_id FROM $src) g LEFT JOIN (
       |    SELECT doc_id, count(*) AS ns, sum(c) AS nd,
       |      coalesce(string_agg(CASE WHEN c = 0 THEN s END, ' '
       |        ORDER BY j), '') AS t
       |    FROM scov GROUP BY doc_id) r ON r.doc_id = g.doc_id)""".stripMargin

  val q249Sql: String =
    s"""WITH t0 AS (
       |  SELECT doc_id, text,
       |    list_filter(string_split_regex(trim(text), '\\s+'),
       |      x -> length(x) > 0) AS tl
       |  FROM documents WHERE text IS NOT NULL),
       |t1 AS (
       |  SELECT doc_id, tl, CAST(len(tl) // 5 AS INTEGER) AS ng
       |  FROM t0 WHERE len(tl) >= 25),
       |corpus AS (
       |  SELECT doc_id,
       |    array_to_string(list_transform(range(0, ng),
       |      g -> array_to_string(tl[g*5+1 : g*5+5], ' ')), '. ') || '.'
       |      AS text
       |  FROM t1
       |  UNION ALL
       |  SELECT doc_id + 100000 AS doc_id,
       |    'uniq' || CAST(doc_id AS VARCHAR) || ' head marker sentence. ' ||
       |    array_to_string(tl[6:10], ' ') || '. ' ||
       |    array_to_string(tl[11:15], ' ') || '. ' ||
       |    array_to_string(tl[16:20], ' ') ||
       |    '. uniq' || CAST(doc_id AS VARCHAR) || ' tail words end.' AS text
       |  FROM t1 WHERE doc_id < 40),
       |${duckSpanCtes("corpus")}
       |SELECT doc_id, n_sentences, n_dropped, md5(text) AS text_md5
       |FROM spanrep
       |ORDER BY doc_id""".stripMargin

  /** Incremental C4 span dedup against a persisted span-hash index
    * ([[graft.operators.SentenceDedup.writeSpanIndex]] /
    * [[graft.operators.SentenceDedup.dropDuplicateSpansIncremental]]):
    * the even half of the sentenced corpus is indexed in TWO batches
    * (write, then APPEND — the q60b/q237b read-transparency
    * discipline rides the oracle gate), then a new batch — the odd
    * half plus two plant families — scrubs against it: +200000
    * copiers borrow sentences 2–4 from an INDEXED even donor (must
    * drop via the index semi-join), +300000 copiers borrow from an
    * odd donor INSIDE the batch (must drop via batch-local
    * keep-first; the donor keeps). The oracle recomputes the indexed
    * span set and the batch decision rule from scratch.
    */
  def q252IncrementalSpanDedup(s: SparkSession, dir: String): DataFrame = {
    val path = scratchPath("q252", dir) + "/ix"
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("text")).filter(col("text").isNotNull)
      .withColumn("_t",
        expr("filter(split(trim(text), '\\\\s+'), x -> length(x) > 0)"))
      .filter(size(col("_t")) >= 25)
      .withColumn("_ng", expr("size(_t) DIV 5").cast(IntegerType))
    def group(g: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      array_join(slice(col("_t"), g * 5 + 1, lit(5)), " ")
    val sentenced = docs.select(col("doc_id"),
      concat(array_join(
        transform(sequence(lit(0), col("_ng") - 1), g => group(g)),
        ". "), lit(".")).as("text"))
    def copiers(parity: Int, offset: Int, tag: String) =
      docs.filter(pmod(col("doc_id"), lit(2)) === parity &&
          col("doc_id") < 41).select(
        (col("doc_id") + offset).as("doc_id"),
        concat(
          lit(tag), col("doc_id").cast("string"),
          lit(" head marker sentence. "),
          group(lit(1)), lit(". "), group(lit(2)), lit(". "),
          group(lit(3)), lit(". " + tag), col("doc_id").cast("string"),
          lit(" tail words end.")).as("text"))
    val even = sentenced.filter(pmod(col("doc_id"), lit(2)) === 0)
    graft.operators.SentenceDedup.writeSpanIndex(
      even.filter(pmod(col("doc_id"), lit(4)) === 0),
      "doc_id", "text", path, spanLen = 3)
    graft.operators.SentenceDedup.appendToSpanIndex(
      even.filter(pmod(col("doc_id"), lit(4)) === 2),
      "doc_id", "text", path, spanLen = 3)
    val batch = sentenced.filter(pmod(col("doc_id"), lit(2)) === 1)
      .unionByName(copiers(0, 200000, "uniqa"))
      .unionByName(copiers(1, 300000, "uniqb"))
    graft.operators.SentenceDedup.dropDuplicateSpansIncremental(
        s, path, batch, "doc_id", "text", spanLen = 3)
      .select(col("doc_id"), col("n_sentences"), col("n_dropped"),
        md5(col("text")).as("text_md5"))
      .orderBy("doc_id")
  }

  val q252Sql: String =
    s"""WITH t0 AS (
       |  SELECT doc_id, text,
       |    list_filter(string_split_regex(trim(text), '\\s+'),
       |      x -> length(x) > 0) AS tl
       |  FROM documents WHERE text IS NOT NULL),
       |t1 AS (
       |  SELECT doc_id, tl, CAST(len(tl) // 5 AS INTEGER) AS ng
       |  FROM t0 WHERE len(tl) >= 25),
       |sentenced AS (
       |  SELECT doc_id,
       |    array_to_string(list_transform(range(0, ng),
       |      g -> array_to_string(tl[g*5+1 : g*5+5], ' ')), '. ') || '.'
       |      AS text
       |  FROM t1),
       |old AS (SELECT doc_id, text FROM sentenced WHERE doc_id % 2 = 0),
       |batch AS (
       |  SELECT doc_id, text FROM sentenced WHERE doc_id % 2 = 1
       |  UNION ALL
       |  SELECT doc_id + 200000 AS doc_id,
       |    'uniqa' || CAST(doc_id AS VARCHAR) || ' head marker sentence. ' ||
       |    array_to_string(tl[6:10], ' ') || '. ' ||
       |    array_to_string(tl[11:15], ' ') || '. ' ||
       |    array_to_string(tl[16:20], ' ') ||
       |    '. uniqa' || CAST(doc_id AS VARCHAR) || ' tail words end.' AS text
       |  FROM t1 WHERE doc_id % 2 = 0 AND doc_id < 41
       |  UNION ALL
       |  SELECT doc_id + 300000 AS doc_id,
       |    'uniqb' || CAST(doc_id AS VARCHAR) || ' head marker sentence. ' ||
       |    array_to_string(tl[6:10], ' ') || '. ' ||
       |    array_to_string(tl[11:15], ' ') || '. ' ||
       |    array_to_string(tl[16:20], ' ') ||
       |    '. uniqb' || CAST(doc_id AS VARCHAR) || ' tail words end.' AS text
       |  FROM t1 WHERE doc_id % 2 = 1 AND doc_id < 41),
       |oldseg AS (
       |  SELECT doc_id, ${duckSentences("text")} AS l FROM old),
       |oldspans AS (
       |  SELECT DISTINCT
       |    ('0x'||substr(md5(array_to_string(l[u.i : u.i+2], chr(31))),
       |      1, 15))::BIGINT AS h
       |  FROM oldseg, unnest(range(1, len(l) - 1)) AS u(i)),
       |bseg AS (
       |  SELECT doc_id, ${duckSentences("text")} AS l FROM batch),
       |bocc AS (
       |  SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS pos,
       |    ('0x'||substr(md5(array_to_string(l[u.i : u.i+2], chr(31))),
       |      1, 15))::BIGINT AS h
       |  FROM bseg, unnest(range(1, len(l) - 1)) AS u(i)),
       |bdup AS (
       |  SELECT doc_id, pos, h,
       |    count(*) OVER (PARTITION BY h) AS cnt,
       |    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
       |  FROM bocc),
       |marked AS (
       |  SELECT DISTINCT doc_id, pos FROM (
       |    SELECT doc_id, pos FROM bocc
       |    WHERE h IN (SELECT h FROM oldspans)
       |    UNION ALL
       |    SELECT doc_id, pos FROM bdup WHERE cnt >= 2 AND rn > 1)),
       |sent AS (
       |  SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS j, l[u.i] AS s
       |  FROM bseg, unnest(range(1, len(l) + 1)) AS u(i)),
       |cov AS (
       |  SELECT sent.doc_id, sent.j, sent.s,
       |    CASE WHEN EXISTS (SELECT 1 FROM marked m
       |      WHERE m.doc_id = sent.doc_id
       |        AND m.pos BETWEEN sent.j - 2 AND sent.j) THEN 1 ELSE 0 END AS c
       |  FROM sent)
       |SELECT doc_id,
       |  CAST(count(*) AS INT) AS n_sentences,
       |  CAST(sum(c) AS INT) AS n_dropped,
       |  md5(coalesce(string_agg(CASE WHEN c = 0 THEN s END, ' '
       |    ORDER BY j), '')) AS text_md5
       |FROM cov
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** T5-style span corruption ([[graft.operators.SpanCorrupt
    * .corrupt]]): the whole corpus turned into (input, target)
    * denoising pairs under the derandomized block sampler — every full
    * 8-token block hides one hash-placed span of 1–3 tokens behind its
    * numbered sentinel. The oracle recomputes every block's two md5
    * hashes, span geometry, the exact slice boundaries, the sentinel
    * numbering, the tail passthrough, and both reassembled strings
    * (pinned by md5) — an off-by-one in any slice or a wrong hash
    * string changes input/target and breaks the hash.
    */
  def q247SpanCorrupt(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("text")).filter(col("text").isNotNull)
    graft.operators.SpanCorrupt.corrupt(docs, "doc_id", "text",
        blockLen = 8, maxSpan = 3)
      .select(col("doc_id"),
        md5(col("input_text")).as("input_md5"),
        md5(col("target_text")).as("target_md5"),
        col("n_tokens"), col("n_spans"), col("n_corrupted"))
      .orderBy("doc_id")
  }

  val q247Sql: String =
    s"""WITH tok AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(trim(text), '\\s+'),
       |      x -> length(x) > 0) AS tl
       |  FROM documents WHERE text IS NOT NULL),
       |blk AS (
       |  SELECT doc_id, tl, len(tl) AS n,
       |    CAST(len(tl) // 8 AS INTEGER) AS nb
       |  FROM tok),
       |geo AS (
       |  SELECT doc_id, tl, n, nb, CAST(u.k AS INTEGER) AS k,
       |    CAST(('0x'||substr(md5(doc_id::VARCHAR || ':' || u.k::VARCHAR),
       |      1, 15))::BIGINT % 3 + 1 AS INTEGER) AS L
       |  FROM blk, unnest(range(0, nb)) AS u(k)),
       |geo2 AS (
       |  SELECT doc_id, tl, n, nb, k, L,
       |    CAST(('0x'||substr(md5(doc_id::VARCHAR || ':' || k::VARCHAR
       |      || ':o'), 1, 15))::BIGINT % (8 - L + 1) AS INTEGER) AS s
       |  FROM geo),
       |partsk AS (
       |  SELECT doc_id, k, L,
       |    array_to_string(list_concat(list_concat(
       |      tl[k*8+1 : k*8+s],
       |      ['<extra_id_' || k::VARCHAR || '>']),
       |      tl[k*8+s+L+1 : k*8+8]), ' ') AS ip,
       |    array_to_string(list_concat(
       |      ['<extra_id_' || k::VARCHAR || '>'],
       |      tl[k*8+s+1 : k*8+s+L]), ' ') AS tp
       |  FROM geo2),
       |agg AS (
       |  SELECT doc_id,
       |    string_agg(ip, ' ' ORDER BY k) AS inp,
       |    string_agg(tp, ' ' ORDER BY k) AS tgt,
       |    CAST(sum(L) AS INTEGER) AS n_corrupted
       |  FROM partsk GROUP BY doc_id)
       |SELECT b.doc_id,
       |  md5(CASE
       |    WHEN b.n = 0 THEN ''
       |    WHEN b.nb = 0 THEN array_to_string(b.tl, ' ')
       |    WHEN b.n > b.nb*8 THEN a.inp || ' ' ||
       |      array_to_string(b.tl[b.nb*8+1 : b.n], ' ')
       |    ELSE a.inp END) AS input_md5,
       |  md5(coalesce(a.tgt, '')) AS target_md5,
       |  CAST(b.n AS INTEGER) AS n_tokens,
       |  b.nb AS n_spans,
       |  coalesce(a.n_corrupted, 0) AS n_corrupted
       |FROM blk b LEFT JOIN agg a ON a.doc_id = b.doc_id
       |ORDER BY b.doc_id""".stripMargin

  /** Incremental crawl-frontier dedup against a persisted
    * canonical-URL hash index ([[graft.operators.Urls.probeFrontier]]
    * — the q252 write/append/probe convention at URL granularity,
    * closing the loop q244's scaladoc promises): yesterday's frontier
    * (the even docs' URLs) is indexed in TWO batches (write, then
    * APPEND — read-transparency rides the oracle gate), then today's
    * batch probes it: the odd docs' URLs (fresh → fetch), +500000
    * tracking-param respellings of INDEXED even URLs (canonicalize to
    * a seen hash → in_index, no fetch), +600000 in-batch respellings
    * of odd URLs (the lower-id spelling fetches, the twin is
    * dup_in_batch), and +900000 scheme-less non-URLs (is_url false,
    * never fetched). The oracle recomputes both batches' canonical
    * forms through the shared q244 parser CTEs, the indexed hash set,
    * and the batch-local first-occurrence rule from scratch.
    */
  def q255FrontierDedup(s: SparkSession, dir: String): DataFrame = {
    val path = scratchPath("q255", dir) + "/ix"
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("lang"))
    val even = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    val odd = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
    def urlsOf(d: DataFrame) = d.select(col("doc_id"),
      syntheticUrl.as("url"))
    graft.operators.Urls.writeFrontierIndex(
      urlsOf(even.filter(pmod(col("doc_id"), lit(4)) === 0)), "url", path)
    graft.operators.Urls.appendToFrontierIndex(
      urlsOf(even.filter(pmod(col("doc_id"), lit(4)) === 2)), "url", path)
    // plants append tracking params, so donors must carry no fragment
    // (doc_id % 5 != 0 — the generator's #sec2 branch)
    val reSeen = even
      .filter(pmod(col("doc_id"), lit(5)) =!= 0 && col("doc_id") < 80)
      .select((col("doc_id") + 500000).as("doc_id"),
        concat(syntheticUrl, lit("&utm_x=1")).as("url"))
    val dupTwin = odd
      .filter(pmod(col("doc_id"), lit(5)) =!= 0 && col("doc_id") < 60)
      .select((col("doc_id") + 600000).as("doc_id"),
        concat(syntheticUrl, lit("&fbclid=q")).as("url"))
    val nonUrl = docs.filter(col("doc_id") < 5)
      .select((col("doc_id") + 900000).as("doc_id"),
        concat(lit("not a url "), col("doc_id").cast("string")).as("url"))
    val batch = urlsOf(odd).unionByName(reSeen).unionByName(dupTwin)
      .unionByName(nonUrl)
    graft.operators.Urls.probeFrontier(s, path, batch, "doc_id", "url")
      .orderBy("doc_id")
  }

  val q255Sql: String =
    s"""WITH b1 AS (
       |  SELECT doc_id, $syntheticUrlSql AS u
       |  FROM documents WHERE doc_id % 2 = 0),
       |b2 AS (
       |  SELECT doc_id, $syntheticUrlSql AS u
       |  FROM documents WHERE doc_id % 2 = 1
       |  UNION ALL
       |  SELECT doc_id + 500000 AS doc_id,
       |    $syntheticUrlSql || '&utm_x=1' AS u
       |  FROM documents
       |  WHERE doc_id % 2 = 0 AND doc_id % 5 <> 0 AND doc_id < 80
       |  UNION ALL
       |  SELECT doc_id + 600000 AS doc_id,
       |    $syntheticUrlSql || '&fbclid=q' AS u
       |  FROM documents
       |  WHERE doc_id % 2 = 1 AND doc_id % 5 <> 0 AND doc_id < 60
       |  UNION ALL
       |  SELECT doc_id + 900000 AS doc_id,
       |    'not a url ' || CAST(doc_id AS VARCHAR) AS u
       |  FROM documents WHERE doc_id < 5),
       |${duckCanonicalCtes("b1", "b1")},
       |${duckCanonicalCtes("b2", "b2")},
       |idx AS (
       |  SELECT DISTINCT
       |    ('0x' || substr(md5(canonical_url), 1, 15))::BIGINT AS h
       |  FROM canonb1 WHERE canonical_url IS NOT NULL),
       |h2 AS (
       |  SELECT doc_id, canonical_url,
       |    CASE WHEN canonical_url IS NULL THEN NULL
       |         ELSE ('0x' || substr(md5(canonical_url), 1, 15))::BIGINT
       |         END AS h
       |  FROM canonb2),
       |firstb AS (
       |  SELECT h, min(doc_id) AS fid FROM h2
       |  WHERE canonical_url IS NOT NULL GROUP BY h)
       |SELECT c.doc_id, c.canonical_url,
       |  c.canonical_url IS NOT NULL AS is_url,
       |  (c.canonical_url IS NOT NULL AND EXISTS (
       |     SELECT 1 FROM idx WHERE idx.h = c.h)) AS in_index,
       |  (c.canonical_url IS NOT NULL AND c.doc_id <> f.fid)
       |    AS dup_in_batch,
       |  (c.canonical_url IS NOT NULL
       |    AND NOT EXISTS (SELECT 1 FROM idx WHERE idx.h = c.h)
       |    AND c.doc_id = f.fid) AS fetch
       |FROM h2 c LEFT JOIN firstb f ON f.h = c.h
       |ORDER BY c.doc_id""".stripMargin

  /** Streaming crawl-frontier ingestion on the oracle gate
    * ([[graft.streaming.FrontierIngest.ingestBatch]] — the batch twin
    * of the `foreachBatch` stream, stream==batch and exactly-once
    * proven in StreamingSpec; the q78 pattern at URL granularity):
    * three discovery batches — the first 300 docs' URLs; then the
    * rest plus case/port/tracking RESPELLINGS of batch-1 URLs (must
    * drop via the index) and tracking twins of same-batch URLs (must
    * drop via in-batch keep-first); then respellings of batch-2 URLs,
    * scheme-less non-URLs, and genuinely fresh URLs — flow through
    * index-backed sequential dedup. The oracle replays the greedy
    * batch-order semantics: fetched(b) = first-in-batch canonical
    * occurrences of b whose canonical is not in fetched(<b), each
    * batch re-canonicalized through the shared q244 parser CTEs.
    * Output = the final fetch log; any wrongly fetched or skipped URL
    * at any step breaks the hash.
    */
  def q259StreamingFrontier(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.FrontierIngest
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    val host = concat(lit("www."), col("source"), lit(".example.com"))
    def baseUrl(suffix: org.apache.spark.sql.Column*) =
      concat((Seq(lit("https://"), host, lit("/d/"),
        col("doc_id").cast("string")) ++ suffix): _*)
    val b1 = docs.filter(col("doc_id") < 300)
      .select(col("doc_id"), baseUrl().as("url"))
    val respell1 = docs.filter(col("doc_id") < 40).select(
      (col("doc_id") + 500000).as("doc_id"),
      concat(lit("HTTPS://"), upper(host), lit("/d/"),
        col("doc_id").cast("string"), lit("?utm_b=2")).as("url"))
    val twins2 = docs.filter(col("doc_id") >= 300 && col("doc_id") < 330)
      .select((col("doc_id") + 600000).as("doc_id"),
        baseUrl(lit("?gclid=x")).as("url"))
    val b2 = docs.filter(col("doc_id") >= 300)
      .select(col("doc_id"), baseUrl().as("url"))
      .unionByName(respell1).unionByName(twins2)
    val respell2 = docs.filter(col("doc_id") >= 300 && col("doc_id") < 340)
      .select((col("doc_id") + 700000).as("doc_id"),
        baseUrl(lit("?utm_z=1")).as("url"))
    val nonUrl = docs.filter(col("doc_id") < 5).select(
      (col("doc_id") + 800000).as("doc_id"),
      concat(lit("not a url "), col("doc_id").cast("string")).as("url"))
    val fresh = docs.filter(col("doc_id") < 10).select(
      (col("doc_id") + 900000).as("doc_id"),
      concat(lit("https://late.example.net/n/"),
        col("doc_id").cast("string")).as("url"))
    val b3 = respell2.unionByName(nonUrl).unionByName(fresh)
    val idxPath = scratchPath("q259_idx", dir)
    val logPath = scratchPath("q259_log", dir)
    // rerun hygiene: ingest accretes by design (the q78 convention)
    Seq(idxPath, logPath).foreach { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(hp, true): Unit
    }
    Seq(b1, b2, b3).foreach { b =>
      FrontierIngest.ingestBatch(b, idxPath, logPath, "doc_id", "url"): Unit
    }
    Tables.read(s, logPath)
      .select(col("doc_id"), col("url"), col("canonical_url"))
      .orderBy("doc_id")
  }

  val q259Sql: String = {
    def kept(tag: String, prior: String): String =
      s"""k$tag AS (
         |  SELECT c.doc_id, c.canonical_url
         |  FROM canonf$tag c
         |  JOIN (SELECT canonical_url, min(doc_id) AS fid
         |        FROM canonf$tag WHERE canonical_url IS NOT NULL
         |        GROUP BY canonical_url) f
         |    ON f.canonical_url = c.canonical_url AND c.doc_id = f.fid
         |  $prior)""".stripMargin
    s"""WITH bb1 AS (
       |  SELECT doc_id,
       |    'https://www.' || source || '.example.com/d/' ||
       |      CAST(doc_id AS VARCHAR) AS u
       |  FROM documents WHERE doc_id < 300),
       |bb2 AS (
       |  SELECT doc_id,
       |    'https://www.' || source || '.example.com/d/' ||
       |      CAST(doc_id AS VARCHAR) AS u
       |  FROM documents WHERE doc_id >= 300
       |  UNION ALL
       |  SELECT doc_id + 500000,
       |    'HTTPS://' || upper('www.' || source || '.example.com') ||
       |      '/d/' || CAST(doc_id AS VARCHAR) || '?utm_b=2'
       |  FROM documents WHERE doc_id < 40
       |  UNION ALL
       |  SELECT doc_id + 600000,
       |    'https://www.' || source || '.example.com/d/' ||
       |      CAST(doc_id AS VARCHAR) || '?gclid=x'
       |  FROM documents WHERE doc_id >= 300 AND doc_id < 330),
       |bb3 AS (
       |  SELECT doc_id + 700000 AS doc_id,
       |    'https://www.' || source || '.example.com/d/' ||
       |      CAST(doc_id AS VARCHAR) || '?utm_z=1' AS u
       |  FROM documents WHERE doc_id >= 300 AND doc_id < 340
       |  UNION ALL
       |  SELECT doc_id + 800000, 'not a url ' || CAST(doc_id AS VARCHAR)
       |  FROM documents WHERE doc_id < 5
       |  UNION ALL
       |  SELECT doc_id + 900000,
       |    'https://late.example.net/n/' || CAST(doc_id AS VARCHAR)
       |  FROM documents WHERE doc_id < 10),
       |${duckCanonicalCtes("bb1", "f1")},
       |${duckCanonicalCtes("bb2", "f2")},
       |${duckCanonicalCtes("bb3", "f3")},
       |${kept("1", "")},
       |${kept("2",
          "WHERE c.canonical_url NOT IN (SELECT canonical_url FROM k1)")},
       |${kept("3",
          "WHERE c.canonical_url NOT IN (SELECT canonical_url FROM k1 " +
            "UNION ALL SELECT canonical_url FROM k2)")},
       |fetched AS (
       |  SELECT doc_id, canonical_url FROM k1
       |  UNION ALL SELECT doc_id, canonical_url FROM k2
       |  UNION ALL SELECT doc_id, canonical_url FROM k3),
       |raws AS (
       |  SELECT doc_id, u FROM bb1
       |  UNION ALL SELECT doc_id, u FROM bb2
       |  UNION ALL SELECT doc_id, u FROM bb3)
       |SELECT f.doc_id, r.u AS url, f.canonical_url
       |FROM fetched f JOIN raws r ON r.doc_id = f.doc_id
       |ORDER BY f.doc_id""".stripMargin
  }

  /** Link discovery ([[graft.operators.Urls.extractHrefs]] +
    * [[graft.operators.Urls.resolveUrl]] — the step that FEEDS the
    * frontier): every page carries one anchor of each RFC 3986
    * reference class (absolute, protocol-relative, root-relative with
    * dot segments, sibling, parent, dot-prefixed with a trailing
    * slash, query-only, fragment-only, a mailto, a
    * double-slash-collapse case, and an UNQUOTED minified-HTML value —
    * plus two extraction decoys that must NOT match: an `<area href>`
    * (tag name merely starts with 'a') and a `data-href` attribute),
    * extracted in document order,
    * resolved against the page URL, and canonicalized (the fragment
    * link dedups onto its page; the mailto canonicalizes to NULL —
    * non-hierarchical). The oracle replays extraction, the full
    * resolution CASE (dot-segment removal as a bounded
    * regexp-replace unroll — the UniMaxWordLen precedent), and the
    * shared q244 canonical parser.
    */
  def q260LinkResolve(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    val id = col("doc_id").cast("string")
    val base = concat(lit("https://www."), col("source"),
      lit(".example.com/dir/sub/page"), id, lit(".html?q=1"))
    val html = concat(
      lit("<html><body><a href=\"https://other.example.org/abs/"), id,
      lit("\">a</a>"),
      lit("<a class='x' href='//cdn.example.net/x"), id, lit(".js'>b</a>"),
      lit("<a href=\"/root/a/../b"), id, lit("\">c</a>"),
      lit("<a href='page"), id, lit("'>d</a>"),
      lit("<a href='../up/one"), id, lit("'>e</a>"),
      lit("<a href='./same/dir/'>f</a>"),
      lit("<a href='?page="), id, lit("'>g</a>"),
      lit("<a href='#frag'>h</a>"),
      lit("<a href='mailto:x@example.com'>i</a>"),
      lit("<a href='sub//dbl/"), id, lit("'>j</a>"),
      // minified-HTML unquoted value, plus two extraction decoys: a
      // non-anchor tag whose name merely starts with 'a' and a
      // data-href attribute — neither may feed the frontier
      lit("<a href=unq/"), id, lit(">k</a>"),
      lit("<area href='/map'>m</area><a data-href='/dh'>n</a>"),
      lit("</body></html>"))
    // widen: extract/resolve/canonicalize are per-row regexp batteries
    // over an 11-link explode — single-partition on a one-file scan
    Tables.widen(docs.select(col("doc_id"), base.as("base_url"), html.as("html")))
      .select(col("doc_id"), col("base_url"),
        posexplode(graft.operators.Urls.extractHrefs(col("html")))
          .as(Seq("link_no", "href")))
      .withColumn("resolved_url",
        graft.operators.Urls.resolveUrl(col("base_url"), col("href")))
      .withColumn("canonical_url",
        graft.operators.Urls.canonicalize(col("resolved_url"))
          .getField("canonical_url"))
      .select(col("doc_id"), col("link_no"), col("href"),
        col("resolved_url"), col("canonical_url"))
      .orderBy("doc_id", "link_no")
  }

  val q260Sql: String = {
    // dot-segment removal as a bounded regexp-replace unroll: collapse
    // runs of '/', add the directory form for trailing '/.'|'/..',
    // strip '/./' (2 passes for overlaps), pop '<seg>/../' left to
    // right (4 passes — fixture nesting is <= 3)
    def rdots(e: String): String = {
      val t0 = s"(CASE WHEN regexp_matches($e, '/\\.\\.?$$') " +
        s"THEN $e || '/' ELSE $e END)"
      val t1 = s"regexp_replace($t0, '/{2,}', '/', 'g')"
      val t2 = (1 to 2).foldLeft(t1)((a, _) =>
        s"regexp_replace($a, '/\\./', '/', 'g')")
      (1 to 4).foldLeft(t2)((a, _) =>
        s"regexp_replace($a, '/[^/]+/\\.\\./', '/', 'g')")
    }
    s"""WITH d AS (
       |  SELECT doc_id,
       |    'https://www.' || source || '.example.com/dir/sub/page' ||
       |      CAST(doc_id AS VARCHAR) || '.html?q=1' AS base_url,
       |    '<html><body><a href="https://other.example.org/abs/' ||
       |      CAST(doc_id AS VARCHAR) || '">a</a>' ||
       |    '<a class=''x'' href=''//cdn.example.net/x' ||
       |      CAST(doc_id AS VARCHAR) || '.js''>b</a>' ||
       |    '<a href="/root/a/../b' || CAST(doc_id AS VARCHAR) ||
       |      '">c</a>' ||
       |    '<a href=''page' || CAST(doc_id AS VARCHAR) || '''>d</a>' ||
       |    '<a href=''../up/one' || CAST(doc_id AS VARCHAR) ||
       |      '''>e</a>' ||
       |    '<a href=''./same/dir/''>f</a>' ||
       |    '<a href=''?page=' || CAST(doc_id AS VARCHAR) || '''>g</a>' ||
       |    '<a href=''#frag''>h</a>' ||
       |    '<a href=''mailto:x@example.com''>i</a>' ||
       |    '<a href=''sub//dbl/' || CAST(doc_id AS VARCHAR) ||
       |      '''>j</a>' ||
       |    '<a href=unq/' || CAST(doc_id AS VARCHAR) || '>k</a>' ||
       |    '<area href=''/map''>m</area><a data-href=''/dh''>n</a>' ||
       |    '</body></html>' AS html
       |  FROM documents),
       |hl AS (
       |  SELECT doc_id, base_url,
       |    regexp_extract_all(html,
       |      '(?is)<a\\s(?:[^>]*?[\\s''"])?href[ \\t]*=[ \\t]*' ||
       |        '("[^"]*"|''[^'']*''|[^\\s>]+)', 1)
       |      AS hrefs
       |  FROM d),
       |lk AS (
       |  SELECT doc_id, base_url, CAST(u.i - 1 AS INTEGER) AS link_no,
       |    regexp_replace(regexp_replace(hrefs[u.i],
       |      '^[''"]', ''), '[''"]$$', '') AS h0
       |  FROM hl, unnest(range(1, len(hrefs) + 1)) AS u(i)),
       |lkt AS (SELECT doc_id, base_url, link_no, h0, trim(h0) AS h
       |        FROM lk),
       |parts AS (
       |  SELECT doc_id, base_url, link_no, h0, h,
       |    lower(regexp_extract(base_url,
       |      '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
       |    regexp_extract(base_url,
       |      '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1) AS origin,
       |    (CASE WHEN regexp_extract(regexp_replace(base_url,
       |        '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', ''),
       |        '^([^?#]*)', 1) = '' THEN '/'
       |      ELSE regexp_extract(regexp_replace(base_url,
       |        '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', ''),
       |        '^([^?#]*)', 1) END) AS bpath,
       |    regexp_extract(base_url, '^([^#]*)', 1) AS bnf,
       |    regexp_extract(h, '^([^?#]*)', 1) AS hpath,
       |    regexp_extract(h, '^[^?#]*([?#].*)$$', 1) AS htail
       |  FROM lkt),
       |res AS (
       |  SELECT doc_id, link_no, h0 AS href,
       |    CASE WHEN scheme = '' THEN NULL
       |      WHEN h = '' THEN bnf
       |      WHEN regexp_matches(h, '^[A-Za-z][A-Za-z0-9+.-]*:') THEN h
       |      WHEN starts_with(h, '//') THEN scheme || ':' || h
       |      WHEN starts_with(h, '/')
       |        THEN origin || ${rdots("hpath")} || htail
       |      WHEN starts_with(h, '#') THEN bnf || h
       |      WHEN starts_with(h, '?') THEN origin || bpath || h
       |      ELSE origin ||
       |        ${rdots("(regexp_extract(bpath, '^(.*/)', 1) || hpath)")}
       |        || htail END AS resolved_url
       |  FROM parts),
       |cres AS (
       |  SELECT doc_id * 16 + link_no AS doc_id, resolved_url AS u
       |  FROM res),
       |${duckCanonicalCtes("cres", "lr")}
       |SELECT r.doc_id, r.link_no, r.href, r.resolved_url,
       |  c.canonical_url
       |FROM res r JOIN canonlr c ON c.doc_id = r.doc_id * 16 + r.link_no
       |ORDER BY r.doc_id, r.link_no""".stripMargin
  }

  /** The streaming crawl LOOP composed as a two-hop flagship
    * (fetch-log → [[graft.operators.Urls.extractHrefs]] →
    * [[graft.operators.Urls.resolveUrl]] →
    * [[graft.operators.Urls.canonicalize]] →
    * [[graft.streaming.FrontierIngest]] → fetch-log → …): hop 2's
    * input batch is hop 1's DISCOVERIES read back from the fetch log —
    * the arrow that makes a crawler a loop rather than a pipeline.
    * Seeds carry four anchors each: a hot root-relative target
    * (`/art/{id mod 40}` — heavy in-batch collisions, keep-first by
    * id), a unique sibling-relative page, a tracking respelling of the
    * seed itself, and a fragment link (both canonicalize onto the
    * already-fetched seed and must drop via the index). Every page
    * hop 1 fetches links to one fresh child (absolute) and back to
    * `/art/0` (fetched in hop 1 — must drop cross-hop). Discovery ids
    * are a deterministic function of (parent id, anchor position), so
    * a missed or reordered extraction anywhere breaks the hash. The
    * oracle replays both hops' greedy semantics: fetched(h) =
    * first-in-batch canonical occurrences not fetched in any earlier
    * hop, each hop re-canonicalized through the shared q244 parser.
    * Output: the final three-hop fetch log. Stream==batch for the
    * multi-hop composition is proven in StreamingSpec; here the hops
    * run through the same keyed [[graft.streaming.FrontierIngest
    * .ingestBatch]] commit path the stream uses.
    */
  def q261CrawlLoop(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.FrontierIngest
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"))
      .filter(col("doc_id") < 200)
    val id = col("doc_id").cast("string")
    val host = concat(lit("www."), col("source"), lit(".example.com"))
    val seeds = docs.select(col("doc_id").as("page_id"),
      concat(lit("https://"), host, lit("/s/"), id).as("url"))
    val sid = col("page_id").cast("string")
    val seedHtml = concat(
      lit("<html><body><a href=\"/art/"),
      pmod(col("page_id"), lit(40)).cast("string"),
      lit("\">a</a><a href='p"), sid,
      lit("'>b</a><a href=\"/s/"), sid, lit("?utm_r=1\">c</a>"),
      lit("<a href='#top'>d</a></body></html>"))

    // link discovery over a fetched-page frame: ids are
    // idOffset + parent·16 + anchor position — deterministic and
    // oracle-replayable, so keep-first-by-id is a total order
    def discover(pages: DataFrame, idOffset: Long): DataFrame =
      pages
        .select(col("page_id"), col("url"),
          posexplode(graft.operators.Urls.extractHrefs(col("html")))
            .as(Seq("_ln", "_href")))
        .select(
          (lit(idOffset) + col("page_id") * 16 + col("_ln"))
            .as("page_id"),
          graft.operators.Urls.resolveUrl(col("url"), col("_href"))
            .as("url"))

    val idxPath = scratchPath("q261_idx", dir)
    val logPath = scratchPath("q261_log", dir)
    Seq(idxPath, logPath).foreach { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(hp, true): Unit
    }
    // hop 0: the seeds enter the frontier and fetch
    FrontierIngest.ingestBatch(seeds, idxPath, logPath,
      "page_id", "url"): Unit
    // hop 1: links extracted from the fetched seed pages
    FrontierIngest.ingestBatch(
      discover(seeds.withColumn("html", seedHtml), 10000000L),
      idxPath, logPath, "page_id", "url"): Unit
    // hop 2: links extracted from the pages hop 1 fetched — read back
    // from the fetch LOG (the loop's defining arrow)
    val hop2Pages = Tables.read(s, logPath)
      .filter(col("page_id") >= 10000000L)
      .select(col("page_id"), col("url"),
        concat(lit("<html><body><a href=\""), col("canonical_url"),
          lit("/c1\">x</a><a href='/art/0'>y</a></body></html>"))
          .as("html"))
    FrontierIngest.ingestBatch(discover(hop2Pages, 20000000L),
      idxPath, logPath, "page_id", "url"): Unit
    Tables.read(s, logPath)
      .select(col("page_id"),
        when(col("page_id") >= 20000000L, 2)
          .when(col("page_id") >= 10000000L, 1)
          .otherwise(0).cast(IntegerType).as("hop"),
        col("url"), col("canonical_url"))
      .orderBy("page_id")
  }

  val q261Sql: String = {
    def kept(tag: String, prior: String): String =
      s"""k$tag AS (
         |  SELECT c.doc_id, c.canonical_url
         |  FROM canong$tag c
         |  JOIN (SELECT canonical_url, min(doc_id) AS fid
         |        FROM canong$tag WHERE canonical_url IS NOT NULL
         |        GROUP BY canonical_url) f
         |    ON f.canonical_url = c.canonical_url AND c.doc_id = f.fid
         |  $prior)""".stripMargin
    s"""WITH sds AS (
       |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |    'https://www.' || source || '.example.com/s/' ||
       |      CAST(doc_id AS VARCHAR) AS u
       |  FROM documents WHERE doc_id < 200),
       |h1c AS (
       |  SELECT 10000000 + doc_id*16 + 0 AS doc_id,
       |    'https://www.' || source || '.example.com/art/' ||
       |      CAST(doc_id % 40 AS VARCHAR) AS u
       |  FROM documents WHERE doc_id < 200
       |  UNION ALL
       |  SELECT 10000000 + doc_id*16 + 1,
       |    'https://www.' || source || '.example.com/s/p' ||
       |      CAST(doc_id AS VARCHAR)
       |  FROM documents WHERE doc_id < 200
       |  UNION ALL
       |  SELECT 10000000 + doc_id*16 + 2,
       |    'https://www.' || source || '.example.com/s/' ||
       |      CAST(doc_id AS VARCHAR) || '?utm_r=1'
       |  FROM documents WHERE doc_id < 200
       |  UNION ALL
       |  SELECT 10000000 + doc_id*16 + 3,
       |    'https://www.' || source || '.example.com/s/' ||
       |      CAST(doc_id AS VARCHAR) || '#top'
       |  FROM documents WHERE doc_id < 200),
       |${duckCanonicalCtes("sds", "g0")},
       |${duckCanonicalCtes("h1c", "g1")},
       |${kept("0", "")},
       |${kept("1",
          "WHERE c.canonical_url NOT IN (SELECT canonical_url FROM k0)")},
       |h2c AS (
       |  SELECT 20000000 + k1.doc_id*16 + 0 AS doc_id,
       |    k1.canonical_url || '/c1' AS u
       |  FROM k1
       |  UNION ALL
       |  SELECT 20000000 + k1.doc_id*16 + 1,
       |    regexp_extract(k1.canonical_url,
       |      '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1) || '/art/0'
       |  FROM k1),
       |${duckCanonicalCtes("h2c", "g2")},
       |${kept("2",
          "WHERE c.canonical_url NOT IN (SELECT canonical_url FROM k0 " +
            "UNION ALL SELECT canonical_url FROM k1)")},
       |raws AS (
       |  SELECT doc_id, u FROM sds
       |  UNION ALL SELECT doc_id, u FROM h1c
       |  UNION ALL SELECT doc_id, u FROM h2c),
       |logr AS (
       |  SELECT doc_id FROM k0
       |  UNION ALL SELECT doc_id FROM k1
       |  UNION ALL SELECT doc_id FROM k2),
       |canons AS (
       |  SELECT doc_id, canonical_url FROM canong0
       |  UNION ALL SELECT doc_id, canonical_url FROM canong1
       |  UNION ALL SELECT doc_id, canonical_url FROM canong2)
       |SELECT l.doc_id AS page_id,
       |  CAST(CASE WHEN l.doc_id >= 20000000 THEN 2
       |            WHEN l.doc_id >= 10000000 THEN 1
       |            ELSE 0 END AS INTEGER) AS hop,
       |  r.u AS url, c.canonical_url
       |FROM logr l
       |JOIN raws r ON r.doc_id = l.doc_id
       |JOIN canons c ON c.doc_id = l.doc_id
       |ORDER BY l.doc_id""".stripMargin
  }

  /** Crawl-delay politeness scheduling
    * ([[graft.operators.Urls.crawlDelays]] +
    * [[graft.operators.Urls.politenessSchedule]], crawling as
    * `graftbot`): per-host robots carry a Googlebot decoy delay (9 s,
    * must be IGNORED), a `*` group whose even hosts declare TWO
    * delays (2 then 1 — the larger must win, the polite reading) plus
    * a junk non-numeric line (ignored), every 3rd host a
    * graftbot-specific 0.5 s that overrides the `*` group entirely,
    * and every (4k+2)-mod-non-3rd host a graftbot group with ONLY a
    * Disallow — it must WIN and suppress the `*` delays (RFC
    * most-specific-only), dropping those hosts to the 1 s default.
    * Each host's URLs are then slotted (fetch_seq, fetch_offset_ms =
    * (seq−1)·delay·1000): group selection, max-delay, the junk skip,
    * the 1 s default for delay-less and robots-less hosts, and the
    * host-local rank all ride one hash. The oracle replays group
    * segmentation (with rule lines as UA-run separators), token
    * specificity, and the integer millisecond arithmetic
    * (floor ≡ Spark's non-negative cast).
    */
  /** The q257 robots-delay fixture (Spark side) — shared with the
    * q262 dispatch composition; the DuckDB twin is
    * [[duckDelayRobotsFixture]]. */
  private def delayRobotsFixture(s: SparkSession, dir: String): DataFrame = {
    val srcNum = expr("CAST(substring(source, 4) AS INT)")
    Tables.documents(s, dir).select(col("source")).distinct()
      .filter(srcNum % 7 =!= 3)
      .select(concat(lit("www."), col("source"), lit(".example.com"))
          .as("host"),
        concat(
          lit("User-agent: Googlebot\nCrawl-delay: 9\n\n"),
          lit("User-agent: *\nDisallow: /private\n"),
          when(srcNum % 2 === 0,
            lit("Crawl-delay: 2\nCrawl-delay: 1\n")).otherwise(lit("")),
          when(srcNum % 5 === 0, lit("Crawl-delay: soon\n"))
            .otherwise(lit("")),
          when(srcNum % 3 === 0, lit(
            "\nUser-agent: graftbot\nCrawl-delay: 0.5\nAllow: /x\n"))
            .otherwise(lit("")),
          // the RFC 9309 most-specific-only edge for DELAYS: a
          // matching graftbot group with only rules (no Crawl-delay)
          // must still WIN, suppressing the `*` group's delays —
          // these hosts fall back to the 1 s default
          when(srcNum % 4 === 2 && srcNum % 3 =!= 0, lit(
            "\nUser-agent: graftbot\nDisallow: /y\n")).otherwise(lit("")))
          .as("robots_txt"))
  }

  def q257CrawlDelaySchedule(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    val host = concat(lit("www."), col("source"), lit(".example.com"))
    val urls = docs.select(col("doc_id"),
      concat(lit("https://"), host, lit("/p"),
        col("doc_id").cast("string")).as("url"))
    val delays = graft.operators.Urls.crawlDelays(
      delayRobotsFixture(s, dir), "host", "robots_txt",
      agent = "graftbot")
    graft.operators.Urls.politenessSchedule(
        urls, "doc_id", "url", delays, "host")
      .orderBy("doc_id")
  }

  /** The q257 robots-delay fixture (CTE `rb`, (host, txt)) in DuckDB's
    * dialect — shared by q257 and the q262 dispatch composition so
    * the fixture cannot drift between them. */
  private val duckDelayRobotsFixture: String =
    s"""rb AS (
       |  SELECT 'www.' || source || '.example.com' AS host,
       |    'User-agent: Googlebot' || chr(10) || 'Crawl-delay: 9' ||
       |      chr(10) || chr(10) ||
       |    'User-agent: *' || chr(10) || 'Disallow: /private' || chr(10) ||
       |    (CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
       |          THEN 'Crawl-delay: 2' || chr(10) || 'Crawl-delay: 1' ||
       |            chr(10) ELSE '' END) ||
       |    (CASE WHEN CAST(substr(source, 4) AS INT) % 5 = 0
       |          THEN 'Crawl-delay: soon' || chr(10) ELSE '' END) ||
       |    (CASE WHEN CAST(substr(source, 4) AS INT) % 3 = 0
       |          THEN chr(10) || 'User-agent: graftbot' || chr(10) ||
       |               'Crawl-delay: 0.5' || chr(10) || 'Allow: /x' ||
       |               chr(10)
       |          ELSE '' END) ||
       |    (CASE WHEN CAST(substr(source, 4) AS INT) % 4 = 2
       |               AND CAST(substr(source, 4) AS INT) % 3 <> 0
       |          THEN chr(10) || 'User-agent: graftbot' || chr(10) ||
       |               'Disallow: /y' || chr(10) ELSE '' END) AS txt
       |  FROM (SELECT DISTINCT source FROM documents)
       |  WHERE CAST(substr(source, 4) AS INT) % 7 <> 3)""".stripMargin

  /** [[graft.operators.Urls.crawlDelays]] replayed for agent
    * `graftbot` over a CTE `rb`(host, txt): group segmentation,
    * all-groups specificity (with the implicit gid-0 '*' group), and
    * max-delay selection — yields `del`(host, delay). Shared by q257
    * and q262. */
  private val duckDelayCtes: String =
    s"""lns AS (
       |  SELECT host, CAST(u2.i AS INTEGER) AS ln, l[u2.i] AS line
       |  FROM (SELECT host, string_split_regex(txt, '\\r?\\n') AS l FROM rb),
       |    unnest(range(1, len(l) + 1)) AS u2(i)),
       |kept AS (
       |  SELECT host, ln,
       |    lower(regexp_extract(line,
       |      '(?i)^[ \\t]*user-agent[ \\t]*:[ \\t]*(\\S*)', 1)) AS ua,
       |    lower(regexp_extract(line,
       |      '(?i)^[ \\t]*(disallow|allow)[ \\t]*:', 1)) AS rule_type,
       |    regexp_extract(line,
       |      '(?i)^[ \\t]*crawl-delay[ \\t]*:[ \\t]*([0-9]+(?:\\.[0-9]+)?)[ \\t]*$$', 1)
       |      AS dl
       |  FROM lns
       |  WHERE lower(regexp_extract(line,
       |      '(?i)^[ \\t]*user-agent[ \\t]*:[ \\t]*(\\S*)', 1)) <> ''
       |    OR lower(regexp_extract(line,
       |      '(?i)^[ \\t]*(disallow|allow)[ \\t]*:', 1)) <> ''
       |    OR regexp_extract(line,
       |      '(?i)^[ \\t]*crawl-delay[ \\t]*:[ \\t]*([0-9]+(?:\\.[0-9]+)?)[ \\t]*$$', 1) <> ''),
       |lagged AS (
       |  SELECT *, (ua <> '') AS is_ua,
       |    coalesce(lag(ua <> '')
       |      OVER (PARTITION BY host ORDER BY ln), FALSE) AS prev_ua
       |  FROM kept),
       |grp AS (
       |  SELECT *, sum(CASE WHEN is_ua AND NOT prev_ua THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY host ORDER BY ln) AS gid
       |  FROM lagged),
       |gbest AS (
       |  SELECT host, gid,
       |    max(CASE WHEN ua = '*' THEN 0
       |             WHEN starts_with('graftbot', ua) THEN length(ua)
       |             ELSE -1 END) AS best
       |  FROM grp WHERE is_ua GROUP BY host, gid),
       |aball AS (
       |  SELECT host, gid, best FROM gbest
       |  UNION ALL
       |  SELECT DISTINCT host, 0 AS gid, 0 AS best FROM grp WHERE gid = 0),
       |ddmax AS (SELECT host, max(best) AS dmax FROM aball
       |          WHERE best >= 0 GROUP BY host),
       |d0 AS (
       |  SELECT g.host, CAST(g.dl AS DOUBLE) AS d,
       |    coalesce(b.best, -1) AS best
       |  FROM grp g LEFT JOIN aball b ON b.host = g.host AND b.gid = g.gid
       |  WHERE g.dl <> ''),
       |del AS (
       |  SELECT d0.host, max(d0.d) AS delay
       |  FROM d0 JOIN ddmax ON ddmax.host = d0.host
       |  WHERE d0.best = ddmax.dmax GROUP BY d0.host)""".stripMargin

  val q257Sql: String =
    s"""WITH u AS (
       |  SELECT doc_id, 'www.' || source || '.example.com' AS host
       |  FROM documents),
       |$duckDelayRobotsFixture,
       |$duckDelayCtes,
       |sched AS (
       |  SELECT doc_id, host,
       |    CAST(row_number() OVER (PARTITION BY host ORDER BY doc_id)
       |      AS INTEGER) AS fetch_seq
       |  FROM u)
       |SELECT s.doc_id, s.host, s.fetch_seq,
       |  CAST(CAST(s.fetch_seq - 1 AS BIGINT) *
       |    CAST(floor(coalesce(del.delay, 1.0) * 1000) AS BIGINT)
       |    AS BIGINT) AS fetch_offset_ms
       |FROM sched s LEFT JOIN del ON del.host = s.host
       |ORDER BY s.doc_id""".stripMargin

  /** Per-host SHARDED politeness dispatch — the fetch-side
    * composition that turns a frontier fetch log into a runnable
    * crawl plan: [[graft.streaming.FrontierIngest.ingestBatch]]
    * (discovery batch probed against yesterday's index; respellings
    * drop via the index, tracking twins via in-batch keep-first) →
    * [[graft.operators.Urls.crawlDelays]] over the q257 robots
    * fixture (per-agent groups, crawling as graftbot) →
    * [[graft.operators.Urls.politenessSchedule]] over the LOG rows
    * (host-local fetch slots at exact integer millisecond offsets) →
    * [[graft.operators.Sampling.rendezvousAssign]] on the HOST, so
    * each host's queue lands wholly on one of four fetcher shards and
    * politeness is enforceable per fetcher with no cross-shard
    * coordination. The oracle replays all four stages: frontier
    * keep-first through the shared q244 parser, the shared delay
    * CTEs, the rank/offset arithmetic, and the rendezvous
    * (md5-argmax) shard pick. Scale: the dispatch for a 100 TB
    * frontier is one probe join + one host-keyed window + a
    * |shards|-way hash argmax projection — embarrassingly
    * host-parallel end to end.
    */
  def q262PoliteDispatch(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.FrontierIngest
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    val host = concat(lit("www."), col("source"), lit(".example.com"))
    def u(idc: org.apache.spark.sql.Column) =
      concat(lit("https://"), host, lit("/d/"), idc.cast("string"))
    val crawled = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      .select(u(col("doc_id")).as("url"))
    val twins = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      .select((col("doc_id") + 500000).as("page_id"),
        concat(u(col("doc_id")), lit("?utm_x=1")).as("url"))
    val batch = docs
      .select(col("doc_id").as("page_id"), u(col("doc_id")).as("url"))
      .unionByName(twins)
    val idxPath = scratchPath("q262_idx", dir)
    val logPath = scratchPath("q262_log", dir)
    Seq(idxPath, logPath).foreach { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(hp, true): Unit
    }
    graft.operators.Urls.writeFrontierIndex(crawled, "url", idxPath)
    FrontierIngest.ingestBatch(batch, idxPath, logPath,
      "page_id", "url"): Unit
    val log = Tables.read(s, logPath)
    val robots = delayRobotsFixture(s, dir)
    val delays = graft.operators.Urls.crawlDelays(
      robots, "host", "robots_txt", agent = "graftbot")
    val sched = graft.operators.Urls.politenessSchedule(
      log, "page_id", "url", delays, "host")
    graft.operators.Sampling.rendezvousAssign(sched, "host",
        Seq("cr-a", "cr-b", "cr-c", "cr-d"))
      .select(col("page_id"), col("host"), col("shard"),
        col("fetch_seq"), col("fetch_offset_ms"))
      .orderBy("page_id")
  }

  val q262Sql: String = {
    val shardHash =
      "('0x' || substr(md5(host || ':' || sh), 1, 15))::BIGINT"
    s"""WITH cr AS (
       |  SELECT doc_id,
       |    'https://www.' || source || '.example.com/d/' ||
       |      CAST(doc_id AS VARCHAR) AS u
       |  FROM documents WHERE doc_id % 3 = 0),
       |b AS (
       |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |    'https://www.' || source || '.example.com/d/' ||
       |      CAST(doc_id AS VARCHAR) AS u
       |  FROM documents
       |  UNION ALL
       |  SELECT doc_id + 500000,
       |    'https://www.' || source || '.example.com/d/' ||
       |      CAST(doc_id AS VARCHAR) || '?utm_x=1'
       |  FROM documents WHERE doc_id % 5 = 0),
       |${duckCanonicalCtes("cr", "cr")},
       |${duckCanonicalCtes("b", "b")},
       |k AS (
       |  SELECT c.doc_id, c.canonical_url
       |  FROM canonb c
       |  JOIN (SELECT canonical_url, min(doc_id) AS fid
       |        FROM canonb WHERE canonical_url IS NOT NULL
       |        GROUP BY canonical_url) f
       |    ON f.canonical_url = c.canonical_url AND c.doc_id = f.fid
       |  WHERE c.canonical_url NOT IN
       |    (SELECT canonical_url FROM canoncr
       |     WHERE canonical_url IS NOT NULL)),
       |$duckDelayRobotsFixture,
       |$duckDelayCtes,
       |lg AS (
       |  SELECT k.doc_id AS page_id,
       |    regexp_extract(k.canonical_url, '^https://([^/]*)', 1) AS host
       |  FROM k),
       |sched AS (
       |  SELECT page_id, host,
       |    CAST(row_number() OVER (PARTITION BY host ORDER BY page_id)
       |      AS INTEGER) AS fetch_seq
       |  FROM lg),
       |pick AS (
       |  SELECT host, sh AS shard FROM (
       |    SELECT host, sh, row_number() OVER (PARTITION BY host
       |      ORDER BY $shardHash DESC, sh DESC) AS rn
       |    FROM (SELECT DISTINCT host FROM lg)
       |    CROSS JOIN (VALUES ('cr-a'), ('cr-b'), ('cr-c'), ('cr-d'))
       |      t(sh))
       |  WHERE rn = 1)
       |SELECT s.page_id, s.host, p.shard, s.fetch_seq,
       |  CAST(CAST(s.fetch_seq - 1 AS BIGINT) *
       |    CAST(floor(coalesce(del.delay, 1.0) * 1000) AS BIGINT)
       |    AS BIGINT) AS fetch_offset_ms
       |FROM sched s
       |JOIN pick p ON p.host = s.host
       |LEFT JOIN del ON del.host = s.host
       |ORDER BY s.page_id""".stripMargin
  }

  /** Crawl-frontier PRIORITIZATION — what a budgeted crawler fetches
    * FIRST: deterministic integer PageRank
    * ([[graft.operators.Graph.pageRank]], the q93 fixed-point recipe)
    * over the link graph that extraction discovers
    * ([[graft.operators.Urls.extractHrefs]] →
    * [[graft.operators.Urls.resolveUrl]] →
    * [[graft.operators.Urls.canonicalize]]), node ids the 60-bit
    * canonical-URL hashes the frontier index already keys on.
    * Self-edges (a page's fragment links and tracking respellings
    * canonicalize onto the page itself) are dropped; hub pages
    * (`/art/K`, cited by every seed with id ≡ K mod 40 on its host)
    * must outrank leaf pages, and the output carries each host's
    * priority order (rank desc, url — a HOST-KEYED window, never a
    * global sort). The oracle builds the same edge set, replays all
    * three integer PR iterations in SQL (the q93 discipline — any
    * truncation or double-counted edge shifts rank units and breaks
    * the hash), and re-ranks per host.
    *
    * Scale: edges are one row-local extraction projection; PageRank
    * is the q93 shape (node-sized keyed exchanges per iteration);
    * the priority window is host-keyed. A 100 TB frontier
    * prioritization is the same plan with more partitions.
    */
  def q263CrawlPriority(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    val host = concat(lit("www."), col("source"), lit(".example.com"))
    val id = col("doc_id").cast("string")
    val pageUrl = concat(lit("https://"), host, lit("/s/"), id)
    val html = concat(
      lit("<html><body><a href=\"/art/"),
      pmod(col("doc_id"), lit(40)).cast("string"),
      lit("\">a</a><a href='p"), id,
      lit("'>b</a><a href=\"/s/"), id, lit("?utm_r=1\">c</a>"),
      lit("<a href='#top'>d</a></body></html>"))
    // widen: the extract→resolve→canonicalize battery below is per-row
    // regexp work on a one-file scan (guide §2.5); no-op at scale
    val links = Tables.widen(docs.select(pageUrl.as("src_url"), html.as("html")))
      .select(col("src_url"),
        explode(graft.operators.Urls.extractHrefs(col("html")))
          .as("_href"))
      .select(col("src_url"),
        graft.operators.Urls.resolveUrl(col("src_url"), col("_href"))
          .as("dst_url"))
    // materialized: the extraction→resolution→canonicalization chain
    // is a large expression tree referenced by the edge build, the
    // node-id map-back, and every PageRank iteration's lineage —
    // without a boundary it re-executes (and re-compiles) per
    // consumer (the q254 frontier rationale)
    val pairs = links.select(
        graft.operators.Urls.canonicalize(col("src_url"))
          .getField("canonical_url").as("src_c"),
        graft.operators.Urls.canonicalize(col("dst_url"))
          .getField("canonical_url").as("dst_c"))
      .filter(col("src_c").isNotNull && col("dst_c").isNotNull &&
        col("src_c") =!= col("dst_c"))
      .localCheckpoint(true)
    def h(c: org.apache.spark.sql.Column) =
      graft.functions.TextFunctions.md5Hash60(c)
    val ranks = graft.operators.Graph.pageRank(
      pairs.select(h(col("src_c")).as("src"), h(col("dst_c")).as("dst")),
      "src", "dst", iters = 3)
    val urls = pairs.select(col("src_c").as("canonical_url"))
      .unionByName(pairs.select(col("dst_c").as("canonical_url")))
      .distinct()
    urls.withColumn("_h", h(col("canonical_url")))
      .join(ranks.withColumnRenamed("id", "_h"), Seq("_h"))
      .withColumn("host",
        regexp_extract(col("canonical_url"), "^https://([^/]*)", 1))
      .withColumn("host_priority", row_number().over(
        Window.partitionBy(col("host"))
          .orderBy(col("rank").desc, col("canonical_url"))))
      .select(col("canonical_url"), col("host"),
        col("rank").as("rank_fp"), col("host_priority"))
      .orderBy("canonical_url")
  }

  val q263Sql: String = {
    // one integer PageRank step (the q93 replay): DIV-truncated
    // per-edge shares, per-dst sums, rational 85/100 damping
    def prStep(prev: String, out: String): String =
      s"""s_$out AS (
         |  SELECT e.dst AS id, sum(p.r // o.deg) AS insum
         |  FROM edges e JOIN $prev p ON p.id = e.src
         |  JOIN outdeg o ON o.id = e.src
         |  GROUP BY e.dst),
         |$out AS (
         |  SELECT n.id,
         |    CAST((SELECT (100 - 85) * unit // 100 FROM params) +
         |         (85 * COALESCE(s.insum, 0)) // 100 AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN s_$out s ON s.id = n.id)""".stripMargin
    s"""WITH d AS (
       |  SELECT doc_id,
       |    'https://www.' || source || '.example.com' AS org
       |  FROM documents),
       |ec AS (
       |  SELECT DISTINCT
       |    org || '/s/' || CAST(doc_id AS VARCHAR) AS sc,
       |    org || '/art/' || CAST(doc_id % 40 AS VARCHAR) AS dc
       |  FROM d
       |  UNION
       |  SELECT DISTINCT
       |    org || '/s/' || CAST(doc_id AS VARCHAR),
       |    org || '/s/p' || CAST(doc_id AS VARCHAR)
       |  FROM d),
       |edges AS (
       |  SELECT DISTINCT ('0x' || substr(md5(sc), 1, 15))::BIGINT AS src,
       |    ('0x' || substr(md5(dc), 1, 15))::BIGINT AS dst
       |  FROM ec),
       |nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
       |params AS (
       |  SELECT CAST(1000000000000 // count(*) AS BIGINT) AS unit
       |  FROM nodes),
       |outdeg AS (SELECT src AS id, count(*) AS deg FROM edges GROUP BY src),
       |r0 AS (SELECT id, (SELECT unit FROM params) AS r FROM nodes),
       |${prStep("r0", "r1")},
       |${prStep("r1", "r2")},
       |${prStep("r2", "r3")},
       |urls AS (SELECT sc AS cu FROM ec UNION SELECT dc FROM ec),
       |j AS (
       |  SELECT u.cu AS canonical_url,
       |    regexp_extract(u.cu, '^https://([^/]*)', 1) AS host, r.r
       |  FROM urls u
       |  JOIN r3 r ON r.id = ('0x' || substr(md5(u.cu), 1, 15))::BIGINT)
       |SELECT canonical_url, host, CAST(r AS BIGINT) AS rank_fp,
       |  CAST(row_number() OVER (PARTITION BY host
       |    ORDER BY r DESC, canonical_url) AS INTEGER) AS host_priority
       |FROM j
       |ORDER BY canonical_url""".stripMargin
  }

  /** Sitemap seeding ([[graft.operators.Urls.sitemapPointers]] +
    * [[graft.operators.Urls.sitemapLocs]]): `Sitemap:` pointers are
    * GLOBAL lines (no agent group) extracted per host; each pointed
    * sitemap's XML yields its `<loc>` entries — whitespace-trimmed,
    * the five XML entity escapes undone (`&amp;` LAST, the
    * single-decode rule), nested `<sitemap><loc>` index entries
    * included — and every loc canonicalizes through the q244 parser
    * (the seeded frontier projection). Hosts without robots seed
    * nothing. The oracle replays pointer extraction, loc extraction,
    * the unescape chain, and canonicalization.
    */
  def q258SitemapSeeds(s: SparkSession, dir: String): DataFrame = {
    val srcNum = expr("CAST(substring(source, 4) AS INT)")
    val robots = Tables.documents(s, dir).select(col("source")).distinct()
      .filter(srcNum % 7 =!= 3)
      .select(concat(lit("www."), col("source"), lit(".example.com"))
          .as("host"),
        concat(
          lit("User-agent: *\nDisallow: /private\n"),
          lit("Sitemap: https://www."), col("source"),
          lit(".example.com/sitemap.xml\n# end\n")).as("robots_txt"))
    val pointers = graft.operators.Urls.sitemapPointers(
      robots, "host", "robots_txt")
    val bodies = pointers.select(col("host"),
      concat(
        lit("<urlset>\n<url><loc>https://"), col("host"),
        lit("/page/1?b=2&amp;a=1</loc></url>\n"),
        lit("<url><loc>  https://"), col("host"),
        lit("/page/1?a=1&amp;b=2&amp;utm_z=9 </loc></url>\n"),
        lit("<url><loc>https://"), col("host"),
        lit("/other/&lt;x&gt;&apos;q&quot;</loc></url>\n"),
        lit("<sitemap><loc>https://"), col("host"),
        lit("/sitemap2.xml</loc></sitemap>\n</urlset>")).as("xml"))
    graft.operators.Urls.sitemapLocs(bodies, "host", "xml")
      .withColumn("canonical_url",
        graft.operators.Urls.canonicalize(col("loc_url"))
          .getField("canonical_url"))
      .orderBy("host", "loc_url")
  }

  val q258Sql: String =
    s"""WITH rb AS (
       |  SELECT 'www.' || source || '.example.com' AS host,
       |    'User-agent: *' || chr(10) || 'Disallow: /private' || chr(10) ||
       |    'Sitemap: https://www.' || source ||
       |      '.example.com/sitemap.xml' || chr(10) || '# end' || chr(10)
       |      AS txt
       |  FROM (SELECT DISTINCT source FROM documents)
       |  WHERE CAST(substr(source, 4) AS INT) % 7 <> 3),
       |ptr AS (
       |  SELECT DISTINCT host,
       |    unnest(regexp_extract_all(txt,
       |      '(?im)^[ \\t]*sitemap[ \\t]*:[ \\t]*(\\S+)', 1)) AS sitemap_url
       |  FROM rb),
       |xmls AS (
       |  SELECT host,
       |    '<urlset>' || chr(10) ||
       |    '<url><loc>https://' || host || '/page/1?b=2&amp;a=1</loc></url>'
       |      || chr(10) ||
       |    '<url><loc>  https://' || host ||
       |      '/page/1?a=1&amp;b=2&amp;utm_z=9 </loc></url>' || chr(10) ||
       |    '<url><loc>https://' || host ||
       |      '/other/&lt;x&gt;&apos;q&quot;</loc></url>' || chr(10) ||
       |    '<sitemap><loc>https://' || host ||
       |      '/sitemap2.xml</loc></sitemap>' || chr(10) || '</urlset>'
       |      AS x
       |  FROM ptr),
       |locs AS (
       |  SELECT host,
       |    unnest(regexp_extract_all(x,
       |      '(?is)<loc[ \\t]*>(.*?)</loc[ \\t]*>', 1)) AS raw
       |  FROM xmls),
       |un AS (
       |  SELECT host,
       |    replace(replace(replace(replace(replace(trim(raw),
       |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
       |      '&apos;', ''''), '&amp;', '&') AS loc_url
       |  FROM locs),
       |un2 AS (
       |  SELECT row_number() OVER (ORDER BY host, loc_url) AS doc_id,
       |    host, loc_url
       |  FROM un),
       |cs AS (SELECT doc_id, loc_url AS u FROM un2),
       |${duckCanonicalCtes("cs", "sm")}
       |SELECT u2.host, u2.loc_url, c.canonical_url
       |FROM un2 u2 JOIN canonsm c ON c.doc_id = u2.doc_id
       |ORDER BY u2.host, u2.loc_url""".stripMargin

  /** Recrawl scheduling from sitemap freshness hints
    * ([[graft.operators.Urls.sitemapEntries]] +
    * [[graft.operators.Urls.recrawlDue]]): each host publishes one
    * sitemap whose `<url>` entries cycle through every `changefreq`
    * value (always→yearly, `never`, MISSING, and an unrecognized
    * token — the last two default to daily), date-only and
    * UTC-datetime `<lastmod>` forms plus missing lastmod (no
    * freshness info → due), and sparse `<priority>` values parsed
    * through DECIMAL (0.7 must be exactly 700000 ppm — a double
    * multiply truncates). The oracle reassembles the same per-host
    * XML (string_agg in entry order), re-extracts every block and
    * field, and replays the interval map, the epoch arithmetic
    * (session UTC on both engines), and all three due-ness branches.
    * as-of is a FIXED epoch — wall-clock never enters the plan.
    */
  def q264RecrawlSchedule(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    val id = col("doc_id").cast("string")
    val host = concat(lit("www."), col("source"), lit(".example.com"))
    val lastmod = when(pmod(col("doc_id"), lit(11)) === 5,
        lit(null).cast(StringType))
      .when(pmod(col("doc_id"), lit(4)) === 0,
        concat(lit("2026-01-15T0"), pmod(col("doc_id"), lit(10)),
          lit(":30:00Z")))
      .otherwise(concat(lit("2026-0"), pmod(col("doc_id"), lit(6)) + 1,
        lit("-1"), pmod(col("doc_id"), lit(3))))
    val cf = element_at(typedLit(Seq("always", "hourly", "daily",
      "weekly", "monthly", "yearly", "never", "", "sometimes")),
      (pmod(col("doc_id"), lit(9)) + 1).cast(IntegerType))
    val prio = when(pmod(col("doc_id"), lit(3)) === 0,
        concat(lit("0."), pmod(col("doc_id"), lit(10))))
      .otherwise(lit(null).cast(StringType))
    val entry = concat(
      lit("<url><loc>https://"), host, lit("/d/"), id, lit("</loc>"),
      when(lastmod.isNotNull,
        concat(lit("<lastmod>"), lastmod, lit("</lastmod>")))
        .otherwise(lit("")),
      when(cf =!= "",
        concat(lit("<changefreq>"), cf, lit("</changefreq>")))
        .otherwise(lit("")),
      when(prio.isNotNull,
        concat(lit("<priority>"), prio, lit("</priority>")))
        .otherwise(lit("")),
      lit("</url>"))
    val sitemaps = docs
      .select(host.as("host"), col("doc_id"), entry.as("_e"))
      .groupBy(col("host"))
      .agg(concat(lit("<urlset>"),
        array_join(transform(
          array_sort(collect_list(struct(col("doc_id").as("k"),
            col("_e").as("e")))), x => x.getField("e")), ""),
        lit("</urlset>")).as("xml"))
    val entries = graft.operators.Urls.sitemapEntries(
      sitemaps, "host", "xml")
    graft.operators.Urls.recrawlDue(entries, "lastmod", "changefreq",
        asOfEpochSec = 1780000000L)
      .select(col("host"), col("loc_url"), col("lastmod"),
        col("changefreq"), col("priority_ppm"), col("interval_sec"),
        col("due_epoch"), col("is_due"))
      .orderBy("host", "loc_url")
  }

  val q264Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, 'www.' || source || '.example.com' AS host,
       |    CASE WHEN doc_id % 11 = 5 THEN NULL
       |         WHEN doc_id % 4 = 0
       |         THEN '2026-01-15T0' || CAST(doc_id % 10 AS VARCHAR) ||
       |              ':30:00Z'
       |         ELSE '2026-0' || CAST(doc_id % 6 + 1 AS VARCHAR) ||
       |              '-1' || CAST(doc_id % 3 AS VARCHAR) END AS lm,
       |    (['always','hourly','daily','weekly','monthly','yearly',
       |      'never','','sometimes'])[CAST(doc_id % 9 AS INTEGER) + 1]
       |      AS cf,
       |    CASE WHEN doc_id % 3 = 0
       |         THEN '0.' || CAST(doc_id % 10 AS VARCHAR)
       |         ELSE NULL END AS pr
       |  FROM documents),
       |ent AS (
       |  SELECT doc_id, host,
       |    '<url><loc>https://' || host || '/d/' ||
       |      CAST(doc_id AS VARCHAR) || '</loc>' ||
       |    COALESCE('<lastmod>' || lm || '</lastmod>', '') ||
       |    (CASE WHEN cf <> ''
       |          THEN '<changefreq>' || cf || '</changefreq>'
       |          ELSE '' END) ||
       |    COALESCE('<priority>' || pr || '</priority>', '') ||
       |    '</url>' AS e
       |  FROM d),
       |sm AS (
       |  SELECT host,
       |    '<urlset>' || string_agg(e, '' ORDER BY doc_id) ||
       |      '</urlset>' AS xml
       |  FROM ent GROUP BY host),
       |blk AS (
       |  SELECT host, unnest(regexp_extract_all(xml,
       |    '(?is)<url[ \\t]*>(.*?)</url[ \\t]*>', 1)) AS b
       |  FROM sm),
       |fld AS (
       |  SELECT host,
       |    trim(regexp_extract(b, '(?is)<loc[ \\t]*>(.*?)</loc[ \\t]*>',
       |      1)) AS loc_url,
       |    NULLIF(trim(regexp_extract(b,
       |      '(?is)<lastmod[ \\t]*>(.*?)</lastmod[ \\t]*>', 1)), '')
       |      AS lastmod,
       |    NULLIF(lower(trim(regexp_extract(b,
       |      '(?is)<changefreq[ \\t]*>(.*?)</changefreq[ \\t]*>', 1))),
       |      '') AS changefreq,
       |    CAST(CAST(NULLIF(trim(regexp_extract(b,
       |      '(?is)<priority[ \\t]*>(.*?)</priority[ \\t]*>', 1)), '')
       |      AS DECIMAL(10,6)) * 1000000 AS BIGINT) AS priority_ppm
       |  FROM blk),
       |ep AS (
       |  SELECT *,
       |    CASE WHEN lastmod IS NULL THEN NULL
       |         WHEN length(lastmod) = 10
       |         THEN CAST(epoch(CAST(lastmod AS TIMESTAMP)) AS BIGINT)
       |         ELSE CAST(epoch(strptime(regexp_extract(lastmod,
       |           '^(.*)Z$$', 1), '%Y-%m-%dT%H:%M:%S')) AS BIGINT)
       |         END AS lme,
       |    CASE WHEN changefreq = 'always' THEN 0
       |         WHEN changefreq = 'hourly' THEN 3600
       |         WHEN changefreq = 'daily' THEN 86400
       |         WHEN changefreq = 'weekly' THEN 604800
       |         WHEN changefreq = 'monthly' THEN 2592000
       |         WHEN changefreq = 'yearly' THEN 31536000
       |         WHEN changefreq = 'never' THEN NULL
       |         ELSE 86400 END AS interval_sec
       |  FROM fld)
       |SELECT host, loc_url, lastmod, changefreq, priority_ppm,
       |  CAST(interval_sec AS BIGINT) AS interval_sec,
       |  CAST(CASE WHEN changefreq = 'never' THEN NULL
       |       ELSE lme + interval_sec END AS BIGINT) AS due_epoch,
       |  CASE WHEN changefreq = 'never' THEN FALSE
       |       WHEN lme IS NULL THEN TRUE
       |       ELSE lme + interval_sec <= 1780000000 END AS is_due
       |FROM ep
       |ORDER BY host, loc_url""".stripMargin

  /** Semi-hard negative mining
    * ([[graft.operators.Selection.hardNegatives]]): anchors vec_id<20
    * with planted positives (partner = vec_id+20), top-5 semi-hard
    * negatives each — most-similar corpus vectors that are (a) not the
    * anchor, (b) not the labeled positive, (c) LESS similar than the
    * positive (the FaceNet band). The oracle replays all three rules:
    * a NOT EXISTS for the exclusion, the positive-cosine ceiling, and
    * the (cosine DESC, id) ranking — exclusion-after-ranking (the easy
    * bug: positives eating top-k slots) would change row counts and
    * break the hash. Null cosines (zero-norm vectors) are excluded on
    * both sides (the r11 ADVICE fix — no reliance on engine null
    * ordering when an anchor has fewer than k real candidates).
    */
  def q238HardNegatives(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val anchors = emb.filter(col("vec_id") < 20)
    val pos = anchors.select(col("vec_id").as("query_id"),
      (col("vec_id") + 20).as("neighbor_id"))
    graft.operators.Selection.hardNegatives(
      emb, anchors, pos, "vec_id", "embedding", k = 5, semiHard = true)
      .orderBy("query_id", "rank")
  }

  val q238Sql: String =
    """WITH n AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_reduce(list_transform(embedding,
      |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
      |         (a, b) -> a + b)) AS nrm
      |  FROM embeddings),
      |a AS (SELECT * FROM n WHERE vec_id < 20),
      |pos AS (SELECT vec_id AS qid, vec_id + 20 AS pid FROM a),
      |pc AS (
      |  SELECT p.qid,
      |    min(list_reduce(list_transform(list_zip(q.embedding, c.embedding),
      |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, b) -> a + b)
      |      / (q.nrm * c.nrm)) AS pcos
      |  FROM pos p
      |  JOIN n q ON q.vec_id = p.qid
      |  JOIN n c ON c.vec_id = p.pid
      |  GROUP BY p.qid),
      |cand AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    list_reduce(list_transform(list_zip(q.embedding, c.embedding),
      |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, b) -> a + b)
      |      / (q.nrm * c.nrm) AS cosine
      |  FROM a q JOIN n c ON c.vec_id <> q.vec_id
      |  WHERE NOT EXISTS (
      |    SELECT 1 FROM pos WHERE pos.qid = q.vec_id AND pos.pid = c.vec_id)),
      |sh AS (
      |  SELECT cand.query_id, cand.neighbor_id, cand.cosine
      |  FROM cand LEFT JOIN pc ON pc.qid = cand.query_id
      |  WHERE cand.cosine IS NOT NULL
      |    AND (pc.pcos IS NULL OR cand.cosine < pc.pcos))
      |SELECT query_id, neighbor_id, cosine,
      |  CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank
      |FROM sh
      |QUALIFY rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  /** q238's scale path on the oracle gate
    * ([[graft.operators.Selection.hardNegativesIvf]]): the same mining
    * through the IVF candidate arm ([[graft.operators.Similarity
    * .ivfCandidates]]) at `nprobe = nlist` — exhaustive probing makes
    * the candidate pool equal to the brute-force arm's, so the output
    * must be BIT-IDENTICAL to q238 and shares its oracle (the
    * q65b/q235b discipline: the approximate machinery faces the exact
    * oracle in the regime where it is provably exact; the
    * nprobe < nlist recall tradeoff is fixture-tested in SelectionSpec
    * and the sub-quadratic slope is measured in BENCH_NOTES R12).
    */
  def q238bHardNegativesIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val anchors = emb.filter(col("vec_id") < 20)
    val pos = anchors.select(col("vec_id").as("query_id"),
      (col("vec_id") + 20).as("neighbor_id"))
    graft.operators.Selection.hardNegativesIvf(
      emb, anchors, pos, "vec_id", "embedding", k = 5, semiHard = true,
      nlist = 16, nprobe = 16)
      .orderBy("query_id", "rank")
  }

  val q238bSql: String = q238Sql

  /** HTML boilerplate extraction
    * ([[graft.operators.Markup.extractText]]): every document wrapped
    * in a deterministic page shell (title, link-dense nav, h1, the
    * real text as a paragraph, a tiny paragraph, a link-dense footer)
    * and run through the jusText-style extractor — the nav/footer/
    * title/h1/tiny blocks must ALL drop (link density or minChars)
    * and the content paragraph alone survives. The oracle rebuilds
    * the same pages and replays the whole extraction (block split,
    * tag strip, entity decode in the same order, per-block anchor
    * lengths, the integer 2·anchor < text rule, order-preserving
    * rejoin) — the md5 of the cleaned text pins every byte.
    */
  def q239BoilerplateExtract(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val html = concat(
      lit("<html><head><title>Doc "), col("doc_id").cast("string"),
      lit("</title><style>body{margin:0}</style></head><body>"),
      lit("<nav><a href='/'>Home</a> <a href='/about'>About</a> <a href='/contact'>Contact</a></nav>"),
      lit("<h1>Doc "), col("doc_id").cast("string"), lit("</h1>"),
      lit("<p>"), coalesce(col("text"), lit("")),
      // numeric-reference gauntlet appended to the surviving content
      // block: BMP + supplementary decodes, the HTML5 invalid→U+FFFD
      // rule, the single-decode rule (&amp;#39; → literal &#39;), and
      // an overlong digit run that must stay literal — clean_md5 pins
      // every decoded byte cross-engine
      lit(" It&#8217;s &#x1F600; fine &#0; &amp;#39; &#999999999; end</p>"),
      lit("<p>tiny</p>"),
      lit("<footer><a href='/terms'>Terms</a> &amp; <a href='/privacy'>Privacy</a></footer></body></html>"))
    docs
      .select(col("doc_id"),
        graft.operators.Markup.extractText(html, minChars = 25).as("r"))
      .select(col("doc_id"),
        col("r.n_blocks").as("n_blocks"), col("r.n_kept").as("n_kept"),
        length(col("r.text")).cast(LongType).as("clean_len"),
        md5(col("r.text")).as("clean_md5"))
      .orderBy("doc_id")
  }

  // ---- Markup.stripTags / extractText replayed in DuckDB's dialect:
  // same patterns (Java ∩ RE2 subset), 'g' flag everywhere (DuckDB
  // replaces only the first match without it — Spark replaces all).
  // Shared by the q239 extraction oracle and the q240 HTML-pipeline
  // composition so the SQL text cannot drift per query.
  //
  // duckNumdec replays Markup.decodeNumericRefs: split around every
  // bounded numeric reference, decode each codepoint through DuckDB's
  // native chr() (the engine renders UTF-16BE units — same
  // characters), HTML5 invalid→U+FFFD, re-interleave. Single-element
  // list_transform([x], v -> ...) is the let-binding that keeps the
  // (already block-nested) expression from inlining its input four
  // times.
  private val duckBlockRe =
    "(?i)</?(?:p|div|li|ul|ol|h[1-6]|nav|footer|header|table|tr|td|br|section|article)[^>]*>"

  private def duckNumdec(e: String): String = {
    val numRe = "&#(?:[0-9]{1,8}|[xX][0-9a-fA-F]{1,6});"
    val numReG = "&#([0-9]{1,8}|[xX][0-9a-fA-F]{1,6});"
    val cp0 = "CASE WHEN lower(x[1:1]) = 'x' THEN " +
      "list_reduce(list_transform(range(2, CAST(length(x)+1 AS BIGINT)), " +
      "j -> CAST(strpos('0123456789abcdef', substr(lower(x), CAST(j AS INTEGER), 1)) - 1 AS BIGINT)), " +
      "(a,b) -> a*16 + b) ELSE CAST(x AS BIGINT) END"
    val chrx = s"list_transform([$cp0], c -> chr(CAST(" +
      "CASE WHEN c BETWEEN 1 AND 1114111 AND NOT (c BETWEEN 55296 AND 57343) " +
      "THEN c ELSE 65533 END AS INTEGER)))[1]"
    s"""list_transform([$e], s ->
       |  list_transform([struct_pack(p := string_split_regex(s, '$numRe'),
       |                              r := regexp_extract_all(s, '$numReG', 1))], t ->
       |    CASE WHEN len(t.r) = 0 THEN s
       |         ELSE array_to_string(list_transform(range(1, len(t.r)+1),
       |                i -> t.p[CAST(i AS INTEGER)] ||
       |                     list_transform([t.r[CAST(i AS INTEGER)]], x -> $chrx)[1]), '') ||
       |              t.p[CAST(len(t.r)+1 AS INTEGER)]
       |    END)[1])[1]""".stripMargin
  }

  private def duckNamedEntities(e: String): String =
    s"""replace(replace(replace(replace(
       |  regexp_replace(regexp_replace(regexp_replace($e,
       |    '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
       |    '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
       |    '<[^>]*>', ' ', 'g'),
       |  '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"')""".stripMargin

  private def duckStrip(e: String): String =
    s"""trim(regexp_replace(replace(${duckNumdec(duckNamedEntities(e))},
       |  '&amp;', '&'),
       |  '\\s+', ' ', 'g'))""".stripMargin

  /** One CTE of per-doc extraction pairs (block text + anchor length),
    * replaying [[graft.operators.Markup.extractText]] over `htmlCol`
    * of CTE `src`: non-empty blocks with their link densities, ready
    * for the keep rule. */
  private def duckExtractPairs(src: String, htmlCol: String): String =
    s"""  SELECT doc_id,
       |    list_filter(
       |      list_zip(
       |        list_transform(string_split_regex($htmlCol, '$duckBlockRe'),
       |          b -> ${duckStrip("b")}),
       |        list_transform(string_split_regex($htmlCol, '$duckBlockRe'),
       |          b -> COALESCE(list_sum(list_transform(
       |                 regexp_extract_all(b, '(?is)<a[^>]*>(.*?)</a>', 1),
       |                 a -> length(${duckStrip("a")}))), 0))),
       |      s -> length(s[1]) > 0) AS pairs
       |  FROM $src""".stripMargin

  val q239Sql: String = {
    s"""WITH d AS (
       |  SELECT doc_id,
       |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
       |    '</title><style>body{margin:0}</style></head><body>' ||
       |    '<nav><a href=''/''>Home</a> <a href=''/about''>About</a> <a href=''/contact''>Contact</a></nav>' ||
       |    '<h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1>' ||
       |    '<p>' || COALESCE(text, '') ||
       |    ' It&#8217;s &#x1F600; fine &#0; &amp;#39; &#999999999; end</p>' ||
       |    '<p>tiny</p>' ||
       |    '<footer><a href=''/terms''>Terms</a> &amp; <a href=''/privacy''>Privacy</a></footer></body></html>'
       |      AS h
       |  FROM documents),
       |ex AS (
       |${duckExtractPairs("d", "h")}),
       |kept AS (
       |  SELECT doc_id, pairs,
       |    list_filter(pairs,
       |      s -> length(s[1]) >= 25 AND s[2] * 2 < length(s[1])) AS keeps
       |  FROM ex),
       |fin AS (
       |  SELECT doc_id,
       |    CAST(len(pairs) AS INTEGER) AS n_blocks,
       |    CAST(len(keeps) AS INTEGER) AS n_kept,
       |    array_to_string(list_transform(keeps, s -> s[1]), ' ') AS t
       |  FROM kept)
       |SELECT doc_id, n_blocks, n_kept,
       |  CAST(length(t) AS BIGINT) AS clean_len, md5(t) AS clean_md5
       |FROM fin
       |ORDER BY doc_id""".stripMargin
  }

  /** Page chrome shared by EVERY q240 page — deliberately heavy link
    * text: if the extractor leaked it, unrelated pages would share
    * hundreds of identical characters and the near-dup stage would
    * merge them into one chrome-keyed component (PipelineSpec proves
    * that counterfactual: the same pages WITHOUT extraction collapse
    * to one survivor). Dropped correctly, pages dedup on their CONTENT
    * only, so the planted twins (+100000) drop exactly as in q59/q231.
    */
  private val Q240Nav: String =
    "<nav><a href='/home'>Home page now</a> <a href='/archive'>Archive of posts</a> " +
      "<a href='/topics'>All topics index</a> <a href='/about'>About this site</a> " +
      "<a href='/contact'>Contact the team</a> <a href='/login'>Member login</a></nav>"
  private val Q240Footer: String =
    "<footer><a href='/terms'>Terms of service</a> <a href='/privacy'>Privacy policy</a> " +
      "<a href='/rss'>RSS feed link</a> <a href='/jobs'>Jobs and careers</a> " +
      "copyright 2024 example press</footer>"

  /** The HTML-input flagship composition (the r11 VERDICT ask #1):
    * [[graft.pipeline.TrainingPipeline]] with `htmlExtract` on —
    * stage 0 jusText extraction feeding scrub → gate → exact dedup →
    * near-dup components → auditable split, hash-matched end to end
    * against ONE DuckDB CTE chain (the q228 discipline; the extraction
    * CTEs are the shared q239 replay, the pipeline CTEs the shared
    * q228 front half). Every page carries the same link-dense chrome;
    * the planted twins (+100000) must still drop at stage 4 on content
    * alone, and n_blocks/n_kept ride through the whole pipeline as
    * audit columns.
    */
  def q240HtmlPipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val planted = docs.unionAll(
      docs.filter(col("doc_id") < 60).select(
        (col("doc_id") + 100000).as("doc_id"),
        expr("substring(text, 1, greatest(length(text) - 15, 40))").as("text")))
    val pages = planted.select(col("doc_id"), concat(
      lit("<html><head><title>Page "), col("doc_id").cast("string"),
      lit("</title><style>.m{padding:0}</style></head><body>"),
      lit(Q240Nav),
      lit("<h1>Page "), col("doc_id").cast("string"), lit("</h1>"),
      lit("<p>"), coalesce(col("text"), lit("")), lit("</p>"),
      lit(Q240Footer), lit("</body></html>")).as("text"))
    val corpus = graft.pipeline.TrainingPipeline.prepare(pages,
      graft.pipeline.TrainingPipeline.Config(
        auditableSplit = true, htmlExtract = Some(25)))
    corpus.select(col("doc_id"), col("split"),
        col("n_blocks"), col("n_kept"),
        md5(col("text")).as("content_md5"))
      .orderBy("doc_id")
  }

  val q240Sql: String = {
    val navSql = Q240Nav.replace("'", "''")
    val footSql = Q240Footer.replace("'", "''")
    s"""WITH RECURSIVE planted AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000 AS doc_id,
       |    substr(text, 1, greatest(length(text) - 15, 40)) AS text
       |  FROM documents WHERE doc_id < 60),
       |pg AS (
       |  SELECT doc_id,
       |    '<html><head><title>Page ' || CAST(doc_id AS VARCHAR) ||
       |    '</title><style>.m{padding:0}</style></head><body>' ||
       |    '$navSql' ||
       |    '<h1>Page ' || CAST(doc_id AS VARCHAR) || '</h1>' ||
       |    '<p>' || COALESCE(text, '') || '</p>' ||
       |    '$footSql' || '</body></html>' AS h
       |  FROM planted),
       |exb AS (
       |${duckExtractPairs("pg", "h")}),
       |extracted AS MATERIALIZED (
       |  SELECT doc_id,
       |    array_to_string(list_transform(list_filter(pairs,
       |      s -> length(s[1]) >= 25 AND s[2] * 2 < length(s[1])),
       |      s -> s[1]), ' ') AS text,
       |    CAST(len(pairs) AS INTEGER) AS n_blocks,
       |    CAST(len(list_filter(pairs,
       |      s -> length(s[1]) >= 25 AND s[2] * 2 < length(s[1]))) AS INTEGER)
       |      AS n_kept
       |  FROM exb),
       |${frontCtes("extracted")}
       |SELECT k.doc_id,
       |  CASE WHEN k.b < 800000 THEN 'train'
       |       WHEN k.b < 900000 THEN 'val'
       |       ELSE 'test' END AS split,
       |  e.n_blocks, e.n_kept, md5(k.text) AS content_md5
       |FROM (
       |  SELECT doc_id, text,
       |    ('0x'||substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 1000000 AS b
       |  FROM kept) k
       |JOIN extracted e ON e.doc_id = k.doc_id
       |ORDER BY k.doc_id""".stripMargin
  }

  /** Component-keyed pipeline split over KEPT near-dup families (the
    * r11 VERDICT ask #5): `dropNearDups = false` keeps the planted
    * twins (a data-augmentation mix), and `splitByComponent = true`
    * reuses stage 4's pairs to key the split by the near-dup COMPONENT
    * — so each twin family lands whole in one split. The output pins
    * every doc's group_id and split, plus the pipeline's own stage-8
    * `split_leaks` meter (must be 0); the oracle recomputes components,
    * assignment, and the leak join from scratch.
    */
  def q241ComponentSplit(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val planted = docs.unionAll(
      docs.filter(col("doc_id") < 60).select(
        (col("doc_id") + 100000).as("doc_id"),
        expr("substring(text, 1, greatest(length(text) - 15, 40))").as("text")))
    val prep = graft.pipeline.TrainingPipeline.prepareMetered(planted,
      graft.pipeline.TrainingPipeline.Config(
        auditableSplit = true, dropNearDups = false,
        splitByComponent = true, meterStages = true))
    val leaks = prep.meters.find(_.stage == "split_leaks")
      .map(_.nRows).getOrElse(-1L)
    prep.corpus.select(col("doc_id"), col("group_id"), col("split"),
        md5(col("text")).as("content_md5"))
      .withColumn("leaked_pairs", lit(leaks))
      .orderBy("doc_id")
  }

  val q241Sql: String =
    s"""WITH RECURSIVE planted AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000 AS doc_id,
       |    substr(text, 1, greatest(length(text) - 15, 40)) AS text
       |  FROM documents WHERE doc_id < 60),
       |${frontCtes("planted")},
       |comp AS (
       |  SELECT s AS doc_id, least(min(d), s) AS component_id
       |  FROM reach GROUP BY s),
       |asg AS (
       |  SELECT d.doc_id, COALESCE(c.component_id, d.doc_id) AS group_id,
       |    d.text
       |  FROM deduped d LEFT JOIN comp c ON c.doc_id = d.doc_id),
       |spl AS (
       |  SELECT doc_id, group_id, text,
       |    CASE WHEN b < 800000 THEN 'train'
       |         WHEN b < 900000 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM (
       |    SELECT doc_id, group_id, text,
       |      ('0x'||substr(md5(CAST(group_id AS VARCHAR)), 1, 15))::BIGINT
       |        % 1000000 AS b
       |    FROM asg)),
       |leak AS (
       |  SELECT CAST(count(*) AS BIGINT) AS leaked_pairs
       |  FROM pairs p
       |  JOIN spl a ON a.doc_id = p.id_a
       |  JOIN spl b2 ON b2.doc_id = p.id_b
       |  WHERE a.split <> b2.split)
       |SELECT doc_id, group_id, split, md5(text) AS content_md5,
       |  (SELECT leaked_pairs FROM leak) AS leaked_pairs
       |FROM spl
       |ORDER BY doc_id""".stripMargin

  // ---- q254/q254b: the crawl-to-corpus composed flagship ----

  /** Span-S boilerplate shared by the budget counterfactual pair: the
    * spamfarm donor (lower id, budget-dropped) and the keeper survivor
    * both carry these EXACT three sentences — if the budget stage
    * failed to drop the donor's domain, C4 keep-first would mark the
    * survivor's copy and its content hash would change. */
  private val CrawlSpanS: String =
    "the spamfarm network syndicated this exact notice across many of " +
      "its pages. every copy of the notice repeats the same three " +
      "sentences verbatim. only the first crawled occurrence should " +
      "keep this boilerplate text."

  private val CrawlDonorBody: String =
    CrawlSpanS + " spamfarm filler then rambles on with its own junk " +
      "words about pills coupons lotteries and miracle diets that never " +
      "appear in the keeper archive page at all."

  // the survivor carries S TWICE: the second copy scrubs (same doc,
  // higher position — keep-first is (id, pos)-ordered), so the span
  // stage is LIVE in the q254 hash (n_dropped = 3), not only
  // counterfactual; a budget leak would scrub both copies (donor id
  // 610000 < 810000 → n_dropped = 6)
  private val CrawlSurvivorBody: String =
    "keeper archive page introduction written with plenty of ordinary " +
      "descriptive words about the collection and its careful history " +
      "so that the quality gate is passed easily. " + CrawlSpanS +
      " the archive middle section then describes further holdings in " +
      "its own distinct words. " + CrawlSpanS +
      " closing remarks continue with additional ordinary and unique " +
      "phrasing about the archive reading room and its catalog to " +
      "finish the page."

  /** The staged frames of the crawl chain — shared by q254 (the
    * composed hash) and q254b (the oracle-recounted meters) so the
    * fixture cannot drift between them.
    */
  private final case class CrawlStages(fetched: DataFrame,
      crawlable: DataFrame, frontier: DataFrame, budgeted: DataFrame,
      corpus: DataFrame, span: DataFrame, gates: DataFrame)

  /** The crawl-to-corpus chain END TO END, every stage the library
    * operator (the CrawlStorySpec composition promoted to the oracle
    * gate, plus the per-domain budget stage):
    *
    *   1. robots gate     — [[graft.operators.Urls.robotsFilter]]
    *   2. canonicalize +
    *      frontier dedup  — [[graft.operators.Urls.canonicalize]],
    *                        batch keep-first by canonical URL
    *   3. domain budget   — [[graft.operators.Sampling.apportionSelect]]
    *                        over the registrable domain, B = 200
    *   4. HTML pipeline   — [[graft.pipeline.TrainingPipeline]] with
    *                        extraction as stage 0 (the q240 config)
    *   5. span scrub      — [[graft.operators.SentenceDedup.dropDuplicateSpans]]
    *   6. quality gates   — [[graft.operators.Curation.gopherRules]]
    *
    * Cross-stage counterfactuals planted in the fixture:
    *  - +600000 frontier twins: tracking/case respellings of allowed
    *    URLs carrying ENTIRELY DIFFERENT page bodies — only the
    *    frontier keep-first removes them (content dedup would not).
    *  - +700000 robots/dedup twins: near-dup truncations of the
    *    DISALLOWED /private pages — with robots working the twin
    *    survives stage 4 alone; a leaked donor (lower id) would win
    *    the near-dup component and evict it.
    *  - the spamfarm/keeper span pair ([[CrawlSpanS]]): the donor's
    *    1-page domain deterministically loses the B = 200 Hamilton
    *    apportionment (502 crawlable URLs over example.com/aa/zz →
    *    com floor 199, ONE leftover seat, remainder tie 200 = 200
    *    broken by domain name: example.aa beats example.zz), so the
    *    keeper survivor keeps its three sentences; a budget leak
    *    would scrub them (donor id 610000 < 810000).
    */
  private def crawlStages(s: SparkSession, dir: String): CrawlStages = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val host = concat(lit("www."), col("source"), lit(".example.com"))
    val priv = pmod(col("doc_id"), lit(10)) === 1
    val path = when(priv,
        concat(lit("/private/p"), col("doc_id").cast("string")))
      .otherwise(concat(lit("/art/"), col("doc_id").cast("string")))
    def page(id: org.apache.spark.sql.Column,
        body: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      concat(
        lit("<html><head><title>Page "), id.cast("string"),
        lit("</title><style>.m{padding:0}</style></head><body>"),
        lit(Q240Nav),
        lit("<h1>Page "), id.cast("string"), lit("</h1>"),
        lit("<p>"), coalesce(body, lit("")), lit("</p>"),
        lit(Q240Footer), lit("</body></html>"))
    val base = docs.select(col("doc_id").as("page_id"),
      concat(lit("https://"), host, path).as("url"),
      page(col("doc_id"), col("text")).as("html"))
    val twinsA = docs
      .filter(pmod(col("doc_id"), lit(10)) === 3 && col("doc_id") < 200)
      .select((col("doc_id") + 600000).as("page_id"),
        concat(lit("HTTPS://"), upper(host), path,
          lit("?utm_q=1&fbclid=zz")).as("url"),
        page(col("doc_id") + 600000,
          concat(lit("frontier twin replacement body for donor "),
            col("doc_id").cast("string"),
            lit(" with entirely different long filler prose sharing " +
              "nothing with the donor page content at all"))).as("html"))
    val twinsB = docs.filter(priv)
      .select((col("doc_id") + 700000).as("page_id"),
        concat(lit("https://"), host, lit("/art/t"),
          col("doc_id").cast("string")).as("url"),
        page(col("doc_id") + 700000,
          expr("substring(text, 1, greatest(length(text) - 15, 40))"))
          .as("html"))
    val extras = Seq(
        (610000L, "https://www.spamfarm.example.zz/art/spam0",
          CrawlDonorBody),
        (810000L, "https://www.keeper.example.aa/art/keep0",
          CrawlSurvivorBody))
      .toDF("page_id", "url", "_body")
      .select(col("page_id"), col("url"),
        page(col("page_id"), col("_body")).as("html"))
    val fetched = base.unionByName(twinsA).unionByName(twinsB)
      .unionByName(extras)

    // 1. robots gate: every example.com host disallows /private for
    // every agent; the spamfarm/keeper hosts publish no robots
    val robots = docs.select(col("source")).distinct()
      .select(concat(lit("www."), col("source"), lit(".example.com"))
          .as("host"),
        lit("User-agent: *\nDisallow: /private\n").as("robots_txt"))
    val allowedIds = graft.operators.Urls.robotsFilter(
        fetched, "page_id", "url", robots, "host", "robots_txt")
      .filter(col("allowed")).select(col("page_id"))
    val crawlable = fetched.join(allowedIds, Seq("page_id"))

    // 2. canonicalize + batch frontier dedup (keep-first by id)
    val canon = crawlable
      .withColumn("_c", graft.operators.Urls.canonicalize(col("url")))
      .withColumn("canonical_url", col("_c.canonical_url"))
      .withColumn("registrable_domain", col("_c.registrable_domain"))
      .drop("_c")
    val first = canon.groupBy(col("canonical_url"))
      .agg(min(col("page_id")).as("_fid"))
    // materialized: the frontier is re-read by the budget stage's
    // count/seat/offset aggregates, the budgeted join, and the q254b
    // meters — without a boundary here the fixture build + robots
    // window + canonical parse re-execute once per action (measured
    // 1.7× slower at sf0.1)
    val frontier = canon.join(first, Seq("canonical_url"))
      .filter(col("page_id") === col("_fid")).drop("_fid")
      .localCheckpoint(true)

    // 3. per-domain budget: exactly 200 pages, Hamilton apportionment
    val selected = graft.operators.Sampling.apportionSelect(
      frontier.select(col("page_id"), col("registrable_domain")),
      "page_id", "registrable_domain", budget = 200L)
    val budgeted = frontier.join(selected.select(col("page_id")),
      Seq("page_id"))

    // 4. HTML-input training pipeline (the q240 config). Materialized:
    // q254 reads the corpus twice (span join) and q254b recounts it.
    val corpus = graft.pipeline.TrainingPipeline.prepare(
        budgeted.select(col("page_id").as("doc_id"),
          col("html").as("text")),
        graft.pipeline.TrainingPipeline.Config(
          auditableSplit = true, htmlExtract = Some(25)))
      .localCheckpoint(true)

    // 5. C4 sentence-span scrub over the corpus text (materialized:
    // read by the gates, the q254 join, and the q254b meters)
    val span = graft.operators.SentenceDedup.dropDuplicateSpans(
        corpus.select(col("doc_id"), col("text")), "doc_id", "text")
      .localCheckpoint(true)

    // 6. Gopher hard-rule battery on the scrubbed text
    val gates = graft.operators.Curation.gopherRules(
      span, "doc_id", "text")
    CrawlStages(fetched, crawlable, frontier, budgeted, corpus, span,
      gates)
  }

  /** The crawl-to-corpus flagship, hash-matched end to end against ONE
    * DuckDB CTE chain (the q228/q240 discipline): robots → frontier →
    * budget → HTML pipeline → span scrub → gopher gates, with all
    * three cross-stage counterfactuals riding the output hash (see
    * [[crawlStages]]).
    */
  def q254CrawlPipeline(s: SparkSession, dir: String): DataFrame = {
    val st = crawlStages(s, dir)
    st.corpus.select(col("doc_id"), col("split"), col("n_blocks"),
        col("n_kept"))
      .join(st.span.select(col("doc_id"), col("n_sentences"),
        col("n_dropped"), md5(col("text")).as("content_md5")),
        Seq("doc_id"))
      .join(st.gates.select(col("doc_id"), col("keep")), Seq("doc_id"))
      .select(col("doc_id"), col("split"), col("n_blocks"), col("n_kept"),
        col("n_sentences"), col("n_dropped"), col("keep"),
        col("content_md5"))
      .orderBy("doc_id")
  }

  /** Per-stage meters of the q254 chain, oracle-recounted (the q229
    * discipline): one row per stage with surviving rows, plus the
    * total scrubbed-sentence count on the span stage. */
  def q254bCrawlMeters(s: SparkSession, dir: String): DataFrame = {
    val st = crawlStages(s, dir)
    import s.implicits._
    val spanAgg = st.span.agg(count(lit(1)).cast(LongType),
      coalesce(sum(col("n_dropped").cast(LongType)), lit(0L))).collect()(0)
    Seq(
      (1, "fetched", st.fetched.count(), 0L),
      (2, "robots_allowed", st.crawlable.count(), 0L),
      (3, "frontier_unique", st.frontier.count(), 0L),
      (4, "budget_selected", st.budgeted.count(), 0L),
      (5, "pipeline_corpus", st.corpus.count(), 0L),
      (6, "span_scrubbed", spanAgg.getLong(0), spanAgg.getLong(1)),
      (7, "gates_kept",
        st.gates.filter(col("keep") === 1).count(), 0L))
      .toDF("stage_no", "stage", "n_rows", "n_aux")
      .orderBy("stage_no")
  }

  /** One page of the crawl fixture in DuckDB's dialect (the q240 page
    * shape with the shared chrome). */
  private def duckCrawlPage(id: String, body: String): String = {
    val navSql = Q240Nav.replace("'", "''")
    val footSql = Q240Footer.replace("'", "''")
    s"""'<html><head><title>Page ' || CAST($id AS VARCHAR) ||
       |      '</title><style>.m{padding:0}</style></head><body>' ||
       |      '$navSql' ||
       |      '<h1>Page ' || CAST($id AS VARCHAR) || '</h1>' ||
       |      '<p>' || COALESCE($body, '') || '</p>' ||
       |      '$footSql' || '</body></html>'""".stripMargin
  }

  /** The whole crawl chain as oracle CTE text: fixture pages, robots
    * decision, canonical frontier, Hamilton budget (B = 200, the q248
    * replay), extraction + pipeline front half, span scrub, gopher
    * gates. Shared by q254 (hash) and q254b (meters). */
  private def crawlCtes: String = {
    val donor = CrawlDonorBody.replace("'", "''")
    val survivor = CrawlSurvivorBody.replace("'", "''")
    val twinABody = "'frontier twin replacement body for donor ' || " +
      "CAST(doc_id AS VARCHAR) || ' with entirely different long " +
      "filler prose sharing nothing with the donor page content at all'"
    val stop = "['the','a','an','and','or','of','to','in','is','are','was'," +
      "'it','that','this','for','on','with','as','at','by','be']"
    s"""pb AS MATERIALIZED (
       |  SELECT doc_id AS page_id,
       |    'https://www.' || source || '.example.com' ||
       |      (CASE WHEN doc_id % 10 = 1
       |            THEN '/private/p' || CAST(doc_id AS VARCHAR)
       |            ELSE '/art/' || CAST(doc_id AS VARCHAR) END) AS url,
       |    ${duckCrawlPage("doc_id", "text")} AS html
       |  FROM documents
       |  UNION ALL
       |  SELECT doc_id + 600000,
       |    'HTTPS://' || upper('www.' || source || '.example.com') ||
       |      '/art/' || CAST(doc_id AS VARCHAR) || '?utm_q=1&fbclid=zz',
       |    ${duckCrawlPage("doc_id + 600000", twinABody)}
       |  FROM documents WHERE doc_id % 10 = 3 AND doc_id < 200
       |  UNION ALL
       |  SELECT doc_id + 700000,
       |    'https://www.' || source || '.example.com/art/t' ||
       |      CAST(doc_id AS VARCHAR),
       |    ${duckCrawlPage("doc_id + 700000",
            "substr(text, 1, greatest(length(text) - 15, 40))")}
       |  FROM documents WHERE doc_id % 10 = 1
       |  UNION ALL
       |  SELECT 610000, 'https://www.spamfarm.example.zz/art/spam0',
       |    ${duckCrawlPage("610000", s"'$donor'")}
       |  UNION ALL
       |  SELECT 810000, 'https://www.keeper.example.aa/art/keep0',
       |    ${duckCrawlPage("810000", s"'$survivor'")}),
       |rb AS (SELECT DISTINCT 'www.' || source || '.example.com' AS host
       |       FROM documents),
       |purl AS (
       |  SELECT page_id, url, html,
       |    lower(regexp_extract(
       |      regexp_extract(
       |        regexp_extract(regexp_replace(url,
       |          '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '^([^/?#]*)', 1),
       |        '([^@]*)$$', 1),
       |      '^([^:]*)', 1)) AS host,
       |    regexp_extract(regexp_replace(url,
       |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', ''), '^([^?#]*)', 1)
       |      AS path
       |  FROM pb),
       |crawlable AS MATERIALIZED (
       |  SELECT page_id, url, html FROM purl p
       |  WHERE NOT (EXISTS (SELECT 1 FROM rb WHERE rb.host = p.host)
       |             AND starts_with(p.path, '/private'))),
       |cf AS (SELECT page_id AS doc_id, url AS u FROM crawlable),
       |${duckCanonicalCtes("cf", "cf")},
       |fr AS MATERIALIZED (
       |  SELECT c.doc_id AS page_id, c.canonical_url, c.registrable_domain
       |  FROM canoncf c
       |  JOIN (SELECT canonical_url, min(doc_id) AS fid
       |        FROM canoncf GROUP BY canonical_url) f
       |    ON f.canonical_url = c.canonical_url AND c.doc_id = f.fid),
       |bn AS (SELECT registrable_domain AS g, CAST(count(*) AS BIGINT) AS n
       |       FROM fr GROUP BY 1),
       |btot AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM bn),
       |bfq AS (SELECT g, n, (200 * n) // tot AS q0, (200 * n) % tot AS rem
       |        FROM bn, btot),
       |blo AS (SELECT 200 - CAST(sum(q0) AS BIGINT) AS l FROM bfq),
       |brk AS (SELECT *, row_number() OVER (ORDER BY rem DESC, g) AS rr
       |        FROM bfq),
       |bq AS (SELECT g,
       |    least(n, q0 + CASE WHEN rr <= (SELECT l FROM blo)
       |      THEN 1 ELSE 0 END) AS quota
       |  FROM brk),
       |bord AS (SELECT page_id, registrable_domain AS g,
       |    ('0x' || substr(md5(page_id::VARCHAR || 'apq'), 1, 15))::BIGINT
       |      % 64 AS b,
       |    md5(page_id::VARCHAR || 'apq') AS hx
       |  FROM fr),
       |brkd AS (SELECT page_id, g,
       |    row_number() OVER (PARTITION BY g ORDER BY b, hx, page_id) AS r
       |  FROM bord),
       |budgeted AS MATERIALIZED (
       |  SELECT c.page_id AS doc_id, c.html AS h
       |  FROM crawlable c
       |  JOIN brkd d2 ON d2.page_id = c.page_id
       |  JOIN bq q ON q.g = d2.g
       |  WHERE d2.r <= q.quota),
       |exb AS (
       |${duckExtractPairs("budgeted", "h")}),
       |extracted AS MATERIALIZED (
       |  SELECT doc_id,
       |    array_to_string(list_transform(list_filter(pairs,
       |      s -> length(s[1]) >= 25 AND s[2] * 2 < length(s[1])),
       |      s -> s[1]), ' ') AS text,
       |    CAST(len(pairs) AS INTEGER) AS n_blocks,
       |    CAST(len(list_filter(pairs,
       |      s -> length(s[1]) >= 25 AND s[2] * 2 < length(s[1]))) AS INTEGER)
       |      AS n_kept
       |  FROM exb),
       |${frontCtes("extracted")},
       |${duckSpanCtes("kept")},
       |gt AS (
       |  SELECT doc_id, text,
       |    list_filter(string_split_regex(trim(lower(text)), '\\s+'),
       |                x -> length(x) > 0) AS ts,
       |    string_split_regex(trim(text), '\\s+') AS raw
       |  FROM spanrep),
       |gm AS (
       |  SELECT doc_id,
       |    CAST(len(ts) AS INT) AS n_tokens,
       |    CAST(list_sum(list_transform(raw, x -> length(x))) AS DOUBLE)
       |      / greatest(len(raw), 1) AS mwl,
       |    len(list_filter(ts, x -> list_contains($stop, x))) AS n_stop,
       |    length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
       |    CAST(greatest(length(text), 1) AS DOUBLE) AS n_chars,
       |    list_max(list_transform(list_distinct(ts),
       |      d -> len(list_filter(ts, x -> x = d)))) AS top_tok
       |  FROM gt),
       |gk AS MATERIALIZED (
       |  SELECT doc_id,
       |    CAST(CASE WHEN n_tokens >= 20 AND n_tokens <= 100000
       |           AND mwl >= 3.0 AND mwl <= 10.0
       |           AND n_stop >= 2
       |           AND CAST(n_digit AS DOUBLE) / n_chars <= 0.2
       |           AND COALESCE(CAST(top_tok AS DOUBLE)
       |                 / CAST(greatest(n_tokens, 1) AS DOUBLE) <= 0.1, TRUE)
       |      THEN 1 ELSE 0 END AS INT) AS keep
       |  FROM gm)""".stripMargin
  }

  val q254Sql: String =
    s"""WITH RECURSIVE
       |$crawlCtes
       |SELECT k.doc_id,
       |  CASE WHEN k.b < 800000 THEN 'train'
       |       WHEN k.b < 900000 THEN 'val'
       |       ELSE 'test' END AS split,
       |  e.n_blocks, e.n_kept, sp.n_sentences, sp.n_dropped, g.keep,
       |  md5(sp.text) AS content_md5
       |FROM (
       |  SELECT doc_id,
       |    ('0x'||substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 1000000 AS b
       |  FROM kept) k
       |JOIN extracted e ON e.doc_id = k.doc_id
       |JOIN spanrep sp ON sp.doc_id = k.doc_id
       |JOIN gk g ON g.doc_id = k.doc_id
       |ORDER BY k.doc_id""".stripMargin

  val q254bSql: String =
    s"""WITH RECURSIVE
       |$crawlCtes
       |SELECT * FROM (
       |  SELECT CAST(1 AS INT) AS stage_no, 'fetched' AS stage,
       |    CAST(count(*) AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS n_aux
       |  FROM pb
       |  UNION ALL
       |  SELECT CAST(2 AS INT), 'robots_allowed', CAST(count(*) AS BIGINT),
       |    CAST(0 AS BIGINT) FROM crawlable
       |  UNION ALL
       |  SELECT CAST(3 AS INT), 'frontier_unique', CAST(count(*) AS BIGINT),
       |    CAST(0 AS BIGINT) FROM fr
       |  UNION ALL
       |  SELECT CAST(4 AS INT), 'budget_selected', CAST(count(*) AS BIGINT),
       |    CAST(0 AS BIGINT) FROM budgeted
       |  UNION ALL
       |  SELECT CAST(5 AS INT), 'pipeline_corpus', CAST(count(*) AS BIGINT),
       |    CAST(0 AS BIGINT) FROM kept
       |  UNION ALL
       |  SELECT CAST(6 AS INT), 'span_scrubbed', CAST(count(*) AS BIGINT),
       |    CAST(coalesce(sum(n_dropped), 0) AS BIGINT) FROM spanrep
       |  UNION ALL
       |  SELECT CAST(7 AS INT), 'gates_kept',
       |    CAST(coalesce(sum(keep), 0) AS BIGINT),
       |    CAST(0 AS BIGINT) FROM gk)
       |ORDER BY stage_no""".stripMargin

  val queries: Map[String, Q] = Map(
    "q240_html_pipeline" -> q240HtmlPipeline _,
    "q254_crawl_pipeline" -> q254CrawlPipeline _,
    "q254b_crawl_meters" -> q254bCrawlMeters _,
    "q241_component_split" -> q241ComponentSplit _,
    "q239_boilerplate_extract" -> q239BoilerplateExtract _,
    "q238_hard_negatives" -> q238HardNegatives _,
    "q238b_hard_negatives_ivf" -> q238bHardNegativesIvf _,
    "q237_phrase_search" -> q237PhraseSearch _,
    "q237b_phrase_indexed" -> q237bPhraseIndexed _,
    "q242_phrase_batch" -> q242PhraseBatch _,
    "q243_bleu_counts" -> q243BleuCounts _,
    "q256_bleu_score" -> q256BleuScore _,
    "q244_url_canonicalize" -> q244UrlCanonicalize _,
    "q245_blocklist_fold" -> q245BlocklistFold _,
    "q246_sentence_segment" -> q246SentenceSegment _,
    "q247_span_corrupt" -> q247SpanCorrupt _,
    "q248_domain_budget" -> q248DomainBudget _,
    "q249_sentence_span_dedup" -> q249SentenceSpanDedup _,
    "q252_incremental_span_dedup" -> q252IncrementalSpanDedup _,
    "q255_frontier_dedup" -> q255FrontierDedup _,
    "q257_crawl_delay_schedule" -> q257CrawlDelaySchedule _,
    "q259_streaming_frontier" -> q259StreamingFrontier _,
    "q260_link_resolve" -> q260LinkResolve _,
    "q261_crawl_loop"     -> q261CrawlLoop _,
    "q262_polite_dispatch" -> q262PoliteDispatch _,
    "q263_crawl_priority" -> q263CrawlPriority _,
    "q264_recrawl_schedule" -> q264RecrawlSchedule _,
    "q258_sitemap_seeds" -> q258SitemapSeeds _,
    "q250_robots_filter" -> q250RobotsFilter _,
    "q251_line_repetition" -> q251LineRepetition _,
    "q236_raked_mixture" -> q236RakedMixture _,
    "q235_bitext_mine" -> q235BitextMine _,
    "q235b_bitext_ivf" -> q235bBitextIvf _,
    "q231_leakage_safe_split" -> q231LeakageSafeSplit _,
    "q232_prototype_prune" -> q232PrototypePrune _,
    "q233_token_fertility" -> q233TokenFertility _,
    "q234_dsir_select" -> q234DsirSelect _,
    "q230_capped_flood" -> q230CappedFlood _,
    "q228_composed_pipeline" -> q228ComposedPipeline _,
    "q229_pipeline_meters" -> q229PipelineMeters _,
    "q224_indexed_bm25" -> q224IndexedBm25 _,
    "q226_rendezvous_shards" -> q226RendezvousShards _,
    "q227_zipf_slope" -> q227ZipfSlope _,
    "q218_ndcg_eval" -> q218NdcgEval _,
    "q219_apportion_select" -> q219ApportionSelect _,
    "q222_wordpiece_vocab" -> q222WordPieceVocab _,
    "q223_wordpiece_tokenize" -> q223WordPieceTokenize _,
    "q213_target_encoding" -> q213TargetEncoding _,
    "q214_coverage_select" -> q214CoverageSelect _,
    "q217_char_entropy" -> q217CharEntropy _,
    "q210_unigram_fit" -> q210UnigramFit _,
    "q211_unigram_tokenize" -> q211UnigramTokenize _,
    "q253_ccnet_buckets" -> q253CcnetBuckets _,
    "q253b_ccnet_buckets_by_lang" -> q253bCcnetBucketsByLang _,
    "q208_substring_dedup" -> q208SubstringDedup _,
    "q209_substring_spans" -> q209SubstringSpans _,
    "q207_weighted_median" -> q207WeightedMedian _,
    "q200_quantile_normalize" -> q200QuantileNormalize _,
    "q199_mmr_topk"        -> q199MmrTopK _,
    "q197_percentile_rank" -> q197PercentileRank _,
    "q191_join_cardinality" -> q191JoinCardinality _,
    "q188_sorted_neighborhood" -> q188SortedNeighborhood _,
    "q190_negative_samples" -> q190NegativeSamples _,
    "q184_pmi_collocations" -> q184PmiCollocations _,
    "q173_recall_eval"     -> q173RecallEval _,
    "q170_matryoshka_topk" -> q170MatryoshkaTopK _,
    "q158_pq_topk"        -> q158PqTopK _,
    "q155_audio_frames"   -> q155AudioFrames _,
    "q154_source_overlap" -> q154SourceOverlap _,
    "q157_novelty_curve"  -> q157NoveltyCurve _,
    "q150_image_ahash"    -> q150ImageAhash _,
    "q142_tfidf_nn"       -> q142TfidfNn _,
    "q138_source_similarity" -> q138SourceSimilarity _,
    "q135_ivf_append"     -> q135IvfAppend _,
    "q129_contamination_spans" -> q129ContaminationSpans _,
    "q125_epoch_mix"      -> q125EpochMix _,
    "q113_bigram_lm"      -> q113BigramLm _,
    "q112_exact_jaccard"  -> q112ExactJaccard _,
    "q109_curriculum_buckets" -> q109CurriculumBuckets _,
    "q103_fuzzy_linkage"  -> q103FuzzyLinkage _,
    "q104_cms_frequency"  -> q104CmsFrequency _,
    "q101_shuffle_shard" -> q101ShuffleShard _,
    "q102_chunk_docs"    -> q102ChunkDocs _,
    "q99_weighted_sample" -> q99WeightedSample _,
    "q91_semantic_dedup" -> q91SemanticDedup _,
    "q90_fuzzy_decontaminate" -> q90FuzzyDecontaminate _,
    "q87_pc1_projection"   -> q87Pc1Projection _,
    "q85_bm25_topk"        -> q85Bm25TopK _,
    "q86_source_balance"   -> q86SourceBalance _,
    "q82_passage_scrub"    -> q82PassageScrub _,
    "q83_heavy_hitters"    -> q83HeavyHitters _,
    "q84_embedding_covariance" -> q84EmbeddingCovariance _,
    "q64_lsh_topk"         -> q64LshTopK _,
    "q74_lsh_multiprobe"   -> q74MultiProbe _,
    "q76_kmeans_counts"    -> q76KmeansCounts _,
    "q65_ivf_topk"         -> q65IvfTopK _,
    "q65b_ivf_topk_agg"    -> q65bIvfTopKOneProbe _,
    "q66_pack_rows"        -> q66PackRows _,
    "q77_bpe_merges"       -> q77BpeMerges _,
    "q78_streaming_ingest" -> q78StreamingIngest _,
    "q79_image_resize"     -> q79ImageResize _,
    "q80_quantized_topk"   -> q80QuantizedTopK _,
    "q81_bpe_tokenize"     -> q81BpeTokenize _,
    "q63_sequential_ids"   -> q63SequentialIds _,
    "q61_wav_roundtrip"    -> q61WavRoundtrip _,
    "q59_training_pipeline" -> q59TrainingPipeline _,
    "q60_incremental_neardup" -> q60IncrementalNearDup _,
    "q60b_index_compaction" -> q60bIndexCompaction _,
    "q53_repetition"       -> q53Repetition _,
    "q54_pack_manifest"    -> q54PackManifest _,
    "q55_doc_freq_profile" -> q55DocFreqProfile _,
    "q56_lang_cap"         -> q56LangCap _,
    "q52_term_matrix"      -> q52TermMatrix _,
    "q51_scrub_pii"        -> q51ScrubPii _,
    "q50_dedup_components" -> q50DedupComponents _,
    "q49_image_roundtrip"  -> q49ImageRoundtrip _,
    "q48_binary_media_stats" -> q48BinaryMediaStats _,
    "q43_decontaminate"    -> q43Decontaminate _,
    "q42_embedding_neardup" -> q42EmbeddingNearDup _,
    "q42b_embedding_neardup_near" -> q42bEmbeddingNearDupNear _,
    "q39_hash_split"       -> q39HashSplit _,
    "q18_exact_dedup"      -> q18ExactDedup _,
    "q19_text_stats"       -> q19TextStats _,
    "q20_lang_quality"     -> q20LangQuality _,
    "q21_minhash_neardup"  -> q21MinhashNearDup _,
    "q22_simhash_neardup"  -> q22SimhashNearDup _,
    "q23_dot_topk"         -> q23DotTopK _,
    "q24_unnest_embeddings" -> q24UnnestEmbeddings _,
    "q25_fingerprints"     -> q25Fingerprints _)

  val oracle: Map[String, String] = Map(
    "q230_capped_flood" -> q230Sql,
    "q240_html_pipeline" -> q240Sql,
    "q254_crawl_pipeline" -> q254Sql,
    "q254b_crawl_meters" -> q254bSql,
    "q241_component_split" -> q241Sql,
    "q239_boilerplate_extract" -> q239Sql,
    "q238_hard_negatives" -> q238Sql,
    "q238b_hard_negatives_ivf" -> q238bSql,
    "q237_phrase_search" -> q237Sql,
    "q237b_phrase_indexed" -> q237bSql,
    "q242_phrase_batch" -> q242Sql,
    "q243_bleu_counts" -> q243Sql,
    "q256_bleu_score" -> q256Sql,
    "q244_url_canonicalize" -> q244Sql,
    "q245_blocklist_fold" -> q245Sql,
    "q246_sentence_segment" -> q246Sql,
    "q247_span_corrupt" -> q247Sql,
    "q248_domain_budget" -> q248Sql,
    "q249_sentence_span_dedup" -> q249Sql,
    "q252_incremental_span_dedup" -> q252Sql,
    "q255_frontier_dedup" -> q255Sql,
    "q257_crawl_delay_schedule" -> q257Sql,
    "q259_streaming_frontier" -> q259Sql,
    "q260_link_resolve" -> q260Sql,
    "q261_crawl_loop"     -> q261Sql,
    "q262_polite_dispatch" -> q262Sql,
    "q263_crawl_priority" -> q263Sql,
    "q264_recrawl_schedule" -> q264Sql,
    "q258_sitemap_seeds" -> q258Sql,
    "q250_robots_filter" -> q250Sql,
    "q251_line_repetition" -> q251Sql,
    "q236_raked_mixture" -> q236Sql,
    "q235_bitext_mine" -> q235Sql,
    "q235b_bitext_ivf" -> q235bSql,
    "q231_leakage_safe_split" -> q231Sql,
    "q232_prototype_prune" -> q232Sql,
    "q233_token_fertility" -> q233Sql,
    "q234_dsir_select" -> q234Sql,
    "q228_composed_pipeline" -> q228Sql,
    "q229_pipeline_meters" -> q229Sql,
    "q224_indexed_bm25" -> q224Sql,
    "q226_rendezvous_shards" -> q226Sql,
    "q227_zipf_slope" -> q227Sql,
    "q218_ndcg_eval" -> q218Sql,
    "q219_apportion_select" -> q219Sql,
    "q222_wordpiece_vocab" -> q222Sql,
    "q223_wordpiece_tokenize" -> q223Sql,
    "q213_target_encoding" -> q213Sql,
    "q214_coverage_select" -> q214Sql,
    "q217_char_entropy" -> q217Sql,
    "q210_unigram_fit" -> q210Sql,
    "q211_unigram_tokenize" -> q211Sql,
    "q253_ccnet_buckets" -> q253Sql,
    "q253b_ccnet_buckets_by_lang" -> q253bSql,
    "q208_substring_dedup" -> q208Sql,
    "q209_substring_spans" -> q209Sql,
    "q207_weighted_median" -> q207Sql,
    "q200_quantile_normalize" -> q200Sql,
    "q199_mmr_topk"        -> q199Sql,
    "q197_percentile_rank" -> q197Sql,
    "q191_join_cardinality" -> q191Sql,
    "q188_sorted_neighborhood" -> q188Sql,
    "q190_negative_samples" -> q190Sql,
    "q184_pmi_collocations" -> q184Sql,
    "q173_recall_eval"     -> q173Sql,
    "q170_matryoshka_topk" -> q170Sql,
    "q158_pq_topk"        -> q158Sql,
    "q155_audio_frames"   -> q155Sql,
    "q154_source_overlap" -> q154Sql,
    "q157_novelty_curve"  -> q157Sql,
    "q113_bigram_lm"      -> q113Sql,
    "q112_exact_jaccard"  -> q112Sql,
    "q109_curriculum_buckets" -> q109Sql,
    "q103_fuzzy_linkage"  -> q103Sql,
    "q104_cms_frequency"  -> q104Sql,
    "q101_shuffle_shard" -> q101Sql,
    "q102_chunk_docs"    -> q102Sql,
    "q99_weighted_sample" -> q99Sql,
    "q125_epoch_mix"      -> q125Sql,
    "q129_contamination_spans" -> q129Sql,
    "q135_ivf_append"     -> q135Sql,
    "q138_source_similarity" -> q138Sql,
    "q142_tfidf_nn"       -> q142Sql,
    "q150_image_ahash"    -> q150Sql,
    "q91_semantic_dedup" -> q91Sql,
    "q90_fuzzy_decontaminate" -> q90Sql,
    "q87_pc1_projection"   -> q87Sql,
    "q85_bm25_topk"        -> q85Sql,
    "q86_source_balance"   -> q86Sql,
    "q82_passage_scrub"    -> q82Sql,
    "q83_heavy_hitters"    -> q83Sql,
    "q84_embedding_covariance" -> q84Sql,
    "q64_lsh_topk"         -> q64Sql,
    "q74_lsh_multiprobe"   -> q74Sql,
    "q76_kmeans_counts"    -> q76Sql,
    "q65_ivf_topk"         -> q65Sql,
    "q65b_ivf_topk_agg"    -> q65bSql,
    "q66_pack_rows"        -> q66Sql,
    "q77_bpe_merges"       -> q77Sql,
    "q78_streaming_ingest" -> q78Sql,
    "q79_image_resize"     -> q79Sql,
    "q80_quantized_topk"   -> q80Sql,
    "q81_bpe_tokenize"     -> q81Sql,
    "q63_sequential_ids"   -> q63Sql,
    "q61_wav_roundtrip"    -> q61Sql,
    "q59_training_pipeline" -> q59Sql,
    "q60_incremental_neardup" -> q60Sql,
    "q60b_index_compaction" -> q60bSql,
    "q53_repetition"       -> q53Sql,
    "q54_pack_manifest"    -> q54Sql,
    "q55_doc_freq_profile" -> q55Sql,
    "q56_lang_cap"         -> q56Sql,
    "q18_exact_dedup"      -> q18Sql,
    "q19_text_stats"       -> q19Sql,
    "q20_lang_quality"     -> q20Sql,
    "q21_minhash_neardup"  -> q21Sql,
    "q22_simhash_neardup"  -> q22Sql,
    "q23_dot_topk"         -> q23Sql,
    "q24_unnest_embeddings" -> q24Sql,
    "q25_fingerprints"     -> q25Sql,
    "q39_hash_split"       -> q39Sql,
    "q42_embedding_neardup" -> q42Sql,
    "q42b_embedding_neardup_near" -> q42bSql,
    "q43_decontaminate"    -> q43Sql,
    "q48_binary_media_stats" -> q48Sql,
    "q49_image_roundtrip"  -> q49Sql,
    "q50_dedup_components" -> q50Sql,
    "q51_scrub_pii"        -> q51Sql,
    "q52_term_matrix"      -> q52Sql)
}
