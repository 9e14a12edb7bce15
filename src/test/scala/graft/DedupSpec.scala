package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Dedup
import graft.sources.Tables

class DedupSpec extends SparkSpec {

  /** Corpus with planted near-duplicates: every doc_id < 30 gets a
    * truncated-copy at id+10000. Restricted to 150 base docs so the
    * exact all-pairs ground truth stays cheap.
    */
  lazy val planted: DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .filter(col("doc_id") < 150).select(col("doc_id"), col("text"))
    docs.unionAll(docs.filter(col("doc_id") < 30).select(
      (col("doc_id") + 10000).as("doc_id"),
      expr("substring(text, 1, greatest(length(text) - 15, 40))").as("text")))
      .cache()
  }

  /** Exact all-pairs 7-gram Jaccard ground truth (small corpus only) —
    * same shingle size as the operator's default.
    */
  lazy val exactPairs: Set[(Long, Long)] = {
    val t = planted.select(col("doc_id"), col("text"))
    t.as("l").join(t.as("r"), col("l.doc_id") < col("r.doc_id"))
      .withColumn("j", Dedup.ngramJaccard(col("l.text"), col("r.text"), 7))
      .filter(col("j") >= 0.5)
      .select(col("l.doc_id"), col("r.doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("minhash+LSH verified pairs: full precision, high recall vs exact Jaccard") {
    val got = Dedup.verifiedNearDupPairs(planted, "doc_id", "text", minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // precision is 1.0 by construction (candidates are re-verified exactly)
    assert(got.subsetOf(exactPairs))
    // recall: banding (32 hashes, 8 bands) catches >= 80% at J >= 0.5
    assert(exactPairs.nonEmpty)
    val recall = got.size.toDouble / exactPairs.size
    assert(recall >= 0.8, s"recall $recall over ${exactPairs.size} true pairs")
    // every planted truncation pair with J >= 0.5 that LSH found is correct
    assert(got.forall { case (a, b) => a < b })
  }

  test("simhash near-dup pairs: exact recall of the hamming<=7 pair set") {
    import graft.functions.{TextFunctions, VectorFunctions}
    val docs = Tables.documents(spark, sfDir)
      .filter(col("doc_id") < 150).select(col("doc_id"), col("text"))
    val perturbed = docs.unionAll(docs.filter(col("doc_id") < 30).select(
      (col("doc_id") + 10000).as("doc_id"),
      concat(col("text"), lit(" zzz")).as("text"))).cache()
    // ground truth: ALL pairs with simhash hamming <= 7 (computed all-pairs)
    val hashed = perturbed.select(col("doc_id"),
      TextFunctions.simHash64(col("text")).as("sh"))
    val truth = hashed.as("l").join(hashed.as("r"), col("l.doc_id") < col("r.doc_id"))
      .withColumn("h", VectorFunctions.hammingLong(col("l.sh"), col("r.sh")))
      .filter(col("h") <= 7)
      .select(col("l.doc_id"), col("r.doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Dedup.simHashNearDupPairs(perturbed, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // pigeonhole: 8 chunks, hamming <= 7 → banding can never miss a pair
    assert(got == truth, s"got ${got.size} vs truth ${truth.size}")
    // sanity: a single appended token keeps most planted pairs within 7 bits
    val plantedFound = got.count { case (a, b) => b == a + 10000 }
    assert(plantedFound >= 20, s"found only $plantedFound of 30 planted pairs")
  }

  test("embedding near-dup via LSH: identical vectors always collide") {
    val emb = Tables.embeddings(spark, sfDir)
    val planted = emb.select(col("vec_id"), col("embedding"))
      .unionAll(emb.filter(col("vec_id") < 10)
        .select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
    val pairs = Dedup.embeddingNearDupPairs(planted, "vec_id", "embedding",
        dim = 64, minCosine = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // identical copies have identical signatures -> always candidates
    val expected = (0L until 10L).map(i => (i, i + 10000)).toSet
    assert(expected.subsetOf(pairs.toSet))
  }

  test("near-dup operators leave no cached frames behind") {
    // start from a clean cache: other suites (and this one's fixtures)
    // legitimately cache frames; this asserts the OPERATORS add nothing
    spark.catalog.clearCache()
    val mh = Dedup.verifiedNearDupPairs(planted, "doc_id", "text", minJaccard = 0.5)
    mh.count()
    val sh = Dedup.simHashNearDupPairs(planted, "doc_id", "text")
    sh.count()
    val emb = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding", dim = 64).count()
    // the operators persist intermediates internally but must unpersist
    // before returning: a long-lived session accumulates nothing
    assert(spark.sharedState.cacheManager.isEmpty,
      "operator left persisted frames in the cache manager")
  }

  test("degenerate bucket: a flood of identical docs stays linear") {
    // 1000 byte-identical documents — every band of every doc lands in
    // ONE bucket; an uncapped self-join would build 1000*999/2 ≈ 500k
    // pairs per band. The cap switches to representative linking:
    // every copy pairs with the lowest id only.
    val flood = spark.range(0, 1000).toDF("doc_id")
      .withColumn("text", lit("identical content repeated verbatim in every copy of this document"))
    val pairs = Dedup.verifiedNearDupPairs(flood, "doc_id", "text",
      minJaccard = 0.9, maxBucketSize = 100)
    val got = pairs.collect()
    // exactly the 999 star pairs (0, i), all at Jaccard 1.0
    assert(got.length == 999, s"expected 999 star pairs, got ${got.length}")
    assert(got.forall(r => r.getLong(0) == 0L && r.getDouble(2) == 1.0))
    // same cap on the simhash path
    val sh = Dedup.simHashNearDupPairs(flood, "doc_id", "text", maxBucketSize = 100)
    assert(sh.count() == 999)
  }

  test("degenerate bucket: a flood of identical embeddings stays linear") {
    // 1200 identical vectors — every chunk of every copy lands in one
    // bucket per band; uncapped this is ~720k pairs per chunk. The cap
    // star-links to the representative: exactly the 1199 (0, i) pairs.
    val vec = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") === 0).select(col("embedding"))
      .collect().head.getSeq[Float](0)
    val flood = spark.range(0, 1200).toDF("vec_id")
      .withColumn("embedding", typedLit(vec))
    val metered = Dedup.embeddingNearDupPairsMetered(flood, "vec_id", "embedding",
      dim = 64, minCosine = 0.99, maxBucketSize = 100)
    val got = metered.pairs.collect()
    assert(got.length == 1199, s"expected 1199 star pairs, got ${got.length}")
    assert(got.forall(r => r.getLong(0) == 0L && math.abs(r.getDouble(2) - 1.0) < 1e-12))
    // star pairs are flagged in-band
    assert(got.forall(_.getBoolean(3)), "flood pairs not flagged is_star")
    // the capped run is observable per call (and via a WARN log)
    assert(metered.cappedBucketCount > 0,
      "capped run not reflected in the per-call metric")
  }

  test("star pairs survive verification: over-cap bucket members that miss the threshold keep their link") {
    // A capped bucket whose members are near-dups of EACH OTHER but not
    // (quite) of the representative: 150 copies of vector v plus 60
    // copies of a slightly perturbed v' (cosine(v, v') ≈ 0.9993 — below
    // the 0.9999 threshold, but v' shares v's sign pattern so both
    // flood the same LSH bucket). Without the is_star exemption the 60
    // (0, v'_i) star links would fail cosine verification and v's
    // component would split off all v' copies — which are EXACT dups of
    // each other and must stay connected for keep-lowest-id dedup.
    val vec = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") === 0).select(col("embedding"))
      .collect().head.getSeq[Float](0)
    val base = spark.range(0, 150).toDF("vec_id")
      .withColumn("embedding", typedLit(vec))
    val perturbedVec = vec.zipWithIndex.map { case (x, i) =>
      if (i == 0) x + math.signum(x + 0.01f) * 0.8f else x }
    val near = spark.range(150, 210).toDF("vec_id")
      .withColumn("embedding", typedLit(perturbedVec))
    val metered = Dedup.embeddingNearDupPairsMetered(
      base.unionByName(near), "vec_id", "embedding",
      dim = 64, minCosine = 0.9999, maxBucketSize = 100)
    assert(metered.cappedBucketCount > 0, "bucket did not hit the cap")
    val got = metered.pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    // every member — identical OR merely-near — is star-linked to rep 0
    assert(got.map(_._2).toSet == (1L until 210L).toSet,
      s"component split: only ${got.length} of 209 members linked")
    // the below-threshold links are there BECAUSE they are star pairs
    val belowThreshold = got.filter(_._3 < 0.9999)
    assert(belowThreshold.nonEmpty && belowThreshold.forall(_._4),
      "below-threshold star links missing or unflagged")
  }

  test("explicit nBlocks rejects combination blow-ups the auto-tune path would never pick") {
    // C(32, 25) ≈ 3.4M band keys per row — driver-side enumeration and
    // per-row array both explode; must fail fast, not OOM
    val docs = Tables.documents(spark, sfDir).limit(10).select(col("doc_id"), col("text"))
    val e = intercept[IllegalArgumentException] {
      Dedup.simHashNearDupPairs(docs, "doc_id", "text", maxHamming = 7, nBlocks = 32)
    }
    assert(e.getMessage.contains("band combinations"))
    // a sane explicit config still works
    assert(Dedup.simHashNearDupPairs(docs, "doc_id", "text",
      maxHamming = 3, nBlocks = 6).count() >= 0)
  }

  test("uncapped runs report zero capped buckets") {
    val emb = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val metered = Dedup.embeddingNearDupPairsMetered(emb, "vec_id", "embedding", dim = 64)
    metered.pairs.count()
    assert(metered.cappedBucketCount == 0L)
  }

  test("incremental dedup: an increment-side flood stays linear (star-linked)") {
    // the daily-dedup pathology on the NEW side: a boilerplate-heavy
    // increment floods a bucket the corpus barely touches — uncapped,
    // smallCand expands |new|×|idx| rows per band
    val idxPath = java.nio.file.Files.createTempDirectory("graft-mh-flood").toString + "/idx"
    val corpus = Tables.documents(spark, sfDir)
      .filter(col("doc_id") < 100).select(col("doc_id"), col("text"))
    Dedup.writeMinHashIndex(corpus, idxPath, "doc_id", "text")
    val doc0Text = corpus.filter(col("doc_id") === 0)
      .select("text").collect().head.getString(0)
    val flood = spark.range(200000, 201500).toDF("doc_id")
      .withColumn("text", lit(doc0Text))
    val metered = Dedup.incrementalNearDupPairsMetered(
      flood, idxPath, "doc_id", "text", minJaccard = 0.5, maxBucketSize = 100)
    assert(metered.cappedBucketCount > 0, "increment-side flood did not trip the cap")
    val got = metered.pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    // every flood doc star-links to the bucket representative (corpus
    // doc 0 — identical text, so the bucket min), O(new) pairs total
    assert(got.length == 1500, s"expected 1500 star pairs, got ${got.length}")
    assert(got.forall { case (_, c, j, star) => c == 0L && j == 1.0 && star })
    assert(got.map(_._1).toSet == (200000L until 201500L).toSet)
  }

  test("incremental near-dup against a persisted index matches the batch computation") {
    val idxPath = java.nio.file.Files.createTempDirectory("graft-mh").toString + "/idx"
    val corpus = Tables.documents(spark, sfDir)
      .filter(col("doc_id") < 100).select(col("doc_id"), col("text"))
    Dedup.writeMinHashIndex(corpus, idxPath, "doc_id", "text")
    // increment: near-dups of corpus docs 0-9 (+100000) plus untouched docs
    val increment = Tables.documents(spark, sfDir)
      .filter(col("doc_id") < 20).select(
        (col("doc_id") + 100000).as("doc_id"),
        when(col("doc_id") < 10,
          expr("substring(text, 1, greatest(length(text) - 15, 40))"))
          .otherwise(concat(lit("prefix that rewrites this doc entirely "),
            expr("reverse(text)"))).as("text"))
    val inc = Dedup.incrementalNearDupPairs(increment, idxPath, "doc_id", "text",
        minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // ground truth: the batch operator over corpus ∪ increment,
    // restricted to (new × corpus) pairs — same seeds ⇒ same candidates
    val batch = Dedup.verifiedNearDupPairs(
        corpus.unionByName(increment), "doc_id", "text", minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => a < 100000L && b >= 100000L }
      .map { case (a, b, j) => (b, a, j) }.toSet
    assert(inc == batch, s"incremental ${inc.size} vs batch ${batch.size}")
    // every truncated copy found its source; rewritten docs matched nothing
    val matchedNew = inc.map(_._1)
    (0L until 10L).foreach(i => assert(matchedNew.contains(i + 100000L), s"doc $i"))
    assert(inc.forall(_._1 < 100010L))
  }

  test("incremental near-dup: an Int-id increment probes a Long-id index") {
    // the index keeps its own id type (read from a footer), the
    // increment keeps the caller's: the two need not match
    val idxPath = java.nio.file.Files.createTempDirectory("graft-mh-ids").toString + "/idx"
    val corpus = Tables.documents(spark, sfDir).filter(col("doc_id") < 20)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    Dedup.writeMinHashIndex(corpus, idxPath, "doc_id", "text")
    val increment = corpus.filter(col("doc_id") < 5)
      .select((col("doc_id") + 1000).cast("int").as("doc_id"), col("text"))
    val got = Dedup.incrementalNearDupPairs(increment, idxPath, "doc_id", "text")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    (0 until 5).foreach(i => assert(got.contains((i + 1000, i.toLong)), s"doc $i: $got"))
  }

  test("connected components: min-label propagation across chains and stars") {
    import spark.implicits._
    // path graph 10-11-12-13-14 (diameter 4: exercises multi-round
    // propagation), star 0-{1,2,3} (capped-bucket shape), isolated pair
    val pairs = Seq(
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L),
      (0L, 1L), (0L, 2L), (0L, 3L),
      (20L, 21L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Seq(10L, 11L, 12L, 13L, 14L).foreach(v => assert(comp(v) == 10L, s"node $v"))
    Seq(0L, 1L, 2L, 3L).foreach(v => assert(comp(v) == 0L, s"node $v"))
    Seq(20L, 21L).foreach(v => assert(comp(v) == 20L, s"node $v"))
    // non-convergence within maxIter must throw, not silently mislabel
    val chain = (100L until 110L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIter = 2).collect()
    }
  }

  test("connected components: diameter-50 chain converges in O(log d) rounds (pointer jumping)") {
    import spark.implicits._
    // a pathological high-diameter graph (pairwise-similar boilerplate
    // chain) — plain min-label propagation needs 50 rounds and would hit
    // the default guard at 25; after the 2-round propagation ramp the
    // pointer jump halves remaining depth per round, so ~7 rounds
    // suffice. maxIter = 10 proves the log bound, not just "under 25".
    val chain = (0L until 50L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(chain, maxIter = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.size == 51)
    (0L to 50L).foreach(v => assert(comp(v) == 0L, s"node $v"))
  }

  test("dropNearDuplicates keeps one canonical row per component") {
    import spark.implicits._
    val rows = (0L until 10L).map(i => (i, s"row$i")).toDF("id", "payload")
    val pairs = Seq((1L, 4L), (4L, 7L), (2L, 9L)).toDF("id_a", "id_b")
    val kept = Dedup.dropNearDuplicates(rows, "id", pairs)
      .select("id").collect().map(_.getLong(0)).toSet
    // components {1,4,7} -> keep 1; {2,9} -> keep 2; others untouched
    assert(kept == Set(0L, 1L, 2L, 3L, 5L, 6L, 8L))
  }

  test("exact dedup by fingerprint keeps lowest id per content") {
    val withDups = planted // truncated copies are NOT exact dups
      .unionAll(planted.filter(col("doc_id") === 0)
        .select(lit(99999L).as("doc_id"), col("text")))
    val out = Dedup.dedupByFingerprint(withDups, "text", "doc_id")
    assert(out.filter(col("doc_id") === 99999L).count() == 0) // copy dropped
    assert(out.filter(col("doc_id") === 0L).count() == 1)     // original kept
    assert(out.count() == planted.count())
  }

  test("minhash index: append + compaction is read-transparent") {
    // the retention story: daily appends fragment the index into
    // file-per-partition batches; compaction folds the files while the
    // query answer stays IDENTICAL (compaction preserves every row)
    val docs = planted.filter(col("doc_id") < 200)
    val idxDir = java.nio.file.Files.createTempDirectory("graft-mhidx").toString + "/idx"
    Dedup.writeMinHashIndex(docs, idxDir, "doc_id", "text")
    // three append batches, like three daily increments
    (1 to 3).foreach { day =>
      val inc = docs.filter(col("doc_id") < 10).select(
        (col("doc_id") + day * 1000).as("doc_id"), col("text"))
      Dedup.appendToMinHashIndex(inc, idxDir, "doc_id", "text")
    }
    def files() = new java.io.File(idxDir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    val fragmented = files()
    val increment = docs.filter(col("doc_id") < 10).select(
      (col("doc_id") + 100000).as("doc_id"),
      expr("substring(text, 1, greatest(length(text) - 15, 40))").as("text"))
    def pairs() = Dedup.incrementalNearDupPairs(
        increment, idxDir, "doc_id", "text", minJaccard = 0.5)
      .select("new_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = pairs()
    // appended rows must be live: each increment doc matches its
    // appended near-identical copies (ids +1000/+2000/+3000) too
    assert(before.exists { case (_, c) => c >= 1000 && c < 4000 },
      s"appended index rows never matched: $before")
    Dedup.compactMinHashIndex(spark, idxDir, targetFileBytes = 1L << 30)
    assert(files() < fragmented,
      s"compaction did not reduce files: $fragmented -> ${files()}")
    assert(pairs() == before, "compaction changed the query answer")
  }

  test("fuzzy decontamination flags exactly the brute-force Jaccard matches") {
    val train = Tables.documents(spark, sfDir)
      .filter(col("doc_id") < 150).select(col("doc_id"), col("text"))
    val eval = train.filter(col("doc_id") < 20)
      .select(col("doc_id").as("eval_id"),
        expr("substring(text, 1, greatest(length(text) - 15, 40))").as("etext"))
    val got = Dedup.flagFuzzyContaminated(
      train, "doc_id", "text", eval, "eval_id", "etext",
      minJaccardNum = 6, minJaccardDen = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // brute-force ground truth with the same integer predicate
    def shingles(t: String): Set[String] =
      (if (t.length < 7) Set.empty[String]
       else (0 to t.length - 7).map(i => t.substring(i, i + 7)).toSet)
    val trainSh = train.collect().map(r => r.getLong(0) -> shingles(r.getString(1)))
    val evalSh = eval.collect().map(r => r.getLong(0) -> shingles(r.getString(1)))
    val want = trainSh.flatMap { case (tid, a) =>
      val hits = evalSh.count { case (_, b) =>
        val ov = (a & b).size
        a.nonEmpty && b.nonEmpty && 10L * ov >= 6L * (a.size + b.size - ov)
      }
      if (hits > 0) Some(tid -> hits.toLong) else None
    }.toMap
    assert(got == want, s"got ${got.size} flagged vs ${want.size} expected")
    // every planted source is flagged; an unrelated doc is not
    assert((0L until 20L).forall(got.contains))
  }

  test("semantic dedup keeps the id-minimum of each within-cluster dup group") {
    import spark.implicits._
    // two well-separated directions (x-axis vs y-axis) so the 2-means
    // clustering is unambiguous; cos(near-axis member, axis) ≈ 0.894,
    // safely under the 0.95 threshold
    val rows = Seq(
      0L -> Array(1f, 0f, 0.01f),    // X seed / dominator
      1L -> Array(0f, 1f, 0.01f),    // Y seed / dominator
      2L -> Array(0.9f, 0.45f, 0f),  // X member, distinct
      3L -> Array(0.45f, 0.9f, 0f),  // Y member, distinct
      4L -> Array(1f, 0f, 0.01f),    // identical to 0 → dropped
      5L -> Array(2f, 0f, 0.02f),    // doubled 0, cosine exactly 1 → dropped
      6L -> Array(0f, 1f, 0.01f),    // identical to 1 → dropped
      7L -> Array(-1f, 0f, 0f),      // anti-parallel: near nothing, survives
      9L -> Array(0.9f, 0.45f, 0f))  // identical to 2 → dropped only if 2 dominates
    val df = rows.toDF("vec_id", "embedding")
    def survivors(maxDom: Int) =
      Dedup.semanticDedup(df, "vec_id", "embedding",
          minCosine = 0.95, nlist = 2, iters = 1, maxDominators = maxDom)
        .collect().map(_.getLong(0)).toSet
    assert(survivors(48) == Set(0L, 1L, 2L, 3L, 7L))
    // cap semantics: with one dominator per cluster, 9's only near-dup
    // (2) is past the cap — 9 can still BE dropped only by a dominator,
    // and cos(0, 9) ≈ 0.894 < 0.95, so it survives
    assert(survivors(1) == Set(0L, 1L, 2L, 3L, 7L, 9L))
    // deterministic across runs
    assert(survivors(48) == survivors(48))
  }

  test("exact dedup treats NULL content as one group (null-safe join)") {
    import spark.implicits._
    // md5(NULL) is NULL: a plain equi-join on the fingerprint would drop
    // the null key and let every null-content row survive, silently
    // diverging from the window-over-md5 formulation (SQL windows group
    // NULLs together). The null-safe <=> join keeps exactly one.
    val rows = Seq(
      (1L, Some("alpha")), (2L, None: Option[String]), (3L, Some("alpha")),
      (4L, None), (5L, Some("beta")), (6L, None)
    ).toDF("doc_id", "text")
    val kept = Dedup.dedupByFingerprint(rows, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // "alpha" group -> 1, null group -> 2 (lowest id), "beta" -> 5
    assert(kept == Set(1L, 2L, 5L))
  }

  /** Brute-force exact Jaccard pair set over md5 7-gram shingle sets at
    * the operator's rational threshold — the ground truth the prefix
    * filter must reproduce EXACTLY (not approximately: no false
    * negatives is the operator's whole contract).
    */
  private def bruteJaccardPairs(
      df: DataFrame, num: Long, den: Long, n: Int): Set[(Long, Long, Long)] = {
    val sh = df.select(col("doc_id"),
      array_sort(array_distinct(transform(
        graft.functions.TextFunctions.charNGrams(col("text"), n),
        g => md5(g.cast(BinaryType))))).as("sh"))
      .filter(size(col("sh")) > 0)
    sh.as("l").join(sh.as("r"), col("l.doc_id") < col("r.doc_id"))
      .withColumn("ov", graft.expressions.SortedOverlapExpression
        .sortedOverlap(col("l.sh"), col("r.sh")).cast(LongType))
      .filter(lit(den) * col("ov") >=
        lit(num) * (size(col("l.sh")) + size(col("r.sh")) - col("ov")))
      .select(col("l.doc_id"), col("r.doc_id"), col("ov"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  test("exact Jaccard prefix-filter join == brute force on the planted corpus") {
    val got = Dedup.exactJaccardPairs(planted, "doc_id", "text", 1, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = bruteJaccardPairs(planted, 1, 2, 7)
    assert(want.nonEmpty, "planted corpus must contain true pairs")
    assert(got == want)
  }

  test("exact Jaccard: inclusive rational boundary, no double rounding") {
    import spark.implicits._
    // shingleSize=1 makes the shingle set the distinct-character set:
    // A/B share 8 of 9 characters -> J = 8/10 = threshold, INCLUDED;
    // C vs A overlaps 7 -> 7/11 < 0.8, excluded by the exact verify
    val docs = Seq(
      (1L, "abcdefghi"), (2L, "abcdefghj"), (3L, "abcdefgxy")
    ).toDF("doc_id", "text")
    val got = Dedup.exactJaccardPairs(docs, "doc_id", "text", 8, 10,
        shingleSize = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 2L, 8L)))
  }

  test("exact Jaccard: raw text never crosses a keyed exchange") {
    // the operator's scale contract: documents travel as md5 tokens
    // from the first projection on — every keyed shuffle (df table,
    // rank, candidate join, verify joins) carries 32-char hashes and
    // ids. The operator returns a checkpoint scan, so the interesting
    // plans are captured via a QueryExecutionListener while it runs
    // (the eager localCheckpoint fires the listener's onSuccess).
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Dedup.exactJaccardPairs(planted, "doc_id", "text", 1, 2).collect()
      // the listener bus is async; wait (bounded) for the plans
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (seen.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(!seen.isEmpty, "listener never observed the checkpoint action")
      def flatten(p: SparkPlan): Seq[SparkPlan] = {
        val kids = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: QueryStageExec => Seq(q.plan)
          case other => other.children
        }
        p +: kids.flatMap(flatten)
      }
      import scala.jdk.CollectionConverters._
      val keyedWithText = seen.asScala.toSeq.flatMap(flatten).collect {
        case e: ShuffleExchangeLike
            if (e.outputPartitioning.isInstanceOf[HashPartitioning] ||
              e.outputPartitioning.isInstanceOf[RangePartitioning]) &&
              e.output.exists(_.name == "text") => e
      }
      assert(keyedWithText.isEmpty,
        s"raw text crosses a keyed exchange:\n${keyedWithText.mkString("\n")}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("exact Jaccard == brute force on a random small-alphabet corpus") {
    import spark.implicits._
    // small alphabet + short strings -> dense natural overlap, so the
    // prefix filter's size/rank edge cases (tiny sets, p = 1, heavy
    // stop-grams shared by most docs) all occur; fixed seed keeps it
    // deterministic
    val rnd = new scala.util.Random(42)
    val docs = (1L to 60L).map { i =>
      val len = 6 + rnd.nextInt(12)
      (i, Array.fill(len)(('a' + rnd.nextInt(4)).toChar).mkString)
    }.toDF("doc_id", "text")
    val got = Dedup.exactJaccardPairs(docs, "doc_id", "text", 3, 10,
        shingleSize = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = bruteJaccardPairs(docs, 3, 10, 3)
    assert(want.nonEmpty)
    assert(got == want)
  }
}
