package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.sources.Tables

class SimilaritySpec extends SparkSpec {

  lazy val emb = Tables.embeddings(spark, sfDir).cache()
  lazy val queries = emb.filter(col("vec_id") < 8)

  lazy val exact: Map[Long, Seq[Long]] =
    Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 10)
      .collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rows) =>
        q -> rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("neighbor_id")).toSeq
      }

  test("brute-force top-k returns k ranked neighbors per query") {
    assert(exact.size == 8)
    exact.values.foreach(n => assert(n.size == 10))
  }

  test("LSH ANN always finds planted identical twins at rank 1") {
    // the ANN contract that matters at scale: a true near-duplicate
    // (cosine ~ 1) shares the query's signature bucket and wins rank 1.
    // (Mid-similarity top-k on random vectors is NOT an LSH guarantee.)
    val twins = emb.filter(col("vec_id") < 8)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    val corpus = emb.select(col("vec_id"), col("embedding")).unionAll(twins)
    val ann = Similarity.lshTopK(corpus, twins, "vec_id", "embedding",
        k = 3, dim = 64, nBits = 8, multiProbeBits = 1)
      .filter(col("rank") === 1)
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id"))
    assert(ann.length == 8)
    ann.foreach { case (q, n) => assert(n == q - 10000, s"query $q top-1 was $n") }
  }

  test("LSH ANN candidates are a subset of correctly-ranked exact results") {
    val ann = Similarity.lshTopK(emb, queries, "vec_id", "embedding",
        k = 10, dim = 64, nBits = 8, multiProbeBits = 1).collect()
    // every reported (query, neighbor) cosine must match the exact cosine
    // ranking among the candidate set — i.e. no wrong ordering, ranks 1..n
    ann.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      val cosines = sorted.map(_.getAs[Double]("cosine"))
      assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b })
    }
  }

  test("IVF ANN with nprobe=8 of nlist=16 recovers most of the exact top-10") {
    val ann = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
        k = 10, nlist = 16, nprobe = 8)
      .collect().groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rows) => q -> rows.map(_.getAs[Long]("neighbor_id")).toSet }
    val recalls = exact.map { case (q, truth) =>
      ann.get(q).map(found => truth.toSet.intersect(found).size / 10.0).getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.4, s"mean recall@10 = $mean")
  }

  test("multi-probe radius 2 reaches hamming-2 buckets radius 1 cannot") {
    import graft.functions.VectorFunctions
    val sigs = emb.select(col("vec_id"),
        VectorFunctions.lshSignature(col("embedding"), 12, 64).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // find a (query, corpus) pair whose signatures differ in EXACTLY 2 bits
    val pair = (for {
      (q, sq) <- sigs.iterator
      (c, sc) <- sigs.iterator
      if q != c && java.lang.Long.bitCount(sq ^ sc) == 2
    } yield (q, c)).take(1).toSeq.headOption
    assert(pair.nonEmpty, "corpus holds no signature pair at hamming 2 — retune nBits")
    val (qid, cid) = pair.get
    val qdf = emb.filter(col("vec_id") === qid)
    def found(radius: Int): Set[Long] =
      Similarity.lshTopK(emb, qdf, "vec_id", "embedding",
          k = 1000000, dim = 64, nBits = 12, multiProbeBits = radius)
        .collect().map(_.getAs[Long]("neighbor_id")).toSet
    // radius 1 probes only single-bit flips: the hamming-2 bucket is out
    // of reach; radius 2 must enumerate ALL ≤2-bit masks and find it
    assert(!found(1).contains(cid), s"hamming-2 neighbor $cid reachable at radius 1")
    assert(found(2).contains(cid),
      s"multiProbeBits=2 did not reach the hamming-2 bucket of $cid")
  }

  test("q74 fixture: planted twin sits at signature distance exactly 2 and only radius 2 finds it") {
    import spark.implicits._
    import graft.functions.VectorFunctions
    import graft.queries.TrainingData.MultiProbeFixture._
    // the constructed properties the hard-coded constants must keep
    // (re-verified here so a hyperplane-seed or signature change can
    // never silently rot the q74 oracle): distance EXACTLY 2, and the
    // twin's cosine dominates every natural corpus vector
    val pair = Seq((queryId, queryVec.toSeq), (twinId, twinVec.toSeq))
      .toDF("vec_id", "embedding")
    val sigs = pair.select(col("vec_id"),
        VectorFunctions.lshSignature(col("embedding"), 12, 64).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(java.lang.Long.bitCount(sigs(queryId) ^ sigs(twinId)) == 2)
    // GOLDEN signatures: pins the hyperplane derivation itself (seed
    // chain, ±1 mapping, fold order). A change that preserved the
    // distance-2 property could still re-bucket every PERSISTED index
    // on disk — this catches it
    assert(sigs(queryId) == 2674L && sigs(twinId) == 2680L,
      s"hyperplane derivation changed: ${sigs(queryId)}/${sigs(twinId)} != 2674/2680")
    val qLit = typedlit(queryVec.toSeq)
    val twinCos = VectorFunctions.cosine(qLit, typedlit(twinVec.toSeq))
    val maxNatural = emb
      .agg(max(VectorFunctions.cosine(col("embedding"), qLit)).as("m"),
        max(twinCos).as("t"))
      .collect()(0)
    assert(maxNatural.getDouble(1) > 0.99, "twin cosine degraded")
    assert(maxNatural.getDouble(0) < maxNatural.getDouble(1) - 0.5,
      s"twin no longer dominates: natural ${maxNatural.getDouble(0)}")
    // the end-to-end contract: radius 2 puts the twin at rank 1;
    // radius 1 (and 0) cannot even see its bucket — the probe
    // expansion is doing the work, not a lucky collision
    val corpus = emb.select(col("vec_id"), col("embedding"))
      .unionByName(Seq((twinId, twinVec.toSeq)).toDF("vec_id", "embedding"))
    val queries = Seq((queryId, queryVec.toSeq)).toDF("vec_id", "embedding")
    def top1(radius: Int): Set[Long] =
      Similarity.lshTopK(corpus, queries, "vec_id", "embedding",
          k = 1, dim = 64, nBits = 12, multiProbeBits = radius)
        .collect().map(_.getAs[Long]("neighbor_id")).toSet
    assert(top1(2) == Set(twinId), "radius 2 missed the planted twin")
    assert(!top1(1).contains(twinId), "radius 1 unexpectedly reached a hamming-2 bucket")
    assert(!top1(0).contains(twinId), "exact-signature bucketing unexpectedly matched")
  }

  test("k-means refinement: bit-deterministic, never worsens assignment quality, preserves IVF recall") {
    import graft.operators.Similarity
    import graft.functions.VectorFunctions
    val corpus = emb.select(col("vec_id"), col("embedding"))
    def fit(iters: Int) = Similarity
      .fitCentroids(corpus, "vec_id", "embedding", nlist = 8, iters = iters)
    // bit-determinism: decimal-exact means — two fits over different
    // partitionings of the same data must agree exactly
    def snapshot(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toList).toMap
    val run1 = snapshot(fit(2))
    val run2 = snapshot(Similarity.fitCentroids(
      corpus.repartition(7), "vec_id", "embedding", nlist = 8, iters = 2))
    assert(run1 == run2, "k-means fit is not partition-independent")
    // quality: mean cosine of each vector to its assigned centroid
    // must not degrade vs the id-sampled seed
    def meanCos(cents: org.apache.spark.sql.DataFrame): Double =
      Similarity.assignToCentroid(corpus, cents, "vec_id", "embedding", "_id")
        .join(cents, Seq("centroid_id"))
        .agg(avg(VectorFunctions.cosine(col("_cv"), col("_centroid"))))
        .head().getDouble(0)
    val (seedQ, refinedQ) = (meanCos(fit(0)), meanCos(fit(2)))
    assert(refinedQ >= seedQ - 1e-9,
      s"refinement degraded assignment quality: $seedQ -> $refinedQ")
    // recall: a planted identical twin still lands at rank 1 through
    // ivfTopK with refined centroids (twin and query share arithmetic,
    // so nprobe >= 1 always probes the twin's list)
    import spark.implicits._
    val planted = corpus.unionByName(
      corpus.filter(col("vec_id") < 5)
        .select((col("vec_id") + 900000L).as("vec_id"), col("embedding")))
    val queries = corpus.filter(col("vec_id") < 5)
    val top1 = Similarity.ivfTopK(planted, queries, "vec_id", "embedding",
        k = 1, nlist = 8, nprobe = 2, refineIters = 2)
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    (0L until 5L).foreach(q =>
      assert(top1(q) == q + 900000L, s"refined IVF lost the twin of $q"))
  }

  test("centroid scorer matches an independent cross-join + row_number reference") {
    // the reference ranks every (row, centroid) pair with a window over
    // (cosine desc nulls last, centroid id asc) — the contract the
    // scorer's sorted (negsim, cid) array must reproduce exactly
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorFunctions
    import spark.implicits._
    def reference(df: DataFrame, cents: DataFrame, nprobe: Int): Set[(Long, Long, Int)] = {
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(desc_nulls_last("_sim"), asc("centroid_id"))
      df.crossJoin(cents)
        .withColumn("_sim", VectorFunctions.cosine(col("embedding"), col("_centroid")))
        .withColumn("_r", row_number().over(w))
        .filter(col("_r") <= nprobe)
        .select(col("vec_id").cast("long"), col("centroid_id").cast("long"), col("_r"))
        .as[(Long, Long, Int)].collect().toSet
    }
    def scorer(df: DataFrame, cents: DataFrame, nprobe: Int): Set[(Long, Long, Int)] =
      Similarity.rankCentroids(df, cents, "embedding", nprobe, "_near")
        // rank = 1-based position in the scorer's nearest-first array
        .select(col("vec_id").cast("long"), posexplode(col("_near")).as(Seq("_p", "_b")))
        .select(col("vec_id"), col("_b.cid").cast("long"), (col("_p") + 1).as("_r"))
        .as[(Long, Long, Int)].collect().toSet
    val base = emb.filter(col("vec_id") < 40).select(col("vec_id"), col("embedding"))
    // a zero vector (NULL cosine everywhere: lowest id wins, as nulls
    // sort last) and a duplicated centroid (id 107 repeats vector 3:
    // the lower id must win every tie)
    val zero = Seq((1000L, Array.fill(64)(0.0f))).toDF("vec_id", "embedding")
    val corpus = base.unionByName(zero)
    val cents = base.filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("_centroid"))
      .unionByName(base.filter(col("vec_id") === 3)
        .select(lit(107L).as("centroid_id"), col("embedding").as("_centroid")))
    // each variant rewrites a frame given its (id, vector) column names
    val variants = Seq[(String, (DataFrame, String, String) => DataFrame)](
      "float" -> ((df, _, _) => df),
      "double" -> ((df, _, v) => df.withColumn(v, col(v).cast("array<double>"))),
      "int id" -> ((df, id, _) => df.withColumn(id, col(id).cast("int"))))
    for ((name, f) <- variants; nprobe <- Seq(1, 3)) {
      val (d, c) = (f(corpus, "vec_id", "embedding"), f(cents, "centroid_id", "_centroid"))
      val (want, got) = (reference(d, c, nprobe), scorer(d, c, nprobe))
      assert(got == want, s"$name nprobe=$nprobe: ${(got diff want) ++ (want diff got)}")
      assert(got.size == 41 * nprobe)
      assert(got.contains((3L, 3L, 1)) && !got.exists(t => t._2 == 107L && t._3 == 1),
        s"$name: duplicated centroid beat the lower id")
      assert(got.contains((1000L, 0L, 1)), s"$name: zero vector not on the lowest id")
    }
    val empty = cents.filter(lit(false))
    val e = intercept[Exception](
      Similarity.assignToCentroid(corpus, empty, "vec_id", "embedding", "_id").collect())
    assert(e.getMessage.contains("empty centroid set"), e.getMessage)
  }

  test("ANN plans never sort data through a global (empty-partition) window") {
    import org.apache.spark.sql.execution.window.WindowExec
    // a Window with no partitionSpec funnels the whole input through ONE
    // partition — the classic silent scale-killer this asserts against
    def globalWindows(df: org.apache.spark.sql.DataFrame): Seq[WindowExec] =
      df.queryExecution.executedPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
    val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", k = 3)
    ivf.count()
    assert(globalWindows(ivf).isEmpty, "ivfTopK plans a global window")
    val lsh = Similarity.lshTopK(emb, queries, "vec_id", "embedding",
      k = 3, dim = 64, nBits = 8)
    lsh.count()
    assert(globalWindows(lsh).isEmpty, "lshTopK plans a global window")
  }

  test("persisted IVF index: pruned partition read, same results as in-memory IVF") {
    val path = java.nio.file.Files.createTempDirectory("graft-ivf").toString + "/idx"
    Similarity.writeIvfIndex(emb, path, "vec_id", "embedding", nlist = 16)
    // the index directory is physically partitioned by centroid
    val parts = new java.io.File(path + "/index").listFiles()
      .map(_.getName).filter(_.startsWith("centroid_id="))
    assert(parts.length == 16, s"expected 16 centroid partitions, got ${parts.length}")
    val fromIndex = Similarity.ivfTopKFromIndex(spark, path, queries,
      "vec_id", "embedding", k = 10, nprobe = 4)
    // pruning is in the PLAN, not just the result: the scan must carry
    // a centroid_id partition filter (pruned read, not scan-and-discard)
    val plan = fromIndex.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [centroid_id")
      || plan.contains("PartitionFilters: [dynamicpruning")
      || """PartitionFilters: \[.*centroid_id""".r.findFirstIn(plan).nonEmpty,
      s"no partition pruning in index scan:\n$plan")
    // identical contract to the in-memory path at the same (nlist, nprobe)
    val inMem = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
      k = 10, nlist = 16, nprobe = 4)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(canon(fromIndex) == canon(inMem))
  }

  test("persisted IVF index accepts an IntegerType id corpus") {
    // partition-value inference reads centroid_id back as INT32 when the
    // corpus ids are ints; the probed-centroid collect must not assume
    // longs (regression: ClassCastException at query time even though
    // writeIvfIndex succeeded)
    val intEmb = emb.withColumn("vec_id", col("vec_id").cast("int"))
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-int").toString + "/idx"
    Similarity.writeIvfIndex(intEmb, path, "vec_id", "embedding", nlist = 8)
    val got = Similarity.ivfTopKFromIndex(spark, path,
      intEmb.filter(col("vec_id") < 3), "vec_id", "embedding", k = 5, nprobe = 2)
    assert(got.count() == 15, "int-id index query returned wrong row count")
  }

  test("cosine of a vector with itself is 1") {
    import graft.functions.VectorFunctions
    val self = emb.limit(5)
      .select(VectorFunctions.cosine(col("embedding"), col("embedding")).as("c"))
      .collect().map(_.getDouble(0))
    self.foreach(c => assert(math.abs(c - 1.0) < 1e-12))
  }

  test("IVF append: appended index is indistinguishable from a one-shot build") {
    val corpus = emb.select(col("vec_id"), col("embedding"))
    val oneShot = java.nio.file.Files.createTempDirectory("ivf_one").toString
    val appended = java.nio.file.Files.createTempDirectory("ivf_app").toString
    Similarity.writeIvfIndex(corpus, oneShot, "vec_id", "embedding", nlist = 16)
    // batch 0 holds every id < 20 => identical centroid sample
    val b0 = corpus.where(col("vec_id") < 20 || col("vec_id") % 3 === 0)
    val b1 = corpus.where(col("vec_id") >= 20 && col("vec_id") % 3 === 1)
    val b2 = corpus.where(col("vec_id") >= 20 && col("vec_id") % 3 === 2)
    Similarity.writeIvfIndex(b0, appended, "vec_id", "embedding", nlist = 16)
    Similarity.appendToIvfIndex(spark, appended, b1, "vec_id", "embedding")
    Similarity.appendToIvfIndex(spark, appended, b2, "vec_id", "embedding")
    // identical centroids and identical (vector -> centroid) assignment
    def centroids(p: String) = spark.read.parquet(s"$p/centroids")
      .collect().map(_.getLong(0)).toSet
    assert(centroids(oneShot) == centroids(appended))
    def assignment(p: String) = spark.read.parquet(s"$p/index")
      .select(col("neighbor_id"), col("centroid_id"))
      .collect().map(r => r.getLong(0) -> r.getAs[Number](1).longValue).toMap
    assert(assignment(oneShot) == assignment(appended))
    // identical search answers
    val q = emb.filter(col("vec_id") < 8)
    def search(p: String) = Similarity.ivfTopKFromIndex(spark, p, q,
        "vec_id", "embedding", k = 3, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(search(oneShot) == search(appended))
    // append really appended: batch-1/2 files landed NEXT TO batch-0
    // files, none rewritten
    val idxDir = new java.io.File(s"$appended/index")
    assert(idxDir.listFiles().count(_.getName.startsWith("centroid_id=")) > 0)
  }

  test("mmrTopK: diversity penalty breaks up a near-duplicate cluster") {
    import spark.implicits._
    // query along e1; corpus: a cluster of 3 near-copies with the
    // highest relevance, plus two moderately-relevant but mutually
    // near-orthogonal vectors. Plain top-3 = the cluster; at a
    // diversity-heavy λ=30 MMR must pick ONE cluster member then the
    // two outsiders (hand math: pick-2 scores 30·rel − 70·maxSim are
    // v2: 30·.94−70·.896 = −34.5 vs v4: 30·.6−70·.57 = −21.9).
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)), // query
      (1L, Array(0.95f, 0.05f, 0.0f, 0.0f)),
      (2L, Array(0.94f, 0.06f, 0.0f, 0.0f)),
      (3L, Array(0.93f, 0.07f, 0.0f, 0.0f)),
      (4L, Array(0.6f, 0.0f, 0.8f, 0.0f)),
      (5L, Array(0.6f, 0.0f, 0.0f, 0.8f)))
      .toDF("vec_id", "embedding")
    val corpus = vecs.filter(col("vec_id") > 0)
    val query = vecs.filter(col("vec_id") === 0)
    val got = Similarity.mmrTopK(corpus, query, "vec_id", "embedding",
        shortlist = 5, k = 3, lambdaPct = 30)
      .orderBy("sel_rank").collect().map(_.getLong(1)).toSeq
    assert(got == Seq(1L, 4L, 5L), s"got $got")
    // λ=100 degenerates to plain relevance top-k: the whole cluster
    val plain = Similarity.mmrTopK(corpus, query, "vec_id", "embedding",
        shortlist = 5, k = 3, lambdaPct = 100)
      .orderBy("sel_rank").collect().map(_.getLong(1)).toSeq
    assert(plain == Seq(1L, 2L, 3L), s"got $plain")
  }
}
