package graft

import org.apache.spark.sql.functions._

import graft.operators.Quantize
import graft.sources.Tables

class QuantizeSpec extends SparkSpec {

  private lazy val emb =
    Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))

  test("int8 roundtrip error is bounded by qscale/2 per element") {
    val qz = Quantize.quantizeInt8(emb, "vec_id", "embedding")
    val joined = qz.join(emb, "vec_id")
      .select(col("vec_id"),
        zip_with(
          Quantize.dequantize(col("qvec"), col("qmin"), col("qscale")),
          col("embedding"),
          (d, x) => abs(d - x.cast("double"))).as("err"),
        col("qscale"))
    val bad = joined
      // + 1e-12 absorbs the dequant arithmetic's own rounding ulps
      .filter(exists(col("err"), e => e > col("qscale") / 2 + lit(1e-12)))
      .count()
    assert(bad == 0, s"$bad vectors exceed the qscale/2 error bound")
    // codes must actually be int8-range
    val outOfRange = qz.filter(
      exists(col("qvec"), q => q < 0 || q > 255)).count()
    assert(outOfRange == 0)
  }

  test("quantized search still ranks an identical planted twin first") {
    // identical vectors quantize identically, so the dequantized twin
    // has cosine exactly 1.0 with the query's dequantized self — the
    // quantization must not cost recall on exact duplicates
    val planted = emb.unionAll(
      emb.filter(col("vec_id") < 10)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
    val qz = Quantize.quantizeInt8(planted, "vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 10)
    val top = Quantize.dequantCosineTopK(qz, queries, "vec_id", "embedding", k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until 10).foreach { i =>
      assert(top(i.toLong) == i + 100000L, s"query $i: got ${top(i.toLong)}")
    }
  }

  test("constant and empty vectors quantize without dividing by zero") {
    import spark.implicits._
    val odd = Seq(
      (1L, Array(2.5f, 2.5f, 2.5f)), // constant: qscale 0
      (2L, Array[Float]())           // empty
    ).toDF("vec_id", "embedding")
    val qz = Quantize.quantizeInt8(odd, "vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(qz(1L).getSeq[Int](3).forall(_ == 0))
    assert(qz(1L).getDouble(1) == 2.5 && qz(1L).getDouble(2) == 0.0)
    assert(qz(2L).getSeq[Int](3).isEmpty)
    // dequantizing the constant vector restores it exactly
    val dq = Quantize.dequantCosineTopK(
      Quantize.quantizeInt8(odd.filter(col("vec_id") === 1), "vec_id", "embedding"),
      odd.filter(col("vec_id") === 1).withColumn("vec_id", col("vec_id") + 1),
      "vec_id", "embedding", k = 1).collect()
    assert(dq.length == 1 && dq(0).getDouble(2) > 0.999999)
  }

  test("PQ: encode is one zero-shuffle projection and codes match per-subspace assignment") {
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val cbs = Quantize.pqCodebooks(emb, "vec_id", "embedding",
      subDim = 32, m = 2, nlist = 8, iters = 1)
    val codes = Quantize.pqEncode(emb, "vec_id", "embedding", cbs, 32)
    // plan: scan → projection; only the codebook rows' own broadcast
    // sides may shuffle, never the corpus
    codes.collect() // finalize the AQE plan
    assert(StreamedShuffles(codes).isEmpty, "PQ encode must not shuffle the corpus")
    // codes agree with the shared assignment operator per subspace —
    // for float vectors and for the same corpus widened to double
    val dbl = emb.withColumn("embedding", col("embedding").cast("array<double>"))
    val dblCbs = Quantize.pqCodebooks(dbl, "vec_id", "embedding",
      subDim = 32, m = 2, nlist = 8, iters = 1)
    for ((corpus, books) <- Seq(emb -> cbs, dbl -> dblCbs)) {
      val encoded = Quantize.pqEncode(corpus, "vec_id", "embedding", books, 32)
      for (j <- 0 to 1) {
        val sub = corpus.select(col("vec_id"),
          slice(col("embedding"), j * 32 + 1, 32).as("_sub"))
        val want = graft.operators.Similarity
          .assignToCentroid(sub, books(j), "vec_id", "_sub", "_vid")
          .select(col("_vid"), col("centroid_id")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val got = encoded.select(col("vec_id"), col(s"code_$j")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == want, s"subspace $j codes diverge from assignToCentroid")
      }
    }
  }

  test("PQ ADC top-1 equals a brute-force recompute from codebooks and codes") {
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val cbs = Quantize.pqCodebooks(emb, "vec_id", "embedding", 32, 2, 8, 1)
    val codes = Quantize.pqEncode(emb, "vec_id", "embedding", cbs, 32)
    val got = Quantize.pqTopK(codes, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", cbs, 32, k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // driver-side recompute with the same left-fold double arithmetic
    val books = cbs.map(_.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap)
    val codeMap = codes.collect()
      .map(r => r.getLong(0) -> Seq(r.getLong(1), r.getLong(2))).toMap
    def ip(a: Seq[Float], b: Seq[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    val queries = emb.filter(col("vec_id") < 5).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1))
    for ((qid, qv) <- queries) {
      val subs = Seq(qv.slice(0, 32), qv.slice(32, 64))
      val best = codeMap.iterator.filter(_._1 != qid).map { case (cid, cc) =>
        val score = ip(subs(0), books(0)(cc(0))) + ip(subs(1), books(1)(cc(1)))
        (cid, score)
      }.toSeq.sortBy { case (cid, sc) => (-sc, cid) }.head._1
      assert(got(qid) == best, s"query $qid: got ${got(qid)} want $best")
    }
  }
}
