package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Synthetic scale-up generator for scaling-curve benchmarks: replicates
  * the harness star schema N× with key-shifted copies, preserving the
  * statistical shape per copy while keeping copies mutually unrelated.
  *
  *   - Fact/scaled tables (customer/supplier/part/orders/lineitem/
  *     events/documents/embeddings) get `copies` replicas with every
  *     key column shifted by copy·10⁷ — foreign keys shift together, so
  *     join fan-outs and selectivities scale linearly (TPC-H scales the
  *     same tables with SF).
  *   - Fixed dimensions (region/nation) stay as they are.
  *   - `documents.text` is letter-rotated per copy (a substitution
  *     cipher): token/char counts are preserved (text-stats work scales
  *     exactly linearly) while shingle vocabularies become disjoint
  *     across copies — a 10× corpus must NOT be 10 identical copies to
  *     a near-dup operator, or every document gains 9 artificial
  *     exact-dups and the "dedup" measurement becomes a flood test.
  *   - `embeddings.embedding` gets deterministic per-(copy, vector,
  *     component) noise pushing cross-copy cosine to ≈ 0.3, for the
  *     same reason.
  *
  * Usage: runMain graft.tools.ScaleData <srcSfDir> <dstDir> <copies>
  */
object ScaleData {

  private val Offset = 10000000L

  private def replicate(base: DataFrame, copies: Int)(shift: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until copies).map(k => shift(base, k)).reduce(_ unionByName _)

  def main(args: Array[String]): Unit = {
    val Array(src, dst, copiesStr) = args
    val copies = copiesStr.toInt
    val spark = graft.GraftSession.local(graft.GraftSession.cpus)

    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")

    // fixed dims: pass through
    Seq("region", "nation").foreach(t => write(read(t), t))

    def shiftCols(df: DataFrame, k: Int, keys: String*): DataFrame =
      keys.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(Offset * k)))

    write(replicate(read("customer"), copies)(shiftCols(_, _, "c_custkey")), "customer")
    write(replicate(read("supplier"), copies)(shiftCols(_, _, "s_suppkey")), "supplier")
    write(replicate(read("part"), copies)(shiftCols(_, _, "p_partkey")), "part")
    write(replicate(read("orders"), copies)(
      shiftCols(_, _, "o_orderkey", "o_custkey")), "orders")
    write(replicate(read("lineitem"), copies)(
      shiftCols(_, _, "l_orderkey", "l_partkey", "l_suppkey")), "lineitem")
    write(replicate(read("events"), copies)(
      shiftCols(_, _, "event_id", "user_id")), "events")

    // documents: shift ids, rotate the alphabet per copy (length- and
    // whitespace-preserving, shingle-vocabulary-disjoint). The ring
    // must be LARGER than the copy count or rotations repeat (copy
    // k ≡ k+ring produced IDENTICAL text — the round-9 sf3 sweep
    // caught q112 measuring 4 pairs of duplicated corpora instead of
    // a 30× corpus). Ring = a-z0-9 (36) + Latin-1 letters À..ÿ minus
    // ×/÷ (62) + Latin Extended-A/B Ā..ǿ (256) = 354 chars,
    // supporting the round-14 ask's 300-copy (sf30) probe. Source
    // text is letters-only, so distinct rotations produce distinct
    // token images; letters mapping into digits/accented letters is
    // fine for bench-only fixtures (char lengths, whitespace, and
    // token boundaries preserved — Spark string ops are char-based).
    val alpha = "abcdefghijklmnopqrstuvwxyz0123456789" +
      (0xC0 to 0xFF).filter(c => c != 0xD7 && c != 0xF7)
        .map(_.toChar).mkString +
      (0x100 until 0x200).map(_.toChar).mkString
    require(copies <= alpha.length,
      s"text rotation ring supports at most ${alpha.length} disjoint copies, got $copies")
    write(replicate(read("documents"), copies) { (d, k) =>
      val rot = (k % alpha.length)
      val to = alpha.drop(rot) + alpha.take(rot)
      shiftCols(d, k, "doc_id")
        .withColumn("text",
          if (rot == 0) col("text")
          else translate(col("text"), alpha, to))
    }, "documents")

    // embeddings: shift ids, add deterministic per-copy noise
    write(replicate(read("embeddings"), copies) { (d, k) =>
      val shifted = shiftCols(d, k, "vec_id")
      if (k == 0) shifted
      else shifted.withColumn("embedding",
        transform(col("embedding"), (x, i) =>
          x + ((pmod(xxhash64(col("vec_id"), lit(k), i), lit(2001)) - lit(1000))
            .cast(DoubleType) / lit(1000.0) * lit(0.7)).cast(FloatType)))
    }, "embeddings")

    graft.sources.Tables.names.foreach { t =>
      println(s"[scale] $t rows=" + spark.read.parquet(s"$dst/$t.parquet").count())
    }
    spark.stop()
  }
}
