package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.expressions.ShingleSetExpression
import graft.operators.Dedup

/** [[ShingleSetExpression]] against the Column composition it replaced
  * in `Dedup.sign` ([[ShingleSetReference]]): same elements, same
  * `dataType` and nullability, and MinHash indexes that either one
  * wrote probe the same with either one.
  */
class ShingleSetSpec extends SparkSpec {

  /** Seeded strings over 1-, 2-, 3- and 4-byte code points and
    * combining marks, with runs that repeat shingles, at lengths
    * around every shingle size tested. */
  private def generated(count: Int, seed: Long): Seq[String] = {
    val r = new scala.util.Random(seed)
    val alphabets = Seq("ab", "abc ", "a\u00e9\u00df", "\u4e2d\u6587\u20ac",
      "x\uD83D\uDE00\uD800\uDF48", "e\u0301\u00e4 ",
      "a\u00e9\u4e2d\uD83D\uDE00\u0301\u0308 .")
    Seq.fill(count) {
      val cps = alphabets(r.nextInt(alphabets.size))
        .codePoints().toArray
      val len = r.nextInt(24)
      val sb = new java.lang.StringBuilder
      (0 until len).foreach(_ => sb.appendCodePoint(cps(r.nextInt(cps.length))))
      sb.toString
    }
  }

  private val fixed: Seq[String] = Seq(null, "", "a", "abcd", "abcde", "abcdef",
    "aaaaaaaaaaaa", "abababababab", "abcabcabcabcabc", "caf\u00e9 caf\u00e9 caf\u00e9",
    "\u4e2d\u6587\u4e2d\u6587\u4e2d\u6587", "\uD83D\uDE00\uD83D\uDE01\uD83D\uDE00\uD83D\uDE01",
    "e\u0301e\u0301e\u0301e\u0301", "Zu\u0308rich A\u030Angstro\u0308m", "  ")

  private def shingled(texts: Seq[String], n: Int, f: (Column, Int) => Column): Map[Int, Seq[String]] = {
    val schema = StructType(Seq(StructField("i", IntegerType, nullable = false),
      StructField("t", StringType)))
    val rows = texts.zipWithIndex.map { case (t, i) => Row(i, t) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .select(col("i"), f(col("t"), n).as("sh"))
      .collect().map(r => r.getInt(0) -> r.getSeq[String](1)).toMap
  }

  test("native shingle set equals the composition, element for element") {
    val texts = (fixed ++ generated(3000, 20261019L)).distinct
    for (n <- Seq(1, 2, 3, 5, 7)) {
      val native = shingled(texts, n, ShingleSetExpression.shingleSet)
      val reference = shingled(texts, n, ShingleSetReference.shingleSet)
      val diff = texts.indices.filter(i => native(i) != reference(i))
      assert(diff.isEmpty, s"n=$n\n" + diff.take(5).map(i =>
        s"${texts(i)}\n  native    ${native(i)}\n  reference ${reference(i)}").mkString("\n"))
      // the battery reaches empty, single and repeated-shingle sets
      val sizes = texts.indices.map(i => native(i).size)
      assert(sizes.contains(0) && sizes.contains(1))
      assert(texts.indices.exists(i => texts(i) != null &&
        native(i).size < texts(i).codePointCount(0, texts(i).length) - n + 1))
    }
  }

  test("a string ending in a truncated UTF-8 sequence shingles as substr reads it") {
    // unhex → string keeps the bytes unvalidated: a lead byte whose
    // continuation bytes are missing, after ASCII, 2- and 3-byte text
    val hex = Seq("61E282", "616263E282", "F09F98", "C3A9C3A9C3", "E4B8ADE6968720F09F", "C3")
    val df = hexFrame(hex)
    for (n <- Seq(1, 2, 3)) {
      val out = df.select(col("h"),
          ShingleSetExpression.shingleSet(col("t"), n).as("native"),
          ShingleSetReference.shingleSet(col("t"), n).as("reference"))
        .collect()
      for (r <- out) {
        val Seq(native, reference) = Seq(1, 2).map(r.getSeq[String](_))
        assert(native == reference, s"n=$n ${r.getString(0)}")
      }
      assert(out.exists(_.getSeq[String](1).nonEmpty))
    }
  }

  /** (`h`, `t` = the bytes of hex `h` as an unvalidated string), from
    * a checkpoint: each string is read from one stored row. */
  private def hexFrame(hex: Seq[String]): DataFrame = {
    import spark.implicits._
    hex.toDF("h").select(col("h"), unhex(col("h")).cast(StringType).as("t"))
      .localCheckpoint(true)
  }

  test("native shingle set: same dataType and nullability; eval == codegen") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val nullable = spark.range(1).select(lit(null).cast(StringType).as("t"))
    val notNull = spark.range(1).select(concat(lit("text "), col("id").cast("string")).as("t"))
    for (df <- Seq(nullable, notNull)) {
      val native = df.select(ShingleSetExpression.shingleSet(col("t"), 3)).schema.head
      val reference = df.select(ShingleSetReference.shingleSet(col("t"), 3)).schema.head
      assert(native.dataType == ArrayType(StringType, containsNull = true))
      assert(native.dataType == reference.dataType)
      assert(native.nullable == reference.nullable)
    }
    val texts = fixed ++ generated(200, 7L)
    val codegen = shingled(texts, 3, ShingleSetExpression.shingleSet)
    for ((t, i) <- texts.zipWithIndex) {
      val e = ShingleSetExpression(Literal.create(t, StringType), 3)
      val interpreted = e.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toSeq[AnyRef](StringType).map(_.toString)
      assert(codegen(i) == interpreted, String.valueOf(t))
    }
  }

  test("hasShingles is true exactly when the shingle set is non-empty") {
    val texts = fixed ++ generated(500, 11L)
    for (n <- Seq(1, 4, 7)) {
      val schema = StructType(Seq(StructField("t", StringType)))
      val out = spark.createDataFrame(
          spark.sparkContext.parallelize(texts.map(Row(_)), 2), schema)
        .select(ShingleSetExpression.hasShingles(col("t"), n),
          size(ShingleSetReference.shingleSet(col("t"), n)) > 0)
        .collect()
      assert(out.forall(r => !r.isNullAt(0) && r.getBoolean(0) == r.getBoolean(1)))
    }
  }

  /** A small corpus, and a batch of near-copies (a tail cut) plus
    * rewritten docs that match nothing. */
  private def corpusAndBatch(): (DataFrame, DataFrame) = {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("doc_id") < 100).select(col("doc_id"), col("text"))
    val batch = docs.filter(col("doc_id") < 30).select(
      (col("doc_id") + 100000).as("doc_id"),
      when(col("doc_id") < 15, expr("substring(text, 1, greatest(length(text) - 15, 40))"))
        .otherwise(concat(lit("prefix that rewrites this doc entirely "),
          expr("reverse(text)"))).as("text"))
    (corpus, batch)
  }

  private def pairs(sigs: DataFrame, idx: String): Set[(Long, Long, Double, Boolean)] =
    Dedup.probeIndex(sigs, idx, 0.5, 7, 96, 24, 10000).pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))).toSet

  test("indexes written by either shingler probe the same with either, schema unchanged") {
    val (corpus, batch) = corpusAndBatch()
    val tmp = java.nio.file.Files.createTempDirectory("graft-shingle-compat").toString
    val (refIdx, newIdx) = (s"$tmp/ref", s"$tmp/new")
    // the index as the composition wrote it
    Dedup.writeIndexRows(ShingleSetReference.sign(corpus, "doc_id", "text", 7, 96, 24),
      "overwrite", refIdx): Unit
    Dedup.writeMinHashMeta(spark, refIdx, 7, 96, 24, None)
    Dedup.writeMinHashIndex(corpus, newIdx, "doc_id", "text")

    def footer(dir: String) = {
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      val conf = spark.sparkContext.hadoopConfiguration
      val f = graft.sources.Tables.dataFiles(
        new org.apache.hadoop.fs.Path(dir).getFileSystem(conf),
        new org.apache.hadoop.fs.Path(dir)).head.getPath
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try {
        val m = r.getFooter.getFileMetaData
        (m.getSchema.toString, m.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
      } finally r.close()
    }
    assert(footer(newIdx) == footer(refIdx))

    val parent = pairs(ShingleSetReference.sign(batch, "doc_id", "text", 7, 96, 24), refIdx)
    assert(parent.size >= 15, parent)
    assert(pairs(Dedup.sign(batch, "doc_id", "text", 7, 96, 24), refIdx) == parent)
    assert(pairs(ShingleSetReference.sign(batch, "doc_id", "text", 7, 96, 24), newIdx) == parent)
  }
}

/** The Column composition that [[ShingleSetExpression]] replaced in
  * `Dedup.sign`, kept as the reference the native expression must
  * equal, and `Dedup.sign` as it was built on it.
  */
object ShingleSetReference {

  def shingleSet(text: Column, n: Int): Column =
    array_sort(array_distinct(graft.functions.TextFunctions.charNGrams(text, n)))

  def sign(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, numHashes: Int, bands: Int): DataFrame =
    df.select(col(idCol).as("_id"), shingleSet(col(textCol), shingleSize).as("_sh"))
      .filter(size(col("_sh")) > 0)
      .withColumn("_sig", graft.expressions.MinHashSignatureExpression
        .minhashSignatureNative(col("_sh"), numHashes))
      .withColumn("_bands", graft.expressions.BandKeysExpression
        .bandKeysNative(col("_sig"), bands, numHashes / bands))
}
