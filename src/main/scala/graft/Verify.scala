package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare. The optional
  * query list (dev only) selects as `graft.Bench subset` does.
  */
object Verify {
  val usage = "usage: graft.Verify <sfDir> <outDir> [q,...]"

  def parse(args: Seq[String]): Either[String, (String, String, Seq[(String, Bench.Query)])] =
    args match {
      case Seq(sfDir, outDir) => Right((sfDir, outDir, SparkEntry.queries.toSeq))
      case Seq(sfDir, outDir, list) => Bench.select(list).map((sfDir, outDir, _))
      case _ => Left(s"unexpected arguments: ${args.mkString(" ")}")
    }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, queries) = Bench.orUsage(parse(args.toSeq), usage)
    val spark = GraftSession.local(GraftSession.cpus)
    val runner = new Bench.Runner(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    queries.foreach { case (name, fn) =>
      try GraftSession.withLabel(spark.sparkContext, name) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // checkpoint blocks would otherwise pile up across 270+ queries in
      // one JVM. ASSUMES queries are independent: a query's checkpoints
      // are gone (lineage truncated) before the next one runs.
      runner.drop()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
