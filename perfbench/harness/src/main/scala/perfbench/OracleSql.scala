package perfbench

/** Prints the engine's DuckDB oracle SQL for the named queries as one
  * JSON object (name → SQL), for `make_expected.py`.
  *
  * Usage: OracleSql q01_pricing_summary q02_filter_project ...
  */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val all = graft.SparkEntry.oracleSql
    println(args.filter(all.contains)
      .map(n => s"${Json.str(n)}:${Json.str(all(n))}").mkString("{", ",", "}"))
  }
}
