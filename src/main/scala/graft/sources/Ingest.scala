package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Remaining ingest/catalog surface (SURVEY.md §2.1 S4–S8, §2.8 K4).  */
object Ingest {

  /** S4: relational-store scan. In production: `spark.read.format("jdbc")
    * .option("url", …).option("dbtable", tbl)` with predicate pushdown;
    * the zero-egress testbed reads the same table from parquet.
    */
  def jdbcOrParquet(spark: SparkSession, jdbcUrl: Option[String],
      table: String, parquetDir: String): DataFrame =
    jdbcUrl match {
      case Some(url) => spark.read.format("jdbc")
        .option("url", url).option("dbtable", table).load()
      case None => Tables.load(spark, parquetDir, table)
    }

  /** S5: column names in ordinal order — the reference queries
    * information_schema (`catch_duplicates_script.py:45-51`); in Spark
    * the schema IS the catalog.
    */
  def columnNames(df: DataFrame): Seq[String] = df.schema.fieldNames.toSeq

  /** S6: table-existence probe (`retroactive_table_log.py:51-58`). */
  def tableExists(spark: SparkSession, name: String): Boolean =
    spark.catalog.tableExists(name)

  /** S7: Frost-style nested weather observations → flat rows
    * (`/root/reference/frostapi.py:28-38`,
    * `usamonarchbutterflies.py:54-69`): `explode` the observations
    * array, project the succinct column set (P3).
    */
  def explodeObservations(nested: DataFrame): DataFrame =
    nested.select(
        col("sourceId"), col("referenceTime"),
        explode(col("observations")).as("obs"))
      .select(
        col("sourceId"), col("referenceTime"),
        col("obs.elementId").as("elementId"),
        col("obs.value").as("value"),
        col("obs.unit").as("unit"),
        col("obs.timeOffset").as("timeOffset"))

  /** S8: binary media scan — PNG tiles etc. as BinaryType rows
    * (`openweatherbasicmap.py:23-34`). `pathGlobFilter` keeps the scan
    * to the media extension; content arrives as one opaque column.
    */
  def binaryFiles(spark: SparkSession, dir: String, glob: String = "*.bin"): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(dir)
      .select(col("path"), col("length"), col("content"))

  /** Schema-evolution read: union historical parquet batches whose
    * schemas drifted (columns added over time — the reference's GBIF
    * feed did exactly this, which is why P2 add-missing-as-NULL
    * exists). `mergeSchema` unifies the footers at read time: rows
    * from pre-drift batches surface the added columns as NULL, and the
    * scan still prunes columns/pushes filters per file. For a STABLE
    * contract downstream, compose with
    * [[graft.operators.SchemaEnforce]] to pin the canonical column
    * order. Footer merging reads every file's footer — on a
    * million-file table pin the expected schema with `.schema(...)`
    * instead and let old files fill NULLs for free.
    */
  def readEvolved(spark: SparkSession, paths: String*): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(paths: _*)

  /** K4: JSON read-API response — `to_dict(orient='records')` →
    * `jsonify` (`butterflyetl.py:110-112`). The engine's contract is
    * the DataFrame; this is the serialization boundary for a thin HTTP
    * layer. Collect is bounded by the caller's LIMIT.
    */
  def toJsonRecords(df: DataFrame, limit: Int = 10000): Seq[String] =
    df.limit(limit).toJSON.collect().toSeq
}
