package graft.pipeline

import java.sql.{Date => SqlDate}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.DateTimeFunctions
import graft.operators.{Cleaning, Enrichment, SchemaEnforce}
import graft.operators.Cleaning.CleanResult
import graft.operators.Enrichment.GeocodeProvider
import graft.sinks.Writers

/** The reference's canonical ETL lifecycle re-expressed as lazy Spark
  * plans (SURVEY.md §3.1: `monarch_etl_day_scan`,
  * `/root/reference/monarch_etl/etl.py:86-134`).
  *
  * Differences by design (not omissions):
  *  - extract is any DataFrame source (parquet fixture here; a
  *    DataSourceV2 REST scan in production) instead of a driver-side
  *    pagination loop;
  *  - the rejection sidecar is a second output of one lazy plan, not
  *    module-global mutable state;
  *  - the per-day table name is a derived label; storage is ONE table
  *    partitioned by `date_only`, so "which day" is partition pruning.
  */
object MonarchPipeline {

  /** A no-op geocoder for runs without an enrichment source: leaves
    * `county`/`cityOrTown` null (schema-enforced later).
    */
  object NullGeocode extends GeocodeProvider {
    override def attach(df: DataFrame): DataFrame = df
  }

  /** `transform_gbif_data` (`/root/reference/monarch_etl/transform.py:25-53`):
    * clean → enrich → attach time_only → enforce schema. One lazy plan.
    */
  def transform(raw: DataFrame, geocoder: GeocodeProvider = NullGeocode): CleanResult = {
    val CleanResult(clean, rejected) = Cleaning.clean(raw)
    val enriched = geocoder.attach(clean)
    val withTime = Enrichment.attachTimeOnly(enriched)
    CleanResult(SchemaEnforce.enforceSchema(withTime), rejected)
  }

  /** Per-run load summary (what the reference logs + registers). */
  final case class LoadSummary(
      loaded: Long, rejected: Long, tableName: String, date: SqlDate)

  /** §3.1 lifecycle for one day of data: transform → write partitioned →
    * rejection CSV → inventory upsert. `raw` is the day's extract.
    */
  def dayScan(
      spark: SparkSession,
      raw: DataFrame,
      year: Int, month: Int, day: Int,
      warehousePath: String,
      rejectionPath: String,
      inventoryPath: String,
      geocoder: GeocodeProvider = NullGeocode): LoadSummary = {

    val CleanResult(clean, rejected) = transform(raw, geocoder)
    // restrict to the requested day — the reference extracts day-scoped
    // pages from the API (etl.py:99-107); a file source may carry more
    val dayDate = SqlDate.valueOf(f"$year-$month%02d-$day%02d")
    val dayDf = clean.filter(col("date_only") === lit(dayDate))

    val loaded = dayDf.count()
    val nRejected = rejected.count()

    Writers.writePartitionedByDay(dayDf, warehousePath)
    if (nRejected > 0) Writers.writeRejections(rejected, rejectionPath)

    val tableName = tableNameForDayStr(year, month, day)
    Writers.upsertInventory(spark, inventoryPath, dayDate, tableName, loaded)
    LoadSummary(loaded, nRejected, tableName, dayDate)
  }

  /** Driver-side table-name derivation (C9) for inventory labels —
    * matches `/root/reference/monarch_etl/table_naming.py:24-33`.
    */
  def tableNameForDayStr(year: Int, month: Int, day: Int): String = {
    val monthNames = Array("", "january", "february", "march", "april", "may",
      "june", "july", "august", "september", "october", "november", "december")
    f"${monthNames(month)}$day%02d$year"
  }

  /** Inventory backfill (A2/A5 + `/root/reference/retroactive_table_log.py`):
    * rebuild `data_inventory` from the warehouse itself — one row per
    * `date_only` partition with its count and derived table label.
    * The reference walks tables and runs COUNT(*) per table; here it is
    * one aggregate over the partition column (partition pruning makes
    * the scan metadata-cheap on a real warehouse).
    */
  def inventoryBackfill(
      spark: SparkSession, warehousePath: String, inventoryPath: String): DataFrame = {
    val byDay = graft.sources.Tables.read(spark, warehousePath)
      .groupBy(col("date_only"))
      .agg(count(lit(1)).as("record_count"))
      .select(
        col("date_only").as("available_date"),
        DateTimeFunctions.tableNameForDay(col("date_only")).as("table_name"),
        col("record_count").cast("long").as("record_count"),
        current_timestamp().as("processed_at"))
    byDay.coalesce(1).write.mode("overwrite")
      .parquet(inventoryPath)
    graft.sources.Tables.read(spark, inventoryPath)
  }

  /** §3.2 read path: the Flask API's year/month/day equality filters
    * (`/root/reference/butterflyetl.py:83-108`) as partition-prunable
    * predicates over the warehouse table.
    */
  def readOccurrences(
      spark: SparkSession,
      warehousePath: String,
      year: Option[Int] = None,
      month: Option[Int] = None,
      day: Option[Int] = None): DataFrame = {
    val base = graft.sources.Tables.read(spark, warehousePath)
    Seq(
      year.map(y => col("year") === lit(y)),
      month.map(m => col("month") === lit(m)),
      day.map(d => col("day") === lit(d))
    ).flatten.foldLeft(base)((df, pred) => df.filter(pred))
  }
}
