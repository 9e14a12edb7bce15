package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.DateTimeFunctions

/** Enrichment stage (SURVEY.md §2.6 J1/J2, §2.9).
  *
  * The reference reverse-geocodes with one blocking HTTP round-trip per
  * row (`/root/reference/monarch_etl/enrichment.py:46-59`) — ~4.3 h for
  * 3,000 rows on the legacy batched path
  * (`monarch_etl_gemini_ai.py:346`, `:282`). In Spark the same semantics
  * become a left join against a geocode dimension, or a partition-local
  * batched client — never a driver loop.
  */
object Enrichment {

  /** Strategy interface for attaching `county` / `cityOrTown`. */
  trait GeocodeProvider {
    def attach(df: DataFrame): DataFrame
  }

  /** J1 as a left join against a small geocode dimension keyed by
    * rounded (lat, lon) cells. Unmatched rows keep NULLs — matching the
    * reference's "leave None on failure" behavior (`enrichment.py:52-59`).
    *
    * Scale: the join carries no hint. A typical dimension is bounded by
    * distinct OBSERVED coordinate cells, so Catalyst's size-based
    * selection broadcasts it and the fact side never shuffles; an
    * outsized dimension (a full-globe precision-2 grid, ~65M cells) is
    * planned as a shuffle join, and AQE converts it to a broadcast at
    * run time if the dimension turns out small after all.
    */
  final class BroadcastGeocode(lookup: DataFrame, precision: Int = 2)
      extends GeocodeProvider {
    // lookup columns: lat_cell: Double, lon_cell: Double, county, cityOrTown
    override def attach(df: DataFrame): DataFrame = {
      val keyed = df
        .withColumn("_lat_cell", round(col("decimalLatitude"), precision))
        .withColumn("_lon_cell", round(col("decimalLongitude"), precision))
      val dim = lookup.select(
        col("lat_cell").as("_lat_cell"),
        col("lon_cell").as("_lon_cell"),
        col("county").as("_geo_county"),
        col("cityOrTown").as("_geo_city"))
      keyed.join(dim, Seq("_lat_cell", "_lon_cell"), "left")
        .withColumn("county", col("_geo_county"))
        .withColumn("cityOrTown", col("_geo_city"))
        .drop("_lat_cell", "_lon_cell", "_geo_county", "_geo_city")
    }
  }

  /** J1/J2 as a partition-local batched client (`mapPartitions`): the
    * shape the live HTTP path would use — batches of `batchSize`
    * coordinates per call (the reference batches at 14,
    * `monarch_etl_gemini_ai.py:346`), results merged back positionally.
    * The client function is injected so tests use a deterministic fake;
    * the real HTTP client is out of scope in this zero-egress testbed.
    *
    * Scale: external-call concurrency = number of partitions; use
    * `coalesce(k)` upstream to bound concurrent callers against a
    * rate-limited service.
    */
  final class BatchedClientGeocode(
      client: Seq[(Double, Double)] => Seq[(Option[String], Option[String])],
      batchSize: Int = 14)
      extends GeocodeProvider with Serializable {
    override def attach(df: DataFrame): DataFrame = {
      import org.apache.spark.sql.{Encoders, Row}
      val outSchema = StructType(
        df.schema.fields.filterNot(f =>
          f.name == "county" || f.name == "cityOrTown") ++ Seq(
          StructField("county", StringType, nullable = true),
          StructField("cityOrTown", StringType, nullable = true)))
      val base = df.drop("county", "cityOrTown")
      val latIdx = base.schema.fieldIndex("decimalLatitude")
      val lonIdx = base.schema.fieldIndex("decimalLongitude")
      val fn = client
      val bs = batchSize
      base.mapPartitions { rows =>
        rows.grouped(bs).flatMap { batch =>
          val coords = batch.map { r =>
            (if (r.isNullAt(latIdx)) Double.NaN else r.getDouble(latIdx),
             if (r.isNullAt(lonIdx)) Double.NaN else r.getDouble(lonIdx))
          }
          val results = fn(coords)
          batch.zip(results).map { case (r, (county, city)) =>
            Row.fromSeq(r.toSeq ++ Seq(county.orNull, city.orNull))
          }
        }
      }(Encoders.row(outSchema))
    }
  }

  /** `attach_time_only` (`/root/reference/monarch_etl/enrichment.py:64-73`):
    * ensure `time_only` is present and derived from `eventDateParsed`.
    */
  def attachTimeOnly(df: DataFrame): DataFrame =
    if (df.columns.contains("eventDateParsed"))
      df.withColumn("time_only", DateTimeFunctions.timeOnly(col("eventDateParsed")))
    else df.withColumn("time_only", lit(null).cast(StringType))

  /** F5: split enrichment-eligible rows (both coordinates non-null)
    * (`enrichment.py:40-46`) — callers enrich `eligible` and union back.
    */
  def splitEligible(df: DataFrame): (DataFrame, DataFrame) = {
    val ok = col("decimalLatitude").isNotNull && col("decimalLongitude").isNotNull
    (df.filter(ok), df.filter(!ok))
  }
}
