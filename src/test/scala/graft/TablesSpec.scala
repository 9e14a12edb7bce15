package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Urls}
import graft.sinks.{Pruning, Writers}
import graft.sources.Tables

/** [[Tables.read]] is the engine's one parquet read: it must give the
  * schema Spark's own inference gives, for every layout the engine
  * writes or reads, and building a query over it must start no Spark
  * job.
  */
class TablesSpec extends SparkSpec {

  private def tmp(name: String) = Files.createTempDirectory(name).toString

  private def assertParity(path: String): Unit =
    assert(Tables.read(spark, path).schema == spark.read.parquet(path).schema, path)

  test("schema parity: every fixture table, events with its nanos timestamps included") {
    Tables.names.foreach(n => assertParity(s"$sfDir/$n.parquet"))
  }

  test("schema parity: MinHash indexes, an Int-id increment appended to a Long-id index") {
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 20)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val longIdx = tmp("tables-mh") + "/idx"
    Dedup.writeMinHashIndex(docs, longIdx, "doc_id", "text")
    assertParity(longIdx)
    val intIdx = tmp("tables-mh-int") + "/idx"
    Dedup.writeMinHashIndex(docs.select(col("doc_id").cast("int").as("doc_id"),
      col("text")), intIdx, "doc_id", "text")
    assertParity(intIdx)
    Dedup.appendToMinHashIndex(docs.filter(col("doc_id") < 5)
      .select((col("doc_id") + 1000).cast("int").as("doc_id"), col("text")),
      longIdx, "doc_id", "text")
    assertParity(longIdx)
  }

  test("schema parity: a frontier's urls/ and its _graft_manifest/index_meta") {
    import spark.implicits._
    val path = tmp("tables-frontier")
    Urls.writeFrontierIndex(Seq("https://a.org/x", "http://B.org/y?utm_source=z")
      .toDF("url"), "url", path)
    assertParity(s"$path/urls")
    assertParity(s"$path/_graft_manifest/index_meta")
    assert(Pruning.readIndexMeta(spark, path).map(_.kind).contains("frontier"))
  }

  test("schema parity: a date_only-partitioned warehouse, partition column included") {
    val path = tmp("tables-wh") + "/wh"
    Writers.writePartitionedByDay(spark.range(12).select(col("id"),
      (col("id") * 1.5).as("v"),
      date_add(lit("2024-01-30").cast("date"), (col("id") % 3).cast("int")).as("date_only")),
      path)
    assertParity(path)
    assert(Tables.read(spark, path).schema("date_only").dataType ==
      org.apache.spark.sql.types.DateType)
    assert(Tables.read(spark, path).count() == 12)
  }

  test("a path with no data file keeps the plain read's error") {
    val empty = tmp("tables-empty")
    Files.createFile(java.nio.file.Paths.get(empty, "_SUCCESS"))
    Seq(empty, s"$empty/absent").foreach { p =>
      val plain = intercept[org.apache.spark.sql.AnalysisException](spark.read.parquet(p))
      val ours = intercept[org.apache.spark.sql.AnalysisException](Tables.read(spark, p))
      assert(ours.getCondition == plain.getCondition, p)
    }
  }

  test("building a read-path query starts no Spark job") {
    // the etl-readpath workload's queries (q128 collects its winsorize
    // cut-offs at build time) and five fixture-only Relational/Geo ones
    val names = Seq(
      "q01_pricing_summary", "q02_filter_project", "q03_shipping_priority",
      "q04_order_priority", "q05_local_supplier", "q06_revenue_filter",
      "q07_top_customers", "q08_window_rank", "q09_duplicate_groups",
      "q10_distinct", "q11_set_ops", "q12_rollup", "q13_anti_join",
      "q14_date_rescue", "q15_temporal", "q16_inventory", "q17_read_path",
      "q36_json_extract", "q71_geocode_enrich", "q106_category_drift",
      "q107_pseudonymize", "q126_dq_audit", "q131_k_anonymity",
      "q133_golden_records", "q180_l_diversity", "q186_t_closeness",
      "q206_benford_audit",
      "q62_grouping_sets", "q202_unpivot", "q116_trajectory_stats",
      "q127_trajectory_similarity", "q130_resample_tracks")
    names.foreach { n =>
      val jobs = SparkEvents.capture(spark)(SparkEntry.queries(n)(spark, sfDir): Unit).jobs
      assert(jobs.isEmpty, s"$n built with jobs: $jobs")
    }
  }

  test("events refuses a session without nanosAsLong and leaves its conf alone") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val session = spark.newSession()
    session.conf.set(key, "false")
    val e = intercept[IllegalStateException](Tables.events(session, sfDir))
    assert(e.getMessage.contains(key) && e.getMessage.contains("GraftSession"), e.getMessage)
    assert(session.conf.get(key) == "false")
  }
}
