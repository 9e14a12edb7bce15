package graft

import graft.queries.Relational

class RelationalSpec extends SparkSpec {

  test("oracle keys are a subset of queries and all queries run at sf0.001") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    // EVERY query now has an oracle: even the HLL sketch exports exact
    // counts plus its error-bound claim (the raw estimate stays
    // spec-asserted in IngestSpec — it is engine-specific by nature)
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle.isEmpty, s"unexpected oracle-less queries: $noOracle")
    Relational.queries.foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      val n = df.count()
      assert(n >= 0, s"$name failed")
    }
  }

  test("q01 pricing summary: groups are (returnflag, linestatus) and counts add up") {
    val df = Relational.q01PricingSummary(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("count_order")).sum
    val filtered = graft.sources.Tables.lineitem(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("l_shipdate") <=
        org.apache.spark.sql.functions.lit("1998-09-02 00:00:00").cast("timestamp"))
      .count()
    assert(total == filtered)
  }

  test("q09 duplicate injection yields exactly the injected groups") {
    val df = Relational.q09DuplicateGroups(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Long]("duplicate_count") >= 2))
  }

  test("q13 anti join returns customers without 'P' orders") {
    val n = Relational.q13AntiJoin(spark, sfDir).count()
    assert(n > 0)
  }

  test("q08 window rank never exceeds 3 per customer") {
    val df = Relational.q08WindowRank(spark, sfDir)
    val byCust = df.groupBy("o_custkey").count().collect()
    assert(byCust.forall(_.getAs[Long]("count") <= 3))
  }

  test("sketch percentiles are lossless at lossless accuracy (== exact discrete element)") {
    import org.apache.spark.sql.functions._
    // the r3-r5 q40 ORACLE property, kept as a spec after q40 moved to
    // production accuracy: with accuracy ≥ group size the GK summary is
    // exact and returns the discrete element at position ceil(p*n)-1
    val approx = graft.sources.Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("approx_percentile(l_extendedprice, array(0.5, 0.9), 1000000)").as("_ap"),
        expr("approx_percentile(l_quantity, 0.5, 1000000)").as("_q50"))
      .select(col("l_returnflag"), col("_ap").getItem(0), col("_ap").getItem(1), col("_q50"))
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val li = graft.sources.Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"), col("l_extendedprice"), col("l_quantity"))
      .collect().groupBy(_.getString(0))
    approx.foreach { case (flag, (p50, p90, q50)) =>
      val prices = li(flag).map(_.getDouble(1)).sorted
      val qtys = li(flag).map(_.getDouble(2)).sorted
      def disc(xs: Array[Double], p: Double) = xs(math.ceil(p * xs.length).toInt - 1)
      assert(p50 == disc(prices, 0.5), s"$flag p50")
      assert(p90 == disc(prices, 0.9), s"$flag p90")
      assert(q50 == disc(qtys, 0.5), s"$flag q50")
    }
  }

  test("q40 production-accuracy sketch satisfies its GK rank contract") {
    val rows = Relational.q40ApproxPercentiles(spark, sfDir).collect()
    rows.foreach { r =>
      assert(r.getBoolean(2) && r.getBoolean(3) && r.getBoolean(4),
        s"GK contract violated: $r")
    }
    assert(rows.map(_.getAs[Long]("n_rows")).sum ==
      graft.sources.Tables.lineitem(spark, sfDir).count())
  }

  test("q41 risk categories partition all events and thresholds hold") {
    import org.apache.spark.sql.functions._
    val rows = Relational.q41RiskCategory(spark, sfDir).collect()
    val total = rows.map(_.getAs[Long]("n_events")).sum
    assert(total == graft.sources.Tables.events(spark, sfDir).count())
    assert(rows.map(_.getAs[String]("risk_category")).toSet
      .subsetOf(Set("low", "medium", "high")))
  }

  test("q57b's bucketed-table fingerprint ignores .crc sidecars") {
    // the cached bucketed layout keys on the data files only: a
    // checksum sidecar next to a part file must not start a second
    // generation of bucketed tables
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft-q57b").toString
    Seq("customer.parquet", "orders.parquet").foreach { f =>
      Files.createDirectories(Paths.get(dir, f))
      Files.copy(Paths.get(sfDir, f), Paths.get(dir, f, "part-00000.parquet"))
    }
    def generations(): Set[String] = {
      Relational.q57bBucketedJoinProbe(spark, dir).collect()
      spark.catalog.listTables().collect().map(_.name)
        .filter(n => n.contains("_bkt_") && n.endsWith("_probe")).toSet
        .filter(_.contains(s"_${dir.hashCode & 0x7fffffff}_"))
    }
    val before = generations()
    assert(before.size == 2, s"expected one customer + one orders table: $before")
    Files.write(Paths.get(dir, "orders.parquet", ".part-00000.parquet.crc"),
      Array[Byte](1, 2, 3))
    assert(generations() == before)
  }
}
