package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.TopKPerKey
import graft.sources.Tables

class TopKPerKeySpec extends SparkSpec {

  lazy val orders = Tables.orders(spark, sfDir)

  private def windowTop3: Set[(Long, Long)] = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
    orders.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("o_custkey", "o_orderkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("custom operator matches the window row_number formulation exactly") {
    val got = TopKPerKey.topKPerKey(orders,
        keys = Seq(col("o_custkey")),
        order = Seq(col("o_totalprice").desc, col("o_orderkey").asc),
        k = 3)
      .select("o_custkey", "o_orderkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == windowTop3, s"diff: ${got.diff(windowTop3)} / ${windowTop3.diff(got)}")
  }

  test("the physical plan contains the two-phase custom operator and one exchange") {
    val plan = TopKPerKey.topKPerKey(orders,
        Seq(col("o_custkey")), Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3)
      .queryExecution.executedPlan.toString
    // Spark renders exec nodes without the Exec suffix
    assert("TopKPerKey \\[".r.findAllIn(plan).size == 2, s"expected 2 phases:\n$plan")
    assert(plan.contains(", true")  // partial instance below the exchange
      && plan.contains(", false"), s"partial/final flags missing:\n$plan")
    assert(plan.contains("Exchange hashpartitioning"), s"no key exchange:\n$plan")
    // the exchange sits BETWEEN partial and final
    val exchangeIdx = plan.indexOf("Exchange hashpartitioning")
    assert(plan.indexOf("TopKPerKey [") < exchangeIdx &&
      plan.indexOf("TopKPerKey [", exchangeIdx) > exchangeIdx)
  }

  test("k larger than group size returns the whole group") {
    val got = TopKPerKey.topKPerKey(orders,
        Seq(col("o_custkey")), Seq(col("o_orderkey").asc), k = 100000)
      .count()
    assert(got == orders.count())
  }

  test("k=1 returns exactly one row per key (the argmax)") {
    val got = TopKPerKey.topKPerKey(orders,
        Seq(col("o_custkey")), Seq(col("o_totalprice").desc, col("o_orderkey").asc), 1)
      .collect()
    val nKeys = orders.select("o_custkey").distinct().count()
    assert(got.length == nKeys)
    // cross-check one argmax against a plain aggregate
    val c = got.head.getAs[Long]("o_custkey")
    val best = orders.filter(col("o_custkey") === c)
      .orderBy(desc("o_totalprice"), asc("o_orderkey")).limit(1)
      .collect()(0).getAs[Long]("o_orderkey")
    assert(got.find(_.getAs[Long]("o_custkey") == c).get.getAs[Long]("o_orderkey") == best)
  }

  test("works in a session built with GraftExtensions") {
    // simulate the production registration path
    val plan = TopKPerKey.topKPerKey(
      Tables.lineitem(spark, sfDir),
      Seq(col("l_suppkey")), Seq(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc), 2)
    assert(plan.count() > 0)
  }

  test("topKPerKey refuses a session without GraftExtensions and leaves its planner alone") {
    import org.apache.spark.sql.SparkSession
    val bare = SparkSession.builder().create() // no extensions, shared context
    try {
      val df = bare.range(3).toDF("k")
      val e = intercept[IllegalStateException](
        TopKPerKey.topKPerKey(df, Seq(col("k")), Seq(col("k")), 1))
      assert(e.getMessage.contains("GraftExtensions"), e.getMessage)
      assert(bare.experimental.extraStrategies.isEmpty)
    } finally {
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }
}
