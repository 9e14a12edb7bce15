package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

import graft.sources.Tables
import Det._

/** Core relational operator surface (SURVEY.md §2.2–§2.7).
  *
  * The reference's query layer is pandas filters plus hand-built SQL strings
  * (`/root/reference/butterflyetl.py:83-108`,
  * `/root/reference/catch_duplicates_script.py:56-68`). Here each capability
  * is a declarative Spark plan so Catalyst gets pushdown/pruning/join
  * selection; the scale notes on each query say why the plan survives
  * 100 TB.
  */
object Relational {

  type Q = (SparkSession, String) => DataFrame

  /** TPC-H Q1-shape pricing summary (aggregation family, SURVEY §2.5).
    * Scale: single hash aggregate over a tiny (flag, status) key space →
    * map-side partials reduce ~everything before the 6-row shuffle.
    */
  def q01PricingSummary(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast(TimestampType))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"), // integer-valued doubles: exact
        exactSum(col("l_extendedprice")).as("sum_base_price"),
        exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
        (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        exactAvg(col("l_extendedprice")).as("avg_price"),
        exactAvg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  val q01Sql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  sum(l_quantity) AS sum_qty,
       |  ${exactSumSql("l_extendedprice")} AS sum_base_price,
       |  ${exactSumSql("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
       |  ${exactSumSql("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
       |  sum(l_quantity) / count(*) AS avg_qty,
       |  ${exactAvgSql("l_extendedprice")} AS avg_price,
       |  ${exactAvgSql("l_discount")} AS avg_disc,
       |  count(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Filter + projection pushed to the parquet scan (F3/P1).
    * Scale: predicate + 4-column ReadSchema reach the scan
    * (`PushedFilters`); on a date-partitioned layout this is partition
    * pruning — the reference's per-day tables done right.
    */
  def q02FilterProject(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("2001-06-01 00:00:00").cast(TimestampType)
        && col("l_quantity") > lit(45.0))
      .select(
        col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("net_price"))
      .orderBy("l_orderkey", "l_linenumber")

  val q02Sql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity,
      |  l_extendedprice * (1.0 - l_discount) AS net_price
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '2001-06-01 00:00:00' AND l_quantity > 45.0
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** TPC-H Q3-shape shipping priority: 3-way join + agg + top-k.
    * Scale: customer is the small side → broadcast; lineitem⋈orders is the
    * big shuffle join on the join key both sides already produce; top-k is
    * a TakeOrderedAndProject (no global sort materialization).
    */
  def q03ShippingPriority(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
    val ord  = Tables.orders(s, dir)
      .filter(col("o_orderdate") < lit("1998-01-01 00:00:00").cast(TimestampType))
    val li   = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") > lit("1998-01-01 00:00:00").cast(TimestampType))
    li.join(broadcast(ord.join(broadcast(cust), col("o_custkey") === col("c_custkey"))),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .select(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
        col("revenue"))
      .orderBy(desc("revenue"), asc("l_orderkey"))
      .limit(10)
  }

  val q03Sql: String =
    s"""SELECT l_orderkey,
       |  strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       |  ${exactSumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |WHERE c_mktsegment = 'BUILDING'
       |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
       |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
       |GROUP BY l_orderkey, o_orderdate
       |ORDER BY revenue DESC, l_orderkey ASC
       |LIMIT 10""".stripMargin

  /** EXISTS via left-semi join (SURVEY §2.5 A5, §2.6).
    * Scale: semi join never materializes the probe side's payload; Catalyst
    * picks broadcast/shuffled-hash by stats.
    */
  def q04OrderPriority(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1997-01-01 00:00:00").cast(TimestampType)
        && col("o_orderdate") < lit("1997-04-01 00:00:00").cast(TimestampType))
    val li = Tables.lineitem(s, dir).select(col("l_orderkey"))
    ord.join(li, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  val q04Sql: String =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** TPC-H Q5-shape multiway join: revenue by nation for one region.
    * Scale: region/nation/supplier/customer are dims → all broadcast; the
    * only shuffle is lineitem⋈orders plus the final 25-row aggregate.
    */
  def q05LocalSupplier(s: SparkSession, dir: String): DataFrame = {
    val region = Tables.region(s, dir).filter(col("r_name") === "ASIA")
    val nation = Tables.nation(s, dir)
    val cust   = Tables.customer(s, dir)
    val sup    = Tables.supplier(s, dir)
    val ord    = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast(TimestampType)
        && col("o_orderdate") < lit("1998-01-01 00:00:00").cast(TimestampType))
    val li     = Tables.lineitem(s, dir)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(sup),
        col("l_suppkey") === col("s_suppkey")
          && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(desc("revenue"), asc("n_name"))
  }

  val q05Sql: String =
    s"""SELECT n_name,
       |  ${exactSumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE r_name = 'ASIA'
       |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
       |GROUP BY n_name
       |ORDER BY revenue DESC, n_name ASC""".stripMargin

  /** TPC-H Q6-shape scan-heavy filter + global aggregate.
    * Scale: all four predicates push to parquet row-group stats; the
    * aggregate is a 1-row reduce — this query is pure scan bandwidth.
    */
  def q06RevenueFilter(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast(TimestampType)
        && col("l_shipdate") < lit("1997-01-01 00:00:00").cast(TimestampType)
        && col("l_discount") >= lit(0.02) && col("l_discount") <= lit(0.09)
        && col("l_quantity") < lit(24.0))
      .agg(exactSum(col("l_extendedprice") * col("l_discount")).as("revenue"),
        count(lit(1)).as("n_rows"))

  val q06Sql: String =
    s"""SELECT ${exactSumSql("l_extendedprice * l_discount")} AS revenue,
       |  count(*) AS n_rows
       |FROM lineitem
       |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
       |  AND l_discount BETWEEN 0.02 AND 0.09
       |  AND l_quantity < 24.0""".stripMargin

  /** Top-k customers by revenue: join + agg + TakeOrderedAndProject.
    * Scale: broadcast customer dim; limit-after-sort never globally sorts.
    */
  def q07TopCustomers(s: SparkSession, dir: String): DataFrame = {
    val ord  = Tables.orders(s, dir)
    val cust = Tables.customer(s, dir)
    ord.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(exactSum(col("o_totalprice")).as("total_spent"),
        count(lit(1)).as("n_orders"))
      .orderBy(desc("total_spent"), asc("c_custkey"))
      .limit(15)
  }

  val q07Sql: String =
    s"""SELECT c_custkey, c_name,
       |  ${exactSumSql("o_totalprice")} AS total_spent,
       |  count(*) AS n_orders
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |GROUP BY c_custkey, c_name
       |ORDER BY total_spent DESC, c_custkey ASC
       |LIMIT 15""".stripMargin

  /** Window functions: per-customer order ranking (SURVEY §2.9 surface).
    * Scale: one shuffle on o_custkey; rank + running sum share the same
    * window frame so a single sort serves both.
    */
  def q08WindowRank(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
    Tables.orders(s, dir)
      .withColumn("rank_in_cust", row_number().over(w).cast(IntegerType))
      .withColumn("cum_spent",
        exactSumWindow(col("o_totalprice"), w))
      .filter(col("rank_in_cust") <= 3)
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_totalprice"), col("rank_in_cust"), col("cum_spent"))
      .orderBy("o_custkey", "rank_in_cust")
  }

  /** Running decimal-exact sum over a window (same determinism rules). */
  private def exactSumWindow(c: org.apache.spark.sql.Column,
      w: org.apache.spark.sql.expressions.WindowSpec): org.apache.spark.sql.Column =
    sum(c.cast(DecimalType(18, 6)))
      .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
      .cast(DoubleType)

  val q08Sql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, rank_in_cust, cum_spent FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    CAST(row_number() OVER w AS INT) AS rank_in_cust,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_spent
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)
      |) WHERE rank_in_cust <= 3
      |ORDER BY o_custkey, rank_in_cust""".stripMargin

  /** Full-row duplicate-group detection (SURVEY §2.5 A1, §3.3): the
    * reference builds this SQL by string concat over information_schema
    * (`catch_duplicates_script.py:56-68`); here the column list is
    * `df.columns` and the plan a single hash aggregate.
    * Scale: group-by-all-columns hashes wide rows — project to the
    * content columns that define identity first (done here).
    */
  def q09DuplicateGroups(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val d = docs.select(col("text"), col("lang"), col("source"))
      // deterministic duplicate injection so the operator provably fires:
      // re-append the first 50 documents
      .unionAll(docs.filter(col("doc_id") < 50)
        .select(col("text"), col("lang"), col("source")))
    graft.operators.Dedup.findDuplicateGroups(d)
      .orderBy("text", "lang", "source")
  }

  val q09Sql: String =
    """SELECT text, lang, source, count(*) AS duplicate_count
      |FROM (
      |  SELECT text, lang, source FROM documents
      |  UNION ALL
      |  SELECT text, lang, source FROM documents WHERE doc_id < 50)
      |GROUP BY text, lang, source
      |HAVING count(*) > 1
      |ORDER BY text, lang, source""".stripMargin

  /** DISTINCT + aggregate distinct (SURVEY §2.7 D-family surface). */
  def q10Distinct(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")

  val q10Sql: String =
    """SELECT l_returnflag,
      |  count(DISTINCT l_partkey) AS n_parts,
      |  count(DISTINCT l_orderkey) AS n_orders,
      |  count(*) AS n_rows
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Set operations: EXCEPT/INTERSECT (SURVEY §2.7).
    * Scale: both compile to aggregate/semi-join shapes — no row-by-row
    * driver logic.
    */
  def q11SetOps(s: SparkSession, dir: String): DataFrame = {
    val withOrders = Tables.orders(s, dir).select(col("o_custkey").as("custkey")).distinct()
    val building = Tables.customer(s, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("custkey"))
    val exceptN    = building.except(withOrders).agg(count(lit(1)).as("n")).select(lit("building_without_orders").as("set_name"), col("n"))
    val intersectN = building.intersect(withOrders).agg(count(lit(1)).as("n")).select(lit("building_with_orders").as("set_name"), col("n"))
    exceptN.unionByName(intersectN).orderBy("set_name")
  }

  val q11Sql: String =
    """SELECT 'building_without_orders' AS set_name, count(*) AS n FROM (
      |  SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |  EXCEPT SELECT DISTINCT o_custkey FROM orders)
      |UNION ALL
      |SELECT 'building_with_orders' AS set_name, count(*) AS n FROM (
      |  SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |  INTERSECT SELECT DISTINCT o_custkey FROM orders)
      |ORDER BY set_name""".stripMargin

  /** ROLLUP grouping sets (SURVEY §2.5 extended surface). */
  def q12Rollup(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity")).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("n_rows"), col("sum_qty"))
      .orderBy("returnflag", "linestatus")

  val q12Sql: String =
    """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
      |  coalesce(l_linestatus, 'ALL') AS linestatus,
      |  count(*) AS n_rows,
      |  sum(l_quantity) AS sum_qty
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin

  /** Explicit GROUPING SETS — the general form q12's ROLLUP and q28's
    * CUBE are sugar for: four hand-picked aggregation granularities in
    * ONE pass over the fact table (Spark expands the sets with a
    * single Expand node feeding one hash aggregate — at 100 TB that is
    * one scan instead of four). `grouping_id()` disambiguates rows
    * whose group columns collide with real data; both engines use the
    * Postgres bit convention (first grouping column = most significant
    * bit).
    */
  def q62GroupingSets(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupingSets(
        Seq(
          Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")),
          Seq(col("l_linenumber")),
          Seq.empty),
        col("l_returnflag"), col("l_linestatus"), col("l_linenumber"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity")).as("sum_qty"),
        grouping_id().cast(IntegerType).as("gid"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        coalesce(col("l_linenumber").cast(StringType), lit("ALL")).as("linenumber"),
        col("gid"), col("n_rows"), col("sum_qty"))
      .orderBy("gid", "returnflag", "linestatus", "linenumber")

  val q62Sql: String =
    """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
      |  coalesce(l_linestatus, 'ALL') AS linestatus,
      |  coalesce(CAST(l_linenumber AS VARCHAR), 'ALL') AS linenumber,
      |  CAST(GROUPING(l_returnflag, l_linestatus, l_linenumber) AS INT) AS gid,
      |  count(*) AS n_rows,
      |  sum(l_quantity) AS sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linenumber), ())
      |ORDER BY gid, returnflag, linestatus, linenumber""".stripMargin

  /** Anti join: customers with no orders (NOT EXISTS). */
  def q13AntiJoin(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderstatus") === "P")
      .select(col("o_custkey"))
    cust.join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy("c_custkey")
  }

  val q13Sql: String =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
      |ORDER BY c_custkey""".stripMargin

  /** CUBE grouping sets over two dimensions (extends q12's ROLLUP). */
  def q28Cube(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        exactSum(col("o_totalprice")).as("sum_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("orderstatus"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("orderpriority"),
        col("n_orders"), col("sum_price"))
      .orderBy("orderstatus", "orderpriority")

  val q28Sql: String =
    s"""SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus,
       |  coalesce(o_orderpriority, 'ALL') AS orderpriority,
       |  count(*) AS n_orders,
       |  ${exactSumSql("o_totalprice")} AS sum_price
       |FROM orders
       |GROUP BY CUBE (o_orderstatus, o_orderpriority)
       |ORDER BY orderstatus, orderpriority""".stripMargin

  /** Sketch aggregates: approx_count_distinct (HLL++) next to the exact
    * count. The raw estimate is engine-specific by definition (each
    * engine's HLL hashes differently), so the oracle checks what IS
    * cross-engine-checkable: the exact counts plus the sketch's error
    * CONTRACT — a boolean per group asserting the estimate landed
    * within 3× the configured rsd. Spark computes the claim genuinely
    * from its own sketch; DuckDB states it as the expected invariant.
    * A sketch regression flips the boolean and fails the hash gate.
    * The raw estimate values are additionally spec-asserted.
    * Scale: the sketch is THE way to count distincts at 100 TB — fixed
    * memory, one pass, mergeable across partitions.
    */
  def q29ApproxDistinct(s: SparkSession, dir: String): DataFrame = {
    // Two passes on purpose: mixing sketch and exact-distinct aggregates
    // in ONE groupBy makes Spark's distinct rewrite carry the HLL
    // register buffers (460+ columns) through the per-(flag, orderkey)
    // partial aggregate — a multi-GB intermediate at sf0.1 and a
    // non-starter at 100 TB. Separately, each pass is a lean one-shuffle
    // aggregate; the final join is 3 rows.
    val li = Tables.lineitem(s, dir)
    val approx = li.groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_orderkey")).as("approx_orders"),
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"))
    val exact = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("exact_orders"),
        countDistinct(col("l_partkey")).as("exact_parts"))
    def withinBound(est: org.apache.spark.sql.Column,
        ex: org.apache.spark.sql.Column, rsd: Double): org.apache.spark.sql.Column =
      abs(est.cast(DoubleType) - ex.cast(DoubleType)) <=
        lit(3.0 * rsd) * ex.cast(DoubleType)
    approx.join(exact, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("exact_orders"), col("exact_parts"),
        withinBound(col("approx_orders"), col("exact_orders"), 0.05).as("orders_est_ok"),
        withinBound(col("approx_parts"), col("exact_parts"), 0.02).as("parts_est_ok"))
      .orderBy("l_returnflag")
  }

  val q29Sql: String =
    """SELECT l_returnflag,
      |  count(DISTINCT l_orderkey) AS exact_orders,
      |  count(DISTINCT l_partkey) AS exact_parts,
      |  TRUE AS orders_est_ok,
      |  TRUE AS parts_est_ok
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Incremental distinct-count maintenance via mergeable HLL sketches
    * ([[graft.operators.Sketches]]): split orders into three "daily"
    * batches, build a per-batch per-priority customer sketch table,
    * round-trip the first through parquet (the persisted-index
    * pattern), merge all three, and compare against the exact distinct
    * counts. The contract exported to the gate: `merge_order_ok` — HLL
    * register-max merging is associative/commutative/idempotent, so
    * ANY merge order over the persisted batches must answer
    * identically (the 100 TB claim: incremental maintenance is
    * batch-sized work whose answer never depends on arrival order) —
    * and `est_ok`, the q29-style accuracy window around the exact
    * count. Exact counts cross-check in DuckDB; the booleans are
    * Spark-computed claims the oracle states (same weakened-gate note
    * as q29/q40 — both properties additionally spec-asserted, including
    * the documented composite-vs-HIP estimator caveat).
    */
  def q95SketchMaintenance(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches
    val orders = Tables.orders(s, dir)
      .select(col("o_orderpriority"), col("o_custkey"), col("o_orderkey"))
    val batches = (0 until 3).map(i =>
      orders.filter(pmod(col("o_orderkey"), lit(3)) === i))
    // materialize each batch sketch once: serialized sketch bytes are
    // promotion-path (partition-order) dependent, so both merge orders
    // must consume the SAME persisted bytes — exactly what a real
    // ingest does (sketch at arrival, merge the stored tables)
    val daily = batches.map(b =>
      Sketches.distinctSketches(b, "o_orderpriority", "o_custkey")
        .localCheckpoint(true))
    val path = Det.scratchPath("q95", dir) + "/day0"
    daily.head.write.mode("overwrite").parquet(path)
    val day0 = Tables.read(s, path)
    val estMerged = Sketches.estimateDistinct(
        Sketches.mergeSketches(day0 +: daily.tail, "o_orderpriority"),
        "o_orderpriority")
      .withColumnRenamed("estimate", "_est_m")
    val estRev = Sketches.estimateDistinct(
        Sketches.mergeSketches((day0 +: daily.tail).reverse, "o_orderpriority"),
        "o_orderpriority")
      .withColumnRenamed("estimate", "_est_r")
    val exact = orders.groupBy(col("o_orderpriority"))
      .agg(countDistinct(col("o_custkey")).as("exact_custs"))
    exact.join(estMerged, "o_orderpriority").join(estRev, "o_orderpriority")
      .select(col("o_orderpriority"), col("exact_custs"),
        (col("_est_m") === col("_est_r")).as("merge_order_ok"),
        (abs(col("_est_m").cast(DoubleType) - col("exact_custs").cast(DoubleType)) <=
          lit(0.05) * col("exact_custs").cast(DoubleType)).as("est_ok"))
      .orderBy("o_orderpriority")
  }

  val q95Sql: String =
    """SELECT o_orderpriority,
      |  count(DISTINCT o_custkey) AS exact_custs,
      |  TRUE AS merge_order_ok,
      |  TRUE AS est_ok
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Incremental quantile maintenance on the oracle gate
    * ([[graft.operators.Sketches.histogramSketch]] family — the
    * percentile leg of the mergeable-sketch triad, next to q95's HLL
    * distincts and q104's CMS frequencies): three "daily" lineitem
    * batches each build a fixed 256-bin price histogram, the
    * histograms merge by cellwise addition, and the merged sketch
    * answers four quantiles via the deterministic rank walk. Unlike
    * q40's GK sketch (opaque state, rank-error contract), every piece
    * here is exact integers or a fixed IEEE tree, so the oracle
    * rebuilds the full histogram from the union (cellwise-sum ≡
    * union-count, the mergeability identity) and replays bin index,
    * cumulative ranks, and lower-edge estimates bit-for-bit.
    */
  def q108HistogramQuantiles(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_extendedprice"))
    val daily = (0 until 3).map(i =>
      Sketches.histogramSketch(
        li.filter(pmod(col("l_orderkey"), lit(3)) === i),
        "l_extendedprice", 900.0, 105000.0, 256))
    Sketches.histogramQuantiles(Sketches.histogramMerge(daily),
      Seq(0.1, 0.5, 0.9, 0.99), 900.0, 105000.0, 256)
  }

  val q108Sql: String =
    """WITH s AS (
      |  SELECT least(greatest(CAST(floor(
      |      (CAST(l_extendedprice AS DOUBLE) - 900.0)
      |      / ((105000.0 - 900.0) / 256)) AS BIGINT), 0), 255) AS bin,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM lineitem WHERE l_extendedprice IS NOT NULL
      |  GROUP BY 1),
      |c AS (
      |  SELECT bin,
      |    CAST(sum(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)
      |         AS BIGINT) AS cum,
      |    CAST(sum(cnt) OVER () AS BIGINT) AS total
      |  FROM s),
      |p AS (SELECT unnest([0.1, 0.5, 0.9, 0.99]) AS q)
      |SELECT q, rank, bin,
      |  900.0 + CAST(bin AS DOUBLE) * ((105000.0 - 900.0) / 256) AS est
      |FROM (
      |  SELECT p.q AS q,
      |    CAST(ceil(p.q * CAST(c.total AS DOUBLE)) AS BIGINT) AS rank,
      |    min(c.bin) AS bin
      |  FROM p CROSS JOIN c
      |  WHERE c.cum >= ceil(p.q * CAST(c.total AS DOUBLE))
      |  GROUP BY 1, 2)
      |ORDER BY q""".stripMargin

  /** Ordered funnel completion on the oracle gate
    * ([[graft.operators.Funnel.funnelSteps]]): per user, the earliest
    * view, the earliest click STRICTLY after it, and the earliest
    * purchase strictly after that — emitted at microsecond precision
    * with the reached-step count, so the oracle (the same three
    * min-after chains in SQL) breaks on any divergence in the
    * strictly-after semantics, tie handling, or step monotonicity.
    */
  def q97Funnel(s: SparkSession, dir: String): DataFrame = {
    val f = graft.operators.Funnel.funnelSteps(
      Tables.events(s, dir), "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"))
    f.select(col("user_id"),
        date_format(col("step_ts_1"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("view_ts"),
        date_format(col("step_ts_2"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("click_ts"),
        date_format(col("step_ts_3"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("purchase_ts"),
        (lit(1) + col("step_ts_2").isNotNull.cast(IntegerType) +
          col("step_ts_3").isNotNull.cast(IntegerType)).as("steps_reached"))
      .orderBy("user_id")
  }

  val q97Sql: String =
    """WITH ev AS (
      |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |s1 AS (
      |  SELECT user_id, min(ts) AS t1 FROM ev
      |  WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (
      |  SELECT e.user_id, min(e.ts) AS t2
      |  FROM ev e JOIN s1 USING (user_id)
      |  WHERE e.event_type = 'click' AND e.ts > s1.t1
      |  GROUP BY e.user_id),
      |s3 AS (
      |  SELECT e.user_id, min(e.ts) AS t3
      |  FROM ev e JOIN s2 USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      |  GROUP BY e.user_id)
      |SELECT s1.user_id,
      |  strftime(t1, '%Y-%m-%d %H:%M:%S.%f') AS view_ts,
      |  strftime(t2, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
      |  strftime(t3, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
      |  CAST(1 + CAST(t2 IS NOT NULL AS INT) + CAST(t3 IS NOT NULL AS INT)
      |    AS INT) AS steps_reached
      |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
      |ORDER BY s1.user_id""".stripMargin

  /** Cohort retention triangle on the oracle gate
    * ([[graft.operators.Funnel.cohortRetention]]): users cohorted by
    * first active day, distinct-user counts per (cohort, day offset).
    * Integer-and-date-only contract — any drift in cohort assignment,
    * date truncation, offset arithmetic, or distinctness changes a
    * cell count.
    */
  def q98Retention(s: SparkSession, dir: String): DataFrame =
    graft.operators.Funnel.cohortRetention(Tables.events(s, dir), "user_id", "ts")
      .select(date_format(col("cohort_date"), "yyyy-MM-dd").as("cohort_date"),
        col("day_offset"), col("n_users"))
      .orderBy("cohort_date", "day_offset")

  val q98Sql: String =
    """WITH ev AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
      |cohort AS (SELECT user_id, min(d) AS c FROM ev GROUP BY user_id)
      |SELECT strftime(c, '%Y-%m-%d') AS cohort_date,
      |  CAST(date_diff('day', c, d) AS INT) AS day_offset,
      |  CAST(count(*) AS BIGINT) AS n_users
      |FROM ev JOIN cohort USING (user_id)
      |GROUP BY c, day_offset
      |ORDER BY cohort_date, day_offset""".stripMargin

  /** TPC-H Q17-shape correlated aggregate: lineitems below 30% of their
    * part's average quantity. Decorrelated by Catalyst into an
    * aggregate + join; the threshold is computed with exact decimal
    * sums so both engines compare against the identical double.
    * Scale: one shuffle on l_partkey for the per-part average, reused
    * by the join.
    */
  def q30SmallQuantity(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val avgQty = li.groupBy(col("l_partkey").as("p_key"))
      .agg(((sum(col("l_quantity")) / count(lit(1))) * lit(0.3)).as("threshold"))
    li.join(avgQty, col("l_partkey") === col("p_key"))
      .filter(col("l_quantity") < col("threshold"))
      .agg(
        exactSum(col("l_extendedprice")).as("total_price"),
        count(lit(1)).as("n_items"))
  }

  val q30Sql: String =
    s"""SELECT ${exactSumSql("l_extendedprice")} AS total_price,
       |  count(*) AS n_items
       |FROM lineitem l
       |JOIN (SELECT l_partkey AS p_key,
       |        (sum(l_quantity) / count(*)) * 0.3 AS threshold
       |      FROM lineitem GROUP BY l_partkey) a
       |  ON l.l_partkey = a.p_key
       |WHERE l.l_quantity < a.threshold""".stripMargin

  /** String-function battery (C10/C11 + general string surface). */
  def q31StringOps(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).select(
      col("c_custkey"),
      lower(trim(col("c_name"))).as("name_lower"),
      upper(col("c_mktsegment")).as("segment_upper"),
      lpad(col("c_custkey").cast(StringType), 8, "0").as("key_padded"),
      concat(col("c_mktsegment"), lit(":"), col("c_name")).as("tagged"),
      substring(col("c_name"), 1, 8).as("name_prefix"),
      length(col("c_name")).cast(IntegerType).as("name_len"),
      regexp_replace(col("c_name"), "[0-9]+", "#").as("name_masked"),
      split(col("c_name"), "#").getItem(0).as("name_head"))
      .orderBy("c_custkey")

  val q31Sql: String =
    """SELECT c_custkey,
      |  lower(trim(c_name)) AS name_lower,
      |  upper(c_mktsegment) AS segment_upper,
      |  lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS key_padded,
      |  c_mktsegment || ':' || c_name AS tagged,
      |  substr(c_name, 1, 8) AS name_prefix,
      |  CAST(length(c_name) AS INT) AS name_len,
      |  regexp_replace(c_name, '[0-9]+', '#', 'g') AS name_masked,
      |  string_split(c_name, '#')[1] AS name_head
      |FROM customer
      |ORDER BY c_custkey""".stripMargin

  /** U1: union-by-name across heterogeneous projections (the page-
    * accumulation pattern, made schema-safe).
    */
  def q32UnionByName(s: SparkSession, dir: String): DataFrame = {
    val a = Tables.orders(s, dir)
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey").as("key"), lit("finished").as("kind"),
        col("o_totalprice").as("amount"))
    val b = Tables.orders(s, dir)
      .filter(col("o_orderstatus") === "O")
      .select(lit("open").as("kind"), col("o_orderkey").as("key"),
        col("o_totalprice").as("amount")) // different column ORDER on purpose
    a.unionByName(b)
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n"), exactSum(col("amount")).as("total"))
      .orderBy("kind")
  }

  val q32Sql: String =
    s"""SELECT kind, count(*) AS n, ${exactSumSql("amount")} AS total
       |FROM (
       |  SELECT o_orderkey AS key, 'finished' AS kind, o_totalprice AS amount
       |  FROM orders WHERE o_orderstatus = 'F'
       |  UNION ALL
       |  SELECT o_orderkey AS key, 'open' AS kind, o_totalprice AS amount
       |  FROM orders WHERE o_orderstatus = 'O')
       |GROUP BY kind
       |ORDER BY kind""".stripMargin

  /** Per-key top-k via the custom two-phase physical operator
    * (`graft.plans.TopKPerKey`): top-3 orders per customer. The oracle
    * is the window row_number formulation — an independent computation
    * of the same semantics.
    */
  def q34TopKPerKey(s: SparkSession, dir: String): DataFrame =
    graft.plans.TopKPerKey.topKPerKey(
        Tables.orders(s, dir),
        keys = Seq(col("o_custkey")),
        order = Seq(col("o_totalprice").desc, col("o_orderkey").asc),
        k = 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .orderBy("o_custkey", "o_orderkey")

  val q34Sql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice
      |FROM orders
      |QUALIFY row_number() OVER (
      |  PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) <= 3
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** TPC-H Q7-shape volume shipping: revenue by (supplier nation,
    * customer nation, year) for a nation pair. Scale: nations broadcast
    * everywhere; the two fact-side joins shuffle once each on their
    * natural keys.
    */
  def q37VolumeShipping(s: SparkSession, dir: String): DataFrame = {
    // the nation-pair predicate restricts BOTH nation dims to the two
    // named nations — filter the dims BEFORE broadcasting so the inner
    // joins against them drop ~23/25 of the fact rows early, instead of
    // carrying every nation's rows to a post-join filter
    val wanted = Seq("NATION_1", "NATION_2")
    val n1 = Tables.nation(s, dir)
      .filter(col("n_name").isInCollection(wanted))
      .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(s, dir)
      .filter(col("n_name").isInCollection(wanted))
      .select(col("n_nationkey").as("c_nkey"), col("n_name").as("cust_nation"))
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.supplier(s, dir)
          .join(broadcast(n1), col("s_nationkey") === col("s_nkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.customer(s, dir)
          .join(broadcast(n2), col("c_nationkey") === col("c_nkey"))),
        col("o_custkey") === col("c_custkey"))
      // exclude the same-nation pairs the dim prefilter lets through
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast(IntegerType).as("l_year"))
      .agg(exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  val q37Sql: String =
    s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       |  CAST(year(l_shipdate) AS INT) AS l_year,
       |  ${exactSumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue,
       |  count(*) AS n_items
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation n1 ON s_nationkey = n1.n_nationkey
       |JOIN nation n2 ON c_nationkey = n2.n_nationkey
       |WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       |   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
       |GROUP BY n1.n_name, n2.n_name, CAST(year(l_shipdate) AS INT)
       |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  /** Exact percentiles + median per group. Exact `percentile` (linear
    * interpolation over the sorted group) is bit-identical between
    * Spark and DuckDB's `quantile_cont` → oracle-checkable. At 100 TB
    * the sort-per-group cost says use `approx_percentile` (t-digest)
    * instead — declared surface, tested by bound in spec if needed.
    */
  def q38Percentiles(s: SparkSession, dir: String): DataFrame =
    // widen: exact percentile buffers every value per group in the
    // partial aggregate; on the harness's single-row-group parquet that
    // would otherwise run one-threaded
    Tables.widen(Tables.lineitem(s, dir)
        .select(col("l_returnflag"), col("l_extendedprice"), col("l_quantity")))
      .groupBy(col("l_returnflag"))
      // one percentile buffer per (group, column), not per (group,
      // requested p): the array form sorts each group's values once and
      // reads both quantiles from the same sorted run
      .agg(
        expr("percentile(l_extendedprice, array(0.5, 0.9))").as("_pp"),
        expr("median(l_quantity)").as("median_qty"))
      .select(col("l_returnflag"),
        col("_pp").getItem(0).as("p50_price"),
        col("_pp").getItem(1).as("p90_price"),
        col("median_qty"))
      .orderBy("l_returnflag")

  val q38Sql: String =
    """SELECT l_returnflag,
      |  quantile_cont(l_extendedprice, 0.5) AS p50_price,
      |  quantile_cont(l_extendedprice, 0.9) AS p90_price,
      |  median(l_quantity) AS median_qty
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Sketch percentiles at PRODUCTION accuracy (`approx_percentile` =
    * Greenwald-Khanna quantile summaries — fixed memory, one pass,
    * mergeable across partitions: THE percentile at 100 TB, where
    * exact per-group sorts are off the table).
    *
    * Through r5 this query ran the sketch at accuracy 10⁶ — lossless
    * at test scale, so the result bit-matched DuckDB's `quantile_disc`
    * and PROVED the sketch path end to end (r3-r5 oracle history; the
    * lossless property stays spec-asserted in RelationalSpec). But the
    * lossless setting cost 12-20 s at sf1 for a knob production never
    * uses. The oracle now checks what q29 checks for HLL: the sketch's
    * error CONTRACT at production accuracy 10⁴. GK's deterministic
    * worst-case guarantee is rank error ≤ N/accuracy, so the chosen
    * element's tie-robust rank window [count(< v), count(≤ v)] must
    * straddle p·N within that bound (+1 for discreteness). Spark
    * computes the booleans genuinely from its own sketch output via a
    * second aggregate over a broadcast of the 3-row sketch results;
    * DuckDB states them as the expected invariant, and cross-checks
    * the exact group counts alongside. A sketch regression flips a
    * boolean and fails the hash gate.
    */
  def q40ApproxPercentiles(s: SparkSession, dir: String): DataFrame = {
    val accuracy = 10000
    val li = Tables.widen(Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_extendedprice"), col("l_quantity")))
    // array form: ONE quantile summary per (group, column) serves
    // both requested quantiles
    val sketch = li.groupBy(col("l_returnflag"))
      .agg(
        expr(s"approx_percentile(l_extendedprice, array(0.5, 0.9), $accuracy)").as("_ap"),
        expr(s"approx_percentile(l_quantity, 0.5, $accuracy)").as("_ap50q"))
      .select(col("l_returnflag"),
        col("_ap").getItem(0).as("_ap50p"),
        col("_ap").getItem(1).as("_ap90p"),
        col("_ap50q"))
    val ranked = li.join(broadcast(sketch), Seq("l_returnflag"))
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("l_extendedprice") < col("_ap50p"), 1L).otherwise(0L)).as("_lo50p"),
        sum(when(col("l_extendedprice") <= col("_ap50p"), 1L).otherwise(0L)).as("_hi50p"),
        sum(when(col("l_extendedprice") < col("_ap90p"), 1L).otherwise(0L)).as("_lo90p"),
        sum(when(col("l_extendedprice") <= col("_ap90p"), 1L).otherwise(0L)).as("_hi90p"),
        sum(when(col("l_quantity") < col("_ap50q"), 1L).otherwise(0L)).as("_lo50q"),
        sum(when(col("l_quantity") <= col("_ap50q"), 1L).otherwise(0L)).as("_hi50q"))
    def ok(lo: String, hi: String, p: Double): org.apache.spark.sql.Column = {
      val n = col("n_rows").cast(DoubleType)
      val eps = n / lit(accuracy.toDouble) + lit(1.0)
      (col(lo).cast(DoubleType) <= n * lit(p) + eps) &&
        (col(hi).cast(DoubleType) >= n * lit(p) - eps)
    }
    ranked.select(col("l_returnflag"), col("n_rows"),
        ok("_lo50p", "_hi50p", 0.5).as("p50_price_ok"),
        ok("_lo90p", "_hi90p", 0.9).as("p90_price_ok"),
        ok("_lo50q", "_hi50q", 0.5).as("p50_qty_ok"))
      .orderBy("l_returnflag")
  }

  val q40Sql: String =
    """SELECT l_returnflag,
      |  count(*) AS n_rows,
      |  TRUE AS p50_price_ok,
      |  TRUE AS p90_price_ok,
      |  TRUE AS p50_qty_ok
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** C12: risk categorization — the reference derives `risk_category`
    * from a numeric `flood_factor` (`/root/reference/app.py:25-28`; its
    * code path is a stub, the narrative defines the semantics). Here:
    * the same threshold `when()` ladder over `events.value`, aggregated
    * per (event_type, risk_category). Scale: pure projection + tiny
    * hash aggregate.
    */
  def q41RiskCategory(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("risk_category",
        when(col("value") >= 75.0, lit("high"))
          .when(col("value") >= 40.0, lit("medium"))
          .otherwise(lit("low")))
      .groupBy(col("event_type"), col("risk_category"))
      .agg(count(lit(1)).as("n_events"),
        exactSum(col("value")).as("sum_value"))
      .orderBy("event_type", "risk_category")

  val q41Sql: String =
    s"""SELECT event_type,
       |  CASE WHEN value >= 75.0 THEN 'high'
       |       WHEN value >= 40.0 THEN 'medium'
       |       ELSE 'low' END AS risk_category,
       |  count(*) AS n_events,
       |  ${exactSumSql("value")} AS sum_value
       |FROM events
       |GROUP BY 1, 2
       |ORDER BY event_type, risk_category""".stripMargin

  /** TPC-H Q2-shape correlated scalar subquery: parts whose cheapest
    * supplier offer equals the global minimum for that part — the
    * classic "argmin per group via correlated MIN" Catalyst must
    * decorrelate into an aggregate + join (verify with `Bench plan`: no
    * per-row subquery execution survives planning).
    * Scale: one shuffle on ps_partkey for the per-part min, reused by
    * the join probe.
    */
  def q45MinCostSupplier(s: SparkSession, dir: String): DataFrame = {
    val ps = Tables.lineitem(s, dir)
      // the harness star schema has no partsupp; lineitem's
      // (partkey, suppkey, extendedprice) triple plays its role
      .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
    val minCost = ps.groupBy(col("l_partkey").as("_pk"))
      .agg(min(col("l_extendedprice")).as("_min_price"))
    ps.join(minCost, col("l_partkey") === col("_pk")
        && col("l_extendedprice") === col("_min_price"))
      .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
      .filter(col("p_size") === 15)
      .select(col("p_partkey"), col("p_name"), col("s_name"),
        col("l_extendedprice").as("min_price"))
      .orderBy("p_partkey", "s_name")
  }

  val q45Sql: String =
    """SELECT p_partkey, p_name, s_name, l_extendedprice AS min_price
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |WHERE p_size = 15
      |  AND l_extendedprice = (
      |    SELECT min(l2.l_extendedprice) FROM lineitem l2
      |    WHERE l2.l_partkey = lineitem.l_partkey)
      |ORDER BY p_partkey, s_name""".stripMargin

  /** Window-function battery: lag/lead/ntile/percent_rank/dense_rank +
    * first/last over one per-customer frame — the §2.9 analytic surface
    * beyond row_number. All functions share a single (partition, sort),
    * so the plan pays ONE shuffle + ONE sort for the whole battery.
    */
  def q46WindowBattery(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, dir)
      .filter(col("o_custkey") < 200)
      .select(
        col("o_custkey"), col("o_orderkey"),
        col("o_totalprice"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        ntile(4).over(w).cast(IntegerType).as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        dense_rank().over(w).cast(IntegerType).as("drank"),
        first(col("o_totalprice")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("first_price"))
      .orderBy("o_custkey", "o_orderkey")
  }

  val q46Sql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice,
      |  lag(o_totalprice, 1) OVER w AS prev_price,
      |  lead(o_totalprice, 1) OVER w AS next_price,
      |  CAST(ntile(4) OVER w AS INT) AS quartile,
      |  percent_rank() OVER w AS pct_rank,
      |  CAST(dense_rank() OVER w AS INT) AS drank,
      |  first_value(o_totalprice) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_price
      |FROM orders
      |WHERE o_custkey < 200
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Pivot: long→wide reshape, one count+sum column pair per event
    * type. The pivot value list is EXPLICIT — with an inferred list
    * Spark first runs a distinct scan to discover columns (an extra
    * job) and the output schema becomes data-dependent, which breaks
    * both at 100 TB and under an oracle. Scale: explicit-list pivot is
    * a single hash aggregate with `count/sum(CASE WHEN ...)` partials —
    * exactly the SQL the oracle states.
    */
  def q47Pivot(s: SparkSession, dir: String): DataFrame = {
    val kinds = Seq("click", "error", "purchase", "signup", "view")
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", kinds)
      .agg(count(lit(1)).as("n"), exactSum(col("value")).as("val"))
      .select(col("user_id") +: kinds.flatMap(k => Seq(
        coalesce(col(s"${k}_n"), lit(0L)).as(s"${k}_n"),
        col(s"${k}_val"))): _*)
      .filter(col("user_id") < 500)
      .orderBy("user_id")
  }

  val q47Sql: String = {
    val kinds = Seq("click", "error", "purchase", "signup", "view")
    val cols = kinds.map { k =>
      s"""  count(*) FILTER (event_type = '$k') AS ${k}_n,
         |  CAST(sum(CAST(value AS DECIMAL(18,6))) FILTER (event_type = '$k') AS DOUBLE) AS ${k}_val""".stripMargin
    }.mkString(",\n")
    s"""SELECT user_id,
       |$cols
       |FROM events
       |WHERE user_id < 500
       |GROUP BY user_id
       |ORDER BY user_id""".stripMargin
  }

  /** Bucketed co-located join ([[graft.operators.JoinOps]]): customers
    * and orders are written bucketed+sorted on the customer key, then
    * joined WITHOUT any exchange — the pay-layout-once answer to every
    * recurring big×big join (at 100 TB the join-side shuffle, not the
    * join itself, is the bill). The merge hint pins the bucket-local
    * sort-merge plan even though the test-sized dim would broadcast;
    * PlanShapeSpec asserts the no-Exchange/no-Sort shape. The oracle
    * is the same join/aggregate over the unbucketed tables — layout
    * must never change results.
    *
    * Table names carry a per-dataset suffix; reruns in one session
    * overwrite in place, and stale same-name tables from a previous
    * session's warehouse directory are dropped + deleted first (an
    * in-memory catalog forgets them but their files survive).
    */
  def q57BucketedJoin(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.JoinOps
    val suffix = (dir.hashCode & 0x7fffffff).toString
    val ct = s"customer_bkt_$suffix"
    val ot = s"orders_bkt_$suffix"
    val warehouse = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"))
    val fs = warehouse.getFileSystem(s.sparkContext.hadoopConfiguration)
    Seq(ct, ot).foreach { t =>
      s.sql(s"DROP TABLE IF EXISTS `$t`")
      fs.delete(new org.apache.hadoop.fs.Path(warehouse, t), true)
    }
    JoinOps.writeBucketed(
      Tables.customer(s, dir).select(col("c_custkey"), col("c_mktsegment")),
      ct, "c_custkey", buckets = 8)
    JoinOps.writeBucketed(
      Tables.orders(s, dir)
        .select(col("o_custkey").as("c_custkey"), col("o_totalprice")),
      ot, "c_custkey", buckets = 8)
    JoinOps.bucketedJoin(s, ct, ot, "c_custkey", forceSortMerge = true)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        exactSum(col("o_totalprice")).as("total_price"))
      .orderBy("c_mktsegment")
  }

  val q57Sql: String =
    s"""SELECT c_mktsegment, count(*) AS n_orders,
       |  ${exactSumSql("o_totalprice")} AS total_price
       |FROM customer JOIN orders ON c_custkey = o_custkey
       |GROUP BY c_mktsegment
       |ORDER BY c_mktsegment""".stripMargin

  /** q57's PROBE measured on its own: identical exchange-free bucketed
    * join + aggregate, but the bucketed tables are built only when the
    * session doesn't already have them — so under the bench harness
    * (warm run + 2 timed samples per query) the warm run pays the
    * one-off layout cost and the timed samples measure what a
    * recurring production join actually costs against a pre-built
    * layout. q57 keeps layout+probe in one timed region (its oracle
    * point is that layout never changes results); this entry is the
    * join-only number the 55× q57/oracle ratio was hiding. Same
    * oracle SQL — the result is the same by construction.
    */
  def q57bBucketedJoinProbe(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.JoinOps
    // the skip-if-exists cache must key on the DATA, not just the path:
    // regenerated fixtures at the same path (ScaleData reruns) would
    // otherwise keep serving the stale bucketed layout while the oracle
    // recomputes from the new parquet. Fingerprint = the Hadoop FS
    // part-file listing (name:size:mtime per file) — java.io.File
    // metadata on the top-level DIRECTORY is filesystem-dependent
    // (directory length is meaningless, mtime is coarse) and reads a
    // constant for non-local paths
    val hconf = s.sparkContext.hadoopConfiguration
    val fingerprint = Seq("customer.parquet", "orders.parquet").map { f =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/$f")
      val pfs = p.getFileSystem(hconf)
      if (!pfs.exists(p)) "absent"
      else pfs.listStatus(p)
        .filterNot(_.getPath.getName.startsWith("_"))
        .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
        .sorted.mkString(",")
    }.mkString("|")
    // two-component suffix (r7): <dirHash>_<dataHash>_probe. Eviction
    // below is scoped to THIS dir-hash, so a concurrent JVM running
    // q57b against a different dataset/SF in a shared warehouse (the
    // documented bench+verify concurrency pattern, cross-SF) can never
    // have its live tables deleted mid-query — its generations carry a
    // different dir component and are invisible here.
    val dirHash = (dir.hashCode & 0x7fffffff).toString
    val suffix = dirHash + "_" +
      (fingerprint.hashCode & 0x7fffffff).toString + "_probe"
    val ct = s"customer_bkt_$suffix"
    val ot = s"orders_bkt_$suffix"
    if (!s.catalog.tableExists(ct) || !s.catalog.tableExists(ot)) {
      val warehouse = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"))
      val fs = warehouse.getFileSystem(s.sparkContext.hadoopConfiguration)
      // evict stale cache generations OF THIS DATASET DIR only:
      // same-dir tables built under a previous data fingerprint are
      // unreachable (their suffix never comes up again) and would
      // otherwise accumulate a dataset-sized layout per fixture
      // regeneration — both as catalog entries and as orphaned
      // warehouse directories from previous sessions
      val isStaleProbe = (n: String) =>
        (n.startsWith(s"customer_bkt_${dirHash}_") ||
          n.startsWith(s"orders_bkt_${dirHash}_")) &&
          n.endsWith("_probe") && n != ct && n != ot
      s.catalog.listTables().collect().map(_.name).filter(isStaleProbe)
        .foreach(t => s.sql(s"DROP TABLE IF EXISTS `$t`"))
      if (fs.exists(warehouse))
        fs.listStatus(warehouse).map(_.getPath.getName).filter(isStaleProbe)
          .foreach(n => fs.delete(new org.apache.hadoop.fs.Path(warehouse, n), true))
      Seq(ct, ot).foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS `$t`")
        fs.delete(new org.apache.hadoop.fs.Path(warehouse, t), true)
      }
      JoinOps.writeBucketed(
        Tables.customer(s, dir).select(col("c_custkey"), col("c_mktsegment")),
        ct, "c_custkey", buckets = 8)
      JoinOps.writeBucketed(
        Tables.orders(s, dir)
          .select(col("o_custkey").as("c_custkey"), col("o_totalprice")),
        ot, "c_custkey", buckets = 8)
    }
    JoinOps.bucketedJoin(s, ct, ot, "c_custkey", forceSortMerge = true)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        exactSum(col("o_totalprice")).as("total_price"))
      .orderBy("c_mktsegment")
  }

  /** Salted skew join on the oracle gate
    * ([[graft.operators.JoinOps.saltedJoin]] — the last spec-only scale
    * helper, now cross-engine-checked): plant a degenerate hot key
    * carrying ~40% of the fact table (every lineitem row whose orderkey
    * lands in 4 of 10 residue classes is re-keyed to supplier 1 — the
    * "celebrity key" shape AQE's size-based skew split can miss when
    * stats lag), then join through the salted path. The oracle is the
    * PLAIN SQL join: salting must never change results — the same
    * layout-never-changes-results contract q57 pins for bucketing. The
    * mechanism itself (hot key's rows spread across all saltBuckets
    * (key, salt) shuffle slices) is asserted in JoinOpsSpec.
    *
    * Scale: without salting, one task sorts/joins 40% of the fact table
    * — at 100 TB that task never finishes; with `saltBuckets = 8` the
    * hot key becomes 8 even slices and the dim side replicates 8× (dim
    * rows × 8 is still dim-sized).
    */
  def q73SaltedJoin(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.JoinOps
    // carry lineitem's natural row id so the salt hashes (key, id) —
    // the 100 TB path (r7): a full-width row hash per fact row costs
    // more than the join's own CPU, and would silently reshuffle if a
    // caller widened the projection
    val fact = Tables.lineitem(s, dir).select(
      when(pmod(col("l_orderkey"), lit(10)) < 4, lit(1L))
        .otherwise(col("l_suppkey")).as("skewkey"),
      col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
    val dim = Tables.supplier(s, dir)
      .select(col("s_suppkey").as("skewkey"), col("s_name"))
    JoinOps.saltedJoin(fact, dim, "skewkey", saltBuckets = 8,
        forceSortMerge = true, idCols = Seq("l_orderkey", "l_linenumber"))
      .groupBy(col("skewkey"), col("s_name"))
      .agg(count(lit(1)).as("n_rows"),
        exactSum(col("l_extendedprice")).as("sum_price"))
      .orderBy("skewkey")
  }

  val q73Sql: String =
    s"""WITH fact AS (
       |  SELECT CASE WHEN l_orderkey % 10 < 4 THEN 1 ELSE l_suppkey END AS skewkey,
       |         l_extendedprice
       |  FROM lineitem)
       |SELECT skewkey, s_name, count(*) AS n_rows,
       |  ${exactSumSql("l_extendedprice")} AS sum_price
       |FROM fact JOIN supplier ON skewkey = s_suppkey
       |GROUP BY skewkey, s_name
       |ORDER BY skewkey""".stripMargin

  /** Bloom-filter semi-join reduction on the oracle gate
    * ([[graft.operators.JoinOps.bloomPrefilteredJoin]]'s machinery):
    * build a Bloom filter over the BUILDING-segment customer keys with
    * the cross-engine md5 bit-position recipe, then emit, per
    * (passes_bloom, is_match) combination, the order count and key
    * checksum. The filter is DELIBERATELY undersized (1024 bits, 3
    * hashes, ~300 keys → ~20% false-positive rate) so false positives
    * genuinely occur and the oracle — which rebuilds the position set
    * in SQL and replays membership per fact key — pins the EXACT
    * false-positive pattern, not just the no-false-negative invariant
    * (JoinOpsSpec holds that one). A production call sizes numBits for
    * its dim cardinality; the semantics under test are identical.
    *
    * Scale: the filter is ≤ 2 MB packed regardless of fact size and is
    * applied map-side BEFORE the join exchange — the fact rows that
    * fail it never shuffle. The exact join afterwards removes false
    * positives, so results match the plain join bit-for-bit.
    */
  def q92BloomJoin(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.JoinOps
    val dim = Tables.customer(s, dir)
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val bits = JoinOps.bloomFilterBits(dim, "c_custkey",
      numBits = 1024, numHashes = 3)
    Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
      .withColumn("passes_bloom",
        JoinOps.bloomPasses(col("o_custkey"), bits, 1024, 3))
      .join(dim.select(col("c_custkey").as("o_custkey"),
        lit(true).as("is_match")), Seq("o_custkey"), "left")
      .select(col("o_orderkey"), col("passes_bloom"),
        coalesce(col("is_match"), lit(false)).as("is_match"))
      .groupBy(col("passes_bloom"), col("is_match"))
      .agg(count(lit(1)).as("n_orders"), sum(col("o_orderkey")).as("sum_keys"))
      .orderBy("passes_bloom", "is_match")
  }

  val q92Sql: String =
    """WITH dim AS (
      |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
      |hashes AS (SELECT unnest(range(3)) AS i),
      |dpos AS (
      |  SELECT DISTINCT
      |    ('0x' || substr(md5(c_custkey::VARCHAR || ':' || i), 1, 15))::BIGINT % 1024 AS pos
      |  FROM dim CROSS JOIN hashes),
      |f AS (
      |  SELECT o_orderkey,
      |    NOT EXISTS (
      |      SELECT 1 FROM hashes h
      |      WHERE ('0x' || substr(md5(o_custkey::VARCHAR || ':' || h.i), 1, 15))::BIGINT % 1024
      |        NOT IN (SELECT pos FROM dpos)) AS passes_bloom,
      |    EXISTS (SELECT 1 FROM dim d WHERE d.c_custkey = o_custkey) AS is_match
      |  FROM orders)
      |SELECT passes_bloom, is_match, CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
      |FROM f GROUP BY passes_bloom, is_match
      |ORDER BY passes_bloom, is_match""".stripMargin

  /** Deterministic fixed-point PageRank on the oracle gate
    * ([[graft.operators.Graph.pageRank]]): rank the bipartite
    * customer→supplier purchase graph (distinct pairs via
    * orders⋈lineitem; suppliers offset to a disjoint id space) through
    * THREE full iterations of integer-only PageRank — fixed-point mass
    * units, `DIV`-truncated shares, rational 85/100 damping. The
    * DuckDB twin unrolls all three iterations in SQL with the same
    * integer arithmetic, so any divergence (a share truncated
    * differently, a float sneaking into a sum, one edge double-counted)
    * shifts some node's rank units and breaks the hash. Every rank is
    * exact — there is no tolerance window to hide in.
    */
  def q93PageRank(s: SparkSession, dir: String): DataFrame = {
    val edges = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("src"),
        (col("l_suppkey") + 100000L).as("dst"))
    graft.operators.Graph.pageRank(edges, "src", "dst", iters = 3)
      .select(col("id"), col("rank").as("rank_fp"))
      .orderBy("id")
  }

  // one integer PageRank step in SQL: per-edge DIV-truncated shares,
  // per-dst sums, rational damping — mirrors Graph.pageRank exactly
  private def prStepSql(prev: String, out: String): String =
    s"""s_$out AS (
       |  SELECT e.dst AS id, sum(p.r // o.deg) AS insum
       |  FROM edges e JOIN $prev p ON p.id = e.src
       |  JOIN outdeg o ON o.id = e.src
       |  GROUP BY e.dst),
       |$out AS (
       |  SELECT n.id,
       |    CAST((SELECT (100 - 85) * unit // 100 FROM params) +
       |         (85 * COALESCE(s.insum, 0)) // 100 AS BIGINT) AS r
       |  FROM nodes n LEFT JOIN s_$out s ON s.id = n.id)""".stripMargin

  val q93Sql: String =
    s"""WITH edges AS (
       |  SELECT DISTINCT o_custkey AS src, l_suppkey + 100000 AS dst
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
       |params AS (
       |  SELECT CAST(1000000000000 // count(*) AS BIGINT) AS unit FROM nodes),
       |outdeg AS (SELECT src AS id, count(*) AS deg FROM edges GROUP BY src),
       |r0 AS (SELECT id, (SELECT unit FROM params) AS r FROM nodes),
       |${prStepSql("r0", "r1")},
       |${prStepSql("r1", "r2")},
       |${prStepSql("r2", "r3")}
       |SELECT id, r AS rank_fp FROM r3 ORDER BY id""".stripMargin

  /** One-pass table profiling ([[graft.operators.Profiling
    * .profileColumns]] — the ANALYZE/data-quality primitive): per-
    * column counts, exact distincts, typed min/max over a mixed
    * numeric/string/timestamp column set, all from a single wide
    * aggregate (multi-distinct planned via Expand, map-side partials)
    * unpivoted with `stack`. The oracle recomputes every statistic
    * per column and unions the rows — any drift in null handling,
    * distinct semantics, collation, or timestamp rendering flips a
    * cell.
    */
  def q88ProfileTable(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profiling.profileColumns(
      Tables.lineitem(s, dir),
      Seq("l_orderkey", "l_quantity", "l_extendedprice",
        "l_returnflag", "l_shipdate"))

  val q88Sql: String = {
    def num(c: String) =
      s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n,
         |  CAST(count(*) - count($c) AS BIGINT) AS n_null,
         |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  CAST(min($c) AS DOUBLE) AS min_num, CAST(max($c) AS DOUBLE) AS max_num,
         |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str,
         |  CAST(NULL AS INT) AS min_len, CAST(NULL AS INT) AS max_len
         |FROM lineitem""".stripMargin
    def str(c: String) =
      s"""SELECT '$c', CAST(count(*) AS BIGINT),
         |  CAST(count(*) - count($c) AS BIGINT),
         |  CAST(count(DISTINCT $c) AS BIGINT),
         |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
         |  min($c), max($c),
         |  CAST(min(length($c)) AS INT), CAST(max(length($c)) AS INT)
         |FROM lineitem""".stripMargin
    def ts(c: String) =
      s"""SELECT '$c', CAST(count(*) AS BIGINT),
         |  CAST(count(*) - count($c) AS BIGINT),
         |  CAST(count(DISTINCT $c) AS BIGINT),
         |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
         |  strftime(min($c), '%Y-%m-%d %H:%M:%S'),
         |  strftime(max($c), '%Y-%m-%d %H:%M:%S'),
         |  CAST(NULL AS INT), CAST(NULL AS INT)
         |FROM lineitem""".stripMargin
    Seq(num("l_orderkey"), num("l_quantity"), num("l_extendedprice"),
      str("l_returnflag"), ts("l_shipdate"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }

  /** Per-node triangle counts on the part co-purchase graph
    * ([[graft.operators.Graph.triangleCounts]]): parts are linked when
    * some order contains both; triangles measure clustering (parts
    * bought in cohesive bundles). The Spark side counts via
    * degree-ordered orientation (one wedge per triangle, O(m^{3/2})
    * work); the DuckDB twin enumerates id-ordered triangles with a
    * 3-way join — two different exact algorithms that must agree on
    * every node's count, zero-filled over all edge endpoints.
    */
  def q114TriangleCounts(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val edges = p.as("a")
      .join(p.as("b"), col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
    graft.operators.Graph.triangleCounts(edges, "src", "dst")
  }

  val q114Sql: String =
    """WITH p AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS (
      |  SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
      |  FROM p a JOIN p b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |tri AS (
      |  SELECT a.lo AS x, a.hi AS y, b.hi AS z
      |  FROM e a
      |  JOIN e b ON b.lo = a.hi
      |  JOIN e c ON c.lo = a.lo AND c.hi = b.hi),
      |pn AS (
      |  SELECT node_id, CAST(count(*) AS BIGINT) AS n_triangles
      |  FROM (SELECT unnest([x, y, z]) AS node_id FROM tri)
      |  GROUP BY node_id),
      |nodes AS (SELECT lo AS node_id FROM e UNION SELECT hi FROM e)
      |SELECT n.node_id, coalesce(pn.n_triangles, 0) AS n_triangles
      |FROM nodes n LEFT JOIN pn USING (node_id)
      |ORDER BY n.node_id""".stripMargin

  /** HyperBall-style neighborhood function with an exact audit sample
    * ([[graft.operators.Graph.neighborhoodSketch]]): per-part estimated
    * 2-hop reach on the co-purchase graph via iterated HLL register
    * merges (node-sized state per round — the shape that scales where
    * exact per-node ball enumeration is quadratic), audited the q29
    * way: for the deterministic seed sample (partkey % 199 = 0) the
    * exact 2-hop reach is computed by frontier joins and the gate
    * carries (exact count, sketch-within-25% claim — 5.4 sigma at
    * lgConfigK=9, chosen so the sketch state stays 256 B/node). DuckDB recomputes
    * the exact counts with a different algorithm (2 self-joins +
    * distinct union) and states the contract; a sketch regression
    * flips the boolean and fails the hash.
    */
  def q215ReachSketch(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    // edge-scale frame: serialized checkpoint — deserialized row
    // caching of this co-occurrence edge list (239M rows at 100×)
    // OOM'd a 24g heap in the round-11 sf10 probe
    val e = graft.plans.Checkpoints.serialized(p.as("a")
      .join(p.as("b"), col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.l_partkey") =!= col("b.l_partkey"))
      .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
      .distinct())

    val est = graft.operators.Graph
      .neighborhoodSketch(e, "src", "dst", hops = 2, lgConfigK = 9)

    // exact 2-hop reach for the audit seeds, by frontier joins
    val seeds = e.select(col("src").as("seed")).distinct()
      .filter(col("seed") % 199 === 0)
    val h1 = seeds.join(e, col("seed") === col("src"))
      .select(col("seed"), col("dst").as("n"))
    val e2 = e.select(col("src").as("m"), col("dst").as("n2"))
    val h2 = h1.join(e2, col("n") === col("m"))
      .select(col("seed"), col("n2").as("n"))
    val exact = seeds.select(col("seed"), col("seed").as("n"))
      .unionByName(h1).unionByName(h2)
      .distinct()
      .groupBy(col("seed")).agg(count(lit(1)).as("exact_reach2"))

    exact.join(est, col("seed") === col("id"))
      .select(col("seed").as("part_id"), col("exact_reach2"),
        (abs(col("est_reach").cast(DoubleType) -
          col("exact_reach2").cast(DoubleType)) <=
          lit(0.25) * col("exact_reach2").cast(DoubleType)).as("est_ok"))
      .orderBy("part_id")
  }

  val q215Sql: String =
    """WITH p AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM p a JOIN p b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
      |seeds AS (SELECT DISTINCT src AS seed FROM e WHERE src % 199 = 0),
      |h1 AS (SELECT s.seed, e.dst AS n FROM seeds s JOIN e ON e.src = s.seed),
      |h2 AS (SELECT h1.seed, e.dst AS n FROM h1 JOIN e ON e.src = h1.n),
      |r AS (SELECT DISTINCT seed, n FROM (
      |        SELECT seed, seed AS n FROM seeds
      |        UNION ALL SELECT seed, n FROM h1
      |        UNION ALL SELECT seed, n FROM h2))
      |SELECT seed AS part_id, CAST(count(*) AS BIGINT) AS exact_reach2,
      |  TRUE AS est_ok
      |FROM r GROUP BY seed ORDER BY part_id""".stripMargin

  /** TPC-H Q21 flavor on the fixture schema: suppliers who were the
    * SOLE late shipper in a multi-supplier order ("late" = shipped
    * more than 90 days after the order date). Three correlated
    * quantifiers compiled to joins Catalyst can reorder: the late-line
    * base, an EXISTS (left-semi on orderkey with a supplier
    * inequality — some OTHER supplier shares the order), and a NOT
    * EXISTS (left-anti — no OTHER supplier was also late). Every join
    * is keyed on orderkey; the inequality rides as a residual
    * predicate, never a cross product. Top-20 by blame count through
    * TakeOrderedAndProject.
    */
  def q140BlameSupplier(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("late",
        col("l_shipdate") > date_add(col("o_orderdate"), 90))
      .select(col("l_orderkey"), col("l_suppkey"), col("late"))
    val late = l.where(col("late"))
    val l2 = l.select(col("l_orderkey"), col("l_suppkey").as("s2"))
    val l3 = late.select(col("l_orderkey"), col("l_suppkey").as("s3"))
    val blamed = late.as("l1")
      .join(l2, col("l1.l_orderkey") === l2("l_orderkey") &&
        col("l1.l_suppkey") =!= col("s2"), "left_semi")
      .join(l3, col("l1.l_orderkey") === l3("l_orderkey") &&
        col("l1.l_suppkey") =!= col("s3"), "left_anti")
    blamed.groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("numwait"))
      .join(Tables.supplier(s, dir).select(col("s_suppkey"), col("s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_suppkey"))
      .limit(20)
  }

  val q140Sql: String =
    """WITH l AS (
      |  SELECT l_orderkey, l_suppkey,
      |    l_shipdate > o_orderdate + INTERVAL 90 DAY AS late
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |l1 AS (SELECT * FROM l WHERE late)
      |SELECT s_suppkey, s_name, CAST(count(*) AS BIGINT) AS numwait
      |FROM l1 JOIN supplier ON l1.l_suppkey = s_suppkey
      |WHERE EXISTS (
      |    SELECT 1 FROM l l2 WHERE l2.l_orderkey = l1.l_orderkey
      |      AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (
      |    SELECT 1 FROM l1 l3 WHERE l3.l_orderkey = l1.l_orderkey
      |      AND l3.l_suppkey <> l1.l_suppkey)
      |GROUP BY s_suppkey, s_name
      |ORDER BY numwait DESC, s_suppkey
      |LIMIT 20""".stripMargin

  /** TPC-H Q22 flavor: per-nation count and exact balance sum of
    * LAPSED high-value customers — balance above the positive-balance
    * average, no order since 2001-01-01 (every fixture customer has
    * SOME order, so the classic never-ordered predicate would be
    * vacuous; lapsed-recency is the real-world version anyway). The
    * scalar average is a broadcast 1-row frame; the recency test is a
    * left-anti join against the date-filtered orders projection — one
    * scalar aggregate, one anti-join, one group-by.
    */
  def q141SalesOpportunity(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val avgPos = c.where(col("c_acctbal") > 0)
      .agg(exactAvg(col("c_acctbal")).as("avg_bal"))
    val recent = Tables.orders(s, dir)
      .where(col("o_orderdate") >= lit("2001-01-01").cast("timestamp"))
      .select(col("o_custkey").as("c_custkey"))
    c.crossJoin(broadcast(avgPos))
      .where(col("c_acctbal") > col("avg_bal"))
      .join(recent, Seq("c_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"),
        exactSum(col("c_acctbal")).as("totacctbal"))
      .orderBy(col("c_nationkey"))
  }

  val q141Sql: String =
    s"""SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
       |  ${exactSumSql("c_acctbal")} AS totacctbal
       |FROM customer c
       |WHERE c_acctbal > (
       |    SELECT ${exactAvgSql("c_acctbal")}
       |    FROM customer WHERE c_acctbal > 0)
       |  AND NOT EXISTS (
       |    SELECT 1 FROM orders WHERE o_custkey = c.c_custkey
       |      AND o_orderdate >= TIMESTAMP '2001-01-01')
       |GROUP BY c_nationkey
       |ORDER BY c_nationkey""".stripMargin

  /** Heap-numbered hierarchy rollup ([[graft.operators.Graph.treeRollup]]):
    * documents arranged as a binary category tree (node = doc_id + 1,
    * parent = node div 2), each node reporting its subtree size and
    * char total — recursive-hierarchy aggregation WITHOUT recursion:
    * the ancestor chain is closed-form arithmetic, one constant-width
    * explode + one hash aggregate. The oracle computes the same
    * totals with an actual RECURSIVE CTE — an iterative engine
    * feature the Spark plan replaces with algebra, and the two must
    * agree on every node.
    */
  def q143HierarchyRollup(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.treeRollup(
      Tables.documents(s, dir)
        .select((col("doc_id") + 1).as("node"), col("n_chars")),
      "node", "n_chars")

  val q143Sql: String =
    """WITH RECURSIVE anc AS (
      |  SELECT doc_id + 1 AS node, doc_id + 1 AS a, n_chars FROM documents
      |  UNION ALL
      |  SELECT node, a // 2, n_chars FROM anc WHERE a > 1)
      |SELECT a AS node, CAST(count(*) AS BIGINT) AS subtree_n,
      |  CAST(sum(n_chars) AS BIGINT) AS subtree_value
      |FROM anc GROUP BY a ORDER BY node""".stripMargin

  /** Pareto skyline ([[graft.operators.Skyline.skyline2D]]): the
    * customers no one beats on BOTH total spend and order count — the
    * multi-objective shortlist, grid-pruned so neither an all-pairs
    * join nor a global sort ever happens (phase 1 discards only rows
    * with a CONCRETE higher-bucket dominator; phase 2's exact
    * anti-join runs on the surviving Pareto band). The oracle is the
    * honest quadratic NOT EXISTS dominance test — the pruned
    * two-phase plan and brute force must produce the identical
    * frontier, ties included (equal points dominate neither way).
    */
  def q149Skyline(s: SparkSession, dir: String): DataFrame = {
    val m = Tables.orders(s, dir).groupBy(col("o_custkey"))
      .agg(
        (sum(col("o_totalprice").cast(DecimalType(18, 6))) * 1000000)
          .cast(LongType).as("spend_micros"),
        count(lit(1)).as("n_orders"))
    graft.operators.Skyline.skyline2D(m, "o_custkey",
      "spend_micros", "n_orders")
  }

  val q149Sql: String =
    """WITH m AS (
      |  SELECT o_custkey,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) * 1000000
      |         AS BIGINT) AS spend_micros,
      |    CAST(count(*) AS BIGINT) AS n_orders
      |  FROM orders GROUP BY o_custkey)
      |SELECT o_custkey, spend_micros, n_orders FROM m r
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM m s
      |  WHERE s.spend_micros >= r.spend_micros
      |    AND s.n_orders >= r.n_orders
      |    AND (s.spend_micros > r.spend_micros OR s.n_orders > r.n_orders))
      |ORDER BY o_custkey""".stripMargin

  /** Robust per-nation outlier screen
    * ([[graft.operators.RobustStats.madOutlierStats]]): median + MAD
    * of customer balances and the |x−med| > 3·MAD count — the
    * 50%-breakdown alternative to mean/stddev anomaly rules. All
    * stats ride integer micro-units (×2/×4 scales keep half-integer
    * medians exact), so the oracle is a bit-for-bit replay: DuckDB's
    * `quantile_cont` and Spark's exact `percentile` must land on the
    * identical interpolated values or the hash breaks.
    */
  def q151RobustOutliers(s: SparkSession, dir: String): DataFrame =
    graft.operators.RobustStats.madOutlierStats(
      Tables.customer(s, dir).select(col("c_nationkey"),
        (col("c_acctbal").cast(DecimalType(18, 6)) * 1000000)
          .cast(LongType).as("bal_micros")),
      "c_nationkey", "bal_micros", k = 3)
      .orderBy(col("c_nationkey"))

  val q151Sql: String =
    """WITH x AS (
      |  SELECT c_nationkey AS g,
      |    CAST(CAST(c_acctbal AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS x
      |  FROM customer),
      |med AS (SELECT g, CAST(quantile_cont(x, 0.5) * 2 AS BIGINT) AS med2
      |        FROM x GROUP BY g),
      |dev AS (SELECT x.g, med2, abs(x*2 - med2) AS dev2
      |        FROM x JOIN med USING (g)),
      |mad AS (SELECT g, CAST(quantile_cont(dev2, 0.5) * 2 AS BIGINT) AS mad4
      |        FROM dev GROUP BY g)
      |SELECT d.g AS c_nationkey, CAST(count(*) AS BIGINT) AS n,
      |  any_value(d.med2) AS med2, any_value(m.mad4) AS mad4,
      |  CAST(sum(CASE WHEN d.dev2 * 2 > 3 * m.mad4 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_outliers
      |FROM dev d JOIN mad m USING (g)
      |GROUP BY d.g
      |ORDER BY c_nationkey""".stripMargin

  /** Market-basket lift ([[graft.operators.Association.basketLift]]):
    * the part pairs that ship together in the same order more often
    * than independence predicts. The pair explode is an equi-join on
    * the order key (bounded by basket width, never n²); lift is one
    * integer division in milli-units. The oracle replays the exact
    * pair/count/lift pipeline in SQL.
    */
  def q152BasketLift(s: SparkSession, dir: String): DataFrame =
    graft.operators.Association.basketLift(
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey")).distinct(),
      "l_orderkey", "l_partkey", minPairs = 1L, topK = 100)

  val q152Sql: String =
    """WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
      |nb AS (SELECT count(DISTINCT bk) AS n_baskets FROM b),
      |ic AS (SELECT it, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY it),
      |p AS (
      |  SELECT l.it AS item_a, r.it AS item_b,
      |    CAST(count(*) AS BIGINT) AS n_pairs
      |  FROM b l JOIN b r ON l.bk = r.bk AND l.it < r.it
      |  GROUP BY 1, 2)
      |SELECT item_a, item_b, n_pairs, a.cnt AS cnt_a, c.cnt AS cnt_b,
      |  n_pairs * n_baskets * 1000 // (a.cnt * c.cnt) AS lift_milli
      |FROM p JOIN ic a ON p.item_a = a.it
      |       JOIN ic c ON p.item_b = c.it
      |       CROSS JOIN nb
      |ORDER BY n_pairs DESC, item_a, item_b
      |LIMIT 100""".stripMargin

  /** Bounded-hop BFS blast radius ([[graft.operators.Graph.bfsHops]]):
    * minimum hop distance from the seed parts (ids < 10) over the
    * co-purchase graph, 3 hops max — iterative frontier expansion
    * (frontier × degree per hop, never the visited set re-joined)
    * against a recursive-CTE oracle that enumerates ALL bounded paths
    * and takes min(hop): iteration vs recursion must agree on every
    * node's distance.
    */
  def q161BfsHops(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val edges = li.as("a")
      .join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") =!= col("b.pk"))
      .select(col("a.pk").as("src"), col("b.pk").as("dst")).distinct()
    val seeds = Tables.part(s, dir).where(col("p_partkey") < 10)
      .select(col("p_partkey"))
    graft.operators.Graph.bfsHops(edges, "src", "dst", seeds, "p_partkey", 3)
      .groupBy(col("hop"))
      .agg(count(lit(1)).as("n_nodes"), longSum(col("node")).as("node_sum"))
      .orderBy(col("hop"))
  }

  val q161Sql: String =
    """WITH RECURSIVE
      |b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |e AS (SELECT DISTINCT a.pk AS src, b2.pk AS dst
      |      FROM b a JOIN b b2 ON a.ok = b2.ok AND a.pk <> b2.pk),
      |walk AS (
      |  SELECT p_partkey AS node, 0 AS hop FROM part WHERE p_partkey < 10
      |  UNION ALL
      |  SELECT e.dst, w.hop + 1 FROM walk w JOIN e ON e.src = w.node
      |  WHERE w.hop < 3)
      |SELECT CAST(hop AS BIGINT) AS hop, CAST(count(*) AS BIGINT) AS n_nodes,
      |  CAST(sum(node) AS BIGINT) AS node_sum
      |FROM (SELECT node, min(hop) AS hop FROM walk GROUP BY node)
      |GROUP BY hop ORDER BY hop""".stripMargin

  /** Weighted label-propagation communities
    * ([[graft.operators.Graph.labelPropagation]], 2 synchronous
    * rounds) over the part co-purchase graph (parts sharing an order;
    * weight = number of co-occurring line pairs). Components would
    * glue the whole co-purchase graph into one blob — LP splits it
    * along weight structure. The DuckDB oracle unrolls both rounds:
    * edge symmetrization, weighted votes, the (weight desc, label
    * asc) argmax, and isolated-node carryover.
    */
  def q176LabelPropagation(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey"))
    val co = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("pa"), col("b.l_partkey").as("pb"))
      .agg(count(lit(1)).as("w"))
    graft.operators.Graph.labelPropagation(co, "pa", "pb", "w", iters = 2)
      .select(col("id").as("part_id"), col("label").as("community"))
      .orderBy("part_id")
  }

  private def lpStepSql(prev: String, out: String): String =
    s"""v_$out AS (
       |  SELECT e.a, l.label AS nl, CAST(sum(e.w) AS BIGINT) AS v
       |  FROM e JOIN $prev l ON l.id = e.b
       |  GROUP BY e.a, l.label),
       |w_$out AS (
       |  SELECT a AS id, nl AS label FROM v_$out
       |  QUALIFY row_number() OVER (PARTITION BY a
       |    ORDER BY v DESC, nl ASC) = 1),
       |$out AS (
       |  SELECT n.id, COALESCE(w.label, n.id) AS label
       |  FROM nodes n LEFT JOIN w_$out w USING (id))""".stripMargin

  val q176Sql: String =
    s"""WITH co AS (
       |  SELECT a.l_partkey AS pa, b.l_partkey AS pb,
       |    CAST(count(*) AS BIGINT) AS w
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2),
       |sym AS (
       |  SELECT pa AS a, pb AS b, w FROM co
       |  UNION ALL
       |  SELECT pb AS a, pa AS b, w FROM co),
       |e AS (SELECT a, b, CAST(sum(w) AS BIGINT) AS w FROM sym GROUP BY a, b),
       |nodes AS (SELECT DISTINCT a AS id FROM e),
       |l0 AS (SELECT id, id AS label FROM nodes),
       |${lpStepSql("l0", "l1")},
       |${lpStepSql("l1", "l2")}
       |SELECT id AS part_id, CAST(label AS BIGINT) AS community
       |FROM l2 ORDER BY part_id""".stripMargin

  /** Personalized PageRank
    * ([[graft.operators.Graph.personalizedPageRank]]): rank the
    * customer→supplier purchase graph relative to customers 1–5 (the
    * teleport seeds) — "which suppliers matter to THESE customers".
    * Same integer fixed-point recipe as q93; the oracle unrolls all
    * three iterations with the seed-concentrated teleport.
    */
  def q177PersonalizedPagerank(s: SparkSession, dir: String): DataFrame = {
    val edges = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("src"),
        (col("l_suppkey") + 100000L).as("dst"))
    graft.operators.Graph.personalizedPageRank(
        edges, "src", "dst", seeds = Seq(1L, 2L, 3L, 4L, 5L), iters = 3)
      .select(col("id"), col("rank").as("rank_fp"))
      .orderBy("id")
  }

  private def pprStepSql(prev: String, out: String): String =
    s"""s_$out AS (
       |  SELECT e.dst AS id, sum(p.r // o.deg) AS insum
       |  FROM edges e JOIN $prev p ON p.id = e.src
       |  JOIN outdeg o ON o.id = e.src
       |  GROUP BY e.dst),
       |$out AS (
       |  SELECT n.id,
       |    CAST(CASE WHEN n.id IN (1, 2, 3, 4, 5)
       |           THEN (SELECT (100 - 85) * unit // 100 FROM params)
       |           ELSE 0 END +
       |         (85 * COALESCE(s.insum, 0)) // 100 AS BIGINT) AS r
       |  FROM nodes n LEFT JOIN s_$out s ON s.id = n.id)""".stripMargin

  val q177Sql: String =
    s"""WITH edges AS (
       |  SELECT DISTINCT o_custkey AS src, l_suppkey + 100000 AS dst
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
       |params AS (SELECT CAST(1000000000000 // 5 AS BIGINT) AS unit),
       |outdeg AS (SELECT src AS id, count(*) AS deg FROM edges GROUP BY src),
       |r0 AS (
       |  SELECT id, CASE WHEN id IN (1, 2, 3, 4, 5)
       |    THEN (SELECT unit FROM params) ELSE 0 END AS r
       |  FROM nodes),
       |${pprStepSql("r0", "r1")},
       |${pprStepSql("r1", "r2")},
       |${pprStepSql("r2", "r3")}
       |SELECT id, r AS rank_fp FROM r3 ORDER BY id""".stripMargin

  /** Skew remediation planner ([[graft.operators.JoinOps.saltPlan]])
    * over q73's planted-skew key distribution (40% of lineitem rows
    * collapse onto key 1): which keys exceed 4× the mean rows-per-key
    * and how many salt buckets each needs. Pure integer arithmetic —
    * the oracle replays counts, integer mean, threshold, and the
    * ceiling division.
    */
  def q178SaltPlan(s: SparkSession, dir: String): DataFrame = {
    val fact = Tables.lineitem(s, dir).select(
      when(pmod(col("l_orderkey"), lit(10)) < 4, lit(1L))
        .otherwise(col("l_suppkey")).as("skewkey"))
    graft.operators.JoinOps.saltPlan(fact, "skewkey", skewFactor = 4)
      .orderBy("skewkey")
  }

  val q178Sql: String =
    """WITH fact AS (
      |  SELECT CASE WHEN l_orderkey % 10 < 4 THEN 1 ELSE l_suppkey END AS skewkey
      |  FROM lineitem),
      |counts AS (
      |  SELECT skewkey, CAST(count(*) AS BIGINT) AS n_rows
      |  FROM fact GROUP BY skewkey),
      |st AS (
      |  SELECT CAST(sum(n_rows) AS BIGINT) AS total,
      |    CAST(count(*) AS BIGINT) AS nkeys
      |  FROM counts)
      |SELECT skewkey, n_rows,
      |  total // nkeys AS avg_rows,
      |  (n_rows + total // nkeys - 1) // (total // nkeys) AS salt_factor
      |FROM counts CROSS JOIN st
      |WHERE n_rows > 4 * (total // nkeys)
      |ORDER BY skewkey""".stripMargin

  /** Functional-dependency discovery
    * ([[graft.operators.Profiling.functionalDependencies]]): does
    * every determinant value map to one dependent value? Candidates
    * across nation/customer/orders — the metadata-inference pass that
    * finds the constraints a modeler would declare (nationkey →
    * regionkey holds; custkey → orderpriority does not). The oracle
    * recomputes every pair's violating-key count from scratch.
    */
  def q183FdDiscovery(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Profiling.functionalDependencies
    functionalDependencies(Tables.nation(s, dir), "nation",
        Seq("n_nationkey" -> "n_regionkey", "n_name" -> "n_regionkey"))
      .unionByName(functionalDependencies(Tables.customer(s, dir), "customer",
        Seq("c_nationkey" -> "c_mktsegment", "c_custkey" -> "c_nationkey")))
      .unionByName(functionalDependencies(Tables.orders(s, dir), "orders",
        Seq("o_custkey" -> "o_orderpriority")))
      .orderBy("table_name", "det_col", "dep_col")
  }

  val q183Sql: String = {
    def fd(table: String, det: String, dep: String): String =
      s"""SELECT '$table' AS table_name, '$det' AS det_col, '$dep' AS dep_col,
         |  CAST(count(*) AS BIGINT) AS n_keys,
         |  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_keys,
         |  CAST(CASE WHEN sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0
         |    THEN 1 ELSE 0 END AS INT) AS holds
         |FROM (SELECT $det, count(DISTINCT $dep) AS nd FROM $table GROUP BY $det)""".stripMargin
    Seq(fd("nation", "n_nationkey", "n_regionkey"),
      fd("nation", "n_name", "n_regionkey"),
      fd("customer", "c_nationkey", "c_mktsegment"),
      fd("customer", "c_custkey", "c_nationkey"),
      fd("orders", "o_custkey", "o_orderpriority"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY table_name, det_col, dep_col")
  }

  /** Bounded k-core peeling ([[graft.operators.Graph.kCore]]) on the
    * part co-purchase graph (q176's edge set): 3 synchronous rounds
    * of "drop nodes with fewer than 95 co-purchased neighbors" — the
    * density screen behind degree-based quality signals. At this k
    * the peeling genuinely cascades (removing marginal parts pulls
    * previously-safe parts under the bar: 2000 → 1642 → 1230 → 377
    * survivors at sf0.01), which is exactly the dynamics a
    * fixed-threshold filter can't reproduce. The oracle unrolls all
    * three peel rounds as CTEs.
    */
  def q185KCore(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey"))
    val co = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("pa"), col("b.l_partkey").as("pb"))
    graft.operators.Graph.kCore(co, "pa", "pb", k = 95, rounds = 3)
      .select(col("id").as("part_id"), col("degree"))
      .orderBy("part_id")
  }

  private def peelStepSql(eIn: String, aOut: String, eOut: String): String =
    s"""$aOut AS (
       |  SELECT src AS id FROM $eIn GROUP BY src HAVING count(*) >= 95),
       |$eOut AS (
       |  SELECT e.src, e.dst FROM $eIn e
       |  JOIN $aOut x ON e.src = x.id
       |  JOIN $aOut y ON e.dst = y.id)""".stripMargin

  val q185Sql: String =
    s"""WITH raw AS (
       |  SELECT a.l_partkey AS pa, b.l_partkey AS pb
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |e0 AS (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT pa AS src, pb AS dst FROM raw
       |    UNION ALL
       |    SELECT pb AS src, pa AS dst FROM raw)
       |  WHERE src <> dst),
       |${peelStepSql("e0", "a1", "e1")},
       |${peelStepSql("e1", "a2", "e2")},
       |${peelStepSql("e2", "a3", "e3")}
       |SELECT src AS part_id, CAST(count(*) AS BIGINT) AS degree
       |FROM e3 GROUP BY src ORDER BY part_id""".stripMargin

  /** Gini-impurity column profile
    * ([[graft.operators.Profiling.giniImpurity]]) over four orders
    * columns spanning the shape spectrum: a near-constant status, a
    * uniform 5-value priority, a constant ship priority (impurity 0)
    * and a high-cardinality customer key (impurity → 10⁶). The oracle
    * replays every value count, HUGEINT square and integral division.
    */
  def q187GiniProfile(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profiling.giniImpurity(Tables.orders(s, dir), "orders",
      Seq("o_orderstatus", "o_orderpriority", "o_orderdate", "o_custkey"))

  val q187Sql: String = {
    def g(c: String): String =
      s"""SELECT 'orders' AS table_name, '$c' AS col_name,
         |  CAST(sum(c) AS BIGINT) AS n_rows,
         |  CAST(count(*) AS BIGINT) AS n_distinct,
         |  CAST(((CAST(sum(c) AS HUGEINT) * sum(c) - sum(CAST(c AS HUGEINT) * c))
         |    * 1000000) // (CAST(sum(c) AS HUGEINT) * sum(c)) AS BIGINT) AS gini_scaled
         |FROM (SELECT count(*) AS c FROM orders GROUP BY $c)""".stripMargin
    Seq("o_orderstatus", "o_orderpriority", "o_orderdate", "o_custkey")
      .map(g).mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }

  /** Bounded weighted shortest paths
    * ([[graft.operators.Graph.ssspBounded]]) on the nation-to-nation
    * shipping graph (supplier nation → customer nation, edge weight =
    * min quantity shipped on the route): cheapest cumulative route
    * from nation 0 within 3 legs — [[q161BfsHops]]'s weighted sibling
    * (fewest hops ≠ cheapest route). The oracle unrolls all three
    * Bellman-Ford relaxation rounds as CTEs.
    */
  def q192SsspRoutes(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_quantity"))
      .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .select(col("s_nationkey").as("src"), col("c_nationkey").as("dst"),
        col("l_quantity").as("w"))
    graft.operators.Graph.ssspBounded(e, "src", "dst", "w",
        seeds = Seq(0L), rounds = 3)
      .orderBy("id")
  }

  private def bfStepSql(prev: String, out: String): String =
    s"""$out AS (
       |  SELECT id, min(dist) AS dist FROM (
       |    SELECT id, dist FROM $prev
       |    UNION ALL
       |    SELECT e.dst AS id, p.dist + e.w AS dist
       |    FROM $prev p JOIN e ON e.src = p.id)
       |  GROUP BY id)""".stripMargin

  val q192Sql: String =
    s"""WITH e AS (
       |  SELECT s_nationkey AS src, c_nationkey AS dst,
       |    min(CAST(l_quantity AS BIGINT)) AS w
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN customer ON o_custkey = c_custkey
       |  GROUP BY 1, 2),
       |d0 AS (
       |  SELECT id, CAST(0 AS BIGINT) AS dist
       |  FROM (SELECT src AS id FROM e UNION SELECT dst FROM e)
       |  WHERE id = 0),
       |${bfStepSql("d0", "d1")},
       |${bfStepSql("d1", "d2")},
       |${bfStepSql("d2", "d3")}
       |SELECT id, CAST(dist AS BIGINT) AS dist FROM d3 ORDER BY id""".stripMargin

  /** Bitemporal as-of ([[graft.operators.Scd.bitemporalAsOf]]): order
    * state at valid time 1996-06-01 as known at transaction time 1
    * AND at transaction time 2 — tx 2 revises every 7th order (status
    * R, doubled price) effective 30 days after its order date. The
    * two as-of-tx snapshots differ exactly where a revision's valid
    * date has been reached by V and was committed by T — the two-axis
    * reproducibility question neither SCD2 (valid only) nor snapshot
    * versions (tx only) answer alone. The oracle replays the
    * filter + (valid_from desc, tx desc) argmax for both tx times.
    */
  def q198Bitemporal(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(s, dir).select(col("o_orderkey"),
        col("o_orderstatus").as("status"),
        col("o_totalprice").as("price"),
        to_date(col("o_orderdate")).as("valid_from"))
      .withColumn("tx", lit(1L))
    val fix = base.filter(col("o_orderkey") % 7 === 0)
      .withColumn("valid_from", date_add(col("valid_from"), 30))
      .withColumn("price", col("price") * 2)
      .withColumn("status", lit("R"))
      .withColumn("tx", lit(2L))
    val bi = base.unionByName(fix)
    val v = to_date(lit("1996-06-01"))
    def snap(t: Long) = graft.operators.Scd
      .bitemporalAsOf(bi, "o_orderkey", "valid_from", "tx", v, lit(t))
      .withColumn("as_of_tx", lit(t.toInt))
    snap(1L).unionByName(snap(2L))
      .select(col("as_of_tx"), col("o_orderkey"), col("status"),
        col("price"),
        date_format(col("valid_from"), "yyyy-MM-dd").as("valid_from"),
        col("tx"))
      .orderBy("as_of_tx", "o_orderkey")
  }

  val q198Sql: String =
    """WITH bi AS (
      |  SELECT o_orderkey, o_orderstatus AS status, o_totalprice AS price,
      |    CAST(o_orderdate AS DATE) AS valid_from, CAST(1 AS BIGINT) AS tx
      |  FROM orders
      |  UNION ALL
      |  SELECT o_orderkey, 'R', o_totalprice * 2,
      |    CAST(o_orderdate AS DATE) + 30, CAST(2 AS BIGINT)
      |  FROM orders WHERE o_orderkey % 7 = 0),
      |pick AS (
      |  SELECT t.n AS as_of_tx, bi.*,
      |    row_number() OVER (PARTITION BY t.n, o_orderkey
      |      ORDER BY valid_from DESC, tx DESC) AS rn
      |  FROM bi CROSS JOIN (SELECT unnest([1, 2]) AS n) t
      |  WHERE bi.tx <= t.n AND bi.valid_from <= DATE '1996-06-01')
      |SELECT CAST(as_of_tx AS INT) AS as_of_tx, o_orderkey, status, price,
      |  strftime(valid_from, '%Y-%m-%d') AS valid_from, tx
      |FROM pick WHERE rn = 1
      |ORDER BY as_of_tx, o_orderkey""".stripMargin

  /** Local clustering coefficients
    * ([[graft.operators.Graph.clusteringCoefficient]]) on q114's
    * co-purchase graph: 2·T/(deg·(deg−1)) as the exact integer
    * (2·T·10⁶) DIV (deg·(deg−1)) — the community-density signal raw
    * triangle counts miss (hubs dilute). The oracle recomputes
    * triangles, degrees and the division from scratch.
    */
  def q201ClusteringCoeff(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val edges = p.as("a")
      .join(p.as("b"), col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
    graft.operators.Graph.clusteringCoefficient(edges, "src", "dst")
      .orderBy("node_id")
  }

  val q201Sql: String =
    """WITH p AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS (
      |  SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
      |  FROM p a JOIN p b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |tri AS (
      |  SELECT a.lo AS x, a.hi AS y, b.hi AS z
      |  FROM e a
      |  JOIN e b ON b.lo = a.hi
      |  JOIN e c ON c.lo = a.lo AND c.hi = b.hi),
      |pn AS (
      |  SELECT node_id, CAST(count(*) AS BIGINT) AS n_triangles
      |  FROM (SELECT unnest([x, y, z]) AS node_id FROM tri)
      |  GROUP BY node_id),
      |deg AS (
      |  SELECT node_id, CAST(count(*) AS BIGINT) AS degree
      |  FROM (SELECT lo AS node_id FROM e UNION ALL SELECT hi FROM e)
      |  GROUP BY node_id)
      |SELECT d.node_id, d.degree,
      |  coalesce(pn.n_triangles, 0) AS n_triangles,
      |  CAST(CASE WHEN d.degree >= 2
      |    THEN (2 * coalesce(pn.n_triangles, 0) * 1000000)
      |      // (d.degree * (d.degree - 1))
      |    ELSE 0 END AS BIGINT) AS cc_scaled
      |FROM deg d LEFT JOIN pn USING (node_id)
      |ORDER BY d.node_id""".stripMargin

  /** Unpivot / melt — the wide→long reshaping every feature pipeline
    * needs somewhere (per-metric rows for a generic quality monitor,
    * long-format exports): four lineitem measures stacked into
    * (metric, value) rows with Spark's native `stack` generator — a
    * narrow 4× row expansion, zero exchanges, the exact inverse
    * surface of q47's pivot.
    */
  def q202Unpivot(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).filter(col("l_orderkey") < 200)
      .select(col("l_orderkey"), col("l_linenumber"),
        expr("""stack(4,
          'quantity', CAST(l_quantity AS DOUBLE),
          'extendedprice', CAST(l_extendedprice AS DOUBLE),
          'discount', CAST(l_discount AS DOUBLE),
          'tax', CAST(l_tax AS DOUBLE)) AS (metric, value)"""))
      .orderBy("l_orderkey", "l_linenumber", "metric")

  val q202Sql: String = {
    def leg(m: String, c: String): String =
      s"""SELECT l_orderkey, l_linenumber, '$m' AS metric,
         |  CAST($c AS DOUBLE) AS value
         |FROM lineitem WHERE l_orderkey < 200""".stripMargin
    Seq(leg("quantity", "l_quantity"), leg("extendedprice", "l_extendedprice"),
      leg("discount", "l_discount"), leg("tax", "l_tax"))
      .mkString("", "\nUNION ALL\n",
        "\nORDER BY l_orderkey, l_linenumber, metric")
  }

  /** Correlated LATERAL subquery — the per-row-subquery SQL surface
    * (top-2 orders per customer by price, expressed the way an
    * analyst writes it, not pre-rewritten into a window). Catalyst's
    * decorrelation compiles the LATERAL ... ORDER BY ... LIMIT into a
    * keyed rank window — the scalable plan — and this query proves
    * that the DECLARATIVE form reaches it; the oracle runs the
    * identical LATERAL text in DuckDB.
    */
  def q203LateralTopK(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("customer")
    Tables.orders(s, dir).createOrReplaceTempView("orders")
    s.sql("""
      SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
      FROM customer c,
      LATERAL (SELECT o_orderkey, o_totalprice FROM orders
               WHERE o_custkey = c.c_custkey
               ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o""")
      .orderBy(col("c_custkey"), desc("o_totalprice"), col("o_orderkey"))
  }

  val q203Sql: String =
    """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
      |FROM customer c,
      |LATERAL (SELECT o_orderkey, o_totalprice FROM orders
      |         WHERE o_custkey = c.c_custkey
      |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
      |ORDER BY c.c_custkey, o.o_totalprice DESC, o.o_orderkey""".stripMargin

  /** Dynamic partition pruning: events written date-partitioned, a
    * selective dim (every 7th day-of-month) joined on the PARTITION
    * column — Catalyst injects the dim's keys as a runtime partition
    * filter, so the fact scan reads ~3/30 partitions instead of all
    * (the 100 TB point of date-partitioned layouts; PlanShapeSpec
    * asserts the `dynamicpruning` subquery is actually in the scan).
    * The oracle recomputes the selected days' aggregates from the
    * raw table.
    */
  def q204Dpp(s: SparkSession, dir: String): DataFrame = {
    val path = Det.scratchPath("q204", dir) + "/t"
    val ev = Tables.events(s, dir).select(col("event_id"), col("value"),
      to_date(col("ts")).as("d"))
    ev.write.partitionBy("d").mode("overwrite").parquet(path)
    val fact = Tables.read(s, path)
    val dim = Tables.read(s, path).select(col("d")).distinct()
      .filter(dayofmonth(col("d")) % 7 === 2)
    fact.join(broadcast(dim), Seq("d"))
      .groupBy(col("d"))
      .agg(count(lit(1)).as("n_events"),
        Det.exactSum(col("value")).as("sum_value"))
      .select(date_format(col("d"), "yyyy-MM-dd").as("day"),
        col("n_events"), col("sum_value"))
      .orderBy("day")
  }

  val q204Sql: String =
    s"""SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
       |  count(*) AS n_events,
       |  ${Det.exactSumSql("value")} AS sum_value
       |FROM events
       |WHERE day(CAST(ts AS DATE)) % 7 = 2
       |GROUP BY 1
       |ORDER BY 1""".stripMargin

  val queries: Map[String, Q] = Map(
    "q203_lateral_topk"    -> q203LateralTopK _,
    "q204_dpp"             -> q204Dpp _,
    "q201_clustering_coeff" -> q201ClusteringCoeff _,
    "q202_unpivot"         -> q202Unpivot _,
    "q198_bitemporal"      -> q198Bitemporal _,
    "q192_sssp_routes"     -> q192SsspRoutes _,
    "q185_kcore"           -> q185KCore _,
    "q187_gini_profile"    -> q187GiniProfile _,
    "q183_fd_discovery"    -> q183FdDiscovery _,
    "q176_label_propagation" -> q176LabelPropagation _,
    "q177_personalized_pagerank" -> q177PersonalizedPagerank _,
    "q178_salt_plan"       -> q178SaltPlan _,
    "q161_bfs_hops"        -> q161BfsHops _,
    "q151_robust_outliers" -> q151RobustOutliers _,
    "q152_basket_lift"     -> q152BasketLift _,
    "q149_skyline"         -> q149Skyline _,
    "q143_hierarchy_rollup" -> q143HierarchyRollup _,
    "q140_blame_supplier"  -> q140BlameSupplier _,
    "q141_sales_opportunity" -> q141SalesOpportunity _,
    "q114_triangle_counts" -> q114TriangleCounts _,
    "q215_reach_sketch"   -> q215ReachSketch _,
    "q88_profile_table"   -> q88ProfileTable _,
    "q62_grouping_sets"   -> q62GroupingSets _,
    "q57_bucketed_join"   -> q57BucketedJoin _,
    "q57b_bucketed_probe" -> q57bBucketedJoinProbe _,
    "q73_salted_join"     -> q73SaltedJoin _,
    "q92_bloom_join"      -> q92BloomJoin _,
    "q93_pagerank"        -> q93PageRank _,
    "q95_sketch_maintenance" -> q95SketchMaintenance _,
    "q108_histogram_quantiles" -> q108HistogramQuantiles _,
    "q97_funnel"          -> q97Funnel _,
    "q98_retention"       -> q98Retention _,
    "q47_pivot"           -> q47Pivot _,
    "q45_min_cost_supplier" -> q45MinCostSupplier _,
    "q46_window_battery"  -> q46WindowBattery _,
    "q37_volume_shipping" -> q37VolumeShipping _,
    "q38_percentiles"     -> q38Percentiles _,
    "q40_approx_percentiles" -> q40ApproxPercentiles _,
    "q41_risk_category"   -> q41RiskCategory _,
    "q28_cube"            -> q28Cube _,
    "q29_approx_distinct" -> q29ApproxDistinct _,
    "q30_small_quantity"  -> q30SmallQuantity _,
    "q31_string_ops"      -> q31StringOps _,
    "q32_union_by_name"   -> q32UnionByName _,
    "q34_topk_per_key"    -> q34TopKPerKey _,
    "q01_pricing_summary"   -> q01PricingSummary _,
    "q02_filter_project"    -> q02FilterProject _,
    "q03_shipping_priority" -> q03ShippingPriority _,
    "q04_order_priority"    -> q04OrderPriority _,
    "q05_local_supplier"    -> q05LocalSupplier _,
    "q06_revenue_filter"    -> q06RevenueFilter _,
    "q07_top_customers"     -> q07TopCustomers _,
    "q08_window_rank"       -> q08WindowRank _,
    "q09_duplicate_groups"  -> q09DuplicateGroups _,
    "q10_distinct"          -> q10Distinct _,
    "q11_set_ops"           -> q11SetOps _,
    "q12_rollup"            -> q12Rollup _,
    "q13_anti_join"         -> q13AntiJoin _)

  val oracle: Map[String, String] = Map(
    "q203_lateral_topk"    -> q203Sql,
    "q204_dpp"             -> q204Sql,
    "q201_clustering_coeff" -> q201Sql,
    "q202_unpivot"         -> q202Sql,
    "q198_bitemporal"      -> q198Sql,
    "q192_sssp_routes"     -> q192Sql,
    "q185_kcore"           -> q185Sql,
    "q187_gini_profile"    -> q187Sql,
    "q183_fd_discovery"    -> q183Sql,
    "q176_label_propagation" -> q176Sql,
    "q177_personalized_pagerank" -> q177Sql,
    "q178_salt_plan"       -> q178Sql,
    "q161_bfs_hops"        -> q161Sql,
    "q151_robust_outliers" -> q151Sql,
    "q152_basket_lift"     -> q152Sql,
    "q149_skyline"         -> q149Sql,
    "q143_hierarchy_rollup" -> q143Sql,
    "q140_blame_supplier"  -> q140Sql,
    "q141_sales_opportunity" -> q141Sql,
    "q88_profile_table"   -> q88Sql,
    "q62_grouping_sets" -> q62Sql,
    "q57_bucketed_join" -> q57Sql,
    "q57b_bucketed_probe" -> q57Sql,
    "q73_salted_join" -> q73Sql,
    "q92_bloom_join" -> q92Sql,
    "q93_pagerank" -> q93Sql,
    "q114_triangle_counts" -> q114Sql,
    "q215_reach_sketch" -> q215Sql,
    "q95_sketch_maintenance" -> q95Sql,
    "q108_histogram_quantiles" -> q108Sql,
    "q97_funnel" -> q97Sql,
    "q98_retention" -> q98Sql,
    "q47_pivot" -> q47Sql,
    "q45_min_cost_supplier" -> q45Sql,
    "q46_window_battery" -> q46Sql,
    "q29_approx_distinct" -> q29Sql,
    "q40_approx_percentiles" -> q40Sql,
    "q41_risk_category" -> q41Sql,
    "q28_cube" -> q28Sql,
    "q34_topk_per_key" -> q34Sql,
    "q37_volume_shipping" -> q37Sql,
    "q38_percentiles" -> q38Sql,
    "q30_small_quantity" -> q30Sql,
    "q31_string_ops" -> q31Sql,
    "q32_union_by_name" -> q32Sql,
    "q01_pricing_summary"   -> q01Sql,
    "q02_filter_project"    -> q02Sql,
    "q03_shipping_priority" -> q03Sql,
    "q04_order_priority"    -> q04Sql,
    "q05_local_supplier"    -> q05Sql,
    "q06_revenue_filter"    -> q06Sql,
    "q07_top_customers"     -> q07Sql,
    "q08_window_rank"       -> q08Sql,
    "q09_duplicate_groups"  -> q09Sql,
    "q10_distinct"          -> q10Sql,
    "q11_set_ops"           -> q11Sql,
    "q12_rollup"            -> q12Sql,
    "q13_anti_join"         -> q13Sql)
}
