package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._
import graft.Query

/** Relational query pack over the TPC-H-ish star schema.
  *
  * These are the "Slice 4" breadth queries from SURVEY.md §7: joins
  * (broadcast/shuffle, semi/anti/outer), multi-key aggregates, windows,
  * sorts/limits/top-k, set ops, rollup/cube, subqueries — all Spark
  * built-ins so Catalyst owns pushdown/pruning/join-strategy.
  *
  * Determinism conventions (the driver hash-compares against a DuckDB
  * oracle, see SparkEntry.oracleSql):
  *   - money aggregates go through exact integer cents:
  *     floor(x*100 + 0.5) is the same IEEE sequence in Spark and DuckDB,
  *     summed as longs (exact, order-independent), divided by 100.0 once;
  *   - every query ends in a total ORDER BY over its output columns;
  *   - aggregate columns are aliased identically in Spark and SQL.
  */
object Relational {

  /** Exact money: double -> integer cents (identical IEEE ops in DuckDB). */
  def cents(c: Column): Column = floor(c * lit(100) + lit(0.5))
  def centsSql(e: String): String = s"CAST(FLOOR(($e)*100 + 0.5) AS BIGINT)"
  /** SUM of cents -> dollars-as-double, deterministically. */
  def moneySum(c: Column): Column = sum(cents(c)) / lit(100.0)
  def moneySumSql(e: String): String = s"SUM(${centsSql(e)})/100.0"

  // ---------------------------------------------------------------- q1
  /** TPC-H Q1-style pricing summary: scan -> filter -> hash agg.
    * Reference analog: the groupBy-count core of credit.go
    * (/root/reference/mr-main/mrapps/credit.go:43-58) widened to multi-agg. */
  def q1PricingSummary(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_base_price"),
        moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
        (sum(cents(col("l_extendedprice"))) / lit(100.0) / count(lit(1))).as("avg_price"),
        avg(col("l_quantity")).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  val q1Sql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  SUM(l_quantity) AS sum_qty,
       |  ${moneySumSql("l_extendedprice")} AS sum_base_price,
       |  ${moneySumSql("l_extendedprice*(1-l_discount)")} AS sum_disc_price,
       |  SUM(${centsSql("l_extendedprice")})/100.0/COUNT(*) AS avg_price,
       |  AVG(l_quantity) AS avg_qty,
       |  COUNT(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q3
  /** Shipping-priority: 3-way join -> agg -> top-k. customer is small ->
    * Catalyst broadcasts it; lineitem-orders is the shuffle join. */
  def q3ShippingPriority(s: SparkSession, d: String): DataFrame =
    customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .join(orders(s, d), col("c_custkey") === col("o_custkey"))
      .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .join(lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
      .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)

  val q3Sql: String =
    s"""SELECT o_orderkey, o_orderdate, o_orderpriority,
       |  ${moneySumSql("l_extendedprice*(1-l_discount)")} AS revenue
       |FROM customer JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON o_orderkey = l_orderkey
       |WHERE c_mktsegment = 'BUILDING'
       |  AND o_orderdate < TIMESTAMP '1998-01-01'
       |  AND l_shipdate > TIMESTAMP '1998-01-01'
       |GROUP BY o_orderkey, o_orderdate, o_orderpriority
       |ORDER BY revenue DESC, o_orderkey
       |LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q5
  /** Region-local supplier volume: 6-way join; dims broadcast, the
    * customer/supplier nation-equality is the classic Q5 twist. */
  def q5LocalSupplierVolume(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d); val o = orders(s, d); val l = lineitem(s, d)
    val su = supplier(s, d); val n = nation(s, d); val r = region(s, d)
    c.join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .join(su, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA" &&
        col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .groupBy(col("n_name"))
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val q5Sql: String =
    s"""SELECT n_name, ${moneySumSql("l_extendedprice*(1-l_discount)")} AS revenue
       |FROM customer JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON o_orderkey = l_orderkey
       |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE r_name = 'ASIA'
       |  AND o_orderdate >= TIMESTAMP '1996-01-01'
       |  AND o_orderdate < TIMESTAMP '1998-01-01'
       |GROUP BY n_name
       |ORDER BY revenue DESC, n_name""".stripMargin

  // ---------------------------------------------------------------- q6
  /** Revenue forecast: pure scan+filter+scalar agg; predicates push to
    * the parquet reader (verified via explain: PushedFilters). */
  def q6RevenueForecast(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(moneySum(col("l_extendedprice") * col("l_discount")).as("revenue"),
        count(lit(1)).as("n_rows"))

  val q6Sql: String =
    s"""SELECT ${moneySumSql("l_extendedprice*l_discount")} AS revenue,
       |  COUNT(*) AS n_rows
       |FROM lineitem
       |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
       |  AND l_shipdate < TIMESTAMP '1997-01-01'
       |  AND l_discount >= 0.05 AND l_discount <= 0.07
       |  AND l_quantity < 24""".stripMargin

  // ------------------------------------------------------- semi / anti
  /** Left-semi join: customers having at least one urgent open order. */
  def joinSemi(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(orders(s, d).filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))

  val joinSemiSql: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  /** Left-anti join: customers with no urgent order (NOT EXISTS). */
  def joinAnti(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(orders(s, d).filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  val joinAntiSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  // ------------------------------------------------------------- outer
  /** Q13-style: left-outer join + two-level aggregate (customers by
    * order count, including zero-order customers). */
  def joinOuterDistribution(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  val joinOuterDistributionSql: String =
    """SELECT c_count, COUNT(*) AS custdist FROM (
      |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
      |  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
      |  GROUP BY c_custkey) t
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  // ----------------------------------------------------------- windows
  /** Ranking window: top-3 orders per customer by price. */
  def windowTopPerKey(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  val windowTopPerKeySql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey
      |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) t
      |WHERE rn <= 3
      |ORDER BY o_custkey, rn""".stripMargin

  /** Running-sum window: cumulative spend per customer over time, in
    * exact cents so the running total is order-stable. */
  def windowRunningSum(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders(s, d)
      .withColumn("running_spend", sum(cents(col("o_totalprice"))).over(w) / lit(100.0))
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("running_spend"))
      .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
  }

  val windowRunningSumSql: String =
    s"""SELECT o_custkey, o_orderkey, o_orderdate,
       |  SUM(${centsSql("o_totalprice")}) OVER (PARTITION BY o_custkey
       |    ORDER BY o_orderdate, o_orderkey
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)/100.0
       |    AS running_spend
       |FROM orders
       |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin

  /** Lag/lead window: per-customer gap in days between consecutive orders. */
  def windowLagLead(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    orders(s, d)
      .withColumn("prev_date", lag(col("o_orderdate"), 1).over(w))
      .withColumn("gap_days",
        when(col("prev_date").isNull, lit(null))
          .otherwise(datediff(col("o_orderdate"), col("prev_date"))))
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("gap_days"))
      .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
  }

  val windowLagLeadSql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |  CAST(DATE_DIFF('day',
      |    LAG(o_orderdate) OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderdate, o_orderkey),
      |    o_orderdate) AS INT) AS gap_days
      |FROM orders
      |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin

  /** Time-RANGE window: trailing-30-day order count and spend per
    * customer — RANGE BETWEEN over epoch seconds (not ROWS), so peers
    * at the same timestamp aggregate together in both engines. */
  def windowTrailing30d(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("ts_sec"))
      .rangeBetween(-30L * 86400, 0)
    orders(s, d)
      // o_orderdate is TIMESTAMP_NTZ: hop through TIMESTAMP (session
      // TZ is UTC) to get epoch seconds — matches DuckDB's EPOCH()
      .withColumn("ts_sec", col("o_orderdate").cast("timestamp").cast("long"))
      .withColumn("n_30d", count(lit(1)).over(w))
      .withColumn("spend_30d", sum(cents(col("o_totalprice"))).over(w) / lit(100.0))
      .select(col("o_custkey"), col("o_orderkey"), col("ts_sec"),
        col("n_30d"), col("spend_30d"))
      .orderBy(col("o_custkey"), col("ts_sec"), col("o_orderkey"))
  }

  val windowTrailing30dSql: String =
    s"""SELECT o_custkey, o_orderkey, ts_sec,
       |  COUNT(*) OVER w AS n_30d,
       |  SUM(cents) OVER w / 100.0 AS spend_30d
       |FROM (SELECT o_custkey, o_orderkey,
       |        CAST(FLOOR(EPOCH(o_orderdate)) AS BIGINT) AS ts_sec,
       |        ${centsSql("o_totalprice")} AS cents
       |      FROM orders) t
       |WINDOW w AS (PARTITION BY o_custkey ORDER BY ts_sec
       |  RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)
       |ORDER BY o_custkey, ts_sec, o_orderkey""".stripMargin

  /** Distribution windows: ntile quartile, percent_rank, cume_dist,
    * dense_rank per customer over order price. The rank fractions are
    * exact small-integer ratios, so doubles compare bit-identical
    * across engines; ordering carries the o_orderkey tie-break. */
  def windowRankStats(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders(s, d)
      .withColumn("quartile", ntile(4).over(w))
      .withColumn("pct_rank", percent_rank().over(w))
      .withColumn("cume", cume_dist().over(w))
      .withColumn("drnk", dense_rank().over(w))
      .select(col("o_custkey"), col("o_orderkey"), col("quartile"),
        col("pct_rank"), col("cume"), col("drnk"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val windowRankStatsSql: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(NTILE(4) OVER w AS INT) AS quartile,
      |  PERCENT_RANK() OVER w AS pct_rank,
      |  CUME_DIST() OVER w AS cume,
      |  CAST(DENSE_RANK() OVER w AS INT) AS drnk
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey
      |  ORDER BY o_totalprice DESC, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** The NATIVE pivot operator with MULTIPLE aggregates per cell:
    * order count and exact cents revenue per (priority × status) —
    * Spark's `.pivot(col, values)` with an explicit value list keeps
    * the plan a single two-phase hash-agg (no second pass to discover
    * pivot values, which at 100 TB would be an extra full scan), and
    * the multi-agg produces the `<value>_<agg>` column grid the
    * oracle re-expresses as conditional aggregates. */
  def aggPivotMulti(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .withColumn("cents", cents(col("o_totalprice")).cast("long"))
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("O", "F", "P"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
      .orderBy(col("o_orderpriority"))

  val aggPivotMultiSql: String =
    s"""SELECT o_orderpriority,
       |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O_n,
       |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN ${centsSql("o_totalprice")} END) AS BIGINT) AS O_cents,
       |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F_n,
       |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN ${centsSql("o_totalprice")} END) AS BIGINT) AS F_cents,
       |  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS P_n,
       |  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN ${centsSql("o_totalprice")} END) AS BIGINT) AS P_cents
       |FROM orders GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin

  /** Unpivot (wide → long): melt the pivoted status counts back into
    * (priority, status, n) rows — Spark's native `unpivot` operator;
    * the oracle re-expresses it as the equivalent UNION ALL. */
  def unpivotStatus(s: SparkSession, d: String): DataFrame =
    aggPivot(s, d)
      .unpivot(Array(col("o_orderpriority")),
        Array(col("n_open"), col("n_filled"), col("n_pending")),
        "status", "n")
      .orderBy(col("o_orderpriority"), col("status"))

  // lazy: aggPivotSql is declared further down the object body
  lazy val unpivotStatusSql: String =
    s"""WITH pivoted AS ($aggPivotSql)
       |SELECT o_orderpriority, status, n FROM (
       |  SELECT o_orderpriority, 'n_open' AS status, n_open AS n FROM pivoted
       |  UNION ALL
       |  SELECT o_orderpriority, 'n_filled', n_filled FROM pivoted
       |  UNION ALL
       |  SELECT o_orderpriority, 'n_pending', n_pending FROM pivoted) u
       |ORDER BY o_orderpriority, status""".stripMargin

  // ----------------------------------------------------- sort / top-k
  /** Global top-k with total tiebreak: TakeOrderedAndProject, no full sort. */
  def sortTopK(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(20)

  val sortTopKSql: String =
    """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
      |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
      |LIMIT 20""".stripMargin

  // ------------------------------------------------------------ setops
  /** UNION (distinct): nation keys of customers union suppliers. */
  def setUnion(s: SparkSession, d: String): DataFrame =
    customer(s, d).select(col("c_nationkey").as("nationkey"))
      .union(supplier(s, d).select(col("s_nationkey").as("nationkey")))
      .distinct()
      .orderBy(col("nationkey"))

  val setUnionSql: String =
    """SELECT c_nationkey AS nationkey FROM customer
      |UNION SELECT s_nationkey AS nationkey FROM supplier
      |ORDER BY nationkey""".stripMargin

  /** INTERSECT: custkeys that ordered in both 1996 and 1997. */
  def setIntersect(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    o.filter(year(col("o_orderdate")) === 1996).select(col("o_custkey"))
      .intersect(o.filter(year(col("o_orderdate")) === 1997).select(col("o_custkey")))
      .orderBy(col("o_custkey"))
  }

  val setIntersectSql: String =
    """SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1996
      |INTERSECT
      |SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1997
      |ORDER BY o_custkey""".stripMargin

  /** EXCEPT: custkeys active in 1996 but not 1997. */
  def setExcept(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    o.filter(year(col("o_orderdate")) === 1996).select(col("o_custkey"))
      .except(o.filter(year(col("o_orderdate")) === 1997).select(col("o_custkey")))
      .orderBy(col("o_custkey"))
  }

  val setExceptSql: String =
    """SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1996
      |EXCEPT
      |SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1997
      |ORDER BY o_custkey""".stripMargin

  // ----------------------------------------------------- agg varieties
  /** ROLLUP over two keys with a portable grouping-level marker. */
  def aggRollup(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("total"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("total"))
      .orderBy(col("status"), col("priority"))

  val aggRollupSql: String =
    s"""SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       |  COALESCE(o_orderpriority, 'ALL') AS priority,
       |  COUNT(*) AS n, ${moneySumSql("o_totalprice")} AS total
       |FROM orders
       |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
       |ORDER BY status, priority""".stripMargin

  /** CUBE over two keys: all four grouping combinations. */
  def aggCube(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"))
      .orderBy(col("status"), col("priority"))

  val aggCubeSql: String =
    """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
      |  COALESCE(o_orderpriority, 'ALL') AS priority,
      |  COUNT(*) AS n
      |FROM orders
      |GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY status, priority""".stripMargin

  /** Array functions over the lineitems of each order: collect, sort,
    * dedupe, slice, and re-aggregate — the nested-type surface. */
  def scalarArrayFunctions(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(collect_list(col("l_linenumber")).as("lines"),
        collect_list(col("l_quantity")).as("qtys"))
      // sort once: two downstream uses reference this column, and
      // CollapseProject keeps non-cheap multi-referenced expressions
      // in their own project, so the sort is not re-inlined twice
      .withColumn("sorted_lines", sort_array(col("lines")))
      .select(
        col("l_orderkey"),
        // arrays rendered as canonical strings: array hashing/display
        // differs between engines, string join does not
        concat_ws(",", transform(col("sorted_lines"), _.cast("string")))
          .as("lines_sorted"),
        size(col("lines")).as("n_lines"),
        concat_ws(",", transform(sort_array(array_distinct(col("qtys"))),
          _.cast("int").cast("string"))).as("distinct_qtys"),
        concat_ws(",", transform(slice(col("sorted_lines"), 1, 2),
          _.cast("string"))).as("first_two"),
        aggregate(col("qtys"), lit(0.0d), (acc, x) => acc + x).as("qty_sum"))
      .orderBy(col("l_orderkey"))

  val scalarArrayFunctionsSql: String =
    """SELECT l_orderkey,
      |  array_to_string(lines_sorted, ',') AS lines_sorted,
      |  CAST(len(lines_sorted) AS INT) AS n_lines,
      |  array_to_string(list_transform(list_sort(list_distinct(qtys)),
      |    x -> CAST(CAST(x AS INT) AS VARCHAR)), ',') AS distinct_qtys,
      |  array_to_string(lines_sorted[1:2], ',') AS first_two,
      |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE), qtys),
      |              (a, b) -> a + b) AS qty_sum
      |FROM (
      |  SELECT l_orderkey,
      |    list_sort(list(l_linenumber)) AS lines_sorted,
      |    list(l_quantity) AS qtys
      |  FROM lineitem GROUP BY l_orderkey)
      |ORDER BY l_orderkey""".stripMargin

  /** Distinct aggregates: count(distinct) + sum(distinct) side by side. */
  def aggDistinct(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(col("l_partkey")).as("n_part"),
        sum_distinct(col("l_quantity")).as("sum_distinct_qty"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  val aggDistinctSql: String =
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_suppkey) AS n_supp,
      |  COUNT(DISTINCT l_partkey) AS n_part,
      |  SUM(DISTINCT l_quantity) AS sum_distinct_qty,
      |  COUNT(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** HAVING: Q18-style large orders (groups filtered on an aggregate). */
  def aggHaving(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > 150)
      .orderBy(col("total_qty").desc, col("l_orderkey"))

  val aggHavingSql: String =
    """SELECT l_orderkey, SUM(l_quantity) AS total_qty
      |FROM lineitem GROUP BY l_orderkey
      |HAVING SUM(l_quantity) > 150
      |ORDER BY total_qty DESC, l_orderkey""".stripMargin

  /** Pivot (conditional aggregation): order counts per status × priority. */
  def aggPivot(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(
        sum(when(col("o_orderstatus") === "O", 1).otherwise(0)).as("n_open"),
        sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("n_filled"),
        sum(when(col("o_orderstatus") === "P", 1).otherwise(0)).as("n_pending"))
      .orderBy(col("o_orderpriority"))

  val aggPivotSql: String =
    """SELECT o_orderpriority,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_pending
      |FROM orders GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ------------------------------------------------- string aggregation
  /** LISTAGG/string_agg surface: per region, the comma-joined sorted
    * list of its nations plus each nation's customer count — the
    * denormalize-for-export shape (labels, report rows, prompt
    * context packing). Determinism: the list is explicitly sorted
    * (array_sort ⇔ ORDER BY inside string_agg), never
    * collection-order-dependent. Scale note: a collected list is
    * bounded by GROUP cardinality (here ≤25 nations/region) — the op
    * is for bounded label sets; unbounded text concat belongs to
    * text_pack_sequences' budgeted packing instead. */
  def aggStringCollect(s: SparkSession, d: String): DataFrame = {
    val n = nation(s, d).join(broadcast(region(s, d)),
      col("n_regionkey") === col("r_regionkey"))
    val perNation = n.join(customer(s, d),
        col("c_nationkey") === col("n_nationkey"), "left")
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(col("c_custkey")).as("n_cust"))
    perNation
      .groupBy(col("r_name"))
      .agg(
        array_join(array_sort(collect_list(col("n_name"))), ",")
          .as("nations"),
        array_join(array_sort(collect_list(
          concat(col("n_name"), lit(":"), col("n_cust")))), ",")
          .as("nation_counts"),
        sum(col("n_cust")).as("total_cust"))
      .orderBy(col("r_name"))
  }

  val aggStringCollectSql: String =
    """WITH per_nation AS (
      |  SELECT r_name, n_name, COUNT(c_custkey) AS n_cust
      |  FROM nation
      |  JOIN region ON n_regionkey = r_regionkey
      |  LEFT JOIN customer ON c_nationkey = n_nationkey
      |  GROUP BY r_name, n_name)
      |SELECT r_name,
      |  string_agg(n_name, ',' ORDER BY n_name) AS nations,
      |  string_agg(n_name || ':' || CAST(n_cust AS VARCHAR), ','
      |    ORDER BY n_name || ':' || CAST(n_cust AS VARCHAR)) AS nation_counts,
      |  CAST(SUM(n_cust) AS BIGINT) AS total_cust
      |FROM per_nation GROUP BY r_name ORDER BY r_name""".stripMargin

  // -------------------------------------------------------- subqueries
  /** Scalar subquery: customers with balance above the global average. */
  def subqueryScalar(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d)
    val avgBal = c.agg(avg(cents(col("c_acctbal")) / lit(100.0)).as("a"))
    c.join(broadcast(avgBal))
      .filter(cents(col("c_acctbal")) / lit(100.0) > col("a"))
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy(col("c_custkey"))
  }

  val subqueryScalarSql: String =
    s"""SELECT c_custkey, c_name, c_acctbal FROM customer
       |WHERE ${centsSql("c_acctbal")}/100.0 >
       |  (SELECT AVG(${centsSql("c_acctbal")}/100.0) FROM customer)
       |ORDER BY c_custkey""".stripMargin

  /** IN-subquery: orders whose customer is in the AUTOMOBILE segment. */
  def subqueryIn(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .join(customer(s, d).filter(col("c_mktsegment") === "AUTOMOBILE")
        .select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"), "left_semi")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      .orderBy(col("o_orderkey"))

  val subqueryInSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
      |WHERE o_custkey IN
      |  (SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE')
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------- scalar funcs
  /** Scalar function sampler: string/math/date built-ins in one query. */
  def scalarFunctions(s: SparkSession, d: String): DataFrame =
    part(s, d)
      .select(
        col("p_partkey"),
        upper(col("p_name")).as("name_upper"),
        length(col("p_name")).as("name_len"),
        substring(col("p_brand"), 7, 10).as("brand_num"),
        concat_ws("/", col("p_type"), col("p_brand")).as("type_brand"),
        (col("p_size") % 7).as("size_mod"),
        abs(col("p_size") - lit(25)).as("size_dist"),
        round(col("p_retailprice") / lit(10.0), 1).as("price_tenth"))
      .orderBy(col("p_partkey"))

  val scalarFunctionsSql: String =
    """SELECT p_partkey,
      |  UPPER(p_name) AS name_upper,
      |  CAST(LENGTH(p_name) AS INT) AS name_len,
      |  SUBSTRING(p_brand, 7, 10) AS brand_num,
      |  CONCAT_WS('/', p_type, p_brand) AS type_brand,
      |  p_size % 7 AS size_mod,
      |  ABS(p_size - 25) AS size_dist,
      |  ROUND(p_retailprice/10.0, 1) AS price_tenth
      |FROM part ORDER BY p_partkey""".stripMargin

  /** Date functions: extract/trunc/add over order dates. */
  def dateFunctions(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dom"),
        quarter(col("o_orderdate")).as("qtr"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        date_add(col("o_orderdate").cast("date"), 30).cast("timestamp").as("due_date"))
      .orderBy(col("o_orderkey"))

  val dateFunctionsSql: String =
    """SELECT o_orderkey,
      |  CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
      |  CAST(EXTRACT(month FROM o_orderdate) AS INT) AS mo,
      |  CAST(EXTRACT(day FROM o_orderdate) AS INT) AS dom,
      |  CAST(EXTRACT(quarter FROM o_orderdate) AS INT) AS qtr,
      |  DATE_TRUNC('month', o_orderdate) AS month_start,
      |  CAST(CAST(o_orderdate AS DATE) + 30 AS TIMESTAMP) AS due_date
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ------------------------------------------------------------- q14
  /** Promo revenue share: join + conditional agg into a ratio, exact cents. */
  def q14PromoRevenue(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-07-01").cast("timestamp"))
      .join(part(s, d), col("l_partkey") === col("p_partkey"))
      .agg(
        (sum(when(col("p_type") === "PROMO",
          cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .otherwise(lit(0L))) * lit(100.0) /
          sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))))
          .as("promo_pct"),
        count(lit(1)).as("n_rows"))

  val q14PromoRevenueSql: String = {
    val disc = centsSql("l_extendedprice*(1-l_discount)")
    s"""SELECT SUM(CASE WHEN p_type = 'PROMO' THEN $disc ELSE 0 END)*100.0
       |    / SUM($disc) AS promo_pct,
       |  COUNT(*) AS n_rows
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
       |  AND l_shipdate < TIMESTAMP '1996-07-01'""".stripMargin
  }

  /** Registry: name -> query fn, plus matching oracle SQL. */
  val queries: Map[String, Query] = Map(
    "q1_pricing_summary" -> Query(q1PricingSummary, q1Sql),
    "q3_shipping_priority" -> Query(q3ShippingPriority, q3Sql),
    "q5_local_supplier_volume" -> Query(q5LocalSupplierVolume, q5Sql),
    "q6_revenue_forecast" -> Query(q6RevenueForecast, q6Sql),
    "q14_promo_revenue" -> Query(q14PromoRevenue, q14PromoRevenueSql),
    "join_semi" -> Query(joinSemi, joinSemiSql),
    "join_anti" -> Query(joinAnti, joinAntiSql),
    "join_outer_distribution" -> Query(joinOuterDistribution, joinOuterDistributionSql),
    "window_top_per_key" -> Query(windowTopPerKey, windowTopPerKeySql),
    "window_running_sum" -> Query(windowRunningSum, windowRunningSumSql),
    "window_lag_lead" -> Query(windowLagLead, windowLagLeadSql),
    "window_rank_stats" -> Query(windowRankStats, windowRankStatsSql),
    "window_trailing_30d" -> Query(windowTrailing30d, windowTrailing30dSql),
    "unpivot_status" -> Query(unpivotStatus, unpivotStatusSql),
    "sort_topk" -> Query(sortTopK, sortTopKSql),
    "set_union" -> Query(setUnion, setUnionSql),
    "set_intersect" -> Query(setIntersect, setIntersectSql),
    "set_except" -> Query(setExcept, setExceptSql),
    "agg_rollup" -> Query(aggRollup, aggRollupSql),
    "agg_cube" -> Query(aggCube, aggCubeSql),
    "scalar_array_functions" -> Query(scalarArrayFunctions, scalarArrayFunctionsSql),
    "agg_distinct" -> Query(aggDistinct, aggDistinctSql),
    "agg_having" -> Query(aggHaving, aggHavingSql),
    "agg_pivot" -> Query(aggPivot, aggPivotSql),
    "agg_pivot_multi" -> Query(aggPivotMulti, aggPivotMultiSql),
    "agg_string_collect" -> Query(aggStringCollect, aggStringCollectSql),
    "subquery_scalar" -> Query(subqueryScalar, subqueryScalarSql),
    "subquery_in" -> Query(subqueryIn, subqueryInSql),
    "scalar_functions" -> Query(scalarFunctions, scalarFunctionsSql),
    "date_functions" -> Query(dateFunctions, dateFunctionsSql))
}
