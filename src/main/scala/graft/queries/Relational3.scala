package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.queries.Relational.{cents, centsSql, moneySum, moneySumSql}
import graft.Query

/** Third relational pack: the remaining famous TPC-H shapes — two-
  * nation trade volume (q7), profit rollup (q9), correlated avg
  * subquery (q17), and the anti-join + scalar-subquery customer scan
  * (q22). */
object Relational3 {

  // ------------------------------------------------------------- q7
  /** Trade volume between two nations by year and direction: the
    * both-directions join filter, grouped by (supp nation, cust
    * nation, year). */
  def q7NationVolume(s: SparkSession, d: String): DataFrame = {
    val n1 = broadcast(nation(s, d)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation")))
    val n2 = broadcast(nation(s, d)
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation")))
    lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .join(n1, col("s_nationkey") === col("s_nk"))
      .join(n2, col("c_nationkey") === col("c_nk"))
      .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
        (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  val q7NationVolumeSql: String =
    s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       |  CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
       |  ${moneySumSql("l_extendedprice*(1-l_discount)")} AS revenue
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation n1 ON s_nationkey = n1.n_nationkey
       |JOIN nation n2 ON c_nationkey = n2.n_nationkey
       |WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       |   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
       |GROUP BY 1, 2, 3
       |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  // ------------------------------------------------------------- q9
  /** Product-type profit by supplier nation and year (5-way join with
    * a LIKE filter on part names, profit = revenue − cost proxy). */
  def q9ProfitRollup(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .join(part(s, d).filter(col("p_name").contains("o")),
        col("l_partkey") === col("p_partkey"))
      .join(supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")) -
        col("p_retailprice") * col("l_quantity") * lit(0.01)).as("profit"))
      .orderBy(col("nation"), col("o_year").desc)

  val q9ProfitRollupSql: String =
    s"""SELECT n_name AS nation,
       |  CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
       |  ${moneySumSql("l_extendedprice*(1-l_discount) - p_retailprice*l_quantity*0.01")} AS profit
       |FROM lineitem
       |JOIN part ON l_partkey = p_partkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN orders ON l_orderkey = o_orderkey
       |WHERE p_name LIKE '%o%'
       |GROUP BY 1, 2
       |ORDER BY nation, o_year DESC""".stripMargin

  // ------------------------------------------------------------ q17
  /** Small-quantity-order revenue: lineitems below 50% of their part's
    * average quantity (correlated avg subquery → decorrelated join). */
  def q17SmallQuantity(s: SparkSession, d: String): DataFrame = {
    val avgQty = lineitem(s, d)
      .groupBy(col("l_partkey").as("ap"))
      .agg(avg(col("l_quantity")).as("avg_qty"))
    lineitem(s, d)
      .join(broadcast(avgQty), col("l_partkey") === col("ap"))
      .filter(col("l_quantity") < col("avg_qty") * 0.5)
      .agg((sum(cents(col("l_extendedprice"))) / lit(700.0)).as("avg_yearly"),
        count(lit(1)).as("n_rows"))
  }

  val q17SmallQuantitySql: String =
    s"""SELECT SUM(${centsSql("l_extendedprice")})/700.0 AS avg_yearly,
       |  COUNT(*) AS n_rows
       |FROM lineitem l
       |WHERE l_quantity < (SELECT 0.5*AVG(l_quantity) FROM lineitem
       |                    WHERE l_partkey = l.l_partkey)""".stripMargin

  // ------------------------------------------------------------ q22
  /** Global-sales-opportunity: customers with above-average balance
    * and no orders, grouped by "country code" (acctbal scalar subquery
    * + anti join + substring grouping). */
  def q22GlobalSales(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d)
    val avgBal = c.filter(col("c_acctbal") > 0.0)
      .agg(avg(cents(col("c_acctbal")) / lit(100.0)).as("ab"))
    c.withColumn("cntrycode", (col("c_nationkey") % 10).cast("int"))
      .join(broadcast(avgBal))
      .filter(cents(col("c_acctbal")) / lit(100.0) > col("ab"))
      .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("cntrycode"))
      .agg(count(lit(1)).as("numcust"), moneySum(col("c_acctbal")).as("totacctbal"))
      .orderBy(col("cntrycode"))
  }

  val q22GlobalSalesSql: String =
    s"""SELECT CAST(c_nationkey % 10 AS INT) AS cntrycode,
       |  COUNT(*) AS numcust, ${moneySumSql("c_acctbal")} AS totacctbal
       |FROM customer c
       |WHERE ${centsSql("c_acctbal")}/100.0 >
       |  (SELECT AVG(${centsSql("c_acctbal")}/100.0) FROM customer
       |   WHERE c_acctbal > 0.0)
       |AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
       |GROUP BY 1 ORDER BY cntrycode""".stripMargin

  // ------------------------------------------------------------ q15
  /** Top-revenue supplier(s): an aggregate "view" joined against its
    * own max — the classic q15 view + scalar-subquery shape. */
  def q15TopSupplier(s: SparkSession, d: String): DataFrame = {
    val revenue = lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("total_revenue"))
    val maxRev = revenue.agg(max(col("total_revenue")).as("mr"))
    supplier(s, d)
      .join(revenue, col("s_suppkey") === col("l_suppkey"))
      .join(broadcast(maxRev))
      .filter(col("total_revenue") === col("mr"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  val q15TopSupplierSql: String = {
    val rev = s"""SELECT l_suppkey,
                 |    ${moneySumSql("l_extendedprice*(1-l_discount)")} AS total_revenue
                 |  FROM lineitem
                 |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                 |    AND l_shipdate < TIMESTAMP '1996-04-01'
                 |  GROUP BY l_suppkey""".stripMargin
    s"""WITH revenue AS ($rev)
       |SELECT s_suppkey, s_name, total_revenue
       |FROM supplier JOIN revenue ON s_suppkey = l_suppkey
       |WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
       |ORDER BY s_suppkey""".stripMargin
  }

  // ------------------------------------------------------------ q21
  /** Suppliers who were the ONLY late supplier on a multi-supplier
    * order (q21's exists + not-exists double correlation), shipdate
    * after orderdate + 60 days standing in for receipt/commit dates. */
  def q21WaitingSupplier(s: SparkSession, d: String): DataFrame = {
    val l = lineitem(s, d)
      .join(orders(s, d).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("late",
        col("l_shipdate") > expr("o_orderdate + INTERVAL 60 DAYS"))
    val perOrderSupp = l.groupBy(col("l_orderkey").as("k"),
        col("l_suppkey").as("sk"))
      .agg(max(when(col("late"), 1).otherwise(0)).as("was_late"))
    // order-level counts as a window over the (k, sk)-distinct rows:
    // one shuffle by k instead of a second aggregate + self-join
    // (cold A/B at sf0.1: 1.85 s vs 2.41 s; same rows)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("k"))
    perOrderSupp
      .withColumn("n_supp", count(lit(1)).over(w))
      .withColumn("n_late_supp", sum(col("was_late")).over(w))
      .filter(col("was_late") === 1 && col("n_supp") > 1 && col("n_late_supp") === 1)
      .join(supplier(s, d), col("sk") === col("s_suppkey"))
      .groupBy(col("s_suppkey"), col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_suppkey"))
  }

  val q21WaitingSupplierSql: String =
    """WITH per_supp AS (
      |  SELECT l_orderkey AS k, l_suppkey AS sk,
      |    MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
      |             THEN 1 ELSE 0 END) AS was_late
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1, 2),
      |per_order AS (
      |  SELECT k, COUNT(DISTINCT sk) AS n_supp, SUM(was_late) AS n_late_supp
      |  FROM per_supp GROUP BY k)
      |SELECT s_suppkey, s_name, COUNT(*) AS numwait
      |FROM per_supp
      |JOIN per_order USING (k)
      |JOIN supplier ON sk = s_suppkey
      |WHERE was_late = 1 AND n_supp > 1 AND n_late_supp = 1
      |GROUP BY s_suppkey, s_name
      |ORDER BY numwait DESC, s_suppkey""".stripMargin

  // ------------------------------------------------------------ q13
  /** Customer order-count distribution (TPC-H Q13 shape): LEFT join
    * customers to orders so never-ordered customers count at 0, one
    * agg per customer, then the histogram agg over counts — the
    * classic outer-join + double-aggregation pattern. Both shuffles
    * key on high-cardinality columns (c_custkey, then c_count);
    * the second input is one row per customer, so the histogram agg
    * is cheap at any scale. */
  def q13OrderCountDist(s: SparkSession, d: String): DataFrame =
    customer(s, d).select(col("c_custkey"))
      .join(orders(s, d).select(col("o_custkey"), col("o_orderkey")),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  val q13OrderCountDistSql: String =
    """SELECT c_count, COUNT(*) AS custdist
      |FROM (
      |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
      |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |  GROUP BY c_custkey) t
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  // ------------------------------------------------------------ q18
  /** Large-volume customers (TPC-H Q18 shape): orders whose total
    * lineitem quantity exceeds 250, joined back to customer. The
    * quantity sum runs on LONGs (quantities are whole numbers in the
    * fixture, pinned by the cast) — exact, order-independent; the
    * final ordering is on the STORED o_totalprice double (no
    * arithmetic, so both engines compare identical bits) with an
    * integer key tie-break. */
  def q18LargeVolumeCustomer(s: SparkSession, d: String): DataFrame = {
    val bigOrders = lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("long")).as("total_qty"))
      .filter(col("total_qty") > 250L)
    orders(s, d)
      .join(bigOrders, col("o_orderkey") === col("l_orderkey"))
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_totalprice"), col("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  val q18LargeVolumeCustomerSql: String =
    """SELECT c_name, c_custkey, o_orderkey, o_totalprice, total_qty
      |FROM (
      |  SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
      |    AS total_qty
      |  FROM lineitem GROUP BY l_orderkey
      |  HAVING SUM(CAST(l_quantity AS BIGINT)) > 250) big
      |JOIN orders ON o_orderkey = big.l_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 100""".stripMargin

  val queries: Map[String, Query] = Map(
    "q13_order_count_dist" -> Query(q13OrderCountDist, q13OrderCountDistSql),
    "q18_large_volume_customer" -> Query(q18LargeVolumeCustomer, q18LargeVolumeCustomerSql),
    "q15_top_supplier" -> Query(q15TopSupplier, q15TopSupplierSql),
    "q21_waiting_supplier" -> Query(q21WaitingSupplier, q21WaitingSupplierSql),
    "q7_nation_volume" -> Query(q7NationVolume, q7NationVolumeSql),
    "q9_profit_rollup" -> Query(q9ProfitRollup, q9ProfitRollupSql),
    "q17_small_quantity" -> Query(q17SmallQuantity, q17SmallQuantitySql),
    "q22_global_sales" -> Query(q22GlobalSales, q22GlobalSalesSql))
}
