package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables
import graft.Query

/** SQL entry path: the same ANSI SQL string executed by spark.sql over
  * registered temp views AND by the DuckDB oracle — one dialect, two
  * engines, hash-equal results. Demonstrates the engine's SQL surface
  * is first-class (not just the DataFrame DSL). */
object SqlSurface {

  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "documents")

  private def registerViews(s: SparkSession, d: String): Unit =
    tables.foreach(t => Tables.t(s, d, t).createOrReplaceTempView(t))

  /** Dual-dialect SQL: runs verbatim in Spark and DuckDB. */
  val pricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus,
      |  SUM(l_quantity) AS sum_qty,
      |  SUM(CAST(FLOOR((l_extendedprice)*100 + 0.5) AS BIGINT))/CAST(100.0 AS DOUBLE) AS sum_base_price,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  val topCustomersSql: String =
    """SELECT c_custkey, c_name,
      |  SUM(CAST(FLOOR((o_totalprice)*100 + 0.5) AS BIGINT))/CAST(100.0 AS DOUBLE) AS total_spend,
      |  COUNT(*) AS n_orders
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey, c_name
      |HAVING COUNT(*) >= 12
      |ORDER BY total_spend DESC, c_custkey
      |LIMIT 25""".stripMargin

  /** Explicit GROUPING SETS with GROUPING() null-vs-total markers —
    * the generalization rollup/cube specialize; SQL-only surface in
    * Spark (the DataFrame DSL exposes only rollup/cube). */
  val groupingSetsSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
      |  CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
      |  SUM(l_quantity) AS sum_qty,
      |  COUNT(*) AS n
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
      |  (l_returnflag), (l_linestatus), ())
      |ORDER BY g_rf, g_ls, l_returnflag, l_linestatus""".stripMargin

  def sqlGroupingSets(s: SparkSession, d: String): DataFrame = {
    registerViews(s, d); s.sql(groupingSetsSql)
  }

  def sqlPricingSummary(s: SparkSession, d: String): DataFrame = {
    registerViews(s, d); s.sql(pricingSummarySql)
  }

  def sqlTopCustomers(s: SparkSession, d: String): DataFrame = {
    registerViews(s, d); s.sql(topCustomersSql)
  }

  /** Bag-semantics set operators — UNION ALL / INTERSECT ALL /
    * EXCEPT ALL (the multiset forms the DISTINCT-flavored set_* queries
    * don't exercise; duplicate multiplicities matter and are pinned by
    * the per-key counts). */
  val setOpsAllSql: String =
    """WITH a AS (SELECT CAST(c_nationkey AS INT) AS k FROM customer
      |           WHERE c_acctbal > 0),
      |     b AS (SELECT CAST(s_nationkey AS INT) AS k FROM supplier)
      |SELECT 'except_all' AS op, k, n FROM (
      |  SELECT k, CAST(COUNT(*) AS BIGINT) AS n FROM (
      |    SELECT k FROM b EXCEPT ALL SELECT k FROM a) GROUP BY k)
      |UNION ALL
      |SELECT 'intersect_all' AS op, k, n FROM (
      |  SELECT k, CAST(COUNT(*) AS BIGINT) AS n FROM (
      |    SELECT k FROM a INTERSECT ALL SELECT k FROM b) GROUP BY k)
      |UNION ALL
      |SELECT 'union_all' AS op, k, n FROM (
      |  SELECT k, CAST(COUNT(*) AS BIGINT) AS n FROM (
      |    SELECT k FROM a UNION ALL SELECT k FROM b) GROUP BY k)
      |ORDER BY op, k""".stripMargin

  /** Null-semantics surface: NULLIF-produced nulls, null-skipping vs
    * null-counting aggregates, and the standard aggregate FILTER
    * clause — the null-handling rules both engines must agree on
    * bit-for-bit (COUNT(col) skips nulls, COUNT(*) doesn't,
    * COUNT(DISTINCT col) ignores nulls, FILTER restricts the input
    * bag). */
  val nullSemanticsSql: String =
    """WITH t AS (SELECT o_orderpriority AS p,
      |             NULLIF(o_orderstatus, 'O') AS st,
      |             CAST(FLOOR(o_totalprice*100 + 0.5) AS BIGINT) AS cents
      |           FROM orders)
      |SELECT p,
      |  COUNT(*) AS n_rows,
      |  COUNT(st) AS n_nonnull,
      |  CAST(COUNT(*) FILTER (WHERE st IS NULL) AS BIGINT) AS n_null,
      |  CAST(SUM(cents) FILTER (WHERE st IS NULL) AS BIGINT) AS open_cents,
      |  COUNT(DISTINCT st) AS n_statuses
      |FROM t GROUP BY p ORDER BY p""".stripMargin

  /** LATERAL correlated subquery — top-3 suppliers per nation via a
    * per-row derived table. Exercises Catalyst's lateral-join
    * decorrelation (DomainJoin → window rewrite): the correlated
    * ORDER BY ... LIMIT subquery becomes a ranked window over the
    * joined input, one shuffle keyed on the correlation key — the
    * plan you'd hand-write, recovered from the declarative form.
    * s_acctbal passes through unchanged (no float arithmetic), and
    * every ordering float-ties on s_name, so cross-engine hash
    * equality is safe. */
  val lateralTopKSql: String =
    """SELECT n_name, s_name, s_acctbal
      |FROM nation n, LATERAL (
      |  SELECT s_name, s_acctbal FROM supplier s
      |  WHERE s.s_nationkey = n.n_nationkey
      |  ORDER BY s_acctbal DESC, s_name LIMIT 3) t
      |ORDER BY n_name, s_acctbal DESC, s_name""".stripMargin

  def sqlLateralTopK(s: SparkSession, d: String): DataFrame = {
    registerViews(s, d); s.sql(lateralTopKSql)
  }

  /** Recursive CTE #1 — calendar date spine + gap-fill (the canonical
    * WITH RECURSIVE use): generate every day of 1995Q1 by recursion,
    * LEFT JOIN daily order stats, zero-fill the gaps. Time-series
    * featurization needs the dense spine; a GROUP BY alone silently
    * drops empty days. Spark executes this with UnionLoopExec (one
    * anchor + bounded loop over the step query); the spine is 90 rows,
    * the join probe side — so recursion cost is independent of the
    * orders table's size. Revenue stays in exact integer cents. */
  val recursiveSpineSql: String =
    """WITH RECURSIVE days(d) AS (
      |  SELECT DATE '1995-01-01'
      |  UNION ALL
      |  SELECT CAST(d + INTERVAL 1 DAY AS DATE) FROM days
      |  WHERE d < DATE '1995-03-31'),
      |daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS od,
      |    CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CAST(FLOOR(o_totalprice*100 + 0.5) AS BIGINT))
      |         AS BIGINT) AS cents
      |  FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
      |    AND o_orderdate < TIMESTAMP '1995-04-01'
      |  GROUP BY 1)
      |SELECT CAST(d AS TIMESTAMP) AS order_day,
      |  COALESCE(n, CAST(0 AS BIGINT)) AS n_orders,
      |  COALESCE(cents, CAST(0 AS BIGINT)) AS revenue_cents
      |FROM days LEFT JOIN daily ON d = od
      |ORDER BY d""".stripMargin

  /** Recursive CTE #2 — hierarchy walk: region→nation→customer recast
    * as a generic (parent, child) edge list, then WITH RECURSIVE
    * descends from each region root counting nodes per depth — the
    * org-chart/threaded-document traversal shape, expressed once and
    * run verbatim on both engines. Node ids take disjoint integer
    * lanes (4k / 4k+1 / 4k+2) so the edge UNION can mix levels; the
    * depth guard bounds the loop (leaves also terminate naturally —
    * no cycles in a hierarchy). Each recursion step is one equi-join
    * of the frontier against the edge table: frontier size is the
    * level's node count, never the closure. */
  val recursiveHierarchySql: String =
    """WITH RECURSIVE
      |edges AS (
      |  SELECT CAST(n_regionkey*4 AS BIGINT) AS parent,
      |         CAST(n_nationkey*4+1 AS BIGINT) AS child FROM nation
      |  UNION ALL
      |  SELECT CAST(c_nationkey*4+1 AS BIGINT),
      |         CAST(c_custkey*4+2 AS BIGINT) FROM customer),
      |walk(root, node, depth) AS (
      |  SELECT CAST(r_regionkey AS BIGINT),
      |         CAST(r_regionkey*4 AS BIGINT), 0
      |  FROM region
      |  UNION ALL
      |  SELECT w.root, e.child, w.depth + 1
      |  FROM walk w JOIN edges e ON e.parent = w.node
      |  WHERE w.depth < 3)
      |SELECT r_name AS region, depth,
      |  CAST(COUNT(*) AS BIGINT) AS n_nodes
      |FROM walk JOIN region ON root = CAST(r_regionkey AS BIGINT)
      |GROUP BY r_name, depth
      |ORDER BY region, depth""".stripMargin

  def sqlRecursiveSpine(s: SparkSession, d: String): DataFrame = {
    registerViews(s, d); s.sql(recursiveSpineSql)
  }

  def sqlRecursiveHierarchy(s: SparkSession, d: String): DataFrame = {
    registerViews(s, d); s.sql(recursiveHierarchySql)
  }

  def sqlSetOpsAll(s: SparkSession, d: String): DataFrame = {
    registerViews(s, d); s.sql(setOpsAllSql)
  }

  def sqlNullSemantics(s: SparkSession, d: String): DataFrame = {
    registerViews(s, d); s.sql(nullSemanticsSql)
  }

  val queries: Map[String, Query] = Map(
    "sql_pricing_summary" -> Query(sqlPricingSummary, pricingSummarySql),
    "sql_top_customers" -> Query(sqlTopCustomers, topCustomersSql),
    "sql_grouping_sets" -> Query(sqlGroupingSets, groupingSetsSql),
    "sql_set_ops_all" -> Query(sqlSetOpsAll, setOpsAllSql),
    "sql_null_semantics" -> Query(sqlNullSemantics, nullSemanticsSql),
    "sql_lateral_topk" -> Query(sqlLateralTopK, lateralTopKSql),
    "sql_recursive_spine" -> Query(sqlRecursiveSpine, recursiveSpineSql),
    "sql_recursive_hierarchy" -> Query(sqlRecursiveHierarchy, recursiveHierarchySql))
}
