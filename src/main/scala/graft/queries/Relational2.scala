package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._
import graft.queries.Relational.{cents, centsSql, moneySum, moneySumSql}
import graft.Query

/** Second relational pack: temporal joins (as-of, range) composed from
  * scalable primitives, and more TPC-H-shaped queries (min-per-group
  * join-back, returned items, disjunctive predicates).
  *
  * As-of strategy: a single sort per partition key (window with
  * last(ignoreNulls)) — the sort-merge formulation that scales to any
  * probe/build ratio, no per-row subquery. Range-join strategy:
  * time-bucket the build side into the probe's bucket space so the
  * join is an equi-join on (key, bucket) plus a residual filter —
  * shuffle-bounded, never a cross product.
  */
object Relational2 {

  // ------------------------------------------------------ as-of join
  /** For every event: the user's most recent purchase event at-or-
    * before it (ASOF LEFT JOIN semantics; ties impossible at ns
    * resolution; a purchase matches itself). */
  def asofLastPurchase(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, d)
      .withColumn("p_id",
        when(col("event_type") === "purchase", col("event_id")))
      .withColumn("p_sec",
        when(col("event_type") === "purchase", col("ts").cast("long")))
      .withColumn("last_purchase_id", last(col("p_id"), ignoreNulls = true).over(w))
      .withColumn("last_purchase_sec", last(col("p_sec"), ignoreNulls = true).over(w))
      .select(col("event_id"), col("user_id"),
        col("last_purchase_id"),
        (col("ts").cast("long") - col("last_purchase_sec")).as("gap_sec"))
      .orderBy(col("event_id"))
  }

  val asofLastPurchaseSql: String =
    """SELECT e.event_id, e.user_id,
      |  p.event_id AS last_purchase_id,
      |  CAST(FLOOR(EPOCH(e.ts)) AS BIGINT)
      |    - CAST(FLOOR(EPOCH(p.ts)) AS BIGINT) AS gap_sec
      |FROM events e
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      |  ON e.user_id = p.user_id AND e.ts >= p.ts
      |ORDER BY e.event_id""".stripMargin

  /** Purchases deduped to ONE row per (user, time): the as-of build
    * side MUST be unique on (key, time) for deterministic output —
    * AsOfJoinExec sorts the build side on (key, time) only, so with
    * duplicates the matched row would be whichever duplicate the sort
    * emits first/last, unpinned across runs AND versus DuckDB ASOF's
    * arbitrary tie choice. min(event_id) is the deterministic
    * survivor; identity on fixtures with microsecond-unique events.
    * p_sec is functionally derived from p_us so the dedup is one
    * hash-agg, no re-join. */
  private def uniquePurchases(s: SparkSession, d: String): DataFrame =
    events(s, d).filter(col("event_type") === "purchase")
      .groupBy(col("user_id").as("p_user"),
        unix_micros(col("ts")).as("p_us"))
      .agg(min(col("event_id")).as("p_id"))
      .withColumn("p_sec", expr("p_us DIV 1000000"))

  /** QUALIFY clause mirroring [[uniquePurchases]] in the oracle. */
  private val uniquePurchasesSql: String =
    """(SELECT * FROM events WHERE event_type = 'purchase'
      |    QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, ts
      |                               ORDER BY event_id) = 1)""".stripMargin

  /** Same query through the NATIVE AsOfJoinExec (graft.plans): one
    * shuffle + sort per side, streaming merge, no window state. The
    * build side is pre-deduped to unique (key, time) — the operator's
    * determinism contract (see [[uniquePurchases]]); the oracle is the
    * composed variant's SQL with the same QUALIFY dedup. */
  def asofNative(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("us"), col("ts").cast("long").as("sec"))
    graft.plans.AsOf.join(ev, uniquePurchases(s, d), "user_id", "p_user",
        "us", "p_us")
      .select(col("event_id"), col("user_id"),
        col("p_id").as("last_purchase_id"),
        (col("sec") - col("p_sec")).as("gap_sec"))
      .orderBy(col("event_id"))
  }

  /** FORWARD as-of with tolerance through the native exec: for every
    * event, the user's NEXT purchase within 7 days — the
    * label-attachment join of outcome-prediction training data (each
    * interaction labeled with the conversion that follows it, never a
    * leak from the past). Forward direction buffers nothing: the match
    * is the merge's lookahead row; tolerance is enforced inside the
    * exec so unmatched rows stay NULL without a post-filter. */
  def asofNativeForward(s: SparkSession, d: String): DataFrame = {
    val TolUs = 7L * 86400L * 1000000L
    val ev = events(s, d).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("us"), col("ts").cast("long").as("sec"))
    graft.plans.AsOf.join(ev, uniquePurchases(s, d), "user_id", "p_user",
        "us", "p_us", direction = "forward", tolerance = TolUs)
      .select(col("event_id"), col("user_id"),
        col("p_id").as("next_purchase_id"),
        (col("p_sec") - col("sec")).as("gap_sec"))
      .orderBy(col("event_id"))
  }

  val asofNativeSql: String =
    s"""SELECT e.event_id, e.user_id,
       |  p.event_id AS last_purchase_id,
       |  CAST(FLOOR(EPOCH(e.ts)) AS BIGINT)
       |    - CAST(FLOOR(EPOCH(p.ts)) AS BIGINT) AS gap_sec
       |FROM events e
       |ASOF LEFT JOIN $uniquePurchasesSql p
       |  ON e.user_id = p.user_id AND e.ts >= p.ts
       |ORDER BY e.event_id""".stripMargin

  val asofNativeForwardSql: String =
    s"""WITH j AS (
       |  SELECT e.event_id, e.user_id, p.event_id AS p_id,
       |    epoch_us(p.ts) - epoch_us(e.ts) AS gap_us,
       |    CAST(FLOOR(EPOCH(p.ts)) AS BIGINT)
       |      - CAST(FLOOR(EPOCH(e.ts)) AS BIGINT) AS gap_sec
       |  FROM events e
       |  ASOF LEFT JOIN $uniquePurchasesSql p
       |    ON e.user_id = p.user_id AND p.ts >= e.ts)
      |SELECT event_id, user_id,
      |  CASE WHEN gap_us <= 604800000000 THEN p_id END AS next_purchase_id,
      |  CASE WHEN gap_us <= 604800000000 THEN gap_sec END AS gap_sec
      |FROM j ORDER BY event_id""".stripMargin

  // ------------------------------------------------------ range join
  /** Events within 10 minutes after each purchase by the same user,
    * as an equi-join on (user, minute-bucket): the build side maps to
    * every bucket its window overlaps, then a residual range filter.
    * Count per purchase (purchases with no followers -> 0). */
  private val RangeSec = 600L
  def rangeJoinFollowers(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
      .select(col("event_id"), col("user_id"),
        col("ts").cast("long").as("sec"))
    val purchases = events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").cast("long").as("p_sec"))
    val nBuckets = (RangeSec / 60L).toInt // window spans this many probe buckets
    val buildBucketed = purchases.withColumn("bucket",
      explode(sequence(floor(col("p_sec") / 60),
        floor(col("p_sec") / 60) + nBuckets)))
    val probeBucketed = ev.withColumn("bucket", floor(col("sec") / 60))
    val matches = buildBucketed
      .join(probeBucketed,
        col("p_user") === col("user_id") && buildBucketed("bucket") === probeBucketed("bucket") &&
          col("sec") > col("p_sec") && col("sec") <= col("p_sec") + RangeSec)
      .groupBy(col("p_id")).agg(count(lit(1)).as("n_follow"))
    purchases.join(matches, Seq("p_id"), "left_outer")
      .select(col("p_id"), col("p_user").as("user_id"),
        coalesce(col("n_follow"), lit(0L)).as("n_follow"))
      .orderBy(col("p_id"))
  }

  val rangeJoinFollowersSql: String =
    s"""SELECT p.event_id AS p_id, p.user_id,
       |  COUNT(e.event_id) AS n_follow
       |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
       |LEFT JOIN events e
       |  ON e.user_id = p.user_id
       |  AND CAST(FLOOR(EPOCH(e.ts)) AS BIGINT) > CAST(FLOOR(EPOCH(p.ts)) AS BIGINT)
       |  AND CAST(FLOOR(EPOCH(e.ts)) AS BIGINT) <= CAST(FLOOR(EPOCH(p.ts)) AS BIGINT) + $RangeSec
       |GROUP BY p.event_id, p.user_id
       |ORDER BY p_id""".stripMargin

  // ------------------------------------- q2-style min-per-group join
  /** Cheapest part per brand (min-per-group then join back — the
    * correlated-subquery shape, decorrelated to one extra agg+join). */
  def q2MinPerGroup(s: SparkSession, d: String): DataFrame = {
    val p = part(s, d)
    val minPrice = p.groupBy(col("p_brand").as("mb"))
      .agg(min(cents(col("p_retailprice"))).as("min_cents"))
    p.join(broadcast(minPrice),
        col("p_brand") === col("mb") &&
          cents(col("p_retailprice")) === col("min_cents"))
      .select(col("p_brand"), col("p_partkey"), col("p_retailprice"))
      .orderBy(col("p_brand"), col("p_partkey"))
  }

  val q2MinPerGroupSql: String =
    s"""SELECT p_brand, p_partkey, p_retailprice FROM part p
       |WHERE ${centsSql("p_retailprice")} =
       |  (SELECT MIN(${centsSql("p_retailprice")}) FROM part p2
       |   WHERE p2.p_brand = p.p_brand)
       |ORDER BY p_brand, p_partkey""".stripMargin

  // ------------------------------------------------ q10-style
  /** Returned-item revenue by customer & nation (join 4 tables, filter
    * on return flag, top 20 by revenue). */
  def q10ReturnedItems(s: SparkSession, d: String): DataFrame =
    lineitem(s, d).filter(col("l_returnflag") === "R")
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)

  val q10ReturnedItemsSql: String =
    s"""SELECT c_custkey, c_name, n_name,
       |  ${moneySumSql("l_extendedprice*(1-l_discount)")} AS revenue
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |WHERE l_returnflag = 'R'
       |GROUP BY c_custkey, c_name, n_name
       |ORDER BY revenue DESC, c_custkey
       |LIMIT 20""".stripMargin

  // ------------------------------------------------ q19-style
  /** Disjunctive multi-predicate join (OR of conjunction groups —
    * exercises CNF pushdown through the join). */
  def q19Disjunctive(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .join(part(s, d), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 20)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
            col("l_quantity").between(10, 40)) ||
          (col("p_type") === "PROMO" && col("l_quantity") >= 45))
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_rows"))

  val q19DisjunctiveSql: String =
    s"""SELECT ${moneySumSql("l_extendedprice*(1-l_discount)")} AS revenue,
       |  COUNT(*) AS n_rows
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       |       AND l_quantity BETWEEN 1 AND 20)
       |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
       |       AND l_quantity BETWEEN 10 AND 40)
       |   OR (p_type = 'PROMO' AND l_quantity >= 45)""".stripMargin

  // ------------------------------------------------ q4-style exists
  /** Order-priority count for orders having at least one lineitem
    * shipped late relative to a fixed horizon (EXISTS → semi join). */
  def q4PriorityExists(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .join(lineitem(s, d).filter(
        col("l_shipdate") > lit("1999-01-01").cast("timestamp"))
        .select(col("l_orderkey")),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))

  val q4PriorityExistsSql: String =
    """SELECT o_orderpriority, COUNT(*) AS order_count FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |  WHERE l_orderkey = o_orderkey
      |    AND l_shipdate > TIMESTAMP '1999-01-01')
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // --------------------------------------- exact quantiles (portable)
  /** Exact interpolated quantiles of order totals per status, on exact
    * cents (Spark `percentile` ≡ DuckDB `quantile_cont`).
    *
    * The interpolated value is snapped to its nearest exact grid point
    * before comparison: for q ∈ {0.5, 0.9, 0.99} the rank fraction is
    * a multiple of 1/100, so cents×100 is mathematically integral and
    * `FLOOR(x*100 + 0.5)` erases the ≤1-ulp difference between the two
    * engines' linear-interpolation expressions (a bare double compare
    * is a knife-edge whenever the fraction is nonzero). Both engines
    * then divide the SAME integer by 10000.0 → bit-identical dollars. */
  def quantilesExact(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(
        (floor(expr("percentile(CAST(FLOOR(o_totalprice*100 + 0.5) AS BIGINT), 0.5)") * 100 + lit(0.5)) / 10000.0).as("p50"),
        (floor(expr("percentile(CAST(FLOOR(o_totalprice*100 + 0.5) AS BIGINT), 0.9)") * 100 + lit(0.5)) / 10000.0).as("p90"),
        (floor(expr("percentile(CAST(FLOOR(o_totalprice*100 + 0.5) AS BIGINT), 0.99)") * 100 + lit(0.5)) / 10000.0).as("p99"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus"))

  val quantilesExactSql: String = {
    val c = centsSql("o_totalprice")
    s"""SELECT o_orderstatus,
       |  FLOOR(quantile_cont($c, 0.5)*100 + 0.5)/10000.0 AS p50,
       |  FLOOR(quantile_cont($c, 0.9)*100 + 0.5)/10000.0 AS p90,
       |  FLOOR(quantile_cont($c, 0.99)*100 + 0.5)/10000.0 AS p99,
       |  COUNT(*) AS n
       |FROM orders GROUP BY o_orderstatus
       |ORDER BY o_orderstatus""".stripMargin
  }

  // --------------------------------------------------------- sketches
  /** HyperLogLog distinct + quantile sketch: the approximate tier for
    * 100 TB interactive profiling. Sketch internals differ across
    * engines, so raw approx values are not emitted; instead each
    * sketch is checked IN the query against its exact companion and
    * the output carries (a) the exact values — byte-comparable on any
    * engine — and (b) error-bound booleans (HLL rsd 0.01 → 5% bound
    * is 5σ; approx_percentile accuracy 10000 → rank error n/10000 →
    * 2% value bound is generous). The DuckDB oracle computes the same
    * exact companions and literal TRUE bounds, so rows+schema+hash
    * all check while the sketches still run on the Spark side.
    * Tight exact-value bounds stay pinned in SketchSpec. */
  def sketchProfile(s: SparkSession, d: String): DataFrame = {
    val centsPrice = "CAST(FLOOR(l_extendedprice*100 + 0.5) AS BIGINT)"
    // Sketches and exact distincts in SEPARATE aggregations, joined on
    // the 3-row group key. In one agg, the multi-countDistinct rewrite
    // expands rows per distinct group and carries every non-distinct
    // buffer — here two ~64 KB HLL sketches + two percentile maps —
    // per (flag, gid, key) partial group: hundreds of thousands of
    // sketch buffers, measured 180+ s at sf0.1 vs ~3 s split.
    val sketches = lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_orderkey"), 0.01).as("ao"),
        approx_count_distinct(col("l_partkey"), 0.01).as("ap"),
        // ONE sketch / ONE exact pass per group (array form), projected
        // to scalars after the agg — scalars because array outputs break
        // the external row-hash checker (array hashing differs anyway)
        expr(s"percentile($centsPrice, array(0.5, 0.95))").as("pe"),
        expr(s"approx_percentile($centsPrice, array(0.5, 0.95), 10000)").as("pa"),
        count(lit(1)).as("n_rows"))
    val exacts = lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_orderkey")).as("exact_orders"),
        countDistinct(col("l_partkey")).as("exact_parts"))
    // Percentiles snapped to the exact grid before comparison: for
    // q ∈ {0.5, 0.95} the rank fraction is a multiple of 1/20, so
    // cents×20 is mathematically integral and FLOOR(x*20 + 0.5)
    // erases the ≤1-ulp difference between the engines' interpolation
    // expressions; both then divide the SAME integer by 2000.0.
    // The *_ok bounds below are STATISTICAL, not deterministic: HLL
    // rsd 0.01 vs a 5% bound is ~5σ, approx_percentile rank error
    // n/10000 vs a 2% value bound is similarly generous — a false red
    // needs a >5σ sketch outlier, accepted as effectively impossible.
    sketches.join(broadcast(exacts), Seq("l_returnflag"))
      .select(col("l_returnflag"),
        col("exact_orders"), col("exact_parts"),
        (floor(element_at(col("pe"), 1) * 20 + lit(0.5)) / 2000.0).as("price_p50"),
        (floor(element_at(col("pe"), 2) * 20 + lit(0.5)) / 2000.0).as("price_p95"),
        (abs(col("ao") - col("exact_orders")) / col("exact_orders") < 0.05)
          .as("hll_orders_ok"),
        (abs(col("ap") - col("exact_parts")) / col("exact_parts") < 0.05)
          .as("hll_parts_ok"),
        (abs(element_at(col("pa"), 1) - element_at(col("pe"), 1))
          / element_at(col("pe"), 1) < 0.02).as("pq_p50_ok"),
        (abs(element_at(col("pa"), 2) - element_at(col("pe"), 2))
          / element_at(col("pe"), 2) < 0.02).as("pq_p95_ok"),
        col("n_rows"))
      .orderBy(col("l_returnflag"))
  }

  val sketchProfileSql: String = {
    val c = centsSql("l_extendedprice")
    s"""SELECT l_returnflag,
       |  COUNT(DISTINCT l_orderkey) AS exact_orders,
       |  COUNT(DISTINCT l_partkey) AS exact_parts,
       |  FLOOR(quantile_cont($c, 0.5)*20 + 0.5)/2000.0 AS price_p50,
       |  FLOOR(quantile_cont($c, 0.95)*20 + 0.5)/2000.0 AS price_p95,
       |  TRUE AS hll_orders_ok, TRUE AS hll_parts_ok,
       |  TRUE AS pq_p50_ok, TRUE AS pq_p95_ok,
       |  COUNT(*) AS n_rows
       |FROM lineitem GROUP BY l_returnflag
       |ORDER BY l_returnflag""".stripMargin
  }

  val queries: Map[String, Query] = Map(
    "asof_last_purchase" -> Query(asofLastPurchase, asofLastPurchaseSql),
    "asof_native" -> Query(asofNative, asofNativeSql), // composed SQL + the dedup QUALIFY
    "asof_native_forward" -> Query(asofNativeForward, asofNativeForwardSql),
    "range_join_followers" -> Query(rangeJoinFollowers, rangeJoinFollowersSql),
    "q2_min_per_group" -> Query(q2MinPerGroup, q2MinPerGroupSql),
    "q10_returned_items" -> Query(q10ReturnedItems, q10ReturnedItemsSql),
    "q19_disjunctive" -> Query(q19Disjunctive, q19DisjunctiveSql),
    "q4_priority_exists" -> Query(q4PriorityExists, q4PriorityExistsSql),
    "quantiles_exact" -> Query(quantilesExact, quantilesExactSql),
    "sketch_profile" -> Query(sketchProfile, sketchProfileSql))
}
