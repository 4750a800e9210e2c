package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.queries.Relational.{cents, centsSql}
import graft.Query

/** Fourth relational pack — the last five TPC-H shapes, completing all
  * 22 on the fixture star schema. The fixture has no partsupp table, so
  * Q11/Q16/Q20 keep their classic *plan shapes* (global-aggregate scalar
  * subquery, exclusion-filtered COUNT DISTINCT, nested semi-join chain)
  * with lineitem standing in for partsupp availability — same operators,
  * same join/agg topology, fixture-native columns.
  *
  * Reference analog: the reference engine has no joins at all (SURVEY
  * §2.3); this whole pack is beyond-reference relational surface.
  */
object Relational4 {

  // ------------------------------------------------------------- q8
  /** National market share (TPC-H Q8 shape): 8-way join, market =
    * ASIA-region customers, share = NATION_2-supplied fraction of PROMO
    * volume per order year. Dims (nation/region/part) broadcast; the
    * one big shuffle is lineitem⋈orders on orderkey. Numerator and
    * denominator are exact cent longs; both engines divide the same two
    * longs so the double quotient is bit-identical. */
  def q8MarketShare(s: SparkSession, d: String): DataFrame = {
    val n1 = broadcast(nation(s, d)
      .select(col("n_nationkey").as("c_nk"), col("n_regionkey").as("c_rk")))
    val n2 = broadcast(nation(s, d)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation")))
    val asia = broadcast(region(s, d).filter(col("r_name") === "ASIA"))
    val promo = broadcast(part(s, d).filter(col("p_type") === "PROMO")
      .select(col("p_partkey")))
    lineitem(s, d)
      .join(orders(s, d)
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(n1, col("c_nationkey") === col("c_nk"))
      .join(asia, col("c_rk") === col("r_regionkey"))
      .join(supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .join(n2, col("s_nationkey") === col("s_nk"))
      .join(promo, col("l_partkey") === col("p_partkey"))
      .withColumn("v",
        cents(col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("long"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        (sum(when(col("supp_nation") === "NATION_2", col("v")).otherwise(0L)) /
          sum(col("v"))).as("mkt_share"),
        (sum(col("v")) / 100.0).as("total_volume"))
      .orderBy(col("o_year"))
  }

  val q8MarketShareSql: String =
    s"""SELECT o_year,
       |  SUM(CASE WHEN nation='NATION_2' THEN v ELSE 0 END) / SUM(v) AS mkt_share,
       |  SUM(v)/100.0 AS total_volume
       |FROM (
       |  SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
       |    ${centsSql("l_extendedprice*(1-l_discount)")} AS v,
       |    n2.n_name AS nation
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
       |  JOIN region ON n1.n_regionkey = r_regionkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
       |  JOIN part ON l_partkey = p_partkey
       |  WHERE r_name = 'ASIA' AND p_type = 'PROMO'
       |    AND o_orderdate >= TIMESTAMP '1996-01-01'
       |    AND o_orderdate < TIMESTAMP '1998-01-01') t
       |GROUP BY o_year ORDER BY o_year""".stripMargin

  // ------------------------------------------------------------ q11
  /** Important part value (TPC-H Q11 shape): per-part value from a
    * nation-filtered supplier join, kept only where value exceeds the
    * global average — the aggregate-vs-global-scalar-subquery pattern.
    * The per-part aggregate is computed ONCE and reused for both the
    * row set and the broadcast global total (Spark reuses the shuffle
    * across the two consumers). The threshold compare v*n > tot runs in
    * exact integer cents on both engines (fits long comfortably up to
    * ~10^5× this SF; beyond that switch the compare to DECIMAL). */
  def q11ImportantValue(s: SparkSession, d: String): DataFrame = {
    val nations = broadcast(nation(s, d)
      .filter(col("n_name").isin("NATION_3", "NATION_8", "NATION_13")))
    val perPart = lineitem(s, d)
      .join(supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .join(nations, col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("long")).as("v"))
    val global = perPart.agg(sum(col("v")).as("tot"), count(lit(1)).as("n"))
    perPart.join(broadcast(global))
      .filter(col("v") * col("n") > col("tot"))
      .select(col("l_partkey"), (col("v") / 100.0).as("part_value"))
      .orderBy(col("v").desc, col("l_partkey"))
  }

  val q11ImportantValueSql: String =
    s"""WITH val AS (
       |  SELECT l_partkey, SUM(${centsSql("l_extendedprice*(1-l_discount)")}) AS v
       |  FROM lineitem
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation ON s_nationkey = n_nationkey
       |  WHERE n_name IN ('NATION_3','NATION_8','NATION_13')
       |  GROUP BY l_partkey)
       |SELECT l_partkey, v/100.0 AS part_value
       |FROM val, (SELECT SUM(v) AS tot, COUNT(*) AS n FROM val) g
       |WHERE v * n > tot
       |ORDER BY v DESC, l_partkey""".stripMargin

  // ------------------------------------------------------------ q12
  /** Shipping-speed priority classes (TPC-H Q12 shape): join + CASE
    * buckets + dual conditional counts. The fixture has no l_shipmode,
    * so the bucket derives from ship latency (days from order to ship),
    * which keeps the bucket column low-cardinality like shipmode. All
    * outputs are exact integer counts. */
  def q12ShipPriority(s: SparkSession, d: String): DataFrame = {
    val lat = datediff(col("l_shipdate").cast("date"), col("o_orderdate").cast("date"))
    val isHigh = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .withColumn("ship_bucket",
        when(lat <= 30, "fast").when(lat <= 60, "medium").otherwise("slow"))
      .groupBy(col("ship_bucket"))
      .agg(
        sum(when(isHigh, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(isHigh, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy(col("ship_bucket"))
  }

  val q12ShipPrioritySql: String =
    """SELECT CASE
      |    WHEN DATE_DIFF('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) <= 30 THEN 'fast'
      |    WHEN DATE_DIFF('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) <= 60 THEN 'medium'
      |    ELSE 'slow' END AS ship_bucket,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate < TIMESTAMP '1997-01-01'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------ q16
  /** Supplier count per part descriptor (TPC-H Q16 shape): exclusion
    * filters on the part attributes, an anti-join excluding flagged
    * suppliers (negative balance standing in for Q16's complaints
    * predicate), then COUNT(DISTINCT supplier) per (brand, type, size).
    * The distinct-agg keys on the group columns — one expand-free
    * shuffle; part is broadcast. */
  def q16SupplierCount(s: SparkSession, d: String): DataFrame = {
    val parts = broadcast(part(s, d)
      .filter(col("p_brand") =!= "Brand#13" &&
        !col("p_type").startsWith("MEDIUM") &&
        col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45)))
    val flagged = broadcast(supplier(s, d).filter(col("s_acctbal") < 0)
      .select(col("s_suppkey")))
    lineitem(s, d)
      .join(parts, col("l_partkey") === col("p_partkey"))
      .join(flagged, col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  val q16SupplierCountSql: String =
    """SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_brand <> 'Brand#13' AND p_type NOT LIKE 'MEDIUM%'
      |  AND p_size IN (1,5,9,14,19,23,36,45)
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY 1,2,3
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  // ------------------------------------------------------------ q20
  /** Dominant suppliers (TPC-H Q20 shape): the nested semi-join chain.
    * A supplier qualifies if it shipped the MAJORITY of some part's
    * 1996 volume (2·q > part total — the availqty>half-of-shipped
    * analog without partsupp), and sits in one of three nations. Both
    * aggregates share the first shuffle (partkey,suppkey → partkey);
    * the supplier table is then semi-joined — no row multiplication
    * anywhere. Quantities sum as exact longs. */
  def q20DominantSupplier(s: SparkSession, d: String): DataFrame = {
    val sp = lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity").cast("long")).as("q"))
    val pt = sp.groupBy(col("l_partkey").as("pk"))
      .agg(sum(col("q")).as("tq"))
    val dominant = sp.join(pt, col("l_partkey") === col("pk"))
      .filter(col("q") * 2 > col("tq"))
      .select(col("l_suppkey"))
    val nations = broadcast(nation(s, d)
      .filter(col("n_name").isin("NATION_3", "NATION_8", "NATION_13")))
    supplier(s, d)
      .join(dominant, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(nations, col("s_nationkey") === col("n_nationkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
      .orderBy(col("s_suppkey"))
  }

  val q20DominantSupplierSql: String =
    """WITH sp AS (
      |  SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS BIGINT)) AS q
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate < TIMESTAMP '1997-01-01'
      |  GROUP BY 1, 2),
      |pt AS (SELECT l_partkey, SUM(q) AS tq FROM sp GROUP BY 1)
      |SELECT s_suppkey, s_name
      |FROM supplier
      |WHERE s_suppkey IN (SELECT l_suppkey FROM sp JOIN pt USING (l_partkey)
      |                    WHERE 2*q > tq)
      |  AND s_nationkey IN (SELECT n_nationkey FROM nation
      |                      WHERE n_name IN ('NATION_3','NATION_8','NATION_13'))
      |ORDER BY s_suppkey""".stripMargin

  // ------------------------------------------- backlog aging
  /** Open-order backlog aging report: orders not yet finalized
    * (status O/P) bucketed by 30-day age bands relative to the
    * NEWEST order date in the data (the "as of" anchor, so the query
    * is scale-factor agnostic), per status and priority, with the
    * backlog value in exact cents. The ops-review staple: old
    * high-priority backlog is the page-someone number.
    *
    * Scale shape: the anchor is a 1-row broadcast (whitelisted); the
    * rest is one filtered scan into a ≤ 2·5·4-group hash-agg with
    * map-side combine. */
  def backlogAging(s: SparkSession, d: String): DataFrame =
    backlogAgingOn(orders(s, d))

  /** Core over a caller-supplied orders frame — separated so specs
    * can plant exact age-band fixtures. */
  def backlogAgingOn(o: DataFrame): DataFrame = {
    val anchor = o.agg(max(col("o_orderdate")).as("mxd"))
    o.filter(col("o_orderstatus").isin("O", "P"))
      .crossJoin(broadcast(anchor))
      .withColumn("age_days",
        datediff(col("mxd").cast("date"), col("o_orderdate").cast("date"))
          .cast("long"))
      .withColumn("age_bucket", least(lit(3L), expr("age_days DIV 30")))
      .groupBy(col("o_orderstatus"), col("o_orderpriority"),
        col("age_bucket"))
      .agg(count(lit(1)).as("n_orders"),
        sum(cents(col("o_totalprice")).cast("long")).as("backlog_cents"))
      .orderBy(col("o_orderstatus"), col("o_orderpriority"),
        col("age_bucket"))
  }

  val backlogAgingSql: String =
    s"""WITH a AS (SELECT MAX(o_orderdate) AS mxd FROM orders)
       |SELECT o_orderstatus, o_orderpriority,
       |  LEAST(3, DATE_DIFF('day', CAST(o_orderdate AS DATE),
       |    CAST(mxd AS DATE)) // 30) AS age_bucket,
       |  COUNT(*) AS n_orders,
       |  CAST(SUM(${centsSql("o_totalprice")}) AS BIGINT) AS backlog_cents
       |FROM orders, a
       |WHERE o_orderstatus IN ('O', 'P')
       |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // ------------------------------------------- market-basket lift
  /** Frequent-itemset mining, pair tier (the association-rules
    * classic): top-20 part pairs co-ordered in the same order, ranked
    * by LIFT = P(a,b)/(P(a)·P(b)) in milli units with a minimum
    * support of 3 orders (sparse TPC-H baskets: the part key space
    * grows with SF, so absolute pair support FALLS as data grows —
    * a production run would set support relative to basket count). Support counts are over DISTINCT
    * (order, part) — a part twice in one order is one basket hit.
    *
    * Numerics: lift_milli = (1000·n·supp_ab) DIV (supp_a·supp_b) on
    * exact integers; with n ≤ ~9e9 baskets and pair support ≤ 1e6
    * the numerator stays under int64 (documented ceiling — beyond
    * that, normalize supports to per-million first).
    *
    * Scale shape: the pair explode is a per-order self-join — cost
    * Σ_orders C(items, 2), bounded by the basket-size cap (≤ 17
    * distinct parts per TPC-H order ⇒ ≤ 136 pairs), linear in
    * orders; supports are two hash-aggs; the rank is
    * TakeOrderedAndProject. The same skeleton as the co-presence
    * join, with the order as the natural bounded bucket. */
  def marketBasket(s: SparkSession, d: String): DataFrame =
    marketBasketOn(lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")))

  /** Core over caller-supplied (ok, pk) basket items — separated so
    * specs can plant known lift orderings. */
  def marketBasketOn(rawItems: DataFrame, minSupport: Long = 3)
      : DataFrame = {
    val items = rawItems.distinct()
    val suppA = items.groupBy(col("pk")).agg(count(lit(1)).as("supp"))
    val n = items.select(col("ok")).distinct().agg(count(lit(1)).as("n"))
    val a = items.select(col("ok"), col("pk").as("part_a"))
    val b = items.select(col("ok"), col("pk").as("part_b"))
    val pairs = a.join(b, "ok").filter(col("part_a") < col("part_b"))
      .groupBy(col("part_a"), col("part_b"))
      .agg(count(lit(1)).as("supp_ab"))
      .filter(col("supp_ab") >= minSupport)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("lift_milli").desc, col("part_a"), col("part_b"))
    pairs
      .join(suppA.select(col("pk").as("part_a"), col("supp").as("supp_a")),
        "part_a")
      .join(suppA.select(col("pk").as("part_b"), col("supp").as("supp_b")),
        "part_b")
      .crossJoin(broadcast(n))
      .withColumn("lift_milli",
        expr("(1000 * n * supp_ab) DIV (supp_a * supp_b)"))
      .orderBy(col("lift_milli").desc, col("part_a"), col("part_b"))
      .limit(20)
      .withColumn("rank", row_number().over(w))
      .select(col("rank"), col("part_a"), col("part_b"), col("supp_ab"),
        col("supp_a"), col("supp_b"), col("lift_milli"))
      .orderBy(col("rank"))
  }

  val marketBasketSql: String =
    """WITH items AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |sa AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS supp
      |       FROM items GROUP BY pk),
      |n AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n FROM items),
      |pairs AS (
      |  SELECT a.pk AS part_a, b.pk AS part_b,
      |    CAST(COUNT(*) AS BIGINT) AS supp_ab
      |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
      |lifted AS (
      |  SELECT part_a, part_b, supp_ab,
      |    x.supp AS supp_a, y.supp AS supp_b,
      |    (1000 * n.n * supp_ab) // (x.supp * y.supp) AS lift_milli
      |  FROM pairs
      |  JOIN sa x ON x.pk = part_a
      |  JOIN sa y ON y.pk = part_b
      |  CROSS JOIN n)
      |SELECT CAST(ROW_NUMBER() OVER (
      |    ORDER BY lift_milli DESC, part_a, part_b) AS INT) AS rank,
      |  part_a, part_b, supp_ab, supp_a, supp_b, lift_milli
      |FROM lifted
      |ORDER BY lift_milli DESC, part_a, part_b LIMIT 20""".stripMargin

  // ------------------------------------------- price elasticity
  /** Per-brand log-log demand regression — the grouped-OLS operator:
    * elasticity = d ln(qty) / d ln(price) estimated per p_brand over
    * every lineitem, the per-segment price-sensitivity table a
    * merchandising team reads (TPC-H's uniform generator makes the
    * true slope ~0; the operator — grouped regression over a fact⋈dim
    * join — is what's being engineered, and the spec plants a known
    * slope to pin it).
    *
    * Numerics: the assortativity stance lifted to per-GROUP moments —
    * x, y land on the milli-nat grid (⌊ln·1000⌋, the portable log
    * device), each brand's moments are computed on deviations from
    * its own ⌊mean⌋ (a per-group integer shift; Pearson/OLS slopes
    * are shift-invariant, and centering keeps Σxc·yc bounded by
    * n·spread² ≈ 2e11 at sf0.1 — raw n·Σxy would graze int64), and
    * the slope snaps once: Σxcyc·1e6 DIV Σxc². Signed DIV truncates
    * toward zero identically on both engines.
    *
    * Scale shape: one fact⋈dim equi-join (brand is all we keep —
    * AQE broadcasts part's 2-column projection), one per-brand agg
    * for the centers, a |brands|-row broadcast join back, one
    * centered-moment agg with map-side combine. Two linear passes,
    * output |brands| rows. */
  def priceElasticity(s: SparkSession, d: String): DataFrame =
    priceElasticityOn(lineitem(s, d), part(s, d))

  /** Core over caller-supplied frames — separated so specs can plant
    * an exact power-law demand curve. */
  def priceElasticityOn(li: DataFrame, p: DataFrame): DataFrame = {
    val base = li
      .join(p.select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand").as("brand"),
        expr("""CAST(FLOOR(LN(CAST(FLOOR(l_extendedprice*100 + 0.5)
          |AS BIGINT)) * 1000) AS BIGINT)""".stripMargin).as("x"),
        expr("CAST(FLOOR(LN(CAST(l_quantity AS BIGINT)) * 1000)" +
          " AS BIGINT)").as("y"))
    val mu = base.groupBy(col("brand"))
      .agg(count(lit(1)).as("n"),
        expr("SUM(x) DIV COUNT(*)").as("mux"),
        expr("SUM(y) DIV COUNT(*)").as("muy"))
    base.join(broadcast(mu), "brand")
      .select(col("brand"), col("n"),
        (col("x") - col("mux")).as("xc"), (col("y") - col("muy")).as("yc"))
      .groupBy(col("brand"))
      .agg(max(col("n")).as("n_obs"),
        sum(col("xc") * col("yc")).as("sxy"),
        sum(col("xc") * col("xc")).as("sxx"))
      .select(col("brand"), col("n_obs"),
        expr("""CASE WHEN sxx = 0 THEN CAST(0 AS BIGINT)
          |ELSE sxy * 1000000 DIV sxx END""".stripMargin)
          .as("elasticity_micro"))
      .orderBy(col("brand"))
  }

  val priceElasticitySql: String =
    """WITH base AS (
      |  SELECT p.p_brand AS brand,
      |    CAST(FLOOR(LN(CAST(FLOOR(l.l_extendedprice*100 + 0.5)
      |      AS BIGINT)) * 1000) AS BIGINT) AS x,
      |    CAST(FLOOR(LN(CAST(l.l_quantity AS BIGINT)) * 1000)
      |      AS BIGINT) AS y
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
      |mu AS (
      |  SELECT brand, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS BIGINT) // COUNT(*) AS mux,
      |    CAST(SUM(y) AS BIGINT) // COUNT(*) AS muy
      |  FROM base GROUP BY brand),
      |cm AS (
      |  SELECT b.brand, m.n, b.x - m.mux AS xc, b.y - m.muy AS yc
      |  FROM base b JOIN mu m ON b.brand = m.brand)
      |SELECT brand, MAX(n) AS n_obs,
      |  CASE WHEN CAST(SUM(xc*xc) AS BIGINT) = 0 THEN CAST(0 AS BIGINT)
      |    ELSE CAST(SUM(xc*yc) AS BIGINT) * 1000000
      |      // CAST(SUM(xc*xc) AS BIGINT) END AS elasticity_micro
      |FROM cm GROUP BY brand ORDER BY brand""".stripMargin

  // ------------------------------------------- lead-time profile
  /** Order-to-ship lead time percentiles per order priority — the
    * fulfillment SLA table: does URGENT actually ship faster, and
    * what does the p99 tail look like per class? Exact p50/p90/p99
    * (the declared audit form, quantiles_exact stance;
    * approx_percentile is the monitoring form) over integer
    * lead-time days, snapped to the centi-day grid (Spark
    * `percentile` ≡ DuckDB `quantile_cont` on integer inputs).
    *
    * Scale shape: one lineitem⋈orders equi-join on the order key
    * (THE big shuffle, AQE-planned), then a 5-group sort-based
    * percentile agg — each priority sorts independently. */
  def leadtimePercentiles(s: SparkSession, d: String): DataFrame =
    lineitem(s, d).select(col("l_orderkey"),
        expr("CAST(FLOOR(unix_timestamp(l_shipdate)) AS BIGINT) DIV 86400")
          .as("ship_day"))
      .join(orders(s, d).select(col("o_orderkey"), col("o_orderpriority"),
        expr("CAST(FLOOR(unix_timestamp(o_orderdate)) AS BIGINT) DIV 86400")
          .as("order_day")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority").as("priority"),
        (col("ship_day") - col("order_day")).as("lead_days"))
      .groupBy(col("priority"))
      .agg(count(lit(1)).as("n_lines"),
        expr("CAST(FLOOR(percentile(lead_days, 0.5)*100 + 0.5) AS BIGINT)")
          .as("p50_centidays"),
        expr("CAST(FLOOR(percentile(lead_days, 0.9)*100 + 0.5) AS BIGINT)")
          .as("p90_centidays"),
        expr("CAST(FLOOR(percentile(lead_days, 0.99)*100 + 0.5) AS BIGINT)")
          .as("p99_centidays"),
        expr("SUM(lead_days) DIV COUNT(*)").as("mean_days_floor"))
      .orderBy(col("priority"))

  val leadtimePercentilesSql: String =
    """WITH lt AS (
      |  SELECT o.o_orderpriority AS priority,
      |    CAST(FLOOR(EPOCH(l.l_shipdate)) AS BIGINT) // 86400
      |      - CAST(FLOOR(EPOCH(o.o_orderdate)) AS BIGINT) // 86400
      |      AS lead_days
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
      |SELECT priority, COUNT(*) AS n_lines,
      |  CAST(FLOOR(quantile_cont(lead_days, 0.5)*100 + 0.5) AS BIGINT)
      |    AS p50_centidays,
      |  CAST(FLOOR(quantile_cont(lead_days, 0.9)*100 + 0.5) AS BIGINT)
      |    AS p90_centidays,
      |  CAST(FLOOR(quantile_cont(lead_days, 0.99)*100 + 0.5) AS BIGINT)
      |    AS p99_centidays,
      |  CAST(SUM(lead_days) AS BIGINT) // COUNT(*) AS mean_days_floor
      |FROM lt GROUP BY priority ORDER BY priority""".stripMargin

  val queries: Map[String, Query] = Map(
    "agg_leadtime_percentiles" -> Query(leadtimePercentiles, leadtimePercentilesSql),
    "agg_price_elasticity" -> Query(priceElasticity, priceElasticitySql),
    "agg_market_basket" -> Query(marketBasket, marketBasketSql),
    "agg_backlog_aging" -> Query(backlogAging, backlogAgingSql),
    "q8_market_share" -> Query(q8MarketShare, q8MarketShareSql),
    "q11_important_value" -> Query(q11ImportantValue, q11ImportantValueSql),
    "q12_ship_priority" -> Query(q12ShipPriority, q12ShipPrioritySql),
    "q16_supplier_count" -> Query(q16SupplierCount, q16SupplierCountSql),
    "q20_dominant_supplier" -> Query(q20DominantSupplier, q20DominantSupplierSql))
}
