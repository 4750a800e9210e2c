package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.Query

/** Data-quality constraint auditing and blocked record linkage — the
  * Deequ/Great-Expectations tier of a production lake: before any
  * corpus or fact table feeds a training run, assert its referential
  * integrity, key uniqueness, and value ranges IN ONE PASS SHAPE that
  * survives 100 TB, and resolve entities across heterogeneous sources
  * without an n² compare.
  *
  * Reference analog: none (SURVEY §2.2's apps assume clean inputs);
  * beyond-reference data-engineering surface.
  */
object DataAudit {

  // ------------------------------------------- referential audit
  /** One row per declared constraint: `check_name, n_checked,
    * n_violations, pass`. Three constraint families:
    *
    *  - foreign keys (orders→customer, lineitem→orders/part/supplier):
    *    LEFT OUTER join against the parent's key projection, violation
    *    = unmatched child. The parent key's own uniqueness is audited
    *    by the pk_ rows below, so a fanout that would double-count a
    *    child here is never silent.
    *  - primary keys: COUNT(*) − COUNT(DISTINCT pk) on the parent.
    *  - value ranges / NOT NULL: per-row predicates folded into ONE
    *    aggregate per table (stack() fans the single agg row out to
    *    one row per constraint — no extra scan per check).
    *
    * Scale shape: each FK branch is one shuffle join on the key (AQE
    * may broadcast a small parent; neither side is collected) followed
    * by a map-side-partial count; each scalar family is one scan.
    * Branches are independent — the union is planning-only — so the
    * audit parallelizes across the cluster and its output is O(number
    * of constraints) rows regardless of input size. */
  def referentialAudit(s: SparkSession, d: String): DataFrame =
    referentialAuditOn(orders(s, d), lineitem(s, d), customer(s, d),
      part(s, d), supplier(s, d))

  /** Core audit over caller-supplied frames — separated so specs can
    * plant orphans, duplicate keys, and range violations (the synthetic
    * tables are clean, and an all-pass run alone proves little). */
  def referentialAuditOn(o: DataFrame, l: DataFrame, c: DataFrame,
      p: DataFrame, sup: DataFrame): DataFrame = {
    def fk(name: String, fact: DataFrame, fkCol: String,
        dim: DataFrame, pkCol: String): DataFrame =
      fact.select(col(fkCol)).join(dim.select(col(pkCol)),
          col(fkCol) === col(pkCol), "left_outer")
        .agg(count(lit(1)).as("n_checked"),
          coalesce(sum(when(col(pkCol).isNull, 1L)), lit(0L))
            .as("n_violations"))
        .select(lit(name).as("check_name"), col("n_checked"),
          col("n_violations"))

    // scalar families: one aggregate per table, stack() → 1 row/check
    val ordersScalar = o.agg(
        count(lit(1)).as("n"),
        coalesce(sum(when(col("o_totalprice").isNull ||
          col("o_totalprice") <= 0, 1L)), lit(0L)).as("v_price"),
        (count(lit(1)) - countDistinct(col("o_orderkey"))).as("v_dup"))
      .select(expr(
        """stack(2,
          |  'ck_orders_totalprice_positive', n, v_price,
          |  'pk_orders_orderkey_unique', n, v_dup)
          |  AS (check_name, n_checked, n_violations)""".stripMargin))
    val lineitemScalar = l.agg(
        count(lit(1)).as("n"),
        coalesce(sum(when(col("l_quantity").isNull ||
          col("l_quantity") < 1 || col("l_quantity") > 50, 1L)),
          lit(0L)).as("v_qty"),
        coalesce(sum(when(col("l_discount").isNull ||
          col("l_discount") < 0 || col("l_discount") > 0.1, 1L)),
          lit(0L)).as("v_disc"),
        coalesce(sum(when(col("l_shipdate").isNull, 1L)), lit(0L))
          .as("v_ship"))
      .select(expr(
        """stack(3,
          |  'ck_lineitem_quantity_range', n, v_qty,
          |  'ck_lineitem_discount_range', n, v_disc,
          |  'nn_lineitem_shipdate', n, v_ship)
          |  AS (check_name, n_checked, n_violations)""".stripMargin))
    val customerScalar = c.agg(
        count(lit(1)).as("n"),
        (count(lit(1)) - countDistinct(col("c_custkey"))).as("v_dup"))
      .select(lit("pk_customer_custkey_unique").as("check_name"),
        col("n").as("n_checked"), col("v_dup").as("n_violations"))

    fk("fk_orders_customer", o, "o_custkey", c, "c_custkey")
      .unionByName(fk("fk_lineitem_orders", l, "l_orderkey", o, "o_orderkey"))
      .unionByName(fk("fk_lineitem_part", l, "l_partkey", p, "p_partkey"))
      .unionByName(fk("fk_lineitem_supplier", l, "l_suppkey", sup, "s_suppkey"))
      .unionByName(ordersScalar)
      .unionByName(lineitemScalar)
      .unionByName(customerScalar)
      .withColumn("pass", col("n_violations") === 0)
      .orderBy(col("check_name"))
  }

  val referentialAuditSql: String =
    """WITH fko AS (
      |  SELECT COUNT(*) AS n,
      |    COUNT(*) FILTER (WHERE c.c_custkey IS NULL) AS v
      |  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey),
      |fklo AS (
      |  SELECT COUNT(*) AS n,
      |    COUNT(*) FILTER (WHERE o.o_orderkey IS NULL) AS v
      |  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey),
      |fklp AS (
      |  SELECT COUNT(*) AS n,
      |    COUNT(*) FILTER (WHERE p.p_partkey IS NULL) AS v
      |  FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey),
      |fkls AS (
      |  SELECT COUNT(*) AS n,
      |    COUNT(*) FILTER (WHERE s.s_suppkey IS NULL) AS v
      |  FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey),
      |osc AS (
      |  SELECT COUNT(*) AS n,
      |    COUNT(*) FILTER (WHERE o_totalprice IS NULL
      |      OR o_totalprice <= 0) AS v_price,
      |    COUNT(*) - COUNT(DISTINCT o_orderkey) AS v_dup
      |  FROM orders),
      |lsc AS (
      |  SELECT COUNT(*) AS n,
      |    COUNT(*) FILTER (WHERE l_quantity IS NULL
      |      OR l_quantity < 1 OR l_quantity > 50) AS v_qty,
      |    COUNT(*) FILTER (WHERE l_discount IS NULL
      |      OR l_discount < 0 OR l_discount > 0.1) AS v_disc,
      |    COUNT(*) FILTER (WHERE l_shipdate IS NULL) AS v_ship
      |  FROM lineitem),
      |csc AS (
      |  SELECT COUNT(*) AS n,
      |    COUNT(*) - COUNT(DISTINCT c_custkey) AS v_dup
      |  FROM customer),
      |rows_out AS (
      |  SELECT 'fk_orders_customer' AS check_name, n AS n_checked,
      |    v AS n_violations FROM fko
      |  UNION ALL SELECT 'fk_lineitem_orders', n, v FROM fklo
      |  UNION ALL SELECT 'fk_lineitem_part', n, v FROM fklp
      |  UNION ALL SELECT 'fk_lineitem_supplier', n, v FROM fkls
      |  UNION ALL SELECT 'ck_orders_totalprice_positive', n, v_price FROM osc
      |  UNION ALL SELECT 'pk_orders_orderkey_unique', n, v_dup FROM osc
      |  UNION ALL SELECT 'ck_lineitem_quantity_range', n, v_qty FROM lsc
      |  UNION ALL SELECT 'ck_lineitem_discount_range', n, v_disc FROM lsc
      |  UNION ALL SELECT 'nn_lineitem_shipdate', n, v_ship FROM lsc
      |  UNION ALL SELECT 'pk_customer_custkey_unique', n, v_dup FROM csc)
      |SELECT check_name, CAST(n_checked AS BIGINT) AS n_checked,
      |  CAST(n_violations AS BIGINT) AS n_violations,
      |  n_violations = 0 AS pass
      |FROM rows_out ORDER BY check_name""".stripMargin

  // --------------------------------------------- blocked fuzzy link
  /** Entity resolution across heterogeneous sources (customer vs
    * supplier registries) with BLOCKING — the standard record-linkage
    * topology: a cheap deterministic blocking key (here the numeric id
    * suffix both registries embed in their names) turns the n²
    * all-pairs compare into an equi-join, and only within-block pairs
    * pay the edit-distance score. `linked` requires both a close name
    * (Levenshtein ≤ 5 — "Customer"/"Supplier" differ by exactly 5
    * substitutions, so the synthetic registries sit ON the boundary)
    * and a matching nation — a two-signal match rule.
    *
    * Scale shape: block-key extraction is a per-row projection; the
    * join shuffles both sides on the block key (broadcast would also
    * work for a small registry, but is deliberately not forced — at
    * 100 TB both registries are large); per-pair CPU is one bounded
    * Levenshtein. Pair count = Σ per-block |A|·|B|, controlled by
    * blocking-key selectivity, never n². */
  def linkBlockedFuzzy(s: SparkSession, d: String): DataFrame =
    linkBlockedFuzzyOn(customer(s, d), supplier(s, d))

  /** Core linkage over caller-supplied registries — separated so specs
    * can plant same-block / cross-block and near/far-name pairs. */
  def linkBlockedFuzzyOn(c: DataFrame, sup: DataFrame): DataFrame = {
    val cb = c.select(
      regexp_extract(col("c_name"), "([0-9]+)$", 1).cast("long")
        .as("block_id"),
      col("c_custkey"), col("c_name"), col("c_nationkey"))
    val sb = sup.select(
      regexp_extract(col("s_name"), "([0-9]+)$", 1).cast("long")
        .as("sblock"),
      col("s_suppkey"), col("s_name"), col("s_nationkey"))
    cb.join(sb, col("block_id") === col("sblock"))
      .select(col("block_id"), col("c_custkey"), col("s_suppkey"),
        levenshtein(col("c_name"), col("s_name")).cast("long")
          .as("name_dist"),
        (col("c_nationkey") === col("s_nationkey")).as("same_nation"))
      .withColumn("linked",
        col("name_dist") <= 5 && col("same_nation"))
      .orderBy(col("block_id"), col("c_custkey"), col("s_suppkey"))
  }

  val linkBlockedFuzzySql: String =
    """WITH cb AS (
      |  SELECT CAST(regexp_extract(c_name, '([0-9]+)$', 1) AS BIGINT)
      |    AS block_id, c_custkey, c_name, c_nationkey
      |  FROM customer),
      |sb AS (
      |  SELECT CAST(regexp_extract(s_name, '([0-9]+)$', 1) AS BIGINT)
      |    AS sblock, s_suppkey, s_name, s_nationkey
      |  FROM supplier)
      |SELECT block_id, c_custkey, s_suppkey,
      |  CAST(levenshtein(c_name, s_name) AS BIGINT) AS name_dist,
      |  c_nationkey = s_nationkey AS same_nation,
      |  levenshtein(c_name, s_name) <= 5
      |    AND c_nationkey = s_nationkey AS linked
      |FROM cb JOIN sb ON block_id = sblock
      |ORDER BY block_id, c_custkey, s_suppkey""".stripMargin

  // --------------------------------------------- entity-resolution clusters
  /** The step AFTER pairwise linkage: fold the linked pairs from
    * [[linkBlockedFuzzy]]'s match rule into ENTITY CLUSTERS (connected
    * components of the link graph) with one survivor row per cluster —
    * the canonical-record / golden-record stage every master-data or
    * training-metadata pipeline runs after scoring pairs. Customers
    * live on even node ids (2·custkey), suppliers on odd (2·suppkey+1)
    * — the disjoint-lane encoding GraphRank's bipartite graphs use.
    *
    * Components come from [[ErRounds]] = 4 rounds of min-label
    * propagation (label = min over self+neighbors, self kept via an
    * explicit self-loop lane), the bounded-rounds discipline kcore/LPA
    * use: exact for every component whose eccentricity from its
    * min-id node is ≤ 4 — all real linkage blocks, which are
    * intra-block and shallow by construction — and a 5th probe round
    * feeds the per-cluster `converged` honesty flag. A cluster is
    * unconverged when round 5 would move any of ITS members' labels
    * away (it loses members) OR when any node elsewhere newly takes
    * this cluster's id in round 5 (it absorbs members — its own
    * labels all look stable, but its grain is still under-counted).
    * Both directions matter: the min-id cluster of a truncated chain
    * fails only the second test.
    *
    * Scale shape: pair generation is the blocked equi-join (Σ per-
    * block |A|·|B|, never n²); each label round is one O(E) join +
    * one hash-agg on the LINKED subgraph only (usually ≪ the input
    * registries); survivor naming is one broadcast-size join keyed by
    * the cluster id. No driver actions, no unbounded iteration. */
  def linkEntityClusters(s: SparkSession, d: String): DataFrame =
    linkEntityClustersOn(customer(s, d), supplier(s, d))

  private val ErRounds = 4

  /** Core clustering over caller-supplied registries — separated so
    * specs can plant chains (convergence cap) and multi-record blocks. */
  def linkEntityClustersOn(c: DataFrame, sup: DataFrame): DataFrame = {
    val cb = c.select((col("c_custkey") * 2).as("cu_id"),
      regexp_extract(col("c_name"), "([0-9]+)$", 1).cast("long")
        .as("block_id"),
      col("c_name"), col("c_nationkey"))
    val sb = sup.select((col("s_suppkey") * 2 + 1).as("sv_id"),
      regexp_extract(col("s_name"), "([0-9]+)$", 1).cast("long")
        .as("sblock"),
      col("s_name"), col("s_nationkey"))
    // linked pairs feed the edge list twice and the node set — one
    // materialization, three consumers
    val linked = graft.operators.Materialize.eager(
      cb.join(sb, col("block_id") === col("sblock"))
        .filter(levenshtein(col("c_name"), col("s_name")) <= 5 &&
          col("c_nationkey") === col("s_nationkey"))
        .select(col("cu_id").as("cu"), col("sv_id").as("sv")))
    val nodes = linked.select(col("cu").as("id"))
      .union(linked.select(col("sv").as("id"))).distinct()
    val edg = graft.operators.Materialize.eager(
      linked.select(col("cu").as("a"), col("sv").as("b"))
        .union(linked.select(col("sv").as("a"), col("cu").as("b")))
        .union(nodes.select(col("id").as("a"), col("id").as("b"))))
    def step(l: DataFrame): DataFrame =
      edg.join(l.withColumnRenamed("id", "b"), "b")
        .groupBy(col("a")).agg(min(col("lbl")).as("lbl"))
        .withColumnRenamed("a", "id")
    var l = nodes.select(col("id"), col("id").as("lbl"))
    for (_ <- 1 to ErRounds) l = step(l)
    val l4 = graft.operators.Materialize.eager(l) // feeds l5 AND members
    val l5 = step(l4)
    // mem feeds the survivorship agg AND the incoming-change probe —
    // materialize or the l5 O(E) join subtree re-runs per consumer
    val mem = graft.operators.Materialize.eager(
      l4.select(col("id"), col("lbl").as("cluster_id"))
        .join(l5.select(col("id"), col("lbl").as("lbl5")), "id"))
    // clusters that would ABSORB a member in round 5: some node's
    // label NEWLY becomes this cluster_id (its lbl4 was elsewhere)
    val incoming = mem.filter(col("lbl5") =!= col("cluster_id"))
      .groupBy(col("lbl5").as("tgt")).agg(count(lit(1)).as("n_in"))
    val names = c.select((col("c_custkey") * 2).as("nid"),
        col("c_name").as("name"))
      .union(sup.select((col("s_suppkey") * 2 + 1).as("nid"),
        col("s_name").as("name")))
    mem.groupBy(col("cluster_id"))
      .agg(sum(when(col("id") % 2 === 0, 1L).otherwise(0L)).cast("long")
          .as("n_customers"),
        sum(when(col("id") % 2 === 1, 1L).otherwise(0L)).cast("long")
          .as("n_suppliers"),
        count(lit(1)).as("n_members"),
        expr("bool_and(lbl5 = cluster_id)").as("stable"))
      .join(incoming, col("cluster_id") === col("tgt"), "left")
      .join(names, col("cluster_id") === col("nid"))
      .select(col("cluster_id"), col("n_customers"), col("n_suppliers"),
        col("n_members"), col("name").as("canonical_name"),
        (col("stable") && col("n_in").isNull).as("converged"))
      .orderBy(col("cluster_id"))
  }

  val linkEntityClustersSql: String = {
    // unrolled min-label rounds derived from ErRounds (+1 probe round
    // — the hitsScoresSql coupling discipline, so bumping ErRounds
    // can never desync engine and oracle); MATERIALIZED is
    // load-bearing (each round CTE is referenced by the next AND by
    // the final member join — DuckDB would otherwise re-inline the
    // chain)
    val rounds = (1 to ErRounds + 1).map { k =>
      s"""l$k AS MATERIALIZED (
         |  SELECT e.a AS id, MIN(l.lbl) AS lbl
         |  FROM edg e JOIN l${k - 1} l ON l.id = e.b GROUP BY e.a)""".stripMargin
    }.mkString(",\n")
    s"""WITH cb AS (
       |  SELECT c_custkey * 2 AS cu_id,
       |    CAST(regexp_extract(c_name, '([0-9]+)$$', 1) AS BIGINT)
       |      AS block_id, c_name, c_nationkey
       |  FROM customer),
       |sb AS (
       |  SELECT s_suppkey * 2 + 1 AS sv_id,
       |    CAST(regexp_extract(s_name, '([0-9]+)$$', 1) AS BIGINT)
       |      AS sblock, s_name, s_nationkey
       |  FROM supplier),
       |linked AS MATERIALIZED (
       |  SELECT cu_id AS cu, sv_id AS sv
       |  FROM cb JOIN sb ON block_id = sblock
       |  WHERE levenshtein(c_name, s_name) <= 5
       |    AND c_nationkey = s_nationkey),
       |nodes AS MATERIALIZED (
       |  SELECT DISTINCT id FROM (
       |    SELECT cu AS id FROM linked UNION ALL SELECT sv FROM linked) u),
       |edg AS MATERIALIZED (
       |  SELECT cu AS a, sv AS b FROM linked
       |  UNION ALL SELECT sv, cu FROM linked
       |  UNION ALL SELECT id, id FROM nodes),
       |l0 AS (SELECT id, id AS lbl FROM nodes),
       |$rounds,
       |names AS (
       |  SELECT c_custkey * 2 AS nid, c_name AS name FROM customer
       |  UNION ALL
       |  SELECT s_suppkey * 2 + 1, s_name FROM supplier),
       |mem AS MATERIALIZED (
       |  SELECT l$ErRounds.id, l$ErRounds.lbl AS cluster_id,
       |    l${ErRounds + 1}.lbl AS lbl5
       |  FROM l$ErRounds JOIN l${ErRounds + 1}
       |    ON l$ErRounds.id = l${ErRounds + 1}.id),
       |incoming AS (
       |  SELECT lbl5 AS tgt, COUNT(*) AS n_in FROM mem
       |  WHERE lbl5 <> cluster_id GROUP BY lbl5),
       |agg AS (
       |  SELECT cluster_id,
       |    CAST(SUM(CASE WHEN id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_customers,
       |    CAST(SUM(CASE WHEN id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_suppliers,
       |    CAST(COUNT(*) AS BIGINT) AS n_members,
       |    BOOL_AND(lbl5 = cluster_id) AS stable
       |  FROM mem GROUP BY cluster_id)
       |SELECT cluster_id, n_customers, n_suppliers, n_members,
       |  n.name AS canonical_name,
       |  stable AND i.tgt IS NULL AS converged
       |FROM agg LEFT JOIN incoming i ON i.tgt = cluster_id
       |JOIN names n ON n.nid = cluster_id
       |ORDER BY cluster_id""".stripMargin
  }

  // ------------------------------------------------ join-key skew audit
  /** Per-join-key skew profile over every candidate shuffle key in the
    * star schema — the PRE-JOIN diagnostic that decides, before a
    * 100 TB shuffle is launched, whether a key needs salting
    * (operators.SkewJoin), AQE skew splitting, or nothing. One row per
    * key: distinct-key count, row count, the hottest key's count, and
    * `skew_pm` = hottest/mean in permille (1000 = perfectly uniform;
    * AQE's default skewedPartitionFactor fires around 5000).
    *
    * Scale shape: each branch is ONE map-side-partial count per key
    * followed by a 4-value rollup — no row leaves the cluster, output
    * is O(number of audited keys). Branches are independent scans
    * unioned at planning time, so the audit runs as wide as the
    * cluster. */
  def keySkewAudit(s: SparkSession, d: String): DataFrame = {
    def prof(name: String, df: DataFrame, k: String): DataFrame =
      df.groupBy(col(k).as("k")).agg(count(lit(1)).as("cnt"))
        .agg(count(lit(1)).as("n_keys"), sum(col("cnt")).as("n_rows"),
          max(col("cnt")).as("max_cnt"))
        .select(lit(name).as("join_key"), col("n_keys"),
          col("n_rows").cast("long").as("n_rows"), col("max_cnt"),
          expr("max_cnt * n_keys * 1000 DIV n_rows").as("skew_pm"))
    prof("events.user_id", events(s, d), "user_id")
      .unionByName(prof("lineitem.l_orderkey", lineitem(s, d), "l_orderkey"))
      .unionByName(prof("lineitem.l_partkey", lineitem(s, d), "l_partkey"))
      .unionByName(prof("lineitem.l_suppkey", lineitem(s, d), "l_suppkey"))
      .unionByName(prof("orders.o_custkey", orders(s, d), "o_custkey"))
      .orderBy(col("join_key"))
  }

  val keySkewAuditSql: String = {
    def prof(name: String, table: String, k: String): String =
      s"""SELECT '$name' AS join_key, COUNT(*) AS n_keys,
         |  CAST(SUM(cnt) AS BIGINT) AS n_rows, MAX(cnt) AS max_cnt,
         |  MAX(cnt) * COUNT(*) * 1000 // CAST(SUM(cnt) AS BIGINT) AS skew_pm
         |FROM (SELECT $k, COUNT(*) AS cnt FROM $table GROUP BY $k) g""".stripMargin
    s"""${prof("events.user_id", "events", "user_id")}
       |UNION ALL ${prof("lineitem.l_orderkey", "lineitem", "l_orderkey")}
       |UNION ALL ${prof("lineitem.l_partkey", "lineitem", "l_partkey")}
       |UNION ALL ${prof("lineitem.l_suppkey", "lineitem", "l_suppkey")}
       |UNION ALL ${prof("orders.o_custkey", "orders", "o_custkey")}
       |ORDER BY join_key""".stripMargin
  }

  // ------------------------------------------------ k-anonymity audit
  /** k-anonymity of the customer registry under the quasi-identifier
    * (nation, market segment, account-balance-to-the-$1000) — the
    * re-identification audit a governed lake runs before releasing a
    * table: every row in a QID group of size < k is linkable to at
    * most k−1 candidates by an attacker holding those attributes.
    * One row per segment: group count, the table's realized anonymity
    * k (= min group size), singleton groups (unique individuals), and
    * rows in groups smaller than 5.
    *
    * The balance bucket shifts cents non-negative BEFORE the integer
    * divide — Spark's DIV truncates toward zero while DuckDB's //
    * floors, and the two only agree on non-negative operands.
    *
    * Scale shape: one groupBy on the QID (map-side partial), one
    * rollup per segment; output is O(segments). */
  def kAnonymityAudit(s: SparkSession, d: String): DataFrame =
    kAnonymityOn(customer(s, d))

  /** Core audit over a caller-supplied registry — separated so specs
    * can plant singleton and sub-k groups. */
  def kAnonymityOn(c: DataFrame): DataFrame =
    c.groupBy(col("c_nationkey").as("nation"),
        col("c_mktsegment").as("segment"),
        expr("(CAST(FLOOR(c_acctbal*100 + 0.5) AS BIGINT) + 100000) DIV 100000")
          .as("bal_kilo"))
      .agg(count(lit(1)).as("gsize"))
      .groupBy(col("segment"))
      .agg(sum(col("gsize")).cast("long").as("n_rows"),
        count(lit(1)).as("n_groups"),
        min(col("gsize")).as("anonymity_k"),
        sum(when(col("gsize") === 1, 1L).otherwise(0L)).cast("long")
          .as("n_singletons"),
        sum(when(col("gsize") < 5, col("gsize")).otherwise(0L)).cast("long")
          .as("rows_below_k5"))
      .orderBy(col("segment"))

  val kAnonymityAuditSql: String =
    """WITH g AS (
      |  SELECT c_nationkey AS nation, c_mktsegment AS segment,
      |    (CAST(FLOOR(c_acctbal*100 + 0.5) AS BIGINT) + 100000) // 100000
      |      AS bal_kilo,
      |    COUNT(*) AS gsize
      |  FROM customer GROUP BY 1, 2, 3)
      |SELECT segment, CAST(SUM(gsize) AS BIGINT) AS n_rows,
      |  COUNT(*) AS n_groups, MIN(gsize) AS anonymity_k,
      |  CAST(COUNT(*) FILTER (WHERE gsize = 1) AS BIGINT) AS n_singletons,
      |  CAST(COALESCE(SUM(gsize) FILTER (WHERE gsize < 5), 0) AS BIGINT)
      |    AS rows_below_k5
      |FROM g GROUP BY segment ORDER BY segment""".stripMargin

  // ------------------------------------------------ l-diversity
  /** l-diversity audit, the disclosure check k-anonymity misses: a
    * group can be large (k-anonymous) yet HOMOGENEOUS in its
    * sensitive attribute — every member shares the secret, so group
    * membership alone discloses it. Quasi-identifiers here are
    * (nation, segment); the sensitive attribute is financial distress
    * (negative account balance). Per segment: group count, the
    * minimum distinct-sensitive-value count l (l = 1 ⇒ a homogeneous
    * group exists), how many groups are homogeneous, and how many
    * rows sit in them — the re-identification exposure surface.
    *
    * Scale shape: one hash-agg to (QI, sensitive) cells, one to QI
    * groups, one to segments — strictly coarsening keys, all
    * map-side combinable, output |segments| rows. */
  def lDiversityAudit(s: SparkSession, d: String): DataFrame =
    lDiversityOn(customer(s, d))

  /** Core over a caller-supplied registry — separated so specs can
    * plant homogeneous groups. */
  def lDiversityOn(c: DataFrame): DataFrame = {
    val cells = c.select(col("c_nationkey").as("nation"),
        col("c_mktsegment").as("segment"),
        when(col("c_acctbal") < 0, 1L).otherwise(0L).as("distressed"))
      .groupBy(col("nation"), col("segment"), col("distressed"))
      .agg(count(lit(1)).as("n"))
    val groups = cells.groupBy(col("nation"), col("segment"))
      .agg(sum(col("n")).as("gsize"), count(lit(1)).as("l"))
    groups.groupBy(col("segment"))
      .agg(count(lit(1)).as("n_groups"),
        sum(col("gsize")).cast("long").as("n_rows"),
        min(col("l")).as("min_l"),
        sum(when(col("l") === 1, 1L).otherwise(0L)).cast("long")
          .as("n_homogeneous"),
        sum(when(col("l") === 1, col("gsize")).otherwise(0L)).cast("long")
          .as("rows_in_homogeneous"))
      .orderBy(col("segment"))
  }

  val lDiversityAuditSql: String =
    """WITH cells AS (
      |  SELECT c_nationkey AS nation, c_mktsegment AS segment,
      |    CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END AS distressed,
      |    COUNT(*) AS n
      |  FROM customer GROUP BY 1, 2, 3),
      |g AS (
      |  SELECT nation, segment, SUM(n) AS gsize, COUNT(*) AS l
      |  FROM cells GROUP BY 1, 2)
      |SELECT segment, COUNT(*) AS n_groups,
      |  CAST(SUM(gsize) AS BIGINT) AS n_rows,
      |  MIN(l) AS min_l,
      |  CAST(COUNT(*) FILTER (WHERE l = 1) AS BIGINT) AS n_homogeneous,
      |  CAST(COALESCE(SUM(gsize) FILTER (WHERE l = 1), 0) AS BIGINT)
      |    AS rows_in_homogeneous
      |FROM g GROUP BY segment ORDER BY segment""".stripMargin

  // ------------------------------------------- correlation profile
  /** Cross-column Pearson profile of lineitem's numeric triple
    * (quantity, discount, price-in-dollars) — the data-profiler
    * staple next to the FD audit: FDs catch deterministic
    * dependencies, this catches the statistical ones (a price column
    * that suddenly correlates with discount means a pricing rule
    * changed upstream). One scan, all three pairs.
    *
    * Numerics: the per-brand-elasticity stance globalized — values
    * land on integer grids (quantity, discount cents, price DOLLARS:
    * cents squared would graze int64 at this SF; the coarser grid is
    * the declared profile ladder and Pearson is scale-invariant, so
    * nothing is lost), deviations from the ⌊mean⌋ keep every moment
    * sum in range, and each r evaluates once in doubles with a fixed
    * shape, snapped ×1000 (the dimCovariance Pearson stance).
    *
    * Scale shape: one 4-column pre-agg (means), a 1-row broadcast,
    * one centered-moment agg with map-side combine, stack() to 3
    * rows. Two linear passes total for all pairs. */
  def numericCorrelations(s: SparkSession, d: String): DataFrame = {
    val base = lineitem(s, d).select(
      col("l_quantity").cast("long").as("q"),
      expr("CAST(FLOOR(l_discount*100 + 0.5) AS BIGINT)").as("dc"),
      expr("CAST(FLOOR(l_extendedprice*100 + 0.5) AS BIGINT) DIV 100")
        .as("p"))
    val mu = base.agg(
      expr("SUM(q) DIV COUNT(*)").as("muq"),
      expr("SUM(dc) DIV COUNT(*)").as("mud"),
      expr("SUM(p) DIV COUNT(*)").as("mup"))
    def rExpr(sxy: String, sxx: String, syy: String): String =
      s"""CASE WHEN $sxx = 0 OR $syy = 0 THEN CAST(0 AS BIGINT)
         |ELSE CAST(FLOOR(CAST($sxy AS DOUBLE)
         |  / sqrt(CAST($sxx AS DOUBLE) * CAST($syy AS DOUBLE))
         |  * 1000 + 0.5) AS BIGINT) END""".stripMargin
    base.crossJoin(broadcast(mu))
      .select((col("q") - col("muq")).as("qc"),
        (col("dc") - col("mud")).as("dcc"),
        (col("p") - col("mup")).as("pc"))
      .agg(count(lit(1)).as("n"),
        sum(col("qc") * col("qc")).as("sqq"),
        sum(col("dcc") * col("dcc")).as("sdd"),
        sum(col("pc") * col("pc")).as("spp"),
        sum(col("qc") * col("dcc")).as("sqd"),
        sum(col("qc") * col("pc")).as("sqp"),
        sum(col("dcc") * col("pc")).as("sdp"))
      .select(expr(
        s"""stack(3,
           |  'discount_vs_price', n, ${rExpr("sdp", "sdd", "spp")},
           |  'quantity_vs_discount', n, ${rExpr("sqd", "sqq", "sdd")},
           |  'quantity_vs_price', n, ${rExpr("sqp", "sqq", "spp")})
           |AS (pair, n_rows, r_milli)""".stripMargin))
      .orderBy(col("pair"))
  }

  val numericCorrelationsSql: String = {
    def rSql(sxy: String, sxx: String, syy: String): String =
      s"""CASE WHEN $sxx = 0 OR $syy = 0 THEN CAST(0 AS BIGINT)
         |ELSE CAST(FLOOR(CAST($sxy AS DOUBLE)
         |  / sqrt(CAST($sxx AS DOUBLE) * CAST($syy AS DOUBLE))
         |  * 1000 + 0.5) AS BIGINT) END""".stripMargin
    s"""WITH base AS (
       |  SELECT CAST(l_quantity AS BIGINT) AS q,
       |    CAST(FLOOR(l_discount*100 + 0.5) AS BIGINT) AS dc,
       |    CAST(FLOOR(l_extendedprice*100 + 0.5) AS BIGINT) // 100 AS p
       |  FROM lineitem),
       |mu AS (
       |  SELECT CAST(SUM(q) AS BIGINT) // COUNT(*) AS muq,
       |    CAST(SUM(dc) AS BIGINT) // COUNT(*) AS mud,
       |    CAST(SUM(p) AS BIGINT) // COUNT(*) AS mup
       |  FROM base),
       |m AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM((q-muq)*(q-muq)) AS BIGINT) AS sqq,
       |    CAST(SUM((dc-mud)*(dc-mud)) AS BIGINT) AS sdd,
       |    CAST(SUM((p-mup)*(p-mup)) AS BIGINT) AS spp,
       |    CAST(SUM((q-muq)*(dc-mud)) AS BIGINT) AS sqd,
       |    CAST(SUM((q-muq)*(p-mup)) AS BIGINT) AS sqp,
       |    CAST(SUM((dc-mud)*(p-mup)) AS BIGINT) AS sdp
       |  FROM base CROSS JOIN mu)
       |SELECT * FROM (
       |  SELECT 'discount_vs_price' AS pair, n AS n_rows,
       |    ${rSql("sdp", "sdd", "spp")} AS r_milli FROM m
       |  UNION ALL SELECT 'quantity_vs_discount', n,
       |    ${rSql("sqd", "sqq", "sdd")} FROM m
       |  UNION ALL SELECT 'quantity_vs_price', n,
       |    ${rSql("sqp", "sqq", "spp")} FROM m)
       |ORDER BY pair""".stripMargin
  }

  // ------------------------------------------------ id-gap audit
  /** Surrogate-key sequence integrity: how much of [min,max] the id
    * column actually covers, how many contiguous islands it splits
    * into, and whether any id repeats — the ingestion forensic that
    * distinguishes "dense sequence" (1 island), "deliberately sparse
    * generator" (stable coverage), and "a loader dropped a range"
    * (island count jumps release-over-release). Run on the orders
    * key, whose TPC-H generator is sparse BY DESIGN — the audit
    * measures that design instead of assuming density.
    *
    * Scale shape: the textbook island trick (id − row_number) needs
    * a GLOBAL sort — a single-task window at 100 TB. This instead
    * counts island STARTS: a key k starts an island iff k−1 is
    * absent, i.e. one LEFT ANTI hash-join of the key set against
    * itself shifted by one — shuffle on the key, no order-by
    * anywhere. Dup detection rides the same distinct agg. */
  def idGapsAudit(s: SparkSession, d: String): DataFrame =
    idGapsOn(orders(s, d).select(col("o_orderkey").cast("long").as("id")))

  /** Core over a caller-supplied id column — separated so specs can
    * plant gaps, dups, and single-island sequences. */
  def idGapsOn(ids: DataFrame): DataFrame = {
    val keys = ids.groupBy(col("id")).agg(count(lit(1)).as("cnt"))
    val islands = keys.select(col("id"))
      .join(keys.select((col("id") + 1).as("id")), Seq("id"), "left_anti")
      .agg(count(lit(1)).as("n_islands"))
    keys.agg(sum(col("cnt")).cast("long").as("n_rows"),
        count(lit(1)).as("n_keys"),
        min(col("id")).as("min_key"), max(col("id")).as("max_key"))
      .crossJoin(broadcast(islands))
      .select(col("n_rows"), col("n_keys"),
        (col("n_rows") - col("n_keys")).as("n_dup_rows"),
        col("min_key"), col("max_key"),
        expr("n_keys * 1000 DIV (max_key - min_key + 1)")
          .as("coverage_pm"),
        col("n_islands"))
  }

  val idGapsAuditSql: String =
    """WITH k AS (
      |  SELECT CAST(o_orderkey AS BIGINT) AS id, COUNT(*) AS cnt
      |  FROM orders GROUP BY 1),
      |isl AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_islands
      |  FROM k LEFT JOIN (SELECT id + 1 AS id2 FROM k) p ON p.id2 = k.id
      |  WHERE p.id2 IS NULL)
      |SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows,
      |  CAST(COUNT(*) AS BIGINT) AS n_keys,
      |  CAST(SUM(cnt) - COUNT(*) AS BIGINT) AS n_dup_rows,
      |  MIN(id) AS min_key, MAX(id) AS max_key,
      |  CAST(COUNT(*) AS BIGINT) * 1000 // (MAX(id) - MIN(id) + 1)
      |    AS coverage_pm,
      |  (SELECT n_islands FROM isl) AS n_islands
      |FROM k""".stripMargin

  // ------------------------------------------------ t-closeness
  /** t-closeness audit — the third rung of the disclosure ladder
    * (k-anonymity: groups big enough; l-diversity: groups not
    * homogeneous; t-closeness: each group's SENSITIVE DISTRIBUTION
    * stays within t of the global one, so membership leaks no more
    * than the table itself already discloses). Quasi-identifiers are
    * the l-diversity ones (nation, segment); the sensitive attribute
    * is the ordered account-balance band ladder (6 bands of 2000
    * currency units), and distance is the ordered-category Earth
    * Mover's Distance: EMD = Σᵢ|cum(p−q)ᵢ| / (m−1) over the band
    * prefix sums (Li/Li/Venkatasubramanian 2007's formula for
    * numeric attributes).
    *
    * Numerics: exact rationals throughout — the cumulative term is
    * Σ(n·N − n_b·gsize) so no per-band division ever happens; the
    * final permille snap divides once by gsize·N·(m−1). The products
    * sit in int64 comfortably below ~2e9 audited rows (gsize·N·1000
    * ≤ 9.2e18); beyond that cliff the q side moves to a declared
    * micro-share grid (the modularity stance). m ≤ 6 by the ladder.
    *
    * Scale shape: one (QI, band) hash-agg with map-side combine;
    * the grid completion is groups × a ≤6-row broadcast band table
    * (cells missing a band still owe |0 − q| mass — the left join
    * restores them); the prefix sum is a ≤6-row window per group.
    * Nothing scales beyond the cell count. */
  def tClosenessAudit(s: SparkSession, d: String): DataFrame =
    tClosenessOn(customer(s, d))

  /** Core over a caller-supplied registry — separated so specs can
    * plant groups with known shifted distributions. */
  def tClosenessOn(c: DataFrame): DataFrame = {
    val cells = c.select(col("c_nationkey").as("nation"),
        col("c_mktsegment").as("segment"),
        expr("(CAST(FLOOR(c_acctbal*100 + 0.5) AS BIGINT) + 100000)" +
          " DIV 200000").as("band"))
      .groupBy(col("nation"), col("segment"), col("band"))
      .agg(count(lit(1)).as("n"))
    val bands = cells.groupBy(col("band"))
      .agg(sum(col("n")).cast("long").as("nb"))
    val tot = cells.agg(sum(col("n")).cast("long").as("big_n"),
      countDistinct(col("band")).as("m"))
    val groups = cells.groupBy(col("nation"), col("segment"))
      .agg(sum(col("n")).cast("long").as("gsize"))
    val grid = groups.crossJoin(broadcast(bands))
      .join(cells, Seq("nation", "segment", "band"), "left")
      .select(col("nation"), col("segment"), col("gsize"), col("band"),
        col("nb"), coalesce(col("n"), lit(0L)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("nation"), col("segment")).orderBy(col("band"))
    val cum = grid.crossJoin(broadcast(tot))
      .withColumn("cumd",
        sum(col("n") * col("big_n") - col("nb") * col("gsize")).over(w))
    val emd = cum
      .groupBy(col("nation"), col("segment"), col("gsize"), col("big_n"),
        col("m"))
      .agg(sum(abs(col("cumd"))).cast("long").as("s_abs"))
      .select(col("nation"), col("segment"), col("gsize"),
        expr("""CASE WHEN m <= 1 THEN CAST(0 AS BIGINT)
          |ELSE s_abs * 1000 DIV (gsize * big_n * (m - 1)) END"""
          .stripMargin).as("emd_pm"))
    emd.groupBy(col("segment"))
      .agg(count(lit(1)).as("n_groups"),
        sum(col("gsize")).cast("long").as("n_rows"),
        max(col("emd_pm")).as("max_emd_pm"),
        sum(when(col("emd_pm") >= 200, 1L).otherwise(0L)).cast("long")
          .as("n_over_t200"),
        sum(when(col("emd_pm") >= 200, col("gsize")).otherwise(0L))
          .cast("long").as("rows_over_t200"))
      .orderBy(col("segment"))
  }

  val tClosenessAuditSql: String =
    """WITH cells AS (
      |  SELECT c_nationkey AS nation, c_mktsegment AS segment,
      |    ((CAST(FLOOR(c_acctbal*100 + 0.5) AS BIGINT) + 100000)
      |      // 200000) AS band,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM customer GROUP BY 1, 2, 3),
      |bands AS (SELECT band, CAST(SUM(n) AS BIGINT) AS nb
      |  FROM cells GROUP BY 1),
      |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS big_n,
      |  CAST(COUNT(DISTINCT band) AS BIGINT) AS m FROM cells),
      |grp AS (SELECT nation, segment, CAST(SUM(n) AS BIGINT) AS gsize
      |  FROM cells GROUP BY 1, 2),
      |grid AS (
      |  SELECT g.nation, g.segment, g.gsize, b.band, b.nb,
      |    COALESCE(c.n, 0) AS n
      |  FROM grp g CROSS JOIN bands b
      |  LEFT JOIN cells c ON c.nation = g.nation
      |    AND c.segment = g.segment AND c.band = b.band),
      |cum AS (
      |  SELECT nation, segment, gsize, big_n, m,
      |    SUM(n * big_n - nb * gsize) OVER (PARTITION BY nation, segment
      |      ORDER BY band) AS cumd
      |  FROM grid CROSS JOIN tot),
      |emd AS (
      |  SELECT nation, segment, gsize,
      |    CASE WHEN m <= 1 THEN CAST(0 AS BIGINT)
      |      ELSE CAST(SUM(ABS(cumd)) AS BIGINT) * 1000
      |        // (gsize * big_n * (m - 1)) END AS emd_pm
      |  FROM cum GROUP BY nation, segment, gsize, big_n, m)
      |SELECT segment, COUNT(*) AS n_groups,
      |  CAST(SUM(gsize) AS BIGINT) AS n_rows,
      |  MAX(emd_pm) AS max_emd_pm,
      |  CAST(COUNT(*) FILTER (WHERE emd_pm >= 200) AS BIGINT)
      |    AS n_over_t200,
      |  CAST(COALESCE(SUM(gsize) FILTER (WHERE emd_pm >= 200), 0)
      |    AS BIGINT) AS rows_over_t200
      |FROM emd GROUP BY segment ORDER BY segment""".stripMargin

  // ------------------------------------------------ salted skew join
  /** The operators.SkewJoin.saltedJoin topology surfaced end-to-end:
    * lineitem⋈supplier on the supplier key with an 8-way salt —
    * the big side salts each row randomly, the small side replicates
    * once per salt bucket, the join key becomes (key, salt) so no
    * single reducer ever owns a whole hot key. The aggregate result
    * must equal the UNSALTED join exactly (salting is a physical
    * rewrite, not a semantic one) — which is precisely what the
    * plain-join oracle checks.
    *
    * Scale shape: replication cost = |small| × buckets (bounded,
    * build-side only); the big side's hottest key spreads over
    * `buckets` partitions. This is the manual form for KNOWN mega-keys;
    * AQE's runtime skew split (on in Session.build) covers the
    * discovered-at-runtime case and cannot salt aggregations. */
  def joinSkewSalted(s: SparkSession, d: String): DataFrame = {
    val big = lineitem(s, d).select(col("l_suppkey").as("suppkey"),
      graft.queries.Relational.cents(
        col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev_c"))
    val small = supplier(s, d).select(col("s_suppkey").as("suppkey"),
      col("s_nationkey"))
    graft.operators.SkewJoin.saltedJoin(big, small, "suppkey", buckets = 8)
      .groupBy(col("s_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_items"), sum(col("rev_c")).as("revenue_c"))
      .orderBy(col("nationkey"))
  }

  val joinSkewSaltedSql: String =
    """SELECT s_nationkey AS nationkey, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(FLOOR((l_extendedprice*(1-l_discount))*100 + 0.5)
      |    AS BIGINT)) AS BIGINT) AS revenue_c
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_nationkey ORDER BY nationkey""".stripMargin

  // ------------------------------------------------ null/cardinality profile
  /** Per-column completeness + cardinality profile of the events
    * table: (column, n_rows, n_null, n_distinct) — the first pass any
    * data-quality framework runs over a new source (null-rate
    * regressions, accidental constant columns, key-cardinality
    * drift).
    *
    * Shape: one aggregate PER COLUMN, unioned — deliberately not one
    * fused multi-distinct aggregate: (a) each per-column agg scans
    * only ITS parquet column (pruned scan), so total bytes read ≈ one
    * full-table scan; (b) fusing n exact distincts into one agg
    * triggers Catalyst's Expand rewrite, which multiplies the scan
    * n-fold per row — the same trap sketch_profile documented
    * (BASELINE.md: 188 s fused vs 3 s split). At true 100 TB scale
    * the exact distinct per column would swap to HLL sketches; the
    * exact form IS the oracle here. */
  def nullProfile(s: SparkSession, d: String): DataFrame = {
    def prof(c: String): DataFrame =
      events(s, d).agg(
        count(lit(1)).as("n_rows"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_null"),
        countDistinct(col(c)).as("n_distinct"))
        .select(lit(c).as("col_name"), col("n_rows"), col("n_null"),
          col("n_distinct"))
    Seq("event_id", "user_id", "event_type", "value", "props")
      .map(prof).reduce(_.unionByName(_))
      .orderBy(col("col_name"))
  }

  val nullProfileSql: String = {
    def prof(c: String): String =
      s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
         |  COUNT(*) - COUNT($c) AS n_null,
         |  COUNT(DISTINCT $c) AS n_distinct
         |FROM events""".stripMargin
    Seq("event_id", "user_id", "event_type", "value", "props")
      .map(prof).mkString("", "\nUNION ALL ", "\nORDER BY col_name")
  }

  // ------------------------------------- robust MAD outlier audit
  /** Median-absolute-deviation outlier audit of the value column per
    * event type — the robust-statistics twin of the 3σ anomaly query
    * (`ev_anomaly_3sigma`): MAD is immune to the very outliers it
    * hunts, so a fat-tailed corruption can't inflate its own
    * threshold. Flags |value − median| > 10·MAD.
    *
    * Exactness: medians are the DISCRETE lower median picked by
    * row_number (rn = (n+1) DIV 2 in (cents, event_id) order) — no
    * interpolation, no doubles — so both engines pick the identical
    * element and every downstream op is integer.
    *
    * Scale shape: two per-type sort windows (the exact-audit stance
    * quantiles_exact declares: exact sorts are the AUDIT form; the
    * monitoring form is approx_percentile). Both windows shuffle on
    * event_type — 5 sort groups run in parallel; at 1000 executors
    * the per-type sort is the range-partitioned sort Spark already
    * distributes. */
  def valueMadOutliers(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = events(s, d).select(col("event_type"), col("event_id"),
      Relational.cents(col("value")).cast("long").as("c"))
    val w1 = Window.partitionBy(col("event_type"))
      .orderBy(col("c"), col("event_id"))
    // median pick: rn == (n+1) DIV 2 — computed via a broadcast join on
    // the per-type count so the sort window and the agg stay separate
    val cnt = c.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val medv = c.withColumn("rn", row_number().over(w1))
      .join(broadcast(cnt), "event_type")
      .filter(col("rn") === expr("(n + 1) DIV 2"))
      .select(col("event_type"), col("c").as("med_cents"))
    val dev = c.join(broadcast(medv), "event_type")
      .withColumn("dev", abs(col("c") - col("med_cents")))
    val w2 = Window.partitionBy(col("event_type"))
      .orderBy(col("dev"), col("event_id"))
    val madv = dev.withColumn("rn", row_number().over(w2))
      .join(broadcast(cnt), "event_type")
      .filter(col("rn") === expr("(n + 1) DIV 2"))
      .select(col("event_type"), col("dev").as("mad_cents"))
    dev.join(broadcast(madv), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        max(col("med_cents")).as("med_cents"),
        max(col("mad_cents")).as("mad_cents"),
        sum(when(col("dev") > lit(10L) * col("mad_cents"), 1L).otherwise(0L))
          .as("n_outliers"))
      .withColumn("outlier_permille", expr("n_outliers * 1000 DIV n_events"))
      .orderBy(col("event_type"))
  }

  val valueMadOutliersSql: String =
    s"""WITH c AS (
       |  SELECT event_type, event_id, ${Relational.centsSql("value")} AS c
       |  FROM events),
       |cnt AS (SELECT event_type, COUNT(*) AS n FROM c GROUP BY 1),
       |medv AS (
       |  SELECT event_type, c AS med_cents FROM (
       |    SELECT c.event_type, c.c, cnt.n,
       |      ROW_NUMBER() OVER (PARTITION BY c.event_type
       |        ORDER BY c.c, c.event_id) AS rn
       |    FROM c JOIN cnt USING (event_type))
       |  WHERE rn = (n + 1) // 2),
       |dev AS (
       |  SELECT c.event_type, c.event_id, c.c, m.med_cents,
       |    ABS(c.c - m.med_cents) AS dev
       |  FROM c JOIN medv m USING (event_type)),
       |madv AS (
       |  SELECT event_type, dev AS mad_cents FROM (
       |    SELECT d.event_type, d.dev, cnt.n,
       |      ROW_NUMBER() OVER (PARTITION BY d.event_type
       |        ORDER BY d.dev, d.event_id) AS rn
       |    FROM dev d JOIN cnt USING (event_type))
       |  WHERE rn = (n + 1) // 2),
       |agg AS (
       |  SELECT d.event_type, COUNT(*) AS n_events,
       |    MAX(d.med_cents) AS med_cents, MAX(m.mad_cents) AS mad_cents,
       |    CAST(SUM(CASE WHEN d.dev > 10 * m.mad_cents THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_outliers
       |  FROM dev d JOIN madv m USING (event_type) GROUP BY 1)
       |SELECT event_type, n_events, med_cents, mad_cents, n_outliers,
       |  n_outliers * 1000 // n_events AS outlier_permille
       |FROM agg ORDER BY event_type""".stripMargin

  // --------------------------------------- full-catalog profile
  /** ANALYZE-style catalog statistics for every column of every table
    * in the star schema: row count, null count, exact distinct count —
    * the stats a cost-based optimizer and a data-quality dashboard
    * both start from. The generalization of audit_null_profile (which
    * profiles events only) to the whole catalog.
    *
    * Scale shape: ONE PRUNED SCAN PER COLUMN (ReadSchema carries just
    * that column — the audit_null_profile plan pin), each a two-phase
    * agg with map-side partials. Exact NDV is the declared audit form;
    * the monitoring twin is approx_count_distinct (sketch_profile
    * pins the bound). Never a multi-distinct single aggregate: the
    * Expand rewrite would replicate every row per profiled column
    * (the documented 188 s sketch_profile lesson). */
  private val catalogCols: Seq[(String, Seq[String])] = Seq(
    "region" -> Seq("r_regionkey", "r_name"),
    "nation" -> Seq("n_nationkey", "n_name", "n_regionkey"),
    "customer" -> Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal",
      "c_mktsegment"),
    "supplier" -> Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
    "part" -> Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size",
      "p_retailprice"),
    "orders" -> Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey",
      "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
      "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"),
    "events" -> Seq("event_id", "ts", "user_id", "event_type", "value",
      "props"),
    "documents" -> Seq("doc_id", "text", "lang", "source", "n_chars"),
    "embeddings" -> Seq("vec_id", "embedding", "label"))

  def schemaProfile(s: SparkSession, d: String): DataFrame = {
    // ONE full-width scan per table (not one pruned scan per column):
    // a whole-catalog profile must read every byte of every column
    // either way, so a single pass per table minimizes both IO and
    // stage count — 10 aggregate stages instead of 54 (A/B'd at
    // sf0.1: 7.3–10.3 s per-column vs 5.5 s single-pass). Each row
    // explodes to (col_name, value-as-string) pairs; the string cast
    // is injective for every catalog type (int/string/double/
    // timestamp render uniquely), so the distinct COUNT is unchanged,
    // and the DuckDB oracle still counts raw values per column.
    // Never a multi-distinct single aggregate (the Expand lesson):
    // the distinct here is on the exploded (col, value) pairs with
    // ordinary partial aggregation.
    val profiles = for ((t, cols) <- catalogCols) yield {
      // events goes through the shape-adaptive loader so ts profiles
      // as the normalized timestamp, not a fixture-dependent physical
      val df = if (t == "events") events(s, d) else graft.Tables.t(s, d, t)
      val pairs = df.select(explode(array(cols.map(c =>
        struct(lit(c).as("col_name"),
          col(c).cast("string").as("val"))): _*)).as("p"))
        .select(col("p.col_name"), col("p.val"))
      pairs.groupBy(col("col_name"))
        .agg(count(lit(1)).as("n_rows"),
          (count(lit(1)) - count(col("val"))).as("n_null"),
          countDistinct(col("val")).as("n_distinct"))
        .select(lit(t).as("table_name"), col("col_name"),
          col("n_rows"), col("n_null"), col("n_distinct"))
    }
    profiles.reduce(_ unionByName _)
      .orderBy(col("table_name"), col("col_name"))
  }

  val schemaProfileSql: String =
    catalogCols.flatMap { case (t, cols) =>
      cols.map { c =>
        s"""SELECT '$t' AS table_name, '$c' AS col_name,
           |  COUNT(*) AS n_rows,
           |  COUNT(*) - COUNT($c) AS n_null,
           |  COUNT(DISTINCT $c) AS n_distinct
           |FROM $t""".stripMargin
      }
    }.mkString("", "\nUNION ALL ", "\nORDER BY table_name, col_name")

  // ------------------------------------- functional-dependency audit
  /** Approximate-FD discovery over a declared candidate catalog: for
    * each candidate `A → B`, the g3 error — the MINIMUM number of
    * rows to delete for the dependency to hold exactly (Kivinen &
    * Mannila's measure; the one TANE-family profilers report). A
    * lake uses this to find denormalization opportunities (g3 = 0:
    * B can live in an A-keyed dimension) and silent constraint rot
    * (a "should-hold" FD whose g3 drifts up release over release).
    *
    * Per FD: determinant group count, row count, groups with >1
    * distinct dependent value, rows_to_fix = Σ_a (cnt(a) −
    * max_b cnt(a,b)), and g3_pm on the permille grid. The catalog
    * mixes key-implied FDs (positive controls, g3 = 0 by
    * construction) with plausibly-false ones, so the audit output
    * exercises both branches.
    *
    * Scale shape: each FD is two chained hash-aggs — (A,B) counts
    * with map-side combine, then a per-A reduction — exactly the
    * LPA argmax discipline; no window, no join, output O(|catalog|)
    * rows. Branches are independent scans that parallelize across
    * the cluster; a 100 TB fact table costs one shuffle of its
    * (A,B) distinct-ish profile, not a sort. */
  def fdViolations(s: SparkSession, d: String): DataFrame = {
    def fd(name: String, df: DataFrame, a: String, b: String): DataFrame =
      df.filter(col(a).isNotNull)
        .groupBy(col(a).as("ka"), col(b).as("kb"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("ka"))
        .agg(sum(col("cnt")).as("rows_a"), count(lit(1)).as("n_b"),
          max(col("cnt")).as("max_b"))
        .agg(count(lit(1)).as("n_groups"),
          sum(col("rows_a")).cast("long").as("n_rows"),
          coalesce(sum(when(col("n_b") > 1, 1L).otherwise(0L)), lit(0L))
            .as("n_violating_groups"),
          (sum(col("rows_a")) - sum(col("max_b"))).cast("long")
            .as("rows_to_fix"))
        .select(lit(name).as("fd"), col("n_groups"), col("n_rows"),
          col("n_violating_groups"), col("rows_to_fix"),
          expr("rows_to_fix * 1000 DIV n_rows").as("g3_pm"))
    fd("customer.c_nationkey->c_mktsegment", customer(s, d),
        "c_nationkey", "c_mktsegment")
      .unionByName(fd("events.user_id->event_type", events(s, d),
        "user_id", "event_type"))
      .unionByName(fd("lineitem.l_partkey->l_suppkey", lineitem(s, d),
        "l_partkey", "l_suppkey"))
      .unionByName(fd("nation.n_nationkey->n_regionkey", nation(s, d),
        "n_nationkey", "n_regionkey"))
      .unionByName(fd("orders.o_custkey->o_orderpriority", orders(s, d),
        "o_custkey", "o_orderpriority"))
      .unionByName(fd("orders.o_orderkey->o_orderstatus", orders(s, d),
        "o_orderkey", "o_orderstatus"))
      .unionByName(fd("part.p_brand->p_type", part(s, d),
        "p_brand", "p_type"))
      .orderBy(col("fd"))
  }

  val fdViolationsSql: String = {
    def fd(name: String, table: String, a: String, b: String): String =
      s"""SELECT '$name' AS fd, COUNT(*) AS n_groups,
         |  CAST(SUM(rows_a) AS BIGINT) AS n_rows,
         |  CAST(COALESCE(SUM(CASE WHEN n_b > 1 THEN 1 ELSE 0 END), 0)
         |    AS BIGINT) AS n_violating_groups,
         |  CAST(SUM(rows_a) - SUM(max_b) AS BIGINT) AS rows_to_fix,
         |  CAST(SUM(rows_a) - SUM(max_b) AS BIGINT) * 1000
         |    // CAST(SUM(rows_a) AS BIGINT) AS g3_pm
         |FROM (
         |  SELECT ka, SUM(cnt) AS rows_a, COUNT(*) AS n_b,
         |    MAX(cnt) AS max_b
         |  FROM (SELECT $a AS ka, $b AS kb, COUNT(*) AS cnt FROM $table
         |        WHERE $a IS NOT NULL GROUP BY 1, 2) g
         |  GROUP BY ka) h""".stripMargin
    Seq(
      fd("customer.c_nationkey->c_mktsegment", "customer",
        "c_nationkey", "c_mktsegment"),
      fd("events.user_id->event_type", "events", "user_id", "event_type"),
      fd("lineitem.l_partkey->l_suppkey", "lineitem",
        "l_partkey", "l_suppkey"),
      fd("nation.n_nationkey->n_regionkey", "nation",
        "n_nationkey", "n_regionkey"),
      fd("orders.o_custkey->o_orderpriority", "orders",
        "o_custkey", "o_orderpriority"),
      fd("orders.o_orderkey->o_orderstatus", "orders",
        "o_orderkey", "o_orderstatus"),
      fd("part.p_brand->p_type", "part", "p_brand", "p_type")
    ).mkString("", "\nUNION ALL ", "\nORDER BY fd")
  }

  val queries: Map[String, Query] = Map(
    "audit_fd_violations" -> Query(fdViolations, fdViolationsSql),
    "audit_schema_profile" -> Query(schemaProfile, schemaProfileSql),
    "audit_value_mad" -> Query(valueMadOutliers, valueMadOutliersSql),
    "audit_null_profile" -> Query(nullProfile, nullProfileSql),
    "audit_referential" -> Query(referentialAudit, referentialAuditSql),
    "audit_key_skew" -> Query(keySkewAudit, keySkewAuditSql),
    "audit_k_anonymity" -> Query(kAnonymityAudit, kAnonymityAuditSql),
    "audit_l_diversity" -> Query(lDiversityAudit, lDiversityAuditSql),
    "audit_t_closeness" -> Query(tClosenessAudit, tClosenessAuditSql),
    "audit_id_gaps" -> Query(idGapsAudit, idGapsAuditSql),
    "audit_numeric_correlations" -> Query(numericCorrelations, numericCorrelationsSql),
    "join_skew_salted" -> Query(joinSkewSalted, joinSkewSaltedSql),
    "link_blocked_fuzzy" -> Query(linkBlockedFuzzy, linkBlockedFuzzySql),
    "link_entity_clusters" -> Query(linkEntityClusters, linkEntityClustersSql))
}
