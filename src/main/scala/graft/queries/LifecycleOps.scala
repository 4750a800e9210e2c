package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._
import graft.queries.Relational.{cents, centsSql}
import graft.Query

/** User-lifecycle analytics over the events stream: conversion
  * latency, interarrival distributions, per-type value histograms,
  * next-event transition entropy, and co-presence affinity pairs.
  *
  * Every query keeps the per-user (or per-hour-bucket) unit as the
  * parallel unit: the only corpus-wide state is a ≤5-row bounds/total
  * frame that travels by broadcast. Outputs are exact integers on the
  * repo's fixed-point grids (cents, millibits via the bit-length
  * ladder, centiseconds for snapped percentiles) so the DuckDB oracle
  * hash-matches bit-for-bit.
  *
  * Reference scope: the reference's per-key counting pattern
  * (/root/reference/mr-main/mrapps/wc.go:15-30) generalized to keyed
  * lifecycle state — same key→bucket discipline, Spark-native ops.
  */
object LifecycleOps {

  private def ev(s: SparkSession, d: String): DataFrame =
    events(s, d).select(col("event_id"), col("user_id"), col("event_type"),
      col("value"), col("ts"), col("ts").cast("long").as("sec"))

  // -------------------------------------------- time to convert
  /** Days from a user's first event of any kind to their first
    * `purchase`, as a distribution (−1 bucket = never converted),
    * with a permille share of the whole user base.
    *
    * Scale shape: one user-keyed hash-agg builds (first_seen,
    * first_purchase) with conditional MINs — a single shuffle on
    * user_id with full map-side partial aggregation; the user-base
    * total is a 1-row broadcast. Nothing here grows faster than the
    * distinct-user count. */
  def timeToConvert(s: SparkSession, d: String): DataFrame = {
    val per = ev(s, d)
      .groupBy(col("user_id"))
      .agg(min(col("sec")).as("first_sec"),
        min(when(col("event_type") === "purchase", col("sec")))
          .as("first_purchase_sec"))
    val tot = per.agg(count(lit(1)).as("n_total"))
    per
      .withColumn("latency_days",
        when(col("first_purchase_sec").isNull, lit(-1L))
          .otherwise(expr("(first_purchase_sec - first_sec) DIV 86400")))
      .groupBy(col("latency_days"))
      .agg(count(lit(1)).as("n_users"))
      .crossJoin(broadcast(tot))
      .withColumn("permille", expr("n_users * 1000 DIV n_total"))
      .select(col("latency_days"), col("n_users"), col("permille"))
      .orderBy(col("latency_days"))
  }

  val timeToConvertSql: String =
    """WITH per AS (
      |  SELECT user_id,
      |    MIN(CAST(FLOOR(EPOCH(ts)) AS BIGINT)) AS first_sec,
      |    MIN(CASE WHEN event_type = 'purchase'
      |      THEN CAST(FLOOR(EPOCH(ts)) AS BIGINT) END) AS first_purchase_sec
      |  FROM events GROUP BY 1),
      |tot AS (SELECT COUNT(*) AS n_total FROM per),
      |b AS (
      |  SELECT CASE WHEN first_purchase_sec IS NULL THEN -1
      |    ELSE (first_purchase_sec - first_sec) // 86400 END AS latency_days,
      |    COUNT(*) AS n_users
      |  FROM per GROUP BY 1)
      |SELECT latency_days, n_users, n_users * 1000 // n_total AS permille
      |FROM b, tot ORDER BY latency_days""".stripMargin

  // --------------------------------------- interarrival quantiles
  /** Exact p50/p90/p99 of the per-user interarrival gap (seconds)
    * for each event type — the "how often does a user do X" profile
    * that sizes session-gap and watermark parameters.
    *
    * Scale shape: one (user_id, event_type)-keyed window computes the
    * lag; the exact percentile is a per-type sort-based aggregate over
    * the gap column — 5 groups, each sorted independently. At 100 TB
    * the exact percentile is the declared-audit form (same stance as
    * quantiles_exact); approx_percentile is the monitoring form.
    * Percentiles snap to a centisecond integer grid before the
    * cross-engine compare (Spark `percentile` ≡ DuckDB
    * `quantile_cont`, same linear interpolation on integer gaps). */
  def interarrivalQuantiles(s: SparkSession, d: String): DataFrame = {
    val byUT = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    ev(s, d)
      .withColumn("prev", lag(col("sec"), 1).over(byUT))
      .filter(col("prev").isNotNull)
      .withColumn("gap", col("sec") - col("prev"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        expr("CAST(FLOOR(percentile(gap, 0.5)*100 + 0.5) AS BIGINT)")
          .as("p50_centisec"),
        expr("CAST(FLOOR(percentile(gap, 0.9)*100 + 0.5) AS BIGINT)")
          .as("p90_centisec"),
        expr("CAST(FLOOR(percentile(gap, 0.99)*100 + 0.5) AS BIGINT)")
          .as("p99_centisec"))
      .orderBy(col("event_type"))
  }

  val interarrivalQuantilesSql: String =
    """WITH g AS (
      |  SELECT event_type,
      |    CAST(FLOOR(EPOCH(ts)) AS BIGINT)
      |      - LAG(CAST(FLOOR(EPOCH(ts)) AS BIGINT)) OVER w AS gap
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id))
      |SELECT event_type, COUNT(*) AS n_gaps,
      |  CAST(FLOOR(quantile_cont(gap, 0.5)*100 + 0.5) AS BIGINT) AS p50_centisec,
      |  CAST(FLOOR(quantile_cont(gap, 0.9)*100 + 0.5) AS BIGINT) AS p90_centisec,
      |  CAST(FLOOR(quantile_cont(gap, 0.99)*100 + 0.5) AS BIGINT) AS p99_centisec
      |FROM g WHERE gap IS NOT NULL
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------- value histograms
  /** Equi-width 10-bin histogram of the value column (cents) per
    * event type, bounds taken from that type's own min/max.
    *
    * Scale shape: the bounds frame is one row per type (≤5) and
    * travels by broadcast; binning is then a stateless per-row
    * projection into a hash-agg — two linear passes, no sort. The
    * bucket index is pure integer arithmetic (no width division on
    * doubles), so the bin edges are identical across engines. */
  def valueHistogram(s: SparkSession, d: String): DataFrame = {
    val c = ev(s, d).select(col("event_type"), cents(col("value"))
      .cast("long").as("c"))
    val bounds = c.groupBy(col("event_type"))
      .agg(min(col("c")).as("mn"), max(col("c")).as("mx"))
    c.join(broadcast(bounds), "event_type")
      .withColumn("bucket",
        least(lit(9L), expr("(c - mn) * 10 DIV (mx - mn + 1)")))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n_events"),
        min(col("c")).as("lo_cents"), max(col("c")).as("hi_cents"))
      .orderBy(col("event_type"), col("bucket"))
  }

  val valueHistogramSql: String =
    s"""WITH c AS (
       |  SELECT event_type, ${centsSql("value")} AS c FROM events),
       |b AS (SELECT event_type, MIN(c) AS mn, MAX(c) AS mx
       |      FROM c GROUP BY 1)
       |SELECT c.event_type,
       |  LEAST(9, (c.c - b.mn) * 10 // (b.mx - b.mn + 1)) AS bucket,
       |  COUNT(*) AS n_events, MIN(c.c) AS lo_cents, MAX(c.c) AS hi_cents
       |FROM c JOIN b USING (event_type)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --------------------------------------- transition entropy
  /** First-order Markov view of user behavior: for each event type,
    * the distribution of the NEXT event type (within the same user,
    * event-time order), its Shannon entropy on the integer bit-length
    * grid (k·(bitlen(n)−bitlen(k)) ≈ k·log2(n/k) bits, exactly the
    * charEntropy ladder), and the modal next step.
    *
    * Scale shape: one user-keyed window for the lead, then the
    * transition matrix is a ≤|types|² hash-agg — all downstream work
    * runs on ≤25 rows regardless of corpus size. */
  def markovEntropy(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val cnt = ev(s, d)
      .withColumn("nxt", lead(col("event_type"), 1).over(byUser))
      .filter(col("nxt").isNotNull)
      .groupBy(col("event_type"), col("nxt"))
      .agg(count(lit(1)).as("k"))
    val tot = cnt.groupBy(col("event_type"))
      .agg(sum(col("k")).as("n"), count(lit(1)).as("n_next_types"))
    val ent = cnt.join(tot, "event_type")
      .withColumn("bits",
        col("k") * (length(bin(col("n"))) - length(bin(col("k")))).cast("long"))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n_transitions"),
        max(col("n_next_types")).as("n_next_types"),
        expr("(1000 * SUM(bits)) DIV MAX(n)").as("entropy_millibits"))
    val rn = Window.partitionBy(col("event_type"))
      .orderBy(col("k").desc, col("nxt"))
    val top = cnt.withColumn("rn", row_number().over(rn))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("nxt").as("top_next"),
        col("k").as("top_next_k"))
    ent.join(top, "event_type").orderBy(col("event_type"))
  }

  val markovEntropySql: String =
    """WITH nx AS (
      |  SELECT event_type,
      |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS nxt
      |  FROM events),
      |cnt AS (SELECT event_type, nxt, CAST(COUNT(*) AS BIGINT) AS k
      |        FROM nx WHERE nxt IS NOT NULL GROUP BY 1, 2),
      |tot AS (SELECT event_type, CAST(SUM(k) AS BIGINT) AS n,
      |          COUNT(*) AS n_next_types
      |        FROM cnt GROUP BY 1),
      |ent AS (
      |  SELECT c.event_type, MAX(t.n) AS n_transitions,
      |    MAX(t.n_next_types) AS n_next_types,
      |    (1000 * CAST(SUM(c.k * (length(bin(t.n)) - length(bin(c.k))))
      |      AS BIGINT)) // MAX(t.n) AS entropy_millibits
      |  FROM cnt c JOIN tot t USING (event_type) GROUP BY 1),
      |top AS (
      |  SELECT event_type, nxt AS top_next, k AS top_next_k
      |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
      |          ORDER BY k DESC, nxt) AS rn FROM cnt)
      |  WHERE rn = 1)
      |SELECT event_type, n_transitions, n_next_types, entropy_millibits,
      |  top_next, top_next_k
      |FROM ent JOIN top USING (event_type) ORDER BY event_type""".stripMargin

  // ------------------------------------------ co-presence pairs
  /** Top-20 user pairs by behavioral co-presence: the number of
    * distinct (hour, event_type) slots in which BOTH users were
    * active. The bucketed-candidate interval join: a direct
    * session-interval overlap join is near-empty on this fixture
    * (95% of gap-sessions are single-event point intervals), so the
    * slot grid is the declared semantics.
    *
    * Scale shape: candidates are generated per (hour, type) bucket, so
    * pair cost is Σ_bucket actives² — and each bucket's occupancy is
    * HARD-CAPPED at K=128 by a deterministic md5-ordered row_number
    * (the triangle-count discipline, GraphRank.triangleCountOn): the
    * self-join is then bounded by buckets·C(K,2) no matter how hot a
    * slot gets — everyone active in one hour is C(128,2) pairs for
    * that bucket, never |users|². The cap is identity whenever
    * occupancy ≤ K (max observed occupancy at sf0.1 is 51), and the
    * constant `n_slots_capped` honesty column reports how many
    * buckets were sampled (0 = result is exact). Top-k cutoff is
    * decided on (count, user_a, user_b) so ties are deterministic. */
  def copresenceAffinity(s: SparkSession, d: String): DataFrame =
    copresenceAffinityOn(
      ev(s, d)
        .select(expr("sec DIV 3600").as("hour_idx"), col("event_type"),
          col("user_id"))
        .distinct())

  private[queries] val SlotCapK = 128

  /** Core over caller-supplied (hour_idx, event_type, user_id) slots —
    * separated so specs can plant hot buckets and pin capped ≡
    * uncapped below the occupancy threshold. */
  def copresenceAffinityOn(slots: DataFrame, capK: Int = SlotCapK)
      : DataFrame = {
    val wr = Window.partitionBy(col("hour_idx"), col("event_type"))
      .orderBy(md5(col("user_id").cast("string")), col("user_id"))
    val capped = slots.withColumn("rk", row_number().over(wr))
      .filter(col("rk") <= capK)
      .select(col("hour_idx"), col("event_type"), col("user_id"))
    val nCapped = slots.groupBy(col("hour_idx"), col("event_type"))
      .agg(count(lit(1)).as("occ"))
      .agg(coalesce(sum(when(col("occ") > capK, lit(1L)).otherwise(lit(0L))),
        lit(0L)).as("n_slots_capped"))
    val a = capped.select(col("hour_idx"), col("event_type"),
      col("user_id").as("user_a"))
    val b = capped.select(col("hour_idx"), col("event_type"),
      col("user_id").as("user_b"))
    a.join(b, Seq("hour_idx", "event_type"))
      .filter(col("user_a") < col("user_b"))
      .groupBy(col("user_a"), col("user_b"))
      .agg(count(lit(1)).as("n_shared_slots"))
      .orderBy(col("n_shared_slots").desc, col("user_a"), col("user_b"))
      .limit(20)
      .crossJoin(broadcast(nCapped))
      .orderBy(col("n_shared_slots").desc, col("user_a"), col("user_b"))
  }

  val copresenceAffinitySql: String =
    """WITH slots AS (
      |  SELECT DISTINCT CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 3600 AS hour_idx,
      |    event_type, user_id
      |  FROM events),
      |capped AS (
      |  SELECT hour_idx, event_type, user_id FROM (
      |    SELECT *, ROW_NUMBER() OVER (
      |      PARTITION BY hour_idx, event_type
      |      ORDER BY md5(CAST(user_id AS VARCHAR)), user_id) AS rk
      |    FROM slots)
      |  WHERE rk <= 128),
      |ncap AS (
      |  SELECT CAST(COALESCE(SUM(CASE WHEN occ > 128 THEN 1 ELSE 0 END), 0)
      |    AS BIGINT) AS n_slots_capped
      |  FROM (SELECT COUNT(*) AS occ FROM slots
      |        GROUP BY hour_idx, event_type)),
      |top AS (
      |  SELECT a.user_id AS user_a, b.user_id AS user_b,
      |    COUNT(*) AS n_shared_slots
      |  FROM capped a JOIN capped b
      |    ON a.hour_idx = b.hour_idx AND a.event_type = b.event_type
      |    AND a.user_id < b.user_id
      |  GROUP BY 1, 2
      |  ORDER BY n_shared_slots DESC, user_a, user_b
      |  LIMIT 20)
      |SELECT t.user_a, t.user_b, t.n_shared_slots, n.n_slots_capped
      |FROM top t, ncap n
      |ORDER BY n_shared_slots DESC, user_a, user_b""".stripMargin

  // ------------------------------------------ activity streaks
  /** Longest consecutive-day activity streak per user, rolled into a
    * streak-length histogram (streak_days → n_users) — the classic
    * gaps-and-islands reduction on the day grid and the retention
    * primitive behind "7-day streak" product mechanics. Island key =
    * day_idx − row_number per user: constant within a consecutive
    * run, strictly decreasing across gaps.
    *
    * Scale shape: distinct (user, day) is one hash-agg; the
    * row_number window partitions BY USER (the parallel unit, never
    * a global sort); islands and maxima are two more user-keyed
    * hash-aggs; the histogram is ≤ |days| rows. */
  def streakLengths(s: SparkSession, d: String): DataFrame = {
    val days = ev(s, d)
      .select(col("user_id"), expr("sec DIV 86400").as("day_idx"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day_idx"))
    val islands = days.withColumn("rn", row_number().over(w))
      .withColumn("island", col("day_idx") - col("rn"))
      .groupBy(col("user_id"), col("island"))
      .agg(count(lit(1)).as("streak_days"))
    val best = islands.groupBy(col("user_id"))
      .agg(max(col("streak_days")).as("best_streak"))
    best.groupBy(col("best_streak").as("streak_days"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("streak_days"))
  }

  val streakLengthsSql: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id,
      |    CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 86400 AS day_idx
      |  FROM events),
      |isl AS (
      |  SELECT user_id,
      |    day_idx - ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY day_idx) AS island
      |  FROM days),
      |runs AS (
      |  SELECT user_id, island, CAST(COUNT(*) AS BIGINT) AS streak_days
      |  FROM isl GROUP BY 1, 2),
      |best AS (
      |  SELECT user_id, MAX(streak_days) AS best_streak
      |  FROM runs GROUP BY 1)
      |SELECT best_streak AS streak_days, COUNT(*) AS n_users
      |FROM best GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------ survival curve
  /** User-retention survival curve: for each day offset k (0–29), the
    * share of users whose observed lifespan (first event → last
    * event) reaches at least k days — the Kaplan–Meier-shaped curve
    * (no censoring model: the fixture window is closed) that
    * retention targets are set against.
    *
    * Scale shape: users reduce to one (first, last) row each (single
    * hash-agg with map-side combine); the curve is then a suffix
    * count over the ≤30-row lifespan histogram against a broadcast
    * 30-row day grid — corpus-sized work is exactly one pass. */
  def survivalCurve(s: SparkSession, d: String): DataFrame = {
    val per = ev(s, d).groupBy(col("user_id"))
      .agg(expr("(MAX(sec) - MIN(sec)) DIV 86400").as("lifespan_days"))
    val hist = per.groupBy(col("lifespan_days")).agg(count(lit(1)).as("n"))
    val tot = per.agg(count(lit(1)).as("n_total"))
    val grid = tot.select(explode(sequence(lit(0L), lit(29L))).as("day_k"),
      col("n_total"))
    grid.join(broadcast(hist), col("lifespan_days") >= col("day_k"), "left")
      .groupBy(col("day_k"), col("n_total"))
      .agg(coalesce(sum(col("n")), lit(0L)).as("n_survivors"))
      .withColumn("permille", expr("n_survivors * 1000 DIV n_total"))
      .select(col("day_k"), col("n_survivors"), col("permille"))
      .orderBy(col("day_k"))
  }

  val survivalCurveSql: String =
    """WITH per AS (
      |  SELECT user_id,
      |    (MAX(CAST(FLOOR(EPOCH(ts)) AS BIGINT))
      |     - MIN(CAST(FLOOR(EPOCH(ts)) AS BIGINT))) // 86400 AS lifespan_days
      |  FROM events GROUP BY 1),
      |hist AS (SELECT lifespan_days, CAST(COUNT(*) AS BIGINT) AS n
      |         FROM per GROUP BY 1),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM per),
      |grid AS (SELECT UNNEST(generate_series(0, 29)) AS day_k)
      |SELECT g.day_k,
      |  CAST(COALESCE(SUM(h.n), 0) AS BIGINT) AS n_survivors,
      |  CAST(COALESCE(SUM(h.n), 0) AS BIGINT) * 1000 // MAX(t.n_total)
      |    AS permille
      |FROM grid g CROSS JOIN tot t
      |LEFT JOIN hist h ON h.lifespan_days >= g.day_k
      |GROUP BY g.day_k ORDER BY g.day_k""".stripMargin

  // ------------------------------------- censored hazard table
  /** Right-censored hazard table — the Kaplan–Meier INPUT the naive
    * closed-window curve ([[survivalCurve]]) cannot produce: users
    * still active near the observation edge (last event within 3
    * days of the corpus max) are CENSORED, not dead, so they leave
    * the at-risk set at their observed lifespan without counting as
    * churn. Per day offset k: n_at_risk (lifespan ≥ k), n_deaths
    * (uncensored lifespan = k), n_censored (censored lifespan = k),
    * and the discrete hazard 1000·d/n — exact integers; the survival
    * product Π(1 − d_k/n_k) is the consumer's one fold over 30 rows.
    *
    * Scale shape: users reduce to one (first, last, censored) row
    * (single hash-agg); the corpus max is a 1-row broadcast
    * (whitelisted); the table is a ≤30-row lifespan histogram
    * suffix-joined against a broadcast 30-row day grid — the
    * survivalCurve topology with the censoring split. */
  def hazardCensored(s: SparkSession, d: String): DataFrame = {
    val mx = ev(s, d).agg(max(col("sec")).as("mx_sec"))
    val per = ev(s, d).groupBy(col("user_id"))
      .agg(min(col("sec")).as("first_sec"), max(col("sec")).as("last_sec"))
      .crossJoin(broadcast(mx))
      .select(expr("(last_sec - first_sec) DIV 86400").as("lifespan_days"),
        when(col("last_sec") > col("mx_sec") - 3L * 86400L, 1L)
          .otherwise(0L).as("censored"))
    val hist = per.groupBy(col("lifespan_days"))
      .agg(sum(lit(1) - col("censored")).as("d"),
        sum(col("censored")).as("c"))
    val grid = per.agg(count(lit(1)).as("n_total"))
      .select(explode(sequence(lit(0L), lit(29L))).as("day_k"))
    val atRisk = grid.join(broadcast(hist),
        col("lifespan_days") >= col("day_k"), "left")
      .groupBy(col("day_k"))
      .agg(coalesce(sum(col("d") + col("c")), lit(0L)).as("n_at_risk"))
    val events_k = grid.join(broadcast(hist),
        col("lifespan_days") === col("day_k"), "left")
      .groupBy(col("day_k"))
      .agg(coalesce(sum(col("d")), lit(0L)).as("n_deaths"),
        coalesce(sum(col("c")), lit(0L)).as("n_censored"))
    atRisk.join(events_k, "day_k")
      .withColumn("hazard_pm",
        when(col("n_at_risk") > 0,
          expr("1000 * n_deaths DIV n_at_risk")).otherwise(lit(0L)))
      .select(col("day_k"), col("n_at_risk"), col("n_deaths"),
        col("n_censored"), col("hazard_pm"))
      .orderBy(col("day_k"))
  }

  val hazardCensoredSql: String =
    """WITH mx AS (
      |  SELECT MAX(CAST(FLOOR(EPOCH(ts)) AS BIGINT)) AS mx_sec FROM events),
      |per AS (
      |  SELECT (MAX(CAST(FLOOR(EPOCH(ts)) AS BIGINT))
      |      - MIN(CAST(FLOOR(EPOCH(ts)) AS BIGINT))) // 86400
      |      AS lifespan_days,
      |    CASE WHEN MAX(CAST(FLOOR(EPOCH(ts)) AS BIGINT))
      |      > (SELECT mx_sec FROM mx) - 259200 THEN 1 ELSE 0 END
      |      AS censored
      |  FROM events GROUP BY user_id),
      |hist AS (
      |  SELECT lifespan_days, CAST(SUM(1 - censored) AS BIGINT) AS d,
      |    CAST(SUM(censored) AS BIGINT) AS c
      |  FROM per GROUP BY 1),
      |grid AS (SELECT UNNEST(generate_series(0, 29)) AS day_k),
      |ar AS (
      |  SELECT g.day_k,
      |    CAST(COALESCE(SUM(h.d + h.c), 0) AS BIGINT) AS n_at_risk
      |  FROM grid g LEFT JOIN hist h ON h.lifespan_days >= g.day_k
      |  GROUP BY 1),
      |ek AS (
      |  SELECT g.day_k, CAST(COALESCE(SUM(h.d), 0) AS BIGINT) AS n_deaths,
      |    CAST(COALESCE(SUM(h.c), 0) AS BIGINT) AS n_censored
      |  FROM grid g LEFT JOIN hist h ON h.lifespan_days = g.day_k
      |  GROUP BY 1)
      |SELECT ar.day_k, ar.n_at_risk, ek.n_deaths, ek.n_censored,
      |  CASE WHEN ar.n_at_risk > 0
      |    THEN 1000 * ek.n_deaths // ar.n_at_risk ELSE 0 END AS hazard_pm
      |FROM ar JOIN ek USING (day_k) ORDER BY day_k""".stripMargin

  // ------------------------------------------ windowed funnel
  /** Conversion funnel with PER-STEP windows: signup → first click
    * within 3 days → first purchase within 3 days OF THAT CLICK.
    * Unlike the unbounded funnel (Events.funnel), each step must land
    * inside its conversion window — the form real attribution uses,
    * where a purchase months later doesn't credit the campaign.
    * Output: stage, users reaching it, and permille vs the previous
    * stage.
    *
    * Scale shape: the same conditional-min cascade as the unbounded
    * funnel — three user-keyed hash-aggs chained by equi-joins on
    * user_id, each with map-side partial MINs; the window bound is a
    * residual predicate on the join, never a new join shape. */
  def funnelWindowed(s: SparkSession, d: String): DataFrame = {
    val WinSec = 3L * 86400L
    val e = ev(s, d).select(col("user_id"), col("event_type"), col("sec"))
    val s1 = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("sec")).as("signup_sec"))
    val s2 = e.filter(col("event_type") === "click")
      .join(s1, "user_id")
      .filter(col("sec") > col("signup_sec") &&
        col("sec") <= col("signup_sec") + WinSec)
      .groupBy(col("user_id")).agg(min(col("sec")).as("click_sec"))
    val s3 = e.filter(col("event_type") === "purchase")
      .join(s2, "user_id")
      .filter(col("sec") > col("click_sec") &&
        col("sec") <= col("click_sec") + WinSec)
      .groupBy(col("user_id")).agg(min(col("sec")).as("purchase_sec"))
    val counts = s1.agg(count(lit(1)).as("n")).select(lit("1_signup").as("stage"), col("n"))
      .unionByName(s2.agg(count(lit(1)).as("n")).select(lit("2_click_3d").as("stage"), col("n")))
      .unionByName(s3.agg(count(lit(1)).as("n")).select(lit("3_purchase_3d").as("stage"), col("n")))
    val w = Window.orderBy(col("stage"))
    counts
      .withColumn("prev_n", lag(col("n"), 1).over(w))
      .withColumn("conv_permille",
        when(col("prev_n").isNull, lit(1000L))
          .when(col("prev_n") === 0L, lit(0L)) // empty prior stage
          .otherwise(expr("n * 1000 DIV prev_n")))
      .select(col("stage"), col("n").as("n_users"), col("conv_permille"))
      .orderBy(col("stage"))
  }

  val funnelWindowedSql: String =
    """WITH s1 AS (
      |  SELECT user_id, MIN(CAST(FLOOR(EPOCH(ts)) AS BIGINT)) AS signup_sec
      |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
      |s2 AS (
      |  SELECT e.user_id, MIN(CAST(FLOOR(EPOCH(e.ts)) AS BIGINT)) AS click_sec
      |  FROM events e JOIN s1 ON e.user_id = s1.user_id
      |  WHERE e.event_type = 'click'
      |    AND CAST(FLOOR(EPOCH(e.ts)) AS BIGINT) > s1.signup_sec
      |    AND CAST(FLOOR(EPOCH(e.ts)) AS BIGINT) <= s1.signup_sec + 259200
      |  GROUP BY e.user_id),
      |s3 AS (
      |  SELECT e.user_id, MIN(CAST(FLOOR(EPOCH(e.ts)) AS BIGINT)) AS purchase_sec
      |  FROM events e JOIN s2 ON e.user_id = s2.user_id
      |  WHERE e.event_type = 'purchase'
      |    AND CAST(FLOOR(EPOCH(e.ts)) AS BIGINT) > s2.click_sec
      |    AND CAST(FLOOR(EPOCH(e.ts)) AS BIGINT) <= s2.click_sec + 259200
      |  GROUP BY e.user_id),
      |counts AS (
      |  SELECT '1_signup' AS stage, CAST(COUNT(*) AS BIGINT) AS n FROM s1
      |  UNION ALL SELECT '2_click_3d', COUNT(*) FROM s2
      |  UNION ALL SELECT '3_purchase_3d', COUNT(*) FROM s3)
      |SELECT stage, n AS n_users,
      |  CASE WHEN LAG(n) OVER (ORDER BY stage) IS NULL THEN 1000
      |       WHEN LAG(n) OVER (ORDER BY stage) = 0 THEN 0
      |       ELSE n * 1000 // LAG(n) OVER (ORDER BY stage) END
      |    AS conv_permille
      |FROM counts ORDER BY stage""".stripMargin

  // ------------------------------------------ bot regularity
  /** Top-20 most-regular users by interarrival variance: humans are
    * bursty, schedulers are metronomes — abnormally low gap variance
    * at meaningful volume is the classic bot/scraper signature a
    * training-data pipeline filters before user-generated text enters
    * a corpus. Exact integer variance ((n·Σg² − (Σg)²) DIV n²) over
    * per-user gap seconds; candidates need ≥ 10 gaps.
    *
    * Scale shape: one user-keyed lag window (the sessionize exchange
    * again) feeding a per-user hash-agg; the ranking is a TakeOrdered
    * top-k on (variance, user_id) — total work one shuffle + one
    * bounded sort. */
  def botRegularity(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    ev(s, d)
      .withColumn("prev", lag(col("sec"), 1).over(byUser))
      .filter(col("prev").isNotNull)
      .withColumn("g", col("sec") - col("prev"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("g")).as("sg"), sum(col("g") * col("g")).as("sg2"))
      .filter(col("n_gaps") >= 10)
      .withColumn("mean_gap_sec", expr("sg DIV n_gaps"))
      .withColumn("var_sec2",
        expr("(n_gaps * sg2 - sg * sg) DIV (n_gaps * n_gaps)"))
      .select(col("user_id"), col("n_gaps"), col("mean_gap_sec"),
        col("var_sec2"))
      .orderBy(col("var_sec2"), col("user_id"))
      .limit(20)
  }

  val botRegularitySql: String =
    """WITH g AS (
      |  SELECT user_id,
      |    CAST(FLOOR(EPOCH(ts)) AS BIGINT)
      |      - LAG(CAST(FLOOR(EPOCH(ts)) AS BIGINT)) OVER w AS g
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |a AS (
      |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
      |    CAST(SUM(g) AS BIGINT) AS sg, CAST(SUM(g*g) AS BIGINT) AS sg2
      |  FROM g WHERE g IS NOT NULL GROUP BY 1)
      |SELECT user_id, n_gaps, sg // n_gaps AS mean_gap_sec,
      |  (n_gaps * sg2 - sg * sg) // (n_gaps * n_gaps) AS var_sec2
      |FROM a WHERE n_gaps >= 10
      |ORDER BY var_sec2, user_id LIMIT 20""".stripMargin

  val queries: Map[String, Query] = Map(
    "ev_bot_regularity" -> Query(botRegularity, botRegularitySql),
    "ev_funnel_windowed" -> Query(funnelWindowed, funnelWindowedSql),
    "ev_survival_curve" -> Query(survivalCurve, survivalCurveSql),
    "ev_time_to_convert" -> Query(timeToConvert, timeToConvertSql),
    "ev_interarrival_quantiles" -> Query(interarrivalQuantiles, interarrivalQuantilesSql),
    "ev_value_histogram" -> Query(valueHistogram, valueHistogramSql),
    "ev_markov_entropy" -> Query(markovEntropy, markovEntropySql),
    "ev_copresence_affinity" -> Query(copresenceAffinity, copresenceAffinitySql),
    "ev_streak_lengths" -> Query(streakLengths, streakLengthsSql),
    "ev_hazard_censored" -> Query(hazardCensored, hazardCensoredSql))
}
