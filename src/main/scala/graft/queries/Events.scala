package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._
import graft.queries.Relational.{cents, centsSql, moneySum, moneySumSql}
import graft.Query

/** Event-stream analytics, batch form. The same transforms run under
  * Structured Streaming in graft.streaming (readStream + watermark);
  * here they are batch queries so the DuckDB oracle can check them.
  */
object Events {

  // ------------------------------------------------ tumbling window
  /** Tumbling 1-hour window counts per event type (date_trunc keeps the
    * expression portable; streaming twin uses window($"ts", "1 hour")). */
  def tumblingHourly(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(date_trunc("hour", col("ts")).cast("long").as("hour_sec"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), moneySum(col("value")).as("total_value"))
      .orderBy(col("hour_sec"), col("event_type"))

  val tumblingHourlySql: String =
    s"""SELECT CAST(FLOOR(EPOCH(DATE_TRUNC('hour', ts))) AS BIGINT) AS hour_sec,
       |  event_type,
       |  COUNT(*) AS n, ${moneySumSql("value")} AS total_value
       |FROM events GROUP BY 1, 2 ORDER BY hour_sec, event_type""".stripMargin

  /** Sliding windows, batch form: every event lands in the two 2-hour
    * windows (hour-aligned, sliding 1 h) that contain it — explode the
    * window starts, then aggregate. Streaming twin: slidingTwoHour. */
  def slidingTwoHourBatch(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(col("event_type"),
        explode(array(
          date_trunc("hour", col("ts")).cast("long") - lit(3600L),
          date_trunc("hour", col("ts")).cast("long"))).as("win_start_sec"))
      .groupBy(col("win_start_sec"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("win_start_sec"), col("event_type"))

  val slidingTwoHourBatchSql: String =
    """SELECT win_start_sec, event_type, COUNT(*) AS n
      |FROM (
      |  SELECT event_type,
      |    CAST(FLOOR(EPOCH(DATE_TRUNC('hour', ts))) AS BIGINT) - 3600 AS win_start_sec
      |  FROM events
      |  UNION ALL
      |  SELECT event_type,
      |    CAST(FLOOR(EPOCH(DATE_TRUNC('hour', ts))) AS BIGINT) AS win_start_sec
      |  FROM events) t
      |GROUP BY 1, 2 ORDER BY win_start_sec, event_type""".stripMargin

  // ------------------------------------------------ daily user stats
  /** Daily per-user activity rollup (the funnel-building block). */
  def dailyUserStats(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(date_trunc("day", col("ts")).cast("long").as("day_sec"),
        col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("event_type")).as("n_types"),
        sum(when(col("event_type") === "purchase", 1).otherwise(0)).as("n_purchases"))
      .orderBy(col("day_sec"), col("user_id"))

  val dailyUserStatsSql: String =
    """SELECT CAST(FLOOR(EPOCH(DATE_TRUNC('day', ts))) AS BIGINT) AS day_sec,
      |  user_id,
      |  COUNT(*) AS n_events,
      |  COUNT(DISTINCT event_type) AS n_types,
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases
      |FROM events GROUP BY 1, 2 ORDER BY day_sec, user_id""".stripMargin

  // ------------------------------------------------- sessionization
  /** Batch sessionization: 30-min-gap sessions per user via the
    * lag + cumulative-sum-of-boundaries idiom; one row per session.
    * Streaming twin: session_window($"ts", "30 minutes"). */
  def sessionize(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events(s, d)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      // µs precision, gap-EXCLUSIVE (an event exactly 30 min after the
      // last starts a new session) — matches session_window so the
      // streaming twins agree even on boundary data
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) >= 1800000000L, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        min(col("ts")).cast("long").as("session_start_sec"),
        max(col("ts")).cast("long").as("session_end_sec"),
        count(lit(1)).as("n_events"))
      .orderBy(col("user_id"), col("session_id"))
  }

  val sessionizeSql: String =
    """WITH marked AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN LAG(ts) OVER w IS NULL
      |           OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 1800000000
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT user_id, ts,
      |    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM marked)
      |SELECT user_id, session_id,
      |  CAST(FLOOR(EPOCH(MIN(ts))) AS BIGINT) AS session_start_sec,
      |  CAST(FLOOR(EPOCH(MAX(ts))) AS BIGINT) AS session_end_sec,
      |  COUNT(*) AS n_events
      |FROM sess GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  // ----------------------------------------------------- funnel
  /** Ordered conversion funnel per user: signup → later click → later
    * purchase (strictly increasing event times); count users reaching
    * each stage. Three conditional-min passes, no per-user loops. */
  def funnel(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
      .select(col("user_id"), col("event_type"), col("ts").cast("long").as("sec"))
    val s1 = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("sec")).as("signup_sec"))
    val s2 = ev.filter(col("event_type") === "click").as("c")
      .join(s1, "user_id")
      .filter(col("sec") > col("signup_sec"))
      .groupBy(col("user_id"), col("signup_sec"))
      .agg(min(col("sec")).as("click_sec"))
    val s3 = ev.filter(col("event_type") === "purchase").as("p")
      .join(s2, "user_id")
      .filter(col("sec") > col("click_sec"))
      .groupBy(col("user_id"))
      .agg(min(col("sec")).as("purchase_sec"))
    s1.agg(count(lit(1)).as("n_users")).select(lit("1_signup").as("stage"), col("n_users"))
      .union(s2.agg(count(lit(1)).as("n_users"))
        .select(lit("2_click_after").as("stage"), col("n_users")))
      .union(s3.agg(count(lit(1)).as("n_users"))
        .select(lit("3_purchase_after").as("stage"), col("n_users")))
      .orderBy("stage")
  }

  val funnelSql: String =
    """WITH s1 AS (
      |  SELECT user_id, MIN(CAST(FLOOR(EPOCH(ts)) AS BIGINT)) AS signup_sec
      |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
      |s2 AS (
      |  SELECT e.user_id, MIN(CAST(FLOOR(EPOCH(e.ts)) AS BIGINT)) AS click_sec
      |  FROM events e JOIN s1 ON e.user_id = s1.user_id
      |  WHERE e.event_type = 'click'
      |    AND CAST(FLOOR(EPOCH(e.ts)) AS BIGINT) > s1.signup_sec
      |  GROUP BY e.user_id),
      |s3 AS (
      |  SELECT e.user_id
      |  FROM events e JOIN s2 ON e.user_id = s2.user_id
      |  WHERE e.event_type = 'purchase'
      |    AND CAST(FLOOR(EPOCH(e.ts)) AS BIGINT) > s2.click_sec
      |  GROUP BY e.user_id)
      |SELECT stage, n_users FROM (
      |  SELECT '1_signup' AS stage, COUNT(*) AS n_users FROM s1
      |  UNION ALL
      |  SELECT '2_click_after', COUNT(*) FROM s2
      |  UNION ALL
      |  SELECT '3_purchase_after', COUNT(*) FROM s3) t
      |ORDER BY stage""".stripMargin

  // ------------------------------------------------ retention cohorts
  /** Weekly retention cohorts: users grouped by first-seen week, counted
    * as active in each subsequent week — the (cohort, week_offset) →
    * distinct-users matrix every growth dashboard is built on. */
  def retentionCohorts(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
      .select(col("user_id"), col("ts").cast("long").as("sec"))
      .select(col("user_id"), expr("sec div 604800").as("week"))
    val first = ev.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
    ev.join(first, "user_id")
      .groupBy(col("cohort_week"),
        (col("week") - col("cohort_week")).as("week_offset"))
      .agg(countDistinct(col("user_id")).as("active_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  val retentionCohortsSql: String =
    """WITH ev AS (
      |  SELECT user_id,
      |    CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 604800 AS week
      |  FROM events),
      |first AS (
      |  SELECT user_id, MIN(week) AS cohort_week FROM ev GROUP BY user_id)
      |SELECT cohort_week, week - cohort_week AS week_offset,
      |  COUNT(DISTINCT ev.user_id) AS active_users
      |FROM ev JOIN first ON ev.user_id = first.user_id
      |GROUP BY 1, 2
      |ORDER BY cohort_week, week_offset""".stripMargin

  // ---------------------------------------------- JSON extraction
  /** Semi-structured props column: extract a JSON field and aggregate. */
  def jsonExtract(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n_with_k"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  val jsonExtractSql: String =
    """SELECT event_type,
      |  COUNT(k) AS n_with_k, CAST(SUM(k) AS BIGINT) AS sum_k,
      |  MIN(k) AS min_k, MAX(k) AS max_k
      |FROM (SELECT event_type,
      |        CAST(json_extract_string(props, '$.k') AS INT) AS k
      |      FROM events) t
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // --------------------------------------------- anomaly detection
  /** Per-type 3-sigma outlier events — the anomaly-flagging pass over
    * a metric stream, in EXACT integer algebra: with v the value in
    * cents and per-type totals n, S = Σv, S2 = Σv², the z-test
    * |v − μ| > 3σ is equivalent to (n·v − S)² > 9·(n·S2 − S²) —
    * population σ, multiplied through by n² so no division, no doubles,
    * no shuffle-order drift; both engines compare the same integers
    * (decimal(38) / HUGEINT intermediates keep the squares exact at
    * any corpus size). Scale shape: one partial-agg pass for the
    * per-type stats (5 rows), broadcast back, one filter+agg — the
    * stats side never shuffles the event table twice. */
  /** (event_id, event_type, v=cents) — ONE shared projection for the
    * batch query and the stream-static twin (streaming.EventStreams
    * .anomalyFlagStream), so the cents convention cannot fork. */
  private[graft] def anomalyCents(ev: DataFrame): DataFrame =
    ev.select(col("event_id"), col("event_type"), cents(col("value")).as("v"))

  /** Per-type (n, Σv, Σv²) — the static stats snapshot the stream twin
    * broadcasts; sv2 in decimal(38) so the square stays exact. */
  private[graft] def anomalyStats(evc: DataFrame): DataFrame =
    evc.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      sum(col("v")).as("sv"),
      sum(col("v").cast("decimal(38,0)") * col("v")).as("sv2"))

  /** The integer z-test over a frame carrying (v, n, sv, sv2). */
  private[graft] def anomalyPredicate: org.apache.spark.sql.Column = {
    val dN = col("n").cast("decimal(38,0)")
    val dV = col("v").cast("decimal(38,0)")
    val dS = col("sv").cast("decimal(38,0)")
    val dev = dN * dV - dS
    dev * dev > lit(9).cast("decimal(38,0)") * (dN * col("sv2") - dS * dS)
  }

  // ------------------------------------------ seasonal anomaly
  /** Hour-of-day-conditioned volume anomaly — the deseasonalized
    * upgrade of [[anomaly3Sigma]]: a global 3σ on hourly volume
    * flags every daily peak as "anomalous" because traffic has a
    * diurnal cycle; conditioning each (day, hour) cell on ITS OWN
    * hour-of-day population across days removes the cycle, so what
    * survives is genuinely off-pattern load (incident, bot burst,
    * logging outage) — the detector an on-call actually wants.
    *
    * Numerics: the anomaly3Sigma stance verbatim — the 3σ test runs
    * as one exact integer cross-multiplication (n·c − Σc)² >
    * 9·(n·Σc² − (Σc)²) in decimal(38)/HUGEINT, no division, no
    * doubles anywhere.
    *
    * Scale shape: one (day, hour) hash-agg (map-side combine), a
    * 24-row stats broadcast, one filtered re-agg. The cell table is
    * days×24 regardless of event volume. */
  def seasonalAnomaly(s: SparkSession, d: String): DataFrame = {
    val cells = events(s, d).select(
        expr("CAST(date_trunc('day', ts) AS LONG) DIV 86400").as("day"),
        expr("(CAST(FLOOR(unix_timestamp(ts)) AS BIGINT) DIV 3600) % 24")
          .as("hour_of_day"))
      .groupBy(col("day"), col("hour_of_day"))
      .agg(count(lit(1)).as("v"))
    val st = cells.groupBy(col("hour_of_day")).agg(
      count(lit(1)).as("n"), sum(col("v")).as("sv"),
      sum(col("v").cast("decimal(38,0)") * col("v")).as("sv2"))
    val anom = cells.join(broadcast(st), "hour_of_day")
      .filter(anomalyPredicate)
      .groupBy(col("hour_of_day"))
      .agg(count(lit(1)).as("n_anomalous_days"),
        min(col("day")).as("min_anom_day"),
        max(col("day")).as("max_anom_day"))
    st.select(col("hour_of_day"), col("n").as("n_days"),
        expr("CAST(sv AS BIGINT) DIV n").as("mean_events_floor"))
      .join(anom, Seq("hour_of_day"), "left")
      .select(col("hour_of_day"), col("n_days"), col("mean_events_floor"),
        coalesce(col("n_anomalous_days"), lit(0L)).as("n_anomalous_days"),
        col("min_anom_day"), col("max_anom_day"))
      .orderBy(col("hour_of_day"))
  }

  val seasonalAnomalySql: String =
    """WITH cells AS (
      |  SELECT CAST(FLOOR(EPOCH(DATE_TRUNC('day', ts))) AS BIGINT)
      |      // 86400 AS day,
      |    (CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 3600) % 24 AS hour_of_day,
      |    CAST(COUNT(*) AS BIGINT) AS v
      |  FROM events GROUP BY 1, 2),
      |st AS (
      |  SELECT hour_of_day, COUNT(*) AS n, SUM(v) AS sv,
      |    SUM(CAST(v AS HUGEINT) * v) AS sv2
      |  FROM cells GROUP BY hour_of_day),
      |an AS (
      |  SELECT c.hour_of_day, CAST(COUNT(*) AS BIGINT)
      |      AS n_anomalous_days,
      |    MIN(c.day) AS min_anom_day, MAX(c.day) AS max_anom_day
      |  FROM cells c JOIN st USING (hour_of_day)
      |  WHERE (CAST(st.n AS HUGEINT) * c.v - st.sv)
      |      * (CAST(st.n AS HUGEINT) * c.v - st.sv)
      |    > 9 * (CAST(st.n AS HUGEINT) * st.sv2
      |      - CAST(st.sv AS HUGEINT) * st.sv)
      |  GROUP BY c.hour_of_day)
      |SELECT st.hour_of_day, CAST(st.n AS BIGINT) AS n_days,
      |  CAST(st.sv AS BIGINT) // st.n AS mean_events_floor,
      |  CAST(COALESCE(an.n_anomalous_days, 0) AS BIGINT)
      |    AS n_anomalous_days,
      |  an.min_anom_day, an.max_anom_day
      |FROM st LEFT JOIN an USING (hour_of_day)
      |ORDER BY hour_of_day""".stripMargin

  def anomaly3Sigma(s: SparkSession, d: String): DataFrame = {
    val ev = anomalyCents(events(s, d))
    val st = anomalyStats(ev)
    val anomalies = ev.join(broadcast(st), "event_type")
      .filter(anomalyPredicate)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_anomalies"),
        min(col("event_id")).as("min_anom_id"),
        max(col("event_id")).as("max_anom_id"))
    st.select(col("event_type"), col("n").as("n_events"))
      .join(anomalies, Seq("event_type"), "left")
      .select(col("event_type"), col("n_events"),
        coalesce(col("n_anomalies"), lit(0L)).as("n_anomalies"),
        col("min_anom_id"), col("max_anom_id"))
      .orderBy(col("event_type"))
  }

  val anomaly3SigmaSql: String =
    s"""WITH c AS (
       |  SELECT event_id, event_type, ${centsSql("value")} AS v FROM events),
       |st AS (
       |  SELECT event_type, COUNT(*) AS n, SUM(v) AS sv,
       |    SUM(CAST(v AS HUGEINT) * v) AS sv2
       |  FROM c GROUP BY event_type),
       |an AS (
       |  SELECT c.event_type, COUNT(*) AS n_anomalies,
       |    MIN(c.event_id) AS min_anom_id, MAX(c.event_id) AS max_anom_id
       |  FROM c JOIN st USING (event_type)
       |  WHERE (CAST(st.n AS HUGEINT) * c.v - st.sv)
       |      * (CAST(st.n AS HUGEINT) * c.v - st.sv)
       |    > 9 * (CAST(st.n AS HUGEINT) * st.sv2
       |      - CAST(st.sv AS HUGEINT) * st.sv)
       |  GROUP BY c.event_type)
       |SELECT st.event_type, CAST(st.n AS BIGINT) AS n_events,
       |  CAST(COALESCE(an.n_anomalies, 0) AS BIGINT) AS n_anomalies,
       |  an.min_anom_id, an.max_anom_id
       |FROM st LEFT JOIN an USING (event_type)
       |ORDER BY event_type""".stripMargin

  // ------------------------------------------------- heavy users
  /** Per-day dominant users (the batch twin of
    * streaming.EventStreams.heavyHitterStream, with the exact-confirm
    * step the stream defers): Misra–Gries candidates PER DAY-WINDOW
    * (grouped native TypedImperativeAggregate — ≤64 counters per
    * day partial, no per-user shuffle in the sketch pass), then only
    * candidate (day, user) rows are exact-counted via a semi-join and
    * filtered on exact counts > n_day/50 — guaranteed complete since
    * n/65 < n/50, deterministic, exactly oracle-equal. */
  def heavyUsers(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(s)
    // NULL users are excluded EXPLICITLY on both engines (the MG
    // update skips nulls while SQL GROUP BY keys them — defining the
    // semantics as non-null keeps the twins equal on dirty data)
    val ev = events(s, d)
      .filter(col("user_id").isNotNull)
      .select(date_trunc("day", col("ts")).cast("long").as("day_sec"),
        col("user_id"))
    val perDay = ev.groupBy(col("day_sec")).agg(count(lit(1)).as("n"))
    val cands = ev.groupBy(col("day_sec"))
      .agg(graft.functions.GraftFunctions.misraGries(
        col("user_id").cast("string"), 64).as("cand"))
      .select(col("day_sec"), explode(col("cand")).as("u"))
      .select(col("day_sec"), col("u").cast("long").as("user_id"))
    ev.join(cands, Seq("day_sec", "user_id"), "left_semi")
      .groupBy(col("day_sec"), col("user_id")).agg(count(lit(1)).as("c"))
      .join(perDay, "day_sec")
      .filter(col("c") * 50 > col("n"))
      .select(col("day_sec"), col("user_id"), col("c").as("n_events"),
        expr("(1000 * c) DIV n").as("share_permille"))
      .orderBy(col("day_sec"), col("n_events").desc, col("user_id"))
  }

  val heavyUsersSql: String =
    """WITH d AS (SELECT CAST(FLOOR(EPOCH(DATE_TRUNC('day', ts))) AS BIGINT)
      |             AS day_sec, user_id FROM events
      |           WHERE user_id IS NOT NULL),
      |pu AS (SELECT day_sec, user_id, CAST(COUNT(*) AS BIGINT) AS c
      |       FROM d GROUP BY 1, 2),
      |pd AS (SELECT day_sec, CAST(SUM(c) AS BIGINT) AS n
      |       FROM pu GROUP BY 1)
      |SELECT day_sec, user_id, c AS n_events,
      |  (1000 * c) // n AS share_permille
      |FROM pu JOIN pd USING (day_sec) WHERE c * 50 > n
      |ORDER BY day_sec, n_events DESC, user_id""".stripMargin

  // ------------------------------------------- session transitions
  /** Markov transition counts over event types WITHIN a session (same
    * 30-min-gap boundary as sessionize): for every consecutive pair of
    * events by one user with gap < 30 min, count (prev_type →
    * next_type). The |types|² matrix behind next-event prediction and
    * funnel discovery — sequence mining the funnel query can't see
    * (funnel pins one fixed path; this surfaces all of them).
    *
    * Scale shape: ONE window shuffle keyed on user_id (the same
    * partitioning sessionize uses — a pipeline computing both reuses
    * the exchange), then a hash-agg onto ≤ |types|² rows. Per-user
    * window state is one lagged row; nothing is quadratic. */
  def sessionTransitions(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events(s, d)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      // same µs-exact, gap-EXCLUSIVE boundary as sessionize: a pair
      // exactly 30 min apart spans two sessions and does not count
      .filter(col("prev_ts").isNotNull &&
        unix_micros(col("ts")) - unix_micros(col("prev_ts")) < 1800000000L)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("prev_type"), col("next_type"))
  }

  val sessionTransitionsSql: String =
    """WITH m AS (
      |  SELECT event_type,
      |    LAG(event_type) OVER w AS prev_type,
      |    LAG(ts) OVER w AS prev_ts, ts
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT prev_type, event_type AS next_type, COUNT(*) AS n
      |FROM m
      |WHERE prev_ts IS NOT NULL
      |  AND epoch_us(ts) - epoch_us(prev_ts) < 1800000000
      |GROUP BY 1, 2 ORDER BY prev_type, next_type""".stripMargin

  // -------------------------------------------------- SCD2 intervals
  /** Slowly-changing-dimension type-2 build from the event log: treat
    * each user's event_type as their current STATE and collapse the
    * log into validity intervals — one row per state CHANGE, carrying
    * [valid_from, valid_to) in epoch micros, the change's event_id for
    * lineage, and an is_current flag on the open interval. This is the
    * warehouse pattern that turns an append-only CDC stream into a
    * time-travelable dimension (consecutive equal states collapse; an
    * as-of lookup is then one range probe).
    *
    * Micros (not seconds) keep interval bounds collision-free at event
    * granularity; ties on (ts) break by event_id, so the interval
    * sequence is a deterministic total order on both engines.
    *
    * Scale shape: two windows over the SAME (user_id → ts, event_id)
    * partitioning — Catalyst plans one shuffle and one sort, the
    * change filter runs between them; output is bounded by the number
    * of state changes, never joined back to the full log. */
  def scd2Intervals(s: SparkSession, d: String): DataFrame =
    scd2IntervalsOn(events(s, d))

  /** Core build over a caller-supplied (user_id, event_id, ts,
    * event_type) log — separated so specs can plant change sequences
    * and timestamp ties. */
  def scd2IntervalsOn(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val changes = ev
      .select(col("user_id"), col("event_id"), col("ts"),
        col("event_type").as("state"))
      .withColumn("prev_state", lag(col("state"), 1).over(w))
      .filter(col("prev_state").isNull || col("prev_state") =!= col("state"))
      .select(col("user_id"), col("state"),
        col("event_id").as("change_event_id"),
        unix_micros(col("ts")).as("valid_from_us"))
    val wc = Window.partitionBy(col("user_id"))
      .orderBy(col("valid_from_us"), col("change_event_id"))
    changes
      .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(wc))
      .withColumn("is_current", col("valid_to_us").isNull)
      .orderBy(col("user_id"), col("valid_from_us"), col("change_event_id"))
  }

  val scd2IntervalsSql: String =
    """WITH ordered AS (
      |  SELECT user_id, event_id, ts, event_type AS state,
      |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS prev_state
      |  FROM events),
      |changes AS (
      |  SELECT user_id, state, event_id AS change_event_id,
      |    epoch_us(ts) AS valid_from_us
      |  FROM ordered WHERE prev_state IS NULL OR prev_state <> state)
      |SELECT user_id, state, change_event_id, valid_from_us,
      |  LEAD(valid_from_us) OVER w AS valid_to_us,
      |  LEAD(valid_from_us) OVER w IS NULL AS is_current
      |FROM changes
      |WINDOW w AS (PARTITION BY user_id ORDER BY valid_from_us, change_event_id)
      |ORDER BY user_id, valid_from_us, change_event_id""".stripMargin

  // ------------------------------------------- LOCF gap-fill (spine)
  /** Last-observation-carried-forward over a dense per-user daily
    * spine: each sampled user gets one row for EVERY day in the log's
    * range; days with no purchase carry the most recent prior day's
    * purchase total (the classic timeseries gap-fill / downstream-
    * feature-store shape). Exercises the IGNORE NULLS window surface
    * (`last(_, ignoreNulls=true)` ⇔ DuckDB `LAST_VALUE(x IGNORE
    * NULLS)`), a generated calendar spine (`sequence` ⇔
    * `generate_series`), and a left join of facts onto the spine.
    *
    * Scale shape: the spine is users × days — generated, never
    * shuffled wide (one explode per user row); the 1-row global
    * [min_day, max_day] bound is a broadcast (BNLJ whitelist); the
    * join and the window share the user_id partitioning. Day totals
    * are exact cents so carried values hash-match the oracle. The
    * user sample (% 10) bounds output, not correctness. */
  def gapFillLocf(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val bounds = ev.agg(
      date_trunc("day", min(col("ts"))).as("d0"),
      date_trunc("day", max(col("ts"))).as("d1"))
    val users = ev.filter(col("user_id") % 10 === 0)
      .select(col("user_id")).distinct()
    val spine = users.crossJoin(broadcast(bounds))
      .select(col("user_id"),
        explode(sequence(col("d0"), col("d1"), expr("interval 1 day")))
          .as("day"))
    val daily = ev.filter(col("event_type") === "purchase" &&
        col("user_id") % 10 === 0)
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .agg(moneySum(col("value")).as("day_value"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day").cast("long").as("day_sec"),
        col("day_value"),
        last(col("day_value"), ignoreNulls = true).over(w).as("filled_value"))
      .orderBy(col("user_id"), col("day_sec"))
  }

  val gapFillLocfSql: String =
    s"""WITH bounds AS (
       |  SELECT DATE_TRUNC('day', MIN(ts)) AS d0,
       |         DATE_TRUNC('day', MAX(ts)) AS d1 FROM events),
       |users AS (
       |  SELECT DISTINCT user_id FROM events WHERE user_id % 10 = 0),
       |spine AS (
       |  SELECT u.user_id, d.day
       |  FROM users u CROSS JOIN
       |    (SELECT UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
       |     FROM bounds) d),
       |daily AS (
       |  SELECT user_id, DATE_TRUNC('day', ts) AS day,
       |    ${moneySumSql("value")} AS day_value
       |  FROM events
       |  WHERE event_type = 'purchase' AND user_id % 10 = 0
       |  GROUP BY 1, 2)
       |SELECT s.user_id, CAST(FLOOR(EPOCH(s.day)) AS BIGINT) AS day_sec,
       |  y.day_value,
       |  LAST_VALUE(y.day_value IGNORE NULLS) OVER (
       |    PARTITION BY s.user_id ORDER BY s.day
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
       |FROM spine s LEFT JOIN daily y
       |  ON s.user_id = y.user_id AND s.day = y.day
       |ORDER BY s.user_id, day_sec""".stripMargin

  // ------------------------------------- linear-interp gap-fill
  /** Linear interpolation over the same per-user daily spine as
    * [[gapFillLocf]] — the other standard timeseries repair: a gap
    * day gets the straight line between its nearest observed
    * neighbors, prev + (next−prev)·(t−t_prev)/(t_next−t_prev),
    * evaluated in INTEGER CENTS with truncating division (Spark `DIV`
    * and DuckDB `//` both truncate toward zero, verified) so the
    * filled series hash-matches across engines with no float drift.
    * Days before the first / after the last observation stay NULL
    * (interpolation never extrapolates — that asymmetry with LOCF is
    * the point of having both).
    *
    * Scale shape: identical to LOCF — generated spine, broadcast
    * 1-row bounds, and FOUR frame windows that all share the ONE
    * user_id sort (prev/next value and prev/next day index are two
    * frames over the same ordering; Spark evaluates them in a single
    * WindowExec pair without re-shuffling). */
  def gapFillLinear(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val bounds = ev.agg(
      date_trunc("day", min(col("ts"))).as("d0"),
      date_trunc("day", max(col("ts"))).as("d1"))
    val users = ev.filter(col("user_id") % 10 === 0)
      .select(col("user_id")).distinct()
    val spine = users.crossJoin(broadcast(bounds))
      .select(col("user_id"),
        explode(sequence(col("d0"), col("d1"), expr("interval 1 day")))
          .as("day"))
    val daily = ev.filter(col("event_type") === "purchase" &&
        col("user_id") % 10 === 0)
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(cents(col("value"))).cast("long").as("day_cents"))
    val back = Window.partitionBy(col("user_id")).orderBy(col("day_idx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = Window.partitionBy(col("user_id")).orderBy(col("day_idx"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    spine.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), expr("CAST(day AS LONG) DIV 86400").as("day_idx"),
        col("day_cents"))
      .withColumn("prev_c", last(col("day_cents"), ignoreNulls = true).over(back))
      .withColumn("prev_d", last(when(col("day_cents").isNotNull,
        col("day_idx")), ignoreNulls = true).over(back))
      .withColumn("next_c", first(col("day_cents"), ignoreNulls = true).over(fwd))
      .withColumn("next_d", first(when(col("day_cents").isNotNull,
        col("day_idx")), ignoreNulls = true).over(fwd))
      .withColumn("filled_cents", expr(
        """CASE WHEN day_cents IS NOT NULL THEN day_cents
          |     WHEN prev_c IS NOT NULL AND next_c IS NOT NULL THEN
          |       prev_c + ((next_c - prev_c) * (day_idx - prev_d))
          |                DIV (next_d - prev_d)
          |     ELSE NULL END""".stripMargin))
      .withColumn("interpolated",
        col("day_cents").isNull && col("filled_cents").isNotNull)
      .select(col("user_id"), col("day_idx"), col("day_cents"),
        col("filled_cents"), col("interpolated"))
      .orderBy(col("user_id"), col("day_idx"))
  }

  val gapFillLinearSql: String =
    s"""WITH bounds AS (
       |  SELECT DATE_TRUNC('day', MIN(ts)) AS d0,
       |         DATE_TRUNC('day', MAX(ts)) AS d1 FROM events),
       |users AS (
       |  SELECT DISTINCT user_id FROM events WHERE user_id % 10 = 0),
       |spine AS (
       |  SELECT u.user_id,
       |    CAST(FLOOR(EPOCH(d.day)) AS BIGINT) // 86400 AS day_idx
       |  FROM users u CROSS JOIN
       |    (SELECT UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
       |     FROM bounds) d),
       |daily AS (
       |  SELECT user_id,
       |    CAST(FLOOR(EPOCH(DATE_TRUNC('day', ts))) AS BIGINT) // 86400
       |      AS day_idx,
       |    CAST(SUM(${centsSql("value")}) AS BIGINT) AS day_cents
       |  FROM events
       |  WHERE event_type = 'purchase' AND user_id % 10 = 0
       |  GROUP BY 1, 2),
       |j AS (
       |  SELECT s.user_id, s.day_idx, y.day_cents,
       |    LAST_VALUE(y.day_cents IGNORE NULLS) OVER wb AS prev_c,
       |    LAST_VALUE(CASE WHEN y.day_cents IS NOT NULL
       |      THEN s.day_idx END IGNORE NULLS) OVER wb AS prev_d,
       |    FIRST_VALUE(y.day_cents IGNORE NULLS) OVER wf AS next_c,
       |    FIRST_VALUE(CASE WHEN y.day_cents IS NOT NULL
       |      THEN s.day_idx END IGNORE NULLS) OVER wf AS next_d
       |  FROM spine s LEFT JOIN daily y
       |    ON s.user_id = y.user_id AND s.day_idx = y.day_idx
       |  WINDOW
       |    wb AS (PARTITION BY s.user_id ORDER BY s.day_idx
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       |    wf AS (PARTITION BY s.user_id ORDER BY s.day_idx
       |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
       |SELECT user_id, day_idx, day_cents,
       |  CASE WHEN day_cents IS NOT NULL THEN day_cents
       |       WHEN prev_c IS NOT NULL AND next_c IS NOT NULL THEN
       |         prev_c + ((next_c - prev_c) * (day_idx - prev_d))
       |                  // (next_d - prev_d)
       |       ELSE NULL END AS filled_cents,
       |  (day_cents IS NULL AND prev_c IS NOT NULL AND next_c IS NOT NULL)
       |    AS interpolated
       |FROM j ORDER BY user_id, day_idx""".stripMargin

  // --------------------------------------------- lateness audit
  /** Watermark-design audit: how out-of-order does this stream
    * actually arrive? Treating event_id as arrival order (the
    * generator's append order), each event's lateness is the gap to
    * the per-user high-water mark at its arrival: running MAX(ts) −
    * ts. The bucketed histogram is exactly the evidence that picks a
    * Structured Streaming watermark (`withWatermark` delay = the
    * bucket that bounds your tolerated drop rate) — run it before
    * deploying any EventStreams job.
    *
    * Scale shape: one window partitioned by user (the parallel
    * unit — a GLOBAL running max would serialize the stream through
    * one partition), then a 5-bucket hash-agg. Lateness in whole
    * seconds via integer micros division — exact cross-engine. */
  def latenessAudit(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, d)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("run_max_us", max(col("us")).over(w))
      .withColumn("late_sec", expr("(run_max_us - us) DIV 1000000"))
      .groupBy(
        when(col("late_sec") === 0, lit("a_on_time"))
          .when(col("late_sec") < 60, lit("b_under_1m"))
          .when(col("late_sec") < 600, lit("c_under_10m"))
          .when(col("late_sec") < 3600, lit("d_under_1h"))
          .otherwise(lit("e_1h_plus")).as("lateness"))
      .agg(count(lit(1)).as("n"), max(col("late_sec")).as("max_late_sec"))
      .orderBy(col("lateness"))
  }

  val latenessAuditSql: String =
    """WITH lat AS (
      |  SELECT (MAX(epoch_us(ts)) OVER (PARTITION BY user_id
      |      ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    - epoch_us(ts)) // 1000000 AS late_sec
      |  FROM events)
      |SELECT CASE WHEN late_sec = 0 THEN 'a_on_time'
      |            WHEN late_sec < 60 THEN 'b_under_1m'
      |            WHEN late_sec < 600 THEN 'c_under_10m'
      |            WHEN late_sec < 3600 THEN 'd_under_1h'
      |            ELSE 'e_1h_plus' END AS lateness,
      |  COUNT(*) AS n,
      |  CAST(MAX(late_sec) AS BIGINT) AS max_late_sec
      |FROM lat GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------ top 3-paths
  /** Top-10 three-event paths inside sessions — the path-analysis
    * generalization of [[sessionTransitions]]' 2-grams: every
    * (e, next, next-next) triple whose BOTH hops are inside the same
    * 30-minute-gap session (µs-exact, gap-EXCLUSIVE — the same
    * boundary sessionize pins), counted and ranked. What a product
    * team reads to find the dominant flows; also the Markov-order
    * sanity check (are 3-grams explained by the 2-gram chain?).
    *
    * Determinism: ranked by (n DESC, then the three types ASC) — a
    * total order, so LIMIT 10 is engine-stable.
    *
    * Scale shape: ONE window over the (user_id → ts, event_id)
    * partitioning computes both leads (same shuffle+sort
    * sessionize/transitions already use), then a hash-agg on the
    * bounded (type³) grid and a 10-row TakeOrdered. */
  def topPaths(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events(s, d)
      .withColumn("t1", lead(col("event_type"), 1).over(w))
      .withColumn("ts1", lead(col("ts"), 1).over(w))
      .withColumn("t2", lead(col("event_type"), 2).over(w))
      .withColumn("ts2", lead(col("ts"), 2).over(w))
      .filter(col("t2").isNotNull &&
        unix_micros(col("ts1")) - unix_micros(col("ts")) < 1800000000L &&
        unix_micros(col("ts2")) - unix_micros(col("ts1")) < 1800000000L)
      .groupBy(col("event_type").as("step1"), col("t1").as("step2"),
        col("t2").as("step3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("step1"), col("step2"), col("step3"))
      .limit(10)
  }

  val topPathsSql: String =
    """WITH m AS (
      |  SELECT event_type AS step1,
      |    LEAD(event_type, 1) OVER w AS step2,
      |    LEAD(ts, 1) OVER w AS ts1,
      |    LEAD(event_type, 2) OVER w AS step3,
      |    LEAD(ts, 2) OVER w AS ts2, ts
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT step1, step2, step3, COUNT(*) AS n
      |FROM m
      |WHERE step3 IS NOT NULL
      |  AND epoch_us(ts1) - epoch_us(ts) < 1800000000
      |  AND epoch_us(ts2) - epoch_us(ts1) < 1800000000
      |GROUP BY 1, 2, 3
      |ORDER BY n DESC, step1, step2, step3 LIMIT 10""".stripMargin

  val queries: Map[String, Query] = Map(
    "ev_top_paths" -> Query(topPaths, topPathsSql),
    "ev_lateness_audit" -> Query(latenessAudit, latenessAuditSql),
    "ev_gap_fill_locf" -> Query(gapFillLocf, gapFillLocfSql),
    "ev_gap_fill_linear" -> Query(gapFillLinear, gapFillLinearSql),
    "ev_scd2_intervals" -> Query(scd2Intervals, scd2IntervalsSql),
    "ev_session_transitions" -> Query(sessionTransitions, sessionTransitionsSql),
    "ev_heavy_users" -> Query(heavyUsers, heavyUsersSql),
    "ev_tumbling_hourly" -> Query(tumblingHourly, tumblingHourlySql),
    "ev_sliding_2h" -> Query(slidingTwoHourBatch, slidingTwoHourBatchSql),
    "ev_funnel" -> Query(funnel, funnelSql),
    "ev_retention_cohorts" -> Query(retentionCohorts, retentionCohortsSql),
    "ev_daily_user_stats" -> Query(dailyUserStats, dailyUserStatsSql),
    "ev_sessionize" -> Query(sessionize, sessionizeSql),
    "ev_anomaly_3sigma" -> Query(anomaly3Sigma, anomaly3SigmaSql),
    "ev_seasonal_anomaly" -> Query(seasonalAnomaly, seasonalAnomalySql),
    "ev_json_extract" -> Query(jsonExtract, jsonExtractSql))
}
