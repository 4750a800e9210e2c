package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._
import graft.queries.Relational.{cents, centsSql}
import graft.Query

/** Product-analytics tier over the events stream: rolling active
  * users, interval concurrency, RFM segmentation, and last-touch
  * attribution. These are the queries a consumer-facing analytics
  * stack runs daily at full-corpus scale, so every one is built
  * around a bounded parallel unit (a user, a day, a session) and
  * avoids any global serial pass.
  *
  * Reference scope: the reference engine's wc/indexer pattern
  * (/root/reference/mr-main/mrapps/wc.go:15-30) is per-key counting;
  * these are its grown-up analytics descendants with the same
  * key→bucket discipline.
  */
object ProductAnalytics {

  // ------------------------------------ rolling active users
  /** DAU / rolling-7-day / rolling-28-day distinct actives per day,
    * plus the DAU/WAU stickiness ratio in permille.
    *
    * Scale shape: a rolling COUNT(DISTINCT) cannot be a window
    * function (no distinct frames in Spark OR DuckDB); the standard
    * scalable form is CONTRIBUTION EXPLOSION — each distinct
    * (user, active_day) pair contributes to the ≤7 (resp. ≤28)
    * trailing window days, so work is O(active_pairs × 28) with a
    * hash-agg per window day, never a self-join of days × users.
    * Days past the observed max are clipped so every output day
    * reflects a full (or left-truncated) window, and the explosion
    * factor is a compile-time constant — at 100 TB this is a fixed
    * 35× fan-out on the (user, day) DISTINCT, which is itself tiny
    * relative to raw events. */
  def rollingActiveUsers(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val pairs = ev.select(col("user_id"),
      expr("CAST(date_trunc('day', ts) AS LONG) DIV 86400").as("day_idx"))
      .distinct()
    val maxDay = pairs.agg(max(col("day_idx")).as("max_day"))
    // each active (user, day) counts toward window days day..day+k-1
    def contrib(k: Int, name: String): DataFrame =
      pairs.crossJoin(broadcast(maxDay))
        .select(col("user_id"),
          explode(sequence(col("day_idx"),
            least(col("day_idx") + lit(k - 1), col("max_day")))).as("day_idx"))
        .distinct()
        .groupBy(col("day_idx")).agg(count(lit(1)).as(name))
    val dau = pairs.groupBy(col("day_idx")).agg(count(lit(1)).as("dau"))
    dau
      .join(contrib(7, "wau7"), Seq("day_idx"))
      .join(contrib(28, "mau28"), Seq("day_idx"))
      .withColumn("stickiness_pm", expr("dau * 1000 DIV wau7"))
      .orderBy(col("day_idx"))
  }

  val rollingActiveUsersSql: String =
    """WITH pairs AS (
      |  SELECT DISTINCT user_id,
      |    CAST(FLOOR(EPOCH(DATE_TRUNC('day', ts))) AS BIGINT) // 86400 AS day_idx
      |  FROM events),
      |mx AS (SELECT MAX(day_idx) AS max_day FROM pairs),
      |w7 AS (
      |  SELECT g.day_idx, COUNT(DISTINCT p.user_id) AS wau7
      |  FROM pairs p, mx,
      |    LATERAL (SELECT UNNEST(generate_series(p.day_idx,
      |      LEAST(p.day_idx + 6, mx.max_day))) AS day_idx) g
      |  GROUP BY 1),
      |w28 AS (
      |  SELECT g.day_idx, COUNT(DISTINCT p.user_id) AS mau28
      |  FROM pairs p, mx,
      |    LATERAL (SELECT UNNEST(generate_series(p.day_idx,
      |      LEAST(p.day_idx + 27, mx.max_day))) AS day_idx) g
      |  GROUP BY 1),
      |d AS (SELECT day_idx, COUNT(*) AS dau FROM pairs GROUP BY 1)
      |SELECT d.day_idx, d.dau, w7.wau7, w28.mau28,
      |  d.dau * 1000 // w7.wau7 AS stickiness_pm
      |FROM d JOIN w7 USING (day_idx) JOIN w28 USING (day_idx)
      |ORDER BY day_idx""".stripMargin

  // ------------------------------------ session concurrency curve
  /** Peak concurrent sessions per day — the capacity-planning curve.
    * Sessions are the same 30-min-gap sessions [[Events.sessionize]]
    * emits (inclusive [start, end] at second granularity). A session
    * contributes (+1 at start, −1 after end) delta points; the
    * running sum over points is instantaneous concurrency, and the
    * per-day max is the answer.
    *
    * Scale shape: a GLOBAL running sum would serialize, so the day is
    * the parallel unit: each session explodes into the days it spans
    * (bounded by session length — gap-bounded sessions rarely span
    * 2 days), contributing its in-day delta points plus a carry-in of
    * +1 to each later day it covers (= sessions already open at that
    * day's midnight). Within a day the sweep is one window over that
    * day's points. Ties break +1-before-−1 via a delta DESC sort key
    * so back-to-back sessions at the same second count as overlapping
    * (inclusive-interval semantics, pinned in the spec). */
  def concurrencyCurve(s: SparkSession, d: String): DataFrame = {
    val sess = Events.sessionize(s, d)
      .select(col("session_start_sec").as("s"), col("session_end_sec").as("e"))
    val spanned = sess.select(col("s"), col("e"),
      explode(sequence(expr("s DIV 86400"), expr("e DIV 86400"))).as("day_idx"))
    // in-day delta points; carried-over sessions contribute +1 at midnight
    val points = spanned.select(col("day_idx"),
        when(expr("s DIV 86400") === col("day_idx"), col("s"))
          .otherwise(col("day_idx") * 86400L).as("t"),
        lit(1).as("delta"))
      .unionAll(sess.select(expr("e DIV 86400").as("day_idx"),
        (col("e") + 1).as("t"), lit(-1).as("delta")))
    val sweep = Window.partitionBy(col("day_idx"))
      .orderBy(col("t"), col("delta").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    points
      .withColumn("conc", sum(col("delta")).over(sweep))
      .groupBy(col("day_idx"))
      .agg(max(col("conc")).as("peak_concurrency"),
        sum(when(col("delta") === 1, 1).otherwise(0)).as("n_sessions_touching"))
      .orderBy(col("day_idx"))
  }

  val concurrencyCurveSql: String =
    """WITH marked AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN LAG(ts) OVER w IS NULL
      |           OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 1800000000
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess0 AS (
      |  SELECT user_id, ts,
      |    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
      |  FROM marked),
      |sess AS (
      |  SELECT CAST(FLOOR(EPOCH(MIN(ts))) AS BIGINT) AS s,
      |         CAST(FLOOR(EPOCH(MAX(ts))) AS BIGINT) AS e
      |  FROM sess0 GROUP BY user_id, sid),
      |spanned AS (
      |  SELECT s, e, g.day_idx
      |  FROM sess, LATERAL (SELECT UNNEST(generate_series(
      |    s // 86400, e // 86400)) AS day_idx) g),
      |points AS (
      |  SELECT day_idx,
      |    CASE WHEN s // 86400 = day_idx THEN s ELSE day_idx * 86400 END AS t,
      |    1 AS delta
      |  FROM spanned
      |  UNION ALL
      |  SELECT e // 86400 AS day_idx, e + 1 AS t, -1 AS delta FROM sess),
      |swept AS (
      |  SELECT day_idx, delta,
      |    SUM(delta) OVER (PARTITION BY day_idx ORDER BY t, delta DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
      |  FROM points)
      |SELECT day_idx,
      |  CAST(MAX(conc) AS BIGINT) AS peak_concurrency,
      |  CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_sessions_touching
      |FROM swept GROUP BY day_idx ORDER BY day_idx""".stripMargin

  // ------------------------------------ RFM segmentation
  /** Classic RFM: per purchasing user, Recency (days since last
    * purchase, vs the corpus max day), Frequency (purchase count),
    * Monetary (summed cents) — each scored into quintiles, users
    * labeled `r f m` concatenated, rolled up per segment.
    *
    * Scale shape: one purchase-filtered hash-agg per user, then three
    * exact distributed quintile splits over the USER table via
    * [[graft.operators.GlobalRank]] — range-partition + zipWithIndex
    * row numbers, NTILE(5) reproduced arithmetically from
    * (rank, n). A global-window NTILE would funnel the whole user
    * frame through ONE partition's sort; at 100 TB that frame is
    * 10^8–10^9 rows and the single task is the job (round-9 verdict
    * #3). user_id is the deterministic tiebreak in every ordering so
    * quintile boundaries are stable cross-engine; the arithmetic
    * NTILE is bucket-identical to the window form, so the oracle (a
    * window NTILE in DuckDB over the same total order) hashes
    * unchanged. */
  def rfmSegments(s: SparkSession, d: String): DataFrame = {
    import graft.operators.GlobalRank
    val ev = events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
    val maxDay = purchases.agg(
      max(expr("CAST(date_trunc('day', ts) AS LONG) DIV 86400")).as("max_day"))
    val perUser = purchases
      .groupBy(col("user_id"))
      .agg(max(expr("CAST(date_trunc('day', ts) AS LONG) DIV 86400")).as("last_day"),
        count(lit(1)).as("freq"),
        sum(cents(col("value"))).cast("long").as("monetary_cents"))
      .crossJoin(broadcast(maxDay))
      .withColumn("recency_days", col("max_day") - col("last_day"))
    // low recency = good → order recency ASC for score 5..1 means DESC ntile;
    // keep it simple: score = ntile over explicitly documented orderings
    val ranked = GlobalRank.withRowNumber(
      GlobalRank.withRowNumber(
        GlobalRank.withRowNumber(perUser,
          Seq(col("recency_days").asc, col("user_id").asc), "r_rank"),
        Seq(col("freq").desc, col("user_id").asc), "f_rank"),
      Seq(col("monetary_cents").desc, col("user_id").asc), "m_rank")
    // total-user count off the RANKED frame (stored blocks), not
    // perUser — counting perUser would re-pay the events scan + agg
    val nUsers = ranked.agg(count(lit(1)).as("n_users_total"))
    ranked.crossJoin(broadcast(nUsers))
      .withColumn("r_score",
        GlobalRank.ntileFromRank("r_rank", "n_users_total", 5))
      .withColumn("f_score",
        GlobalRank.ntileFromRank("f_rank", "n_users_total", 5))
      .withColumn("m_score",
        GlobalRank.ntileFromRank("m_rank", "n_users_total", 5))
      .groupBy(concat_ws("", col("r_score"), col("f_score"), col("m_score"))
        .as("segment"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("monetary_cents")).as("segment_cents"),
        min(col("user_id")).as("sample_user"))
      .orderBy(col("segment"))
  }

  val rfmSegmentsSql: String =
    s"""WITH p AS (
       |  SELECT user_id,
       |    CAST(FLOOR(EPOCH(DATE_TRUNC('day', ts))) AS BIGINT) // 86400 AS day_idx,
       |    ${centsSql("value")} AS cents
       |  FROM events WHERE event_type = 'purchase'),
       |mx AS (SELECT MAX(day_idx) AS max_day FROM p),
       |per_user AS (
       |  SELECT user_id, MAX(day_idx) AS last_day, COUNT(*) AS freq,
       |    CAST(SUM(cents) AS BIGINT) AS monetary_cents
       |  FROM p GROUP BY 1),
       |scored AS (
       |  SELECT user_id, monetary_cents,
       |    NTILE(5) OVER (ORDER BY mx.max_day - last_day ASC, user_id ASC) AS r_score,
       |    NTILE(5) OVER (ORDER BY freq DESC, user_id ASC) AS f_score,
       |    NTILE(5) OVER (ORDER BY monetary_cents DESC, user_id ASC) AS m_score
       |  FROM per_user, mx)
       |SELECT CONCAT(r_score, f_score, m_score) AS segment,
       |  COUNT(*) AS n_users,
       |  CAST(SUM(monetary_cents) AS BIGINT) AS segment_cents,
       |  MIN(user_id) AS sample_user
       |FROM scored GROUP BY 1 ORDER BY segment""".stripMargin

  // ------------------------------------ last-touch attribution
  /** Marketing-style last-touch attribution: each purchase is
    * credited to the user's most recent PRECEDING non-purchase event
    * within a 48-hour lookback; purchases with no touch in window
    * fall into the 'none' bucket. Output: per touch type, attributed
    * purchase count and revenue cents.
    *
    * Scale shape: a single user-partitioned ordered window (the
    * last_value-ignore-nulls idiom over (ts, event_id)) — NO join:
    * the as-of lookup rides the same per-user sort sessionize uses,
    * so at 100 TB this is one shuffle by user_id, the minimum any
    * per-user ordering needs. The 48 h cutoff is integer-micros
    * arithmetic, exact cross-engine. */
  /** Per-purchase attribution rows before the rollup — exposed so the
    * streaming twin (EventStreams.attributionJoinStream's left-outer
    * interval join, reduced winner-take-all) can be asserted
    * replay-equal purchase by purchase, not just in aggregate. */
  private[graft] def attributionPerPurchase(
      s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    events(s, d)
      .withColumn("touch_type", last(
        when(col("event_type") =!= "purchase", col("event_type")),
        ignoreNulls = true).over(byUser))
      .withColumn("touch_us", last(
        when(col("event_type") =!= "purchase", unix_micros(col("ts"))),
        ignoreNulls = true).over(byUser))
      .filter(col("event_type") === "purchase")
      .withColumn("attributed", coalesce(
        when(unix_micros(col("ts")) - col("touch_us") <= 172800000000L,
          col("touch_type")), lit("none")))
  }

  def attributionLastTouch(s: SparkSession, d: String): DataFrame =
    attributionPerPurchase(s, d)
      .groupBy(col("attributed"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(cents(col("value"))).cast("long").as("revenue_cents"))
      .orderBy(col("attributed"))

  val attributionLastTouchSql: String =
    s"""WITH touched AS (
       |  SELECT event_type, ts, value,
       |    LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END
       |      IGNORE NULLS) OVER w AS touch_type,
       |    LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN epoch_us(ts) END
       |      IGNORE NULLS) OVER w AS touch_us
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
       |SELECT COALESCE(CASE WHEN epoch_us(ts) - touch_us <= 172800000000
       |    THEN touch_type END, 'none') AS attributed,
       |  COUNT(*) AS n_purchases,
       |  CAST(SUM(${centsSql("value")}) AS BIGINT) AS revenue_cents
       |FROM touched WHERE event_type = 'purchase'
       |GROUP BY 1 ORDER BY attributed""".stripMargin

  // --------------------------------- time-decay multi-touch credit
  /** Multi-touch attribution with TIME-DECAY weighting: every
    * non-purchase touch in the 2 days before a purchase shares its
    * revenue, weighted 1024 >> age_days (half-life one day on an
    * exact power-of-two ladder — no float decay). The complement to
    * [[attributionLastTouch]]'s winner-take-all: campaigns that
    * assist early stop being invisible. Purchases with no touch in
    * the window report under 'none' at full weight. Credits are
    * exact integer cents (cents·w DIV Σw per purchase), so the split
    * conserves revenue up to the per-purchase DIV remainder, which
    * stays with no channel — the documented rounding convention.
    *
    * Scale shape: the touch↔purchase pairing is the bucketed
    * range-join discipline (range_join_followers): touches map to
    * their 2-day bucket AND the next, the join is an equi-join on
    * (user, bucket) with a residual time predicate — shuffle-bounded,
    * never touches × purchases. Per-purchase weight totals are one
    * purchase-keyed window over the matched pairs. */
  // ------------------------------------ attribution touchpoint log
  /** Per-purchase TOUCHPOINT ROLLUP: how many candidate touches each
    * purchase has in its 48-hour lookback and which one wins
    * last-touch, with the same (ts, event_id) tie order everywhere —
    * the REGISTERED batch twin of the streaming left-outer interval
    * join (EventStreams.attributionJoinStream): same join predicate,
    * same tie-break, purchases with no in-window touch surface as
    * ('none', -1) exactly like the stream's watermark-held null rows.
    * Three independent devices now pin one semantic: this bucketed
    * range join, the per-user window idiom
    * ([[attributionPerPurchase]] — equality asserted in
    * ProductAnalyticsSpec), and the streaming join (StreamingSpec).
    *
    * Scale shape: the 2-day bucket scheme of [[attributionTimeDecay]]
    * (each touch explodes to 2 bucket keys, each purchase to 1, so
    * the join is a plain equi-join on (user, bucket) and every
    * in-window pair matches exactly once); the winner is an argmax
    * hash-agg (max over struct — map-side combine, no window sort);
    * the 'none' completion is one left join on purchase id. */
  def attributionTouchpoints(s: SparkSession, d: String): DataFrame = {
    val W = 172800000000L
    val ev = events(s, d).select(col("event_id"), col("user_id"),
      col("event_type"), unix_micros(col("ts")).as("us"), col("value"))
    val touches = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("event_id").as("t_id"),
        col("event_type").as("channel"), col("us").as("t_us"))
      .withColumn("tb", explode(array(expr(s"t_us DIV $W"),
        expr(s"t_us DIV $W + 1"))))
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"),
        col("us").as("p_us"), cents(col("value")).cast("long").as("cts"))
      .withColumn("tb", expr(s"p_us DIV $W"))
    val pairs = purch.join(touches, Seq("user_id", "tb"))
      .filter(col("p_us") - col("t_us") <= W &&
        (col("t_us") < col("p_us") ||
          (col("t_us") === col("p_us") && col("t_id") < col("p_id"))))
    val per = pairs.groupBy(col("p_id"))
      .agg(count(lit(1)).as("n_touches"),
        max(struct(col("t_us"), col("t_id"), col("channel"))).as("w"))
      .select(col("p_id"), col("n_touches"),
        col("w.channel").as("last_touch"), col("w.t_id").as("last_touch_id"))
    purch.select(col("p_id"), col("user_id"), col("cts"))
      .join(per, Seq("p_id"), "left")
      .na.fill(0L, Seq("n_touches", "last_touch_id"))
      .na.fill(Map("last_touch" -> "none"))
      .withColumn("last_touch_id",
        when(col("last_touch") === "none", -1L).otherwise(col("last_touch_id")))
      .select(col("p_id"), col("user_id"), col("n_touches"),
        col("last_touch"), col("last_touch_id"),
        col("cts").as("revenue_cents"))
      .orderBy(col("p_id"))
  }

  val attributionTouchpointsSql: String =
    s"""WITH ev AS (
       |  SELECT event_id, user_id, event_type, epoch_us(ts) AS us, value
       |  FROM events),
       |touches AS (
       |  SELECT user_id, event_id AS t_id, event_type AS channel,
       |    us AS t_us,
       |    UNNEST([us // 172800000000, us // 172800000000 + 1]) AS tb
       |  FROM ev WHERE event_type <> 'purchase'),
       |purch AS (
       |  SELECT user_id, event_id AS p_id, us AS p_us,
       |    ${centsSql("value")} AS cts, us // 172800000000 AS tb
       |  FROM ev WHERE event_type = 'purchase'),
       |pairs AS (
       |  SELECT p.p_id, t.t_us, t.t_id, t.channel
       |  FROM purch p JOIN touches t
       |    ON p.user_id = t.user_id AND p.tb = t.tb
       |    AND p.p_us - t.t_us <= 172800000000
       |    AND (t.t_us < p.p_us OR (t.t_us = p.p_us AND t.t_id < p.p_id))),
       |per AS (
       |  SELECT p_id, CAST(COUNT(*) AS BIGINT) AS n_touches,
       |    MAX(struct_pack(t_us := t_us, t_id := t_id, channel := channel))
       |      AS w
       |  FROM pairs GROUP BY 1)
       |SELECT p.p_id, p.user_id,
       |  COALESCE(per.n_touches, 0) AS n_touches,
       |  COALESCE(w['channel'], 'none') AS last_touch,
       |  COALESCE(w['t_id'], -1) AS last_touch_id,
       |  p.cts AS revenue_cents
       |FROM purch p LEFT JOIN per ON per.p_id = p.p_id
       |ORDER BY p.p_id""".stripMargin

  // ------------------------------------ click→purchase interval join
  /** Registered batch twin of the streaming INNER interval join
    * (streaming/EventStreams.purchaseClickJoin): every purchase paired
    * with the same user's clicks in the preceding 10 minutes,
    * exclusive of the purchase instant — the correlated-events join
    * behind conversion-lag analytics. StreamingSpec asserts the stream
    * replay equals THIS registered query row-for-row, so the inner
    * join mode now has the same registered+oracled batch twin the
    * round-9 left-outer attribution shape got.
    *
    * Scale shape: the attribution bucketed-range-join discipline —
    * both sides keyed on (user_id, 10-minute time bucket), clicks
    * exploded into the 2 adjacent buckets so every ≤10-min lead lands
    * in exactly one bucketed equi-join match; no per-user cross
    * product, no window, no unbounded state. lead_sec is defined on
    * second-truncated epochs (exactly the streaming twin's
    * cast-to-long arithmetic). */
  def clickToPurchase(s: SparkSession, d: String): DataFrame = {
    val W = 600000000L // 10 minutes in µs
    val ev = events(s, d).select(col("event_id"), col("user_id"),
      col("event_type"), unix_micros(col("ts")).as("us"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("c_id"),
        col("us").as("c_us"))
      .withColumn("tb", explode(array(expr(s"c_us DIV $W"),
        expr(s"c_us DIV $W + 1"))))
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"),
        col("us").as("p_us"))
      .withColumn("tb", expr(s"p_us DIV $W"))
    purch.join(clicks, Seq("user_id", "tb"))
      .filter(col("p_us") - col("c_us") <= W && col("c_us") < col("p_us"))
      .select(col("p_id"), col("c_id"), col("user_id"),
        expr("p_us DIV 1000000 - c_us DIV 1000000").as("lead_sec"))
      .orderBy(col("p_id"), col("c_id"))
  }

  val clickToPurchaseSql: String =
    """WITH ev AS (
      |  SELECT event_id, user_id, event_type, epoch_us(ts) AS us
      |  FROM events),
      |clicks AS (
      |  SELECT user_id, event_id AS c_id, us AS c_us,
      |    UNNEST([us // 600000000, us // 600000000 + 1]) AS tb
      |  FROM ev WHERE event_type = 'click'),
      |purch AS (
      |  SELECT user_id, event_id AS p_id, us AS p_us,
      |    us // 600000000 AS tb
      |  FROM ev WHERE event_type = 'purchase')
      |SELECT p.p_id, c.c_id, p.user_id,
      |  p.p_us // 1000000 - c.c_us // 1000000 AS lead_sec
      |FROM purch p JOIN clicks c
      |  ON p.user_id = c.user_id AND p.tb = c.tb
      |  AND p.p_us - c.c_us <= 600000000 AND c.c_us < p.p_us
      |ORDER BY p.p_id, c.c_id""".stripMargin

  // ------------------------------------ novelty-effect monitor
  /** Week-by-week experiment readout — the novelty-effect monitor:
    * the ev_holdout_ab arms (user_id % 2, the deterministic hash
    * holdout) read out per experiment week (days since first
    * purchase DIV 7) with per-arm active-purchaser counts, exact
    * revenue cents, and per-active-user uplift in e6 cents. A
    * treatment effect that shrinks week over week is novelty, not
    * product value — shipping on week-1 numbers is the classic
    * experimentation failure this table catches; it is the
    * time-series companion to the single-number ev_holdout_ab /
    * ev_did_uplift readouts.
    *
    * Scale shape: one purchase-filtered scan into a (week, arm,
    * user) hash-agg (distinct actives via two-level agg, no
    * COUNT(DISTINCT) over events), then a weeks-sized grid; the
    * min-day anchor is a 1-row broadcast. Exact integers
    * end-to-end. */
  def noveltyEffect(s: SparkSession, d: String): DataFrame = {
    val p = events(s, d).filter(col("event_type") === "purchase")
      .select(col("user_id"),
        expr("CAST(date_trunc('day', ts) AS LONG) DIV 86400").as("day"),
        cents(col("value")).cast("long").as("c"))
    val bounds = p.agg(min(col("day")).as("min_day"))
    val perUserWeek = p.crossJoin(broadcast(bounds))
      .withColumn("week", expr("(day - min_day) DIV 7"))
      .withColumn("arm", col("user_id") % 2)
      .groupBy(col("week"), col("arm"), col("user_id"))
      .agg(sum(col("c")).as("uc"))
    perUserWeek.groupBy(col("week"))
      .agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_control"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_treat"),
        sum(when(col("arm") === 0, col("uc")).otherwise(0L))
          .as("cents_control"),
        sum(when(col("arm") === 1, col("uc")).otherwise(0L))
          .as("cents_treat"))
      .withColumn("uplift_e6", expr(
        """CASE WHEN n_control = 0 OR n_treat = 0 THEN CAST(0 AS BIGINT)
          |ELSE (cents_treat * 1000000) DIV n_treat
          |   - (cents_control * 1000000) DIV n_control END""".stripMargin))
      .orderBy(col("week"))
  }

  val noveltyEffectSql: String =
    s"""WITH p AS (
      |  SELECT user_id,
      |    CAST(FLOOR(EPOCH(date_trunc('day', ts))) AS BIGINT) // 86400
      |      AS day,
      |    ${centsSql("value")} AS c
      |  FROM events WHERE event_type = 'purchase'),
      |bounds AS (SELECT MIN(day) AS min_day FROM p),
      |puw AS (
      |  SELECT (day - min_day) // 7 AS week, user_id % 2 AS arm,
      |    user_id, CAST(SUM(c) AS BIGINT) AS uc
      |  FROM p CROSS JOIN bounds GROUP BY 1, 2, 3),
      |g AS (
      |  SELECT week,
      |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_control,
      |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_treat,
      |    CAST(SUM(CASE WHEN arm = 0 THEN uc ELSE 0 END) AS BIGINT)
      |      AS cents_control,
      |    CAST(SUM(CASE WHEN arm = 1 THEN uc ELSE 0 END) AS BIGINT)
      |      AS cents_treat
      |  FROM puw GROUP BY 1)
      |SELECT week, n_control, n_treat, cents_control, cents_treat,
      |  CASE WHEN n_control = 0 OR n_treat = 0 THEN CAST(0 AS BIGINT)
      |  ELSE (cents_treat * 1000000) // n_treat
      |     - (cents_control * 1000000) // n_control END AS uplift_e6
      |FROM g ORDER BY week""".stripMargin

  // ------------------------------------- position-based attribution
  /** U-shaped (position-based) multi-touch credit — the third
    * attribution semantic next to last-touch and time-decay: 40% to
    * the INTRODUCING touch, 40% to the CLOSING touch, 20% shared by
    * the middles (solo touch takes all; a pair splits evenly) —
    * the industry-standard U curve for journeys where discovery and
    * close both matter more than nurture.
    *
    * Conservation is EXACT to the cent: the 2/5 shares floor, the
    * closing share is defined as an equal floor, the middle pool is
    * the literal remainder cts − 2·⌊2cts/5⌋, and its own division
    * remainder goes to the earliest middles one cent each (rank-
    * deterministic) — Σ credits ≡ purchase cents, pinned by spec.
    *
    * Scale shape: identical to time-decay's — the bucketed 48 h
    * range join (touches explode into 2 period buckets, purchases
    * carry one), a per-purchase rank window, one channel agg. */
  def attributionPosition(s: SparkSession, d: String): DataFrame = {
    val W = 172800000000L // 2 days in micros
    val ev = events(s, d).select(col("event_id"), col("user_id"),
      col("event_type"), unix_micros(col("ts")).as("us"), col("value"))
    val touches = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("event_type").as("channel"),
        col("event_id").as("t_id"), col("us").as("t_us"))
      .withColumn("tb", explode(array(expr(s"t_us DIV $W"),
        expr(s"t_us DIV $W + 1"))))
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"),
        col("us").as("p_us"), cents(col("value")).cast("long").as("cts"))
      .withColumn("tb", expr(s"p_us DIV $W"))
    val byP = Window.partitionBy(col("p_id"))
    val pairs = purch.join(touches, Seq("user_id", "tb"))
      .filter(col("p_us") > col("t_us") && col("p_us") - col("t_us") <= W)
      .withColumn("r", row_number().over(
        byP.orderBy(col("t_us"), col("t_id"))))
      .withColumn("n", count(lit(1)).over(byP))
    val credited = pairs
      .withColumn("credit_cents", expr(
        """CASE WHEN n = 1 THEN cts
          |WHEN n = 2 AND r = 1 THEN cts DIV 2
          |WHEN n = 2 THEN cts - cts DIV 2
          |WHEN r = 1 OR r = n THEN cts * 2 DIV 5
          |ELSE (cts - 2 * (cts * 2 DIV 5)) DIV (n - 2)
          |  + CASE WHEN r - 1 <= (cts - 2 * (cts * 2 DIV 5)) % (n - 2)
          |    THEN 1 ELSE 0 END END""".stripMargin))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_touches"),
        countDistinct(col("p_id")).as("n_purchases"),
        sum(col("credit_cents")).cast("long").as("credit_cents"))
    val untouched = purch.join(
        pairs.select(col("p_id")).distinct(), Seq("p_id"), "left_anti")
      .agg(count(lit(1)).as("n_touches"), count(lit(1)).as("n_purchases"),
        coalesce(sum(col("cts")), lit(0L)).cast("long").as("credit_cents"))
      .select(lit("none").as("channel"), col("n_touches"),
        col("n_purchases"), col("credit_cents"))
      .filter(col("n_purchases") > 0)
    credited.unionByName(untouched).orderBy(col("channel"))
  }

  val attributionPositionSql: String =
    s"""WITH ev AS (
       |  SELECT event_id, user_id, event_type, epoch_us(ts) AS us, value
       |  FROM events),
       |touches AS (
       |  SELECT user_id, event_type AS channel, event_id AS t_id,
       |    us AS t_us,
       |    UNNEST([us // 172800000000, us // 172800000000 + 1]) AS tb
       |  FROM ev WHERE event_type <> 'purchase'),
       |purch AS (
       |  SELECT user_id, event_id AS p_id, us AS p_us,
       |    ${centsSql("value")} AS cts, us // 172800000000 AS tb
       |  FROM ev WHERE event_type = 'purchase'),
       |pairs AS (
       |  SELECT p.p_id, p.cts, t.channel,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY p.p_id
       |      ORDER BY t.t_us, t.t_id) AS BIGINT) AS r,
       |    CAST(COUNT(*) OVER (PARTITION BY p.p_id) AS BIGINT) AS n
       |  FROM purch p JOIN touches t
       |    ON p.user_id = t.user_id AND p.tb = t.tb
       |    AND p.p_us > t.t_us AND p.p_us - t.t_us <= 172800000000),
       |credited AS (
       |  SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_touches,
       |    CAST(COUNT(DISTINCT p_id) AS BIGINT) AS n_purchases,
       |    CAST(SUM(CASE WHEN n = 1 THEN cts
       |      WHEN n = 2 AND r = 1 THEN cts // 2
       |      WHEN n = 2 THEN cts - cts // 2
       |      WHEN r = 1 OR r = n THEN cts * 2 // 5
       |      ELSE (cts - 2 * (cts * 2 // 5)) // (n - 2)
       |        + CASE WHEN r - 1 <= (cts - 2 * (cts * 2 // 5)) % (n - 2)
       |          THEN 1 ELSE 0 END END) AS BIGINT) AS credit_cents
       |  FROM pairs GROUP BY channel),
       |untouched AS (
       |  SELECT 'none' AS channel, CAST(COUNT(*) AS BIGINT) AS n_touches,
       |    CAST(COUNT(*) AS BIGINT) AS n_purchases,
       |    CAST(COALESCE(SUM(cts), 0) AS BIGINT) AS credit_cents
       |  FROM purch WHERE p_id NOT IN (SELECT p_id FROM pairs)
       |  HAVING COUNT(*) > 0)
       |SELECT * FROM credited UNION ALL SELECT * FROM untouched
       |ORDER BY channel""".stripMargin

  def attributionTimeDecay(s: SparkSession, d: String): DataFrame = {
    val W = 172800000000L // 2 days in micros
    val ev = events(s, d).select(col("event_id"), col("user_id"),
      col("event_type"), unix_micros(col("ts")).as("us"), col("value"))
    val touches = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("event_type").as("channel"),
        col("us").as("t_us"))
      .withColumn("tb", explode(array(expr(s"t_us DIV $W"),
        expr(s"t_us DIV $W + 1"))))
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"),
        col("us").as("p_us"), cents(col("value")).cast("long").as("cts"))
      .withColumn("tb", expr(s"p_us DIV $W"))
    val pairs = purch.join(touches, Seq("user_id", "tb"))
      .filter(col("p_us") > col("t_us") && col("p_us") - col("t_us") <= W)
      .withColumn("w", expr(
        """CASE (p_us - t_us) DIV 86400000000 WHEN 0 THEN 1024L
          |WHEN 1 THEN 512L ELSE 256L END""".stripMargin))
    val byP = Window.partitionBy(col("p_id"))
    val credited = pairs
      .withColumn("sw", sum(col("w")).over(byP))
      .withColumn("credit_cents", expr("cts * w DIV sw"))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_touches"),
        countDistinct(col("p_id")).as("n_purchases"),
        sum(col("credit_cents")).as("credit_cents"))
    val untouched = purch.join(
        pairs.select(col("p_id")).distinct(), Seq("p_id"), "left_anti")
      .agg(count(lit(1)).as("n_touches"), count(lit(1)).as("n_purchases"),
        coalesce(sum(col("cts")), lit(0L)).as("credit_cents"))
      .select(lit("none").as("channel"), col("n_touches"),
        col("n_purchases"), col("credit_cents"))
      .filter(col("n_purchases") > 0)
    credited.unionByName(untouched).orderBy(col("channel"))
  }

  val attributionTimeDecaySql: String =
    s"""WITH ev AS (
       |  SELECT event_id, user_id, event_type, epoch_us(ts) AS us, value
       |  FROM events),
       |touches AS (
       |  SELECT user_id, event_type AS channel, us AS t_us,
       |    UNNEST([us // 172800000000, us // 172800000000 + 1]) AS tb
       |  FROM ev WHERE event_type <> 'purchase'),
       |purch AS (
       |  SELECT user_id, event_id AS p_id, us AS p_us,
       |    ${centsSql("value")} AS cts, us // 172800000000 AS tb
       |  FROM ev WHERE event_type = 'purchase'),
       |pairs AS (
       |  SELECT p.p_id, p.cts, t.channel,
       |    CAST(CASE (p.p_us - t.t_us) // 86400000000 WHEN 0 THEN 1024
       |      WHEN 1 THEN 512 ELSE 256 END AS BIGINT) AS w
       |  FROM purch p JOIN touches t
       |    ON p.user_id = t.user_id AND p.tb = t.tb
       |    AND p.p_us > t.t_us AND p.p_us - t.t_us <= 172800000000),
       |credited AS (
       |  SELECT channel, COUNT(*) AS n_touches,
       |    COUNT(DISTINCT p_id) AS n_purchases,
       |    CAST(SUM(cts * w // sw) AS BIGINT) AS credit_cents
       |  FROM (SELECT *, SUM(w) OVER (PARTITION BY p_id) AS sw FROM pairs)
       |  GROUP BY 1),
       |untouched AS (
       |  SELECT 'none' AS channel, COUNT(*) AS n_touches,
       |    COUNT(*) AS n_purchases,
       |    CAST(COALESCE(SUM(cts), 0) AS BIGINT) AS credit_cents
       |  FROM purch WHERE p_id NOT IN (SELECT p_id FROM pairs)
       |  HAVING COUNT(*) > 0)
       |SELECT channel, n_touches, n_purchases, credit_cents
       |FROM (SELECT * FROM credited UNION ALL SELECT * FROM untouched)
       |ORDER BY channel""".stripMargin

  // ------------------------------------ CUSUM change-point detection
  /** Page's CUSUM over per-type daily revenue — the drift detector
    * behind "did this metric shift?" alerts. The textbook recursion
    * S_t = max(0, S_{t−1} + dev_t) is not window-expressible, but its
    * closed form is: S_t = R_t − min(0, min_{j≤t} R_j) where R is the
    * running deviation sum — TWO frames over ONE per-type sort, fully
    * parallel across event types. A day flags when S_t² exceeds the
    * 9·σ² bar (3-sigma in cents², σ² the exact integer population
    * variance of the type's daily cents — squaring both sides keeps
    * the test sqrt-free and integer-exact).
    *
    * Scale shape: one day×type hash-agg off the scan, a 1-row-per-type
    * stats join (broadcast), and one window partitioned by type. The
    * type is the parallel unit; nothing is global. */
  def cusumChangepoint(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .groupBy(col("event_type"),
        expr("CAST(date_trunc('day', ts) AS LONG) DIV 86400").as("day_idx"))
      .agg(sum(cents(col("value"))).cast("long").as("day_cents"))
    val stats = daily.groupBy(col("event_type"))
      .agg(expr("SUM(day_cents) DIV COUNT(1)").as("mean_cents"),
        expr("(COUNT(1) * SUM(day_cents * day_cents)" +
          " - SUM(day_cents) * SUM(day_cents))" +
          " DIV (COUNT(1) * COUNT(1))").as("var_cents2"))
    val byType = Window.partitionBy(col("event_type")).orderBy(col("day_idx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.join(broadcast(stats), "event_type")
      .withColumn("dev", col("day_cents") - col("mean_cents"))
      .withColumn("run", sum(col("dev")).over(byType))
      .withColumn("cusum", col("run") - least(lit(0L), min(col("run")).over(byType)))
      .withColumn("flagged", col("cusum") * col("cusum") > lit(9L) * col("var_cents2"))
      .select(col("event_type"), col("day_idx"), col("day_cents"),
        col("dev"), col("cusum"), col("flagged"))
      .orderBy(col("event_type"), col("day_idx"))
  }

  val cusumChangepointSql: String =
    s"""WITH daily AS (
       |  SELECT event_type,
       |    CAST(FLOOR(EPOCH(DATE_TRUNC('day', ts))) AS BIGINT) // 86400 AS day_idx,
       |    CAST(SUM(${centsSql("value")}) AS BIGINT) AS day_cents
       |  FROM events GROUP BY 1, 2),
       |stats AS (
       |  SELECT event_type,
       |    CAST(SUM(day_cents) // COUNT(*) AS BIGINT) AS mean_cents,
       |    CAST((COUNT(*) * SUM(day_cents * day_cents)
       |      - SUM(day_cents) * SUM(day_cents))
       |      // (COUNT(*) * COUNT(*)) AS BIGINT) AS var_cents2
       |  FROM daily GROUP BY 1),
       |runs AS (
       |  SELECT d.event_type, d.day_idx, d.day_cents,
       |    d.day_cents - s.mean_cents AS dev, s.var_cents2,
       |    SUM(d.day_cents - s.mean_cents) OVER w AS run
       |  FROM daily d JOIN stats s USING (event_type)
       |  WINDOW w AS (PARTITION BY d.event_type ORDER BY d.day_idx
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |r AS (
       |  SELECT *, MIN(run) OVER (PARTITION BY event_type ORDER BY day_idx
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS min_run
       |  FROM runs)
       |SELECT event_type, day_idx, day_cents, dev,
       |  CAST(run - LEAST(0, min_run) AS BIGINT) AS cusum,
       |  (run - LEAST(0, min_run)) * (run - LEAST(0, min_run))
       |    > 9 * var_cents2 AS flagged
       |FROM r ORDER BY event_type, day_idx""".stripMargin

  // ------------------------------------ new vs returning actives
  /** Daily active users split into first-ever-seen-today vs returning,
    * with the new-user share in permille — the growth-vs-retention
    * decomposition of the DAU line.
    *
    * Scale shape: one distinct on (user, day), one per-user MIN for
    * first-seen, one day-keyed hash-agg — each a single shuffle with
    * map-side combine; nothing global. */
  def newVsReturning(s: SparkSession, d: String): DataFrame = {
    val pairs = events(s, d).select(col("user_id"),
      expr("CAST(date_trunc('day', ts) AS LONG) DIV 86400").as("day_idx"))
      .distinct()
    val first = pairs.groupBy(col("user_id"))
      .agg(min(col("day_idx")).as("first_day"))
    pairs.join(first, "user_id")
      .groupBy(col("day_idx"))
      .agg(count(lit(1)).as("dau"),
        sum(when(col("day_idx") === col("first_day"), 1L).otherwise(0L))
          .as("n_new"))
      .withColumn("n_returning", col("dau") - col("n_new"))
      .withColumn("new_permille", expr("n_new * 1000 DIV dau"))
      .orderBy(col("day_idx"))
  }

  val newVsReturningSql: String =
    """WITH pairs AS (
      |  SELECT DISTINCT user_id,
      |    CAST(FLOOR(EPOCH(DATE_TRUNC('day', ts))) AS BIGINT) // 86400
      |      AS day_idx
      |  FROM events),
      |first AS (SELECT user_id, MIN(day_idx) AS first_day
      |          FROM pairs GROUP BY 1)
      |SELECT p.day_idx, COUNT(*) AS dau,
      |  CAST(SUM(CASE WHEN p.day_idx = f.first_day THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_new,
      |  COUNT(*) - CAST(SUM(CASE WHEN p.day_idx = f.first_day THEN 1 ELSE 0
      |    END) AS BIGINT) AS n_returning,
      |  CAST(SUM(CASE WHEN p.day_idx = f.first_day THEN 1 ELSE 0 END)
      |    AS BIGINT) * 1000 // COUNT(*) AS new_permille
      |FROM pairs p JOIN first f USING (user_id)
      |GROUP BY p.day_idx ORDER BY p.day_idx""".stripMargin

  // ------------------------------------ activity concentration
  /** Pareto/Lorenz concentration of event volume: users ranked by
    * event count into deciles; per decile the user count, event
    * count, share of all events, and the cumulative share — "do 10%
    * of users generate 60% of traffic" answered as a query. Bot
    * floods and scraper accounts show up as a top-decile share spike.
    *
    * Scale shape: per-user counts are one hash-agg; the decile split
    * is an exact distributed rank over the user frame
    * ([[graft.operators.GlobalRank]]: range-partition + zipWithIndex,
    * NTILE(10) reproduced arithmetically — no single-partition window
    * sort, round-9 verdict #3); all share arithmetic runs on the
    * 10-row decile frame. */
  def powerUsersPareto(s: SparkSession, d: String): DataFrame = {
    import graft.operators.GlobalRank
    val per = events(s, d).groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_ev"))
    val ranked = GlobalRank.withRowNumber(per,
      Seq(col("n_ev").desc, col("user_id")), "rk")
    val nUsers = ranked.agg(count(lit(1)).as("n_users_total"))
    val dec = ranked.crossJoin(broadcast(nUsers))
      .withColumn("decile",
        GlobalRank.ntileFromRank("rk", "n_users_total", 10).cast("int"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_users"), sum(col("n_ev")).as("n_events"))
    val all = Window.partitionBy()
    val cum = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dec
      .withColumn("share_permille",
        expr("n_events * 1000") / sum(col("n_events")).over(all))
      .withColumn("share_permille",
        expr("CAST(FLOOR(share_permille) AS BIGINT)"))
      .withColumn("cum_events", sum(col("n_events")).over(cum))
      .withColumn("cum_share_permille",
        expr("CAST(FLOOR(cum_events * 1000 / SUM(n_events) OVER ()) AS BIGINT)"))
      .select(col("decile"), col("n_users"), col("n_events"),
        col("share_permille"), col("cum_share_permille"))
      .orderBy(col("decile"))
  }

  val powerUsersParetoSql: String =
    """WITH per AS (
      |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_ev
      |  FROM events GROUP BY 1),
      |dec AS (
      |  SELECT decile, COUNT(*) AS n_users,
      |    CAST(SUM(n_ev) AS BIGINT) AS n_events
      |  FROM (SELECT user_id, n_ev,
      |          NTILE(10) OVER (ORDER BY n_ev DESC, user_id) AS decile
      |        FROM per)
      |  GROUP BY 1)
      |SELECT decile, n_users, n_events,
      |  CAST(FLOOR(n_events * 1000.0 / SUM(n_events) OVER ()) AS BIGINT)
      |    AS share_permille,
      |  CAST(FLOOR(SUM(n_events) OVER (ORDER BY decile
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000.0
      |    / SUM(n_events) OVER ()) AS BIGINT) AS cum_share_permille
      |FROM dec ORDER BY decile""".stripMargin

  // ------------------------------------ cohort LTV matrix
  /** Lifetime-value cohorts: users grouped by first-seen week, their
    * purchase cents summed per week offset, normalized per cohort
    * member — the revenue twin of the retention matrix
    * (`ev_retention_cohorts`), answering "how much does a week-N
    * signup earn by week N+k" on exact integer cents.
    *
    * Scale shape: one per-user MIN for the cohort key, one
    * (cohort, offset) hash-agg over purchases, cohort sizes joined
    * back broadcast (≤ weeks rows). Buyer counts are per-cell
    * distincts over the already-bounded (cohort, offset, user)
    * grid, not over raw events. */
  def ltvCohorts(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("user_id"),
      expr("CAST(ts AS LONG) DIV 604800").as("week"),
      col("event_type"), cents(col("value")).cast("long").as("c"))
    val cohort = ev.groupBy(col("user_id"))
      .agg(min(col("week")).as("cohort_week"))
    val sizes = cohort.groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("cohort_size"))
    ev.filter(col("event_type") === "purchase")
      .join(cohort, "user_id")
      .withColumn("week_offset", col("week") - col("cohort_week"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_buyers"),
        sum(col("c")).as("cents_sum"))
      .join(broadcast(sizes), "cohort_week")
      .withColumn("ltv_cents_per_user", expr("cents_sum DIV cohort_size"))
      .select(col("cohort_week"), col("week_offset"), col("cohort_size"),
        col("n_buyers"), col("cents_sum"), col("ltv_cents_per_user"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  val ltvCohortsSql: String =
    s"""WITH ev AS (
       |  SELECT user_id,
       |    CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 604800 AS week,
       |    event_type, ${centsSql("value")} AS c
       |  FROM events),
       |cohort AS (SELECT user_id, MIN(week) AS cohort_week
       |           FROM ev GROUP BY 1),
       |sizes AS (SELECT cohort_week, CAST(COUNT(*) AS BIGINT)
       |            AS cohort_size
       |          FROM cohort GROUP BY 1),
       |cells AS (
       |  SELECT c.cohort_week, e.week - c.cohort_week AS week_offset,
       |    COUNT(DISTINCT e.user_id) AS n_buyers,
       |    CAST(SUM(e.c) AS BIGINT) AS cents_sum
       |  FROM ev e JOIN cohort c USING (user_id)
       |  WHERE e.event_type = 'purchase'
       |  GROUP BY 1, 2)
       |SELECT cohort_week, week_offset, cohort_size, n_buyers,
       |  cents_sum, cents_sum // cohort_size AS ltv_cents_per_user
       |FROM cells JOIN sizes USING (cohort_week)
       |ORDER BY cohort_week, week_offset""".stripMargin

  // ---------------------------------- mergeable daily sketches
  /** THE production distinct-counting pattern at 100 TB: build one
    * HLL sketch per day (Datasketches `hll_sketch_agg`), then answer
    * the month-range question by MERGING the 30 daily sketches
    * (`hll_union_agg`) — no rescan of raw events, any date range
    * served from precomputed per-day state. The query carries its own
    * certification: the merged estimate must land within 5% of the
    * exact month distinct (a ~5σ bound at lgK=12 — statistical, not
    * deterministic, same stance as sketch_profile), and the daily-sum
    * vs distinct gap exposes the cross-day overlap a naive SUM(dau)
    * would double-count.
    *
    * Scale shape: the raw scan happens once into (day, sketch) rows;
    * the merge reduces 30 sketch buffers, not users. Exact companions
    * are separate aggregations (never fused with sketch buffers — the
    * documented Expand lesson). */
  def sketchDailyMerge(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(
      expr("CAST(date_trunc('day', ts) AS LONG) DIV 86400").as("day_idx"),
      col("user_id"))
    val daily = ev.groupBy(col("day_idx"))
      .agg(expr("hll_sketch_agg(user_id)").as("sk"),
        countDistinct(col("user_id")).as("dau"))
    val merged = daily.agg(
      count(lit(1)).as("n_days"),
      sum(col("dau")).as("sum_daily_dau"),
      expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_month"))
    val exact = ev.agg(countDistinct(col("user_id")).as("exact_month_users"))
    merged.crossJoin(broadcast(exact))
      .select(col("n_days"), col("sum_daily_dau"), col("exact_month_users"),
        (abs(col("est_month") - col("exact_month_users"))
          / col("exact_month_users") < 0.05).as("merge_est_ok"),
        (col("sum_daily_dau") >= col("exact_month_users")).as("overlap_ok"))
  }

  val sketchDailyMergeSql: String =
    """WITH ev AS (
      |  SELECT CAST(FLOOR(EPOCH(DATE_TRUNC('day', ts))) AS BIGINT) // 86400
      |      AS day_idx, user_id
      |  FROM events),
      |daily AS (
      |  SELECT day_idx, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
      |  FROM ev GROUP BY 1)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
      |  CAST(SUM(dau) AS BIGINT) AS sum_daily_dau,
      |  (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM ev)
      |    AS exact_month_users,
      |  TRUE AS merge_est_ok,
      |  TRUE AS overlap_ok
      |FROM daily""".stripMargin

  // ------------------------------ mergeable quantile sketch
  /** The quantile companion to [[sketchDailyMerge]]: per-day MERGEABLE
    * value sketches answering "p50/p90/p95/p99 purchase value over any
    * date range" without a global sort or raw rescan — the pattern
    * behind every production latency/value dashboard at 100 TB, where
    * `quantiles_exact`'s full-corpus sort is the thing you cannot do
    * per panel refresh.
    *
    * The sketch is a deterministic base-2 HISTOGRAM on exact integer
    * cents (the [[Relational.cents]] discipline): bucket = the 5-bit
    * mantissa prefix (shift = bitlen(c) − 5, sub = c >> shift), so
    * every bucket spans a ≤ 1/16 relative width, a day's sketch is
    * ≤ (octaves × 16) + 1 ≈ 300 counters NO MATTER how many events,
    * and merging = adding counters (associative/commutative — the
    * same abelian-state argument as the HLL tier, but the answer is
    * DETERMINISTIC: unlike KLL/t-digest, bucket bounds are pure
    * integer arithmetic, so engine and oracle agree bit-for-bit).
    * Each reported quantile comes back as the answering bucket's
    * [lo_cents, hi_cents] — the true order statistic provably lies
    * inside (counts are exact; cum is monotone), with relative width
    * ≤ 1/16 by construction.
    *
    * Scale shape: one raw scan into (day, bucket) partial counts
    * (map-side combine does the daily sketching), the merge reduces
    * ~300-counter frames, the cumulative pass is a global window on
    * the PROVABLY BOUNDED bucket grid (whitelisted), and the quantile
    * probe is a conditional aggregate — no non-equi join, no sort of
    * anything corpus-sized. */
  def sketchQuantileMerge(s: SparkSession, d: String): DataFrame =
    sketchQuantileMergeOn(events(s, d).select(
      expr("CAST(date_trunc('day', ts) AS LONG) DIV 86400").as("day_idx"),
      cents(col("value")).cast("long").as("c")))

  /** Core sketch over caller-supplied (day_idx, c) cent rows —
    * separated so specs can plant exact-quantile values. */
  def sketchQuantileMergeOn(ev: DataFrame): DataFrame = {
    val bucketed = ev
      .withColumn("shift",
        greatest(length(bin(col("c"))).cast("int") - 5, lit(0)))
      .withColumn("sub", expr("shiftright(c, shift)"))
    val daily = bucketed.groupBy(col("day_idx"), col("shift"), col("sub"))
      .agg(count(lit(1)).as("cnt"))
    val merged = daily.groupBy(col("shift"), col("sub"))
      .agg(sum(col("cnt")).cast("long").as("cnt"))
      .select(col("cnt"),
        expr("shiftleft(sub, shift)").as("lo"),
        expr("shiftleft(sub + 1, shift) - 1").as("hi"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("lo"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = merged.withColumn("cum", sum(col("cnt")).over(w))
    val consts = merged.agg(sum(col("cnt")).cast("long").as("n_total"),
      count(lit(1)).as("n_buckets"))
    val qs = Seq(500L, 900L, 950L, 990L)
    val aggs = qs.flatMap { q =>
      val target = expr(s"(n_total * $q + 999) DIV 1000")
      Seq(min(when(col("cum") >= target, col("lo"))).as(s"lo$q"),
        min(when(col("cum") >= target, col("hi"))).as(s"hi$q"))
    }
    val row = cum.crossJoin(broadcast(consts))
      .groupBy(col("n_total"), col("n_buckets"))
      .agg(aggs.head, aggs.tail: _*)
    row.select(
        expr(s"stack(4, ${qs.map(q => s"${q}L, lo$q, hi$q").mkString(", ")})" +
          " as (q_pm, lo_cents, hi_cents)"),
        col("n_total"), col("n_buckets"))
      .orderBy(col("q_pm"))
  }

  val sketchQuantileMergeSql: String =
    s"""WITH ev AS (
       |  SELECT CAST(FLOOR(EPOCH(DATE_TRUNC('day', ts))) AS BIGINT) // 86400
       |      AS day_idx, ${centsSql("value")} AS c
       |  FROM events),
       |b AS (
       |  SELECT day_idx, c,
       |    GREATEST(CAST(length(bin(c)) AS INT) - 5, 0) AS shift
       |  FROM ev),
       |daily AS MATERIALIZED (
       |  SELECT day_idx, shift, c >> shift AS sub, COUNT(*) AS cnt
       |  FROM b GROUP BY 1, 2, 3),
       |merged AS MATERIALIZED (
       |  SELECT CAST(SUM(cnt) AS BIGINT) AS cnt,
       |    CAST(sub << shift AS BIGINT) AS lo,
       |    CAST(((sub + 1) << shift) - 1 AS BIGINT) AS hi
       |  FROM daily GROUP BY shift, sub),
       |cum AS MATERIALIZED (
       |  SELECT lo, hi, CAST(SUM(cnt) OVER (ORDER BY lo) AS BIGINT) AS cum
       |  FROM merged),
       |consts AS (
       |  SELECT CAST(SUM(cnt) AS BIGINT) AS n_total,
       |    CAST(COUNT(*) AS BIGINT) AS n_buckets
       |  FROM merged),
       |qs AS (SELECT UNNEST([500, 900, 950, 990]) AS q_pm)
       |SELECT CAST(q.q_pm AS BIGINT) AS q_pm,
       |  CAST(MIN(CASE WHEN cu.cum >= (co.n_total * q.q_pm + 999) // 1000
       |           THEN cu.lo END) AS BIGINT) AS lo_cents,
       |  CAST(MIN(CASE WHEN cu.cum >= (co.n_total * q.q_pm + 999) // 1000
       |           THEN cu.hi END) AS BIGINT) AS hi_cents,
       |  co.n_total, co.n_buckets
       |FROM qs q, consts co, cum cu
       |GROUP BY q.q_pm, co.n_total, co.n_buckets
       |ORDER BY q_pm""".stripMargin

  // ------------------------------ sketch pair-overlap (incl-excl)
  /** Audience overlap between every event-type pair, answered TWO
    * ways: exact |A∩B| from the distinct (user, type) frame, and the
    * sketch route — est(A) + est(B) − est(A∪B) by inclusion-
    * exclusion over per-type HLL sketches merged pairwise
    * (`hll_union`). The production question ("how much do these two
    * audiences overlap?") served from |types| precomputed sketches
    * instead of |types|² raw scans; the in-query certification bounds
    * the IE estimate within 5% of the exact UNION size (IE error
    * scales with the union, not the intersection — the honest bound).
    *
    * Scale shape: the raw scan happens once into the distinct
    * (user, type) frame (materialized: it feeds the sketch agg AND
    * the exact-overlap join); exact overlap is a user-keyed self-join
    * costing Σ_user types² ≤ 25 per user — linear; the pair algebra
    * runs on a |types|-row frame (the tiny non-equi self-join is a
    * declared bounded BNLJ, whitelisted). */
  def sketchPairOverlap(s: SparkSession, d: String): DataFrame = {
    val ut = graft.operators.Materialize.eager(
      events(s, d).select(col("event_type").as("t"), col("user_id"))
        .distinct())
    val perType = ut.groupBy(col("t"))
      .agg(expr("hll_sketch_agg(user_id)").as("sk"),
        count(lit(1)).as("nu"))
    val a = perType.select(col("t").as("type_a"), col("sk").as("sk_a"),
      col("nu").as("users_a"))
    val b = perType.select(col("t").as("type_b"), col("sk").as("sk_b"),
      col("nu").as("users_b"))
    val overlap = ut.select(col("t").as("type_a"), col("user_id"))
      .join(ut.select(col("t").as("type_b"), col("user_id")), "user_id")
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("exact_overlap"))
    a.join(b, col("type_a") < col("type_b"))
      .join(overlap, Seq("type_a", "type_b"), "left")
      .na.fill(0L, Seq("exact_overlap"))
      .withColumn("ie_est", col("users_a") + col("users_b") -
        expr("hll_sketch_estimate(hll_union(sk_a, sk_b))"))
      .withColumn("exact_union",
        col("users_a") + col("users_b") - col("exact_overlap"))
      .withColumn("ie_ok",
        abs(col("ie_est") - col("exact_overlap")) <=
          col("exact_union") * 0.05)
      // failure diagnosability: ie_ok is a designed tripwire (the
      // oracle pins TRUE, so a sketch drifting past the 5% bound
      // surfaces as a hash mismatch) — this column makes the
      // mismatch READABLE: 0 while certified (both engines agree),
      // and on a failure the engine-side parquet dump carries the
      // excess error in permille instead of just a flipped boolean
      .withColumn("ie_excess_pm",
        when(col("ie_ok"), lit(0L)).otherwise(greatest(lit(1L),
          ceil(abs(col("ie_est") - col("exact_overlap")) * 1000 /
            greatest(col("exact_union"), lit(1))).cast("long") - 50)))
      .select(col("type_a"), col("type_b"), col("users_a"),
        col("users_b"), col("exact_overlap"), col("ie_ok"),
        col("ie_excess_pm"))
      .orderBy(col("type_a"), col("type_b"))
  }

  val sketchPairOverlapSql: String =
    """WITH ut AS (
      |  SELECT DISTINCT event_type AS t, user_id FROM events),
      |pt AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS nu FROM ut GROUP BY 1),
      |ov AS (
      |  SELECT a.t AS type_a, b.t AS type_b,
      |    CAST(COUNT(*) AS BIGINT) AS exact_overlap
      |  FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.t < b.t
      |  GROUP BY 1, 2)
      |SELECT a.t AS type_a, b.t AS type_b,
      |  a.nu AS users_a, b.nu AS users_b,
      |  COALESCE(ov.exact_overlap, 0) AS exact_overlap,
      |  TRUE AS ie_ok,
      |  CAST(0 AS BIGINT) AS ie_excess_pm
      |FROM pt a JOIN pt b ON a.t < b.t
      |LEFT JOIN ov ON ov.type_a = a.t AND ov.type_b = b.t
      |ORDER BY type_a, type_b""".stripMargin

  // --------------------------------------------- holdout A/B uplift
  /** Two-proportion holdout readout: users split into control/
    * treatment by id parity (the fixture-stable stand-in for an
    * assignment hash), per-arm conversion (a REPEAT-purchaser bar:
    * ≥14 purchases — any-purchase saturates at 100% on this fixture
    * at every SF, so the readout would never discriminate; 14 is the
    * corpus median, splitting ~half the users) and revenue,
    * uplift in permille, and the pooled two-proportion z-score — the
    * "is this uplift noise?" number an experimentation readout leads
    * with. A real assignment column would replace the parity split
    * without touching the shape.
    *
    * Numerics: every input to the z-score (arm sizes, conversions)
    * is an exact integer from ONE hash-agg pass; rates and uplift
    * stay on the integer permille grid; only z itself evaluates in
    * doubles with a fixed expression order (pooled p̂, then the
    * variance product, one sqrt), snapped ⌊×1000+0.5⌋ — the
    * assortativity stance. Degenerate splits (empty arm, 0% or 100%
    * pooled conversion) guard to 0.
    *
    * Scale shape: one user-keyed hash-agg with map-side combine,
    * then a 1-row reduction — no join, no window, no shuffle beyond
    * the user grouping every lifecycle query already pays. */
  def holdoutAb(s: SparkSession, d: String): DataFrame =
    events(s, d).groupBy(col("user_id"))
      .agg(when(sum(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)) >= 14, 1L).otherwise(0L).as("conv"),
        coalesce(sum(when(col("event_type") === "purchase",
          cents(col("value"))).otherwise(0L)), lit(0L)).as("rev_cents"))
      .withColumn("arm", col("user_id") % 2)
      .agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_control"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_treat"),
        sum(when(col("arm") === 0, col("conv")).otherwise(0L))
          .as("conv_control"),
        sum(when(col("arm") === 1, col("conv")).otherwise(0L))
          .as("conv_treat"),
        sum(when(col("arm") === 0, col("rev_cents")).otherwise(0L))
          .cast("long").as("rev_control_cents"),
        sum(when(col("arm") === 1, col("rev_cents")).otherwise(0L))
          .cast("long").as("rev_treat_cents"))
      .select(col("n_control"), col("n_treat"),
        col("conv_control"), col("conv_treat"),
        expr("conv_control * 1000 DIV n_control").as("rate_control_pm"),
        expr("conv_treat * 1000 DIV n_treat").as("rate_treat_pm"),
        (expr("conv_treat * 1000 DIV n_treat") -
          expr("conv_control * 1000 DIV n_control")).as("uplift_pm"),
        expr(AbZExpr).as("z_milli"),
        col("rev_control_cents"), col("rev_treat_cents"))

  /** The shared z-score expression — one string, both engines. */
  private val AbZExpr: String =
    """CASE WHEN n_control = 0 OR n_treat = 0
      |    OR conv_control + conv_treat = 0
      |    OR conv_control + conv_treat = n_control + n_treat
      |  THEN CAST(0 AS BIGINT)
      |ELSE CAST(FLOOR((
      |    CAST(conv_treat AS DOUBLE) / CAST(n_treat AS DOUBLE)
      |    - CAST(conv_control AS DOUBLE) / CAST(n_control AS DOUBLE))
      |  / sqrt(
      |    (CAST(conv_control + conv_treat AS DOUBLE)
      |      / CAST(n_control + n_treat AS DOUBLE))
      |    * (1.0 - CAST(conv_control + conv_treat AS DOUBLE)
      |      / CAST(n_control + n_treat AS DOUBLE))
      |    * (1.0 / CAST(n_treat AS DOUBLE)
      |      + 1.0 / CAST(n_control AS DOUBLE)))
      |  * 1000 + 0.5) AS BIGINT) END""".stripMargin

  val holdoutAbSql: String =
    s"""WITH per_user AS (
       |  SELECT user_id, user_id % 2 AS arm,
       |    CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1
       |      ELSE 0 END) >= 14 THEN 1 ELSE 0 END AS conv,
       |    CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
       |      THEN ${centsSql("value")} ELSE 0 END), 0) AS BIGINT)
       |      AS rev_cents
       |  FROM events GROUP BY user_id),
       |arms AS (
       |  SELECT
       |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_control,
       |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_treat,
       |    CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT)
       |      AS conv_control,
       |    CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT)
       |      AS conv_treat,
       |    CAST(SUM(CASE WHEN arm = 0 THEN rev_cents ELSE 0 END)
       |      AS BIGINT) AS rev_control_cents,
       |    CAST(SUM(CASE WHEN arm = 1 THEN rev_cents ELSE 0 END)
       |      AS BIGINT) AS rev_treat_cents
       |  FROM per_user)
       |SELECT n_control, n_treat, conv_control, conv_treat,
       |  conv_control * 1000 // n_control AS rate_control_pm,
       |  conv_treat * 1000 // n_treat AS rate_treat_pm,
       |  conv_treat * 1000 // n_treat
       |    - conv_control * 1000 // n_control AS uplift_pm,
       |  $AbZExpr
       |    AS z_milli,
       |  rev_control_cents, rev_treat_cents
       |FROM arms""".stripMargin

  // ------------------------------------- difference-in-differences
  /** Difference-in-differences uplift — the causal companion to
    * [[holdoutAb]]: where the two-proportion test assumes the arms
    * were exchangeable, DiD nets out a PRE-EXISTING level difference
    * by differencing each arm against its own pre-period. Arms reuse
    * the holdout split (user_id % 2); the pre/post boundary is the
    * data's own midpoint day ((min+max+1) DIV 2 — the backlog-aging
    * as-of-anchor stance); the outcome is purchases per user per
    * period. did = (post_t − pre_t) − (post_c − pre_c) over the
    * per-arm user means on the milli grid — a parallel-trends
    * estimate the A/B z-score cannot give when treatment assignment
    * correlates with baseline activity.
    *
    * All-integer: cell sums are exact counts over a fixed user
    * denominator per arm (every user with any event, both periods —
    * the balanced-panel convention), means snap to milli once, and
    * the DiD is a difference of four already-snapped means — same
    * expression both engines.
    *
    * Scale shape: one 1-row bounds broadcast, one user-keyed
    * hash-agg with map-side combine, one 1-row assembly. */
  def didUplift(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("user_id"), col("event_type"),
      expr("CAST(date_trunc('day', ts) AS LONG) DIV 86400").as("day"))
    val bounds = ev.agg(min(col("day")).as("min_day"),
        max(col("day")).as("max_day"))
      .select(expr("(min_day + max_day + 1) DIV 2").as("mid_day"))
    ev.crossJoin(broadcast(bounds))
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === "purchase" &&
          col("day") < col("mid_day"), 1L).otherwise(0L)).as("pre_p"),
        sum(when(col("event_type") === "purchase" &&
          col("day") >= col("mid_day"), 1L).otherwise(0L)).as("post_p"))
      .withColumn("arm", col("user_id") % 2)
      .agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_control"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_treat"),
        sum(when(col("arm") === 0, col("pre_p")).otherwise(0L))
          .cast("long").as("pre_control"),
        sum(when(col("arm") === 0, col("post_p")).otherwise(0L))
          .cast("long").as("post_control"),
        sum(when(col("arm") === 1, col("pre_p")).otherwise(0L))
          .cast("long").as("pre_treat"),
        sum(when(col("arm") === 1, col("post_p")).otherwise(0L))
          .cast("long").as("post_treat"))
      .select(col("n_control"), col("n_treat"),
        col("pre_control"), col("post_control"),
        col("pre_treat"), col("post_treat"),
        expr(DidExpr).as("did_milli"))
  }

  /** The shared DiD expression — one string, both engines (`DIV` is
    * rewritten to `//` for the oracle). */
  private val DidExpr: String =
    """CASE WHEN n_control = 0 OR n_treat = 0 THEN CAST(0 AS BIGINT)
      |ELSE (post_treat * 1000 DIV n_treat
      |    - pre_treat * 1000 DIV n_treat)
      |  - (post_control * 1000 DIV n_control
      |    - pre_control * 1000 DIV n_control) END""".stripMargin

  val didUpliftSql: String = {
    val didSql = DidExpr.replace("DIV", "//")
    s"""WITH ev AS (
       |  SELECT user_id, event_type,
       |    CAST(FLOOR(EPOCH(DATE_TRUNC('day', ts))) AS BIGINT) // 86400
       |      AS day
       |  FROM events),
       |b AS (
       |  SELECT (MIN(day) + MAX(day) + 1) // 2 AS mid_day FROM ev),
       |per_user AS (
       |  SELECT user_id,
       |    CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
       |      AND day < mid_day THEN 1 ELSE 0 END), 0) AS BIGINT)
       |      AS pre_p,
       |    CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
       |      AND day >= mid_day THEN 1 ELSE 0 END), 0) AS BIGINT)
       |      AS post_p
       |  FROM ev CROSS JOIN b GROUP BY user_id),
       |cells AS (
       |  SELECT
       |    CAST(COUNT(*) FILTER (WHERE user_id % 2 = 0) AS BIGINT)
       |      AS n_control,
       |    CAST(COUNT(*) FILTER (WHERE user_id % 2 = 1) AS BIGINT)
       |      AS n_treat,
       |    CAST(COALESCE(SUM(pre_p) FILTER (WHERE user_id % 2 = 0), 0)
       |      AS BIGINT) AS pre_control,
       |    CAST(COALESCE(SUM(post_p) FILTER (WHERE user_id % 2 = 0), 0)
       |      AS BIGINT) AS post_control,
       |    CAST(COALESCE(SUM(pre_p) FILTER (WHERE user_id % 2 = 1), 0)
       |      AS BIGINT) AS pre_treat,
       |    CAST(COALESCE(SUM(post_p) FILTER (WHERE user_id % 2 = 1), 0)
       |      AS BIGINT) AS post_treat
       |  FROM per_user)
       |SELECT n_control, n_treat, pre_control, post_control,
       |  pre_treat, post_treat,
       |  $didSql AS did_milli
       |FROM cells""".stripMargin
  }

  // --------------------------------------------- power analysis
  /** Experiment design table — the third leg of the A/B toolkit
    * (holdoutAb measures, didUplift de-biases, THIS says whether the
    * experiment could ever have detected anything): given the
    * current arm sizes and pooled baseline conversion, the minimum
    * detectable effect at α=.05 two-sided / 80% power, and the
    * per-arm n a 10-permille uplift would need. An uplift_pm smaller
    * than mde_pm in ev_holdout_ab's output is noise by design, not
    * a finding — this query makes that call mechanical.
    *
    * Numerics: inputs are the same exact integers holdoutAb
    * aggregates; the two closed forms (z_α+z_β)·√(p(1−p)(1/n_t+1/n_c))
    * and (z_α+z_β)²·2p(1−p)/d² evaluate in doubles with ONE fixed
    * expression shape and snap once (⌊·1000+.5⌋ / ⌈·⌉) — the
    * z-score stance. Degenerate arms (empty, 0% or 100% baseline)
    * guard to 0.
    *
    * Scale shape: one user-keyed hash-agg + a 1-row reduction —
    * identical to holdoutAb's. */
  def mdePower(s: SparkSession, d: String): DataFrame =
    events(s, d).groupBy(col("user_id"))
      .agg(when(sum(when(col("event_type") === "purchase", 1L)
        .otherwise(0L)) >= 14, 1L).otherwise(0L).as("conv"))
      .withColumn("arm", col("user_id") % 2)
      .agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_control"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_treat"),
        sum(col("conv")).cast("long").as("conv_pooled"))
      .select(col("n_control"), col("n_treat"), col("conv_pooled"),
        expr("""CASE WHEN n_control + n_treat = 0 THEN CAST(0 AS BIGINT)
          |ELSE conv_pooled * 1000 DIV (n_control + n_treat) END"""
          .stripMargin).as("rate_pooled_pm"),
        expr(MdeExpr).as("mde_pm"),
        expr(NReqExpr).as("n_per_arm_for_10pm"))

  // z_.025 + z_.20 = 1.959964 + 0.841621; shared strings, both engines
  private val MdeExpr: String =
    """CASE WHEN n_control = 0 OR n_treat = 0 OR conv_pooled = 0
      |    OR conv_pooled = n_control + n_treat THEN CAST(0 AS BIGINT)
      |ELSE CAST(FLOOR(2.801585 * sqrt(
      |    (CAST(conv_pooled AS DOUBLE)
      |      / CAST(n_control + n_treat AS DOUBLE))
      |    * (1.0 - CAST(conv_pooled AS DOUBLE)
      |      / CAST(n_control + n_treat AS DOUBLE))
      |    * (1.0 / CAST(n_treat AS DOUBLE)
      |      + 1.0 / CAST(n_control AS DOUBLE)))
      |  * 1000 + 0.5) AS BIGINT) END""".stripMargin

  private val NReqExpr: String =
    """CASE WHEN n_control = 0 OR n_treat = 0 OR conv_pooled = 0
      |    OR conv_pooled = n_control + n_treat THEN CAST(0 AS BIGINT)
      |ELSE CAST(CEIL(2.801585 * 2.801585 * 2.0
      |    * (CAST(conv_pooled AS DOUBLE)
      |      / CAST(n_control + n_treat AS DOUBLE))
      |    * (1.0 - CAST(conv_pooled AS DOUBLE)
      |      / CAST(n_control + n_treat AS DOUBLE))
      |    / 0.0001) AS BIGINT) END""".stripMargin

  val mdePowerSql: String = {
    val mde = MdeExpr
    val nreq = NReqExpr
    s"""WITH per_user AS (
       |  SELECT user_id,
       |    CASE WHEN COALESCE(SUM(CASE WHEN event_type = 'purchase'
       |      THEN 1 ELSE 0 END), 0) >= 14 THEN 1 ELSE 0 END AS conv
       |  FROM events GROUP BY user_id),
       |arms AS (
       |  SELECT
       |    CAST(COUNT(*) FILTER (WHERE user_id % 2 = 0) AS BIGINT)
       |      AS n_control,
       |    CAST(COUNT(*) FILTER (WHERE user_id % 2 = 1) AS BIGINT)
       |      AS n_treat,
       |    CAST(COALESCE(SUM(conv), 0) AS BIGINT) AS conv_pooled
       |  FROM per_user)
       |SELECT n_control, n_treat, conv_pooled,
       |  CASE WHEN n_control + n_treat = 0 THEN CAST(0 AS BIGINT)
       |    ELSE conv_pooled * 1000 // (n_control + n_treat) END
       |    AS rate_pooled_pm,
       |  $mde AS mde_pm,
       |  $nreq AS n_per_arm_for_10pm
       |FROM arms""".stripMargin
  }

  // --------------------------------------------- tier migration
  /** Customer value-tier migration matrix — the lifecycle question
    * RFM's static snapshot can't answer: who moved? Users are tiered
    * 1..3 by purchase cents WITHIN each half of the observed window
    * (the DiD midpoint anchor), tier 0 = absent that half, and the
    * (pre, post) matrix counts users per cell with the post-half
    * revenue each cell now carries. The 0→n row is acquisition, the
    * n→0 row is churn-by-value-tier, off-diagonals are up/downgrades
    * — the input to any retention-spend allocation.
    *
    * Numerics: cents are exact longs; tiers are NTILE(3) over
    * (cents desc, user_id) — a total order, engine-identical —
    * computed as an exact distributed rank + arithmetic NTILE
    * ([[graft.operators.GlobalRank]], the rfm_segments stance;
    * bucket-identical to the window form so the oracle's window
    * NTILE hashes unchanged, with no single-partition sort).
    *
    * Scale shape: one purchase scan + 1-row bounds broadcast, two
    * per-(user, half) hash-aggs each ranked by range-partition +
    * zipWithIndex, one full-outer user join, a ≤16-row matrix agg. */
  def rfmMigration(s: SparkSession, d: String): DataFrame = {
    import graft.operators.GlobalRank
    val p = events(s, d).filter(col("event_type") === "purchase")
      .select(col("user_id"), cents(col("value")).as("c"),
        expr("CAST(date_trunc('day', ts) AS LONG) DIV 86400").as("day"))
    val bounds = p.agg(min(col("day")).as("min_day"),
        max(col("day")).as("max_day"))
      .select(expr("(min_day + max_day + 1) DIV 2").as("mid_day"))
    val withHalf = p.crossJoin(broadcast(bounds))
    def tiered(pre: Boolean): DataFrame = {
      val half = withHalf.filter(
        if (pre) col("day") < col("mid_day")
        else col("day") >= col("mid_day"))
        .groupBy(col("user_id")).agg(sum(col("c")).cast("long").as("cents"))
      val ranked = GlobalRank.withRowNumber(half,
        Seq(col("cents").desc, col("user_id").asc), "rk")
      val n = ranked.agg(count(lit(1)).as("n_half"))
      ranked.crossJoin(broadcast(n))
        .withColumn("tier",
          GlobalRank.ntileFromRank("rk", "n_half", 3).cast("long"))
        .drop("rk", "n_half")
    }
    tiered(pre = true)
      .select(col("user_id"), col("tier").as("tier_pre"))
      .join(tiered(pre = false)
        .select(col("user_id"), col("tier").as("tier_post"),
          col("cents").as("post_cents")), Seq("user_id"), "full_outer")
      .select(coalesce(col("tier_pre"), lit(0L)).as("tier_pre"),
        coalesce(col("tier_post"), lit(0L)).as("tier_post"),
        coalesce(col("post_cents"), lit(0L)).as("pc"))
      .groupBy(col("tier_pre"), col("tier_post"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("pc")).cast("long").as("post_cents"))
      .orderBy(col("tier_pre"), col("tier_post"))
  }

  val rfmMigrationSql: String =
    s"""WITH p AS (
       |  SELECT user_id, ${centsSql("value")} AS c,
       |    CAST(FLOOR(EPOCH(DATE_TRUNC('day', ts))) AS BIGINT) // 86400
       |      AS day
       |  FROM events WHERE event_type = 'purchase'),
       |b AS (SELECT (MIN(day) + MAX(day) + 1) // 2 AS mid_day FROM p),
       |pre AS (
       |  SELECT user_id, CAST(SUM(c) AS BIGINT) AS cents
       |  FROM p CROSS JOIN b WHERE day < mid_day GROUP BY user_id),
       |post AS (
       |  SELECT user_id, CAST(SUM(c) AS BIGINT) AS cents
       |  FROM p CROSS JOIN b WHERE day >= mid_day GROUP BY user_id),
       |tpre AS (
       |  SELECT user_id, CAST(NTILE(3) OVER (
       |    ORDER BY cents DESC, user_id ASC) AS BIGINT) AS tier_pre
       |  FROM pre),
       |tpost AS (
       |  SELECT user_id, CAST(NTILE(3) OVER (
       |    ORDER BY cents DESC, user_id ASC) AS BIGINT) AS tier_post,
       |    cents AS post_cents
       |  FROM post),
       |m AS (
       |  SELECT COALESCE(a.tier_pre, 0) AS tier_pre,
       |    COALESCE(o.tier_post, 0) AS tier_post,
       |    COALESCE(o.post_cents, 0) AS pc
       |  FROM tpre a FULL JOIN tpost o ON a.user_id = o.user_id)
       |SELECT tier_pre, tier_post, COUNT(*) AS n_users,
       |  CAST(SUM(pc) AS BIGINT) AS post_cents
       |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------- sample-ratio mismatch
  /** SRM check — the A/B guardrail that runs BEFORE any uplift is
    * read: under a 50/50 assignment the arm-size difference is a
    * binomial z = (n_t − n_c)/√n; |z| ≥ 3 means the assignment or
    * logging pipeline is dropping one arm's users (redirect bugs,
    * bot filters firing asymmetrically) and every downstream metric
    * is poisoned regardless of its own p-value. The industry-standard
    * hygiene gate for the holdout/DiD/MDE toolkit.
    *
    * Numerics: arm counts are exact; z evaluates once in doubles
    * with a fixed shape and snaps to milli (the z-score stance).
    *
    * Scale shape: one user-keyed distinct-agg + 1-row reduction. */
  def abSrm(s: SparkSession, d: String): DataFrame =
    events(s, d).select(col("user_id")).distinct()
      .agg(
        sum(when(col("user_id") % 2 === 0, 1L).otherwise(0L))
          .as("n_control"),
        sum(when(col("user_id") % 2 === 1, 1L).otherwise(0L))
          .as("n_treat"))
      .select(col("n_control"), col("n_treat"),
        (col("n_treat") - col("n_control")).as("delta"),
        expr(SrmZExpr).as("z_milli"))
      .withColumn("srm_detected",
        abs(col("z_milli")) >= 3000L)

  private val SrmZExpr: String =
    """CASE WHEN n_control + n_treat = 0 THEN CAST(0 AS BIGINT)
      |ELSE CAST(FLOOR(
      |    CAST(n_treat - n_control AS DOUBLE)
      |    / sqrt(CAST(n_treat + n_control AS DOUBLE))
      |  * 1000 + 0.5) AS BIGINT) END""".stripMargin

  val abSrmSql: String =
    s"""WITH u AS (SELECT DISTINCT user_id FROM events),
       |arms AS (
       |  SELECT
       |    CAST(COUNT(*) FILTER (WHERE user_id % 2 = 0) AS BIGINT)
       |      AS n_control,
       |    CAST(COUNT(*) FILTER (WHERE user_id % 2 = 1) AS BIGINT)
       |      AS n_treat
       |  FROM u)
       |SELECT n_control, n_treat, n_treat - n_control AS delta,
       |  $SrmZExpr AS z_milli,
       |  ABS($SrmZExpr) >= 3000 AS srm_detected
       |FROM arms""".stripMargin

  // --------------------------------------------- growth accounting
  /** Weekly growth accounting — the standard decomposition of "actives
    * went up/down" into the four flows that explain it: NEW (first
    * week ever), RETAINED (also active the week before), RESURRECTED
    * (active before, but not last week), and CHURNED (active last
    * week, gone this week; attributed to the week they went missing).
    * The identity actives(w) = new + retained + resurrected and
    * churned(w) = actives(w−1) − retained(w) holds row-by-row, and
    * the quick ratio (new+resurrected)/churned says whether growth is
    * acquisition or leak-plugging.
    *
    * Scale shape: one (user, week) distinct, a per-user lag window
    * (the user is the parallel unit), a per-week hash-agg, then a
    * weeks-sized window for the churn lag — weeks ≪ users, so the
    * only wide state is the distinct. All exact integers; quick
    * ratio on the milli grid.
    *
    * First week: every user is NEW and churned is 0 by definition
    * (no prior week to lose anyone from). */
  def growthAccounting(s: SparkSession, d: String): DataFrame = {
    val uw = events(s, d).select(col("user_id"),
        expr("CAST(date_trunc('day', ts) AS LONG) DIV (86400 * 7)")
          .as("week"))
      .distinct()
    val lagW = Window.partitionBy(col("user_id")).orderBy(col("week"))
    val classed = uw
      .withColumn("prev_w", lag(col("week"), 1).over(lagW))
      .select(col("week"),
        when(col("prev_w").isNull, "new")
          .when(col("prev_w") === col("week") - 1, "retained")
          .otherwise("resurrected").as("cls"))
    val perWeek = classed.groupBy(col("week"))
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("cls") === "new", 1L).otherwise(0L)).as("n_new"),
        sum(when(col("cls") === "retained", 1L).otherwise(0L))
          .as("n_retained"),
        sum(when(col("cls") === "resurrected", 1L).otherwise(0L))
          .as("n_resurrected"))
    val wW = Window.orderBy(col("week"))
    perWeek
      .withColumn("n_churned",
        coalesce(lag(col("n_active"), 1).over(wW), lit(0L))
          - col("n_retained"))
      .withColumn("quick_ratio_milli", expr(
        """CASE WHEN n_churned <= 0 THEN CAST(0 AS BIGINT)
          |ELSE (n_new + n_resurrected) * 1000 DIV n_churned END"""
          .stripMargin))
      .orderBy(col("week"))
  }

  val growthAccountingSql: String =
    """WITH uw AS (
      |  SELECT DISTINCT user_id,
      |    CAST(FLOOR(EPOCH(DATE_TRUNC('day', ts))) AS BIGINT)
      |      // (86400 * 7) AS week
      |  FROM events),
      |classed AS (
      |  SELECT week,
      |    CASE WHEN LAG(week) OVER (PARTITION BY user_id ORDER BY week)
      |           IS NULL THEN 'new'
      |         WHEN LAG(week) OVER (PARTITION BY user_id ORDER BY week)
      |           = week - 1 THEN 'retained'
      |         ELSE 'resurrected' END AS cls
      |  FROM uw),
      |per_week AS (
      |  SELECT week, CAST(COUNT(*) AS BIGINT) AS n_active,
      |    CAST(COUNT(*) FILTER (WHERE cls = 'new') AS BIGINT) AS n_new,
      |    CAST(COUNT(*) FILTER (WHERE cls = 'retained') AS BIGINT)
      |      AS n_retained,
      |    CAST(COUNT(*) FILTER (WHERE cls = 'resurrected') AS BIGINT)
      |      AS n_resurrected
      |  FROM classed GROUP BY week),
      |flows AS (
      |  SELECT week, n_active, n_new, n_retained, n_resurrected,
      |    COALESCE(LAG(n_active) OVER (ORDER BY week), 0) - n_retained
      |      AS n_churned
      |  FROM per_week)
      |SELECT week, n_active, n_new, n_retained, n_resurrected,
      |  n_churned,
      |  CASE WHEN n_churned <= 0 THEN CAST(0 AS BIGINT)
      |    ELSE (n_new + n_resurrected) * 1000 // n_churned END
      |    AS quick_ratio_milli
      |FROM flows ORDER BY week""".stripMargin

  // ------------------------------------------- retention half-life
  /** The single number behind every retention triangle: fit
    * share(o) ≈ A·e^(−λo) over the pooled weekly retention curve and
    * report the HALF-LIFE ln2/λ in centi-weeks — "how many weeks
    * until half the surviving users are gone". Eligibility is
    * censoring-aware (offset o only counts cohorts the data can
    * still observe at o, the hazard-table stance), so late cohorts
    * don't drag the tail down artificially.
    *
    * Numerics: the Zipf OLS machinery — y = ⌊ln(retained/eligible)·
    * 1e6⌋ per offset (one double ratio, one floor), x = the integer
    * offset; the slope is exact-integer OLS over ≤ weeks points, and
    * half-life = 69314700 DIV (−slope) (ln2·1e6·100). Flat or
    * rising curves guard to 0.
    *
    * Scale shape: (user, week) distinct + per-user min (cohort) —
    * the growth-accounting substrate — then everything runs on
    * weeks-sized frames (cohort sizes × offsets). */
  def retentionHalflife(s: SparkSession, d: String): DataFrame = {
    val uw = events(s, d).select(col("user_id"),
        expr("CAST(date_trunc('day', ts) AS LONG) DIV (86400 * 7)")
          .as("week"))
      .distinct()
    val cohort = uw.groupBy(col("user_id"))
      .agg(min(col("week")).as("cw"))
    val maxw = uw.agg(max(col("week")).as("mw"))
    val retained = uw.join(cohort, "user_id")
      .select((col("week") - col("cw")).as("o"))
      .filter(col("o") >= 1)
      .groupBy(col("o")).agg(count(lit(1)).as("retained"))
    val cohortSizes = cohort.groupBy(col("cw"))
      .agg(count(lit(1)).as("sz"))
    // eligible(o) = Σ sizes of cohorts observable at offset o — a
    // weeks×offsets inequality join over two weeks-sized frames
    val eligible = retained.select(col("o"))
      .join(broadcast(cohortSizes).crossJoin(broadcast(maxw)),
        col("cw") + col("o") <= col("mw"))
      .groupBy(col("o")).agg(sum(col("sz")).cast("long").as("eligible"))
    val curve = retained.join(eligible, "o")
      .filter(col("retained") > 0 && col("eligible") > 0)
      .select(col("o").cast("long").as("x"),
        floor(log(col("retained").cast("double") /
          col("eligible").cast("double")) * lit(1e6)).cast("long").as("y"))
    curve.agg(count(lit(1)).as("n_offsets"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("n_offsets"),
        expr("""CASE WHEN n_offsets < 2
          |  OR n_offsets * sxx - sx * sx = 0 THEN CAST(0 AS BIGINT)
          |ELSE (n_offsets * sxy - sx * sy)
          |  DIV (n_offsets * sxx - sx * sx) END""".stripMargin)
          .as("slope_micro"))
      .withColumn("halflife_centiweeks", expr(
        """CASE WHEN slope_micro >= 0 THEN CAST(0 AS BIGINT)
          |ELSE 69314700 DIV (-slope_micro) END""".stripMargin))
  }

  val retentionHalflifeSql: String =
    """WITH uw AS (
      |  SELECT DISTINCT user_id,
      |    CAST(FLOOR(EPOCH(DATE_TRUNC('day', ts))) AS BIGINT)
      |      // (86400 * 7) AS week
      |  FROM events),
      |cohort AS (SELECT user_id, MIN(week) AS cw FROM uw
      |  GROUP BY user_id),
      |mx AS (SELECT MAX(week) AS mw FROM uw),
      |ret AS (
      |  SELECT u.week - c.cw AS o, CAST(COUNT(*) AS BIGINT) AS retained
      |  FROM uw u JOIN cohort c ON u.user_id = c.user_id
      |  WHERE u.week - c.cw >= 1 GROUP BY 1),
      |cs AS (SELECT cw, CAST(COUNT(*) AS BIGINT) AS sz FROM cohort
      |  GROUP BY cw),
      |elig AS (
      |  SELECT r.o, CAST(SUM(cs.sz) AS BIGINT) AS eligible
      |  FROM (SELECT o FROM ret) r
      |  JOIN cs ON TRUE CROSS JOIN mx
      |  WHERE cs.cw + r.o <= mx.mw
      |  GROUP BY r.o),
      |curve AS (
      |  SELECT CAST(r.o AS BIGINT) AS x,
      |    CAST(FLOOR(LN(CAST(r.retained AS DOUBLE)
      |      / CAST(e.eligible AS DOUBLE)) * 1000000) AS BIGINT) AS y
      |  FROM ret r JOIN elig e ON r.o = e.o
      |  WHERE r.retained > 0 AND e.eligible > 0),
      |m AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_offsets,
      |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |    CAST(SUM(x*y) AS BIGINT) AS sxy,
      |    CAST(SUM(x*x) AS BIGINT) AS sxx
      |  FROM curve),
      |sl AS (
      |  SELECT n_offsets,
      |    CASE WHEN n_offsets < 2 OR n_offsets * sxx - sx * sx = 0
      |      THEN CAST(0 AS BIGINT)
      |      ELSE (n_offsets * sxy - sx * sy)
      |        // (n_offsets * sxx - sx * sx) END AS slope_micro
      |  FROM m)
      |SELECT n_offsets, slope_micro,
      |  CASE WHEN slope_micro >= 0 THEN CAST(0 AS BIGINT)
      |    ELSE 69314700 // (-slope_micro) END AS halflife_centiweeks
      |FROM sl""".stripMargin

  // ------------------------------------------------ tail index
  /** Hill estimator of the user-activity tail exponent — the number
    * behind "how heavy are our heavy users": α̂ = k / Σᵢ ln(x₍ᵢ₎/x₍ₖ₊₁₎)
    * over the k most active users. power_users_pareto reports the
    * top decile's SHARE; the tail index says how that share scales —
    * α < 2 means activity concentration has no finite variance and
    * every per-user cap/salt decision downstream should assume
    * mega-keys. k = min(100, users−1): the estimator runs on a
    * bounded order-statistics sample at any corpus size.
    *
    * Numerics: per-rank ⌊ln(x/x_ref)·1e6⌋ (one double ratio of two
    * exact counts), summed as integers; α̂ lands on the milli grid
    * as k·1e9 DIV Σ. Degenerate tails (all counts equal → Σ = 0)
    * guard to 0.
    *
    * Scale shape: one user hash-agg, a TakeOrdered(101) heap, a
    * ≤101-row rank window, a 1-row reduction. */
  def tailIndex(s: SparkSession, d: String): DataFrame = {
    val counts = events(s, d).groupBy(col("user_id"))
      .agg(count(lit(1)).as("x"))
    val top = counts.orderBy(col("x").desc, col("user_id"))
      .limit(101)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("x").desc, col("user_id"))))
    val kRow = top.agg(least(lit(100L), count(lit(1)) - 1).as("k"))
    val withK = top.crossJoin(broadcast(kRow))
    val xref = withK.filter(col("rk") === col("k") + 1)
      .select(col("x").as("x_ref"))
    withK.join(broadcast(xref))
      .filter(col("rk") <= col("k"))
      .select(col("k"), col("x_ref"),
        floor(log(col("x").cast("double") / col("x_ref").cast("double"))
          * lit(1e6)).cast("long").as("term"))
      .groupBy(col("k"), col("x_ref"))
      .agg(sum(col("term")).cast("long").as("sum_micro"))
      .select(col("k"), col("x_ref"), col("sum_micro"),
        expr("""CASE WHEN sum_micro <= 0 THEN CAST(0 AS BIGINT)
          |ELSE k * 1000000000 DIV sum_micro END""".stripMargin)
          .as("alpha_milli"))
  }

  val tailIndexSql: String =
    """WITH counts AS (
      |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x
      |  FROM events GROUP BY user_id),
      |top AS (
      |  SELECT x, ROW_NUMBER() OVER (ORDER BY x DESC, user_id) AS rk
      |  FROM counts ORDER BY x DESC, user_id LIMIT 101),
      |kk AS (
      |  SELECT LEAST(CAST(100 AS BIGINT), CAST(COUNT(*) AS BIGINT) - 1)
      |    AS k FROM top),
      |xr AS (
      |  SELECT t.x AS x_ref FROM top t CROSS JOIN kk
      |  WHERE t.rk = kk.k + 1),
      |terms AS (
      |  SELECT kk.k, xr.x_ref,
      |    CAST(FLOOR(LN(CAST(t.x AS DOUBLE) / CAST(xr.x_ref AS DOUBLE))
      |      * 1000000) AS BIGINT) AS term
      |  FROM top t CROSS JOIN kk CROSS JOIN xr WHERE t.rk <= kk.k),
      |agg AS (
      |  SELECT k, x_ref, CAST(SUM(term) AS BIGINT) AS sum_micro
      |  FROM terms GROUP BY k, x_ref)
      |SELECT k, x_ref, sum_micro,
      |  CASE WHEN sum_micro <= 0 THEN CAST(0 AS BIGINT)
      |    ELSE k * 1000000000 // sum_micro END AS alpha_milli
      |FROM agg""".stripMargin

  // ------------------------------------ CUPED variance reduction
  /** CUPED-adjusted A/B readout (Deng et al. 2013): the pre-period
    * spend of each user is used as a control covariate, removing the
    * between-user variance that a raw treatment/control revenue diff
    * drowns in — the standard trick that cuts experiment runtimes
    * 30–50% in production experimentation stacks. θ = cov(pre, post)
    * / var(pre) over ALL users (pooled, the standard form),
    * adjusted_y = y − θ·(x − mean(x)); the query reports the raw and
    * adjusted uplift side by side plus the achieved variance
    * reduction (ρ² in permille) so the experimenter sees exactly how
    * much sensitivity the covariate bought.
    *
    * Integer discipline: pre/post are exact cents; means are integer
    * DIV; the centered second moments run on DECIMAL(38) products
    * (n·spend² passes int64 at corpus scale); θ snaps to the 1e-6
    * grid with the exact (a − a%b)/b truncating division, and every
    * adjusted value is then an exact integer in micro-cents. Only
    * ρ² evaluates in doubles (fixed expression order, snap-to-milli
    * — the z-score stance).
    *
    * Scale shape: one user-keyed hash-agg over events, then three
    * 1-row broadcast passes over the USER frame (bounds, means,
    * moments) — the DiD/holdout discipline with one extra moment
    * pass. Nothing wider than the reduced user frame ever sorts or
    * joins. */
  def cupedAdjusted(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("user_id"), col("event_type"),
      cents(col("value")).cast("long").as("c"),
      expr("CAST(date_trunc('day', ts) AS LONG) DIV 86400").as("day"))
    val bounds = ev.agg(min(col("day")).as("min_day"),
        max(col("day")).as("max_day"))
      .select(expr("(min_day + max_day + 1) DIV 2").as("mid_day"))
    val per = graft.operators.Materialize.eager(
      ev.crossJoin(broadcast(bounds))
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("event_type") === "purchase" &&
            col("day") < col("mid_day"), col("c")).otherwise(0L)).as("x"),
          sum(when(col("event_type") === "purchase" &&
            col("day") >= col("mid_day"), col("c")).otherwise(0L)).as("y"))
        .withColumn("arm", col("user_id") % 2))
    val means = per.agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"))
      .select(col("n"), expr("sx DIV n").as("mx"), expr("sy DIV n").as("my"))
    val dx = (col("x") - col("mx")).cast("decimal(19,0)")
    val dy = (col("y") - col("my")).cast("decimal(19,0)")
    val moments = per.crossJoin(broadcast(means))
      .agg(max(col("mx")).as("mx"),
        sum(dx * dx).as("sxx"), sum(dx * dy).as("sxy"),
        sum(dy * dy).as("syy"))
      .withColumn("ta", col("sxy") * lit(1000000L))
      .withColumn("theta_micro", when(col("sxx") === 0, 0L)
        .otherwise(((col("ta") - col("ta") % col("sxx")) / col("sxx"))
          .cast("long")))
    val arms = per
      .crossJoin(broadcast(moments.select(col("mx"), col("theta_micro"),
        col("sxx"), col("sxy"), col("syy"))))
      // decimal grid (ADVICE r9): in int64, theta_micro·(x−mx) wraps
      // silently in Spark but raises in DuckDB for a user with
      // pre-period imbalance beyond ~$92k — the moments already run
      // on DECIMAL(38)/HUGEINT, so the adjusted values do too; the
      // final per-arm means cast back to BIGINT in the shared expr
      .withColumn("yadj_e6",
        col("y").cast("decimal(19,0)") * lit(1000000L) -
          col("theta_micro").cast("decimal(19,0)") *
            (col("x") - col("mx")).cast("decimal(19,0)"))
      .agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_control"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_treat"),
        sum(when(col("arm") === 0, col("y")).otherwise(0L)).as("sy_c"),
        sum(when(col("arm") === 1, col("y")).otherwise(0L)).as("sy_t"),
        sum(when(col("arm") === 0, col("yadj_e6")).otherwise(0L))
          .as("sadj_c"),
        sum(when(col("arm") === 1, col("yadj_e6")).otherwise(0L))
          .as("sadj_t"),
        max(col("theta_micro")).as("theta_micro"),
        max(col("sxx")).as("sxx"), max(col("sxy")).as("sxy"),
        max(col("syy")).as("syy"))
    arms.select(
      col("n_control"), col("n_treat"), col("theta_micro"),
      expr(CupedUpliftRawExpr).as("uplift_raw_e6"),
      expr(CupedUpliftAdjExpr).as("uplift_cuped_e6"),
      expr(CupedVrExpr).as("var_reduction_pm"))
  }

  private val CupedUpliftRawExpr: String =
    """CASE WHEN n_control = 0 OR n_treat = 0 THEN CAST(0 AS BIGINT)
      |ELSE (sy_t * 1000000) DIV n_treat
      |   - (sy_c * 1000000) DIV n_control END""".stripMargin
  private val CupedUpliftAdjExpr: String =
    """CASE WHEN n_control = 0 OR n_treat = 0 THEN CAST(0 AS BIGINT)
      |ELSE CAST(sadj_t DIV n_treat - sadj_c DIV n_control AS BIGINT)
      |END""".stripMargin
  private val CupedVrExpr: String =
    """CASE WHEN sxx = 0 OR syy = 0 THEN CAST(0 AS BIGINT)
      |ELSE CAST(FLOOR(1000.0
      |  * (CAST(sxy AS DOUBLE) * CAST(sxy AS DOUBLE))
      |  / (CAST(sxx AS DOUBLE) * CAST(syy AS DOUBLE))) AS BIGINT) END"""
      .stripMargin

  val cupedAdjustedSql: String =
    s"""WITH ev AS (
      |  SELECT user_id, event_type, ${centsSql("value")} AS c,
      |    CAST(FLOOR(EPOCH(date_trunc('day', ts))) AS BIGINT) // 86400
      |      AS day
      |  FROM events),
      |bounds AS (
      |  SELECT (MIN(day) + MAX(day) + 1) // 2 AS mid_day FROM ev),
      |per AS (
      |  SELECT user_id, user_id % 2 AS arm,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' AND day < mid_day
      |      THEN c ELSE 0 END) AS BIGINT) AS x,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' AND day >= mid_day
      |      THEN c ELSE 0 END) AS BIGINT) AS y
      |  FROM ev CROSS JOIN bounds GROUP BY 1, 2),
      |means AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS BIGINT) // COUNT(*) AS mx,
      |    CAST(SUM(y) AS BIGINT) // COUNT(*) AS my
      |  FROM per),
      |moments AS (
      |  SELECT mx,
      |    SUM(CAST(x - mx AS HUGEINT) * (x - mx)) AS sxx,
      |    SUM(CAST(x - mx AS HUGEINT) * (y - my)) AS sxy,
      |    SUM(CAST(y - my AS HUGEINT) * (y - my)) AS syy
      |  FROM per CROSS JOIN means GROUP BY mx),
      |theta AS (
      |  SELECT mx, sxx, sxy, syy,
      |    CASE WHEN sxx = 0 THEN CAST(0 AS BIGINT)
      |      ELSE CAST((sxy * 1000000) // sxx AS BIGINT) END AS theta_micro
      |  FROM moments),
      |arms AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_control,
      |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_treat,
      |    CAST(SUM(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT)
      |      AS sy_c,
      |    CAST(SUM(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT)
      |      AS sy_t,
    |    SUM(CASE WHEN arm = 0 THEN CAST(y AS HUGEINT) * 1000000
      |      - CAST(theta_micro AS HUGEINT) * (x - mx)
      |      ELSE 0 END) AS sadj_c,
      |    SUM(CASE WHEN arm = 1 THEN CAST(y AS HUGEINT) * 1000000
      |      - CAST(theta_micro AS HUGEINT) * (x - mx)
      |      ELSE 0 END) AS sadj_t,
      |    MAX(theta_micro) AS theta_micro,
      |    MAX(sxx) AS sxx, MAX(sxy) AS sxy, MAX(syy) AS syy
      |  FROM per CROSS JOIN theta)
      |SELECT n_control, n_treat, theta_micro,
      |  ${CupedUpliftRawExpr.replace("DIV", "//")} AS uplift_raw_e6,
      |  ${CupedUpliftAdjExpr.replace("DIV", "//")} AS uplift_cuped_e6,
      |  ${CupedVrExpr} AS var_reduction_pm
      |FROM arms""".stripMargin

  // ------------------------------------ inequality index
  /** Gini concentration of activity — the scalar inequality summary
    * that complements `ev_power_users_pareto`'s decile curve: one
    * number per metric answering "how unequal is the load" for event
    * volume and for purchase spend (over purchasers). A Gini drift
    * upward between snapshots is the canonical bot-flood /
    * whale-dependency alarm a product-analytics stack watches.
    *
    * Exact rank form on sorted values x_(1)≤…≤x_(n):
    * G = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx), snapped to the 1e-6 grid
    * with DIV (truncation — both engines truncate toward zero).
    * Ties need no care: within a tied block Σ i·x = x·Σ i is
    * invariant under any tie order, so the user_id tiebreak is for
    * rank determinism only, not the result.
    *
    * Scale shape: the ranked frame is USERS (one hash-agg reduction
    * of events), not events; the rank is one window sort over that
    * reduced frame — at cluster scale a range-partitioned sort. The
    * i·x products run on a DECIMAL(38) grid because n·Σx exceeds
    * int64 once users×volume passes ~9e18 (real at 100 TB); the
    * final Gini is back in int64 by construction (|G_e6| ≤ 1e6). */
  def giniConcentration(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val byEvents = ev.groupBy(col("user_id"))
      .agg(count(lit(1)).as("x"))
      .withColumn("metric", lit("events"))
    val bySpend = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(sum(cents(col("value"))).cast("long").as("x"))
      .filter(col("x") > 0)
      .withColumn("metric", lit("purchase_cents"))
    val per = byEvents.unionByName(bySpend)
    val w = Window.partitionBy(col("metric"))
      .orderBy(col("x"), col("user_id"))
    per.withColumn("i", row_number().over(w))
      .groupBy(col("metric"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("x")).as("total"),
        sum(col("i").cast("decimal(19,0)") * col("x").cast("decimal(19,0)"))
          .as("ix"))
      // exact truncating division on decimals: (a - a % b) / b is
      // exactly divisible, so the decimal divide introduces no
      // rounding — matches DuckDB's integer // bit-for-bit
      .withColumn("a",
        (expr("2 * ix") -
          (col("n_users").cast("decimal(19,0)") + lit(1)) *
            col("total").cast("decimal(19,0)")) * lit(1000000L))
      .withColumn("b",
        col("n_users").cast("decimal(19,0)") *
          col("total").cast("decimal(19,0)"))
      .withColumn("gini_e6",
        ((col("a") - col("a") % col("b")) / col("b")).cast("long"))
      .select(col("metric"), col("n_users"), col("total"), col("gini_e6"))
      .orderBy(col("metric"))
  }

  val giniConcentrationSql: String =
    s"""WITH per AS (
      |  SELECT 'events' AS metric, user_id, CAST(COUNT(*) AS BIGINT) AS x
      |  FROM events GROUP BY 2
      |  UNION ALL
      |  SELECT 'purchase_cents' AS metric, user_id,
      |    CAST(SUM(${centsSql("value")}) AS BIGINT) AS x
      |  FROM events WHERE event_type = 'purchase' GROUP BY 2
      |  HAVING CAST(SUM(${centsSql("value")}) AS BIGINT) > 0),
      |rk AS (
      |  SELECT metric, x,
      |    ROW_NUMBER() OVER (PARTITION BY metric ORDER BY x, user_id) AS i
      |  FROM per),
      |agg AS (
      |  SELECT metric, CAST(COUNT(*) AS BIGINT) AS n_users,
      |    CAST(SUM(x) AS BIGINT) AS total,
      |    SUM(CAST(i AS HUGEINT) * x) AS ix
      |  FROM rk GROUP BY 1)
      |SELECT metric, n_users, total,
      |  CAST(((2 * ix - (CAST(n_users AS HUGEINT) + 1) * total) * 1000000)
      |    // (CAST(n_users AS HUGEINT) * total) AS BIGINT) AS gini_e6
      |FROM agg ORDER BY metric""".stripMargin

  val queries: Map[String, Query] = Map(
    "ev_click_to_purchase" -> Query(clickToPurchase, clickToPurchaseSql),
    "ev_novelty_effect" -> Query(noveltyEffect, noveltyEffectSql),
    "ev_gini_concentration" -> Query(giniConcentration, giniConcentrationSql),
    "ev_cuped_adjusted" -> Query(cupedAdjusted, cupedAdjustedSql),
    "ev_tail_index" -> Query(tailIndex, tailIndexSql),
    "ev_retention_halflife" -> Query(retentionHalflife, retentionHalflifeSql),
    "ev_growth_accounting" -> Query(growthAccounting, growthAccountingSql),
    "ev_attribution_position" -> Query(attributionPosition, attributionPositionSql),
    "ev_ab_srm" -> Query(abSrm, abSrmSql),
    "ev_rfm_migration" -> Query(rfmMigration, rfmMigrationSql),
    "ev_mde_power" -> Query(mdePower, mdePowerSql),
    "ev_did_uplift" -> Query(didUplift, didUpliftSql),
    "ev_holdout_ab" -> Query(holdoutAb, holdoutAbSql),
    "sketch_daily_merge" -> Query(sketchDailyMerge, sketchDailyMergeSql),
    "sketch_quantile_merge" -> Query(sketchQuantileMerge, sketchQuantileMergeSql),
    "sketch_pair_overlap" -> Query(sketchPairOverlap, sketchPairOverlapSql),
    "ev_ltv_cohorts" -> Query(ltvCohorts, ltvCohortsSql),
    "ev_new_vs_returning" -> Query(newVsReturning, newVsReturningSql),
    "ev_power_users_pareto" -> Query(powerUsersPareto, powerUsersParetoSql),
    "ev_rolling_active_users" -> Query(rollingActiveUsers, rollingActiveUsersSql),
    "ev_concurrency_curve" -> Query(concurrencyCurve, concurrencyCurveSql),
    "ev_rfm_segments" -> Query(rfmSegments, rfmSegmentsSql),
    "ev_attribution_last_touch" -> Query(attributionLastTouch, attributionLastTouchSql),
    "ev_attribution_touchpoints" -> Query(attributionTouchpoints, attributionTouchpointsSql),
    "ev_attribution_time_decay" -> Query(attributionTimeDecay, attributionTimeDecaySql),
    "ev_cusum_changepoint" -> Query(cusumChangepoint, cusumChangepointSql))
}
