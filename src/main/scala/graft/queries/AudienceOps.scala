package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._
import graft.Query

/** Audience/seasonality analytics over the events stream and dedup
  * survivorship over documents — the "who overlaps with whom, when do
  * they show up, which copy do we keep" tier a consumer analytics +
  * training-data stack runs at full-corpus scale.
  *
  * Reference scope: per-key counting descendants of the reference's
  * wc pattern (/root/reference/mr-main/mrapps/wc.go:15-30); the
  * survivorship pick mirrors the reduce-side "choose one value per
  * key" discipline of the indexer (mrapps/indexer.go:17-38).
  *
  * All ratio outputs are integer permille (n*1000 DIV total) so both
  * engines agree bit-for-bit.
  */
object AudienceOps {

  // ------------------------------------------- seasonality profile
  /** Hour-of-day activity profile per event type: observed hourly
    * count vs the uniform expectation (total/24), as a permille
    * index. 1000 = flat; >1000 = peak hour. This is the evidence a
    * capacity planner (or a trainer picking low-traffic windows for
    * batch jobs) reads before scheduling anything.
    *
    * Scale shape: one hash-agg over (type, hour) — 24×|types| cells,
    * map-side combined — then a broadcast equi-join of the per-type
    * totals (|types| rows). No window, no self-join; linear scan at
    * any corpus size. Session TZ is UTC, so `hour(ts)` matches
    * DuckDB's EXTRACT(HOUR) on the naive micros. */
  def seasonalityProfile(s: SparkSession, d: String): DataFrame = {
    val counts = events(s, d)
      .select(col("event_type"), hour(col("ts")).cast("int").as("hr"))
      .groupBy(col("event_type"), col("hr"))
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy(col("event_type"))
      .agg(sum(col("n")).as("total"))
    counts.join(broadcast(totals), Seq("event_type"))
      .withColumn("index_permille", expr("n * 24000 DIV total"))
      .select(col("event_type"), col("hr"), col("n"), col("index_permille"))
      .orderBy(col("event_type"), col("hr"))
  }

  val seasonalityProfileSql: String =
    """WITH c AS (
      |  SELECT event_type, CAST(EXTRACT(HOUR FROM ts) AS INT) AS hr,
      |    COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |t AS (SELECT event_type, SUM(n) AS total FROM c GROUP BY 1)
      |SELECT c.event_type, c.hr, c.n,
      |  CAST(c.n * 24000 // t.total AS BIGINT) AS index_permille
      |FROM c JOIN t USING (event_type)
      |ORDER BY event_type, hr""".stripMargin

  // --------------------------------------------- audience overlap
  /** Pairwise audience overlap between event types: |users doing
    * both| and the Jaccard similarity of the two user sets, permille.
    * The "do buyers also browse?" audit, and the same shape as a
    * cross-dataset contamination check (do two corpus sources share
    * contributors?).
    *
    * Scale shape: DISTINCT (type, user) first — the only corpus-sized
    * pass — then a self-join keyed on user_id: per-user fan-out is
    * bounded by |types|² (a compile-time-small constant), never a
    * types×types×users blow-up, and the per-type set sizes join back
    * broadcast. At 100 TB the distinct is the shuffle; everything
    * after is proportional to distinct pairs. */
  def audienceOverlap(s: SparkSession, d: String): DataFrame = {
    val tu = events(s, d).select(col("event_type"), col("user_id")).distinct()
    val both = tu.as("a").join(tu.as("b"), Seq("user_id"))
      .filter(col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    val sizes = tu.groupBy(col("event_type")).agg(count(lit(1)).as("n_users"))
    both
      .join(broadcast(sizes.withColumnRenamed("event_type", "type_a")
        .withColumnRenamed("n_users", "n_a")), Seq("type_a"))
      .join(broadcast(sizes.withColumnRenamed("event_type", "type_b")
        .withColumnRenamed("n_users", "n_b")), Seq("type_b"))
      .withColumn("jaccard_permille",
        expr("n_both * 1000 DIV (n_a + n_b - n_both)"))
      .select(col("type_a"), col("type_b"), col("n_both"), col("n_a"),
        col("n_b"), col("jaccard_permille"))
      .orderBy(col("type_a"), col("type_b"))
  }

  val audienceOverlapSql: String =
    """WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
      |ov AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    COUNT(*) AS n_both
      |  FROM tu a JOIN tu b USING (user_id)
      |  WHERE a.event_type < b.event_type
      |  GROUP BY 1, 2),
      |s AS (SELECT event_type, COUNT(*) AS n_users FROM tu GROUP BY 1)
      |SELECT type_a, type_b, n_both, sa.n_users AS n_a, sb.n_users AS n_b,
      |  CAST(n_both * 1000 // (sa.n_users + sb.n_users - n_both) AS BIGINT)
      |    AS jaccard_permille
      |FROM ov
      |JOIN s sa ON sa.event_type = type_a
      |JOIN s sb ON sb.event_type = type_b
      |ORDER BY type_a, type_b""".stripMargin

  // ----------------------------------------- dedup survivorship
  /** Survivorship accounting for exact dedup: within each md5(text)
    * duplicate cluster the canonical copy is the longest document
    * (ties broken by lowest doc_id — a deterministic total order),
    * and every other copy is dropped. Reported per source: documents
    * seen, survivors kept, duplicates dropped, and characters
    * dropped — the "what did dedup cost each provider" ledger that
    * accompanies any corpus-curation run.
    *
    * Scale shape: one window (ROW_NUMBER) over the md5-hash
    * partitioning — a single shuffle keyed on the 128-bit digest, so
    * clusters land whole on one task regardless of corpus size — then
    * a per-source hash-agg of the rank-1/rank-2+ split. Never joins
    * the corpus to itself. */
  def dedupSurvivorship(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("h"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    documents(s, d)
      .withColumn("h", md5(col("text")))
      .withColumn("rn", row_number().over(w))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_survivors"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_dropped"),
        sum(when(col("rn") > 1, col("n_chars")).otherwise(0L))
          .as("chars_dropped"))
      .orderBy(col("source"))
  }

  val dedupSurvivorshipSql: String =
    """WITH r AS (
      |  SELECT source, n_chars,
      |    ROW_NUMBER() OVER (PARTITION BY md5(text)
      |      ORDER BY n_chars DESC, doc_id ASC) AS rn
      |  FROM documents)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_survivors,
      |  CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dropped,
      |  CAST(SUM(CASE WHEN rn > 1 THEN n_chars ELSE 0 END) AS BIGINT)
      |    AS chars_dropped
      |FROM r GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------- forecast backtest
  /** Backtest of two one-step forecasters on the hourly event-count
    * grid, per event type: NAIVE (previous hour's count) vs
    * SEASONAL-NAIVE (same hour yesterday). Reports both mean absolute
    * errors (milli-units) and the seasonal improvement in permille of
    * the naive error — the quantitative follow-on to
    * `ev_seasonality_profile`: it tells you whether the hour-of-day
    * cycle is strong enough that a capacity model must carry it.
    *
    * Only grid cells where BOTH predecessors exist are scored, so the
    * two MAEs average over the identical point set (a fair horse
    * race, and join-expressible with no dense spine needed).
    *
    * Scale shape: the only corpus-sized pass is the (type, day, hour)
    * hash-agg; the backtest then self-joins the aggregated grid —
    * |types|·days·24 rows, broadcast-sized even at decades of data —
    * twice on (type, day, hour) keys. */
  def forecastBacktest(s: SparkSession, d: String): DataFrame = {
    val grid = events(s, d)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        hour(col("ts")).cast("int").as("hr"))
      .groupBy(col("event_type"), col("day"), col("hr"))
      .agg(count(lit(1)).as("n"))
    val cur = grid.as("c")
    val scored = cur
      .join(grid.as("pn"),
        col("c.event_type") === col("pn.event_type") &&
          col("c.day") === col("pn.day") &&
          col("c.hr") === col("pn.hr") + 1)
      .join(grid.as("ps"),
        col("c.event_type") === col("ps.event_type") &&
          col("c.day") === date_add(col("ps.day"), 1) &&
          col("c.hr") === col("ps.hr"))
      .select(col("c.event_type").as("event_type"),
        abs(col("c.n") - col("pn.n")).as("e_naive"),
        abs(col("c.n") - col("ps.n")).as("e_seasonal"))
    scored.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_points"),
        sum(col("e_naive")).as("sn"), sum(col("e_seasonal")).as("ss"))
      .select(col("event_type"), col("n_points"),
        expr("1000 * sn DIV n_points").as("mae_naive_milli"),
        expr("1000 * ss DIV n_points").as("mae_seasonal_milli"),
        when(col("sn") === 0, lit(0L))
          .otherwise(expr("1000 * (sn - ss) DIV sn"))
          .as("improvement_permille"))
      .orderBy(col("event_type"))
  }

  val forecastBacktestSql: String =
    """WITH g AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(EXTRACT(HOUR FROM ts) AS INT) AS hr, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2, 3),
      |sc AS (
      |  SELECT c.event_type,
      |    ABS(c.n - pn.n) AS e_naive, ABS(c.n - ps.n) AS e_seasonal
      |  FROM g c
      |  JOIN g pn ON pn.event_type = c.event_type
      |    AND pn.day = c.day AND pn.hr + 1 = c.hr
      |  JOIN g ps ON ps.event_type = c.event_type
      |    AND ps.day + 1 = c.day AND ps.hr = c.hr)
      |SELECT event_type, COUNT(*) AS n_points,
      |  CAST(1000 * SUM(e_naive) // COUNT(*) AS BIGINT)
      |    AS mae_naive_milli,
      |  CAST(1000 * SUM(e_seasonal) // COUNT(*) AS BIGINT)
      |    AS mae_seasonal_milli,
      |  CASE WHEN SUM(e_naive) = 0 THEN 0
      |    ELSE CAST(1000 * (SUM(e_naive) - SUM(e_seasonal))
      |      // SUM(e_naive) AS BIGINT) END AS improvement_permille
      |FROM sc GROUP BY event_type ORDER BY event_type""".stripMargin

  val queries: Map[String, Query] = Map(
    "ev_seasonality_profile" -> Query(seasonalityProfile, seasonalityProfileSql),
    "ev_audience_overlap" -> Query(audienceOverlap, audienceOverlapSql),
    "dedup_survivorship" -> Query(dedupSurvivorship, dedupSurvivorshipSql),
    "ev_forecast_backtest" -> Query(forecastBacktest, forecastBacktestSql))
}
