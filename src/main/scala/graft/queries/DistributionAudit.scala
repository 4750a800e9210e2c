package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.Query

/** Distribution-shape audits over the events stream: a two-sample
  * Kolmogorov–Smirnov drift check between the first and second half
  * of the observed time range, and a Benford first-digit anomaly
  * audit on the value column. These are the statistical tripwires a
  * data-quality gate runs before a model retrains on a new corpus
  * cut: "did the value distribution move?" and "do the amounts look
  * organically generated?".
  *
  * Reference scope: per-key counting over a derived key — the same
  * shuffle discipline as the reference's wc
  * (/root/reference/mr-main/mrapps/wc.go:15-30); the KS cumsum is one
  * window over the per-key aggregate, never over raw events.
  *
  * All ratios are integer permille on the exact cents grid, so Spark
  * and DuckDB agree bit-for-bit.
  */
object DistributionAudit {

  // ------------------------------------------------ KS drift
  /** Two-sample KS statistic per event type: the value distribution of
    * the FIRST half of the corpus's day range vs the SECOND half
    * (split at the midpoint day, derived from the data so the query is
    * scale-factor agnostic). KS = max over the cents grid of the
    * absolute gap between the two cumulative distributions, permille.
    *
    * Scale shape: the corpus-sized pass is one hash-agg to (type,
    * cents, half) cells; the CDF is a window cumsum over the CELL
    * table (distinct observed cents per type — bounded by the value
    * domain, not the row count). The [min_day, max_day] bounds are a
    * 1-row broadcast (whitelisted); per-type totals join back
    * broadcast. A degenerate single-half corpus reports ks = 0 rather
    * than dividing by zero. */
  def ksDrift(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("event_type"),
      floor(col("value") * 100 + 0.5).cast("long").as("cents"),
      to_date(col("ts")).as("day"))
    val bounds = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val halved = ev.crossJoin(broadcast(bounds))
      .withColumn("half",
        when(col("day") <
          expr("date_add(d0, CAST((datediff(d1, d0) + 1) div 2 AS INT))"),
          lit("a"))
          .otherwise(lit("b")))
    val cells = halved.groupBy(col("event_type"), col("cents"))
      .agg(sum(when(col("half") === "a", 1L).otherwise(0L)).as("na"),
        sum(when(col("half") === "b", 1L).otherwise(0L)).as("nb"))
    val totals = cells.groupBy(col("event_type"))
      .agg(sum(col("na")).as("ta"), sum(col("nb")).as("tb"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, 0)
    cells
      .withColumn("ca", sum(col("na")).over(w))
      .withColumn("cb", sum(col("nb")).over(w))
      .join(broadcast(totals), Seq("event_type"))
      .withColumn("gap",
        when(col("ta") === 0 || col("tb") === 0, lit(0L))
          .otherwise(abs(expr("1000 * ca DIV ta") -
            expr("1000 * cb DIV tb"))))
      .groupBy(col("event_type"))
      .agg(max(col("ta")).as("n_first_half"),
        max(col("tb")).as("n_second_half"),
        max(col("gap")).as("ks_permille"))
      .orderBy(col("event_type"))
  }

  val ksDriftSql: String =
    """WITH ev AS (
      |  SELECT event_type,
      |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
      |    CAST(ts AS DATE) AS day
      |  FROM events),
      |b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM ev),
      |h AS (
      |  SELECT event_type, cents,
      |    CASE WHEN day < d0 + CAST((d1 - d0 + 1) // 2 AS INTEGER)
      |      THEN 'a' ELSE 'b' END AS half
      |  FROM ev, b),
      |cells AS (
      |  SELECT event_type, cents,
      |    SUM(CASE WHEN half = 'a' THEN 1 ELSE 0 END) AS na,
      |    SUM(CASE WHEN half = 'b' THEN 1 ELSE 0 END) AS nb
      |  FROM h GROUP BY 1, 2),
      |t AS (
      |  SELECT event_type, SUM(na) AS ta, SUM(nb) AS tb
      |  FROM cells GROUP BY 1),
      |c AS (
      |  SELECT event_type, cents, na, nb,
      |    SUM(na) OVER w AS ca, SUM(nb) OVER w AS cb
      |  FROM cells
      |  WINDOW w AS (PARTITION BY event_type ORDER BY cents
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT c.event_type, CAST(MAX(ta) AS BIGINT) AS n_first_half,
      |  CAST(MAX(tb) AS BIGINT) AS n_second_half,
      |  CAST(MAX(CASE WHEN ta = 0 OR tb = 0 THEN 0
      |    ELSE ABS(1000 * ca // ta - 1000 * cb // tb) END) AS BIGINT)
      |    AS ks_permille
      |FROM c JOIN t USING (event_type)
      |GROUP BY 1 ORDER BY event_type""".stripMargin

  // ------------------------------------------------ PSI drift
  /** Population Stability Index per event type between the first and
    * second half of the day range (same split as [[ksDrift]]): value
    * cents are binned into 10 equi-width bins over the GLOBAL
    * [min, max] (fixed bin edges — PSI's contract; KS uses the
    * pointwise CDF instead), shares are snapped to exact parts-per-
    * million, and PSI = Σ (p−q)·ln(p/q) accumulates in micro-nats:
    * term = (sa − sb) · (⌊ln(sa)·1e6⌋ − ⌊ln(sb)·1e6⌋) DIV 1e6 over
    * bins populated on BOTH sides (the standard finite-PSI
    * convention; n_bins_used reports coverage). The industry-default
    * retrain tripwire (PSI > 0.2 ⇒ investigate) — complementary to
    * KS: PSI is magnitude-weighted across the whole distribution, KS
    * is the single worst CDF gap.
    *
    * Scale shape: one corpus-sized hash-agg to (type, bin, half)
    * cells; [min,max]×[d0,d1] bounds are a 1-row broadcast
    * (whitelisted), per-type totals join back broadcast; everything
    * after runs on ≤ |types|·10 rows. Shares are scale-free, so the
    * integer grid never widens with corpus size. */
  def psiDrift(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("event_type"),
      floor(col("value") * 100 + 0.5).cast("long").as("cents"),
      to_date(col("ts")).as("day"))
    val bounds = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"),
      min(col("cents")).as("mn"), max(col("cents")).as("mx"))
    val cells = ev.crossJoin(broadcast(bounds))
      .withColumn("half",
        when(col("day") <
          expr("date_add(d0, CAST((datediff(d1, d0) + 1) div 2 AS INT))"),
          lit("a"))
          .otherwise(lit("b")))
      .withColumn("bin",
        least(lit(9L), expr("(cents - mn) * 10 DIV (mx - mn + 1)")))
      .groupBy(col("event_type"), col("bin"))
      .agg(sum(when(col("half") === "a", 1L).otherwise(0L)).as("na"),
        sum(when(col("half") === "b", 1L).otherwise(0L)).as("nb"))
    val totals = cells.groupBy(col("event_type"))
      .agg(sum(col("na")).as("ta"), sum(col("nb")).as("tb"))
    cells.join(broadcast(totals), Seq("event_type"))
      .withColumn("sa",
        when(col("ta") > 0, expr("1000000 * na DIV ta")).otherwise(lit(0L)))
      .withColumn("sb",
        when(col("tb") > 0, expr("1000000 * nb DIV tb")).otherwise(lit(0L)))
      .withColumn("term",
        when(col("sa") > 0 && col("sb") > 0,
          (col("sa") - col("sb")) *
            (floor(log(col("sa").cast("double")) * lit(1e6)).cast("long") -
             floor(log(col("sb").cast("double")) * lit(1e6)).cast("long")))
          .otherwise(lit(0L)))
      .groupBy(col("event_type"))
      .agg(max(col("ta")).as("n_first_half"),
        max(col("tb")).as("n_second_half"),
        sum(when(col("sa") > 0 && col("sb") > 0, 1L).otherwise(0L))
          .as("n_bins_used"),
        expr("SUM(term) DIV 1000000").as("psi_micronats"))
      .orderBy(col("event_type"))
  }

  val psiDriftSql: String =
    """WITH ev AS (
      |  SELECT event_type,
      |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
      |    CAST(ts AS DATE) AS day
      |  FROM events),
      |b AS (SELECT MIN(day) AS d0, MAX(day) AS d1,
      |        MIN(cents) AS mn, MAX(cents) AS mx FROM ev),
      |cells AS (
      |  SELECT event_type,
      |    LEAST(9, (cents - mn) * 10 // (mx - mn + 1)) AS bin,
      |    SUM(CASE WHEN day < d0 + CAST((d1 - d0 + 1) // 2 AS INTEGER)
      |        THEN 1 ELSE 0 END) AS na,
      |    SUM(CASE WHEN day < d0 + CAST((d1 - d0 + 1) // 2 AS INTEGER)
      |        THEN 0 ELSE 1 END) AS nb
      |  FROM ev, b GROUP BY 1, 2),
      |t AS (SELECT event_type, SUM(na) AS ta, SUM(nb) AS tb
      |      FROM cells GROUP BY 1),
      |sh AS (
      |  SELECT c.event_type, ta, tb,
      |    CASE WHEN ta > 0 THEN 1000000 * na // ta ELSE 0 END AS sa,
      |    CASE WHEN tb > 0 THEN 1000000 * nb // tb ELSE 0 END AS sb
      |  FROM cells c JOIN t USING (event_type)),
      |terms AS (
      |  SELECT event_type, ta, tb, sa, sb,
      |    CASE WHEN sa > 0 AND sb > 0 THEN (sa - sb) *
      |      (CAST(FLOOR(LN(sa) * 1000000) AS BIGINT)
      |       - CAST(FLOOR(LN(sb) * 1000000) AS BIGINT))
      |      ELSE 0 END AS term
      |  FROM sh)
      |SELECT event_type, CAST(MAX(ta) AS BIGINT) AS n_first_half,
      |  CAST(MAX(tb) AS BIGINT) AS n_second_half,
      |  CAST(SUM(CASE WHEN sa > 0 AND sb > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_bins_used,
      |  CAST(SUM(term) AS BIGINT) // 1000000 AS psi_micronats
      |FROM terms GROUP BY 1 ORDER BY event_type""".stripMargin

  /** Baseline side of the STREAMING drift monitor
    * (streaming.EventStreams.psiBinnedStream): per-(type, bin) share
    * in exact ppm over a static historical corpus, with the global
    * [mn, mx] cents edges carried on every row — at stream time bin
    * edges must come from the BASELINE, never from the unbounded
    * stream. Same binning and share grid as [[psiDrift]]. */
  def psiBaseline(ev: DataFrame): DataFrame = {
    val cents = ev.select(col("event_type"),
      floor(col("value") * 100 + 0.5).cast("long").as("cents"))
    val bounds = cents.agg(min(col("cents")).as("mn"), max(col("cents")).as("mx"))
    val binned = cents.crossJoin(broadcast(bounds))
      .withColumn("bin",
        least(lit(9L), expr("(cents - mn) * 10 DIV (mx - mn + 1)")))
      .groupBy(col("event_type"), col("bin"))
      .agg(count(lit(1)).as("n"))
    val tot = binned.groupBy(col("event_type")).agg(sum(col("n")).as("t"))
    binned.join(tot, "event_type")
      .select(col("event_type"), col("bin"),
        expr("1000000 * n DIV t").as("base_ppm"))
      .crossJoin(broadcast(bounds))
  }

  // ------------------------------------------------ Benford audit
  /** Benford first-digit audit on the cents-exact value column: for
    * each leading digit 1–9, the observed frequency vs Benford's law
    * (log10(1+1/d), pre-snapped to a fixed integer permille table so
    * both engines compare against identical constants). The classic
    * fabricated-amounts tripwire.
    *
    * The leading digit is taken from the DECIMAL STRING of the cents
    * integer — exact in both engines, immune to the float-log10
    * boundary bugs at powers of ten.
    *
    * Scale shape: one corpus-sized hash-agg to 9 digit cells; the
    * grand total is a 1-row broadcast (whitelisted). */
  def benfordDigits(s: SparkSession, d: String): DataFrame = {
    val expected = typedLit(Map(
      1 -> 301L, 2 -> 176L, 3 -> 125L, 4 -> 97L, 5 -> 79L,
      6 -> 67L, 7 -> 58L, 8 -> 51L, 9 -> 46L))
    val digits = events(s, d)
      .select(floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .filter(col("cents") > 0)
      .select(substring(col("cents").cast("string"), 1, 1).cast("int")
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val total = digits.agg(sum(col("n")).as("tot"))
    digits.crossJoin(broadcast(total))
      .withColumn("observed_permille", expr("1000 * n DIV tot"))
      .withColumn("expected_permille", element_at(expected, col("digit")))
      .withColumn("deviation_permille",
        col("observed_permille") - col("expected_permille"))
      .select(col("digit"), col("n"), col("observed_permille"),
        col("expected_permille"), col("deviation_permille"))
      .orderBy(col("digit"))
  }

  val benfordDigitsSql: String =
    """WITH dg AS (
      |  SELECT CAST(SUBSTR(CAST(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
      |      AS VARCHAR), 1, 1) AS INT) AS digit
      |  FROM events
      |  WHERE CAST(FLOOR(value * 100 + 0.5) AS BIGINT) > 0),
      |c AS (SELECT digit, COUNT(*) AS n FROM dg GROUP BY 1),
      |t AS (SELECT SUM(n) AS tot FROM c)
      |SELECT digit, n, CAST(1000 * n // tot AS BIGINT) AS observed_permille,
      |  CASE digit WHEN 1 THEN 301 WHEN 2 THEN 176 WHEN 3 THEN 125
      |    WHEN 4 THEN 97 WHEN 5 THEN 79 WHEN 6 THEN 67 WHEN 7 THEN 58
      |    WHEN 8 THEN 51 ELSE 46 END AS expected_permille,
      |  CAST(1000 * n // tot AS BIGINT) -
      |    (CASE digit WHEN 1 THEN 301 WHEN 2 THEN 176 WHEN 3 THEN 125
      |      WHEN 4 THEN 97 WHEN 5 THEN 79 WHEN 6 THEN 67 WHEN 7 THEN 58
      |      WHEN 8 THEN 51 ELSE 46 END) AS deviation_permille
      |FROM c, t ORDER BY digit""".stripMargin

  val queries: Map[String, Query] = Map(
    "ev_ks_drift" -> Query(ksDrift, ksDriftSql),
    "ev_psi_drift" -> Query(psiDrift, psiDriftSql),
    "audit_benford" -> Query(benfordDigits, benfordDigitsSql))
}
