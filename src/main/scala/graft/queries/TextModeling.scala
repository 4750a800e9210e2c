package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.Query

/** Statistical language-model estimation over the corpus: Kneser–Ney
  * smoothed bigram probabilities, first-occurrence n-gram novelty
  * scoring, and a count–min-sketch heavy-word estimator with exact
  * confirm — the counting backbone of LM data work (smoothed LMs for
  * perplexity filters, novelty for curriculum ordering, CMS for
  * one-pass frequency estimates over streams too large to count
  * exactly).
  *
  * All arithmetic is integer-exact (counts, fused integer divisions
  * on fixed scales) so every output hash-matches DuckDB; all corpus-
  * sized work is explode + hash-agg keyed on gram/word — linear in
  * corpus size, no driver state.
  */
object TextModeling {

  private def toks(c: Column): Column = Documents.tokens(c)
  private val toksSql =
    """list_filter(string_split_regex(text, '[^\p{L}]+'), w -> w <> '')"""

  // ------------------------------------------- Kneser–Ney bigram LM
  /** Interpolated Kneser–Ney bigram probabilities (fixed discount
    * d = 0.75), the standard n-gram smoother:
    *
    *   p_KN(w2|w1) = max(c(w1w2) − d, 0)/c(w1)
    *               + d·N1+(w1·)/c(w1) · N1+(·w2)/T
    *
    * where N1+(w1·) counts distinct continuations of w1, N1+(·w2)
    * distinct histories of w2 (the continuation-probability insight:
    * "Francisco" is frequent but follows only "San"), and T is the
    * total number of distinct bigram types. Reported for the top 50
    * bigrams by raw count on a ×1e9 integer grid: each of the two
    * terms is one fused integer division (identical truncation order
    * in both engines), so the result is bit-exact cross-engine.
    *
    * Scale shape: one bigram explode O(tokens) feeding four hash-aggs
    * (bigram counts; left counts + distinct-continuation counts keyed
    * w1; distinct-history counts keyed w2; 1-row T broadcast); the
    * final top-50 is a TakeOrdered on (count, bigram). All joins are
    * keyed on w1/w2 against tables no larger than the vocabulary. */
  def kneserNey(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d).select(toks(col("text")).as("ws"))
    val len2 = greatest(size(col("ws")) - 1, lit(0))
    val bigrams = base.select(explode(zip_with(
        slice(col("ws"), lit(1), len2), slice(col("ws"), lit(2), len2),
        (x, y) => struct(x.as("w1"), y.as("w2")))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c12 = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    val left = c12.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1f"))
    val hist = c12.groupBy(col("w2")).agg(count(lit(1)).as("n1b"))
    val types = c12.agg(count(lit(1)).as("t_types"))
    c12.join(left, "w1").join(hist, "w2")
      .crossJoin(broadcast(types))
      .withColumn("term1_e9",
        expr("((c12 * 1000 - 750) * 1000000000L) DIV (c1 * 1000)"))
      .withColumn("lam_e6", expr("(750000L * n1f) DIV c1"))
      .withColumn("pcont_e6", expr("(n1b * 1000000L) DIV t_types"))
      .withColumn("p_kn_e9", expr("term1_e9 + (lam_e6 * pcont_e6) DIV 1000"))
      .select(col("w1"), col("w2"), col("c12"), col("c1"),
        col("n1f"), col("n1b"), col("p_kn_e9"))
      .orderBy(col("c12").desc, col("w1"), col("w2"))
      .limit(50)
  }

  val kneserNeySql: String =
    s"""WITH base AS (SELECT $toksSql AS ws FROM documents),
       |bg AS (
       |  SELECT ws[i] AS w1, ws[i+1] AS w2
       |  FROM base, UNNEST(range(1, len(ws))) AS u(i)),
       |c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
       |lft AS (
       |  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1, COUNT(*) AS n1f
       |  FROM c12 GROUP BY 1),
       |hist AS (SELECT w2, COUNT(*) AS n1b FROM c12 GROUP BY 1),
       |t AS (SELECT COUNT(*) AS t_types FROM c12)
       |SELECT w1, w2, c12, c1, n1f, n1b,
       |  CAST(((c12 * 1000 - 750) * 1000000000) // (c1 * 1000)
       |    + (((750000 * n1f) // c1) * ((n1b * 1000000) // t_types)) // 1000
       |    AS BIGINT) AS p_kn_e9
       |FROM c12 JOIN lft USING (w1) JOIN hist USING (w2) CROSS JOIN t
       |ORDER BY c12 DESC, w1, w2 LIMIT 50""".stripMargin

  // ------------------------------------------- n-gram novelty score
  /** Per-document novelty: the share of a document's distinct
    * 3-grams whose FIRST corpus occurrence (minimum doc_id, the
    * ingest-order proxy) is this document. High-novelty documents
    * introduce new content; low-novelty documents restate earlier
    * ones — the curriculum/diversity signal used when ordering
    * training data. Permille on an exact integer grid.
    *
    * Scale shape: distinct (doc_id, gram) pairs from one explode;
    * first-occurrence is a MIN hash-agg keyed on gram (map-side
    * combinable); one gram-keyed equi-join back; per-doc rollup.
    * Never a doc×doc comparison — the gram key is the meeting
    * point, the same discipline as the span-dedup tier. */
  def ngramNovelty(s: SparkSession, d: String): DataFrame = {
    val len3 = greatest(size(col("ws")) - 2, lit(0))
    val grams = documents(s, d)
      .select(col("doc_id"), toks(col("text")).as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), explode(zip_with(
        zip_with(slice(col("ws"), lit(1), len3), slice(col("ws"), lit(2), len3),
          (x, y) => concat(x, lit(" "), y)),
        slice(col("ws"), lit(3), len3),
        (xy, z) => concat(xy, lit(" "), z))).as("g"))
      .distinct()
    val firstOcc = grams.groupBy(col("g")).agg(min(col("doc_id")).as("first_doc"))
    grams.join(firstOcc, "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty_pm", expr("n_novel * 1000 DIV n_grams"))
      .orderBy(col("doc_id"))
  }

  val ngramNoveltySql: String =
    s"""WITH base AS (
       |  SELECT doc_id, $toksSql AS ws FROM documents),
       |grams AS (
       |  SELECT DISTINCT doc_id,
       |    ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
       |  FROM base, UNNEST(range(1, len(ws) - 1)) AS u(i)
       |  WHERE len(ws) >= 3),
       |fo AS (SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY 1)
       |SELECT doc_id, COUNT(*) AS n_grams,
       |  CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_novel,
       |  CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) * 1000
       |    // COUNT(*) AS BIGINT) AS novelty_pm
       |FROM grams JOIN fo USING (g)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------- count–min sketch + exact confirm
  /** Count–min sketch word-frequency estimation (4 rows × 256
    * buckets, md5-derived hashes) with exact confirmation of the
    * candidates — the OTHER classic frequency sketch next to the
    * Misra–Gries top-k agg ([[graft.functions.MisraGries]]): CMS
    * never undercounts (est ≥ true), so thresholding the estimate
    * gives a superset of the true heavy words, and the exact confirm
    * both prunes the false positives and exposes each survivor's
    * collision overcount. Candidates: est·200 ≥ total tokens (the
    * 0.5 % heavy-word bar).
    *
    * Scale shape: the sketch is a 4×256-cell hash-agg (ONE pass over
    * token instances, map-side combinable — the counts a streaming
    * job could keep in fixed memory); the estimate join touches only
    * DISTINCT words × 4 rows against the ≤1024-row broadcast cell
    * table; exact confirm recounts ONLY candidate words via a
    * broadcast semi-join filter, never the full vocabulary. */
  def countMinConfirm(s: SparkSession, d: String): DataFrame = {
    val words = documents(s, d)
      .select(explode(toks(col("text"))).as("w"))
    val total = words.agg(count(lit(1)).as("total"))
    def bucket(r: Int): Column =
      conv(substring(md5(concat(lit(s"$r:"), col("w"))), 1, 2), 16, 10)
        .cast("long")
    val rows = (0 until 4)
    // the 4x256 sketch: one pass, one hash-agg per (row, bucket) cell
    val cells = words
      .select(explode(array(rows.map(r =>
        struct(lit(r).as("r"), bucket(r).as("b"))): _*)).as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(count(lit(1)).as("cell_n"))
    val vocab = words.distinct()
    val lookups = vocab
      .select(col("w"), explode(array(rows.map(r =>
        struct(lit(r).as("r"), bucket(r).as("b"))): _*)).as("rb"))
      .select(col("w"), col("rb.r").as("r"), col("rb.b").as("b"))
    val est = lookups.join(broadcast(cells), Seq("r", "b"))
      .groupBy(col("w")).agg(min(col("cell_n")).as("est"))
    val candidates = est.crossJoin(broadcast(total))
      .filter(col("est") * 200 >= col("total"))
    val exact = words
      .join(broadcast(candidates.select(col("w"))), Seq("w"), "left_semi")
      .groupBy(col("w")).agg(count(lit(1)).as("exact_n"))
    candidates.join(exact, "w")
      .select(col("w"), col("est"), col("exact_n"),
        expr("(est - exact_n) * 1000 DIV exact_n").as("overcount_pm"),
        (col("exact_n") * 200 >= col("total")).as("truly_heavy"))
      .orderBy(col("w"))
  }

  val countMinConfirmSql: String = {
    def bucketSql(r: Int, w: String): String =
      s"""((strpos('0123456789abcdef', substring(md5('$r:' || $w), 1, 1)) - 1) * 16
         | + (strpos('0123456789abcdef', substring(md5('$r:' || $w), 2, 1)) - 1))""".stripMargin
    val cellUnion = (0 until 4).map(r =>
      s"SELECT $r AS r, ${bucketSql(r, "w")} AS b FROM words").mkString("\nUNION ALL\n")
    val lookupUnion = (0 until 4).map(r =>
      s"SELECT w, $r AS r, ${bucketSql(r, "w")} AS b FROM vocab").mkString("\nUNION ALL\n")
    s"""WITH base AS (SELECT $toksSql AS ws FROM documents),
       |words AS (SELECT w FROM base, UNNEST(ws) AS u(w)),
       |tot AS (SELECT COUNT(*) AS total FROM words),
       |cells AS (
       |  SELECT r, b, COUNT(*) AS cell_n FROM (
       |$cellUnion) GROUP BY 1, 2),
       |vocab AS (SELECT DISTINCT w FROM words),
       |lookups AS (
       |$lookupUnion),
       |est AS (
       |  SELECT w, MIN(cell_n) AS est
       |  FROM lookups JOIN cells USING (r, b) GROUP BY 1),
       |cand AS (
       |  SELECT w, est FROM est, tot WHERE est * 200 >= total),
       |exact AS (
       |  SELECT w, COUNT(*) AS exact_n FROM words
       |  WHERE w IN (SELECT w FROM cand) GROUP BY 1)
       |SELECT c.w, c.est, e.exact_n,
       |  CAST((c.est - e.exact_n) * 1000 // e.exact_n AS BIGINT)
       |    AS overcount_pm,
       |  e.exact_n * 200 >= tot.total AS truly_heavy
       |FROM cand c JOIN exact e ON c.w = e.w CROSS JOIN tot
       |ORDER BY c.w""".stripMargin
  }

  val queries: Map[String, Query] = Map(
    "text_kneser_ney" -> Query(kneserNey, kneserNeySql),
    "text_ngram_novelty" -> Query(ngramNovelty, ngramNoveltySql),
    "agg_countmin_confirm" -> Query(countMinConfirm, countMinConfirmSql))
}
