package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.Query

/** Hybrid retrieval: fuse a lexical ranker (BM25 over the documents
  * table) with a semantic ranker (embedding cosine over the embeddings
  * table, vec_id indexing the same corpus) — the two-tower mining
  * setup behind domain-targeted training-subset selection, where
  * neither signal alone is trusted.
  *
  * Reference analog: none (SURVEY §2.2 stops at inverted index);
  * beyond-reference LLM-pipeline surface.
  */
object Retrieval {

  /** Reciprocal-rank fusion (RRF, Cormack et al.): fused score
    * Σ 1/(60+rank) over the rankers that returned the doc, computed
    * on an exact integer grid (1 000 000 DIV (60+rank)) so the fusion,
    * its ranking, and the top-k cutoff are float-free and
    * engine-identical. Docs found by only one ranker contribute one
    * term — exactly RRF's robustness property.
    *
    * Scale shape: each ranker's list is already a global top-k
    * (TakeOrderedAndProject on the lexical side; one broadcast 1-row
    * query vector + TakeOrderedAndProject on the semantic side — the
    * brute scan stands in for the ANN path, which emb_ann_* provide).
    * The fusion join and final rank run on 2k rows, driver-trivial at
    * any corpus scale. */
  def rrfFusion(s: SparkSession, d: String): DataFrame = {
    val K = 60 // RRF's standard dampening constant
    val lex = TextAnalysis.bm25TopK(s, d)
      .select(col("doc_id").as("id"), col("rank").as("lex_rank"))
    val e = embeddings(s, d)
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"))
    val scored = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id").as("id"),
        graft.functions.GraftFunctions
          .cosineSim(col("q_emb"), col("embedding")).as("cos"))
    val w = Window.orderBy(col("cos").desc, col("id"))
    val sem = scored.orderBy(col("cos").desc, col("id")).limit(20)
      .withColumn("sem_rank", row_number().over(w))
      .select(col("id"), col("sem_rank"))
    val fused = lex.join(sem, Seq("id"), "full_outer")
      .withColumn("rrf_e6",
        coalesce(expr(s"1000000 DIV ($K + lex_rank)"), lit(0L)) +
          coalesce(expr(s"1000000 DIV ($K + sem_rank)"), lit(0L)))
    val w2 = Window.orderBy(col("rrf_e6").desc, col("id"))
    fused.orderBy(col("rrf_e6").desc, col("id")).limit(10)
      .withColumn("rank", row_number().over(w2))
      .select(col("rank"), col("id"), col("lex_rank"), col("sem_rank"),
        col("rrf_e6"))
      .orderBy(col("rank"))
  }

  val rrfFusionSql: String =
    s"""WITH lex AS (
       |  SELECT doc_id AS id, rank AS lex_rank FROM (
       |${TextAnalysis.bm25TopKSql}
       |  )),
       |semq AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
       |semscored AS (
       |  SELECT vec_id AS id,
       |    ${Embeddings.cosFoldSql("q.q_emb", "e.embedding")} AS cos
       |  FROM embeddings e CROSS JOIN semq q WHERE vec_id <> 0),
       |sem AS (
       |  SELECT id,
       |    CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, id) AS INT) AS sem_rank
       |  FROM semscored QUALIFY sem_rank <= 20),
       |fused AS (
       |  SELECT COALESCE(lex.id, sem.id) AS id, lex_rank, sem_rank,
       |    COALESCE(CAST(1000000 AS BIGINT) // (60 + lex_rank),
       |             CAST(0 AS BIGINT)) +
       |    COALESCE(CAST(1000000 AS BIGINT) // (60 + sem_rank),
       |             CAST(0 AS BIGINT)) AS rrf_e6
       |  FROM lex FULL OUTER JOIN sem ON lex.id = sem.id)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY rrf_e6 DESC, id) AS INT)
       |    AS rank,
       |  id, lex_rank, sem_rank, rrf_e6
       |FROM fused QUALIFY rank <= 10 ORDER BY rank""".stripMargin

  // ------------------------------------- pseudo-relevance feedback
  /** Two-pass retrieval with QUERY EXPANSION (pseudo-relevance
    * feedback, the RM1/Rocchio family): pass 1 retrieves a 10-doc
    * feedback set for the seed terms, the feedback set's most
    * discriminative terms (feedback-df × corpus idf, the RM1 score
    * on the integer grid) expand the query, and pass 2 re-retrieves
    * with seed ∪ expansion — the recall lever when the seed
    * vocabulary under-describes the target domain. `is_new` marks
    * docs pass 1 could not see: the expansion's recall gain.
    *
    * Numerics: scoring is tf × idf_bits with idf_bits = bits(N) −
    * bits(df) on the bit-length ladder (exact ⌊log₂⌋ distance) — the
    * whole two-pass cascade, term mining included, ranks on pure
    * BIGINTs with (score, id)/(gain, term) tie-breaks, so both
    * passes and the expansion choice are engine-identical with no
    * float snap anywhere.
    *
    * Scale shape: ONE corpus-sized (doc, term) tf hash-agg feeds
    * both passes (materialized); document frequency is a term-keyed
    * agg of it. Pass 1 filters the weighted table on a literal IN;
    * the feedback set (10 ids) and the expanded term list (8 terms)
    * broadcast into equi-joins; the corpus stats row is the usual
    * 1-row broadcast (whitelisted). Two passes cost two linear
    * scans of the tf table — nothing quadratic, no re-tokenize. */
  def queryExpansion(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val seed = Seq("spark", "stream", "vector")
    val tok = graft.operators.Materialize.eager(
      documents(s, d)
        .select(col("doc_id"), explode(Documents.tokens(col("text")))
          .as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf")))
    val n = documents(s, d).agg(count(lit(1)).as("n_docs"))
    val dft = tok.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val weighted = tok.join(dft, "term").crossJoin(broadcast(n))
      .withColumn("w_bits",
        (length(bin(col("n_docs"))) - length(bin(col("df"))))
          .cast("long") * col("tf"))
    val p1 = weighted.filter(col("term").isin(seed: _*))
      .groupBy(col("doc_id")).agg(sum(col("w_bits")).as("score1"))
      .orderBy(col("score1").desc, col("doc_id")).limit(10)
    val fb = p1.select(col("doc_id"))
    val expTerms = tok.join(broadcast(fb), "doc_id")
      .filter(!col("term").isin(seed: _*) && length(col("term")) >= 4)
      .groupBy(col("term")).agg(count(lit(1)).as("fb_df"))
      .join(dft, "term").crossJoin(broadcast(n))
      .withColumn("gain",
        col("fb_df") * (length(bin(col("n_docs"))) - length(bin(col("df"))))
          .cast("long"))
      .orderBy(col("gain").desc, col("term")).limit(5)
    val allTerms = expTerms.select(col("term"))
      .unionByName(seed.toDF("term"))
    val p2 = weighted.join(broadcast(allTerms), "term")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms_matched"),
        sum(col("w_bits")).as("score_bits"))
      .orderBy(col("score_bits").desc, col("doc_id")).limit(15)
    val w = Window.orderBy(col("score_bits").desc, col("doc_id"))
    p2.join(broadcast(p1.select(col("doc_id"), lit(1L).as("seen"))),
        Seq("doc_id"), "left")
      .withColumn("is_new", when(col("seen").isNull, 1L).otherwise(0L))
      .withColumn("rank", row_number().over(w))
      .select(col("rank"), col("doc_id"), col("n_terms_matched"),
        col("score_bits"), col("is_new"))
      .orderBy(col("rank"))
  }

  val queryExpansionSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, UNNEST(list_filter(string_split_regex(text, '[^\\p{L}]+'), w -> w <> '')) AS term
       |        FROM documents)
       |  GROUP BY doc_id, term),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents),
       |dft AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
       |        FROM tok GROUP BY term),
       |w AS (
       |  SELECT doc_id, term,
       |    CAST(length(bin(n_docs)) - length(bin(df)) AS BIGINT) * tf
       |      AS w_bits
       |  FROM tok JOIN dft USING (term) CROSS JOIN n),
       |p1 AS (
       |  SELECT doc_id, CAST(SUM(w_bits) AS BIGINT) AS score1
       |  FROM w WHERE term IN ('spark','stream','vector')
       |  GROUP BY doc_id ORDER BY score1 DESC, doc_id LIMIT 10),
       |fb AS (
       |  SELECT term, CAST(COUNT(*) AS BIGINT) AS fb_df
       |  FROM tok JOIN p1 USING (doc_id)
       |  WHERE term NOT IN ('spark','stream','vector')
       |    AND length(term) >= 4
       |  GROUP BY term),
       |expt AS (
       |  SELECT term FROM fb JOIN dft USING (term) CROSS JOIN n
       |  ORDER BY fb_df * CAST(length(bin(n_docs)) - length(bin(df))
       |    AS BIGINT) DESC, term LIMIT 5),
       |allt AS (
       |  SELECT term FROM expt
       |  UNION ALL
       |  SELECT UNNEST(['spark','stream','vector']) AS term),
       |p2 AS (
       |  SELECT doc_id, COUNT(*) AS n_terms_matched,
       |    CAST(SUM(w_bits) AS BIGINT) AS score_bits
       |  FROM w JOIN allt USING (term)
       |  GROUP BY doc_id ORDER BY score_bits DESC, doc_id LIMIT 15)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY score_bits DESC, doc_id)
       |    AS INT) AS rank,
       |  p2.doc_id, p2.n_terms_matched, p2.score_bits,
       |  CASE WHEN p1.doc_id IS NULL THEN CAST(1 AS BIGINT)
       |    ELSE CAST(0 AS BIGINT) END AS is_new
       |FROM p2 LEFT JOIN p1 USING (doc_id)
       |ORDER BY rank""".stripMargin

  // ------------------------------------------------------ nDCG eval
  /** nDCG@10 of the BM25 ranking against a graded-relevance truth —
    * the ranking-quality gate a retrieval-mined training subset runs
    * before trusting the ranker's cutoff. Truth is deterministic and
    * independent of the ranker's scoring detail: rel(doc) = number of
    * DISTINCT query terms present (0–3), so BM25's tf/idf/length
    * weighting is genuinely evaluated against term coverage rather
    * than against itself.
    *
    * Numerics: gains (2^rel − 1 ∈ {0,1,3,7}) and positional discounts
    * are pure integers — the 1/log2(i+1) weights are computed ONCE in
    * Scala (i is a compile-time position) and embedded as the SAME
    * e6-grid literals in both engines' plans, so DCG, ideal DCG, and
    * the final milli ratio never touch a cross-engine float.
    *
    * Scale shape: the ranked side reuses bm25TopK (global top-k via
    * TakeOrderedAndProject); the ideal side is one explode+hash-agg
    * relevance pass and a second top-10 heap — both linear, and the
    * final assembly joins two 1-row aggregates. */
  private val NdcgK = 10
  /** ⌊1e6 / log2(i+1)⌋ for positions 1..10 — shared literal source
    * for the Spark plan and the oracle SQL. */
  private val NdcgW: Seq[Long] = (1 to NdcgK).map(i =>
    math.floor(1e6 * math.log(2.0) / math.log(i + 1.0)).toLong)
  private val gainCase =
    "CASE rel WHEN 1 THEN 1 WHEN 2 THEN 3 WHEN 3 THEN 7 WHEN 4 THEN 15" +
      " ELSE 0 END"
  private def wCase(pos: String): String =
    NdcgW.zipWithIndex.map { case (w, i) => s"WHEN ${i + 1} THEN $w" }
      .mkString(s"CASE $pos ", " ", " ELSE 0 END")

  def ndcgEval(s: SparkSession, d: String): DataFrame = {
    // graded truth over the WHOLE corpus (the ideal ranking must see
    // docs BM25's top-20 missed)
    val rel = documents(s, d)
      .select(col("doc_id"),
        explode(Documents.tokens(col("text"))).as("term"))
      .filter(col("term").isin("spark", "stream", "vector"))
      .groupBy(col("doc_id"))
      .agg((countDistinct(col("term")) +
        when(count(lit(1)) >= 8, 1L).otherwise(0L)).as("rel"))
    val ranked = TextAnalysis.bm25TopK(s, d)
      .filter(col("rank") <= NdcgK)
      .join(rel, Seq("doc_id"), "left")
      .select(col("rank"), coalesce(col("rel"), lit(0L)).as("rel"))
    val dcg = ranked
      .select((expr(gainCase) * expr(wCase("rank"))).as("g"),
        when(col("rel") > 0, 1L).otherwise(0L).as("hit"))
      .agg(coalesce(sum(col("g")), lit(0L)).cast("long").as("dcg_e6"),
        count(lit(1)).as("n_ranked"),
        coalesce(sum(col("hit")), lit(0L)).cast("long").as("n_hits"))
    val wi = Window.orderBy(col("rel").desc, col("doc_id"))
    val idcg = rel.orderBy(col("rel").desc, col("doc_id")).limit(NdcgK)
      .withColumn("i", row_number().over(wi))
      .select((expr(gainCase) * expr(wCase("i"))).as("g"))
      .agg(coalesce(sum(col("g")), lit(0L)).cast("long").as("idcg_e6"))
    dcg.crossJoin(broadcast(idcg))
      .select(col("n_ranked"), col("n_hits"), col("dcg_e6"),
        col("idcg_e6"),
        when(col("idcg_e6") === 0, 0L)
          .otherwise(expr("dcg_e6 * 1000 DIV idcg_e6")).as("ndcg_milli"),
        expr(s"n_hits * 1000 DIV $NdcgK").as("precision_pm"))
  }

  val ndcgEvalSql: String = {
    val toksSql =
      """list_filter(string_split_regex(text, '[^\p{L}]+'), w -> w <> '')"""
    val bm = TextAnalysis.bm25TopKSql
    s"""WITH bm AS ($bm),
       |ranked AS (
       |  SELECT b.rank, COALESCE(r.rel, 0) AS rel
       |  FROM bm b LEFT JOIN rel2 r USING (doc_id)
       |  WHERE b.rank <= $NdcgK),
       |dcg AS (
       |  SELECT
       |    CAST(COALESCE(SUM(($gainCase) * (${wCase("rank")})), 0)
       |      AS BIGINT) AS dcg_e6,
       |    CAST(COUNT(*) AS BIGINT) AS n_ranked,
       |    CAST(COALESCE(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END), 0)
       |      AS BIGINT) AS n_hits
       |  FROM ranked),
       |docs2 AS (
       |  SELECT doc_id, $toksSql AS ws FROM documents),
       |rel2 AS (
       |  SELECT doc_id, COUNT(DISTINCT term)
       |    + CASE WHEN COUNT(*) >= 8 THEN 1 ELSE 0 END AS rel
       |  FROM docs2, UNNEST(ws) AS u(term)
       |  WHERE term IN ('spark', 'stream', 'vector')
       |  GROUP BY doc_id),
       |ideal AS (
       |  SELECT rel, ROW_NUMBER() OVER (ORDER BY rel DESC, doc_id) AS i
       |  FROM rel2 QUALIFY i <= $NdcgK),
       |idcg AS (
       |  SELECT CAST(COALESCE(SUM(($gainCase) * (${wCase("i")})), 0)
       |    AS BIGINT) AS idcg_e6
       |  FROM ideal)
       |SELECT n_ranked, n_hits, dcg_e6, idcg_e6,
       |  CASE WHEN idcg_e6 = 0 THEN CAST(0 AS BIGINT)
       |       ELSE dcg_e6 * 1000 // idcg_e6 END AS ndcg_milli,
       |  n_hits * 1000 // $NdcgK AS precision_pm
       |FROM dcg, idcg""".stripMargin
  }

  // --------------------------------------------- BM25 tuning sweep
  /** (k1, b) grid search for the BM25 ranker, each cell scored by
    * nDCG@10 against the SAME graded term-coverage truth
    * `retrieval_ndcg_eval` uses — the sweep that turns the ranker's
    * two magic constants into a measured decision, the
    * threshold/band-sweep discipline applied to retrieval. b = 0
    * (no length normalization) and a stiff (0.9, 0.4) cell bracket
    * the default so the sweep shows WHERE the fixture's optimum sits,
    * not just that the default scores.
    *
    * All four constants per cell are compile-time decimal literals
    * written identically in both engines (the proven bm25 device —
    * k1+1 is pre-added by hand so no engine computes 2.2 at runtime),
    * per-doc term scores sum in a fixed |Q|-column order, and scores
    * snap to the e6 grid before ranking.
    *
    * Scale shape: the tokenize + tf/df scan runs ONCE (materialized,
    * query-term-filtered so it is |matching docs| × |Q| rows, tiny
    * relative to the corpus); each grid cell re-scores that table
    * with scalar arithmetic and takes a top-10 heap
    * (TakeOrderedAndProject) — grid × O(tf) work, no new corpus
    * passes. The ideal-DCG is k1/b-independent: one row, computed
    * once, broadcast. */
  def bm25TuningSweep(s: SparkSession, d: String): DataFrame = {
    val terms = Seq("spark", "stream", "vector")
    // (k1, k1+1, b, 1-b) as decimal-literal strings parsed once each
    val grid = Seq(
      ("0.9", "1.9", "0.4", "0.6"),
      ("1.2", "2.2", "0.0", "1.0"),
      ("1.2", "2.2", "0.75", "0.25"),
      ("1.5", "2.5", "0.9", "0.1"))
    val docs = documents(s, d)
      .select(col("doc_id"), Documents.tokens(col("text")).as("ws"))
      .withColumn("dl", size(col("ws")))
    val stats = docs.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val tfBase = docs
      .select(col("doc_id"), col("dl"), explode(col("ws")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfT = tfBase.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val tfidf = graft.operators.Materialize.eager(
      tfBase.join(broadcast(dfT), "term").crossJoin(broadcast(stats))
        .withColumn("idf",
          log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)))
    val rel = graft.operators.Materialize.eager(
      documents(s, d)
        .select(col("doc_id"),
          explode(Documents.tokens(col("text"))).as("term"))
        .filter(col("term").isin(terms: _*))
        .groupBy(col("doc_id"))
        .agg((countDistinct(col("term")) +
          when(count(lit(1)) >= 8, 1L).otherwise(0L)).as("rel")))
    val wi = Window.orderBy(col("rel").desc, col("doc_id"))
    val idcg = rel.orderBy(col("rel").desc, col("doc_id")).limit(NdcgK)
      .withColumn("i", row_number().over(wi))
      .select((expr(gainCase) * expr(wCase("i"))).as("g"))
      .agg(coalesce(sum(col("g")), lit(0L)).cast("long").as("idcg_e6"))
    val cells = grid.map { case (k1, k1p1, b, omb) =>
      val scored = tfidf.withColumn("s",
        col("idf") * (col("tf") * lit(k1p1.toDouble)) /
          (col("tf") + lit(k1.toDouble) *
            (lit(omb.toDouble) + lit(b.toDouble) * col("dl") / col("avgdl"))))
      val perDoc = scored.groupBy(col("doc_id"))
        .agg(terms.map(t =>
          sum(when(col("term") === t, col("s"))).as(s"s_$t")).head,
          terms.tail.map(t =>
            sum(when(col("term") === t, col("s"))).as(s"s_$t")): _*)
      val total = terms.map(t => coalesce(col(s"s_$t"), lit(0.0)))
        .reduceLeft(_ + _)
      val top = perDoc
        .withColumn("score_e6", floor(total * 1e6 + lit(0.5)).cast("bigint"))
        .orderBy(col("score_e6").desc, col("doc_id")).limit(NdcgK)
      val w = Window.orderBy(col("score_e6").desc, col("doc_id"))
      top.withColumn("rank", row_number().over(w))
        .join(rel, Seq("doc_id"), "left")
        .select(col("rank"), coalesce(col("rel"), lit(0L)).as("rel"))
        .select((expr(gainCase) * expr(wCase("rank"))).as("g"),
          when(col("rel") > 0, 1L).otherwise(0L).as("hit"))
        .agg(coalesce(sum(col("g")), lit(0L)).cast("long").as("dcg_e6"),
          coalesce(sum(col("hit")), lit(0L)).cast("long").as("n_hits"))
        .withColumn("k1_permille",
          lit(math.round(k1.toDouble * 1000)))
        .withColumn("b_permille", lit(math.round(b.toDouble * 1000)))
    }
    cells.reduce(_ unionByName _)
      .crossJoin(broadcast(idcg))
      .select(col("k1_permille"), col("b_permille"), col("n_hits"),
        col("dcg_e6"),
        when(col("idcg_e6") === 0, 0L)
          .otherwise(expr("dcg_e6 * 1000 DIV idcg_e6")).as("ndcg_milli"))
      .orderBy(col("k1_permille"), col("b_permille"))
  }

  val bm25TuningSweepSql: String = {
    val toksSql =
      """list_filter(string_split_regex(text, '[^\p{L}]+'), w -> w <> '')"""
    val grid = Seq(
      ("0.9", "1.9", "0.4", "0.6"),
      ("1.2", "2.2", "0.0", "1.0"),
      ("1.2", "2.2", "0.75", "0.25"),
      ("1.5", "2.5", "0.9", "0.1"))
    val cells = grid.zipWithIndex.map { case ((k1, k1p1, b, omb), i) =>
      val k1pm = math.round(k1.toDouble * 1000)
      val bpm = math.round(b.toDouble * 1000)
      s"""sc_$i AS (
         |  SELECT doc_id, term,
         |    idf * (tf * $k1p1) / (tf + $k1 * ($omb + $b * dl / avgdl))
         |      AS sc
         |  FROM tfidf),
         |pd_$i AS (
         |  SELECT doc_id,
         |    COALESCE(SUM(CASE WHEN term='spark' THEN sc END), 0.0)
         |    + COALESCE(SUM(CASE WHEN term='stream' THEN sc END), 0.0)
         |    + COALESCE(SUM(CASE WHEN term='vector' THEN sc END), 0.0) AS sc
         |  FROM sc_$i GROUP BY doc_id),
         |top_$i AS (
         |  SELECT doc_id,
         |    ROW_NUMBER() OVER (ORDER BY CAST(FLOOR(sc*1e6 + 0.5) AS BIGINT)
         |      DESC, doc_id) AS rank
         |  FROM pd_$i QUALIFY rank <= $NdcgK),
         |dcg_$i AS (
         |  SELECT CAST($k1pm AS BIGINT) AS k1_permille,
         |    CAST($bpm AS BIGINT) AS b_permille,
         |    CAST(COALESCE(SUM(CASE WHEN COALESCE(r.rel, 0) > 0 THEN 1
         |      ELSE 0 END), 0) AS BIGINT) AS n_hits,
         |    CAST(COALESCE(SUM((CASE COALESCE(r.rel, 0) WHEN 1 THEN 1
         |        WHEN 2 THEN 3 WHEN 3 THEN 7 WHEN 4 THEN 15 ELSE 0 END)
         |      * (${wCase("t.rank")})), 0) AS BIGINT) AS dcg_e6
         |  FROM top_$i t LEFT JOIN rel2 r USING (doc_id))""".stripMargin
    }.mkString(",\n")
    val unions = grid.indices
      .map(i => s"SELECT * FROM dcg_$i").mkString("\n  UNION ALL ")
    s"""WITH docs3 AS (
       |  SELECT doc_id, ws, len(ws) AS dl FROM (
       |    SELECT doc_id, $toksSql AS ws FROM documents)),
       |stats AS (
       |  SELECT COUNT(*) AS n_docs,
       |    CAST(SUM(dl) AS DOUBLE)/COUNT(*) AS avgdl FROM docs3),
       |tf AS (
       |  SELECT doc_id, dl, term, COUNT(*) AS tf
       |  FROM docs3, UNNEST(ws) AS u(term)
       |  WHERE term IN ('spark','stream','vector')
       |  GROUP BY doc_id, dl, term),
       |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
       |tfidf AS (
       |  SELECT tf.doc_id, tf.dl, tf.term, tf.tf, s.avgdl,
       |    ln((s.n_docs - df.df + 0.5)/(df.df + 0.5) + 1.0) AS idf
       |  FROM tf JOIN df USING (term) CROSS JOIN stats s),
       |rel2 AS (
       |  SELECT doc_id, COUNT(DISTINCT term)
       |    + CASE WHEN COUNT(*) >= 8 THEN 1 ELSE 0 END AS rel
       |  FROM (SELECT doc_id, $toksSql AS ws FROM documents),
       |    UNNEST(ws) AS u(term)
       |  WHERE term IN ('spark', 'stream', 'vector')
       |  GROUP BY doc_id),
       |ideal AS (
       |  SELECT rel, ROW_NUMBER() OVER (ORDER BY rel DESC, doc_id) AS i
       |  FROM rel2 QUALIFY i <= $NdcgK),
       |idcg AS (
       |  SELECT CAST(COALESCE(SUM(($gainCase) * (${wCase("i")})), 0)
       |    AS BIGINT) AS idcg_e6
       |  FROM ideal),
       |$cells,
       |cells AS (
       |  $unions)
       |SELECT k1_permille, b_permille, n_hits, dcg_e6,
       |  CASE WHEN idcg_e6 = 0 THEN CAST(0 AS BIGINT)
       |       ELSE dcg_e6 * 1000 // idcg_e6 END AS ndcg_milli
       |FROM cells, idcg
       |ORDER BY k1_permille, b_permille""".stripMargin
  }

  val queries: Map[String, Query] = Map(
    "retrieval_bm25_tuning_sweep" -> Query(bm25TuningSweep, bm25TuningSweepSql),
    "retrieval_rrf_fusion" -> Query(rrfFusion, rrfFusionSql),
    "retrieval_ndcg_eval" -> Query(ndcgEval, ndcgEvalSql),
    "retrieval_query_expansion" -> Query(queryExpansion, queryExpansionSql))
}
