package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.Query

/** Retrieval scoring, repetition-quality rules and context-window
  * chunking over the documents table — the curation stages between
  * raw-corpus cleaning (TextPipeline) and sequence packing.
  *
  * Every query is scan + explode + hash-agg: per-doc work, shuffles
  * keyed on doc_id or term, no driver state, no O(n²) stage — the
  * shapes survive a 100× scale-up unchanged.
  */
object TextAnalysis {

  /** THE corpus tokenizer (single definition: Documents.tokens). */
  private def toks(c: Column): Column = Documents.tokens(c)

  /** Its DuckDB twin, list-valued (the oracle SQL strings inline it). */
  private val toksSql =
    """list_filter(string_split_regex(text, '[^\p{L}]+'), w -> w <> '')"""

  // ---------------------------------------------------------- BM25
  /** BM25 top-k retrieval for a fixed query-term set — the relevance
    * ranking used to mine domain-targeted training subsets from a raw
    * corpus.
    *
    * Scale shape: one scan builds per-(doc, term) tf for the query
    * terms only (explode + filter + hash-agg keyed on doc_id); df and
    * the corpus stats (N, avgdl) are a |Q|-row and a 1-row table —
    * both broadcast. No join ever carries more than tf rows
    * (≤ |Q| per doc), so the plan is linear in corpus size with any
    * number of executors.
    *
    * Portability: the score needs ln(), whose last ulp is libm-
    * dependent, so the output snaps score×1e6 to an integer grid
    * before the cross-engine compare AND before ranking — rank and
    * top-k cutoff are decided on the snapped integer + doc_id on both
    * engines, never on a raw double. (Unlike the percentile snaps, a
    * BM25 score is a generic real: the chance of the true value
    * sitting within an ulp of a grid boundary is ~1e-10 per doc.) */
  def bm25TopK(s: SparkSession, d: String): DataFrame = {
    val terms = Seq("spark", "stream", "vector")
    val TopK = 20 // BM25 constants k1=1.2, b=0.75 appear inline below
    val docs = documents(s, d).select(col("doc_id"), toks(col("text")).as("ws"))
      .withColumn("dl", size(col("ws")))
    // corpus stats: one row, joined by broadcast — never a shuffle
    val stats = docs.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val tf = docs.select(col("doc_id"), col("dl"), explode(col("ws")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // every constant below is written as the SAME decimal literal the
    // oracle SQL uses (2.2, 1.2, 0.25, 0.75) — a Scala-computed
    // K1 + 1.0 could land one ulp away from the SQL parser's 2.2
    val scored = tf.join(broadcast(df), "term").crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("s",
        col("idf") * (col("tf") * 2.2) /
          (col("tf") +
            lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
    // per-term columns summed in a FIXED order (a groupBy-sum over
    // doubles is shuffle-order-dependent; |Q| is a compile-time list)
    val perDoc = scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms_matched"),
        terms.map(t => sum(when(col("term") === t, col("s"))).as(s"s_$t")): _*)
    val total = terms.map(t => coalesce(col(s"s_$t"), lit(0.0)))
      .reduceLeft(_ + _)
    val snapped = perDoc.withColumn("score_e6",
      floor(total * 1e6 + lit(0.5)).cast("bigint"))
    // global top-k as distributed TakeOrderedAndProject (per-partition
    // heads merged on the driver side of the exchange — never a full
    // sort), then rank the 20 survivors with a window that only ever
    // sees 20 rows
    val top = snapped.orderBy(col("score_e6").desc, col("doc_id")).limit(TopK)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score_e6").desc, col("doc_id"))
    top.withColumn("rank", row_number().over(w))
      .select(col("doc_id"), col("n_terms_matched"), col("score_e6"),
        col("rank"))
      .orderBy(col("rank"))
  }

  val bm25TopKSql: String =
    s"""WITH docs AS (
       |  SELECT doc_id, ws, len(ws) AS dl FROM (
       |    SELECT doc_id, $toksSql AS ws FROM documents)),
       |stats AS (
       |  SELECT COUNT(*) AS n_docs,
       |    CAST(SUM(dl) AS DOUBLE)/COUNT(*) AS avgdl FROM docs),
       |tf AS (
       |  SELECT doc_id, dl, term, COUNT(*) AS tf
       |  FROM docs, UNNEST(ws) AS u(term)
       |  WHERE term IN ('spark','stream','vector')
       |  GROUP BY doc_id, dl, term),
       |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
       |scored AS (
       |  SELECT tf.doc_id, tf.term,
       |    ln((s.n_docs - df.df + 0.5)/(df.df + 0.5) + 1.0)
       |      * (tf.tf * 2.2)
       |      / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl)) AS sc
       |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN stats s),
       |per_doc AS (
       |  SELECT doc_id, COUNT(*) AS n_terms_matched,
       |    COALESCE(SUM(CASE WHEN term='spark' THEN sc END), 0.0)
       |    + COALESCE(SUM(CASE WHEN term='stream' THEN sc END), 0.0)
       |    + COALESCE(SUM(CASE WHEN term='vector' THEN sc END), 0.0) AS sc
       |  FROM scored GROUP BY doc_id),
       |snapped AS (
       |  SELECT doc_id, n_terms_matched,
       |    CAST(FLOOR(sc*1e6 + 0.5) AS BIGINT) AS score_e6
       |  FROM per_doc)
       |SELECT doc_id, n_terms_matched, score_e6,
       |  CAST(ROW_NUMBER() OVER (ORDER BY score_e6 DESC, doc_id) AS INT)
       |    AS rank
       |FROM snapped
       |ORDER BY score_e6 DESC, doc_id LIMIT 20""".stripMargin

  // ------------------------------------------- TF-IDF keyword terms
  /** Top-3 TF-IDF terms per document (smooth idf = ln((1+N)/(1+df))+1)
    * — the keyword-extraction pass behind topic tagging and
    * per-document metadata in a curation pipeline.
    *
    * Scale shape: per-(doc, term) tf is one hash-agg off the token
    * explode; df is an agg over tf keyed by term, joined back on term
    * (an equi-join that shuffles by term — at web scale the vocab is
    * itself large, so no broadcast is assumed); corpus size N is a
    * 1-row broadcast. The final top-3 window partitions BY DOC — the
    * window key is the parallel unit, so no global sort anywhere.
    *
    * Each row's score is a single tf × idf product (no cross-row FP
    * summation → no shuffle-order sensitivity); ln()'s last ulp is
    * libm-dependent, so like BM25 the score is snapped to an integer
    * 1e-6 grid before ranking and comparison, and ties break on the
    * term string. */
  def tfidfTopTerms(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), toks(col("text")).as("ws"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val tf = docs.select(col("doc_id"), explode(col("ws")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf.join(df, "term").crossJoin(broadcast(n))
      .withColumn("score_e6",
        floor(col("tf") * (log((col("n_docs") + 1.0) / (col("df") + 1.0)) + 1.0)
          * 1e6 + lit(0.5)).cast("bigint"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score_e6").desc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("term"), col("score_e6"))
      .orderBy(col("doc_id"), col("rank"))
  }

  val tfidfTopTermsSql: String =
    s"""WITH docs AS (
       |  SELECT doc_id, $toksSql AS ws FROM documents),
       |n AS (SELECT COUNT(*) AS n_docs FROM docs),
       |tf AS (
       |  SELECT doc_id, term, COUNT(*) AS tf
       |  FROM docs, UNNEST(ws) AS u(term)
       |  GROUP BY doc_id, term),
       |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
       |scored AS (
       |  SELECT tf.doc_id, tf.term,
       |    CAST(FLOOR(tf.tf * (ln((n.n_docs + 1.0)/(df.df + 1.0)) + 1.0)
       |         * 1e6 + 0.5) AS BIGINT) AS score_e6
       |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n)
       |SELECT doc_id,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
       |       ORDER BY score_e6 DESC, term) AS INT) AS rank,
       |  term, score_e6
       |FROM scored
       |QUALIFY rank <= 3
       |ORDER BY doc_id, rank""".stripMargin

  // ------------------------------------- repetition quality (Gopher)
  /** Repetition-based quality rules (the Gopher-rules family): the
    * fraction of tokens taken by the most frequent word, the fraction
    * of word bigrams taken by the most frequent bigram, and mean word
    * length; docs failing any threshold are flagged for removal.
    * Boilerplate and template spam score high on exactly these ratios.
    *
    * All metrics are integer-over-integer ratios (one IEEE division,
    * bit-identical on any engine) — no transcendental, no snap needed.
    * Shape: TWO tokenize passes total — the word explode serves
    * n_words, top-word count AND total word length from one (doc,
    * word) agg (Σ c·len(w) over groups ≡ Σ len over occurrences), the
    * bigram explode serves the bigram ratio; one per-doc join; linear. */
  def repetitionQuality(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d).select(col("doc_id"), toks(col("text")).as("ws"))
    val wordStats = base.select(col("doc_id"), explode(col("ws")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_words"),
        max(col("c")).as("top_word_c"),
        sum(col("c") * length(col("w"))).as("total_word_len"))
      .filter(col("n_words") >= 2)
    val len2 = greatest(size(col("ws")) - 1, lit(0))
    val bigrams = zip_with(
      slice(col("ws"), lit(1), len2), slice(col("ws"), lit(2), len2),
      (x, y) => concat(x, lit(" "), y))
    val topBigram = base.select(col("doc_id"), explode(bigrams).as("b"))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("top_bigram_c"))
    wordStats.join(topBigram, "doc_id")
      .select(col("doc_id"), col("n_words").cast("int").as("n_words"),
        (col("top_word_c").cast("double") / col("n_words"))
          .as("top_word_ratio"),
        (col("top_bigram_c").cast("double") / (col("n_words") - 1))
          .as("top_bigram_ratio"),
        (col("total_word_len").cast("double") / col("n_words"))
          .as("mean_word_len"))
      .withColumn("keep",
        col("top_word_ratio") <= 0.20 && col("top_bigram_ratio") <= 0.18 &&
          col("mean_word_len") >= 2.0 && col("mean_word_len") <= 10.0)
      .orderBy(col("doc_id"))
  }

  val repetitionQualitySql: String =
    s"""WITH base AS (
       |  SELECT doc_id, $toksSql AS ws FROM documents),
       |sized AS (
       |  SELECT doc_id, ws, len(ws) AS n_words FROM base WHERE len(ws) >= 2),
       |tw AS (
       |  SELECT doc_id, MAX(c) AS top_word_c FROM (
       |    SELECT doc_id, w, COUNT(*) AS c
       |    FROM sized, UNNEST(ws) AS u(w) GROUP BY doc_id, w)
       |  GROUP BY doc_id),
       |tb AS (
       |  SELECT doc_id, MAX(c) AS top_bigram_c FROM (
       |    SELECT doc_id, ws[i] || ' ' || ws[i+1] AS b, COUNT(*) AS c
       |    FROM sized, UNNEST(range(1, len(ws))) AS u(i)
       |    GROUP BY doc_id, b)
       |  GROUP BY doc_id),
       |wl AS (
       |  SELECT doc_id, SUM(len(w)) AS total_word_len
       |  FROM sized, UNNEST(ws) AS u(w) GROUP BY doc_id),
       |m AS (
       |  SELECT s.doc_id, s.n_words,
       |    CAST(tw.top_word_c AS DOUBLE)/s.n_words AS top_word_ratio,
       |    CAST(tb.top_bigram_c AS DOUBLE)/(s.n_words - 1) AS top_bigram_ratio,
       |    CAST(wl.total_word_len AS DOUBLE)/s.n_words AS mean_word_len
       |  FROM sized s JOIN tw ON s.doc_id = tw.doc_id
       |    JOIN tb ON s.doc_id = tb.doc_id
       |    JOIN wl ON s.doc_id = wl.doc_id)
       |SELECT doc_id, CAST(n_words AS INT) AS n_words, top_word_ratio,
       |  top_bigram_ratio, mean_word_len,
       |  (top_word_ratio <= 0.20 AND top_bigram_ratio <= 0.18
       |   AND mean_word_len >= 2.0 AND mean_word_len <= 10.0) AS keep
       |FROM m ORDER BY doc_id""".stripMargin

  // ------------------------------------- context-window chunking
  /** Split each document's token stream into model-context windows of
    * [[ChunkW]] tokens with stride [[ChunkS]] (overlap = W−S carries
    * boundary context into the next window) — how long documents
    * become fixed-length training samples before packing. Each chunk
    * carries the md5 of its text so the oracle checks CONTENT, not
    * just offsets. Pure per-row explode over a computed range: no
    * shuffle at all until the output sort; linear at any scale. */
  private[queries] val ChunkW = 64
  private[queries] val ChunkS = 48

  def chunkWindows(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d).select(col("doc_id"), toks(col("text")).as("ws"))
      .withColumn("n", size(col("ws"))).filter(col("n") > 0)
    val nch = (lit(1) +
      floor((greatest(col("n") - ChunkW, lit(0)) + (ChunkS - 1))
        / ChunkS.toDouble)).cast("int")
    base.withColumn("nch", nch)
      .select(col("doc_id"), col("ws"), col("n"),
        explode(sequence(lit(0), col("nch") - 1)).as("chunk_id"))
      .withColumn("start_tok", col("chunk_id") * ChunkS)
      .withColumn("chunk_len",
        least(lit(ChunkW), col("n") - col("start_tok")))
      .select(col("doc_id"), col("chunk_id"), col("start_tok"),
        col("chunk_len"),
        md5(array_join(
          slice(col("ws"), col("start_tok") + 1, col("chunk_len")), " "))
          .as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  val chunkWindowsSql: String =
    s"""WITH base AS (
       |  SELECT doc_id, $toksSql AS ws FROM documents),
       |sized AS (
       |  SELECT doc_id, ws, len(ws) AS n FROM base WHERE len(ws) > 0),
       |chunked AS (
       |  SELECT doc_id, ws, n, CAST(i AS INT) AS chunk_id,
       |    CAST(i * $ChunkS AS INT) AS start_tok
       |  FROM sized, UNNEST(range(0,
       |    1 + CAST(FLOOR((GREATEST(n - $ChunkW, 0) + ${ChunkS - 1})
       |              / ${ChunkS.toDouble}) AS BIGINT))) AS u(i))
       |SELECT doc_id, chunk_id, start_tok,
       |  CAST(LEAST($ChunkW, n - start_tok) AS INT) AS chunk_len,
       |  md5(array_to_string(
       |    ws[start_tok + 1 : start_tok + LEAST($ChunkW, n - start_tok)],
       |    ' ')) AS chunk_md5
       |FROM chunked ORDER BY doc_id, chunk_id""".stripMargin

  // ------------------------------------------------ vocab coverage
  /** Test-scale vocab cutoff (production: the tokenizer's vocab size;
    * the synthetic corpus has ~40 distinct words, so 20 exercises
    * both the in-vocab and OOV paths). */
  private[graft] val VocabK = 20

  /** Vocabulary coverage / OOV-rate profile: build the top-[[VocabK]]
    * token vocabulary by corpus frequency, then score every document's
    * out-of-vocabulary rate — the tokenizer-coverage check run before
    * committing a vocab, and a quality filter (high-OOV docs are
    * boilerplate/garbled). Scale shape: token counts partial-agg
    * map-side; the vocab is a TakeOrdered over the count table
    * (K rows to the driver-side limit, then broadcast back); the
    * per-doc pass is one hash-agg keyed on doc_id. Rates are exact
    * integer permille (1000·n_oov DIV n_tokens) — no doubles.
    * Vocab boundary ties break on the token string, so the cutoff is
    * engine-deterministic. */
  def vocabOov(s: SparkSession, d: String): DataFrame = {
    val tok = documents(s, d)
      .select(col("doc_id"), explode(toks(col("text"))).as("word"))
    val vocab = tok.groupBy(col("word")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("word")).limit(VocabK)
      .select(col("word"), lit(1).as("in_vocab"))
    tok.join(broadcast(vocab), Seq("word"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_permille", expr("(1000 * n_oov) DIV n_tokens"))
      .orderBy(col("doc_id"))
  }

  val vocabOovSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, UNNEST($toksSql) AS word FROM documents),
       |counts AS (SELECT word, COUNT(*) AS c FROM tok GROUP BY word),
       |vocab AS (
       |  SELECT word FROM counts
       |  QUALIFY ROW_NUMBER() OVER (ORDER BY c DESC, word) <= $VocabK)
       |SELECT t.doc_id, COUNT(*) AS n_tokens,
       |  CAST(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_oov,
       |  (1000 * CAST(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END)
       |    AS BIGINT)) // COUNT(*) AS oov_permille
       |FROM tok t LEFT JOIN vocab v ON t.word = v.word
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  // -------------------------------------------- unigram surprisal
  /** Unigram-LM surprisal scoring — the KenLM-style quality filter
    * reduced to its distributable core: score each document by how
    * "surprising" its tokens are under the corpus's own unigram
    * distribution (low surprisal ⇒ all-boilerplate tokens, high ⇒
    * garbled/rare-token noise; both tails get cut in a real pipeline).
    *
    * Portability: true −log₂ p needs libm, whose last ulp differs per
    * engine, so the metric is DEFINED on the integer bit-length grid:
    * info(w) = bits(N) − bits(cnt_w) where bits(x) = len(bin(x)) —
    * i.e. ⌊log₂⌋ distances, exact on both engines, summed as longs.
    *
    * Scale shape: token counts partial-agg map-side; the token→count
    * join shuffles on the word (the vocab at web scale is too big to
    * broadcast — this is the same join topology as tfidf); corpus
    * total N is a 1-row broadcast; the per-doc roll-up keys on doc_id.
    * Linear end to end. */
  def unigramSurprisal(s: SparkSession, d: String): DataFrame = {
    val tok = documents(s, d)
      .select(col("doc_id"), explode(toks(col("text"))).as("word"))
    val cnts = tok.groupBy(col("word")).agg(count(lit(1)).as("c"))
    val tot = cnts.agg(sum(col("c")).as("n"))
    tok.join(cnts, "word")
      .crossJoin(broadcast(tot))
      .withColumn("bits",
        (length(bin(col("n"))) - length(bin(col("c")))).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("bits")).as("surprisal_bits"))
      .withColumn("mean_millibits",
        expr("(1000 * surprisal_bits) DIV n_tokens"))
      .orderBy(col("doc_id"))
  }

  val unigramSurprisalSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, UNNEST($toksSql) AS word FROM documents),
       |cnts AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS c
       |         FROM tok GROUP BY word),
       |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cnts)
       |SELECT doc_id, COUNT(*) AS n_tokens,
       |  CAST(SUM(length(bin(n)) - length(bin(c))) AS BIGINT)
       |    AS surprisal_bits,
       |  (1000 * CAST(SUM(length(bin(n)) - length(bin(c))) AS BIGINT))
       |    // COUNT(*) AS mean_millibits
       |FROM tok JOIN cnts USING (word) CROSS JOIN tot
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------ perplexity filter sweep
  /** Perplexity-threshold curation curve (the CCNet knob): how many
    * documents and how much token mass survive at each cut of the
    * per-doc mean unigram surprisal? Low surprisal ≈ fluent,
    * in-distribution text; the sweep shows what a given threshold
    * actually costs in corpus mass BEFORE anyone commits to it —
    * the same measured-not-guessed stance as dedup_threshold_sweep,
    * applied to the quality axis.
    *
    * Thresholds SELF-ANCHOR at the corpus's token-weighted mean
    * surprisal (+0/125/250/500 millibits): an absolute grid would be
    * fixture-coupled — this corpus's per-doc means span just
    * 5000–5416 — while offsets from the corpus's own center measure
    * the right-tail mass at any scale, and the resolved absolute
    * cutoffs are emitted so the report stays self-describing.
    *
    * Reuses [[unigramSurprisal]]'s bit-length ladder verbatim (one
    * definition of "surprisal" across the engine), so the sweep is
    * exact integers end-to-end: one corpus LM pass, one per-doc agg,
    * a 1-row anchor broadcast, then a single 1-row aggregate with
    * four conditional sums stack()ed into the report — adding a
    * threshold costs one column, never a scan.
    *
    * Scale shape: the unigram join every surprisal consumer pays
    * (token ⋈ vocab equi-join + broadcast 1-row total), one doc
    * hash-agg, two 1-row reductions. */
  def perplexityFilterSweep(s: SparkSession, d: String): DataFrame = {
    val per = unigramSurprisal(s, d)
      .select(col("n_tokens"), col("surprisal_bits"),
        col("mean_millibits"))
    val anchor = per.agg(expr(
      "(1000 * SUM(surprisal_bits)) DIV SUM(n_tokens)").as("am"))
    def kd(off: Int) = sum(when(
      col("mean_millibits") <= col("am") + off, 1L).otherwise(0L))
      .cast("long")
    def kt(off: Int) = sum(when(
      col("mean_millibits") <= col("am") + off, col("n_tokens"))
      .otherwise(0L)).cast("long")
    per.crossJoin(broadcast(anchor))
      .agg(count(lit(1)).as("nd"),
        sum(col("n_tokens")).cast("long").as("nt"),
        max(col("am")).as("am"),
        kd(0).as("k0"), kd(125).as("k125"),
        kd(250).as("k250"), kd(500).as("k500"),
        kt(0).as("t0"), kt(125).as("t125"),
        kt(250).as("t250"), kt(500).as("t500"))
      .select(expr(
        """stack(4,
          |  am, k0, k0 * 1000 DIV nd, t0, t0 * 1000 DIV nt,
          |  am + 125, k125, k125 * 1000 DIV nd,
          |    t125, t125 * 1000 DIV nt,
          |  am + 250, k250, k250 * 1000 DIV nd,
          |    t250, t250 * 1000 DIV nt,
          |  am + 500, k500, k500 * 1000 DIV nd,
          |    t500, t500 * 1000 DIV nt)
          |AS (threshold_millibits, n_docs_kept, docs_share_pm,
          |    tokens_kept, tokens_share_pm)""".stripMargin))
      .orderBy(col("threshold_millibits"))
  }

  val perplexityFilterSweepSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, UNNEST($toksSql) AS word FROM documents),
       |cnts AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS c
       |         FROM tok GROUP BY word),
       |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cnts),
       |per AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |    CAST(SUM(length(bin(n)) - length(bin(c))) AS BIGINT)
       |      AS surprisal_bits,
       |    (1000 * CAST(SUM(length(bin(n)) - length(bin(c))) AS BIGINT))
       |      // COUNT(*) AS mean_millibits
       |  FROM tok JOIN cnts USING (word) CROSS JOIN tot
       |  GROUP BY doc_id),
       |anchor AS (
       |  SELECT (1000 * CAST(SUM(surprisal_bits) AS BIGINT))
       |    // CAST(SUM(n_tokens) AS BIGINT) AS am FROM per),
       |a AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS nd,
       |    CAST(SUM(n_tokens) AS BIGINT) AS nt, MAX(am) AS am,
       |    CAST(COALESCE(SUM(n_tokens) FILTER (
       |      WHERE mean_millibits <= am), 0) AS BIGINT) AS t0,
       |    CAST(COALESCE(SUM(n_tokens) FILTER (
       |      WHERE mean_millibits <= am + 125), 0) AS BIGINT) AS t125,
       |    CAST(COALESCE(SUM(n_tokens) FILTER (
       |      WHERE mean_millibits <= am + 250), 0) AS BIGINT) AS t250,
       |    CAST(COALESCE(SUM(n_tokens) FILTER (
       |      WHERE mean_millibits <= am + 500), 0) AS BIGINT) AS t500,
       |    CAST(COUNT(*) FILTER (WHERE mean_millibits <= am)
       |      AS BIGINT) AS k0,
       |    CAST(COUNT(*) FILTER (WHERE mean_millibits <= am + 125)
       |      AS BIGINT) AS k125,
       |    CAST(COUNT(*) FILTER (WHERE mean_millibits <= am + 250)
       |      AS BIGINT) AS k250,
       |    CAST(COUNT(*) FILTER (WHERE mean_millibits <= am + 500)
       |      AS BIGINT) AS k500
       |  FROM per CROSS JOIN anchor)
       |SELECT * FROM (
       |  SELECT am AS threshold_millibits,
       |    k0 AS n_docs_kept, k0 * 1000 // nd AS docs_share_pm,
       |    t0 AS tokens_kept, t0 * 1000 // nt AS tokens_share_pm
       |  FROM a
       |  UNION ALL SELECT am + 125, k125, k125 * 1000 // nd,
       |    t125, t125 * 1000 // nt FROM a
       |  UNION ALL SELECT am + 250, k250, k250 * 1000 // nd,
       |    t250, t250 * 1000 // nt FROM a
       |  UNION ALL SELECT am + 500, k500, k500 * 1000 // nd,
       |    t500, t500 * 1000 // nt FROM a)
       |ORDER BY threshold_millibits""".stripMargin

  // ------------------------------------------------- collocations
  /** PMI collocation mining: adjacent word pairs whose observed
    * frequency beats independence by a lift margin — the phrase /
    * multi-word-expression extraction pass that feeds tokenizer merge
    * rules and stop-phrase lists.
    *
    * The lift test runs as one exact integer cross-multiplication
    * (cab·Nu²·10 > 11·ca·cb·Nb, lift > 1.1) — no doubles, no log, so
    * cross-engine equality is structural. Both sides grow ~cubically
    * with corpus size (each count/total is ~linear), so Long headroom
    * is the CUBE root of the remaining 2^63 slack: at sf0.1 the
    * dominant term is ~1e17, leaving only ~10²× before overflow — at
    * that point the compare moves to DECIMAL(38), which buys ~10⁷×
    * more. ANSI mode makes any overflow loud, never silent.
    *
    * Scale shape: bigram and unigram counts are both map-side partial
    * hash-aggs; the pair-table joins to the two unigram count tables
    * shuffle on the word (vocab not assumed broadcastable, same
    * topology as tfidf/surprisal); the two grand totals are 1-row
    * broadcasts. No self-join on anything document-sized. */
  def collocations(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d).select(col("doc_id"), toks(col("text")).as("ws"))
    val uni = base.select(explode(col("ws")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("c"))
    val nu = uni.agg(sum(col("c")).as("nu"))
    val pairs = base.select(explode(expr(
      """zip_with(slice(ws, 1, greatest(size(ws) - 1, 0)),
        |         slice(ws, 2, greatest(size(ws) - 1, 0)),
        |         (x, y) -> named_struct('a', x, 'b', y))""".stripMargin))
      .as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    val bcnt = pairs.groupBy(col("a"), col("b")).agg(count(lit(1)).as("cab"))
    val nb = bcnt.agg(sum(col("cab")).as("nbt"))
    bcnt
      .join(uni.select(col("word").as("a"), col("c").as("ca")), "a")
      .join(uni.select(col("word").as("b"), col("c").as("cb")), "b")
      .crossJoin(broadcast(nu)).crossJoin(broadcast(nb))
      .filter(col("cab") >= 5 &&
        col("cab") * col("nu") * col("nu") * 10 >
          lit(11L) * col("ca") * col("cb") * col("nbt"))
      .select(col("a").as("word_a"), col("b").as("word_b"),
        col("cab").as("pair_count"))
      .orderBy(col("pair_count").desc, col("word_a"), col("word_b"))
  }

  val collocationsSql: String =
    s"""WITH base AS (
       |  SELECT doc_id, $toksSql AS ws FROM documents),
       |uni AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS c FROM
       |  (SELECT UNNEST(ws) AS word FROM base) GROUP BY word),
       |ntot AS (SELECT CAST(SUM(c) AS BIGINT) AS nu FROM uni),
       |pairs AS (
       |  SELECT ws[i] AS a, ws[i+1] AS b
       |  FROM base, UNNEST(range(1, len(ws))) AS t(i)),
       |bcnt AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS cab
       |         FROM pairs GROUP BY a, b),
       |nb AS (SELECT CAST(SUM(cab) AS BIGINT) AS nbt FROM bcnt)
       |SELECT a AS word_a, b AS word_b, cab AS pair_count
       |FROM bcnt
       |JOIN uni ua ON a = ua.word
       |JOIN uni ub ON b = ub.word
       |CROSS JOIN ntot CROSS JOIN nb
       |WHERE cab >= 5 AND cab * nu * nu * 10 > 11 * ua.c * ub.c * nbt
       |ORDER BY cab DESC, a, b""".stripMargin

  // ------------------------------------------------ heavy hitters
  /** Corpus heavy-hitter tokens via sketch → prune → exact-confirm:
    * a native Misra–Gries TypedImperativeAggregate
    * (`graft.functions.MisraGriesAgg`, k=48) reduces the whole token
    * stream to ≤48 candidates with NO distinct-key shuffle (the
    * aggregation state is k counters per partition, merged
    * associatively), then ONLY the candidates are exact-counted — the
    * second pass's agg carries ≤48 keys instead of the vocabulary.
    *
    * Determinism: the sketch's candidate list can vary with partition
    * order near the threshold, but every word with freq > n/49 is
    * guaranteed present, and the output filter keeps freq > n/40 on
    * EXACT counts — so the result equals the plain exact query and
    * the DuckDB oracle needs no sketch at all. */
  def heavyHitters(s: SparkSession, d: String): DataFrame = {
    // defensive registration for sessions built without GraftExtensions
    graft.functions.GraftFunctions.registerAll(s)
    val tok = documents(s, d).select(explode(toks(col("text"))).as("word"))
    val n = tok.agg(count(lit(1)).as("n"))
    val cands = tok
      .agg(graft.functions.GraftFunctions.misraGries(col("word"), 48)
        .as("cand"))
      .select(explode(col("cand")).as("word"))
    tok.join(broadcast(cands), "word")
      .groupBy(col("word")).agg(count(lit(1)).as("c"))
      .crossJoin(broadcast(n))
      .filter(col("c") * 40 > col("n"))
      .select(col("word"), col("c").as("n_occurrences"),
        expr("(1000 * c) DIV n").as("freq_permille"))
      .orderBy(col("n_occurrences").desc, col("word"))
  }

  val heavyHittersSql: String =
    s"""WITH tok AS (
       |  SELECT UNNEST($toksSql) AS word FROM documents),
       |c AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS c
       |      FROM tok GROUP BY word),
       |t AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM c)
       |SELECT word, c AS n_occurrences, (1000 * c) // n AS freq_permille
       |FROM c, t WHERE c * 40 > n
       |ORDER BY c DESC, word""".stripMargin

  // ---------------------------------------------- character entropy
  /** Character-distribution Shannon entropy per doc, on the same exact
    * integer bit-length grid as unigramSurprisal: each character class
    * with count k out of n contributes k·(bitlen(n)−bitlen(k)) ≈
    * k·log2(n/k) bits, so entropy_millibits = 1000·Σ/n with integer
    * ops only. The gate catches binary-junk / single-char-spam docs
    * (near-zero entropy) and base64-ish noise (near-max) that token
    * rules miss — a standard CCNet/Gopher companion filter.
    *
    * Scale shape: explode to (doc, char) → hash-agg keyed (doc, char)
    * (alphabet-bounded: ≤ ~100 rows per doc survive the partial agg)
    * → per-doc second agg. The doc-total join is by doc_id — the same
    * linear topology as surprisal, no corpus-wide state at all. */
  def charEntropy(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(s)
    // native char_ngram_counts(n=1): one count map per doc instead of
    // one exploded row per CHARACTER — same counts (the composed
    // split("")-explode form is differential-pinned in CharNgramSpec),
    // alphabet-bounded explode volume
    val cnt = documents(s, d).select(col("doc_id"),
      explode(graft.functions.GraftFunctions.charNgramCounts(
        col("text"), 1)).as(Seq("ch", "k")))
    val tot = cnt.groupBy(col("doc_id")).agg(sum(col("k")).as("n"))
    cnt.join(tot, "doc_id")
      .withColumn("bits",
        col("k") * (length(bin(col("n"))) - length(bin(col("k")))).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_distinct_chars"),
        max(col("n")).as("n_chars_counted"),
        expr("(1000 * SUM(bits)) DIV MAX(n)").as("entropy_millibits"))
      .orderBy(col("doc_id"))
  }

  val charEntropySql: String =
    """WITH ch AS (
      |  SELECT doc_id, UNNEST(string_split(text, '')) AS ch
      |  FROM documents),
      |cnt AS (SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS k
      |        FROM ch WHERE ch <> '' GROUP BY doc_id, ch),
      |tot AS (SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n
      |        FROM cnt GROUP BY doc_id)
      |SELECT doc_id,
      |  COUNT(*) AS n_distinct_chars,
      |  MAX(n) AS n_chars_counted,
      |  (1000 * CAST(SUM(k * (length(bin(n)) - length(bin(k)))) AS BIGINT))
      |    // MAX(n) AS entropy_millibits
      |FROM cnt JOIN tot USING (doc_id)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------- linear quality gate
  /** Model-based quality filter with FROZEN integer weights — the
    * fastText-classifier stage of DCLM/FineWeb-style pipelines, reduced
    * to its distributable core: a linear score over per-doc features.
    * Features live on the exact integer permille grid (mean token
    * length, stopword rate, space rate, a capped token count), the
    * logit is one integer dot product, and the keep decision is
    * logit ≥ 0 — bit-identical cross-engine, no doubles anywhere.
    * Swapping in real trained weights changes only the literals.
    *
    * Scale shape: a pure per-row projection over one scan — no
    * shuffle, no state; the filter runs at I/O speed at any corpus
    * size and pushes NOTHING across the cluster. */
  def qualityClassifier(s: SparkSession, d: String): DataFrame = {
    val ws = toks(col("text"))
    documents(s, d)
      .select(col("doc_id"), col("text"), ws.as("ws"))
      .filter(size(col("ws")) > 0)
      .select(col("doc_id"),
        least(size(col("ws")), lit(120)).cast("long").as("cap_tokens"),
        (lit(1000L) *
          length(regexp_replace(col("text"), "[^\\p{L}]+", ""))).as("mtl_num"),
        (lit(1000L) * size(filter(col("ws"),
          w => w.isin("the", "a", "of", "and", "to")))).as("stop_num"),
        (lit(1000L) * (length(col("text")) -
          length(replace(col("text"), lit(" "), lit(""))))).as("space_num"),
        size(col("ws")).cast("long").as("n_tok"),
        length(col("text")).cast("long").as("n_chr"))
      .select(col("doc_id"), col("cap_tokens"),
        expr("mtl_num DIV n_tok").as("mtl_permille"),
        expr("stop_num DIV n_tok").as("stop_permille"),
        expr("space_num DIV n_chr").as("space_permille"))
      // frozen weights: reward length + healthy stopword/space rates,
      // penalize distance from the ~4.5-letter mean-token-length mode
      .withColumn("logit_milli",
        expr("""-1100 + cap_tokens * 10 + stop_permille * 4 +
                space_permille * 2 - abs(mtl_permille - 4500) DIV 2"""))
      .withColumn("keep", col("logit_milli") >= 0)
      .orderBy(col("doc_id"))
  }

  val qualityClassifierSql: String =
    s"""WITH f AS (
       |  SELECT doc_id,
       |    CAST(LEAST(len(ws), 120) AS BIGINT) AS cap_tokens,
       |    (1000 * CAST(LENGTH(regexp_replace(text, '[^\\p{L}]+', '', 'g'))
       |       AS BIGINT)) // len(ws) AS mtl_permille,
       |    (1000 * CAST(len(list_filter(ws,
       |       w -> w IN ('the','a','of','and','to'))) AS BIGINT))
       |       // len(ws) AS stop_permille,
       |    (1000 * CAST(LENGTH(text) - LENGTH(replace(text, ' ', ''))
       |       AS BIGINT)) // LENGTH(text) AS space_permille
       |  FROM (SELECT doc_id, text, $toksSql AS ws FROM documents)
       |  WHERE len(ws) > 0)
       |SELECT doc_id, cap_tokens, mtl_permille, stop_permille,
       |  space_permille,
       |  -1100 + cap_tokens * 10 + stop_permille * 4 + space_permille * 2
       |    - abs(mtl_permille - 4500) // 2 AS logit_milli,
       |  (-1100 + cap_tokens * 10 + stop_permille * 4 + space_permille * 2
       |    - abs(mtl_permille - 4500) // 2) >= 0 AS keep
       |FROM f ORDER BY doc_id""".stripMargin

  // -------------------------------------- classifier calibration
  /** Calibration of the frozen quality classifier against an
    * INDEPENDENT outcome — exact-duplicate membership: logits bin
    * into fixed 250-milli buckets and each bucket reports its
    * duplicate rate. The curation sanity check behind threshold
    * picking: if low-quality scores don't concentrate duplicates
    * (template floods), the classifier threshold and the dedup stage
    * are fighting different enemies. Fixed absolute bin edges (not
    * data-derived) so the curve is comparable across corpus
    * snapshots — the PSI stance, applied to a score.
    *
    * Scale shape: logits are [[qualityClassifier]]'s linear pass; the
    * dup flag is one md5-of-text hash-agg joined back on the hash;
    * the calibration table is a ≤ 12-row group-by. All corpus-sized
    * work is linear with map-side combine. */
  def qualityDupCalibration(s: SparkSession, d: String): DataFrame = {
    val sig = documents(s, d).select(col("doc_id"), md5(col("text")).as("h"))
    val cnt = sig.groupBy(col("h")).agg(count(lit(1)).as("c"))
    val flagged = sig.join(cnt, "h")
      .select(col("doc_id"), when(col("c") > 1, 1L).otherwise(0L).as("is_dup"))
    qualityClassifier(s, d)
      .select(col("doc_id"), col("logit_milli"))
      .join(flagged, "doc_id")
      .withColumn("bin",
        greatest(lit(-6L), least(lit(5L), expr("logit_milli DIV 250"))))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        expr("SUM(logit_milli) DIV COUNT(*)").as("mean_logit_milli"),
        sum(col("is_dup")).as("n_dups"),
        expr("1000 * SUM(is_dup) DIV COUNT(*)").as("dup_permille"))
      .orderBy(col("bin"))
  }

  val qualityDupCalibrationSql: String = {
    val logits = qualityClassifierSql.replace("ORDER BY doc_id", "")
    s"""WITH q AS ($logits),
       |sig AS (SELECT doc_id, md5(text) AS h FROM documents),
       |cnt AS (SELECT h, COUNT(*) AS c FROM sig GROUP BY h),
       |fl AS (
       |  SELECT doc_id, CASE WHEN c > 1 THEN 1 ELSE 0 END AS is_dup
       |  FROM sig JOIN cnt USING (h)),
       |j AS (
       |  SELECT GREATEST(-6, LEAST(5, logit_milli // 250)) AS bin,
       |    logit_milli, is_dup
       |  FROM q JOIN fl USING (doc_id))
       |SELECT bin, COUNT(*) AS n_docs,
       |  CAST(SUM(logit_milli) AS BIGINT) // COUNT(*) AS mean_logit_milli,
       |  CAST(SUM(is_dup) AS BIGINT) AS n_dups,
       |  1000 * CAST(SUM(is_dup) AS BIGINT) // COUNT(*) AS dup_permille
       |FROM j GROUP BY bin ORDER BY bin""".stripMargin
  }

  // ---------------------------------------- memorization leaderboard
  /** Memorization-risk leaderboard: the corpus's most-repeated word
    * 3-grams with their document spread — the high-multiplicity
    * sequences a model is most likely to memorize verbatim (the
    * "Quantifying Memorization" observation: memorization probability
    * grows with duplication count). [[TokenizerOps.spanRewrite]]
    * CUTS cross-doc duplicate grams; this is the triage view that
    * says how much verbatim-repeat mass exists and where, before any
    * cut is configured. Top-20 by (occurrences, gram).
    *
    * Scale shape: one shingle explode + one gram-keyed hash-agg
    * (n_docs is a two-column agg on the same key, no second
    * shuffle); the leaderboard is TakeOrderedAndProject. */
  def memorizationGrams(s: SparkSession, d: String): DataFrame = {
    val grams = documents(s, d)
      .select(col("doc_id"), explode(Documents.shingles3(col("text"))).as("g"))
    val w = Window.orderBy(col("n_occurrences").desc, col("g"))
    grams.groupBy(col("g"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") > 1)
      .orderBy(col("n_occurrences").desc, col("g")).limit(20)
      .withColumn("rank", row_number().over(w))
      .select(col("rank"), col("g"), col("n_occurrences"), col("n_docs"))
      .orderBy(col("rank"))
  }

  val memorizationGramsSql: String =
    s"""WITH base AS (
       |  SELECT doc_id, $toksSql AS ws FROM documents),
       |grams AS (
       |  SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
       |  FROM base, UNNEST(range(1, len(ws) - 1)) AS t(i)),
       |agg AS (
       |  SELECT g, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
       |  FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) > 1)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, g)
       |    AS INT) AS rank,
       |  g, n_occurrences, n_docs
       |FROM agg
       |ORDER BY n_occurrences DESC, g LIMIT 20""".stripMargin

  // ------------------------------------------- RAKE keyword extraction
  /** RAKE keyword extraction (Rose et al. 2010, "Automatic Keyword
    * Extraction from Individual Documents"): candidate phrases are the
    * maximal stopword-free token runs; each word scores
    * degree/frequency where degree(w) = Σ over w's occurrences of the
    * containing phrase's length (co-occurrence count including
    * itself) and freq(w) = occurrence count; a phrase scores the sum
    * of its word scores; top-3 phrases per document win. Scores stay
    * on an integer permille grid ((1000·degree) DIV freq, summed) so
    * ranking is engine-exact; ties break on (phrase text, phrase id).
    *
    * Scale shape: tokenize+segment is one explode + one per-doc
    * window (doc_id is the parallel unit); word stats are a hash-agg
    * keyed on word (corpus-wide, the only cross-doc shuffle, output
    * = vocabulary size); phrase assembly re-keys on (doc, phrase) —
    * all linear, no joins wider than the token table. */
  def keywordsRake(s: SparkSession, d: String): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "to")
    val tok = documents(s, d)
      .select(col("doc_id"), posexplode(toks(col("text"))).as(Seq("pos", "w")))
      .withColumn("is_stop", col("w").isin(stop: _*))
    val W = org.apache.spark.sql.expressions.Window
    val wSeg = W.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    val seg = graft.operators.Materialize.eager(
      tok.withColumn("phrase_id",
          sum(when(col("is_stop"), 1).otherwise(0)).over(wSeg))
        .filter(!col("is_stop"))
        .select(col("doc_id"), col("phrase_id"), col("pos"), col("w")))
    val plen = seg.groupBy(col("doc_id"), col("phrase_id"))
      .agg(count(lit(1)).as("plen"))
    val wordStats = seg.join(plen, Seq("doc_id", "phrase_id"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("degree"))
      .select(col("w"), expr("(1000 * degree) DIV freq").as("score_pm"))
    val phrases = seg.join(wordStats, "w")
      .groupBy(col("doc_id"), col("phrase_id"))
      .agg(sum(col("score_pm")).cast("long").as("phrase_score_pm"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("w")))),
          _.getField("w"))).as("phrase"))
    val wTop = W.partitionBy(col("doc_id"))
      .orderBy(col("phrase_score_pm").desc, col("phrase"), col("phrase_id"))
    phrases.withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("phrase"),
        col("phrase_score_pm"))
      .orderBy(col("doc_id"), col("rank"))
  }

  val keywordsRakeSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, i AS pos, ws[i] AS w,
       |    ws[i] IN ('the','a','of','and','to') AS is_stop
       |  FROM (SELECT doc_id, $toksSql AS ws FROM documents),
       |    UNNEST(range(1, len(ws) + 1)) t(i)),
       |seg AS (
       |  SELECT doc_id, pos, w,
       |    SUM(CASE WHEN is_stop THEN 1 ELSE 0 END) OVER (
       |      PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS phrase_id
       |  FROM tok QUALIFY NOT is_stop),
       |plen AS (
       |  SELECT doc_id, phrase_id, COUNT(*) AS plen
       |  FROM seg GROUP BY 1, 2),
       |word_stats AS (
       |  SELECT w,
       |    CAST((1000 * SUM(plen)) // COUNT(*) AS BIGINT) AS score_pm
       |  FROM seg JOIN plen USING (doc_id, phrase_id)
       |  GROUP BY w),
       |phrases AS (
       |  SELECT doc_id, phrase_id,
       |    CAST(SUM(score_pm) AS BIGINT) AS phrase_score_pm,
       |    STRING_AGG(w, ' ' ORDER BY pos) AS phrase
       |  FROM seg JOIN word_stats USING (w)
       |  GROUP BY 1, 2)
       |SELECT doc_id, rank, phrase, phrase_score_pm FROM (
       |  SELECT doc_id, phrase, phrase_score_pm,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
       |      ORDER BY phrase_score_pm DESC, phrase, phrase_id) AS INT)
       |      AS rank
       |  FROM phrases) r
       |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  // ------------------------------------------------- readability
  /** Per-source Flesch–Kincaid grade on the milli grid — the
    * audience-level fingerprint a mixture designer reads next to
    * TTR: a source whose grade sits far from its declared register
    * (children's content scoring graduate-level, or vice versa) is
    * mislabeled or machine-generated. Syllables use the standard
    * cheap proxy — vowel-group runs ([aeiouy]+) — which biases all
    * sources identically, so the CROSS-source comparison this query
    * exists for is unbiased even though absolute grades shift.
    *
    * All-integer: per-doc counts are exact (sentence runs [.!?]+
    * floored at 1 per doc, word tokens, vowel groups); per-source
    * ratios snap to milli; the FK affine map 0.39·wps + 11.8·spw −
    * 15.59 evaluates as (390·wps_milli + 11800·spw_milli) DIV 1000
    * − 15590 — one floor, same expression both engines.
    *
    * Scale shape: one scan, three regexp counters per row, one
    * per-source hash-agg with map-side combine — the wc substrate;
    * output is |sources| rows. */
  def readability(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("source"),
        greatest(lit(1L),
          size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0)))
            .cast("long")).as("sents"),
        size(Documents.tokens(col("text"))).cast("long").as("words"),
        size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"),
          lit(0))).cast("long").as("syls"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("sents")).cast("long").as("n_sentences"),
        sum(col("words")).cast("long").as("n_words"),
        sum(col("syls")).cast("long").as("n_syllable_groups"))
      .select(col("source"), col("n_docs"), col("n_sentences"),
        col("n_words"), col("n_syllable_groups"),
        expr("n_words * 1000 DIV n_sentences").as("wps_milli"),
        expr("""CASE WHEN n_words = 0 THEN CAST(0 AS BIGINT)
          |ELSE n_syllable_groups * 1000 DIV n_words END""".stripMargin)
          .as("spw_milli"),
        expr("""CASE WHEN n_words = 0 THEN CAST(0 AS BIGINT)
          |ELSE (390 * (n_words * 1000 DIV n_sentences)
          |  + 11800 * (n_syllable_groups * 1000 DIV n_words))
          |  DIV 1000 - 15590 END""".stripMargin).as("fk_grade_milli"))
      .orderBy(col("source"))

  val readabilitySql: String =
    """WITH per_doc AS (
      |  SELECT source,
      |    GREATEST(1, len(regexp_extract_all(text, '[.!?]+')))
      |      AS sents,
      |    len(list_filter(string_split_regex(text, '[^\p{L}]+'),
      |      t -> t <> '')) AS words,
      |    len(regexp_extract_all(lower(text), '[aeiouy]+')) AS syls
      |  FROM documents),
      |src AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(sents) AS BIGINT) AS n_sentences,
      |    CAST(SUM(words) AS BIGINT) AS n_words,
      |    CAST(SUM(syls) AS BIGINT) AS n_syllable_groups
      |  FROM per_doc GROUP BY source)
      |SELECT source, n_docs, n_sentences, n_words, n_syllable_groups,
      |  n_words * 1000 // n_sentences AS wps_milli,
      |  CASE WHEN n_words = 0 THEN CAST(0 AS BIGINT)
      |    ELSE n_syllable_groups * 1000 // n_words END AS spw_milli,
      |  CASE WHEN n_words = 0 THEN CAST(0 AS BIGINT)
      |    ELSE (390 * (n_words * 1000 // n_sentences)
      |      + 11800 * (n_syllable_groups * 1000 // n_words))
      |      // 1000 - 15590 END AS fk_grade_milli
      |FROM src ORDER BY source""".stripMargin

  // --------------------------------------------- code/prose detector
  /** Code-vs-prose detection per source: the routing decision every
    * LLM corpus pipeline makes early (code goes to a code tokenizer /
    * mix bucket, prose to the text pipeline; HTML boilerplate with
    * inline JS shows up as a mid-density band). Three structural
    * densities no natural prose sustains — braces, semicolons, and
    * indented continuation lines — are counted EXACTLY with the
    * replace-shrinkage device (length minus length-after-removal, no
    * regex engine in the loop), summed per 1000 chars, and a doc is
    * flagged code at ≥ 15‰ structural density.
    *
    * Scale shape: one linear scan per doc computing three string
    * replaces + a CASE, then one per-source hash-agg — the cheapest
    * possible shape, embarrassingly parallel, nothing to tune. */
  def codeRatio(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("n_struct", expr(
        "(length(text) - length(replace(text, '{', ''))) + " +
          "(length(text) - length(replace(text, '}', ''))) + " +
          "(length(text) - length(replace(text, ';', ''))) + " +
          "((length(text) - length(replace(text, chr(10) || '  ', ''))) DIV 3)"))
      .withColumn("density_pm",
        expr("n_struct * 1000 DIV greatest(length(text), 1)"))
      .withColumn("is_code", (col("density_pm") >= 15).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("is_code")).as("n_code_docs"),
        sum(col("n_struct")).as("n_struct"),
        sum(length(col("text"))).as("n_chars"))
      .withColumn("code_permille", expr("n_code_docs * 1000 DIV n_docs"))
      .withColumn("corpus_density_pm",
        expr("n_struct * 1000 DIV greatest(n_chars, 1)"))
      .select(col("source"), col("n_docs"), col("n_code_docs"),
        col("code_permille"), col("corpus_density_pm"))
      .orderBy(col("source"))

  val codeRatioSql: String =
    """WITH f AS (
      |  SELECT source, length(text) AS len,
      |    (length(text) - length(replace(text, '{', '')))
      |    + (length(text) - length(replace(text, '}', '')))
      |    + (length(text) - length(replace(text, ';', '')))
      |    + ((length(text) - length(replace(text, chr(10) || '  ', '')))
      |        // 3) AS n_struct
      |  FROM documents),
      |d AS (
      |  SELECT source, len, n_struct,
      |    CASE WHEN n_struct * 1000 // GREATEST(len, 1) >= 15
      |         THEN 1 ELSE 0 END AS is_code
      |  FROM f)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(is_code) AS BIGINT) AS n_code_docs,
      |  CAST(SUM(is_code) AS BIGINT) * 1000 // COUNT(*) AS code_permille,
      |  CAST(SUM(n_struct) AS BIGINT) * 1000
      |    // GREATEST(CAST(SUM(len) AS BIGINT), 1) AS corpus_density_pm
      |FROM d GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------- OCR-noise detector
  /** Garbled-text detection per source — the scanned-document /
    * bad-decode filter (OCR shatter, mojibake survivors, columnized
    * PDFs) that the length/stopword quality gates miss because
    * garbage can have plausible lengths. Three token-shape signals no
    * clean prose sustains, all exact counts on the corpus tokenizer's
    * tokens: single-letter tokens (shattered words: "t h e"),
    * lowercase consonant runs ≥ 5 with no vowel ("brwnfxz" — vowels
    * dropped by recognition), and case flips inside a word
    * ("tXt" — column-merge artifacts). A doc is flagged at ≥ 100‰
    * noisy tokens. Regexes stay in the Java∩RE2 common subset
    * (character classes + quantifiers + anchors only).
    *
    * Scale shape: per-doc higher-order filters over the already-split
    * token array (no second explode), one per-source hash-agg —
    * linear, embarrassingly parallel. */
  def ocrNoise(s: SparkSession, d: String): DataFrame = {
    val ws = toks(col("text"))
    documents(s, d)
      .withColumn("n_tok", size(ws).cast("long"))
      .filter(col("n_tok") > 0)
      .withColumn("n_single",
        size(filter(ws, w => length(w) === 1)).cast("long"))
      .withColumn("n_consrun",
        size(filter(ws, w => w.rlike("^[bcdfghjklmnpqrstvwxz]{5,}$")))
          .cast("long"))
      .withColumn("n_midcap",
        size(filter(ws, w => w.rlike("^[a-z]+[A-Z]"))).cast("long"))
      .withColumn("noise_pm", expr(
        "(n_single + n_consrun + n_midcap) * 1000 DIV n_tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("noise_pm") >= 100, 1L).otherwise(0L))
          .as("n_flagged"),
        sum(col("n_single") + col("n_consrun") + col("n_midcap"))
          .as("n_noisy_tokens"),
        sum(col("n_tok")).as("n_tokens"))
      .withColumn("flagged_permille", expr("n_flagged * 1000 DIV n_docs"))
      .withColumn("corpus_noise_pm",
        expr("n_noisy_tokens * 1000 DIV n_tokens"))
      .select(col("source"), col("n_docs"), col("n_flagged"),
        col("flagged_permille"), col("corpus_noise_pm"))
      .orderBy(col("source"))
  }

  val ocrNoiseSql: String =
    s"""WITH f AS (
       |  SELECT source, len(ws) AS n_tok,
       |    len(list_filter(ws, w -> len(w) = 1)) AS n_single,
       |    len(list_filter(ws,
       |      w -> regexp_matches(w, '^[bcdfghjklmnpqrstvwxz]{5,}$$')))
       |      AS n_consrun,
       |    len(list_filter(ws, w -> regexp_matches(w, '^[a-z]+[A-Z]')))
       |      AS n_midcap
       |  FROM (SELECT source, $toksSql AS ws FROM documents)
       |  WHERE len(ws) > 0),
       |d AS (
       |  SELECT source, n_tok, n_single + n_consrun + n_midcap AS noisy,
       |    (n_single + n_consrun + n_midcap) * 1000 // n_tok AS noise_pm
       |  FROM f)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN noise_pm >= 100 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_flagged,
       |  CAST(SUM(CASE WHEN noise_pm >= 100 THEN 1 ELSE 0 END) AS BIGINT)
       |    * 1000 // COUNT(*) AS flagged_permille,
       |  CAST(SUM(noisy) AS BIGINT) * 1000 // CAST(SUM(n_tok) AS BIGINT)
       |    AS corpus_noise_pm
       |FROM d GROUP BY source ORDER BY source""".stripMargin

  // --------------------------- conditional char-bigram entropy
  /** Per-source character-structure fingerprint: H(next char | char)
    * = H(bigrams) − H(unigrams), on the integer bit-length grid (the
    * unigramSurprisal device — ⌊log₂⌋ ladders, exact on both
    * engines). Natural language has strong next-char structure (the
    * conditional entropy sits far below the unigram entropy);
    * random/garbled text closes that gap toward zero — a
    * script-agnostic companion to the OCR-noise gate that needs no
    * dictionary. Both terms use c·(bits(N)−bits(c)) ladders summed
    * per source, so the subtraction is exact.
    *
    * Scale shape: two per-source hash-aggs over the exploded char /
    * bigram streams (O(total chars), map-side partial combine), then
    * a sources-sized join. The bigram array is built with the
    * shingles3 slice+zip_with device — O(n) per doc, never the
    * O(n²) per-element substring form. */
  def bigramCondEntropy(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(s)
    // ONE per-doc COUNT-MAP explode via the native char_ngram_counts
    // expression, not a per-char stream: the 10× rehearsal measured
    // the dual per-char explode at exponent 1.35 (2.5 → 57 s — one
    // String per character, twice), the single-explode rewrite at
    // 0.95 — still one shuffled row per character position. The
    // native expression walks each doc's UTF-8 bytes once and emits
    // ≤ |alphabet|² (ngram → count) entries, so the explode is
    // bounded by the alphabet, not the document. The marginal H(c₁)
    // is DERIVED from the bigram counts (sum over the second
    // character) — also the exactly-right marginal for
    // H(c₂|c₁) = H(c₁,c₂) − H(c₁).
    val cnt = graft.operators.Materialize.eager(
      documents(s, d).select(col("source"),
          explode(graft.functions.GraftFunctions.charNgramCounts(
            lower(col("text")), 2)).as(Seq("g", "kd")))
        .groupBy(col("source"), col("g"))
        .agg(sum(col("kd")).as("k")))
    def entropyOf(counts: DataFrame, out: String): DataFrame = {
      val tot = counts.groupBy(col("source")).agg(sum(col("k")).as("n"))
      counts.join(tot, "source")
        .withColumn("bits", col("k") *
          (length(bin(col("n"))) - length(bin(col("k")))).cast("long"))
        .groupBy(col("source"))
        .agg(max(col("n")).as(s"n_$out"),
          expr("(1000 * SUM(bits)) DIV MAX(n)").as(s"h_${out}_millibits"))
    }
    val first = cnt.groupBy(col("source"),
        substring(col("g"), 1, 1).as("g"))
      .agg(sum(col("k")).as("k"))
    val uni = entropyOf(first, "first")
    val bi = entropyOf(cnt, "bigram")
    uni.join(bi, "source")
      .withColumn("cond_millibits",
        col("h_bigram_millibits") - col("h_first_millibits"))
      .select(col("source"), col("n_bigram"),
        col("h_first_millibits"), col("h_bigram_millibits"),
        col("cond_millibits"))
      .orderBy(col("source"))
  }

  // the position walk is bounded by length(lower(text)), not
  // length(text): lowercasing can change codepoint count (U+0130 'İ'
  // → 'i' + U+0307), and the oracle must walk the same lowered string
  // it substrings or it drops/adds tail n-grams vs the engine
  val bigramCondEntropySql: String =
    """WITH bg AS (
      |  SELECT source, substring(lower(text), i, 2) AS g
      |  FROM documents,
      |    UNNEST(range(1, length(lower(text)))) AS r(i)),
      |bi_cnt AS (SELECT source, g, CAST(COUNT(*) AS BIGINT) AS k
      |           FROM bg WHERE length(g) = 2 GROUP BY 1, 2),
      |uni_cnt AS (SELECT source, substring(g, 1, 1) AS g,
      |              CAST(SUM(k) AS BIGINT) AS k
      |            FROM bi_cnt GROUP BY 1, 2),
      |uni_tot AS (SELECT source, CAST(SUM(k) AS BIGINT) AS n
      |            FROM uni_cnt GROUP BY 1),
      |uni AS (
      |  SELECT c.source,
      |    CAST((1000 * SUM(c.k * (length(bin(t.n)) - length(bin(c.k)))))
      |      // MAX(t.n) AS BIGINT) AS h_first_millibits
      |  FROM uni_cnt c JOIN uni_tot t ON c.source = t.source
      |  GROUP BY 1),
      |bi_tot AS (SELECT source, CAST(SUM(k) AS BIGINT) AS n
      |           FROM bi_cnt GROUP BY 1),
      |bi AS (
      |  SELECT c.source, MAX(t.n) AS n_bigram,
      |    CAST((1000 * SUM(c.k * (length(bin(t.n)) - length(bin(c.k)))))
      |      // MAX(t.n) AS BIGINT) AS h_bigram_millibits
      |  FROM bi_cnt c JOIN bi_tot t ON c.source = t.source
      |  GROUP BY 1)
      |SELECT u.source, b.n_bigram, u.h_first_millibits,
      |  b.h_bigram_millibits,
      |  CAST(b.h_bigram_millibits - u.h_first_millibits AS BIGINT)
      |    AS cond_millibits
      |FROM uni u JOIN bi b ON u.source = b.source
      |ORDER BY u.source""".stripMargin

  // --------------------------- trigram-profile language ID
  /** Character-trigram language identification (Cavnar–Trenkle 1994
    * shape): per-language trigram PROFILES (top-40 trigrams by corpus
    * count, rank-weighted w = 41 − rank) learned from the labeled
    * corpus itself, every doc scored Σ k_doc(g)·w(g) against each
    * profile, argmax = predicted language — then the label-vs-
    * prediction confusion matrix. Unlike the stopword lang-ID
    * (text_lang_id / text_lang_confusion) this needs no word list and
    * handles CJK (its trigrams are 9-byte sequences — the native
    * expression's boxed-key path) exactly like Latin scripts. The
    * off-diagonal mass is the ingestion-gating risk of the cheap
    * classifier, measured on its own training distribution (the
    * optimistic bound — the honest caveat a real eval would split).
    * On THIS fixture the audit's finding is that the `lang` column is
    * metadata-only: every doc is the same English-ish word salad, so
    * confusion is near-uniform — exactly the signal that tells a
    * pipeline owner the labels cannot gate script-level ingestion
    * (the planted-docs spec proves the classifier itself is sound:
    * distinct-script corpora classify at 1000‰).
    *
    * Scale shape: one native count-map explode per doc
    * (alphabet-bounded rows), one (lang, g) hash-agg for profiles, a
    * rank window over |langs|·|trigram vocab| (profile build — tiny),
    * then a BROADCAST profile join (|langs|·40 rows at any corpus
    * size) and a per-doc struct-max hash-agg. Nothing wider than the
    * doc count ever shuffles. */
  def langIdTrigram(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(s)
    import org.apache.spark.sql.expressions.Window
    val P = 40
    val tri = graft.operators.Materialize.eager(
      documents(s, d).select(col("doc_id"), col("lang"),
        explode(graft.functions.GraftFunctions.charNgramCounts(
          lower(col("text")), 3)).as(Seq("g", "k"))))
    val langCnt = tri.groupBy(col("lang").as("cand_lang"), col("g"))
      .agg(sum(col("k")).as("cnt"))
    val wRank = Window.partitionBy(col("cand_lang"))
      .orderBy(col("cnt").desc, col("g"))
    val profile = langCnt.withColumn("rk", row_number().over(wRank))
      .filter(col("rk") <= P)
      .select(col("cand_lang"), col("g"), (lit(P + 1) - col("rk"))
        .cast("long").as("w"))
    val scores = tri.join(broadcast(profile), "g")
      .groupBy(col("doc_id"), col("cand_lang"))
      .agg(sum(col("k") * col("w")).as("score"))
    val pred = scores.groupBy(col("doc_id"))
      .agg(max(struct(col("score"), col("cand_lang"))).as("m"))
      .select(col("doc_id"), col("m.cand_lang").as("pred_lang"))
    val cells = documents(s, d).select(col("doc_id"),
        col("lang").as("actual_lang"))
      .join(pred, Seq("doc_id"), "left")
      .na.fill("none", Seq("pred_lang"))
      .groupBy(col("actual_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
    val totals = cells.groupBy(col("actual_lang"))
      .agg(sum(col("n")).as("total"))
    cells.join(broadcast(totals), Seq("actual_lang"))
      .withColumn("share_permille", expr("1000 * n DIV total"))
      .select(col("actual_lang"), col("pred_lang"), col("n"),
        col("share_permille"))
      .orderBy(col("actual_lang"), col("pred_lang"))
  }

  // length(lower(text)) bound: same Unicode-lowercasing rationale as
  // bigramCondEntropySql above
  val langIdTrigramSql: String =
    """WITH tri AS (
      |  SELECT doc_id, lang, substring(lower(text), i, 3) AS g
      |  FROM documents, UNNEST(range(1, length(lower(text)) - 1)) AS r(i)),
      |tric AS (
      |  SELECT doc_id, lang, g, CAST(COUNT(*) AS BIGINT) AS k
      |  FROM tri WHERE length(g) = 3 GROUP BY 1, 2, 3),
      |lang_cnt AS (
      |  SELECT lang AS cand_lang, g, CAST(SUM(k) AS BIGINT) AS cnt
      |  FROM tric GROUP BY 1, 2),
      |profile AS (
      |  SELECT cand_lang, g, CAST(41 - rk AS BIGINT) AS w FROM (
      |    SELECT cand_lang, g, cnt, ROW_NUMBER() OVER (
      |      PARTITION BY cand_lang ORDER BY cnt DESC, g) AS rk
      |    FROM lang_cnt) t
      |  WHERE rk <= 40),
      |scores AS (
      |  SELECT t.doc_id, p.cand_lang, CAST(SUM(t.k * p.w) AS BIGINT)
      |    AS score
      |  FROM tric t JOIN profile p ON t.g = p.g
      |  GROUP BY 1, 2),
      |pred AS (
      |  SELECT doc_id, cand_lang AS pred_lang FROM (
      |    SELECT doc_id, cand_lang, ROW_NUMBER() OVER (
      |      PARTITION BY doc_id
      |      ORDER BY score DESC, cand_lang DESC) AS rk
      |    FROM scores) t
      |  WHERE rk = 1),
      |cells AS (
      |  SELECT d.lang AS actual_lang,
      |    COALESCE(p.pred_lang, 'none') AS pred_lang,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM documents d LEFT JOIN pred p ON p.doc_id = d.doc_id
      |  GROUP BY 1, 2),
      |totals AS (
      |  SELECT actual_lang, CAST(SUM(n) AS BIGINT) AS total
      |  FROM cells GROUP BY 1)
      |SELECT c.actual_lang, c.pred_lang, c.n,
      |  1000 * c.n // t.total AS share_permille
      |FROM cells c JOIN totals t ON c.actual_lang = t.actual_lang
      |ORDER BY c.actual_lang, c.pred_lang""".stripMargin

  val queries: Map[String, Query] = Map(
    "text_lang_id_trigram" -> Query(langIdTrigram, langIdTrigramSql),
    "text_bigram_cond_entropy" -> Query(bigramCondEntropy, bigramCondEntropySql),
    "text_ocr_noise" -> Query(ocrNoise, ocrNoiseSql),
    "text_code_ratio" -> Query(codeRatio, codeRatioSql),
    "text_readability" -> Query(readability, readabilitySql),
    "text_keywords_rake" -> Query(keywordsRake, keywordsRakeSql),
    "text_char_entropy" -> Query(charEntropy, charEntropySql),
    "text_quality_classifier" -> Query(qualityClassifier, qualityClassifierSql),
    "text_quality_dup_calibration" -> Query(qualityDupCalibration, qualityDupCalibrationSql),
    "text_memorization_grams" -> Query(memorizationGrams, memorizationGramsSql),
    "text_heavy_hitters" -> Query(heavyHitters, heavyHittersSql),
    "text_bm25_topk" -> Query(bm25TopK, bm25TopKSql),
    "text_tfidf_top_terms" -> Query(tfidfTopTerms, tfidfTopTermsSql),
    "text_repetition_quality" -> Query(repetitionQuality, repetitionQualitySql),
    "text_vocab_oov" -> Query(vocabOov, vocabOovSql),
    "text_unigram_surprisal" -> Query(unigramSurprisal, unigramSurprisalSql),
    "text_perplexity_filter_sweep" -> Query(perplexityFilterSweep, perplexityFilterSweepSql),
    "text_collocations" -> Query(collocations, collocationsSql),
    "doc_chunk_windows" -> Query(chunkWindows, chunkWindowsSql))
}
