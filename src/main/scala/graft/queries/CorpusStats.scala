package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._
import graft.Query

/** Corpus-level statistical laws and drift measures over the
  * documents table: Zipf rank-frequency fit, per-source
  * Jensen–Shannon divergence from the corpus distribution, and
  * Heaps'-law vocabulary-growth checkpoints. These are the
  * corpus-health dashboards a curation pipeline recomputes per
  * snapshot: a Zipf slope or JS spike flags scraped spam / template
  * floods before any per-doc filter sees them.
  *
  * Numeric stance: logarithms floor onto a fixed micro-nat integer
  * grid PER ROW (floor(ln(x)·1e6) of an exactly-representable
  * integer), so sums and divisions downstream are pure BIGINT ops —
  * order-independent and engine-independent. The only cross-engine
  * risk is a last-ulp ln() divergence landing within 1e-13 of a grid
  * boundary (~1e-10 per row; the BM25 stance, documented there).
  *
  * Reference scope: grown-up descendants of the reference's wc
  * (/root/reference/mr-main/mrapps/wc.go:15-30) corpus counting —
  * same token→count substrate, statistical reductions on top.
  */
object CorpusStats {

  /** floor(ln(x)·1e6) on the integer micro-nat grid; x must be ≥ 1. */
  private def flog(c: Column): Column =
    floor(log(c.cast("double")) * lit(1e6)).cast("long")

  private def flogSql(e: String): String =
    s"CAST(FLOOR(LN($e) * 1000000) AS BIGINT)"

  /** flog over an argument ALREADY in the double domain — for log
    * arguments built as products of two counts, where the int64
    * product would overflow near a few-billion-token corpus but the
    * double product (exact-rounded IEEE multiply, identical on both
    * engines) never can. Below 2^53 the double product is exact, so
    * this is bit-identical to flog-of-int at every test SF. */
  private def flogD(c: Column): Column =
    floor(log(c) * lit(1e6)).cast("long")

  private def flogDSql(e: String): String =
    s"CAST(FLOOR(LN($e) * 1000000) AS BIGINT)"

  // ---------------------------------------------- Zipf slope fit
  /** OLS fit of ln(freq) against ln(rank) over the top-100 corpus
    * terms: a healthy natural-language corpus fits slope ≈ −1;
    * template/spam floods flatten or steepen it. Output is the
    * NEGATED slope (Zipf slope is always negative here, so the
    * division runs on positive integers) and the intercept, both in
    * milli-log units.
    *
    * Scale shape: the corpus-sized work is exactly one word-count
    * hash-agg; ranking and the regression run on the 100-row top-k
    * (TakeOrdered + a window over a single tiny partition). */
  def zipfSlope(s: SparkSession, d: String): DataFrame = {
    val wc = documents(s, d)
      .select(explode(Documents.tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("c"))
    val w = Window.orderBy(col("c").desc, col("word"))
    val top = wc.orderBy(col("c").desc, col("word")).limit(100)
      .withColumn("rn", row_number().over(w))
      .withColumn("x", flog(col("rn")))
      .withColumn("y", flog(col("c")))
    top.agg(count(lit(1)).as("n_terms"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      // milli scaling shrinks the DENOMINATOR, never multiplies the
      // numerator: num (sx·sy − n·sxy) is ~8.5e15 for a top-100 fit at
      // slope −1, so num*1000 sits at 92% of int64 and overflows for
      // any corpus fitting steeper than ≈ −1.08 — exactly the
      // template-flood corpora this query exists to flag. num DIV
      // (den DIV 1000) has 1000× headroom (overflow at slope ≈ −1000);
      // the den truncation loses ≤1e3 of ~1e16, a 1e-13 relative error
      // far under the milli grid.
      .withColumn("neg_slope_milli",
        expr("(sx * sy - n_terms * sxy) DIV ((n_terms * sxx - sx * sx) DIV 1000)"))
      .withColumn("intercept_milli",
        expr("(sy * 1000 + neg_slope_milli * sx) DIV (1000 * n_terms)"))
      .select(col("n_terms"), col("neg_slope_milli"), col("intercept_milli"))
  }

  val zipfSlopeSql: String =
    s"""WITH wc AS (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM (SELECT UNNEST(list_filter(
       |          string_split_regex(text, '[^\\p{L}]+'), t -> t <> '')) AS word
       |        FROM documents)
       |  GROUP BY word),
       |top AS (
       |  SELECT ${flogSql("rn")} AS x, ${flogSql("c")} AS y
       |  FROM (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, word) AS rn
       |        FROM wc ORDER BY c DESC, word LIMIT 100)),
       |m AS (
       |  SELECT COUNT(*) AS n_terms,
       |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
       |    CAST(SUM(x*y) AS BIGINT) AS sxy, CAST(SUM(x*x) AS BIGINT) AS sxx
       |  FROM top)
       |SELECT n_terms,
       |  CAST((sx*sy - n_terms*sxy) // ((n_terms*sxx - sx*sx) // 1000)
       |    AS BIGINT) AS neg_slope_milli,
       |  CAST((sy*1000 + ((sx*sy - n_terms*sxy)
       |      // ((n_terms*sxx - sx*sx) // 1000)) * sx) // (1000 * n_terms)
       |    AS BIGINT) AS intercept_milli
       |FROM m""".stripMargin

  // ------------------------------- per-source JS divergence
  /** Jensen–Shannon divergence of each source's unigram distribution
    * from the whole-corpus distribution, over the top-200 corpus
    * terms plus one lumped OOV bucket. JS (unlike KL) is finite and
    * symmetric-bounded, the standard corpus-drift monitor between
    * snapshots/shards. Outputs micro-nats: JS = (KL(p‖m)+KL(q‖m))/2
    * with m the midpoint; each log term evaluates on count
    * cross-products (p/m = 2·c_sw·n / (c_sw·n + c_w·n_s)) formed in
    * the DOUBLE domain — exact below 2^53 and overflow-free above it,
    * where the int64 product would wrap near a few-billion-token
    * corpus (see flogD).
    *
    * Scale shape: the corpus-sized work is one (source, word)
    * hash-agg; the distribution compare then runs on a
    * |sources|×201 grid built from broadcast-sized frames (top-k
    * terms, per-source totals, 1-row corpus total). The top-K+OOV
    * bucketing is the 100 TB story — vocabulary is unbounded, the
    * monitored grid is not. */
  def jsDivergence(s: SparkSession, d: String): DataFrame = {
    val K = 200
    // the (source, word) count table feeds FOUR consumers (corpus wc,
    // per-source totals, the top-K semi-join, and its per-source
    // totals) — materialize once (A/B'd at sf0.1: 2.29 s re-executing
    // vs 2.02 s materialized)
    val wcs = graft.operators.Materialize.eager(documents(s, d)
      .select(col("source"), explode(Documents.tokens(col("text"))).as("word"))
      .groupBy(col("source"), col("word")).agg(count(lit(1)).as("c_sw")))
    val wc = wcs.groupBy(col("word")).agg(sum(col("c_sw")).as("c_w"))
    val topK = wc.orderBy(col("c_w").desc, col("word")).limit(K)
    val nTot = wc.agg(sum(col("c_w")).as("n"))
    val topTot = topK.agg(sum(col("c_w")).as("top_c"))
    val srcTot = wcs.groupBy(col("source")).agg(sum(col("c_sw")).as("n_s"))
    val sTop = wcs.join(broadcast(topK.select(col("word"))), "word")
    val sTopTot = sTop.groupBy(col("source")).agg(sum(col("c_sw")).as("s_top_c"))
    val buckets = topK.select(col("word"), col("c_w"))
      .unionByName(nTot.crossJoin(topTot)
        .select(lit("__oov__").as("word"), (col("n") - col("top_c")).as("c_w")))
    val sCounts = sTop.select(col("source"), col("word"), col("c_sw"))
      .unionByName(srcTot.join(sTopTot, Seq("source"), "left")
        .select(col("source"), lit("__oov__").as("word"),
          (col("n_s") - coalesce(col("s_top_c"), lit(0L))).as("c_sw")))
    srcTot.crossJoin(broadcast(buckets))
      .join(sCounts, Seq("source", "word"), "left")
      .na.fill(0L, Seq("c_sw"))
      .crossJoin(broadcast(nTot))
      // log arguments are count×count products — built in the DOUBLE
      // domain so a few-billion-token corpus (where c_sw·n tops int64)
      // can't overflow: each IEEE product/sum is exact-rounded and
      // identical on both engines, and below 2^53 (every test SF) the
      // doubles are exact, so the grid values are unchanged
      .withColumn("den", col("c_sw").cast("double") * col("n").cast("double")
        + col("c_w").cast("double") * col("n_s").cast("double"))
      .withColumn("klp_term",
        when(col("c_sw") > 0,
          col("c_sw") * (flogD(col("c_sw").cast("double")
              * col("n").cast("double") * lit(2.0)) - flogD(col("den"))))
          .otherwise(lit(0L)))
      .withColumn("klq_term",
        when(col("c_w") > 0,
          col("c_w") * (flogD(col("c_w").cast("double")
              * col("n_s").cast("double") * lit(2.0)) - flogD(col("den"))))
          .otherwise(lit(0L)))
      .groupBy(col("source"))
      .agg(max(col("n_s")).as("n_tokens"),
        expr("SUM(klp_term) DIV MAX(n_s)").as("klp_micronats"),
        expr("SUM(klq_term) DIV MAX(n)").as("klq_micronats"))
      .withColumn("js_micronats",
        expr("(klp_micronats + klq_micronats) DIV 2"))
      .orderBy(col("source"))
  }

  val jsDivergenceSql: String =
    s"""WITH tok AS (
       |  SELECT source, UNNEST(list_filter(
       |    string_split_regex(text, '[^\\p{L}]+'), t -> t <> '')) AS word
       |  FROM documents),
       |wcs AS (SELECT source, word, CAST(COUNT(*) AS BIGINT) AS c_sw
       |        FROM tok GROUP BY 1, 2),
       |wc AS (SELECT word, CAST(SUM(c_sw) AS BIGINT) AS c_w
       |       FROM wcs GROUP BY 1),
       |topk AS (SELECT word, c_w FROM wc ORDER BY c_w DESC, word LIMIT 200),
       |ntot AS (SELECT CAST(SUM(c_w) AS BIGINT) AS n FROM wc),
       |toptot AS (SELECT CAST(SUM(c_w) AS BIGINT) AS top_c FROM topk),
       |srctot AS (SELECT source, CAST(SUM(c_sw) AS BIGINT) AS n_s
       |           FROM wcs GROUP BY 1),
       |stop AS (SELECT wcs.* FROM wcs JOIN topk USING (word)),
       |stoptot AS (SELECT source, CAST(SUM(c_sw) AS BIGINT) AS s_top_c
       |            FROM stop GROUP BY 1),
       |buckets AS (
       |  SELECT word, c_w FROM topk
       |  UNION ALL
       |  SELECT '__oov__' AS word, n - top_c AS c_w FROM ntot, toptot),
       |scounts AS (
       |  SELECT source, word, c_sw FROM stop
       |  UNION ALL
       |  SELECT s.source, '__oov__' AS word,
       |    s.n_s - COALESCE(t.s_top_c, 0) AS c_sw
       |  FROM srctot s LEFT JOIN stoptot t USING (source)),
       |grid AS (
       |  SELECT st.source, st.n_s, b.word, b.c_w,
       |    COALESCE(sc.c_sw, 0) AS c_sw, ntot.n
       |  FROM srctot st CROSS JOIN buckets b
       |  LEFT JOIN scounts sc ON sc.source = st.source AND sc.word = b.word
       |  CROSS JOIN ntot),
       |terms AS (
       |  SELECT source, n_s, n,
       |    CASE WHEN c_sw > 0 THEN c_sw *
       |      (${flogDSql("CAST(c_sw AS DOUBLE) * CAST(n AS DOUBLE) * 2.0")}
       |       - ${flogDSql("CAST(c_sw AS DOUBLE) * CAST(n AS DOUBLE) + CAST(c_w AS DOUBLE) * CAST(n_s AS DOUBLE)")})
       |      ELSE 0 END AS klp_term,
       |    CASE WHEN c_w > 0 THEN c_w *
       |      (${flogDSql("CAST(c_w AS DOUBLE) * CAST(n_s AS DOUBLE) * 2.0")}
       |       - ${flogDSql("CAST(c_sw AS DOUBLE) * CAST(n AS DOUBLE) + CAST(c_w AS DOUBLE) * CAST(n_s AS DOUBLE)")})
       |      ELSE 0 END AS klq_term
       |  FROM grid),
       |agg AS (
       |  SELECT source, MAX(n_s) AS n_tokens,
       |    CAST(SUM(klp_term) AS BIGINT) // MAX(n_s) AS klp_micronats,
       |    CAST(SUM(klq_term) AS BIGINT) // MAX(n) AS klq_micronats
       |  FROM terms GROUP BY 1)
       |SELECT source, n_tokens, klp_micronats, klq_micronats,
       |  (klp_micronats + klq_micronats) // 2 AS js_micronats
       |FROM agg ORDER BY source""".stripMargin

  // --------------------------------- Heaps'-law checkpoints
  /** Vocabulary growth at corpus-decile checkpoints: cumulative
    * distinct-word count and token count after the first 10%, 20%, …
    * of documents (doc_id order), plus the Heaps' exponent estimate
    * β = ln(vocab)/ln(tokens) per checkpoint in milli units.
    * Sub-linear growth (β ≈ 0.4–0.6) is the natural-text signature;
    * β drifting toward 1 flags unbounded junk vocabulary (hashes,
    * serial numbers) entering the corpus.
    *
    * Scale shape: each word reduces to its FIRST document
    * (min(doc_id) hash-agg — one shuffle keyed on word); checkpoints
    * then count words by first-doc threshold against a broadcast
    * 10-row threshold frame. No cumulative global scan: the
    * "cumulative" is recovered from the first-occurrence reduction. */
  def heapsCheckpoints(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
      .select(col("doc_id"), Documents.tokens(col("text")).as("ws"))
    val wordFirst = docs.select(col("doc_id"), explode(col("ws")).as("word"))
      .groupBy(col("word")).agg(min(col("doc_id")).as("fd"))
    val docLen = docs.select(col("doc_id"), size(col("ws")).cast("long").as("dl"))
    val thr = docLen.agg(max(col("doc_id")).as("mx"))
      .select(explode(sequence(lit(1), lit(10))).as("decile"), col("mx"))
      .withColumn("thr", expr("(mx + 1) * decile DIV 10"))
      .select(col("decile"), col("thr"))
    val vocab = wordFirst.crossJoin(broadcast(thr))
      .filter(col("fd") < col("thr"))
      .groupBy(col("decile"), col("thr"))
      .agg(count(lit(1)).as("vocab"))
    val toks = docLen.crossJoin(broadcast(thr))
      .filter(col("doc_id") < col("thr"))
      .groupBy(col("decile"))
      .agg(sum(col("dl")).as("n_tokens"))
    vocab.join(toks, "decile")
      .withColumn("beta_milli",
        expr("(FLOOR(LN(CAST(vocab AS DOUBLE)) * 1000000) * 1000) DIV FLOOR(LN(CAST(n_tokens AS DOUBLE)) * 1000000)").cast("long"))
      .select(col("decile"), col("thr").as("n_docs"), col("n_tokens"),
        col("vocab"), col("beta_milli"))
      .orderBy(col("decile"))
  }

  val heapsCheckpointsSql: String =
    s"""WITH docs AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(text, '[^\\p{L}]+'), t -> t <> '')
       |      AS ws
       |  FROM documents),
       |wf AS (
       |  SELECT word, MIN(doc_id) AS fd
       |  FROM (SELECT doc_id, UNNEST(ws) AS word FROM docs) GROUP BY word),
       |dl AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl FROM docs),
       |thr AS (
       |  SELECT decile, (mx + 1) * decile // 10 AS thr
       |  FROM (SELECT MAX(doc_id) AS mx FROM dl),
       |    (SELECT UNNEST(generate_series(1, 10)) AS decile)),
       |vocab AS (
       |  SELECT t.decile, t.thr, CAST(COUNT(*) AS BIGINT) AS vocab
       |  FROM wf w JOIN thr t ON w.fd < t.thr GROUP BY 1, 2),
       |toks AS (
       |  SELECT t.decile, CAST(SUM(d.dl) AS BIGINT) AS n_tokens
       |  FROM dl d JOIN thr t ON d.doc_id < t.thr GROUP BY 1)
       |SELECT v.decile, v.thr AS n_docs, k.n_tokens, v.vocab,
       |  CAST(FLOOR(LN(v.vocab) * 1000000) * 1000 AS BIGINT)
       |    // CAST(FLOOR(LN(k.n_tokens) * 1000000) AS BIGINT) AS beta_milli
       |FROM vocab v JOIN toks k USING (decile)
       |ORDER BY v.decile""".stripMargin

  // ------------------------------------------- feature hashing
  /** The hashing trick: every term maps to one of 32 feature buckets
    * by md5, giving each document a fixed-width sparse TF vector with
    * no vocabulary table at all — the linear-model featurizer
    * (Vowpal-Wabbit / hashingTF style) that a quality-classifier
    * stage trains on when the corpus vocabulary is unbounded.
    * Output: (doc_id, bucket) term frequency + distinct-term count
    * (the collision diagnostic) for a bounded doc set.
    *
    * Scale shape: stateless per-row hashing into a (doc, bucket)
    * hash-agg — no vocabulary broadcast, no join, nothing global;
    * THE fixed-width path when even the frequency table of the
    * vocabulary would be a scale problem. md5-based bucket (not
    * murmur) so both engines hash identically. */
  def featureHashing(s: SparkSession, d: String): DataFrame = {
    val B = 32
    documents(s, d)
      .filter(col("doc_id") < 100)
      .select(col("doc_id"), explode(Documents.tokens(col("text"))).as("word"))
      .withColumn("bucket",
        conv(substring(md5(col("word")), 1, 4), 16, 10).cast("long") % B)
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("tf"),
        countDistinct(col("word")).as("n_terms"))
      .orderBy(col("doc_id"), col("bucket"))
  }

  val featureHashingSql: String =
    """WITH tok AS (
      |  SELECT doc_id, UNNEST(list_filter(
      |    string_split_regex(text, '[^\p{L}]+'), t -> t <> '')) AS word
      |  FROM documents WHERE doc_id < 100)
      |SELECT doc_id,
      |  ((strpos('0123456789abcdef', substring(md5(word), 1, 1)) - 1) * 4096
      |   + (strpos('0123456789abcdef', substring(md5(word), 2, 1)) - 1) * 256
      |   + (strpos('0123456789abcdef', substring(md5(word), 3, 1)) - 1) * 16
      |   + (strpos('0123456789abcdef', substring(md5(word), 4, 1)) - 1)) % 32
      |    AS bucket,
      |  COUNT(*) AS tf, COUNT(DISTINCT word) AS n_terms
      |FROM tok GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------- lexical richness by source
  /** Type-token ratio, hapax share, and mean word length per source —
    * the lexical-richness fingerprint that separates organic prose
    * (high TTR, fat hapax tail) from template floods and keyword spam
    * (tiny TTR: the same tokens over and over) BEFORE any dedup pass;
    * a source whose TTR collapses release-over-release is the
    * earliest template-rot alarm. Complements Zipf/Heaps (corpus-
    * global laws) with the per-source breakdown a mixture designer
    * weights on.
    *
    * All-integer: one (source, word) hash-agg with map-side combine,
    * then a per-source reduction; ratios on the permille/milli grids.
    * Scale shape: work ∝ tokens; state ∝ per-source vocabulary —
    * the wc substrate, two levels of combine, no window, no join. */
  def ttrBySource(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("source"), explode(Documents.tokens(col("text"))).as("word"))
      .groupBy(col("source"), col("word")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("source"))
      .agg(sum(col("cnt")).cast("long").as("n_tokens"),
        count(lit(1)).as("n_types"),
        coalesce(sum(when(col("cnt") === 1, 1L).otherwise(0L)), lit(0L))
          .as("n_hapax"),
        sum(length(col("word")).cast("long") * col("cnt")).cast("long")
          .as("n_chars"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        expr("n_types * 1000 DIV n_tokens").as("ttr_pm"),
        expr("n_hapax * 1000 DIV n_types").as("hapax_pm"),
        expr("n_chars * 1000 DIV n_tokens").as("mean_word_len_milli"))
      .orderBy(col("source"))

  val ttrBySourceSql: String =
    """WITH wc AS (
      |  SELECT source, word, COUNT(*) AS cnt FROM (
      |    SELECT source, UNNEST(list_filter(
      |      string_split_regex(text, '[^\p{L}]+'), t -> t <> '')) AS word
      |    FROM documents)
      |  GROUP BY source, word)
      |SELECT source,
      |  CAST(SUM(cnt) AS BIGINT) AS n_tokens,
      |  COUNT(*) AS n_types,
      |  COUNT(*) * 1000 // CAST(SUM(cnt) AS BIGINT) AS ttr_pm,
      |  CAST(COALESCE(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END), 0)
      |    AS BIGINT) * 1000 // COUNT(*) AS hapax_pm,
      |  CAST(SUM(length(word) * cnt) AS BIGINT) * 1000
      |    // CAST(SUM(cnt) AS BIGINT) AS mean_word_len_milli
      |FROM wc GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------- vocab coverage checkpoints
  /** Token-mass coverage at vocab-size checkpoints — the tokenizer
    * sizing curve: what share of all running tokens do the top 100 /
    * 1k / 10k word types cover? The knee of this curve is where a
    * word-level vocab stops paying and byte/BPE fallback takes over;
    * read next to Heaps (vocab growth) and Zipf (tail law), it turns
    * "what vocab size?" from a guess into a measurement.
    *
    * Scale shape: ONE (word, count) hash-agg (the wc substrate,
    * materialized once), then three TakeOrdered(k) passes over the
    * VOCABULARY (≪ corpus; k ≤ 10k bounds each heap) and a 1-row
    * assembly of broadcast scalars — no vocab-wide window, no
    * global sort. Exact integers; shares on the permille grid. */
  def vocabCoverage(s: SparkSession, d: String): DataFrame = {
    val wc = graft.operators.Materialize.eager(
      documents(s, d)
        .select(explode(Documents.tokens(col("text"))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("c")))
    def topMass(k: Int) =
      wc.orderBy(col("c").desc, col("word")).limit(k)
        .agg(coalesce(sum(col("c")), lit(0L)).cast("long").as(s"cov$k"))
    wc.agg(sum(col("c")).cast("long").as("total_tokens"),
        count(lit(1)).as("vocab_size"))
      .crossJoin(broadcast(topMass(100)))
      .crossJoin(broadcast(topMass(1000)))
      .crossJoin(broadcast(topMass(10000)))
      .select(col("total_tokens"), col("vocab_size"),
        expr("cov100 * 1000 DIV total_tokens").as("cov100_pm"),
        expr("cov1000 * 1000 DIV total_tokens").as("cov1000_pm"),
        expr("cov10000 * 1000 DIV total_tokens").as("cov10000_pm"))
  }

  val vocabCoverageSql: String =
    """WITH wc AS (
      |  SELECT word, CAST(COUNT(*) AS BIGINT) AS c FROM (
      |    SELECT UNNEST(list_filter(
      |      string_split_regex(text, '[^\p{L}]+'), t -> t <> '')) AS word
      |    FROM documents)
      |  GROUP BY word),
      |r AS (
      |  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, word) AS rn
      |  FROM wc),
      |tot AS (
      |  SELECT CAST(SUM(c) AS BIGINT) AS total_tokens,
      |    CAST(COUNT(*) AS BIGINT) AS vocab_size FROM wc)
      |SELECT total_tokens, vocab_size,
      |  CAST((SELECT COALESCE(SUM(c), 0) FROM r WHERE rn <= 100)
      |    AS BIGINT) * 1000 // total_tokens AS cov100_pm,
      |  CAST((SELECT COALESCE(SUM(c), 0) FROM r WHERE rn <= 1000)
      |    AS BIGINT) * 1000 // total_tokens AS cov1000_pm,
      |  CAST((SELECT COALESCE(SUM(c), 0) FROM r WHERE rn <= 10000)
      |    AS BIGINT) * 1000 // total_tokens AS cov10000_pm
      |FROM tot""".stripMargin

  // ------------------------------------------------- burstiness
  /** Word burstiness (Church/Gale): a word's occurrences per
    * CONTAINING document, with the single-doc concentration share.
    * Uniform function words land near 1000 milli (once per doc that
    * has them); a word at 5× that with half its mass in ONE document
    * is template boilerplate or memorized spam — exactly the terms a
    * stop-fingerprint list or a dedup investigation should start
    * from. Complements doc_boilerplate_shingles (verbatim n-grams)
    * at the single-word level.
    *
    * All-integer: tf, df, max per-doc tf are exact; burst =
    * tf·1000 DIV df; concentration = max_tf·1000 DIV tf. df ≥ 5
    * floors out one-doc noise words; top 20 by (burst desc, word).
    *
    * Scale shape: one (doc, word) hash-agg with map-side combine,
    * one word-keyed reduction, TakeOrdered(20) — the wc substrate
    * plus one bounded heap. */
  def burstiness(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), explode(Documents.tokens(col("text")))
        .as("word"))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("c"))
      .groupBy(col("word"))
      .agg(sum(col("c")).cast("long").as("tf"),
        count(lit(1)).as("df"),
        max(col("c")).cast("long").as("max_tf"))
      .filter(col("df") >= 5)
      .select(col("word"), col("tf"), col("df"),
        expr("tf * 1000 DIV df").as("burst_milli"),
        col("max_tf"),
        expr("max_tf * 1000 DIV tf").as("top_doc_share_pm"))
      .orderBy(col("burst_milli").desc, col("word"))
      .limit(20)

  val burstinessSql: String =
    """WITH dw AS (
      |  SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS c FROM (
      |    SELECT doc_id, UNNEST(list_filter(
      |      string_split_regex(text, '[^\p{L}]+'), t -> t <> '')) AS word
      |    FROM documents)
      |  GROUP BY doc_id, word),
      |w AS (
      |  SELECT word, CAST(SUM(c) AS BIGINT) AS tf,
      |    CAST(COUNT(*) AS BIGINT) AS df,
      |    CAST(MAX(c) AS BIGINT) AS max_tf
      |  FROM dw GROUP BY word)
      |SELECT word, tf, df, tf * 1000 // df AS burst_milli, max_tf,
      |  max_tf * 1000 // tf AS top_doc_share_pm
      |FROM w WHERE df >= 5
      |ORDER BY burst_milli DESC, word LIMIT 20""".stripMargin

  val queries: Map[String, Query] = Map(
    "text_burstiness" -> Query(burstiness, burstinessSql),
    "text_vocab_coverage" -> Query(vocabCoverage, vocabCoverageSql),
    "text_ttr_by_source" -> Query(ttrBySource, ttrBySourceSql),
    "text_zipf_slope" -> Query(zipfSlope, zipfSlopeSql),
    "text_js_divergence" -> Query(jsDivergence, jsDivergenceSql),
    "text_heaps_checkpoints" -> Query(heapsCheckpoints, heapsCheckpointsSql),
    "text_feature_hashing" -> Query(featureHashing, featureHashingSql))
}
