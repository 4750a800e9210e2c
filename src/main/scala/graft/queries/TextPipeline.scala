package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.Query

/** Training-corpus preparation queries: PII scrubbing and the composed
  * clean-corpus pipeline (quality gate + language gate + exact dedup
  * keep-one). Each stage is a pure column transform or a hash-groupBy
  * — one scan, one shuffle, no driver state.
  */
object TextPipeline {

  /** PII scrub: redact email-like and long-digit-run tokens, report
    * per-doc redaction counts. (The synthetic corpus has none — the
    * zero counts are themselves oracle-checked; regexes are the real
    * operator.) */
  def piiScrub(s: SparkSession, d: String): DataFrame = {
    val email = "[A-Za-z0-9.]+@[A-Za-z0-9.]+"
    val digits = "[0-9]{6,}"
    documents(s, d).select(
      col("doc_id"),
      regexp_replace(regexp_replace(col("text"), email, "<EMAIL>"),
        digits, "<NUM>").as("clean_text"),
      (size(split(col("text"), email, -1)) - 1).as("n_emails"),
      (size(split(col("text"), digits, -1)) - 1).as("n_numbers"))
      .select(col("doc_id"), md5(col("clean_text")).as("clean_hash"),
        col("n_emails"), col("n_numbers"))
      .orderBy(col("doc_id"))
  }

  val piiScrubSql: String =
    """SELECT doc_id,
      |  md5(regexp_replace(regexp_replace(text,
      |    '[A-Za-z0-9.]+@[A-Za-z0-9.]+', '<EMAIL>', 'g'),
      |    '[0-9]{6,}', '<NUM>', 'g')) AS clean_hash,
      |  CAST(len(string_split_regex(text, '[A-Za-z0-9.]+@[A-Za-z0-9.]+')) - 1 AS INT) AS n_emails,
      |  CAST(len(string_split_regex(text, '[0-9]{6,}')) - 1 AS INT) AS n_numbers
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Clean-corpus pipeline: tokens>=40 AND stopword-bearing ('the'
    * present) AND keep only min-doc_id per exact content hash; output
    * the surviving corpus stats per (lang, source) cell. */
  def cleanCorpus(s: SparkSession, d: String): DataFrame = {
    val toks = filter(split(col("text"), "[^\\p{L}]+"), t => length(t) > 0)
    val scored = documents(s, d)
      .withColumn("n_tokens", size(toks))
      .withColumn("has_stop", array_contains(toks, "the"))
      .filter(col("n_tokens") >= 40 && col("has_stop"))
    val withH = scored.withColumn("h", md5(col("text")))
    val keepIds = withH.groupBy(col("h")).agg(min(col("doc_id")).as("keep_id"))
    val kept = withH.join(keepIds,
      withH("h") === keepIds("h") && withH("doc_id") === keepIds("keep_id"))
    kept.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
      .orderBy(col("lang"), col("source"))
  }

  val cleanCorpusSql: String =
    """WITH scored AS (
      |  SELECT doc_id, lang, source, text, md5(text) AS h,
      |    len(list_filter(string_split_regex(text, '[^\p{L}]+'),
      |        w -> w <> '')) AS n_tokens,
      |    list_contains(list_filter(string_split_regex(text, '[^\p{L}]+'),
      |        w -> w <> ''), 'the') AS has_stop
      |  FROM documents),
      |filtered AS (SELECT * FROM scored WHERE n_tokens >= 40 AND has_stop),
      |kept AS (
      |  SELECT f.* FROM filtered f
      |  JOIN (SELECT h, MIN(doc_id) AS doc_id FROM filtered GROUP BY h) m
      |    ON f.h = m.h AND f.doc_id = m.doc_id)
      |SELECT lang, source, COUNT(*) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
      |FROM kept GROUP BY lang, source
      |ORDER BY lang, source""".stripMargin

  /** Deterministic train/val/test split by content hash: the first hex
    * char of md5(text) buckets 16 ways — 12/2/2 → 75/12.5/12.5%.
    * Hashing the TEXT (not the row id) keeps exact duplicates in
    * the same split — no train/test leakage — and survives re-ingest
    * id reassignment (no RNG state); the per-split stats are the check.
    * THE split rule of the corpus: splitAssignment reports it,
    * decontaminate relies on it — one definition (Scala + SQL twins). */
  private[queries] def splitCol: org.apache.spark.sql.Column = {
    val h1 = substring(md5(col("text")), 1, 1)
    when(h1.isin("c", "d"), "val")
      .when(h1.isin("e", "f"), "test")
      .otherwise("train")
  }

  private[queries] val splitCaseSql: String =
    """CASE WHEN SUBSTRING(md5(text), 1, 1) IN ('c','d') THEN 'val'
      |     WHEN SUBSTRING(md5(text), 1, 1) IN ('e','f') THEN 'test'
      |     ELSE 'train' END""".stripMargin

  def splitAssignment(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("split", splitCol)
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy(col("split"), col("lang"))

  val splitAssignmentSql: String =
    s"""SELECT split, lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
       |FROM (
       |  SELECT lang, n_chars,
       |    $splitCaseSql AS split
       |  FROM documents) t
       |GROUP BY split, lang
       |ORDER BY split, lang""".stripMargin

  // ------------------------------------------- sequence packing
  /** Greedy token-budget packing: documents → fixed-budget training
    * sequences. The parallel unit is the SHARD (doc_id % NShards):
    * packing is inherently sequential WITHIN a shard (each doc's
    * sequence depends on everything before it), so the scale shape is
    * flatMapSortedGroups — one sorted streaming pass per shard, O(1)
    * state, shards packed in parallel. At 100 TB the only knob is
    * NShards (≥ cluster cores); no driver state, no global sort. */
  private[queries] val PackBudget = 256
  // the packing parallel unit; sized ≥ the 32 local cores (at cluster
  // scale this is the one knob — thousands, not tens)
  private[queries] val NShards = 32L
  def packSequences(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d)
      .select(col("doc_id"), (col("doc_id") % NShards).as("shard"),
        size(filter(split(col("text"), "[^\\p{L}]+"), t => length(t) > 0))
          .as("n_tokens"))
      .as[(Long, Long, Int)]
      .groupByKey(_._2)
      .flatMapSortedGroups($"doc_id".asc) { (shard, it) =>
        var seq = 0L; var acc = 0L
        it.map { case (id, _, t) =>
          if (acc > 0 && acc + t > PackBudget) { seq += 1; acc = 0L }
          acc += t
          (id, shard, seq, t)
        }
      }
      .toDF("doc_id", "shard", "seq_id", "n_tokens")
      .orderBy(col("doc_id"))
  }

  /** Oracle: the same greedy fold as a recursive CTE — one recursion
    * level per doc rank within a shard, all shards advanced together. */
  val packSequencesSql: String =
    s"""WITH RECURSIVE toks AS (
       |  SELECT doc_id, doc_id % $NShards AS shard,
       |    CAST(len(list_filter(string_split_regex(text, '[^\\p{L}]+'),
       |        w -> w <> '')) AS INT) AS n_tokens,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id % $NShards
       |                       ORDER BY doc_id) AS rn
       |  FROM documents),
       |rec AS (
       |  SELECT shard, rn, doc_id, n_tokens,
       |    CAST(0 AS BIGINT) AS seq_id, CAST(n_tokens AS BIGINT) AS acc
       |  FROM toks WHERE rn = 1
       |  UNION ALL
       |  SELECT t.shard, t.rn, t.doc_id, t.n_tokens,
       |    CASE WHEN r.acc > 0 AND r.acc + t.n_tokens > $PackBudget
       |         THEN r.seq_id + 1 ELSE r.seq_id END,
       |    CASE WHEN r.acc > 0 AND r.acc + t.n_tokens > $PackBudget
       |         THEN CAST(t.n_tokens AS BIGINT)
       |         ELSE r.acc + t.n_tokens END
       |  FROM rec r JOIN toks t ON t.shard = r.shard AND t.rn = r.rn + 1)
       |SELECT doc_id, shard, seq_id, n_tokens FROM rec
       |ORDER BY doc_id""".stripMargin

  // ------------------------------------------- decontamination
  /** Train/eval decontamination: flag TRAIN documents sharing any
    * word 3-gram shingle with a VAL/TEST document (the benchmark-leak
    * check every pre-training pipeline runs; production uses longer
    * n-grams — same shape, one constant). Split rule is the same
    * content-hash as doc_split_assignment, shingles the same
    * slice+zip_with build as ngram-Jaccard; the join shuffles on the
    * shingle STRING itself — Spark hash-partitions it, so cost is
    * still Σ shingle-bucket², never train × eval, and (unlike joining
    * a 64-bit digest) a hash collision cannot silently add or drop a
    * hit: at billions of shingles 64-bit collisions stop being
    * negligible, and the string key shares collision behavior with
    * the oracle by construction. Exact duplicates can never cross
    * splits (the split hashes the text), so hits are genuine partial
    * overlaps. */
  def decontaminate(s: SparkSession, d: String): DataFrame = {
    val withSplit = documents(s, d).withColumn("split", splitCol)
    val sh = withSplit.select(col("doc_id"), col("split"),
        explode(Documents.shingles3(col("text"))).as("sh"))
      .distinct()
    val evalSh = sh.filter(col("split") =!= "train")
      .select(col("sh")).distinct()
    sh.filter(col("split") === "train")
      .join(evalSh, "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
      .orderBy(col("doc_id"))
  }

  val decontaminateSql: String =
    s"""WITH t AS (
      |  SELECT doc_id,
      |    $splitCaseSql AS split,
      |    list_filter(string_split_regex(text, '[^\\p{L}]+'),
      |                w -> w <> '') AS ws
      |  FROM documents),
      |shingled AS (
      |  SELECT DISTINCT doc_id, split,
      |    ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
      |  FROM t, UNNEST(range(1, len(ws) - 1)) AS u(i)),
      |eval_sh AS (SELECT DISTINCT sh FROM shingled WHERE split <> 'train')
      |SELECT s.doc_id, COUNT(*) AS n_hits
      |FROM shingled s JOIN eval_sh e ON s.sh = e.sh
      |WHERE s.split = 'train'
      |GROUP BY s.doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------- contamination sweep
  /** Decontamination THRESHOLD CURVE: [[decontaminate]]'s flag count
    * evaluated at shingle widths 3 / 5 / 8 / 13 in one query — the
    * tuning measurement behind choosing a production n-gram width.
    * Too short (3) flags nearly every train doc on common phrases;
    * too long stops catching paraphrased leaks; the knee of this
    * curve is where real benchmark overlap separates from incidental
    * phrase sharing (on these fixtures: 373 → 16 → 10 → 9 of 373
    * train docs, the long-n residue being genuine cross-split
    * near-duplicates). Output per width: distinct eval shingles,
    * contaminated train docs, and the contamination rate in
    * permille.
    *
    * Scale shape: the token-array projection is computed once and
    * materialized; each width adds one explode + one distinct + one
    * shingle-keyed equi-join (the decontaminate discipline — never
    * train × eval); totals are 1-row broadcasts. Cost is Σ_width
    * O(tokens), a constant factor over single-width decon. */
  def contaminationSweep(s: SparkSession, d: String): DataFrame = {
    val widths = Seq(3, 5, 8, 13)
    val sw = graft.operators.Materialize.eager(
      documents(s, d).select(col("doc_id"), splitCol.as("split"),
        Documents.tokens(col("text")).as("ws")))
    val trainTotal = sw.filter(col("split") === "train")
      .agg(count(lit(1)).as("n_train"))
    // one independent branch per width over the same token array
    val rows = widths.map { n =>
      val sh = graft.operators.Materialize.eager(
        sw.select(col("doc_id"), col("split"),
          explode(expr(
            s"""CASE WHEN size(ws) >= $n
               |THEN transform(sequence(1, size(ws) - ${n - 1}),
               |       i -> array_join(slice(ws, i, $n), ' '))
               |ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin))
            .as("sh")).distinct())
      val evalSh = graft.operators.Materialize.eager(
        sh.filter(col("split") =!= "train").select(col("sh")).distinct())
      val cont = sh.filter(col("split") === "train")
        .join(evalSh, "sh").select(col("doc_id")).distinct()
      cont.agg(count(lit(1)).as("n_contaminated"))
        .crossJoin(broadcast(
          evalSh.agg(count(lit(1)).as("n_eval_shingles"))))
        .withColumn("ngram", lit(n.toLong))
    }
    rows.reduce(_ unionByName _)
      .crossJoin(broadcast(trainTotal))
      .withColumn("contaminated_pm",
        expr("n_contaminated * 1000 DIV n_train"))
      .select(col("ngram"), col("n_train"), col("n_eval_shingles"),
        col("n_contaminated"), col("contaminated_pm"))
      .orderBy(col("ngram"))
  }

  val contaminationSweepSql: String = {
    val widths = Seq(3, 5, 8, 13)
    val branches = widths.map { n =>
      s"""sh$n AS (
         |  SELECT DISTINCT doc_id, split,
         |    array_to_string(ws[i:i+${n - 1}], ' ') AS sh
         |  FROM t, UNNEST(range(1, len(ws) - ${n - 2})) AS u(i)
         |  WHERE len(ws) >= $n),
         |ev$n AS (SELECT DISTINCT sh FROM sh$n WHERE split <> 'train'),
         |ct$n AS (
         |  SELECT CAST(COUNT(DISTINCT s.doc_id) AS BIGINT) AS n_contaminated
         |  FROM sh$n s JOIN ev$n e ON s.sh = e.sh
         |  WHERE s.split = 'train')""".stripMargin
    }.mkString(",\n")
    val selects = widths.map { n =>
      s"""SELECT CAST($n AS BIGINT) AS ngram,
         |  (SELECT n_train FROM tr) AS n_train,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM ev$n) AS n_eval_shingles,
         |  (SELECT n_contaminated FROM ct$n) AS n_contaminated,
         |  (SELECT n_contaminated FROM ct$n) * 1000
         |    // (SELECT n_train FROM tr) AS contaminated_pm""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH t AS (
       |  SELECT doc_id,
       |    $splitCaseSql AS split,
       |    list_filter(string_split_regex(text, '[^\\p{L}]+'),
       |                w -> w <> '') AS ws
       |  FROM documents),
       |tr AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_train FROM t
       |  WHERE split = 'train'),
       |$branches
       |$selects
       |ORDER BY ngram""".stripMargin
  }

  // ------------------------------------------- mixture sampling
  /** Deterministic weighted mixture sampling — the "data recipe" step
    * that up/down-samples sources into a training mix. Keep decision =
    * md5('mix|' || text) compared lexicographically against a per-
    * source hex threshold: uniform in [0,1), reproducible across runs
    * and engines, no RNG state, and duplicate texts always sample the
    * same way. Pure per-row expression + one agg — embarrassingly
    * parallel at any scale. Even-numbered sources keep 75%, odd 25%.
    * The source number is parsed with try_cast over an unbounded
    * substring — byte-identical to the oracle's expression, and a
    * malformed source yields NULL (→ the 25% branch) on BOTH engines
    * instead of an ANSI cast error on one of them. */
  def mixtureSample(s: SparkSession, d: String): DataFrame = {
    val threshold = when(
      expr("try_cast(substring(source, 4) AS INT)") % 2 === 0,
      lit("c0000000000000000000000000000000"))
      .otherwise(lit("40000000000000000000000000000000"))
    documents(s, d)
      .withColumn("kept", md5(concat(lit("mix|"), col("text"))) < threshold)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
      .orderBy(col("source"))
  }

  val mixtureSampleSql: String =
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN md5('mix|' || text) <
      |    CASE WHEN TRY_CAST(SUBSTRING(source, 4) AS INT) % 2 = 0
      |         THEN 'c0000000000000000000000000000000'
      |         ELSE '40000000000000000000000000000000' END
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------- mixture plan solver
  /** The mixture PLANNING step upstream of [[mixtureSample]]: given
    * measured per-source token masses and a target recipe (uniform
    * share here — the flat-rebalance baseline every mixture search
    * starts from), solve the per-source sampling rate, the mass the
    * plan actually achieves, and the honest shortfall. Rates above
    * 1000 pm mean multi-epoch repetition of a scarce source, capped
    * at 4 epochs (4000 pm) — past a few epochs repeated text stops
    * buying loss (the standard data-constrained-scaling result), so
    * the planner declares the deficit instead of silently looping a
    * tiny source forever. A flagged row tells the recipe owner to
    * either source more data or renormalize the target.
    *
    * All-integer: masses are exact token counts, the target is
    * T DIV S, rates live on the permille grid, and planned mass is
    * n_tokens·rate DIV 1000 — so Σ planned is reproducible to the
    * token, which is what makes two runs of the downstream sampler
    * comparable at all.
    *
    * Scale shape: ONE per-source hash-agg over token counts (the wc
    * substrate with map-side combine) + a 1-row totals broadcast —
    * output is |sources| rows; nothing else scales with the corpus. */
  def mixturePlan(s: SparkSession, d: String): DataFrame = {
    val perSource = documents(s, d)
      .select(col("source"),
        size(Documents.tokens(col("text"))).cast("long").as("tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("n_tokens"))
    val tot = perSource.agg(
      sum(col("n_tokens")).cast("long").as("total_tokens"),
      count(lit(1)).as("n_sources"))
    perSource.crossJoin(broadcast(tot))
      .withColumn("target_tokens",
        expr("total_tokens DIV n_sources"))
      .withColumn("rate_pm", expr(
        """CASE WHEN n_tokens = 0 THEN CAST(0 AS BIGINT)
          |ELSE LEAST(CAST(4000 AS BIGINT),
          |  target_tokens * 1000 DIV n_tokens) END""".stripMargin))
      .withColumn("planned_tokens",
        expr("n_tokens * rate_pm DIV 1000"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("target_tokens"), col("rate_pm"), col("planned_tokens"),
        expr("GREATEST(CAST(0 AS BIGINT), target_tokens - planned_tokens)")
          .as("deficit_tokens"),
        (col("rate_pm") === 4000L).as("epoch_capped"))
      .orderBy(col("source"))
  }

  val mixturePlanSql: String =
    """WITH ps AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(len(list_filter(
      |      string_split_regex(text, '[^\p{L}]+'), t -> t <> '')))
      |      AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |tot AS (
      |  SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
      |    CAST(COUNT(*) AS BIGINT) AS n_sources FROM ps),
      |plan AS (
      |  SELECT source, n_docs, n_tokens,
      |    total_tokens // n_sources AS target_tokens,
      |    CASE WHEN n_tokens = 0 THEN CAST(0 AS BIGINT)
      |      ELSE LEAST(CAST(4000 AS BIGINT),
      |        (total_tokens // n_sources) * 1000 // n_tokens) END
      |      AS rate_pm
      |  FROM ps CROSS JOIN tot)
      |SELECT source, n_docs, n_tokens, target_tokens, rate_pm,
      |  n_tokens * rate_pm // 1000 AS planned_tokens,
      |  GREATEST(CAST(0 AS BIGINT),
      |    target_tokens - n_tokens * rate_pm // 1000) AS deficit_tokens,
      |  rate_pm = 4000 AS epoch_capped
      |FROM plan ORDER BY source""".stripMargin

  // ------------------------------------------- stratified sample
  /** Deterministic stratified sampling: exactly min(k, |cell|) docs
    * per (lang, source) cell, chosen by md5 order — the quota-based
    * companion to rate-based [[mixtureSample]] (eval-set carving,
    * per-domain caps). Same RNG-free reproducibility story: the hash
    * IS the random order, so re-runs and re-ingests pick identical
    * rows, and duplicate texts tie-break on doc_id.
    *
    * Scale shape: one window partitioned BY CELL — the cell is the
    * parallel unit. For pathological single-cell skew the bounded
    * top-k Aggregator (`operators.TopK`) is the same query with O(k)
    * state per cell instead of a per-cell sort. */
  def stratifiedSample(s: SparkSession, d: String): DataFrame = {
    val k = 5
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"), col("source"))
      .orderBy(col("hk"), col("doc_id"))
    documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"),
        md5(concat(lit("strat|"), col("text"))).as("hk"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("lang"), col("source"), col("rn"), col("doc_id"))
      .orderBy(col("lang"), col("source"), col("rn"))
  }

  val stratifiedSampleSql: String =
    """SELECT lang, source,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY lang, source
      |       ORDER BY md5('strat|' || text), doc_id) AS INT) AS rn,
      |  doc_id
      |FROM documents
      |QUALIFY rn <= 5
      |ORDER BY lang, source, rn""".stripMargin

  // ------------------------------------------- token-budget select
  /** Budgeted selection: per source, admit documents best-first until
    * a TOKEN budget is spent — the "fill each domain's share of the
    * training mix" pass, where the budget is tokens (what training
    * actually pays for), not document counts. Preference is an exact
    * integer quality permille (stopword-token share — the natural-
    * language signal the quality tier uses), tie-broken on doc_id, so
    * the admitted set is bit-deterministic across engines and re-runs.
    * A document is admitted while the RUNNING total (its own tokens
    * included) fits the budget; later docs may still fit a smaller
    * remainder — the standard greedy-prefix semantics (cum <= budget),
    * not best-fit packing.
    *
    * Scale shape: one linear projection (token/stopword counts), one
    * window shuffle keyed by source — the source is the parallel
    * unit. A pathologically hot source bounds at its own doc count;
    * the two-phase partial-cumsum trick (per-partition sums, then a
    * prefix-sum join) drops in if a single source outgrows a task. */
  def tokenBudgetSelect(s: SparkSession, d: String): DataFrame = {
    val budget = 1200L
    val toks = Documents.tokens(col("text"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("score_pm").desc, col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    documents(s, d)
      .select(col("doc_id"), col("source"),
        size(toks).cast("long").as("n_tokens"),
        size(filter(toks,
          t => t.isin("the", "a", "of", "and", "to"))).cast("long").as("sw"))
      .filter(col("n_tokens") > 0)
      .withColumn("score_pm", expr("(sw * 1000) DIV n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budget)
      .select(col("source"), col("doc_id"), col("n_tokens"),
        col("score_pm"), col("cum_tokens"))
      .orderBy(col("source"), col("cum_tokens"))
  }

  val tokenBudgetSelectSql: String =
    """WITH t AS (
      |  SELECT doc_id, source,
      |    CAST(len(list_filter(string_split_regex(text, '[^\p{L}]+'),
      |         w -> w <> '')) AS BIGINT) AS n_tokens,
      |    CAST(len(list_filter(string_split_regex(text, '[^\p{L}]+'),
      |         w -> w IN ('the','a','of','and','to'))) AS BIGINT) AS sw
      |  FROM documents),
      |scored AS (
      |  SELECT doc_id, source, n_tokens, (sw * 1000) // n_tokens AS score_pm
      |  FROM t WHERE n_tokens > 0),
      |ranked AS (
      |  SELECT source, doc_id, n_tokens, score_pm,
      |    CAST(SUM(n_tokens) OVER (PARTITION BY source
      |      ORDER BY score_pm DESC, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS cum_tokens
      |  FROM scored)
      |SELECT source, doc_id, n_tokens, score_pm, cum_tokens
      |FROM ranked WHERE cum_tokens <= 1200
      |ORDER BY source, cum_tokens""".stripMargin

  // ------------------------------------------- weighted sample (WOR)
  /** Deterministic weighted sampling WITHOUT replacement, top-5 per
    * source, weight ∝ document length: each doc draws `m` hash
    * tickets (m = 1 + n_chars div 400, capped at 8) and its priority
    * is the LEXICOGRAPHIC MIN ticket — more tickets ⇒ stochastically
    * smaller min ⇒ longer docs win proportionally more often, the
    * integer-exact analogue of exponential-race (A-ES) sampling with
    * no RNG state and no float math anywhere. Re-runs, re-ingests,
    * and both engines pick identical rows (ties break on doc_id).
    *
    * Scale shape: per-row bounded work (≤8 md5 calls — a fixed-size
    * array expression, never an explode), then one window shuffle
    * keyed by source, same parallel unit as the other sampling ops.
    * The higher-order transform is off the bulk path: it runs once
    * per doc, not per token. */
  def weightedSample(s: SparkSession, d: String): DataFrame = {
    val k = 5
    val m = least(lit(8), expr("n_chars div 400") + lit(1))
    val pr = array_min(transform(sequence(lit(1), m),
      i => md5(concat(i.cast("string"), lit("|"), col("text")))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("pr"), col("doc_id"))
    documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"), pr.as("pr"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("source"), col("rn"), col("doc_id"), col("n_chars"))
      .orderBy(col("source"), col("rn"))
  }

  val weightedSampleSql: String =
    """WITH t AS (
      |  SELECT doc_id, source, n_chars,
      |    list_min(list_transform(
      |      generate_series(1, LEAST(8, n_chars // 400 + 1)),
      |      i -> md5(CAST(i AS VARCHAR) || '|' || text))) AS pr
      |  FROM documents)
      |SELECT source,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY pr, doc_id)
      |    AS INT) AS rn,
      |  doc_id, n_chars
      |FROM t
      |QUALIFY rn <= 5
      |ORDER BY source, rn""".stripMargin

  // ------------------------------------------- global shuffle
  /** Deterministic global shuffle: every doc gets a position 0..n-1 in
    * md5-of-content order — the reproducible permutation a training
    * run reads sequences in. Scale shape: range-partition + sort by
    * the hash key (total order across partitions), then two-pass
    * global indexing a la zipWithIndex — the driver sees only one
    * count per partition, never data. A row_number() window would
    * funnel the corpus through ONE partition; this never does. */
  def globalShuffle(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val np = s.sparkContext.defaultParallelism
    val sorted = documents(s, d)
      .select(col("doc_id"),
        md5(concat(lit("shuf|"), col("text"))).as("k"))
      .repartitionByRange(np, col("k"), col("doc_id"))
      .sortWithinPartitions(col("k"), col("doc_id"))
      .select(col("doc_id")).as[Long]
    sorted.rdd.zipWithIndex()
      .map { case (id, pos) => (id, pos) }
      .toDF("doc_id", "pos")
      .orderBy(col("doc_id"))
  }

  val globalShuffleSql: String =
    """SELECT doc_id,
      |  ROW_NUMBER() OVER (ORDER BY md5('shuf|' || text), doc_id) - 1
      |    AS pos
      |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------- packing efficiency
  /** Sequence-packing BUDGET SWEEP: the greedy fold of
    * [[packSequences]] evaluated at three context budgets (128 / 256
    * / 512 tokens) in ONE sorted pass per shard — the capacity-
    * planning question ("what context length wastes the least
    * padding on THIS corpus?") answered without re-scanning per
    * candidate. Per budget: sequence count, packed tokens, capacity
    * (oversized single-doc sequences count at their own length — the
    * no-truncation convention), padding waste and utilization in
    * permille, and the overflow-doc count.
    *
    * Scale shape: identical to packSequences — one
    * flatMapSortedGroups pass per shard, except the fold carries
    * |budgets| (seq, acc) registers instead of one, so the sweep
    * costs one corpus pass total, not one per budget; the rollup is
    * |budgets| rows. Oracle: one recursive CTE keyed on
    * (budget, shard) — the packSequencesSql recursion with the
    * budget lifted into the key. */
  private[queries] val SweepBudgets = Seq(128L, 256L, 512L)
  def packEfficiency(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val budgets = SweepBudgets
    val assigned = documents(s, d)
      .select(col("doc_id"), (col("doc_id") % NShards).as("shard"),
        size(filter(split(col("text"), "[^\\p{L}]+"), t => length(t) > 0))
          .cast("long").as("n_tokens"))
      .as[(Long, Long, Long)]
      .groupByKey(_._2)
      .flatMapSortedGroups($"doc_id".asc) { (_, it) =>
        val seqs = Array.fill(budgets.length)(0L)
        val accs = Array.fill(budgets.length)(0L)
        it.flatMap { case (_, sh, t) =>
          budgets.indices.map { k =>
            if (accs(k) > 0 && accs(k) + t > budgets(k)) {
              seqs(k) += 1; accs(k) = 0L
            }
            accs(k) += t
            (budgets(k), sh, seqs(k), t)
          }
        }
      }
      .toDF("budget", "shard", "seq_id", "n_tokens")
    val perSeq = assigned.groupBy(col("budget"), col("shard"), col("seq_id"))
      .agg(sum(col("n_tokens")).as("st"))
    perSeq.groupBy(col("budget"))
      .agg(count(lit(1)).as("n_seqs"),
        sum(col("st")).as("packed_tokens"),
        sum(greatest(col("budget"), col("st"))).as("capacity"),
        sum(when(col("st") > col("budget"), 1L).otherwise(0L))
          .as("n_overflow"))
      .withColumn("util_pm", expr("packed_tokens * 1000 DIV capacity"))
      .withColumn("waste_pm",
        expr("(capacity - packed_tokens) * 1000 DIV capacity"))
      .orderBy(col("budget"))
  }

  val packEfficiencySql: String = {
    val bl = SweepBudgets.mkString(", ")
    s"""WITH RECURSIVE budgets AS (SELECT UNNEST([$bl]) AS budget),
       |toks AS (
       |  SELECT b.budget, doc_id, doc_id % $NShards AS shard,
       |    CAST(len(list_filter(string_split_regex(text, '[^\\p{L}]+'),
       |        w -> w <> '')) AS BIGINT) AS n_tokens,
       |    ROW_NUMBER() OVER (PARTITION BY b.budget, doc_id % $NShards
       |                       ORDER BY doc_id) AS rn
       |  FROM documents, budgets b),
       |rec AS (
       |  SELECT budget, shard, rn, doc_id, n_tokens,
       |    CAST(0 AS BIGINT) AS seq_id, n_tokens AS acc
       |  FROM toks WHERE rn = 1
       |  UNION ALL
       |  SELECT t.budget, t.shard, t.rn, t.doc_id, t.n_tokens,
       |    CASE WHEN r.acc > 0 AND r.acc + t.n_tokens > t.budget
       |         THEN r.seq_id + 1 ELSE r.seq_id END,
       |    CASE WHEN r.acc > 0 AND r.acc + t.n_tokens > t.budget
       |         THEN t.n_tokens ELSE r.acc + t.n_tokens END
       |  FROM rec r JOIN toks t ON t.budget = r.budget
       |    AND t.shard = r.shard AND t.rn = r.rn + 1),
       |per_seq AS (
       |  SELECT budget, shard, seq_id, CAST(SUM(n_tokens) AS BIGINT) AS st
       |  FROM rec GROUP BY 1, 2, 3)
       |SELECT CAST(budget AS BIGINT) AS budget,
       |  CAST(COUNT(*) AS BIGINT) AS n_seqs,
       |  CAST(SUM(st) AS BIGINT) AS packed_tokens,
       |  CAST(SUM(GREATEST(budget, st)) AS BIGINT) AS capacity,
       |  CAST(SUM(CASE WHEN st > budget THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_overflow,
       |  CAST(SUM(st) AS BIGINT) * 1000
       |    // CAST(SUM(GREATEST(budget, st)) AS BIGINT) AS util_pm,
       |  (CAST(SUM(GREATEST(budget, st)) AS BIGINT)
       |    - CAST(SUM(st) AS BIGINT)) * 1000
       |    // CAST(SUM(GREATEST(budget, st)) AS BIGINT) AS waste_pm
       |FROM per_seq GROUP BY budget ORDER BY budget""".stripMargin
  }

  val queries: Map[String, Query] = Map(
    "doc_contamination_sweep" -> Query(contaminationSweep, contaminationSweepSql),
    "text_pack_efficiency" -> Query(packEfficiency, packEfficiencySql),
    "doc_split_assignment" -> Query(splitAssignment, splitAssignmentSql),
    "doc_global_shuffle" -> Query(globalShuffle, globalShuffleSql),
    "text_pii_scrub" -> Query(piiScrub, piiScrubSql),
    "text_clean_corpus" -> Query(cleanCorpus, cleanCorpusSql),
    "text_pack_sequences" -> Query(packSequences, packSequencesSql),
    "doc_mixture_sample" -> Query(mixtureSample, mixtureSampleSql),
    "corpus_mixture_plan" -> Query(mixturePlan, mixturePlanSql),
    "doc_stratified_sample" -> Query(stratifiedSample, stratifiedSampleSql),
    "doc_weighted_sample" -> Query(weightedSample, weightedSampleSql),
    "doc_token_budget_select" -> Query(tokenBudgetSelect, tokenBudgetSelectSql),
    "doc_decontaminate" -> Query(decontaminate, decontaminateSql),
    // same oracle as the window formulation — different physical plan,
    // identical rows
    "topk_per_key_agg" -> Query((s, d) => graft.operators.TopK.topOrdersPerCustomer(s, d),
      Relational.windowTopPerKeySql))
}
