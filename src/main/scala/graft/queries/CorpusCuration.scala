package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.Query

/** Corpus-internal curation passes that complete the dedup/chunking
  * tier: duplicate-SPAN detection (which tokens are copied, not just
  * which documents), content-defined chunking (reuse-stable chunk
  * boundaries), and two-model importance scoring (domain-targeted
  * data selection).
  *
  * Everything runs on exact integers (positions, counts, bit-length
  * surprisal, permille ratios) or md5 strings — no floating point
  * anywhere, so Spark and DuckDB agree bit-for-bit.
  *
  * Reference analog: none (the reference engine has no windows or
  * joins — SURVEY §2.3); this is beyond-reference LLM-pipeline
  * surface.
  */
object CorpusCuration {

  private def toks(c: org.apache.spark.sql.Column) = Documents.tokens(c)

  private val toksSql =
    """list_filter(string_split_regex(text, '[^\p{L}]+'), w -> w <> '')"""

  // ---------------------------------------------- duplicate spans
  /** Duplicate-span detection (the span-level half of "Deduplicating
    * Training Data Makes Language Models Better": suffix-array
    * repeated substrings, re-expressed distributably): a token 3-gram
    * occurring in MORE THAN ONE document marks its positions as
    * copied; per document, overlapping/adjacent hits merge into
    * maximal spans (gaps-and-islands over the hit positions). Output
    * = span count + copied-token coverage per document — the signal a
    * pipeline uses to cut boilerplate spans before training.
    *
    * Scale shape: gram table is one explode (linear); the dup-gram
    * filter is a hash-agg keyed on the gram; the hits join is
    * gram-keyed equi; span merge is a per-document window (partition
    * key = doc_id, the parallel unit). No stage touches doc × doc.
    * The window sees only DUPLICATED gram positions of one doc —
    * bounded by doc length, not corpus size. */
  def duplicateSpans(s: SparkSession, d: String): DataFrame = {
    // materialized: the dup-gram agg and the hits join both read it
    val grams = graft.operators.Materialize.eager(Documents.shingles3Pos(s, d))
    // "appears in >1 distinct doc" ⟺ min(doc) ≠ max(doc): one cheap
    // min/max agg instead of the two-phase distinct-count rewrite —
    // lazy, single consumer (see Documents.dupGrams3)
    val dup = Documents.dupGrams3(grams)
    val hits = grams.join(dup, "g")
      .select(col("doc_id"), col("n"), col("pos"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    // a hit at pos covers [pos, pos+2]; the next hit merges when it
    // starts within (or adjacent to) that cover — gap in pos ≤ 3
    val sp = hits
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(w) <= 3, 0).otherwise(1))
      .withColumn("span_id",
        sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    sp.groupBy(col("doc_id"), col("span_id"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + 2).as("e"),
        max(col("n")).as("n"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + 1).as("dup_tokens"),
        max(col("n")).as("n"))
      .withColumn("coverage_permille", expr("(1000 * dup_tokens) DIV n"))
      .select(col("doc_id"), col("n_spans"), col("dup_tokens"),
        col("coverage_permille"))
      .orderBy(col("doc_id"))
  }

  val duplicateSpansSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, $toksSql AS ws FROM documents),
       |grams AS (
       |  SELECT doc_id, CAST(i AS INT) AS pos,
       |    ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g, len(ws) AS n
       |  FROM toks, UNNEST(range(1, len(ws) - 1)) AS t(i)),
       |dup AS (SELECT g FROM grams GROUP BY g
       |        HAVING MIN(doc_id) <> MAX(doc_id)),
       |hits AS (SELECT doc_id, pos, n FROM grams JOIN dup USING (g)),
       |isl AS (
       |  SELECT doc_id, pos, n,
       |    CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id
       |                                   ORDER BY pos) <= 3
       |         THEN 0 ELSE 1 END AS brk
       |  FROM hits),
       |sp AS (
       |  SELECT doc_id, n, pos,
       |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
       |                   ROWS UNBOUNDED PRECEDING) AS span_id
       |  FROM isl),
       |agg AS (
       |  SELECT doc_id, MAX(n) AS n, span_id, MIN(pos) AS s,
       |    MAX(pos) + 2 AS e
       |  FROM sp GROUP BY doc_id, span_id)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
       |  CAST(SUM(e - s + 1) AS BIGINT) AS dup_tokens,
       |  (1000 * CAST(SUM(e - s + 1) AS BIGINT)) // MAX(n)
       |    AS coverage_permille
       |FROM agg GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- CDC chunking
  /** Content-defined chunking: chunk boundaries fall where the token's
    * own fingerprint says so (md5 first hex digit ∈ {0,1} ⇒ expected
    * chunk length 8 tokens), NOT at fixed offsets — so an insertion
    * early in a document shifts only its local chunk, and every other
    * chunk keeps its content hash. That boundary stability is what
    * makes chunk-level dedup/caching work on evolving corpora (the
    * rolling-hash trick behind rsync/LBFS/data-dedup stores).
    *
    * Portability: the boundary predicate and the chunk hash both
    * derive from md5 strings — identical on any engine; positions and
    * running chunk ids are exact integers via a per-doc window.
    * Scale shape: explode → per-doc window → hash-agg keyed
    * (doc_id, chunk_id); linear, partitioned by document. */
  def cdcChunks(s: SparkSession, d: String): DataFrame = {
    val pos = documents(s, d)
      .select(col("doc_id"), posexplode(toks(col("text"))).as(Seq("p", "w")))
      .withColumn("pos", (col("p") + 1).cast("int"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val withChunk = pos
      .withColumn("brk",
        when(col("pos") > 1 &&
          substring(md5(col("w")), 1, 1).isin("0", "1"), 1).otherwise(0))
      .withColumn("chunk_id",
        sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast("int"))
    withChunk.groupBy(col("doc_id"), col("chunk_id"))
      .agg(count(lit(1)).cast("int").as("n_tokens"),
        md5(concat_ws(" ",
          transform(sort_array(collect_list(struct(col("pos"), col("w")))),
            x => x.getField("w")))).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  val cdcChunksSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, $toksSql AS ws FROM documents),
       |pos AS (
       |  SELECT doc_id, CAST(i AS INT) AS pos, ws[i] AS w
       |  FROM toks, UNNEST(range(1, len(ws) + 1)) AS t(i)),
       |b AS (
       |  SELECT doc_id, pos, w,
       |    CASE WHEN pos > 1 AND substring(md5(w), 1, 1) IN ('0','1')
       |         THEN 1 ELSE 0 END AS brk
       |  FROM pos),
       |c AS (
       |  SELECT doc_id, pos, w,
       |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
       |                   ROWS UNBOUNDED PRECEDING) AS chunk_id
       |  FROM b)
       |SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
       |  CAST(COUNT(*) AS INT) AS n_tokens,
       |  md5(string_agg(w, ' ' ORDER BY pos)) AS chunk_md5
       |FROM c GROUP BY doc_id, chunk_id
       |ORDER BY doc_id, chunk_id""".stripMargin

  // -------------------------------------------- importance scoring
  /** Two-model importance scoring (the DSIR recipe: select pretraining
    * data whose n-gram likelihood under a TARGET domain model beats
    * its likelihood under the general corpus model). Target = the
    * 'src0' slice; both unigram models live on the integer bit-length
    * grid (info(w) = bits(N) − bits(cnt), as in unigram surprisal),
    * with add-one smoothing so target-unseen words score, not crash:
    * Nt' = Σct + |vocab|. ratio_bits > 0 ⇒ the doc looks more like
    * the target than like the average corpus document.
    *
    * Scale shape: two count tables off one token explode (corpus
    * counts, filtered target counts), joined back on the word (the
    * vocab is not assumed broadcastable); two 1-row totals broadcast;
    * final roll-up keys on doc_id. Linear, three shuffles. */
  def importanceScore(s: SparkSession, d: String): DataFrame = {
    val tok = documents(s, d)
      .select(col("doc_id"), col("source"),
        explode(toks(col("text"))).as("word"))
    val corpus = tok.groupBy(col("word")).agg(count(lit(1)).as("cc"))
    val target = tok.filter(col("source") === "src0")
      .groupBy(col("word")).agg(count(lit(1)).as("ct"))
    val nc = corpus.agg(sum(col("cc")).as("n_c"))
    val nt = target.agg(sum(col("ct")).as("st"))
      .crossJoin(corpus.agg(count(lit(1)).as("v")))
      .select((col("st") + col("v")).as("n_t"))
    val bits = (x: org.apache.spark.sql.Column) => length(bin(x))
    tok.join(corpus, "word")
      .join(target, Seq("word"), "left")
      .crossJoin(broadcast(nc)).crossJoin(broadcast(nt))
      .withColumn("rb",
        ((bits(col("n_c")) - bits(col("cc"))) -
          (bits(col("n_t")) - bits(coalesce(col("ct"), lit(0L)) + 1)))
          .cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("rb")).as("ratio_bits"))
      .withColumn("ratio_millibits",
        expr("(1000 * ratio_bits) DIV n_tokens"))
      .orderBy(col("doc_id"))
  }

  val importanceScoreSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, source, UNNEST($toksSql) AS word FROM documents),
       |corpus AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS cc
       |           FROM tok GROUP BY word),
       |nc AS (SELECT CAST(SUM(cc) AS BIGINT) AS n FROM corpus),
       |target AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS ct
       |           FROM tok WHERE source = 'src0' GROUP BY word),
       |nt AS (SELECT CAST(SUM(ct) AS BIGINT)
       |         + CAST((SELECT COUNT(*) FROM corpus) AS BIGINT) AS n
       |       FROM target)
       |SELECT t.doc_id, COUNT(*) AS n_tokens,
       |  CAST(SUM( (length(bin(nc.n)) - length(bin(c.cc)))
       |          - (length(bin(nt.n))
       |             - length(bin(COALESCE(tg.ct, 0) + 1))) ) AS BIGINT)
       |    AS ratio_bits,
       |  (1000 * CAST(SUM( (length(bin(nc.n)) - length(bin(c.cc)))
       |          - (length(bin(nt.n))
       |             - length(bin(COALESCE(tg.ct, 0) + 1))) ) AS BIGINT))
       |    // COUNT(*) AS ratio_millibits
       |FROM tok t
       |JOIN corpus c USING (word)
       |LEFT JOIN target tg USING (word)
       |CROSS JOIN nc CROSS JOIN nt
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  // --------------------------------------- cross-source overlap
  /** Source-to-source contamination matrix: for every pair of corpus
    * sources, the count of token 3-gram shingles present in BOTH, and
    * the shingle-set Jaccard in permille. The diagnostic a curation
    * pipeline runs before mixing sources — which feeds are near-copies
    * of each other (scraped mirrors, re-crawls) and which are genuinely
    * disjoint — at the n-gram level, so it fires even when no whole
    * document is duplicated (exact-hash overlap is empty on this very
    * corpus; shingle overlap is not).
    *
    * Scale shape: explode → distinct(source, shingle) — a hash-agg, the
    * heavy step, linear in corpus tokens; then a shingle-keyed equi
    * self-join whose per-shingle bucket is capped by the number of
    * SOURCES carrying it (≤ |sources|, independent of corpus size), so
    * join cost ≤ |shingles| · |sources|²; final agg lands on ≤
    * |sources|² rows and the per-source totals joined for the Jaccard
    * denominator are a broadcast. Integer permille output — no doubles
    * to drift. */
  def sourceOverlap(s: SparkSession, d: String): DataFrame = {
    // materialized once: sh feeds the per-source totals AND both sides
    // of the shingle self-join — un-materialized, the tokenize +
    // shingle-explode + distinct pipeline runs three times
    val sh = graft.operators.Materialize.eager(
      documents(s, d)
        .select(col("source"),
          explode(Documents.shingles3(col("text"))).as("g"))
        .distinct())
    val cnt = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val shared = sh.as("a").join(sh.as("b"), "g")
      .filter(col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(broadcast(cnt.select(col("source").as("src_a"), col("n").as("na"))), "src_a")
      .join(broadcast(cnt.select(col("source").as("src_b"), col("n").as("nb"))), "src_b")
      .select(col("src_a"), col("src_b"), col("n_shared"),
        expr("(1000 * n_shared) DIV (na + nb - n_shared)")
          .as("jaccard_permille"))
      .orderBy(col("src_a"), col("src_b"))
  }

  val sourceOverlapSql: String =
    s"""WITH toks AS (
       |  SELECT source, $toksSql AS ws FROM documents),
       |sh AS (
       |  SELECT DISTINCT source,
       |    ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
       |  FROM toks, UNNEST(range(1, len(ws) - 1)) AS t(i)),
       |cnt AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
       |        FROM sh GROUP BY source),
       |pr AS (
       |  SELECT a.source AS src_a, b.source AS src_b,
       |    CAST(COUNT(*) AS BIGINT) AS n_shared
       |  FROM sh a JOIN sh b USING (g)
       |  WHERE a.source < b.source GROUP BY 1, 2)
       |SELECT src_a, src_b, n_shared,
       |  (1000 * n_shared) // (ca.n + cb.n - n_shared) AS jaccard_permille
       |FROM pr
       |JOIN cnt ca ON ca.source = pr.src_a
       |JOIN cnt cb ON cb.source = pr.src_b
       |ORDER BY src_a, src_b""".stripMargin

  // ------------------------------------------- quality deciles
  /** Curriculum/quality binning: NTILE(10) over the integer stopword
    * score per source, then per-bin token totals — the bucketing a
    * pipeline uses for curriculum ordering ("train easy-to-hard") and
    * quality-tiered mixture weights. The score is the same integer
    * permille TextPipeline.tokenBudgetSelect admits by, so the two
    * passes agree on what "best" means.
    *
    * Scale shape: one scan + per-source window (the source is the
    * parallel unit) + hash-agg on (source, bin). NTILE over
    * (score desc, doc_id) is a total order ⇒ engine-identical bins. */
  def qualityDeciles(s: SparkSession, d: String): DataFrame = {
    val toksC = Documents.tokens(col("text"))
    val base = documents(s, d).select(col("source"), col("doc_id"),
        size(toksC).cast("long").as("tok"),
        size(org.apache.spark.sql.functions.filter(toksC,
          t => t.isin("the", "a", "of", "and", "to"))).cast("long").as("sw"))
      .filter(col("tok") > 0)
      .withColumn("score_pm", expr("(sw * 1000) DIV tok"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("score_pm").desc, col("doc_id"))
    base.withColumn("bin", ntile(10).over(w))
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tok")).as("bin_tokens"),
        min(col("score_pm")).as("min_score_pm"),
        max(col("score_pm")).as("max_score_pm"))
      .orderBy(col("source"), col("bin"))
  }

  val qualityDecilesSql: String =
    s"""WITH t AS (
       |  SELECT source, doc_id,
       |    CAST(len(ws) AS BIGINT) AS tok,
       |    CAST(len(list_filter(ws,
       |      w -> w IN ('the','a','of','and','to'))) AS BIGINT) AS sw
       |  FROM (SELECT source, doc_id, $toksSql AS ws FROM documents)
       |  WHERE len(ws) > 0),
       |scored AS (
       |  SELECT source, doc_id, tok, (sw * 1000) // tok AS score_pm FROM t),
       |binned AS (
       |  SELECT source, tok, score_pm,
       |    CAST(NTILE(10) OVER (PARTITION BY source
       |         ORDER BY score_pm DESC, doc_id) AS INT) AS bin
       |  FROM scored)
       |SELECT source, bin, COUNT(*) AS n_docs,
       |  CAST(SUM(tok) AS BIGINT) AS bin_tokens,
       |  MIN(score_pm) AS min_score_pm, MAX(score_pm) AS max_score_pm
       |FROM binned GROUP BY source, bin ORDER BY source, bin""".stripMargin

  // ------------------------------------------- LSH precision audit
  /** Candidate-quality audit for the MinHash-LSH banding: exact
    * shingle Jaccard for EVERY candidate pair dedup_lsh_pairs emits,
    * rolled into a permille histogram — the measurement that tells a
    * pipeline whether its band parameters over- or under-generate
    * (low buckets = wasted verification work, missing high-Jaccard
    * mass = recall holes). This is the audit loop real dedup setups
    * run before committing band/row parameters at scale.
    *
    * Scale shape: the audit runs on a DETERMINISTIC 1/256 SAMPLE of
    * the candidates (first two md5 hex digits of "doc_a_doc_b" = '00' —
    * engine-portable, no RNG): the candidate set itself grows as
    * Σ bucket², so exact-Jaccard over ALL pairs re-creates the cost
    * LSH exists to avoid (measured 44 s at sf0.1 unsampled, 6 s at
    * 1/16, ~2 s at 1/256 on this template-heavy corpus). A histogram estimate is
    * exactly what the parameter decision needs; per-pair cost is
    * shingles/doc, never corpus². Pairs whose docs have <3 tokens
    * (no shingles, candidates via token-minhash) land in bucket 0
    * through the COALESCE(0) path, not dropped. Spark joins on the
    * 64-bit shingle hash, the oracle on strings — identical counts
    * modulo 2^-64 collisions (ngramJaccard's documented convention). */
  def lshPrecision(s: SparkSession, d: String): DataFrame = {
    // (doc_id, sh) projected from the (doc_id, source, sh) table stays
    // distinct — source is functionally dependent on doc_id.
    val pairs = graft.operators.Materialize.hintSmall(
      graft.operators.Materialize.eager(
        Documents.lshCandidatePairs(s, d)
          .filter(substring(md5(concat(col("doc_a").cast("string"), lit("_"),
            col("doc_b").cast("string"))), 1, 2) === "00")))
    // materialized: sizes and both intersection sides read it
    val shingled = graft.operators.Materialize.eager(
      Documents.shingledHashed(s, d).select(col("doc_id"), col("sh")))
    val sizes = shingled.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val a = shingled.select(col("doc_id").as("doc_a"), col("sh"))
    val b = shingled.select(col("doc_id").as("doc_b"), col("sh"))
    // hintSmall: the 1/256 sample is ~30 k rows measured-small, so the
    // inner join against the shingle stream builds the sample as the
    // hash side and the O(Σ shingles) stream is never exchanged (r13;
    // the planner ignores the hint where unsupported, e.g. as the
    // preserved side of the left joins below)
    val inter = pairs.join(a, "doc_a").join(b, Seq("doc_b", "sh"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_inter"))
    pairs
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("na")),
        Seq("doc_a"), "left")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("nb")),
        Seq("doc_b"), "left")
      .select(coalesce(col("n_inter"), lit(0L)).as("ni"),
        (coalesce(col("na"), lit(0L)) + coalesce(col("nb"), lit(0L)) -
          coalesce(col("n_inter"), lit(0L))).as("denom"))
      .withColumn("permille",
        expr("CASE WHEN denom > 0 THEN (1000 * ni) DIV denom " +
          "ELSE CAST(0 AS BIGINT) END"))
      .groupBy(expr("CAST(permille DIV 100 AS INT)").as("bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        min(col("permille")).as("min_permille"),
        max(col("permille")).as("max_permille"))
      .orderBy(col("bucket"))
  }

  val lshPrecisionSql: String =
    s"""WITH pairs AS (
       |  SELECT doc_a, doc_b FROM (
       |${Documents.dedupLshPairsSql}
       |  ) WHERE substring(md5(CAST(doc_a AS VARCHAR) || '_'
       |          || CAST(doc_b AS VARCHAR)), 1, 2) = '00'),
       |toks AS (SELECT doc_id, $toksSql AS ws FROM documents),
       |shingled AS (
       |  SELECT DISTINCT doc_id,
       |    ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
       |  FROM toks, UNNEST(range(1, len(ws) - 1)) AS t(i)),
       |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh
       |          FROM shingled GROUP BY doc_id),
       |inter AS (
       |  SELECT p.doc_a, p.doc_b, CAST(COUNT(*) AS BIGINT) AS n_inter
       |  FROM pairs p
       |  JOIN shingled sa ON sa.doc_id = p.doc_a
       |  JOIN shingled sb ON sb.doc_id = p.doc_b AND sb.sh = sa.sh
       |  GROUP BY p.doc_a, p.doc_b),
       |j AS (
       |  SELECT COALESCE(i.n_inter, 0) AS ni,
       |    COALESCE(za.n_sh, 0) + COALESCE(zb.n_sh, 0)
       |      - COALESCE(i.n_inter, 0) AS denom
       |  FROM pairs p
       |  LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
       |  LEFT JOIN sizes za ON za.doc_id = p.doc_a
       |  LEFT JOIN sizes zb ON zb.doc_id = p.doc_b),
       |perm AS (
       |  SELECT CASE WHEN denom > 0
       |    THEN CAST((1000 * ni) // denom AS BIGINT)
       |    ELSE CAST(0 AS BIGINT) END AS permille FROM j)
       |SELECT CAST(permille // 100 AS INT) AS bucket,
       |  COUNT(*) AS n_pairs,
       |  MIN(permille) AS min_permille, MAX(permille) AS max_permille
       |FROM perm GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------- LSH recall audit
  /** The other half of the banding audit: `dedup_lsh_precision`
    * measures how much of what LSH emits is real; THIS measures how
    * much of what is real LSH emits. Ground truth cannot come from
    * LSH itself, so it is built by exact shingle-Jaccard over an
    * ADAPTIVE md5 DOC sample (~192 docs at any corpus size — the
    * pair_distance_hist modulus device, salted 'lshr|'): every
    * same-shingle pair within the sample gets an exact J, pairs at
    * J ≥ {0.5, 0.7, 0.85, 0.95} form the truth sets, and a left
    * join against the full candidate table yields recall per
    * threshold — the number that catches band parameters TOO TIGHT
    * (precision's blind side; missing high-J mass is unrecoverable
    * corpus duplication downstream).
    *
    * Scale shape: the truth join is the declared capped brute force
    * on the ~192-doc sample (≤ sample² pair work regardless of
    * corpus size); the candidate join is the usual banded table.
    * Pairs with no shared shingle have J = 0 and cannot enter any
    * truth set, so the shingle equi-join discovers the truth set
    * exactly. */
  def lshRecall(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val m = docs.agg(greatest(lit(2L), expr("COUNT(*) DIV 192")).as("m"))
      .select(col("m"), least(col("m"), lit(65536L)).as("m1"),
        expr("(m + 65535) DIV 65536").as("m2"))
    val hex = md5(concat(lit("lshr|"), col("doc_id").cast("string")))
    val sample = graft.operators.Materialize.eager(
      docs.crossJoin(broadcast(m))
        .filter(
          conv(substring(hex, 1, 4), 16, 10).cast("long") % col("m1") === 0 &&
          conv(substring(hex, 5, 4), 16, 10).cast("long") % col("m2") === 0)
        .select(col("doc_id"), col("text")))
    val nSample = sample.agg(count(lit(1)).as("n_sample_docs"))
    val shingled = graft.operators.Materialize.eager(
      sample.select(col("doc_id"),
          explode(Documents.shingles3(col("text"))).as("sh0"))
        .select(col("doc_id"), xxhash64(col("sh0")).as("sh")).distinct())
    val sizes = shingled.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val a2 = shingled.select(col("doc_id").as("doc_a"), col("sh"))
    val b2 = shingled.select(col("doc_id").as("doc_b"), col("sh"))
    val inter = a2.join(b2, "sh").filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("ni"))
    // candidates AMONG the sample only: per-doc signatures make this
    // exactly the full table's sample×sample restriction (the oracle
    // computes the full table and restricts — every green run proves
    // the equivalence) at sample cost instead of Σ bucket² corpus
    // cost (A/B at 10×: 60 s full-table → sample-restricted linear)
    val cand = Documents.lshCandidatePairsAmong(sample)
      .select(col("doc_a"), col("doc_b")).withColumn("hit", lit(1L))
    val jac = inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("na")),
        "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("nb")),
        "doc_b")
      .withColumn("permille", expr("(1000 * ni) DIV (na + nb - ni)"))
      .join(cand, Seq("doc_a", "doc_b"), "left")
      .select(col("permille"), coalesce(col("hit"), lit(0L)).as("hit"))
    val jm = graft.operators.Materialize.eager(jac)
    val rows = Seq(500, 700, 850, 950).map { t =>
      jm.filter(col("permille") >= t)
        .agg(coalesce(count(lit(1)), lit(0L)).as("n_true_pairs"),
          coalesce(sum(col("hit")), lit(0L)).as("n_hit"))
        .withColumn("threshold_pm", lit(t.toLong))
    }
    rows.reduce(_ unionByName _)
      .crossJoin(broadcast(nSample))
      .withColumn("recall_permille", expr(
        "CASE WHEN n_true_pairs > 0 THEN n_hit * 1000 DIV n_true_pairs " +
          "ELSE CAST(0 AS BIGINT) END"))
      .select(col("threshold_pm"), col("n_sample_docs"),
        col("n_true_pairs"), col("n_hit"), col("recall_permille"))
      .orderBy(col("threshold_pm"))
  }

  val lshRecallSql: String = {
    def hx(lo: Int): String =
      s"('0x' || substr(md5('lshr|' || CAST(doc_id AS VARCHAR)), $lo, 4))::INT"
    val rows = Seq(500, 700, 850, 950).map { t =>
      s"""SELECT CAST($t AS BIGINT) AS threshold_pm,
         |  (SELECT n_sample_docs FROM ns) AS n_sample_docs,
         |  CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
         |  CAST(COALESCE(SUM(hit), 0) AS BIGINT) AS n_hit,
         |  CASE WHEN COUNT(*) > 0
         |    THEN CAST(COALESCE(SUM(hit), 0) AS BIGINT) * 1000 // COUNT(*)
         |    ELSE CAST(0 AS BIGINT) END AS recall_permille
         |FROM jac WHERE permille >= $t""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH mm AS (
       |  SELECT m, LEAST(m, 65536) AS m1, (m + 65535) // 65536 AS m2
       |  FROM (SELECT GREATEST(2, COUNT(*) // 192) AS m FROM documents)),
       |sample AS (
       |  SELECT doc_id, text FROM documents, mm
       |  WHERE ${hx(1)} % m1 = 0 AND ${hx(5)} % m2 = 0),
       |ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sample_docs FROM sample),
       |toks AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(text, '[^\\p{L}]+'), w -> w <> '')
       |      AS ws
       |  FROM sample),
       |shingled AS (
       |  SELECT DISTINCT doc_id,
       |    ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
       |  FROM toks, UNNEST(range(1, len(ws) - 1)) AS t(i)),
       |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh
       |          FROM shingled GROUP BY doc_id),
       |inter AS (
       |  SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b,
       |    CAST(COUNT(*) AS BIGINT) AS ni
       |  FROM shingled sa JOIN shingled sb
       |    ON sa.sh = sb.sh AND sa.doc_id < sb.doc_id
       |  GROUP BY 1, 2),
       |cand AS (
       |  SELECT doc_a, doc_b, 1 AS hit FROM (
       |${Documents.dedupLshPairsSql}
       |  )),
       |jac AS (
       |  SELECT (1000 * i.ni) // (za.n_sh + zb.n_sh - i.ni) AS permille,
       |    COALESCE(c.hit, 0) AS hit
       |  FROM inter i
       |  JOIN sizes za ON za.doc_id = i.doc_a
       |  JOIN sizes zb ON zb.doc_id = i.doc_b
       |  LEFT JOIN cand c ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b)
       |$rows
       |ORDER BY threshold_pm""".stripMargin
  }

  // ---------------------------------------------- winnowing pairs
  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken's
    * MOSS local fingerprinting): hash every token 3-gram, slide a
    * 4-gram window over the hash sequence, keep each window's MIN
    * hash — the selected fingerprints are GUARANTEED to include a
    * shared fingerprint for any copied run of ≥ 6 tokens (w+k-1),
    * with far fewer fingerprints than grams. Candidate pairs are
    * docs sharing ≥ 3 selected fingerprints. The local-fingerprint
    * complement to minhash-LSH: LSH finds whole-document near-dups,
    * winnowing finds localized copies at fingerprint (not full
    * gram-table) cost.
    *
    * Scale shape: gram hashing is one explode (linear); window-min is
    * a per-doc window (doc_id = parallel unit, bounded by doc
    * length); the pair join is fingerprint-keyed equi. A fingerprint
    * shared by MORE THAN 64 docs is boilerplate (MOSS's standard
    * stop-fingerprint rule) and is dropped BEFORE the join — that
    * caps the join's Σ bucket² at 64²/fingerprint no matter how
    * template-heavy the corpus (this synthetic corpus is ~60%
    * near-dup: un-capped, a hot boilerplate fingerprint alone would
    * emit millions of pairs). Singleton fingerprints can't pair and
    * are pruned by the same aggregate. All md5-lexicographic, no
    * floats. */
  def winnowingPairs(s: SparkSession, d: String): DataFrame = {
    // positional grams: the 1-based pos is an order-isomorphic
    // relabeling of the 0-based posexplode index, and the window below
    // consumes only the ORDER, so fingerprints (and the output pairs)
    // are the same either way
    val grams = Documents.shingles3Pos(s, d)
      .select(col("doc_id"), col("pos").as("p"), md5(col("g")).as("h"))
    val wWin = Window.partitionBy(col("doc_id")).orderBy(col("p"))
      .rowsBetween(Window.currentRow, 3)
    val fpsAll = grams
      .withColumn("fp", min(col("h")).over(wWin))
      .withColumn("wn", count(col("h")).over(wWin))
      .filter(col("wn") === 4) // full windows only (winnowing def.)
      .select(col("doc_id"), col("fp")).distinct()
    val rare = fpsAll.groupBy(col("fp"))
      .agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2 && col("nd") <= 64)
      .select(col("fp"))
    val fps = fpsAll.join(rare, "fp")
    fps.as("a").join(fps.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 3)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val winnowingPairsSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, $toksSql AS ws FROM documents),
       |grams AS (
       |  SELECT doc_id, CAST(i AS INT) AS pos,
       |    md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS h
       |  FROM toks, UNNEST(range(1, len(ws) - 1)) AS t(i)),
       |wins AS (
       |  SELECT doc_id,
       |    MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
       |    COUNT(h) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wn
       |  FROM grams),
       |fps_all AS (
       |  SELECT DISTINCT doc_id, fp FROM wins WHERE wn = 4),
       |rare AS (
       |  SELECT fp FROM fps_all GROUP BY fp
       |  HAVING COUNT(*) BETWEEN 2 AND 64),
       |fps AS (
       |  SELECT f.doc_id, f.fp FROM fps_all f JOIN rare USING (fp))
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  COUNT(*) AS n_shared
       |FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING COUNT(*) >= 3
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------- boilerplate shingles
  /** Per-source BOILERPLATE detection: a word 4-gram appearing
    * verbatim in ≥ 2 distinct documents of the SAME source is a
    * boilerplate candidate (headers, footers, licence blocks,
    * navigation chrome — the text a crawler re-ingests with every
    * page of a site). Reported per source: boilerplate shingle
    * count, the worst shingle's document count, affected documents,
    * and affected share in permille — the "which provider needs a
    * boilerplate strip pass" ledger that precedes span-level removal
    * (text_duplicate_spans locates the spans; this ranks sources).
    *
    * Source-scoped on purpose: cross-SOURCE repetition is the dedup
    * tier's business; boilerplate is a per-provider template
    * artifact, and scoping the gram key to (source, shingle) keeps
    * every aggregation's hash key bounded by one provider's
    * vocabulary.
    *
    * Scale shape: one explode (linear in tokens), two hash-aggs
    * keyed on (source, shingle) with map-side combine, one
    * gram-keyed equi-join for affected docs — never doc × doc; the
    * per-source rollup is |sources| rows. */
  def boilerplateShingles(s: SparkSession, d: String): DataFrame = {
    val t = documents(s, d).select(col("doc_id"), col("source"),
      toks(col("text")).as("ws"))
    val sh = graft.operators.Materialize.eager(
      t.select(col("doc_id"), col("source"),
        explode(expr(
          """CASE WHEN size(ws) >= 4
            |THEN transform(sequence(1, size(ws) - 3),
            |       i -> array_join(slice(ws, i, 4), ' '))
            |ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin))
          .as("sh")).distinct())
    val bp = graft.operators.Materialize.eager(
      sh.groupBy(col("source"), col("sh"))
        .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= 2))
    val perSrcBp = bp.groupBy(col("source"))
      .agg(count(lit(1)).as("n_shingles"), max(col("cnt")).as("max_cnt"))
    val aff = sh.join(bp.select(col("source"), col("sh")), Seq("source", "sh"))
      .select(col("source"), col("doc_id")).distinct()
      .groupBy(col("source")).agg(count(lit(1)).as("n_affected"))
    documents(s, d).groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .join(perSrcBp, Seq("source"), "left")
      .join(aff, Seq("source"), "left")
      .na.fill(0L, Seq("n_shingles", "max_cnt", "n_affected"))
      .withColumn("affected_pm", expr("n_affected * 1000 DIV n_docs"))
      .orderBy(col("source"))
  }

  val boilerplateShinglesSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, source, $toksSql AS ws FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, source,
       |    array_to_string(ws[i:i+3], ' ') AS sh
       |  FROM t, UNNEST(range(1, len(ws) - 2)) AS u(i)
       |  WHERE len(ws) >= 4),
       |bp AS (
       |  SELECT source, sh, COUNT(*) AS cnt FROM sh
       |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
       |per_src AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_shingles,
       |    CAST(MAX(cnt) AS BIGINT) AS max_cnt
       |  FROM bp GROUP BY 1),
       |aff AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_affected FROM (
       |    SELECT DISTINCT s.source, s.doc_id FROM sh s
       |    JOIN bp b ON b.source = s.source AND b.sh = s.sh) t
       |  GROUP BY 1),
       |src AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
       |  FROM documents GROUP BY 1)
       |SELECT src.source, src.n_docs,
       |  COALESCE(p.n_shingles, 0) AS n_shingles,
       |  COALESCE(p.max_cnt, 0) AS max_cnt,
       |  COALESCE(a.n_affected, 0) AS n_affected,
       |  COALESCE(a.n_affected, 0) * 1000 // src.n_docs AS affected_pm
       |FROM src
       |LEFT JOIN per_src p ON p.source = src.source
       |LEFT JOIN aff a ON a.source = src.source
       |ORDER BY src.source""".stripMargin

  // ------------------------------------------ curriculum ordering
  /** Curriculum phase assignment — the training-order half of corpus
    * assembly: documents ranked by a cheap fluency score (stopword
    * permille — the textQuality axis), split into 4 exact quartile
    * phases (cleanest first), with per-(phase, source) doc and token
    * budgets. This is the table a curriculum-training run consumes:
    * phase 1 feeds the warm-up epochs, the tail phases arrive later;
    * the per-source budgets show whether any phase is dominated by
    * one source (the mixing failure curriculum schedules introduce).
    *
    * Scale shape: the NTILE is the round-10 GlobalRank device —
    * range-partition + zipWithIndex exact rank + arithmetic NTILE, no
    * single-task global window anywhere (at 10⁹ docs the window form
    * IS the job); one linear score projection, one rank pass, one
    * grid agg. Bucket-identical to the window NTILE, so the oracle's
    * window form hashes equal. */
  def curriculumOrder(s: SparkSession, d: String): DataFrame = {
    import graft.operators.GlobalRank
    val toks = Documents.tokens(col("text"))
    val scored = documents(s, d).select(col("doc_id"), col("source"),
        size(toks).cast("long").as("n_tok"),
        size(org.apache.spark.sql.functions.filter(toks,
          t => t.isin("the", "a", "of", "and", "to"))).cast("long")
          .as("n_stop"))
      .withColumn("score_pm",
        expr("n_stop * 1000 DIV GREATEST(n_tok, 1)"))
    val ranked = GlobalRank.withRowNumber(scored,
      Seq(col("score_pm").desc, col("doc_id")), "rk")
    val n = ranked.agg(count(lit(1)).as("n_docs_total"))
    ranked.crossJoin(broadcast(n))
      .withColumn("phase",
        GlobalRank.ntileFromRank("rk", "n_docs_total", 4))
      .groupBy(col("phase"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("phase_tokens"),
        min(col("score_pm")).as("min_score_pm"),
        max(col("score_pm")).as("max_score_pm"))
      .orderBy(col("phase"), col("source"))
  }

  val curriculumOrderSql: String =
    s"""WITH scored AS (
       |  SELECT doc_id, source,
       |    CAST(len($toksSql) AS BIGINT) AS n_tok,
       |    CAST(len(list_filter($toksSql,
       |      w -> w IN ('the','a','of','and','to'))) AS BIGINT) AS n_stop
       |  FROM documents),
       |sp AS (
       |  SELECT doc_id, source, n_tok,
       |    n_stop * 1000 // GREATEST(n_tok, 1) AS score_pm
       |  FROM scored),
       |phased AS (
       |  SELECT source, n_tok, score_pm,
       |    CAST(NTILE(4) OVER (ORDER BY score_pm DESC, doc_id)
       |      AS BIGINT) AS phase
       |  FROM sp)
       |SELECT phase, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_tok) AS BIGINT) AS phase_tokens,
       |  MIN(score_pm) AS min_score_pm,
       |  MAX(score_pm) AS max_score_pm
       |FROM phased GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val queries: Map[String, Query] = Map(
    "corpus_curriculum_order" -> Query(curriculumOrder, curriculumOrderSql),
    "doc_boilerplate_shingles" -> Query(boilerplateShingles, boilerplateShinglesSql),
    "text_winnowing_pairs" -> Query(winnowingPairs, winnowingPairsSql),
    "doc_source_overlap" -> Query(sourceOverlap, sourceOverlapSql),
    "text_duplicate_spans" -> Query(duplicateSpans, duplicateSpansSql),
    "doc_cdc_chunks" -> Query(cdcChunks, cdcChunksSql),
    "doc_importance_score" -> Query(importanceScore, importanceScoreSql),
    "doc_quality_deciles" -> Query(qualityDeciles, qualityDecilesSql),
    "dedup_lsh_precision" -> Query(lshPrecision, lshPrecisionSql),
    "dedup_lsh_recall" -> Query(lshRecall, lshRecallSql))
}
