package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.Query

/** Document/text workloads: the reference's text apps re-expressed over
  * the `documents` table, plus the LLM-training-pipeline tier (dedup,
  * text analysis, fingerprinting).
  *
  * Reference analogs:
  *  - word count:      /root/reference/mr-main/mrapps/wc.go:21-42
  *  - inverted index:  /root/reference/mr-main/mrapps/indexer.go:21-40
  *  - metadata agg:    /root/reference/mr-main/mrapps/crash.go:36-57
  *
  * Scale notes: every query here is a single scan + shuffle-on-key —
  * no driver-side collects, no cross joins except LSH-bucketed
  * candidate generation (bounded by band-bucket size, not n²).
  */
object Documents {

  /** Tokenize on runs of non-letters — the reference tokenizer
    * (unicode.IsLetter complement ≈ \p{L}, wc.go:23-26), case-sensitive.
    * THE tokenizer of the corpus tier: shared by every query that
    * splits text (shingles, BM25/TF-IDF, repetition, chunking) so a
    * definition tweak can never fork the surface. The native kernels
    * (`simhash64`, `minhash`) walk the same letter runs in
    * `functions.TextKernel.foreachToken`; MinHashSpec pins the two equal. */
  private[graft] def tokens(c: Column): Column =
    filter(split(c, "[^\\p{L}]+"), t => length(t) > 0)

  private val tokensSql =
    "(SELECT UNNEST(string_split_regex(text, '[^\\p{L}]+')) AS word FROM documents)"

  // ------------------------------------------------------------ wc
  /** Word count: flatMap-tokenize -> groupBy(word).count.
    * The canonical MapReduce job (wc.go) as one Catalyst-optimized agg. */
  def wordCount(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("word"))

  val wordCountSql: String =
    s"""SELECT word, COUNT(*) AS n FROM $tokensSql t
       |WHERE word <> '' GROUP BY word ORDER BY word""".stripMargin

  // ------------------------------------------------- inverted index
  /** Inverted index: distinct (word, doc) -> per-word doc count + sorted
    * comma-joined doc list (indexer.go:37-40 output shape). */
  def invertedIndex(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .distinct()
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n_docs"),
        concat_ws(",",
          transform(sort_array(collect_set(col("doc_id"))), _.cast("string")))
          .as("docs"))
      .orderBy(col("word"))

  val invertedIndexSql: String =
    """SELECT word, COUNT(*) AS n_docs,
      |  STRING_AGG(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS docs
      |FROM (SELECT DISTINCT doc_id,
      |        UNNEST(string_split_regex(text, '[^\p{L}]+')) AS word
      |      FROM documents) t
      |WHERE word <> ''
      |GROUP BY word ORDER BY word""".stripMargin

  // ------------------------------------------- filter + group count
  /** The credit.go query shape (filter on two predicates, group, count)
    * over the docs table: long docs per language/source. */
  def filterGroupCount(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .filter(col("lang") === "en" && col("n_chars") > 200)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("source"))

  val filterGroupCountSql: String =
    """SELECT source, COUNT(*) AS n FROM documents
      |WHERE lang = 'en' AND n_chars > 200
      |GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------- metadata agg
  /** crash.go/nocrash.go shape: per-group sorted space-joined value agg. */
  def metadataAgg(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        concat_ws(" ",
          transform(sort_array(collect_list(col("doc_id"))), _.cast("string")))
          .as("doc_ids"))
      .orderBy(col("lang"))

  val metadataAggSql: String =
    """SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  STRING_AGG(CAST(doc_id AS VARCHAR), ' ' ORDER BY doc_id) AS doc_ids
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------- dedup: exact
  /** Exact dedup via content hash: one representative per distinct text,
    * plus the duplicate count. At 100 TB this is the standard
    * hash-groupBy pass (shuffle on md5, no driver state). */
  def dedupExact(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_id"))

  val dedupExactSql: String =
    """SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id,
      |  COUNT(*) AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin

  // ------------------------------------------- dedup: growth curve
  /** Duplicate-rate growth curve: exact-dedup rate measured on nested
    * random prefixes of the corpus (1/8 → 1/4 → 1/2 → full), the
    * planning curve that answers "does deduplication get MORE
    * important as the corpus grows?". Cross-cutting duplicates (the
    * same boilerplate landing in every crawl slice) make dup_permille
    * RISE with corpus fraction — the signal that a 100 TB dedup pass
    * will remove far more than the small-sample estimate suggests;
    * a flat curve means duplication is local and the rate projects
    * directly. The nesting (each level a superset of the last) is the
    * md5-ladder device used across the dedup tier, so levels are
    * comparable the way a real growth experiment would be.
    *
    * Scale shape: one md5 digest per doc, a ≤4-way level fan-out
    * whose total row weight is 1/8+1/4+1/2+1 = 1.875× the corpus,
    * one (level, hash) hash-agg with map-side combine, and a 4-row
    * re-agg. No joins, nothing quadratic — the same single-pass
    * discipline as dedup_exact. */
  def dedupGrowthCurve(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(md5(col("text")).as("th"),
        expr("CAST(CONV(SUBSTRING(MD5(CAST(doc_id AS STRING)), 1, 2), 16, 10) AS INT)")
          .as("b"))
      .select(col("th"), explode(expr(
        "filter(array(1, 2, 3, 4), l -> b < element_at(array(32, 64, 128, 256), l))"))
        .as("level"))
      .groupBy(col("level"), col("th"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("level"))
      .agg(sum(col("cnt")).as("n_docs"),
        count(lit(1)).as("n_distinct_texts"),
        sum(col("cnt") - 1).as("n_dup_docs"))
      .withColumn("dup_permille",
        expr("n_dup_docs * 1000 DIV n_docs"))
      .orderBy(col("level"))

  val dedupGrowthCurveSql: String =
    """WITH h AS (
      |  SELECT md5(text) AS th,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::INT AS b
      |  FROM documents),
      |lv AS (
      |  SELECT th, UNNEST(list_filter([1, 2, 3, 4],
      |    l -> b < [32, 64, 128, 256][l])) AS level
      |  FROM h),
      |g AS (
      |  SELECT level, th, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM lv GROUP BY 1, 2)
      |SELECT level, CAST(SUM(cnt) AS BIGINT) AS n_docs,
      |  CAST(COUNT(*) AS BIGINT) AS n_distinct_texts,
      |  CAST(SUM(cnt - 1) AS BIGINT) AS n_dup_docs,
      |  CAST(SUM(cnt - 1) AS BIGINT) * 1000 // CAST(SUM(cnt) AS BIGINT)
      |    AS dup_permille
      |FROM g GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------ dedup: minhash
  /** MinHash signature per doc, portable across engines: hash_j(w) =
    * md5(j||'|'||w) (hex string); minhash_j = MIN over distinct tokens.
    * Lexicographic min over md5 hex is a uniform random permutation min,
    * so P(minhash_a == minhash_b) = Jaccard(a, b) per standard MinHash
    * (Broder '97). 4 signatures here; LSH banding in dedupLshPairs. */
  private[graft] val NSIG = 4

  /** (doc_id, b0, b1) with the md5-concat STRING band keys
    * ('b0_'||mh0||'_'||mh1, 'b1_'||mh2||'_'||mh3) — the band values
    * the oracles group on. Built over [[signaturesOf]], so the batch
    * tier and streaming.DocStreams band arriving docs with one kernel. */
  private[graft] def bandedSignatureProjection(docs: DataFrame): DataFrame =
    signaturesOf(docs).select(col("doc_id"),
      concat(lit("b0_"), col("mh0"), lit("_"), col("mh1")).as("b0"),
      concat(lit("b1_"), col("mh2"), lit("_"), col("mh3")).as("b1"))

  /** `dedup_minhash_sig`: [[signaturesOf]] the `documents` table, in
    * doc_id order (the oracle-facing sort). */
  def minhashSignatures(s: SparkSession, d: String): DataFrame =
    signaturesOf(documents(s, d)).orderBy(col("doc_id"))

  /** Unsorted (doc_id, mh0..mh{NSIG-1}) MinHash signatures of a
    * (doc_id, text) frame — the one signature construction behind
    * every MinHash query, the LSH pair join and the streaming band
    * join. A pure per-doc projection of the native `minhash`
    * expression (codegen'd; no explode, no aggregate, no shuffle), so
    * it also runs on a stream. Token-less docs have no signature and
    * no row: they are dropped by a letter test on the text, where
    * `minhash` is NULL — a filter on the signature column itself would
    * be pushed below the projection and compute every signature twice. */
  private[graft] def signaturesOf(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.registerAll(docs.sparkSession)
    docs.filter(hasLetter)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.minhash(col("text"), NSIG).as("mh"))
      .select(col("doc_id") +:
        (0 until NSIG).map(j => col("mh").getItem(j).as(s"mh$j")): _*)
  }

  /** Whether a doc's text has a letter, i.e. a token: NULL for NULL text. */
  private val hasLetter: Column = col("text").rlike("\\p{L}")

  /** (doc_id, b0, b1): two bands of two signatures each, keyed by a
    * 64-bit hash — the one banding behind every LSH pair join. */
  private def bandsOf(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"),
      xxhash64(lit("b0"), col("mh0"), col("mh1")).as("b0"),
      xxhash64(lit("b1"), col("mh2"), col("mh3")).as("b1"))

  val minhashSignaturesSql: String = {
    val aggs = (0 until NSIG)
      .map(j => s"MIN(md5('$j' || '|' || word)) AS mh$j").mkString(",\n  ")
    s"""SELECT doc_id, $aggs
       |FROM (SELECT DISTINCT doc_id,
       |        UNNEST(string_split_regex(text, '[^\\p{L}]+')) AS word
       |      FROM documents) t
       |WHERE word <> ''
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** LSH candidate pairs: docs sharing any minhash band (2 sigs/band).
    * Self-join is band-bucketed — cost is sum of bucket² per band, not
    * n²; at scale the band column is the shuffle key. Unsorted — the
    * form downstream consumers build on; dedupLshPairs adds only the
    * oracle-facing global sort, which is pure waste for a consumer
    * that re-aggregates. Lazy: a query that reads the pairs more than
    * once, or sizes a plan from them, materializes them itself. */
  private[queries] def lshCandidatePairs(s: SparkSession, d: String): DataFrame =
    lshCandidatePairsOfBands(bandedSigs(documents(s, d)))

  /** The pair join over a banded signature table (doc_id, b0, b1). The
    * band keys are 64-bit hashes (8 bytes shuffled instead of a
    * 68-char string; same pairs modulo 2^-64 collisions). Two disjoint
    * joins — band-0 matches, then band-1-only matches (band-0 differs)
    * — produce each pair exactly once, so no 10 M-row distinct
    * shuffle (was ~5 s of the query at sf0.1). */
  private def lshCandidatePairsOfBands(bands: DataFrame): DataFrame = {
    val s = bands.sparkSession
    // materialize the (tiny: one row per doc, 3 longs) signature table
    // so the two joins × two sides don't re-run the tokenize+minhash
    // agg (cold A/B at sf0.1: 2.3 s materialized vs 5.9 s not). When
    // `bands` is already materialized this is a repartition of the
    // stored blocks — a tiny shuffle, not a recompute.
    // The explicit repartition matters: AQE coalesces the materialized
    // signature shuffle by its INPUT bytes (tiny) — but this join's
    // OUTPUT is sum-of-bucket² pairs, so 2 coalesced partitions would
    // serialize the expansion on 2 tasks (measured 4.4 s vs 1.9 s at
    // sf0.1). Parallelism here must be sized to output work.
    val sig2 = graft.operators.Materialize.eager(
      bands.repartition(s.sparkContext.defaultParallelism))
    // The OUTPUT layout needs the same discipline as the input: AQE
    // sizes the join's result partitions by its (tiny) shuffle
    // input, so past ~10× the pair table lands in a handful of
    // multi-GiB partitions. The round-10 no-distinct rewrite
    // silently removed the shuffle that used to re-spread it, and
    // dedup_lsh_pairs' global sort inherited the giant partitions —
    // it measured 41.8 s at 10× (24.8× its 1× time)
    // vs 30.7 s with this spread restored; the 1×-to-10× A/B also
    // rejected `hint("rebalance")` (43.9 s at 10× — AQE's
    // rebalance did not split the expansion output here).
    // HASH repartition on the (unique) pair key, not round-robin
    // (r13, guide §2.5 note): a keyless repartition(n) first pays a
    // LOCAL SORT of its whole input (sortBeforeRepartition, on by
    // default so retried tasks reproduce the same placement) —
    // DedupProbe measured that sort at ~2.9 s of the pair build's
    // 4.4 s warm. Hashing the unique (doc_a, doc_b) key needs no
    // sort (deterministic per row), spreads exactly as uniformly
    // (keys are distinct, 4n·~60k buckets), and keeps the explicit
    // partition count AQE cannot coalesce — the 10× scale-safety
    // property the round-10 regression taught. Row placement is the
    // only change; every consumer aggregates or re-sorts.
    lshCandidatePairsFromSig(sig2)
      .repartition(4 * s.sparkContext.defaultParallelism,
        col("doc_a"), col("doc_b"))
  }

  /** (doc_id, b0, b1) banded signature projection of a documents
    * frame — the root of the pair join AND the cluster contraction.
    * Unsorted and lazy: callers decide materialization, so a composite
    * query (clusterDensity, leakageSafeSplit) materializes it once and
    * computes the minhash scan ONCE for both subtrees. */
  private def bandedSigs(docs: DataFrame): DataFrame =
    bandsOf(signaturesOf(docs))

  /** Distinct (doc_id, word) token table — the root scan of the LSH
    * tuning family (band sweep, threshold sweep) and the corpus
    * build's confirm stage. O(Σ distinct tokens) rows. */
  private[queries] def tokDistinct(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .distinct()

  /** POSITIONAL 3-gram table (doc_id, n, pos, g) — n = the doc's token
    * count, pos 1-based. text_duplicate_spans, text_dedup_span_rewrite
    * and text_winnowing_pairs posexplode this same shingle stream.
    * Distinct from [[shingledHashed]], which is position-free +
    * distinct. */
  private[queries] def shingles3Pos(s: SparkSession, d: String): DataFrame = {
    // two-step construction is load-bearing: computing n in the
    // SAME select as the posexplode measured 3-4× slower (the token
    // count lands above the Generate and re-evaluates per exploded
    // row — SpanProbe A/B, OPTIMIZATION_r12.md wave 6); the
    // withColumn form pins n below the Generate, once per doc
    val base = documents(s, d)
      .select(col("doc_id"), col("text"))
      .withColumn("n", size(tokens(col("text"))))
    base.select(col("doc_id"), col("n"),
        posexplode(shingles3(col("text"))).as(Seq("p", "g")))
      .withColumn("pos", (col("p") + 1).cast("int"))
      .select(col("doc_id"), col("n"), col("pos"), col("g"))
  }

  /** Duplicated-gram key set over a [[shingles3Pos]] table: grams
    * appearing in MORE THAN ONE distinct doc ("min ≠ max", the cheap
    * form) — LAZY on purpose: each consumer uses it exactly once, so
    * the agg fuses into that consumer's job; a materialized variant
    * was A/B'd and REJECTED (the extra materialization cost more than
    * the one cheap agg it saved — OPTIMIZATION_r12.md wave 6). */
  private[queries] def dupGrams3(grams: DataFrame): DataFrame =
    grams.groupBy(col("g"))
      .agg(min(col("doc_id")).as("d0"), max(col("doc_id")).as("d1"))
      .filter(col("d0") =!= col("d1")).select(col("g"))

  /** Hashed 3-gram shingle table (doc_id, source, sh), distinct.
    * source is functionally dependent on doc_id, so a (doc_id, sh)
    * projection is distinct too — one table serves the same-source
    * pair metrics (ngram Jaccard/containment) AND the LSH precision
    * audit. */
  private[queries] def shingledHashed(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(col("doc_id"), col("source"),
        explode(shingles3(col("text"))).as("sh0"))
      .select(col("doc_id"), col("source"), xxhash64(col("sh0")).as("sh"))
      .distinct()

  /** Banded candidate pairs restricted to a caller-supplied
    * (doc_id, text) frame: a doc's minhash signature depends only on
    * its own tokens, so the candidate pairs among a sample equal the
    * FULL table's restriction to sample×sample — at sample cost, not
    * corpus cost. This is dedup_lsh_recall's scale path (its oracle
    * intentionally computes the full table and restricts, proving the
    * equivalence on every run). */
  // public: the graft.api.Dedup.candidatePairs library entry point
  def lshCandidatePairsAmong(docs: DataFrame): DataFrame = {
    val sig = bandedSigs(docs)
    // same parallelism discipline as [[lshCandidatePairsOfBands]]: the band
    // join's OUTPUT is sum-of-bucket² pairs, so an AQE-coalesced
    // 2-partition signature table would serialize the expansion
    lshCandidatePairsFromSig(graft.operators.Materialize.eager(
      sig.repartition(docs.sparkSession.sparkContext.defaultParallelism)))
  }

  /** Pair join over a caller-materialized banded signature table (must
    * already be repartitioned to output-work parallelism — see the
    * AQE-coalescing note in [[lshCandidatePairsOfBands]]). */
  private def lshCandidatePairsFromSig(sig2: DataFrame): DataFrame = {
    val a = sig2.as("a"); val b = sig2.as("b")
    val onB0 = a.join(b, col("a.b0") === col("b.b0") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val onB1Only = a.join(b, col("a.b1") === col("b.b1") &&
        col("a.b0") =!= col("b.b0") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    onB0.union(onB1Only)
  }

  def dedupLshPairs(s: SparkSession, d: String): DataFrame =
    lshCandidatePairs(s, d).orderBy(col("doc_a"), col("doc_b"))

  val dedupLshPairsSql: String = {
    val sig = minhashSignaturesSql.replace("ORDER BY doc_id", "")
    s"""WITH sig AS ($sig),
       |banded AS (
       |  SELECT doc_id, 'b0_' || mh0 || '_' || mh1 AS band FROM sig
       |  UNION ALL
       |  SELECT doc_id, 'b1_' || mh2 || '_' || mh3 AS band FROM sig)
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |FROM banded a JOIN banded b
       |  ON a.band = b.band AND a.doc_id < b.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Dedup clustering: connected components over the MinHash-LSH pair
    * graph — every doc labeled with its component's min doc_id (the
    * keep/drop decision). Spark side: iterative min-label propagation
    * (operators.ConnectedComponents); oracle: recursive-CTE transitive
    * closure + MIN. */
  def dedupClusters(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    dedupClustersFromSig(docs,
      graft.operators.Materialize.eager(bandedSigs(docs)))
      .orderBy(col("doc_id"))
  }

  /** Cluster labels of `docs` over its caller-materialized banded
    * signature table — unsorted (the oracle-facing sort lives in
    * [[dedupClusters]]; composite consumers re-aggregate and a sort
    * would be waste). The caller passes the documents frame it banded,
    * so a query reads the table once. Hubs are per-band window
    * minimums, and each doc's label is one join on its band-0 hub. */
  private def dedupClustersFromSig(docs: DataFrame, sig2: DataFrame)
      : DataFrame = {
    // Contract the graph before CC, twice over:
    // 1. docs sharing a band value form a clique ≡ a star to its min
    //    member (the hub) — O(n) edges instead of O(n²) pairs
    //    (38 s -> ~3 s at sf0.1 on this near-degenerate graph);
    // 2. iterate CC over the HUB graph only (hubs h0—h1 linked when a
    //    doc carries both): every component's min doc is provably a
    //    hub (the min belongs to some band whose hub ≤ it and is in
    //    the same component), so doc labels follow with one join:
    //    component(doc) = comp(h0) (below). The iterative
    //    working set shrinks from every doc to the distinct band
    //    values (5× here; at 100 TB the ratio is the mean cluster
    //    size). Cold A/B at sf0.1: 5.6 s vs 6.1 s, identical rows.
    // Materialize.eager: the hub table has several consumers (policy +
    // executor-loss trade-off documented in operators.Materialize)
    import org.apache.spark.sql.expressions.Window
    val withHubs = graft.operators.Materialize.eager(sig2
      .withColumn("h0", min(col("doc_id")).over(Window.partitionBy("b0")))
      .withColumn("h1", min(col("doc_id")).over(Window.partitionBy("b1"))))
    // no distinct here: CC's own init and symmetrizing distincts cover it
    val hubNodes = withHubs.select(col("h0").as("id"))
      .union(withHubs.select(col("h1").as("id")))
    val hubEdges = withHubs.filter(col("h0") =!= col("h1"))
      .select(col("h0").as("src"), col("h1").as("dst"))
    val hubCC = graft.operators.Materialize.hintSmall(graft.operators
      .ConnectedComponents.run(docs.sparkSession, hubNodes, hubEdges))
    // a doc with h0 ≠ h1 put the edge h0—h1 into the hub graph, so
    // least(comp(h0), comp(h1)) == comp(h0): one label join per doc.
    // Docs with no tokens never enter sig2: they are their own cluster
    // (the exact complement of signaturesOf's filter, NULL text included)
    withHubs.join(hubCC, col("h0") === col("id"))
      .select(col("doc_id"), col("component").as("cluster_rep"))
      .union(docs.filter(!coalesce(hasLetter, lit(false)))
        .select(col("doc_id"), col("doc_id").as("cluster_rep")))
  }

  val dedupClustersSql: String = {
    val sig = minhashSignaturesSql.replace("ORDER BY doc_id", "")
    s"""WITH RECURSIVE sig AS ($sig),
       |banded AS (
       |  SELECT doc_id, 'b0_' || mh0 || '_' || mh1 AS band FROM sig
       |  UNION ALL
       |  SELECT doc_id, 'b1_' || mh2 || '_' || mh3 AS band FROM sig),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.doc_id < b.doc_id),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach(a, b) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src)
       |SELECT a AS doc_id, MIN(b) AS cluster_rep
       |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------- dedup: cluster density
  /** Merge-safety audit for transitive dedup: for the 20 largest
    * clusters, edge density vs the clique ideal (2·E/(n·(n−1)) in
    * permille) and an is_clique flag. Density near 1000 means the
    * cluster is pairwise-duplicate (merging is safe); low density
    * means CHAINS of borderline pairs glued unrelated docs through
    * transitivity — the exact failure mode the triangle counter
    * diagnoses globally, here localized to the clusters a pipeline
    * is about to collapse.
    *
    * Scale shape: cluster labels are dedup_clusters' contracted CC
    * (O(n) edges); candidate edges are the banded join; the density
    * table is one label join + two cluster-keyed hash-aggs. Both
    * endpoint labels agree by construction, so ONE join on doc_a
    * suffices.
    *
    * ONE materialized banded-signature table feeds both the CC labels
    * and the pair join, so the tokenize+minhash scan runs once. The
    * pair path materializes a repartition of the stored signature
    * blocks (a tiny shuffle, not a recompute) because the pair join's
    * parallelism must be sized to its OUTPUT work — see the AQE note
    * in [[lshCandidatePairsOfBands]]. */
  def clusterDensity(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val sig = graft.operators.Materialize.eager(bandedSigs(docs))
    // materialized: two consumers (sizes, the edge join) and the
    // size-gated broadcast below reads its stored bytes
    val labels = graft.operators.Materialize.eager(
      dedupClustersFromSig(docs, sig))
    val sizes = labels.groupBy(col("cluster_rep"))
      .agg(count(lit(1)).as("n_nodes"))
      .filter(col("n_nodes") >= 2)
    // broadcast the O(V) label table via the size gate so the
    // Σ bucket² pair stream is never exchanged for this join
    val edges = lshCandidatePairsOfBands(sig)
      .join(graft.operators.Materialize.hintSmall(labels)
        .select(col("doc_id").as("doc_a"), col("cluster_rep")),
        "doc_a")
      .groupBy(col("cluster_rep")).agg(count(lit(1)).as("n_edges"))
    sizes.join(edges, Seq("cluster_rep"), "left")
      .na.fill(0L, Seq("n_edges"))
      .withColumn("density_pm",
        expr("2000 * n_edges DIV (n_nodes * (n_nodes - 1))"))
      .withColumn("is_clique",
        when(expr("2 * n_edges = n_nodes * (n_nodes - 1)"), 1L)
          .otherwise(0L))
      .orderBy(col("n_nodes").desc, col("cluster_rep")).limit(20)
      .select(col("cluster_rep"), col("n_nodes"), col("n_edges"),
        col("density_pm"), col("is_clique"))
      .orderBy(col("n_nodes").desc, col("cluster_rep"))
  }

  // ------------------------------------ leakage-safe split audit
  /** Train/val/test assignment with NEAR-DUP leakage accounting: the
    * naive per-doc text-hash split (the corpus splitCol device) is
    * compared against a CLUSTER-AWARE split where every doc inherits
    * its dedup-cluster representative's assignment — so near-dup
    * families can never straddle a split boundary. For each scheme
    * the query reports the split sizes AND the number of LSH
    * candidate pairs crossing splits: the naive row's non-zero count
    * IS the eval contamination a per-doc split ships (test docs with
    * a near-duplicate in train), and the cluster row proves 0 by
    * construction in-output. This is the ML-hygiene step
    * decontamination doesn't cover: decontaminate removes eval-set
    * text from train; THIS stops the corpus's own duplicate families
    * from leaking across its internal splits.
    *
    * Scale shape: the clusterDensity discipline — one materialized
    * banded-signature table feeds both the contracted-CC labels and
    * the candidate-pair join; split assignment is a projection; the
    * leak counts are two pair-keyed equi-joins + a 1-row agg per
    * scheme. Hashing the REPRESENTATIVE's text (not its id) keeps
    * the split stable under re-ingest id reassignment, the splitCol
    * contract. */
  def leakageSafeSplit(s: SparkSession, d: String): DataFrame = {
    // one materialized signature table for both subtrees (the
    // clusterDensity discipline)
    val docs = documents(s, d).select(col("doc_id"), col("text"))
    val sig = graft.operators.Materialize.eager(bandedSigs(docs))
    val labels = dedupClustersFromSig(docs, sig)
    val pairs = lshCandidatePairsOfBands(sig)
    // ONE assignment frame carrying both schemes' splits, so the
    // Σ bucket² pair table is joined twice (doc_a, doc_b), not twice
    // PER SCHEME — at 10× the pair joins dominate and this halves them
    val asg = graft.operators.Materialize.eager(
      docs.select(col("doc_id"), TextPipeline.splitCol.as("nsplit"))
        .join(labels.join(
          docs.select(col("doc_id").as("cluster_rep"),
            TextPipeline.splitCol.as("csplit")),
          "cluster_rep")
          .select(col("doc_id"), col("csplit")), "doc_id"))
    def cnt(c: org.apache.spark.sql.Column, v: String) =
      sum(when(c === v, 1L).otherwise(0L))
    val counts = asg.agg(
      cnt(col("nsplit"), "train").as("n_train_n"),
      cnt(col("nsplit"), "val").as("n_val_n"),
      cnt(col("nsplit"), "test").as("n_test_n"),
      cnt(col("csplit"), "train").as("n_train_c"),
      cnt(col("csplit"), "val").as("n_val_c"),
      cnt(col("csplit"), "test").as("n_test_c"))
    // size-gated broadcast of the O(V) assignment frame (r13): the two
    // pair-side joins otherwise SMJ-plan and shuffle-write the pair
    // table twice before AQE's rewrite
    val asgS = graft.operators.Materialize.hintSmall(asg)
    val cross = pairs
      .join(asgS.select(col("doc_id").as("doc_a"), col("nsplit").as("na"),
        col("csplit").as("ca")), "doc_a")
      .join(asgS.select(col("doc_id").as("doc_b"), col("nsplit").as("nb"),
        col("csplit").as("cb")), "doc_b")
      .agg(
        coalesce(sum(when(col("na") =!= col("nb"), 1L).otherwise(0L)),
          lit(0L)).as("cross_n"),
        coalesce(sum(when(col("ca") =!= col("cb"), 1L).otherwise(0L)),
          lit(0L)).as("cross_c"))
    val both = counts.crossJoin(broadcast(cross))
    both.select(lit("naive").as("scheme"), col("n_train_n").as("n_train"),
        col("n_val_n").as("n_val"), col("n_test_n").as("n_test"),
        col("cross_n").as("cross_split_pairs"))
      .unionByName(both.select(lit("cluster").as("scheme"),
        col("n_train_c").as("n_train"), col("n_val_c").as("n_val"),
        col("n_test_c").as("n_test"),
        col("cross_c").as("cross_split_pairs")))
      .orderBy(col("scheme"))
  }

  /** One scheme row of the leakage audit — shared by the plain oracle
    * (pairs table `pairsp`, a CTE) and the scripted bench-scale form
    * (pairs table `pairst`, a temp table) so the two can never drift. */
  private def leakSchemeRowSql(name: String, asg: String,
      pairs: String): String =
    s"""SELECT '$name' AS scheme,
       |  (SELECT CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
       |     AS BIGINT) FROM $asg) AS n_train,
       |  (SELECT CAST(SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END)
       |     AS BIGINT) FROM $asg) AS n_val,
       |  (SELECT CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END)
       |     AS BIGINT) FROM $asg) AS n_test,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $pairs p
       |     JOIN $asg a ON a.doc_id = p.doc_a
       |     JOIN $asg b ON b.doc_id = p.doc_b
       |     WHERE a.split <> b.split) AS cross_split_pairs""".stripMargin

  val leakageSafeSplitSql: String = {
    val sig = minhashSignaturesSql.replace("ORDER BY doc_id", "")
    def schemeRow(name: String, asg: String): String =
      leakSchemeRowSql(name, asg, "pairsp")
    s"""WITH labels AS (
       |  SELECT * FROM ($dedupClustersSql) lt),
       |splits AS (
       |  SELECT doc_id, ${TextPipeline.splitCaseSql} AS split
       |  FROM documents),
       |clus AS (
       |  SELECT l.doc_id, s.split FROM labels l
       |  JOIN splits s ON s.doc_id = l.cluster_rep),
       |sigp AS ($sig),
       |bandedp AS (
       |  SELECT doc_id, 'b0_' || mh0 || '_' || mh1 AS band FROM sigp
       |  UNION ALL
       |  SELECT doc_id, 'b1_' || mh2 || '_' || mh3 AS band FROM sigp),
       |pairsp AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bandedp a JOIN bandedp b
       |    ON a.band = b.band AND a.doc_id < b.doc_id)
       |${schemeRow("naive", "splits")}
       |UNION ALL
       |${schemeRow("cluster", "clus")}
       |ORDER BY scheme""".stripMargin
  }

  val clusterDensitySql: String = {
    val sig = minhashSignaturesSql.replace("ORDER BY doc_id", "")
    s"""WITH labels AS (
       |  SELECT * FROM ($dedupClustersSql) lt),
       |sigp AS ($sig),
       |bandedp AS (
       |  SELECT doc_id, 'b0_' || mh0 || '_' || mh1 AS band FROM sigp
       |  UNION ALL
       |  SELECT doc_id, 'b1_' || mh2 || '_' || mh3 AS band FROM sigp),
       |pairsp AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bandedp a JOIN bandedp b
       |    ON a.band = b.band AND a.doc_id < b.doc_id),
       |sizes AS (
       |  SELECT cluster_rep, CAST(COUNT(*) AS BIGINT) AS n_nodes
       |  FROM labels GROUP BY 1 HAVING COUNT(*) >= 2),
       |e AS (
       |  SELECT l.cluster_rep, CAST(COUNT(*) AS BIGINT) AS n_edges
       |  FROM pairsp p JOIN labels l ON p.doc_a = l.doc_id
       |  GROUP BY 1)
       |SELECT s.cluster_rep, s.n_nodes,
       |  COALESCE(e.n_edges, 0) AS n_edges,
       |  2000 * COALESCE(e.n_edges, 0) // (s.n_nodes * (s.n_nodes - 1))
       |    AS density_pm,
       |  CASE WHEN 2 * COALESCE(e.n_edges, 0)
       |         = s.n_nodes * (s.n_nodes - 1)
       |    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS is_clique
       |FROM sizes s LEFT JOIN e USING (cluster_rep)
       |ORDER BY s.n_nodes DESC, s.cluster_rep LIMIT 20""".stripMargin
  }

  // ---------------- scripted bench-scale oracles (graft.ScriptedOracle)
  // The two transitive-closure oracles above are exact but quadratic
  // in component size as one recursive CTE — past the 600 s budget at
  // sf0.1 (BASELINE.md 2026-08-15). These recipes compute the SAME
  // answer by min-label propagation to FIXPOINT over per-round temp
  // tables (the engine's own iteration shape): the stable label of a
  // node is MIN over its component ≡ the closure's MIN(reachable).
  // Setup/final SQL reuses the exact band/scheme/density strings of
  // the plain oracles, so the forms cannot drift.
  private def ccScriptedSetup: Seq[String] = {
    val sig = minhashSignaturesSql.replace("ORDER BY doc_id", "")
    Seq(
      s"CREATE TEMP TABLE sigt AS $sig",
      """CREATE TEMP TABLE bandedt AS
        |SELECT doc_id, 'b0_' || mh0 || '_' || mh1 AS band FROM sigt
        |UNION ALL
        |SELECT doc_id, 'b1_' || mh2 || '_' || mh3 AS band FROM sigt""".stripMargin,
      """CREATE TEMP TABLE pairst AS
        |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |FROM bandedt a JOIN bandedt b
        |  ON a.band = b.band AND a.doc_id < b.doc_id""".stripMargin,
      // bidirectional + self-loops: every doc keeps (at least) itself,
      // mirroring the closure's seed row (doc, doc) FROM documents
      """CREATE TEMP TABLE edgest AS
        |SELECT doc_a AS a, doc_b AS b FROM pairst
        |UNION ALL SELECT doc_b, doc_a FROM pairst
        |UNION ALL SELECT doc_id, doc_id FROM documents""".stripMargin,
      "CREATE TEMP TABLE lbl0 AS SELECT doc_id AS id, doc_id AS lbl FROM documents")
  }
  private val ccScriptedRound = Seq(
    """CREATE TEMP TABLE lbl{r} AS
      |SELECT e.a AS id, MIN(l.lbl) AS lbl
      |FROM edgest e JOIN lbl{p} l ON l.id = e.b GROUP BY e.a""".stripMargin)
  private val ccScriptedStop =
    """SELECT COUNT(*) FROM lbl{r} n JOIN lbl{p} o ON n.id = o.id
      |WHERE n.lbl <> o.lbl""".stripMargin
  // 64-round budget with requireFixpoint: label propagation needs
  // eccentricity-of-min rounds; exactness demands the fixpoint, so
  // budget exhaustion is a hard oracle FAILURE, never a silent
  // truncation (the runner enforces it).
  private val CcScriptedMaxRounds = 64

  /** dedup_clusters itself at bench scale: the recipe's label
    * fixpoint IS the query's answer — (id, lbl) = (doc_id,
    * cluster_rep). Same setup/round/stop as the two derived oracles
    * below, so the three forms cannot drift. (Surfaced by the first
    * FULL-surface sf0.1 oracle pass: the plain recursive closure was
    * killed at 25+ min where the heavy-tail audit's three scripted
    * queries finish in seconds.) */
  val dedupClustersScripted: graft.ScriptedOracle = graft.ScriptedOracle(
    setup = ccScriptedSetup,
    round = ccScriptedRound,
    stop = ccScriptedStop,
    maxRounds = CcScriptedMaxRounds,
    requireFixpoint = true,
    finalSql =
      "SELECT id AS doc_id, lbl AS cluster_rep FROM lbl{r} ORDER BY doc_id")

  val clusterDensityScripted: graft.ScriptedOracle = graft.ScriptedOracle(
    setup = ccScriptedSetup,
    round = ccScriptedRound,
    stop = ccScriptedStop,
    maxRounds = CcScriptedMaxRounds,
    requireFixpoint = true,
    finalSql =
      """WITH labels AS (
        |  SELECT id AS doc_id, lbl AS cluster_rep FROM lbl{r}),
        |sizes AS (
        |  SELECT cluster_rep, CAST(COUNT(*) AS BIGINT) AS n_nodes
        |  FROM labels GROUP BY 1 HAVING COUNT(*) >= 2),
        |e AS (
        |  SELECT l.cluster_rep, CAST(COUNT(*) AS BIGINT) AS n_edges
        |  FROM pairst p JOIN labels l ON p.doc_a = l.doc_id
        |  GROUP BY 1)
        |SELECT s.cluster_rep, s.n_nodes,
        |  COALESCE(e.n_edges, 0) AS n_edges,
        |  2000 * COALESCE(e.n_edges, 0) // (s.n_nodes * (s.n_nodes - 1))
        |    AS density_pm,
        |  CASE WHEN 2 * COALESCE(e.n_edges, 0)
        |         = s.n_nodes * (s.n_nodes - 1)
        |    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS is_clique
        |FROM sizes s LEFT JOIN e USING (cluster_rep)
        |ORDER BY s.n_nodes DESC, s.cluster_rep LIMIT 20""".stripMargin)

  val leakageSafeSplitScripted: graft.ScriptedOracle = graft.ScriptedOracle(
    setup = ccScriptedSetup,
    round = ccScriptedRound,
    stop = ccScriptedStop,
    maxRounds = CcScriptedMaxRounds,
    requireFixpoint = true,
    finalSql =
      s"""WITH labels AS (
         |  SELECT id AS doc_id, lbl AS cluster_rep FROM lbl{r}),
         |splits AS (
         |  SELECT doc_id, ${TextPipeline.splitCaseSql} AS split
         |  FROM documents),
         |clus AS (
         |  SELECT l.doc_id, s.split FROM labels l
         |  JOIN splits s ON s.doc_id = l.cluster_rep)
         |${leakSchemeRowSql("naive", "splits", "pairst")}
         |UNION ALL
         |${leakSchemeRowSql("cluster", "clus", "pairst")}
         |ORDER BY scheme""".stripMargin)

  // -------------------------------------- dedup: incremental batch
  /** Incremental dedup — the daily-ingestion shape: a NEW batch (here
    * every 5th doc by id) is checked against the EXISTING corpus via
    * an asymmetric MinHash-LSH band join. Output: each new doc with
    * the min matching corpus doc and its candidate count.
    *
    * Why this exists next to dedup_lsh_pairs: at 100 TB you never
    * re-run dedup over the full corpus per ingest. The asymmetric
    * join's cost is Σ |new∩bucket| × |corpus∩bucket| — proportional
    * to the BATCH size for stable band distributions — and the corpus
    * side is exactly the signature table a production pipeline keeps
    * materialized between ingests (here rebuilt from the same source
    * so the oracle can check it end to end). The disjoint-band union
    * (band-1 term requires band-0 differs) counts each (new, corpus)
    * pair exactly once with NO distinct over the pair space.
    *
    * Band keys are the md5-concat STRINGS (shared collision behavior
    * with the oracle — the n_candidates count could silently drift
    * under a 64-bit digest key at corpus scale, the same reasoning
    * that moved decontaminate off xxhash64). */
  def dedupIncremental(s: SparkSession, d: String): DataFrame = {
    val sig2 = graft.operators.Materialize.eager(
      bandedSignatureProjection(documents(s, d))
        .repartition(s.sparkContext.defaultParallelism))
    val corpus = sig2.filter(col("doc_id") % 5 =!= 4)
      .select(col("doc_id").as("old_id"), col("b0").as("ob0"), col("b1").as("ob1"))
    val batch = sig2.filter(col("doc_id") % 5 === 4)
    val onB0 = batch.join(corpus, col("b0") === col("ob0"))
    val onB1Only = batch.join(corpus,
      col("b1") === col("ob1") && col("b0") =!= col("ob0"))
    onB0.union(onB1Only)
      .groupBy(col("doc_id"))
      .agg(min(col("old_id")).as("dup_of"),
        count(lit(1)).as("n_candidates"))
      .orderBy(col("doc_id"))
  }

  val dedupIncrementalSql: String = {
    val sig = minhashSignaturesSql.replace("ORDER BY doc_id", "")
    s"""WITH sig AS ($sig),
       |banded AS (
       |  SELECT doc_id, doc_id % 5 = 4 AS is_new,
       |    'b0_' || mh0 || '_' || mh1 AS band0,
       |    'b1_' || mh2 || '_' || mh3 AS band1
       |  FROM sig),
       |hits AS (
       |  SELECT n.doc_id, o.doc_id AS old_id
       |  FROM banded n JOIN banded o
       |    ON n.is_new AND NOT o.is_new AND n.band0 = o.band0
       |  UNION ALL
       |  SELECT n.doc_id, o.doc_id AS old_id
       |  FROM banded n JOIN banded o
       |    ON n.is_new AND NOT o.is_new AND n.band1 = o.band1
       |       AND n.band0 <> o.band0)
       |SELECT doc_id, MIN(old_id) AS dup_of, COUNT(*) AS n_candidates
       |FROM hits GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------- dedup: bloom prefilter
  /** Exact-dup detection of a new batch against the corpus through a
    * bloom-sketch pre-filter (operators.BloomPrefilter): the corpus's
    * content hashes are compacted into a broadcast bloom, the batch
    * discards everything the sketch rules out BEFORE any shuffle, and
    * an exact semi-join over the survivors removes the sketch's false
    * positives — deterministic output, probabilistic fast path. This
    * is the membership-check twin of dedup_incremental: that one finds
    * NEAR-dups via band joins; this one answers "have we ingested
    * exactly this content before" without moving the corpus.
    * Oracle: the bloom is invisible to semantics, so the SQL twin is a
    * plain semi join. */
  def dedupBloomIncremental(s: SparkSession, d: String): DataFrame = {
    val hashed = documents(s, d)
      .select(col("doc_id"), md5(col("text")).as("text_hash"))
    val corpus = hashed.filter(col("doc_id") % 5 =!= 4)
    val batch = hashed.filter(col("doc_id") % 5 === 4)
    graft.operators.BloomPrefilter.semiJoin(
      batch, col("text_hash"),
      corpus, col("text_hash"),
      expectedItems = 100000L, fpp = 0.01)
      .orderBy(col("doc_id"))
  }

  val dedupBloomIncrementalSql: String =
    """SELECT doc_id, md5(text) AS text_hash
      |FROM documents b
      |WHERE doc_id % 5 = 4 AND EXISTS (
      |  SELECT 1 FROM documents c
      |  WHERE c.doc_id % 5 <> 4 AND md5(c.text) = md5(b.text))
      |ORDER BY doc_id""".stripMargin

  // -------------------------------------- dedup: n-gram Jaccard
  /** Exact Jaccard over word 3-gram shingles for same-source pairs
    * (bucketed, so the pair space is bounded per bucket — at scale the
    * bucket key would be an LSH band). */
  def ngramJaccard(s: SparkSession, d: String): DataFrame = {
    // shuffle/join on the 64-bit shingle hash, not the string (same
    // counts modulo 2^-64 collisions; oracle compares final pairs).
    // Lazy despite two consumers: ReuseExchange already shares the
    // subtree within the one job (the round-6 cold A/B: 2.09 s
    // unpersisted vs 2.35 s persisted).
    val shingled = shingledHashed(s, d)
    val a = shingled.as("a"); val b = shingled.as("b")
    val inter = a.join(b, col("a.sh") === col("b.sh") &&
        col("a.source") === col("b.source") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    val sizes = shingled.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    inter
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (col("n_inter").cast("double") /
          (col("sa.n_sh") + col("sb.n_sh") - col("n_inter"))).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Word 3-gram shingle set of a text column (array of strings).
    * Built from three slices zipped together rather than per-index
    * element_at: Catalyst re-evaluates the captured tokenizer split
    * inside a lambda per ELEMENT, so the element_at formulation cost
    * ~180 regex splits per row (measured 11 s of 13 at sf0.1); the
    * slice form costs 3 per row. */
  private[graft] def shingles3(text: Column): Column = {
    val ws = tokens(text)
    val len = greatest(size(ws) - 2, lit(0))
    zip_with(
      zip_with(slice(ws, lit(1), len), slice(ws, lit(2), len),
        (x, y) => concat(x, lit(" "), y)),
      slice(ws, lit(3), len),
      (xy, z) => concat(xy, lit(" "), z))
  }

  val ngramJaccardSql: String =
    """WITH toks AS (
      |  SELECT doc_id, source,
      |    list_filter(string_split_regex(text, '[^\p{L}]+'),
      |                w -> w <> '') AS ws
      |  FROM documents),
      |shingled AS (
      |  SELECT DISTINCT doc_id, source,
      |    ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
      |  FROM toks, UNNEST(range(1, len(ws) - 1)) AS t(i)),
      |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingled GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      |  FROM shingled a JOIN shingled b
      |    ON a.sh = b.sh AND a.source = b.source AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id)
      |SELECT doc_a, doc_b,
      |  CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
      |FROM inter
      |JOIN sizes sa ON doc_a = sa.doc_id
      |JOIN sizes sb ON doc_b = sb.doc_id
      |WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin

  // -------------------------------------- dedup: n-gram containment
  /** Asymmetric shingle CONTAINMENT for same-source pairs — the
    * sub-document dup detector symmetric Jaccard misses: a short doc
    * fully embedded in a long one (quoted boilerplate, template +
    * payload) has tiny Jaccard but containment ≈ 1 on the short side.
    * Metric: 1000·|A∩B| DIV min(|A|,|B|) in exact integer permille;
    * pairs at ≥ 800‰ are flagged. Broder's containment companion to
    * resemblance — real pipelines cut BOTH.
    *
    * Scale shape: identical topology to ngramJaccard (shingle-hash
    * bucketed same-source self-join — per-shingle bucket bounded, no
    * doc × doc), on the same lazy shingle table (ngramJaccard note). */
  def ngramContainment(s: SparkSession, d: String): DataFrame = {
    val shingled = shingledHashed(s, d)
    val a = shingled.as("a"); val b = shingled.as("b")
    val inter = a.join(b, col("a.sh") === col("b.sh") &&
        col("a.source") === col("b.source") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    val sizes = shingled.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    inter
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("n_inter"),
        expr("(1000 * n_inter) DIV least(sa.n_sh, sb.n_sh)")
          .as("containment_permille"))
      .filter(col("containment_permille") >= 800)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val ngramContainmentSql: String =
    """WITH toks AS (
      |  SELECT doc_id, source,
      |    list_filter(string_split_regex(text, '[^\p{L}]+'),
      |                w -> w <> '') AS ws
      |  FROM documents),
      |shingled AS (
      |  SELECT DISTINCT doc_id, source,
      |    ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
      |  FROM toks, UNNEST(range(1, len(ws) - 1)) AS t(i)),
      |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh
      |          FROM shingled GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    CAST(COUNT(*) AS BIGINT) AS n_inter
      |  FROM shingled a JOIN shingled b
      |    ON a.sh = b.sh AND a.source = b.source AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id)
      |SELECT doc_a, doc_b, n_inter,
      |  (1000 * n_inter) // LEAST(sa.n_sh, sb.n_sh) AS containment_permille
      |FROM inter
      |JOIN sizes sa ON doc_a = sa.doc_id
      |JOIN sizes sb ON doc_b = sb.doc_id
      |WHERE (1000 * n_inter) // LEAST(sa.n_sh, sb.n_sh) >= 800
      |ORDER BY doc_a, doc_b""".stripMargin

  // ----------------------------------- dedup: edit-distance confirm
  /** Edit-distance CONFIRMATION of the MinHash-LSH candidates — the
    * exact final stage of the candidate→confirm dedup funnel. Two
    * cheap gates run before the quadratic-per-pair Levenshtein: the
    * LSH band join (candidate generation, sum-of-bucket² cost) and a
    * length-ratio gate on the n_chars metadata already in the row
    * (near-dups can't differ >20% in length — the standard pre-filter,
    * since |len(a)−len(b)| lower-bounds edit distance). Survivors get
    * BOUNDED Levenshtein on a 64-char prefix: the confirm decision
    * (sim ≥ 900) needs distance ≤ ⌊den/10⌋ ≤ 6, so the DP runs with
    * threshold 7 — Spark's banded O(t·n) algorithm, ~8× less CPU than
    * the full O(n²) table — and any pair past the bound reports the
    * sentinel −1 (a confirm stage never needs distances beyond its
    * reject boundary; full distances were the suite's top CPU cost,
    * 8.1 s at sf0.1 for 7.5 M pairs). confirmed = sim ≥ 900 exactly
    * as before: the bound provably cannot flip any confirm decision.
    *
    * Scale shape: candidates stay band-bucketed (never n²), the two
    * text-side joins shuffle on doc_id, and per-pair CPU is capped by
    * the prefix bound, so the stage is linear in candidate count with
    * any number of executors. */
  def dedupEditConfirm(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"),
      substring(col("text"), 1, 64).as("pfx"), col("n_chars"))
    lshCandidatePairs(s, d)
      .join(docs.select(col("doc_id").as("doc_a"), col("pfx").as("pa"),
        col("n_chars").as("ca")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("pfx").as("pb"),
        col("n_chars").as("cb")), "doc_b")
      .filter(abs(col("ca") - col("cb")) * 5 <=
        greatest(col("ca"), col("cb")))
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("pa"), col("pb"), 7).cast("long").as("pfx_dist"),
        greatest(length(col("pa")), length(col("pb"))).cast("long")
          .as("den"))
      .withColumn("sim_permille",
        expr("CASE WHEN pfx_dist >= 0 " +
          "THEN 1000 - (1000 * pfx_dist) DIV den " +
          "ELSE CAST(-1 AS BIGINT) END"))
      .withColumn("confirmed", col("sim_permille") >= 900)
      .select(col("doc_a"), col("doc_b"), col("pfx_dist"),
        col("sim_permille"), col("confirmed"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val dedupEditConfirmSql: String = {
    val sig = minhashSignaturesSql.replace("ORDER BY doc_id", "")
    s"""WITH sig AS ($sig),
       |banded AS (
       |  SELECT doc_id, 'b0_' || mh0 || '_' || mh1 AS band FROM sig
       |  UNION ALL
       |  SELECT doc_id, 'b1_' || mh2 || '_' || mh3 AS band FROM sig),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.doc_id < b.doc_id),
       |d AS (SELECT doc_id, substring(text, 1, 64) AS pfx, n_chars
       |      FROM documents),
       |gated AS (
       |  SELECT doc_a, doc_b,
       |    CAST(levenshtein(da.pfx, db.pfx) AS BIGINT) AS d0,
       |    CAST(GREATEST(LENGTH(da.pfx), LENGTH(db.pfx)) AS BIGINT) AS den
       |  FROM pairs
       |  JOIN d da ON doc_a = da.doc_id
       |  JOIN d db ON doc_b = db.doc_id
       |  WHERE abs(da.n_chars - db.n_chars) * 5
       |          <= GREATEST(da.n_chars, db.n_chars)),
       |b AS (
       |  SELECT doc_a, doc_b,
       |    CASE WHEN d0 <= 7 THEN d0 ELSE CAST(-1 AS BIGINT) END AS pfx_dist,
       |    den
       |  FROM gated)
       |SELECT doc_a, doc_b, pfx_dist,
       |  CASE WHEN pfx_dist >= 0
       |    THEN 1000 - (1000 * pfx_dist) // den
       |    ELSE CAST(-1 AS BIGINT) END AS sim_permille,
       |  (CASE WHEN pfx_dist >= 0
       |    THEN 1000 - (1000 * pfx_dist) // den
       |    ELSE CAST(-1 AS BIGINT) END) >= 900 AS confirmed
       |FROM b ORDER BY doc_a, doc_b""".stripMargin
  }

  // ------------------------------------------------- text analysis
  /** Quality scoring: token count, mean token length, stopword ratio,
    * uppercase/punct ratios — the standard pre-training quality gates. */
  def textQuality(s: SparkSession, d: String): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks)
    val stop = filter(toks, t => t.isin("the", "a", "of", "and", "to"))
    documents(s, d).select(
      col("doc_id"),
      nTok.as("n_tokens"),
      (length(regexp_replace(col("text"), "[^\\p{L}]+", "")).cast("double") /
        nTok).as("avg_token_len"),
      (size(stop).cast("double") / nTok).as("stopword_ratio"),
      (length(regexp_replace(col("text"), "[^ ]", "")).cast("double") /
        length(col("text"))).as("space_ratio"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------- Gopher-style rule gate
  /** The Gopher/Dolma-style multi-rule quality GATE as a query:
    * where `text_quality` emits per-doc features for a downstream
    * model, this is the production filter itself — five integer-exact
    * repetition/structure rules with PER-RULE violation accounting
    * per source, so a corpus owner sees not just the pass rate but
    * WHICH rule is doing the cutting (the number-one debugging
    * question when a source's yield collapses). Rules (Gopher
    * Rae et al. 2021 §A1.1 shape, thresholds on exact integer
    * cross-multiplication — no float ratios):
    *   R1 word count in [50, 100000]
    *   R2 mean word length in [3, 10]   (letters vs 3·n and 10·n)
    *   R3 symbol-to-word ratio ≤ 0.1    ('#' + '…'-as-'...')
    *   R4 bullet-line share ≤ 0.9       (lines starting '- '/'* ')
    *   R5 at least 2 stopwords          (the/a/of/and/to)
    *
    * Scale shape: one linear projection per doc (token split, three
    * replace-shrinkage counters) + one per-source hash-agg. The
    * pass/fail CASE ladder is codegen'd scalar work — the cheapest
    * possible full-corpus filter pass. */
  def gopherRules(s: SparkSession, d: String): DataFrame = {
    val toks = tokens(col("text"))
    documents(s, d)
      .withColumn("n_tok", size(toks).cast("long"))
      .withColumn("letters",
        length(regexp_replace(col("text"), "[^\\p{L}]+", "")).cast("long"))
      .withColumn("n_stop", size(filter(toks,
        t => t.isin("the", "a", "of", "and", "to"))).cast("long"))
      .withColumn("n_sym", expr(
        "CAST((length(text) - length(replace(text, '#', ''))) + " +
          "(length(text) - length(replace(text, '...', ''))) DIV 3 AS BIGINT)"))
      .withColumn("n_lines", expr(
        "CAST(1 + length(text) - length(replace(text, chr(10), '')) AS BIGINT)"))
      // count on chr(10)||text so a bullet on the FIRST line
      // participates — n_lines counts that line, so without the
      // prepend an all-bullet doc reads (n−1)/n share (ADVICE r9)
      .withColumn("n_bullet", expr(
        "CAST((length(chr(10) || text) - length(replace(chr(10) || text, chr(10) || '- ', ''))) DIV 3 + " +
          "(length(chr(10) || text) - length(replace(chr(10) || text, chr(10) || '* ', ''))) DIV 3 AS BIGINT)"))
      .withColumn("v_wordcount",
        when(col("n_tok") < 50 || col("n_tok") > 100000, 1L).otherwise(0L))
      .withColumn("v_meanlen",
        when(col("letters") < lit(3L) * col("n_tok") ||
          col("letters") > lit(10L) * col("n_tok"), 1L).otherwise(0L))
      .withColumn("v_symbol",
        when(col("n_sym") * 10 > col("n_tok"), 1L).otherwise(0L))
      .withColumn("v_bullet",
        when(col("n_bullet") * 10 > col("n_lines") * 9, 1L).otherwise(0L))
      .withColumn("v_stopword",
        when(col("n_stop") < 2, 1L).otherwise(0L))
      .withColumn("pass",
        when(col("v_wordcount") + col("v_meanlen") + col("v_symbol") +
          col("v_bullet") + col("v_stopword") === 0, 1L).otherwise(0L))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("v_wordcount")).as("f_wordcount"),
        sum(col("v_meanlen")).as("f_meanlen"),
        sum(col("v_symbol")).as("f_symbol"),
        sum(col("v_bullet")).as("f_bullet"),
        sum(col("v_stopword")).as("f_stopword"),
        sum(col("pass")).as("n_pass"))
      .withColumn("pass_permille", expr("n_pass * 1000 DIV n_docs"))
      .orderBy(col("source"))
  }

  val gopherRulesSql: String =
    """WITH f AS (
      |  SELECT source,
      |    len(list_filter(string_split_regex(text, '[^\p{L}]+'),
      |        w -> w <> '')) AS n_tok,
      |    LENGTH(regexp_replace(text, '[^\p{L}]+', '', 'g')) AS letters,
      |    len(list_filter(string_split_regex(text, '[^\p{L}]+'),
      |        w -> w IN ('the','a','of','and','to'))) AS n_stop,
      |    (length(text) - length(replace(text, '#', '')))
      |      + (length(text) - length(replace(text, '...', ''))) // 3
      |      AS n_sym,
      |    1 + length(text) - length(replace(text, chr(10), '')) AS n_lines,
      |    (length(chr(10) || text)
      |       - length(replace(chr(10) || text, chr(10) || '- ', ''))) // 3
      |      + (length(chr(10) || text)
      |       - length(replace(chr(10) || text, chr(10) || '* ', '')))
      |        // 3 AS n_bullet
      |  FROM documents),
      |v AS (
      |  SELECT source,
      |    CASE WHEN n_tok < 50 OR n_tok > 100000 THEN 1 ELSE 0 END
      |      AS v_wordcount,
      |    CASE WHEN letters < 3 * n_tok OR letters > 10 * n_tok
      |         THEN 1 ELSE 0 END AS v_meanlen,
      |    CASE WHEN n_sym * 10 > n_tok THEN 1 ELSE 0 END AS v_symbol,
      |    CASE WHEN n_bullet * 10 > n_lines * 9 THEN 1 ELSE 0 END
      |      AS v_bullet,
      |    CASE WHEN n_stop < 2 THEN 1 ELSE 0 END AS v_stopword
      |  FROM f)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(v_wordcount) AS BIGINT) AS f_wordcount,
      |  CAST(SUM(v_meanlen) AS BIGINT) AS f_meanlen,
      |  CAST(SUM(v_symbol) AS BIGINT) AS f_symbol,
      |  CAST(SUM(v_bullet) AS BIGINT) AS f_bullet,
      |  CAST(SUM(v_stopword) AS BIGINT) AS f_stopword,
      |  CAST(SUM(CASE WHEN v_wordcount + v_meanlen + v_symbol + v_bullet
      |    + v_stopword = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
      |  CAST(SUM(CASE WHEN v_wordcount + v_meanlen + v_symbol + v_bullet
      |    + v_stopword = 0 THEN 1 ELSE 0 END) AS BIGINT) * 1000
      |    // COUNT(*) AS pass_permille
      |FROM v GROUP BY source ORDER BY source""".stripMargin

  val textQualitySql: String =
    """WITH t AS (
      |  SELECT doc_id, text,
      |    list_filter(string_split_regex(text, '[^\p{L}]+'),
      |                w -> w <> '') AS ws
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(ws) AS INT) AS n_tokens,
      |  CAST(LENGTH(regexp_replace(text, '[^\p{L}]+', '', 'g')) AS DOUBLE)
      |    / len(ws) AS avg_token_len,
      |  CAST(len(list_filter(ws,
      |    w -> w IN ('the','a','of','and','to'))) AS DOUBLE)
      |    / len(ws) AS stopword_ratio,
      |  CAST(LENGTH(regexp_replace(text, '[^ ]', '', 'g')) AS DOUBLE)
      |    / LENGTH(text) AS space_ratio
      |FROM t ORDER BY doc_id""".stripMargin

  // --------------------------------------------------- language ID
  /** Stopword-marker language heuristic: per-language marker-word hit
    * counts; predicted = argmax with deterministic en>es>de>fr tiebreak. */
  def langIdSimple(s: SparkSession, d: String): DataFrame = {
    val toks = tokens(col("text"))
    def hits(ws: String*) = size(filter(toks, t => t.isin(ws: _*)))
    documents(s, d).select(
      col("doc_id"),
      col("lang").as("actual_lang"),
      hits("the", "and", "of").as("en_hits"),
      hits("el", "la", "de").as("es_hits"),
      hits("der", "die", "und").as("de_hits"),
      hits("le", "la", "et").as("fr_hits"))
      .withColumn("pred_lang",
        when(col("en_hits") >= greatest(col("es_hits"), col("de_hits"), col("fr_hits")), "en")
          .when(col("es_hits") >= greatest(col("de_hits"), col("fr_hits")), "es")
          .when(col("de_hits") >= col("fr_hits"), "de")
          .otherwise("fr"))
      .orderBy(col("doc_id"))
  }

  val langIdSql: String =
    """WITH t AS (
      |  SELECT doc_id, lang,
      |    list_filter(string_split_regex(text, '[^\p{L}]+'),
      |                w -> w <> '') AS ws
      |  FROM documents),
      |h AS (
      |  SELECT doc_id, lang AS actual_lang,
      |    CAST(len(list_filter(ws, w -> w IN ('the','and','of'))) AS INT) AS en_hits,
      |    CAST(len(list_filter(ws, w -> w IN ('el','la','de'))) AS INT) AS es_hits,
      |    CAST(len(list_filter(ws, w -> w IN ('der','die','und'))) AS INT) AS de_hits,
      |    CAST(len(list_filter(ws, w -> w IN ('le','la','et'))) AS INT) AS fr_hits
      |  FROM t)
      |SELECT doc_id, actual_lang, en_hits, es_hits, de_hits, fr_hits,
      |  CASE WHEN en_hits >= GREATEST(es_hits, de_hits, fr_hits) THEN 'en'
      |       WHEN es_hits >= GREATEST(de_hits, fr_hits) THEN 'es'
      |       WHEN de_hits >= fr_hits THEN 'de'
      |       ELSE 'fr' END AS pred_lang
      |FROM h ORDER BY doc_id""".stripMargin

  /** Label-vs-classifier confusion matrix for the language tier: the
    * stored `lang` label against [[langIdSimple]]'s stopword-hit
    * prediction, with each cell's share of its actual-language row
    * count in permille. The audit that decides whether the cheap
    * n-gram classifier is trustworthy enough to gate ingestion on —
    * off-diagonal mass IS the gating risk.
    *
    * Scale shape: the per-doc classify is the [[langIdSimple]] linear
    * pass; cells aggregate to |langs|² rows and the per-actual totals
    * join back broadcast. */
  def langConfusion(s: SparkSession, d: String): DataFrame = {
    val cells = langIdSimple(s, d)
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

  val langConfusionSql: String = {
    val pred = langIdSql.replace(" ORDER BY doc_id", "")
    s"""WITH p AS ($pred),
      |cells AS (
      |  SELECT actual_lang, pred_lang, COUNT(*) AS n
      |  FROM p GROUP BY 1, 2),
      |t AS (SELECT actual_lang, SUM(n) AS total FROM cells GROUP BY 1)
      |SELECT actual_lang, pred_lang, n,
      |  CAST(1000 * n // total AS BIGINT) AS share_permille
      |FROM cells JOIN t USING (actual_lang)
      |ORDER BY actual_lang, pred_lang""".stripMargin
  }

  // ------------------------------------------------- token counting
  /** Token counts per source: whitespace tokens + BPE-ish subword
    * estimate (chars/4 heuristic used by tokenizer-cost planners). */
  /** GPT-2-style pre-tokenizer pattern (word / number / punct runs with
    * optional leading space) — the BPE front-end; identical in Java
    * regex and RE2. */
  private val BpePat = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+| +"

  def tokenCount(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy(col("source"))
      .agg(
        sum(size(tokens(col("text")))).as("word_tokens"),
        sum(regexp_count(col("text"), lit(BpePat))).as("bpe_regex_tokens"),
        sum(ceil(length(col("text")) / lit(4.0))).as("bpe_est_tokens"),
        sum(length(col("text"))).as("total_chars"))
      .orderBy(col("source"))

  val tokenCountSql: String =
    s"""SELECT source,
       |  CAST(SUM(len(list_filter(string_split_regex(text, '[^\\p{L}]+'),
       |      w -> w <> ''))) AS BIGINT) AS word_tokens,
       |  CAST(SUM(len(regexp_extract_all(text, '$BpePat'))) AS BIGINT) AS bpe_regex_tokens,
       |  CAST(SUM(CAST(CEIL(LENGTH(text)/4.0) AS BIGINT)) AS BIGINT) AS bpe_est_tokens,
       |  CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars
       |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------- fingerprinting
  /** Document fingerprint: md5 of the normalized (lowercased,
    * space-collapsed) text — stable content address for dedup joins. */
  def fingerprint(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"),
        md5(regexp_replace(lower(col("text")), "[^\\p{L}]+", " ")).as("fp"),
        substring(md5(col("text")), 1, 8).as("short_fp"))
      .orderBy(col("doc_id"))

  val fingerprintSql: String =
    """SELECT doc_id,
      |  md5(regexp_replace(LOWER(text), '[^\p{L}]+', ' ', 'g')) AS fp,
      |  SUBSTRING(md5(text), 1, 8) AS short_fp
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------- LSH band sweep
  /** MinHash-LSH BAND-PARAMETER SWEEP: the four signature hashes
    * arranged as (b=4, r=1), (b=2, r=2 — the production banding every
    * dedup_* query uses), and (b=1, r=4), each reporting its
    * candidate-verification cost (Σ C(bucket, 2) — the LSH cost
    * metric, counted without materializing a single pair) and a
    * deterministically-sampled exact-Jaccard precision@0.5. This is
    * the measurement behind choosing r and b: looser bands (r=1)
    * recall more at quadratically more verification work and lower
    * precision; stricter (r=4) invert the trade — the curve the
    * cluster-density audit's chain-gluing diagnosis asks for.
    *
    * Scale shape: bucket stats are one (band)-keyed hash-agg per
    * config — candidates_checked comes from the closed form, so the
    * sweep never pays the pair join it is costing out. The precision
    * estimator is DOUBLY bounded: buckets are md5-sampled with an
    * adaptive modulus (m = max(1, active_buckets DIV 32) → ~32
    * buckets at any corpus size; identity at test SFs) and each
    * sampled bucket contributes at most 32 md5-ordered members —
    * ≤ 32·C(32,2) ≈ 16k verified pairs FOREVER, the
    * copresence-cap discipline applied to LSH tuning. A sampled
    * pair with no common token never reaches the intersection join
    * and counts as imprecise, which is exactly right. */
  def bandSweep(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.expressions.Window
    // both roots materialized: each config reads the signatures, and
    // card plus every config's two intersection joins read the tokens
    val sig = graft.operators.Materialize.eager(signaturesOf(documents(s, d)))
    val tok = graft.operators.Materialize.eager(tokDistinct(s, d))
    val card = graft.operators.Materialize.eager(
      tok.groupBy(col("doc_id")).agg(count(lit(1)).as("nw")))
    def config(bands: Column, b: Int, r: Int): DataFrame = {
      val banded = graft.operators.Materialize.eager(
        sig.select(col("doc_id"), explode(bands).as("band")))
      val buckets = graft.operators.Materialize.eager(
        banded.groupBy(col("band")).agg(count(lit(1)).as("sz"))
          .filter(col("sz") >= 2))
      val stats = buckets.agg(
        count(lit(1)).as("n_active_buckets"),
        coalesce(max(col("sz")), lit(0L)).as("max_bucket"),
        coalesce(sum(expr("sz * (sz - 1) DIV 2")), lit(0L))
          .as("candidates_checked"))
      val m = buckets.agg(
        greatest(lit(1L), expr("COUNT(*) DIV 32")).as("m"))
      val sampled = buckets.crossJoin(broadcast(m))
        .filter(conv(substring(md5(col("band")), 1, 4), 16, 10)
          .cast("long") % col("m") === 0)
        .select(col("band"))
      val members = graft.operators.Materialize.eager(
        banded.join(sampled, "band")
          .withColumn("rk", row_number().over(Window.partitionBy(col("band"))
            .orderBy(md5(concat(col("doc_id").cast("string"), col("band"))))))
          .filter(col("rk") <= 32).select(col("band"), col("doc_id")))
      val pairs = graft.operators.Materialize.eager(
        members.as("x").join(members.as("y"),
            col("x.band") === col("y.band") &&
            col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
          .distinct())
      val inter = pairs
        .join(tok.select(col("doc_id").as("doc_a"), col("word")), "doc_a")
        .join(tok.select(col("doc_id").as("doc_b"), col("word")),
          Seq("doc_b", "word"))
        .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("ni"))
      val precise = inter
        .join(card.select(col("doc_id").as("doc_a"), col("nw").as("nwa")),
          "doc_a")
        .join(card.select(col("doc_id").as("doc_b"), col("nw").as("nwb")),
          "doc_b")
        .filter(expr("(ni * 1000) DIV (nwa + nwb - ni) >= 500"))
      val prec = pairs.agg(count(lit(1)).as("n_sampled_pairs"))
        .crossJoin(broadcast(precise.agg(count(lit(1)).as("n_precise"))))
      stats.crossJoin(broadcast(prec))
        .select(lit(b.toLong).as("n_bands"), lit(r.toLong).as("rows_per_band"),
          col("n_active_buckets"), col("max_bucket"),
          col("candidates_checked"), col("n_sampled_pairs"),
          col("n_precise"),
          expr("n_precise * 1000 DIV GREATEST(n_sampled_pairs, 1)")
            .as("precision_pm"))
    }
    // three independent band configs over the same sig/tok/card roots
    val rows = Seq(
      (array(
        concat(lit("a_"), col("mh0")), concat(lit("b_"), col("mh1")),
        concat(lit("c_"), col("mh2")), concat(lit("d_"), col("mh3"))), 4, 1),
      (array(
        concat(lit("a_"), col("mh0"), col("mh1")),
        concat(lit("b_"), col("mh2"), col("mh3"))), 2, 2),
      (array(
        concat(lit("a_"), col("mh0"), col("mh1"), col("mh2"), col("mh3"))),
        1, 4)).map { case (bands, b, r) => config(bands, b, r) }
    rows.reduce(_ unionByName _).orderBy(col("rows_per_band"))
  }

  val bandSweepSql: String = {
    val sig = minhashSignaturesSql.replace("ORDER BY doc_id", "")
    def nib(x: String, i: Int) =
      s"(strpos('0123456789abcdef', substring(md5($x), $i, 1)) - 1)"
    def hash16(x: String) =
      s"(${nib(x, 1)} * 4096 + ${nib(x, 2)} * 256 + " +
        s"${nib(x, 3)} * 16 + ${nib(x, 4)})"
    def cfg(p: String, bandsSql: String) =
      s"""${p}_banded AS (
         |  SELECT doc_id, UNNEST($bandsSql) AS band FROM sig),
         |${p}_buckets AS (
         |  SELECT band, COUNT(*) AS sz FROM ${p}_banded
         |  GROUP BY 1 HAVING COUNT(*) >= 2),
         |${p}_m AS (SELECT GREATEST(1, COUNT(*) // 32) AS m
         |  FROM ${p}_buckets),
         |${p}_sampled AS (
         |  SELECT band FROM ${p}_buckets, ${p}_m
         |  WHERE ${hash16("band")} % m = 0),
         |${p}_members AS (
         |  SELECT band, doc_id FROM (
         |    SELECT b.band, b.doc_id, ROW_NUMBER() OVER (
         |      PARTITION BY b.band
         |      ORDER BY md5(CAST(b.doc_id AS VARCHAR) || b.band)) AS rk
         |    FROM ${p}_banded b JOIN ${p}_sampled s ON b.band = s.band) t
         |  WHERE rk <= 32),
         |${p}_pairs AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM ${p}_members x JOIN ${p}_members y
         |    ON x.band = y.band AND x.doc_id < y.doc_id),
         |${p}_inter AS (
         |  SELECT pp.doc_a, pp.doc_b, COUNT(*) AS ni
         |  FROM ${p}_pairs pp JOIN tok ta ON ta.doc_id = pp.doc_a
         |  JOIN tok tb ON tb.doc_id = pp.doc_b AND ta.word = tb.word
         |  GROUP BY 1, 2),
         |${p}_prec AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_precise
         |  FROM ${p}_inter i JOIN card ca ON ca.doc_id = i.doc_a
         |  JOIN card cb ON cb.doc_id = i.doc_b
         |  WHERE (i.ni * 1000) // (ca.nw + cb.nw - i.ni) >= 500)""".stripMargin
    def row(p: String, b: Int, r: Int) =
      s"""SELECT CAST($b AS BIGINT) AS n_bands,
         |  CAST($r AS BIGINT) AS rows_per_band,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM ${p}_buckets)
         |    AS n_active_buckets,
         |  (SELECT CAST(COALESCE(MAX(sz), 0) AS BIGINT) FROM ${p}_buckets)
         |    AS max_bucket,
         |  (SELECT CAST(COALESCE(SUM(sz * (sz - 1) // 2), 0) AS BIGINT)
         |    FROM ${p}_buckets) AS candidates_checked,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM ${p}_pairs)
         |    AS n_sampled_pairs,
         |  (SELECT n_precise FROM ${p}_prec) AS n_precise,
         |  (SELECT n_precise FROM ${p}_prec) * 1000
         |    // GREATEST((SELECT COUNT(*) FROM ${p}_pairs), 1)
         |    AS precision_pm""".stripMargin
    s"""WITH sig AS ($sig),
       |tok AS (
       |  SELECT DISTINCT doc_id, w AS word FROM (
       |    SELECT doc_id, UNNEST(string_split_regex(text, '[^\\p{L}]+')) AS w
       |    FROM documents) t WHERE w <> ''),
       |card AS (SELECT doc_id, COUNT(*) AS nw FROM tok GROUP BY 1),
       |${cfg("c1", "['a_' || mh0, 'b_' || mh1, 'c_' || mh2, 'd_' || mh3]")},
       |${cfg("c2", "['a_' || mh0 || mh1, 'b_' || mh2 || mh3]")},
       |${cfg("c4", "['a_' || mh0 || mh1 || mh2 || mh3]")}
       |${row("c1", 4, 1)}
       |UNION ALL
       |${row("c2", 2, 2)}
       |UNION ALL
       |${row("c4", 1, 4)}
       |ORDER BY rows_per_band""".stripMargin
  }

  // ------------------------------------------ threshold sweep
  /** Near-dup CONFIRM-THRESHOLD SWEEP: the pipeline_corpus_build
    * survivorship rule ("drop a doc with a confirmed earlier
    * duplicate", capped at 16 md5-ordered candidates per doc)
    * evaluated at Jaccard thresholds 0.5 / 0.7 / 0.85 / 0.95 from
    * ONE capped-confirm pass — the measurement behind the pipeline's
    * 0.85 constant: confirmed-pair volume and corpus drop-rate per
    * threshold. Drop counts are the capped estimator's (conservative
    * -keep, same as the pipeline), stated rather than hidden.
    *
    * Scale shape: candidates and the 16-per-doc cap are the
    * pipeline's bounded stage 3 (one banded join + one rank window);
    * the Jaccard table is computed ONCE (O(docs · 16 · tokens)) and
    * the four thresholds are four tiny aggregations over it. */
  def thresholdSweep(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cand = lshCandidatePairs(s, d)
    val wCap = Window.partitionBy(col("doc_b")).orderBy(
      md5(concat(col("doc_a").cast("string"), lit("_"),
        col("doc_b").cast("string"))))
    val capped = cand.withColumn("rk", row_number().over(wCap))
      .filter(col("rk") <= 16).select(col("doc_a"), col("doc_b"))
    // materialized: card and both intersection joins read it
    val tok = graft.operators.Materialize.eager(tokDistinct(s, d))
    val card = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("nw"))
    val jac = graft.operators.Materialize.eager(capped
      .join(tok.select(col("doc_id").as("doc_a"), col("word")), "doc_a")
      .join(tok.select(col("doc_id").as("doc_b"), col("word")),
        Seq("doc_b", "word"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("ni"))
      .join(card.select(col("doc_id").as("doc_a"), col("nw").as("nwa")),
        "doc_a")
      .join(card.select(col("doc_id").as("doc_b"), col("nw").as("nwb")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"),
        expr("(ni * 1000) DIV (nwa + nwb - ni)").as("jac_pm")))
    val nDocs = documents(s, d).agg(count(lit(1)).as("n_docs"))
    val rows = Seq(500L, 700L, 850L, 950L).map { t =>
      val conf = jac.filter(col("jac_pm") >= t)
      conf.agg(count(lit(1)).as("n_confirmed_pairs"))
        .crossJoin(broadcast(conf.select(col("doc_b")).distinct()
          .agg(count(lit(1)).as("n_docs_dropped"))))
        .withColumn("threshold_pm", lit(t))
    }
    rows.reduce(_ unionByName _)
      .crossJoin(broadcast(nDocs))
      .withColumn("drop_pm", expr("n_docs_dropped * 1000 DIV n_docs"))
      .select(col("threshold_pm"), col("n_confirmed_pairs"),
        col("n_docs_dropped"), col("drop_pm"))
      .orderBy(col("threshold_pm"))
  }

  val thresholdSweepSql: String = {
    val sig = minhashSignaturesSql.replace("ORDER BY doc_id", "")
    val rows = Seq(500, 700, 850, 950).map { t =>
      s"""SELECT CAST($t AS BIGINT) AS threshold_pm,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM jac WHERE jac_pm >= $t)
         |    AS n_confirmed_pairs,
         |  (SELECT CAST(COUNT(DISTINCT doc_b) AS BIGINT) FROM jac
         |    WHERE jac_pm >= $t) AS n_docs_dropped,
         |  (SELECT COUNT(DISTINCT doc_b) FROM jac WHERE jac_pm >= $t)
         |    * 1000 // (SELECT COUNT(*) FROM documents) AS drop_pm"""
        .stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH sig AS ($sig),
       |banded AS (
       |  SELECT doc_id, 'b0_' || mh0 || '_' || mh1 AS band FROM sig
       |  UNION ALL
       |  SELECT doc_id, 'b1_' || mh2 || '_' || mh3 AS band FROM sig),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.doc_id < b.doc_id),
       |capped AS (
       |  SELECT doc_a, doc_b FROM (
       |    SELECT doc_a, doc_b, ROW_NUMBER() OVER (PARTITION BY doc_b
       |      ORDER BY md5(CAST(doc_a AS VARCHAR) || '_' ||
       |                   CAST(doc_b AS VARCHAR))) AS rk
       |    FROM pairs) t WHERE rk <= 16),
       |tok AS (
       |  SELECT DISTINCT doc_id, w AS word FROM (
       |    SELECT doc_id, UNNEST(string_split_regex(text, '[^\\p{L}]+')) AS w
       |    FROM documents) t WHERE w <> ''),
       |card AS (SELECT doc_id, COUNT(*) AS nw FROM tok GROUP BY 1),
       |inter AS (
       |  SELECT p.doc_a, p.doc_b, COUNT(*) AS ni
       |  FROM capped p JOIN tok a ON a.doc_id = p.doc_a
       |  JOIN tok b ON b.doc_id = p.doc_b AND a.word = b.word
       |  GROUP BY 1, 2),
       |jac AS (
       |  SELECT i.doc_a, i.doc_b,
       |    (i.ni * 1000) // (ca.nw + cb.nw - i.ni) AS jac_pm
       |  FROM inter i JOIN card ca ON ca.doc_id = i.doc_a
       |  JOIN card cb ON cb.doc_id = i.doc_b)
       |$rows
       |ORDER BY threshold_pm""".stripMargin
  }

  val queries: Map[String, Query] = Map(
    "dedup_growth_curve" -> Query(dedupGrowthCurve, dedupGrowthCurveSql),
    "doc_leakage_safe_split" ->
      Query(leakageSafeSplit, leakageSafeSplitSql, Some(leakageSafeSplitScripted)),
    "dedup_threshold_sweep" -> Query(thresholdSweep, thresholdSweepSql),
    "dedup_band_sweep" -> Query(bandSweep, bandSweepSql),
    "doc_wordcount" -> Query(wordCount, wordCountSql),
    "doc_inverted_index" -> Query(invertedIndex, invertedIndexSql),
    "doc_filter_group_count" -> Query(filterGroupCount, filterGroupCountSql),
    "doc_metadata_agg" -> Query(metadataAgg, metadataAggSql),
    "dedup_exact" -> Query(dedupExact, dedupExactSql),
    "dedup_minhash_sig" -> Query(minhashSignatures, minhashSignaturesSql),
    "dedup_lsh_pairs" -> Query(dedupLshPairs, dedupLshPairsSql),
    "dedup_clusters" -> Query(dedupClusters, dedupClustersSql, Some(dedupClustersScripted)),
    "dedup_cluster_density" ->
      Query(clusterDensity, clusterDensitySql, Some(clusterDensityScripted)),
    "dedup_incremental" -> Query(dedupIncremental, dedupIncrementalSql),
    "dedup_bloom_incremental" -> Query(dedupBloomIncremental, dedupBloomIncrementalSql),
    "dedup_ngram_jaccard" -> Query(ngramJaccard, ngramJaccardSql),
    "dedup_ngram_containment" -> Query(ngramContainment, ngramContainmentSql),
    "dedup_edit_confirm" -> Query(dedupEditConfirm, dedupEditConfirmSql),
    "text_quality" -> Query(textQuality, textQualitySql),
    "text_gopher_rules" -> Query(gopherRules, gopherRulesSql),
    "text_lang_id" -> Query(langIdSimple, langIdSql),
    "text_lang_confusion" -> Query(langConfusion, langConfusionSql),
    "text_token_count" -> Query(tokenCount, tokenCountSql),
    "text_fingerprint" -> Query(fingerprint, fingerprintSql))
}
