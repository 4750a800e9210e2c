package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.GraftFunctions
import graft.Query

/** SimHash near-dup detection over documents: one 64-bit fingerprint
  * per doc (native codegen'd expression), banded into 4×16-bit chunks
  * for LSH candidate generation. With hamming threshold 3 and 4 bands,
  * the pigeonhole principle guarantees every qualifying pair shares at
  * least one untouched band — candidate generation is COMPLETE, so the
  * banded plan equals brute force exactly (pinned by SimHashSpec).
  *
  * Scale shape: fingerprint pass is a projection (no shuffle); the
  * band self-join shuffles 4 rows/doc on 18-bit keys; no O(n²) stage.
  * No SQL oracle: simhash internals are engine-specific.
  */
object SimHashDedup {
  val HammingThreshold = 3

  def signatures(s: SparkSession, d: String): DataFrame = {
    GraftFunctions.registerAll(s)
    documents(s, d).select(col("doc_id"),
      GraftFunctions.simhash64(col("text")).as("sh"))
  }

  /** Candidate pairs sharing a 16-bit band, filtered to hamming <= 3. */
  def dedupSimhash(s: SparkSession, d: String): DataFrame = {
    // materialize the banded signatures (4 rows × 3 longs per doc):
    // both self-join sides would otherwise re-tokenize + re-md5 the
    // corpus. Cold-cache A/B at sf0.1: 0.71 s materialized vs 1.12 s
    // not. Materialize.eager: no CacheManager entry leaks to library
    // callers (policy + executor-loss trade-off in operators.Materialize)
    val sig = signatures(s, d)
    val banded = sig.select(col("doc_id"), col("sh"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("sh"), b * 16).bitwiseAND(lit(0xFFFFL))
            .as("chunk"))): _*)).as("bc"))
      .select(col("doc_id"), col("sh"),
        col("bc.band").as("band"), col("bc.chunk").as("chunk"))
      // same rule as dedup_lsh_pairs: repartition before materializing
      // so AQE's input-byte coalescing can't freeze this self-join's
      // probe side at 1-2 partitions (SCALING.md, round-4 landmine)
      .repartition(s.sparkContext.defaultParallelism)
    val bandedM = graft.operators.Materialize.eager(banded)
    val a = bandedM.as("a"); val b = bandedM.as("b")
    a.join(b, col("a.band") === col("b.band") &&
        col("a.chunk") === col("b.chunk") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("hamming"))
      // (placement is cosmetic: Catalyst pushes this deterministic
      // predicate below the distinct's shuffle either way)
      .filter(col("hamming") <= HammingThreshold)
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Brute-force reference: all pairs, same threshold (test oracle;
    * O(n²) — never the scale path). */
  def bruteForce(s: SparkSession, d: String): DataFrame = {
    val sig = signatures(s, d)
    val a = sig.select(col("doc_id").as("doc_a"), col("sh").as("sha"))
    val b = sig.select(col("doc_id").as("doc_b"), col("sh").as("shb"))
    a.join(b, col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sha").bitwiseXOR(col("shb"))).as("hamming"))
      .filter(col("hamming") <= HammingThreshold)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** DuckDB oracle: recompute the exact md5-nibble simhash in SQL.
    * Per token occurrence, per bit i: the vote is the i-th bit of the
    * first-8-bytes-big-endian of md5(token) — hex char 16 - i/4,
    * nibble bit i%4. Sign the 64 vote sums into a BIGINT and compare
    * all pairs at hamming <= 3 (O(n²) is fine for the oracle; the
    * Spark plan is the banded one, pigeonhole-equal per SimHashSpec). */
  /** tok + votes CTEs — the DuckDB twin of the native simhash64's
    * per-bit vote accumulation, shared by every simhash oracle. */
  private val tokVotesCte: String = {
    val votes = (0 until 64).map { i =>
      val ch = 16 - i / 4 // 1-indexed hex char holding bit i
      val bit = 1 << (i % 4)
      s"CAST(SUM(CASE WHEN ((strpos('0123456789abcdef', substring(m, $ch, 1)) - 1) & $bit) <> 0 THEN 1 ELSE -1 END) AS BIGINT) AS s$i"
    }.mkString(",\n    ")
    s"""tok AS (
       |  SELECT doc_id, md5(word) AS m
       |  FROM (SELECT doc_id,
       |          UNNEST(string_split_regex(text, '[^\\p{L}]+')) AS word
       |        FROM documents) t
       |  WHERE word <> ''),
       |votes AS (
       |  SELECT doc_id,
       |    $votes
       |  FROM tok GROUP BY doc_id)""".stripMargin
  }

  val dedupSimhashSql: String = {
    val sig = (0 until 63)
      .map(i => s"CASE WHEN s$i > 0 THEN ${1L << i} ELSE 0 END")
      .mkString(" +\n      ") +
      " +\n      CASE WHEN s63 > 0 THEN (-9223372036854775807 - 1) ELSE 0 END"
    s"""WITH $tokVotesCte,
       |sig AS (
       |  SELECT d.doc_id, CAST($sig AS BIGINT) AS sh
       |  FROM documents d LEFT JOIN votes v ON d.doc_id = v.doc_id)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sh, b.sh)) <= $HammingThreshold
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // --------------------------------------------- bit-balance audit
  /** SimHash fingerprint health: the 1-share of each of the 64 bits
    * across the corpus. A healthy simhash population sits near
    * 500 pm per bit; a bit pinned toward 0 or 1000 carries ~no
    * entropy, so the effective fingerprint is SHORTER than 64 bits
    * and every Hamming threshold silently loosens (more collisions
    * at the same cutoff). This is the index-health check to read
    * before trusting dedup_simhash's threshold semantics on a new
    * corpus — the simhash twin of emb_ivf_balance.
    *
    * Scale shape: the fingerprint projection every simhash consumer
    * pays, then ONE 65-column aggregate (64 codegen'd bit sums +
    * count) stack()ed into 64 rows — no join, no shuffle beyond the
    * single-row agg. */
  def simhashBitBalance(s: SparkSession, d: String): DataFrame = {
    val sig = signatures(s, d)
    val aggs = (0 until 64).map(i =>
      sum(shiftrightunsigned(col("sh"), i).bitwiseAND(lit(1L)))
        .cast("long").as(s"b$i"))
    val stackArgs = (0 until 64).map(i =>
      s"CAST($i AS BIGINT), b$i, b$i * 1000 DIV n_docs").mkString(",\n")
    sig.agg(count(lit(1)).as("n_docs"), aggs: _*)
      .select(expr(
        s"stack(64,\n$stackArgs)\nAS (bit_idx, n_ones, share_pm)"))
      .orderBy(col("bit_idx"))
  }

  val simhashBitBalanceSql: String = {
    val ones = (0 until 64).map(i =>
      s"CAST(COALESCE(SUM(CASE WHEN v.s$i > 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS o$i")
      .mkString(",\n    ")
    val rows = (0 until 64).map(i =>
      s"SELECT CAST($i AS BIGINT) AS bit_idx, o$i AS n_ones, " +
        s"o$i * 1000 // n AS share_pm FROM a")
      .mkString("\n  UNION ALL ")
    s"""WITH $tokVotesCte,
       |a AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    $ones
       |  FROM documents d LEFT JOIN votes v ON d.doc_id = v.doc_id)
       |SELECT * FROM (
       |  $rows)
       |ORDER BY bit_idx""".stripMargin
  }

  // --------------------------------------- cross-method agreement
  /** Dedup-method agreement audit: MinHash-LSH (token-set Jaccard)
    * and SimHash (weighted-bit cosine-ish) candidate sets compared
    * pair-by-pair — the QA matrix a pipeline inspects before trusting
    * either method's drop list. High both-count = methods corroborate;
    * a large single-method margin shows which similarity notion
    * (set overlap vs repeated-token weighting) is doing the work on
    * this corpus. Same spirit as dedup_lsh_precision but BETWEEN
    * methods instead of against exact Jaccard.
    *
    * Scale shape: both pair sets stay band-bucketed (each is its own
    * Σ bucket² join, never n²); the comparison is one full-outer
    * equi-join on the pair key and a 1-row rollup. */
  def methodAgreement(s: SparkSession, d: String): DataFrame = {
    // the UNSORTED pair accessor: this consumer aggregates, so the
    // oracle-facing sort is waste; materialized because the count
    // and the semi probe below both read it
    val lsh = graft.operators.Materialize.eager(
      Documents.lshCandidatePairs(s, d))
    // materialized: TWO consumers below (the n_sim count and the semi
    // probe side) would otherwise each re-run the banded simhash
    // self-join subtree
    val sim = graft.operators.Materialize.eager(
      dedupSimhash(s, d).select(col("doc_a"), col("doc_b")))
    // Both pair sets carry each pair EXACTLY once (the band join emits
    // pairs disjointly; dedupSimhash ends in distinct()), so the
    // full-outer rollup collapses to counting identities:
    // n_lsh_only = n_lsh − n_both and n_sim_only = n_sim − n_both.
    // The previous full-outer spelling forced a sort-merge join of the
    // Σ bucket²-sized LSH pair table against a ~dozen-row side (full
    // outer cannot broadcast — guide §3.1); this form scans the materialized
    // pair table twice (count + broadcast LEFT SEMI probe) and never
    // shuffles or sorts it. A/B + plan diff in OPTIMIZATION_r12.md;
    // value-identical, oracle hash unchanged.
    val nLsh = lsh.agg(count(lit(1)).cast("long").as("n_lsh"))
    val nSim = sim.agg(count(lit(1)).cast("long").as("n_sim"))
    // hintSmall (r13): sim is materialized ~dozen rows, so the semi
    // probe plans as a broadcast join statically and the materialized pair
    // table is never exchanged (the un-hinted initial plan was SMJ —
    // the shuffle write of the big side ran before AQE's rewrite)
    val nBoth = lsh.join(graft.operators.Materialize.hintSmall(sim),
        Seq("doc_a", "doc_b"), "left_semi")
      .agg(count(lit(1)).cast("long").as("n_both"))
    nLsh.crossJoin(broadcast(nSim)).crossJoin(broadcast(nBoth))
      .select(col("n_lsh"), col("n_sim"), col("n_both"),
        (col("n_lsh") - col("n_both")).as("n_lsh_only"),
        (col("n_sim") - col("n_both")).as("n_sim_only"))
  }

  val methodAgreementSql: String =
    s"""WITH lsh AS (
       |  SELECT doc_a, doc_b FROM (
       |${Documents.dedupLshPairsSql}
       |  ) tl),
       |sim AS (
       |  SELECT doc_a, doc_b FROM (
       |$dedupSimhashSql
       |  ) ts)
       |SELECT
       |  CAST((SELECT COUNT(*) FROM lsh) AS BIGINT) AS n_lsh,
       |  CAST((SELECT COUNT(*) FROM sim) AS BIGINT) AS n_sim,
       |  CAST((SELECT COUNT(*) FROM lsh JOIN sim USING (doc_a, doc_b))
       |    AS BIGINT) AS n_both,
       |  CAST((SELECT COUNT(*) FROM lsh ANTI JOIN sim USING (doc_a, doc_b))
       |    AS BIGINT) AS n_lsh_only,
       |  CAST((SELECT COUNT(*) FROM sim ANTI JOIN lsh USING (doc_a, doc_b))
       |    AS BIGINT) AS n_sim_only""".stripMargin

  val queries: Map[String, Query] = Map(
    "dedup_simhash" -> Query(dedupSimhash, dedupSimhashSql),
    "dedup_simhash_bit_balance" -> Query(simhashBitBalance, simhashBitBalanceSql),
    "dedup_method_agreement" -> Query(methodAgreement, methodAgreementSql))
}
