package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Query

/** Duplication-centrality ranking: damped PageRank over the bipartite
  * document ↔ band-hub graph of the MinHash-LSH banding (the same
  * banding dedup_lsh_pairs joins on).
  *
  * Why bipartite, not the pair graph: at 100 TB the materialized
  * pairwise dup graph is Σ bucket² rows — the one thing every dedup
  * query here avoids building. The doc↔band graph is O(docs × bands)
  * = O(n) edges and induces the same connectivity structure (two docs
  * are 2 hops apart iff they share a band), so mass still concentrates
  * on heavily-duplicated content — rank_fp is a "how much does the
  * corpus point at this document's content" score a curation pipeline
  * weights sources by.
  *
  * Band node identity is the band's HUB (min doc_id in the band — the
  * clique→star contraction dedup_clusters already uses), NOT a hash of
  * the band key: min is computed identically by any engine, so the
  * graph — and with operators.PageRank's fixed-point arithmetic, every
  * output bit — is engine-exact with zero hash-collision caveats.
  * Doc nodes live at id 2·doc_id, hub nodes at 2·hub+1 (disjoint
  * integer lanes); only doc nodes are emitted.
  */
object GraphRank {

  /** Doc↔band-hub incidence table (doc_id, hub), distinct: BOTH rank
    * queries over the bipartite duplication graph (pagerank_dups,
    * hits_scores) derive their edge lists from it. Band keys stay
    * md5-concat strings (the oracle groups on the same values). */
  private def docHubOf(s: SparkSession, d: String): DataFrame = {
    // materialized once: docBand feeds BOTH the hub aggregate and
    // the join back, and each side would otherwise recompute the
    // full MinHash signature pipeline (shingle + 4 hash folds/doc)
    val docBand = graft.operators.Materialize.eager(
      Documents.bandedSignatureProjection(graft.Tables.documents(s, d))
        .select(col("doc_id"), explode(array(col("b0"), col("b1"))).as("band")))
    val hubs = docBand.groupBy(col("band"))
      .agg(min(col("doc_id")).as("hub"))
    docBand.join(hubs, "band")
      .select(col("doc_id"), col("hub")).distinct()
  }

  def pagerankDupGraph(s: SparkSession, d: String): DataFrame = {
    // materialized: both edge directions read it
    val docHub = graft.operators.Materialize.eager(docHubOf(s, d))
    val edges = docHub
      .select((col("doc_id") * 2).as("src"), (col("hub") * 2 + 1).as("dst"))
      .union(docHub
        .select((col("hub") * 2 + 1).as("src"), (col("doc_id") * 2).as("dst")))
    graft.operators.PageRank.run(edges, nIter = 5)
      .filter(col("id") % 2 === 0)
      .select(expr("id DIV 2").as("doc_id"), col("rank_fp"))
      .orderBy(col("doc_id"))
  }

  val pagerankDupGraphSql: String = {
    val sig = Documents.minhashSignaturesSql.replace("ORDER BY doc_id", "")
    val nIter = 5
    // mirror of operators.PageRank's integer recurrence: // is BIGINT
    // floor division in DuckDB == Spark's DIV on the non-negative
    // mass here, and the CAST keeps SUM out of HUGEINT
    val iters = (1 to nIter).map { k =>
      s"""r$k AS (
         |  SELECT n.id, (SELECT b FROM consts) + COALESCE(s.m, 0) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst, CAST(SUM(((r.r // e.deg) * 85) // 100) AS BIGINT) AS m
         |    FROM edges e JOIN r${k - 1} r ON e.src = r.id
         |    GROUP BY e.dst) s ON n.id = s.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH sig AS ($sig),
       |doc_band AS (
       |  SELECT doc_id, 'b0_' || mh0 || '_' || mh1 AS band FROM sig
       |  UNION ALL
       |  SELECT doc_id, 'b1_' || mh2 || '_' || mh3 AS band FROM sig),
       |hubs AS (SELECT band, MIN(doc_id) AS hub FROM doc_band GROUP BY band),
       |doc_hub AS (
       |  SELECT DISTINCT d.doc_id, h.hub
       |  FROM doc_band d JOIN hubs h ON d.band = h.band),
       |e0 AS (
       |  SELECT doc_id * 2 AS src, hub * 2 + 1 AS dst FROM doc_hub
       |  UNION ALL
       |  SELECT hub * 2 + 1, doc_id * 2 FROM doc_hub),
       |edges AS (
       |  SELECT src, dst, COUNT(*) OVER (PARTITION BY src) AS deg FROM e0),
       |nodes AS (SELECT DISTINCT src AS id FROM e0),
       |consts AS (
       |  SELECT CAST(1000000000000 // COUNT(*) AS BIGINT) AS r0,
       |    CAST(((1000000000000 * 15) // 100) // COUNT(*) AS BIGINT) AS b
       |  FROM nodes),
       |r0 AS (SELECT id, (SELECT r0 FROM consts) AS r FROM nodes),
       |$iters
       |SELECT id // 2 AS doc_id, r AS rank_fp FROM r$nIter
       |WHERE id % 2 = 0 ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------- HITS
  /** HITS hub scores over the SAME doc↔band-hub bipartite graph as
    * [[pagerankDupGraph]], oriented doc→band: documents are the hub
    * side, band hubs the authority side, so `hub_fp` measures "how
    * much heavily-duplicated content does this doc carry" — the
    * complement diagnostic to PageRank's "how much does the corpus
    * point at this doc's content". A doc whose every band is shared
    * by a large clique scores high; a doc of singleton bands scores
    * the floor. Curation pipelines use the pair (rank_fp, hub_fp) to
    * split "canonical original" from "aggregator that copies many
    * originals" — the distinction one score alone cannot make.
    *
    * Arithmetic and scale shape live in [[graft.operators.Hits]]:
    * integer fixed-point with exact-division normalization (every
    * output bit engine-exact, mirrored by the unrolled oracle), two
    * O(E) joins per round on O(docs×bands)=O(n) edges, 1-row
    * broadcast normalizers, zero driver actions. */
  def hitsScores(s: SparkSession, d: String): DataFrame = {
    graft.operators.Hits.run(
        docHubOf(s, d).select(col("doc_id").as("src"), col("hub").as("dst")),
        nIter = HitsIters)
      .select(col("id").as("doc_id"), col("hub_fp"))
      .orderBy(col("doc_id"))
  }

  private[queries] val HitsIters = 4

  val hitsScoresSql: String = {
    val sig = Documents.minhashSignaturesSql.replace("ORDER BY doc_id", "")
    // mirror of operators.Hits: // is exact BIGINT floor division on
    // the non-negative mass here == Spark's DIV; CAST keeps SUM out
    // of HUGEINT; q = GREATEST(1, total // Scale) is the integer
    // normalizer both engines evaluate identically
    // every round CTE is referenced twice (its normalizer + its
    // divide), so MATERIALIZED is load-bearing: DuckDB would otherwise
    // inline the chain and re-evaluate it exponentially across rounds
    val iters = (1 to HitsIters).map { k =>
      s"""a${k}r AS MATERIALIZED (
         |  SELECT e.dst, CAST(SUM(h.hub_fp) AS BIGINT) AS ar
         |  FROM edges e JOIN h${k - 1} h ON e.src = h.id GROUP BY e.dst),
         |qa$k AS (SELECT GREATEST(1,
         |  CAST(SUM(ar) AS BIGINT) // 1000000000000) AS q FROM a${k}r),
         |a$k AS MATERIALIZED (
         |  SELECT dst, ar // (SELECT q FROM qa$k) AS a FROM a${k}r),
         |h${k}r AS MATERIALIZED (
         |  SELECT e.src, CAST(SUM(a.a) AS BIGINT) AS hr
         |  FROM edges e JOIN a$k a ON e.dst = a.dst GROUP BY e.src),
         |qh$k AS (SELECT GREATEST(1,
         |  CAST(SUM(hr) AS BIGINT) // 1000000000000) AS q FROM h${k}r),
         |h$k AS MATERIALIZED (
         |  SELECT src AS id, hr // (SELECT q FROM qh$k) AS hub_fp
         |  FROM h${k}r)""".stripMargin
    }.mkString(",\n")
    s"""WITH sig AS ($sig),
       |doc_band AS (
       |  SELECT doc_id, 'b0_' || mh0 || '_' || mh1 AS band FROM sig
       |  UNION ALL
       |  SELECT doc_id, 'b1_' || mh2 || '_' || mh3 AS band FROM sig),
       |hubs AS (SELECT band, MIN(doc_id) AS hub FROM doc_band GROUP BY band),
       |edges AS MATERIALIZED (
       |  SELECT DISTINCT d.doc_id AS src, h.hub AS dst
       |  FROM doc_band d JOIN hubs h ON d.band = h.band),
       |n_h AS (SELECT COUNT(DISTINCT src) AS n FROM edges),
       |h0 AS (
       |  SELECT DISTINCT src AS id,
       |    1000000000000 // (SELECT n FROM n_h) AS hub_fp
       |  FROM edges),
       |$iters
       |SELECT id AS doc_id, hub_fp FROM h$HitsIters ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------ triangle count
  /** Distributed triangle counting over the LSH candidate-pair graph,
    * plus the global clustering coefficient (closed/total wedges in
    * permille) — the dedup-QA diagnostic for transitive merging: a
    * triangle-dense candidate graph means dup clusters are cliquish
    * and the connected-components merge (dedup_clusters) is safe; a
    * triangle-sparse one means chains of borderline pairs are gluing
    * unrelated docs and the band parameters need tightening.
    *
    * Scale shape: the textbook wedge join is quadratic in the hottest
    * node's degree, so two defenses compose. (1) Edges are ORIENTED
    * from the lower-(degree, id) endpoint to the higher — every
    * triangle has exactly one node with two out-edges and is
    * enumerated once (Suri–Vassilvitskii). (2) Orientation alone is
    * NOT enough on this graph: LSH band buckets are cliques, and at
    * sf0.1 the candidate graph is 7.5 M edges at ~60% density, where
    * even oriented out-degrees reach the thousands — the un-capped
    * wedge join measured 54 GB of spill and >30 min (round 7). So
    * out-edges are CAPPED at K=64 per node, chosen deterministically
    * by md5 order — the standard sampled local-clustering estimator:
    * tested wedges are an unbiased-by-construction md5 sample, the
    * wedge join is HARD-bounded at O(n·K²) whatever the density, and
    * `n_triangles`/`closure_pm` are the sampled closure diagnostic
    * (exact whenever every out-degree ≤ K — all spec motifs).
    * `n_wedges` (the exact global wedge count) still comes from the
    * O(n) degree aggregate.
    *
    * One shuffle-volume refinement (A/B'd at sf0.1; bit-identical on
    * every spec motif): PRE-THIN before the rank window — a node of
    * degree > 2K keeps an out-edge only when u16·deg(src) < 2K·2¹⁶,
    * where u16 is the first 16 bits of the SAME md5 the rank orders
    * by (projected once, shared by filter and sort). A deterministic
    * Bernoulli(2K/deg) sample that shrinks the row_number sort from
    * every oriented edge (7.5 M at sf0.1) to ~356 k BEFORE it, at
    * zero extra joins (deg(src) is already bound during orientation).
    * Nodes with deg ≤ 2K=128 are untouched, so the capped set is
    * IDENTICAL to the plain ranked definition there (every spec
    * motif); hot nodes get the thinned sample ranked by the same
    * hash — still uniform, still deterministic, mirrored exactly in
    * the oracle via the nibble-decode idiom. (A (u,v)+multiplicity
    * pre-agg of the wedge stream before closure was A/B'd SLOWER:
    * wedges leave the self-join partitioned by src, so same-endpoint
    * wedges rarely share a map partition and the "combine" is just an
    * extra full shuffle.) Wedges close against the full undirected
    * edge set via one equi-join; the final 1-row aggregates combine
    * via broadcast (whitelisted in PlanSpec). */
  def triangleCount(s: SparkSession, d: String): DataFrame =
    triangleCountOn(Documents.lshCandidatePairs(s, d))

  private val CapK = 64

  /** Degree table of an undirected (u, v) edge list. */
  private def degreesOf(edges: DataFrame): DataFrame =
    edges.select(col("u").as("id")).union(edges.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("dg"))

  /** md5-ranked capped oriented adjacency (src, dst, rk ≤ [[CapK]]) of
    * an undirected edge list — the Suri–Vassilvitskii build both
    * [[triangleCount]] and [[localClustering]] consume: orient each
    * edge from the lower-(degree, id) endpoint, deterministic
    * Bernoulli(2K/deg) md5 pre-thin, then an md5-ordered rank so any
    * rk ≤ K′ ≤ K prefix is a deterministic out-degree cap. `deg`
    * must be MATERIALIZED by the caller (it feeds BOTH
    * orientation-join arms — lazy, the 2|E| agg re-runs per arm). */
  private def rankedAdjacencyOn(edges: DataFrame, deg: DataFrame)
      : DataFrame = {
    val fwd = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    // size-gated broadcast of the materialized O(V) degree table (r13):
    // the two orientation arms otherwise SMJ-plan and shuffle-write the
    // O(E) edge table twice before AQE's broadcast rewrite
    val degS = graft.operators.Materialize.hintSmall(deg)
    val oriented = edges
      .join(degS.select(col("id").as("u"), col("dg").as("du")), "u")
      .join(degS.select(col("id").as("v"), col("dg").as("dv")), "v")
      .select(when(fwd, col("u")).otherwise(col("v")).as("src"),
        when(fwd, col("v")).otherwise(col("u")).as("dst"),
        when(fwd, col("du")).otherwise(col("dv")).as("dsrc"))
    // deterministic Bernoulli(2K/deg) pre-thin on the SAME md5 the
    // rank below orders by: u16 = first 16 bits of the hex digest —
    // identity for deg(src) ≤ 2K, so the ranked result is unchanged
    // wherever the cap wasn't already sampling. The digest is
    // projected ONCE and shared by the thin filter and the rank order
    // (a second md5 pass over every oriented edge measured ~1 s).
    val hashed = oriented.withColumn("m",
      md5(concat(col("src").cast("string"), lit("|"),
        col("dst").cast("string"))))
    val thinned = hashed
      .filter(conv(substring(col("m"), 1, 4), 16, 10).cast("long") *
        col("dsrc") < lit(2L * CapK * 65536L))
      .select(col("src"), col("dst"), col("m"))
    // deterministic md5-ordered out-degree cap: a consumer's wedge
    // join is then bounded by n·C(K,2) rows no matter how dense the
    // graph; rk is kept so smaller-K consumers take a prefix
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src"))
      .orderBy(col("m"), col("dst"))
    thinned.withColumn("rk", row_number().over(wr))
      .filter(col("rk") <= CapK).select(col("src"), col("dst"), col("rk"))
  }

  /** Core count over caller-supplied undirected edges (doc_a < doc_b,
    * distinct) — separated so specs can plant known triangle motifs. */
  def triangleCountOn(pairs: DataFrame): DataFrame = {
    val edges = graft.operators.Materialize.eager(
      pairs.select(col("doc_a").as("u"), col("doc_b").as("v")))
    val deg = graft.operators.Materialize.eager(degreesOf(edges))
    triangleCountParts(edges, deg, rankedAdjacencyOn(edges, deg))
  }

  /** `deg` must be materialized (two consumers: the stats aggregate
    * and — via the caller — the build's orientation arms); `ranked`
    * may be lazy: its single reader below copies it into `capped`
    * for the three wedge/tested consumers (the A/B'd-fast form —
    * see BASELINE.md 2026-08-16). */
  private def triangleCountParts(edges: DataFrame, deg: DataFrame,
      ranked: DataFrame): DataFrame = {
    val capped = graft.operators.Materialize.eager(
      ranked.select(col("src"), col("dst")))
    // size-gated broadcast of the y-side (r13): the capped adjacency is
    // O(n·K) rows, so the self-join can build it as a hash relation and
    // produce wedges in the closure join's own map stage instead of
    // exchanging + sorting the capped table for an SMJ; past the
    // threshold the gate stops hinting (same rows either way)
    val x = capped.as("x")
    val y = graft.operators.Materialize.hintSmall(capped).as("y")
    // two out-edges from one src; dst order makes (u,v) match the
    // undirected edge convention u < v
    val wedges = x.join(y,
        col("x.src") === col("y.src") && col("x.dst") < col("y.dst"))
      .select(col("x.dst").as("u"), col("y.dst").as("v"))
    val triRow = wedges.join(edges, Seq("u", "v"))
      .agg(count(lit(1)).as("n_triangles"))
    val testedRow = capped.groupBy(col("src"))
      .agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(expr("c * (c - 1) DIV 2")), lit(0L)).cast("long")
        .as("n_wedges_tested"))
    val nodeRow = deg.agg(count(lit(1)).as("n_nodes"),
      coalesce(sum(expr("dg * (dg - 1) DIV 2")), lit(0L)).cast("long")
        .as("n_wedges"))
    val edgeRow = edges.agg(count(lit(1)).as("n_edges"))
    nodeRow.join(broadcast(edgeRow)).join(broadcast(testedRow))
      .join(broadcast(triRow))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_wedges_tested"), col("n_triangles"),
        when(col("n_wedges_tested") === 0, lit(0L))
          .otherwise(expr("n_triangles * 1000 DIV n_wedges_tested"))
          .as("closure_pm"))
  }

  val triangleCountSql: String = {
    val sig = Documents.minhashSignaturesSql.replace("ORDER BY doc_id", "")
    s"""WITH sig AS ($sig),
       |banded AS (
       |  SELECT doc_id, 'b0_' || mh0 || '_' || mh1 AS band FROM sig
       |  UNION ALL
       |  SELECT doc_id, 'b1_' || mh2 || '_' || mh3 AS band FROM sig),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.doc_id < b.doc_id),
       |deg AS (
       |  SELECT id, COUNT(*) AS dg FROM (
       |    SELECT u AS id FROM pairs UNION ALL SELECT v FROM pairs) t
       |  GROUP BY id),
       |oriented AS (
       |  SELECT
       |    CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND u < v)
       |         THEN u ELSE v END AS src,
       |    CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND u < v)
       |         THEN v ELSE u END AS dst,
       |    CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND u < v)
       |         THEN du.dg ELSE dv.dg END AS dsrc
       |  FROM pairs
       |  JOIN deg du ON du.id = u
       |  JOIN deg dv ON dv.id = v),
       |thinned AS (
       |  SELECT src, dst FROM (
       |    SELECT src, dst, dsrc,
       |      md5(CAST(src AS VARCHAR) || '|' || CAST(dst AS VARCHAR)) AS m
       |    FROM oriented) h
       |  WHERE ((strpos('0123456789abcdef', substring(m, 1, 1)) - 1) * 4096
       |       + (strpos('0123456789abcdef', substring(m, 2, 1)) - 1) * 256
       |       + (strpos('0123456789abcdef', substring(m, 3, 1)) - 1) * 16
       |       + (strpos('0123456789abcdef', substring(m, 4, 1)) - 1))
       |      * dsrc < 8388608),
       |capped AS (
       |  SELECT src, dst FROM (
       |    SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src
       |      ORDER BY md5(CAST(src AS VARCHAR) || '|' ||
       |        CAST(dst AS VARCHAR)), dst) AS rk
       |    FROM thinned) r WHERE rk <= 64),
       |wedges AS (
       |  SELECT x.dst AS u, y.dst AS v
       |  FROM capped x JOIN capped y
       |    ON x.src = y.src AND x.dst < y.dst),
       |tri AS (
       |  SELECT COUNT(*) AS n_triangles
       |  FROM wedges w JOIN pairs e ON w.u = e.u AND w.v = e.v),
       |tested AS (
       |  SELECT CAST(COALESCE(SUM(c * (c - 1) // 2), 0) AS BIGINT)
       |    AS n_wedges_tested
       |  FROM (SELECT COUNT(*) AS c FROM capped GROUP BY src) g),
       |node_stats AS (
       |  SELECT COUNT(*) AS n_nodes,
       |    CAST(COALESCE(SUM(dg * (dg - 1) // 2), 0) AS BIGINT) AS n_wedges
       |  FROM deg),
       |edge_stats AS (SELECT COUNT(*) AS n_edges FROM pairs)
       |SELECT n_nodes, n_edges, n_wedges, n_wedges_tested, n_triangles,
       |  CASE WHEN n_wedges_tested = 0 THEN 0
       |       ELSE n_triangles * 1000 // n_wedges_tested END AS closure_pm
       |FROM node_stats, edge_stats, tested, tri""".stripMargin
  }

  // --------------------------------------- local clustering histogram
  /** Distribution of per-node LOCAL clustering over the LSH candidate
    * graph — the node-granular companion to [[triangleCount]]'s global
    * closure rate: one histogram row per cc decile, where a node's cc
    * is the closed fraction of wedges among its capped out-neighbors.
    * Bimodal mass (spikes at 0 and 1000 permille) means the graph is
    * cleanly split into cliquish dup clusters + chains; mid-range mass
    * means borderline pairs are gluing clusters and the CC merge needs
    * tighter bands — a finer instrument than one global number.
    *
    * Same Suri–Vassilvitskii machinery as [[triangleCount]] — in fact
    * the SAME ranked adjacency ([[rankedAdjacencyOn]]: degree
    * orientation, deterministic md5 Bernoulli pre-thin, md5-ordered
    * rank), of which this query takes the rk ≤
    * [[LocalCapK]] = 32 prefix: the wedge join is HARD-bounded at
    * O(n·C(K,2)) whatever the density, each node's cc is the standard
    * md5-sampled estimator (exact whenever its oriented out-degree
    * ≤ K — every spec motif), and `sum_wedges` per bucket is the
    * tested-denominator honesty column. Centers with fewer than 2
    * capped out-edges have no wedge to test and are excluded (their
    * cc is undefined, not zero). */
  def localClustering(s: SparkSession, d: String): DataFrame =
    localClusteringOn(Documents.lshCandidatePairs(s, d))

  private val LocalCapK = 32

  /** Core histogram over caller-supplied undirected edges (doc_a <
    * doc_b, distinct) — separated so specs can plant known motifs. */
  def localClusteringOn(pairs: DataFrame): DataFrame = {
    val edges = graft.operators.Materialize.eager(
      pairs.select(col("doc_a").as("u"), col("doc_b").as("v")))
    localClusteringParts(edges,
      graft.operators.Materialize.eager(rankedAdjacencyOn(edges,
        graft.operators.Materialize.eager(degreesOf(edges)))))
  }

  private def localClusteringParts(edges: DataFrame,
      ranked: DataFrame): DataFrame = {
    // K = 32 cap = the rk ≤ 32 PREFIX of triangle_count's K = 64
    // ranking (same md5 order, same 2·64 pre-thin): a deterministic
    // md5 sample, identical to a direct K = 32 rank wherever
    // out-degrees ≤ 64·2, from the one ranked-adjacency construction
    val capped = ranked.filter(col("rk") <= LocalCapK)
      .select(col("src"), col("dst"))
    // size-gated broadcast of the y-side (r13, triangleCountParts note)
    val x = capped.as("x")
    val y = graft.operators.Materialize.hintSmall(capped).as("y")
    val wedges = x.join(y,
        col("x.src") === col("y.src") && col("x.dst") < col("y.dst"))
      .select(col("x.src").as("src"),
        col("x.dst").as("u"), col("y.dst").as("v"))
    val closed = wedges.join(edges, Seq("u", "v"))
      .groupBy(col("src")).agg(count(lit(1)).as("cl"))
    val centers = capped.groupBy(col("src"))
      .agg(count(lit(1)).as("c")).filter(col("c") >= 2)
      .select(col("src"), expr("c * (c - 1) DIV 2").as("w"))
    centers.join(closed, Seq("src"), "left")
      .select(col("src"), col("w"),
        coalesce(col("cl"), lit(0L)).as("cl"))
      .select(col("w"), col("cl"),
        expr("cl * 1000 DIV w").as("cc_pm"))
      .groupBy(expr("cc_pm DIV 100").as("bucket"))
      .agg(count(lit(1)).as("n_centers"),
        sum(col("cl")).cast("long").as("sum_closed"),
        sum(col("w")).cast("long").as("sum_wedges"))
      .orderBy(col("bucket"))
  }

  val localClusteringSql: String = {
    val sig = Documents.minhashSignaturesSql.replace("ORDER BY doc_id", "")
    // mirrors the K=64 ranking (pre-thin threshold 2·64·2¹⁶ =
    // 8388608, identical to triangle_count's CTEs) then takes the
    // rk ≤ LocalCapK = 32 prefix — the engine reads the same prefix
    // of the same ranked adjacency
    s"""WITH sig AS ($sig),
       |banded AS (
       |  SELECT doc_id, 'b0_' || mh0 || '_' || mh1 AS band FROM sig
       |  UNION ALL
       |  SELECT doc_id, 'b1_' || mh2 || '_' || mh3 AS band FROM sig),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.doc_id < b.doc_id),
       |deg AS (
       |  SELECT id, COUNT(*) AS dg FROM (
       |    SELECT u AS id FROM pairs UNION ALL SELECT v FROM pairs) t
       |  GROUP BY id),
       |oriented AS (
       |  SELECT
       |    CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND u < v)
       |         THEN u ELSE v END AS src,
       |    CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND u < v)
       |         THEN v ELSE u END AS dst,
       |    CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND u < v)
       |         THEN du.dg ELSE dv.dg END AS dsrc
       |  FROM pairs
       |  JOIN deg du ON du.id = u
       |  JOIN deg dv ON dv.id = v),
       |thinned AS (
       |  SELECT src, dst FROM (
       |    SELECT src, dst, dsrc,
       |      md5(CAST(src AS VARCHAR) || '|' || CAST(dst AS VARCHAR)) AS m
       |    FROM oriented) h
       |  WHERE ((strpos('0123456789abcdef', substring(m, 1, 1)) - 1) * 4096
       |       + (strpos('0123456789abcdef', substring(m, 2, 1)) - 1) * 256
       |       + (strpos('0123456789abcdef', substring(m, 3, 1)) - 1) * 16
       |       + (strpos('0123456789abcdef', substring(m, 4, 1)) - 1))
       |      * dsrc < 8388608),
       |capped AS (
       |  SELECT src, dst FROM (
       |    SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src
       |      ORDER BY md5(CAST(src AS VARCHAR) || '|' ||
       |        CAST(dst AS VARCHAR)), dst) AS rk
       |    FROM thinned) r WHERE rk <= 32),
       |wedges AS (
       |  SELECT x.src AS src, x.dst AS u, y.dst AS v
       |  FROM capped x JOIN capped y
       |    ON x.src = y.src AND x.dst < y.dst),
       |closed AS (
       |  SELECT src, COUNT(*) AS cl
       |  FROM wedges w JOIN pairs e ON w.u = e.u AND w.v = e.v
       |  GROUP BY src),
       |centers AS (
       |  SELECT src, c * (c - 1) // 2 AS w FROM (
       |    SELECT src, COUNT(*) AS c FROM capped GROUP BY src) g
       |  WHERE c >= 2),
       |cc AS (
       |  SELECT ct.w, COALESCE(cl.cl, 0) AS cl,
       |    (COALESCE(cl.cl, 0) * 1000) // ct.w AS cc_pm
       |  FROM centers ct LEFT JOIN closed cl ON ct.src = cl.src)
       |SELECT cc_pm // 100 AS bucket,
       |  CAST(COUNT(*) AS BIGINT) AS n_centers,
       |  CAST(SUM(cl) AS BIGINT) AS sum_closed,
       |  CAST(SUM(w) AS BIGINT) AS sum_wedges
       |FROM cc GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // --------------------------------------- degree assortativity
  /** Degree assortativity of the LSH candidate graph: the Pearson
    * correlation of endpoint degrees over all edges (both directions),
    * in milli units. Positive = duplicate-rich docs link to other
    * duplicate-rich docs (template floods form dense cores); negative
    * = hub-and-spoke (one canonical page copied by many singletons).
    * The graph-audit companion to the triangle closure rate.
    *
    * Numerics: moments are computed on MEAN-CENTERED integer degrees
    * (center = the 1-row broadcast ⌊Σdeg/2E⌋ — truncation identical
    * on both engines), which keeps every SUM exactly inside int64
    * (centered Sxx ≤ E·2·maxdeg² ≈ 4e12 here; the RAW second moments
    * would put n·sxy at ~6e19, past int64, and their double
    * difference would cancel catastrophically). Only the FINAL ratio
    * evaluates in doubles — and with centered sums the subtracted
    * terms are ~1e6× smaller than the leading ones, so there is no
    * cancellation and the IEEE evaluation is deterministic on both
    * engines; snap ×1000 (the dimCovariance Pearson stance).
    *
    * Scale shape: edges come from the banded LSH join (Σ bucket², the
    * tier's declared cost); degrees are one hash-agg; the centered
    * moment pass is one linear scan with map-side combine; the center
    * is a 1-row broadcast (whitelisted). Nothing is quadratic beyond
    * the candidate generation every dedup query already pays. */
  def degreeAssortativity(s: SparkSession, d: String): DataFrame = {
    val edges = graft.operators.Materialize.eager(
      Documents.lshCandidatePairs(s, d)
        .select(col("doc_a").as("u"), col("doc_b").as("v")))
    // materialized: center, the neighbor-sum join (size-gated
    // broadcast) and the node-level join all read it
    val deg = graft.operators.Materialize.eager(degreesOf(edges))
    // any constant center preserves Pearson exactly (shift-invariant);
    // ⌊mean node degree⌋ keeps the deviations maxdeg-bounded
    val center = deg.agg(count(lit(1)).as("n_nodes"),
      sum(col("dg")).as("sdg"))
      .select(col("n_nodes"), expr("sdg DIV n_nodes").as("mu"),
        expr("sdg DIV 2").as("n_edges"))
    // ONE edge-level join, not two (A/B'd 4.4 → 3.0 s at sf0.1): per
    // node, the neighbor centered-degree sum S'(v) = Σ_{u∈N(v)} du'
    // needs only deg(other); the directed moments then collapse to
    // NODE-level identities — Σ_dir x·y = Σ_v dv'·S'(v), Σ_dir x =
    // Σ_v deg(v)·dv', Σ_dir x² = Σ_v deg(v)·dv'² — exact integer
    // equalities, so the output (and the oracle) is bit-unchanged.
    val directed = edges.select(col("u").as("node"), col("v").as("other"))
      .union(edges.select(col("v").as("node"), col("u").as("other")))
    // size-gated broadcast of the degree table (r13): the 2|E|
    // directed stream was shuffle-written for the SMJ-planned join
    // before AQE's broadcast rewrite
    val nbrSum = directed.crossJoin(broadcast(center))
      .join(graft.operators.Materialize.hintSmall(deg)
        .select(col("id").as("other"), col("dg").as("dgo")), "other")
      .groupBy(col("node"))
      .agg(sum(col("dgo") - col("mu")).as("s1"))
    deg.select(col("id").as("node"), col("dg"))
      .join(nbrSum, "node")
      .crossJoin(broadcast(center))
      .select(col("n_nodes"), col("n_edges"),
        (col("dg") - col("mu")).as("dv"), col("dg"), col("s1"))
      .agg(max(col("n_nodes")).as("n_nodes"),
        max(col("n_edges")).as("n_edges"),
        (sum(col("dg")) / 2).cast("long").as("ne"),
        sum(col("dg") * col("dv")).as("sx"),
        sum(col("dv") * col("s1")).as("sxy"),
        sum(col("dg") * col("dv") * col("dv")).as("sxx"))
      .withColumn("assortativity_milli", expr(
        """CASE WHEN CAST(2 * ne AS DOUBLE) * CAST(sxx AS DOUBLE)
          |  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0.0D THEN 0L
          |ELSE CAST(FLOOR((CAST(2 * ne AS DOUBLE) * CAST(sxy AS DOUBLE)
          |  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          |  / (CAST(2 * ne AS DOUBLE) * CAST(sxx AS DOUBLE)
          |  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * 1000 + 0.5)
          |AS BIGINT) END""".stripMargin))
      .select(col("n_nodes"), col("n_edges"), col("assortativity_milli"))
  }

  val degreeAssortativitySql: String = {
    val sig = Documents.minhashSignaturesSql.replace("ORDER BY doc_id", "")
    s"""WITH sig AS ($sig),
       |banded AS (
       |  SELECT doc_id, 'b0_' || mh0 || '_' || mh1 AS band FROM sig
       |  UNION ALL
       |  SELECT doc_id, 'b1_' || mh2 || '_' || mh3 AS band FROM sig),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.doc_id < b.doc_id),
       |deg AS (
       |  SELECT id, CAST(COUNT(*) AS BIGINT) AS dg FROM (
       |    SELECT u AS id FROM pairs UNION ALL SELECT v FROM pairs) t
       |  GROUP BY id),
       |ctr AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |    CAST(SUM(dg) AS BIGINT) // COUNT(*) AS mu,
       |    CAST(SUM(dg) // 2 AS BIGINT) AS n_edges
       |  FROM deg),
       |mo AS (
       |  SELECT MAX(n_nodes) AS n_nodes, MAX(n_edges) AS n_edges,
       |    COUNT(*) AS ne,
       |    CAST(SUM((du.dg - mu) + (dv.dg - mu)) AS BIGINT) AS sx,
       |    CAST(SUM((du.dg - mu) * (dv.dg - mu) * 2) AS BIGINT) AS sxy,
       |    CAST(SUM((du.dg - mu) * (du.dg - mu)
       |           + (dv.dg - mu) * (dv.dg - mu)) AS BIGINT) AS sxx
       |  FROM pairs
       |  JOIN deg du ON du.id = u
       |  JOIN deg dv ON dv.id = v
       |  CROSS JOIN ctr)
       |SELECT n_nodes, n_edges,
       |  CASE WHEN CAST(2 * ne AS DOUBLE) * CAST(sxx AS DOUBLE)
       |    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0.0 THEN 0
       |  ELSE CAST(FLOOR((CAST(2 * ne AS DOUBLE) * CAST(sxy AS DOUBLE)
       |    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |    / (CAST(2 * ne AS DOUBLE) * CAST(sxx AS DOUBLE)
       |    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * 1000 + 0.5)
       |  AS BIGINT) END AS assortativity_milli
       |FROM mo""".stripMargin
  }

  // --------------------------------------------- k-core (truncated)
  /** 3-core of the LSH candidate graph by iterative peeling: rounds
    * of "drop every node with degree < k, keep edges whose both
    * endpoints survive", run to FIXPOINT under a declared 32-round
    * budget. The k-core is the dense heart of the duplicate graph —
    * template floods and mirror farms live in it; singleton-ish
    * near-dups don't. Output is one row: initial/core node and edge
    * counts plus a `converged` flag (1 = the final round found
    * nothing below k, i.e. the TRUE k-core was reached).
    *
    * The budget is a declared TRUNCATION, not a hidden one:
    * adversarial chains can need O(n) peels (each round removes one
    * node), which no fixed unroll covers — but the fixpoint
    * early-exit means the budget costs nothing when unused, so it is
    * sized (32) so that converged=1 is the observed invariant at
    * every fixture SF AND the 10x rehearsal graph (which exhausted
    * the old 8-round budget). The DuckDB oracle unrolls the
    * identical 32 rounds as chained materialized CTEs — the
    * bpeTrainSql pattern applied to graph peeling; post-convergence
    * rounds are identity on both sides, keeping the outputs
    * bit-equal at any budget ≥ the convergence round.
    *
    * Scale shape: each round is one degree hash-agg + two semi-joins
    * keyed on node id over the surviving edges — O(edges) per round
    * with map-side combine, materialized per round (the PageRank
    * checkpoint discipline, here each intermediate feeds two
    * consumers). No collect anywhere: the converged flag is computed
    * in-plan from the final degree table. */
  def kcore(s: SparkSession, d: String): DataFrame =
    kcoreOn(Documents.lshCandidatePairs(s, d))

  private[queries] val CoreK = 3
  // 32-round budget: with the fixpoint early-exit the Spark side only
  // pays for rounds that change something, so the budget is pure
  // insurance — sized so `converged=1` is the invariant, not the hope
  // (the round-8 10x rehearsal graph needed >8 peels; 32 covers it
  // with 12 rounds to spare — see SCALING.md). The DuckDB oracle
  // unrolls the same 32 rounds; post-convergence rounds are provably
  // identity so the truncated and fixpoint answers stay bit-equal.
  private[queries] val CoreRounds = 32

  /** Core over caller-supplied undirected edges — separated so specs
    * can plant known cores and slow-peeling tails. */
  def kcoreOn(pairs: DataFrame, k: Int = CoreK, rounds: Int = CoreRounds)
      : DataFrame = {
    def degrees(e: DataFrame): DataFrame =
      e.select(col("u").as("id")).union(e.select(col("v").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("dg"))
    var edges = graft.operators.Materialize.eager(
      pairs.select(col("doc_a").as("u"), col("doc_b").as("v")))
    // The round's degree table is MATERIALIZED once per edge set and
    // every consumer reads the stored O(V) blocks: the
    // n_nodes_initial audit column, the round's keep filter, and the
    // final n_core_nodes/n_below aggregate. The previous form
    // recomputed the 2|E| degree agg per consumer — nInit + init +
    // one per round + fin ≈ rounds+3 full O(E) passes; this form pays
    // exactly one per DISTINCT edge set (r12 optimization round,
    // guide §2.4 — the values are identical, only the pass count
    // changes; A/B in OPTIMIZATION_r12.md).
    // the initial node count is observed inside deg's own fill job
    val degRows = org.apache.spark.sql.Observation()
    var deg = graft.operators.Materialize.eager(
      degrees(edges).observe(degRows, count(lit(1)).as("n")))
    val nInit = degRows.get("n").asInstanceOf[Long]
    val init = deg.agg(count(lit(1)).as("n_nodes_initial"))
      .crossJoin(broadcast(edges.agg(count(lit(1)).as("n_edges_initial"))))
    // early exit on fixpoint: once a round drops no node, every later
    // round is the identity (e_{r+1} = e_r exactly), so skipping them
    // cannot change the output — the 8-round DuckDB unroll computes
    // the same no-ops and stays bit-equal. The per-round survivor
    // count is ONE bounded scalar to the driver (the CC convergence
    // discipline); without it the dense candidate graph pays 8 full
    // edge-join rounds for a peel that converges in 2 (A/B at sf0.1:
    // 24.1 s in-suite → the post-convergence rounds were ~3/4 of it).
    // prevNodes starts at the INITIAL node count (not a sentinel):
    // a graph that is already a k-core then exits before paying a
    // single identity edge-join round, and `rounds_used` counts
    // exactly the rounds that dropped something — the definition the
    // oracle's count-transition sum mirrors
    var prevNodes = nInit
    var r = 0
    while (r < rounds && {
      // the survivor count is observed inside keep's own fill job
      val kept = org.apache.spark.sql.Observation()
      val keep = graft.operators.Materialize.eager(
        deg.filter(col("dg") >= k).select(col("id"))
          .observe(kept, count(lit(1)).as("n")))
      val nKeep = kept.get("n").asInstanceOf[Long]
      val changed = nKeep != prevNodes
      if (changed) {
        prevNodes = nKeep
        // size-gated broadcast of the O(V) keep set (r13, the LPA-core
        // discipline): without it the initial plan is SMJ and the O(E)
        // edge table is shuffle-written per peel round even though AQE
        // rewrites to broadcast; past the threshold the gate stops
        // hinting and the plan reverts. Values unchanged (same joins).
        val keepS = graft.operators.Materialize.hintSmall(keep)
        edges = graft.operators.Materialize.eager(
          edges
            .join(keepS.select(col("id").as("u")), "u")
            .join(keepS.select(col("id").as("v")), "v")
            .select(col("u"), col("v")))
        deg = graft.operators.Materialize.eager(degrees(edges))
      }
      changed
    }) r += 1
    val fin = deg
      .agg(count(lit(1)).as("n_core_nodes"),
        coalesce(sum(when(col("dg") < k, 1L).otherwise(0L)), lit(0L))
          .as("n_below"))
      .crossJoin(broadcast(edges.agg(count(lit(1)).as("n_core_edges"))))
    init.crossJoin(broadcast(fin))
      .select(col("n_nodes_initial"), col("n_edges_initial"),
        col("n_core_nodes"), col("n_core_edges"),
        when(col("n_below") === 0, 1L).otherwise(0L).as("converged"),
        // rounds that actually dropped a node — the honesty column
        // that decomposes wall-clock into rounds x O(E) in the
        // scaling rehearsal (post-convergence rounds cost nothing)
        lit(r.toLong).as("rounds_used"))
  }

  val kcoreSql: String = {
    val sig = Documents.minhashSignaturesSql.replace("ORDER BY doc_id", "")
    // rounds that dropped a node = transitions in the surviving-node
    // count (peeling is monotone, so count-equal <=> no drop); c0 is
    // the full node set, c_r the round-r keep set
    val roundsUsedSql = (1 to CoreRounds).map { r =>
      val prev = if (r == 1) "(SELECT COUNT(*) FROM d0)"
        else s"(SELECT COUNT(*) FROM k${r - 1})"
      s"""CASE WHEN (SELECT COUNT(*) FROM k$r) <> $prev
         |    THEN 1 ELSE 0 END""".stripMargin
    }.mkString("(", " +\n", ")")
    val peel = (1 to CoreRounds).map { r =>
      val p = r - 1
      s"""d$r AS MATERIALIZED (
         |  SELECT id, COUNT(*) AS dg FROM (
         |    SELECT u AS id FROM e$p UNION ALL SELECT v FROM e$p) t
         |  GROUP BY id),
         |k$r AS MATERIALIZED (SELECT id FROM d$r WHERE dg >= $CoreK),
         |e$r AS MATERIALIZED (
         |  SELECT e.u, e.v FROM e$p e
         |  JOIN k$r a ON e.u = a.id JOIN k$r b ON e.v = b.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH sig AS ($sig),
       |banded AS (
       |  SELECT doc_id, 'b0_' || mh0 || '_' || mh1 AS band FROM sig
       |  UNION ALL
       |  SELECT doc_id, 'b1_' || mh2 || '_' || mh3 AS band FROM sig),
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.doc_id < b.doc_id),
       |d0 AS (
       |  SELECT id, COUNT(*) AS dg FROM (
       |    SELECT u AS id FROM e0 UNION ALL SELECT v FROM e0) t
       |  GROUP BY id),
       |$peel,
       |dfin AS (
       |  SELECT id, COUNT(*) AS dg FROM (
       |    SELECT u AS id FROM e$CoreRounds
       |    UNION ALL SELECT v FROM e$CoreRounds) t
       |  GROUP BY id)
       |SELECT
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM d0) AS n_nodes_initial,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e0) AS n_edges_initial,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM dfin) AS n_core_nodes,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e$CoreRounds) AS n_core_edges,
       |  CASE WHEN (SELECT COUNT(*) FROM dfin WHERE dg < $CoreK) = 0
       |    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS converged,
       |  CAST($roundsUsedSql AS BIGINT) AS rounds_used
       |""".stripMargin
  }

  /** Scripted bench-scale oracle for [[kcore]] (graft.ScriptedOracle
    * contract): the 32-round unrolled MATERIALIZED-CTE chain above
    * still plans as ONE statement and exceeds the 600 s budget at
    * sf0.1; this recipe runs the identical peel as per-round temp
    * tables with the engine's own fixpoint early-exit (stop = nodes
    * dropped this round). Truncation semantics match the engine
    * exactly — same [[CoreRounds]] budget, same rounds_used counting
    * (rounds that dropped a node), post-convergence rounds provably
    * identity — so no requireFixpoint. */
  val kcoreScripted: graft.ScriptedOracle = {
    val sig = Documents.minhashSignaturesSql.replace("ORDER BY doc_id", "")
    graft.ScriptedOracle(
      setup = Seq(
        s"CREATE TEMP TABLE sigt AS $sig",
        """CREATE TEMP TABLE bandedt AS
          |SELECT doc_id, 'b0_' || mh0 || '_' || mh1 AS band FROM sigt
          |UNION ALL
          |SELECT doc_id, 'b1_' || mh2 || '_' || mh3 AS band FROM sigt""".stripMargin,
        """CREATE TEMP TABLE e0 AS
          |SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
          |FROM bandedt a JOIN bandedt b
          |  ON a.band = b.band AND a.doc_id < b.doc_id""".stripMargin,
        """CREATE TEMP TABLE d0 AS
          |SELECT id, COUNT(*) AS dg FROM (
          |  SELECT u AS id FROM e0 UNION ALL SELECT v FROM e0) t
          |GROUP BY id""".stripMargin,
        "CREATE TEMP TABLE k0 AS SELECT id FROM d0"),
      round = Seq(
        """CREATE TEMP TABLE d{r} AS
          |SELECT id, COUNT(*) AS dg FROM (
          |  SELECT u AS id FROM e{p} UNION ALL SELECT v FROM e{p}) t
          |GROUP BY id""".stripMargin,
        s"CREATE TEMP TABLE k{r} AS SELECT id FROM d{r} WHERE dg >= $CoreK",
        """CREATE TEMP TABLE e{r} AS
          |SELECT e.u, e.v FROM e{p} e
          |JOIN k{r} a ON e.u = a.id JOIN k{r} b ON e.v = b.id""".stripMargin),
      // peeling is monotone, so count-equal <=> no node dropped (the
      // engine's own early-exit test)
      stop = "SELECT (SELECT COUNT(*) FROM k{p}) - (SELECT COUNT(*) FROM k{r})",
      maxRounds = CoreRounds,
      requireFixpoint = false,
      finalSql =
        s"""WITH dfin AS (
           |  SELECT id, COUNT(*) AS dg FROM (
           |    SELECT u AS id FROM e{r} UNION ALL SELECT v FROM e{r}) t
           |  GROUP BY id)
           |SELECT
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM d0) AS n_nodes_initial,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e0) AS n_edges_initial,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM dfin) AS n_core_nodes,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e{r}) AS n_core_edges,
           |  CASE WHEN (SELECT COUNT(*) FROM dfin WHERE dg < $CoreK) = 0
           |    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS converged,
           |  CAST({used} AS BIGINT) AS rounds_used
           |""".stripMargin)
  }

  // ------------------------------------- label propagation (LPA)
  /** Community detection on the LSH candidate graph by DETERMINISTIC
    * synchronous label propagation: every doc starts as its own
    * label; each round a node adopts the most frequent label among
    * its neighbors PLUS itself, ties to the smallest label. The
    * self-inclusion damps the classic synchronous-LPA oscillation
    * (a swap-partner pair ties with itself and settles on the min),
    * and the (count desc, label asc) argmax makes every round a pure
    * function of the previous labels — no RNG, no visit order, so
    * Spark and the unrolled DuckDB oracle agree bit-for-bit even
    * when the budget ends mid-oscillation. Communities differ from
    * dedup_clusters' connected components: CC merges through any
    * chain; LPA keeps sparsely-bridged dense blobs apart — the
    * community question vs the reachability question.
    *
    * Output: one row — node/edge counts, community count, largest
    * community, singleton count, and a `converged` flag (last round
    * changed nothing; like kcore, post-fixpoint rounds are provably
    * identity so the fixed-budget oracle stays bit-equal).
    *
    * Scale shape: each round is one edge-keyed equi-join (neighbor
    * label lookup), one (node, label) hash-agg with map-side
    * combine, and one per-node argmax — O(E) per round, materialized
    * per round with plan truncation (per-round, NOT PageRank's
    * every-second-round pairing — see the note in the loop); the
    * per-round change count is ONE bounded scalar to the driver,
    * observed inside the round's own materializing job. */
  private[queries] val LpaRounds = 8

  def labelPropagation(s: SparkSession, d: String): DataFrame =
    labelPropagationOn(graft.Tables.documents(s, d).select(col("doc_id")),
      lpaPairs(s, d))

  /** The LSH candidate pairs, materialized: the LPA edge build reads
    * them twice (both directions). */
  private def lpaPairs(s: SparkSession, d: String): DataFrame =
    graft.operators.Materialize.eager(Documents.lshCandidatePairs(s, d))

  /** The LPA core: runs the synchronous rounds and returns (labels,
    * directed edges, converged, rounds that changed a label). Both
    * graph_label_propagation and graph_modularity build on this —
    * identical ops, so the LPA query's output is bit-unchanged by the
    * extraction. */
  private[queries] def lpaLabelsOn(docs: DataFrame, pairs: DataFrame,
      rounds: Int): (DataFrame, DataFrame, Boolean, Int) = {
    // directed edges, read by every round's neighbor join. Keyed on u
    // into the session's shuffle partitions: the bare union carries
    // twice the pairs' partition count (32 small tasks at sf0.01) into
    // every round's O(E) stage.
    val edges = graft.operators.Materialize.eager(
      pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
        .union(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
        .repartition(pairs.sparkSession.sessionState.conf.numShufflePartitions,
          col("u")))
    // Labels are a materialized O(V) frame each round; hintSmall
    // (size-gated broadcast, Materialize.scala) lets the STATIC
    // planner broadcast them so no exchange is ever planned on the
    // edge side — at corpus scale the gate stops hinting and the plan
    // reverts to SMJ. Values unchanged either way (same equi-join).
    def small(df: DataFrame): DataFrame =
      graft.operators.Materialize.hintSmall(df)
    var labels = graft.operators.Materialize.eager(
      docs.select(col("doc_id").as("id"), col("doc_id").as("label")))
    var converged = false
    var r = 0
    while (r < rounds && !converged) {
      val nbr = edges
        .join(small(labels).select(col("id").as("u"), col("label")), "u")
        .select(col("v").as("id"), col("label"))
      // argmax by (cnt desc, label asc) as MAX over ONE exact
      // DECIMAL(38,0) — two chained HASH-aggs with map-side combine
      // instead of a per-node sort window (A/B at sf0.1: 18.4 ->
      // 12.5 s over 4 rounds; at cluster scale the window's
      // per-partition sort of the neighbor-label stream is pure
      // waste). The r12 spelling, min over struct(-cnt, label), was
      // NOT the hash-agg its comment claimed: a struct-valued agg
      // buffer has no mutable fixed-width form, so the planner chose
      // SortAggregate — a per-task SORT of the whole (id, label, cnt)
      // stream per round on BOTH sides of the exchange
      // (plans/r13/lpa_round_*.txt), and the r13 10x family rehearsal
      // OOM'd inside exactly that sort (UNABLE_TO_ACQUIRE_MEMORY in
      // sort_addToSorter while the round block was storing). The
      // packing score = cnt*2^63 + (2^63-1 - label) is order-
      // isomorphic to (cnt asc, label desc), so MAX(score) is the
      // identical (cnt desc, label asc) argmax: a bigger cnt always
      // dominates (labels contribute < 2^63) and ties resolve to the
      // smaller label. Exact at any scale: cnt (a long) casts into
      // decimal(19,0) losslessly, the score peaks below 2^126 < 1e38
      // (the decimal cap), decode is exact integer decimal arithmetic,
      // and ANSI mode fails loudly rather than rounding. Precondition
      // (data contract + LabelPropagationSpec's independent
      // reference): labels are NON-NEGATIVE doc ids, so
      // (2^63-1 - label) stays inside its 2^63 digit slot.
      // The per-round change count is observed inside the round's own
      // materializing job (Dataset.observe, as in ConnectedComponents):
      // the prev-label join is part of the materialized plan, so no
      // separate count job runs. Every round is materialized, unlike
      // PageRank's every-second-round pairing: the label frame has
      // THREE consumers per round (neighbor join, self-inclusion
      // union, prev-label join), so a lazy round would re-run its
      // O(E) join+aggs per consumer. LabelPropagationSpec's
      // round-at-a-time reference pins this loop bit-exactly.
      val two63 = lit(new java.math.BigDecimal("9223372036854775808"))
      val two63m1 = lit(new java.math.BigDecimal("9223372036854775807"))
      val decoded = two63m1 - (col("s") % two63)
      val changed = org.apache.spark.sql.Observation()
      labels = graft.operators.Materialize.eager(
        nbr.union(labels.select(col("id"), col("label")))
          .groupBy(col("id"), col("label")).agg(count(lit(1)).as("cnt"))
          .groupBy(col("id"))
          .agg(max(col("cnt").cast("decimal(19,0)") * two63 +
            (two63m1 - col("label"))).as("s"))
          .join(small(labels).select(col("id"),
            col("label").as("prev_label")), "id")
          .select(col("id"), decoded.cast("long").as("label"),
            col("prev_label"))
          .observe(changed, coalesce(sum(when(
            col("label") =!= col("prev_label"), 1L).otherwise(0L)),
            lit(0L)).as("n"))
          .select(col("id"), col("label")))
      converged = changed.get("n") == 0L
      r += 1
    }
    val roundsUsed = if (converged) r - 1 else r
    (labels, edges, converged, roundsUsed)
  }

  def labelPropagationOn(docs: DataFrame, pairs: DataFrame,
      rounds: Int = LpaRounds): DataFrame =
    lpaStats(docs, lpaLabelsOn(docs, pairs, rounds))

  private def lpaStats(docs: DataFrame,
      core: (DataFrame, DataFrame, Boolean, Int)): DataFrame = {
    val (labels, edges, converged, roundsUsed) = core
    val comm = labels.groupBy(col("label")).agg(count(lit(1)).as("sz"))
    val stats = comm.agg(count(lit(1)).as("n_communities"),
      max(col("sz")).as("largest_community"),
      coalesce(sum(when(col("sz") === 1, 1L).otherwise(0L)), lit(0L))
        .as("n_singletons"))
    docs.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(broadcast(edges.agg((count(lit(1)) / 2).cast("long")
        .as("n_edges"))))
      .crossJoin(broadcast(stats))
      .withColumn("converged", lit(if (converged) 1L else 0L))
      // rounds that changed a label (the final verifying round does
      // not count) — decomposes the rehearsal's wall ratio into
      // rounds x O(E) with in-artifact numbers
      .withColumn("rounds_used", lit(roundsUsed.toLong))
  }

  // ------------------------------------------------- modularity
  /** Newman modularity Q of the LPA community partition on the LSH
    * candidate graph, in milli units: Q = Σ_c [e_c/m − (d_c/2m)²]
    * = internal/m − Σd_c²/4m². The single-number answer to "did the
    * communities LPA found actually capture the edge mass, or is the
    * partition arbitrary?" — Q near 0 means the banding's duplicate
    * families are no better than random groupings (band params too
    * loose); Q well above 0 certifies the families are real edge
    * concentrations a survivorship pass can safely collapse.
    *
    * Numerics: internal-edge count and Σd_c² are exact integers
    * (Σd_c² ≤ (2m)² stays inside int64 until ~1.5e9 edges — beyond
    * that the term moves to a downscaled grid, a declared cliff far
    * above the rehearsal scale); only the final two-term ratio
    * evaluates in doubles, where both terms are exact-integer-derived
    * and the expression order is fixed, so the IEEE result is
    * deterministic on both engines — snap ⌊×1000+0.5⌋ (the
    * assortativity stance).
    *
    * Scale shape: the LPA rounds (O(E) each, the LPA core) dominate;
    * on top sit one edge-level label join (internal count), one
    * node-level label join + two hash-aggs (Σd_c²), and a broadcast
    * assembly of four 1-row aggregates. Nothing quadratic. */
  def modularity(s: SparkSession, d: String): DataFrame =
    modularityOn(graft.Tables.documents(s, d).select(col("doc_id")),
      lpaPairs(s, d))

  def modularityOn(docs: DataFrame, pairs: DataFrame,
      rounds: Int = LpaRounds): DataFrame =
    modularityStats(docs, lpaLabelsOn(docs, pairs, rounds))

  private def modularityStats(docs: DataFrame,
      core: (DataFrame, DataFrame, Boolean, Int)): DataFrame = {
    val (labels, edges, converged, roundsUsed) = core
    // labels is the materialized O(V) core table: the size-gated broadcast
    // hint (Materialize.hintSmall, r13) makes the three label joins
    // static broadcast joins, so the O(E) edge scan is never exchanged
    // (the SMJ-planned form shuffle-wrote the 15 M-row edge table
    // twice here before AQE's rewrite); at corpus scale the gate stops
    // hinting and the plan reverts. Values unchanged (same equi-joins).
    def small(df: DataFrame): DataFrame =
      graft.operators.Materialize.hintSmall(df)
    val internal = edges
      .join(small(labels).select(col("id").as("u"), col("label").as("lu")),
        "u")
      .join(small(labels).select(col("id").as("v"), col("label").as("lv")),
        "v")
      .filter(col("lu") === col("lv"))
      .agg((count(lit(1)) / 2).cast("long").as("internal_edges"))
    // directed edges: per-node out-count IS the undirected degree
    val sumd2 = edges.groupBy(col("u")).agg(count(lit(1)).as("dg"))
      .join(small(labels).select(col("id").as("u"), col("label")), "u")
      .groupBy(col("label")).agg(sum(col("dg")).as("d_c"))
      .agg(coalesce(sum(col("d_c") * col("d_c")), lit(0L)).cast("long")
        .as("sum_d2"))
    val nComm = labels.groupBy(col("label")).agg(count(lit(1)).as("sz"))
      .agg(count(lit(1)).as("n_communities"))
    docs.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(broadcast(edges.agg((count(lit(1)) / 2).cast("long")
        .as("n_edges"))))
      .crossJoin(broadcast(nComm))
      .crossJoin(broadcast(internal))
      .crossJoin(broadcast(sumd2))
      .select(col("n_nodes"), col("n_edges"), col("n_communities"),
        col("internal_edges"),
        when(col("n_edges") === 0, lit(0L)).otherwise(expr(
          """CAST(FLOOR((CAST(internal_edges AS DOUBLE)
            |  / CAST(n_edges AS DOUBLE)
            |  - CAST(sum_d2 AS DOUBLE)
            |  / (4.0D * CAST(n_edges AS DOUBLE)
            |     * CAST(n_edges AS DOUBLE))) * 1000 + 0.5)
            |AS BIGINT)""".stripMargin)).as("modularity_milli"),
        lit(if (converged) 1L else 0L).as("converged"),
        lit(roundsUsed.toLong).as("rounds_used"))
  }

  /** The shared LPA oracle prefix: every CTE through the final label
    * table l<LpaRounds> — factored so graph_label_propagation and
    * graph_modularity mirror the SAME unrolled rounds. */
  private def lpaSqlCtes: String = {
    val sig = Documents.minhashSignaturesSql.replace("ORDER BY doc_id", "")
    val roundsSql = (1 to LpaRounds).map { r =>
      val p = r - 1
      s"""nb$r AS MATERIALIZED (
         |  SELECT e.v AS id, l.label FROM e
         |  JOIN l$p l ON l.id = e.u
         |  UNION ALL SELECT id, label FROM l$p),
         |c$r AS MATERIALIZED (
         |  SELECT id, label, COUNT(*) AS cnt FROM nb$r GROUP BY 1, 2),
         |l$r AS MATERIALIZED (
         |  SELECT id, label FROM (
         |    SELECT id, label, ROW_NUMBER() OVER (PARTITION BY id
         |      ORDER BY cnt DESC, label) AS rn FROM c$r) t
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""sig AS ($sig),
       |banded AS (
       |  SELECT doc_id, 'b0_' || mh0 || '_' || mh1 AS band FROM sig
       |  UNION ALL
       |  SELECT doc_id, 'b1_' || mh2 || '_' || mh3 AS band FROM sig),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.doc_id < b.doc_id),
       |e AS MATERIALIZED (
       |  SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |l0 AS (SELECT doc_id AS id, doc_id AS label FROM documents),
       |$roundsSql""".stripMargin
  }

  // rounds that changed at least one label (label tables are
  // id-complete every round, so an inner diff join is exact)
  private def lpaChangedSumSql: String = (1 to LpaRounds).map { r =>
    s"""CASE WHEN (SELECT COUNT(*) FROM l$r a JOIN l${r - 1} b
       |    ON a.id = b.id AND a.label <> b.label) > 0
       |    THEN 1 ELSE 0 END""".stripMargin
  }.mkString("(", " +\n", ")")

  val labelPropagationSql: String = {
    val R = LpaRounds; val P = LpaRounds - 1
    val changedSumSql = lpaChangedSumSql
    s"""WITH $lpaSqlCtes,
       |comm AS (SELECT label, COUNT(*) AS sz FROM l$R GROUP BY 1)
       |SELECT
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_nodes,
       |  (SELECT CAST(COUNT(*) / 2 AS BIGINT) FROM e) AS n_edges,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM comm) AS n_communities,
       |  (SELECT CAST(MAX(sz) AS BIGINT) FROM comm) AS largest_community,
       |  (SELECT CAST(COALESCE(SUM(CASE WHEN sz = 1 THEN 1 ELSE 0 END), 0)
       |     AS BIGINT) FROM comm) AS n_singletons,
       |  CASE WHEN (SELECT COUNT(*) FROM l$R a JOIN l$P b
       |      ON a.id = b.id AND a.label <> b.label) = 0
       |    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS converged,
       |  CAST($changedSumSql AS BIGINT) AS rounds_used
       |""".stripMargin
  }

  // --------------------------------------- neighbor-set Jaccard
  /** Link-prediction audit of the LSH candidate graph: for each
    * existing candidate edge (u,v), the Jaccard similarity of the
    * two endpoints' neighbor sets — |N(u)∩N(v)| / |N(u)∪N(v)| in
    * milli units, top 20 by (jaccard desc, u, v). High-Jaccard edges
    * sit inside tight duplicate families (structurally confirmed:
    * the endpoints agree on who else they match); a low-Jaccard edge
    * is a lone bridge whose survival depends on one band collision —
    * the per-EDGE refinement of the global closure_pm diagnostic.
    *
    * Scale shape: neighbor-set intersection via self-join on the
    * shared neighbor is quadratic in the hottest neighbor's
    * OCCURRENCE count, so the adjacency is DOUBLY capped at K=64 by
    * md5 order — first per node (list length, the triangle-count
    * discipline, with the same deterministic Bernoulli pre-thin
    * sharing one digest projection), then per neighbor VALUE
    * (occurrence count, bounding the self-join at O(n·K²) rows).
    * Both caps are identity whenever the relevant degree ≤ K — all
    * spec motifs — and the double cap keeps the arithmetic
    * consistent: common(u,v) counts neighbors surviving BOTH
    * endpoints' capped rows, so common ≤ min(deg_u, deg_v) and the
    * union denominator deg_u + deg_v − common is always positive.
    * Emitted degrees ARE the capped degrees (the sampled-estimator
    * stance: exact below the cap, declared sample above it). */
  def neighborJaccard(s: SparkSession, d: String): DataFrame =
    neighborJaccardOn(Documents.lshCandidatePairs(s, d))

  /** Core audit over caller-supplied undirected edges (doc_a <
    * doc_b, distinct) — separated so specs can plant known motifs. */
  def neighborJaccardOn(pairs: DataFrame): DataFrame = {
    val edges = graft.operators.Materialize.eager(
      pairs.select(col("doc_a").as("u"), col("doc_b").as("v")))
    val directed = edges
      .select(col("u").as("node"), col("v").as("nbr"))
      .union(edges.select(col("v").as("node"), col("u").as("nbr")))
    // a node's directed-occurrence count IS its undirected degree;
    // materialized so the size-gated broadcast below can read its
    // stored bytes
    val deg = graft.operators.Materialize.eager(
      directed.groupBy(col("node")).agg(count(lit(1)).as("dg")))
    // one digest shared by the pre-thin filter and BOTH cap windows.
    // hintSmall (r13): broadcast the O(V) degree table statically so
    // the 2|E| directed stream is never exchanged for this join (the
    // SMJ-planned form shuffle-wrote all 15 M rows before AQE's
    // rewrite — JaccardProbe V1 vs the full block: 2.0 s vs 4.4 s
    // warm)
    val hashed = directed.join(
      graft.operators.Materialize.hintSmall(deg), "node")
      .withColumn("m", md5(concat(col("node").cast("string"), lit("|"),
        col("nbr").cast("string"))))
    val thinned = hashed
      .filter(conv(substring(col("m"), 1, 4), 16, 10).cast("long") *
        col("dg") < lit(2L * CapK * 65536L))
      .select(col("node"), col("nbr"), col("m"))
    val wNode = org.apache.spark.sql.expressions.Window
      .partitionBy(col("node")).orderBy(col("m"), col("nbr"))
    val wNbr = org.apache.spark.sql.expressions.Window
      .partitionBy(col("nbr")).orderBy(col("m"), col("node"))
    val capped2 = graft.operators.Materialize.eager(
      thinned.withColumn("rk", row_number().over(wNode))
        .filter(col("rk") <= CapK)
        .withColumn("rk2", row_number().over(wNbr))
        .filter(col("rk2") <= CapK)
        .select(col("node"), col("nbr")))
    // deg2 materialized (one tiny O(n·K)-input job) so the two final
    // degree joins can take the size-gated broadcast instead of
    // SMJ-planning an exchange of the full common-neighbor stream
    // twice (r13, same leftover-exchange class as the deg join above)
    val deg2 = graft.operators.Materialize.hintSmall(
      graft.operators.Materialize.eager(
        capped2.groupBy(col("node")).agg(count(lit(1)).as("cdg"))))
    val a = capped2.as("a")
    // size-gated broadcast of the b-side (r13, triangleCountParts note)
    val b = graft.operators.Materialize.hintSmall(capped2).as("b")
    val inter = a.join(b,
        col("a.nbr") === col("b.nbr") && col("a.node") < col("b.node"))
      .select(col("a.node").as("u"), col("b.node").as("v"))
    inter.join(edges, Seq("u", "v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("common_nbrs"))
      .join(deg2.select(col("node").as("u"), col("cdg").as("deg_u")), "u")
      .join(deg2.select(col("node").as("v"), col("cdg").as("deg_v")), "v")
      .select(col("u"), col("v"), col("common_nbrs"),
        col("deg_u"), col("deg_v"),
        expr("common_nbrs * 1000 DIV (deg_u + deg_v - common_nbrs)")
          .as("jaccard_milli"))
      .orderBy(col("jaccard_milli").desc, col("u"), col("v"))
      .limit(20)
  }

  val neighborJaccardSql: String = {
    val sig = Documents.minhashSignaturesSql.replace("ORDER BY doc_id", "")
    s"""WITH sig AS ($sig),
       |banded AS (
       |  SELECT doc_id, 'b0_' || mh0 || '_' || mh1 AS band FROM sig
       |  UNION ALL
       |  SELECT doc_id, 'b1_' || mh2 || '_' || mh3 AS band FROM sig),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.doc_id < b.doc_id),
       |directed AS (
       |  SELECT u AS node, v AS nbr FROM pairs
       |  UNION ALL SELECT v, u FROM pairs),
       |deg AS (
       |  SELECT node, COUNT(*) AS dg FROM directed GROUP BY node),
       |hashed AS (
       |  SELECT d.node, d.nbr, g.dg,
       |    md5(CAST(d.node AS VARCHAR) || '|' ||
       |        CAST(d.nbr AS VARCHAR)) AS m
       |  FROM directed d JOIN deg g ON g.node = d.node),
       |thinned AS (
       |  SELECT node, nbr, m FROM hashed
       |  WHERE ((strpos('0123456789abcdef', substring(m, 1, 1)) - 1) * 4096
       |       + (strpos('0123456789abcdef', substring(m, 2, 1)) - 1) * 256
       |       + (strpos('0123456789abcdef', substring(m, 3, 1)) - 1) * 16
       |       + (strpos('0123456789abcdef', substring(m, 4, 1)) - 1))
       |      * dg < ${2L * 64 * 65536L}),
       |capped AS (
       |  SELECT node, nbr, m FROM (
       |    SELECT node, nbr, m, ROW_NUMBER() OVER (PARTITION BY node
       |      ORDER BY m, nbr) AS rk
       |    FROM thinned) r WHERE rk <= 64),
       |capped2 AS (
       |  SELECT node, nbr FROM (
       |    SELECT node, nbr, ROW_NUMBER() OVER (PARTITION BY nbr
       |      ORDER BY m, node) AS rk2
       |    FROM capped) r WHERE rk2 <= 64),
       |deg2 AS (
       |  SELECT node, COUNT(*) AS cdg FROM capped2 GROUP BY node),
       |common AS (
       |  SELECT i.u, i.v, COUNT(*) AS common_nbrs FROM (
       |    SELECT a.node AS u, b.node AS v
       |    FROM capped2 a JOIN capped2 b
       |      ON a.nbr = b.nbr AND a.node < b.node) i
       |  JOIN pairs e ON i.u = e.u AND i.v = e.v
       |  GROUP BY i.u, i.v)
       |SELECT c.u, c.v, c.common_nbrs,
       |  du.cdg AS deg_u, dv.cdg AS deg_v,
       |  c.common_nbrs * 1000 // (du.cdg + dv.cdg - c.common_nbrs)
       |    AS jaccard_milli
       |FROM common c
       |JOIN deg2 du ON du.node = c.u
       |JOIN deg2 dv ON dv.node = c.v
       |ORDER BY jaccard_milli DESC, c.u, c.v
       |LIMIT 20""".stripMargin
  }

  val modularitySql: String = {
    val R = LpaRounds; val P = LpaRounds - 1
    s"""WITH $lpaSqlCtes,
       |deg AS (SELECT u AS node, COUNT(*) AS dg FROM e GROUP BY u),
       |m AS (SELECT CAST(COUNT(*) / 2 AS BIGINT) AS n_edges FROM e),
       |intl AS (
       |  SELECT CAST(COUNT(*) / 2 AS BIGINT) AS internal_edges
       |  FROM e
       |  JOIN l$R lu ON lu.id = e.u
       |  JOIN l$R lv ON lv.id = e.v
       |  WHERE lu.label = lv.label),
       |dc AS (
       |  SELECT l.label, CAST(SUM(d.dg) AS BIGINT) AS d_c
       |  FROM deg d JOIN l$R l ON l.id = d.node GROUP BY l.label),
       |sd AS (
       |  SELECT CAST(COALESCE(SUM(d_c * d_c), 0) AS BIGINT) AS sum_d2
       |  FROM dc)
       |SELECT
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_nodes,
       |  (SELECT n_edges FROM m) AS n_edges,
       |  (SELECT CAST(COUNT(DISTINCT label) AS BIGINT) FROM l$R)
       |    AS n_communities,
       |  (SELECT internal_edges FROM intl) AS internal_edges,
       |  CASE WHEN (SELECT n_edges FROM m) = 0 THEN CAST(0 AS BIGINT)
       |  ELSE CAST(FLOOR((
       |      CAST((SELECT internal_edges FROM intl) AS DOUBLE)
       |        / CAST((SELECT n_edges FROM m) AS DOUBLE)
       |      - CAST((SELECT sum_d2 FROM sd) AS DOUBLE)
       |        / (4.0 * CAST((SELECT n_edges FROM m) AS DOUBLE)
       |           * CAST((SELECT n_edges FROM m) AS DOUBLE))
       |    ) * 1000 + 0.5) AS BIGINT) END AS modularity_milli,
       |  CASE WHEN (SELECT COUNT(*) FROM l$R a JOIN l$P b
       |      ON a.id = b.id AND a.label <> b.label) = 0
       |    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS converged,
       |  CAST($lpaChangedSumSql AS BIGINT) AS rounds_used
       |""".stripMargin
  }

  // ---------------------------------------- degree histogram
  /** Degree distribution of the near-dup candidate graph on log₂
    * buckets (bucket = bit length of the degree; bucket 0 = isolated
    * docs) — the first-look structural audit before any heavier graph
    * pass: a fat top bucket is the chain-gluing / template-family
    * signal that predicts CC blowup, and the isolated-node mass is
    * the fraction of the corpus dedup will never touch.
    *
    * Scale shape: one hash-agg over the (Σ bucket²-bounded) pair
    * table for degrees, a left join against the doc
    * spine for the zero-degree mass, then a ≤64-row bucket agg.
    * Nothing quadratic; the histogram is O(E) + O(V). */
  def degreeHistogram(s: SparkSession, d: String): DataFrame = {
    val deg = degreesOf(Documents.lshCandidatePairs(s, d)
        .select(col("doc_a").as("u"), col("doc_b").as("v")))
      .select(col("id"), col("dg").as("deg"))
    graft.Tables.documents(s, d).select(col("doc_id").as("id"))
      .join(deg, Seq("id"), "left")
      .na.fill(0L, Seq("deg"))
      .withColumn("bucket", when(col("deg") === 0, 0L)
        .otherwise(length(bin(col("deg"))).cast("long")))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_nodes"),
        min(col("deg")).as("min_degree"),
        max(col("deg")).as("max_degree"),
        sum(col("deg")).as("sum_degree"))
      .orderBy(col("bucket"))
  }

  val degreeHistogramSql: String =
    s"""WITH pairs AS (
       |  SELECT doc_a, doc_b FROM (
       |${Documents.dedupLshPairsSql}
       |  ) tp),
       |deg AS (
       |  SELECT id, CAST(COUNT(*) AS BIGINT) AS deg FROM (
       |    SELECT doc_a AS id FROM pairs
       |    UNION ALL SELECT doc_b AS id FROM pairs) u
       |  GROUP BY 1),
       |full_deg AS (
       |  SELECT d.doc_id AS id, COALESCE(g.deg, 0) AS deg
       |  FROM documents d LEFT JOIN deg g ON g.id = d.doc_id)
       |SELECT
       |  CASE WHEN deg = 0 THEN CAST(0 AS BIGINT)
       |       ELSE CAST(length(bin(deg)) AS BIGINT) END AS bucket,
       |  CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |  CAST(MIN(deg) AS BIGINT) AS min_degree,
       |  CAST(MAX(deg) AS BIGINT) AS max_degree,
       |  CAST(SUM(deg) AS BIGINT) AS sum_degree
       |FROM full_deg GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, Query] = Map(
    "graph_degree_histogram" -> Query(degreeHistogram, degreeHistogramSql),
    "graph_neighbor_jaccard" -> Query(neighborJaccard, neighborJaccardSql),
    "graph_modularity" -> Query(modularity, modularitySql),
    "graph_label_propagation" -> Query(labelPropagation, labelPropagationSql),
    "graph_pagerank_dups" -> Query(pagerankDupGraph, pagerankDupGraphSql),
    "graph_hits_scores" -> Query(hitsScores, hitsScoresSql),
    "graph_local_clustering" -> Query(localClustering, localClusteringSql),
    "graph_triangle_count" -> Query(triangleCount, triangleCountSql),
    "graph_degree_assortativity" -> Query(degreeAssortativity, degreeAssortativitySql),
    "graph_kcore" -> Query(kcore, kcoreSql, Some(kcoreScripted)))
}
