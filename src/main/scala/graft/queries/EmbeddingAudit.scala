package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.Query

/** Label-geometry audit over the embeddings table: per-label centroid
  * margins. For every vector, the squared L2 distance to its OWN
  * label centroid vs the nearest OTHER label's centroid; the margin
  * (other − own) is the linear-separability signal that catches
  * mislabeled or boundary examples before they poison a classifier
  * head — the embedding-space twin of the label-noise audits a
  * training-data pipeline runs on text labels.
  *
  * All arithmetic on the ×1e6 integer grid (the same snap
  * emb_dim_variance uses): centroids are integer averages (DIV),
  * distances exact integer sums of squares, so the audit
  * hash-matches DuckDB bit-for-bit.
  *
  * Scale shape: one posexplode O(n·d) feeding a (label, dim)
  * hash-agg; the centroid table is labels×dims rows (640 here) and
  * BROADCAST; the distance join fans each (vec, dim) value out to
  * the |labels| centroids of that dim and re-aggregates keyed on
  * (vec_id, label) — O(n·d·L) with map-side combine, linear in
  * vector count for fixed d, L. Never a vector×vector pair. */
object EmbeddingAudit {

  def centroidMargin(s: SparkSession, d: String): DataFrame = {
    val x = embeddings(s, d)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("dim", "xv")))
      .select(col("vec_id"), col("label"), col("dim"),
        floor(col("xv").cast("double") * 1e6 + 0.5).cast("long").as("xe6"))
    val centroids = x.groupBy(col("label").as("c_label"), col("dim"))
      .agg(expr("SUM(xe6) DIV COUNT(1)").as("ce6"))
    val dists = x.join(broadcast(centroids), Seq("dim"))
      .groupBy(col("vec_id"), col("label"), col("c_label"))
      .agg(sum((col("xe6") - col("ce6")) * (col("xe6") - col("ce6")))
        .as("d2_e12"))
    val perVec = dists.groupBy(col("vec_id"), col("label"))
      .agg(
        max(when(col("c_label") === col("label"), col("d2_e12"))).as("own_d2"),
        min(when(col("c_label") =!= col("label"), col("d2_e12"))).as("other_d2"))
      .withColumn("margin_e12", col("other_d2") - col("own_d2"))
    perVec.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("margin_e12") < 0, 1L).otherwise(0L)).as("n_boundary"),
        expr("SUM(own_d2) DIV COUNT(1)").as("mean_own_d2_e12"),
        expr("SUM(margin_e12) DIV COUNT(1)").as("mean_margin_e12"))
      .orderBy(col("label"))
  }

  val centroidMarginSql: String =
    """WITH x AS (
      |  SELECT vec_id, label, CAST(i - 1 AS INT) AS dim,
      |    CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1e6 + 0.5) AS BIGINT)
      |      AS xe6
      |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)),
      |cent AS (
      |  SELECT label AS c_label, dim,
      |    CAST(SUM(xe6) // COUNT(*) AS BIGINT) AS ce6
      |  FROM x GROUP BY 1, 2),
      |dists AS (
      |  SELECT x.vec_id, x.label, c.c_label,
      |    CAST(SUM((x.xe6 - c.ce6) * (x.xe6 - c.ce6)) AS BIGINT) AS d2_e12
      |  FROM x JOIN cent c USING (dim)
      |  GROUP BY 1, 2, 3),
      |per_vec AS (
      |  SELECT vec_id, label,
      |    MAX(CASE WHEN c_label = label THEN d2_e12 END) AS own_d2,
      |    MIN(CASE WHEN c_label <> label THEN d2_e12 END) AS other_d2
      |  FROM dists GROUP BY 1, 2)
      |SELECT label, COUNT(*) AS n_vecs,
      |  CAST(SUM(CASE WHEN other_d2 - own_d2 < 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_boundary,
      |  CAST(SUM(own_d2) // COUNT(*) AS BIGINT) AS mean_own_d2_e12,
      |  CAST(SUM(other_d2 - own_d2) // COUNT(*) AS BIGINT) AS mean_margin_e12
      |FROM per_vec GROUP BY label ORDER BY label""".stripMargin

  // ------------------------------------------ power-iteration PCA
  /** Top principal direction of the embedding cloud by two rounds of
    * matrix-free power iteration: v ← Xᵀ(Xv), starting from the
    * all-ones vector. Never forms the d×d Gram matrix — each round is
    * one row-score aggregation (s_i = xᵢ·v) and one dim-score
    * aggregation (v'_d = Σᵢ sᵢ·x_{i,d}), both hash-aggs with map-side
    * combine over the exploded (vec, dim, value) grid. This is the
    * audit that tells you whether one direction dominates the
    * embedding space (an anisotropy/collapse smell) before ANN
    * bucketing or whitening decisions.
    *
    * Integer discipline: inputs snap to the ×1e6 grid; row scores are
    * down-shifted (DIV 1e3 after round 1, DIV 1e7 after round 2 —
    * bounds documented inline) so every sum stays in Long for corpus
    * sizes up to ~1e8 vectors at d=64; each round renormalizes to the
    * ×1e6 grid by the max |component| (a 1-row broadcast — whitelisted
    * in the plan lint). Deterministic start + fixed rounds ⇒ no sign
    * or convergence ambiguity; DuckDB replays the identical grid.
    *
    * Scale shape: the exploded grid is materialized ONCE
    * ([[graft.operators.Materialize]]) and scanned by the four
    * aggregations; shuffles are keyed alternately on vec_id and dim
    * (d rows only). At 100 TB the vec_id-keyed aggs dominate and are
    * plain map-side-combined hash-aggs — no pairwise anything. */
  def pcaPower(s: SparkSession, d: String): DataFrame = {
    val x = graft.operators.Materialize.eager(
      embeddings(s, d)
        .select(col("vec_id"),
          posexplode(col("embedding")).as(Seq("dim", "xv")))
        .select(col("vec_id"), col("dim"),
          floor(col("xv").cast("double") * 1e6 + 0.5).cast("long")
            .as("xe6")))
    // round 1: v0 = 1⃗ ⇒ s1_i = Σ_d xe6 (|s1| ≤ d·1e6 = 6.4e7);
    // DIV 1e3 bounds the v1 accumulator at n·6.4e4·1e6 ≈ 6.4e19/1e9 —
    // Long-safe through n ≈ 1e8
    val s1 = x.groupBy(col("vec_id")).agg(expr("SUM(xe6) DIV 1000").as("sc"))
    val v1 = x.join(s1, Seq("vec_id"))
      .groupBy(col("dim")).agg(sum(col("sc") * col("xe6")).as("v"))
    val m1 = v1.agg(
      greatest(lit(1L), expr("MAX(ABS(v)) DIV 1000000")).as("nrm"))
    val v1n = v1.crossJoin(broadcast(m1))
      .select(col("dim"), expr("v DIV nrm").as("ve6"))
    // round 2: s2_i = Σ_d xe6·ve6 ≤ d·1e12 = 6.4e13; DIV 1e7 bounds
    // the v2 accumulator the same way as round 1
    val s2 = x.join(broadcast(v1n), Seq("dim"))
      .groupBy(col("vec_id"))
      .agg(expr("SUM(xe6 * ve6) DIV 10000000").as("sc"))
    val v2 = x.join(s2, Seq("vec_id"))
      .groupBy(col("dim")).agg(sum(col("sc") * col("xe6")).as("v"))
    val m2 = v2.agg(
      greatest(lit(1L), expr("MAX(ABS(v)) DIV 1000000")).as("nrm"))
    v2.crossJoin(broadcast(m2))
      .select(col("dim"), expr("v DIV nrm").as("loading_e6"))
      .orderBy(col("dim"))
  }

  val pcaPowerSql: String =
    """WITH x AS (
      |  SELECT vec_id, CAST(i - 1 AS INT) AS dim,
      |    CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1e6 + 0.5) AS BIGINT)
      |      AS xe6
      |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)),
      |s1 AS (
      |  SELECT vec_id, CAST(SUM(xe6) // 1000 AS BIGINT) AS sc
      |  FROM x GROUP BY 1),
      |v1 AS (
      |  SELECT dim, CAST(SUM(s1.sc * x.xe6) AS BIGINT) AS v
      |  FROM x JOIN s1 USING (vec_id) GROUP BY 1),
      |m1 AS (
      |  SELECT GREATEST(1, MAX(ABS(v)) // 1000000) AS nrm FROM v1),
      |v1n AS (
      |  SELECT dim, CAST(v // nrm AS BIGINT) AS ve6 FROM v1, m1),
      |s2 AS (
      |  SELECT x.vec_id,
      |    CAST(SUM(x.xe6 * v1n.ve6) // 10000000 AS BIGINT) AS sc
      |  FROM x JOIN v1n USING (dim) GROUP BY 1),
      |v2 AS (
      |  SELECT dim, CAST(SUM(s2.sc * x.xe6) AS BIGINT) AS v
      |  FROM x JOIN s2 USING (vec_id) GROUP BY 1),
      |m2 AS (
      |  SELECT GREATEST(1, MAX(ABS(v)) // 1000000) AS nrm FROM v2)
      |SELECT dim, CAST(v // nrm AS BIGINT) AS loading_e6
      |FROM v2, m2 ORDER BY dim""".stripMargin

  // ------------------------------- sampled pair-distance histogram
  /** Equi-width 16-bin histogram of pairwise squared L2 distances over
    * a deterministic 1/8 md5-sample of the vectors — the
    * embedding-space geometry dashboard: a healthy embedding cloud is
    * unimodal; a spike at near-zero distance means duplicate floods,
    * a bimodal split means two disconnected domains mixed into one
    * index. Distances run on the ×1e6 integer grid (the tier's snap),
    * so bins and counts are exact integers on both engines.
    *
    * Scale shape: the all-pairs form runs on the SAMPLE, never the
    * corpus — and the md5 id-sample's modulus is ADAPTIVE: m =
    * max(8, n DIV 250) (one cheap count agg, broadcast), so the
    * sampled set targets a FIXED ~250 vectors (~3·10⁴ pairs)
    * regardless of corpus growth — the 1/√n rate the histogram's
    * fixed pair budget demands; a constant-rate sample would grow
    * the crossJoin quadratically. The floor of 8 makes the modulus
    * identical to the historical constant at every test SF (n ≤ 2000
    * → m = 8), pinning the oracle hashes. Sampling by id (not by
    * pair) keeps the estimator consistent for distance
    * DISTRIBUTIONS. The modulus splits across two md5 16-bit fields
    * (hex 1–4, then 5–8) so it stays exact past m = 65536 (~16M
    * vectors): sample iff v16 % min(m, 65536) = 0 AND w16 %
    * ceil(m/65536) = 0 — at m ≤ 65536 the second test is % 1,
    * bit-identical to the one-field form. The crossJoin is declared
    * and bounded (PlanSpec whitelists it alongside the other
    * bounded-sample BNLJs). */
  def pairDistanceHist(s: SparkSession, d: String): DataFrame =
    pairDistanceHistOn(embeddings(s, d))

  /** Core over a caller-supplied embeddings frame — separated so the
    * spec can pin the flat-sample property across corpus sizes. */
  def pairDistanceHistOn(emb: DataFrame): DataFrame = {
    val m = emb.agg(greatest(lit(8L), expr("COUNT(*) DIV 250")).as("m"))
      .select(col("m"), least(col("m"), lit(65536L)).as("m1"),
        expr("(m + 65535) DIV 65536").as("m2"))
    val hex = md5(col("vec_id").cast("string"))
    val sampled = emb.crossJoin(broadcast(m))
      .filter(
        conv(substring(hex, 1, 4), 16, 10).cast("long") % col("m1") === 0 &&
        conv(substring(hex, 5, 4), 16, 10).cast("long") % col("m2") === 0)
      .select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * 1e6 + 0.5).cast("long")).as("qe6"))
    val a = sampled.select(col("vec_id").as("ia"), col("qe6").as("qa"))
    val b = sampled.select(col("vec_id").as("ib"), col("qe6").as("qb"))
    val pairs = a.crossJoin(b).filter(col("ia") < col("ib"))
      .withColumn("d2_e12",
        aggregate(zip_with(col("qa"), col("qb"),
          (x, y) => (x - y) * (x - y)), lit(0L), (acc, v) => acc + v))
    val bounds = pairs.agg(min(col("d2_e12")).as("mn"), max(col("d2_e12")).as("mx"))
    pairs.crossJoin(broadcast(bounds))
      .withColumn("bucket",
        least(lit(15L), expr("(d2_e12 - mn) * 16 DIV (mx - mn + 1)")))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        min(col("d2_e12")).as("lo_d2_e12"), max(col("d2_e12")).as("hi_d2_e12"))
      .orderBy(col("bucket"))
  }

  val pairDistanceHistSql: String =
    """WITH mm AS (
      |  SELECT m, LEAST(m, 65536) AS m1, (m + 65535) // 65536 AS m2
      |  FROM (SELECT GREATEST(8, COUNT(*) // 250) AS m FROM embeddings)),
      |sampled AS (
      |  SELECT vec_id,
      |    list_transform(embedding,
      |      x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))
      |      AS qe6
      |  FROM embeddings, mm
      |  WHERE ((strpos('0123456789abcdef', substring(md5(CAST(vec_id AS VARCHAR)), 1, 1)) - 1) * 4096
      |       + (strpos('0123456789abcdef', substring(md5(CAST(vec_id AS VARCHAR)), 2, 1)) - 1) * 256
      |       + (strpos('0123456789abcdef', substring(md5(CAST(vec_id AS VARCHAR)), 3, 1)) - 1) * 16
      |       + (strpos('0123456789abcdef', substring(md5(CAST(vec_id AS VARCHAR)), 4, 1)) - 1)) % m1 = 0
      |    AND ((strpos('0123456789abcdef', substring(md5(CAST(vec_id AS VARCHAR)), 5, 1)) - 1) * 4096
      |       + (strpos('0123456789abcdef', substring(md5(CAST(vec_id AS VARCHAR)), 6, 1)) - 1) * 256
      |       + (strpos('0123456789abcdef', substring(md5(CAST(vec_id AS VARCHAR)), 7, 1)) - 1) * 16
      |       + (strpos('0123456789abcdef', substring(md5(CAST(vec_id AS VARCHAR)), 8, 1)) - 1)) % m2 = 0),
      |pairs AS (
      |  SELECT a.vec_id AS ia, b.vec_id AS ib,
      |    list_reduce(list_transform(range(1, len(a.qe6) + 1),
      |      i -> (a.qe6[i] - b.qe6[i]) * (a.qe6[i] - b.qe6[i])),
      |      (x, y) -> x + y) AS d2_e12
      |  FROM sampled a JOIN sampled b ON a.vec_id < b.vec_id),
      |bounds AS (SELECT MIN(d2_e12) AS mn, MAX(d2_e12) AS mx FROM pairs)
      |SELECT LEAST(15, (p.d2_e12 - b.mn) * 16 // (b.mx - b.mn + 1)) AS bucket,
      |  COUNT(*) AS n_pairs,
      |  MIN(p.d2_e12) AS lo_d2_e12, MAX(p.d2_e12) AS hi_d2_e12
      |FROM pairs p, bounds b
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------- leading-dim covariance audit
  /** Pairwise covariance and Pearson correlation of the first 8
    * embedding dimensions — the off-diagonal companion to
    * emb_dim_variance: isotropic embeddings should show near-zero
    * cross-dim correlation, and a dominated off-diagonal block is the
    * cheap symptom of the anisotropy emb_pca_power quantifies.
    *
    * Numerics: sums run on the ×1e3 integer grid (NOT the tier's
    * usual 1e6 — n·Σx² must stay inside BIGINT: at 1e6 the product
    * n·Σx² ≈ 2.5e19 overflows for 5 k vectors; at 1e3 it is 2.5e13),
    * so covariance is exact integer. Pearson needs a square root;
    * both engines evaluate the IDENTICAL num/SQRT(a·b) double
    * expression and snap ×1000 (the BM25 last-ulp stance).
    *
    * Scale shape: posexplode prunes to dims < 8 before the self-join,
    * so the pair frame is 28 rows per vector — linear in n with
    * map-side partial aggregation; no vector×vector work. */
  def dimCovariance(s: SparkSession, d: String): DataFrame = {
    val x = embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "xv")))
      .filter(col("dim") < 8)
      .select(col("vec_id"), col("dim"),
        floor(col("xv").cast("double") * 1e3 + 0.5).cast("long").as("xe3"))
    val a = x.select(col("vec_id"), col("dim").as("di"), col("xe3").as("xi"))
    val b = x.select(col("vec_id"), col("dim").as("dj"), col("xe3").as("xj"))
    a.join(b, "vec_id").filter(col("di") < col("dj"))
      .groupBy(col("di"), col("dj"))
      .agg(count(lit(1)).as("n"),
        sum(col("xi")).as("sx"), sum(col("xj")).as("sy"),
        sum(col("xi") * col("xj")).as("sxy"),
        sum(col("xi") * col("xi")).as("sxx"),
        sum(col("xj") * col("xj")).as("syy"))
      .withColumn("cov_e6", expr("(n * sxy - sx * sy) DIV (n * n)"))
      .withColumn("pearson_milli", expr(
        """CAST(FLOOR(CAST(n * sxy - sx * sy AS DOUBLE)
          |  / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
          |         * CAST(n * syy - sy * sy AS DOUBLE)) * 1000 + 0.5)
          |AS BIGINT)""".stripMargin))
      .select(col("di"), col("dj"), col("n"), col("cov_e6"),
        col("pearson_milli"))
      .orderBy(col("di"), col("dj"))
  }

  val dimCovarianceSql: String =
    """WITH x AS (
      |  SELECT vec_id, i - 1 AS dim,
      |    CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000 + 0.5) AS BIGINT)
      |      AS xe3
      |  FROM embeddings, (SELECT UNNEST(range(1, 9)) AS i) g
      |  WHERE i <= len(embedding)),
      |p AS (
      |  SELECT a.dim AS di, b.dim AS dj, COUNT(*) AS n,
      |    CAST(SUM(a.xe3) AS BIGINT) AS sx,
      |    CAST(SUM(b.xe3) AS BIGINT) AS sy,
      |    CAST(SUM(a.xe3 * b.xe3) AS BIGINT) AS sxy,
      |    CAST(SUM(a.xe3 * a.xe3) AS BIGINT) AS sxx,
      |    CAST(SUM(b.xe3 * b.xe3) AS BIGINT) AS syy
      |  FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.dim < b.dim
      |  GROUP BY 1, 2)
      |SELECT di, dj, n,
      |  (n * sxy - sx * sy) // (n * n) AS cov_e6,
      |  CAST(FLOOR(CAST(n * sxy - sx * sy AS DOUBLE)
      |    / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
      |           * CAST(n * syy - sy * sy AS DOUBLE)) * 1000 + 0.5)
      |  AS BIGINT) AS pearson_milli
      |FROM p ORDER BY di, dj""".stripMargin

  // --------------------------------- per-label centroid drift
  /** Per-label centroid SHIFT between two corpus halves (vec_id
    * parity as the deterministic snapshot split — embeddings carry no
    * timestamp; a real deployment splits on ingest date): squared L2
    * distance between the two halves' centroids on the ×1e3 integer
    * grid, plus the single most-moved dimension. The embedding-space
    * analog of doc_snapshot_diff: a re-embedded or drifted encoder
    * moves label centroids long before recall evals notice.
    *
    * Numerics: per-(label, half, dim) sums on the ×1e3 grid (the
    * dimCovariance overflow stance); centroid components are
    * truncated integer means (DIV, mirrored by DuckDB //, both
    * truncate toward zero for the negative components); the shift is
    * then an exact-integer Σ(ma−mb)² on the e6 grid.
    *
    * Scale shape: one posexplode + one (label, half, dim) hash-agg
    * — 2·|labels|·64 cells regardless of corpus size; everything
    * after runs on the cell table. */
  def centroidDrift(s: SparkSession, d: String): DataFrame = {
    val x = embeddings(s, d)
      .select(col("label"), (col("vec_id") % 2).as("half"),
        posexplode(col("embedding")).as(Seq("dim", "xv")))
      .select(col("label"), col("half"), col("dim"),
        floor(col("xv").cast("double") * 1e3 + 0.5).cast("long").as("xe3"))
    val cells = x.groupBy(col("label"), col("half"), col("dim"))
      .agg(sum(col("xe3")).as("sx"), count(lit(1)).as("nv"))
      .withColumn("m", expr("sx DIV nv"))
    val a = cells.filter(col("half") === 0)
      .select(col("label"), col("dim"), col("m").as("ma"), col("nv").as("nva"))
    val b = cells.filter(col("half") === 1)
      .select(col("label"), col("dim"), col("m").as("mb"), col("nv").as("nvb"))
    val diffs = a.join(b, Seq("label", "dim"))
      .withColumn("dlt", col("ma") - col("mb"))
    val agg = diffs.groupBy(col("label"))
      .agg(max(col("nva")).as("n_a"), max(col("nvb")).as("n_b"),
        sum(col("dlt") * col("dlt")).as("shift2_e6"))
    val wr = Window.partitionBy(col("label"))
      .orderBy(abs(col("dlt")).desc, col("dim"))
    val top = diffs.withColumn("rn", row_number().over(wr))
      .filter(col("rn") === 1)
      .select(col("label"), col("dim").as("top_dim"),
        col("dlt").as("top_shift_e3"))
    agg.join(top, "label")
      .select(col("label"), col("n_a"), col("n_b"), col("shift2_e6"),
        col("top_dim"), col("top_shift_e3"))
      .orderBy(col("label"))
  }

  val centroidDriftSql: String =
    """WITH x AS (
      |  SELECT label, vec_id % 2 AS half, i - 1 AS dim,
      |    CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000 + 0.5) AS BIGINT)
      |      AS xe3
      |  FROM (SELECT label, vec_id, embedding,
      |          UNNEST(range(1, len(embedding) + 1)) AS i
      |        FROM embeddings) g),
      |cells AS (
      |  SELECT label, half, dim, CAST(SUM(xe3) AS BIGINT) AS sx,
      |    CAST(COUNT(*) AS BIGINT) AS nv
      |  FROM x GROUP BY 1, 2, 3),
      |m AS (SELECT label, half, dim, sx // nv AS m, nv FROM cells),
      |d AS (
      |  SELECT a.label, a.dim, a.m - b.m AS dlt, a.nv AS nva, b.nv AS nvb
      |  FROM m a JOIN m b ON a.label = b.label AND a.dim = b.dim
      |    AND a.half = 0 AND b.half = 1),
      |agg AS (
      |  SELECT label, MAX(nva) AS n_a, MAX(nvb) AS n_b,
      |    CAST(SUM(dlt * dlt) AS BIGINT) AS shift2_e6
      |  FROM d GROUP BY 1),
      |top AS (
      |  SELECT label, dim AS top_dim, dlt AS top_shift_e3
      |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY label
      |          ORDER BY ABS(dlt) DESC, dim) AS rn FROM d)
      |  WHERE rn = 1)
      |SELECT label, n_a, n_b, shift2_e6, top_dim, top_shift_e3
      |FROM agg JOIN top USING (label) ORDER BY label""".stripMargin

  // ------------------------------------- IVF cell-balance audit
  /** Occupancy profile of the sign-plane IVF index: vectors per cell,
    * share in permille, and the hot-cell factor (cell size ×1000 /
    * ideal uniform size). The health metric behind
    * emb_ann_recall_eval: multi-probe recall collapses exactly when
    * occupancy skews, and at scale a hot cell is also a hot TASK in
    * every probe join — this audit is the early warning that the
    * quantizer needs more planes or a k-means refit.
    *
    * Scale shape: the index projection is a per-row plane-dot; the
    * audit is one 2^planes-cell hash-agg with a 1-row total joined
    * back broadcast. */
  def ivfBalance(s: SparkSession, d: String): DataFrame = {
    val cells = graft.operators.IvfIndex.buildSign(embeddings(s, d))
      .groupBy(col("cell")).agg(count(lit(1)).as("n_vecs"))
    val tot = cells.agg(sum(col("n_vecs")).as("n_total"),
      count(lit(1)).as("n_cells"))
    cells.crossJoin(broadcast(tot))
      .withColumn("share_permille", expr("n_vecs * 1000 DIV n_total"))
      .withColumn("hot_factor_milli",
        expr("n_vecs * n_cells * 1000 DIV n_total"))
      .select(col("cell"), col("n_vecs"), col("share_permille"),
        col("hot_factor_milli"))
      .orderBy(col("cell"))
  }

  /** Mirrors annIvfSql's sign-plane cell computation (same SIN-based
    * deterministic pseudo-plane dots — see operators.SignPlanes). */
  val ivfBalanceSql: String = {
    def dotSql(p: Int): String =
      s"""list_reduce(list_transform(range(1, len(embedding)+1),
         |  i -> CAST(embedding[i] AS DOUBLE) * SIN(CAST(${p * 1000} AS DOUBLE) + (i-1))),
         |  (a, b) -> a + b)""".stripMargin
    s"""WITH cells AS (
       |  SELECT vec_id,
       |    (CASE WHEN d0 >= 0 THEN 4 ELSE 0 END
       |     + CASE WHEN d1 >= 0 THEN 2 ELSE 0 END
       |     + CASE WHEN d2 >= 0 THEN 1 ELSE 0 END) AS cell
       |  FROM (SELECT vec_id,
       |          ${dotSql(0)} AS d0,
       |          ${dotSql(1)} AS d1,
       |          ${dotSql(2)} AS d2
       |        FROM embeddings) t),
       |g AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vecs
       |      FROM cells GROUP BY 1),
       |tot AS (SELECT CAST(SUM(n_vecs) AS BIGINT) AS n_total,
       |          COUNT(*) AS n_cells FROM g)
       |SELECT g.cell, g.n_vecs,
       |  g.n_vecs * 1000 // t.n_total AS share_permille,
       |  g.n_vecs * t.n_cells * 1000 // t.n_total AS hot_factor_milli
       |FROM g, tot t ORDER BY g.cell""".stripMargin
  }

  // --------------------------------------------- hubness audit
  /** k-occurrence (hubness) audit of the embedding space: how often
    * each vector appears in other points' exact top-5 neighbor lists.
    * In high dimensions the k-occurrence distribution skews — a few
    * "hub" vectors dominate everyone's neighbor lists while many
    * "antihubs" appear in none — which silently degrades ANN recall,
    * k-NN classification, and dedup-by-neighbor pipelines (the
    * well-documented hubness phenomenon from the public k-NN
    * literature). Output: the full k-occurrence histogram
    * (occurrence count → number of vectors), including the
    * antihub row at occurrence 0, so the skew is read directly:
    * healthy spaces hum near the mean occurrence, hubby spaces grow
    * a long tail and a fat zero row.
    *
    * Scale shape: neighbor lists come from emb_cosine_topk's capped
    * broadcast query sample (≤1024 queries, O(sample · n) — linear
    * in corpus, never n²), so the audit inherits its cost contract;
    * on top of it: two hash-aggs and two 1-row stat broadcasts for
    * the antihub complement. The histogram is at most 5·|sample|
    * distinct occurrence values — broadcast-sized forever. */
  def hubnessAudit(s: SparkSession, d: String): DataFrame = {
    val top = Embeddings.cosineTopK(s, d)
    val occ = top.groupBy(col("c_id")).agg(count(lit(1)).as("occ"))
    val hist = occ.groupBy(col("occ")).agg(count(lit(1)).as("n_vectors"))
    val zero = embeddings(s, d).agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(occ.agg(count(lit(1)).as("seen"))))
      .select(lit(0L).as("occ"), (col("n") - col("seen")).as("n_vectors"))
    hist.unionByName(zero).orderBy(col("occ"))
  }

  val hubnessAuditSql: String = {
    val topk = Embeddings.cosineTopKSql.replace("ORDER BY q_id, rank", "")
    s"""WITH topk AS ($topk),
       |occ AS (SELECT c_id, COUNT(*) AS occ FROM topk GROUP BY 1),
       |hist AS (
       |  SELECT CAST(occ AS BIGINT) AS occ,
       |    CAST(COUNT(*) AS BIGINT) AS n_vectors
       |  FROM occ GROUP BY 1)
       |SELECT occ, n_vectors FROM hist
       |UNION ALL
       |SELECT CAST(0 AS BIGINT),
       |  (SELECT COUNT(*) FROM embeddings) - (SELECT COUNT(*) FROM occ)
       |ORDER BY occ""".stripMargin
  }

  // ------------------------------------------------ isotropy audit
  /** Isotropy audit: the mean PAIRWISE cosine among unit-normalized
    * vectors, per label and globally ('ALL') — the collapse detector
    * for embedding spaces. A healthy isotropic space has mean pair
    * cosine near 0; a space squeezed into a narrow cone (the classic
    * anisotropy pathology that all-but-the-top post-processing
    * removes) shows a large positive value, and retrieval loses
    * contrast long before recall@k metrics notice. The companion
    * `mean_norm_e3` is the norm of the MEAN unit vector — the
    * magnitude of the common direction ABTT would subtract.
    *
    * The trick that makes this exact and O(n·d) instead of O(n²·d):
    * Σ_{i≠j} v̂ᵢ·v̂ⱼ = ‖Σᵢ v̂ᵢ‖² − Σᵢ‖v̂ᵢ‖², so one per-(label,dim)
    * SUM grid answers the all-pairs question with no pair join at
    * all. Components are unit-normalized on a ×1e3 integer grid
    * (norms from the exact ×1e6 squared sums; the sqrt of an exact
    * int64 is correctly rounded in IEEE double on both engines), so
    * every downstream sum is integer-exact. The squared dim-sums run
    * on DECIMAL(38) — ‖Σv̂‖² passes int64 once n·10³ per dim exceeds
    * ~3e9 vectors, real at corpus scale — and the final ratios are
    * back in int64 by construction.
    *
    * Scale shape: one posexplode O(n·d) → per-vector norm hash-agg →
    * one (label,dim) SUM grid (labels×dims rows); the global row
    * re-aggregates the GRID, not the corpus. Never a vector pair. */
  def isotropy(s: SparkSession, d: String): DataFrame = {
    val x = embeddings(s, d)
      .select(col("vec_id"), col("label").cast("string").as("label"),
        posexplode(col("embedding")).as(Seq("dim", "xv")))
      .select(col("vec_id"), col("label"), col("dim"),
        floor(col("xv").cast("double") * 1e3 + 0.5).cast("long").as("xe3"))
    val norms = x.groupBy(col("vec_id"), col("label"))
      .agg(sum(col("xe3") * col("xe3")).as("n2_e6"))
      .filter(col("n2_e6") > 0)
    val unit = x.join(norms.select(col("vec_id"), col("n2_e6")), "vec_id")
      .select(col("label"), col("dim"),
        floor(col("xe3").cast("double") * 1000.0 /
          sqrt(col("n2_e6").cast("double")) + 0.5).cast("long").as("ue3"))
    val grid = unit.groupBy(col("label"), col("dim"))
      .agg(sum(col("ue3")).as("sl"), sum(col("ue3") * col("ue3")).as("ql"))
    val perLabel = grid.groupBy(col("label"))
      .agg(sum(col("sl").cast("decimal(19,0)") * col("sl").cast("decimal(19,0)"))
        .as("ss"), sum(col("ql")).as("q"))
    val global = grid.groupBy(col("dim"))
      .agg(sum(col("sl")).as("sl"), sum(col("ql")).as("ql"))
      .agg(sum(col("sl").cast("decimal(19,0)") * col("sl").cast("decimal(19,0)"))
        .as("ss"), sum(col("ql")).as("q"))
      .withColumn("label", lit("ALL"))
    val counts = norms.groupBy(col("label")).agg(count(lit(1)).as("n_vecs"))
      .unionByName(norms.agg(count(lit(1)).as("n_vecs"))
        .withColumn("label", lit("ALL")))
    perLabel.unionByName(global.select(col("label"), col("ss"), col("q")))
      .join(counts, "label")
      .filter(col("n_vecs") >= 2)
      // (ss − q) spans e6 units over n(n−1) pairs; truncating decimal
      // division via the exact (a − a%b)/b device (matches DuckDB //)
      .withColumn("a", col("ss") - col("q").cast("decimal(19,0)"))
      // cast BEFORE the multiply (ADVICE r9): n·(n−1) in int64 wraps
      // past n ≈ 3e9 while the oracle multiplies in HUGEINT
      .withColumn("b",
        col("n_vecs").cast("decimal(19,0)") * (col("n_vecs") - 1))
      .withColumn("mean_pair_cos_e6",
        ((col("a") - col("a") % col("b")) / col("b")).cast("long"))
      .withColumn("mean_norm_e3",
        floor(sqrt(col("ss").cast("double")) / col("n_vecs")).cast("long"))
      .select(col("label"), col("n_vecs"), col("mean_pair_cos_e6"),
        col("mean_norm_e3"))
      .orderBy(col("label"))
  }

  val isotropySql: String =
    """WITH x AS (
      |  SELECT vec_id, CAST(label AS VARCHAR) AS label, i - 1 AS dim,
      |    CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1e3 + 0.5) AS BIGINT)
      |      AS xe3
      |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)),
      |norms AS (
      |  SELECT vec_id, label, CAST(SUM(xe3 * xe3) AS BIGINT) AS n2_e6
      |  FROM x GROUP BY 1, 2 HAVING SUM(xe3 * xe3) > 0),
      |unit AS (
      |  SELECT x.label, x.dim,
      |    CAST(FLOOR(CAST(x.xe3 AS DOUBLE) * 1000.0 /
      |      SQRT(CAST(n.n2_e6 AS DOUBLE)) + 0.5) AS BIGINT) AS ue3
      |  FROM x JOIN norms n USING (vec_id)),
      |grid AS (
      |  SELECT label, dim, CAST(SUM(ue3) AS BIGINT) AS sl,
      |    CAST(SUM(ue3 * ue3) AS BIGINT) AS ql
      |  FROM unit GROUP BY 1, 2),
      |per_label AS (
      |  SELECT label, SUM(CAST(sl AS HUGEINT) * sl) AS ss,
      |    CAST(SUM(ql) AS BIGINT) AS q
      |  FROM grid GROUP BY 1
      |  UNION ALL
      |  SELECT 'ALL' AS label, SUM(CAST(sl AS HUGEINT) * sl) AS ss,
      |    CAST(SUM(ql) AS BIGINT) AS q
      |  FROM (SELECT dim, CAST(SUM(sl) AS BIGINT) AS sl,
      |          CAST(SUM(ql) AS BIGINT) AS ql
      |        FROM grid GROUP BY 1)),
      |counts AS (
      |  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs
      |  FROM norms GROUP BY 1
      |  UNION ALL
      |  SELECT 'ALL', CAST(COUNT(*) AS BIGINT) FROM norms)
      |SELECT p.label, c.n_vecs,
      |  CAST((p.ss - p.q) // (CAST(c.n_vecs AS HUGEINT) * (c.n_vecs - 1))
      |    AS BIGINT) AS mean_pair_cos_e6,
      |  CAST(FLOOR(SQRT(CAST(p.ss AS DOUBLE)) / c.n_vecs) AS BIGINT)
      |    AS mean_norm_e3
      |FROM per_label p JOIN counts c USING (label)
      |WHERE c.n_vecs >= 2
      |ORDER BY p.label""".stripMargin

  val queries: Map[String, Query] = Map(
    "emb_isotropy" -> Query(isotropy, isotropySql),
    "emb_hubness_audit" -> Query(hubnessAudit, hubnessAuditSql),
    "emb_centroid_margin" -> Query(centroidMargin, centroidMarginSql),
    "emb_pca_power" -> Query(pcaPower, pcaPowerSql),
    "emb_pair_distance_hist" -> Query(pairDistanceHist, pairDistanceHistSql),
    "emb_dim_covariance" -> Query(dimCovariance, dimCovarianceSql),
    "emb_ivf_balance" -> Query(ivfBalance, ivfBalanceSql),
    "emb_centroid_drift" -> Query(centroidDrift, centroidDriftSql))
}
