package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.Query

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * Scale path: brute-force cosine is the correctness baseline (O(n²)
  * pairs, broadcast one side when it fits); the LSH-bucketed variant
  * (random-hyperplane signs) bounds the candidate space per bucket and
  * is the 100 TB shape — shuffle on bucket key, no cross join.
  *
  * All arithmetic is done in DOUBLE with a fixed left-to-right
  * `aggregate` fold so Spark and DuckDB produce bit-identical sums.
  */
object Embeddings {

  /** dot(a, b) as an in-order double fold over zip_with products. */
  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  private def norm2(a: Column): Column = dot(a, a)

  /** Exact cosine top-k for a BOUNDED query set vs the whole table;
    * top-k neighbors per query by (similarity desc, id). IDs-and-rank
    * output keeps the hash compare float-free except for the
    * similarity itself (deterministic by the fold above).
    *
    * Scale contract: the query side is capped at <=1024 vectors
    * (vec_id % 50 == 0 AND vec_id < 51200 — deterministic, and a
    * no-op at test SFs where max vec_id is far below the cap), and it
    * is the BROADCAST side; the full corpus streams past it, so total
    * work is O(1024 * n) — linear in corpus size, never n². The
    * unbounded-query-set shape lives in emb_ann_* (LSH/IVF). PlanSpec
    * pins the broadcast direction. */
  def cosineTopK(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(s)
    val e = embeddings(s, d)
    val queries = e.filter(col("vec_id") % 50 === 0 && col("vec_id") < 51200)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val cand = e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    // native CosineSimF expression: one primitive loop per pair inside
    // codegen (same fold order as the zip_with composition → same
    // doubles as the DuckDB oracle); ~10× the composed throughput
    val scored = cand.join(broadcast(queries), col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        graft.functions.GraftFunctions
          .cosineSim(col("q_emb"), col("c_emb")).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("c_id"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  val cosineTopKSql: String =
    s"""WITH q AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
       |  WHERE vec_id % 50 = 0 AND vec_id < 51200),
       |c AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings),
       |scored AS (
       |  SELECT q_id, c_id,
       |    ${cosFoldSql("q_emb", "c_emb")} AS cos
       |  FROM q JOIN c ON q_id <> c_id),
       |ranked AS (
       |  SELECT q_id, c_id,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank
       |  FROM scored)
       |SELECT q_id, c_id, rank FROM ranked WHERE rank <= 5
       |ORDER BY q_id, rank""".stripMargin

  /** Per-label centroid + stats: the clustering/recall-eval building
    * block. Sums are in-order double folds per row then Spark/DuckDB
    * aggregate over rows — element sums of doubles from floats are
    * exact-ish; we round to 6 decimals in both engines to be safe. */
  def labelCentroidNorm(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .select(col("label"), norm2(col("embedding")).as("n2"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        (sum(floor(col("n2") * lit(1e6) + lit(0.5))) / lit(1e6)).as("sum_norm2"))
      .orderBy(col("label"))

  val labelCentroidNormSql: String =
    """WITH t AS (
      |  SELECT label,
      |    list_reduce(list_transform(range(1, len(embedding)+1),
      |        i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
      |      (a, b) -> a + b) AS n2
      |  FROM embeddings)
      |SELECT label, COUNT(*) AS n,
      |  SUM(CAST(FLOOR(n2*1000000 + 0.5) AS BIGINT))/1000000.0 AS sum_norm2
      |FROM t GROUP BY label ORDER BY label""".stripMargin

  /** LSH-bucketed ANN: sign-bit signature from fixed pseudo-random
    * hyperplanes (deterministic, seedless: plane p component i =
    * sin(p*1000 + i), identical in both engines), then candidates share
    * a bucket. The scale path: shuffle on bucket, no cross join. */
  private def planeDot(emb: Column, p: Int): Column =
    graft.operators.SignPlanes.planeDot(emb, p)

  /** 8-bit sign signature per vector (shared by annLshBuckets and
    * dedupEmbeddingLsh): vectors in the same bucket agree on all 8
    * hyperplane sides — the LSH candidate key. */
  private def signBuckets(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("label"), col("embedding"),
      concat((0 until 8).map(p =>
        when(planeDot(col("embedding"), p) >= 0, lit("1")).otherwise(lit("0"))): _*)
        .as("bucket"))

  def annLshBuckets(s: SparkSession, d: String): DataFrame = {
    val sig = signBuckets(embeddings(s, d)).select(col("vec_id"), col("label"), col("bucket"))
    sig.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_vecs"),
        countDistinct(col("label")).as("n_labels"),
        min(col("vec_id")).as("min_id"))
      .orderBy(col("bucket"))
  }

  /** The n-plane sign signature in DuckDB SQL (mirror of signBuckets). */
  private def planesSqlN(n: Int): String = (0 until n).map { p =>
    s"""CASE WHEN list_reduce(list_transform(range(1, len(embedding)+1),
       |  i -> CAST(embedding[i] AS DOUBLE) * SIN(CAST(${p * 1000} AS DOUBLE) + (i-1))),
       |  (a, b) -> a + b) >= 0 THEN '1' ELSE '0' END""".stripMargin
  }.mkString(" || ")

  private val planesSql: String = planesSqlN(8)

  /** cosine(ae, be) as portable in-order folds (mirror of CosineSimF,
    * INCLUDING its zero-norm guard — CosineSim.scala returns 0.0 when
    * either norm is 0, while a bare dot/SQRT(0·n) in DuckDB is NaN,
    * which DuckDB orders above every double, so an unguarded fold
    * would count a zero vector as similar to everything). */
  private[queries] def cosFoldSql(ae: String, be: String): String = {
    def n2(v: String) =
      s"""list_reduce(list_transform(range(1, len($v)+1),
         |          i -> CAST($v[i] AS DOUBLE) * CAST($v[i] AS DOUBLE)),
         |        (x, y) -> x + y)""".stripMargin
    s"""(CASE WHEN ${n2(ae)} = 0 OR ${n2(be)} = 0 THEN 0.0 ELSE
       |    list_reduce(list_transform(range(1, len($ae)+1),
       |      i -> CAST($ae[i] AS DOUBLE) * CAST($be[i] AS DOUBLE)),
       |      (x, y) -> x + y)
       |    / SQRT(${n2(ae)} * ${n2(be)}) END)""".stripMargin
  }

  val annLshBucketsSql: String =
    s"""WITH sig AS (
       |  SELECT vec_id, label, $planesSql AS bucket FROM embeddings)
       |SELECT bucket, COUNT(*) AS n_vecs,
       |  COUNT(DISTINCT label) AS n_labels, MIN(vec_id) AS min_id
       |FROM sig GROUP BY bucket ORDER BY bucket""".stripMargin

  // ------------------------------------------- quantized ANN rescore
  /** ANN with int8 quantized rescoring — the production vector-store
    * recipe (coarse quantizer prunes, low-precision integer dot ranks):
    * each vector quantizes to int8 on its own L2 scale (so the integer
    * dot is a scaled cosine), a 2-plane sign bucket bounds the
    * candidate set, and ranking runs on the EXACT INTEGER quantized
    * dot product — no float enters the ordering, so top-k is
    * total-order deterministic on any engine and the oracle needs no
    * snapping at all.
    *
    * Scale shape: quantization is a per-row projection (8× smaller
    * vectors for the rescore pass than float64 math); candidates come
    * from an equi-join on the bucket key (shuffle, never broadcast-all
    * — the brute cosineTopK above is the documented exactness
    * baseline); per-query top-k is a window partitioned by the query.
    * Integer dot of 64 int8 components bounds at 64·127² ≈ 10⁶ — long
    * headroom to 4096-dim embeddings and beyond.
    *
    * Recall vs exact float cosine is pinned in SignAnnSpec; it is an
    * approximation by design (quantization + single-probe bucket). */
  def annQuantized(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    // L2 scale (not max-abs): with q ≈ 127·x/‖x‖ the integer dot is a
    // scaled cosine, so integer ranking tracks cosine ranking; every
    // |component| ≤ ‖x‖ keeps q in [-127, 127]
    val quant = e
      .withColumn("m", sqrt(norm2(col("embedding"))))
      .withColumn("qv",
        when(col("m") === 0.0,
          transform(col("embedding"), _ => lit(0L)))
        .otherwise(transform(col("embedding"),
          x => floor(x.cast("double") * 127.0 / col("m") + 0.5))))
      .withColumn("bucket",
        concat((0 until 2).map(p =>
          when(planeDot(col("embedding"), p) >= 0, lit("1"))
            .otherwise(lit("0"))): _*))
      .select(col("vec_id"), col("bucket"), col("qv"))
    val q = quant.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("bucket"), col("qv").as("q_qv"))
    val c = quant
      .select(col("vec_id").as("c_id"), col("bucket"), col("qv").as("c_qv"))
    val scored = q.join(c, "bucket")
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("score",
        aggregate(zip_with(col("q_qv"), col("c_qv"), (x, y) => x * y),
          lit(0L), (a, x) => a + x))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("score").desc, col("c_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("c_id"), col("score"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  val annQuantizedSql: String =
    s"""WITH qz AS (
       |  SELECT vec_id, embedding, ${planesSqlN(2)} AS bucket,
       |    SQRT(list_reduce(list_transform(range(1, len(embedding)+1),
       |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
       |      (a, b) -> a + b)) AS m
       |  FROM embeddings),
       |quant AS (
       |  SELECT vec_id, bucket,
       |    list_transform(embedding, x -> CASE WHEN m = 0
       |      THEN CAST(0 AS BIGINT)
       |      ELSE CAST(FLOOR(CAST(x AS DOUBLE)*127.0/m + 0.5) AS BIGINT)
       |      END) AS qv
       |  FROM qz),
       |q AS (SELECT vec_id AS q_id, bucket, qv AS q_qv FROM quant
       |      WHERE vec_id % 50 = 0),
       |c AS (SELECT vec_id AS c_id, bucket, qv AS c_qv FROM quant),
       |scored AS (
       |  SELECT q_id, c_id,
       |    list_reduce(list_transform(range(1, len(q_qv)+1),
       |      i -> q_qv[i]*c_qv[i]), (a,b) -> a+b) AS score
       |  FROM q JOIN c USING (bucket) WHERE q_id <> c_id),
       |ranked AS (
       |  SELECT q_id, c_id, CAST(score AS BIGINT) AS score,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |         ORDER BY score DESC, c_id) AS INT) AS rank
       |  FROM scored)
       |SELECT q_id, c_id, score, rank FROM ranked WHERE rank <= 5
       |ORDER BY q_id, rank""".stripMargin

  /** Embedding-cosine near-dup, brute form: all pairs with cosine >=
    * 0.99. NOT the declared query (an all-pairs broadcast join is a
    * scale-killer) — kept only as the test oracle for
    * dedupEmbeddingLsh below (SignAnnSpec). */
  def dedupEmbeddingCosine(s: SparkSession, d: String): DataFrame =
    dedupEmbeddingCosineOn(s, embeddings(s, d))

  def dedupEmbeddingCosineOn(s: SparkSession, e: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.registerAll(s)
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("ea"),
      col("label").as("label_a"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("eb"),
      col("label").as("label_b"))
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("label_a"), col("label_b"),
        graft.functions.GraftFunctions.cosineSim(col("ea"), col("eb")).as("cos"))
      .filter(col("cos") >= 0.99)
      .select(col("id_a"), col("id_b"),
        (col("label_a") === col("label_b")).as("same_label"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Embedding near-dup, scale path (the declared query): sign-bucket
    * LSH candidates + exact cosine verify within buckets — shuffle on
    * the 8-bit bucket key, pair cost is sum-of-bucket², never n².
    * The all-pairs form above is the test oracle for it (SignAnnSpec,
    * incl. planted near-duplicates) — at 100 TB only this one runs. */
  def dedupEmbeddingLsh(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(s)
    dedupEmbeddingLshOn(s, embeddings(s, d))
  }

  /** Core LSH dedup over any (vec_id, label, embedding) frame —
    * separated so specs can plant near-duplicates (the synthetic
    * table has none, and a 0-row pass proves little). */
  def dedupEmbeddingLshOn(s: SparkSession, e: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.registerAll(s)
    val sig = signBuckets(e)
    val a = sig.as("a"); val b = sig.as("b")
    a.join(b, col("a.bucket") === col("b.bucket") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        col("a.label").as("label_a"), col("b.label").as("label_b"),
        graft.functions.GraftFunctions
          .cosineSim(col("a.embedding"), col("b.embedding")).as("cos"))
      .filter(col("cos") >= 0.99)
      .select(col("id_a"), col("id_b"),
        (col("label_a") === col("label_b")).as("same_label"))
      .orderBy(col("id_a"), col("id_b"))
  }

  val dedupEmbeddingLshSql: String =
    s"""WITH sig AS (
       |  SELECT vec_id, label, embedding, $planesSql AS bucket
       |  FROM embeddings),
       |p AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    a.label AS label_a, b.label AS label_b,
       |    ${cosFoldSql("a.embedding", "b.embedding")} AS cos
       |  FROM sig a JOIN sig b
       |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
       |SELECT id_a, id_b, label_a = label_b AS same_label
       |FROM p WHERE cos >= 0.99
       |ORDER BY id_a, id_b""".stripMargin

  /** IVF ANN as a query: deterministic sign-plane coarse quantizer
    * (8 cells), multi-probe = own cell + 2 lowest-|margin| bit flips.
    * Fully engine-portable, so it carries a DuckDB oracle; the
    * k-means-quantizer variant of the same machinery stays recall-
    * pinned in IvfIndexSpec. */
  def annIvf(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(s)
    val e = embeddings(s, d)
    val index = graft.operators.IvfIndex.buildSign(e)
    val queries = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    graft.operators.IvfIndex.searchSign(index, queries, k = 5,
      nProbe = 3, excludeSelf = true)
      .select(col("q_id"), col("c_id"), col("rank"))
  }

  /** The sign-plane IVF search as DuckDB SQL, parameterized by the
    * number of margin-ordered bit FLIPS (nProbe = flips + 1). Shared
    * by annIvfSql (flips = 2) and the recall sweep (flips = 0 vs 2). */
  def annIvfSqlFlips(flips: Int): String = {
    def dotSql(p: Int): String =
      s"""list_reduce(list_transform(range(1, len(embedding)+1),
         |  i -> CAST(embedding[i] AS DOUBLE) * SIN(CAST(${p * 1000} AS DOUBLE) + (i-1))),
         |  (a, b) -> a + b)""".stripMargin
    s"""WITH cells AS (
       |  SELECT vec_id, embedding, d0, d1, d2,
       |    (CASE WHEN d0 >= 0 THEN 4 ELSE 0 END
       |     + CASE WHEN d1 >= 0 THEN 2 ELSE 0 END
       |     + CASE WHEN d2 >= 0 THEN 1 ELSE 0 END) AS cell
       |  FROM (SELECT vec_id, embedding,
       |          ${dotSql(0)} AS d0,
       |          ${dotSql(1)} AS d1,
       |          ${dotSql(2)} AS d2
       |        FROM embeddings) t),
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb, cell, d0, d1, d2
       |      FROM cells WHERE vec_id % 50 = 0),
       |flip AS (
       |  SELECT q_id, m FROM (
       |    SELECT q_id, m, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY a, p) AS r
       |    FROM (SELECT q_id, ABS(d0) AS a, 0 AS p, 4 AS m FROM q
       |          UNION ALL SELECT q_id, ABS(d1), 1, 2 FROM q
       |          UNION ALL SELECT q_id, ABS(d2), 2, 1 FROM q) u) rr
       |  WHERE r <= $flips),
       |probes AS (
       |  SELECT q_id, q_emb, cell FROM q
       |  UNION ALL
       |  SELECT q.q_id, q.q_emb, xor(q.cell, f.m) AS cell
       |  FROM q JOIN flip f ON q.q_id = f.q_id),
       |cand AS (
       |  SELECT p.q_id, c.vec_id AS c_id,
       |    ${cosFoldSql("p.q_emb", "c.embedding")} AS cos
       |  FROM probes p JOIN cells c ON p.cell = c.cell
       |  WHERE c.vec_id <> p.q_id),
       |ranked AS (
       |  SELECT q_id, c_id,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank
       |  FROM cand)
       |SELECT q_id, c_id, rank FROM ranked WHERE rank <= 5
       |ORDER BY q_id, rank""".stripMargin
  }

  val annIvfSql: String = annIvfSqlFlips(2)

  // ------------------------------------------- recall-vs-nProbe sweep
  /** The IVF tuning curve as a query: micro-averaged recall@5 against
    * the exact brute ranking at nProbe = 1 (own cell only) vs
    * nProbe = 3 (the production setting) — the measurement that
    * justifies every probe-count knob turn. Composes the same bounded
    * pieces as emb_ann_recall_eval; the sweep adds one extra
    * bucket-join probe pass, not a new shape.
    *
    * Scale shape: identical to emb_ann_recall_eval — ground truth on
    * the capped probe sample, per-setting joins on ≤(probes×5)-row
    * frames. */
  def annRecallSweep(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(s)
    val e = embeddings(s, d)
    val index = graft.operators.IvfIndex.buildSign(e)
    val probes = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val brute = cosineTopK(s, d).select(col("q_id"), col("c_id"))
    def recallOf(nProbe: Int): DataFrame = {
      val ivf = graft.operators.IvfIndex
        .searchSign(index, probes, k = 5, nProbe = nProbe,
          excludeSelf = true)
        .select(col("q_id").as("i_q"), col("c_id").as("i_c"))
      val hit = brute.join(ivf,
          col("q_id") === col("i_q") && col("c_id") === col("i_c"),
          "left_semi")
        .agg(count(lit(1)).as("n_hit"))
      val tot = brute.agg(count(lit(1)).as("n_total"))
      hit.crossJoin(broadcast(tot))
        .select(lit(nProbe).as("nprobe"), col("n_total"), col("n_hit"),
          expr("n_hit * 1000 DIV n_total").as("recall_permille"))
    }
    recallOf(1).unionByName(recallOf(3)).orderBy(col("nprobe"))
  }

  val annRecallSweepSql: String = {
    val brute = cosineTopKSql.replace("ORDER BY q_id, rank", "")
    val ivf1 = annIvfSqlFlips(0).replace("ORDER BY q_id, rank", "")
    val ivf3 = annIvfSqlFlips(2).replace("ORDER BY q_id, rank", "")
    s"""WITH brute AS (SELECT q_id, c_id FROM ($brute) tb),
       |ivf1 AS (SELECT q_id, c_id FROM ($ivf1) t1),
       |ivf3 AS (SELECT q_id, c_id FROM ($ivf3) t3),
       |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM brute),
       |h1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hit
       |       FROM brute b JOIN ivf1 i ON b.q_id = i.q_id AND b.c_id = i.c_id),
       |h3 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hit
       |       FROM brute b JOIN ivf3 i ON b.q_id = i.q_id AND b.c_id = i.c_id)
       |SELECT 1 AS nprobe, t.n_total, h1.n_hit,
       |  h1.n_hit * 1000 // t.n_total AS recall_permille FROM h1, t
       |UNION ALL
       |SELECT 3, t.n_total, h3.n_hit,
       |  h3.n_hit * 1000 // t.n_total FROM h3, t
       |ORDER BY nprobe""".stripMargin
  }

  // ------------------------------------------------- k-means buckets
  /** K-means assignment (one Lloyd assign step with deterministic
    * seed centers = every 64th vector): the semantic-bucketing pass
    * that stratifies a corpus by content cluster. Output is the
    * integer cluster histogram (count, id-sum, id-range per cluster) —
    * id_sum makes the check sensitive to ANY reassignment, while
    * keeping the compare float-free: distances are bit-deterministic
    * (fixed fold, no transcendentals — see operators.KMeans) but
    * integers remove even that dependence from the oracle hash.
    * The iterative update/SSE path is pinned Spark-side in KMeansSpec
    * (Lloyd's monotone-SSE invariant), not here: centroid MEANS are
    * shuffle-order dependent in the last ulp. */
  /** Deterministic seed centers (every 64th vector, k=8) + the point
    * projection — ONE definition for the three k-means-cell consumers
    * (kmeansAssign, outliersPerCell, semanticDedupOn). */
  private def seedCenters(e: DataFrame): DataFrame =
    e.filter(col("vec_id") % 64 === 0 && col("vec_id") < 512)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
  private def pointsOf(e: DataFrame): DataFrame =
    e.select(col("vec_id").as("id"), col("embedding").as("vec"))

  /** Σ(p−c)² as a portable in-order fold (mirror of KMeans.sqDist),
    * plus the seed-centers CTE — shared by the three cell oracles. */
  private def sqFoldSql(p: String, c: String): String =
    s"""list_reduce(list_transform(range(1, len($p)+1),
       |      i -> (CAST($p[i] AS DOUBLE) - CAST($c[i] AS DOUBLE))
       |           * (CAST($p[i] AS DOUBLE) - CAST($c[i] AS DOUBLE))),
       |      (x, y) -> x + y)""".stripMargin
  private val seedCentersCte: String =
    """c AS (
      |  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
      |  WHERE vec_id % 64 = 0 AND vec_id < 512)""".stripMargin

  def kmeansAssign(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    graft.operators.KMeans.assign(pointsOf(e), seedCenters(e))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_points"),
        sum(col("id")).as("id_sum"),
        min(col("id")).as("min_id"),
        max(col("id")).as("max_id"))
      .orderBy(col("cid"))
  }

  val kmeansAssignSql: String =
    s"""WITH $seedCentersCte,
       |a AS (
       |  SELECT p.vec_id AS id, c.cid,
       |    ${sqFoldSql("p.embedding", "c.cvec")} AS d2
       |  FROM embeddings p CROSS JOIN c),
       |best AS (
       |  SELECT id, cid FROM a
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY d2, cid) = 1)
       |SELECT cid, COUNT(*) AS n_points, CAST(SUM(id) AS BIGINT) AS id_sum,
       |  MIN(id) AS min_id, MAX(id) AS max_id
       |FROM best GROUP BY cid ORDER BY cid""".stripMargin

  // ------------------------------------ incremental index maintenance
  /** IVF index freshness audit — what happens when yesterday's
    * centroids meet today's ingest batch: vectors with vec_id%10==9
    * play the NEW batch, the rest the indexed corpus; both assign to
    * centers seeded from the OLD side only (re-training per batch is
    * exactly what an incremental index avoids), and the per-cell
    * old/new occupancy shares say whether the batch is drifting mass
    * into cells the index sized for less — the trigger for a
    * re-balance before probe latencies skew. The cell-level
    * companion to emb_centroid_drift (which watches the centroids
    * themselves move).
    *
    * All-integer outputs: occupancy counts, per-side permille
    * shares against the side's own total (a 1-row broadcast), and
    * the share shift. Exact d2 fold for assignment (the kmeans
    * stance).
    *
    * Scale shape: two broadcast-centers assigns (O(n·k), the
    * discipline every cell consumer pays), two cell hash-aggs, a
    * full-outer cell join (≤k rows), a 1-row totals broadcast. The
    * new-batch side is the only per-ingest cost — ∝ batch, the
    * incremental-dedup stance. */
  def ivfIncrementalAssign(s: SparkSession, d: String): DataFrame =
    ivfIncrementalAssignOn(embeddings(s, d))

  /** Core over a caller-supplied registry — separated so specs can
    * plant a drifting ingest batch. */
  def ivfIncrementalAssignOn(e: DataFrame): DataFrame = {
    val old = e.filter(col("vec_id") % 10 =!= 9)
    val fresh = e.filter(col("vec_id") % 10 === 9)
    val centers = seedCenters(old)
    val oldCells = graft.operators.KMeans.assign(pointsOf(old), centers)
      .groupBy(col("cid")).agg(count(lit(1)).as("n_old"))
    val newCells = graft.operators.KMeans.assign(pointsOf(fresh), centers)
      .groupBy(col("cid")).agg(count(lit(1)).as("n_new"))
    val cells = oldCells.join(newCells, Seq("cid"), "full_outer")
      .select(col("cid"),
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
    val tot = cells.agg(sum(col("n_old")).cast("long").as("t_old"),
      sum(col("n_new")).cast("long").as("t_new"))
    cells.crossJoin(broadcast(tot))
      .select(col("cid"), col("n_old"), col("n_new"),
        expr("""CASE WHEN t_old = 0 THEN CAST(0 AS BIGINT)
          |ELSE n_old * 1000 DIV t_old END""".stripMargin)
          .as("old_share_pm"),
        expr("""CASE WHEN t_new = 0 THEN CAST(0 AS BIGINT)
          |ELSE n_new * 1000 DIV t_new END""".stripMargin)
          .as("new_share_pm"))
      .withColumn("shift_pm", col("new_share_pm") - col("old_share_pm"))
      .orderBy(col("cid"))
  }

  val ivfIncrementalAssignSql: String =
    s"""WITH c AS (
       |  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
       |  WHERE vec_id % 64 = 0 AND vec_id < 512 AND vec_id % 10 <> 9),
       |ao AS (
       |  SELECT p.vec_id AS id, c.cid,
       |    ${sqFoldSql("p.embedding", "c.cvec")} AS d2
       |  FROM embeddings p CROSS JOIN c WHERE p.vec_id % 10 <> 9),
       |bo AS (
       |  SELECT id, cid FROM ao
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY d2, cid) = 1),
       |an AS (
       |  SELECT p.vec_id AS id, c.cid,
       |    ${sqFoldSql("p.embedding", "c.cvec")} AS d2
       |  FROM embeddings p CROSS JOIN c WHERE p.vec_id % 10 = 9),
       |bn AS (
       |  SELECT id, cid FROM an
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY d2, cid) = 1),
       |oc AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_old
       |  FROM bo GROUP BY cid),
       |nc AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_new
       |  FROM bn GROUP BY cid),
       |cells AS (
       |  SELECT COALESCE(oc.cid, nc.cid) AS cid,
       |    COALESCE(oc.n_old, 0) AS n_old, COALESCE(nc.n_new, 0) AS n_new
       |  FROM oc FULL JOIN nc ON oc.cid = nc.cid),
       |tot AS (
       |  SELECT CAST(SUM(n_old) AS BIGINT) AS t_old,
       |    CAST(SUM(n_new) AS BIGINT) AS t_new FROM cells)
       |SELECT cid, n_old, n_new,
       |  CASE WHEN t_old = 0 THEN CAST(0 AS BIGINT)
       |    ELSE n_old * 1000 // t_old END AS old_share_pm,
       |  CASE WHEN t_new = 0 THEN CAST(0 AS BIGINT)
       |    ELSE n_new * 1000 // t_new END AS new_share_pm,
       |  CASE WHEN t_new = 0 THEN CAST(0 AS BIGINT)
       |    ELSE n_new * 1000 // t_new END
       |  - CASE WHEN t_old = 0 THEN CAST(0 AS BIGINT)
       |    ELSE n_old * 1000 // t_old END AS shift_pm
       |FROM cells CROSS JOIN tot ORDER BY cid""".stripMargin

  // ----------------------------------------------- cell purity
  /** Quantizer-vs-label purity — the external clustering evaluation:
    * per k-means cell, the share of points carrying the cell's
    * majority label. High purity certifies the quantizer's cells
    * track the labeled structure (so IVF probes and stratified
    * samples inherit label locality); purity ≈ 1/|labels| means the
    * quantizer is slicing orthogonally to the labels. The
    * label-supervised companion to emb_silhouette (geometry-only).
    *
    * All-integer: majority by MIN over struct(−cnt, label) (the LPA
    * argmax device — two chained hash-aggs, no window over points),
    * purity on the permille grid, plus a corpus-level weighted
    * purity row (cell = −1).
    *
    * Scale shape: the broadcast-centers assign every cell consumer
    * pays, then (cell, label) hash-aggs with map-side combine —
    * state ∝ cells × labels. */
  def cellPurity(s: SparkSession, d: String): DataFrame =
    cellPurityOn(embeddings(s, d))

  /** Core over a caller-supplied registry — separated so specs can
    * plant cells of known label mixtures. */
  def cellPurityOn(e: DataFrame): DataFrame = {
    val assigned = graft.operators.KMeans
      .assign(pointsOf(e), seedCenters(e))
      .join(e.select(col("vec_id").as("id"), col("label")), "id")
    val cellLabel = assigned.groupBy(col("cid"), col("label"))
      .agg(count(lit(1)).as("cnt"))
    val perCell = cellLabel.groupBy(col("cid"))
      .agg(sum(col("cnt")).cast("long").as("n_points"),
        count(lit(1)).as("n_labels"),
        min(struct((-col("cnt")).as("nc"), col("label"))).as("m"))
      .select(col("cid"), col("n_points"), col("n_labels"),
        col("m.label").cast("long").as("majority_label"),
        (-col("m.nc")).cast("long").as("majority_n"))
      .withColumn("purity_pm", expr("majority_n * 1000 DIV n_points"))
    val total = perCell.agg(
        lit(-1L).as("cid"),
        sum(col("n_points")).cast("long").as("n_points"),
        sum(col("n_labels")).cast("long").as("n_labels"),
        lit(-1L).as("majority_label"),
        sum(col("majority_n")).cast("long").as("majority_n"))
      .withColumn("purity_pm", expr("majority_n * 1000 DIV n_points"))
    perCell.unionByName(total).orderBy(col("cid"))
  }

  val cellPuritySql: String =
    s"""WITH $seedCentersCte,
       |a AS (
       |  SELECT p.vec_id AS id, p.label, c.cid,
       |    ${sqFoldSql("p.embedding", "c.cvec")} AS d2
       |  FROM embeddings p CROSS JOIN c),
       |best AS (
       |  SELECT id, label, cid FROM a
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY d2, cid) = 1),
       |cl AS (
       |  SELECT cid, label, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM best GROUP BY cid, label),
       |mj AS (
       |  SELECT cid, CAST(label AS BIGINT) AS majority_label,
       |    cnt AS majority_n
       |  FROM cl
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY cid
       |    ORDER BY cnt DESC, label) = 1),
       |tot AS (
       |  SELECT cid, CAST(SUM(cnt) AS BIGINT) AS n_points,
       |    CAST(COUNT(*) AS BIGINT) AS n_labels
       |  FROM cl GROUP BY cid),
       |x AS (
       |  SELECT t.cid, t.n_points, t.n_labels, m.majority_label,
       |    m.majority_n, m.majority_n * 1000 // t.n_points AS purity_pm
       |  FROM tot t JOIN mj m ON t.cid = m.cid)
       |SELECT * FROM x
       |UNION ALL
       |SELECT CAST(-1 AS BIGINT), CAST(SUM(n_points) AS BIGINT),
       |  CAST(SUM(n_labels) AS BIGINT), CAST(-1 AS BIGINT),
       |  CAST(SUM(majority_n) AS BIGINT),
       |  CAST(SUM(majority_n) AS BIGINT) * 1000
       |    // CAST(SUM(n_points) AS BIGINT)
       |FROM x
       |ORDER BY cid""".stripMargin

  // ------------------------------------------------- cell NMI
  /** Normalized mutual information between quantizer cells and
    * labels — the k-unbiased companion to [[cellPurity]]: purity can
    * be gamed by more cells (k = n gives purity 1000); NMI divides
    * the mutual information by the two marginal entropies, so a
    * quantizer only scores high by genuinely tracking the labels.
    * NMI = 2·I(C;L) / (H(C) + H(L)), milli grid.
    *
    * Numerics: the CorpusStats micro-nat stance — each (cell, label)
    * row floors ONE ln of a double-domain ratio (n·n_cl)/(n_c·n_l)
    * (exact-rounded IEEE ops, identical both engines), weighted by
    * the exact count; entropies use the same device. Count-weighted
    * sums stay in int64 (micro-nats × counts ≤ 2e7·n), and the final
    * ratio is one integer division — the n scaling cancels.
    *
    * Scale shape: the broadcast-centers assign, then (cell, label) /
    * cell / label hash-aggs — state ∝ cells × labels; the joint join
    * joins a ≤cells×labels table against two broadcast marginals. */
  def cellNmi(s: SparkSession, d: String): DataFrame =
    cellNmiOn(embeddings(s, d))

  /** Core over a caller-supplied registry — separated so specs can
    * plant perfect and orthogonal cell/label alignments. */
  def cellNmiOn(e: DataFrame): DataFrame = {
    val assigned = graft.operators.Materialize.eager(
      graft.operators.KMeans.assign(pointsOf(e), seedCenters(e))
        .join(e.select(col("vec_id").as("id"),
          col("label").cast("long").as("label")), "id")
        .select(col("cid"), col("label")))
    val joint = assigned.groupBy(col("cid"), col("label"))
      .agg(count(lit(1)).as("n_cl"))
    val byCell = assigned.groupBy(col("cid")).agg(count(lit(1)).as("n_c"))
    val byLabel = assigned.groupBy(col("label"))
      .agg(count(lit(1)).as("n_l"))
    val tot = assigned.agg(count(lit(1)).as("n"))
    val mi = joint.join(broadcast(byCell), "cid")
      .join(broadcast(byLabel), "label")
      .crossJoin(broadcast(tot))
      .select((col("n_cl") * floor(log(
        (col("n").cast("double") * col("n_cl").cast("double")) /
          (col("n_c").cast("double") * col("n_l").cast("double"))) *
        lit(1e6)).cast("long")).as("term"))
      .agg(sum(col("term")).cast("long").as("mi_sum_micro"))
    def entropy(m: DataFrame, c: String) = m.crossJoin(broadcast(tot))
      .select((col(c) * floor(log(
        col("n").cast("double") / col(c).cast("double")) * lit(1e6))
        .cast("long")).as("term"))
      .agg(sum(col("term")).cast("long"))
    val hc = entropy(byCell, "n_c").withColumnRenamed(
      entropy(byCell, "n_c").columns.head, "h_cells_micro")
    val hl = entropy(byLabel, "n_l").withColumnRenamed(
      entropy(byLabel, "n_l").columns.head, "h_labels_micro")
    tot.crossJoin(broadcast(byCell.agg(count(lit(1)).as("n_cells"))))
      .crossJoin(broadcast(byLabel.agg(count(lit(1)).as("n_labels"))))
      .crossJoin(broadcast(mi))
      .crossJoin(broadcast(hc))
      .crossJoin(broadcast(hl))
      .select(col("n"), col("n_cells"), col("n_labels"),
        col("mi_sum_micro"), col("h_cells_micro"), col("h_labels_micro"),
        expr("""CASE WHEN h_cells_micro + h_labels_micro = 0
          |THEN CAST(0 AS BIGINT)
          |ELSE 2 * mi_sum_micro * 1000
          |  DIV (h_cells_micro + h_labels_micro) END""".stripMargin)
          .as("nmi_milli"))
  }

  val cellNmiSql: String =
    s"""WITH $seedCentersCte,
       |a AS (
       |  SELECT p.vec_id AS id, CAST(p.label AS BIGINT) AS label, c.cid,
       |    ${sqFoldSql("p.embedding", "c.cvec")} AS d2
       |  FROM embeddings p CROSS JOIN c),
       |best AS (
       |  SELECT label, cid FROM a
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY d2, cid) = 1),
       |joint AS (SELECT cid, label, CAST(COUNT(*) AS BIGINT) AS n_cl
       |  FROM best GROUP BY cid, label),
       |bc AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_c
       |  FROM best GROUP BY cid),
       |bl AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_l
       |  FROM best GROUP BY label),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM best),
       |mi AS (
       |  SELECT CAST(SUM(n_cl * CAST(FLOOR(LN(
       |      (CAST(n AS DOUBLE) * CAST(n_cl AS DOUBLE))
       |      / (CAST(n_c AS DOUBLE) * CAST(n_l AS DOUBLE))) * 1000000)
       |    AS BIGINT)) AS BIGINT) AS mi_sum_micro
       |  FROM joint JOIN bc USING (cid) JOIN bl USING (label)
       |  CROSS JOIN tot),
       |hc AS (
       |  SELECT CAST(SUM(n_c * CAST(FLOOR(LN(
       |      CAST(n AS DOUBLE) / CAST(n_c AS DOUBLE)) * 1000000)
       |    AS BIGINT)) AS BIGINT) AS h_cells_micro
       |  FROM bc CROSS JOIN tot),
       |hl AS (
       |  SELECT CAST(SUM(n_l * CAST(FLOOR(LN(
       |      CAST(n AS DOUBLE) / CAST(n_l AS DOUBLE)) * 1000000)
       |    AS BIGINT)) AS BIGINT) AS h_labels_micro
       |  FROM bl CROSS JOIN tot)
       |SELECT n,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM bc) AS n_cells,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM bl) AS n_labels,
       |  mi_sum_micro, h_cells_micro, h_labels_micro,
       |  CASE WHEN h_cells_micro + h_labels_micro = 0
       |    THEN CAST(0 AS BIGINT)
       |    ELSE 2 * mi_sum_micro * 1000
       |      // (h_cells_micro + h_labels_micro) END AS nmi_milli
       |FROM tot CROSS JOIN mi CROSS JOIN hc CROSS JOIN hl""".stripMargin

  // ------------------------------------- reciprocal nearest neighbors
  /** Mutual-NN pairs within quantizer cells — the robust-match core
    * of semantic dedup: a one-directional nearest neighbor is cheap
    * to fake (hubs attract everyone), but a RECIPROCAL pair (each is
    * the other's closest in-cell point) is the standard high-
    * precision match criterion. Top 20 tightest mutual pairs, the
    * review queue a curator actually reads.
    *
    * Scale shape: the broadcast-centers assign every cell consumer
    * pays, then an in-cell self-join. With a FIXED quantizer the
    * naive form is Σ cell² — quadratic in corpus (measured 31× at
    * 10×: the scale-killer this cap removes) — so each cell's NN
    * search runs over an md5-ordered sample of at most K=512
    * members (the copresence/triangle occupancy-cap discipline):
    * cost ceiling cells·K² — CONSTANT, and the `n_excluded` honesty
    * column reports exactly how much of the corpus the sample left
    * out (0 at every test SF below the cap → the cap is identity
    * there). Exact d2 fold; output snaps d2 to the 1e-6 grid; ties
    * break on the smaller neighbor id. */
  def reciprocalKnn(s: SparkSession, d: String): DataFrame =
    reciprocalKnnOn(embeddings(s, d))

  private val RknnCellCap = 512

  /** Core over a caller-supplied registry — separated so specs can
    * plant hub geometries where one-directional NN lies. */
  def reciprocalKnnOn(e: DataFrame): DataFrame = {
    val capW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cid"))
      .orderBy(col("m"), col("id"))
    val assignedAll =
      graft.operators.KMeans.assignWithVec(pointsOf(e), seedCenters(e))
        .select(col("id"), col("vec"), col("cid"))
        .withColumn("m", md5(concat(lit("rknn|"), col("id").cast("string"))))
        .withColumn("rk", row_number().over(capW))
    val assigned = graft.operators.Materialize.eager(
      assignedAll.filter(col("rk") <= RknnCellCap)
        .select(col("id"), col("vec"), col("cid")))
    val excluded = assignedAll.filter(col("rk") > RknnCellCap)
      .agg(count(lit(1)).as("n_excluded"))
    val a = assigned.select(col("cid"), col("id").as("ia"),
      col("vec").as("va"))
    val b = assigned.select(col("cid"), col("id").as("ib"),
      col("vec").as("vb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("ia")).orderBy(col("d2"), col("ib"))
    val nn = a.join(b, Seq("cid"))
      .filter(col("ia") =!= col("ib"))
      .withColumn("d2", graft.operators.KMeans.sqDist(col("va"), col("vb")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cid"), col("ia"), col("ib"), col("d2"))
    nn.as("x").join(nn.as("y"),
        col("x.ia") === col("y.ib") && col("x.ib") === col("y.ia") &&
          col("x.ia") < col("x.ib"))
      .select(col("x.cid").as("cell"), col("x.ia").as("id_a"),
        col("x.ib").as("id_b"),
        floor(col("x.d2") * 1e6 + lit(0.5)).cast("long").as("dist2_e6"))
      .orderBy(col("dist2_e6"), col("id_a"))
      .limit(20)
      .crossJoin(broadcast(excluded))
  }

  val reciprocalKnnSql: String =
    s"""WITH $seedCentersCte,
       |a AS (
       |  SELECT p.vec_id AS id, p.embedding AS vec, c.cid,
       |    ${sqFoldSql("p.embedding", "c.cvec")} AS d2
       |  FROM embeddings p CROSS JOIN c),
       |cellsall AS (
       |  SELECT id, vec, cid,
       |    ROW_NUMBER() OVER (PARTITION BY cid
       |      ORDER BY md5('rknn|' || CAST(id AS VARCHAR)), id) AS rk
       |  FROM (SELECT id, vec, cid FROM a
       |    QUALIFY ROW_NUMBER() OVER (PARTITION BY id
       |      ORDER BY d2, cid) = 1)),
       |cells AS (
       |  SELECT id, vec, cid FROM cellsall WHERE rk <= $RknnCellCap),
       |excl AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_excluded
       |  FROM cellsall WHERE rk > $RknnCellCap),
       |nn AS (
       |  SELECT cid, ia, ib, d2 FROM (
       |    SELECT x.cid, x.id AS ia, y.id AS ib,
       |      ${sqFoldSql("x.vec", "y.vec")} AS d2
       |    FROM cells x JOIN cells y ON x.cid = y.cid AND x.id <> y.id)
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY ia ORDER BY d2, ib) = 1)
       |SELECT * FROM (
       |  SELECT x.cid AS cell, x.ia AS id_a, x.ib AS id_b,
       |    CAST(FLOOR(x.d2 * 1e6 + 0.5) AS BIGINT) AS dist2_e6
       |  FROM nn x JOIN nn y ON x.ia = y.ib AND x.ib = y.ia
       |  WHERE x.ia < x.ib
       |  ORDER BY dist2_e6, id_a LIMIT 20)
       |CROSS JOIN excl""".stripMargin

  // -------------------------------------------- kNN label evaluation
  /** Instance-level label-consistency probe: each vector is classified
    * by the majority label of its 3 nearest neighbors WITHIN its
    * quantizer cell, and the per-label accuracy is reported — the
    * classic kNN sanity check that tells whether the embedding
    * geometry actually encodes the labels (cell purity and NMI are
    * cluster-level; this is the per-instance vote a labeler-QA or
    * weak-supervision pipeline acts on, flagging label families whose
    * neighborhoods disagree with them).
    *
    * Votes are deterministic: neighbor rank breaks ties on (d2, id),
    * the majority breaks count ties on the smaller label (the LPA
    * argmax device: MIN over struct(−cnt, label)).
    *
    * Scale shape: identical to emb_reciprocal_knn — broadcast-centers
    * assign O(n·k), md5-ordered cell cap (512) bounding the
    * within-cell pair join at O(cells · cap²), per-vector top-3
    * window keyed by the parallel unit. Vectors in over-cap cells are
    * counted in the `n_excluded` honesty column, never silently
    * dropped. Singleton-cell vectors have no neighbors and are
    * excluded from n_eval by construction. */
  def knnLabelEval(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val capW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cid"))
      .orderBy(col("m"), col("id"))
    val assignedAll =
      graft.operators.KMeans.assignWithVec(pointsOf(e), seedCenters(e))
        .join(e.select(col("vec_id").as("id"), col("label")), "id")
        .select(col("id"), col("vec"), col("cid"), col("label"))
        .withColumn("m", md5(concat(lit("rknn|"), col("id").cast("string"))))
        .withColumn("rk", row_number().over(capW))
    val assigned = graft.operators.Materialize.eager(
      assignedAll.filter(col("rk") <= RknnCellCap)
        .select(col("id"), col("vec"), col("cid"), col("label")))
    val excluded = assignedAll.filter(col("rk") > RknnCellCap)
      .agg(count(lit(1)).as("n_excluded"))
    val a = assigned.select(col("cid"), col("id").as("ia"),
      col("vec").as("va"), col("label").as("la"))
    val b = assigned.select(col("cid"), col("id").as("ib"),
      col("vec").as("vb"), col("label").as("lb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("ia")).orderBy(col("d2"), col("ib"))
    val top3 = a.join(b, Seq("cid"))
      .filter(col("ia") =!= col("ib"))
      .withColumn("d2", graft.operators.KMeans.sqDist(col("va"), col("vb")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("ia"), col("la"), col("lb"))
    val vote = top3.groupBy(col("ia"), col("la"), col("lb"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("ia"), col("la"))
      .agg(min(struct((-col("cnt")).as("nc"), col("lb"))).as("mv"))
      .select(col("ia"), col("la"), col("mv.lb").as("vote"))
    vote.groupBy(col("la").as("label"))
      .agg(count(lit(1)).as("n_eval"),
        sum(when(col("vote") === col("la"), 1L).otherwise(0L))
          .as("n_correct"))
      .withColumn("acc_permille", expr("n_correct * 1000 DIV n_eval"))
      .crossJoin(broadcast(excluded))
      .orderBy(col("label"))
  }

  val knnLabelEvalSql: String =
    s"""WITH $seedCentersCte,
       |a AS (
       |  SELECT p.vec_id AS id, p.embedding AS vec, p.label, c.cid,
       |    ${sqFoldSql("p.embedding", "c.cvec")} AS d2
       |  FROM embeddings p CROSS JOIN c),
       |cellsall AS (
       |  SELECT id, vec, label, cid,
       |    ROW_NUMBER() OVER (PARTITION BY cid
       |      ORDER BY md5('rknn|' || CAST(id AS VARCHAR)), id) AS rk
       |  FROM (SELECT id, vec, label, cid FROM a
       |    QUALIFY ROW_NUMBER() OVER (PARTITION BY id
       |      ORDER BY d2, cid) = 1)),
       |cells AS (
       |  SELECT id, vec, label, cid FROM cellsall WHERE rk <= $RknnCellCap),
       |excl AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_excluded
       |  FROM cellsall WHERE rk > $RknnCellCap),
       |top3 AS (
       |  SELECT ia, la, lb FROM (
       |    SELECT x.id AS ia, x.label AS la, y.label AS lb,
       |      ${sqFoldSql("x.vec", "y.vec")} AS d2, y.id AS ib
       |    FROM cells x JOIN cells y ON x.cid = y.cid AND x.id <> y.id)
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY ia ORDER BY d2, ib) <= 3),
       |votes AS (
       |  SELECT ia, la, lb AS vote FROM (
       |    SELECT ia, la, lb, COUNT(*) AS cnt
       |    FROM top3 GROUP BY 1, 2, 3)
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY ia
       |    ORDER BY cnt DESC, lb) = 1)
       |SELECT la AS label, CAST(COUNT(*) AS BIGINT) AS n_eval,
       |  CAST(SUM(CASE WHEN vote = la THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_correct,
       |  CAST(SUM(CASE WHEN vote = la THEN 1 ELSE 0 END) AS BIGINT)
       |    * 1000 // CAST(COUNT(*) AS BIGINT) AS acc_permille,
       |  (SELECT n_excluded FROM excl) AS n_excluded
       |FROM votes GROUP BY la ORDER BY la""".stripMargin

  // ------------------------------------------ simplified silhouette
  /** Simplified (centroid-based) silhouette per k-means cell — the
    * cluster-quality gate that answers "are these cells real, or is
    * the quantizer slicing one blob?" before the IVF index or the
    * stratified sampler trusts them. Per point: a = distance to its
    * own (nearest) center, b = distance to the runner-up center;
    * s = 1 − a/b ∈ [0,1] (the max(a,b) denominator of the classic
    * formula collapses because assignment makes b ≥ a). Full-pairwise
    * silhouette is O(n²) — the centroid form is the standard linear
    * substitute (Vendramin et al. 2010) and uses the same broadcast
    * n×k assign every cell consumer here pays.
    *
    * Determinism: d2 is the bit-exact in-order fold; sqrt is
    * IEEE-correctly-rounded on both engines; the per-point score is
    * snapped to the milli grid with ONE fixed expression shape
    * (1 − sqrt(a2)/sqrt(b2) — NOT sqrt(a2/b2), which differs in the
    * last ulp), then cells aggregate pure integers: mean = sum DIV n,
    * the weakest point (min), and the near-boundary count (s < 0.1,
    * the reassignment-risk diagnostic). */
  def silhouette(s: SparkSession, d: String): DataFrame =
    silhouetteOn(embeddings(s, d))

  /** Core over a caller-supplied (vec_id, embedding, …) table —
    * separated so specs can plant points at hand-computable
    * distances from the seed centers. */
  def silhouetteOn(e: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("d2"), col("cid"))
    val ab = pointsOf(e).crossJoin(broadcast(seedCenters(e)))
      .select(col("id"), col("cid"),
        graft.operators.KMeans.sqDist(col("vec"), col("cvec")).as("d2"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .groupBy(col("id"))
      .agg(max(when(col("rn") === 1, col("cid"))).as("cid"),
        max(when(col("rn") === 1, col("d2"))).as("a2"),
        max(when(col("rn") === 2, col("d2"))).as("b2"))
    ab.select(col("cid"),
        when(col("b2").isNull || col("b2") === 0.0, 0L)
          .otherwise(expr(
            "CAST(FLOOR((1.0D - sqrt(a2) / sqrt(b2)) * 1000 + 0.5) AS BIGINT)"))
          .as("sm"))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_points"),
        expr("CAST(SUM(sm) AS BIGINT) DIV COUNT(*)")
          .as("mean_silhouette_milli"),
        min(col("sm")).as("min_silhouette_milli"),
        coalesce(sum(when(col("sm") < 100, 1L).otherwise(0L)), lit(0L))
          .as("n_ambiguous"))
      .select(col("cid").as("cell"), col("n_points"),
        col("mean_silhouette_milli"), col("min_silhouette_milli"),
        col("n_ambiguous"))
      .orderBy(col("cell"))
  }

  val silhouetteSql: String =
    s"""WITH $seedCentersCte,
       |a AS (
       |  SELECT p.vec_id AS id, c.cid,
       |    ${sqFoldSql("p.embedding", "c.cvec")} AS d2
       |  FROM embeddings p CROSS JOIN c),
       |ranked AS (
       |  SELECT id, cid, d2,
       |    ROW_NUMBER() OVER (PARTITION BY id ORDER BY d2, cid) AS rn
       |  FROM a),
       |ab AS (
       |  SELECT id,
       |    MAX(CASE WHEN rn = 1 THEN cid END) AS cid,
       |    MAX(CASE WHEN rn = 1 THEN d2 END) AS a2,
       |    MAX(CASE WHEN rn = 2 THEN d2 END) AS b2
       |  FROM ranked WHERE rn <= 2 GROUP BY id),
       |s AS (
       |  SELECT cid,
       |    CASE WHEN b2 IS NULL OR b2 = 0
       |      THEN CAST(0 AS BIGINT)
       |      ELSE CAST(FLOOR((1.0 - sqrt(a2) / sqrt(b2)) * 1000 + 0.5)
       |        AS BIGINT) END AS sm
       |  FROM ab)
       |SELECT cid AS cell, COUNT(*) AS n_points,
       |  CAST(SUM(sm) AS BIGINT) // COUNT(*) AS mean_silhouette_milli,
       |  MIN(sm) AS min_silhouette_milli,
       |  CAST(COALESCE(SUM(CASE WHEN sm < 100 THEN 1 ELSE 0 END), 0)
       |    AS BIGINT) AS n_ambiguous
       |FROM s GROUP BY cid ORDER BY cell""".stripMargin

  // ---------------------------------------------- outlier detection
  /** Per-cluster outlier candidates: the 3 points FARTHEST from their
    * assigned center — the quality-filter pass that surfaces likely
    * noise/garbage embeddings for review before training. Rank order
    * is (d2 DESC, vec_id): d2 is the bit-deterministic fixed fold
    * from operators.KMeans, so the ranking is engine-exact, and the
    * output carries only integers (cell, rank, vec_id) — the float
    * never leaves the plan. Scale shape: one broadcast-centers assign
    * (O(n·k)) + one rank window partitioned by cell. */
  def outliersPerCell(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cid")).orderBy(col("d2").desc, col("id"))
    graft.operators.KMeans.assign(pointsOf(e), seedCenters(e))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("cid").as("cell"), col("rank"), col("id").as("vec_id"))
      .orderBy(col("cell"), col("rank"))
  }

  val outliersPerCellSql: String =
    s"""WITH $seedCentersCte,
       |a AS (
       |  SELECT p.vec_id AS id, c.cid,
       |    ${sqFoldSql("p.embedding", "c.cvec")} AS d2
       |  FROM embeddings p CROSS JOIN c),
       |best AS (
       |  SELECT id, cid, d2 FROM a
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY d2, cid) = 1),
       |ranked AS (
       |  SELECT cid, id,
       |    ROW_NUMBER() OVER (PARTITION BY cid ORDER BY d2 DESC, id) AS rank
       |  FROM best)
       |SELECT cid AS cell, rank, id AS vec_id FROM ranked
       |WHERE rank <= 3 ORDER BY cell, rank""".stripMargin

  // ------------------------------------------------- semantic dedup
  /** SemDeDup-style semantic pruning (Abbas et al. 2023, arXiv
    * 2303.09540): cluster the corpus, then within each cluster drop
    * every vector that is cosine-similar (>= tau) to an EARLIER
    * (lower-id) cluster-mate — the greedy keep-first rule a training
    * pipeline uses to thin semantically redundant documents, as
    * opposed to the near-identical pairs dedup_embedding_lsh finds.
    *
    * Scale shape: pair cost is sum-of-cluster-size², never n² — the
    * cluster id is the shuffle key. k must grow with the corpus
    * (SemDeDup uses k ~ sqrt(n)); here k=8 deterministic seed centers
    * matches emb_kmeans_assign. With few clusters Spark broadcasts
    * the smaller side; at real k the self-join hash-partitions on cid.
    *
    * tau = 0.30 sits at the p99 of the within-cell cosine
    * distribution of the synthetic table (measured: p99 0.324, max
    * 0.483), so the output exercises both keep and drop paths.
    * Output: one row per vector — (vec_id, cell, n_dups, keep). */
  def semanticDedup(s: SparkSession, d: String): DataFrame =
    semanticDedupOn(s, embeddings(s, d), tau = 0.30)

  /** Core over any (vec_id, label, embedding) frame — separated so
    * specs can plant semantic duplicates and sweep tau. */
  def semanticDedupOn(s: SparkSession, e: DataFrame, tau: Double): DataFrame = {
    graft.functions.GraftFunctions.registerAll(s)
    // three consumers (both self-join sides + the final left join) —
    // materialize once or the n×k assign cross-join re-runs per
    // consumer (Materialize policy; blocks freed by harness freeAll /
    // caller GC, same contract as the other dedup intermediates)
    val assigned = graft.operators.Materialize.eager(
      graft.operators.KMeans.assignWithVec(pointsOf(e), seedCenters(e))
        .select(col("id"), col("vec"), col("cid")))
    val a = assigned.select(col("cid"), col("id").as("id_a"),
      col("vec").as("va"))
    val b = assigned.select(col("cid"), col("id").as("id_b"),
      col("vec").as("vb"))
    // duplicates of id_b = earlier cluster-mates above tau; count them
    // (n_dups keeps the hash sensitive to every pair decision, not
    // just the keep bit)
    val dups = a.join(b, Seq("cid"))
      .filter(col("id_a") < col("id_b"))
      .filter(graft.functions.GraftFunctions
        .cosineSim(col("va"), col("vb")) >= tau)
      .groupBy(col("id_b")).agg(count(lit(1)).as("n_dups"))
    assigned.join(dups, col("id") === col("id_b"), "left")
      .select(col("id").as("vec_id"), col("cid").as("cell"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        col("n_dups").isNull.as("keep"))
      .orderBy(col("vec_id"))
  }

  val semanticDedupSql: String =
    s"""WITH $seedCentersCte,
       |best AS (
       |  SELECT id, cid, vec FROM (
       |    SELECT p.vec_id AS id, c.cid, p.embedding AS vec,
       |      ${sqFoldSql("p.embedding", "c.cvec")} AS d2
       |    FROM embeddings p CROSS JOIN c) t
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY d2, cid) = 1),
       |dups AS (
       |  SELECT y.id AS id_b, COUNT(*) AS n_dups
       |  FROM best x JOIN best y
       |    ON x.cid = y.cid AND x.id < y.id
       |  WHERE ${cosFoldSql("x.vec", "y.vec")} >= 0.30
       |  GROUP BY y.id)
       |SELECT b.id AS vec_id, b.cid AS cell,
       |  COALESCE(d.n_dups, 0) AS n_dups, d.n_dups IS NULL AS keep
       |FROM best b LEFT JOIN dups d ON b.id = d.id_b
       |ORDER BY vec_id""".stripMargin

  // --------------------------------------- truncation (matryoshka)
  /** Dimension-truncation audit: how much of each vector's energy
    * (squared L2 mass) the first k dims retain, per label — the
    * measurement behind "can we store/serve 16 of 64 dims?"
    * (matryoshka-style truncation halves index cost when the answer
    * is yes, and this query is the yes/no). cos(v, zero-padded v[:k])
    * = ‖v[:k]‖/‖v‖, so energy fraction ‖v[:k]‖²/‖v‖² IS the squared
    * truncation cosine — one number, no pairwise anything.
    *
    * Portability: the per-row fraction is snapped to an integer
    * permille BEFORE aggregation (floor(1000·r + 0.5)); the per-label
    * mean is then integer DIV — the same snap-then-aggregate device
    * as labelCentroidNorm. Scale shape: pure projection + one
    * hash-agg on label; linear, no joins at all. */
  // ------------------------------------------- JL distortion audit
  /** Johnson–Lindenstrauss random-projection audit: project each
    * 64-dim embedding through a fixed ±1 Rademacher matrix down to
    * k=16 dims and measure how well the squared norm survives —
    * `ratio_pm` = 1000·‖Rx‖²/(k·‖x‖²), which JL says concentrates
    * around 1000. Per label: n, integer mean/min/max of the permille
    * ratio (snap-then-aggregate, so the hash compare never sees a
    * float). Norm preservation implies pairwise-distance preservation
    * by linearity (R(x−y) = Rx−Ry), so this is the audit to run before
    * swapping a 64-dim index for a 16-dim one in the ANN path.
    *
    * The matrix is seedless and engine-exact: entry (p,i) =
    * sign(sin(1000p + i + 0.5)) ∈ {−1, +1} — the +0.5 keeps every
    * argument off sin's only representable zero (x=0), unlike the
    * SignPlanes family where entry (0,0) degenerates to 0. Products
    * are exact sign flips, the sum is the same in-order double fold
    * both engines run, so projections are bit-identical.
    *
    * Scale shape: one projection + one rollup per label — per-row
    * work is 16 folds over 64 components, no shuffle beyond the
    * O(labels) aggregate. */
  def jlDistortion(s: SparkSession, d: String): DataFrame =
    jlDistortionOn(embeddings(s, d))

  /** Core audit over a caller-supplied (label, embedding) frame —
    * separated so specs can plant vectors with known projections. */
  def jlDistortionOn(e: DataFrame): DataFrame = {
    val k = 16
    def radDot(emb: Column, p: Int): Column =
      aggregate(zip_with(emb, sequence(lit(0), lit(63)),
        (x, i) => x.cast("double") *
          signum(sin(lit(p * 1000).cast("double") + i.cast("double") + lit(0.5)))),
        lit(0.0), (acc, x) => acc + x)
    val tot = norm2(col("embedding"))
    val proj2 = (0 until k).map { p =>
      val yp = radDot(col("embedding"), p); yp * yp
    }.reduce(_ + _)
    e
      .filter(tot > 0) // zero vectors have no norm to preserve
      .select(col("label"),
        floor((proj2 * lit(1000.0)) / (tot * lit(k.toDouble)) + lit(0.5))
          .cast("bigint").as("ratio_pm"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        expr("CAST(SUM(ratio_pm) AS BIGINT) DIV COUNT(1)").as("mean_pm"),
        min(col("ratio_pm")).as("min_pm"), max(col("ratio_pm")).as("max_pm"))
      .orderBy(col("label"))
  }

  val jlDistortionSql: String = {
    val k = 16
    def radDotSql(p: Int) =
      s"""list_reduce(list_transform(range(1, len(embedding)+1),
         |      i -> CAST(embedding[i] AS DOUBLE)
         |        * SIGN(SIN(CAST(${p * 1000} AS DOUBLE) + (i-1) + 0.5))),
         |      (a, b) -> a + b)""".stripMargin
    val proj2 = (0 until k).map(p => s"pow_y$p")
      .reduce((a, b) => s"($a + $b)")
    val yCols = (0 until k).map(p =>
      s"${radDotSql(p)} * ${radDotSql(p)} AS pow_y$p").mkString(",\n  ")
    s"""WITH t AS (
       |  SELECT label,
       |    list_reduce(list_transform(range(1, len(embedding)+1),
       |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
       |      (x, y) -> x + y) AS tot,
       |  $yCols
       |  FROM embeddings),
       |p AS (
       |  SELECT label,
       |    CAST(FLOOR((($proj2) * 1000.0) / (tot * ${k}.0) + 0.5) AS BIGINT)
       |      AS ratio_pm
       |  FROM t WHERE tot > 0)
       |SELECT label, COUNT(*) AS n,
       |  CAST(SUM(ratio_pm) AS BIGINT) // COUNT(*) AS mean_pm,
       |  MIN(ratio_pm) AS min_pm, MAX(ratio_pm) AS max_pm
       |FROM p GROUP BY label ORDER BY label""".stripMargin
  }

  def truncationEnergy(s: SparkSession, d: String): DataFrame = {
    val ks = Seq(16, 32, 48)
    val tot = norm2(col("embedding"))
    val cols = ks.map { k =>
      val part = norm2(slice(col("embedding"), 1, k))
      floor(part * lit(1000.0) / tot + lit(0.5)).cast("bigint")
        .as(s"pm_$k")
    }
    val aggs = ks.map(k =>
      expr(s"CAST(SUM(pm_$k) AS BIGINT) DIV COUNT(1)").as(s"mean_pm_$k"))
    embeddings(s, d)
      .filter(tot > 0) // zero vectors have no direction to retain
      .select(col("label") +: cols: _*)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"), aggs: _*)
      .orderBy(col("label"))
  }

  val truncationEnergySql: String = {
    val ks = Seq(16, 32, 48)
    def n2k(k: Int) =
      s"""list_reduce(list_transform(range(1, ${k + 1}),
         |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
         |      (x, y) -> x + y)""".stripMargin
    val tot = n2k(64)
    val rows = ks.map(k =>
      s"CAST(FLOOR(${n2k(k)} * 1000.0 / tot + 0.5) AS BIGINT) AS pm_$k")
      .mkString(",\n  ")
    val aggs = ks.map(k =>
      s"CAST(SUM(pm_$k) AS BIGINT) // COUNT(*) AS mean_pm_$k").mkString(",\n  ")
    s"""WITH t AS (
       |  SELECT label, $tot AS tot, embedding FROM embeddings),
       |p AS (
       |  SELECT label,
       |  $rows
       |  FROM t WHERE tot > 0)
       |SELECT label, COUNT(*) AS n,
       |  $aggs
       |FROM p GROUP BY label ORDER BY label""".stripMargin
  }

  // ------------------------------------------- hard-negative mining
  /** Hard-negative mining for contrastive training: for each query
    * vector, the top-5 MOST-similar candidates with a DIFFERENT label
    * — the negatives that sit closest to the decision boundary, which
    * is exactly what a two-tower/embedding trainer wants in its batch.
    * Similarity-not-relevance is the point: an easy (random) negative
    * teaches nothing; a same-label neighbor is a false negative and is
    * excluded by construction.
    *
    * Ranking runs on the int8-quantized integer dot (the annQuantized
    * recipe: q ≈ 127·x/‖x‖, so the integer dot is a scaled cosine) —
    * no float enters the ordering, so top-k is total-order
    * deterministic cross-engine and the oracle needs no snapping.
    *
    * Scale shape: candidates come from a 2-plane sign-bucket equi-join
    * (shuffle on the bucket key, never broadcast-all, never n²); the
    * label filter prunes before the window; per-query top-k is a
    * window partitioned by q_id. The same topology as emb_ann_quantized
    * with one extra predicate — mining cost tracks ANN cost. */
  /** (vec_id, label, bucket, qv): int8-quantized vectors with their
    * 2-plane sign bucket — the shared front end of hardNegatives and
    * mmrRerank (same expressions as annQuantized's recipe). */
  private def quantizedWithBuckets(e: DataFrame): DataFrame =
    e.withColumn("m", sqrt(norm2(col("embedding"))))
      .withColumn("qv",
        when(col("m") === 0.0,
          transform(col("embedding"), _ => lit(0L)))
        .otherwise(transform(col("embedding"),
          x => floor(x.cast("double") * 127.0 / col("m") + 0.5))))
      .withColumn("bucket",
        concat((0 until 2).map(p =>
          when(planeDot(col("embedding"), p) >= 0, lit("1"))
            .otherwise(lit("0"))): _*))
      .select(col("vec_id"), col("label"), col("bucket"), col("qv"))

  /** Integer dot of two quantized vectors (in-order fold — exact). */
  private def idot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  def hardNegatives(s: SparkSession, d: String): DataFrame = {
    val quant = quantizedWithBuckets(embeddings(s, d))
    val q = quant.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("bucket"), col("qv").as("q_qv"))
    val c = quant.select(col("vec_id").as("neg_id"),
      col("label").as("c_label"), col("bucket"), col("qv").as("c_qv"))
    val scored = q.join(c, "bucket")
      .filter(col("q_label") =!= col("c_label"))
      .withColumn("score",
        aggregate(zip_with(col("q_qv"), col("c_qv"), (x, y) => x * y),
          lit(0L), (a, x) => a + x))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("score").desc, col("neg_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("neg_id"), col("score"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  val hardNegativesSql: String =
    s"""WITH qz AS (
       |  SELECT vec_id, label, embedding, ${planesSqlN(2)} AS bucket,
       |    SQRT(list_reduce(list_transform(range(1, len(embedding)+1),
       |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
       |      (a, b) -> a + b)) AS m
       |  FROM embeddings),
       |quant AS (
       |  SELECT vec_id, label, bucket,
       |    list_transform(embedding, x -> CASE WHEN m = 0
       |      THEN CAST(0 AS BIGINT)
       |      ELSE CAST(FLOOR(CAST(x AS DOUBLE)*127.0/m + 0.5) AS BIGINT)
       |      END) AS qv
       |  FROM qz),
       |q AS (SELECT vec_id AS q_id, label AS q_label, bucket, qv AS q_qv
       |      FROM quant WHERE vec_id % 50 = 0),
       |c AS (SELECT vec_id AS neg_id, label AS c_label, bucket, qv AS c_qv
       |      FROM quant),
       |scored AS (
       |  SELECT q_id, neg_id,
       |    list_reduce(list_transform(range(1, len(q_qv)+1),
       |      i -> q_qv[i]*c_qv[i]), (a,b) -> a+b) AS score
       |  FROM q JOIN c USING (bucket) WHERE q_label <> c_label),
       |ranked AS (
       |  SELECT q_id, neg_id, CAST(score AS BIGINT) AS score,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |         ORDER BY score DESC, neg_id) AS INT) AS rank
       |  FROM scored)
       |SELECT q_id, neg_id, score, rank FROM ranked WHERE rank <= 5
       |ORDER BY q_id, rank""".stripMargin

  // ------------------------------------------------ MMR re-ranking
  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein):
    * from each query's candidate pool, greedily select k=3 results
    * maximizing λ·relevance − (1−λ)·max-similarity-to-already-chosen
    * (λ=0.7, scaled ×10 → mmr = 7·rel − 3·penalty) — the diversity
    * pass a curation pipeline runs so its examples/negatives aren't k
    * copies of the same near-dup. Greedy selection is inherently
    * sequential in k, so the k=3 loop is UNROLLED as three
    * argmax-window steps; everything is the int8-quantized integer
    * dot (annQuantized's recipe), so selection is total-order
    * deterministic cross-engine with no float snapping.
    *
    * Scale shape: candidates come from the 2-plane sign-bucket
    * equi-join; the pool is capped at 12/query BEFORE the greedy
    * steps, so each step is a window + equi-join over O(12·queries)
    * rows — per-query work is constant, never corpus-sized. The pool
    * is materialized once and fans out to all three steps. */
  def mmrRerank(s: SparkSession, d: String): DataFrame = {
    val quant = quantizedWithBuckets(embeddings(s, d))
    val q = quant.filter(col("vec_id") % 100 === 0 && col("vec_id") < 102400)
      .select(col("vec_id").as("q_id"), col("bucket"), col("qv").as("q_qv"))
    val c = quant.select(col("vec_id").as("c_id"), col("bucket"),
      col("qv").as("c_qv"))
    val wRel = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("rel").desc, col("c_id"))
    val pool = graft.operators.Materialize.eager(
      q.join(c, "bucket").filter(col("q_id") =!= col("c_id"))
        .withColumn("rel", idot(col("q_qv"), col("c_qv")))
        .withColumn("rn", row_number().over(wRel))
        .filter(col("rn") <= 12)
        .select(col("q_id"), col("c_id"), col("rel"), col("c_qv")))
    val s1 = pool.withColumn("rn", row_number().over(wRel))
      .filter(col("rn") === 1)
      .select(col("q_id"), col("c_id").as("s1_id"),
        col("rel").as("s1_rel"), col("c_qv").as("s1_qv"))
    val r1 = pool.join(s1, "q_id").filter(col("c_id") =!= col("s1_id"))
      .withColumn("p1", idot(col("c_qv"), col("s1_qv")))
      .withColumn("mmr", lit(7) * col("rel") - lit(3) * col("p1"))
    val wM = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("mmr").desc, col("c_id"))
    val s2 = r1.withColumn("rn", row_number().over(wM))
      .filter(col("rn") === 1)
      .select(col("q_id"), col("c_id").as("s2_id"),
        col("mmr").as("s2_mmr"), col("c_qv").as("s2_qv"))
    val r2 = r1.join(s2, "q_id").filter(col("c_id") =!= col("s2_id"))
      .withColumn("p2", greatest(col("p1"), idot(col("c_qv"), col("s2_qv"))))
      .withColumn("mmr2", lit(7) * col("rel") - lit(3) * col("p2"))
    val wM2 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("mmr2").desc, col("c_id"))
    val s3 = r2.withColumn("rn", row_number().over(wM2))
      .filter(col("rn") === 1)
      .select(col("q_id"), col("c_id").as("s3_id"), col("mmr2").as("s3_mmr"))
    s1.select(col("q_id"), lit(1).as("rank"), col("s1_id").as("c_id"),
        (lit(7) * col("s1_rel")).as("mmr_score"))
      .unionByName(s2.select(col("q_id"), lit(2).as("rank"),
        col("s2_id").as("c_id"), col("s2_mmr").as("mmr_score")))
      .unionByName(s3.select(col("q_id"), lit(3).as("rank"),
        col("s3_id").as("c_id"), col("s3_mmr").as("mmr_score")))
      .orderBy(col("q_id"), col("rank"))
  }

  private val idotSql: (String, String) => String = (a, b) =>
    s"""CAST(list_reduce(list_transform(range(1, len($a)+1),
       |      i -> $a[i]*$b[i]), (x,y) -> x+y) AS BIGINT)""".stripMargin

  val mmrRerankSql: String =
    s"""WITH qz AS (
       |  SELECT vec_id, embedding, ${planesSqlN(2)} AS bucket,
       |    SQRT(list_reduce(list_transform(range(1, len(embedding)+1),
       |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
       |      (a, b) -> a + b)) AS m
       |  FROM embeddings),
       |quant AS (
       |  SELECT vec_id, bucket,
       |    list_transform(embedding, x -> CASE WHEN m = 0
       |      THEN CAST(0 AS BIGINT)
       |      ELSE CAST(FLOOR(CAST(x AS DOUBLE)*127.0/m + 0.5) AS BIGINT)
       |      END) AS qv
       |  FROM qz),
       |q AS (SELECT vec_id AS q_id, bucket, qv AS q_qv FROM quant
       |      WHERE vec_id % 100 = 0 AND vec_id < 102400),
       |c AS (SELECT vec_id AS c_id, bucket, qv AS c_qv FROM quant),
       |scored AS (
       |  SELECT q_id, c_id, c_qv,
       |    ${idotSql("q_qv", "c_qv")} AS rel
       |  FROM q JOIN c USING (bucket) WHERE q_id <> c_id),
       |pool AS (
       |  SELECT q_id, c_id, c_qv, rel FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY rel DESC, c_id) AS rn FROM scored) t WHERE rn <= 12),
       |s1 AS (
       |  SELECT q_id, c_id AS s1_id, rel AS s1_rel, c_qv AS s1_qv FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY rel DESC, c_id) AS rn FROM pool) t WHERE rn = 1),
       |r1 AS (
       |  SELECT p.q_id, p.c_id, p.c_qv, p.rel,
       |    ${idotSql("p.c_qv", "s.s1_qv")} AS p1
       |  FROM pool p JOIN s1 s ON p.q_id = s.q_id AND p.c_id <> s.s1_id),
       |m1 AS (SELECT *, 7*rel - 3*p1 AS mmr FROM r1),
       |s2 AS (
       |  SELECT q_id, c_id AS s2_id, mmr AS s2_mmr, c_qv AS s2_qv FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY mmr DESC, c_id) AS rn FROM m1) t WHERE rn = 1),
       |r2 AS (
       |  SELECT m.q_id, m.c_id, m.rel,
       |    GREATEST(m.p1, ${idotSql("m.c_qv", "s.s2_qv")}) AS p2
       |  FROM m1 m JOIN s2 s ON m.q_id = s.q_id AND m.c_id <> s.s2_id),
       |m2 AS (SELECT *, 7*rel - 3*p2 AS mmr FROM r2),
       |s3 AS (
       |  SELECT q_id, c_id AS s3_id, mmr AS s3_mmr FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY mmr DESC, c_id) AS rn FROM m2) t WHERE rn = 1)
       |SELECT q_id, CAST(1 AS INT) AS rank, s1_id AS c_id,
       |  7*s1_rel AS mmr_score FROM s1
       |UNION ALL SELECT q_id, CAST(2 AS INT), s2_id, s2_mmr FROM s2
       |UNION ALL SELECT q_id, CAST(3 AS INT), s3_id, s3_mmr FROM s3
       |ORDER BY q_id, rank""".stripMargin

  // -------------------------------------- product quantization (ADC)
  /** PQ-ADC top-k (Jégou et al. 2011, "Product Quantization for
    * Nearest Neighbor Search"): split each 64-dim vector into M=4
    * 16-dim subspaces, quantize each subvector to its nearest of k=8
    * deterministic sub-centers (the kmeansAssign seed rule applied
    * per subspace: every 64th vector, cid = vec_id/64), and answer
    * queries with Asymmetric Distance Computation — a per-query
    * lookup table of query-subvector→sub-center distances, summed
    * over the M stored codes.
    *
    * This completes the ANN scale triad (LSH buckets, IVF coarse
    * quantizer, int8 scalar quantization): PQ is the variant whose
    * INDEX compresses — 4 small-int codes (~4 B) stand in for 256 B
    * of floats, the representation a billion-vector corpus actually
    * stores in memory. Scale shape: the codebook is O(M·k) and always
    * broadcast; encoding is one linear pass (n·M·k distance folds, no
    * shuffle but the argmin window keyed on (vec_id, m)); the query
    * LUT is nq·M·k and broadcast (query side bounded ≤1024 by the
    * same cap as emb_cosine_topk); ADC itself is M broadcast-hash
    * equi-joins against the wide code table — linear in n, never n².
    *
    * Determinism: sub-distances are the KMeans.sqDist fixed fold;
    * the ADC sum is a FIXED-PARENTHESIZATION projection
    * ((l0+l1)+l2)+l3 — never a float SUM aggregate, whose addend
    * order is shuffle-dependent — so ranks are engine-exact with
    * (adc, c_id) tie-break; output is integers only. */
  def pqAdcTopK(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val M = 4; val SUB = 16
    val centersSub = (0 until M).map { m =>
      e.filter(col("vec_id") % 64 === 0 && col("vec_id") < 512)
        .select(lit(m).as("m"), (col("vec_id") / 64).cast("int").as("cid"),
          slice(col("embedding"), m * SUB + 1, SUB).as("cvec"))
    }.reduce(_ unionAll _)
    def subvecs(df: DataFrame, idAs: String): DataFrame =
      df.select(col("vec_id").as(idAs), posexplode(
        array((0 until M).map(m =>
          slice(col("embedding"), m * SUB + 1, SUB)): _*)).as(Seq("m", "sv")))
    val wEnc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"), col("m")).orderBy(col("d2"), col("cid"))
    val codes = subvecs(e, "vec_id")
      .join(broadcast(centersSub), "m")
      .withColumn("d2", graft.operators.KMeans.sqDist(col("sv"), col("cvec")))
      .withColumn("rn", row_number().over(wEnc))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("m"), col("cid"))
    val codesWide = codes.groupBy(col("vec_id")).agg(
      max(when(col("m") === 0, col("cid"))).as("c0"),
      max(when(col("m") === 1, col("cid"))).as("c1"),
      max(when(col("m") === 2, col("cid"))).as("c2"),
      max(when(col("m") === 3, col("cid"))).as("c3"))
    val q = e.filter(col("vec_id") % 50 === 0 && col("vec_id") < 51200)
    val lut = subvecs(q, "q_id")
      .join(broadcast(centersSub), "m")
      .withColumn("d2", graft.operators.KMeans.sqDist(col("sv"), col("cvec")))
      .select(col("q_id"), col("m"), col("cid"), col("d2"))
    def lutM(m: Int): DataFrame = lut.filter(col("m") === m)
      .select(col("q_id"), col("cid").as(s"c$m"), col("d2").as(s"l$m"))
    val adc = codesWide
      .join(broadcast(lutM(0)), Seq("c0"))
      .join(broadcast(lutM(1)), Seq("q_id", "c1"))
      .join(broadcast(lutM(2)), Seq("q_id", "c2"))
      .join(broadcast(lutM(3)), Seq("q_id", "c3"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("c_id"),
        (((col("l0") + col("l1")) + col("l2")) + col("l3")).as("adc"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("adc"), col("c_id"))
    adc.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("q_id"), col("c_id"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  val pqAdcTopKSql: String = {
    def sub(src: String, m: Int) = s"$src[${m * 16 + 1}:${(m + 1) * 16}]"
    val centers = (0 until 4).map(m =>
      s"""SELECT $m AS m, CAST(vec_id // 64 AS INT) AS cid,
         |    ${sub("embedding", m)} AS cvec
         |  FROM embeddings WHERE vec_id % 64 = 0 AND vec_id < 512"""
        .stripMargin).mkString("\n  UNION ALL\n  ")
    val dbSub = (0 until 4).map(m =>
      s"SELECT vec_id, $m AS m, ${sub("embedding", m)} AS sv FROM embeddings")
      .mkString("\n  UNION ALL\n  ")
    val qSub = (0 until 4).map(m =>
      s"""SELECT vec_id AS q_id, $m AS m, ${sub("embedding", m)} AS sv
         |  FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 51200"""
        .stripMargin).mkString("\n  UNION ALL\n  ")
    s"""WITH centers AS (
       |  $centers),
       |dbsub AS (
       |  $dbSub),
       |qsub AS (
       |  $qSub),
       |enc AS (
       |  SELECT vec_id, s.m, c.cid,
       |    ${sqFoldSql("s.sv", "c.cvec")} AS d2
       |  FROM dbsub s JOIN centers c ON s.m = c.m),
       |codes AS (
       |  SELECT vec_id, m, cid FROM enc
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, m
       |    ORDER BY d2, cid) = 1),
       |cw AS (
       |  SELECT vec_id,
       |    MAX(CASE WHEN m = 0 THEN cid END) AS c0,
       |    MAX(CASE WHEN m = 1 THEN cid END) AS c1,
       |    MAX(CASE WHEN m = 2 THEN cid END) AS c2,
       |    MAX(CASE WHEN m = 3 THEN cid END) AS c3
       |  FROM codes GROUP BY vec_id),
       |lut AS (
       |  SELECT q_id, s.m, c.cid,
       |    ${sqFoldSql("s.sv", "c.cvec")} AS d2
       |  FROM qsub s JOIN centers c ON s.m = c.m),
       |adc AS (
       |  SELECT l0.q_id, cw.vec_id AS c_id,
       |    ((l0.d2 + l1.d2) + l2.d2) + l3.d2 AS adc
       |  FROM cw
       |  JOIN lut l0 ON l0.m = 0 AND l0.cid = cw.c0
       |  JOIN lut l1 ON l1.m = 1 AND l1.cid = cw.c1 AND l1.q_id = l0.q_id
       |  JOIN lut l2 ON l2.m = 2 AND l2.cid = cw.c2 AND l2.q_id = l0.q_id
       |  JOIN lut l3 ON l3.m = 3 AND l3.cid = cw.c3 AND l3.q_id = l0.q_id
       |  WHERE cw.vec_id <> l0.q_id)
       |SELECT q_id, c_id, rank FROM (
       |  SELECT q_id, c_id, ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY adc, c_id) AS rank FROM adc) r
       |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin
  }

  // --------------------------------------- per-dimension variance
  /** Per-dimension moment profile — the embedding-quality audit that
    * surfaces dead dimensions (≈0 variance), scale outliers, and
    * mean-offset drift before vectors feed ANN indexing or matryoshka
    * truncation (a dimension the encoder collapsed wastes index
    * bits; one with 10× scale dominates L2). Output per dim: count
    * and the exact integer moment sums on a 1e-6 grid — each float
    * snaps to floor(x·1e6 + 0.5) BEFORE summation, so the sums are
    * integer-exact under ANY shuffle order (a raw double SUM is
    * order-dependent), plus the derived variance in e-12 units via
    * integer algebra (n·Σx² − (Σx)²) DIV n².
    *
    * Scale shape: one posexplode + one hash-agg keyed on dim (64
    * groups) — partial-aggregated map-side, shuffle carries 64 rows
    * per partition. Linear, no joins. */
  def dimVariance(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim"),
        floor(col("x").cast("double") * lit(1e6) + lit(0.5))
          .cast("long").as("xe6"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("xe6")).as("sum_e6"),
        sum(col("xe6") * col("xe6")).as("sumsq_e12"))
      .withColumn("var_e12",
        expr("(n * sumsq_e12 - sum_e6 * sum_e6) DIV (n * n)"))
      .orderBy(col("dim"))

  val dimVarianceSql: String =
    """WITH x AS (
      |  SELECT CAST(i - 1 AS INT) AS dim,
      |    CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1e6 + 0.5) AS BIGINT)
      |      AS xe6
      |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)),
      |m AS (
      |  SELECT dim, COUNT(*) AS n,
      |    CAST(SUM(xe6) AS BIGINT) AS sum_e6,
      |    CAST(SUM(xe6 * xe6) AS BIGINT) AS sumsq_e12
      |  FROM x GROUP BY dim)
      |SELECT dim, n, sum_e6, sumsq_e12,
      |  CAST((n * sumsq_e12 - sum_e6 * sum_e6) // (n * n) AS BIGINT)
      |    AS var_e12
      |FROM m ORDER BY dim""".stripMargin

  // ------------------------------------------- ANN recall self-audit
  /** Recall@5 of the IVF index against the exact brute-force ranking,
    * per probe — the in-engine quality gate every ANN deployment needs
    * before it replaces the exact path: the same library computes the
    * index, the ground truth, and the recall number, so index
    * parameter changes (planes, nProbe) are regression-tested by a
    * query, not an offline notebook.
    *
    * Scale shape: composes two existing bounded queries (brute is the
    * capped-probe BNLJ baseline, IVF the bucketed path) and joins
    * their ≤(probes×5)-row outputs — the audit itself adds only
    * probe-sized work. At 100 TB the brute side stays viable BECAUSE
    * the probe set is capped: ground truth on a fixed sample is how
    * production recall monitoring works at any corpus size. */
  def annRecallEval(s: SparkSession, d: String): DataFrame = {
    val brute = cosineTopK(s, d).select(col("q_id"), col("c_id"))
    val ivf = annIvf(s, d)
      .select(col("q_id").as("i_q"), col("c_id").as("i_c"))
    val hits = brute.join(ivf,
        col("q_id") === col("i_q") && col("c_id") === col("i_c"), "left_semi")
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
    brute.groupBy(col("q_id")).agg(count(lit(1)).as("k"))
      .join(hits, Seq("q_id"), "left")
      .na.fill(0L, Seq("n_hit"))
      .withColumn("recall_permille", expr("n_hit * 1000 DIV k"))
      .orderBy(col("q_id"))
  }

  val annRecallEvalSql: String = {
    val brute = cosineTopKSql.replace("ORDER BY q_id, rank", "")
    val ivf = annIvfSql.replace("ORDER BY q_id, rank", "")
    s"""WITH brute AS (SELECT q_id, c_id FROM ($brute) tb),
       |ivf AS (SELECT q_id, c_id FROM ($ivf) ti),
       |hits AS (
       |  SELECT b.q_id, COUNT(*) AS n_hit
       |  FROM brute b JOIN ivf i ON b.q_id = i.q_id AND b.c_id = i.c_id
       |  GROUP BY 1),
       |pr AS (SELECT q_id, COUNT(*) AS k FROM brute GROUP BY 1)
       |SELECT pr.q_id, pr.k, COALESCE(h.n_hit, 0) AS n_hit,
       |  COALESCE(h.n_hit, 0) * 1000 // pr.k AS recall_permille
       |FROM pr LEFT JOIN hits h USING (q_id)
       |ORDER BY pr.q_id""".stripMargin
  }

  // --------------------------------------- matryoshka truncation recall
  /** Recall@5 of PREFIX-TRUNCATED cosine search against the full-dim
    * ground truth, at widths 16 and 32 (64 = the anchor row, recall
    * 1000 by construction): the go/no-go measurement for the
    * matryoshka serving pattern — run the cheap prefix scan, rescore
    * survivors at full width. [[truncationEnergy]] reports how much
    * NORM the prefix keeps; this reports what actually matters
    * downstream: how many true neighbors the prefix still finds.
    *
    * Scale shape: three brute scans with the same bounded broadcast
    * query set as emb_cosine_topk (the capped-BNLJ exactness
    * baseline — the ANN tier is the scale path); per-width recall is
    * a semi-join of two top-5 lists + one tiny agg. Corpus-sized
    * work is 3 linear scans, no pairwise stage. */
  def matryoshkaRecall(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(s)
    val e = embeddings(s, d)
    val queries = e.filter(col("vec_id") % 50 === 0 && col("vec_id") < 51200)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val cand = e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    def topkAt(width: Int): DataFrame = {
      val (qe, ce) =
        if (width == 0) (col("q_emb"), col("c_emb"))
        else (slice(col("q_emb"), 1, width), slice(col("c_emb"), 1, width))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))
      cand.join(broadcast(queries), col("q_id") =!= col("c_id"))
        .select(col("q_id"), col("c_id"),
          graft.functions.GraftFunctions.cosineSim(qe, ce).as("cos"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("q_id"), col("c_id"))
    }
    val truth = graft.operators.Materialize.eager(topkAt(0))
    def recallRow(width: Int): DataFrame = {
      val got = topkAt(width)
        .select(col("q_id").as("g_q"), col("c_id").as("g_c"))
      truth.join(got,
          col("q_id") === col("g_q") && col("c_id") === col("g_c"),
          "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"),
          countDistinct(col("q_id")).as("n_queries"))))
        .select(lit(width.toLong).as("width"), col("n_queries"),
          col("n_hits"),
          expr("n_hits * 1000 DIV n_truth").as("recall_permille"))
    }
    recallRow(16).unionByName(recallRow(32))
      .unionByName(truth
        .agg(count(lit(1)).as("n_hits"),
          countDistinct(col("q_id")).as("n_queries"))
        .select(lit(64L).as("width"), col("n_queries"), col("n_hits"),
          lit(1000L).as("recall_permille")))
      .orderBy(col("width"))
  }

  val matryoshkaRecallSql: String = {
    def scored(qe: String, ce: String) =
      s"""SELECT q_id, c_id FROM (
         |  SELECT q_id, c_id, ROW_NUMBER() OVER (
         |    PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank
         |  FROM (SELECT q_id, c_id, ${cosFoldSql(qe, ce)} AS cos
         |        FROM q JOIN c ON q_id <> c_id) sc) rk
         |WHERE rank <= 5""".stripMargin
    s"""WITH q AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
       |  WHERE vec_id % 50 = 0 AND vec_id < 51200),
       |c AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings),
       |truth AS (${scored("q_emb", "c_emb")}),
       |t16 AS (${scored("q_emb[1:16]", "c_emb[1:16]")}),
       |t32 AS (${scored("q_emb[1:32]", "c_emb[1:32]")}),
       |tt AS (SELECT COUNT(*) AS n_truth,
       |         COUNT(DISTINCT q_id) AS n_queries FROM truth),
       |h16 AS (SELECT COUNT(*) AS n_hits FROM truth
       |        JOIN t16 USING (q_id, c_id)),
       |h32 AS (SELECT COUNT(*) AS n_hits FROM truth
       |        JOIN t32 USING (q_id, c_id))
       |SELECT * FROM (
       |  SELECT CAST(16 AS BIGINT) AS width, tt.n_queries, h16.n_hits,
       |    h16.n_hits * 1000 // tt.n_truth AS recall_permille
       |  FROM h16, tt
       |  UNION ALL
       |  SELECT CAST(32 AS BIGINT), tt.n_queries, h32.n_hits,
       |    h32.n_hits * 1000 // tt.n_truth FROM h32, tt
       |  UNION ALL
       |  SELECT CAST(64 AS BIGINT), n_queries, n_truth,
       |    CAST(1000 AS BIGINT) FROM tt)
       |ORDER BY width""".stripMargin
  }

  val queries: Map[String, Query] = Map(
    "retrieval_mmr" -> Query(mmrRerank, mmrRerankSql),
    "emb_matryoshka_recall" -> Query(matryoshkaRecall, matryoshkaRecallSql),
    "emb_pq_adc_topk" -> Query(pqAdcTopK, pqAdcTopKSql),
    "emb_dim_variance" -> Query(dimVariance, dimVarianceSql),
    "emb_jl_distortion" -> Query(jlDistortion, jlDistortionSql),
    "emb_truncation_energy" -> Query(truncationEnergy, truncationEnergySql),
    "retrieval_hard_negatives" -> Query(hardNegatives, hardNegativesSql),
    "emb_cosine_topk" -> Query(cosineTopK, cosineTopKSql),
    "emb_ann_quantized" -> Query(annQuantized, annQuantizedSql),
    "emb_ann_ivf" -> Query(annIvf, annIvfSql),
    "emb_ann_recall_eval" -> Query(annRecallEval, annRecallEvalSql),
    "emb_ann_recall_sweep" -> Query(annRecallSweep, annRecallSweepSql),
    "emb_label_norms" -> Query(labelCentroidNorm, labelCentroidNormSql),
    "emb_ann_lsh_buckets" -> Query(annLshBuckets, annLshBucketsSql),
    "emb_kmeans_assign" -> Query(kmeansAssign, kmeansAssignSql),
    "emb_ivf_incremental" -> Query(ivfIncrementalAssign, ivfIncrementalAssignSql),
    "emb_reciprocal_knn" -> Query(reciprocalKnn, reciprocalKnnSql),
    "emb_knn_label_eval" -> Query(knnLabelEval, knnLabelEvalSql),
    "emb_cell_purity" -> Query(cellPurity, cellPuritySql),
    "emb_cell_nmi" -> Query(cellNmi, cellNmiSql),
    "emb_silhouette" -> Query(silhouette, silhouetteSql),
    "emb_semantic_dedup" -> Query(semanticDedup, semanticDedupSql),
    "emb_outliers_per_cell" -> Query(outliersPerCell, outliersPerCellSql),
    "dedup_embedding_lsh" -> Query(dedupEmbeddingLsh, dedupEmbeddingLshSql))
}
