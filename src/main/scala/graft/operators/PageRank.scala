package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Damped PageRank by power iteration — the link-centrality pass a
  * corpus-curation pipeline uses to weight sources/documents by how
  * much the rest of the corpus points at them (cf. the reference's
  * iterative per-key reduce apps; this is the graph analog of the
  * same barriered map→shuffle→reduce loop).
  *
  * Fixed-point arithmetic: ranks are carried as BIGINT mass in units
  * of 1e-12 ([[Scale]]) and every step is integer-only —
  * `r DIV deg`, `* dampNum`, `DIV dampDen` — so results are
  * bit-identical on any engine (long sums are associative and
  * overflow-free here: total mass <= Scale, per-term <= Scale*dampNum)
  * and a cross-engine oracle can compare ranks EXACTLY instead of
  * within a float tolerance. Shuffle order cannot perturb a single
  * bit, unlike double-precision rank sums.
  *
  * Documented simplification: dangling mass (nodes with no
  * out-edges) and integer-division remainders are dropped, not
  * redistributed — total mass decays slightly per iteration. Both
  * engines decay identically; relative ordering (what callers rank
  * by) is unaffected for the connected graphs this targets.
  *
  * Scale shape: edges+outdeg are joined once, materialized
  * (Materialize policy), and pre-partitioned by src, so each
  * iteration shuffles ONLY the (id, rank) frame — one hash join on
  * src + one aggregation on dst + one left join back to nodes, all
  * O(edges). Each iteration's label frame is materialized to
  * stop the O(nIter) plan blowup and the PREVIOUS snapshot is
  * freed as soon as its successor is materialized (same discipline
  * as ConnectedComponents) — executor storage holds at most two
  * rank snapshots at any time. One driver scalar total (node count),
  * never a collect.
  */
object PageRank {
  /** Rank unit: 1 rank-point = 1e-12 of total initial mass. */
  val Scale: Long = 1000000000000L

  /** `edges`: (src: Long, dst: Long), assumed DISTINCT directed edges
    * (duplicate rows would double-count contributions — dedup is the
    * caller's call because it usually falls out of edge construction
    * for free). Returns one row per node: (id, rank_fp) with rank_fp
    * the fixed-point rank mass (unit [[Scale]]⁻¹). */
  def run(edges0: DataFrame, nIter: Int,
          dampNum: Long = 85L, dampDen: Long = 100L): DataFrame = {
    require(nIter >= 1, s"nIter must be >= 1, got $nIter")
    val spark = edges0.sparkSession
    val parallelism = spark.sparkContext.defaultParallelism
    // join outdeg onto edges ONCE, store partitioned by the per-
    // iteration join key (src): the materialized leaf keeps the
    // partitioning, so the loop's joins shuffle only the rank side
    val edges = Materialize.eager(
      edges0.toDF("src", "dst")
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("_m"))
        .drop("_m") // cheap safety net: collapse accidental dup edges
        .withColumn("deg", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
        .repartition(parallelism, col("src")))
    val nodes = Materialize.eager(
      edges.select(col("src").as("id"))
        .union(edges.select(col("dst").as("id")))
        .distinct()
        .repartition(parallelism, col("id")))
    val n = nodes.count() // the loop's single driver-side scalar
    require(n > 0, "PageRank.run on an empty edge set")
    val base = (Scale * (dampDen - dampNum) / dampDen) / n
    var rank = Materialize.eager(
      nodes.withColumn("r", lit(Scale / n)))
    var lastCk = rank
    for (i <- 1 to nIter) {
      val contrib = edges
        .join(rank.withColumnRenamed("id", "src"), "src")
        .select(col("dst"),
          expr(s"((r DIV deg) * ${dampNum}L) DIV ${dampDen}L").as("c"))
      // ^ long arithmetic end to end — a double detour (e.g. via
      //   Column.divide) would round-to-nearest before truncation
      //   and can disagree with exact floor division by 1
      val sums = contrib.groupBy(col("dst")).agg(sum(col("c")).as("in_mass"))
      val next =
        nodes.join(sums.withColumnRenamed("dst", "id"), Seq("id"), "left")
          .select(col("id"),
            (lit(base) + coalesce(col("in_mass"), lit(0L))).as("r"))
      // checkpoint every SECOND iteration (and the last): a 2-deep
      // lazy plan costs nothing extra at action time, while each
      // materialization barrier is a fixed ~0.25 s — halving the
      // barrier count cuts the loop's fixed overhead ~2× (cold A/B
      // at sf0.1: 5.4 → 4.6 s) with the same O(nIter)-plan cap
      if (i % 2 == 0 || i == nIter) {
        val ck = Materialize.eager(next)
        Materialize.free(lastCk)
        lastCk = ck
        rank = ck
      } else rank = next
    }
    // the returned frame is its own checkpoint — the edge/node blocks
    // are dead weight the caller can never release; drop them now
    // (same end-of-run discipline as ConnectedComponents' sym frame)
    Materialize.free(edges)
    Materialize.free(nodes)
    rank.select(col("id"), col("r").as("rank_fp"))
  }
}
