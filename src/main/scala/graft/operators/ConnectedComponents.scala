package graft.operators

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed connected components by iterative min-label
  * propagation — the dedup-clustering step that turns candidate pairs
  * into keep/drop decisions (every doc labeled with the min doc_id of
  * its component).
  *
  * Per iteration: each node takes the min label among itself and its
  * neighbors (one join + one aggregate, all shuffle-partitioned by
  * node). Iterations ≈ graph diameter (near-clique dedup graphs: 2-3);
  * the driver only ever sees one convergence scalar per iteration,
  * never the data, and it is observed inside the round's own
  * materializing job. This is the standard Pregel-style CC on DataFrames
  * (GraphX does the same dance on RDDs).
  */
object ConnectedComponents {

  /** @param nodes single-column df of node ids (long)
    * @param edges (src, dst) pairs, undirected (symmetrized here)
    * @param maxIter change-detection convergence needs diameter+1
    *        rounds (the last round confirms nothing moved), so size
    *        this to at least the worst expected diameter + 1
    * @return (id, component) with component = min id in the component */
  def run(spark: SparkSession, nodes: DataFrame, edges: DataFrame,
      maxIter: Int = 20): DataFrame = {
    val sym = edges.toDF("src", "dst")
      .union(edges.toDF("dst", "src").select(col("src"), col("dst")))
      .distinct()
      .persist()
    // the persist is a session CacheManager entry: drop it on every exit
    try {
      // Seed labels from nodes ∪ edge endpoints: an endpoint missing from
      // `nodes` would otherwise enter via neighbor rows only (old=null),
      // read as "unchanged" by the convergence count, and converge
      // prematurely with its own min-label never propagated. One distinct
      // at init makes the operator total instead of precondition-bound.
      // materialized: without truncation the logical plan compounds
      // per loop and analysis itself OOMs past ~20 rounds
      var labels = Materialize.eager(nodes.toDF("id")
        .union(sym.select(col("src").as("id")))
        .distinct()
        .select(col("id"), col("id").as("component")))
      // handle to the snapshot backing `labels`: each iteration's
      // snapshot is freed explicitly once its successor is materialized —
      // otherwise up to maxIter label snapshots sit in executor storage
      // until the JVM GC + ContextCleaner notice the dropped references
      var ckpt = labels
      var iter = 0
      var converged = false
      while (iter < maxIter && !converged) {
        // neighbor labels + own label, take min per node. The own-label
        // rows also CARRY the previous label through the aggregate
        // (max(old) — exactly one self row per id), so convergence is a
        // count over the aggregate's own output: no second join+shuffle
        // against the previous labels, and no second job.
        val neighborLabels = sym
          .join(Materialize.hintSmall(labels), col("dst") === col("id"))
          .select(col("src").as("id"), col("component"),
            lit(null).cast("long").as("old"))
        // (pointer-jumping compression was tried and reverted: the
        // propagated-self-join trips Catalyst's Union constraint rewrite
        // on LocalRelation inputs, and with star-contracted edges the
        // diameter is already ~5, so O(log d) bought nothing measurable)
        // convergence: no node changed label. A changed-row count (not a
        // label checksum) survives ANSI overflow on huge id spaces; an
        // empty round observes a NULL sum, which means nothing changed.
        val changed = Observation()
        val next = Materialize.eager(labels
          .select(col("id"), col("component"), col("component").as("old"))
          .union(neighborLabels)
          .groupBy(col("id"))
          .agg(min(col("component")).as("component"), max(col("old")).as("old"))
          .observe(changed, sum(when(col("component") =!= col("old"), 1L)
            .otherwise(0L)).as("changed")))
        converged = Option(changed.get("changed")).forall(_ == 0L)
        labels = next.select(col("id"), col("component"))
        // `next` is fully materialized: the previous snapshot's blocks
        // are dead now (a lost block of `next` recomputes from lineage)
        Materialize.free(ckpt)
        ckpt = next
        iter += 1
      }
      // Non-convergence must be loud: returning partially-propagated
      // labels would silently mislabel clusters (wrong-but-green dedup).
      // maxIter ≈ hub-graph diameter bound; a pathological graph at
      // 100× scale exceeding it is a config problem the caller must see.
      if (!converged)
        throw new IllegalStateException(
          s"ConnectedComponents did not confirm convergence within $iter " +
            s"iterations (maxIter=$maxIter) — labels may be partially " +
            "propagated; raise maxIter (diameter+1 rounds are needed) " +
            "or pre-contract the graph")
      System.err.println(s"[cc] converged after $iter iterations")
      labels
    } finally sym.unpersist()
  }
}
