package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Materialize is the single policy point behind every dedup
  * intermediate: default localCheckpoint (no CacheManager leak, at
  * the cost of executor-loss recoverability), persist policy for
  * preemptible fleets. Pin both policies and the free() contract. */
class MaterializeSpec extends AnyFunSuite {
  import graft.SparkTestSession._

  test("default policy: no CacheManager entry, blocks reusable, free drops them") {
    spark.sharedState.cacheManager.clearCache()
    val df = Materialize.eager(spark.range(1000).toDF("id")
      .withColumn("x", col("id") * 2))
    assert(spark.sharedState.cacheManager.isEmpty,
      "localCheckpoint must not register a cached table")
    assert(df.agg(sum(col("x"))).head().getLong(0) == 999000L)
    val before = spark.sparkContext.getPersistentRDDs.size
    assert(before > 0, "eager checkpoint should hold persisted blocks")
    Materialize.free(df)
    assert(spark.sparkContext.getPersistentRDDs.size < before,
      "free() must drop the checkpoint blocks")
  }

  test("persist policy: cached + recomputable, free unpersists") {
    spark.conf.set(Materialize.ConfKey, "persist")
    try {
      val df = Materialize.eager(spark.range(100).toDF("id"))
      assert(!spark.sharedState.cacheManager.isEmpty,
        "persist policy must register the frame in the CacheManager")
      assert(df.count() == 100)
      Materialize.free(df)
      assert(spark.sharedState.cacheManager.isEmpty,
        "free() must remove the persist-policy cache entry")
      // persist-policy frames keep lineage: still computable after free
      assert(df.count() == 100)
    } finally {
      spark.conf.unset(Materialize.ConfKey)
      spark.sharedState.cacheManager.clearCache()
    }
  }

  test("keyedPartitions: config floor at test scale, linear growth past it, bounded") {
    val adv = 64L * 1024 * 1024
    // unknown source bytes -> the config floor, always
    assert(Materialize.keyedPartitions(32, adv, None) == 32)
    // small measured source (the test SFs: LPA's edges read the
    // ~630 MB sf0.1 pair pin twice -> ~1.26 GB) -> floor wins: the
    // local layout (and every committed bench number) is unchanged
    assert(Materialize.keyedPartitions(32, adv, Some(1260L * 1024 * 1024)) == 32)
    // the 10x fixture class whose sort+unroll tasks OOM'd at 32
    // partitions (~12.6 GB per-reference edges) -> ~198
    assert(Materialize.keyedPartitions(32, adv, Some(12600L * 1024 * 1024)) == 197)
    // 100x-class source scales linearly (126 GB -> ~2016 partitions)
    assert(Materialize.keyedPartitions(32, adv, Some(126L * 1024 * 1024 * 1024)) == 2017)
    // runaway inputs are bounded at 64x the floor
    assert(Materialize.keyedPartitions(32, adv, Some(1L << 50)) == 32 * 64)
    // a degenerate advisory (<= 0) falls back to the floor
    assert(Materialize.keyedPartitions(32, 0L, Some(1L << 40)) == 32)
  }

  test("dedup queries leave no persistent RDD residue (CC snapshots freed)") {
    val d = "/root/testdata/sf0.001"
    // CC's per-iteration label snapshots must be freed as the loop
    // advances; only the FINAL snapshot (backing the returned frame)
    // and the frames materialized by the query builder itself may
    // remain until plan GC / freeAll. Run the full clustering query
    // and check the executor-storage watermark stays bounded.
    val baseline = spark.sparkContext.getPersistentRDDs.size
    val out = graft.queries.Documents.dedupClusters(spark, d)
    assert(out.count() > 0)
    // residue is exactly the per-query materializations (sig2,
    // withHubs, final CC snapshot) — NOT maxIter label snapshots
    // (freed in-loop) and not CC's sym (unpersisted on exit)
    val residue = spark.sparkContext.getPersistentRDDs.size - baseline
    assert(residue <= 3,
      s"unexpected RDD residue ($residue new): " +
        spark.sparkContext.getPersistentRDDs.keys.toSeq.sorted)
    // nothing is pinned across queries: the harness hook alone drops
    // even that bounded residue synchronously
    Materialize.freeAll(spark)
    assert(spark.sparkContext.getPersistentRDDs.size <= baseline,
      "freeAll must release every materialization")
  }
}
