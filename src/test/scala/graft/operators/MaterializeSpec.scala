package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Materialize has one policy: persisted blocks behind a `LogicalRDD`
  * leaf that keeps its lineage, with no CacheManager entry. Pin it and
  * the free() contract. */
class MaterializeSpec extends AnyFunSuite {
  import graft.SparkTestSession._

  test("default policy: no CacheManager entry, blocks reusable, free drops them") {
    spark.sharedState.cacheManager.clearCache()
    val df = Materialize.eager(spark.range(1000).toDF("id")
      .withColumn("x", col("id") * 2))
    assert(spark.sharedState.cacheManager.isEmpty,
      "eager must not register a cached table")
    assert(df.agg(sum(col("x"))).head().getLong(0) == 999000L)
    val before = spark.sparkContext.getPersistentRDDs.size
    assert(before > 0, "eager checkpoint should hold persisted blocks")
    Materialize.free(df)
    assert(spark.sparkContext.getPersistentRDDs.size < before,
      "free() must drop the checkpoint blocks")
  }

  test("eager frame read after free returns the same rows") {
    spark.sharedState.cacheManager.clearCache()
    val src = spark.range(0, 100, 1, 4).toDF("id")
      .withColumn("x", col("id") * 3)
    val df = Materialize.eager(src)
    // the frame is one LogicalRDD leaf over the persisted rows, with
    // no CacheManager entry
    val plan = df.queryExecution.analyzed
    assert(plan.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD] &&
      plan.children.isEmpty, s"expected one LogicalRDD leaf:\n$plan")
    assert(spark.sharedState.cacheManager.isEmpty)
    val rdd = plan.asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd
    assert(spark.sparkContext.getPersistentRDDs.contains(rdd.id))
    val before = df.orderBy(col("id")).collect().toSeq
    Materialize.free(df)
    assert(!spark.sparkContext.getPersistentRDDs.contains(rdd.id),
      "free() must drop the stored blocks")
    // lineage is kept: the freed frame recomputes, it does not fail
    assert(df.orderBy(col("id")).collect().toSeq == before)
    assert(before == src.orderBy(col("id")).collect().toSeq)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("src/main has no localCheckpoint call") {
    // a local checkpoint drops the lineage, so a lost executor would
    // fail the query instead of recomputing (paper §3.3)
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty)
    val calls = files.filter(f =>
      java.nio.file.Files.readString(f).contains(".localCheckpoint"))
    assert(calls.isEmpty, s"localCheckpoint called in: $calls")
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
