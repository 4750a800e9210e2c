package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

class ConnectedComponentsSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  test("label propagation equals union-find on a known graph") {
    // components: {1,2,3,4-chain}, {10,11}, {20 isolated}
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("src", "dst")
    val got = ConnectedComponents.run(spark, nodes, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("random graphs: label propagation equals union-find (property)") {
    for (seed <- 1 to 5) {
      val rng = new scala.util.Random(seed)
      val n = 40
      val edgeList = (1 to 60).map(_ => (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // reference: driver-side union-find
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edgeList.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
      val got = ConnectedComponents.run(spark,
        (0L until n.toLong).toDF("id"), edgeList.toDF("src", "dst"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      // union-find roots may differ from min-label; compare partitions
      def partition(m: Map[Long, Long]) =
        m.groupBy(_._2).values.map(_.keys.toSet).toSet
      assert(partition(got) == partition(expected), s"seed=$seed")
    }
  }

  test("empty graph converges immediately to an empty labeling") {
    val nodes = Seq.empty[Long].toDF("id")
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(ConnectedComponents.run(spark, nodes, edges).count() == 0)
  }

  test("non-convergence throws instead of returning partial labels") {
    // a 30-node path has diameter 29: maxIter=2 cannot converge
    val n = 30
    val nodes = (1L to n.toLong).toDF("id")
    val edges = (1L until n.toLong).map(i => (i, i + 1)).toDF("src", "dst")
    val e = intercept[IllegalStateException] {
      ConnectedComponents.run(spark, nodes, edges, maxIter = 2)
    }
    assert(e.getMessage.contains("did not confirm convergence"))
  }

  test("long path converges within diameter iterations") {
    val n = 30
    val nodes = (1L to n.toLong).toDF("id")
    val edges = (1L until n.toLong).map(i => (i, i + 1)).toDF("src", "dst")
    val got = ConnectedComponents.run(spark, nodes, edges, maxIter = 40)
      .collect().map(r => r.getLong(1)).distinct
    assert(got.toSeq == Seq(1L), "a path graph is one component")
  }

  test("a nodes-only graph converges in one round") {
    val nodes = Seq(3L, 1L, 2L).toDF("id")
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    // maxIter = 1: a second round would be non-convergence and throw
    val got = ConnectedComponents.run(spark, nodes, edges, maxIter = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("an edge endpoint missing from nodes still gets its min label") {
    // 1 and 7 appear only as endpoints; 1 is the component's min and
    // must reach 10 and 11 through the missing node
    val nodes = Seq(10L, 11L, 20L).toDF("id")
    val edges = Seq((10L, 1L), (1L, 11L), (20L, 7L)).toDF("src", "dst")
    val got = ConnectedComponents.run(spark, nodes, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 10L -> 1L, 11L -> 1L, 7L -> 7L, 20L -> 7L))
  }

  test("a failing run leaves no cached edges in the session") {
    import org.apache.spark.sql.functions.{col, udf}
    // a range, not a local Seq: the optimizer would fold a UDF over a
    // LocalRelation at persist time, before the edges are cached
    val boom = udf((x: Long) =>
      if (x == 3L) throw new IllegalStateException("boom") else x)
    val edges = spark.range(1, 6)
      .select(col("id").as("src"), boom(col("id") + 1).as("dst"))
    val nodes = spark.range(1, 6).toDF("id")
    val cache = spark.sharedState.cacheManager
    cache.clearCache()
    intercept[Exception](ConnectedComponents.run(spark, nodes, edges))
    assert(cache.isEmpty, "the symmetrized edges stayed cached after a task failed")
    // non-convergence is the other exit by exception
    val path = (1L to 10L).map(i => (i, i + 1)).toDF("src", "dst")
    intercept[IllegalStateException](
      ConnectedComponents.run(spark, path.select("src").toDF("id"), path, maxIter = 2))
    assert(cache.isEmpty, "the symmetrized edges stayed cached after non-convergence")
  }
}
