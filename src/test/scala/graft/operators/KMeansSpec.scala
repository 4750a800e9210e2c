package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Lloyd's invariants for the k-means operator: assignment picks the
  * true nearest center (pinned against a driver-side recompute), each
  * seed center claims itself at distance 0, and total within-cluster
  * SSE is non-increasing across update steps — the property that makes
  * k-means k-means. */
class KMeansSpec extends AnyFunSuite {
  import graft.SparkTestSession._

  private val d = "/root/testdata/sf0.001"

  private def pts = graft.Tables.embeddings(spark, d)
    .select(col("vec_id").as("id"), col("embedding").as("vec"))

  private def centers = graft.Tables.embeddings(spark, d)
    .filter(col("vec_id") % 64 === 0 && col("vec_id") < 512)
    .select(col("vec_id").as("cid"), col("embedding").as("cvec"))

  test("every point assigned exactly once; centers claim themselves at d2=0") {
    val a = KMeans.assign(pts, centers).collect()
    assert(a.length == pts.count())
    assert(a.map(_.getLong(0)).distinct.length == a.length)
    val self = a.filter(r => r.getLong(0) % 64 == 0 && r.getLong(0) < 512)
    self.foreach { r =>
      assert(r.getLong(1) == r.getLong(0), s"center ${r.getLong(0)} strayed")
      assert(r.getDouble(2) == 0.0)
    }
  }

  test("assignment matches a driver-side nearest-center recompute") {
    val cs = centers.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val sample = pts.filter(col("id") < 50).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val got = KMeans.assign(pts.filter(col("id") < 50), centers)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    sample.foreach { case (id, v) =>
      val best = cs.toSeq.map { case (cid, c) =>
        val d2 = v.indices.foldLeft(0.0) { (acc, i) =>
          val dd = v(i).toDouble - c(i).toDouble; acc + dd * dd
        }
        (d2, cid)
      }.min
      assert(got(id) == best._2, s"point $id: got ${got(id)}, want ${best._2}")
    }
  }

  test("SSE is non-increasing across Lloyd updates") {
    val c0 = centers
    val s0 = KMeans.sse(pts, c0)
    val c1 = graft.operators.Materialize.eager(KMeans.update(pts, c0))
    val s1 = KMeans.sse(pts, c1)
    val c2 = graft.operators.Materialize.eager(KMeans.update(pts, c1))
    val s2 = KMeans.sse(pts, c2)
    // strict for the first step on real data; <= thereafter (Lloyd's
    // converges, possibly in one step)
    assert(s1 < s0, s"update must reduce SSE: $s0 -> $s1")
    assert(s2 <= s1 + 1e-9, s"SSE must be non-increasing: $s1 -> $s2")
    Seq(c1, c2).foreach(graft.operators.Materialize.free)
  }
}
