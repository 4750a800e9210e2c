package graft.queries

import java.nio.file.{Files, Path, StandardCopyOption}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.reflect.io.Directory
import graft.SparkTestSession

/** A query is a function of the files under its data directory and
  * nothing else: rewriting `documents` mid-session must change what
  * the next run of a query returns, with no release call in between.
  * dedup_cluster_density (CC labels + candidate pairs) and
  * graph_modularity (the LPA core) build the costliest intermediates,
  * the ones a cache kept across runs would hold. */
class RewrittenDataDirSpec extends AnyFunSuite {
  import SparkTestSession._

  private val fixture = "/root/testdata/sf0.001"
  private val names = Seq("dedup_cluster_density", "graph_modularity")

  private def run(name: String, dir: String): Seq[Seq[Any]] =
    graft.SparkEntry.queries(name)(spark, dir).collect().toSeq.map(_.toSeq)

  private def writeDocs(docs: DataFrame, dir: Path): Unit =
    docs.write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)

  test("rerunning a query after its documents are rewritten reads the " +
      "new table, without releaseShared") {
    val dir = Files.createTempDirectory("graft-rewrite")
    val fresh = Files.createTempDirectory("graft-fresh")
    try {
      Files.copy(java.nio.file.Paths.get(fixture, "documents.parquet"),
        dir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
      val before = names.map(run(_, dir.toString))

      // the changed table: the largest cluster loses every member but
      // its representative, and a copy of that representative is added
      // under a new id
      val docs = graft.Tables.documents(spark, fixture)
      val labels = Documents.dedupClusters(spark, fixture)
      val rep = labels.groupBy(col("cluster_rep")).count()
        .orderBy(col("count").desc, col("cluster_rep")).head().getLong(0)
      val dropped = labels
        .filter(col("cluster_rep") === rep && col("doc_id") =!= rep)
        .select(col("doc_id"))
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      val copy = docs.filter(col("doc_id") === rep)
        .withColumn("doc_id", lit(maxId + 1))
      val changed = docs.join(dropped, Seq("doc_id"), "left_anti")
        .select(docs.columns.map(col): _*)
        .unionByName(copy)
      assert(changed.count() < docs.count())
      writeDocs(changed, dir)
      writeDocs(changed, fresh)

      val after = names.zip(names.map(run(_, dir.toString)))
      val expected = names.zip(names.map(run(_, fresh.toString)))
      assert(after == expected,
        "a query served the table it read before the rewrite")
      assert(names.indices.forall(i => after(i)._2 != before(i)),
        "the rewrite should change every query's output")
    } finally {
      graft.operators.Materialize.freeAll(spark)
      new Directory(dir.toFile).deleteRecursively()
      new Directory(fresh.toFile).deleteRecursively()
    }
  }
}
