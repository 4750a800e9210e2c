package graft.api

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** The README "Using graft as a library" example, compiled and run —
  * the facade's contract test. Keep in sync with README.md: if the
  * README block stops compiling against the API, THIS file is where
  * the build breaks. (GraftSession.create is exercised structurally:
  * the shared test session is built by the same graft.Session.build
  * the facade delegates to, so we don't spin a second SparkContext.) */
class ApiExampleSpec extends AnyFunSuite
    with org.scalatest.BeforeAndAfterAll {
  import SparkTestSession._
  import spark.implicits._

  // the streaming-facade test below materializes an eval side that
  // lives until releaseShared or GC (the in-test releaseShared call of
  // the FIRST test runs before it) — free it here
  override def afterAll(): Unit =
    GraftSession.releaseShared(spark)

  test("README example: candidate pairs, triangle count, k-anonymity, " +
      "releaseShared") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "an entirely different document about spark internals")
    ).toDF("doc_id", "text")

    val pairs = Dedup.candidatePairs(docs)
    val got = pairs.as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 2L)), s"exact dups must band together: $got")
    assert(!got.exists(p => p._1 == 3L || p._2 == 3L),
      "the unrelated doc shares no band")

    val tri = Graph.triangleCount(pairs)
    assert(tri.columns.contains("n_triangles") && tri.count() == 1)

    val customerRegistry = Seq(
      (1L, "Customer#1", 0L, "BUILDING", 100L),
      (2L, "Customer#2", 0L, "BUILDING", 150L),
      (3L, "Customer#3", 4L, "AUTOMOBILE", -20L)
    ).toDF("c_custkey", "c_name", "c_nationkey", "c_mktsegment",
      "c_acctbal")
    val kAnon = Privacy.kAnonymity(customerRegistry)
    assert(kAnon.count() >= 1)

    GraftSession.releaseShared(spark)
  }

  test("streaming facade: ingest verdicts flow end to end") {
    import org.apache.spark.sql.functions._
    val in = java.nio.file.Files.createTempDirectory("api_stream")
    def stamp(rows: Seq[(Long, String, Long)]) =
      rows.toDF("doc_id", "text", "epoch")
        .select(col("doc_id"), col("text"),
          col("epoch").cast("timestamp").as("ts"))
    stamp(Seq(
      (1L, "the a of and to enough tokens for the gate here", 60L),
      (2L, "late arrival advances the watermark far ahead oh", 90000L)))
      .coalesce(1).write.mode("overwrite").parquet(in.toString)
    val schema = stamp(Seq((0L, "x", 0L))).schema
    val stream = spark.readStream.schema(schema).parquet(in.toString)
    val evalDocs = Seq((9L, "benchmark eval text")).toDF("doc_id", "text")
    val q = Streams.ingestVerdicts(stream, evalDocs, minTokens = 5L)
      .writeStream.format("memory").queryName("api_example_verdicts")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(q.exception.isEmpty)
    } finally q.stop()
    // doc 1's window finalized once doc 2 advanced the watermark
    assert(spark.table("api_example_verdicts").count() >= 1)
  }
}
