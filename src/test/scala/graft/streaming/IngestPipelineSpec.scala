package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Pins the composed streaming ingest pipeline (watermark dedup →
  * stream-static decontamination → quality gate → windowed verdict
  * finalization) across an ordered multi-batch replay:
  *   - one verdict row per FIRST-ARRIVAL doc, none for suppressed dups;
  *   - contamination counted against the static eval shingle set;
  *   - append-mode finalization: a doc whose window the watermark has
  *     not passed has NO verdict yet (late-binding, not data loss);
  *   - chained stateful operators (dedup + agg) both evict state. */
class IngestPipelineSpec extends AnyFunSuite
    with org.scalatest.BeforeAndAfterAll {
  import SparkTestSession._
  import spark.implicits._

  // an ingestVerdictStream's static eval side stays materialized until
  // freeAll or GC — free it when the suite ends
  override def afterAll(): Unit =
    graft.operators.Materialize.freeAll(spark)

  test("verdicts: dedup suppression, contamination, quality gate, " +
      "window finalization, state eviction") {
    val evalDocs = Seq((900L, "data slow query benchmark eval"))
      .toDF("doc_id", "text")
    val clean1 = "the a of and to words clean doc here"
    val chunks = Seq(
      Seq((1L, clean1, 0),
        (2L, "data slow query pollution the a of and", 0),
        (3L, "tiny the a", 1)), // 3 tokens < minTokens
      // +5 min: doc 4 repeats doc 1's content inside the horizon
      Seq((4L, clean1, 5),
        (5L, "the a of and to another clean doc", 5)),
      // +200: clean late arrival; advances the watermark past the
      // minute-0/5 windows so their verdicts finalize
      Seq((6L, "the a of and to late clean arrival", 200)),
      // +400: advances the watermark past doc 6's window; its own
      // window never closes → no verdict for doc 7 (pinned below)
      Seq((7L, "the a of and to never finalized doc", 400)))
    val stage = java.nio.file.Files.createTempDirectory("ingest_stage")
    val inDir = java.nio.file.Files.createTempDirectory("ingest")
    def stamped(rows: Seq[(Long, String, Int)]) =
      rows.toDF("doc_id", "text", "m")
        .select(col("doc_id"), col("text"),
          ((col("m") + 1000) * 60).cast("timestamp").as("ts"))
    val schema = stamped(chunks.head).schema
    chunks.zipWithIndex.foreach { case (rows, k) =>
      stamped(rows)
        .coalesce(1).write.mode("overwrite").parquet(s"$stage/chunk$k")
      val part = new java.io.File(s"$stage/chunk$k").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(s"$inDir/d$k.parquet")
      java.nio.file.Files.copy(part.toPath, dst)
      dst.toFile.setLastModified(1700000000000L + k * 10000L)
    }
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
    val q = DocStreams.ingestVerdictStream(stream, evalDocs,
        horizon = "10 minutes", minTokens = 5L)
      .writeStream.format("memory").queryName("ingest_verdicts")
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable()
    val progress = q.recentProgress.toSeq.filter(_.stateOperators.nonEmpty)
    q.stop()
    val rows = spark.table("ingest_verdicts")
      .select(col("doc_id"), col("n_contaminated"), col("admitted"))
      .as[(Long, Long, Boolean)].collect().toSeq
    val byDoc = rows.map(r => r._1 -> r).toMap
    assert(rows.map(_._1).sorted == Seq(1L, 2L, 3L, 5L, 6L),
      s"one finalized verdict per first-arrival doc, got $rows")
    // doc 4: suppressed duplicate — no verdict; doc 7: window not yet
    // passed by the watermark — no verdict EITHER (late-binding)
    assert(!byDoc.contains(4L) && !byDoc.contains(7L))
    assert(byDoc(2L)._2 >= 1L && !byDoc(2L)._3,
      "eval-shingle overlap must block admission")
    assert(byDoc(3L)._2 == 0L && !byDoc(3L)._3,
      "token floor must block admission")
    assert(Seq(1L, 5L, 6L).forall(d => byDoc(d)._3),
      "clean docs admitted")
    // chained stateful operators: dedup AND the windowed agg both
    // carry state, and eviction ran in both across the replay
    val opCount = progress.map(_.stateOperators.length).max
    assert(opCount >= 2, s"expected dedup+agg state operators, $opCount")
    val removed = progress.map(_.stateOperators.map(_.numRowsRemoved).sum).sum
    assert(removed >= 4, s"state eviction must run, removed=$removed")
  }

  test("the static eval side survives a mid-stream Materialize.freeAll " +
      "+ clearCache: later micro-batches recompute instead of dying") {
    // the harness pattern: Verify/perfbench call freeAll + clearCache
    // between queries while a library caller's stream may still be
    // live. The materialized static side keeps its lineage, so it
    // must only recompute.
    val evalDocs = Seq((900L, "data slow query benchmark eval"))
      .toDF("doc_id", "text")
    def stamped(rows: Seq[(Long, String, Int)]) =
      rows.toDF("doc_id", "text", "m")
        .select(col("doc_id"), col("text"),
          ((col("m") + 1000) * 60).cast("timestamp").as("ts"))
    val stage = java.nio.file.Files.createTempDirectory("ingfree_stage")
    val inDir = java.nio.file.Files.createTempDirectory("ingfree")
    val schema = stamped(Seq((0L, "x", 0))).schema
    def drop(rows: Seq[(Long, String, Int)], k: Int): Unit = {
      stamped(rows)
        .coalesce(1).write.mode("overwrite").parquet(s"$stage/chunk$k")
      val part = new java.io.File(s"$stage/chunk$k").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(s"$inDir/d$k.parquet")
      java.nio.file.Files.copy(part.toPath, dst)
      dst.toFile.setLastModified(1700000000000L + k * 10000L)
    }
    drop(Seq((1L, "data slow query pollution the a of and", 0)), 0)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
    val q = DocStreams.ingestVerdictStream(stream, evalDocs,
        horizon = "10 minutes", minTokens = 5L)
      .writeStream.format("memory").queryName("ingest_free_survival")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      // the harness cleanup, mid-stream
      graft.operators.Materialize.freeAll(spark)
      spark.catalog.clearCache()
      // doc 2 is contaminated too; doc 3 advances the watermark so
      // both earlier windows finalize THROUGH the freed static side
      drop(Seq((2L, "data slow query benchmark the a of and", 5)), 1)
      q.processAllAvailable()
      drop(Seq((3L, "the a of and to late clean arrival", 200)), 2)
      q.processAllAvailable()
      assert(q.exception.isEmpty,
        s"stream must survive a mid-stream free: ${q.exception}")
    } finally q.stop()
    val rows = spark.table("ingest_free_survival")
      .select(col("doc_id"), col("n_contaminated"), col("admitted"))
      .as[(Long, Long, Boolean)].collect().toSeq
    val byDoc = rows.map(r => r._1 -> r).toMap
    assert(byDoc.keySet == Set(1L, 2L), s"finalized verdicts, got $rows")
    assert(byDoc(1L)._2 >= 1L && !byDoc(1L)._3)
    assert(byDoc(2L)._2 >= 1L && !byDoc(2L)._3,
      "contamination must still be detected AFTER the free " +
        "(the static side recomputed, not silently emptied)")
  }

  test("the releasable variant's handle frees ONE stream's static side " +
      "without dropping the session's other shared frames") {
    // the gap the handle closes: a session cycling ingest streams over
    // DIFFERENT eval corpora could otherwise only release a finished
    // stream's shingle set via freeAll — which also frees every other
    // materialization
    val evalDocs = Seq((901L, "release handle eval corpus words"))
      .toDF("doc_id", "text")
    def stamped(rows: Seq[(Long, String, Int)]) =
      rows.toDF("doc_id", "text", "m")
        .select(col("doc_id"), col("text"),
          ((col("m") + 1000) * 60).cast("timestamp").as("ts"))
    val stage = java.nio.file.Files.createTempDirectory("ingrel_stage")
    val inDir = java.nio.file.Files.createTempDirectory("ingrel")
    stamped(Seq((1L, "the a of and to clean enough doc", 0)))
      .coalesce(1).write.mode("overwrite").parquet(s"$stage/chunk0")
    val part = new java.io.File(s"$stage/chunk0").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(s"$inDir/d0.parquet"))
    val schema = stamped(Seq((0L, "x", 0))).schema
    // an unrelated cached frame the release must NOT touch
    val bystander = Seq((1, "keep")).toDF("k", "v").persist()
    bystander.count()
    try {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
      def persisted = spark.sparkContext.getPersistentRDDs.keySet
      val others = persisted
      val (verdicts, release) = DocStreams.ingestVerdictStreamReleasable(
        stream, evalDocs, horizon = "10 minutes", minTokens = 5L)
      // the eval side's stored RDD, materialized by the call itself
      val evalSide = persisted -- others
      assert(evalSide.nonEmpty, "the eval side must be materialized")
      val q = verdicts.writeStream.format("memory")
        .queryName("ingest_releasable")
        .outputMode(OutputMode.Append()).start()
      try q.processAllAvailable() finally q.stop()
      release()
      // only the bystander remains cached; a second release is a no-op
      release()
      val cached = spark.sharedState.cacheManager
      def classic(df: org.apache.spark.sql.DataFrame) =
        df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      assert(cached.lookupCachedData(classic(bystander)).nonEmpty,
        "release must not evict unrelated cached frames")
      assert((persisted intersect evalSide).isEmpty,
        "the stream's eval shingle set must be gone after release()")
    } finally bystander.unpersist(blocking = true)
  }
}
