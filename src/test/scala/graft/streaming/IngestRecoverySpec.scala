package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Restart recovery for the chained-stateful ingest pipeline: the
  * stream is stopped BETWEEN a duplicate's original and its
  * re-arrival, so suppressing the dup after restart proves the dedup
  * state store recovered from the checkpoint — and windows opened
  * before the stop finalize after it, proving the agg state did too.
  * The restarted run must equal a continuous run of the same files
  * bit-for-bit (same maxFilesPerTrigger=1 batch sequence), and
  * re-running the drained checkpoint must add nothing. */
class IngestRecoverySpec extends AnyFunSuite
    with org.scalatest.BeforeAndAfterAll {
  import SparkTestSession._
  import spark.implicits._

  // free the eval side each ingestVerdictStream call materialized now
  // rather than at GC (optional for library callers)
  override def afterAll(): Unit =
    graft.operators.Materialize.freeAll(spark)

  private val evalDocs =
    Seq((900L, "data slow query benchmark eval")).toDF("doc_id", "text")

  private def stamped(rows: Seq[(Long, String, Int)]) =
    rows.toDF("doc_id", "text", "m")
      .select(col("doc_id"), col("text"),
        ((col("m") + 1000) * 60).cast("timestamp").as("ts"))

  private val run1Chunks = Seq(
    Seq((1L, "the a of and to alpha clean doc", 0),
      (2L, "data slow query pollution the a of and", 0)),
    Seq((3L, "the a of and to gamma clean doc", 5)))
  private val run2Chunks = Seq(
    // doc 4 repeats doc 1's content: its original arrived BEFORE the
    // restart, so suppression here = recovered dedup state
    Seq((4L, "the a of and to alpha clean doc", 6),
      (5L, "the a of and to delta clean doc", 6)),
    Seq((6L, "the a of and to late clean arrival", 200)),
    Seq((7L, "the a of and to never finalized doc", 400)))

  private def stage(dir: java.nio.file.Path, stageDir: java.nio.file.Path,
      chunks: Seq[Seq[(Long, String, Int)]], offset: Int): Unit =
    chunks.zipWithIndex.foreach { case (rows, i) =>
      val k = offset + i
      stamped(rows)
        .coalesce(1).write.mode("overwrite").parquet(s"$stageDir/chunk$k")
      val part = new java.io.File(s"$stageDir/chunk$k").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(s"$dir/d$k.parquet")
      java.nio.file.Files.copy(part.toPath, dst)
      dst.toFile.setLastModified(1700000000000L + k * 10000L)
    }

  private def runAvailable(inDir: String, outDir: String,
      ckDir: String): Unit = {
    val schema = stamped(run1Chunks.head).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    val q = DocStreams.ingestVerdictStream(stream, evalDocs,
        horizon = "10 minutes", minTokens = 5L)
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  private def docsIn(outDir: String): Seq[Long] =
    spark.read.parquet(outDir).select(col("doc_id"))
      .as[Long].collect().toSeq.sorted

  test("dedup + window state survive a restart; restarted == continuous") {
    val tmp = java.nio.file.Files.createTempDirectory("ingrec")
    val in = java.nio.file.Files.createTempDirectory("ingrec_in")
    val out1 = s"$tmp/sink_restarted"
    val ck1 = s"$tmp/ck_restarted"
    stage(in, tmp, run1Chunks, 0)
    runAvailable(in.toString, out1, ck1)        // run 1: stop mid-stream
    stage(in, tmp, run2Chunks, run1Chunks.size) // new files arrive
    runAvailable(in.toString, out1, ck1)        // run 2: recover + drain
    val restarted = docsIn(out1)

    // continuous control: a fresh checkpoint over the SAME files sees
    // the same one-file-per-batch sequence, so outputs must be equal
    val out2 = s"$tmp/sink_continuous"
    runAvailable(in.toString, out2, s"$tmp/ck_continuous")
    val continuous = docsIn(out2)
    assert(restarted == continuous,
      s"restarted $restarted != continuous $continuous")

    assert(!restarted.contains(4L),
      "duplicate whose original predates the restart must stay suppressed")
    assert(restarted.distinct == restarted, "verdicts are exactly-once")
    assert(Seq(1L, 2L, 3L, 5L).forall(restarted.contains),
      s"all closed-window first arrivals present, got $restarted")

    // drained checkpoint: a third run adds nothing
    runAvailable(in.toString, out1, ck1)
    assert(docsIn(out1) == restarted, "re-run must not duplicate output")
  }
}
