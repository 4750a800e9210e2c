package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Torn-commit recovery for the COMPOSED ingest pipeline (round-11
  * verdict #5): IngestRecoverySpec stops the stream cleanly BETWEEN
  * batches; here the sink crashes AFTER writing a mid-stream batch's
  * output but BEFORE the checkpoint commit — the worst-case window,
  * with two chained state stores (dedup + windowed agg) in flight.
  * On restart the engine re-runs that batch with the SAME id from the
  * previous state-store version; the idempotent per-batch-id overwrite
  * converges the retry, and the restarted run must equal a continuous
  * run of the same files bit-for-bit (same AvailableNow +
  * maxFilesPerTrigger=1 batch sequence). */
object IngestTornCommitSpec {
  // driver-side injection state: foreachBatch bodies run on the driver
  @volatile var crashArmed = true
  @volatile var crashBatchAttempts = 0
}

class IngestTornCommitSpec extends AnyFunSuite
    with org.scalatest.BeforeAndAfterAll {
  import SparkTestSession._
  import spark.implicits._
  import IngestTornCommitSpec._

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

  // 4 files → batches 0..3; batch 2 (doc 5) advances the watermark
  // past the minute-0/5 windows, so the CRASHED batch is the one
  // emitting the bulk of the finalized verdicts from both state stores
  private val chunks = Seq(
    Seq((1L, "the a of and to alpha clean doc", 0),
      (2L, "data slow query pollution the a of and", 0)),
    Seq((3L, "the a of and to alpha clean doc", 5), // dup of doc 1
      (4L, "the a of and to delta clean doc", 5)),
    Seq((5L, "the a of and to late clean arrival", 200)),
    Seq((6L, "the a of and to never finalized doc", 400)))

  private def stage(dir: java.nio.file.Path,
      stageDir: java.nio.file.Path): Unit =
    chunks.zipWithIndex.foreach { case (rows, k) =>
      stamped(rows)
        .coalesce(1).write.mode("overwrite").parquet(s"$stageDir/chunk$k")
      val part = new java.io.File(s"$stageDir/chunk$k").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(s"$dir/d$k.parquet")
      java.nio.file.Files.copy(part.toPath, dst)
      dst.toFile.setLastModified(1700000000000L + k * 10000L)
    }

  /** One AvailableNow drain through a foreachBatch sink that crashes
    * once, after batch 2's output is written. Returns true on clean
    * termination. */
  private def runOnce(inDir: String, outDir: String, ckDir: String,
      inject: Boolean): Boolean = {
    val schema = stamped(chunks.head).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    val q = DocStreams.ingestVerdictStream(stream, evalDocs,
        horizon = "10 minutes", minTokens = 5L)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        df.write.mode("overwrite").parquet(s"$outDir/b$id")
        if (inject && id == 2L) {
          crashBatchAttempts += 1
          if (crashArmed) {
            crashArmed = false
            throw new RuntimeException("injected crash after write")
          }
        }
      }
      .option("checkpointLocation", ckDir)
      .trigger(Trigger.AvailableNow())
      .start()
    try { q.awaitTermination(); true }
    catch {
      case e: org.apache.spark.sql.streaming.StreamingQueryException =>
        assert(e.getMessage.contains("injected crash") ||
          Option(e.getCause).exists(_.getMessage.contains("injected crash")))
        false
    }
  }

  private def verdicts(outGlob: String): Seq[String] =
    spark.read.parquet(outGlob)
      .select(col("doc_id"), col("n_tok"), col("n_stop"),
        col("n_contaminated"), col("admitted"))
      .collect().map(_.mkString(":")).toSeq.sorted

  test("mid-commit crash with both state stores in flight: restarted " +
      "run equals a continuous run, no dup, no loss") {
    val tmp = java.nio.file.Files.createTempDirectory("torn")
    val in = java.nio.file.Files.createTempDirectory("torn_in")
    stage(in, tmp)
    crashArmed = true
    crashBatchAttempts = 0

    // torn run: dies inside batch 2, restarts from the checkpoint
    assert(!runOnce(in.toString, s"$tmp/sink_torn", s"$tmp/ck_torn",
      inject = true), "first run must die on the injected crash")
    assert(crashBatchAttempts == 1)
    assert(runOnce(in.toString, s"$tmp/sink_torn", s"$tmp/ck_torn",
      inject = true), "restart must drain cleanly")
    assert(crashBatchAttempts == 2,
      s"batch 2 must re-run under the same id: $crashBatchAttempts")

    // continuous twin: same files, fresh checkpoint, no crash
    assert(runOnce(in.toString, s"$tmp/sink_cont", s"$tmp/ck_cont",
      inject = false))

    val torn = verdicts(s"$tmp/sink_torn/b*")
    val cont = verdicts(s"$tmp/sink_cont/b*")
    assert(torn == cont, s"torn-commit replay must converge:\n$torn\n$cont")
    // the content is the pipeline's contract, not just self-equality:
    // docs 1/2/4 finalize via the crashed batch, 5 via batch 3; the
    // dup (3) is suppressed, the last arrival (6) never finalizes
    val ids = spark.read.parquet(s"$tmp/sink_torn/b*")
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(ids == Seq(1L, 2L, 4L, 5L), s"finalized verdicts: $ids")
  }
}
