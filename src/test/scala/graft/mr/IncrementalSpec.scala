package graft.mr

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Incremental apps, which MRJob runs with the §4.3 map-side combiner,
  * must agree with their materializing twins and the sequential oracle. */
class IncrementalSpec extends AnyFunSuite {
  import SparkTestSession._
  import IncrementalSpec.ManyKeys

  private def run(app: IncrementalApp[_]): Seq[String] =
    Incremental.result(spark, app, s"$booksDir/*.txt").collect().toSeq.sorted

  test("incremental wc == materializing wc == oracle") {
    val oracle = MRJob.sequential(Apps.WordCount, booksLocal()).sorted
    assert(run(WordCountInc) == oracle)
    assert(MRJob.sequential(WordCountInc, booksLocal()).sorted == oracle)
  }

  test("incremental indexer == oracle") {
    assert(run(IndexerInc) == MRJob.sequential(Apps.Indexer, booksLocal()).sorted)
  }

  test("incremental credit == oracle over CSV fixtures") {
    val creditFiles = new java.io.File(creditDir).listFiles().sortBy(_.getName)
      .toSeq.map(f => (f.getName,
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")))
    val got = Incremental.result(spark, CreditInc, s"$creditDir/*.csv")
      .collect().toSeq.sorted
    assert(got == MRJob.sequential(Apps.Credit, creditFiles).sorted)
  }

  test("§4.3 combiner: MRJob.run(WordCount) shuffles fewer records than map-output pairs") {
    val tag = "graft.spec.combiner"
    val jobs = ConcurrentHashMap.newKeySet[Int]()
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val ended = ConcurrentHashMap.newKeySet[Int]()
    val written = new LongAdder
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty(tag) != null) {
          jobs.add(j.jobId); j.stageIds.foreach(stages.add)
        }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (stages.contains(t.stageId) && t.taskMetrics != null)
          written.add(t.taskMetrics.shuffleWriteMetrics.recordsWritten)
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        if (jobs.contains(j.jobId)) ended.add(j.jobId)
    }
    val sc = spark.sparkContext
    val out = java.nio.file.Files.createTempDirectory("combiner").toString
    sc.addSparkListener(listener)
    sc.setLocalProperty(tag, "1")
    try MRJob.run(spark, Apps.WordCount, s"$booksDir/*.txt", out)
    finally sc.setLocalProperty(tag, null)
    // a job's task ends reach the listener before its job end; bounded wait
    val deadline = System.currentTimeMillis() + 10000
    while ((jobs.isEmpty || ended.size < jobs.size) &&
      System.currentTimeMillis() < deadline) Thread.sleep(50)
    sc.removeSparkListener(listener)
    assert(!jobs.isEmpty && ended.size == jobs.size, "job end never delivered")
    val pairs = booksLocal().map { case (f, c) => Apps.WordCount.map(f, c).size }.sum
    assert(written.sum > 0 && written.sum < pairs,
      s"shuffle wrote ${written.sum} records for $pairs map-output pairs")
    val got = spark.read.text(out).collect().map(_.getString(0)).toSeq.sorted
    assert(got == MRJob.sequential(Apps.WordCount, booksLocal()).sorted)
  }

  test("§4.3 combiner past one flush: a map task's 65,536-key flushes merge to the oracle") {
    // each file emits 70,000 distinct keys, so every map task flushes
    // mid-stream and ships several partial buffers for most keys
    val got = Incremental.result(spark, ManyKeys, s"$booksDir/*.txt").collect().toSeq.sorted
    assert(got.size == 70000)
    assert(got == MRJob.sequential(ManyKeys, booksLocal()).sorted)
  }
}

object IncrementalSpec {
  object ManyKeys extends Apps.Count {
    def map(filename: String, contents: String): Seq[KV] =
      (0 until 70000).map(i => KV(s"k$i", "1"))
  }
}
