package graft.mr

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkException
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** The paper's partitioning and ordering guarantees on `MRJob.run`'s
  * files: reduce partition i holds exactly the keys with
  * `hash(key) mod R == i` (§4.1), and within it keys come in increasing
  * order (§4.2), the reference's UTF-8 byte order. Checked on the
  * combiner path (word count) and the plain contiguous-run reduce
  * (indexer). */
class MRPartitionSpec extends AnyFunSuite {
  import SparkTestSession._
  import MRPartitionSpec._

  /** The lines of each part file of one run, in partition order. */
  private def runParts(app: MRApp, r: Int): Seq[(String, Seq[String])] = {
    val out = Files.createTempDirectory(s"mrpart$r")
    MRJob.run(spark, app, s"$booksDir/*.txt", out.toString, nReduce = r)
    Files.list(out).iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("part-")).toSeq.sorted
      .map(n => n -> Files.readAllLines(out.resolve(n), UTF_8).asScala.toSeq)
  }

  for ((label, app) <- Seq("wordcount (combiner)" -> Apps.WordCount,
      "indexer (plain reduce)" -> Apps.Indexer); r <- Seq(1, 3, 10)) {
    test(s"$label, nReduce=$r: file i holds hash(key) mod R == i, key-sorted, each key once") {
      val parts = runParts(app, r)
      assert(parts.map(_._1) == (0 until r).map(i => f"part-$i%05d"))
      val keys = parts.map(_._2.map(_.split(' ').head))
      keys.zipWithIndex.foreach { case (ks, i) =>
        val misplaced = ks.filter(k => Math.floorMod(k.hashCode, r) != i)
        assert(misplaced.isEmpty, s"keys outside partition $i: ${misplaced.take(5)}")
        assert(ks == ks.sorted(MRJob.Utf8Order), s"part $i is not sorted by key")
      }
      val all = keys.flatten
      assert(all.distinct.size == all.size, "a key appears twice")
      assert(parts.flatMap(_._2).sorted == MRJob.sequential(app, booksLocal()).sorted)
    }
  }

  test("nReduce must be positive") {
    val out = Files.createTempDirectory("mrpart0")
    intercept[IllegalArgumentException](
      MRJob.run(spark, Apps.WordCount, s"$booksDir/*.txt", out.toString, nReduce = 0))
  }

  for ((scheme, outDir) <- Seq("hdfs" -> "hdfs://nn/out", "s3a" -> "s3a://b/out"))
    test(s"a $scheme:// outDir is rejected: §3.3's commit needs a POSIX rename") {
      val e = intercept[IllegalArgumentException](
        MRJob.run(spark, Apps.WordCount, s"$booksDir/*.txt", outDir))
      assert(e.getMessage.contains(s"scheme '$scheme'"))
    }

  for ((label, app) <- Seq("plain" -> Letters, "combiner" -> LettersInc); r <- Seq(1, 3))
    test(s"keys come in UTF-8 byte order, not UTF-16 order ($label, nReduce=$r)") {
      val oracle = MRJob.sequential(app, booksLocal())
      assert(oracle.map(_.split(' ').head) == Seq("c", fullwidthA, mathA))
      val parts = runParts(app, r)
      parts.zipWithIndex.foreach { case ((_, lines), i) =>
        assert(lines == oracle.filter(l => Math.floorMod(l.split(' ').head.hashCode, r) == i))
      }
      assert(parts.head._2.size == 3, "the three keys share partition 0")
    }

  for ((where, app) <- Seq(
      "key" -> new MRApp {
        def map(f: String, c: String): Seq[KV] = Seq(KV("ok", "1"), KV("bad\ud800", "1"))
        def reduce(k: String, v: Seq[String]): String = v.size.toString
      },
      "value" -> new MRApp {
        def map(f: String, c: String): Seq[KV] = Seq(KV("bad", "lone\udc00"))
        def reduce(k: String, v: Seq[String]): String = v.size.toString
      }))
    test(s"an unpaired surrogate in a $where fails the job, naming the key") {
      val e = intercept[SparkException](
        MRJob.result(spark, app, s"$booksDir/*.txt").collect())
      assert(e.getMessage.contains("unpaired surrogate"), e.getMessage)
      assert(e.getMessage.contains(if (where == "key") "\"bad\\uD800\"" else "\"bad\""),
        e.getMessage)
    }
}

object MRPartitionSpec {
  /** Two keys whose UTF-8 byte order (U+FF21 first) is the reverse of
    * their UTF-16 order (U+1D400's high surrogate first), and an ASCII
    * key before both; all three hash to partition 0 of 3. */
  val fullwidthA = "\uff21"
  val mathA = "\ud835\udc00"
  object Letters extends MRApp {
    def map(f: String, c: String): Seq[KV] = Seq(KV(mathA, f), KV(fullwidthA, f), KV("c", f))
    def reduce(k: String, v: Seq[String]): String = v.size.toString
  }
  object LettersInc extends Apps.Count {
    def map(f: String, c: String): Seq[KV] = Letters.map(f, c)
  }
}
