package graft.mr

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.Comparator
import org.apache.hadoop.mapreduce.lib.input.InvalidInputException
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** §3.1's map input: `MRJob` lists its input once on the driver (Hadoop's
  * `FileInputFormat` listing) and each map task reads its files whole.
  * The listing and the decoded contents must be the ones
  * `sc.wholeTextFiles` gave, which `MRJob` used before. */
class MRInputSpec extends AnyFunSuite {
  import SparkTestSession._

  /** map = the file itself: one pair (file name, contents). */
  private object Identity extends MRApp {
    def map(filename: String, contents: String): Seq[KV] = Seq(KV(filename, contents))
    def reduce(key: String, values: Seq[String]): String = values.mkString
  }

  private def withDir[T](f: Path => T): T = {
    val dir = Files.createTempDirectory("mr-input")
    try f(dir)
    finally {
      val paths = Files.walk(dir)
      try paths.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally paths.close()
    }
  }

  private def write(path: Path, bytes: Array[Byte]): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, bytes)
  }

  private def bytes(ints: Int*): Array[Byte] = ints.map(_.toByte).toArray

  /** A tree with every listing and decoding case `wholeTextFiles`
    * handled: hidden and marker files, a directory a glob matches and one
    * nested deeper, names that need URI escapes, an empty file, a BOM
    * and malformed UTF-8. */
  private def tree(dir: Path): Unit = {
    write(dir.resolve("a.txt"), "alpha beta\n".getBytes(UTF_8))
    write(dir.resolve("b c.txt"), "with a space".getBytes(UTF_8))
    write(dir.resolve("e%41.txt"), "with a percent".getBytes(UTF_8))
    write(dir.resolve("empty.txt"), Array.emptyByteArray)
    write(dir.resolve("bom.txt"), bytes(0xEF, 0xBB, 0xBF) ++ "bom".getBytes(UTF_8))
    // C3 28: a lead byte without its continuation; FF: never UTF-8;
    // F0 9F 98: a 4-byte sequence cut short at the end of the file
    write(dir.resolve("bad.txt"),
      bytes('x', 0xC3, 0x28, 'y', 0xFF, 'z', 0xF0, 0x9F, 0x98))
    write(dir.resolve("_SUCCESS"), Array.emptyByteArray)
    write(dir.resolve(".x.crc"), "not a checksum".getBytes(UTF_8))
    write(dir.resolve(".hidden"), "hidden".getBytes(UTF_8))
    write(dir.resolve("_temporary/part-00000-7"), "uncommitted".getBytes(UTF_8))
    write(dir.resolve("sub/s.txt"), "in a matched directory".getBytes(UTF_8))
    write(dir.resolve("sub/nested/n.txt"), "one level too deep".getBytes(UTF_8))
  }

  private def viaMRJob(glob: String): Seq[(String, String)] =
    MRJob.mapped(spark, Identity, glob).collect().toSeq.map(kv => (kv.key, kv.value)).sorted

  private def viaWholeTextFiles(glob: String): Seq[(String, String)] =
    spark.sparkContext.wholeTextFiles(glob).collect().toSeq.flatMap { case (file, contents) =>
      Identity.map(file.split('/').last, contents)
    }.map(kv => (kv.key, kv.value)).sorted

  test("input parity with wholeTextFiles: dir/* and dir") {
    withDir { dir =>
      tree(dir)
      val top = Set("a.txt", "b c.txt", "e%41.txt", "empty.txt", "bom.txt", "bad.txt")
      for ((glob, names) <- Seq(s"$dir/*" -> (top + "s.txt"), dir.toString -> top)) {
        val got = viaMRJob(glob)
        assert(got == viaWholeTextFiles(glob), s"glob $glob")
        assert(got.map(_._1).toSet == names, s"glob $glob")
      }
      val decoded = viaMRJob(s"$dir/*").toMap
      assert(decoded("bom.txt") == "\uFEFFbom")
      assert(decoded("bad.txt") == "x\uFFFD(y\uFFFDz\uFFFD")
      assert(decoded("empty.txt") == "")
    }
  }

  test("a glob matching nothing fails before run touches the previous output") {
    withDir { dir =>
      val out = dir.resolve("out")
      MRJob.run(spark, Apps.WordCount, s"$booksDir/*.txt", out.toString, nReduce = 3)
      def snapshot(): Map[String, Seq[Byte]] =
        out.toFile.listFiles().map(f => f.getName ->
          (if (f.isFile) Files.readAllBytes(f.toPath).toSeq else Nil)).toMap
      val before = snapshot()
      assert(before.keySet == Set("_SUCCESS", "part-00000", "part-00001", "part-00002"))
      val e = intercept[InvalidInputException](
        MRJob.run(spark, Apps.WordCount, s"$booksDir/*.nomatch", out.toString, nReduce = 3))
      assert(e.getMessage.contains("matches 0 files"))
      assert(snapshot() == before)
    }
  }

  test("input must be a POSIX path: another scheme is named before any job") {
    for ((scheme, glob) <- Seq("s3a" -> "s3a://b/in/*", "hdfs" -> s"$booksDir/*.txt,hdfs://nn/in")) {
      val e = intercept[IllegalArgumentException](MRJob.result(spark, Apps.WordCount, glob))
      assert(e.getMessage.contains(s"scheme '$scheme'"))
    }
    assert(MRJob.result(spark, Apps.FileCount, s"file:$booksDir/*.txt").count() == 8)
  }

  test("a compressed input file is rejected by name, not read raw") {
    withDir { dir =>
      write(dir.resolve("a.txt"), "plain".getBytes(UTF_8))
      for (name <- Seq("b.gz", "c.bz2")) {
        write(dir.resolve(name), "not really compressed".getBytes(UTF_8))
        val e = intercept[IllegalArgumentException](MRJob.mapped(spark, Identity, s"$dir/*"))
        assert(e.getMessage.contains(name))
        Files.delete(dir.resolve(name))
      }
    }
  }

  test("slices: byte-balanced, one file each, min(files, cores) of them") {
    val files = ("big" -> (1L << 20)) +: (1 to 6).map(i => s"small$i" -> 10240L)
    val got = MRJob.slices(files, 4)
    assert(got.size == 4)
    assert(got.filter(_.contains("big")) == Seq(Seq("big")))
    assert(got.flatten.sorted == files.map(_._1).sorted)
    assert(MRJob.slices(files, 16).size == files.size)
    assert(MRJob.slices(Seq.empty[(String, Long)], 4).isEmpty)
  }
}
