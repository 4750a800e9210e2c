package graft.mr

import java.nio.charset.StandardCharsets.UTF_8
import java.util.Arrays
import org.apache.spark.TaskContext
import org.apache.spark.sql.GraftShims
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** The reduce-side sort on the Tungsten sorter, inside a task of the
  * shared session: forced to spill every 100 records, it must still
  * return the input multiset in unsigned key-byte order, and it must
  * leave the task holding no execution memory once the task ends, also
  * when the task reads only part of the output. */
class KeySortSpec extends AnyFunSuite {
  import SparkTestSession._

  /** Keys with shared 8-byte prefixes, lengths either side of the
    * prefix, bytes above 0x7F (compared unsigned), an empty key, a key
    * with a NUL, and many duplicates. */
  private val records: Seq[(Array[Byte], Array[Byte])] = {
    val rnd = new scala.util.Random(7)
    val stems = Seq("", "a", "a\u0000", "abcdefgh", "abcdefghi", "abcdefghé",
      "ÿ", "Ａ", "𝐀", "zz") ++
      (0 until 40).map(i => rnd.alphanumeric.take(1 + rnd.nextInt(12)).mkString)
    (0 until 1500).map { i =>
      val k = stems(rnd.nextInt(stems.size)).getBytes(UTF_8)
      val v = Array.fill(rnd.nextInt(20))(rnd.nextInt(256).toByte)
      (k, v)
    }
  }

  private def show(rs: Seq[(Array[Byte], Array[Byte])]): Seq[String] =
    rs.map { case (k, v) => s"${k.mkString(",")}|${v.mkString(",")}" }

  test("spilled every 100 records: byte-sorted, the input multiset, memoryBytesSpilled > 0") {
    val input = records
    val (out, spilled) = spark.sparkContext.parallelize(Seq(0), 1).mapPartitions { _ =>
      val sorted = KeySort.sorted(input.iterator, spillEvery = 100).toVector
      Iterator((sorted, TaskContext.get().taskMetrics().memoryBytesSpilled))
    }.collect().head
    assert(spilled > 0, "the sorter never spilled")
    out.map(_._1).sliding(2).foreach {
      case Seq(a, b) => assert(Arrays.compareUnsigned(a, b) <= 0,
        s"${a.mkString(",")} after ${b.mkString(",")}")
      case _ =>
    }
    assert(show(out).sorted == show(input).sorted)
  }

  test("a task that stops reading early holds no execution memory at its end") {
    val input = records
    val held = spark.sparkContext.longAccumulator("heldAfterEnd")
    spark.sparkContext.parallelize(Seq(0), 1).mapPartitions { _ =>
      val ctx = TaskContext.get()
      // completion listeners run in reverse order: this one after the sorter's
      ctx.addTaskCompletionListener[Unit] { c =>
        held.add(GraftShims.taskMemoryManager(c).getMemoryConsumptionForThisTask)
      }
      KeySort.sorted(input.iterator, spillEvery = 100).take(10).map(_._1.length)
    }.collect()
    assert(held.value == 0L, s"${held.value} bytes still held after the task ended")
  }
}
