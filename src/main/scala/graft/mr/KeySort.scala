package graft.mr

import org.apache.spark.{SparkEnv, TaskContext}
import org.apache.spark.sql.GraftShims
import org.apache.spark.unsafe.{Platform, UnsafeAlignedOffset}
import org.apache.spark.unsafe.types.ByteArray
import org.apache.spark.util.collection.unsafe.sort.{PrefixComparators, RecordComparator,
  UnsafeExternalSorter}

/** §3.1 step 5's sort of one reduce task's records, on Spark's Tungsten
  * sorter (`UnsafeExternalSorter`): records are `[key][value]` bytes in
  * pages of the task memory manager, so memory is accounted exactly, with
  * no per-object size sampling. When the manager cannot grant more, the
  * sorter spills sorted runs to disk and merges them, so a partition
  * larger than memory still sorts (§3.1: "an external sort is used").
  * The sorter's own task-completion listener frees its pages and spill
  * files, also when the task fails before the output is read. */
private[mr] object KeySort {

  /** The records of the running task ordered by the unsigned bytes of
    * their keys; records with equal keys come in no particular order.
    * `spillEvery` > 0 spills after every that many records: a test seam
    * for the external path, never set by the runner, where the memory
    * manager alone decides when to spill. */
  def sorted(records: Iterator[(Array[Byte], Array[Byte])],
      spillEvery: Int = 0): Iterator[(Array[Byte], Array[Byte])] = {
    val ctx = TaskContext.get()
    val memory = GraftShims.taskMemoryManager(ctx)
    val env = SparkEnv.get
    // radix sort off: the 8-byte prefix is not the whole key
    val sorter = UnsafeExternalSorter.create(memory, env.blockManager, env.serializerManager,
      ctx, () => KeyBytes, PrefixComparators.BINARY, InitialRecords, memory.pageSizeBytes(),
      Int.MaxValue, Long.MaxValue, false)
    var n = 0L
    records.foreach { case (k, v) =>
      sorter.insertKVRecord(k, Platform.BYTE_ARRAY_OFFSET, k.length,
        v, Platform.BYTE_ARRAY_OFFSET, v.length, ByteArray.getPrefix(k), false)
      n += 1
      if (spillEvery > 0 && n % spillEvery == 0) sorter.spill()
    }
    val it = sorter.getSortedIterator()
    new Iterator[(Array[Byte], Array[Byte])] {
      def hasNext: Boolean = it.hasNext
      def next(): (Array[Byte], Array[Byte]) = {
        it.loadNext()
        // a record is [key length][key][value], its total length aside
        val base = it.getBaseObject
        val at = it.getBaseOffset + Uao
        val keyLen = UnsafeAlignedOffset.getSize(base, it.getBaseOffset)
        (bytes(base, at, keyLen), bytes(base, at + keyLen, it.getRecordLength - Uao - keyLen))
      }
    }
  }

  /** Spark's default first pointer-array size (`spark.shuffle.sort.initialBufferSize`). */
  private val InitialRecords = 4096
  private val Uao = UnsafeAlignedOffset.getUaoSize

  private def bytes(base: AnyRef, offset: Long, length: Int): Array[Byte] = {
    val out = new Array[Byte](length)
    Platform.copyMemory(base, offset, out, Platform.BYTE_ARRAY_OFFSET, length)
    out
  }

  /** Key bytes compared unsigned: UTF-8 byte order is code point order. */
  private object KeyBytes extends RecordComparator {
    def compare(lBase: AnyRef, lOff: Long, lLen: Int,
        rBase: AnyRef, rOff: Long, rLen: Int): Int = {
      val ln = UnsafeAlignedOffset.getSize(lBase, lOff)
      val rn = UnsafeAlignedOffset.getSize(rBase, rOff)
      val n = math.min(ln, rn)
      var i = 0
      while (i < n) {
        val c = (Platform.getByte(lBase, lOff + Uao + i) & 0xff) -
          (Platform.getByte(rBase, rOff + Uao + i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      ln - rn
    }
  }
}
