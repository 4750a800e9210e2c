package graft.mr

import java.io.{BufferedWriter, OutputStreamWriter}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.nio.file.StandardCopyOption.{ATOMIC_MOVE, REPLACE_EXISTING}
import java.nio.ByteBuffer
import java.util.Comparator
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.FileStatus
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.hadoop.mapreduce.{InputSplit, Job, JobContext, RecordReader, TaskAttemptContext}
import org.apache.hadoop.mapreduce.lib.input.FileInputFormat
import org.apache.spark.{HashPartitioner, SparkContext, SparkEnv, TaskContext}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.serializer.SerializerInstance
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}

/** The reference engine's portable contract (SURVEY.md §2.4):
  * a string key/value pair, a Map/Reduce plugin pair, and a job runner.
  *
  * Mirrors the reference's mr/worker.go:18-21 (KeyValue) and
  * mr-main/mrworker.go:34-51 (plugin surface). A job is
  * one Spark shuffle, shaped like the paper's execution overview:
  *  - §3.1 steps 1–3: the driver lists the input once and deals the
  *    files into one byte-balanced slice per core; each map task reads
  *    its files whole (`java.nio`, UTF-8) and runs `app.map` on each.
  *    Input is plain text on a POSIX path;
  *  - §4.1: the KV pairs go to reduce partition `hash(key) mod R`
  *    (`HashPartitioner`);
  *  - §4.3: an [[IncrementalApp]] combines map-side in the same shuffle;
  *  - §3.1 steps 4–6: each reduce task sorts its partition by key
  *    (Spark's spillable Tungsten sorter, [[KeySort]]) and reduces the
  *    contiguous key runs, so each output file is key-sorted (§4.2).
  *    Key order is the reference's: UTF-8 byte order (Go's `<` on
  *    strings), which is code point order, not `String`'s UTF-16 order.
  *    Keys and values must be text UTF-8 can carry: one holding an
  *    unpaired surrogate fails its reduce task with an error naming the
  *    key;
  *  - §3.3: each reduce task writes a private temporary file and
  *    atomically renames it to its final name (reference F11 —
  *    worker.go:141-146).
  * The map→reduce barrier, task retry and speculative execution are
  * Spark's own (reference F3/F7/F9 — mr/coordinator.go:170-192).
  */
case class KV(key: String, value: String)

trait MRApp extends Serializable {
  def map(filename: String, contents: String): Seq[KV]
  def reduce(key: String, values: Seq[String]): String
}

object MRJob {

  /** The reference's fixed reduce fan-in, mr-main/mrcoordinator.go:25. */
  private val DefaultReduce = 10

  /** §3.1 steps 1–3: whole files → app.map KV pairs, one map task per
    * core (or per file, if fewer). The driver lists the input
    * ([[inputFiles]]) and deals the files into byte-balanced slices
    * ([[slices]]), one map task each; a task is shipped only its files'
    * URIs and names, reads each file whole with `java.nio` and decodes it
    * as UTF-8 (a malformed byte becomes U+FFFD, as Hadoop's `Text`
    * decoded it). */
  private def kvs(sc: SparkContext, app: MRApp, inputGlob: String): RDD[KV] = {
    val files = inputFiles(sc, inputGlob).map { st =>
      ((st.getPath.toUri.toString, st.getPath.getName), st.getLen)
    }
    val parts = slices(files, sc.defaultParallelism)
    sc.parallelize(parts, parts.size max 1).flatMap(_.iterator.flatMap { case (uri, name) =>
      app.map(name, new String(Files.readAllBytes(Paths.get(URI.create(uri))), UTF_8))
    })
  }

  /** Hadoop's own input listing, the one every `FileInputFormat` (and
    * so `wholeTextFiles`) makes: comma-separated globs, a matched
    * directory expanded one level, hidden names (`_*`, `.*`) skipped,
    * and an `InvalidInputException` for a pattern that matches nothing.
    * Only its files are kept: a directory inside a matched one is not
    * read. */
  private class Listing extends FileInputFormat[Unit, Unit] {
    def createRecordReader(split: InputSplit,
        ctx: TaskAttemptContext): RecordReader[Unit, Unit] =
      throw new UnsupportedOperationException("MRJob reads its input files itself")
    def files(job: JobContext): Seq[FileStatus] = listStatus(job).asScala.toSeq.filter(_.isFile)
  }

  /** The input files of one job, listed once on the driver. Input is
    * plain text on a POSIX path ([[requireLocalInput]]); a file whose
    * extension names a compression codec is rejected, because reading
    * it raw would be a silently wrong answer. */
  private def inputFiles(sc: SparkContext, inputGlob: String): Seq[FileStatus] = {
    requireLocalInput(inputGlob)
    val job = Job.getInstance(sc.hadoopConfiguration)
    FileInputFormat.setInputPaths(job, inputGlob)
    val codecs = new CompressionCodecFactory(job.getConfiguration)
    val files = new Listing().files(job)
    for (st <- files; codec <- Option(codecs.getCodec(st.getPath)))
      throw new IllegalArgumentException(s"MRJob reads plain text: input file " +
        s"'${st.getPath}' is compressed (${codec.getClass.getSimpleName})")
    files
  }

  /** `files` (each with its length) dealt into `min(files, n)` slices
    * balanced by bytes: largest first, each into the least-loaded
    * slice. */
  private[mr] def slices[A](files: Seq[(A, Long)], n: Int): Seq[Seq[A]] = {
    val load = new Array[Long](math.min(files.size, n))
    val out = Array.fill(load.length)(Vector.newBuilder[A])
    for ((file, len) <- files.sortBy(-_._2)) {
      val i = load.indices.minBy(load(_))
      load(i) += len
      out(i) += file
    }
    out.toSeq.map(_.result())
  }

  /** The map stage alone, as a Dataset of KV pairs. */
  def mapped(spark: SparkSession, app: MRApp, inputGlob: String): Dataset[KV] =
    spark.createDataset(kvs(spark.sparkContext, app, inputGlob))(Encoders.product[KV])

  /** Output lines ("key value" — the reference's format,
    * mr/worker.go:156) of `nReduce` reduce partitions: partition i holds
    * exactly the keys with `hash(key) mod nReduce == i`, in UTF-8 byte
    * order. The shuffle is a plain one (no aggregator, key ordering or
    * Spark map-side combine), so Spark moves records without sorting or
    * size-sampling them; each reduce task sorts its own on the Tungsten
    * sorter ([[KeySort]]). */
  private def reduced(sc: SparkContext, app: MRApp, inputGlob: String,
      nReduce: Int): RDD[String] = {
    require(nReduce > 0, s"nReduce must be positive, got $nReduce")
    val part = new HashPartitioner(nReduce)
    val pairs = kvs(sc, app, inputGlob)
    app match {
      case inc: IncrementalApp[b] =>
        // §4.3 combiner: the monoid folds values map-side and merges the
        // partial buffers reduce-side, so no whole group is ever held
        import inc.bufferTag
        new ShuffledRDD[String, Array[Byte], Array[Byte]](
          pairs.mapPartitions(combined(inc, _)), part)
          .mapPartitions { in =>
            val ser = bufferSerializer(inc)
            reduceRuns(keySorted(in)) { (key, bufs) =>
              inc.finish(key, bufs.map(b => ser.deserialize[b](ByteBuffer.wrap(b)))
                .reduce(inc.combine(_, _)))
            }
          }
      case _ =>
        new ShuffledRDD[String, String, String](pairs.map(kv => (kv.key, kv.value)), part)
          .mapPartitions { in =>
            reduceRuns(keySorted(in.map { case (k, v) => (k, utf8(v, k)) })) { (key, vs) =>
              app.reduce(key, vs.map(new String(_, UTF_8)).toVector)
            }
          }
    }
  }

  /** A map task holds at most this many keys before it flushes its
    * combined buffers. */
  private val FlushKeys = 65536

  /** §4.3 map side: each key's values folded into one buffer in a plain
    * hash map, which is flushed — every buffer serialized once and
    * streamed out — whenever it holds [[FlushKeys]] keys and at the end
    * of the task, the way Hadoop runs the combiner on each spill. The
    * key count bounds memory, so nothing tracks the map's size. */
  private def combined[B](inc: IncrementalApp[B],
      kvs: Iterator[KV]): Iterator[(String, Array[Byte])] =
    new Iterator[(String, Array[Byte])] {
      import inc.bufferTag
      private val ser = bufferSerializer(inc)
      private val folded = new java.util.HashMap[String, B]
      private var flushing = folded.entrySet().iterator()
      def hasNext: Boolean = flushing.hasNext || {
        folded.clear()
        while (kvs.hasNext && folded.size < FlushKeys) {
          val kv = kvs.next()
          folded.merge(kv.key, inc.lift(kv.value), (a: B, b: B) => inc.combine(a, b))
        }
        flushing = folded.entrySet().iterator()
        flushing.hasNext
      }
      def next(): (String, Array[Byte]) = {
        if (!hasNext) throw new NoSuchElementException
        val e = flushing.next()
        val buf = ser.serialize(e.getValue)
        val bytes = new Array[Byte](buf.remaining)
        buf.get(bytes)
        (e.getKey, bytes)
      }
    }

  /** The serializer Spark's shuffle picks for a record type
    * (`SerializerManager`'s auto-pick), applied to the buffer type: Kryo
    * for primitives and strings, Java serialization otherwise. */
  private def bufferSerializer(inc: IncrementalApp[_]): SerializerInstance =
    SparkEnv.get.serializerManager.getSerializer(inc.bufferTag, true).newInstance()

  /** The reduce task's records, UTF-8 keys in byte order. */
  private def keySorted(records: Iterator[(String, Array[Byte])])
      : Iterator[(Array[Byte], Array[Byte])] =
    KeySort.sorted(records.map { case (k, v) => (utf8(k, k), v) })

  /** `text` (the key itself or one of its values) as UTF-8. An unpaired
    * surrogate would come back from the bytes as '?', merging or
    * changing keys silently, so it fails the task instead; only an
    * encoding that holds a '?' is decoded to check. */
  private def utf8(text: String, key: String): Array[Byte] = {
    val bytes = text.getBytes(UTF_8)
    var i = 0
    while (i < bytes.length && bytes(i) != '?') i += 1
    if (i < bytes.length && new String(bytes, UTF_8) != text) {
      val shown = key.flatMap(c =>
        if (Character.isSurrogate(c)) f"\\u${c.toInt}%04X" else c.toString)
      throw new IllegalArgumentException(s"MRJob: key \"$shown\" or its value holds " +
        "an unpaired surrogate, which UTF-8 cannot carry")
    }
    bytes
  }

  /** §3.1 step 5: one `reduceRun(key, values)` call per run of equal
    * keys in a key-sorted partition, as the line "key reduced". The key
    * is decoded once per run; `reduceRun` must consume the run's values. */
  private def reduceRuns(sorted: Iterator[(Array[Byte], Array[Byte])])(
      reduceRun: (String, Iterator[Array[Byte]]) => String): Iterator[String] =
    new Iterator[String] {
      private val in = sorted.buffered
      def hasNext: Boolean = in.hasNext
      def next(): String = {
        val keyBytes = in.head._1
        val run = new Iterator[Array[Byte]] {
          def hasNext: Boolean = in.hasNext && java.util.Arrays.equals(in.head._1, keyBytes)
          def next(): Array[Byte] = in.next()._2
        }
        val key = new String(keyBytes, UTF_8)
        s"$key ${reduceRun(key, run)}"
      }
    }

  /** The distributed pipeline as a Dataset of output lines. Row order
    * across partitions is an unordered bag, exactly like the reference
    * (comparisons must sort — mr-main/test-mr.sh:58). */
  def result(spark: SparkSession, app: MRApp, inputGlob: String): Dataset[String] =
    spark.createDataset(reduced(spark.sparkContext, app, inputGlob, DefaultReduce))(
      Encoders.STRING)

  /** Full job: write `nReduce` key-sorted text files, part-0000i holding
    * reduce partition i (§4.2). An existing `outDir` is replaced first.
    * Each reduce task attempt writes its lines to a private file under
    * `outDir/_temporary` and renames it to its part file (§3.3), so a
    * retried or speculative attempt leaves exactly one complete copy;
    * once every partition is committed the driver removes `_temporary`
    * (the files of failed attempts) and marks the output with `_SUCCESS`.
    * A failed job leaves no `_SUCCESS`. `outDir` must be a POSIX path
    * (see [[outputDir]]). The input is listed before `outDir` is touched,
    * so an input that cannot be read leaves the old output as it was. */
  def run(spark: SparkSession, app: MRApp, inputGlob: String, outDir: String,
      nReduce: Int = DefaultReduce): Unit = {
    val out = outputDir(outDir)
    val sc = spark.sparkContext
    val lines = reduced(sc, app, inputGlob, nReduce)
    deleteTree(out)
    val temporary = Files.createDirectories(out.resolve("_temporary"))
    val dir = out.toString
    sc.runJob(lines, (ctx: TaskContext, part: Iterator[String]) => commit(dir, ctx, part))
    deleteTree(temporary)
    Files.createFile(out.resolve("_SUCCESS"))
  }

  private val UriScheme = "([A-Za-z][A-Za-z0-9+.-]*):".r

  private def scheme(path: String): Option[String] =
    UriScheme.findPrefixMatchOf(path).map(_.group(1))

  /** `outDir` as an absolute local path, so every executor writes where
    * the driver resolved it. §3.3's commit is a rename on a shared POSIX
    * filesystem, which object stores do not provide atomically: any
    * scheme other than `file:` is rejected before a job starts. */
  private[mr] def outputDir(outDir: String): Path =
    scheme(outDir) match {
      case None => Paths.get(outDir).toAbsolutePath
      case Some(s) if s.equalsIgnoreCase("file") => Paths.get(URI.create(outDir))
      case Some(s) => throw new IllegalArgumentException(
        s"outDir must be a POSIX path: scheme '$s' in '$outDir' has no atomic rename")
    }

  /** Each comma-separated pattern of `inputGlob` must be a POSIX path
    * (no scheme, or `file:`), because map tasks read their files with
    * `java.nio`; any other scheme is rejected before a listing or a job
    * starts. */
  private[mr] def requireLocalInput(inputGlob: String): Unit =
    inputGlob.split(',').flatMap(scheme).find(!_.equalsIgnoreCase("file")).foreach { s =>
      throw new IllegalArgumentException(
        s"inputGlob must be POSIX paths: scheme '$s' in '$inputGlob' is not read")
    }

  /** §3.3 reduce-side commit of one task attempt: stream the lines,
    * UTF-8 and `\n`-terminated, into a file named after the attempt,
    * then rename it over the partition's part file. */
  private def commit(dir: String, ctx: TaskContext, lines: Iterator[String]): Unit = {
    val name = f"part-${ctx.partitionId()}%05d"
    val tmp = Paths.get(dir, "_temporary", s"$name-${ctx.taskAttemptId()}")
    val w = new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(tmp), UTF_8))
    try lines.foreach { line => w.write(line); w.write('\n') }
    finally w.close()
    Files.move(tmp, Paths.get(dir, name), ATOMIC_MOVE, REPLACE_EXISTING)
  }

  private def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val paths = Files.walk(root)
      try paths.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally paths.close()
    }

  /** Sequential oracle: same semantics in one driver-side pass, global
    * key sort then contiguous-run reduce — the mrsequential.go:27-89
    * definition of correct output. For tests only; never for scale. */
  def sequential(app: MRApp, inputs: Seq[(String, String)]): Seq[String] = {
    val pairs = inputs.flatMap { case (name, contents) => app.map(name, contents) }
    pairs.groupBy(_.key).toSeq.sortBy(_._1)(Utf8Order).map { case (k, kvs) =>
      s"$k ${app.reduce(k, kvs.map(_.value))}"
    }
  }

  /** Keys in UTF-8 byte order, the reference's (Go's `<` on strings,
    * mrsequential.go:61): code point order, which differs from
    * `String`'s UTF-16 order where supplementary-plane keys meet keys in
    * U+E000–U+FFFF. */
  private[mr] val Utf8Order: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int =
      java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8))
  }
}
