package graft.mr

import java.io.{BufferedWriter, OutputStreamWriter}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.nio.file.StandardCopyOption.{ATOMIC_MOVE, REPLACE_EXISTING}
import java.util.Comparator
import scala.collection.immutable.VectorBuilder
import org.apache.spark.{Aggregator, HashPartitioner, SparkContext, TaskContext}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}

/** The reference engine's portable contract (SURVEY.md §2.4):
  * a string key/value pair, a Map/Reduce plugin pair, and a job runner.
  *
  * Mirrors the reference's mr/worker.go:18-21 (KeyValue) and
  * mr-main/mrworker.go:34-51 (plugin surface). A job is
  * one Spark shuffle, shaped like the paper's execution overview:
  *  - §3.1 steps 1–3: whole input files, one map task per core, each
  *    running `app.map`;
  *  - §4.1: the KV pairs go to reduce partition `hash(key) mod R`
  *    (`HashPartitioner`);
  *  - §4.3: an [[IncrementalApp]] combines map-side in the same shuffle;
  *  - §3.1 steps 4–6: each reduce task sorts its partition by key
  *    (Spark's spillable external sorter) and reduces the contiguous
  *    key runs, so each output file is key-sorted (§4.2);
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

  /** §3.1 steps 1–3: whole files → app.map KV pairs, with as many map
    * tasks as cores (wholeTextFiles' own default is at most 2). */
  private def kvs(sc: SparkContext, app: MRApp, inputGlob: String): RDD[KV] =
    sc.wholeTextFiles(inputGlob, sc.defaultParallelism)
      .flatMap { case (file, contents) => app.map(file.split('/').last, contents) }

  /** The map stage alone, as a Dataset of KV pairs. */
  def mapped(spark: SparkSession, app: MRApp, inputGlob: String): Dataset[KV] =
    spark.createDataset(kvs(spark.sparkContext, app, inputGlob))(Encoders.product[KV])

  /** Output lines ("key value" — the reference's format,
    * mr/worker.go:156) of `nReduce` reduce partitions: partition i holds
    * exactly the keys with `hash(key) mod nReduce == i`, sorted. */
  private def reduced(sc: SparkContext, app: MRApp, inputGlob: String,
      nReduce: Int): RDD[String] = {
    require(nReduce > 0, s"nReduce must be positive, got $nReduce")
    val pairs = kvs(sc, app, inputGlob).map(kv => (kv.key, kv.value))
    val part = new HashPartitioner(nReduce)
    app match {
      case inc: IncrementalApp[b] =>
        // §4.3 combiner: the monoid folds values map-side and merges the
        // partial buffers reduce-side, so no whole group is ever held
        import inc.bufferTag
        new ShuffledRDD[String, String, b](pairs, part)
          .setKeyOrdering(Ordering.String)
          .setAggregator(Aggregator[String, String, b](
            inc.lift, (buf, v) => inc.combine(buf, inc.lift(v)), inc.combine))
          .setMapSideCombine(true)
          .map { case (key, buf) => s"$key ${inc.finish(key, buf)}" }
      case _ =>
        new ShuffledRDD[String, String, String](pairs, part)
          .setKeyOrdering(Ordering.String)
          .mapPartitions(reduceRuns(app, _))
    }
  }

  /** §3.1 step 5: one `app.reduce` call per run of equal keys in a
    * key-sorted partition. */
  private def reduceRuns(app: MRApp, sorted: Iterator[(String, String)]): Iterator[String] =
    new Iterator[String] {
      private val in = sorted.buffered
      def hasNext: Boolean = in.hasNext
      def next(): String = {
        val key = in.head._1
        val values = new VectorBuilder[String]
        while (in.hasNext && in.head._1 == key) values += in.next()._2
        s"$key ${app.reduce(key, values.result())}"
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
    * (see [[outputDir]]). */
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

  /** `outDir` as an absolute local path, so every executor writes where
    * the driver resolved it. §3.3's commit is a rename on a shared POSIX
    * filesystem, which object stores do not provide atomically: any
    * scheme other than `file:` is rejected before a job starts. */
  private[mr] def outputDir(outDir: String): Path =
    UriScheme.findPrefixMatchOf(outDir).map(_.group(1)) match {
      case None => Paths.get(outDir).toAbsolutePath
      case Some(s) if s.equalsIgnoreCase("file") => Paths.get(URI.create(outDir))
      case Some(s) => throw new IllegalArgumentException(
        s"outDir must be a POSIX path: scheme '$s' in '$outDir' has no atomic rename")
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
    pairs.groupBy(_.key).toSeq.sortBy(_._1).map { case (k, kvs) =>
      s"$k ${app.reduce(k, kvs.map(_.value))}"
    }
  }
}
