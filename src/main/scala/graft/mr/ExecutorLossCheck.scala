package graft.mr

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated,
  SparkListenerExecutorRemoved}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.RDDBlockId

/** Executor-loss recovery check — the Spark analog of the reference's
  * worker-crash-with-respawn test (/root/reference/mr-main/
  * test-mr.sh:222-271, mrapps/crash.go): the reference kills whole
  * WORKER PROCESSES mid-job and respawns them; the task-retry spec
  * (InvariantsSpec "crash") only throws inside a task, which exercises
  * task re-attempt, not executor loss. Here a task kills its entire
  * executor JVM (Runtime.halt — the process dies, taking every
  * concurrently-running task and its shuffle files with it), and the
  * job must still finish with output equal to the fault-free
  * sequential oracle: Spark marks the executor lost, re-runs the lost
  * map outputs and tasks on the surviving / relaunched executor, and
  * the standalone worker respawns the dead one.
  *
  * Runs as a MAIN in its own JVM because `local-cluster[2,1,1024]`
  * needs multi-process executors and a fresh SparkContext — the test
  * suite's shared local[4] context is JVM-singleton and must not be
  * stopped. Two jobs each lose an executor: the plain reduce path via
  * `MRJob.result`, killed in a map task, and the combiner path via
  * `MRJob.run`, killed in a reduce task midway through writing its
  * temporary file. The written directory must hold exactly the R part
  * files and `_SUCCESS`, with each key once (paper §3.3: lost work runs
  * again, output appears once). A third check covers the dedup path:
  * connected components loses, through `sc.killExecutor`, an executor
  * holding blocks of a round's stored label snapshot, and must still
  * return the fault-free labels. ExecutorLossSpec forks this main and
  * asserts on one EXECUTOR_LOSS_OK marker per path; exit code 0 ⇔ all
  * three matched.
  */
object ExecutorLossCheck {
  def main(args: Array[String]): Unit = {
    val booksDir = args(0)
    // executor processes are spawned by the in-JVM standalone worker:
    // hand them this driver's classpath and the JDK-17 opens Spark
    // needs (spark-submit would inject both; a bare java launch must)
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar")
      .map(p => s"--add-opens $p=ALL-UNNAMED").mkString(" ")
    val spark = SparkSession.builder()
      .master(sys.props.getOrElse("graft.test.master", "local-cluster[2,1,1024]"))
      .appName("graft-executor-loss")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.executor.extraClassPath", sys.props("java.class.path"))
      .config("spark.executor.extraJavaOptions", addOpens)
      // the kill below is app-caused, so it counts against
      // spark.task.maxFailures — the default 4 gives the retried
      // attempt plenty of budget
      .getOrCreate()
    // the same word count twice: a plain MRApp through the sorted
    // contiguous-run reduce, killed map-side, and the IncrementalApp
    // through the §4.3 combiner, which MRJob.run writes to files, killed
    // reduce-side
    val plain = new MRApp {
      def map(f: String, c: String): Seq[KV] = {
        if (f.contains("sherlock")) crash()
        Apps.WordCount.map(f, c)
      }
      def reduce(k: String, v: Seq[String]): String = Apps.WordCount.reduce(k, v)
    }
    val combining = new Apps.Count {
      def map(f: String, c: String): Seq[KV] = Apps.WordCount.map(f, c)
      override def finish(key: String, buf: Long): String = {
        // only the first stage attempt kills: the resubmitted stage,
        // which also re-runs the lost map outputs, must finish
        if (key == "Sherlock" && TaskContext.get().stageAttemptNumber() == 0) crash()
        super.finish(key, buf)
      }
    }
    val inputs = new java.io.File(booksDir).listFiles()
      .sortBy(_.getName).toSeq.map { f =>
        (f.getName,
          new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
      }
    val expected = MRJob.sequential(Apps.WordCount, inputs).sorted
    // each job must really lose an executor: count removals as they come
    val removed = new AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onExecutorRemoved(e: SparkListenerExecutorRemoved): Unit =
        removed.incrementAndGet()
    })
    def lostOneMore(before: Int): Boolean = {
      val deadline = System.currentTimeMillis() + 30000
      while (removed.get <= before && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      removed.get > before
    }
    val gotPlain = MRJob.result(spark, plain, s"$booksDir/*.txt")
      .collect().toSeq.sorted
    val lostPlain = lostOneMore(0)
    val removedBefore = removed.get
    val outDir = java.nio.file.Files.createTempDirectory("executor-loss-out")
    MRJob.run(spark, combining, s"$booksDir/*.txt", outDir.toString, nReduce = 10)
    val lostCombiner = lostOneMore(removedBefore)
    // the dedup path: components of ten 6-node chains (6 rounds), run
    // fault-free, then again losing the executor that stores the first
    // block of round 1's label snapshot. A run stores, in order, CC's
    // edge cache and init snapshot (one job), then round 1's snapshot,
    // which round 2 reads: the third RDD to store a block is the kill
    // trigger.
    def components(): Seq[(Long, Long)] =
      graft.operators.ConnectedComponents.run(spark,
          spark.range(0, 60).toDF("id"),
          spark.range(0, 60).filter(col("id") % 6 =!= 5)
            .select(col("id").as("src"), (col("id") + 1).as("dst")))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val ccFree = components()
    val firstRdd = spark.sparkContext.emptyRDD[Int].id
    val armed = new AtomicBoolean(true)
    val storedRdds = scala.collection.mutable.LinkedHashSet[Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
        val info = e.blockUpdatedInfo
        val exec = info.blockManagerId.executorId
        info.blockId match {
          case RDDBlockId(rdd, _) if rdd > firstRdd && armed.get &&
              info.storageLevel.isValid && exec != "driver" =>
            storedRdds += rdd
            if (storedRdds.size == 3 && armed.getAndSet(false)) {
              System.err.println(s"[executor-loss] killing executor $exec " +
                s"holding a block of RDD $rdd")
              spark.sparkContext.killExecutor(exec)
            }
          case _ =>
        }
      }
    })
    val removedBeforeCc = removed.get
    val ccLost = scala.util.Try(components())
    ccLost.failed.foreach(e =>
      System.err.println(s"[executor-loss] dedup run failed: $e"))
    val lostDedup = !armed.get && lostOneMore(removedBeforeCc)
    spark.stop()
    // output appears once: the R part files and _SUCCESS, no temporary
    // file of the killed attempt, and every key in exactly one line
    val files = outDir.toFile.listFiles().map(_.getName).toSeq.sorted
    val written = files.filter(_.startsWith("part-")).flatMap(f =>
      scala.io.Source.fromFile(outDir.resolve(f).toFile, "UTF-8").getLines().toList)
    val keys = written.map(_.split(' ').head)
    val checks = Seq(
      "plain" -> (lostPlain && gotPlain == expected),
      "combiner" -> (lostCombiner && written.sorted == expected &&
        keys.distinct.size == keys.size &&
        files == ("_SUCCESS" +: (0 until 10).map(i => f"part-$i%05d")).sorted),
      "dedup" -> (lostDedup &&
        ccFree == (0L until 60L).map(i => (i, i / 6 * 6)) &&
        ccLost.toOption.contains(ccFree)))
    checks.foreach { case (path, ok) =>
      println(s"EXECUTOR_LOSS_${if (ok) "OK" else "MISMATCH"} $path")
    }
    if (!checks.forall(_._2)) sys.exit(1)
  }

  /** Kills the whole executor JVM, not the task, on a task's first
    * attempt: the reference's worker-process crash, not a task
    * exception. */
  private def crash(): Unit =
    if (TaskContext.get().attemptNumber() == 0) {
      System.err.println("[executor-loss] killing executor " +
        s"${org.apache.spark.SparkEnv.get.executorId} mid-job")
      Runtime.getRuntime.halt(137) // no shutdown hooks — a real crash
    }
}
