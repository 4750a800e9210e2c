package graft.mr

import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}

/** The reference engine's portable contract (SURVEY.md §2.4):
  * a string key/value pair, a Map/Reduce plugin pair, and a job runner.
  *
  * Mirrors /root/reference/mr/worker.go:18-21 (KeyValue) and
  * /root/reference/mr-main/mrworker.go:34-51 (plugin surface), but the
  * pipeline itself is Spark-native: wholeTextFiles → flatMap →
  * groupByKey → mapGroups → text sink. Shuffle partitioning, the
  * map→reduce barrier, task retry, speculative execution and atomic
  * output commit are all Spark's own (reference F3/F7/F9/F11 —
  * /root/reference/mr/coordinator.go:170-192, worker.go:141-146).
  */
case class KV(key: String, value: String)

trait MRApp extends Serializable {
  def map(filename: String, contents: String): Seq[KV]
  def reduce(key: String, values: Seq[String]): String
}

object MRJob {

  /** Shared ingest stage: whole files → app.map KV pairs (filename
    * derivation lives in exactly one place — Incremental reuses it). */
  def mapped(spark: SparkSession, app: MRApp, inputGlob: String): Dataset[KV] = {
    import spark.implicits._
    spark.sparkContext
      .wholeTextFiles(inputGlob)
      .toDS()
      .flatMap { case (file, contents) =>
        app.map(file.split('/').last, contents)
      }
  }

  /** The distributed pipeline as a Dataset of output lines
    * ("key value" — the reference's format, mr/worker.go:156).
    * Output row order is an unordered bag, exactly like the reference
    * (comparisons must sort — mr-main/test-mr.sh:58). */
  def result(spark: SparkSession, app: MRApp, inputGlob: String): Dataset[String] = {
    import spark.implicits._
    mapped(spark, app, inputGlob)
      .groupByKey(_.key)
      .mapGroups { (key, kvs) =>
        s"$key ${app.reduce(key, kvs.map(_.value).toSeq)}"
      }
  }

  /** Full job: run and write nReduce text partitions (nReduce=10 is the
    * reference's fixed fan-in, /root/reference/mr-main/mrcoordinator.go:25). */
  def run(spark: SparkSession, app: MRApp, inputGlob: String, outDir: String,
      nReduce: Int = 10): Unit =
    result(spark, app, inputGlob)
      .repartition(nReduce)
      .write.mode(SaveMode.Overwrite).text(outDir)

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
