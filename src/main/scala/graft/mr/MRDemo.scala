package graft.mr

/** CLI driver for the generic MR surface: run a named app over an input
  * glob through [[MRJob.run]], writing nReduce key-sorted text files
  * (`hash(key) mod nReduce` partitioning, §4.1–4.2), each committed by
  * a temporary file and an atomic rename (§3.3) — the
  * mrcoordinator/mrworker entry points collapsed into one
  * spark-submit-able main. `inputGlob` and `outDir` must be POSIX paths
  * (no scheme, or `file:`).
  *
  * Usage: MRDemo <wc|indexer|credit|metadata|filecount> <inputGlob> <outDir> [nReduce]
  */
object MRDemo {
  val apps: Map[String, MRApp] = Map(
    "wc" -> Apps.WordCount,
    "indexer" -> Apps.Indexer,
    "credit" -> Apps.Credit,
    "metadata" -> Apps.MetadataAgg,
    "filecount" -> Apps.FileCount)

  private val usage =
    s"usage: MRDemo <${apps.keys.mkString("|")}> <inputGlob> <outDir> [nReduce]"

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, usage)
    val app = apps.getOrElse(args(0),
      throw new IllegalArgumentException(s"unknown app '${args(0)}' — $usage"))
    // validated before the session starts: MRJob.run rejects a
    // non-positive count and non-local paths too, but only after the
    // session's startup
    MRJob.requireLocalInput(args(1))
    MRJob.outputDir(args(2))
    val nReduce =
      if (args.length <= 3) 10
      else args(3).toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"nReduce must be a positive integer, got '${args(3)}' — $usage"))
    val spark = graft.Session.build(s"mr-${args(0)}")
    try MRJob.run(spark, app, args(1), args(2), nReduce)
    finally spark.stop()
  }
}
