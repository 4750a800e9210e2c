package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Local-mode defaults, every one cluster-sane: AQE on (runtime
  * re-plan, skew-join splitting, partition coalescing), shuffle
  * partitions sized to cores rather than the 200 default, UTC session
  * time. Cores come from `SPARK_GRAFT_CPUS`, else the JVM's measured
  * processor count.
  */
object Session {
  def cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  /** A `SPARK_GRAFT_CPUS` value as a core count; unset means every
    * processor the JVM sees. Anything but a positive integer fails here,
    * naming the variable, instead of later as a bare
    * NumberFormatException or as Spark's invalid-master-URL error. */
  private[graft] def parseCpus(raw: Option[String]): Int = raw match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(v) => v.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
  }

  def build(appName: String = "graft", master: String = s"local[$cpus]"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(master)
      .appName(appName)
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // Spark 4's default, pinned: several queries DOCUMENT that long
      // overflow fails loudly (e.g. text_collocations' lift compare) —
      // a future default flip must not silently falsify that claim
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
