package org.apache.spark.sql

import org.apache.spark.TaskContext
import org.apache.spark.memory.TaskMemoryManager
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.storage.StorageLevel

/** Bridge into the private[sql] Dataset constructor — the one internal
  * hook a library adding its own LogicalPlan nodes needs (Spark 4
  * keeps plan↔Dataset construction encapsulated; extension libraries
  * conventionally ship exactly this shim). */
object GraftShims {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def analyzed(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  /** The task's memory manager (`private[spark]` on `TaskContext`), for
    * a Tungsten sorter inside an RDD task. */
  def taskMemoryManager(ctx: TaskContext): TaskMemoryManager = ctx.taskMemoryManager()

  /** `Dataset.checkpoint`'s shape with a persist in place of the
    * checkpoint: `df`'s rows filled into a `MEMORY_AND_DISK` RDD by one
    * job, behind a `LogicalRDD` leaf that keeps `df`'s statistics,
    * output partitioning and ordering. The fill runs as a SQL execution
    * so `Observation`s on `df` are delivered when it ends, and `toRdd`
    * pins the SQL conf for any later recompute from lineage. */
  def persisted(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val qe = ds.queryExecution
    val rdd = SQLExecution.withNewExecutionId(qe, Some("materialize")) {
      val r = qe.toRdd.map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)
      r.count()
      r
    }
    classic.Dataset.ofRows(ds.sparkSession,
      LogicalRDD.fromDataset(rdd, ds, isStreaming = false))
  }
}
