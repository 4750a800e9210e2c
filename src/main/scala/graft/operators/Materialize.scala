package graft.operators

import org.apache.spark.sql.{DataFrame, GraftShims}
import org.apache.spark.sql.execution.LogicalRDD

/** The single materialization policy for a multi-consumer
  * intermediate (LSH signature tables, banded fingerprints, CC label
  * snapshots, the static side of an ingest stream).
  *
  * [[eager]] works like `Dataset.checkpoint`, but persists the rows
  * instead of checkpointing them: one job fills a `MEMORY_AND_DISK`
  * RDD of the plan's rows, and the returned frame is a `LogicalRDD`
  * leaf over it that keeps the origin plan's statistics, output
  * partitioning and ordering.
  *   - The plan is truncated: iterative consumers (connected
  *     components, PageRank, LPA, k-core) plan one leaf per round
  *     instead of a plan that compounds with every round.
  *   - The lineage is kept: a block lost with its executor is
  *     recomputed by the scheduler (paper §3.3, lost work runs again).
  *   - No block enters the session `CacheManager`, so a caller has no
  *     unpersist duty: the blocks are dropped by [[free]]/[[freeAll]],
  *     or by the `ContextCleaner` once every consumer plan is GC'd.
  *
  * There is no other policy and no switch. A frame read after [[free]]
  * or [[freeAll]] is silently recomputed from its lineage, not failed;
  * freeing only costs time, never correctness.
  *
  * Recovery cost in a loop: once `free(ckpt)` drops round k−1's
  * blocks, recovering a lost partition of round k reads round k's
  * shuffle files, or, if those died with the executor too, re-runs
  * round k's map stage, which recomputes round k−1 from its shuffle
  * files, and so on back to the init snapshot. For connected
  * components at `maxIter` = 20, a loss in the last round re-runs the
  * lost executor's share of up to 20 rounds' map stages plus init: at
  * most about one more pass of the loop over that share.
  */
object Materialize {
  // Weak registry of every RDD this helper materialized: [[freeAll]]
  // lets a harness (Verify/perfbench) drop all surviving blocks
  // deterministically between queries instead of waiting on the JVM
  // GC + async ContextCleaner (whose cleanup otherwise lands inside
  // the NEXT query's timed window). The key is the underlying RDD, not
  // the Dataset wrapper: consumers hold the RDD through their
  // LogicalRDD plan nodes long after the wrapper frame is garbage, and
  // weak keys keep the default contract for library callers — once
  // every consumer drops the plan, normal GC + ContextCleaner free the
  // blocks, registry or not.
  private val tracked =
    new java.util.WeakHashMap[org.apache.spark.rdd.RDD[_], AnyRef]()

  private def leafRdds(df: DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectLeaves().collect {
      case l: LogicalRDD => l.rdd
    }

  /** Materialize `df` now and return a frame whose consumers reuse the
    * stored blocks instead of recomputing the plan. */
  def eager(df: DataFrame): DataFrame = {
    val m = GraftShims.persisted(df)
    tracked.synchronized { leafRdds(m).foreach(tracked.put(_, None)) }
    m
  }

  /** Stored footprint of a materialized frame's blocks, if every leaf
    * is a persisted RDD the block manager still reports — the
    * driver-side, zero-job size read that [[hintSmall]] decides from. */
  private def storedBytes(df: DataFrame): Option[Long] = {
    val rdds = leafRdds(df)
    if (rdds.isEmpty) None
    else {
      val infos = df.sparkSession.sparkContext.getRDDStorageInfo
        .map(i => i.id -> (i.memSize + i.diskSize)).toMap
      val sizes = rdds.distinctBy(_.id).map(r => infos.get(r.id))
      if (sizes.exists(_.isEmpty)) None else Some(sizes.flatten.sum)
    }
  }

  /** Size-gated broadcast hint for a MATERIALIZED frame: returns
    * `df.hint("broadcast")` iff the stored blocks' measured size is
    * under the session's autoBroadcastJoinThreshold, else `df`
    * unchanged. Closes a planning gap, not a semantic one: the leaf's
    * statistics are the origin plan's optimizer estimate (copied by
    * `LogicalRDD.fromDataset`), and for joins and aggregates that
    * estimate is an upper bound far above the rows actually stored,
    * so the static planner plans sort-merge — BOTH join sides get an
    * Exchange, and although AQE re-plans to a broadcast join at
    * runtime, the big side's exchange has already run as a map stage.
    * With the hint the initial plan is the broadcast join and the big
    * side is never exchanged at all.
    *
    * Scale-safe by construction: the decision reads the ACTUAL stored
    * bytes (driver-side, no job), so a table that outgrows the
    * threshold at corpus scale simply stops hinting and the plan
    * reverts to SMJ + AQE — nothing is forced. */
  def hintSmall(df: DataFrame): DataFrame = {
    val thr = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    storedBytes(df) match {
      case Some(b) if thr > 0 && b <= thr => df.hint("broadcast")
      case _ => df
    }
  }

  /** Free every tracked materialization of `spark`'s context that is
    * still strongly reachable — for harnesses running many queries in
    * one session between queries. A live consumer (a running stream's
    * static side, say) is not broken by it: it recomputes. */
  def freeAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    val live = tracked.synchronized {
      val buf = scala.collection.mutable
        .ArrayBuffer[org.apache.spark.rdd.RDD[_]]()
      val it = new java.util.ArrayList(tracked.keySet()).iterator()
      while (it.hasNext) { val r = it.next(); if (r != null) buf += r }
      buf.toSeq
    }
    live.filter(_.sparkContext eq spark.sparkContext).foreach { r =>
      // blocking: the whole point is that removal completes BEFORE the
      // caller's next timed window starts — unpersist(false) merely
      // dispatches the removal to block-manager threads
      r.unpersist(blocking = true)
      tracked.synchronized { tracked.remove(r) }
    }
  }

  /** Drop the stored blocks behind an [[eager]]-materialized frame
    * once no consumer needs them. Safe on any frame: non-materialized
    * inputs are a no-op, and a later read recomputes the rows. */
  def free(df: DataFrame): Unit =
    leafRdds(df).foreach { r =>
      r.unpersist(blocking = true)
      tracked.synchronized { tracked.remove(r) }
    }
}
