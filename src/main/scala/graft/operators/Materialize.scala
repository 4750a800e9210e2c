package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The single policy point for eagerly materializing a multi-consumer
  * intermediate (LSH signature tables, banded fingerprints, CC label
  * snapshots): every dedup query routes through here, so the
  * storage/fault-tolerance trade-off is swappable in one place.
  *
  * Default policy is `localCheckpoint(eager = true)`:
  *   - blocks never enter the session `CacheManager`, so a library
  *     caller running one query does not leak a cached table into the
  *     session (freed when the plan is GC'd) — `persist()` would
  *     require every caller to know to `unpersist`;
  *   - lineage is truncated, so iterative consumers (connected
  *     components) do not accumulate an analysis-time plan blowup.
  *
  * Nothing is shared across queries: each query builds its own
  * intermediates from its input files, so rewriting a data directory
  * mid-session needs no release call. The one strong reference kept
  * past a query is an [[eagerStatic]] streaming side, unpersisted by
  * [[releaseShared]] or when the SparkContext stops.
  *
  * The trade-off (know it before running on a preemptible fleet):
  * localCheckpoint stores blocks ONLY on executors and DISCARDS the
  * lineage needed to recompute them. Losing an executor — preemption,
  * dynamic-allocation scale-down, OOM kill — fails the query with a
  * missing-block error instead of recomputing the partition. On a
  * static cluster (and local mode) that is the right trade; on spot /
  * dynamically-scaled fleets set `spark.graft.materialize=persist`
  * (recomputable, but the caller owns `unpersist`/[[free]]) or use a
  * reliable `spark.checkpoint.dir` checkpoint outside this library.
  */
object Materialize {
  val ConfKey = "spark.graft.materialize"

  // Weak registry of every checkpoint RDD this helper materialized:
  // [[freeAll]] lets a harness (Verify/perfbench) drop all surviving
  // blocks deterministically between queries instead of waiting on
  // the JVM GC + async ContextCleaner (whose cleanup otherwise lands
  // inside the NEXT query's timed window). The key is the underlying
  // RDD, not the Dataset wrapper: consumers hold the RDD through
  // their LogicalRDD plan nodes long after the wrapper frame is
  // garbage, and weak keys keep the default contract for library
  // callers — once every consumer drops the plan, normal GC +
  // ContextCleaner free the blocks, registry or not.
  private val tracked =
    new java.util.WeakHashMap[org.apache.spark.rdd.RDD[_], AnyRef]()

  private def leafRdds(df: DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectLeaves().collect {
      case l: LogicalRDD => l.rdd
    }

  private def track(df: DataFrame): DataFrame = {
    tracked.synchronized { leafRdds(df).foreach(tracked.put(_, None)) }
    df
  }

  /** Materialize `df` now and return a frame whose consumers reuse the
    * stored blocks instead of recomputing the plan. */
  def eager(df: DataFrame): DataFrame =
    df.sparkSession.conf.get(ConfKey, "localCheckpoint") match {
      case "persist" =>
        val p = df.persist()
        p.count() // materialize now: consumers must never race the fill
        track(p)
      case _ => track(df.localCheckpoint(true))
    }

  /** Lineage-PRESERVING materialization for the static side of a
    * long-lived streaming query. localCheckpoint-backed frames
    * ([[eager]]) are non-recomputable: a harness [[freeAll]] (or any
    * free) while the stream is live would drop the blocks and fail
    * every subsequent micro-batch unrecoverably. This variant uses
    * `persist` + fill, keeping the plan: a concurrent
    * `clearCache`/unpersist merely degrades later micro-batches to a
    * recompute. [[releaseShared]] or application end unpersists it —
    * callers that stop the stream early and want the memory back
    * sooner unpersist the returned frame themselves. */
  def eagerStatic(df: DataFrame): DataFrame = {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    p.count()
    onRelease(df.sparkSession.sparkContext)(() =>
      p.unpersist(blocking = false))
    p
  }

  /** Always-localCheckpoint variant for iterative loops whose plans
    * MUST truncate lineage regardless of the [[ConfKey]] policy
    * (compounding analysis plans OOM past ~20 rounds). */
  def eagerCheckpoint(df: DataFrame): DataFrame =
    track(df.localCheckpoint(true))

  /** [[eager]] with a KEY-PARTITIONED, KEY-SORTED stored layout that
    * downstream joins on `keys` can REUSE: the materializing action
    * runs with AQE disabled because under AQE the physical plan is an
    * AdaptiveSparkPlanExec whose outputPartitioning reads
    * UnknownPartitioning at checkpoint time, so the stored frame loses
    * its layout and EVERY consumer join re-exchanges the stored blocks
    * (measured in the r13 LPA probe: the 15 M-row edge table was
    * shuffle-written again on every one of the 5 rounds; with the
    * preserved HashPartitioning the per-round plan shows the bare
    * ExistingRDD scan feeding the join — guide §2.4, "two operations
    * keyed the same way can share one exchange").
    *
    * The partition count is SCALE-ADAPTIVE (guide §2.2: derive
    * partitioning from input size, never a constant tuned to one
    * scale): the floor is the session's shuffle-partition setting —
    * exactly the layout the per-consumer exchange would have produced,
    * config-scaled, not hard-coded — and when the frame's SOURCES
    * are materialized (their stored bytes readable driver-side with no
    * job, the [[hintSmall]] mechanism) the count grows so partitions
    * track the session's advisory partition size instead of growing
    * linearly with the corpus. At the test SFs the measured bytes sit
    * far under (floor × advisory), so the local layout — and every
    * committed bench number — is unchanged; a 100× corpus gets
    * proportionally more, bounded-size sort/agg tasks instead of 32
    * ever-fatter ones (the r13 10× family rehearsal saw a transient
    * UNABLE_TO_ACQUIRE_MEMORY inside the keyed-edge round pipeline —
    * per-task state must not scale with the corpus). The within-
    * partition sort makes the scale path (sort-merge join when the
    * other side is too big to broadcast) sort-free on this side too.
    *
    * Caveat (documented contract): the AQE flag flip is session-global
    * for the duration of the ONE materializing action, so callers must
    * not invoke this concurrently with other job-submitting threads of
    * the same session (all current callers run on the single
    * query-construction thread; operators.Par branches do not call
    * it). */
  def eagerKeyed(df: DataFrame, keys: org.apache.spark.sql.Column*)
      : DataFrame = {
    val s = df.sparkSession
    val n = keyedPartitions(
      s.sessionState.conf.numShufflePartitions,
      s.sessionState.conf.getConf(
        org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES),
      storedBytes(df, perRef = true))
    val k = "spark.sql.adaptive.enabled"
    val prev = s.conf.get(k)
    s.conf.set(k, "false")
    try eager(df.repartition(n, keys: _*).sortWithinPartitions(keys: _*))
    finally s.conf.set(k, prev)
  }

  /** Partition count for [[eagerKeyed]] — pure so MaterializeSpec can
    * pin it. `floor` (the config's shuffle partitions) wins whenever
    * the source bytes are unknown or small — at the test SFs the
    * measured bytes sit far under (floor × advisory), so the local
    * layout and every committed bench number are unchanged. Past that
    * the count scales linearly with the measured per-reference source
    * bytes, targeting the session's advisory partition size: a
    * keyed-materialization task runs TWO memory consumers at once
    * (the within-partition UnsafeExternalSorter and the MemoryStore
    * unroll of the very block it is storing), so per-task volume must
    * not grow with the corpus — the r13 10× family rehearsal failed
    * exactly there (UNABLE_TO_ACQUIRE_MEMORY inside sort_addToSorter
    * under MemoryStore.putIterator) when 32 such tasks each carried
    * ~400 MB of the 10× edge table. Bounded at 64× the floor so a
    * mis-measured source cannot explode the task count. */
  private[graft] def keyedPartitions(floor: Int, advisory: Long,
      srcBytes: Option[Long]): Int = srcBytes match {
    case Some(b) if advisory > 0 =>
      math.max(floor, math.min(floor * 64L, b / advisory + 1).toInt)
    case _ => floor
  }

  /** Stored footprint of a materialized frame's checkpoint blocks, if
    * every leaf is a tracked-storage RDD the block manager still
    * reports — the driver-side, zero-job size read that [[hintSmall]]
    * decides from. `perRef` sums per leaf REFERENCE, not per distinct
    * RDD: a plan that scans the same stored frame twice (LPA's
    * both-directions union of the pair table) reads and emits ~2× the
    * frame's bytes, and [[eagerKeyed]]'s partition count must track
    * that output volume. */
  private def storedBytes(df: DataFrame, perRef: Boolean = false)
      : Option[Long] = {
    val rdds = leafRdds(df)
    if (rdds.isEmpty) None
    else {
      val infos = df.sparkSession.sparkContext.getRDDStorageInfo
        .map(i => i.id -> (i.memSize + i.diskSize)).toMap
      val sizes = (if (perRef) rdds else rdds.distinctBy(_.id))
        .map(r => infos.get(r.id))
      if (sizes.exists(_.isEmpty)) None else Some(sizes.flatten.sum)
    }
  }

  /** Size-gated broadcast hint for a MATERIALIZED frame: returns
    * `df.hint("broadcast")` iff the stored blocks' measured size is
    * under the session's autoBroadcastJoinThreshold, else `df`
    * unchanged. Closes a planning gap, not a semantic one: a
    * localCheckpoint-backed frame is a LogicalRDD with no statistics,
    * so the static planner sizes it at defaultSizeInBytes and plans
    * sort-merge — BOTH join sides get an Exchange, and although AQE
    * re-plans to a broadcast join at runtime, the big side's exchange
    * has already run as a map stage (its shuffle write is paid; the
    * "AQEShuffleRead local" in the final plan reads those files).
    * With the hint the initial plan is the broadcast join and the big
    * side is never exchanged at all (r13 probe: jaccard's 15 M-row
    * degree join dropped from 4.4 s to 2.0 s warm).
    *
    * Scale-safe by construction: the decision reads the ACTUAL stored
    * bytes (driver-side, no job), so a table that outgrows the
    * threshold at corpus scale simply stops hinting and the plan
    * reverts to today's SMJ + AQE — nothing is forced. */
  def hintSmall(df: DataFrame): DataFrame = {
    val thr = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    storedBytes(df) match {
      case Some(b) if thr > 0 && b <= thr => df.hint("broadcast")
      case _ => df
    }
  }

  // Per-context release hooks: each [[eagerStatic]] side registers its
  // unpersist here so ONE call — [[releaseShared]] or the context-stop
  // listener — drops every strong reference the library holds for that
  // context.
  private val releaseHooks = new java.util.concurrent.ConcurrentHashMap[
    org.apache.spark.SparkContext,
    List[() => Unit]]()

  // Contexts whose end-of-application listener is already installed —
  // without it, a long-lived JVM cycling through SparkSessions would
  // keep one hook list per dead context.
  private val endListenerOn = java.util.Collections.newSetFromMap(
    new java.util.concurrent.ConcurrentHashMap[
      org.apache.spark.SparkContext, java.lang.Boolean]())

  private def onRelease(sc: org.apache.spark.SparkContext)(hook: () => Unit): Unit = {
    if (endListenerOn.add(sc))
      sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
          releaseContext(sc)
      })
    releaseHooks.merge(sc, List(hook), (a, b) => b ++ a)
  }

  private def releaseContext(sc: org.apache.spark.SparkContext): Unit = {
    val hooks = releaseHooks.remove(sc)
    if (hooks != null) hooks.foreach(h => h())
    endListenerOn.remove(sc)
  }

  /** Unpersist every [[eagerStatic]] side of this session's context
    * now instead of at application end. Optional: nothing else is
    * held across queries, so rewriting a data directory never needs
    * it. Call it after the streams those sides serve have stopped. */
  def releaseShared(spark: org.apache.spark.sql.SparkSession): Unit =
    releaseContext(spark.sparkContext)

  /** Free every tracked checkpoint of `spark`'s context that is still
    * strongly reachable — for harnesses running many queries in one
    * session; call only between queries (after the action completed).
    * Persist-policy frames live in the CacheManager instead — a
    * harness clears those with `spark.catalog.clearCache()`. */
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
    * once no live consumer remains. Safe on any frame: non-materialized
    * inputs are a no-op. After `free`, a localCheckpoint-backed frame
    * is NOT recomputable — only call when the result (or a downstream
    * materialization of it) is no longer needed. */
  def free(df: DataFrame): Unit = {
    leafRdds(df).foreach { r =>
      r.unpersist(blocking = true)
      tracked.synchronized { tracked.remove(r) }
    }
    df.unpersist(true) // persist-policy frames: drop the cache entry too
  }
}
