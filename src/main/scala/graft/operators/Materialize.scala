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
  * Exception to the freed-when-GC'd contract: the session-scoped
  * compute-once registry ([[sharedPinned]]) and its sibling caches
  * hold STRONG refs for reuse across queries. Those are released by
  * [[releaseShared]] or automatically when the SparkContext stops —
  * a library caller cycling many data dirs through one long-lived
  * session should call [[releaseShared]] between corpora.
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

  // Strong set of PINNED checkpoint RDDs: session-scoped shared
  // intermediates (e.g. the LPA label table both
  // graph_label_propagation and graph_modularity consume) that a
  // harness's between-query [[freeAll]] must NOT drop — the whole
  // point of the pin is surviving until the next query reuses the
  // blocks. Strong refs are deliberate: the owning cache (not the
  // GC) decides the lifetime, released via [[unpin]].
  private val pinned =
    java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[org.apache.spark.rdd.RDD[_], java.lang.Boolean]())

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
    * recompute. The frame is registered with [[onRelease]], so
    * [[releaseShared]] / application end unpersists it — callers that
    * stop the stream early and want the memory back sooner unpersist
    * the returned frame themselves. */
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
    * config-scaled, not hard-coded — and when the frame's SOURCE pins
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
    * the same session (all current callers build shared cores from the
    * single query-construction thread; operators.Par branches do not
    * call it). */
  def eagerKeyed(df: DataFrame, keys: org.apache.spark.sql.Column*)
      : DataFrame = {
    val s = df.sparkSession
    val n = keyedPartitions(
      s.sessionState.conf.numShufflePartitions,
      s.sessionState.conf.getConf(
        org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES),
      storedBytesByRef(df))
    val k = "spark.sql.adaptive.enabled"
    val prev = s.conf.get(k)
    s.conf.set(k, "false")
    try eager(df.repartition(n, keys: _*).sortWithinPartitions(keys: _*))
    finally s.conf.set(k, prev)
  }

  /** Measured bytes `df` will READ from materialized sources: like
    * [[storedBytes]] but summed per leaf REFERENCE, not per distinct
    * RDD — a plan that scans the same pin twice (LPA's
    * both-directions union of the pair table) reads and emits ~2× the
    * pin's bytes, and the partition count must track that output
    * volume. None when any leaf is unmeasurable (same contract as
    * [[storedBytes]]). */
  private def storedBytesByRef(df: DataFrame): Option[Long] = {
    val rdds = df.queryExecution.analyzed.collectLeaves().collect {
      case l: LogicalRDD => l.rdd
    }
    if (rdds.isEmpty) None
    else {
      val infos = df.sparkSession.sparkContext.getRDDStorageInfo
        .map(i => i.id -> (i.memSize + i.diskSize)).toMap
      val sizes = rdds.map(r => infos.get(r.id))
      if (sizes.exists(_.isEmpty)) None else Some(sizes.flatten.sum)
    }
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
    * decides from. */
  private def storedBytes(df: DataFrame): Option[Long] = {
    val rdds = leafRdds(df)
    if (rdds.isEmpty) None
    else {
      val ids = rdds.map(_.id).toSet
      val infos = df.sparkSession.sparkContext.getRDDStorageInfo
        .filter(i => ids.contains(i.id))
      if (infos.length != ids.size) None
      else Some(infos.map(i => i.memSize + i.diskSize).sum)
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

  /** [[eagerCheckpoint]] plus a PIN: the stored blocks survive
    * [[freeAll]] so a session-scoped cache (one query computing a
    * table a later query reuses) keeps working across a harness's
    * between-query cleanup. The caller owns the lifetime — pair every
    * pin with an eventual [[unpin]] when the cache entry is evicted. */
  def eagerPinned(df: DataFrame): DataFrame = {
    val out = eagerCheckpoint(df)
    pinned.synchronized { leafRdds(out).foreach(pinned.add) }
    out
  }

  /** Pin an ALREADY-materialized frame's blocks in place — no copy.
    * [[eagerPinned]] re-checkpoints (a full copy pass plus double
    * storage); when the frame is already checkpoint-backed (an
    * [[eager]]/[[eagerCheckpoint]] product, or a projection over one)
    * pinning the existing blocks is value-identical and free. It also
    * PRESERVES the stored layout: re-checkpointing under AQE records
    * UnknownPartitioning (see [[eagerKeyed]]), which would throw away
    * exactly the keyed layout an iterative consumer pinned the frame
    * for. Caller owns the lifetime — pair with [[unpin]]/[[unpinKeep]]. */
  def pinExisting(df: DataFrame): DataFrame = {
    pinned.synchronized { leafRdds(df).foreach(pinned.add) }
    df
  }

  /** Release a pinned frame: drop the pin AND free its blocks now.
    * After this the frame is NOT recomputable (localCheckpoint) — only
    * safe when the caller KNOWS no consumer retains the frame. */
  def unpin(df: DataFrame): Unit = {
    leafRdds(df).foreach { r =>
      pinned.synchronized { pinned.remove(r) }
      r.unpersist(blocking = true)
      tracked.synchronized { tracked.remove(r) }
    }
  }

  /** Drop a frame's pin WITHOUT freeing its blocks: the frame reverts
    * to the ordinary weak-tracked lifetime (freed by the next harness
    * [[freeAll]], or by GC + ContextCleaner once every consumer drops
    * the plan). This is the only safe release when another thread may
    * have just fetched the frame from a shared registry — a blocking
    * free here would hand that thread a plan over missing,
    * non-recomputable blocks. */
  def unpinKeep(df: DataFrame): Unit =
    pinned.synchronized { leafRdds(df).foreach(pinned.remove) }

  // Session-scoped compute-once registry of pinned shared scans: a
  // subtree several REGISTERED queries pay standalone (the LSH
  // candidate-pair table under 9 dedup/graph queries, the distinct
  // token table under the sweep family) is materialized by the FIRST
  // consumer in a session and reused by the rest — the
  // dedup_cluster_density share-the-scan discipline lifted to the
  // session (round-9 verdict #6), generalizing GraphRank's LPA cache.
  // Keyed by (SparkContext, key) so test sessions / Verify / perfbench
  // never cross-contaminate; determinism of every shared subtree makes
  // reuse value-identical to a recompute.
  private val shared = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.SparkContext, String), DataFrame]()

  // Per-context release hooks: other session-scoped caches holding
  // pinned frames (GraphRank's LPA core) register here so ONE call —
  // [[releaseShared]] or the context-stop listener — evicts every
  // strong reference the library holds for that context.
  private val releaseHooks = new java.util.concurrent.ConcurrentHashMap[
    org.apache.spark.SparkContext,
    List[() => Unit]]()

  // Contexts whose end-of-application listener is already installed —
  // without it, a long-lived JVM cycling through SparkSessions would
  // accumulate permanently-pinned registries per dead context (the
  // strong refs outlive the blocks they guard).
  private val endListenerOn = java.util.Collections.newSetFromMap(
    new java.util.concurrent.ConcurrentHashMap[
      org.apache.spark.SparkContext, java.lang.Boolean]())

  private def ensureEndListener(sc: org.apache.spark.SparkContext): Unit =
    if (endListenerOn.add(sc))
      sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
          releaseContext(sc)
      })

  /** Register a cleanup hook run when `sc`'s registries are released
    * (explicit [[releaseShared]] or application end). */
  def onRelease(sc: org.apache.spark.SparkContext)(hook: () => Unit): Unit = {
    ensureEndListener(sc)
    releaseHooks.merge(sc, List(hook), (a, b) => b ++ a)
  }

  private def releaseContext(sc: org.apache.spark.SparkContext): Unit = {
    val it = shared.keySet().iterator()
    val mine = scala.collection.mutable.ArrayBuffer[
      (org.apache.spark.SparkContext, String)]()
    while (it.hasNext) { val k = it.next(); if (k._1 eq sc) mine += k }
    mine.foreach { k =>
      val df = shared.remove(k)
      if (df != null) unpinKeep(df) // blocks follow the weak-tracked lifetime
    }
    val hooks = releaseHooks.remove(sc)
    if (hooks != null) hooks.foreach(h => h())
    endListenerOn.remove(sc)
  }

  /** Public release path for the compute-once registry: drops every
    * shared entry (and registered sibling cache) of this session's
    * context. Library callers cycling many data dirs through one
    * session call this to stop pinned executor storage accumulating;
    * it also runs automatically when the SparkContext stops. Blocks
    * are not force-freed — frames still referenced by a live consumer
    * stay readable and are reclaimed by GC + ContextCleaner (or a
    * harness [[freeAll]]) once dropped. */
  def releaseShared(spark: org.apache.spark.sql.SparkSession): Unit =
    releaseContext(spark.sparkContext)

  /** Compute-once pinned materialization of a deterministic shared
    * subtree. First caller per (session-context, key) pays and pins;
    * later callers get the stored blocks. `build` must be a pure
    * function of the key's inputs (all graft scans are: parquet dir +
    * deterministic plan), and the key's inputs are assumed IMMUTABLE
    * for the registry entry's lifetime — a caller that rewrites the
    * parquet under a registered dir mid-session must [[releaseShared]]
    * first or non-owner consumers serve the stale pinned snapshot.
    *
    * `refresh = true` marks the key's OWNER query: it always rebuilds
    * and re-pins, so in a min-of-two-passes benchmark the scan's true
    * build cost stays attributed to exactly one registered query
    * instead of vanishing into "already pinned" on every second pass —
    * the LPA-core honesty discipline. The DISPLACED frame is unpinned
    * but not freed ([[unpinKeep]]): a concurrent reader that fetched
    * it just before the swap keeps working; the blocks fall back to
    * the weak-tracked lifetime. */
  def sharedPinned(spark: org.apache.spark.sql.SparkSession, key: String,
      refresh: Boolean = false)(build: => DataFrame): DataFrame = {
    val k = (spark.sparkContext, key)
    if (!refresh) {
      val hit = shared.get(k)
      if (hit != null) return hit
    }
    shared.synchronized {
      if (!refresh) {
        val again = shared.get(k)
        if (again != null) return again
      }
      ensureEndListener(spark.sparkContext)
      val df = eagerPinned(build)
      val old = shared.put(k, df)
      if (old != null) unpinKeep(old)
      df
    }
  }

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
    live.filter { r =>
      (r.sparkContext eq spark.sparkContext) &&
        !pinned.synchronized(pinned.contains(r))
    }.foreach { r =>
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
