package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._

/** JVM-wide counters read at both ends of every span and pass. */
final case class Snap(gcMs: Long, jitMs: Long, compiles: Long, cpuNs: Long) {
  def -(o: Snap): Snap = Snap(gcMs - o.gcMs, jitMs - o.jitMs,
    compiles - o.compiles, cpuNs - o.cpuNs)
}

object Snap {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val jit = ManagementFactory.getCompilationMXBean
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def now(): Snap = Snap(
    gcs.map(_.getCollectionTime.max(0L)).sum,
    jit.getTotalCompilationTime,
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    os.getProcessCpuTime)
}

/** One timed call. `probe` marks a call the untraced passes do not time:
  * a split call only the traced run makes, or the between-pass free. */
final class Span(val id: Long, val parent: Long, val name: String,
    val layer: String, val probe: Boolean, val pass: Int) {
  val startNs: Long = System.nanoTime()
  val startSnap: Snap = Snap.now()
  var endNs: Long = 0L
  var endSnap: Snap = startSnap
}

/** Keeps spans in memory; each span is the Spark job group of the jobs
  * launched inside it, so [[SpanListener]] can charge their counters to
  * it. When disabled, `span` runs its body untouched and `probe` skips
  * its body: that is the untraced path. */
final class Tracer(sc: SparkContext) {
  var enabled = false
  var pass = -1
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var nextId = 0L

  def span[T](name: String, layer: String, probe: Boolean = false)(body: => T): T =
    if (!enabled) body
    else {
      nextId += 1
      val s = new Span(nextId, stack.headOption.fold(0L)(_.id), name, layer,
        probe || stack.exists(_.probe), pass)
      stack = s :: stack
      sc.setJobGroup(s.id.toString, name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endSnap = Snap.now()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.id.toString, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
        spans += s
      }
    }

  def probe(name: String, layer: String)(body: => Unit): Unit =
    if (enabled) span(name, layer, probe = true)(body)
}

/** Charges Spark's job, stage, task, shuffle and input counters to the
  * span whose job group launched them. Each stage's task time is also
  * charged to the graft module at the stage's call site (the innermost
  * user frame Spark records), so work a query hands to
  * `graft.operators` shows up there. */
final class SpanListener extends SparkListener {
  final class Acc {
    var jobs, stages, tasks, failedTasks = 0L
    var runMs, inputBytes, shWriteBytes, shWriteRecs = 0L
    var shReadBytes, spillBytes = 0L
    val runMsByModule = mutable.Map[String, Long]().withDefaultValue(0L)
  }
  private final class StageRec(val span: Long, val module: String) {
    val taskMs = mutable.ArrayBuffer[Long]()
    var wallMs = 0L
  }

  // SparkContext.SPARK_JOB_GROUP_ID, which is private[spark]
  private val JobGroupKey = "spark.jobGroup.id"

  val bySpan = mutable.Map[Long, Acc]()
  private val stages = mutable.Map[Int, StageRec]()

  private def acc(id: Long) = bySpan.getOrElseUpdate(id, new Acc)

  /** The innermost graft frame of a stage's call site:
    * `graft.operators.Materialize$.eager(...)` -> "operators",
    * `graft.Tables$.t(...)` -> "tables"; none -> "". */
  private def module(details: String): String =
    details.linesIterator.map(_.trim).find(_.startsWith("graft.")).fold("")(
      _.split('.')(1).takeWhile(c => c != '$' && c != '(').toLowerCase)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty(JobGroupKey)))
    group.flatMap(_.toLongOption).foreach { id =>
      acc(id).jobs += 1
      e.stageInfos.foreach { si =>
        if (!stages.contains(si.stageId))
          stages(si.stageId) = new StageRec(id, module(si.details))
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { st =>
      acc(st.span).stages += 1
      for (a <- e.stageInfo.submissionTime; b <- e.stageInfo.completionTime)
        st.wallMs = b - a
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { st =>
      val a = acc(st.span)
      a.tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) a.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.runMsByModule(st.module) += m.executorRunTime
        st.taskMs += m.executorRunTime
        a.inputBytes += m.inputMetrics.bytesRead
        a.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.shWriteRecs += m.shuffleWriteMetrics.recordsWritten
        a.shReadBytes += m.shuffleReadMetrics.totalBytesRead
        a.spillBytes += m.diskBytesSpilled
      }
    }
  }

  /** Per span: (wall ms, max / median task time) of its longest stage. */
  def longestStage: Map[Long, (Long, Double)] = synchronized {
    stages.values.filter(_.taskMs.nonEmpty).groupBy(_.span).map { case (id, ss) =>
      val st = ss.maxBy(_.wallMs)
      val sorted = st.taskMs.sorted
      // the lower median, so a two-task stage compares its two tasks
      val med = sorted((sorted.size - 1) / 2).max(1L)
      id -> (st.wallMs, sorted.last.toDouble / med)
    }
  }
}
