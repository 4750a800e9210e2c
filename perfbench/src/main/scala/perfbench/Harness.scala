package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.io.Source

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.BenchShim
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Tables}
import graft.mr._

/** One benchmark JVM. Builds the session, runs one warm-up job, then
  * runs the workload's job list in closed-loop passes (one client, one
  * job in flight), and writes a JSON result for `run.py`, which computes
  * every metric from it.
  *
  * Usage: Harness <workload> <dataDir> <workDir> <seconds> <plain|trace> <resultFile>
  *
  * Both modes run a cold pass, then a settling pass that no metric
  * uses, then a fixed number of warm passes. The JIT keeps compiling
  * through all of them, so pass times still fall from pass to pass; the
  * metrics read the same passes in every run, so that a slower host
  * does not change which passes they read. Passes after those run until
  * `seconds` have passed since the cold pass began; they are only
  * checked.
  * plain: nothing is traced.
  * trace: the cold pass is traced, and warm passes run in the order
  *        untraced, traced, traced, untraced, so the tracing
  *        overhead is measured in one JVM and what remains of the
  *        warm-up trend cancels.
  */
object Harness {
  /** `body` is what every pass runs; `probes` are the split calls only
    * traced passes make, after the whole job list so that they cannot
    * warm anything a timed job then reads. */
  final case class Job(name: String, body: Int => Unit, probes: () => Unit)

  private val Settle = 1
  private val Warm = 2
  private val TracedWarm = 4

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, workDir, seconds, mode, resultFile) = args
    val traced = mode == "trace"
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val t0 = System.nanoTime()
    val spark = graft.Session.build(s"perfbench-$workload")
    val buildNs = System.nanoTime() - t0
    spark.range(0, 1000000, 1, graft.Session.cpus).selectExpr("sum(id)").collect()
    val readyEpochMs = System.currentTimeMillis()
    val warmupNs = System.nanoTime() - t0 - buildNs
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    val env = Map("workload" -> workload, "mode" -> mode, "cores" -> graft.Session.cpus,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
      "setup_s" -> (readyEpochMs - jvmStartMs) / 1e3, "session_build_s" -> buildNs / 1e9,
      "warmup_s" -> warmupNs / 1e9)
    val sc = spark.sparkContext
    val listener = new SpanListener
    if (traced) sc.addSparkListener(listener)
    val tr = new Tracer(sc)
    val noop = (df: DataFrame) => df.write.format("noop").mode("overwrite").save()

    val (jobs, tables) = workload match {
      case "mr_text" => (mrJobs(spark, tr, noop, dataDir, workDir), Nil)
      case "corpus_curation" => (queryJobs(spark, tr, dataDir, workDir, Corpus), CorpusTables)
      case other => sys.error(s"unknown workload $other")
    }

    def storage(): (Long, Long) = {
      val infos = sc.getRDDStorageInfo
      (infos.map(_.numCachedPartitions.toLong).sum, infos.map(i => i.memSize + i.diskSize).sum)
    }

    def runPass(i: Int, kind: String, traced: Boolean): Map[String, Any] = {
      tr.enabled = traced
      tr.pass = i
      var wallNs, freeNs = 0L
      var snap: Snap = null
      var cached = (0L, 0L)
      val jobRecs = mutable.ArrayBuffer[Map[String, Any]]()
      tr.span(s"pass/$i", "pass") {
        val s0 = Snap.now()
        val p0 = System.nanoTime()
        jobs.foreach { j =>
          val j0 = System.nanoTime()
          val err =
            try { tr.span(s"job/${j.name}", "job")(j.body(i)); null }
            catch { case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}" }
          jobRecs += Map("name" -> j.name, "wall_s" -> (System.nanoTime() - j0) / 1e9,
            "error" -> err)
        }
        wallNs = System.nanoTime() - p0
        snap = Snap.now() - s0
        tr.probe("probe", "probe") {
          tables.foreach { case (name, load) =>
            tr.span(s"tables.scan/$name", "tables")(noop(load(spark, dataDir)))
          }
          jobs.foreach(j => tr.span(s"probe/${j.name}", "probe")(j.probes()))
        }
        // outside the timed window: drop what this pass cached or pinned
        // so the next pass cannot reuse it. Release the shared registry
        // first: that unpins its frames, so freeAll then frees their
        // blocks synchronously instead of leaving them to the cleaner.
        cached = storage()
        tr.span("operators.free", "operators", probe = true) {
          val f0 = System.nanoTime()
          spark.catalog.clearCache()
          graft.api.GraftSession.releaseShared(spark)
          graft.operators.Materialize.freeAll(spark)
          freeNs = System.nanoTime() - f0
        }
      }
      tr.enabled = false
      // GC drain: a bare System.gc() only enqueues the ContextCleaner's
      // block removals; the pause lets them land before the next pass
      System.gc()
      Thread.sleep(250)
      Map("index" -> i, "kind" -> kind, "traced" -> traced,
        "wall_s" -> wallNs / 1e9, "cpu_s" -> snap.cpuNs / 1e9,
        "gc_s" -> snap.gcMs / 1e3, "jit_s" -> snap.jitMs / 1e3,
        "compiles" -> snap.compiles, "cached_blocks" -> cached._1,
        "cached_bytes" -> cached._2, "free_s" -> freeNs / 1e9,
        "jobs" -> jobRecs.toSeq)
    }

    val budgetNs = (seconds.toDouble * 1e9).toLong
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val start = System.nanoTime()
    passes += runPass(0, "cold", traced)
    (1 to Settle).foreach(k => passes += runPass(k, "settle", traced = false))
    (0 until (if (traced) TracedWarm else Warm)).foreach { k =>
      passes += runPass(passes.size, "warm", traced && (k % 4 == 1 || k % 4 == 2))
    }
    while (System.nanoTime() - start < budgetNs)
      passes += runPass(passes.size, "extra", traced = false)
    val hwmKb = Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

    if (traced) {
      BenchShim.drainListeners(sc)
      val stage = listener.longestStage
      val spanRecs = tr.spans.sortBy(_.id).map { s =>
        val a = listener.bySpan.getOrElse(s.id, new listener.Acc)
        val d = s.endSnap - s.startSnap
        val (lsMs, lsSkew) = stage.getOrElse(s.id, (0L, 0.0))
        Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
          "probe" -> s.probe, "pass" -> s.pass,
          "start_s" -> (s.startNs - start) / 1e9, "end_s" -> (s.endNs - start) / 1e9,
          "gc_s" -> d.gcMs / 1e3, "jit_s" -> d.jitMs / 1e3, "compiles" -> d.compiles,
          "cpu_s" -> d.cpuNs / 1e9, "jobs" -> a.jobs, "stages" -> a.stages,
          "tasks" -> a.tasks, "failed_tasks" -> a.failedTasks, "task_s" -> a.runMs / 1e3,
          "task_s_by_module" -> a.runMsByModule.toMap.map { case (k, v) => k -> v / 1e3 },
          "input_bytes" -> a.inputBytes,
          "shuffle_write_bytes" -> a.shWriteBytes, "shuffle_records" -> a.shWriteRecs,
          "shuffle_read_bytes" -> a.shReadBytes,
          "spill_bytes" -> a.spillBytes, "longest_stage_s" -> lsMs / 1e3,
          "longest_stage_skew" -> lsSkew)
      }
      // the root of the tree, and the set-up it began with; passes have
      // parent 0, so they are its children
      val rel = (ns: Long) => (ns - start) / 1e9
      val roots = Seq(
        Map("id" -> 0L, "parent" -> -1L, "name" -> "run", "layer" -> "run",
          "probe" -> false, "pass" -> -1, "start_s" -> rel(t0),
          "end_s" -> rel(System.nanoTime())),
        Map("id" -> -1L, "parent" -> 0L, "name" -> "session.build", "layer" -> "session",
          "probe" -> false, "pass" -> -1, "start_s" -> rel(t0), "end_s" -> rel(t0 + buildNs)))
      json.writeValue(Paths.get(workDir, "spans.json").toFile, roots ++ spanRecs)
    }
    val mine = (k: String) => jobs.exists(_.name == k)
    val oracle = SparkEntry.oracleSql.filter(kv => mine(kv._1))
    // the iterative mirror of an oracle whose single statement is too
    // slow for DuckDB at benchmark scale (scripts/oracle_check.py runs
    // the same recipes under ORACLE_SCRIPTED=1)
    val scripted = SparkEntry.oracleScripted.filter(kv => mine(kv._1)).map { case (k, so) =>
      k -> Map("setup" -> so.setup, "round" -> so.round, "stop" -> so.stop,
        "max_rounds" -> so.maxRounds, "require_fixpoint" -> so.requireFixpoint,
        "final" -> so.finalSql)
    }
    val result = env ++ Map("peak_rss_kb" -> hwmKb, "passes" -> passes.toSeq,
      "oracle_sql" -> oracle, "oracle_scripted" -> scripted)
    spark.stop()
    Files.writeString(Paths.get(resultFile), json.writeValueAsString(result))
  }

  private val Corpus = Seq("dedup_clusters")
  private val CorpusTables: Seq[(String, (SparkSession, String) => DataFrame)] =
    Seq("documents" -> Tables.documents)

  /** A registry query written as parquet to a fresh directory per pass,
    * which `run.py` checks against the oracle: building the DataFrame
    * (which runs any eager materialization inside the query), then the
    * write, which plans and executes it. The probe forces the physical
    * plan of a freshly built DataFrame on its own. */
  private def queryJobs(spark: SparkSession, tr: Tracer, dataDir: String,
      workDir: String, names: Seq[String]): Seq[Job] =
    names.map { name =>
      def build() = SparkEntry.queries(name)(spark, dataDir)
      Job(name,
        pass => {
          val df = tr.span("queries.build", "queries")(build())
          tr.span("queries.exec", "queries")(
            df.write.mode("overwrite").parquet(s"$workDir/out/p$pass/$name"))
        },
        () => {
          val df = tr.span("probe.build", "queries")(build())
          tr.span("queries.plan", "queries")(df.queryExecution.executedPlan)
        })
    }

  /** The paper's pipeline through `MRJob.run`, as `MRDemo` runs it, with
    * each pass writing to fresh output directories. The probes run the
    * map stage alone, map + shuffle + reduce, and the combiner variant
    * into the noop sink. */
  private def mrJobs(spark: SparkSession, tr: Tracer, noop: DataFrame => Unit,
      dataDir: String, workDir: String): Seq[Job] = {
    def job(name: String, app: MRApp, glob: String, inc: Option[IncrementalApp[_]]) =
      Job(name,
        pass => tr.span("mr.run", "mr")(
          MRJob.run(spark, app, glob, s"$workDir/out/p$pass/$name")),
        () => {
          tr.span("mr.map", "mr")(noop(MRJob.mapped(spark, app, glob).toDF()))
          tr.span("mr.result", "mr")(noop(MRJob.result(spark, app, glob).toDF()))
          inc.foreach(i => tr.span("mr.combiner", "mr")(
            noop(Incremental.result(spark, i, glob).toDF())))
        })
    val text = s"$dataDir/text/*"
    val credit = s"$dataDir/credit/*"
    Seq(job("wc", Apps.WordCount, text, Some(WordCountInc)),
      job("indexer", Apps.Indexer, text, None),
      job("credit", Apps.Credit, credit, Some(CreditInc)))
  }
}
