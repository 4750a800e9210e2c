package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  private val usage = "usage: Verify <sfDir> <outDir> [name,name,...]"

  /** (sfDir, outDir, names of the queries to run). The optional third
    * argument is a comma-separated query-name filter for local
    * single-query iteration (a correctness run passes none and runs the
    * full surface); every name in it must be registered — a typo would
    * otherwise run nothing and write `{}` files that look like a clean
    * pass. */
  private[graft] def parseArgs(args: Array[String], registered: Set[String])
      : (String, String, Set[String]) = {
    require(args.length >= 2, usage)
    val names = if (args.length > 2) args(2).split(",").toSet else registered
    val unknown = names -- registered
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      s"unknown query name(s) ${unknown.toSeq.sorted.mkString("'", "', '", "'")} — $usage")
    (args(0), args(1), names)
  }

  // Jackson escapes quotes, backslashes and every control char: a tab or
  // CR in an oracle's SQL must never make the checker's json.load fail
  // and silently zero the correctness run.
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private[graft] def toJson(m: collection.Map[String, Any]): String =
    json.writeValueAsString(m)

  /** oracle_scripted.json: the field names scripts/oracle_check.py's
    * run_scripted reads. */
  private[graft] def scriptedJson(recipes: Map[String, ScriptedOracle]): String =
    toJson(recipes.map { case (k, so) =>
      k -> ListMap("setup" -> so.setup, "round" -> so.round, "stop" -> so.stop,
        "max_rounds" -> so.maxRounds, "require_fixpoint" -> so.requireFixpoint,
        "final" -> so.finalSql)
    })

  def main(args: Array[String]): Unit = {
    // checked before the session starts, so a bad call fails fast
    val (sfDir, outDir, only) = parseArgs(args, SparkEntry.queries.keySet)
    // Session.build wires GraftExtensions (custom expressions + the
    // AsOfJoin planner strategy) — queries depend on them
    val spark = Session.build("graft-verify")
    new java.io.File(outDir).mkdirs()
    // A query that throws must leave a LOUD artifact, not just a stderr
    // line: round 6 lost 15 correctness rows because failures produced
    // no output at all and silently shrank the artifact. Each failure
    // writes _errors/<name>.txt and a row in errors.json.
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries.filter(kv => only(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
        val msg = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
        failed(name) = msg
        val errDir = Paths.get(outDir, "_errors")
        Files.createDirectories(errDir)
        Files.writeString(errDir.resolve(s"$name.txt"), msg)
      } finally {
        // free per-query residue: cached tables via clearCache, and
        // every Materialize-tracked block synchronously (those blocks
        // never enter the CacheManager) — ~87 queries share this
        // session and signature tables would otherwise pile up. The
        // old System.gc() nudge was both slower and nondeterministic
        // (async ContextCleaner work spilling into later queries).
        spark.catalog.clearCache()
        graft.operators.Materialize.freeAll(spark)
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      toJson(SparkEntry.oracleSql.filter(kv => only(kv._1))))
    // scripted iterative oracle recipes (bench-scale mirrors of the
    // heavy closures — see graft.ScriptedOracle); consumed by
    // scripts/oracle_check.py under ORACLE_SCRIPTED=1
    Files.writeString(Paths.get(s"$outDir/oracle_scripted.json"),
      scriptedJson(SparkEntry.oracleScripted.filter(kv => only(kv._1))))
    // always written (possibly {}) so "no errors" is distinguishable
    // from "error reporting never ran"
    Files.writeString(Paths.get(s"$outDir/errors.json"), toJson(failed))
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} QUERIES FAILED: " +
        failed.keys.mkString(", "))
    }
    spark.stop()
  }
}
