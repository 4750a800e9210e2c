package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional args(2): comma-separated query-name filter for local
    // single-query iteration (the driver always runs the full surface)
    val only: String => Boolean =
      if (args.length > 2) args(2).split(",").toSet else (_ => true)
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
        // every Materialize-tracked block synchronously (localCheckpoint
        // blocks never enter the CacheManager) — ~87 queries share this
        // session and signature tables would otherwise pile up. The
        // old System.gc() nudge was both slower and nondeterministic
        // (async ContextCleaner work spilling into later queries).
        spark.catalog.clearCache()
        graft.operators.Materialize.freeAll(spark)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => only(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // scripted iterative oracle recipes (bench-scale mirrors of the
    // heavy closures — see graft.ScriptedOracle); consumed by
    // scripts/oracle_check.py under ORACLE_SCRIPTED=1
    def qa(ss: Seq[String]): String = ss.map(q).mkString("[", ",", "]")
    val scriptedJson = SparkEntry.oracleScripted.filter(kv => only(kv._1))
      .map { case (k, so) =>
        s"${q(k)}: {${q("setup")}: ${qa(so.setup)}, " +
          s"${q("round")}: ${qa(so.round)}, " +
          s"${q("stop")}: ${q(so.stop)}, " +
          s"${q("max_rounds")}: ${so.maxRounds}, " +
          s"${q("require_fixpoint")}: ${so.requireFixpoint}, " +
          s"${q("final")}: ${q(so.finalSql)}}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_scripted.json"),
      scriptedJson)
    // always written (possibly {}) so "no errors" is distinguishable
    // from "error reporting never ran"
    val errJson = failed
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} QUERIES FAILED: " +
        failed.keys.mkString(", "))
    }
    spark.stop()
  }
}
