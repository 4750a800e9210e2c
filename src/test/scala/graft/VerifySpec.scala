package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Verify's pure helpers: argument checks and the JSON it writes for
  * scripts/oracle_check.py. `main` is never called — it ends in
  * spark.stop(), which would stop the suite's shared session. */
class VerifySpec extends AnyFunSuite {
  private val reader = new ObjectMapper()
  private val awkward = "SELECT 'a\tb\rc\u0001d' AS \"q\\\\x\"\n-- é ∑"

  private def readStrings(json: String): Map[String, String] =
    reader.readTree(json).properties.asScala
      .map(e => e.getKey -> e.getValue.textValue).toMap

  test("oracle SQL round-trips through the JSON, control chars included") {
    val oracles = SparkEntry.oracleSql + ("awkward" -> awkward)
    assert(readStrings(Verify.toJson(oracles)) == oracles)
  }

  test("scripted recipes round-trip through the JSON") {
    val recipes = SparkEntry.oracleScripted +
      ("awkward" -> ScriptedOracle(Seq(awkward), Seq("x\ty", "{r}"),
        "SELECT 0", 7, requireFixpoint = false, awkward))
    val back = reader.readTree(Verify.scriptedJson(recipes)).properties.asScala
      .map { e =>
        val n = e.getValue
        def strs(f: String) = n.get(f).elements.asScala.map(_.textValue).toSeq
        e.getKey -> ScriptedOracle(strs("setup"), strs("round"),
          n.get("stop").textValue, n.get("max_rounds").intValue,
          n.get("require_fixpoint").booleanValue, n.get("final").textValue)
      }.toMap
    assert(SparkEntry.oracleScripted.keySet == Set("dedup_clusters",
      "dedup_cluster_density", "doc_leakage_safe_split", "graph_kcore"))
    assert(back == recipes)
  }

  private val registered = SparkEntry.queries.keySet

  test("too few args: usage message") {
    for (args <- Seq(Array.empty[String], Array("sf"))) {
      val msg = intercept[IllegalArgumentException](
        Verify.parseArgs(args, registered)).getMessage
      assert(msg.contains("usage: Verify <"))
    }
  }

  test("unknown filter name is rejected, not run as an empty filter") {
    val msg = intercept[IllegalArgumentException](Verify.parseArgs(
      Array("sf", "out", "dedup_clusters,dedup_clustrs"), registered)).getMessage
    assert(msg.contains("'dedup_clustrs'"))
    assert(!msg.contains("'dedup_clusters'"))
    assert(msg.contains("usage: Verify <"))
  }

  test("no filter selects every query; a filter selects its names") {
    assert(Verify.parseArgs(Array("sf", "out"), registered) ==
      (("sf", "out", registered)))
    assert(Verify.parseArgs(Array("sf", "out", "dedup_clusters,graph_kcore"),
      registered)._3 == Set("dedup_clusters", "graph_kcore"))
  }
}
