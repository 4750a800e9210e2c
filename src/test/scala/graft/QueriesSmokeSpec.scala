package graft

import org.scalatest.funsuite.AnyFunSuite

/** Materializes every registered query at sf0.001: no exceptions, sane
  * schema, and non-empty output for the queries whose semantics
  * guarantee rows at any scale. The DuckDB oracle (driver + local
  * scripts/oracle_check.py) checks values; this pins "everything still
  * runs" into plain `sbt test`. */
class QueriesSmokeSpec extends AnyFunSuite {
  import SparkTestSession._

  private val d = "/root/testdata/sf0.001"

  // queries that can legitimately return zero rows on tiny data
  private val mayBeEmpty = Set("dedup_ngram_jaccard", "dedup_simhash",
    "dedup_embedding_lsh", "dedup_bloom_incremental", "join_anti",
    "agg_having", "q3_shipping_priority", "q7_nation_volume",
    "q22_global_sales")

  test("every registered query materializes at sf0.001") {
    val failures = scala.collection.mutable.ListBuffer[String]()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, d)
        assert(df.schema.nonEmpty, s"$name: empty schema")
        val n = df.count()
        if (!mayBeEmpty(name) && n == 0) failures += s"$name: 0 rows"
      } catch {
        case e: Exception => failures += s"$name: ${e.getMessage.take(120)}"
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("every oracle key has a query; flagship entry returns rows") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle entries without queries: $missing")
    // `++` keeps only the last of two modules registering one name
    val registered = SparkEntry.modules.map(_.size).sum
    assert(registered == SparkEntry.queries.size,
      s"$registered module entries but ${SparkEntry.queries.size} names")
    // a SQL val declared after its module's `queries` map reads as null
    val blank = SparkEntry.oracleSql.collect {
      case (name, sql) if sql == null || sql.trim.isEmpty => name }
    assert(blank.isEmpty, s"null or empty oracle SQL: $blank")
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
