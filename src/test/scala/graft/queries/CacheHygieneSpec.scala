package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Library-caller contract: no query leaves a cached table behind.
  * The multi-consumer dedup queries materialize intermediates via
  * Materialize.eager (block reuse without a CacheManager entry), so a
  * caller who runs one query in a long-lived session does not
  * accumulate storage-memory residue that only Verify/perfbench's
  * clearCache() would have cleaned. */
class CacheHygieneSpec extends AnyFunSuite {
  import SparkTestSession._

  private val d = "/root/testdata/sf0.001"

  test("dedup queries leave the CacheManager empty after execution") {
    for (name <- Seq("dedup_lsh_pairs", "dedup_clusters", "dedup_simhash")) {
      graft.SparkEntry.queries(name)(spark, d).count() // full execution
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$name left a cached table registered")
    }
  }
}
