package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Differential pin for the native `minhash` expression: its digests
  * must equal, value for value, the composed form it replaced —
  * explode the `\p{L}`-run tokens, then MIN(md5(j || '|' || word)) per
  * doc — under generated code and under the interpreted path, on the
  * texts the seeded fixture never shows (NULL, token-less, combining
  * marks, supplementary-plane and modifier letters, lone surrogates). */
class MinHashSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  GraftFunctions.registerAll(spark)

  private val n = 4

  import MinHashSpec.texts

  // a parquet scan, not a local relation: the optimizer would fold a
  // projection over local rows itself, interpreted, in either mode
  private lazy val docs: DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("minhash").toString
    texts.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    spark.read.parquet(s"$dir/documents.parquet")
  }

  /** The form the expression replaced, written out here on purpose. */
  private def composed(df: DataFrame): Map[Long, Seq[String]] = {
    val words = df.select(col("doc_id"),
      explode(filter(split(col("text"), "[^\\p{L}]+"), w => length(w) > 0))
        .as("w"))
    val aggs = (0 until n).map(j =>
      min(md5(concat(lit(j.toString), lit("|"), col("w")))).as(s"mh$j"))
    words.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
      .collect().map(r => r.getLong(0) -> (1 to n).map(r.getString)).toMap
  }

  private def native(df: DataFrame): Map[Long, Seq[String]] =
    df.select(col("doc_id"), GraftFunctions.minhash(col("text"), n).as("mh"))
      .filter(col("mh").isNotNull)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap

  /** CODEGEN_ONLY: generated code, no interpreted fallback.
    * NO_CODEGEN: interpreted projections and no whole-stage codegen. */
  private def withCodegen[T](mode: String)(body: => T): T = {
    val confs = Map(
      "spark.sql.codegen.factoryMode" -> mode,
      "spark.sql.codegen.wholeStage" -> (mode == "CODEGEN_ONLY").toString,
      "spark.sql.codegen.fallback" -> "false")
    val old = confs.keys.map(k => k -> spark.conf.getOption(k))
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN"))
    test(s"minhash equals explode + MIN(md5(j|word)) on edge texts ($mode)") {
      withCodegen(mode) {
        val want = composed(docs)
        val got = native(docs)
        assert(want.keySet == Set(5L, 6L, 7L, 8L, 9L, 10L, 11L, 12L, 13L),
          s"token-less texts must have no row: ${want.keySet}")
        assert(got == want)
        // NULL and token-less texts yield a NULL signature, not []
        val nulls = docs.select(col("doc_id"),
            GraftFunctions.minhash(col("text"), n).isNull.as("z"))
          .collect().filter(_.getBoolean(1)).map(_.getLong(0)).toSet
        assert(nulls == Set(1L, 2L, 3L, 4L))
      }
    }

  test("repeated tokens do not change a signature; digests are lowercase hex") {
    val one = native(Seq(1L -> "x y", 2L -> "y x x y y").toDF("doc_id", "text"))
    assert(one(1L) == one(2L))
    assert(one(1L).forall(_.matches("[0-9a-f]{32}")))
  }

  test("SQL surface: wrong arity and a non-literal n fail loudly") {
    assert(spark.sql("SELECT size(minhash('a b', 3))").head().getInt(0) == 3)
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT minhash('a b')").collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT minhash('a b', 2, 3)").collect()
    }
    intercept[IllegalArgumentException] {
      docs.select(call_function("minhash", col("text"), col("doc_id"))).collect()
    }
    intercept[IllegalArgumentException] {
      spark.sql("SELECT minhash('a b', 0)").collect()
    }
  }

  test("the signature root is one codegen'd projection: no shuffle, no " +
      "aggregate, no generator, one minhash per doc") {
    import org.apache.spark.sql.execution._
    val sig = graft.queries.Documents.signaturesOf(docs)
    val plan = sig.queryExecution.executedPlan
    val bad = plan.collect {
      case p: exchange.Exchange => p
      case p: aggregate.BaseAggregateExec => p
      case p: GenerateExec => p
      case p: adaptive.AdaptiveSparkPlanExec => p // only wraps an exchange
    }
    assert(bad.isEmpty, s"unexpected operators in\n$plan")
    assert(plan.exists(_.isInstanceOf[WholeStageCodegenExec]), s"no codegen in\n$plan")
    // neither the token-less filter nor the band projections may
    // inline the kernel a second time
    for (df <- Seq(sig, graft.queries.Documents.bandedSignatureProjection(docs))) {
      val optimized = df.queryExecution.optimizedPlan
      val minhashes = optimized.collect {
        case n => n.expressions.flatMap(_.collect { case m: MinHash => m })
      }.flatten
      assert(minhashes.size == 1,
        s"minhash evaluated ${minhashes.size} times per row in\n$optimized")
    }
    // and the signatures still equal the composed form, row for row
    assert(sig.collect().map(r => r.getLong(0) -> (1 to n).map(r.getString)).toMap ==
      composed(docs))
  }

  test("registerAll on a GraftExtensions session replaces nothing and " +
      "logs no replacement WARN; minhash still resolves") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val warned = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("registerAll-capture", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        warned.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val logger = LogManager.getLogger(
      "org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry")
      .asInstanceOf[Logger]
    logger.addAppender(capture)
    val id = org.apache.spark.sql.catalyst.FunctionIdentifier("minhash")
    val before = spark.sessionState.functionRegistry.lookupFunction(id)
    try { GraftFunctions.registerAll(spark); GraftFunctions.registerAll(spark) }
    finally { logger.removeAppender(capture); capture.stop() }
    assert(warned.isEmpty, s"registerAll replaced functions: $warned")
    // the extension's entry (class name MinHash) is the one still there
    val after = spark.sessionState.functionRegistry.lookupFunction(id)
    assert(after.map(_.getClassName) == Some(classOf[MinHash].getName))
    assert(after == before)
    assert(spark.sql("SELECT size(minhash('a b', 2))").head().getInt(0) == 2)
  }
}

object MinHashSpec {
  /** Texts the seeded fixture never shows; MRPropertySpec tokenizes them too. */
  val texts: Seq[(Long, String)] = Seq(
    1L -> null,
    2L -> "",
    3L -> "   \t\n ",
    4L -> "!!! ... ??? -- 42 3.14 1000",
    5L -> "alpha beta alpha beta alpha gamma",
    6L -> "caf\u00e9 caf\u00e9",   // precomposed é
    7L -> "cafe\u0301 cafe\u0301", // e + COMBINING ACUTE: the mark ends the token
    8L -> "\u043f\u0440\u0438\u0432\u0435\u0442 \u043c\u0438\u0440", // Cyrillic
    9L -> "\u65e5\u672c\u8a9e\u306e\u30c6\u30ad\u30b9\u30c8 \u4e2d\u6587", // CJK + kana
    10L -> "math \ud835\udc00\ud835\udc01 \ud840\udc00x", // U+1D400 U+1D401, U+20000
    11L -> "\u02b0\u02b7 mod\u02bcifier \u3005", // modifier letters (Lm)
    12L -> "lone \ud800 surrogate \udc00end",
    13L -> "Hello, World! hello world HELLO")
}
