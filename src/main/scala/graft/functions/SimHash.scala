package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit SimHash (Charikar 2002) of a text column, as a native
  * Catalyst expression: `doGenCode` emits a static call so the whole
  * stage stays in generated code (no UDF serialization, no
  * InternalRow boxing). The scalar kernel lives in SimHashImpl so the
  * interpreted and codegen paths share one implementation.
  *
  * Beyond-reference operator (SURVEY.md §7 slice 5): the reference's
  * only hash is the FNV-1a shuffle partitioner
  * (/root/reference/mr/worker.go:25-29); SimHash is the near-dup
  * fingerprint a training-data pipeline needs at 100 TB — one pass,
  * 8 bytes per doc, hamming distance ≈ cosine distance on token sets.
  */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  protected override def nullSafeEval(input: Any): Any =
    SimHashImpl.simhash64(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.SimHashImpl.simhash64($c.toString())")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** The pieces every text kernel (SimHash, MinHash, the MapReduce apps'
  * tokenizer) shares: one md5 per thread and THE letter-run tokenizer. */
private[graft] object TextKernel {
  val md5: ThreadLocal[java.security.MessageDigest] =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  /** Calls `f(start, end)` for each token of `text`: a maximal run of
    * Unicode letters (reference tokenizer), iterated by code point so
    * supplementary-plane letters match the regex engines' \p{L}
    * semantics — the tokens of `Documents.tokens`. */
  def foreachToken(text: String)(f: (Int, Int) => Unit): Unit = {
    var i = 0
    val n = text.length
    while (i < n) {
      var cp = text.codePointAt(i)
      while (i < n && !Character.isLetter(cp)) {
        i += Character.charCount(cp)
        if (i < n) cp = text.codePointAt(i)
      }
      val start = i
      while (i < n && Character.isLetter(cp)) {
        i += Character.charCount(cp)
        if (i < n) cp = text.codePointAt(i)
      }
      if (i > start) f(start, i)
    }
  }
}

object SimHashImpl {
  /** Per-token hash = first 8 bytes of md5(utf8(token)), big-endian.
    * md5 (not FNV/xxhash) so the signature is engine-portable: any SQL
    * engine with md5() reproduces these bit votes from the hex string
    * (`dedup_simhash`'s oracle does exactly that nibble-by-nibble). */
  def tokenHash64(s: String): Long = {
    val d = TextKernel.md5.get()
    d.reset()
    val bytes = d.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (bytes(i) & 0xFFL); i += 1 }
    h
  }

  /** Every token occurrence votes (simhash weights = term frequency,
    * Charikar 2002 §3). */
  def simhash64(text: String): Long = {
    val votes = new Array[Int](64)
    TextKernel.foreachToken(text) { (start, end) =>
      val h = tokenHash64(text.substring(start, end))
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }
}

object GraftFunctions {
  /** Column API — resolved through the function registry (Spark 4
    * keeps Column↔Expression construction internal), so call
    * registerAll(spark) once per session first. */
  def simhash64(c: Column): Column =
    org.apache.spark.sql.functions.call_function("simhash64", c)

  def cosineSim(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("cosine_sim_f", a, b)

  def sqDistF(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("sq_dist_f", a, b)

  private[functions] def arity(name: String, n: Int)(
      exprs: Seq[Expression]): Seq[Expression] = {
    if (exprs.length != n)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map("functionName" -> name,
          "expectedNum" -> n.toString, "actualNum" -> exprs.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))
    exprs
  }

  def misraGries(c: Column, k: Int): Column =
    org.apache.spark.sql.functions.call_function(
      "misra_gries", c, org.apache.spark.sql.functions.lit(k))

  def charNgramCounts(c: Column, n: Int): Column =
    org.apache.spark.sql.functions.call_function(
      "char_ngram_counts", c, org.apache.spark.sql.functions.lit(n))

  def minhash(c: Column, n: Int): Column =
    org.apache.spark.sql.functions.call_function(
      "minhash", c, org.apache.spark.sql.functions.lit(n))

  /** Spark's native bloom build/probe pair (the expressions behind
    * runtime row-level filtering), surfaced with their upstream SQL
    * names — BloomPrefilter keys its sketch on xxhash64 longs through
    * these so the probe stays inside whole-stage codegen. */
  def bloomFilterAgg(c: Column, estimatedItems: Long, numBits: Long): Column =
    org.apache.spark.sql.functions.call_function("bloom_filter_agg", c,
      org.apache.spark.sql.functions.lit(estimatedItems),
      org.apache.spark.sql.functions.lit(numBits))

  def mightContain(bloom: Column, value: Column): Column =
    org.apache.spark.sql.functions.call_function("might_contain", bloom, value)

  /** A size argument (n, k) must be a foldable integer literal: it
    * shapes the expression or its buffer, so it cannot vary per row. */
  private def literalInt(name: String, param: String)(e: Expression): Int =
    (if (e.foldable) e.eval() else null) match {
      case v: Number => v.intValue()
      case _ => throw new IllegalArgumentException(
        s"$name: $param must be a literal integer")
    }

  /** Every graft SQL function: name, expression class, builder — the
    * one table behind both [[registerAll]] and [[GraftExtensions]]. */
  private[functions] val all: Seq[(String, Class[_], Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    Seq(
      ("simhash64", classOf[SimHash64],
        es => SimHash64(arity("simhash64", 1)(es).head)),
      ("cosine_sim_f", classOf[CosineSimF],
        es => { val e = arity("cosine_sim_f", 2)(es); CosineSimF(e(0), e(1)) }),
      ("sq_dist_f", classOf[SqDistF],
        es => { val e = arity("sq_dist_f", 2)(es); SqDistF(e(0), e(1)) }),
      ("misra_gries", classOf[MisraGriesAgg], es => {
        val e = arity("misra_gries", 2)(es)
        MisraGriesAgg(e(0), literalInt("misra_gries", "k")(e(1)))
      }),
      ("char_ngram_counts", classOf[CharNgramCounts], es => {
        val e = arity("char_ngram_counts", 2)(es)
        CharNgramCounts(e(0), literalInt("char_ngram_counts", "n")(e(1)))
      }),
      ("minhash", classOf[MinHash], es => {
        val e = arity("minhash", 2)(es)
        MinHash(e(0), literalInt("minhash", "n")(e(1)))
      }),
      ("bloom_filter_agg", classOf[BloomFilterAggregate], es => {
        val e = arity("bloom_filter_agg", 3)(es)
        new BloomFilterAggregate(e(0), e(1), e(2))
      }),
      ("might_contain", classOf[BloomFilterMightContain], es => {
        val e = arity("might_contain", 2)(es)
        BloomFilterMightContain(e(0), e(1))
      }))
  }

  /** SQL + Column registration: SELECT simhash64(text) FROM ...
    * Only names the session lacks, so a repeat call replaces nothing. */
  def registerAll(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.filterNot(f => registry.functionExists(FunctionIdentifier(f._1)))
      .foreach { case (name, _, build) =>
        registry.createOrReplaceTempFunction(name, build, "built-in") }
  }
}

/** SparkSessionExtensions entry point: inject the graft functions at
  * session build time —
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    GraftFunctions.all.foreach { case (name, cls, build) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), build))
    }
    e.injectPlannerStrategy(_ => graft.plans.AsOfStrategy)
    e.injectOptimizerRule(_ => graft.plans.PruneAsOfJoinColumns)
  }
}
