package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The n-permutation MinHash signature of a text, as a native Catalyst
  * expression: `minhash(text, n)` is an `array<string>` whose element j
  * is the smallest md5(`j|token`) over the text's tokens, as lowercase
  * hex — byte for byte `min(md5(concat(j, '|', word)))` over the
  * exploded [[graft.queries.Documents.tokens]], which is what any SQL
  * engine with md5() recomputes. NULL for a NULL or token-less text.
  *
  * One kernel per row instead of explode → per-token md5 → MIN
  * aggregate: no token rows, and no sort-aggregate (a MIN over strings
  * has no mutable buffer, so Spark cannot hash-aggregate it) or
  * signature shuffle. `doGenCode` emits a static call, as for
  * [[SimHash64]], so the whole stage stays in generated code.
  */
case class MinHash(child: Expression, n: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(n >= 1, s"minhash: n must be >= 1, got $n")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash"
  override def inputTypes = Seq(StringType)

  protected override def nullSafeEval(s: Any): Any =
    MinHashImpl.minhash(s.asInstanceOf[UTF8String].toString, n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.MinHashImpl.minhash($c.toString(), $n);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): MinHash =
    copy(child = newChild)
}

object MinHashImpl {
  /** Digest j = the unsigned-lexicographic minimum of md5(`j|token`),
    * the order of its hex string; null when `text` has no token. */
  def minhash(text: String, n: Int): ArrayData = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val md5 = TextKernel.md5.get()
    md5.reset()
    val prefix = Array.tabulate(n)(j => s"$j|".getBytes(utf8))
    val mins = Array.fill[Byte](16 * n)(-1)
    val digest = new Array[Byte](16)
    var seen = false
    TextKernel.foreachToken(text) { (start, end) =>
      seen = true
      val token = text.substring(start, end).getBytes(utf8)
      var j = 0
      while (j < n) {
        md5.update(prefix(j))
        md5.update(token)
        md5.digest(digest, 0, 16)
        if (java.util.Arrays.compareUnsigned(
            digest, 0, 16, mins, 16 * j, 16 * j + 16) < 0)
          System.arraycopy(digest, 0, mins, 16 * j, 16)
        j += 1
      }
    }
    if (!seen) null
    else {
      val hex = java.util.HexFormat.of() // lowercase, as md5() prints
      new GenericArrayData(Array.tabulate[Any](n)(j =>
        UTF8String.fromString(hex.formatHex(mins, 16 * j, 16 * j + 16))))
    }
  }
}
