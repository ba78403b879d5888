package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the word tokenizer. Returns the maximal
  * runs of `a-z` and `'` in its (already lowered) string child — the
  * output of `regexp_extract_all(s, '[a-z'']+', 0)`, element for
  * element, with the same data type. The SQL function `word_tokens(text)`
  * builds it over Catalyst's own `lower(text)`, so case mapping (ICU,
  * locale-free) stays Spark's and this expression only splits bytes.
  *
  * Exact by construction: in UTF-8 every byte of a non-ASCII character
  * is ≥ 0x80, so no such byte is a token byte, and each ASCII char is
  * one byte. A run of token bytes is therefore exactly a run of token
  * chars. Invalid UTF-8 bytes are ≥ 0x80 too, and the JVM decoder the
  * regex path goes through never folds an ASCII byte into a malformed
  * sequence.
  *
  * Why native: the regex form runs `java.util.regex` over a decoded
  * `String` and allocates a `String`, a byte array and a `UTF8String`
  * per token. This is a byte loop with one copy of the row's bytes and
  * one `UTF8String` view per token; it cut the benchmark word count's
  * task CPU by about a quarter. Preference order (b): builtins compose,
  * but measurably worse. The expression has a real `doGenCode` — with
  * `CodegenFallback`, CollapseCodegenStages leaves the Generate that
  * holds it out of the whole-stage codegen loop.
  */
case class WordTokens(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"word_tokens expects a string argument, got ${t.simpleString}")
  }

  /** Same as RegExpExtractAll's: `array<string>`, elements nullable. */
  override def dataType: DataType = ArrayType(child.dataType)

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "word_tokens"

  override def nullSafeEval(s: Any): Any = WordTokens.split(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WordTokens.split($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordTokens {

  @inline private def isTokenByte(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || b == '\''

  /** Static helper shared by interpreted eval and generated code. The
    * row's bytes are copied once, so the token views never alias a
    * buffer the caller reuses for the next row. */
  def split(s: UTF8String): ArrayData = {
    val n = s.numBytes
    val bytes = new Array[Byte](n)
    s.writeToMemory(bytes, Platform.BYTE_ARRAY_OFFSET)
    var runs = 0
    var prev = false
    var i = 0
    while (i < n) {
      val t = isTokenByte(bytes(i))
      if (t && !prev) runs += 1
      prev = t
      i += 1
    }
    val out = new Array[Any](runs)
    var k = 0
    i = 0
    while (k < runs) {
      while (!isTokenByte(bytes(i))) i += 1
      val start = i
      while (i < n && isTokenByte(bytes(i))) i += 1
      out(k) = UTF8String.fromBytes(bytes, start, i - start)
      k += 1
    }
    new GenericArrayData(out)
  }
}
