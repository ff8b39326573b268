package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst tokenizer: the maximal token runs of a string as
  * `array<string>` (no empty tokens, no null elements; null in, null
  * out), found by ONE byte loop over the UTF-8 bytes.
  *
  *  - `alpha = true`: maximal `[A-Za-z]` runs (reference
  *    internal/worker/worker.go:24-38);
  *  - `alpha = false`: maximal runs of bytes outside Java's `\s`,
  *    i.e. `[ \t\n\x0B\f\r]` (reference hw01/WordCount.java:44).
  *
  * Equal to Spark's regex `split` on `[^a-zA-Z]+` (alpha) or `\s+`
  * (ws) with the empty tokens filtered out, on every valid UTF-8
  * string: each byte of a multi-byte sequence is ≥ 0x80, so it is
  * never a letter or whitespace byte and a run boundary never falls
  * inside a character. What the byte loop saves
  * per row is the UTF-8 → UTF-16 decode, the `java.util.regex` split,
  * the re-encode of every token and the interpreted `filter` lambda
  * (a `CodegenFallback`). On invalid UTF-8, ws-mode tokens carry the
  * input bytes verbatim where the decode-based form substituted
  * U+FFFD.
  */
case class Tokenize(child: Expression, alpha: Boolean)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs a string, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    Tokenize.scan(v.asInstanceOf[UTF8String], alpha)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"${classOf[Tokenize].getName}.scan($s, $alpha)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = Tokenize.nameOf(alpha)

  // the mode is in the name: plans print graft_ws_tokens(text)
  override def flatArguments: Iterator[Any] = Iterator(child)
}

object Tokenize {
  /** The SQL function name of each mode. */
  def nameOf(alpha: Boolean): String =
    if (alpha) "graft_alpha_tokens" else "graft_ws_tokens"

  /** FunctionRegistry builder: `graft_alpha_tokens(str)` / `graft_ws_tokens(str)`. */
  def build(alpha: Boolean)(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1, s"${nameOf(alpha)}(str) takes 1 arg, got ${exprs.length}")
    Tokenize(exprs.head, alpha)
  }

  // byte → is it a token byte, per mode
  private val alphaByte: Array[Boolean] =
    Array.tabulate(256)(b => (b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z'))
  private val nonSpaceByte: Array[Boolean] =
    Array.tabulate(256)(b => " \t\n\u000B\f\r".indexOf(b) < 0)

  /** The token runs of `s`. The input's bytes are copied once; the
    * tokens are views into that copy, so they outlive a reused input
    * buffer. */
  def scan(s: UTF8String, alpha: Boolean): ArrayData = {
    val tok = if (alpha) alphaByte else nonSpaceByte
    val n = s.numBytes
    val bytes = new Array[Byte](n)
    Platform.copyMemory(s.getBaseObject, s.getBaseOffset, bytes, Platform.BYTE_ARRAY_OFFSET, n)
    var runs = 0
    var in = false
    var i = 0
    while (i < n) {
      val t = tok(bytes(i) & 0xff)
      if (t && !in) runs += 1
      in = t
      i += 1
    }
    val out = new Array[AnyRef](runs)
    var k = 0
    i = 0
    while (k < runs) {
      while (!tok(bytes(i) & 0xff)) i += 1
      val start = i
      while (i < n && tok(bytes(i) & 0xff)) i += 1
      out(k) = UTF8String.fromBytes(bytes, start, i - start)
      k += 1
    }
    new GenericArrayData(out)
  }
}
