package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Whitespace tokenization as a single-pass native kernel — the
  * workhorse under every text operator (windows, shingles, quality
  * filters, LM scoring), so its per-row cost multiplies across the
  * whole corpus at 100 TB.
  *
  * Semantics are IDENTICAL to the builtin formulation it replaces,
  * `filter(split(trim(text), "\\s+"), t => t =!= "")`: the maximal
  * runs of non-whitespace characters, in order, empty array for
  * empty/whitespace-only text, where whitespace is Java-regex `\s` =
  * {space, \t, \n, \x0B, \f, \r} exactly (ASCII-only — U+00A0 and
  * friends are token bytes under both forms, since `\s` without
  * UNICODE_CHARACTER_CLASS never matches them). Those six code points
  * are single bytes in UTF-8 and can never appear inside a multi-byte
  * sequence (continuation bytes have the high bit set), so the scan
  * works directly on the UTF-8 bytes with no decode.
  *
  * Why not the builtin chain (guide §1.2 "per-task work"): Spark's
  * `StringSplit` funnels through `UTF8String.split`, which converts
  * the row to a java.lang.String and calls `String.split(regex)` —
  * one `Pattern.compile` plus a UTF-16 round-trip PER ROW — and the
  * `filter(...)` higher-order lambda is interpreted per element.
  * This kernel is one allocation-light byte scan dispatched from
  * generated code (the [[Shingles]] shape), inside WholeStageCodegen.
  */
case class WsTokens(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case _: StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"ws_tokens requires string input, got ${other.catalogString}")
    }

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "ws_tokens"

  override def nullSafeEval(input: Any): Any =
    WsTokens.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.WsTokens.compute($c)")

  override protected def withNewChildInternal(
      newChild: Expression): WsTokens = copy(child = newChild)
}

object WsTokens {

  /** Java-regex `\s` without UNICODE_CHARACTER_CLASS: exactly
    * [ \t\n\x0B\f\r].
    */
  private def isWs(b: Byte): Boolean =
    b == 0x20 || (b >= 0x09 && b <= 0x0D)

  /** Called from generated code; must stay public + static-shaped. */
  def compute(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    // count tokens first: two cheap scans beat a growable buffer's
    // re-allocations, and the output array is exactly sized
    var cnt = 0
    var i = 0
    while (i < n) {
      if (!isWs(bytes(i)) && (i == 0 || isWs(bytes(i - 1)))) cnt += 1
      i += 1
    }
    if (cnt == 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](cnt)
    var k = 0
    i = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      val start = i
      while (i < n && !isWs(bytes(i))) i += 1
      if (i > start) {
        // zero-copy slice over the shared byte array
        out(k) = UTF8String.fromBytes(bytes, start, i - start)
        k += 1
      }
    }
    new GenericArrayData(out)
  }
}
