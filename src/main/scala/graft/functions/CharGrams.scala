package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Character 1- and 2-grams of the LOWERCASED text as one native
  * pass — the gram extractor under the learned language-ID pipeline
  * ([[graft.operators.LangId]]), whose per-document cost multiplies
  * across the whole corpus at 100 TB.
  *
  * Semantics are IDENTICAL to the builtin formulation it replaces —
  * `concat(chars, bigrams)` over
  * `filter(split(lower(text), ""), c != "")` with
  * `transform(sequence(...), i -> concat(element_at(ch,i),
  * element_at(ch,i+1)))` — i.e. all code points of `lower(text)` in
  * order, followed by all adjacent code-point pairs (empty when under
  * two): Spark's empty-pattern split walks UTF-8 code points, and
  * `Lower` is `UTF8String.toLowerCase`, both reused here directly.
  * What the builtin chain paid per row is gone: the interpreted
  * filter + two interpreted transform lambdas with per-element
  * `element_at` calls, and a fresh string per element — this kernel
  * lowercases once and emits zero-copy slices of the lowered bytes.
  */
case class CharGrams(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case _: StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"char_grams requires string input, got ${other.catalogString}")
    }

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "char_grams"

  override def nullSafeEval(input: Any): Any =
    CharGrams.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.CharGrams.compute($c)")

  override protected def withNewChildInternal(
      newChild: Expression): CharGrams = copy(child = newChild)
}

object CharGrams {

  /** Called from generated code; must stay public + static-shaped. */
  def compute(s: UTF8String): ArrayData = {
    val lower = s.toLowerCase
    val bytes = lower.getBytes
    val nb = bytes.length
    // pass 1: code-point offsets
    var n = 0
    var i = 0
    while (i < nb) {
      i += UTF8String.numBytesForFirstByte(bytes(i))
      n += 1
    }
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val offs = new Array[Int](n + 1)
    var k = 0
    i = 0
    while (i < nb) {
      offs(k) = i
      i += UTF8String.numBytesForFirstByte(bytes(i))
      k += 1
    }
    offs(n) = nb
    val out = new Array[Any](n + (if (n >= 2) n - 1 else 0))
    i = 0
    while (i < n) { // unigrams
      out(i) = UTF8String.fromBytes(bytes, offs(i), offs(i + 1) - offs(i))
      i += 1
    }
    i = 0
    while (i < n - 1) { // bigrams: two adjacent code points, one slice
      out(n + i) =
        UTF8String.fromBytes(bytes, offs(i), offs(i + 2) - offs(i))
      i += 1
    }
    new GenericArrayData(out)
  }
}
