package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Word n-gram shingles of a token array as a native Catalyst
  * expression: one pass, direct `UTF8String` window joins, inlined into
  * whole-stage codegen.
  *
  * Semantics (identical to the higher-order formulation it replaces —
  * `transform(sequence(...), i -> concat_ws(" ", slice(toks, i, n)))`
  * with the under-n whole-text fallback): fewer than `n` tokens yield
  * ONE shingle joining all tokens; otherwise every length-n window,
  * space-joined, duplicates preserved (wrap in `array_distinct` for the
  * set view).
  *
  * Why not the HOF form: interpreted higher-order functions cost ~µs
  * per ELEMENT and the token subexpression is re-evaluated per branch —
  * measured ~5 s for a 5k-doc corpus scan at sf0.1 where this
  * expression is ~100 ms. Over a 100 TB corpus the shingle projection
  * runs once per document of the whole corpus (dedup candidate
  * generation, decontamination), so it must be a codegen'd kernel like
  * [[MinHashSig]]/[[SimHash]].
  */
case class Shingles(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, "shingle size must be >= 1")

  // a non-array<string> child fails at ANALYSIS with a typed error
  // instead of a ClassCastException inside eval/codegen at runtime
  // (checkInputDataTypes directly: ExpectsInputTypes.inputTypes needs
  // the private[sql] AbstractDataType)
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"shingles requires array<string> input, got ${other.catalogString}")
    }

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingles"

  override def nullSafeEval(input: Any): Any =
    Shingles.compute(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.Shingles.compute($c, $n)")

  override protected def withNewChildInternal(
      newChild: Expression): Shingles = copy(child = newChild)
}

object Shingles {

  private val Space = UTF8String.fromString(" ")

  private def join(tokens: ArrayData, start: Int, len: Int): UTF8String = {
    val window = new Array[UTF8String](len)
    var i = 0
    while (i < len) {
      // concat_ws SKIPS null elements; mirror that by joining the
      // non-null prefix-compacted window (tokens from TextFunctions
      // are never null, so this is belt-and-braces)
      window(i) =
        if (tokens.isNullAt(start + i)) null
        else tokens.getUTF8String(start + i)
      i += 1
    }
    UTF8String.concatWs(Space, window: _*)
  }

  /** Called from generated code; must stay public + static-shaped. */
  def compute(tokens: ArrayData, n: Int): ArrayData = {
    val cnt = tokens.numElements()
    if (cnt < n) new GenericArrayData(Array[Any](join(tokens, 0, cnt)))
    else {
      val out = new Array[Any](cnt - n + 1)
      var i = 0
      while (i + n <= cnt) {
        out(i) = join(tokens, i, n)
        i += 1
      }
      new GenericArrayData(out)
    }
  }
}
