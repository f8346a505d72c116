package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType}

/** Every `factor`-th byte of a binary payload, as a single-pass codegen'd
  * expression — the multimodal resize stub's kernel. The higher-order
  * alternative (aggregate+concat of 1-byte substrings) copies the whole
  * accumulator per step: O(L²) per row, pathological for media payloads.
  */
case class BinaryStride(child: Expression, factor: Int)
    extends UnaryExpression {
  require(factor >= 1, "factor must be >= 1")

  override def dataType: DataType = BinaryType
  override def prettyName: String = "binary_stride"

  override def nullSafeEval(input: Any): Any =
    BinaryStride.compute(input.asInstanceOf[Array[Byte]], factor)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.BinaryStride.compute($c, $factor)")

  override protected def withNewChildInternal(
      newChild: Expression): BinaryStride = copy(child = newChild)
}

object BinaryStride {

  /** Called from generated code; must stay public + static-shaped. */
  def compute(bytes: Array[Byte], factor: Int): Array[Byte] = {
    val n = (bytes.length + factor - 1) / factor
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) { out(i) = bytes(i * factor); i += 1 }
    out
  }
}
