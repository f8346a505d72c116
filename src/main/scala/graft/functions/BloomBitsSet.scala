package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, BooleanType, DataType, LongType}

/** ALL-BITS-SET probe of a Bloom bitmask — the map-side verification
  * kernel of [[graft.operators.Bloom.mightContain]] (r22): `left` is
  * the filter's bit array packed into bytes (bit b lives at byte
  * b >> 3, bit b & 7 — a plan LITERAL of ceil(m/8) bytes, 128x
  * smaller than the set-bit ROW table it replaces), `right` the
  * probe's `k` bit positions. True iff every position's bit is set —
  * one codegen'd loop per probe row, no explode, no join, no
  * group-back shuffle. Out-of-range positions read as unset
  * (defensive; the caller's `pmod(·, m)` cannot produce one).
  */
case class BloomBitsSet(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        "bloom_bits_set requires (binary, array<bigint>), got " +
          s"${l.catalogString} / ${r.catalogString}")
    }

  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_bits_set"

  override def nullSafeEval(mask: Any, pos: Any): Any =
    BloomBitsSet.compute(mask.asInstanceOf[Array[Byte]],
      pos.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (mask, pos) =>
      s"graft.functions.BloomBitsSet.compute($mask, $pos)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): BloomBitsSet =
    copy(left = newLeft, right = newRight)
}

object BloomBitsSet {

  /** Called from generated code; must stay public + static-shaped. */
  def compute(mask: Array[Byte], pos: ArrayData): Boolean = {
    val n = pos.numElements()
    val bits = mask.length.toLong << 3
    var i = 0
    while (i < n) {
      val b = pos.getLong(i)
      if (b < 0 || b >= bits ||
        (mask((b >> 3).toInt) & (1 << (b & 7).toInt)) == 0) return false
      i += 1
    }
    true
  }
}
