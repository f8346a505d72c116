package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** 64-bit SimHash over a token array, as a native Catalyst expression.
  *
  * SimHash (Charikar, STOC 2002 "Similarity estimation techniques from
  * rounding algorithms"): each token votes ±1 on each of 64 bit positions
  * according to its 64-bit hash; the sign of each position's tally becomes
  * the output bit. Near-duplicate documents land at small Hamming distance.
  *
  * Implemented as an `Expression` with `doGenCode` (a static call inside
  * whole-stage codegen) rather than a Scala UDF: no serialization
  * round-trip, null handling inherited from `UnaryExpression`, and the
  * token loop runs over Tungsten `ArrayData` without materializing a Scala
  * collection.
  */
case class SimHash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any =
    SimHash.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash =
    copy(child = newChild)
}

object SimHash {

  /** FNV-1a 64-bit over UTF-8 bytes — simple, allocation-free, stable. */
  def fnv64(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** Called from generated code; must stay public + static-shaped. */
  def compute(tokens: ArrayData): Long = {
    val tally = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val h = fnv64(tokens.getUTF8String(i).getBytes)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) tally(b) += 1 else tally(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (tally(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }
}
