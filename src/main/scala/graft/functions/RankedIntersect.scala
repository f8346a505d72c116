package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructType}

/** Intersection SIZE of two rank-sorted token arrays as one linear
  * merge — the verification kernel of the PPJoin/AllPairs similarity
  * join ([[graft.operators.SetSimilarity]]).
  *
  * Two input shapes, both holding a record's DISTINCT tokens sorted
  * ascending under one consistent global rarity order (the order the
  * join's prefixes are built from, so the arrays arrive sorted for
  * free):
  *
  *  - `array<bigint>` — dense rank-id encoding (r22): one long per
  *    token; the merge is single-long compares.
  *  - `array<struct<f: long, tok: string>>` — the (frequency, token)
  *    encoding; compares are longs first, strings only on f-ties.
  *    Counting common (f, tok) structs equals counting common tokens
  *    because f is a function of tok.
  *
  * Two sorted duplicate-free arrays intersect in O(n_a + n_b)
  * compares with ZERO allocation — `array_intersect` builds a hash
  * set of one side and hashes every element of the other, allocating
  * the result array just to take its size. Set-intersection size is
  * what exact Jaccard needs.
  */
case class RankedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  private def isRankedArray(dt: DataType): Boolean = dt match {
    case ArrayType(st: StructType, _) =>
      st.fields.length == 2 &&
        st.fields(0).dataType == LongType &&
        st.fields(1).dataType.isInstanceOf[StringType]
    case ArrayType(LongType, _) => true
    case _ => false
  }

  private def isLongArray(dt: DataType): Boolean = dt match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isRankedArray(left.dataType) && isRankedArray(right.dataType) &&
        isLongArray(left.dataType) == isLongArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "ranked_intersect_count requires two array<bigint> or two " +
        "array<struct<long,string>> inputs, got " +
        s"${left.dataType.catalogString} / " +
        s"${right.dataType.catalogString}")

  override def dataType: DataType = LongType
  override def prettyName: String = "ranked_intersect_count"

  private lazy val longForm = isLongArray(left.dataType)

  override def nullSafeEval(a: Any, b: Any): Any =
    if (longForm)
      RankedIntersectCount.computeLongs(a.asInstanceOf[ArrayData],
        b.asInstanceOf[ArrayData])
    else
      RankedIntersectCount.compute(a.asInstanceOf[ArrayData],
        b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val fn = if (longForm) "computeLongs" else "compute"
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.RankedIntersectCount.$fn($a, $b)")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): RankedIntersectCount =
    copy(left = newLeft, right = newRight)
}

object RankedIntersectCount {

  /** Called from generated code; must stay public + static-shaped.
    * Inputs MUST be sorted ascending by (f, tok) and duplicate-free —
    * the [[graft.operators.SetSimilarity]] ranked-aggregate contract.
    */
  def compute(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var cnt = 0L
    while (i < na && j < nb) {
      val sa = a.getStruct(i, 2)
      val sb = b.getStruct(j, 2)
      val fa = sa.getLong(0)
      val fb = sb.getLong(0)
      var c = java.lang.Long.compare(fa, fb)
      if (c == 0) c = sa.getUTF8String(1).compareTo(sb.getUTF8String(1))
      if (c == 0) { cnt += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    cnt
  }

  /** [[compute]] for the dense rank-id encoding: two sorted
    * duplicate-free `array<bigint>` inputs, single-long compares.
    * Called from generated code; must stay public + static-shaped.
    */
  def computeLongs(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var cnt = 0L
    while (i < na && j < nb) {
      val va = a.getLong(i)
      val vb = b.getLong(j)
      if (va == vb) { cnt += 1; i += 1; j += 1 }
      else if (va < vb) i += 1
      else j += 1
    }
    cnt
  }
}
