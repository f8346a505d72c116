package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Learned language-ID ARGMAX of one document — the scoring kernel of
  * [[graft.operators.LangId.classify]]. `left` is the document's gram
  * stream ([[CharGrams]]); `right` is the learned profile as a plan
  * LITERAL `array<struct<lang: string, gram: string, w: bigint>>`, at
  * most m rows per language, so bounded by construction.
  *
  * score(lang) = Σ over the gram OCCURRENCES of w(lang, gram), i.e.
  * Σ tf · w exactly, in longs; the result is the language with the
  * highest score, ties to the smallest code (nulls first, as
  * `ORDER BY lang` sorts them). Every profile language is a candidate:
  * null, empty or zero-overlap text scores 0 everywhere and resolves to
  * the first language; a profile with no rows yields NULL. A score
  * outside [0, 2⁴⁶) refuses with an error naming it, the range the
  * relational argmax packed into one long.
  *
  * One pass per row against a gram → weights hash table built once per
  * expression instance: no explode, no join, no shuffle.
  */
case class LangArgmax(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(_: StringType, _), ArrayType(st: StructType, _))
          if st.fields.length == 3 &&
            st.fields(0).dataType.isInstanceOf[StringType] &&
            st.fields(1).dataType.isInstanceOf[StringType] &&
            st.fields(2).dataType == LongType =>
        if (right.foldable) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          "lang_argmax requires a constant profile argument")
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        "lang_argmax requires (array<string>, " +
          "array<struct<lang: string, gram: string, w: bigint>>), got " +
          s"${l.catalogString} / ${r.catalogString}")
    }

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "lang_argmax"

  @transient private lazy val kernel =
    LangArgmax.Kernel(right.eval().asInstanceOf[ArrayData])

  override def eval(input: InternalRow): Any =
    kernel.argmax(left.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("langArgmax", kernel,
      classOf[LangArgmax.Kernel].getName)
    val grams = left.genCode(ctx)
    ev.copy(code = code"""
      |${grams.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  $k.argmax(${grams.isNull} ? null : ${grams.value});
      |boolean ${ev.isNull} = ${ev.value} == null;
      |""".stripMargin)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): LangArgmax =
    copy(left = newLeft, right = newRight)
}

object LangArgmax {

  /** Scores at or above this refuse (see [[LangArgmax]]). */
  val MaxScore: Long = 1L << 46

  /** The profile's languages in ascending order and, per gram, the
    * languages it weighs and their summed weights (a gram listed twice
    * for one language adds up, as the relational join summed it).
    */
  final class Kernel(langs: Array[UTF8String],
      table: java.util.HashMap[UTF8String, (Array[Int], Array[Long])])
      extends Serializable {

    /** Called from generated code; must stay public. */
    def argmax(grams: ArrayData): UTF8String = {
      if (langs.isEmpty) return null
      val scores = new Array[Long](langs.length)
      if (grams != null) {
        var i = 0
        while (i < grams.numElements()) {
          if (!grams.isNullAt(i)) {
            val e = table.get(grams.getUTF8String(i))
            if (e != null) {
              val (idx, w) = e
              var j = 0
              while (j < idx.length) {
                scores(idx(j)) = Math.addExact(scores(idx(j)), w(j))
                j += 1
              }
            }
          }
          i += 1
        }
      }
      var best = 0
      var j = 0
      while (j < scores.length) {
        val s = scores(j)
        if (s < 0 || s >= MaxScore)
          throw new ArithmeticException("lang-id score out of range " +
            s"[0, 2^46): score=$s lang=${langs(j)}")
        if (s > scores(best)) best = j
        j += 1
      }
      langs(best)
    }
  }

  object Kernel {
    def apply(profile: ArrayData): Kernel = {
      val rows = (0 until profile.numElements()).map(profile.getStruct(_, 3))
      def str(r: InternalRow, i: Int): UTF8String =
        if (r.isNullAt(i)) null else r.getUTF8String(i).clone()
      val langs = rows.map(str(_, 0)).distinct
        .sortWith((a, b) => b != null && (a == null || a.compareTo(b) < 0))
        .toArray
      val table =
        new java.util.HashMap[UTF8String, (Array[Int], Array[Long])]()
      rows.filter(r => !r.isNullAt(1) && !r.isNullAt(2))
        .groupMapReduce(r => (str(r, 1), langs.indexOf(str(r, 0))))(
          _.getLong(2))(Math.addExact)
        .groupBy(_._1._1).foreach { case (gram, ws) =>
          val (li, w) = ws.toSeq.map { case ((_, l), x) => (l, x) }.unzip
          table.put(gram, (li.toArray, w.toArray))
        }
      new Kernel(langs, table)
    }
  }
}
