package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-document n-gram repetition statistics in ONE map-side pass —
  * `(n_distinct, max_bigram_count, trigram_distinct)` over a token
  * array — the numbers behind the Gopher repetition filter (Rae et
  * al. 2021 §A1.1).
  *
  * Every statistic is a pure function of one row's tokens, so
  * computing them here turns the whole filter into a map-only plan:
  * the aggregate formulation exploded every document into (doc, k,
  * gram) rows, shuffled them into a per-(doc,k,gram) count and a
  * per-doc rollup, and joined the result back on the primary key —
  * two exchanges and a join whose only purpose was to regroup rows
  * that started out grouped. At 100 TB that is a corpus-wide shuffle
  * of every bigram and trigram versus zero bytes moved.
  *
  * Equivalences the map-side form relies on (GramRepStatsSpec pins
  * them): tokens are whitespace-free, so space-joined k-gram strings
  * are equal iff the token windows are equal element-wise; trigram
  * OCCURRENCES are just n-2; distinct counts use the same binary
  * string equality as `array_distinct`/gram string grouping.
  *
  * Internals: tokens map to dense int ids through one hash map, then
  * k-gram windows pack into a single long (21 bits per id) counted
  * with primitive maps — no per-window string is ever built. Documents
  * with over 2²¹ distinct tokens fall back to counting space-joined
  * window strings (same answer, slower — a single document that large
  * is pathological).
  */
case class GramRepStats(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"gram_rep_stats requires array<string> input, got " +
          other.catalogString)
    }

  override def dataType: DataType = StructType(Seq(
    StructField("n_distinct", LongType, nullable = false),
    StructField("max_bigram", LongType, nullable = false),
    StructField("tri_distinct", LongType, nullable = false)))

  override def prettyName: String = "gram_rep_stats"

  override def nullSafeEval(input: Any): Any =
    GramRepStats.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.GramRepStats.compute($c)")

  override protected def withNewChildInternal(
      newChild: Expression): GramRepStats = copy(child = newChild)
}

object GramRepStats {

  private val MaxDenseIds = 1 << 21

  /** Called from generated code; must stay public + static-shaped. */
  def compute(toks: ArrayData): InternalRow = {
    val n = toks.numElements()
    val ids = new Array[Int](n)
    val dict = new java.util.HashMap[UTF8String, Integer](
      math.max(8, n * 2))
    var nextId = 0
    var i = 0
    while (i < n) {
      val t = toks.getUTF8String(i)
      val e = dict.get(t)
      if (e == null) {
        if (nextId >= MaxDenseIds) return computeSlow(toks)
        dict.put(t, nextId); ids(i) = nextId; nextId += 1
      } else ids(i) = e.intValue
      i += 1
    }
    val nDistinct = nextId.toLong
    // bigrams: key = id0 << 21 | id1
    var maxBg = 0L
    if (n >= 2) {
      val bg = new java.util.HashMap[java.lang.Long, Array[Long]](n * 2)
      i = 0
      while (i < n - 1) {
        val key = java.lang.Long.valueOf(
          (ids(i).toLong << 21) | ids(i + 1).toLong)
        var c = bg.get(key)
        if (c == null) { c = new Array[Long](1); bg.put(key, c) }
        c(0) += 1
        if (c(0) > maxBg) maxBg = c(0)
        i += 1
      }
    }
    // trigrams: key = id0 << 42 | id1 << 21 | id2
    var triDistinct = 0L
    if (n >= 3) {
      val tri = new java.util.HashSet[java.lang.Long](n * 2)
      i = 0
      while (i < n - 2) {
        if (tri.add(java.lang.Long.valueOf(
          (ids(i).toLong << 42) | (ids(i + 1).toLong << 21) |
            ids(i + 2).toLong))) triDistinct += 1
        i += 1
      }
    }
    new GenericInternalRow(Array[Any](nDistinct, maxBg, triDistinct))
  }

  /** String-keyed fallback for documents with over 2²¹ distinct
    * tokens: identical answers via space-joined window strings.
    */
  private def computeSlow(toks: ArrayData): InternalRow = {
    val n = toks.numElements()
    val space = UTF8String.fromString(" ")
    def window(start: Int, len: Int): UTF8String = {
      val w = new Array[UTF8String](len)
      var j = 0
      while (j < len) { w(j) = toks.getUTF8String(start + j); j += 1 }
      UTF8String.concatWs(space, w: _*)
    }
    val distinct = new java.util.HashSet[UTF8String]()
    var i = 0
    while (i < n) { distinct.add(toks.getUTF8String(i)); i += 1 }
    var maxBg = 0L
    if (n >= 2) {
      val bg = new java.util.HashMap[UTF8String, Array[Long]]()
      i = 0
      while (i < n - 1) {
        val key = window(i, 2)
        var c = bg.get(key)
        if (c == null) { c = new Array[Long](1); bg.put(key, c) }
        c(0) += 1
        if (c(0) > maxBg) maxBg = c(0)
        i += 1
      }
    }
    val tri = new java.util.HashSet[UTF8String]()
    if (n >= 3) {
      i = 0
      while (i < n - 2) { tri.add(window(i, 3)); i += 1 }
    }
    new GenericInternalRow(Array[Any](distinct.size.toLong, maxBg,
      tri.size.toLong))
  }
}
