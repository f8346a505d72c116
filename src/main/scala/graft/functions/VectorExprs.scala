package graft.functions

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Fused, codegen'd vector math over `array<float>` embedding columns.
  *
  * The Column-level formulation (`quantize` → `zip_with` dot →
  * `aggregate` norms) is semantically identical but runs through
  * INTERPRETED higher-order functions: per-element closure dispatch, and
  * the quantized arrays materialize once per use. These expressions do
  * quantize+dot+norms+cosine in ONE loop per row via a static call
  * inlined into whole-stage codegen.
  *
  * Exactness contract (must hash-match the DuckDB oracle): quantization
  * is `round(x * 1e6)` with HALF_UP on the double product — replicated
  * here with `BigDecimal.valueOf` exactly as Catalyst's `Round` computes
  * it — and dot/norms accumulate in exact integer space, so the final
  * double cosine is bit-identical to the Column version.
  */
object VecOps {

  /** Catalyst `Round(v * 1e6, 0)` for doubles, exactly. `longValueExact`
    * raises on magnitudes past 2^63 (|x| > ~9.2e12) instead of silently
    * truncating to the low 64 bits.
    */
  def quant(x: Double): Long =
    JBigDecimal.valueOf(x * 1000000.0)
      .setScale(0, RoundingMode.HALF_UP).longValueExact()

  /** Quantized cosine similarity of two float vectors. Returns NaN —
    * which [[CosineQuant]] converts to NULL — for (a) a zero-norm input
    * (matching Divide's null-on-zero-divisor in the Column formulation)
    * and (b) LENGTH-MISMATCHED vectors (matching zip_with's null-padding,
    * which nulls the whole dot product): a corrupt/truncated embedding
    * must be excluded from rankings, not ranked by a fabricated
    * prefix similarity.
    *
    * Accumulation is EXACT long arithmetic guarded by
    * `Math.multiplyExact`/`addExact` (JIT intrinsics — free when no
    * overflow): components beyond |x| ≈ 380 at dims=64 would otherwise
    * wrap the 64-bit accumulator silently and corrupt rankings. Such
    * vectors now fail loudly with a message naming the bound; unit-scale
    * embeddings (the intended input) are far inside it.
    */
  def cosineQuant(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    if (n != b.numElements()) return Double.NaN
    var dot = 0L
    var na = 0L
    var nb = 0L
    var i = 0
    try {
      while (i < n) {
        val qa = quant(a.getFloat(i).toDouble)
        val qb = quant(b.getFloat(i).toDouble)
        dot = Math.addExact(dot, Math.multiplyExact(qa, qb))
        na = Math.addExact(na, Math.multiplyExact(qa, qa))
        nb = Math.addExact(nb, Math.multiplyExact(qb, qb))
        i += 1
      }
    } catch {
      case _: ArithmeticException =>
        throw new ArithmeticException(
          "cosine_quant overflow: quantized accumulator exceeded 64 bits " +
            s"at element $i — components must satisfy " +
            "sum((x*1e6)^2) < 2^63 (roughly |x| < 3000/sqrt(dims)); " +
            "rescale or normalize the embeddings")
    }
    dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
  }

  /** Quantize every component of a float or double vector with
    * [[quant]] (a float widened to double first, as the reference's
    * `x.cast(double)`); a null component stays null.
    */
  def quantizeVec(v: ArrayData, isFloat: Boolean): ArrayData = {
    val n = v.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!v.isNullAt(i))
        out(i) = quant(if (isFloat) v.getFloat(i).toDouble else v.getDouble(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Exact dot product of two quantized vectors, or `null` where the
    * reference `aggregate(zip_with(a, b, x * y), 0, acc + x)` is NULL: a
    * null component or a length mismatch (zip_with pads with nulls).
    * The order of checks is the reference's too: every product of the
    * common prefix is formed (an overflowing one throws even past a
    * null), and the running sum stops overflow-checking at the first
    * null, where the reference's accumulator turns NULL.
    */
  def dotQ(a: ArrayData, b: ArrayData): java.lang.Long = {
    val na = a.numElements()
    val nb = b.numElements()
    val n = math.min(na, nb)
    var sum = 0L
    var sawNull = na != nb
    var i = 0
    try {
      while (i < n) {
        if (a.isNullAt(i) || b.isNullAt(i)) sawNull = true
        else {
          val p = Math.multiplyExact(a.getLong(i), b.getLong(i))
          if (!sawNull) sum = Math.addExact(sum, p)
        }
        i += 1
      }
    } catch {
      case _: ArithmeticException =>
        throw new ArithmeticException(
          s"dot_q overflow: quantized product or sum exceeded 64 bits at " +
            s"element $i; rescale or normalize the embeddings")
    }
    if (sawNull) null else sum
  }

  private val signCache = new ConcurrentHashMap[(Int, Int), Array[Array[Long]]]()

  /** ±1 hyperplane sign matrix [bits][dims] — identical derivation to
    * `VectorFunctions.signRow` (splitmix64 parity, seed 42).
    */
  def signs(bits: Int, dims: Int): Array[Array[Long]] =
    signCache.computeIfAbsent((bits, dims), { case (b0, d0) =>
      Array.tabulate(b0) { b =>
        var s = 42L + b.toLong * 0x9e3779b97f4a7c15L
        Array.fill(d0) {
          s += 0x9e3779b97f4a7c15L
          var z = s
          z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
          z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
          z ^= (z >>> 31)
          if ((z & 1L) == 0L) 1L else -1L
        }
      }
    })

  /** Random-hyperplane LSH bucket of a float vector: one fused loop over
    * bits × dims instead of `bits` interpreted zip_with/aggregate passes.
    */
  def hyperplaneBucket(v: ArrayData, bits: Int, dims: Int): Long = {
    val m = signs(bits, dims)
    val n = math.min(v.numElements(), dims)
    val q = new Array[Long](n)
    var i = 0
    while (i < n) { q(i) = quant(v.getFloat(i).toDouble); i += 1 }
    var bucket = 0L
    var b = 0
    while (b < bits) {
      val row = m(b)
      var dot = 0L
      var k = 0
      // row entries are ±1, so the product can't overflow; the running
      // sum can for huge components — fail loudly rather than mis-bucket
      while (k < n) { dot = Math.addExact(dot, q(k) * row(k)); k += 1 }
      if (dot >= 0) bucket |= (1L << b)
      b += 1
    }
    bucket
  }
}

/** `cosine_quant(array<float>, array<float>) -> double` — fused quantized
  * cosine (see [[VecOps.cosineQuant]]). A zero-norm input (all components
  * quantize to 0) yields NULL, matching the Column formulation where
  * Spark's `Divide` nulls on a zero divisor — returning the raw 0/0 NaN
  * would rank the degenerate vector FIRST under `orderBy(desc)`.
  */
case class CosineQuant(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_quant"
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val r = VecOps.cosineQuant(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData])
    if (java.lang.Double.isNaN(r)) null else r
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      ${ev.value} = graft.functions.VecOps.cosineQuant($a, $b);
      if (Double.isNaN(${ev.value})) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): CosineQuant = copy(newLeft, newRight)
}

/** `quantize_vec(array<float|double>) -> array<bigint>`: every component
  * as [[VecOps.quant]], the 1e-6 fixed point `cosine_quant` uses; a null
  * component stays null. The codegen'd form of
  * [[VectorFunctions.quantize]].
  */
case class QuantizeVec(child: Expression) extends UnaryExpression {
  // checkInputDataTypes directly: ExpectsInputTypes.inputTypes needs the
  // private[sql] AbstractDataType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"quantize_vec requires array<float> or array<double>, got " +
        other.catalogString)
  }

  override def dataType: DataType = ArrayType(LongType,
    child.dataType.asInstanceOf[ArrayType].containsNull)
  override def prettyName: String = "quantize_vec"

  override def nullSafeEval(v: Any): Any =
    VecOps.quantizeVec(v.asInstanceOf[ArrayData], isFloat)

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VecOps.quantizeVec($c, $isFloat)")

  override protected def withNewChildInternal(
      newChild: Expression): QuantizeVec = copy(child = newChild)
}

/** `dot_q(array<bigint>, array<bigint>) -> bigint`: the exact integer dot
  * product of two quantized vectors ([[VecOps.dotQ]]); NULL on a null
  * component or a length mismatch, an error on 64-bit overflow. The
  * codegen'd form of [[VectorFunctions.dotQ]].
  */
case class DotQ(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"dot_q requires two array<bigint> inputs, got " +
          s"${l.catalogString} / ${r.catalogString}")
    }

  override def dataType: DataType = LongType
  override def prettyName: String = "dot_q"
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    VecOps.dotQ(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val r = ctx.freshName("dot")
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      java.lang.Long $r = graft.functions.VecOps.dotQ($a, $b);
      if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
    """)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DotQ = copy(newLeft, newRight)
}

/** `hplane_bucket(array<float>) -> bigint` with static (bits, dims). */
case class HyperplaneBucket(child: Expression, bits: Int, dims: Int)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "hplane_bucket"

  override def nullSafeEval(v: Any): Any =
    VecOps.hyperplaneBucket(v.asInstanceOf[ArrayData], bits, dims)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VecOps.hyperplaneBucket($c, $bits, $dims)")

  override protected def withNewChildInternal(
      newChild: Expression): HyperplaneBucket = copy(child = newChild)
}
