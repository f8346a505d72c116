package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** The REFERENCE formulation of graft's embedding-vector math over
  * `array<float>` columns, built from Spark's higher-order array functions
  * (`transform`/`zip_with`/`aggregate`). These lambdas run interpreted, so
  * no production path calls [[quantize]], [[dotQ]], [[normSqQ]] or
  * [[cosine]]: the codegen'd kernels `quantize_vec`, `dot_q` and
  * `cosine_quant` ([[QuantizeVec]], [[DotQ]], [[CosineQuant]]) and
  * `hplane_bucket` for [[lshBucket]] do the work, and AnnSpec checks each
  * kernel equal to its formulation here: values, NULLs and overflow.
  *
  * Exactness: similarity ranking must be identical across engines (the
  * DuckDB oracle) and partitionings, so floats are quantized to
  * fixed-point BIGINT (×1e6) and dot products and norms accumulate in
  * integer space, where the sum is order-independent; a 64-bit overflow
  * fails under ANSI arithmetic. Cosine is then a fixed expression over
  * exact integers ([[cosineFromQ]], which production code shares).
  */
object VectorFunctions {

  private val Q = 1000000L

  /** Quantize array<float> → array<long> at 1e-6 resolution. */
  def quantize(v: Column): Column =
    transform(v, x => round(x.cast(DoubleType) * Q.toDouble).cast(LongType))

  /** Exact integer dot product of two quantized vectors. */
  def dotQ(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** Exact integer squared norm of a quantized vector (`dot_q(v, v)` in
    * production).
    */
  def normSqQ(a: Column): Column =
    aggregate(transform(a, x => x * x), lit(0L), (acc, x) => acc + x)

  /** Cosine similarity from quantized components (deterministic double).
    * A zero-norm vector yields NULL — excluded from rankings — rather
    * than an ANSI DIVIDE_BY_ZERO error killing the job (one corrupt
    * embedding must not fail a 100 TB pass) or a NaN that sorts first
    * under desc. Matches [[graft.functions.VecOps.cosineQuant]].
    */
  def cosineFromQ(dot: Column, normSqA: Column, normSqB: Column): Column =
    when(normSqA === 0 || normSqB === 0, lit(null).cast(DoubleType))
      .otherwise(dot.cast(DoubleType) /
        (sqrt(normSqA.cast(DoubleType)) * sqrt(normSqB.cast(DoubleType))))

  /** Cosine similarity of two float-array columns (via quantization). */
  def cosine(a: Column, b: Column): Column = {
    val qa = quantize(a)
    val qb = quantize(b)
    cosineFromQ(dotQ(qa, qb), normSqQ(qa), normSqQ(qb))
  }

  /** Deterministic ±1 hyperplane component row for bit `b` (splitmix64
    * parity, seed 42) — precomputed ONCE on the driver and shipped as an
    * array literal, instead of re-hashing (bit, dim) per row per element.
    */
  private def signRow(b: Int, dims: Int): Seq[Long] = {
    var s = 42L + b.toLong * 0x9e3779b97f4a7c15L
    (0 until dims).map { _ =>
      s += 0x9e3779b97f4a7c15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^= (z >>> 31)
      if ((z & 1L) == 0L) 1L else -1L
    }
  }

  /** Random-hyperplane (SimHash-for-vectors) LSH bucket id with `bits`
    * hyperplanes over `dims`-dimensional vectors — the Column-level
    * REFERENCE formulation of [[graft.functions.VecOps.hyperplaneBucket]]
    * (the codegen'd expression used in the hot path); the two derive the
    * same sign matrix and are differentially tested equal. The ±1 sign
    * matrix is a driver-side constant embedded as array literals (no
    * per-row hashing). Elements beyond `dims` (or null) contribute 0.
    */
  def lshBucket(v: Column, bits: Int, dims: Int): Column = {
    val qv = quantize(v)
    val bitCols = (0 until bits).map { b =>
      val dot = aggregate(
        zip_with(qv, typedlit(signRow(b, dims)),
          (x, s) => coalesce(x * s, lit(0L))),
        lit(0L), (acc, x) => acc + x)
      when(dot >= 0, lit(1L << b)).otherwise(lit(0L))
    }
    bitCols.reduce((a, b) => a + b)
  }
}
