package graft.functions

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** k-value MinHash signature of a token array, as a native Catalyst
  * expression (Broder 1997; affine rehash family per Mining of Massive
  * Datasets §3.3).
  *
  * One pass per row: shingle hashes (FNV-1a over the window's tokens with
  * a separator) are computed once each, and every shingle updates all k
  * running minima — O(shingles × k) multiply-compare with zero array
  * materialization. The equivalent higher-order-function formulation
  * (k × `array_min(transform(hashes, ...))`) re-evaluates the shingle-hash
  * array for every one of the k components AND is interpreted (higher-order
  * functions don't participate in whole-stage codegen), which measured
  * ~30× slower at sf0.1. This expression inlines into codegen via a static
  * call, like [[SimHash]].
  */
case class MinHashSig(child: Expression, shingleSize: Int, k: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash32"

  override def nullSafeEval(input: Any): Any =
    MinHashSig.compute(input.asInstanceOf[ArrayData], shingleSize, k)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.MinHashSig.compute($c, $shingleSize, $k)")

  override protected def withNewChildInternal(
      newChild: Expression): MinHashSig = copy(child = newChild)
}

object MinHashSig {

  /** Deterministic splitmix64 stream for permutation constants (seed 42,
    * matching the project-wide convention).
    */
  private def splitmix(seed: Long): Iterator[Long] =
    Iterator.iterate(seed) { s => s + 0x9e3779b97f4a7c15L }.drop(1).map { z0 =>
      var z = z0
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }

  private val permCache = new ConcurrentHashMap[Int, Array[Long]]()

  /** Flat array [a0,b0,a1,b1,...]: odd 30-bit multipliers + 30-bit offsets,
    * so `h32 * a + b` stays within a positive signed long (32+30 < 63).
    */
  def permsFor(k: Int): Array[Long] =
    permCache.computeIfAbsent(k, { kk =>
      val it = splitmix(42L)
      val out = new Array[Long](2 * kk)
      var j = 0
      while (j < kk) {
        out(2 * j) = (it.next() & 0x3fffffffL) | 1L
        out(2 * j + 1) = it.next() & 0x3fffffffL
        j += 1
      }
      out
    })

  private final val FnvOffset = 0xcbf29ce484222325L
  private final val FnvPrime = 0x100000001b3L

  /** FNV-1a hash of tokens[start, start+len), space-separated, folded to
    * 32 bits.
    */
  private def hashWindow(tokens: ArrayData, start: Int, len: Int): Long = {
    var h = FnvOffset
    var t = start
    while (t < start + len) {
      if (!tokens.isNullAt(t)) {
        val bytes = tokens.getUTF8String(t).getBytes
        var i = 0
        while (i < bytes.length) {
          h ^= (bytes(i) & 0xffL)
          h *= FnvPrime
          i += 1
        }
      }
      h ^= ' '.toLong
      h *= FnvPrime
      t += 1
    }
    (h ^ (h >>> 32)) & 0xffffffffL
  }

  /** Called from generated code; must stay public + static-shaped. */
  def compute(tokens: ArrayData, shingleSize: Int, k: Int): ArrayData = {
    val perms = permsFor(k)
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    def update(h32: Long): Unit = {
      var j = 0
      while (j < k) {
        // mod 2^32 is essential: without it the affine map is monotone in
        // h32 and every component's argmin is the SAME shingle (k
        // effectively 1). Odd multiplier → bijection on Z_2^32.
        val v = (h32 * perms(2 * j) + perms(2 * j + 1)) & 0xffffffffL
        if (v < sig(j)) sig(j) = v
        j += 1
      }
    }
    val n = tokens.numElements()
    if (n < shingleSize) update(hashWindow(tokens, 0, n))
    else {
      var i = 0
      while (i + shingleSize <= n) {
        update(hashWindow(tokens, i, shingleSize))
        i += 1
      }
    }
    new GenericArrayData(sig)
  }
}
