package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/* Perceptual image hashing over binary payload columns — the image
  * half of multimodal near-dup dedup (a re-encoded, resized or
  * slightly-retouched crawl image shares no bytes with its original,
  * so `xxhash64(payload)` exact-dup detection misses it; a perceptual
  * hash of the DECODED pixels survives such edits).
  *
  * [[DHash64]] is the classical difference hash (dHash): sample the
  * decoded luma on a 9×8 grid, emit one bit per horizontally-adjacent
  * sample comparison → a 64-bit fingerprint whose Hamming distance
  * tracks visual similarity. Two implementation choices keep it
  * deterministic and fit for TINY images (the synthetic corpus' PNGs
  * run 4–16 px a side):
  *
  *  - ALL arithmetic is integer: Rec. 601 luma in ×1000 fixed point,
  *    bilinear interpolation in ×256 fixed point — no float rounding
  *    anywhere, so the fingerprint is bit-identical on any JVM.
  *  - The grid samples by integer BILINEAR interpolation rather than
  *    nearest-pixel: with nearest sampling a 4-px-wide image maps
  *    adjacent grid columns onto the SAME pixel, pinning those bits to
  *    0 for every image of that size (a shared bias that makes
  *    unrelated same-size images collide); interpolated samples differ
  *    unless the underlying pixels are equal, so the 64 bits stay
  *    well-distributed even far below the grid size.
  *
  * Like every codec expression here, the eval is a single static call
  * dispatched from generated code — map-side, inside WholeStageCodegen,
  * embarrassingly parallel at 100 TB.
  */

/** 64-bit perceptual difference hash of an image payload; NULL when the
  * bytes are not a decodable image (mixed media tables hash in one
  * pass, the [[ImageDecode]] contract).
  */
case class DHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "dhash64"

  override def nullSafeEval(input: Any): Any =
    DHash64.compute(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      // fresh name: two dhash64 calls can share one codegen scope
      val dh = ctx.freshName("dh")
      s"""
      java.lang.Long $dh = graft.functions.DHash64.compute($c);
      if ($dh == null) { ${ev.isNull} = true; }
      else { ${ev.value} = $dh.longValue(); }
    """
    })

  override protected def withNewChildInternal(
      newChild: Expression): DHash64 = copy(child = newChild)
}

object DHash64 {

  /** Rec. 601 luma in ×1000 fixed point. */
  private def lumaQ(rgb: Int): Long =
    299L * ((rgb >> 16) & 0xff) + 587L * ((rgb >> 8) & 0xff) +
      114L * (rgb & 0xff)

  /** Called from generated code; must stay public + static-shaped.
    * Returns null for undecodable bytes or degenerate (sub-2×2) images.
    */
  def compute(bytes: Array[Byte]): java.lang.Long = {
    val img = ImageCodec.read(bytes)
    if (img == null) return null
    val w = img.getWidth
    val h = img.getHeight
    if (w < 2 || h < 2) return null
    // 9×8 grid of integer-bilinear luma samples (×256² fixed point)
    val vals = Array.ofDim[Long](8, 9)
    var gy = 0
    while (gy < 8) {
      val vy = gy.toLong * (h - 1) * 256L / 7L
      val y0 = (vy >> 8).toInt
      val fy = vy & 255L
      val y1 = math.min(y0 + 1, h - 1)
      var gx = 0
      while (gx < 9) {
        val vx = gx.toLong * (w - 1) * 256L / 8L
        val x0 = (vx >> 8).toInt
        val fx = vx & 255L
        val x1 = math.min(x0 + 1, w - 1)
        vals(gy)(gx) =
          (256L - fx) * (256L - fy) * lumaQ(img.getRGB(x0, y0)) +
            fx * (256L - fy) * lumaQ(img.getRGB(x1, y0)) +
            (256L - fx) * fy * lumaQ(img.getRGB(x0, y1)) +
            fx * fy * lumaQ(img.getRGB(x1, y1))
        gx += 1
      }
      gy += 1
    }
    var hash = 0L
    var i = 0
    while (i < 64) {
      val gy = i / 8
      val gx = i % 8
      if (vals(gy)(gx) < vals(gy)(gx + 1)) hash |= 1L << i
      i += 1
    }
    java.lang.Long.valueOf(hash)
  }
}

/** Deterministic small perturbation of an image payload: decode, XOR
  * the low bit of each channel on three seed-chosen pixels, re-encode
  * as PNG. The edited bytes share nothing with the original (PNG
  * recompresses), but the picture is visually unchanged — the planted
  * near-duplicate for exercising [[DHash64]]-based dedup, standing in
  * for a crawler's re-encoded/retouched copies. NULL for undecodable
  * payloads (so it composes over mixed media tables).
  */
case class PngPerturb(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "png_perturb"

  override def nullSafeEval(payload: Any, seed: Any): Any =
    PngPerturb.compute(payload.asInstanceOf[Array[Byte]],
      seed.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (p, s) => s"""
      ${ev.value} = graft.functions.PngPerturb.compute($p, $s);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): PngPerturb =
    copy(left = newLeft, right = newRight)
}

/** 64-bit perceptual audio fingerprint: one bit per amplitude
  * comparison between 65 evenly-spaced sample probes — shape-of-the-
  * waveform, not bytes-of-the-file, so a re-dithered or lightly-edited
  * copy keeps its fingerprint while `xxhash64(payload)` changes
  * completely. All-integer (raw PCM16 sample compares; no float
  * anywhere), NULL for bytes the JDK audio parser rejects.
  *
  * Perturbation bound (the pairing contract with [[WavPerturb]]): each
  * edited sample can be a probe for at most one index and each probe
  * feeds at most two comparisons, so k sample edits move the
  * fingerprint at most 2k bits — with [[WavPerturb]]'s 3 edits,
  * Hamming ≤ 6, inside the ≤ 7 pigeonhole recall of 8-bit chunk
  * banding ([[graft.dedup.Dedup.hammingCandidates]] at chunkBits = 8).
  */
case class AudioFp64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "audio_fp64"

  override def nullSafeEval(input: Any): Any =
    AudioFp64.compute(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val fp = ctx.freshName("afp")
      s"""
      java.lang.Long $fp = graft.functions.AudioFp64.compute($c);
      if ($fp == null) { ${ev.isNull} = true; }
      else { ${ev.value} = $fp.longValue(); }
    """
    })

  override protected def withNewChildInternal(
      newChild: Expression): AudioFp64 = copy(child = newChild)
}

object AudioFp64 {

  /** Called from generated code; must stay public + static-shaped.
    * Returns null for unparseable bytes, non-PCM16-mono formats, or
    * clips shorter than 65 samples (probes must be distinct for the
    * perturbation bound to hold).
    *
    * r22: direct RIFF walk ([[WavPcm]]) instead of `AudioSystem` —
    * the JDK entry point serializes every payload on the process-
    * global audio provider registry (the ImageIO disk-cache lesson,
    * audio edition). Fingerprints are byte-identical on WAVs the JDK
    * accepts as PCM16 mono (AudioCodecSpec pins the equivalence).
    */
  def compute(bytes: Array[Byte]): java.lang.Long = {
    val info = WavPcm.parse(bytes)
    if (info == null) return null
    val n = info.nSamples
    if (n < 65) return null
    def probe(i: Int): Int = WavPcm.sampleAt(bytes, info.dataOff,
      ((i.toLong * (n - 1)) / 64L).toInt)
    var hash = 0L
    var i = 0
    while (i < 64) {
      if (probe(i) < probe(i + 1)) hash |= 1L << i
      i += 1
    }
    java.lang.Long.valueOf(hash)
  }
}

/** Deterministic small perturbation of a WAV payload: XOR the low bit
  * of three seed-chosen PCM16 samples in place (the data chunk is
  * located by RIFF walk, all other bytes untouched) — the audio
  * sibling of [[PngPerturb]], planting near-duplicates whose exact
  * byte fingerprint changes while [[AudioFp64]] moves at most 6 bits.
  * NULL for payloads without a RIFF/WAVE data chunk.
  */
case class WavPerturb(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "wav_perturb"

  override def nullSafeEval(payload: Any, seed: Any): Any =
    WavPerturb.compute(payload.asInstanceOf[Array[Byte]],
      seed.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (p, s) => s"""
      ${ev.value} = graft.functions.WavPerturb.compute($p, $s);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): WavPerturb =
    copy(left = newLeft, right = newRight)
}

object WavPerturb {

  /** Called from generated code; must stay public + static-shaped.
    * Walks the RIFF chunk list for `data`; returns null when the bytes
    * are not a RIFF/WAVE stream with one.
    */
  def compute(bytes: Array[Byte], seed: Long): Array[Byte] = {
    if (bytes.length < 12 ||
      bytes(0) != 'R' || bytes(1) != 'I' || bytes(2) != 'F' ||
      bytes(3) != 'F' || bytes(8) != 'W' || bytes(9) != 'A' ||
      bytes(10) != 'V' || bytes(11) != 'E') return null
    val buf = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var off = 12
    while (off + 8 <= bytes.length) {
      val id = new String(bytes, off, 4, "US-ASCII")
      val len = buf.getInt(off + 4)
      if (len < 0 || off + 8 + len > bytes.length) return null
      if (id == "data") {
        val n = len / 2
        if (n == 0) return null
        val out = java.util.Arrays.copyOf(bytes, bytes.length)
        var i = 0
        while (i < 3) {
          val x = java.lang.Math.floorMod(
            PngPerturb.mix(seed * 7919L + i), n.toLong).toInt
          // low byte of the little-endian PCM16 sample
          out(off + 8 + 2 * x) = (out(off + 8 + 2 * x) ^ 1).toByte
          i += 1
        }
        return out
      }
      off += 8 + len + (len & 1)
    }
    null
  }
}

object PngPerturb {

  private[functions] def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Called from generated code; must stay public + static-shaped. */
  def compute(bytes: Array[Byte], seed: Long): Array[Byte] = {
    val img = ImageCodec.read(bytes)
    if (img == null) return null
    val w = img.getWidth
    val h = img.getHeight
    var i = 0
    while (i < 3) {
      val m = mix(seed * 7919L + i)
      val x = java.lang.Math.floorMod(m, w.toLong).toInt
      val y = java.lang.Math.floorMod(m >>> 16, h.toLong).toInt
      img.setRGB(x, y, img.getRGB(x, y) ^ 0x010101)
      i += 1
    }
    ImageCodec.write(img, "png")
  }
}
