package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType, IntegerType, LongType, StructField, StructType}

/* Real audio codec expressions over binary payload columns — the
  * audio sibling of [[ImageCodec]] (reference
  * `generate_sample_data.py` ships only tabular data; a training-data
  * lake carries media sidecars). WAV/PCM is pure-JDK
  * (`javax.sound.sampled`, java.desktop module — the same module
  * ImageIO lives in), so encode/decode here are REAL codec paths with
  * zero added dependencies; compressed audio (mp3/ogg) and video stay
  * behind the documented [[graft.multimodal.Multimodal.decodeStub]]
  * seam — this container ships no codec libraries for those.
  *
  * Both expressions are single-pass evals dispatched from generated
  * code (static `compute` calls, the [[BinaryStride]] shape), so they
  * sit inside WholeStageCodegen spans rather than breaking them. At
  * 100 TB the decode is embarrassingly parallel map-side work over an
  * ordinary binary column — no shuffle, no special-cased dataflow.
  */

/** Deterministic mono PCM16 WAV from a long seed: the sample count
  * derives from the seed ([[WavEncode.nSamplesOf]], 200–1000 samples
  * at 8 kHz) and the waveform is a seed-keyed sine tone
  * ([[WavEncode.freqOf]]/[[WavEncode.ampOf]], `StrictMath.sin` so the
  * bytes are bit-identical on any JVM) — a REAL, decodable RIFF/WAVE
  * byte stream standing in for crawled audio, reproducible across
  * runs and engines.
  */
case class WavEncode(child: Expression) extends UnaryExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "wav_encode"

  override def nullSafeEval(input: Any): Any =
    WavEncode.compute(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.WavEncode.compute($c)")

  override protected def withNewChildInternal(
      newChild: Expression): WavEncode = copy(child = newChild)
}

object WavEncode {

  val SampleRate = 8000

  def nSamplesOf(seed: Long): Int =
    200 + java.lang.Math.floorMod(seed, 801L).toInt

  /** Tone frequency in Hz, 100–999 — below Nyquist at 8 kHz. */
  def freqOf(seed: Long): Int =
    100 + java.lang.Math.floorMod(seed / 7L, 900L).toInt

  /** Peak amplitude in [0.10, 0.89] of full scale. */
  def ampOf(seed: Long): Double =
    0.1 + java.lang.Math.floorMod(seed / 3L, 80L) / 100.0

  /** Called from generated code; must stay public + static-shaped. */
  def compute(seed: Long): Array[Byte] = {
    val n = nSamplesOf(seed)
    val f = freqOf(seed)
    val a = ampOf(seed)
    val dataLen = n * 2
    val out = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1) // PCM, mono
      .putInt(SampleRate).putInt(SampleRate * 2)
      .putShort(2).putShort(16) // block align, bits/sample
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < n) {
      val s = a * StrictMath.sin(
        2.0 * StrictMath.PI * f * i / SampleRate)
      out.putShort(StrictMath.round(s * 32767.0).toShort)
      i += 1
    }
    out.array()
  }
}

/** Decode an audio payload through the JDK's WAV parser to
  * `(sample_rate, n_samples, rms, peak)` — NULL when the bytes are not
  * parseable PCM audio (image/video rows of a mixed media table take
  * this branch), so mixed media tables decode in one pass without a
  * media-type dispatch. `rms` and `peak` are over samples normalized
  * to [-1, 1] — the canonical cheap loudness features.
  */
case class WavDecode(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("n_samples", LongType, nullable = false),
    StructField("rms", DoubleType, nullable = false),
    StructField("peak", DoubleType, nullable = false)))

  override def nullable: Boolean = true
  override def prettyName: String = "wav_decode"

  override def nullSafeEval(input: Any): Any =
    WavDecode.compute(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    // nullSafeCodeGen (not defineCodeGen): unparseable bytes yield a
    // java null that must flip the null flag, not flow on as a value
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.WavDecode.compute($c);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildInternal(
      newChild: Expression): WavDecode = copy(child = newChild)
}

object WavDecode {

  /** Called from generated code; must stay public + static-shaped.
    * Returns null for bytes that are not a RIFF/WAVE stream of 16-bit
    * signed PCM mono (the only shape [[WavEncode]] — and canonical
    * WAV — produces).
    *
    * r22: direct RIFF chunk walk ([[WavPcm]]) instead of
    * `AudioSystem.getAudioInputStream` — the JDK entry point funnels
    * every payload through the process-global audio provider registry
    * (a synchronized service lookup), which serialized the decode
    * across all in-JVM tasks (the ImageIO disk-cache lesson, audio
    * edition). Accept/reject and the decoded values are byte-identical
    * on WAVs the JDK parser accepts as PCM16 mono (AudioCodecSpec pins
    * the equivalence against `javax.sound` over the generated corpus,
    * perturbed copies, and non-audio payloads).
    */
  def compute(bytes: Array[Byte])
      : org.apache.spark.sql.catalyst.InternalRow = {
    val info = WavPcm.parse(bytes)
    if (info == null) return null
    val n = info.nSamples
    if (n == 0) return null
    var sumSq = 0.0
    var peak = 0.0
    var i = 0
    while (i < n) {
      val s = WavPcm.sampleAt(bytes, info.dataOff, i) / 32768.0
      sumSq += s * s
      val a = StrictMath.abs(s)
      if (a > peak) peak = a
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](info.sampleRate, n.toLong,
        StrictMath.sqrt(sumSq / n), peak))
  }
}

/** Minimal RIFF/WAVE walker for canonical 16-bit signed PCM MONO
  * streams — the pure-JVM replacement for `AudioSystem` in the codec
  * expressions' hot path. Mirrors the JDK `WaveFileReader` contract on
  * the subset the expressions accept: RIFF/WAVE magic, an `fmt ` chunk
  * BEFORE `data` (the canonical order the JDK requires), format tag 1
  * (plain PCM — A-law/µ-law/extensible all reject, exactly like the
  * downstream `PCM_SIGNED && 16-bit && mono` check used to), 16 bits
  * per sample, one channel; the data length is clamped to the bytes
  * actually present (the JDK stream stops at EOF the same way) and to
  * whole samples. WAV PCM data is little-endian by spec — the JDK
  * reports `isBigEndian = false` for every wave file.
  */
private[functions] final class WavPcmInfo(
    val sampleRate: Int, val dataOff: Int, val nSamples: Int)

private[functions] object WavPcm {

  /** Parse; null when the bytes are not canonical PCM16 mono WAV. */
  def parse(bytes: Array[Byte]): WavPcmInfo = {
    if (bytes.length < 12 ||
      bytes(0) != 'R' || bytes(1) != 'I' || bytes(2) != 'F' ||
      bytes(3) != 'F' || bytes(8) != 'W' || bytes(9) != 'A' ||
      bytes(10) != 'V' || bytes(11) != 'E') return null
    var off = 12
    var sampleRate = -1
    while (off + 8 <= bytes.length) {
      val len = leInt(bytes, off + 4)
      if (len < 0) return null
      val isFmt = bytes(off) == 'f' && bytes(off + 1) == 'm' &&
        bytes(off + 2) == 't' && bytes(off + 3) == ' '
      val isData = bytes(off) == 'd' && bytes(off + 1) == 'a' &&
        bytes(off + 2) == 't' && bytes(off + 3) == 'a'
      if (isFmt) {
        if (len < 16 || off + 8 + 16 > bytes.length) return null
        val fmtTag = leShort(bytes, off + 8)
        val channels = leShort(bytes, off + 10)
        val bits = leShort(bytes, off + 22)
        if (fmtTag != 1 || channels != 1 || bits != 16) return null
        sampleRate = leInt(bytes, off + 12)
      } else if (isData) {
        // fmt must precede data (the JDK parser reads sequentially
        // and fails on a headerless data chunk)
        if (sampleRate < 0) return null
        val avail = bytes.length - (off + 8)
        val dataLen = math.min(len.toLong, avail.toLong).toInt
        return new WavPcmInfo(sampleRate, off + 8, dataLen / 2)
      }
      val skip = 8L + len + (len & 1)
      if (off + skip > Int.MaxValue) return null
      off += skip.toInt
    }
    null
  }

  /** PCM16 little-endian sample `i` of the data chunk at `dataOff`. */
  def sampleAt(bytes: Array[Byte], dataOff: Int, i: Int): Int = {
    val p = dataOff + 2 * i
    ((bytes(p) & 0xff) | (bytes(p + 1) << 8)).toShort.toInt
  }

  private def leShort(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  private def leInt(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)
}
