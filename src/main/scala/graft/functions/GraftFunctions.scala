package graft.functions

import scala.reflect.{classTag, ClassTag}

import org.apache.spark.sql.{AnalysisException, Column}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.functions.call_function

/** Column-level entry points for graft's custom Catalyst expressions;
  * the SQL functions they call come with `graft.governance.GraftExtensions`.
  */
object GraftFunctions {

  /** 64-bit SimHash of a token array (see [[SimHash]]). */
  def simhash64(tokens: Column): Column = call_function("simhash64", tokens)

  /** k-value MinHash signature of a token array (see [[MinHashSig]]). */
  def minhash32(tokens: Column, shingleSize: Int, k: Int): Column =
    call_function("minhash32", tokens,
      org.apache.spark.sql.functions.lit(shingleSize),
      org.apache.spark.sql.functions.lit(k))

  /** Fused quantized cosine of two float vectors (see [[CosineQuant]]). */
  def cosineQuant(a: Column, b: Column): Column =
    call_function("cosine_quant", a, b)

  /** 1e-6 fixed-point components of a float vector (see
    * [[QuantizeVec]]).
    */
  def quantizeVec(v: Column): Column = call_function("quantize_vec", v)

  /** Exact dot product of two quantized vectors (see [[DotQ]]). */
  def dotQ(a: Column, b: Column): Column = call_function("dot_q", a, b)

  /** Hyperplane LSH bucket of a float vector (see [[HyperplaneBucket]]). */
  def hplaneBucket(v: Column, bits: Int, dims: Int): Column =
    call_function("hplane_bucket", v,
      org.apache.spark.sql.functions.lit(bits),
      org.apache.spark.sql.functions.lit(dims))

  /** Word n-gram shingles of a token array (see [[Shingles]]). */
  def shingles(tokens: Column, n: Int): Column =
    call_function("shingles", tokens,
      org.apache.spark.sql.functions.lit(n))

  /** Whitespace tokens of a string (see [[WsTokens]]). */
  def wsTokens(text: Column): Column = call_function("ws_tokens", text)

  /** Intersection size of two rank-sorted token arrays (see
    * [[RankedIntersectCount]]).
    */
  def rankedIntersectCount(a: Column, b: Column): Column =
    call_function("ranked_intersect_count", a, b)

  /** Char 1+2-grams of the lowercased text (see [[CharGrams]]). */
  def charGrams(text: Column): Column = call_function("char_grams", text)

  /** Learned language-ID argmax of a gram stream against a constant
    * profile (see [[LangArgmax]]).
    */
  def langArgmax(grams: Column, profile: Column): Column =
    call_function("lang_argmax", grams, profile)

  /** All-bits-set probe of a packed Bloom bitmask (see
    * [[BloomBitsSet]]).
    */
  def bloomBitsSet(mask: Column, positions: Column): Column =
    call_function("bloom_bits_set", mask, positions)

  /** Per-row n-gram repetition stats of a token array (see
    * [[GramRepStats]]).
    */
  def gramRepStats(tokens: Column): Column =
    call_function("gram_rep_stats", tokens)

  /** Deterministic tiny PNG from a long seed (see [[PngEncode]]). */
  def pngEncode(seed: Column): Column = call_function("png_encode", seed)

  /** `(width, height, mean_luma)` of an image payload, NULL when the
    * bytes are not a decodable image (see [[ImageDecode]]).
    */
  def imageDecode(payload: Column): Column =
    call_function("image_decode", payload)

  /** Deterministic mono PCM16 WAV from a long seed (see [[WavEncode]]). */
  def wavEncode(seed: Column): Column = call_function("wav_encode", seed)

  /** `(sample_rate, n_samples, rms, peak)` of an audio payload, NULL
    * when the bytes are not parseable PCM audio (see [[WavDecode]]).
    */
  def wavDecode(payload: Column): Column =
    call_function("wav_decode", payload)

  /** Deterministic MJPEG-in-AVI clip from a long seed (see
    * [[AviEncode]]).
    */
  def aviEncode(seed: Column): Column = call_function("avi_encode", seed)

  /** `(n_frames, width, height, mean_luma)` of a video payload, NULL
    * when the bytes are not an AVI of decodable frames (see
    * [[AviDecode]]).
    */
  def aviDecode(payload: Column): Column =
    call_function("avi_decode", payload)

  /** 64-bit perceptual difference hash of an image payload, NULL when
    * the bytes are not a decodable image (see [[DHash64]]).
    */
  def dhash64(payload: Column): Column = call_function("dhash64", payload)

  /** Deterministic 3-pixel low-bit perturbation of an image payload,
    * re-encoded as PNG (see [[PngPerturb]]).
    */
  def pngPerturb(payload: Column, seed: Column): Column =
    call_function("png_perturb", payload, seed)

  /** 64-bit perceptual audio fingerprint of a WAV payload, NULL when
    * the bytes are not parseable PCM audio (see [[AudioFp64]]).
    */
  def audioFp64(payload: Column): Column =
    call_function("audio_fp64", payload)

  /** Deterministic 3-sample low-bit perturbation of a WAV payload
    * (see [[WavPerturb]]).
    */
  def wavPerturb(payload: Column, seed: Column): Column =
    call_function("wav_perturb", payload, seed)

  /** Canonical NFC composition of a string (see [[NfcNormalize]]). */
  def nfcNormalize(text: Column): Column =
    call_function("nfc_normalize", text)

  /** Combining-mark removal — "Café" → "Cafe" (see [[StripAccents]]). */
  def stripAccents(text: Column): Column =
    call_function("strip_accents", text)

  /** Every graft SQL function, for `GraftExtensions` to inject (the
    * `CdcSql.tableFunctions` pattern). Spark copies the injected registry
    * into each session, `newSession()` children included; the functions
    * stay session-scoped, not builtins.
    */
  private[graft] val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    fn("simhash64")(es => SimHash(es.head)),
    fn("minhash32")(es => MinHashSig(es.head,
      intArg("minhash32", "shingleSize", es(1)),
      intArg("minhash32", "k", es(2)))),
    fn("cosine_quant")(es => CosineQuant(es(0), es(1))),
    fn("quantize_vec")(es => QuantizeVec(es.head)),
    fn("dot_q")(es => DotQ(es(0), es(1))),
    fn("hplane_bucket")(es => HyperplaneBucket(es(0),
      intArg("hplane_bucket", "bits", es(1)),
      intArg("hplane_bucket", "dims", es(2)))),
    fn("binary_stride")(es =>
      BinaryStride(es.head, intArg("binary_stride", "factor", es(1)))),
    fn("shingles")(es => Shingles(es.head, intArg("shingles", "n", es(1)))),
    fn("ws_tokens")(es => WsTokens(es.head)),
    fn("ranked_intersect_count")(es => RankedIntersectCount(es(0), es(1))),
    fn("char_grams")(es => CharGrams(es.head)),
    fn("lang_argmax")(es => LangArgmax(es(0), es(1))),
    fn("bloom_bits_set")(es => BloomBitsSet(es(0), es(1))),
    fn("gram_rep_stats")(es => GramRepStats(es.head)),
    fn("png_encode")(es => PngEncode(es.head)),
    fn("image_decode")(es => ImageDecode(es.head)),
    fn("wav_encode")(es => WavEncode(es.head)),
    fn("wav_decode")(es => WavDecode(es.head)),
    fn("avi_encode")(es => AviEncode(es.head)),
    fn("avi_decode")(es => AviDecode(es.head)),
    fn("dhash64")(es => DHash64(es.head)),
    fn("png_perturb")(es => PngPerturb(es(0), es(1))),
    fn("audio_fp64")(es => AudioFp64(es.head)),
    fn("wav_perturb")(es => WavPerturb(es(0), es(1))),
    fn("nfc_normalize")(es => NfcNormalize(es.head)),
    fn("strip_accents")(es => StripAccents(es.head)))

  private def fn[E <: Expression: ClassTag](name: String)(
      build: Seq[Expression] => E)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo(classTag[E].runtimeClass.getName, name), build)

  /** The value of `fn`'s int-literal argument `arg` (an Int or Long
    * constant); anything else fails analysis naming both.
    */
  private def intArg(fn: String, arg: String, e: Expression): Int =
    (if (e.foldable) e.eval() else null) match {
      case i: Int  => i
      case l: Long => l.toInt
      case _ => throw new AnalysisException(
        "INVALID_PARAMETER_VALUE.INTEGER",
        Map("parameter" -> s"`$arg`", "functionName" -> s"`$fn`",
          "invalidValue" -> e.sql))
    }
}
