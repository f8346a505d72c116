package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Multimodal columns for training-data pipelines: media payloads ride as
  * opaque `binary` columns with typed metadata alongside, and every
  * transform below is ordinary columnar dataflow — so partitioning,
  * predicate pushdown, and shuffle behavior are identical to any other
  * column at 100 TB (the payload bytes never become a special case).
  *
  * ALL THREE codec paths are REAL: image-typed rows carry genuine PNG
  * byte streams ([[graft.functions.PngEncode]], pure-JDK
  * `javax.imageio`) decoded back to dimensions + pixel stats by
  * [[decodeImage]]; audio-typed rows carry genuine RIFF/WAVE PCM16
  * streams ([[graft.functions.WavEncode]]) parsed back through the
  * JDK's own audio parser (`javax.sound.sampled`) to rate/length/
  * loudness by [[decodeAudio]]; video-typed rows carry genuine
  * MJPEG-in-AVI clips ([[graft.functions.AviEncode]] — RIFF container
  * of complete JPEG frames, both halves pure-JDK) walked and
  * frame-decoded by [[decodeVideo]]. [[decodeStub]] remains as the
  * documented SEAM for codec families beyond the JDK (H.264 and
  * friends): swapping it for a real library decoder changes one
  * expression, not the pipeline.
  */
object Multimodal {

  val MediaTypes: Seq[String] = Seq("image", "audio", "video")

  /** Synthesize a media table from the documents corpus: image rows
    * carry a REAL decodable PNG, audio rows a REAL decodable WAV, and
    * video rows a REAL decodable MJPEG-in-AVI clip (all seeded by
    * `doc_id`, so dimensions, samples, frame counts, and pixels are
    * reproducible); media type round-robins by id, and metadata is a
    * typed struct recording the SOURCE asset's content length — the
    * shape a crawler's media sidecar table has.
    */
  def mediaFromDocs(docs: DataFrame): DataFrame = {
    // deliberately NOT scan-spread (r21, measured twice — including
    // after the ImageIO memory-cache fix): the JDK codec stack behind
    // the payload/fingerprint expressions serializes on process-global
    // registries (AudioSystem provider lookup above all), so fanning
    // the rows across in-JVM threads ran 2-4× SLOWER than one task; on
    // a real cluster separate executor JVMs parallelize these for
    // free, so the single-split case needs no in-plan fix
    docs
      .select(
      col("doc_id").as("media_id"),
      element_at(
        array(MediaTypes.map(lit): _*),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("media_type"),
      when(pmod(col("doc_id"), lit(3)) === 0,
          graft.functions.GraftFunctions.pngEncode(col("doc_id")))
        .when(pmod(col("doc_id"), lit(3)) === 1,
          graft.functions.GraftFunctions.wavEncode(col("doc_id")))
        .otherwise(
          graft.functions.GraftFunctions.aviEncode(col("doc_id")))
        .as("payload"),
      struct(
        length(col("text").cast("binary")).cast(LongType).as("byte_len"),
        col("source").as("origin"),
        col("lang").as("lang_hint")).as("meta"))
  }

  /** REAL image decode: `(width, height, mean_luma)` of the payload,
    * NULL when the bytes are not a decodable image — so a mixed media
    * table decodes in one map-side pass with no media-type dispatch.
    */
  def decodeImage(payload: Column): Column =
    graft.functions.GraftFunctions.imageDecode(payload)

  /** REAL audio decode through the JDK's WAV parser:
    * `(sample_rate, n_samples, rms, peak)`, NULL when the bytes are
    * not parseable PCM audio — the audio sibling of [[decodeImage]],
    * same one-pass no-dispatch contract.
    */
  def decodeAudio(payload: Column): Column =
    graft.functions.GraftFunctions.wavDecode(payload)

  /** REAL video decode: the RIFF walker + the JDK's JPEG reader yield
    * `(n_frames, width, height, mean_luma)`, NULL when the bytes are
    * not an AVI of decodable frames — the video sibling of
    * [[decodeImage]], same one-pass no-dispatch contract.
    */
  def decodeVideo(payload: Column): Column =
    graft.functions.GraftFunctions.aviDecode(payload)

  /** Payload size in bytes. */
  def payloadBytes(payload: Column): Column =
    length(payload).cast(LongType)

  /** `n` evenly-spaced fixed-width byte slices of the payload — the
    * binary-plumbing analog of video frame sampling. Pure map-side
    * `substring` on binary; no shuffle, no row explosion unless the caller
    * explodes.
    */
  def frameSample(payload: Column, n: Int, frameLen: Int): Column = {
    val total = length(payload)
    val stride = greatest(total.cast(LongType) / n, lit(1L)).cast("int")
    transform(sequence(lit(0), lit(n - 1)),
      i => substring(payload, i * stride + 1, lit(frameLen)))
  }

  /** STUB resize: byte-level downsample keeping every `factor`-th byte —
    * the binary-plumbing analog of image resizing (a real implementation
    * swaps in a codec's scaler; the schema/partitioning contract — binary
    * in, smaller binary out, map-side — is what downstream operators
    * depend on). Output length is ceil(len / factor). Single-pass
    * codegen'd kernel ([[graft.functions.BinaryStride]]), which comes
    * with `GraftExtensions`.
    */
  def resizeStub(payload: Column, factor: Int): Column =
    org.apache.spark.sql.functions.call_function("binary_stride",
      payload, lit(factor))

  /** STUB decoder: a deterministic `dims`-float fake feature vector from
    * payload byte slices (xxhash of each slice, scaled to [-1, 1]). A real
    * deployment replaces this one expression with a codec call; everything
    * downstream (ANN joins, dedup over features) is unchanged.
    */
  def decodeStub(payload: Column, dims: Int): Column =
    transform(frameSample(payload, dims, 16),
      sl => (pmod(xxhash64(sl), lit(2000001L)) - 1000000L)
        .cast("double") / 1000000.0)

  /** 64-bit content fingerprint of the payload (exact-dup detection over
    * media bytes without ever shuffling the bytes).
    */
  def payloadFingerprint(payload: Column): Column = xxhash64(payload)

  /** 64-bit PERCEPTUAL fingerprint of an image payload (NULL for
    * non-image bytes): survives re-encoding and small retouches that
    * change every payload byte — the decode-level sibling of
    * [[payloadFingerprint]]. See [[graft.functions.DHash64]].
    */
  def imageDHash(payload: Column): Column =
    graft.functions.GraftFunctions.dhash64(payload)

  /** Near-duplicate IMAGE pairs by perceptual hash: dHash each payload
    * map-side (8 bytes per image thereafter — the bytes never shuffle),
    * band the fingerprints into 16-bit chunks (pigeonhole: Hamming ≤ 3
    * pairs always share a chunk), verify exact Hamming on candidates.
    * Non-image payloads hash NULL and drop out, so the input can be a
    * mixed media table.
    */
  def imageNearDupPairs(media: DataFrame, idCol: String,
      payloadCol: String, maxHamming: Int = 3): DataFrame = {
    graft.dedup.Dedup.hammingCandidates(
      media.select(col(idCol).as("doc_id"),
        imageDHash(col(payloadCol)).as("fp")))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** 64-bit PERCEPTUAL fingerprint of an audio payload (NULL for
    * non-audio bytes): waveform shape, not file bytes. See
    * [[graft.functions.AudioFp64]].
    */
  def audioFingerprint(payload: Column): Column =
    graft.functions.GraftFunctions.audioFp64(payload)

  /** Near-duplicate AUDIO pairs by perceptual fingerprint — the audio
    * sibling of [[imageNearDupPairs]]. 8-bit chunk banding (8 chunks →
    * pigeonhole recall at Hamming ≤ 7) because the paired perturbation
    * bound is 6 bits, wider than the image path's 3; the default
    * threshold matches. Non-audio payloads fingerprint NULL and drop
    * out, so the input can be a mixed media table.
    */
  def audioNearDupPairs(media: DataFrame, idCol: String,
      payloadCol: String, maxHamming: Int = 7): DataFrame = {
    graft.dedup.Dedup.hammingCandidates(
      media.select(col(idCol).as("doc_id"),
        audioFingerprint(col(payloadCol)).as("fp")),
      chunkBits = 8)
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }
}
