package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.multimodal.{Multimodal => M}

class MultimodalSpec extends AnyFunSuite with SparkTestBase {

  private def docs() = {
    import spark.implicits._
    Seq(
      (0L, "hello world of binary payloads", "en", "web"),
      (1L, "a much longer document body that stands in for media bytes " +
        "with enough length to sample several frames from", "en", "web"),
      (2L, "short", "de", "book")
    ).toDF("doc_id", "text", "lang", "source")
  }

  test("media table schema: binary payload + typed metadata struct; " +
    "image rows carry a REAL PNG byte stream") {
    val m = M.mediaFromDocs(docs())
    assert(m.schema("payload").dataType ==
      org.apache.spark.sql.types.BinaryType)
    val meta = m.schema("meta").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(meta.fieldNames.toSeq == Seq("byte_len", "origin", "lang_hint"))
    // doc 0 is image-typed: its payload decodes as a genuine PNG via
    // the plain JDK reader, at the seed-derived dimensions
    val img = m.filter(col("media_id") === 0).collect().head
    assert(img.getAs[String]("media_type") == "image")
    val decoded = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(img.getAs[Array[Byte]]("payload")))
    assert(decoded != null, "image payload must be a decodable PNG")
    assert(decoded.getWidth == graft.functions.PngEncode.widthOf(0L))
    assert(decoded.getHeight == graft.functions.PngEncode.heightOf(0L))
    // doc 1 is audio-typed: its payload parses as a genuine WAV via
    // the plain JDK audio reader, at the seed-derived frame count
    val au = m.filter(col("media_id") === 1).collect().head
    assert(au.getAs[String]("media_type") == "audio")
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(au.getAs[Array[Byte]]("payload")))
    assert(ais.getFormat.getSampleRate == 8000.0f)
    assert(ais.getFrameLength == graft.functions.WavEncode.nSamplesOf(1L))
  }

  test("every media row carries an encoded payload; meta records the " +
    "SOURCE length for all rows; doc 2's video payload is a real AVI") {
    val rows = M.mediaFromDocs(docs())
      .select(col("media_id"), col("media_type"),
        M.payloadBytes(col("payload")).as("n"), col("meta.byte_len"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(2) > 0, r.toString)
      assert(r.getLong(3) > 0, r.toString)
    }
    val av = M.mediaFromDocs(docs()).filter(col("media_id") === 2)
      .collect().head
    assert(av.getAs[String]("media_type") == "video")
    val bytes = av.getAs[Array[Byte]]("payload")
    assert(new String(bytes.take(4), "US-ASCII") == "RIFF")
    assert(new String(bytes.slice(8, 12), "US-ASCII") == "AVI ")
  }

  test("avi_encode / avi_decode round-trip: frame count and " +
    "dimensions follow the seed formulas, mean luma tracks the raw " +
    "pixels within JPEG loss, unparseable bytes decode NULL") {
    import spark.implicits._
    val rt = (0L until 25L).toDF("seed")
      .select(col("seed"),
        M.decodeVideo(graft.functions.GraftFunctions
          .aviEncode(col("seed"))).as("v"))
      .select(col("seed"), col("v.n_frames"), col("v.width"),
        col("v.height"), col("v.mean_luma"))
      .collect()
    assert(rt.length == 25)
    rt.foreach { r =>
      val s = r.getLong(0)
      val (n, w, h) = (graft.functions.AviEncode.nFramesOf(s),
        graft.functions.AviEncode.widthOf(s),
        graft.functions.AviEncode.heightOf(s))
      assert(r.getInt(1) == n && r.getInt(2) == w && r.getInt(3) == h,
        s"structure mismatch at seed $s: $r")
      // raw-pixel luma mean from the shared generator; JPEG is lossy
      // but roughly zero-mean on the error, so the clip means agree
      var sum = 0.0
      for (f <- 0 until n; y <- 0 until h; x <- 0 until w) {
        val rgb = graft.functions.AviEncode.framePixel(s, f, x, y)
        sum += 0.299 * ((rgb >> 16) & 0xff) +
          0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
      }
      val raw = sum / (n.toLong * w * h)
      assert(math.abs(r.getDouble(4) - raw) < 10.0,
        s"luma drifted past JPEG loss at seed $s: ${r.getDouble(4)} " +
          s"vs raw $raw")
    }
    val nul = Seq("just text").toDF("t")
      .select(M.decodeVideo($"t".cast("binary")).as("v"))
      .collect().head
    assert(nul.isNullAt(0))
  }

  test("wav_encode / wav_decode round-trip: rate and sample count " +
    "follow the seed formulas, rms tracks the seeded amplitude, " +
    "unparseable bytes decode NULL") {
    import spark.implicits._
    val seeds = (0L until 40L).toDF("seed")
    val rt = seeds.select(col("seed"),
        M.decodeAudio(graft.functions.GraftFunctions
          .wavEncode(col("seed"))).as("au"))
      .select(col("seed"), col("au.sample_rate"), col("au.n_samples"),
        col("au.rms"), col("au.peak"))
      .collect()
    assert(rt.length == 40)
    rt.foreach { r =>
      val s = r.getLong(0)
      assert(r.getInt(1) == graft.functions.WavEncode.SampleRate)
      assert(r.getLong(2) == graft.functions.WavEncode.nSamplesOf(s),
        s"sample count mismatch at seed $s")
      val amp = graft.functions.WavEncode.ampOf(s)
      // a sine's rms is amp/sqrt(2) up to quantization + partial-period
      // truncation; peak is within one quantization step of amp
      assert(math.abs(r.getDouble(3) - amp / math.sqrt(2.0)) < 0.05,
        s"rms ${r.getDouble(3)} vs amp $amp at seed $s")
      assert(r.getDouble(4) <= amp + 1.0 / 32767 &&
        r.getDouble(4) > amp * 0.9, s"peak off at seed $s")
    }
    // text bytes are not audio: NULL, not an error
    val nul = Seq("just text").toDF("t")
      .select(M.decodeAudio($"t".cast("binary")).as("au"))
      .collect().head
    assert(nul.isNullAt(0))
  }

  test("png_encode / image_decode round-trip: dimensions follow the " +
    "seed formula, luma is a valid pixel mean, undecodable bytes " +
    "decode NULL") {
    import spark.implicits._
    val seeds = (0L until 40L).toDF("seed")
    val rt = seeds.select(col("seed"),
        M.decodeImage(graft.functions.GraftFunctions
          .pngEncode(col("seed"))).as("img"))
      .select(col("seed"), col("img.width"), col("img.height"),
        col("img.mean_luma"))
      .collect()
    assert(rt.length == 40)
    rt.foreach { r =>
      val s = r.getLong(0)
      assert(r.getInt(1) == graft.functions.PngEncode.widthOf(s),
        s"width mismatch at seed $s")
      assert(r.getInt(2) == graft.functions.PngEncode.heightOf(s),
        s"height mismatch at seed $s")
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 255.0)
    }
    // text bytes are not an image: NULL, not an error
    val nul = Seq("just text").toDF("t")
      .select(M.decodeImage($"t".cast("binary")).as("img"))
      .collect().head
    assert(nul.isNullAt(0))
  }

  test("q_media_decode: image rows decode to their true dimensions, " +
    "audio rows to their true sample counts, video rows carry the " +
    "stub feature with NULL codec fields") {
    val rows = SparkEntry.queries("q_media_decode")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    assert(rows.exists(_.getAs[String]("media_type") == "audio"))
    rows.foreach { r =>
      val id = r.getAs[Long]("media_id")
      r.getAs[String]("media_type") match {
        case "image" =>
          assert(r.getAs[Int]("width") ==
            graft.functions.PngEncode.widthOf(id))
          assert(r.getAs[Int]("height") ==
            graft.functions.PngEncode.heightOf(id))
          assert(r.isNullAt(r.fieldIndex("n_samples")))
        case "audio" =>
          assert(r.getAs[Long]("n_samples") ==
            graft.functions.WavEncode.nSamplesOf(id))
          assert(r.getAs[Int]("sample_rate") ==
            graft.functions.WavEncode.SampleRate)
          assert(r.isNullAt(r.fieldIndex("width")))
        case _ =>
          assert(r.isNullAt(r.fieldIndex("width")))
          assert(r.isNullAt(r.fieldIndex("n_samples")))
          assert(!r.isNullAt(r.fieldIndex("feat0")))
      }
    }
  }

  test("frameSample yields n fixed-width slices from the payload") {
    import spark.implicits._
    val frames = Seq("a much longer document body that stands in for " +
      "media bytes with enough length to sample several frames from")
      .toDF("text").select($"text".cast("binary").as("payload"))
      .select(M.frameSample(col("payload"), 4, 8).as("f"))
      .collect().head.getSeq[Array[Byte]](0)
    assert(frames.length == 4)
    assert(frames.forall(_.length == 8))
    // first frame is the payload prefix
    assert(new String(frames.head, "UTF-8") == "a much l")
  }

  test("decodeStub: fixed dims, deterministic, bounded to [-1, 1]") {
    val feats = M.mediaFromDocs(docs())
      .select(col("media_id"), M.decodeStub(col("payload"), 8).as("f"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(feats.values.forall(_.length == 8))
    assert(feats.values.flatten.forall(v => v >= -1.0 && v <= 1.0))
    // deterministic across evaluations
    val again = M.mediaFromDocs(docs())
      .select(col("media_id"), M.decodeStub(col("payload"), 8).as("f"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(feats == again)
  }

  test("resizeStub downsamples payload bytes by the factor") {
    import spark.implicits._
    val out = Seq("abcdefghij").toDF("text")
      .select(M.resizeStub($"text".cast("binary"), 3).as("r"),
        M.resizeStub($"text".cast("binary"), 1).as("same"))
      .collect().head
    assert(new String(out.getAs[Array[Byte]]("r"), "UTF-8") == "adgj")
    assert(new String(out.getAs[Array[Byte]]("same"), "UTF-8") ==
      "abcdefghij")
  }

  test("payload fingerprint detects identical bytes") {
    import spark.implicits._
    val two = Seq((0L, "same bytes"), (1L, "same bytes"),
      (2L, "other bytes")).toDF("doc_id", "text")
      .select($"doc_id", M.payloadFingerprint($"text".cast("binary"))
        .as("fp")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(two(0L) == two(1L))
    assert(two(0L) != two(2L))
  }

  test("dhash64: deterministic, matches the sequential compute, NULL " +
      "for non-image bytes, and two calls codegen in one projection") {
    import spark.implicits._
    val seeds = (0L until 40L).toDF("seed")
    val out = seeds.select($"seed",
      graft.functions.GraftFunctions.dhash64(
        graft.functions.GraftFunctions.pngEncode($"seed")).as("fp"),
      // second call in the same projection: regression for the
      // generated-code local-name collision
      graft.functions.GraftFunctions.dhash64(
        graft.functions.GraftFunctions.pngEncode($"seed" + 1000L))
        .as("fp_other"))
      .collect()
    out.foreach { r =>
      val seed = r.getLong(0)
      val expected = graft.functions.DHash64
        .compute(graft.functions.PngEncode.compute(seed))
      assert(r.getLong(1) === expected.longValue(), s"seed $seed")
    }
    // distinct random images: hashes disagree (not a constant function)
    assert(out.map(_.getLong(1)).distinct.length > 30)
    // non-image bytes hash NULL (mixed media tables in one pass)
    val nulls = Seq(7L).toDF("seed")
      .select(graft.functions.GraftFunctions.dhash64(
        graft.functions.GraftFunctions.wavEncode($"seed")).as("fp"))
      .collect()
    assert(nulls.head.isNullAt(0))
  }

  test("png_perturb changes every-byte-comparable payload but not the " +
      "perceptual hash; near-dup pairs recover exactly the planted set") {
    import spark.implicits._
    val n = 60L
    val images = (0L until n).toDF("seed")
      .select($"seed".as("media_id"),
        graft.functions.GraftFunctions.pngEncode($"seed").as("payload"))
    val variants = images.filter($"media_id" % 3 === 0)
      .select(($"media_id" + 1000L).as("media_id"),
        graft.functions.GraftFunctions
          .pngPerturb($"payload", $"media_id").as("payload"))
    // the retouched copy shares no BYTES with the original …
    val joined = images.as("a").join(variants.as("b"),
      col("a.media_id") + 1000L === col("b.media_id"))
    assert(joined.filter(
      M.payloadFingerprint(col("a.payload")) ===
        M.payloadFingerprint(col("b.payload"))).count() === 0L)
    // … yet every planted pair is recovered perceptually, at the
    // declared threshold, with no unrelated pair admitted
    val pairs = M.imageNearDupPairs(images.unionByName(variants),
      "media_id", "payload")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0L until n by 3).map(s => (s, s + 1000L)).toSet
    assert(pairs === planted)
  }

  test("audio_fp64: deterministic, matches the sequential compute, " +
      "NULL for image bytes and sub-65-sample clips") {
    import spark.implicits._
    val out = (0L until 40L).toDF("seed")
      .select($"seed", graft.functions.GraftFunctions.audioFp64(
        graft.functions.GraftFunctions.wavEncode($"seed")).as("fp"))
      .collect()
    out.foreach { r =>
      val expected = graft.functions.AudioFp64
        .compute(graft.functions.WavEncode.compute(r.getLong(0)))
      assert(r.getLong(1) === expected.longValue(), s"seed ${r.getLong(0)}")
    }
    val pngFp = Seq(3L).toDF("seed")
      .select(graft.functions.GraftFunctions.audioFp64(
        graft.functions.GraftFunctions.pngEncode($"seed")).as("fp"))
      .collect()
    assert(pngFp.head.isNullAt(0))
  }

  test("wav_perturb: bytes change, the waveform fingerprint moves at " +
      "most the PROVEN 6-bit bound, and planted pairs are always " +
      "recovered (pigeonhole recall at 8-bit chunks)") {
    import spark.implicits._
    val n = 60L
    val audios = (0L until n).toDF("seed")
      .select($"seed".as("media_id"),
        graft.functions.GraftFunctions.wavEncode($"seed").as("payload"))
    val variants = audios.filter($"media_id" % 3 === 0)
      .select(($"media_id" + 1000L).as("media_id"),
        graft.functions.GraftFunctions
          .wavPerturb($"payload", $"media_id").as("payload"))
    val joined = audios.as("a").join(variants.as("b"),
      col("a.media_id") + 1000L === col("b.media_id"))
    // exact byte fingerprints always diverge …
    assert(joined.filter(
      M.payloadFingerprint(col("a.payload")) ===
        M.payloadFingerprint(col("b.payload"))).count() === 0L)
    // … while the perceptual fingerprint moves within the edit bound
    val hams = joined.select(bit_count(
      M.audioFingerprint(col("a.payload")).bitwiseXOR(
        M.audioFingerprint(col("b.payload")))).as("ham"))
      .collect().map(_.getInt(0))
    assert(hams.nonEmpty && hams.forall(_ <= 6))
    // recall is guaranteed: every planted pair appears (close-frequency
    // tone pairs may ALSO appear — same-pitch audio pairing up is the
    // fingerprint working, so this asserts containment, not equality)
    val pairs = M.audioNearDupPairs(audios.unionByName(variants),
      "media_id", "payload")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0L until n by 3).map(s => (s, s + 1000L)).toSet
    assert(planted.subsetOf(pairs))
  }
}
