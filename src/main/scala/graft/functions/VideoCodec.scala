package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType, IntegerType, StructField, StructType}

/* Real video codec expressions over binary payload columns — the last
  * member of the [[ImageCodec]]/`AudioCodec.scala` family. The container
  * is AVI (the public Microsoft RIFF spec: `RIFF('AVI ')` with an
  * `hdrl` header list and a `movi` list of `00dc` frame chunks) and
  * the frames are MJPEG — every frame a complete JPEG — so BOTH
  * halves are pure-JDK: the container is plain chunk arithmetic and
  * the frames decode through `javax.imageio`'s JPEG reader. No video
  * library ships in this container, and none is needed for this
  * (historically common, e.g. camera/scientific capture) format;
  * inter-frame-compressed codecs (H.264 etc.) remain out of scope and
  * decode NULL rather than wrong.
  *
  * Both expressions are single-pass evals dispatched from generated
  * code (the [[BinaryStride]] shape). At 100 TB the decode is
  * embarrassingly parallel map-side work over an ordinary binary
  * column — no shuffle, no special-cased dataflow.
  */

/** Deterministic tiny MJPEG-in-AVI clip from a long seed: frame count
  * and dimensions derive from the seed ([[AviEncode.nFramesOf]] /
  * [[AviEncode.widthOf]] / [[AviEncode.heightOf]]) and pixels from a
  * splitmix-style hash of (seed, frame, x, y). JPEG compression is
  * lossy and its exact bytes are encoder-version-specific, so the
  * DETERMINISTIC facets are the structural ones (frame count, dims —
  * the header and chunk layout are exact); pixel statistics survive
  * decode only approximately (spec-bounded in MultimodalSpec).
  */
case class AviEncode(child: Expression) extends UnaryExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "avi_encode"

  override def nullSafeEval(input: Any): Any =
    AviEncode.compute(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.AviEncode.compute($c)")

  override protected def withNewChildInternal(
      newChild: Expression): AviEncode = copy(child = newChild)
}

object AviEncode {

  val Fps = 10

  def nFramesOf(seed: Long): Int =
    3 + java.lang.Math.floorMod(seed, 6L).toInt

  def widthOf(seed: Long): Int =
    8 + java.lang.Math.floorMod(seed / 11L, 17L).toInt

  def heightOf(seed: Long): Int =
    8 + java.lang.Math.floorMod(seed / 5L, 13L).toInt

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** The raw (pre-JPEG) frame — shared with the spec's luma bound. */
  def framePixel(seed: Long, frame: Int, x: Int, y: Int): Int =
    (mix(seed * 1000003L + frame.toLong * 8191L + y.toLong * 131L + x)
      & 0xffffff).toInt

  private def jpegFrame(seed: Long, frame: Int, w: Int,
      h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y, framePixel(seed, frame, x, y))
        x += 1
      }
      y += 1
    }
    ImageCodec.write(img, "jpg")
  }

  /** Called from generated code; must stay public + static-shaped. */
  def compute(seed: Long): Array[Byte] = {
    val n = nFramesOf(seed)
    val w = widthOf(seed)
    val h = heightOf(seed)
    val frames = (0 until n).map(jpegFrame(seed, _, w, h))
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val pad = body.length % 2 // RIFF chunks are word-aligned
      val bb = java.nio.ByteBuffer.allocate(8 + body.length + pad)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put(id.getBytes("US-ASCII")).putInt(body.length).put(body)
      bb.array()
    }
    def list(kind: String, body: Array[Byte]): Array[Byte] =
      chunk("LIST", kind.getBytes("US-ASCII") ++ body)
    // avih: microsec/frame, maxbytes, padding, flags, totalframes,
    // initial, streams, bufsize, w, h, reserved[4]
    val avih = java.nio.ByteBuffer.allocate(56)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    avih.putInt(1000000 / Fps).putInt(0).putInt(0).putInt(0)
      .putInt(n).putInt(0).putInt(1).putInt(0).putInt(w).putInt(h)
    // strh: 'vids' 'MJPG', flags, prio, lang, initial, scale, rate,
    // start, length, bufsize, quality, samplesize, rcFrame
    val strh = java.nio.ByteBuffer.allocate(56)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    strh.put("vids".getBytes("US-ASCII"))
      .put("MJPG".getBytes("US-ASCII"))
      .putInt(0).putShort(0).putShort(0).putInt(0)
      .putInt(1).putInt(Fps).putInt(0).putInt(n).putInt(0)
      .putInt(-1).putInt(0)
      .putShort(0).putShort(0)
      .putShort(w.toShort).putShort(h.toShort)
    // strf: BITMAPINFOHEADER for MJPG
    val strf = java.nio.ByteBuffer.allocate(40)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    strf.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .put("MJPG".getBytes("US-ASCII")).putInt(w * h * 3)
      .putInt(0).putInt(0).putInt(0).putInt(0)
    val hdrl = list("hdrl", chunk("avih", avih.array()) ++
      list("strl", chunk("strh", strh.array()) ++
        chunk("strf", strf.array())))
    val movi = list("movi",
      frames.flatMap(f => chunk("00dc", f)).toArray)
    chunk("RIFF", "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi)
  }
}

/** Decode a video payload through the RIFF walker + the JDK's JPEG
  * reader to `(n_frames, width, height, mean_luma)` — NULL when the
  * bytes are not an AVI of decodable frames, so mixed media tables
  * decode in one pass with no media-type dispatch. `mean_luma` is the
  * Rec. 601 luma mean over ALL frames' pixels — the cheap brightness
  * feature, averaged across the clip.
  */
case class AviDecode(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n_frames", IntegerType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("mean_luma", DoubleType, nullable = false)))

  override def nullable: Boolean = true
  override def prettyName: String = "avi_decode"

  override def nullSafeEval(input: Any): Any =
    AviDecode.compute(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.AviDecode.compute($c);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildInternal(
      newChild: Expression): AviDecode = copy(child = newChild)
}

object AviDecode {

  /** Called from generated code; must stay public + static-shaped.
    * Returns null for bytes that are not an AVI whose frame chunks
    * all decode as JPEG.
    */
  def compute(bytes: Array[Byte])
      : org.apache.spark.sql.catalyst.InternalRow = {
    if (bytes.length < 12) return null
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourcc(): String = {
      val b = new Array[Byte](4); bb.get(b); new String(b, "US-ASCII")
    }
    if (fourcc() != "RIFF") return null
    bb.getInt() // riff size
    if (fourcc() != "AVI ") return null
    var nFrames = 0
    var w = -1
    var h = -1
    var lumaSum = 0.0
    var pixels = 0L
    // walk top-level and LIST-nested chunks; frame data is any
    // '##dc'/'##db' chunk (compressed / uncompressed DIB naming).
    // Depth-bounded: a hostile byte stream nesting LISTs len/8 deep
    // must exhaust the bound, not the JVM stack.
    def walk(limit: Int, depth: Int): Boolean = {
      if (depth > 32) return false
      while (bb.position() + 8 <= limit) {
        val id = fourcc()
        val len = bb.getInt()
        if (len < 0 || bb.position() + len > limit) return false
        val next = bb.position() + len + (len % 2)
        if (id == "LIST") {
          fourcc() // list kind
          if (!walk(bb.position() + len - 4, depth + 1)) return false
        } else if (id.endsWith("dc") || id.endsWith("db")) {
          val frame = new Array[Byte](len)
          bb.get(frame)
          val img = ImageCodec.read(frame)
          if (img == null) return false
          if (w < 0) { w = img.getWidth; h = img.getHeight }
          else if (w != img.getWidth || h != img.getHeight)
            return false
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              val rgb = img.getRGB(x, y)
              lumaSum += 0.299 * ((rgb >> 16) & 0xff) +
                0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
              x += 1
            }
            y += 1
          }
          pixels += img.getWidth.toLong * img.getHeight
          nFrames += 1
        }
        if (next > limit) return false
        bb.position(next)
      }
      true
    }
    if (!walk(bytes.length, 0) || nFrames == 0) return null
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nFrames, w, h, lumaSum / pixels))
  }
}
