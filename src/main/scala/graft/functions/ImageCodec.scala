package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType, IntegerType, StructField, StructType}

/** Real image codec expressions over binary payload columns — the
  * genuine half of the multimodal story (reference
  * `generate_sample_data.py` ships only tabular data; a training-data
  * lake carries media sidecars). PNG is pure-JDK (`javax.imageio`), so
  * encode/decode here are REAL codec paths with zero added
  * dependencies; audio/video stay behind the documented
  * [[graft.multimodal.Multimodal.decodeStub]] seam (this container
  * ships no codec libraries for them).
  *
  * Both expressions are single-pass evals dispatched from generated
  * code (static `compute` calls, the [[BinaryStride]] shape), so they
  * sit inside WholeStageCodegen spans rather than breaking them. At
  * 100 TB the decode is embarrassingly parallel map-side work over an
  * ordinary binary column — no shuffle, no special-cased dataflow.
  */
object ImageCodec {

  // ImageIO's default useCache=true spools EVERY read/write through a
  // temp disk-cache file created under a process-global lock — one file
  // create+delete per decoded payload (r21, measured: the dominant
  // non-CPU cost of the perceptual/codec paths). Byte-array payloads
  // gain nothing from a disk cache; memory-backed streams remove both
  // the I/O and the contention. JVM-global, idempotent; every ImageIO
  // call in graft goes through this object, so the setting is in place
  // on whichever JVM decodes.
  javax.imageio.ImageIO.setUseCache(false)

  /** The decoded image, or null when the bytes are not a decodable image. */
  def read(bytes: Array[Byte]): java.awt.image.BufferedImage =
    try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    catch { case _: java.io.IOException => null }

  /** `img` encoded as `format` ("png", "jpg"). */
  def write(img: java.awt.image.RenderedImage, format: String)
      : Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    if (!javax.imageio.ImageIO.write(img, format, bos))
      throw new IllegalStateException(s"JDK $format writer unavailable")
    bos.toByteArray
  }
}

/** Deterministic tiny PNG from a long seed: dimensions derive from the
  * seed ([[PngEncode.widthOf]]/[[PngEncode.heightOf]], 4–16 px a side)
  * and pixels from a splitmix-style hash of (seed, x, y) — a REAL,
  * decodable PNG byte stream (IHDR/IDAT/IEND, zlib-compressed) standing
  * in for crawled image bytes, reproducible across runs and engines.
  */
case class PngEncode(child: Expression) extends UnaryExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "png_encode"

  override def nullSafeEval(input: Any): Any =
    PngEncode.compute(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.PngEncode.compute($c)")

  override protected def withNewChildInternal(
      newChild: Expression): PngEncode = copy(child = newChild)
}

object PngEncode {

  def widthOf(seed: Long): Int =
    4 + java.lang.Math.floorMod(seed, 13L).toInt

  def heightOf(seed: Long): Int =
    4 + java.lang.Math.floorMod(seed / 13L, 11L).toInt

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Called from generated code; must stay public + static-shaped. */
  def compute(seed: Long): Array[Byte] = {
    val w = widthOf(seed)
    val h = heightOf(seed)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y,
          (mix(seed * 1000003L + y.toLong * 131L + x) & 0xffffff).toInt)
        x += 1
      }
      y += 1
    }
    ImageCodec.write(img, "png")
  }
}

/** Decode an image payload to `(width, height, mean_luma)` — NULL when
  * the bytes are not a decodable image (the audio/video stub payloads
  * take this branch), so mixed media tables decode in one pass without
  * a media-type dispatch. `mean_luma` is the Rec. 601 luma mean over
  * all pixels, the canonical cheap brightness feature.
  */
case class ImageDecode(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("mean_luma", DoubleType, nullable = false)))

  override def nullable: Boolean = true
  override def prettyName: String = "image_decode"

  override def nullSafeEval(input: Any): Any =
    ImageDecode.compute(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    // nullSafeCodeGen (not defineCodeGen): undecodable bytes yield a
    // java null that must flip the null flag, not flow on as a value
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.ImageDecode.compute($c);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildInternal(
      newChild: Expression): ImageDecode = copy(child = newChild)
}

object ImageDecode {

  /** Called from generated code; must stay public + static-shaped.
    * Returns null for undecodable bytes.
    */
  def compute(bytes: Array[Byte])
      : org.apache.spark.sql.catalyst.InternalRow = {
    val img = ImageCodec.read(bytes)
    if (img == null) return null
    val w = img.getWidth
    val h = img.getHeight
    var sum = 0.0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        sum += 0.299 * ((rgb >> 16) & 0xff) +
          0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
        x += 1
      }
      y += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](w, h, sum / (w.toLong * h)))
  }
}
