package graft.validate

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}

/** Image payload validation (BASELINE.json: "decoded-pixel allclose,
  * PSNR >= 40 dB for lossy formats").
  *
  * JVM-only (javax.imageio): deterministic synthetic pixels are encoded
  * to real PNG (lossless) / JPEG (lossy) byte payloads for the `bytes`
  * column, then decoded and compared. Runs test-side and in small-scale
  * validation jobs; the distributed plumbing treats `bytes` as opaque
  * binary either way (SURVEY.md §7.4 binary-payload discipline).
  */
object PixelCheck {

  // In-memory codec streams: ImageIO's default is FILE-backed cache
  // streams (every encode/decode round-trips a temp file), which both
  // slows single-thread codec work and CONTENDS across executor
  // threads — measured 1.5x per-image CPU inflation going 4 -> 16
  // local cores before this switch. Payloads here are small in-memory
  // byte arrays; memory-cached streams are strictly better.
  ImageIO.setUseCache(false)

  /** Deterministic smooth RGB pattern from a seed (low-frequency
    * gradients + sinusoid, seed-dependent phases). Smooth content keeps
    * lossy round-trips in the PSNR>=40dB regime that the baseline
    * demands — pure noise would be a pathological JPEG input, not a
    * representative image payload.
    */
  def syntheticPixels(seed: Long, w: Int, h: Int): Array[Int] = {
    val px = new Array[Int](w * h)
    val p1 = (seed % 7 + 7) % 7
    val p2 = (seed % 11 + 11) % 11
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = (x * 255) / math.max(w - 1, 1)
        val g = (y * 255) / math.max(h - 1, 1)
        val b = (127.5 + 127.5 * math.sin(
          (x + y + p1).toDouble / (4 + p2))).toInt
        px(y * w + x) = (r << 16) | (g << 8) | (b & 0xff)
        x += 1
      }
      y += 1
    }
    px
  }

  def toImage(px: Array[Int], w: Int, h: Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, w, h, px, 0, w)
    img
  }

  /** Encode to png or jpeg bytes.
    *
    * JPEG writes quality 0.95 with 4:4:4 chroma (no subsampling): the
    * JDK writer's default 4:2:0 halves chroma resolution, which on
    * small color-gradient images caps PSNR near 28-36 dB REGARDLESS of
    * quality (q=1.0 still min 28.9 dB over the synthetic sweep) —
    * under the BASELINE 40 dB floor the payloads must meet. With 4:4:4
    * at 0.95 the same sweep measures min 42.4 dB.
    */
  def encode(img: BufferedImage, fmt: String): Array[Byte] = {
    val c = new Codec
    try c.encode(img, fmt) finally c.close()
  }

  /** Partition-reusable codec: the writer instance, write param and
    * 4:4:4 metadata are built ONCE and reused for every image — the
    * per-image `getImageWritersByFormatName` registry lookup plus the
    * DOM metadata-tree rebuild are measurable codec overhead AND a
    * cross-thread contention source at 16 local executor threads. NOT
    * thread-safe: one instance per partition (single-threaded), like
    * any decoder state in the mapPartitions batch shape.
    */
  final class Codec extends AutoCloseable {
    private val jpegWriter =
      ImageIO.getImageWritersByFormatName("jpeg").next()
    private val pngWriter =
      ImageIO.getImageWritersByFormatName("png").next()
    private val (jpegParam, jpegMeta) = {
      val p = jpegWriter.getDefaultWriteParam
      p.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(0.95f)
      // force 4:4:4: set every SOF componentSpec sampling factor to 1
      val typ = javax.imageio.ImageTypeSpecifier
        .createFromBufferedImageType(BufferedImage.TYPE_INT_RGB)
      val meta = jpegWriter.getDefaultImageMetadata(typ, p)
      val fmtName = "javax_imageio_jpeg_image_1.0"
      val tree = meta.getAsTree(fmtName)
        .asInstanceOf[org.w3c.dom.Element]
      val sofs = tree.getElementsByTagName("sof")
      if (sofs.getLength > 0) {
        val comps = sofs.item(0).asInstanceOf[org.w3c.dom.Element]
          .getElementsByTagName("componentSpec")
        var i = 0
        while (i < comps.getLength) {
          val c = comps.item(i).asInstanceOf[org.w3c.dom.Element]
          c.setAttribute("HsamplingFactor", "1")
          c.setAttribute("VsamplingFactor", "1")
          i += 1
        }
        meta.setFromTree(fmtName, tree)
      }
      (p, meta)
    }

    def encode(img: BufferedImage, fmt: String): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val ios = ImageIO.createImageOutputStream(bos)
      fmt match {
        case "png" =>
          pngWriter.setOutput(ios)
          pngWriter.write(null, new IIOImage(img, null, null),
            pngWriter.getDefaultWriteParam)
        case "jpeg" | "jpg" =>
          jpegWriter.setOutput(ios)
          jpegWriter.write(null, new IIOImage(img, null, jpegMeta),
            jpegParam)
        case other =>
          throw new IllegalArgumentException(s"unsupported format $other")
      }
      ios.close()
      bos.toByteArray
    }

    private val readers =
      scala.collection.mutable.HashMap.empty[String, javax.imageio.ImageReader]

    /** Decode with a per-format reader reused across the partition;
      * falls back to the sniffing `ImageIO.read` for unknown formats.
      * Returns null on undecodable bytes (like `ImageIO.read`).
      */
    def decode(bytes: Array[Byte], fmt: String): BufferedImage = {
      val canon = fmt match {
        case "jpg" => "jpeg"
        case f => f
      }
      if (canon != "png" && canon != "jpeg")
        return PixelCheck.decode(bytes)
      val reader = readers.getOrElseUpdate(canon,
        ImageIO.getImageReadersByFormatName(canon).next())
      val iis = ImageIO.createImageInputStream(
        new ByteArrayInputStream(bytes))
      try {
        reader.setInput(iis)
        reader.read(0)
      } catch {
        case _: Exception => null
      } finally iis.close()
    }

    def close(): Unit = {
      jpegWriter.dispose()
      pngWriter.dispose()
      readers.valuesIterator.foreach(_.dispose())
    }
  }

  def decode(bytes: Array[Byte]): BufferedImage =
    ImageIO.read(new ByteArrayInputStream(bytes))

  /** Peak signal-to-noise ratio in dB over RGB channels;
    * Double.PositiveInfinity for identical images.
    */
  def psnr(a: BufferedImage, b: BufferedImage): Double = {
    require(a.getWidth == b.getWidth && a.getHeight == b.getHeight,
      "image dimensions differ")
    var se = 0.0
    var n = 0L
    var y = 0
    while (y < a.getHeight) {
      var x = 0
      while (x < a.getWidth) {
        val pa = a.getRGB(x, y); val pb = b.getRGB(x, y)
        var shift = 0
        while (shift <= 16) {
          val d = ((pa >> shift) & 0xff) - ((pb >> shift) & 0xff)
          se += d.toDouble * d
          n += 1
          shift += 8
        }
        x += 1
      }
      y += 1
    }
    if (se == 0) Double.PositiveInfinity
    else 10.0 * math.log10(255.0 * 255.0 * n / se)
  }

  /** Round-trip check used by the tests and small-scale validation:
    * encode synthetic pixels, decode, compare. PNG must be exact;
    * lossy must reach `minPsnr`.
    */
  def roundTripPsnr(seed: Long, w: Int, h: Int, fmt: String): Double = {
    val img = toImage(syntheticPixels(seed, w, h), w, h)
    psnr(img, decode(encode(img, fmt)))
  }
}
