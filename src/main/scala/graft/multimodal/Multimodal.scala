package graft.multimodal

import graft.core.Kernel
import graft.validate.PixelCheck
import java.awt.image.BufferedImage
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video-as-binary) column processing.
  *
  * Payloads stay opaque `binary` columns with typed metadata alongside
  * (input_hint schema). Every pixel op (decode / feature-extract /
  * resize / re-encode) is a [[graft.core.Kernel]] partition map over
  * the rows — the Scala analogue of the mapInPandas batch-UDF shape —
  * inside the one decode-and-quarantine frame below, so each op keeps
  * only its pixel arithmetic, its output fields and its fallback.
  *
  * The heavy codec is pluggable: `ImageIoDecoder` is a real JVM decoder
  * (javax.imageio — PNG/JPEG); `StubDecoder` is the clearly-marked
  * deterministic fake for formats whose codecs aren't in this
  * container (webp/audio/video). The Spark-side plumbing — schema,
  * partitioning, batch shape — is identical and is what the tests pin.
  */
object Multimodal {

  /** Per-payload decode result: tiny numeric features, never pixels. */
  case class ImageFeatures(
      decodedW: Int, decodedH: Int, meanLuma: Double, ok: Boolean)

  trait Decoder extends Serializable {
    def decode(bytes: Array[Byte], fmt: String,
        declaredW: Int, declaredH: Int): ImageFeatures
  }

  /** Real decoder for formats javax.imageio knows (png, jpeg). */
  object ImageIoDecoder extends Decoder {
    def decode(bytes: Array[Byte], fmt: String, declaredW: Int,
        declaredH: Int): ImageFeatures = fmt match {
      case "png" | "jpeg" | "jpg" =>
        val img = PixelCheck.decode(bytes)
        if (img == null) ImageFeatures(-1, -1, Double.NaN, ok = false)
        else {
          var sum = 0.0
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              sum += luma(img.getRGB(x, y))
              x += 1
            }
            y += 1
          }
          ImageFeatures(img.getWidth, img.getHeight,
            sum / (img.getWidth.toLong * img.getHeight), ok = true)
        }
      case other => StubDecoder.decode(bytes, other, declaredW, declaredH)
    }
  }

  /** STUB: deterministic fake for codecs absent from this container
    * (webp, audio, video frames). Produces stable pseudo-features from
    * the payload bytes so downstream plumbing is fully testable; swap
    * in a real codec via the Decoder trait in production.
    *
    * The spec is deliberately cross-engine reproducible so the driver's
    * SQL oracle can recompute it:
    *   luma = int(md5(upperhex(first 256 payload bytes))[:4 bytes])
    *          % 256000 / 1000.0
    * (DuckDB: CAST('0x'||substring(md5(substring(hex(bytes),1,512)),1,8)
    *  AS BIGINT) % 256000 / 1000.0)
    */
  object StubDecoder extends Decoder {
    def decode(bytes: Array[Byte], fmt: String, declaredW: Int,
        declaredH: Int): ImageFeatures = {
      val n = math.min(bytes.length, 256)
      val sb = new java.lang.StringBuilder(n * 2)
      var i = 0
      while (i < n) {
        sb.append("0123456789ABCDEF".charAt((bytes(i) >> 4) & 0xf))
        sb.append("0123456789ABCDEF".charAt(bytes(i) & 0xf))
        i += 1
      }
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(sb.toString.getBytes(
          java.nio.charset.StandardCharsets.US_ASCII))
      val v = ((md(0) & 0xffL) << 24) | ((md(1) & 0xffL) << 16) |
        ((md(2) & 0xffL) << 8) | (md(3) & 0xffL)
      ImageFeatures(declaredW, declaredH,
        (v % 256000L) / 1000.0, ok = bytes.nonEmpty)
    }
  }

  /** SYNTHETIC-DECODE stand-in for scale benchmarks: does the same
    * O(w·h) per-pixel arithmetic a real codec+luma pass does, from a
    * deterministic xorshift pixel stream seeded by the payload — no
    * allocation, no memory traffic beyond the payload prefix. Real
    * image pipelines are decode-dominated; this reproduces that CPU
    * profile where the container has no codec for the format.
    */
  object SyntheticPixelDecoder extends Decoder {
    def decode(bytes: Array[Byte], fmt: String, declaredW: Int,
        declaredH: Int): ImageFeatures = {
      var s = 1125899906842597L
      var i = 0
      val n = math.min(bytes.length, 64)
      while (i < n) { s = 31 * s + bytes(i); i += 1 }
      if (s == 0) s = 1
      var luma = 0.0
      var p = 0
      val total = declaredW.toLong * declaredH
      while (p < total) {
        s ^= s << 13; s ^= s >>> 7; s ^= s << 17
        luma += 0.299 * (s & 0xff) + 0.587 * ((s >>> 8) & 0xff) +
          0.114 * ((s >>> 16) & 0xff)
        p += 1
      }
      ImageFeatures(declaredW, declaredH,
        if (total > 0) luma / total else Double.NaN, ok = bytes.nonEmpty)
    }
  }

  // ---- the decode-and-quarantine frame -------------------------------
  //
  // One codec per partition, pixels die inside it, and a failure is a
  // row, not a dead job. Every pixel op runs in this frame:
  //   - the codec's per-format readers and writers are built once per
  //     partition and reused across its rows ([[Payloads]]);
  //   - pixel buffers never leave the partition: a FEATURE op
  //     ([[features]], [[imageFeatures]]) emits scalars and drops
  //     `bytes`, a REWRITE op ([[rewrite]]) emits the re-encoded payload;
  //   - at 10^12 rows a corrupt payload is a row you quarantine, not a
  //     job you kill: a null payload counts as empty, and an empty or
  //     undecodable payload, or an exception in the op, gives the
  //     feature op's fallback values or passes the rewrite op's row
  //     through unchanged.

  /** Per-partition payload access: the codec opens on first use and
    * closes with the task ([[Kernel.perTask]]), also when the iterator
    * is abandoned early.
    */
  private final class Payloads {
    private lazy val codec = Kernel.perTask(new PixelCheck.Codec)

    /** The payload at `i`; a null payload counts as empty. */
    def bytes(r: Row, i: Int): Array[Byte] =
      if (r.isNullAt(i)) Array.emptyByteArray else r.getAs[Array[Byte]](i)

    /** The decoded image, or null when the payload is empty, does not
      * decode, or makes the decoder throw (a truncated stream after a
      * valid magic). A null `fmt` decodes by content sniffing.
      */
    def image(r: Row, bytesIdx: Int, fmtIdx: Int): BufferedImage =
      try {
        val b = bytes(r, bytesIdx)
        if (b.isEmpty) null else codec.decode(b, r.getString(fmtIdx))
      } catch { case _: Exception => null }

    def encode(img: BufferedImage, fmt: String): Array[Byte] =
      codec.encode(img, fmt)
  }

  /** The frame of a FEATURE op: `feature` maps each row (with the
    * partition's [[Payloads]] and the `bytes`/`fmt` indices) to the
    * op's values for `fields`, and any exception in it yields
    * `fallback` instead. The output keeps every column but `bytes`:
    * re-serialising the payload into every output row is a pure memcpy
    * tax (it saturates memory bandwidth long before the decode math
    * saturates cores).
    */
  private def features(df: DataFrame, fields: Seq[StructField],
      fallback: Seq[Any])(feature: (Row, Payloads, Int, Int) => Seq[Any])
      : DataFrame = {
    val bytesIdx = df.schema.fieldIndex("bytes")
    val fmtIdx = df.schema.fieldIndex("fmt")
    Kernel.append(df, df.schema.fields.indices.filterNot(_ == bytesIdx),
      fields) { () =>
      val px = new Payloads
      r => try feature(r, px, bytesIdx, fmtIdx)
        catch { case _: Exception => fallback }
    }
  }

  /** A feature op over the decoded image: an empty or undecodable
    * payload gives `fallback`, as does an exception in `feature`.
    */
  private def imageFeatures(df: DataFrame, fields: Seq[StructField],
      fallback: Seq[Any])(feature: (Row, BufferedImage) => Seq[Any])
      : DataFrame =
    features(df, fields, fallback) { (r, px, bytesIdx, fmtIdx) =>
      val img = px.image(r, bytesIdx, fmtIdx)
      if (img == null) fallback else feature(r, img)
    }

  /** The frame of a REWRITE op, which re-encodes `bytes` in place as
    * `fmt` and keeps every column. `plan` reads a row's plan OUTSIDE
    * the quarantine (a malformed plan fails the job) and returns the
    * pixel transform, or null to pass the row through; the transform
    * returns the image to encode, or null to pass the row through. A
    * payload that does not decode, or a transform or encoder that
    * throws, passes the row through unchanged (quarantine first with
    * [[auditPayloads]] if that matters). With `setDims`, `w`/`h` take
    * the encoded image's dimensions.
    */
  private def rewrite(df: DataFrame, fmt: String, setDims: Boolean)(
      plan: Row => BufferedImage => BufferedImage): DataFrame = {
    val s = df.schema
    val bytesIdx = s.fieldIndex("bytes")
    val fmtIdx = s.fieldIndex("fmt")
    val dimsIdx =
      if (setDims) Some((s.fieldIndex("w"), s.fieldIndex("h"))) else None
    Kernel.map(df, s) { it =>
      val px = new Payloads
      it.map { r =>
        val draw = plan(r)
        val done: (BufferedImage, Array[Byte]) =
          if (draw == null) null
          else try {
            val img = px.image(r, bytesIdx, fmtIdx)
            val out = if (img == null) null else draw(img)
            if (out == null) null else (out, px.encode(out, fmt))
          } catch { case _: Exception => null }
        if (done == null) r
        else {
          val v = Array.tabulate[Any](r.length)(r.get)
          v(bytesIdx) = done._2
          v(fmtIdx) = fmt
          dimsIdx.foreach { case (wi, hi) =>
            v(wi) = done._1.getWidth; v(hi) = done._1.getHeight }
          Row.fromSeq(v.toSeq)
        }
      }
    }
  }

  /** Rec. 601 luma of a packed RGB pixel. */
  private def luma(p: Int): Double =
    0.299 * ((p >> 16) & 0xff) + 0.587 * ((p >> 8) & 0xff) +
      0.114 * (p & 0xff)

  // ---- pixel ops ------------------------------------------------------

  private val FeatureFields = Seq(
    StructField("decoded_w", IntegerType),
    StructField("decoded_h", IntegerType),
    StructField("mean_luma", DoubleType),
    StructField("decode_ok", BooleanType))

  /** Attach decode features to an image table
    * (bytes/fmt/w/h per input_hint): every non-payload column + the four
    * feature columns. The pluggable `decoder` gets each payload (null
    * as empty) and reports its own failure row; a decoder exception
    * (truncated-after-valid-magic stream, null w/h) gives
    * (-1, -1, NaN, false).
    */
  def withDecodeFeatures(df: DataFrame, decoder: Decoder): DataFrame = {
    val wIdx = df.schema.fieldIndex("w")
    val hIdx = df.schema.fieldIndex("h")
    features(df, FeatureFields, Seq(-1, -1, Double.NaN, false)) {
      (r, px, bytesIdx, fmtIdx) =>
        val f = decoder.decode(px.bytes(r, bytesIdx),
          r.getString(fmtIdx), r.getInt(wIdx), r.getInt(hIdx))
        Seq(f.decodedW, f.decodedH, f.meanLuma, f.ok)
    }
  }

  /** Payload-level metadata extracted WITHOUT decode (pure projection):
    * size, magic-byte sniffing, truncation guard. This is the cheap
    * 100 TB-scan path — full decode only runs on rows that pass.
    */
  def payloadMeta(df: DataFrame): DataFrame = {
    val b = col("bytes")
    df.withColumns(Map(
      "payload_bytes" -> length(b),
      "sniffed_fmt" ->
        when(substring(hex(b), 1, 16) === "89504E470D0A1A0A", "png")
          .when(substring(hex(b), 1, 4) === "FFD8", "jpeg")
          .otherwise("unknown"),
      "bytes_per_pixel" ->
        length(b).cast("double") / (col("w") * col("h"))))
  }

  /** Distributed payload-integrity audit: the BASELINE.json per-row
    * invariant ("decoded-pixel allclose; PSNR >= 40 dB for lossy
    * formats") as a first-class operator, not a local spec.
    *
    * For each row of a real-codec table
    * ([[graft.io.ImageTable.imagesReal]] shape), the partition decodes
    * `bytes` with javax.imageio, re-renders the EXPECTED deterministic
    * pixels for (pixelSeed(seed, id), w, h), and emits scalars only:
    *   - decoded_w / decoded_h  — actual decoded dimensions
    *   - psnr_db                — decoded vs expected (Infinity = exact)
    *   - pixels_ok              — png: exact pixel equality (allclose
    *                              at tolerance 0); jpeg: PSNR >= minPsnrDb
    * Decode failures / null payloads audit (-1, -1, NaN, false) and
    * dimension mismatches audit `false`, never throw. The shuffle
    * carries 4 scalars per row.
    */
  def auditPayloads(df: DataFrame, seed: Long,
      minPsnrDb: Double = 40.0): DataFrame = {
    val idIdx = df.schema.fieldIndex("image_id")
    val fmtIdx = df.schema.fieldIndex("fmt")
    val wIdx = df.schema.fieldIndex("w")
    val hIdx = df.schema.fieldIndex("h")
    imageFeatures(df, Seq(
      StructField("decoded_w", IntegerType),
      StructField("decoded_h", IntegerType),
      StructField("psnr_db", DoubleType),
      StructField("pixels_ok", BooleanType)),
      Seq(-1, -1, Double.NaN, false)) { (r, img) =>
      val w = r.getInt(wIdx); val hh = r.getInt(hIdx)
      val id = r.getString(idIdx).substring(4).toLong
      if (img.getWidth != w || img.getHeight != hh)
        Seq(img.getWidth, img.getHeight, Double.NaN, false)
      else {
        val expected = PixelCheck.toImage(
          PixelCheck.syntheticPixels(
            graft.io.ImageTable.pixelSeed(seed, id), w, hh), w, hh)
        val p = PixelCheck.psnr(expected, img)
        val ok = r.getString(fmtIdx) match {
          case "png" => p.isPosInfinity
          case _ => p >= minPsnrDb
        }
        Seq(img.getWidth, img.getHeight, p, ok)
      }
    }
  }

  /** Perceptual hash COMPUTED FROM PIXELS (aHash, 64-bit): decode the
    * payload, block-average the luma plane onto an 8x8 grid (cell
    * (i,j) averages rows [i*h/8, (i+1)*h/8) x cols [j*w/8, (j+1)*w/8)
    * — deterministic integer bounds, no resampling kernel), threshold
    * each cell against the grid mean, pack row-major into an int64
    * (bit 63 = top-left). Closes the loop the `phash` column leaves
    * open: pixels -> hash -> [[phashNearDups]] banded dedup, all
    * engine-side. Two payloads with IDENTICAL decoded pixels hash
    * identically regardless of container format (q124 exploits this
    * for a value-exact oracle).
    *
    * Undecodable payloads give (0, false).
    */
  def averageHash(df: DataFrame): DataFrame =
    imageFeatures(df, Seq(
      StructField("ahash", LongType),
      StructField("ahash_ok", BooleanType)), Seq(0L, false)) { (_, img) =>
      Seq(aHash(img, 0, 0, img.getWidth, img.getHeight), true)
    }

  /** Mean luma of each cell of a `rows`×`cols` grid over the `w`×`h`
    * region at (`x0`, `y0`), row-major: cell (i, j) averages rows
    * [i*h/rows, (i+1)*h/rows) x cols [j*w/cols, (j+1)*w/cols) of the
    * region, each at least one pixel wide — deterministic integer
    * bounds, no resampling kernel.
    */
  private def cellMeans(img: BufferedImage, x0: Int, y0: Int, w: Int,
      h: Int, rows: Int, cols: Int): Array[Double] = {
    val cells = new Array[Double](rows * cols)
    var i = 0
    while (i < rows) {
      val cy0 = i * h / rows
      val cy1 = math.max((i + 1) * h / rows, cy0 + 1)
      var j = 0
      while (j < cols) {
        val cx0 = j * w / cols
        val cx1 = math.max((j + 1) * w / cols, cx0 + 1)
        var s = 0.0; var n = 0
        var y = cy0
        while (y < math.min(cy1, h)) {
          var x = cx0
          while (x < math.min(cx1, w)) {
            s += luma(img.getRGB(x0 + x, y0 + y))
            n += 1; x += 1
          }
          y += 1
        }
        cells(i * cols + j) = if (n > 0) s / n else 0.0
        j += 1
      }
      i += 1
    }
    cells
  }

  /** The 64-bit aHash of the `w`×`h` region at (`x0`, `y0`): its 8x8
    * cell means thresholded against their mean, row-major, bit 63 =
    * top-left. A region hashes exactly as the same pixels cropped to a
    * standalone image.
    */
  private def aHash(img: BufferedImage, x0: Int, y0: Int, w: Int,
      h: Int): Long = {
    val cells = cellMeans(img, x0, y0, w, h, 8, 8)
    val mean = cells.sum / 64
    var bits = 0L
    var k = 0
    while (k < 64) {
      if (cells(k) > mean) bits |= (1L << (63 - k))
      k += 1
    }
    bits
  }

  /** The `grid`×`grid` tiling of a `w`×`h` image, row-major: each
    * tile's (x0, y0, width, height), every tile at least one pixel.
    */
  private def tiles(w: Int, h: Int, grid: Int): Seq[(Int, Int, Int, Int)] =
    for (ty <- 0 until grid; tx <- 0 until grid) yield {
      val ty0 = ty * h / grid
      val th = math.min(math.max((ty + 1) * h / grid, ty0 + 1), h) - ty0
      val tx0 = tx * w / grid
      val tw = math.min(math.max((tx + 1) * w / grid, tx0 + 1), w) - tx0
      (tx0, ty0, tw, th)
    }

  /** Per-TILE average hash — [[averageHash]] computed independently
    * on each cell of a `grid`×`grid` tiling of the decoded image
    * (`tile_hashes: Array[Long]`, row-major, + `tiles_ok`). A crop of
    * tile (i,j) re-encoded losslessly hashes IDENTICALLY to entry
    * i·grid+j (each tile replays [[averageHash]]'s integer bounds as
    * if it were a standalone crop; at grid 1 the one tile IS the
    * image), which is what makes crop-resistant near-dup possible: a
    * quadrant steal, watermark crop, or thumbnail-of-a-region matches
    * its source through [[cropNearDups]] even though the FULL-image
    * hashes differ in ~half their bits. Undecodable payloads give
    * grid² zeros and `tiles_ok = false`.
    */
  def tileAverageHash(df: DataFrame, grid: Int = 2): DataFrame = {
    require(grid >= 1 && grid <= 8,
      s"tileAverageHash: grid in [1,8], got $grid")
    imageFeatures(df, Seq(
      StructField("tile_hashes", ArrayType(LongType, false)),
      StructField("tiles_ok", BooleanType)),
      Seq(Array.fill(grid * grid)(0L), false)) { (_, img) =>
      Seq(tiles(img.getWidth, img.getHeight, grid).map {
        case (x0, y0, w, h) => aHash(img, x0, y0, w, h) }.toArray, true)
    }
  }

  /** Per-TILE EXACT fingerprint — FNV-1a/64 over each tile's decoded
    * RGB bytes (row-major, tile dims folded in first), the exact
    * sibling of [[tileAverageHash]]: where the perceptual tile hash
    * survives re-encoding noise but collides on low-texture content,
    * the fingerprint is collision-free in practice (64-bit avalanche)
    * and matches iff the DECODED tile pixels are bit-identical —
    * the right tool for lossless-pipeline crop detection
    * ([[cropExactDups]]): a losslessly re-encoded crop of tile
    * (i,j) fingerprints identically to entry i·grid+j. Undecodable
    * payloads give grid² zeros and `tiles_ok = false`.
    */
  def tileFingerprint(df: DataFrame, grid: Int = 2): DataFrame = {
    require(grid >= 1 && grid <= 8,
      s"tileFingerprint: grid in [1,8], got $grid")
    imageFeatures(df, Seq(
      StructField("tile_fps", ArrayType(LongType, false)),
      StructField("tiles_ok", BooleanType)),
      Seq(Array.fill(grid * grid)(0L), false)) { (_, img) =>
      Seq(tiles(img.getWidth, img.getHeight, grid).map {
        case (tx0, ty0, tw, th) =>
          var fp = 0xcbf29ce484222325L
          @inline def mix(b: Int): Unit = {
            fp ^= (b & 0xff); fp *= 0x100000001b3L
          }
          mix(tw); mix(tw >> 8); mix(th); mix(th >> 8)
          var y = 0
          while (y < th) {
            var x = 0
            while (x < tw) {
              val p = img.getRGB(tx0 + x, ty0 + y)
              mix(p >> 16); mix(p >> 8); mix(p)
              x += 1
            }
            y += 1
          }
          fp
      }.toArray, true)
    }
  }

  /** EXACT crop provenance: pair every candidate (one 64-bit
    * [[tileFingerprint]] of its WHOLE decoded frame, i.e. grid=1)
    * with every source whose tile grid contains that exact
    * fingerprint — "this image IS a tile of that image", the
    * lossless-crop/shard-reuse detector. Output one row per
    * (crop_id, src_id, tile_idx); failed decodes never match.
    *
    * Scale shape: sources explode to grid² (src, tile, fp) rows and
    * the match is ONE fingerprint equi-join — hash-bucketed by the
    * 64-bit key, never all-pairs, payload bytes long gone.
    */
  def cropExactDups(sources: DataFrame, srcIdCol: String,
      crops: DataFrame, cropIdCol: String, cropFpCol: String)
      : DataFrame = {
    val srcTiles = sources
      .filter(col("tiles_ok"))
      .select(col(srcIdCol).as("src_id"),
        posexplode(col("tile_fps")).as(Seq("tile_idx", "__fp")))
    crops
      .select(col(cropIdCol).as("crop_id"),
        col(cropFpCol).as("__fp"))
      .join(srcTiles, Seq("__fp"))
      .select(col("crop_id"), col("src_id"), col("tile_idx"))
      .distinct()
  }

  /** Crop-resistant near-dup: pair every CANDIDATE image (a
    * suspected crop, carrying one 64-bit hash) with every SOURCE
    * whose [[tileAverageHash]] grid contains a tile within `maxDist`
    * Hamming of it — the "this thumbnail is a stolen quadrant of
    * that image" detector that full-image hashing structurally
    * misses. Output: one row per (crop, source, tile_idx) with the
    * exact Hamming distance; sources whose decode failed
    * (`tiles_ok = false`) never match.
    *
    * Scale shape: [[phashNearDups]]'s pigeonhole banding, cross-set
    * — sources explode to grid² tile rows, both sides band into
    * `bands` exact 16-bit keys, and a pair within `maxDist < bands`
    * MUST agree on >= 1 band, so the join is band-bucketed, never
    * all-pairs. Payload bytes are long gone (hash columns only).
    */
  def cropNearDups(sources: DataFrame, srcIdCol: String,
      crops: DataFrame, cropIdCol: String, cropHashCol: String,
      maxDist: Int, bands: Int = 4): DataFrame = {
    require(bands >= 1 && 64 % bands == 0,
      s"bands must divide 64, got $bands")
    require(maxDist >= 0 && maxDist < bands,
      s"pigeonhole guarantee needs maxDist < bands, got $maxDist/$bands")
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    def bandCols(p: Column) = (0 until bands).map { i =>
      struct(lit(i).as("band"),
        shiftright(p, i * width).bitwiseAND(mask).as("bits"))
    }
    val srcTiles = sources
      .filter(col("tiles_ok"))
      .select(col(srcIdCol).as("src_id"),
        posexplode(col("tile_hashes")).as(Seq("tile_idx", "__t")))
    val srcBands = srcTiles
      .select(col("src_id"), col("tile_idx"), col("__t"),
        explode(array(bandCols(col("__t")): _*)).as("b"))
      .select(col("src_id"), col("tile_idx"), col("__t"),
        col("b.band"), col("b.bits"))
    val cropBands = crops
      .select(col(cropIdCol).as("crop_id"),
        col(cropHashCol).as("__c"),
        explode(array(bandCols(col(cropHashCol)): _*)).as("b"))
      .select(col("crop_id"), col("__c"), col("b.band"),
        col("b.bits"))
    cropBands.join(srcBands, Seq("band", "bits"))
      .select(col("crop_id"), col("src_id"), col("tile_idx"),
        bit_count(col("__c").bitwiseXOR(col("__t"))).as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct()
  }

  /** Gradient perceptual hash (dHash, 64-bit): decode, block-average
    * the luma plane onto an 8x9 grid (same deterministic integer
    * bounds as [[averageHash]], 9 columns), then bit (i,j) = cell
    * (i,j) > cell (i,j+1) — each bit encodes a horizontal GRADIENT
    * sign instead of a global-mean comparison, so only LOCAL luma
    * relations matter: smooth illumination changes (vignettes,
    * exposure ramps) that move the global mean flip aHash bits near
    * the mean but leave neighbor comparisons alone — the standard
    * reason image pipelines pair the two hashes.
    * Container-invariant like aHash (a function of the
    * pixel matrix alone — q136 proves it on lossless transcode
    * twins). Undecodable payloads give (0, false).
    */
  def differenceHash(df: DataFrame): DataFrame =
    imageFeatures(df, Seq(
      StructField("dhash", LongType),
      StructField("dhash_ok", BooleanType)), Seq(0L, false)) { (_, img) =>
      val cells = cellMeans(img, 0, 0, img.getWidth, img.getHeight, 8, 9)
      var bits = 0L
      var k = 0
      while (k < 64) {
        val i0 = k / 8; val j0 = k % 8
        if (cells(i0 * 9 + j0) > cells(i0 * 9 + j0 + 1))
          bits |= (1L << (63 - k))
        k += 1
      }
      Seq(bits, true)
    }

  /** Low-information image gate: decode each payload and compute
    * per-image luma statistics — `mean_luma`, population `std_luma` —
    * plus `flat` (std <= `flatStd`: near-constant images — blank
    * thumbnails, tracking pixels, solid placeholders — the classic
    * junk an image-caption curation pass drops) and `luma_ok` (decode
    * verdict; undecodable/null payloads report (0, 0, false, false) —
    * they are the QUARANTINE gate's business ([[auditPayloads]]), not
    * this filter's). Fixed row-major accumulation, so the doubles are
    * deterministic.
    */
  def lumaStats(df: DataFrame, flatStd: Double = 2.0): DataFrame =
    imageFeatures(df, Seq(
      StructField("mean_luma", DoubleType),
      StructField("std_luma", DoubleType),
      StructField("flat", BooleanType),
      StructField("luma_ok", BooleanType)),
      Seq(0.0, 0.0, false, false)) { (_, img) =>
      val w = img.getWidth; val h = img.getHeight
      // Welford's online update, fixed row-major order: the
      // single-pass s2/n - mean^2 form cancels catastrophically
      // on large images (mean^2 ~1.6e4 vs variance ~4 at the
      // flat threshold) and can flip the flat verdict; Welford
      // is the same O(wh) cost and numerically stable
      var n = 0L; var mean = 0.0; var m2 = 0.0
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val l = luma(img.getRGB(x, y))
          n += 1
          val d = l - mean
          mean += d / n
          m2 += d * (l - mean)
          x += 1
        }
        y += 1
      }
      val std = if (n > 0) math.sqrt(math.max(m2 / n, 0.0)) else 0.0
      Seq(mean, std, std <= flatStd, true)
    }

  /** Per-image EXACT per-channel pixel statistics: pixel count plus
    * integer sums and sums-of-squares of the R/G/B channels (sRGB
    * 0..255) — the raw material for corpus normalization constants
    * ([[channelNormalization]]) and per-channel quality screens. All
    * seven accumulators are LONGS (a pixel contributes at most
    * 255^2 per channel, so even a 10^8-pixel image stays < 2^43):
    * integer sums have no float accumulation order, which is what
    * lets a lossless transcode twin certify bit-equality through the
    * driver gate (q187) and lets the corpus aggregate distribute as
    * a plain map-side-combined SUM. Undecodable/null payloads report
    * zeros with `channels_ok = false`.
    */
  def channelStats(df: DataFrame): DataFrame =
    imageFeatures(df, Seq(
      StructField("n_px", LongType),
      StructField("r_sum", LongType),
      StructField("g_sum", LongType),
      StructField("b_sum", LongType),
      StructField("r_sq", LongType),
      StructField("g_sq", LongType),
      StructField("b_sq", LongType),
      StructField("channels_ok", BooleanType)),
      Seq(0L, 0L, 0L, 0L, 0L, 0L, 0L, false)) { (_, img) =>
      val w = img.getWidth; val h = img.getHeight
      var n = 0L
      var rs = 0L; var gs = 0L; var bs = 0L
      var rq = 0L; var gq = 0L; var bq = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val p = img.getRGB(x, y)
          val rv = (p >> 16) & 0xff
          val gv = (p >> 8) & 0xff
          val bv = p & 0xff
          rs += rv; gs += gv; bs += bv
          rq += rv.toLong * rv; gq += gv.toLong * gv
          bq += bv.toLong * bv
          n += 1; x += 1
        }
        y += 1
      }
      Seq(n, rs, gs, bs, rq, gq, bq, true)
    }

  /** Corpus-level channel normalization constants (the dataset
    * mean/std per channel a vision training pipeline bakes into its
    * preprocessing, ImageNet's (0.485, 0.456, 0.406)-style triple,
    * here in 0..255 units): ONE map-side-combined aggregation over
    * [[channelStats]] rows with the sums widened to decimal(38,0) —
    * exact at any corpus size (longs alone would overflow the
    * squared sums past ~1.4e14 total pixels). Decode failures are
    * excluded and counted. Population std via E[X^2] - E[X]^2 on the
    * exact totals: with pixel-scale variances (>= O(1) in 0..255^2
    * units) against mean^2 <= 65025, the subtraction loses at most
    * ~12 of the double's 16 digits — fine here, unlike the per-image
    * flat gate where [[lumaStats]] needs Welford.
    */
  def channelNormalization(stats: DataFrame): DataFrame = {
    def dec(c: String) = sum(col(c).cast("decimal(38,0)"))
    val agg = stats.agg(
      sum(when(col("channels_ok"), lit(1L)).otherwise(lit(0L)))
        .as("n_images"),
      sum(when(!col("channels_ok"), lit(1L)).otherwise(lit(0L)))
        .as("n_failed"),
      dec("n_px").as("n_px"),
      dec("r_sum").as("rs"), dec("g_sum").as("gs"), dec("b_sum").as("bs"),
      dec("r_sq").as("rq"), dec("g_sq").as("gq"), dec("b_sq").as("bq"))
    val n = col("n_px").cast("double")
    def mean(s: String) = col(s).cast("double") / n
    // an empty / all-failed corpus must report null std, not 0.0:
    // greatest(null, 0.0) would swallow the divide-by-zero null
    def std(sq: String, s: String) =
      when(col("n_px").isNotNull && col("n_px") > 0,
        sqrt(greatest(col(sq).cast("double") / n -
          mean(s) * mean(s), lit(0.0))))
    agg.select(col("n_images"), col("n_failed"),
      col("n_px").cast("long").as("n_px"),
      mean("rs").as("r_mean"), mean("gs").as("g_mean"),
      mean("bs").as("b_mean"),
      std("rq", "rs").as("r_std"), std("gq", "gs").as("g_std"),
      std("bq", "bs").as("b_std"))
  }

  /** Cross-modal consistency audit: for every near-duplicate image
    * pair ([[phashNearDups]] over the phash column — payload bytes
    * never enter the plan), whether the two captions agree exactly
    * and whether they agree after case/whitespace normalization —
    * the "same pixels, different caption" screen an image+caption
    * curation pass runs before electing a canonical caption per
    * duplicate cluster (exact-but-not-normalized = formatting drift;
    * neither = real disagreement, a labeling-quality signal).
    *
    * Null captions compare null-SAFELY (`<=>`): two missing captions
    * agree, a missing-vs-present pair does not. Shape: the banded
    * near-dup join plus two unique-key caption joins (AQE broadcasts
    * the smaller side); the caption column never rides through the
    * band explosion.
    */
  def captionConsistency(imgs: DataFrame, idCol: String,
      phashCol: String, captionCol: String,
      maxDist: Int): DataFrame = {
    val pairs = phashNearDups(
      imgs.select(col(idCol), col(phashCol)), idCol, phashCol, maxDist)
    val caps = imgs.select(col(idCol).as("__cid"),
      col(captionCol).cast("string").as("__cap"))
    pairs
      .join(caps.select(col("__cid").as("__ca_id"),
        col("__cap").as("__cap_a")), col("id_a") === col("__ca_id"))
      .join(caps.select(col("__cid").as("__cb_id"),
        col("__cap").as("__cap_b")), col("id_b") === col("__cb_id"))
      .withColumn("caption_equal", col("__cap_a") <=> col("__cap_b"))
      .withColumn("caption_equal_norm",
        lower(trim(col("__cap_a"))) <=> lower(trim(col("__cap_b"))))
      .drop("__ca_id", "__cb_id", "__cap_a", "__cap_b")
  }

  /** Graded companion of [[captionConsistency]]: token-set Jaccard
    * similarity between the captions of each near-duplicate image
    * pair — the score that separates "reworded but same content"
    * from "totally different label" where the binary verdicts only
    * say not-equal. Tokens are lowercase, whitespace-split, empties
    * dropped, DISTINCT (set semantics); exact integer set sizes, one
    * final division. A null caption on either side (or two empty
    * token sets) yields null rather than a fake 0 or 1.
    */
  def captionTokenJaccard(imgs: DataFrame, idCol: String,
      phashCol: String, captionCol: String,
      maxDist: Int): DataFrame = {
    val pairs = phashNearDups(
      imgs.select(col(idCol), col(phashCol)), idCol, phashCol, maxDist)
    val caps = imgs.select(col(idCol).as("__cid"),
      col(captionCol).cast("string").as("__cap"))
    def toks(c: Column) = array_distinct(
      filter(split(lower(trim(c)), " "), t => t =!= ""))
    val withCaps = pairs
      .join(caps.select(col("__cid").as("__ja_id"),
        col("__cap").as("__cap_a")), col("id_a") === col("__ja_id"))
      .join(caps.select(col("__cid").as("__jb_id"),
        col("__cap").as("__cap_b")), col("id_b") === col("__jb_id"))
    val a = toks(col("__cap_a"))
    val b = toks(col("__cap_b"))
    val inter = size(array_intersect(a, b))
    val uni = size(a) + size(b) - inter
    withCaps
      .withColumn("caption_jaccard",
        when(col("__cap_a").isNull || col("__cap_b").isNull,
          lit(null).cast("double"))
          .when(uni === 0, lit(null).cast("double"))
          .otherwise(inter.cast("double") / uni.cast("double")))
      .drop("__ja_id", "__jb_id", "__cap_a", "__cap_b")
  }

  /** Transcode payloads: decode and re-encode into `targetFmt`
    * (png = lossless: the decoded pixel matrix is preserved exactly,
    * so pixel-derived features — [[averageHash]], PSNR audits — are
    * invariant under the container change; jpeg = lossy re-encode).
    * Undecodable payloads pass through UNCHANGED with `fmt` intact;
    * `w`/`h` are not touched.
    */
  def transcode(df: DataFrame, targetFmt: String): DataFrame = {
    require(Seq("png", "jpeg").contains(targetFmt),
      s"unsupported target format $targetFmt")
    rewrite(df, targetFmt, setDims = false)(_ => img => img)
  }

  /** Per-payload resize result: target dims, mean + checksum of the
    * resized gray plane.
    */
  case class ResizeFeatures(w: Int, h: Int, mean: Double,
      checksum: Long, ok: Boolean)

  trait Resizer extends Serializable {
    def resize(bytes: Array[Byte], fmt: String, declaredW: Int,
        declaredH: Int, targetW: Int, targetH: Int): ResizeFeatures
  }

  /** Real resizer for formats javax.imageio decodes: nearest-neighbor
    * sample of the decoded luma plane at the target grid. (NN, not
    * bilinear, so the spec can recompute it exactly.)
    */
  object ImageIoResizer extends Resizer {
    def resize(bytes: Array[Byte], fmt: String, declaredW: Int,
        declaredH: Int, targetW: Int, targetH: Int): ResizeFeatures =
      fmt match {
        case "png" | "jpeg" | "jpg" =>
          val img = PixelCheck.decode(bytes)
          if (img == null)
            ResizeFeatures(-1, -1, Double.NaN, -1L, ok = false)
          else {
            val (w, h) = (img.getWidth, img.getHeight)
            var sum = 0L
            var y = 0
            while (y < targetH) {
              val sy = y * h / targetH
              var x = 0
              while (x < targetW) {
                sum += math.round(luma(img.getRGB(x * w / targetW, sy)))
                x += 1
              }
              y += 1
            }
            ResizeFeatures(targetW, targetH,
              sum.toDouble / (targetW.toLong * targetH), sum, ok = true)
          }
        case other =>
          StubResizer.resize(bytes, other, declaredW, declaredH,
            targetW, targetH)
      }
  }

  /** STUB resizer for codec-less formats, cross-engine reproducible
    * like [[StubDecoder]]: output pixel (x, y) nearest-neighbor-maps
    * to declared source index
    * `s = (y*declH/targetH)*declW + (x*declW/targetW)` (integer
    * division) and reads the UNSIGNED payload byte at `s % len`. The
    * oracle recomputes checksum/mean from `hex(bytes)` in SQL.
    */
  object StubResizer extends Resizer {
    def resize(bytes: Array[Byte], fmt: String, declaredW: Int,
        declaredH: Int, targetW: Int, targetH: Int): ResizeFeatures = {
      if (bytes.isEmpty || declaredW <= 0 || declaredH <= 0)
        return ResizeFeatures(-1, -1, Double.NaN, -1L, ok = false)
      var sum = 0L
      var y = 0
      while (y < targetH) {
        val sy = y * declaredH / targetH
        var x = 0
        while (x < targetW) {
          val s = sy.toLong * declaredW + x.toLong * declaredW / targetW
          sum += bytes((s % bytes.length).toInt) & 0xff
          x += 1
        }
        y += 1
      }
      ResizeFeatures(targetW, targetH,
        sum.toDouble / (targetW.toLong * targetH), sum, ok = true)
    }
  }

  /** Attach resize features (the [[withDecodeFeatures]] shape: every
    * non-payload column + five resize columns). The pluggable
    * `resizer` gets each payload (null as empty) and reports its own
    * failure row; a resizer exception gives (0, 0, NaN, 0, false).
    */
  def withResizeFeatures(df: DataFrame, resizer: Resizer,
      targetW: Int, targetH: Int): DataFrame = {
    require(targetW > 0 && targetH > 0,
      s"target dims must be positive, got ${targetW}x$targetH")
    val wIdx = df.schema.fieldIndex("w")
    val hIdx = df.schema.fieldIndex("h")
    features(df, Seq(
      StructField("resized_w", IntegerType),
      StructField("resized_h", IntegerType),
      StructField("resized_mean", DoubleType),
      StructField("resized_checksum", LongType),
      StructField("resize_ok", BooleanType)),
      Seq(0, 0, Double.NaN, 0L, false)) { (r, px, bytesIdx, fmtIdx) =>
      val f = resizer.resize(px.bytes(r, bytesIdx), r.getString(fmtIdx),
        r.getInt(wIdx), r.getInt(hIdx), targetW, targetH)
      Seq(f.w, f.h, f.mean, f.checksum, f.ok)
    }
  }

  /** Frame sampling for video-as-binary payloads: the payload is
    * `n_frames` fixed-length frames back to back; keep every k-th
    * frame as its own image-shaped row (frame_idx, bytes = the slice,
    * fmt/w/h carried) ready for [[withDecodeFeatures]] /
    * [[withResizeFeatures]].
    *
    * DELIBERATELY RELATIONAL, not mapPartitions: `posexplode` over the
    * sampled indices and `substring` on the binary column are both
    * codegen'd projections, so sampling never leaves whole-stage
    * codegen and the full payload is read once per row from the scan —
    * only the kept slices survive the projection. The heavy per-frame
    * codec is the only part that needs the batch path downstream.
    */
  def sampleFrames(df: DataFrame, frameLenCol: Column,
      nFramesCol: Column, everyK: Int): DataFrame = {
    require(everyK >= 1, s"everyK must be >= 1, got $everyK")
    val idxs = sequence(lit(0),
      greatest(nFramesCol.cast("int") - 1, lit(0)), lit(everyK))
    df.withColumn("__flen", frameLenCol.cast("int"))
      .withColumn("frame_idx", explode(
        when(nFramesCol > 0, idxs)
          .otherwise(array().cast("array<int>"))))
      .withColumn("bytes",
        col("bytes").substr(col("frame_idx") * col("__flen") + 1,
          col("__flen")))
      .drop("__flen")
  }

  /** Image near-duplicates by perceptual-hash Hamming distance — the
    * image-side counterpart of the text dedup family, run WITHOUT
    * touching payloads: only the int64 `phash` column moves.
    *
    * Scale shape: split each 64-bit phash into `bands` equal bit
    * bands; by pigeonhole two hashes within Hamming distance
    * `bands - 1` share at least one unchanged band, so a self-join on
    * (band index, band bits) finds every pair with distance <= maxDist
    * (required: maxDist < bands) while only colliding hashes meet.
    * Exact `bit_count(a XOR b)` verifies candidates. One exchange on
    * the band key; no all-pairs term anywhere — the same
    * band-bucket-verify blueprint as the MinHash LSH dedup
    * ([[graft.dedup.Dedup.minhashNearDups]]).
    *
    * Arithmetic-shift + mask band extraction and two's-complement
    * bit_count are engine-portable (DuckDB-oracle-checked, q62).
    */
  def phashNearDups(df: DataFrame, idCol: String, phashCol: String,
      maxDist: Int, bands: Int = 4): DataFrame = {
    require(bands >= 1 && 64 % bands == 0,
      s"bands must divide 64, got $bands")
    require(maxDist >= 0 && maxDist < bands,
      s"pigeonhole guarantee needs maxDist < bands, got $maxDist/$bands")
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val bandCols = (0 until bands).map { i =>
      struct(lit(i).as("band"),
        shiftright(col(phashCol), i * width).bitwiseAND(mask).as("bits"))
    }
    val banded = df
      .select(col(idCol).as("__id"), col(phashCol).as("__p"),
        explode(array(bandCols: _*)).as("b"))
      .select(col("__id"), col("__p"), col("b.band"), col("b.bits"))
      .repartition(col("band"), col("bits"))
    val a = banded.select(col("__id").as("id_a"), col("__p").as("p_a"),
      col("band"), col("bits"))
    val b = banded.select(col("__id").as("id_b"), col("__p").as("p_b"),
      col("band"), col("bits"))
    a.join(b, Seq("band", "bits"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("p_a").bitwiseXOR(col("p_b"))).as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct()
  }

  /** Image-side eval decontamination — the image-axis twin of the
    * text pipeline's winnowing/bloom decontamination: flag every
    * corpus image whose phash is within `maxDist` Hamming of ANY
    * held-out eval image, so the training table provably contains no
    * (near-)copy of the benchmark. Adds `contaminated` and
    * `n_eval_matches` (distinct eval neighbors) to the corpus frame;
    * the caller filters — an audit never silently drops rows.
    *
    * Scale shape: the same pigeonhole banding as [[phashNearDups]]
    * (a pair within `maxDist < bands` must agree on >= 1 exact
    * band), but CROSS-set: corpus bands equi-join eval bands, so the
    * work is |corpus bands| x |matching eval bands| — never
    * all-pairs, and the corpus never self-joins. The eval side is
    * broadcast by default (benchmarks are small next to a training
    * corpus); pass `broadcastEval = false` for an eval set that
    * genuinely needs a shuffle join.
    */
  def decontaminateImages(corpus: DataFrame, evalSet: DataFrame,
      idCol: String, phashCol: String, maxDist: Int, bands: Int = 4,
      broadcastEval: Boolean = true): DataFrame = {
    require(bands >= 1 && 64 % bands == 0,
      s"bands must divide 64, got $bands")
    require(maxDist >= 0 && maxDist < bands,
      s"pigeonhole guarantee needs maxDist < bands, got $maxDist/$bands")
    Seq("contaminated", "n_eval_matches").foreach(c =>
      require(!corpus.columns.contains(c),
        s"decontaminateImages: corpus already has a '$c' column"))
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    def bandRows(df: DataFrame, id: String, p: String): DataFrame = {
      val bandCols = (0 until bands).map { i =>
        struct(lit(i).as("band"),
          shiftright(col(p), i * width).bitwiseAND(mask).as("bits"))
      }
      df.select(col(id), col(p), explode(array(bandCols: _*)).as("b"))
        .select(col(id), col(p), col("b.band"), col("b.bits"))
    }
    val c = bandRows(
      corpus.select(col(idCol).as("__cid"), col(phashCol).as("__cp")),
      "__cid", "__cp")
    val e0 = bandRows(
      evalSet.select(col(idCol).as("__eid"), col(phashCol).as("__ep")),
      "__eid", "__ep")
    val e = if (broadcastEval) broadcast(e0) else e0
    val hits = c.join(e, Seq("band", "bits"))
      .filter(bit_count(col("__cp").bitwiseXOR(col("__ep"))) <=
        maxDist)
      .select("__cid", "__eid").distinct()
      .groupBy(col("__cid"))
      .agg(count(lit(1)).as("n_eval_matches"))
    corpus.join(hits, corpus(idCol) === col("__cid"), "left")
      .withColumn("contaminated", col("n_eval_matches").isNotNull)
      .withColumn("n_eval_matches",
        coalesce(col("n_eval_matches"), lit(0L)))
      .drop("__cid")
  }

  /** Caption boilerplate gate: captions that repeat across more than
    * `maxRepeats` DISTINCT images are scraper templates ("click to
    * enlarge", watermark notices, CDN alt-text) — worthless as
    * supervision and poisonous at contrastive-training scale. Counts
    * are over the NORMALIZED caption (lowercase, trimmed, whitespace
    * runs collapsed — the q195-family normalization) so casing and
    * spacing variants pool into one template. Adds `caption_count`
    * and `is_boilerplate`; null/empty captions flag as boilerplate
    * (no supervision value) with count 0.
    *
    * ONE map-side-combined aggregation on the normalized caption +
    * one join back; the aggregate's output is bounded by the number
    * of distinct captions, never corpus rows x corpus rows.
    */
  def captionBoilerplate(df: DataFrame, idCol: String,
      captionCol: String, maxRepeats: Long): DataFrame = {
    require(maxRepeats >= 1,
      s"captionBoilerplate: maxRepeats must be >= 1, got $maxRepeats")
    Seq("caption_count", "is_boilerplate").foreach(c =>
      require(!df.columns.contains(c),
        s"captionBoilerplate: input already has a '$c' column"))
    val norm = regexp_replace(lower(trim(col(captionCol))),
      "\\s+", " ")
    val keyed = df.withColumn("__nc",
      when(norm.isNull || norm === "", lit(null)).otherwise(norm))
    val counts = keyed.filter(col("__nc").isNotNull)
      .groupBy(col("__nc"))
      .agg(count(lit(1)).as("caption_count"))
    keyed.join(counts, Seq("__nc"), "left")
      .withColumn("caption_count",
        coalesce(col("caption_count"), lit(0L)))
      .withColumn("is_boilerplate",
        col("__nc").isNull || col("caption_count") > maxRepeats)
      .drop("__nc")
  }

  /** Cross-modal alignment gate (the CLIP-score shape): cosine
    * between a row's image embedding and its caption embedding, plus
    * a pass/fail flag — the standard curation filter for pairs whose
    * caption does not describe the image (alt-text spam, wrong-file
    * scrapes). Adds `alignment` (DOUBLE; null when either embedding
    * is null/empty, the dimensions differ, or either norm is zero)
    * and `aligned` (never null: an ungateable row must not pass a
    * gate, so null alignment => false).
    *
    * Embeddings are quantized to milli-units so the dot products are
    * exact integer sums through the codegen'd [[graft.functions
    * .DotProductQ]] — the [[graft.dedup.Dedup.cosineQ]] discipline:
    * deterministic across engines and partitionings, and the int8-
    * style trick a 10^12-row scoring pass wants anyway. Pure
    * projection — no shuffle, no UDF, stays inside whole-stage
    * codegen.
    */
  def alignmentGate(df: DataFrame, imgEmbCol: String,
      capEmbCol: String, minCos: Double): DataFrame = {
    import graft.functions.DotProductQ.dotQ
    Seq("alignment", "aligned").foreach(c =>
      require(!df.columns.contains(c),
        s"alignmentGate: input already has a '$c' column"))
    val qa = graft.dedup.Dedup.quantize(col(imgEmbCol))
    val qb = graft.dedup.Dedup.quantize(col(capEmbCol))
    val ok = col(imgEmbCol).isNotNull && col(capEmbCol).isNotNull &&
      size(qa) === size(qb) && size(qa) > 0 &&
      dotQ(qa, qa) > 0 && dotQ(qb, qb) > 0
    df.withColumn("alignment",
        when(ok, graft.dedup.Dedup.cosineQ(qa, qb)))
      .withColumn("aligned",
        coalesce(col("alignment") >= minCos, lit(false)))
  }

  /** Per-source adaptive alignment gate: like [[alignmentGate]] but
    * the threshold is each SOURCE's own `q`-quantile of alignment
    * rather than one global constant — the practical calibration for
    * a web corpus where alt-text conventions differ per site (a flat
    * 0.3 keeps stock-photo spam from one host and drops good pairs
    * from another). Adds `alignment`, `threshold` (the source's
    * exact np.interp quantile over its non-null alignments; null for
    * a source with none) and `aligned` (never null: null alignment
    * OR null threshold gates false).
    *
    * Scale shape: the scoring pass is the [[alignmentGate]]
    * projection; the calibration is ONE grouped weighted-quantile
    * aggregation (|sources| x |distinct alignment| bounded) joined
    * back broadcast-small. No spine re-shuffle beyond the bounded
    * aggregation's own exchange.
    */
  def alignmentGateAdaptive(df: DataFrame, srcCol: String,
      imgEmbCol: String, capEmbCol: String, q: Double): DataFrame = {
    require(q > 0.0 && q < 1.0,
      s"alignmentGateAdaptive: q in (0,1) required, got $q")
    Seq("alignment", "aligned", "threshold").foreach(c =>
      require(!df.columns.contains(c),
        s"alignmentGateAdaptive: input already has a '$c' column"))
    val scored = alignmentGate(df, imgEmbCol, capEmbCol,
      minCos = 0.0).drop("aligned")
    val thr = graft.core.Stats.groupedWeightedQuantiles(
      scored.filter(col("alignment").isNotNull), srcCol,
      "alignment", lit(1), Seq(q))
      .select(col(srcCol).as("__tk"), col("quantile").as("threshold"))
    scored.join(broadcast(thr), scored(srcCol) <=> col("__tk"),
        "left")
      .withColumn("aligned",
        coalesce(col("alignment") >= col("threshold"), lit(false)))
      .drop("__tk")
  }

  /** Multimodal context packing for image+caption pretraining: each
    * pair costs `img_tokens` ViT patch tokens
    * (`ceil(w/patch) * ceil(h/patch)` — integer `div` arithmetic, no
    * float ceil, exact past 2^53 cumulative tokens) plus whitespace
    * caption tokens plus `extraTokens` separators (BOS/boundary), and
    * the pair stream (in `idCol` order) is cut into fixed
    * `blockSize`-token training blocks by
    * [[graft.text.Sharding.packContextBlocks]] — the same two-phase
    * exclusive cumsum, so there is no single-partition stage at any
    * corpus size. Output per pair: `img_tokens`, `txt_tokens`,
    * `tokens`, `cum_before`, `start_block`, `start_offset`,
    * `end_block` (see packContextBlocks for block semantics).
    */
  def packPatchBlocks(df: DataFrame, idCol: String, wCol: String,
      hCol: String, captionCol: String, patch: Int, blockSize: Long,
      extraTokens: Int = 2): DataFrame = {
    require(patch > 0, s"patch size must be positive, got $patch")
    require(extraTokens >= 0,
      s"extraTokens must be >= 0, got $extraTokens")
    graft.core.Ids.requireNoBinary(df, "packPatchBlocks")
    val pw = expr(s"(CAST($wCol AS BIGINT) + ${patch - 1}) div $patch")
    val ph = expr(s"(CAST($hCol AS BIGINT) + ${patch - 1}) div $patch")
    // size(split(NULL)) is -1 and split('') yields [''] — normalize
    // both to zero caption tokens
    val trimmed = trim(col(captionCol))
    val txt = when(trimmed.isNull || trimmed === "", lit(0L))
      .otherwise(size(split(trimmed, "\\s+")).cast("long"))
    val costed = df
      .withColumn("img_tokens", pw * ph)
      .withColumn("txt_tokens", txt)
      .withColumn("tokens",
        col("img_tokens") + col("txt_tokens") + lit(extraTokens.toLong))
    graft.text.Sharding.packContextBlocks(costed, idCol, "tokens",
      blockSize)
  }

  /** NN-sample `img` onto a `tw x th` grid with the SAME integer
    * source rule as [[ImageIoResizer]] (`src = x * w div tw`), so a
    * normalized compare of an NN-upscaled twin against its original
    * recovers the original exactly.
    */
  private def nnSample(img: BufferedImage, tw: Int, th: Int)
      : BufferedImage = {
    val out = new BufferedImage(tw, th, BufferedImage.TYPE_INT_RGB)
    val (w, h) = (img.getWidth, img.getHeight)
    var y = 0
    while (y < th) {
      val sy = y * h / th
      var x = 0
      while (x < tw) {
        out.setRGB(x, y, img.getRGB(x * w / tw, sy))
        x += 1
      }
      y += 1
    }
    out
  }

  /** Candidate-pair PSNR verify — the graded SECOND stage of image
    * dedup. Stage 1 ([[phashNearDups]] / [[graft.multimodal.PhashIndex]])
    * proposes candidate pairs from the 64-bit hash column alone; this
    * stage decodes ONLY the candidate pairs' payloads and scores each
    * pair by exact PSNR between the two decoded pixel matrices — the
    * BASELINE per-row invariant (PSNR >= 40 dB for lossy formats,
    * exact pixels for lossless) applied pairwise, so "same picture in
    * a different container / re-encode generation" is separable from
    * "visually close but different picture" before a cluster collapse.
    *
    * Scale shape: the pair set is banding-bounded (never all-pairs),
    * so payloads move only for the candidate ids — the distinct id set
    * is broadcast into the corpus scan (a corpus-side filter, NO
    * corpus shuffle), and only the surviving payloads shuffle, once
    * per pair side. Each side decodes through the pixel ops' shared
    * payload access; 5 scalars per pair leave the partition.
    *
    * Verdicts per pair (decode failures audit false, never throw):
    *   - decode_ok   — both payloads decoded
    *   - dims_match  — decoded dimensions equal (PSNR is only defined
    *                   on equal-shape matrices)
    *   - psnr_db     — exact PSNR, +Infinity for identical pixels;
    *                   null when dims differ unless `normalizeDims`
    *   - exact       — identical (possibly normalized) pixels
    *   - is_dup      — psnr_db >= minPsnrDb
    *
    * With `normalizeDims = true`, dims-differing pairs are NN-sampled
    * onto the smaller common grid (the [[ImageIoResizer]] integer
    * rule) before scoring: an NN-downsample of an NN-upsample is the
    * identity, so a true dup stored at 2x resolution scores
    * +Infinity against its original while `dims_match` stays false —
    * the verify stage for [[resizeEncode]]-materialized ladders.
    */
  def pairPsnrVerify(imgs: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String = "id_a", bCol: String = "id_b",
      minPsnrDb: Double = 40.0, normalizeDims: Boolean = false): DataFrame = {
    require(imgs.columns.contains("bytes") &&
      imgs.columns.contains("fmt"),
      "pairPsnrVerify: imgs needs payload columns (bytes, fmt)")
    val payload = imgs.select(col(idCol).as("__pid"),
      col("bytes").as("__bytes"), col("fmt").as("__fmt"))
    // candidate ids broadcast INTO the corpus scan: the corpus never
    // shuffles for a bounded pair set
    val ids = pairs.select(col(aCol).as("__pid"))
      .union(pairs.select(col(bCol).as("__pid"))).distinct()
    val wanted = payload.join(broadcast(ids), Seq("__pid"), "left_semi")
    // LEFT joins: a candidate id with no payload row (image table
    // filtered/compacted since the index proposed the pair) must
    // surface as decode_ok=false, never silently drop the pair — the
    // contract is one verdict per candidate pair
    val joined = pairs
      .join(wanted.select(col("__pid"), col("__bytes").as("__bytes_a"),
        col("__fmt").as("__fmt_a")), col(aCol) === col("__pid"), "left")
      .drop("__pid")
      .join(wanted.select(col("__pid"), col("__bytes").as("__bytes_b"),
        col("__fmt").as("__fmt_b")), col(bCol) === col("__pid"), "left")
      .drop("__pid")
    val inSchema = joined.schema
    val baIdx = inSchema.fieldIndex("__bytes_a")
    val faIdx = inSchema.fieldIndex("__fmt_a")
    val bbIdx = inSchema.fieldIndex("__bytes_b")
    val fbIdx = inSchema.fieldIndex("__fmt_b")
    Kernel.append(joined, pairs.columns.toSeq.map(inSchema.fieldIndex), Seq(
      StructField("decode_ok", BooleanType),
      StructField("dims_match", BooleanType),
      StructField("psnr_db", DoubleType),
      StructField("exact", BooleanType),
      StructField("is_dup", BooleanType))) { () =>
      val px = new Payloads
      r => {
        val ia = px.image(r, baIdx, faIdx)
        val ib = px.image(r, bbIdx, fbIdx)
        if (ia == null || ib == null)
          Seq(false, false, null, false, false)
        else {
          val dimsMatch = ia.getWidth == ib.getWidth &&
            ia.getHeight == ib.getHeight
          if (!dimsMatch && !normalizeDims)
            Seq(true, false, null, false, false)
          else {
            // normalized compare: NN-sample both onto the smaller
            // common grid (an NN-downsample of an NN-upsample is
            // the identity, so scale-differing true dups score
            // +Infinity); dims_match stays honest
            val (pa, pb) =
              if (dimsMatch) (ia, ib)
              else {
                val tw = math.min(ia.getWidth, ib.getWidth)
                val th = math.min(ia.getHeight, ib.getHeight)
                (nnSample(ia, tw, th), nnSample(ib, tw, th))
              }
            val p = PixelCheck.psnr(pa, pb)
            Seq(true, dimsMatch, p, p.isPosInfinity, p >= minPsnrDb)
          }
        }
      }
    }
  }

  /** Materialize a resize: decode the payload, NN-resample onto the
    * per-row `(twCol, thCol)` target grid (the [[ImageIoResizer]]
    * integer source rule — no resampling kernel, engine-exact), and
    * re-encode LOSSLESSLY as png, updating `bytes`, `w`, `h`, `fmt`.
    * This is the step that turns a [[graft.multimodal.AspectBatch]]
    * ladder plan (`snapToLadder` picks `bucket_w x bucket_h`) into
    * actual training payloads; png output keeps the materialized
    * pixels exactly reproducible, so [[pairPsnrVerify]] with
    * `normalizeDims` certifies a materialized ladder against its
    * originals (+Infinity for every true pair).
    *
    * Undecodable payloads pass through UNCHANGED; null/absurd targets
    * are rejected up front.
    */
  def resizeEncode(df: DataFrame, twCol: String, thCol: String,
      maxDim: Int = 16384): DataFrame = {
    val twIdx = df.schema.fieldIndex(twCol)
    val thIdx = df.schema.fieldIndex(thCol)
    rewrite(df, "png", setDims = true) { r =>
      require(!r.isNullAt(twIdx) && !r.isNullAt(thIdx),
        s"resizeEncode: null target dims in ($twCol, $thCol)")
      val tw = r.getInt(twIdx); val th = r.getInt(thIdx)
      require(tw > 0 && th > 0 && tw <= maxDim && th <= maxDim,
        s"resizeEncode: bad target ${tw}x$th (maxDim $maxDim)")
      img => nnSample(img, tw, th)
    }
  }

  /** Deterministic per-(id, epoch) augmentation PLAN: random crop
    * window, horizontal flip, and color-jitter level for every image
    * of every epoch, with NO RNG state — each draw is pure integer
    * arithmetic over [[graft.text.Sharding.epochHash]] sub-streams
    * (one extra Knuth round per field, distinct xxHash-prime salts),
    * so the same (id, epoch) yields the same augmentation on any
    * cluster size, in any engine, on every re-run (reproducible
    * training + exact job resume without persisting a plan table).
    * The reference registry has no image axis; this extends its
    * fit-free deterministic-transform discipline (e.g.
    * `/root/reference/tubular/misc.py` SetValueTransformer: pure
    * projection, no state) onto training-time image augmentation.
    *
    * Adds `crop_w`/`crop_h` (window dims, clamped into the image),
    * `crop_x`/`crop_y` (uniform over every in-bounds position),
    * `flip` (true with `flipPct`/100 probability) and `jitter`
    * (uniform level in [0, jitterLevels)). Rows with null or
    * non-positive declared dims get a null plan (quarantine rows,
    * don't kill the job). Pure codegen projection: no shuffle, no
    * decode, no driver state — at 10^12 images the plan costs one
    * map over the metadata columns and composes with [[cropEncode]]
    * for materialization.
    */
  def augmentPlan(df: DataFrame, idCol: String, wCol: String,
      hCol: String, epoch: Int, cropW: Int, cropH: Int,
      flipPct: Int = 50, jitterLevels: Int = 8): DataFrame = {
    graft.core.Ids.requireIntegral(df, idCol, "augmentPlan")
    require(cropW >= 1 && cropH >= 1,
      s"augmentPlan: crop dims must be >= 1, got ${cropW}x$cropH")
    require(flipPct >= 0 && flipPct <= 100,
      s"augmentPlan: flipPct in [0,100], got $flipPct")
    require(jitterLevels >= 1 && jitterLevels <= Int.MaxValue,
      s"augmentPlan: jitterLevels >= 1, got $jitterLevels")
    val outCols =
      Seq("crop_w", "crop_h", "crop_x", "crop_y", "flip", "jitter")
    outCols.foreach(c => require(!df.columns.contains(c),
      s"augmentPlan: input already has a '$c' column"))
    // one epoch mix shared by all fields; per-field sub-streams are
    // one further Knuth round over (mix + salt) — salts are the
    // public xxHash32 primes, distinct per field so crop position,
    // flip and jitter draw independently
    val m = graft.text.Sharding.epochHash(col(idCol), epoch)
    def sub(salt: Long): Column =
      pmod(pmod(pmod(m + lit(salt), lit(4294967296L)),
        lit(2147483648L)) * lit(2654435761L), lit(4294967296L))
    val w = col(wCol); val h = col(hCol)
    val ok = w.isNotNull && h.isNotNull && w >= 1 && h >= 1
    val cw = least(lit(cropW), w); val ch = least(lit(cropH), h)
    df.select(df.columns.map(col) ++ Seq(
      when(ok, cw).cast("int").as("crop_w"),
      when(ok, ch).cast("int").as("crop_h"),
      when(ok, pmod(sub(3266489917L), (w - cw + 1).cast("long")))
        .cast("int").as("crop_x"),
      when(ok, pmod(sub(668265263L), (h - ch + 1).cast("long")))
        .cast("int").as("crop_y"),
      when(ok, pmod(sub(374761393L), lit(100L)) < flipPct).as("flip"),
      when(ok, pmod(sub(2246822519L), lit(jitterLevels.toLong)))
        .cast("int").as("jitter")): _*)
  }

  /** Materialize a crop plan: decode the payload, copy the
    * `(xCol, yCol, cwCol, chCol)` window, re-encode LOSSLESSLY as
    * png, updating `bytes`, `w`, `h`, `fmt` — the step that turns an
    * [[augmentPlan]] into actual training payloads. Pass-through
    * (row unchanged) for: a null plan (any of the four cols null —
    * [[augmentPlan]]'s quarantine rows compose), an undecodable
    * payload, or a window that falls outside the DECODED bounds
    * (declared-dims drift is a row you quarantine via
    * [[auditPayloads]]). Nothing shuffles.
    */
  def cropEncode(df: DataFrame, xCol: String, yCol: String,
      cwCol: String, chCol: String): DataFrame =
    augmentEncode(df, xCol, yCol, cwCol, chCol)

  /** Materialize a FULL augmentation plan in one codec pass: crop the
    * `(xCol, yCol, cwCol, chCol)` window, mirror it horizontally when
    * `flipCol` is true, add `jitterDeltas(jitterCol)` to every channel
    * (clamped to [0, 255]), and re-encode LOSSLESSLY as png, updating
    * `bytes`, `w`, `h`, `fmt`. Flip is an exact involution and jitter
    * is pointwise, so flip∘flip is the identity on every materialized
    * payload — q224 certifies that algebra end-to-end with
    * [[pairPsnrVerify]] (exact for every row, flipped or not).
    *
    * Pass-through (row unchanged) quarantines: a null plan field, an
    * undecodable payload, a window outside the DECODED bounds, or a
    * jitter level with no entry in `jitterDeltas`. Nothing shuffles.
    */
  def augmentEncode(df: DataFrame, xCol: String, yCol: String,
      cwCol: String, chCol: String, flipCol: Option[String] = None,
      jitterCol: Option[String] = None,
      jitterDeltas: IndexedSeq[Int] = IndexedSeq.empty): DataFrame = {
    require(jitterCol.isEmpty == jitterDeltas.isEmpty,
      "augmentEncode: jitterCol and jitterDeltas come together " +
        "(a level column needs its delta table and vice versa)")
    val inSchema = df.schema
    val planIdx = Seq(xCol, yCol, cwCol, chCol)
      .map(inSchema.fieldIndex)
    val flipIdx = flipCol.map(inSchema.fieldIndex)
    val jitterIdx = jitterCol.map(inSchema.fieldIndex)
    rewrite(df, "png", setDims = true) { r =>
      val nullPlan = planIdx.exists(r.isNullAt) ||
        flipIdx.exists(r.isNullAt) || jitterIdx.exists(r.isNullAt)
      // a level outside the delta table quarantines the row
      val delta =
        if (nullPlan) None
        else jitterIdx match {
          case None => Some(0)
          case Some(ji) =>
            val lvl = r.getInt(ji)
            if (lvl >= 0 && lvl < jitterDeltas.length)
              Some(jitterDeltas(lvl))
            else None
        }
      if (delta.isEmpty) null
      else {
        val Seq(cx, cy, cw, ch) = planIdx.map(r.getInt)
        val flip = flipIdx.exists(r.getBoolean)
        val d = delta.get
        img =>
          if (cx < 0 || cy < 0 || cw < 1 || ch < 1 ||
              cx + cw > img.getWidth || cy + ch > img.getHeight) null
          else {
            val crop = new BufferedImage(cw, ch, BufferedImage.TYPE_INT_RGB)
            var y = 0
            while (y < ch) {
              var x = 0
              while (x < cw) {
                val sx = if (flip) cx + (cw - 1 - x) else cx + x
                val p = img.getRGB(sx, cy + y)
                val q = if (d == 0) p & 0xffffff else {
                  def ch8(v: Int) = math.min(255, math.max(0, v + d))
                  (ch8((p >> 16) & 0xff) << 16) |
                    (ch8((p >> 8) & 0xff) << 8) | ch8(p & 0xff)
                }
                crop.setRGB(x, y, q)
                x += 1
              }
              y += 1
            }
            crop
          }
      }
    }
  }

  /** Materialize an EXIF orientation plan
    * ([[Batching.exifNormalizePlan]]): flip horizontally when
    * `flipCol`, then rotate clockwise by `rotCol` degrees (0, 90,
    * 180, 270 — any other value quarantines the row), re-encoding
    * LOSSLESSLY as png with `bytes`/`w`/`h`/`fmt` updated (90/270
    * transpose the dims). Group algebra the spec and q242 certify:
    * with R = CW rotation and F = flip-H, `F∘R_θ∘F = R_{-θ}`, so
    * every flip-variant `(R_θ F)` is an involution — applying the
    * SAME plan twice is the identity — and a pure rotation undoes
    * with the complementary angle. That gives an exact pixel
    * round-trip certificate with no reference decoder in the loop.
    *
    * Pass-through quarantines (row unchanged): null plan fields,
    * undecodable payload, rotation outside the table. Nothing
    * shuffles.
    */
  def orientEncode(df: DataFrame, flipCol: String, rotCol: String)
      : DataFrame = {
    val flipIdx = df.schema.fieldIndex(flipCol)
    val rotIdx = df.schema.fieldIndex(rotCol)
    rewrite(df, "png", setDims = true) { r =>
      if (r.isNullAt(flipIdx) || r.isNullAt(rotIdx)) null
      else {
        val flip = r.getBoolean(flipIdx)
        val rot = r.getInt(rotIdx)
        if (!Set(0, 90, 180, 270).contains(rot)) null
        else img => {
          val sw = img.getWidth; val sh = img.getHeight
          val (ow, oh) =
            if (rot == 90 || rot == 270) (sh, sw) else (sw, sh)
          val dst = new BufferedImage(ow, oh, BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < oh) {
            var x = 0
            while (x < ow) {
              // invert the CW rotation: which FLIPPED-image
              // pixel lands at display (x, y)?
              val (fx, fy) = rot match {
                case 0 => (x, y)
                case 90 => (y, sh - 1 - x)
                case 180 => (sw - 1 - x, sh - 1 - y)
                case _ => (sw - 1 - y, x) // 270
              }
              // flip-H ran FIRST on the stored pixels
              val sx = if (flip) sw - 1 - fx else fx
              dst.setRGB(x, y, img.getRGB(sx, fy) & 0xffffff)
              x += 1
            }
            y += 1
          }
          dst
        }
      }
    }
  }

  /** Canonical-caption election per image near-dup cluster: when a
    * picture appears k times with diverging labels (scraped twice,
    * re-captioned, case-normalized), training wants ONE caption per
    * cluster chosen by a deterministic policy — majority vote, ties to
    * the longest caption (most information), remaining ties to the
    * lexicographically smallest. Null captions never vote; a cluster
    * with no non-null caption elects null; singletons elect their own
    * caption.
    *
    * Relational shape: connected components over the pair graph
    * (log-rounds min-label propagation, [[graft.dedup.Components]]),
    * then ONE (cluster, caption) vote count and ONE `min_by(struct)`
    * election per cluster — both map-side combined, output bounded by
    * the number of clusters; captions never ride the band explosion.
    */
  def electCanonicalCaption(imgs: DataFrame, idCol: String,
      captionCol: String, pairs: DataFrame,
      aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    // a string id would cast to null below and silently collapse the
    // whole corpus into ONE null cluster — same guard as every other
    // id-keyed op
    graft.core.Ids.requireIntegral(imgs, idCol,
      "electCanonicalCaption")
    Seq("cluster", "canonical_caption", "__cluster").foreach(c =>
      require(!imgs.columns.contains(c),
        s"electCanonicalCaption: input already has a '$c' column"))
    val comp = graft.dedup.Components
      .connectedComponents(pairs.select(col(aCol), col(bCol)),
        aCol, bCol)
      .select(col("id").as("__cc_id"),
        col("component").as("__cc_comp"))
    val keyed = imgs
      .join(comp, imgs(idCol).cast("long") === col("__cc_id"), "left")
      .withColumn("__cluster",
        coalesce(col("__cc_comp"), imgs(idCol).cast("long")))
      .drop("__cc_id", "__cc_comp")
    val votes = keyed
      .filter(col(captionCol).isNotNull)
      .groupBy(col("__cluster"), col(captionCol).as("__cap"))
      .agg(count(lit(1)).as("__votes"))
    // min_by over (−votes, −length, caption): majority, then longest,
    // then lexicographic — one deterministic struct comparison
    val elected = votes.groupBy(col("__cluster"))
      .agg(min_by(col("__cap"), struct(
        (-col("__votes")).as("nv"),
        (-length(col("__cap"))).as("nl"),
        col("__cap").as("c"))).as("canonical_caption"))
    keyed.join(elected, Seq("__cluster"), "left")
      .withColumn("cluster", col("__cluster"))
      .drop("__cluster")
  }

}
