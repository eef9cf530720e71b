package graft

import graft.io.ImageTable
import graft.multimodal.Multimodal
import graft.validate.PixelCheck
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The per-row quarantine contract of every pixel op: a null, empty,
  * garbage or truncated payload yields the op's documented fallback
  * row (feature ops) or passes the row through unchanged (rewrite
  * ops), never a failed job; a null `fmt` on a valid payload decodes
  * by content sniffing; feature ops drop `bytes`, rewrite ops keep it.
  */
class PixelFrameSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private lazy val schema = ImageTable.imagesReal(spark, 1).schema
  private lazy val source = ImageTable.imagesReal(spark, 6).collect()
  // mutated rows carry no schema: read the id by position
  private def idOf(r: Row) = r.getString(schema.fieldIndex("image_id"))

  /** Case name -> input row: one untouched row, four bad payloads and
    * one valid payload with a null fmt, each on its own image id.
    */
  private lazy val cases: Seq[(String, Row)] = {
    val bIdx = schema.fieldIndex("bytes")
    val fIdx = schema.fieldIndex("fmt")
    def set(r: Row, i: Int, v: Any) = Row.fromSeq(r.toSeq.updated(i, v))
    val Seq(r0, r1, r2, r3, r4, r5) = source.toSeq
    Seq(
      "valid" -> r0,
      "null payload" -> set(r1, bIdx, null),
      "empty payload" -> set(r2, bIdx, Array.emptyByteArray),
      "garbage payload" -> set(r3, bIdx, Array[Byte](9, 9, 9)),
      // a valid png/jpeg magic, so the decoder engages and then fails
      "truncated payload" -> set(r4, bIdx, r4.getAs[Array[Byte]](bIdx).take(12)),
      "null fmt" -> set(r5, fIdx, null))
  }
  private val bad = Seq("null payload", "empty payload",
    "garbage payload", "truncated payload")

  private lazy val input: DataFrame = planned(cases.map(_._2))
  /** The untouched source rows, the reference for the null-fmt case. */
  private lazy val untouched: DataFrame = planned(source.toSeq)
  private def planned(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)
    .withColumn("cx", lit(0)).withColumn("cy", lit(0))
    .withColumn("cw", lit(3)).withColumn("ch", lit(2))
    .withColumn("flip", lit(true)).withColumn("rot", lit(90))
    .withColumn("tw", lit(4)).withColumn("th", lit(5))

  /** Values compared with NaN equal to NaN and arrays by content. */
  private def norm(v: Any): Any = v match {
    case d: Double if d.isNaN => "NaN"
    case a: Array[Byte] => a.toSeq
    case s: scala.collection.Seq[_] => s.toSeq
    case other => other
  }
  private def fieldsOf(d: DataFrame, cols: Seq[String])
      : Map[String, Seq[Any]] =
    d.select((col("image_id") +: cols.map(col)): _*).collect()
      .map(r => r.getString(0) -> r.toSeq.tail.map(norm)).toMap

  /** A feature op: appended columns, the fallback row, and what a valid
    * payload with a null fmt yields.
    */
  private case class Feature(name: String, run: DataFrame => DataFrame,
      cols: Seq[String], fallback: Seq[Any],
      fallbackFor: Map[String, Seq[Any]] = Map.empty,
      nullFmt: NullFmt = Sniffed)
  private sealed trait NullFmt
  /** Decoded by content sniffing: same values as with the real fmt. */
  private case object Sniffed extends NullFmt
  /** Handed to the stub codec: declared dims, ok = true. */
  private case class Stubbed(dims: Seq[String], ok: String)
      extends NullFmt

  private val z4 = Seq(0L, 0L, 0L, 0L)
  private val features = Seq(
    Feature("withDecodeFeatures",
      Multimodal.withDecodeFeatures(_, Multimodal.ImageIoDecoder),
      Seq("decoded_w", "decoded_h", "mean_luma", "decode_ok"),
      Seq(-1, -1, "NaN", false),
      nullFmt = Stubbed(Seq("decoded_w", "decoded_h"), "decode_ok")),
    // the resizer reports its own failure row for a payload it cannot
    // read; the frame's fallback is for a resizer that throws
    Feature("withResizeFeatures",
      Multimodal.withResizeFeatures(_, Multimodal.ImageIoResizer, 4, 5),
      Seq("resized_w", "resized_h", "resized_mean", "resized_checksum",
        "resize_ok"),
      Seq(0, 0, "NaN", 0L, false),
      fallbackFor = Seq("null payload", "empty payload",
        "garbage payload").map(_ -> Seq(-1, -1, "NaN", -1L, false)).toMap,
      nullFmt = Stubbed(Seq(), "resize_ok")),
    Feature("auditPayloads", Multimodal.auditPayloads(_, seed = 42),
      Seq("decoded_w", "decoded_h", "psnr_db", "pixels_ok"),
      Seq(-1, -1, "NaN", false)),
    Feature("averageHash", Multimodal.averageHash,
      Seq("ahash", "ahash_ok"), Seq(0L, false)),
    Feature("tileAverageHash", Multimodal.tileAverageHash(_, 2),
      Seq("tile_hashes", "tiles_ok"), Seq(z4, false)),
    Feature("tileFingerprint", Multimodal.tileFingerprint(_, 2),
      Seq("tile_fps", "tiles_ok"), Seq(z4, false)),
    Feature("differenceHash", Multimodal.differenceHash,
      Seq("dhash", "dhash_ok"), Seq(0L, false)),
    Feature("lumaStats", Multimodal.lumaStats(_, 2.0),
      Seq("mean_luma", "std_luma", "flat", "luma_ok"),
      Seq(0.0, 0.0, false, false)),
    Feature("channelStats", Multimodal.channelStats,
      Seq("n_px", "r_sum", "g_sum", "b_sum", "r_sq", "g_sq", "b_sq",
        "channels_ok"),
      Seq(0L, 0L, 0L, 0L, 0L, 0L, 0L, false)))

  features.foreach { op =>
    test(s"quarantine: ${op.name} gives its fallback row for null, " +
        "empty, garbage and truncated payloads and drops bytes") {
      val out = op.run(input)
      assert(!out.columns.contains("bytes"))
      assert(out.count() == cases.size)
      val got = fieldsOf(out, op.cols)
      val ids = cases.toMap.map { case (k, r) => k -> idOf(r) }
      bad.foreach { c =>
        val want = op.fallbackFor.getOrElse(c, op.fallback).map(norm)
        assert(got(ids(c)) == want, s"${op.name} / $c")
      }
      val okCol = op.cols.last
      assert(got(ids("valid")).last == true, s"${op.name} / valid")
      // the same payload with its fmt intact is the sniffing reference
      val ref = fieldsOf(op.run(untouched), op.cols)(ids("null fmt"))
      op.nullFmt match {
        case Sniffed =>
          assert(got(ids("null fmt")) == ref, s"${op.name} / null fmt")
        case Stubbed(dims, ok) =>
          val r = out.filter(col("image_id") === ids("null fmt")).head()
          assert(r.getAs[Boolean](ok), s"${op.name} / null fmt")
          dims.zip(Seq("w", "h")).foreach { case (d, decl) =>
            assert(r.getAs[Int](d) == r.getAs[Int](decl)) }
          assert(okCol == ok)
      }
    }
  }

  /** A rewrite op: the columns it may change, and the fmt it writes. */
  private case class Rewrite(name: String, run: DataFrame => DataFrame,
      fmt: String, dims: Option[(Int, Int)])
  private val rewrites = Seq(
    Rewrite("transcode", Multimodal.transcode(_, "jpeg"), "jpeg", None),
    Rewrite("resizeEncode", Multimodal.resizeEncode(_, "tw", "th"),
      "png", Some((4, 5))),
    Rewrite("augmentEncode", Multimodal.augmentEncode(_, "cx", "cy",
      "cw", "ch", flipCol = Some("flip")), "png", Some((3, 2))),
    Rewrite("orientEncode", Multimodal.orientEncode(_, "flip", "rot"),
      "png", None))

  rewrites.foreach { op =>
    test(s"quarantine: ${op.name} passes null, empty, garbage and " +
        "truncated payloads through unchanged and keeps bytes") {
      val out = op.run(input)
      assert(out.columns.toSeq == input.columns.toSeq)
      val before = fieldsOf(input, input.columns.toSeq.tail)
      val after = fieldsOf(out, input.columns.toSeq.tail)
      assert(after.size == cases.size)
      val ids = cases.toMap.map { case (k, r) => k -> idOf(r) }
      bad.foreach { c =>
        assert(after(ids(c)) == before(ids(c)), s"${op.name} / $c")
      }
      Seq("valid", "null fmt").foreach { c =>
        val r = out.filter(col("image_id") === ids(c)).head()
        assert(r.getAs[String]("fmt") == op.fmt, s"${op.name} / $c")
        val img = PixelCheck.decode(r.getAs[Array[Byte]]("bytes"))
        assert(img != null, s"${op.name} / $c")
        op.dims.foreach { case (w, h) =>
          assert((img.getWidth, img.getHeight) == ((w, h)))
          assert((r.getAs[Int]("w"), r.getAs[Int]("h")) == ((w, h)))
        }
      }
    }
  }

  test("quarantine: a rewrite whose encoder throws passes the row " +
      "through unchanged") {
    // the jpeg writer rejects an alpha raster: decode succeeds, encode
    // throws
    val argb = new java.awt.image.BufferedImage(4, 4,
      java.awt.image.BufferedImage.TYPE_INT_ARGB)
    val png = PixelCheck.encode(argb, "png")
    val (_, r0) = cases.head
    val row = Row.fromSeq(r0.toSeq.updated(schema.fieldIndex("bytes"), png)
      .updated(schema.fieldIndex("fmt"), "png"))
    val d = spark.createDataFrame(Seq(row).asJava, schema)
    val out = Multimodal.transcode(d, "jpeg").head()
    assert(out.getAs[String]("fmt") == "png")
    assert(out.getAs[Array[Byte]]("bytes").toSeq == png.toSeq)
  }

  test("quarantine: pairPsnrVerify gives the failed verdict for a " +
      "pair with a null, empty, garbage or truncated payload") {
    val ids = cases.toMap.map { case (k, r) => k -> idOf(r) }
    val pairs = spark.createDataFrame(
      cases.map { case (_, r) => Row(ids("valid"), idOf(r)) }.asJava,
      org.apache.spark.sql.types.StructType.fromDDL(
        "id_a STRING, id_b STRING"))
    val cols = Seq("decode_ok", "dims_match", "psnr_db", "exact",
      "is_dup")
    val got = Multimodal.pairPsnrVerify(input, "image_id", pairs)
      .select((col("id_b") +: cols.map(col)): _*).collect()
      .map(r => r.getString(0) -> r.toSeq.tail.map(norm)).toMap
    bad.foreach { c =>
      assert(got(ids(c)) == Seq(false, false, null, false, false), c)
    }
    assert(got(ids("valid")) ==
      Seq(true, true, Double.PositiveInfinity, true, true))
    assert(got(ids("null fmt")).head == true)
  }

  test("averageHash is tileAverageHash at grid 1, tile 0") {
    val base = ImageTable.imagesReal(spark, 24)
    val a = Multimodal.averageHash(base)
      .select("image_id", "ahash", "ahash_ok").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    val t = Multimodal.tileAverageHash(base, grid = 1)
      .select("image_id", "tile_hashes", "tiles_ok").collect()
      .map(r => r.getString(0) ->
        (r.getSeq[Long](1).head, r.getBoolean(2))).toMap
    assert(a.size == 24 && a.values.forall(_._2))
    assert(a == t)
  }
}
