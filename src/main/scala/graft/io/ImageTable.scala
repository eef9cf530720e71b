package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The image+caption table of BASELINE.json input_hint:
  * (image_id:string, bytes:binary, w:int32, h:int32, fmt:string,
  *  caption:string, phash:int64)
  * plus the event/snapshot side tables driving the as-of join.
  *
  * Everything is synthesised DETERMINISTICALLY from (seed, id) with
  * codegen'd expressions — `spark.range` partitions the id space, so
  * generation itself scales linearly with cores and no data ever
  * originates on the driver. No external data.
  *
  * `bytes` is an opaque binary payload (pseudo-random, size w*h
  * dependent). Real PNG/JPEG encoding for the PSNR validation path
  * lives in graft.validate.PixelCheck (test-side, javax.imageio) —
  * the distributed plumbing (schema, partitioning, binary-column
  * discipline) is identical for real payloads.
  */
object ImageTable {

  /** Deterministic 64-bit mix of (seed, id, salt). */
  private def h(seed: Long, salt: String, idCol: org.apache.spark.sql.Column) =
    xxhash64(lit(seed), lit(salt), idCol)

  private val Formats = Seq("png", "jpeg", "webp")
  private val CaptionWords = Seq("sunset", "mountain", "river", "city",
    "forest", "portrait", "abstract", "ocean", "desert", "night")

  /** The caption expression of [[images]], exposed so an audit can
    * regenerate the EXPECTED caption for an id and assert exact
    * equality against the carried caption column (BASELINE.json:
    * "exact caption equality at every entity×timestamp").
    */
  def expectedCaption(seed: Long,
      idCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat_ws(" ",
      element_at(typedLit(CaptionWords),
        (pmod(h(seed, "c1", idCol), lit(10)) + 1).cast("int")),
      element_at(typedLit(CaptionWords),
        (pmod(h(seed, "c2", idCol), lit(10)) + 1).cast("int")),
      format_string("no%d", idCol))

  /** Per-image pixel seed shared by the encode ([[imagesReal]]) and
    * audit ([[graft.multimodal.Multimodal.auditPayloads]]) sides.
    */
  def pixelSeed(seed: Long, id: Long): Long = seed * 1000003L + id

  /** The base image table. Payload bytes scale with w*h (small by
    * default so tests stay fast; pass pixel sizes up for bench realism).
    */
  def images(spark: SparkSession, n: Long, seed: Long = 42,
      minDim: Int = 8, maxDim: Int = 32,
      payloadCapBytes: Int = Int.MaxValue,
      numPartitions: Int = 0): DataFrame = {
    val dimSpan = maxDim - minDim + 1
    // decode-style consumers should pass numPartitions >> cores: per-row
    // cost varies with w*h (up to ~(maxDim/minDim)^2), and with exactly
    // one task per core the job ends at the slowest task — finer splits
    // smooth the stragglers
    val df = (if (numPartitions > 0) spark.range(0, n, 1, numPartitions)
      else spark.range(0, n))
      .withColumn("image_id", format_string("img_%010d", col("id")))
      .withColumn("w",
        (pmod(h(seed, "w", col("id")), lit(dimSpan)) + minDim).cast("int"))
      .withColumn("h",
        (pmod(h(seed, "h", col("id")), lit(dimSpan)) + minDim).cast("int"))
      .withColumn("fmt",
        element_at(typedLit(Formats),
          (pmod(h(seed, "f", col("id")), lit(Formats.size)) + 1).cast("int")))
      .withColumn("caption", concat_ws(" ",
        element_at(typedLit(CaptionWords),
          (pmod(h(seed, "c1", col("id")), lit(10)) + 1).cast("int")),
        element_at(typedLit(CaptionWords),
          (pmod(h(seed, "c2", col("id")), lit(10)) + 1).cast("int")),
        format_string("no%d", col("id"))))
      .withColumn("phash", h(seed, "p", col("id")))
      // pseudo-random payload ~ w*h bytes: sha512 hex chunks -> unhex
      .withColumn("bytes", unhex(repeat(
        sha2(concat(lit("px"), col("id").cast("string")), 512),
        // each sha512 hex repeat contributes 64 bytes; payloadCapBytes
        // bounds generation cost for benches whose decoder only reads a
        // seed prefix
        (ceil(least(col("w") * col("h"), lit(payloadCapBytes)) /
          lit(128.0)) + 1).cast("int"))))
      .select("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
    df
  }

  /** [[images]] with REAL codec payloads: `bytes` is an actual PNG or
    * JPEG encoding (javax.imageio, executor-side) of the deterministic
    * [[graft.validate.PixelCheck.syntheticPixels]] render for
    * ([[pixelSeed]], w, h). webp rows fall back to jpeg — the container
    * has no webp codec — and `fmt` records what was actually encoded,
    * so downstream sniffing/decoding stays truthful.
    *
    * Encoding runs in `mapPartitions` over the range-partitioned id
    * space: one ImageIO pipeline per partition, no pixel buffer or
    * payload ever on the driver — the same binary-column discipline as
    * the decode path, just pointed the other way.
    */
  def imagesReal(spark: SparkSession, n: Long, seed: Long = 42,
      minDim: Int = 8, maxDim: Int = 32,
      numPartitions: Int = 0): DataFrame = {
    import org.apache.spark.sql.Row
    // payloadCapBytes = 1: the base table's synthetic sha512 payload is
    // replaced wholesale by the codec bytes below — generating ~w*h
    // bytes of it per row would be pure wasted CPU inside every
    // real-codec job (and inside the codec-scaling bench it would
    // contaminate)
    val base = images(spark, n, seed, minDim, maxDim,
      payloadCapBytes = 1, numPartitions = numPartitions)
      .withColumn("fmt",
        when(col("fmt") === "webp", lit("jpeg")).otherwise(col("fmt")))
      .withColumn("__id",
        expr("CAST(substring(image_id, 5) AS BIGINT)"))
    val schema = base.drop("__id").schema
    val idIdx = base.schema.fieldIndex("__id")
    val bIdx = base.schema.fieldIndex("bytes")
    val wIdx = base.schema.fieldIndex("w")
    val hIdx = base.schema.fieldIndex("h")
    val fIdx = base.schema.fieldIndex("fmt")
    graft.core.Kernel.map(base, schema) { it =>
      // ONE codec per partition: writer + param + 4:4:4 metadata reused
      // across every image (per-image registry lookups and DOM metadata
      // rebuilds are codec overhead AND cross-thread contention)
      val codec = graft.core.Kernel.perTask(
        new graft.validate.PixelCheck.Codec)
      it.map { r =>
        val id = r.getLong(idIdx)
        val w = r.getInt(wIdx); val hh = r.getInt(hIdx)
        val px = graft.validate.PixelCheck.syntheticPixels(
          pixelSeed(seed, id), w, hh)
        val bytes = codec.encode(
          graft.validate.PixelCheck.toImage(px, w, hh), r.getString(fIdx))
        Row.fromSeq(r.toSeq.zipWithIndex.collect {
          case (_, `bIdx`) => bytes
          case (v, i) if i != idIdx => v
        })
      }
    }
  }

  /** Event stream: eventsPerImage rows per image, increasing event_ts,
    * with a synthetic engagement target. `hotFraction` of all events is
    * concentrated on entity img_0000000000 to exercise skew handling.
    */
  def events(spark: SparkSession, nImages: Long, perImage: Int,
      seed: Long = 42, hotFraction: Double = 0.0): DataFrame = {
    val n = nImages * perImage
    val nHot = (n * hotFraction).toLong
    spark.range(0, n)
      .withColumn("image_id",
        when(col("id") < nHot, format_string("img_%010d", lit(0L)))
          .otherwise(format_string("img_%010d", col("id") % nImages)))
      .withColumn("event_ts", timestamp_micros(
        lit(1704067200000000L) + // 2024-01-01
          col("id") * 1000000L +
          pmod(h(seed, "et", col("id")), lit(999983L))))
      .withColumn("target",
        (pmod(h(seed, "tg", col("id")), lit(1000L))).cast("double"))
      .select("id", "image_id", "event_ts", "target")
      .withColumnRenamed("id", "event_id")
  }

  /** Caption/feature snapshots: per image, `snaps` historical versions
    * with feature_ts interleaved before/around the event range so the
    * as-of join exercises past, same-instant and future rows.
    */
  def snapshots(spark: SparkSession, nImages: Long, snaps: Int = 3,
      seed: Long = 42): DataFrame = {
    spark.range(0, nImages * snaps)
      .withColumn("image_id", format_string("img_%010d",
        col("id") % nImages))
      .withColumn("snap_no", (col("id") / nImages).cast("int"))
      .withColumn("feature_ts", timestamp_micros(
        lit(1704067200000000L) - 86400000000L + // starts 1 day before
          col("snap_no") * 43200000000L + // every 12h
          (col("id") % nImages) * 997L +
          pmod(h(seed, "ft", col("id")), lit(99991L))))
      .withColumn("caption_at", concat_ws("-",
        lit("cap"), col("image_id"), col("snap_no").cast("string")))
      .withColumn("phash_at", h(seed, "ph", col("id")))
      .withColumn("feat",
        (pmod(h(seed, "fv", col("id")), lit(10000L))).cast("double") / 100.0)
      .select("image_id", "feature_ts", "caption_at", "phash_at", "feat")
  }
}
