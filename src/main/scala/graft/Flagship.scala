package graft

import graft.core.Pipeline
import graft.io.ImageTable
import graft.operators._
import graft.temporal.AsOfJoin
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The flagship end-to-end job (BASELINE.json north_star): point-in-time
  * feature construction over the image+caption table.
  *
  * events (image_id, event_ts, target)
  *   AS-OF JOIN snapshots (image_id, feature_ts, caption_at, phash_at, feat)
  *   JOIN images metadata (w, h, fmt, caption, phash — bytes PRUNED:
  *        the binary payload never enters the shuffle; verify with
  *        .explain that the scan's ReadSchema excludes `bytes`)
  *   |> fitted transformer pipeline:
  *        MeanImputer(w,h) -> CappingTransformer(q feat) ->
  *        OneHotEncoding(fmt) -> MeanResponse(caption word vs target) ->
  *        DateDifference(feature_ts -> event_ts staleness)
  *
  * The transform stage is ONE codegen'd projection; the only shuffles
  * are the as-of join's hash exchange on image_id and the metadata
  * join (broadcast at these sizes).
  */
object Flagship {

  /** The PIT-joined, metadata-enriched input frame (pipeline fit/
    * transform input). No fit state, no caching — pure plan.
    */
  def joinedInput(spark: SparkSession, nImages: Long,
      eventsPerImage: Int, hotFraction: Double = 0.0,
      hotEntities: Seq[String] = Seq.empty,
      autoSaltShare: Option[Double] = None): DataFrame =
    joinedInputFrom(
      ImageTable.events(spark, nImages, eventsPerImage,
        hotFraction = hotFraction),
      ImageTable.snapshots(spark, nImages),
      ImageTable.images(spark, nImages),
      hotEntities, autoSaltShare)

  /** Same plan over CALLER-SUPPLIED tables (e.g. parquet reads — the
    * production shape: at 100 TB the inputs are stored tables, not
    * in-flight generation; the bench's stored-input scaling variant
    * reads these from disk so the timed work is scan + join +
    * transform, the operator, not the synthetic generator).
    */
  def joinedInputFrom(evs: DataFrame, snaps: DataFrame,
      imgs: DataFrame, hotEntities: Seq[String] = Seq.empty,
      autoSaltShare: Option[Double] = None): DataFrame = {
    // point-in-time attach of the latest snapshot per event; skew
    // handling either from an explicit hot list or (autoSaltShare) the
    // sampled runtime detection pass
    val pit = AsOfJoin.join(evs, snaps, entity = "image_id",
      leftTs = "event_ts", rightTs = "feature_ts",
      rightValueCols = Seq("caption_at", "phash_at", "feat"),
      hotEntities = hotEntities, autoSaltShare = autoSaltShare)

    // metadata join — never touches `bytes`, so column pruning keeps
    // the binary payload out of the exchange entirely
    val meta = imgs.select("image_id", "w", "h", "fmt", "caption")
      .withColumn("caption_word", split(col("caption"), " ").getItem(0))
    pit.join(broadcast(meta), Seq("image_id"), "left")
      // manufactured nulls so the imputers have work
      .withColumn("w", when(col("event_id") % 17 === 0, lit(null))
        .otherwise(col("w")))
      .withColumn("h", when(col("event_id") % 23 === 0, lit(null))
        .otherwise(col("h")))
  }

  /** The flagship transformer pipeline, unfitted. */
  def pipelineDef(): Pipeline = Pipeline(
    "impute_w" -> new MeanImputer(Seq("w", "h")),
    "cap_feat" -> new CappingTransformer(
      quantiles = Map("feat" -> (Some(0.01), Some(0.99)))),
    "onehot_fmt" -> new OneHotEncodingTransformer(Seq("fmt")),
    "enc_caption" -> new MeanResponseTransformer(
      Seq("caption_word"), "target", prior = 10.0,
      unseenLevelHandling = Some(Right("mean"))),
    "staleness" -> new DateDifferenceTransformer(
      "matched_ts", "event_ts", Some("staleness_h"), "h"))

  /** The columns the pipeline's FIT passes actually read (plus the
    * fit filter key): the cached fit input is pruned to these before
    * persisting, so the cache never materializes the wide payload
    * columns (`caption` strings, `phash_at`, ids) that only the final
    * transform projection needs. At 10M+ rows the wide cache build
    * dominated the whole flagship job; the narrow one is a fraction
    * of it, and the transform re-derives the joined plan once — a
    * single extra scan-shaped pass, exactly what a production job
    * pays when it checkpoints fit statistics rather than raw inputs.
    */
  private[graft] def fitProjection(pipe: Pipeline, joined: DataFrame)
      : DataFrame = {
    val fitCols = (pipe.steps.flatMap(_._2.fitInputCols)
      :+ "matched_ts").distinct.filter(joined.columns.contains)
    joined.filter(col("matched_ts").isNotNull)
      .select(fitCols.map(col): _*)
  }

  /** Fit the flagship pipeline once and return it — the one-time cost a
    * production job pays before transforming arbitrarily many batches.
    */
  def fitPipeline(spark: SparkSession, nImages: Long,
      eventsPerImage: Int): Pipeline =
    fitOver(joinedInput(spark, nImages, eventsPerImage))

  /** Fit a fresh flagship pipeline over `joined`. The pipeline's fit
    * passes each re-execute their input plan, so the (column-pruned)
    * fit input is cached for the duration of the fit passes — the as-of
    * join + generation run a single time instead of once per fit
    * barrier, the move a production job makes before a multi-pass fit
    * over a 100 TB table — and released before returning. The
    * transform plan over `joined` never reads that cache.
    */
  private def fitOver(joined: DataFrame): Pipeline = {
    val pipe = pipelineDef()
    graft.core.Materialize.scoped(fitProjection(pipe, joined))(pipe.fit)
  }

  def features(spark: SparkSession, nImages: Long,
      eventsPerImage: Int, hotFraction: Double = 0.0,
      hotEntities: Seq[String] = Seq.empty): DataFrame =
    featuresOver(joinedInput(spark, nImages, eventsPerImage,
      hotFraction, hotEntities))

  /** Fit + transform over a caller-supplied joined input plan (see
    * [[joinedInputFrom]] for the stored-table production shape).
    */
  def featuresOver(joined: DataFrame): DataFrame =
    fitOver(joined).transform(joined)

  /** Decode-dominated variant: the feature table joined back to the
    * image payloads, with per-image decode features extracted via the
    * mapPartitions batch path. This is the shape of a real image
    * training-data job (codec CPU dominates), and the job used for the
    * two-parallelism scaling evidence — per-row compute scales with
    * cores, unlike shuffle bytes, which on a single box share one
    * memory subsystem.
    */
  def featuresWithDecode(spark: SparkSession, nImages: Long,
      eventsPerImage: Int, minDim: Int = 256, maxDim: Int = 384,
      payloadCapBytes: Int = 4096,
      prefit: Option[Pipeline] = None,
      decodePartitions: Int = 0): DataFrame = {
    // with a pre-fitted pipeline (the amortized production shape) the
    // job is generation + as-of join + transform + decode + agg, no fit
    // barriers; without one, features() fits in-line as before
    val transformed = prefit match {
      case Some(pipe) =>
        pipe.transform(joinedInput(spark, nImages, eventsPerImage))
      case None => features(spark, nImages, eventsPerImage)
    }
    val feats = transformed
      .groupBy("image_id")
      .agg(count(lit(1)).as("n_events"), avg("target").as("mean_target"))
    val imgs = ImageTable.images(spark, nImages, minDim = minDim,
      maxDim = maxDim, payloadCapBytes = payloadCapBytes,
      numPartitions = decodePartitions)
    val decoded = multimodal.Multimodal.withDecodeFeatures(
      imgs, multimodal.Multimodal.SyntheticPixelDecoder)
      .select("image_id", "decoded_w", "decoded_h", "mean_luma")
    decoded.join(feats, Seq("image_id"), "left")
  }
}
