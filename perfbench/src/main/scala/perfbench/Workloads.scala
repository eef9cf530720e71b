package perfbench

import graft.Flagship
import graft.core.Pipeline
import graft.dedup.{Components, Dedup}
import graft.io.{ImageTable, SnapshotStore}
import graft.temporal.WindowOps
import graft.text.SpanDedup
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import java.nio.file.{Files, Path, Paths}
import scala.util.Random

/** A closed-loop workload: inputs are generated from the seed and
  * written during [[setup]]; [[iteration]] runs the measured calls and
  * checks their output, throwing [[CheckFailed]] on a wrong answer.
  */
trait Workload {
  /** Input rows one iteration processes (event rows or documents). */
  def rows: Long
  /** Generate and store the inputs (and any fitted state) under `dir`. */
  def setup(dir: Path): Unit
  def iteration(it: Iter): Unit
  /** Order-independent digest of the last iteration's outputs. */
  def digest: String
}

object Workloads {
  val Names = Seq("pit_features", "pit_incremental", "dedup_corpus")

  def apply(name: String, spark: SparkSession, seed: Long,
      docs: Path): Workload = name match {
    case "pit_features" => new PitFeatures(spark, seed)
    case "pit_incremental" => new PitIncremental(spark, seed)
    case "dedup_corpus" => new DedupCorpus(spark, seed, docs)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${Names.mkString(", ")})")
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(q => Files.delete(q))
      finally s.close()
    }

  def sizeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  /** (rows, bit_xor of row hashes) over `cols`: one aggregate action. */
  def countAndXor(df: DataFrame, cols: Seq[String]): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      coalesce(bit_xor(xxhash64(cols.map(col): _*)), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** The snapshot's lineage as a digest: rows and xxh per bucket. */
  def lineageDigest(root: String, snap: Int): String =
    SnapshotStore.manifest(root, snap).sortBy(_.bucket)
      .map(e => s"${e.bucket}:${e.rows}:${e.xxh}").mkString(",")

  /** Point-in-time leakage over a stored snapshot (or its changes):
    * rows whose matched snapshot is newer than the event.
    */
  def leaks(df: DataFrame): Long =
    df.filter(col("matched_ts") > col("event_ts")).count()

  // shared by both PIT workloads
  val Buckets = 16
  val HotShare = 0.05
  def bucketOf: org.apache.spark.sql.Column =
    SnapshotStore.byKey("image_id", Buckets)

  def writeTables(spark: SparkSession, dir: Path, nImages: Long,
      perImage: Int, seed: Long, hotFraction: Double): Unit = {
    ImageTable.events(spark, nImages, perImage, seed, hotFraction)
      .write.parquet(dir.resolve("events").toString)
    ImageTable.snapshots(spark, nImages, seed = seed)
      .write.parquet(dir.resolve("snapshots").toString)
    // the payload is capped: the job prunes `bytes`, so only its
    // presence in the files matters, not its size
    ImageTable.images(spark, nImages, seed, payloadCapBytes = 256)
      .write.parquet(dir.resolve("images").toString)
  }

  /** Stored snapshots and image metadata, `bytes` pruned. */
  def sideTables(spark: SparkSession, dir: Path): (DataFrame, DataFrame) =
    (spark.read.parquet(dir.resolve("snapshots").toString),
      spark.read.parquet(dir.resolve("images").toString).drop("bytes"))
}

import Workloads._

/** The north-star job, the call sequence of `PipelineJob`, over an
  * event spine with one hot entity holding 20% of the rows.
  */
final class PitFeatures(spark: SparkSession, seed: Long) extends Workload {
  private val nImages = 2500L
  private val perImage = 20
  val rows: Long = nImages * perImage
  private var dir: Path = _
  private var iter = 0
  private var first: Option[String] = None
  private var last = ""

  def setup(d: Path): Unit = {
    dir = d
    writeTables(spark, d, nImages, perImage, seed, hotFraction = 0.2)
  }

  def iteration(it: Iter): Unit = {
    iter += 1
    deleteTree(dir.resolve(s"store-${iter - 1}"))
    val root = dir.resolve(s"store-$iter").toString
    val evs = spark.read.parquet(dir.resolve("events").toString)
    val (snaps, meta) = sideTables(spark, dir)
    it.traceOnly("io.scan") { noop(evs); noop(snaps); noop(meta) }

    val windowed = WindowOps.sessionize(
      WindowOps.rollingRows(
        WindowOps.lagLead(evs, "image_id", "event_ts", Seq("target")),
        "image_id", "event_ts", Seq("target"), k = 5),
      "image_id", "event_ts", gapSeconds = 3600)
    it.traceOnly("temporal.window", Some("io.scan")) { noop(windowed) }

    val joined = it.span("temporal.hot_detect", Some("temporal.window")) {
      Flagship.joinedInputFrom(windowed, snaps, meta,
        autoSaltShare = Some(HotShare))
    }
    it.traceOnly("temporal.asof", Some("temporal.window")) { noop(joined) }

    val feats = it.span("core.fit", Some("temporal.asof")) {
      Flagship.featuresOver(joined)
    }
    it.traceOnly("core.transform", Some("temporal.asof")) { noop(feats) }

    val res = it.span("io.snapshot_write", Some("core.transform")) {
      SnapshotStore.write(feats, root, bucketOf)
    }
    it.extra("io.snapshot_write", "buckets_written", res.written.size)
    it.extra("io.snapshot_write", "buckets_carried", res.carried.size)
    it.extra("io.snapshot_write", "disk_mb",
      sizeBytes(Paths.get(root, "runs", s"run=${res.snapshot}")) / 1048576.0)
    val errors = it.span("io.verify") { SnapshotStore.verify(spark, root) }
    it.lib { spark.catalog.clearCache() }

    Check(errors.isEmpty, s"verify: ${errors.take(3)}")
    val stored = SnapshotStore.manifest(root, res.snapshot).map(_.rows).sum
    Check(stored == rows, s"output rows $stored != spine rows $rows")
    val leaked = leaks(SnapshotStore.read(spark, root))
    Check(leaked == 0, s"$leaked rows matched a snapshot after the event")
    last = lineageDigest(root, res.snapshot)
    Check(first.forall(_ == last), "snapshot digest changed between iterations")
    if (first.isEmpty) first = Some(last)
  }

  def digest: String = last
}

/** Transform-only writes onto one store: each iteration adds a delta of
  * late events whose entities all hash to a small bucket set S_i, so the
  * write carries every other bucket and the change feed reads S_i and
  * S_{i-1} (whose delta is gone again).
  */
final class PitIncremental(spark: SparkSession, seed: Long)
    extends Workload {
  private val nImages = 5000L
  private val perImage = 20
  private val baseRows = nImages * perImage
  /** Delta classes cycle, so a class's digest can be re-checked. */
  private val Classes = 4
  private val BucketsPerClass = 1
  private val LatePerImage = 3
  private val bucketSets: Seq[Seq[Int]] =
    new Random(seed).shuffle((0 until Buckets).toList)
      .take(Classes * BucketsPerClass).grouped(BucketsPerClass)
      .map(_.sorted).toSeq
  private var deltaRows = Seq.empty[Long]
  def rows: Long = baseRows + deltaRows.sum / Classes

  private var dir: Path = _
  private def root = dir.resolve("store").toString
  private var prevSnap = 0
  private var prevClass: Option[Int] = None
  private var iter = 0
  private val seen = scala.collection.mutable.Map.empty[Int, String]
  private var last = ""

  private def delta(c: Int): DataFrame = {
    val ids = spark.range(0, nImages)
      .select(col("id"), format_string("img_%010d", col("id")).as("image_id"))
      .filter(bucketOf.isin(bucketSets(c): _*))
    val h = xxhash64(lit(seed), lit(c), col("id"), col("k"))
    ids.crossJoin(spark.range(0, LatePerImage).toDF("k"))
      .select(
        (lit((c + 1) * 1000000000000L) + col("id") * LatePerImage + col("k"))
          .as("event_id"),
        col("image_id"),
        // late: anywhere inside the base events' time range
        timestamp_micros(lit(1704067200000000L) +
          pmod(h, lit(baseRows * 1000000L))).as("event_ts"),
        pmod(xxhash64(lit(seed), lit("tg"), col("id"), col("k")), lit(1000L))
          .cast("double").as("target"))
  }

  def setup(d: Path): Unit = {
    dir = d
    writeTables(spark, d, nImages, perImage, seed, hotFraction = 0.0)
    deltaRows = (0 until Classes).map { c =>
      val p = d.resolve(s"delta-$c").toString
      delta(c).write.parquet(p)
      spark.read.parquet(p).count()
    }
    // fit once through the public Pipeline API, keep it as JSON
    val (snaps, meta) = sideTables(spark, d)
    val joined = Flagship.joinedInputFrom(
      spark.read.parquet(d.resolve("events").toString), snaps, meta,
      autoSaltShare = Some(HotShare))
    val pipe = Flagship.pipelineDef()
    val fitCols = (pipe.steps.flatMap(_._2.fitInputCols) :+ "matched_ts")
      .distinct
    val fitInput = joined.filter(col("matched_ts").isNotNull)
      .select(fitCols.map(col): _*).persist(StorageLevel.MEMORY_AND_DISK)
    try pipe.fit(fitInput) finally fitInput.unpersist(true)
    Files.writeString(d.resolve("pipeline.json"), pipe.toJson)
    prevSnap = SnapshotStore.write(pipe.transform(joined), root, bucketOf)
      .snapshot
    prevClass = None
    Check(SnapshotStore.verify(spark, root).isEmpty, "base snapshot verify")
    Check(leaks(SnapshotStore.read(spark, root)) == 0, "base snapshot leaks")
    spark.catalog.clearCache()
  }

  def iteration(it: Iter): Unit = {
    val c = iter % Classes
    iter += 1
    val pipe = it.lib {
      Pipeline.fromJson(Files.readString(dir.resolve("pipeline.json")))
    }
    val evs = spark.read.parquet(dir.resolve("events").toString)
      .unionByName(spark.read.parquet(dir.resolve(s"delta-$c").toString))
    val (snaps, meta) = sideTables(spark, dir)
    it.traceOnly("io.scan") { noop(evs); noop(snaps); noop(meta) }

    val joined = it.span("temporal.hot_detect", Some("io.scan")) {
      Flagship.joinedInputFrom(evs, snaps, meta,
        autoSaltShare = Some(HotShare))
    }
    it.traceOnly("temporal.asof", Some("io.scan")) { noop(joined) }
    val feats = it.lib { pipe.transform(joined) }
    it.traceOnly("core.transform", Some("temporal.asof")) { noop(feats) }

    val res = it.span("io.snapshot_write", Some("core.transform")) {
      SnapshotStore.write(feats, root, bucketOf)
    }
    it.extra("io.snapshot_write", "buckets_written", res.written.size)
    it.extra("io.snapshot_write", "buckets_carried", res.carried.size)
    it.extra("io.snapshot_write", "disk_mb", sizeBytes(
      Paths.get(root, "runs", s"run=${res.snapshot}")) / 1048576.0)
    val snap = res.snapshot
    val changedRows = it.span("io.read_changes") {
      SnapshotStore.readChanges(spark, root, Some(prevSnap), snap).count()
    }
    val errors = it.span("io.verify") { SnapshotStore.verify(spark, root) }
    it.lib {
      SnapshotStore.expireSnapshots(root, keepLast = 2)
      spark.catalog.clearCache()
    }

    // keepLast = 2 leaves the previous snapshot to diff against
    val changed = SnapshotStore.changedBuckets(root, Some(prevSnap), snap)
    val expected = (bucketSets(c) ++ prevClass.toSeq.flatMap(bucketSets))
      .distinct.sorted
    Check(changed == expected,
      s"changed buckets $changed != S_i u S_i-1 = $expected")
    val manifest = SnapshotStore.manifest(root, snap)
    val manifestRows = manifest.filter(e => expected.contains(e.bucket))
      .map(_.rows).sum
    Check(changedRows == manifestRows,
      s"readChanges rows $changedRows != manifest rows $manifestRows")
    Check(errors.isEmpty, s"verify: ${errors.take(3)}")
    val total = manifest.map(_.rows).sum
    Check(total == baseRows + deltaRows(c),
      s"output rows $total != spine rows ${baseRows + deltaRows(c)}")
    val leaked = leaks(
      SnapshotStore.readChanges(spark, root, Some(prevSnap), snap))
    Check(leaked == 0, s"$leaked changed rows matched a later snapshot")
    last = lineageDigest(root, snap)
    Check(seen.getOrElseUpdate(c, last) == last,
      s"snapshot digest of delta class $c changed")
    prevSnap = snap
    prevClass = Some(c)
  }

  def digest: String = seen.toSeq.sortBy(_._1).map(_._2).mkString("|")
}

/** The sf0.1 documents in rotated copies (a seed-chosen alphabet
  * rotation per copy keeps copies token-disjoint and each copy's
  * near-duplicate structure intact), through component dedup, span
  * dedup and blocked all-pairs Jaccard.
  */
final class DedupCorpus(spark: SparkSession, seed: Long, docsFile: Path)
    extends Workload {
  private val Copies = 2
  /** Pair count of the sf0.1 q42/q76 blocking (5 500 docs, 50 blocks). */
  private val Q42Pairs = 322250.0
  private val Alpha = "abcdefghijklmnopqrstuvwxyz"
  // the seed picks each copy's rotation and which tenth of the docs
  // gets a suffix twin
  private val rng = new Random(seed)
  private val rotations: Seq[Int] =
    rng.shuffle((0 until Alpha.length).toList).take(Copies)
  private val twinResidue = rng.nextInt(10)

  private var dir: Path = _
  private var nDocs = 0L
  private var blocks = 1L
  private var expectedBlockPairs = 0L
  def rows: Long = nDocs
  private def block = col("doc_id") % blocks
  private var first: Option[String] = None
  private var last = ""

  def setup(d: Path): Unit = {
    dir = d
    val base = spark.read.parquet(docsFile.toString)
      .select(col("doc_id"), col("text"))
    val copies = (0 until Copies).map { k =>
      val r = rotations(k)
      base.select((col("doc_id") + k * 100000000L).as("doc_id"),
        translate(col("text"), Alpha, Alpha.drop(r) + Alpha.take(r))
          .as("text"))
    }.reduce(_ unionByName _)
    copies.write.parquet(d.resolve("docs").toString)
    val docs = spark.read.parquet(d.resolve("docs").toString)
    // suffix twins: every 10th doc minus its first token re-appears,
    // so duplicated 8-token spans exist in every copy
    docs.filter(col("doc_id") % 10 === twinResidue)
      .select((col("doc_id") + 1000000000L).as("doc_id"),
        expr("substring(text, instr(text, ' ') + 1)").as("text"))
      .write.parquet(d.resolve("twins").toString)
    nDocs = docs.count()
    blocks = math.max(1L, math.round(nDocs.toDouble * nDocs / (2 * Q42Pairs)))
    expectedBlockPairs = docs.groupBy(block).count()
      .collect().map { r => val n = r.getLong(1); n * (n - 1) / 2 }.sum
  }

  def iteration(it: Iter): Unit = {
    val docs = spark.read.parquet(dir.resolve("docs").toString)
    val twins = spark.read.parquet(dir.resolve("twins").toString)
    it.traceOnly("io.scan") { noop(docs); noop(twins) }

    val candidates = if (!it.traced) 0L else it.span(
      "dedup.lsh_candidates", Some("io.scan")) {
      Dedup.lshCandidates(docs, "doc_id", "text").count()
    }
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.5)
    if (it.traced) {
      val n = it.span("dedup.minhash", Some("dedup.lsh_candidates")) {
        pairs.count()
      }
      it.extra("dedup.lsh_candidates", "pairs", candidates)
      it.extra("dedup.minhash", "pairs", n)
      it.extra("dedup.minhash", "useful_ratio",
        if (candidates == 0) 0.0 else n.toDouble / candidates)
    }
    // the pairs feed the components and the driver-side check below:
    // computed once, read twice
    pairs.persist(StorageLevel.MEMORY_AND_DISK)
    val (kept, keptXor) = it.span("dedup.components", Some("dedup.minhash")) {
      countAndXor(Components.dedupByComponents(docs, "doc_id", pairs,
        "id_a", "id_b"), Seq("doc_id"))
    }
    val spans = it.span("text.span_dedup", Some("io.scan")) {
      countAndXor(SpanDedup.duplicatedSpans(docs.unionByName(twins),
        "doc_id", "text", n = 8), Seq("doc_id", "span_start", "span_end"))
    }
    val blocked = it.span("dedup.blocked_jaccard", Some("io.scan")) {
      Dedup.blockedJaccard(docs.withColumn("blk", block),
        "doc_id", "text", "blk")
        .agg(count(lit(1)), count(when(col("id_a") >= col("id_b"), 1)),
          coalesce(min(col("jaccard")), lit(0.0)),
          coalesce(max(col("jaccard")), lit(0.0)),
          coalesce(bit_xor(xxhash64(col("id_a"), col("id_b"), col("jaccard"))),
            lit(0L)))
        .head()
    }
    it.extra("dedup.blocked_jaccard", "pairs", blocked.getLong(0).toDouble)
    val pairRows: Array[Row] = pairs.select("id_a", "id_b", "jaccard").collect()
    it.lib { spark.catalog.clearCache() }

    Check(pairRows.forall(r => r.getLong(0) < r.getLong(1)),
      "a near-dup pair has id_a >= id_b")
    Check(pairRows.forall(_.getDouble(2) >= 0.5),
      "a near-dup pair has jaccard < 0.5")
    val removed = removedBy(pairRows.map(r => (r.getLong(0), r.getLong(1))))
    Check(kept + removed == nDocs,
      s"kept $kept + removed $removed != corpus docs $nDocs")
    Check(spans._1 > 0, "no duplicated spans although twins exist")
    Check(blocked.getLong(0) == expectedBlockPairs,
      s"blocked pairs ${blocked.getLong(0)} != $expectedBlockPairs")
    Check(blocked.getLong(1) == 0, "a blocked pair has id_a >= id_b")
    Check(blocked.getDouble(2) >= 0.0 && blocked.getDouble(3) <= 1.0,
      "a blocked jaccard is outside [0, 1]")
    val pairXor = pairRows.map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2)).hashCode.toLong)
      .foldLeft(0L)(_ ^ _)
    last = Seq(s"pairs:${pairRows.length}:$pairXor", s"kept:$kept:$keptXor",
      s"spans:${spans._1}:${spans._2}",
      s"blocked:${blocked.getLong(0)}:${blocked.getLong(4)}").mkString(",")
    Check(first.forall(_ == last), "dedup digest changed between iterations")
    if (first.isEmpty) first = Some(last)
  }

  /** Documents a component dedup must drop: every node of the pair
    * graph except one per component (union-find on the driver).
    */
  private def removedBy(edges: Array[(Long, Long)]): Long = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val n = parent(y); parent(y) = r; y = n }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = parent.keys.toSeq
    nodes.size - nodes.map(find).distinct.size
  }

  def digest: String = last
}
