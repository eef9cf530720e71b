package graft.dedup

import graft.io.SnapshotStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted MinHash-LSH dedup index for INCREMENTAL ingestion: at
  * corpus scale you cannot re-shingle and re-hash 100 TB every time a
  * new crawl batch arrives. The index stores each document's LSH band
  * buckets `(id, band, bh)` — a few dozen small ints per document —
  * through [[graft.io.SnapshotStore]] (checkpointed, lineage-verified,
  * resumable, snapshot-scoped); deduping a new batch then costs:
  * signatures for the BATCH only, one equi-join of its band rows
  * against the stored rows, and exact-Jaccard verification that reads
  * corpus text ONLY for the matched candidate ids (a semi-join-
  * restricted scan, not a corpus pass).
  *
  * Cost honesty: the EXPENSIVE corpus work — shingling, hashing,
  * signatures over text — is batch-only forever. `appendBatch`'s
  * band-table maintenance, however, merges the full stored band table
  * (a few dozen small ints per document, ~100-1000x lighter than the
  * text) through the lineage-diffed snapshot write; per-append cost is
  * O(stored band rows). For very high append frequency, batch the
  * appends or extend SnapshotStore with a bucket-delta append.
  *
  * The arithmetic is identical to the one-shot [[Dedup]] path (same
  * signatures, same banding), so indexed incremental dedup returns
  * EXACTLY the pairs a from-scratch run over corpus+batch would
  * return for pairs touching the batch — spec-asserted, and the q93
  * oracle certifies it against the exhaustive all-pairs truth.
  */
object MinhashIndex {

  final case class Params(shingleSize: Int = 3, numHashes: Int = 32,
      bands: Int = 8)

  private val NBuckets = 16
  private def bandsRoot(root: String) = s"$root/bands"
  // the store's documented default bucketing — via byKey so a future
  // hashing tweak there can't silently diverge from this index
  private def bucketExpr =
    graft.io.SnapshotStore.byKey("id", NBuckets)

  private def writeParams(root: String, p: Params): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "minhash_params.txt"),
      s"${p.shingleSize},${p.numHashes},${p.bands}")
  }

  def params(root: String): Params = {
    val Array(s, n, b) = java.nio.file.Files.readString(
      java.nio.file.Paths.get(root, "minhash_params.txt"))
      .trim.split(",").map(_.toInt)
    Params(s, n, b)
  }

  /** Ids must be integral: a silent cast of string/UUID ids would
    * null them out and make every join quietly return nothing.
    */
  private def requireIntegralId(docs: DataFrame, idCol: String): Unit = {
    import org.apache.spark.sql.types._
    val ok = docs.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    require(ok,
      s"MinhashIndex requires an integral id column, got $idCol: " +
        s"${docs.schema(idCol).dataType}" +
        " (hash non-numeric ids to int64 first, e.g. xxhash64)")
  }

  private def bandRowsOf(docs: DataFrame, idCol: String,
      textCol: String, p: Params): DataFrame = {
    requireIntegralId(docs, idCol)
    Dedup.bandRows(docs, idCol, textCol, p.shingleSize, p.numHashes,
      p.bands)
      .select(col("__id").cast("long").as("id"), col("band"), col("bh"))
  }

  /** Build the index from an initial corpus (one signature pass). */
  def build(docs: DataFrame, idCol: String, textCol: String,
      root: String, p: Params = Params())
      : SnapshotStore.WriteResult = {
    writeParams(root, p)
    SnapshotStore.write(bandRowsOf(docs, idCol, textCol, p),
      bandsRoot(root), bucketExpr)
  }

  /** Stored band rows at the latest (or a pinned) snapshot. */
  def bands(spark: SparkSession, root: String,
      snapshot: Option[Int] = None): DataFrame =
    SnapshotStore.read(spark, bandsRoot(root), snapshot)

  /** Absorb a batch: its band rows join the stored table as a new
    * snapshot (lineage diff carries untouched buckets by reference).
    * Call AFTER deduping the batch, with the survivors.
    */
  def appendBatch(batch: DataFrame, idCol: String, textCol: String,
      root: String): SnapshotStore.WriteResult = {
    val p = params(root)
    // distinct: a replayed append (failure recovery) converges to the
    // same state instead of duplicating the batch's band rows
    val merged = bands(batch.sparkSession, root)
      .unionByName(bandRowsOf(batch, idCol, textCol, p))
      .distinct()
    SnapshotStore.write(merged, bandsRoot(root), bucketExpr)
  }

  /** Verified near-dup pairs TOUCHING THE BATCH: batch-vs-corpus pairs
    * (via the stored index — the corpus is never re-signatured) plus
    * batch-internal pairs. `corpus` supplies text for verification and
    * is read only for candidate ids (semi-join restriction). Output
    * (id_a, id_b, jaccard), id_a < id_b, ids globally unique across
    * corpus and batch.
    */
  def batchNearDups(batch: DataFrame, corpus: DataFrame, idCol: String,
      textCol: String, root: String, threshold: Double): DataFrame = {
    // the batch side is guarded inside bandRowsOf; the corpus text
    // side is cast below and would silently null out non-integral ids
    // (dropping every batch-vs-corpus pair from the output)
    requireIntegralId(corpus, idCol)
    val p = params(root)
    // all three uses below join on (band, bh) off this one
    // repartition, so Spark plans a single signature computation +
    // exchange and ReusedExchange for the other sides
    val newBands = bandRowsOf(batch, idCol, textCol, p)
      .repartition(col("band"), col("bh"))
    val stored = bands(batch.sparkSession, root)
    val vsCorpus = newBands.join(
      stored.select(col("id").as("old_id"), col("band"), col("bh")),
      Seq("band", "bh"))
      .filter(col("id") =!= col("old_id"))
      .select(least(col("id"), col("old_id")).as("id_a"),
        greatest(col("id"), col("old_id")).as("id_b"))
    val a = newBands.select(col("id").as("id_a"), col("band"), col("bh"))
    val b = newBands.select(col("id").as("id_b"), col("band"), col("bh"))
    val within = a.join(b, Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    // lineage truncation (round 6): the candidate relation has THREE
    // consumers (the text-restriction id probe + both verify joins),
    // and without plan truncation each consumer re-executes the whole
    // band subtree — the stored-band parquet read, the batch signature
    // kernel and the band joins all ran 3x (probe-measured ~15% of
    // q93). Pairs are id-only rows bounded by the LSH collision count.
    // A lazy cut: the first consumer computes it once.
    val cands = graft.core.Materialize.truncate(
      vsCorpus.unionByName(within).distinct(), eager = false)

    val candIds = cands.select(col("id_a").as("cid"))
      .unionByName(cands.select(col("id_b").as("cid"))).distinct()
    val texts = corpus
      .select(col(idCol).cast("long").as(idCol), col(textCol))
      .unionByName(batch
        .select(col(idCol).cast("long").as(idCol), col(textCol)))
      .join(candIds, col(idCol) === col("cid"), "left_semi")
    Dedup.verifyJaccard(cands, texts, idCol, textCol,
      threshold, p.shingleSize)
  }
}
