package graft

import graft.operators.Eval
import graft.streaming.StreamingOps
import graft.text.Sharding
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The materialization policy (`graft.core.Materialize`): lineage cuts
  * honour a reliable checkpoint dir, scoped caches are released on
  * every exit path, and no other code in `src/main/scala` picks a
  * storage level or durability rule on its own.
  */
class MaterializeSpec extends SparkSpec {

  /** Ids of the RDDs the context still holds as persistent, after a
    * GC: a frame the driver dropped leaves this map once collected
    * (its local-checkpoint blocks then go with the ContextCleaner).
    */
  private def persistentIds(): Set[Int] = {
    System.gc()
    spark.sparkContext.getPersistentRDDs.keySet.toSet
  }

  private def assertReleased(base: Set[Int], what: String): Unit = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    var left = persistentIds() -- base
    while (left.nonEmpty && System.nanoTime() < deadline) {
      Thread.sleep(200)
      left = persistentIds() -- base
    }
    assert(left.isEmpty, s"$what left persistent RDDs $left: " +
      left.map(spark.sparkContext.getPersistentRDDs(_)).mkString("; "))
  }

  private def dropBlocksSince(base: Set[Int]): Unit =
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!base(id)) rdd.unpersist(blocking = true)
    }

  test("a truncated frame survives dropped blocks with a checkpoint " +
      "dir and fails with the local-checkpoint error without one") {
    val d = df("id BIGINT, tok BIGINT",
      (1L to 200L).map(i => Row(i, i % 7)))
    def rows(f: org.apache.spark.sql.DataFrame) =
      f.collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
        .toSet
    val dir = Files.createTempDirectory("mat-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val base = persistentIds()
      val packed = Sharding.packShards(d, "id", "tok", budget = 100L)
      val first = rows(packed)
      dropBlocksSince(base)
      assert(rows(packed) == first)
      assert(first.size == 200)
      assert(Files.walk(Paths.get(dir)).anyMatch(Files.isRegularFile(_)),
        "no checkpoint files were written")
    } finally spark.sparkContext.setCheckpointDir(null)

    val base = persistentIds()
    val packed = Sharding.packShards(d, "id", "tok", budget = 100L)
    rows(packed)
    dropBlocksSince(base)
    val e = intercept[org.apache.spark.SparkException](rows(packed))
    assert(e.getMessage.contains("Checkpoint block") &&
      e.getMessage.contains("not found"), e.getMessage)
  }

  test("dedupIngestBatch releases its caches when emit throws, and " +
      "after successful micro-batches") {
    import spark.implicits._
    val corpus = (1L to 6L).map(i => (i,
      s"corpus document $i sharing many words plus token$i end"))
      .toDF("doc_id", "text")
    val root = Files.createTempDirectory("ingest-release").toString
    graft.dedup.MinhashIndex.build(corpus, "doc_id", "text", root)
    def batch(id: Long) = Seq(
      (id, "document 3 sharing many words plus token3 end"),
      (id + 1, (0 until 8).map(k => s"w${id}_$k").mkString(" ")))
      .toDF("doc_id", "text")
    def ingest(id: Long, batchId: Long,
        emit: org.apache.spark.sql.DataFrame => Unit): Unit =
      StreamingOps.dedupIngestBatch(batch(id), batchId, corpus,
        "doc_id", "text", root, threshold = 0.5, emit = emit)
    val base = persistentIds()
    val ex = intercept[IllegalStateException] {
      ingest(100L, 0L, d => {
        d.count()
        throw new IllegalStateException("sink down")
      })
    }
    assert(ex.getMessage == "sink down")
    assertReleased(base, "a failed emit")

    val emitted = scala.collection.mutable.ArrayBuffer[Long]()
    (1 to 3).foreach { i =>
      ingest(100L * (i + 1), i.toLong,
        d => emitted ++= d.select("doc_id").collect().map(_.getLong(0)))
    }
    assert(emitted.toSet == Set(201L, 301L, 401L))
    assertReleased(base, "3 micro-batches")
  }

  test("spearman releases its input cache when the first action over " +
      "it fails") {
    val d = spark.range(0, 50).select(
      when(col("id") === 7, raise_error(lit("bad row")))
        .otherwise(col("id").cast("double")).as("a"),
      (col("id") * 2).cast("double").as("b"))
    val base = persistentIds()
    val e = intercept[Exception](Eval.spearman(d, "a", "b"))
    assert(e.getMessage.contains("bad row"), e.getMessage)
    assertReleased(base, "a failed spearman")
  }

  test("only graft.core.Materialize persists, checkpoints or reads " +
      "the checkpoint dir; no (DataFrame, () => Unit) returns") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), root.toAbsolutePath.toString)
    val direct = Seq("""\.persist\(""", """\.cache\(\)""",
      """localCheckpoint\(""", """\.checkpoint\(""", "getCheckpointDir")
      .mkString("|").r
    val cleanupPair = """\(\s*DataFrame\s*,\s*\(\)\s*=>\s*Unit\s*\)""".r
    val defName = """\bdef\s+(\w+)""".r
    // caches with no release point inside the call (file, def): they
    // stay registered until the caller's clearCache()
    val allowed = Set(
      "SpanDedup.scala" -> "duplicatedSpans",
      "SpanDedup.scala" -> "duplicationRatio",
      "SpanDedup.scala" -> "removeDuplicatedSpans",
      "Dedup.scala" -> "containmentPairs",
      "Flagship.scala" -> "featuresOver",
      "StreamingOps.scala" -> "decontaminateStream",
      "StreamingOps.scala" -> "annEnrichStream")
    val sites = for {
      p <- Files.walk(root).iterator().asScala.toSeq
      if p.toString.endsWith(".scala") &&
        p.getFileName.toString != "Materialize.scala"
      lines = Files.readAllLines(p).asScala.toSeq
      // the def each line sits in (the last `def` at or above it)
      enclosing = lines.scanLeft("")((d, l) =>
        defName.findFirstMatchIn(l).fold(d)(_.group(1))).tail
      ((line, i), in) <- lines.zipWithIndex.zip(enclosing)
      code = line.trim
      if !(code.startsWith("//") || code.startsWith("*") ||
        code.startsWith("/*"))
      m <- direct.findFirstIn(code).toSeq ++ cleanupPair.findFirstIn(code)
    } yield (m, p.getFileName.toString -> in, s"$p:${i + 1}: $code")
    val (kept, bad) = sites.partition { case (m, site, _) =>
      m == ".persist(" && allowed(site) }
    assert(bad.isEmpty, bad.map(_._3).mkString("\n"))
    // each enumerated cache persists once, so none can multiply
    val repeated = kept.groupBy(_._2).filter(_._2.size > 1)
    assert(repeated.isEmpty,
      repeated.values.flatten.map(_._3).mkString("\n"))
  }
}
