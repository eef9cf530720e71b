package graft.io

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Binary shard writer/reader — the last mile of the WebDataset-style
  * export path ([[graft.text.Sharding.packShardsDual]] lays out,
  * [[graft.text.Sharding.shardMemberOffsets]] assigns seek offsets,
  * this writes the actual bytes and proves the round trip).
  *
  * Shard file format (deterministic, seekable with the offsets the
  * layout already computed): members in layout order, each framed as
  * `[8-byte big-endian id][8-byte big-endian payload length][payload]`.
  * The id rides in the frame so a reader can recompute the manifest's
  * order-independent `bit_xor(md5_60("<id>#<size>"))` content
  * fingerprint from the BYTES ON DISK alone — the audit needs no
  * side table.
  *
  * Scale shape: one repartition on the shard key puts every shard
  * wholly inside one task (single-writer semantics, no coordination);
  * `sortWithinPartitions` orders members; the writer streams — no
  * shard is ever buffered in memory. Shards are byte-budget-bounded
  * by construction, so the read side (whole-file `binaryFile` rows)
  * is bounded too. Files land under a directory path; swap the
  * `java.nio` channel for a Hadoop FileSystem stream to target
  * HDFS/S3 — the layout, framing and audit are FS-agnostic.
  */
object ShardWriter {

  private val FrameOverhead = 16L // 8-byte id + 8-byte length

  /** Write every member's payload into its shard file
    * (`shard-<k1>-<k2>....bin` under `dir`), members in `posCol`
    * order. Returns one row per written shard: the shard key columns
    * + `members`, `payload_bytes`, `file`. Payload bytes ride ONLY
    * here — this is the one op in the export path that accepts a
    * binary column by design (the layout ops reject them).
    */
  def writeShards(df: DataFrame, idCol: String, bytesCol: String,
      posCol: String, shardCols: Seq[String], dir: String): DataFrame = {
    require(shardCols.nonEmpty, "writeShards: need >= 1 shard column")
    graft.core.Ids.requireIntegral(df, idCol, "writeShards")
    require(df.schema(bytesCol).dataType == BinaryType,
      s"writeShards: $bytesCol must be BINARY, got " +
        s"${df.schema(bytesCol).dataType}")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val arranged = df
      .repartition(shardCols.map(col): _*)
      .sortWithinPartitions((shardCols :+ posCol).map(col): _*)
    val schema = arranged.schema
    val idIdx = schema.fieldIndex(idCol)
    val bIdx = schema.fieldIndex(bytesCol)
    val kIdx = shardCols.map(schema.fieldIndex)
    val outSchema = StructType(
      kIdx.map(schema.fields) ++ Seq(
        StructField("members", LongType, nullable = false),
        StructField("payload_bytes", LongType, nullable = false),
        StructField("file", StringType, nullable = false)))
    graft.core.Kernel.map(arranged, outSchema) { it =>
      val done = scala.collection.mutable.ArrayBuffer[Row]()
      var curKey: Seq[Any] = null
      var ch: java.nio.channels.FileChannel = null
      var members = 0L
      var payload = 0L
      var path: String = null
      def close(): Unit = if (ch != null) {
        ch.close()
        done += Row.fromSeq(curKey ++ Seq(members, payload, path))
        ch = null
      }
      val head = java.nio.ByteBuffer.allocate(16)
      it.foreach { r =>
        val key = kIdx.map(r.get)
        if (key != curKey) {
          close()
          curKey = key
          path = s"$dir/shard-${key.mkString("-")}.bin"
          ch = java.nio.channels.FileChannel.open(
            java.nio.file.Paths.get(path),
            java.nio.file.StandardOpenOption.CREATE,
            java.nio.file.StandardOpenOption.WRITE,
            java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
          members = 0L; payload = 0L
        }
        val bytes = Option(r.getAs[Array[Byte]](bIdx))
          .getOrElse(Array.emptyByteArray)
        head.clear()
        head.putLong(r.getLong(idIdx)).putLong(bytes.length.toLong)
        head.flip()
        while (head.hasRemaining) ch.write(head)
        val body = java.nio.ByteBuffer.wrap(bytes)
        while (body.hasRemaining) ch.write(body)
        members += 1; payload += bytes.length
      }
      close()
      done.iterator
    }
  }

  /** Re-parse written shards from the BYTES ON DISK: one row per
    * member `(file, id, size)`, streaming the frames. Bounded by
    * construction (a shard is byte-budget-sized); the `binaryFile`
    * source distributes one file per row. Malformed framing fails
    * loudly with the file name — an export audit must never silently
    * skip a truncated shard.
    */
  def readShardMembers(spark: SparkSession, dir: String): DataFrame = {
    val files = spark.read.format("binaryFile")
      .load(s"$dir/shard-*.bin")
      .select(col("path"), col("content"))
    val outSchema = StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("id", LongType, nullable = false),
      StructField("size", LongType, nullable = false)))
    graft.core.Kernel.map(files, outSchema) { it =>
      it.flatMap { r =>
        val path = r.getString(0)
        val bytes = r.getAs[Array[Byte]](1)
        val buf = java.nio.ByteBuffer.wrap(bytes)
        val members = scala.collection.mutable.ArrayBuffer[Row]()
        while (buf.hasRemaining) {
          if (buf.remaining < FrameOverhead)
            throw new IllegalStateException(
              s"truncated shard frame header in $path at " +
                s"offset ${buf.position()}")
          val id = buf.getLong
          val len = buf.getLong
          if (len < 0 || len > buf.remaining)
            throw new IllegalStateException(
              s"corrupt member length $len for id $id in $path")
          buf.position(buf.position() + len.toInt)
          members += Row(path, id, len)
        }
        members
      }
    }
  }

  /** Audit written shards against the layout's published manifest:
    * re-parses the bytes on disk, recomputes members / payload bytes
    * / the order-independent content fingerprint per shard, and
    * compares each to [[graft.text.Sharding.shardManifest]]'s row.
    * Output: the manifest's shard keys + `members`, `shard_bytes` and
    * three booleans (`members_match`, `bytes_match`, `fp_match`); a
    * manifest shard with no file on disk audits all-false. The whole
    * audit is two bounded aggregations — nothing unbounded ever
    * leaves an executor.
    */
  def auditShards(spark: SparkSession, dir: String,
      manifest: DataFrame, shardCols: Seq[String]): DataFrame = {
    require(shardCols.nonEmpty, "auditShards: need >= 1 shard column")
    // shard key back from the file name: shard-<k1>-<k2>....bin
    val name = regexp_extract(col("file"), "shard-(.+)\\.bin$", 1)
    val keyed = readShardMembers(spark, dir)
      .withColumn("__parts", split(name, "-"))
      .select(shardCols.zipWithIndex.map { case (c, i) =>
        element_at(col("__parts"), i + 1).cast("long").as(c)
      } :+ col("id") :+ col("size"): _*)
    val got = keyed
      .withColumn("__fp", graft.core.Hashing.md5Hash60(concat_ws("#",
        col("id").cast("string"), col("size").cast("string"))))
      .groupBy(shardCols.map(col): _*)
      .agg(count(lit(1)).as("__got_members"),
        sum(col("size")).as("__got_bytes"),
        expr("bit_xor(__fp)").as("__got_fp"))
    manifest.join(got, shardCols, "left")
      .withColumn("members_match",
        col("__got_members").isNotNull &&
          col("__got_members") === col("members"))
      .withColumn("bytes_match",
        col("__got_bytes").isNotNull &&
          col("__got_bytes") === col("shard_bytes"))
      .withColumn("fp_match",
        col("__got_fp").isNotNull &&
          col("__got_fp") === col("content_fp"))
      .drop("__got_members", "__got_bytes", "__got_fp")
  }
}
