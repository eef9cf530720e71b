package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one materialization policy: every scoped cache and every
  * lineage cut in the library goes through these two verbs, so the
  * storage level, the release point and the durability rule are
  * decided here and nowhere else.
  *
  *   - [[scoped]] caches a frame at MEMORY_AND_DISK for exactly the
  *     extent of a block and always releases it, on success and on
  *     exception alike. A frame derived from the cached one must be
  *     cut with [[truncate]] (or fully consumed) INSIDE the block:
  *     after release it would recompute from the source, and a
  *     range-partitioned frame would re-sample its bounds.
  *   - [[truncate]] cuts lineage. With a reliable checkpoint dir set
  *     (`sparkContext.setCheckpointDir`, HDFS/S3) the cut is an eager
  *     durable `checkpoint`: losing an executor later re-reads the
  *     files instead of failing. Without one it is `localCheckpoint`,
  *     whose blocks live only on the executors that computed them —
  *     losing one fails the query, and the caller must run it again.
  *
  * Release of cut storage: local-checkpoint blocks are NOT freed by
  * `spark.catalog.clearCache()`; Spark's ContextCleaner frees them
  * once the driver drops the last reference to the checkpointed frame
  * and a GC runs. Durable checkpoint FILES are deleted only when the
  * application sets `spark.cleaner.referenceTracking.cleanCheckpoints
  * =true` — recommended for long-lived applications that cut many
  * frames (iterative components, per-batch ingest), else the files
  * stay in the checkpoint dir until it is removed.
  */
object Materialize {

  /** Run `body` over `df` cached at MEMORY_AND_DISK, then release the
    * cache whatever `body` does.
    */
  def scoped[T](df: DataFrame)(body: DataFrame => T): T = {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    try body(df)
    finally { df.unpersist(blocking = false); () }
  }

  /** Cut the lineage of `df`: an eager durable checkpoint when the
    * context has a checkpoint dir, else a local checkpoint, eager or
    * lazy as asked. Lazy is only for a frame whose next action
    * materializes it anyway (an iteration's convergence count).
    */
  def truncate(df: DataFrame, eager: Boolean): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager = true)
    else df.localCheckpoint(eager)
}
