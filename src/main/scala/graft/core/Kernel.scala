package graft.core

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.types.{StructField, StructType}

/** The one kernel path: every per-partition JVM kernel over `Row`s in
  * the library goes through these three verbs, so the Row encoder and
  * the per-task resource lifecycle are decided here and nowhere else.
  *
  *   - One encoder per kernel: [[map]] and [[append]] each build the
  *     output encoder once from the declared schema, and every site is
  *     one `MapPartitions` node in the plan, with no added exchange or
  *     projection.
  *   - [[append]] is the keep-and-append shape most kernels have: the
  *     output is some input columns followed by new fields, and the
  *     kept values are copied once per row, straight into the output.
  *   - Per-task resources ([[perTask]]) are opened once per partition
  *     and closed on task completion, which fires on success, on
  *     failure and when a consumer abandons the iterator early
  *     (`limit`, `take`, a killed task).
  */
object Kernel {

  /** Map each partition of `in` through `body`, whose rows must match
    * `out`.
    */
  def map(in: DataFrame, out: StructType)(
      body: Iterator[Row] => Iterator[Row]): DataFrame =
    in.mapPartitions(body)(Encoders.row(out))

  /** Keep-and-append: the output is `in`'s columns at `keep`, in that
    * order, followed by `fields`. `values` runs once per partition
    * (open per-task resources there) and returns the per-row function
    * that gives the appended values, in `fields` order, or null to
    * drop the row.
    */
  def append(in: DataFrame, keep: Seq[Int], fields: Seq[StructField])(
      values: () => Row => Seq[Any]): DataFrame = {
    val kept = keep.toArray
    val width = kept.length + fields.length
    val out = StructType(kept.map(in.schema.fields) ++ fields)
    map(in, out) { it =>
      val f = values()
      it.map { r =>
        val v = f(r)
        if (v == null) null
        else {
          val row = new Array[Any](width)
          var c = 0
          while (c < kept.length) { row(c) = r.get(kept(c)); c += 1 }
          v.copyToArray(row, kept.length)
          new GenericRow(row): Row
        }
      }.filter(_ != null)
    }
  }

  /** Open a resource for the running task and close it when the task
    * completes. Outside a task (no `TaskContext`) the caller owns it.
    */
  def perTask[R <: AutoCloseable](open: => R): R = {
    val r = open
    Option(TaskContext.get()).foreach(
      _.addTaskCompletionListener[Unit](_ => r.close()))
    r
  }
}
