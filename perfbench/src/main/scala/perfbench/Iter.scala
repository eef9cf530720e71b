package perfbench

import scala.collection.mutable

/** A failed output check: the iteration counts toward `failed`. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def apply(ok: Boolean, what: => String): Unit =
    if (!ok) throw new CheckFailed(what)
}

/** One iteration's stopwatch. Library calls run inside [[lib]] or
  * [[span]] and are timed; output checks run between them and are not.
  * Every timed segment is fenced by a short pause, so jobs started by
  * a check never share a millisecond with a segment's interval.
  */
final class Iter(val traced: Boolean) {
  var wallNs = 0L
  val segments = mutable.ArrayBuffer.empty[(Long, Long)]
  val spans = mutable.ArrayBuffer.empty[Span]

  def lib[T](body: => T): T = timed(None, None)(body)

  /** A layer call whose output the workload uses in every run. */
  def span[T](name: String, parent: Option[String] = None)(body: => T): T =
    timed(Some(name), parent)(body)

  /** A traced-run-only span: a lazy layer is timed by writing its
    * output alone to the noop sink (or counting it).
    */
  def traceOnly(name: String, parent: Option[String] = None)(
      body: => Unit): Unit =
    if (traced) span(name, parent)(body)

  def extra(name: String, key: String, value: Double): Unit =
    if (traced) spans.filter(_.name == name).foreach(_.extras(key) = value)

  private def timed[T](name: Option[String], parent: Option[String])(
      body: => T): T = {
    Thread.sleep(2)
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val dt = System.nanoTime() - t0
      val ms1 = System.currentTimeMillis()
      wallNs += dt
      segments += ((ms0, ms1))
      if (traced) name.foreach(n =>
        spans += Span(n, parent, ms0, ms1, dt, mutable.LinkedHashMap.empty))
      Thread.sleep(2)
    }
  }

  def inSegment(ms: Long): Boolean =
    segments.exists { case (a, b) => ms >= a && ms <= b }
}
