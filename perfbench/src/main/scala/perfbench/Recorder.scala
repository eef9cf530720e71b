package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One finished task, as much of it as the harness reports. */
final case class TaskRec(launchMs: Long, finishMs: Long, stage: (Int, Int),
    cpuNs: Long, shuffleWriteBytes: Long, diskSpillBytes: Long)

/** One submitted job; `site` is its short call site
  * ("collect at Capping.scala:90").
  */
final case class JobRec(submitMs: Long, site: String)

/** Run-long listener: keeps every task end, job start and stage wall
  * time until the harness takes them. Events arrive on the listener
  * bus, so [[take]] drains the bus first.
  */
final class Recorder(sc: SparkContext) extends SparkListener {
  private val tasks = new ConcurrentLinkedQueue[TaskRec]
  private val jobs = new ConcurrentLinkedQueue[JobRec]
  private val stageWallMs = new ConcurrentHashMap[(Int, Int), Long]
  private val executionSite = new ConcurrentHashMap[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      executionSite.put(s.executionId, s.description)
    case _ =>
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null)
      tasks.add(TaskRec(i.launchTime, i.finishTime,
        (e.stageId, e.stageAttemptId), m.executorCpuTime,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    // a SQL job's site is its query's action, even for the stage jobs
    // adaptive execution submits from its own threads; any other job's
    // is its result stage's name
    val sqlSite = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(executionSite.get(id.toLong)))
    val site = sqlSite.getOrElse(
      if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
    jobs.add(JobRec(e.time, site))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    for (a <- s.submissionTime; b <- s.completionTime)
      stageWallMs.put((s.stageId, s.attemptNumber()), b - a)
  }

  /** Everything recorded since the last call. */
  def take(): (Seq[TaskRec], Seq[JobRec], Map[(Int, Int), Long]) = {
    org.apache.spark.PerfbenchBridge.drainListenerBus(sc)
    def drainQ[T](q: ConcurrentLinkedQueue[T]): Seq[T] = {
      val out = mutable.ArrayBuffer.empty[T]
      var x = q.poll()
      while (x != null) { out += x; x = q.poll() }
      out.toSeq
    }
    val walls = stageWallMs.asScala.toMap
    stageWallMs.clear()
    (drainQ(tasks), drainQ(jobs), walls)
  }
}

/** A layer call: its interval on the wall clock the listener uses, its
  * wall time, and the span whose output it re-executes (`parent`), so
  * self time = wall - the parent's wall.
  */
final case class Span(name: String, parent: Option[String],
    startMs: Long, endMs: Long, wallNs: Long,
    extras: mutable.LinkedHashMap[String, Double])

/** Per-span figures derived from the listener's records. */
final case class SpanStats(span: Span, cpuS: Double, shuffleMb: Double,
    jobs: Int, taskSkew: Double, spillMb: Double,
    jobsBySite: Map[String, Int])

object SpanStats {
  private val Mb = 1024.0 * 1024.0

  /** Attribute tasks (by launch time) and jobs (by submission time) to
    * the span whose interval contains them. `Pipeline.fit` launches its
    * jobs from pool threads, so job groups or other thread-local tags
    * would not reach them; the interval does.
    */
  def of(spans: Seq[Span], tasks: Seq[TaskRec], jobs: Seq[JobRec],
      stageWallMs: Map[(Int, Int), Long]): Seq[SpanStats] =
    spans.map { s =>
      def in(t: Long) = t >= s.startMs && t <= s.endMs
      val ts = tasks.filter(t => in(t.launchMs))
      val js = jobs.filter(j => in(j.submitMs))
      val byStage = ts.groupBy(_.stage)
      // max / median task time in the span's longest stage
      val skew =
        if (byStage.isEmpty) 1.0
        else {
          val longest = byStage.keys.maxBy(k =>
            (stageWallMs.getOrElse(k, 0L), byStage(k).size))
          val d = byStage(longest).map(t =>
            math.max(1L, t.finishMs - t.launchMs).toDouble).sorted
          d.last / Stats.median(d)
        }
      SpanStats(s,
        cpuS = ts.map(_.cpuNs).sum / 1e9,
        shuffleMb = ts.map(_.shuffleWriteBytes).sum / Mb,
        jobs = js.size,
        taskSkew = skew,
        spillMb = ts.map(_.diskSpillBytes).sum / Mb,
        jobsBySite = js.groupBy(j => siteFile(j.site))
          .map { case (k, v) => k -> v.size })
    }

  /** "collect at Capping.scala:90" -> "Capping". */
  def siteFile(site: String): String = {
    val at = site.lastIndexOf(" at ")
    val file = if (at < 0) site else site.substring(at + 4)
    file.takeWhile(_ != '.') match {
      case "" => "unknown"
      case f => f
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }
}
