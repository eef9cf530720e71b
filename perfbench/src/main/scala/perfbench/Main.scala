package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The benchmark's JVM side. One submitting thread runs set-up, a
  * warmup iteration, then iterations back to back until `--seconds`
  * have passed, and writes the result object to `--result`.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --cpus <n> --work <dir> --docs <parquet> --result <file>
  *      --trace-out <file>
  * }}}
  *
  * Untraced (`--trace 0`): the end-to-end metrics. Traced (`--trace 1`):
  * untraced and traced iterations alternate; the traced ones time each
  * layer call as a span and attribute Spark task metrics to it.
  */
object Main {
  /** Set-up runs this many times; `setup_s` takes the median pass. */
  val SetupPasses = 3
  val Warmups = 1
  private val Mb = 1024.0 * 1024.0

  /** Every span, in call order. A workload that bypasses a layer
    * reports zeros for it.
    */
  val SpanNames = Seq("io.scan", "temporal.window", "temporal.hot_detect",
    "temporal.asof", "core.fit", "core.transform", "io.snapshot_write",
    "io.read_changes", "io.verify", "dedup.lsh_candidates", "dedup.minhash",
    "dedup.components", "text.span_dedup", "dedup.blocked_jaccard")
  val SpanExtras = Map(
    "io.snapshot_write" -> Seq("buckets_written", "buckets_carried", "disk_mb"),
    "dedup.lsh_candidates" -> Seq("pairs"),
    "dedup.minhash" -> Seq("pairs", "useful_ratio"),
    "text.span_dedup" -> Seq("spill_mb"),
    "dedup.blocked_jaccard" -> Seq("pairs"))
  /** Call-site files of the flagship fit's jobs (`core.fit.jobs.<file>`);
    * jobs from any other file count under `other`.
    */
  val FitSites = Seq("Pipeline", "Stats", "Nominal")

  final case class IterResult(wallS: Double, cpuS: Double,
      error: Option[Throwable], storageMb: Double, gcS: Double,
      spans: Seq[SpanStats])

  def main(args: Array[String]): Unit = {
    val entry = System.nanoTime()
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) = opt.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val workload = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val cpus = need("cpus").toInt
    val work = Paths.get(need("work")).toAbsolutePath
    require(Workloads.Names.contains(workload),
      s"unknown workload '$workload'")

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // bounded status-store history, so retained heap measures the
      // library rather than how many iterations fit in the run
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    val sc = spark.sparkContext
    val rec = new Recorder(sc)
    sc.addSparkListener(rec)
    val sessionS = (System.nanoTime() - entry) / 1e9

    val failed = try {
      val wl = Workloads(workload, spark, seed,
        Paths.get(need("docs")).toAbsolutePath)
      // set-up passes: each into a fresh directory; the last one is used
      val passS = (1 to SetupPasses).map { p =>
        if (p > 1) Workloads.deleteTree(work.resolve(s"inputs-${p - 1}"))
        val t0 = System.nanoTime()
        wl.setup(work.resolve(s"inputs-$p"))
        (System.nanoTime() - t0) / 1e9
      }
      def run(traceIt: Boolean): IterResult = {
        val it = new Iter(traceIt)
        val gc0 = gcMs()
        val err = try { wl.iteration(it); None }
          catch { case NonFatal(e) => Some(e) }
        err.foreach { e =>
          System.err.println(s"[perfbench] iteration failed: $e")
          spark.catalog.clearCache()
        }
        val (tasks, jobs, walls) = rec.take()
        IterResult(it.wallNs / 1e9,
          tasks.filter(t => it.inSegment(t.launchMs)).map(_.cpuNs).sum / 1e9,
          err, storageMb(spark), (gcMs() - gc0) / 1e3,
          if (traceIt) SpanStats.of(it.spans.toSeq, tasks, jobs, walls)
          else Seq.empty)
      }
      val warm = (1 to Warmups).map(_ => run(traceIt = false))
      val setupS = sessionS + Stats.median(passS) + warm.map(_.wallS).sum

      val plain = mutable.ArrayBuffer.empty[IterResult]
      val tracedRes = mutable.ArrayBuffer.empty[IterResult]
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      while (elapsed < seconds || plain.isEmpty ||
          (traced && tracedRes.isEmpty)) {
        val traceNext = traced && tracedRes.size < plain.size
        (if (traceNext) tracedRes else plain) += run(traceNext)
      }
      spark.catalog.clearCache()
      System.gc(); Thread.sleep(200); System.gc()
      val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
        .getUsed / Mb

      val all = warm ++ plain ++ tracedRes
      val failed = all.count(_.error.nonEmpty)
      def medianOf(rs: Seq[IterResult])(f: IterResult => Double) =
        Stats.median(rs.map(f))
      val rowsPerS = wl.rows / medianOf(plain.toSeq)(_.wallS)
      val metrics: Seq[(String, Double, String)] =
        if (!traced) Seq(
          ("setup_s", setupS, "s"),
          ("rows_per_s", rowsPerS, "rows/s"),
          ("exec_cpu_s", medianOf(plain.toSeq)(_.cpuS), "s"),
          ("heap_retained_mb", heapMb, "MB"))
        else layerMetrics(tracedRes.toSeq) ++ Seq(
          ("spark.storage_mb", all.map(_.storageMb).max, "MB"),
          ("spark.gc_s", medianOf(plain.toSeq)(_.gcS), "s"),
          ("trace.overhead",
            wl.rows / medianOf(tracedRes.toSeq)(_.wallS) / rowsPerS, "ratio"))

      System.err.println(f"[perfbench] $workload seed=$seed rows=${wl.rows} " +
        f"iterations=${plain.size} traced=${tracedRes.size} " +
        f"fail_rate=${failed.toDouble / all.size}%.3f " +
        s"setup_passes=${passS.map(s => f"$s%.2f").mkString(",")} " +
        s"warmup=${warm.map(r => f"${r.wallS}%.2f").mkString(",")} " +
        f"session=$sessionS%.2f " +
        s"walls=${plain.map(r => f"${r.wallS}%.2f").mkString(",")}")
      System.err.println(s"[perfbench] digest $workload seed=$seed ${wl.digest}")
      metrics.foreach { case (n, v, u) =>
        System.err.println(f"[perfbench] $n%-40s $v%14.4f $u") }
      if (traced) writeTrace(Paths.get(need("trace-out")), workload, seed,
        tracedRes.toSeq)
      val json = s"""{"correct": ${failed == 0}, "attempted": ${all.size}, """ +
        s""""failed": $failed, "metrics": {""" +
        metrics.map { case (n, v, u) =>
          s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ") +
        "}}"
      Files.writeString(Paths.get(need("result")), json + "\n")
      failed
    } finally spark.stop()
    if (failed > 0) sys.exit(1)
  }

  /** Median over traced iterations of every per-span figure. */
  def layerMetrics(rs: Seq[IterResult]): Seq[(String, Double, String)] =
    SpanNames.flatMap { name =>
      val ss = rs.flatMap(_.spans.filter(_.span.name == name))
      def med(f: SpanStats => Double) =
        if (ss.isEmpty) 0.0 else Stats.median(ss.map(f))
      val base = Seq(
        (s"$name.wall_s", med(_.span.wallNs / 1e9), "s"),
        (s"$name.cpu_s", med(_.cpuS), "s"),
        (s"$name.shuffle_mb", med(_.shuffleMb), "MB"),
        (s"$name.jobs", med(_.jobs.toDouble), "count"),
        (s"$name.task_skew", med(_.taskSkew), "ratio"))
      val extras = SpanExtras.getOrElse(name, Nil).map {
        case "spill_mb" => (s"$name.spill_mb", med(_.spillMb), "MB")
        case k => (s"$name.$k", med(_.span.extras.getOrElse(k, 0.0)),
          if (k == "disk_mb") "MB" else if (k == "useful_ratio") "ratio"
          else "count")
      }
      val sites =
        if (name != "core.fit") Nil
        else (FitSites :+ "other").map { f =>
          def jobsAt(s: SpanStats) =
            if (f != "other") s.jobsBySite.getOrElse(f, 0)
            else s.jobsBySite.filter(kv => !FitSites.contains(kv._1))
              .values.sum
          (s"core.fit.jobs.$f", med(jobsAt(_).toDouble), "count")
        }
      base ++ extras ++ sites
    }

  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  /** Block-manager memory in use (cached and broadcast blocks). */
  private def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum / Mb

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else v.toString

  private def str(s: String) = "\"" + s.replace("\"", "'") + "\""

  /** The spans, one JSON object per line, for self-time analysis. */
  private def writeTrace(out: Path, workload: String, seed: Long,
      rs: Seq[IterResult]): Unit = {
    Files.createDirectories(out.toAbsolutePath.getParent)
    val lines = rs.zipWithIndex.flatMap { case (r, i) =>
      r.spans.map { s =>
        val extras = s.span.extras.map { case (k, v) =>
          s"${str(k)}: ${num(v)}" }.mkString(", ")
        val sites = s.jobsBySite.toSeq.sorted.map { case (k, v) =>
          s"${str(k)}: $v" }.mkString(", ")
        s"""{"workload": ${str(workload)}, "seed": $seed, """ +
          s""""iteration": $i, "span": ${str(s.span.name)}, """ +
          s""""parent": ${s.span.parent.map(str).getOrElse("null")}, """ +
          s""""start_ms": ${s.span.startMs}, "end_ms": ${s.span.endMs}, """ +
          s""""wall_s": ${num(s.span.wallNs / 1e9)}, "cpu_s": ${num(s.cpuS)}, """ +
          s""""shuffle_mb": ${num(s.shuffleMb)}, "jobs": ${s.jobs}, """ +
          s""""task_skew": ${num(s.taskSkew)}, "extras": {$extras}, """ +
          s""""jobs_by_site": {$sites}}"""
      }
    }
    Files.writeString(out, lines.mkString("", "\n", "\n"))
  }
}
