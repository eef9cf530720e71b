package graft

import graft.core.Kernel
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

object KernelSpec {
  val opened = new AtomicInteger
  val closed = new AtomicInteger
  final class Probe extends AutoCloseable {
    opened.incrementAndGet()
    def close(): Unit = { closed.incrementAndGet(); () }
  }
}

class KernelSpec extends SparkSpec {
  import KernelSpec._

  test("append keeps the chosen columns, appends the fields, drops " +
      "null rows, and plans one MapPartitions") {
    val in = spark.range(0, 10).select(col("id"),
      (col("id") * 2).as("twice"), lit("x").as("tag"))
    val out = Kernel.append(in, Seq(2, 0),
      Seq(StructField("sq", LongType, nullable = false))) { () => r =>
      val id = r.getLong(0)
      if (id % 3 == 0) null else Seq(id * id)
    }
    assert(out.columns.toSeq == Seq("tag", "id", "sq"))
    assert(out.orderBy("id").collect().toSeq ==
      (0L until 10L).filter(_ % 3 != 0).map(i => Row("x", i, i * i)))
    val plan = out.queryExecution.executedPlan.toString
    assert("MapPartitions".r.findAllIn(plan).size == 1, plan)
    assert(!plan.contains("Exchange"), plan)
  }

  test("perTask closes its resource on task completion, also when the " +
      "iterator is abandoned") {
    val in = spark.range(0, 1000, 1, numPartitions = 4).toDF("id")
    val schema = StructType(Seq(StructField("id", LongType)))
    def probed = Kernel.map(in, schema) { it =>
      Kernel.perTask(new Probe)
      it
    }
    val (o0, c0) = (opened.get, closed.get)
    assert(probed.count() == 1000)
    // take(1) stops reading after one row of the first partition
    assert(probed.take(1).length == 1)
    val opens = opened.get - o0
    assert(opens >= 5, s"opened $opens")
    assert(closed.get - c0 == opens)
  }

  test("only graft.core.Kernel builds a Row encoder or touches " +
      "TaskContext") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), root.toAbsolutePath.toString)
    val banned = """Encoders\.row|RowEncoder|TaskContext""".r
    val bad = for {
      p <- Files.walk(root).iterator().asScala.toSeq
      if p.toString.endsWith(".scala") &&
        p.getFileName.toString != "Kernel.scala"
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if banned.findFirstIn(line).isDefined
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(bad.isEmpty, bad.mkString("\n"))
  }
}
