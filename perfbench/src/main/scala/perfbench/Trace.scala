package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

/** Task metrics summed over every task that ends while it is attached.
  * Attached only in traced runs; untraced runs read process CPU alone. */
final class Probe extends SparkListener {
  private val counters = Probe.Keys.map(_ -> new AtomicLong).toMap
  private val seq = new AtomicLong
  /** (sequence no, stage id, task run ms) for the task-skew figures. */
  private val tasks = new ConcurrentLinkedQueue[(Long, Int, Long)]()

  private def add(k: String, v: Long): Unit = counters(k).addAndGet(v)

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) {
      add("tasks", 1)
      add("cpu_ns", m.executorCpuTime)
      add("run_ms", m.executorRunTime)
      add("gc_ms", m.jvmGCTime)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("output_bytes", m.outputMetrics.bytesWritten)
      add("output_records", m.outputMetrics.recordsWritten)
      add("input_records", m.inputMetrics.recordsRead)
      tasks.add((seq.incrementAndGet(), t.stageId, m.executorRunTime))
    }
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = add("jobs", 1)

  def snapshot(): Probe.Snap =
    Probe.Snap(counters.map { case (k, v) => k -> v.get.toDouble }, seq.get)

  /** max / median task run time of the busiest stage among the tasks
    * that ended between two snapshots (1.0 when there is one task). */
  def taskSkew(from: Probe.Snap, to: Probe.Snap): Double = {
    val in = tasks.asScala.filter { case (s, _, _) => s > from.seq && s <= to.seq }.toSeq
    if (in.isEmpty) 1.0
    else {
      val busiest = in.groupBy(_._2).maxBy(_._2.map(_._3).sum)._2.map(_._3.toDouble)
      val med = math.max(Util.median(busiest), 1.0)
      busiest.max / med
    }
  }
}

object Probe {
  val Keys: Seq[String] = Seq("tasks", "cpu_ns", "run_ms", "gc_ms", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "output_bytes", "output_records",
    "input_records", "jobs")

  final case class Snap(values: Map[String, Double], seq: Long) {
    def -(o: Snap): Map[String, Double] = values.map { case (k, v) => k -> (v - o.values(k)) }
  }
}

/** One timed region around a call into a layer. `metrics` holds the task
  * metrics the probe saw during it plus the JVM's process CPU. */
final case class Span(id: Int, name: String, parent: Int, run: String,
                      start: Double, end: Double, metrics: Map[String, Double]) {
  def wall: Double = end - start
}

/** Span recorder: keeps spans in memory, written out with the result. */
final class Tracer(spark: () => SparkSession, val probe: Probe) {
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 1
  var run: String = "run-0"
  private val t0 = Util.nowS

  private def drain(): Unit =
    Bridge.waitListenerBusEmpty(spark().sparkContext, 30000L)

  /** Time `f` as a span named `name`, a child of the innermost open span. */
  def span[T](name: String)(f: => T): (T, Span) = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    drain()
    val before = probe.snapshot()
    val cpu0 = Util.processCpuS
    val start = Util.nowS
    val out = try f finally stack = stack.tail
    val end = Util.nowS
    val cpu1 = Util.processCpuS
    drain()
    val after = probe.snapshot()
    val m = (after - before) ++ Map(
      "process_cpu_s" -> (cpu1 - cpu0),
      "task_skew" -> probe.taskSkew(before, after))
    val s = Span(id, name, parent, run, start - t0, end - t0, m)
    spans += s
    (out, s)
  }

  /** Duration minus the part of it covered by child spans. */
  def selfTime(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.start, k.end)).sortBy(_._1)
    var covered = 0.0
    var curS = Double.NaN; var curE = Double.NaN
    kids.foreach { case (a, b) =>
      if (curE.isNaN || a > curE) {
        if (!curE.isNaN) covered += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curE.isNaN) covered += curE - curS
    s.wall - covered
  }

  def spansJson: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.run,
      "start_s" -> s.start, "end_s" -> s.end, "self_s" -> selfTime(s),
      "metrics" -> s.metrics)
  }
}
