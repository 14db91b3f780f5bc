package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command line of the benchmark JVM (run.py passes it through). */
final case class Opts(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, work: String, size: String,
                      out: String) {
  def smoke: Boolean = size == "smoke"
}

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), m.getOrElse("size", "full"), need("out"))
  }
}

/** Minimal JSON rendering for the result and trace files. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case o: Option[_] => o.map(apply).getOrElse("null")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

/** Progress lines on stderr, stamped with seconds since JVM start. */
object Log {
  private val t0 = ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench] t=${Util.wallClockS - t0}%.1fs $msg")
}

object Util {
  def nowS: Double = System.nanoTime() / 1e9
  def wallClockS: Double = System.currentTimeMillis() / 1e3

  /** CPU time (user + sys) of this whole JVM, in seconds. */
  def processCpuS: Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  /** Peak resident set (VmHWM) of this JVM in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def rmrf(p: String): Unit = {
    val f = new File(p)
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(c => rmrf(c.getPath)))
    f.delete()
  }

  def writeText(path: String, s: String): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    Files.write(tmp, s.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  def exists(p: String): Boolean = new File(p).exists()

  def parquetFiles(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Nil
    else {
      val it = Files.walk(root)
      try {
        val out = mutable.ArrayBuffer[Path]()
        it.forEach(p => if (p.getFileName.toString.endsWith(".parquet")) out += p)
        out.sortBy(_.toString).toSeq
      } finally it.close()
    }
  }
}

/** The Spark session every workload runs in: the settings
  * `graft.run.PipelineJob` builds its own session with, at a fixed
  * `local[cores]` with 2 shuffle partitions per core (run.py passes the
  * same as a system property, so sessions the engine's own entry points
  * build get it too), with scratch space kept under the work directory. */
object Sessions {
  def build(cores: Int, work: String): SparkSession = {
    val local = new File(work, "spark-local")
    local.mkdirs()
    SparkSession.builder()
      .appName("graft-perfbench")
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.local.dir", local.getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
  }

  /** Stop `spark` so that the next builder creates a fresh session. */
  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Stop the active session and build a fresh one with `cores` threads. */
  def rebuild(spark: SparkSession, cores: Int, work: String): SparkSession = {
    stop(spark)
    build(cores, work)
  }
}

/** Untraced batch passes: one warm-up pass, then passes until `o.seconds`
  * have passed and at least three ran. Each pass writes a fresh output
  * dir; only the last is kept, for the checks. Records the end-to-end
  * metrics over `rows` input rows and returns the kept dir. */
object Passes {
  def measure(o: Opts, res: Result, rows: Long)(pass: String => Unit): String = {
    def out(i: Int) = s"${o.work}/out/pass-$i"
    pass(s"${o.work}/out/warm")
    Util.rmrf(s"${o.work}/out/warm")
    val walls = mutable.ArrayBuffer[Double]()
    val cpus = mutable.ArrayBuffer[Double]()
    val start = Util.nowS
    while (walls.size < 3 || Util.nowS - start < o.seconds) {
      val i = walls.size
      val c0 = Util.processCpuS
      val t0 = Util.nowS
      pass(out(i))
      walls += Util.nowS - t0
      cpus += Util.processCpuS - c0
      res.attempted += 1
      if (i > 0) Util.rmrf(out(i - 1))
    }
    val wall = Util.median(walls.toSeq)
    res.inputs ++= Map("passes" -> walls.size)
    res.metric("rows_per_s", rows / wall, "rows/s")
    res.metric("cpu_s_per_mrow", Util.median(cpus.toSeq) / (rows / 1e6), "s/Mrow")
    res.metric("latency_p50_s", wall, "s")
    out(walls.size - 1)
  }
}

/** What one workload run hands back to run.py. */
final class Result {
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val inputs = mutable.LinkedHashMap[String, Any]()
  val checks = mutable.ArrayBuffer[Map[String, Any]]()
  var attempted = 0
  var failed = 0
  val notes = mutable.ArrayBuffer[String]()

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  def toJson(trace: Option[Tracer]): String = Json(Map(
    "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
    "inputs" -> inputs,
    "checks" -> checks,
    "attempted" -> attempted,
    "failed" -> failed,
    "notes" -> notes,
    "spans" -> trace.map(_.spansJson).getOrElse(Nil)))
}
