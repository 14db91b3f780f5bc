package perfbench

import java.io.File

/** Benchmark JVM: runs one workload and writes its result file.
  *
  *   perfbench.Main --workload backfill|stream_tail|neardup_dense
  *     --seed N --seconds S --trace 0|1 --work DIR --out result.json
  *     [--size full|smoke]
  *
  * `--trace 0` measures the end-to-end metrics with no listener attached.
  * `--trace 1` attaches the task-metric probe and records spans around
  * the calls into every layer. A traced run measures every layer: the
  * workload's own at its size, the layers it bypasses at smoke size, so
  * that each trace carries every per-layer metric.
  */
object Main {
  val Workloads = Seq("backfill", "stream_tail", "neardup_dense")

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}")
    new File(o.work).mkdirs()
    val res = new Result
    var spark = Sessions.build(Backfill.Cores, o.work)
    Log(s"${o.workload}: session up")
    val probe = new Probe
    val tr = new Tracer(() => spark, probe)
    def rebuild(cores: Int) = { spark = Sessions.rebuild(spark, cores, o.work); spark }
    try {
      if (!o.trace) o.workload match {
        case "backfill" => spark = Backfill.run(spark, o, res)
        case "stream_tail" => StreamTail.run(spark, o, res)
        case "neardup_dense" => spark = NearDup.run(spark, o, res)
      } else {
        spark.sparkContext.addSparkListener(probe)
        def sized(w: String) = if (w == o.workload) o else o.copy(size = "smoke")
        spark = Backfill.traced(spark, sized("backfill"), res, tr, rebuild)
        StreamTail.traced(spark, sized("stream_tail"), res, tr)
        NearDup.traced(spark, sized("neardup_dense"), res, tr)
      }
      res.metric("peak_rss_mb", Util.peakRssMb, "MB")
      Log(s"${o.workload}: done")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        res.attempted += 1
        res.failed += 1
        res.notes += s"aborted: $e"
    }
    Util.writeText(o.out, res.toJson(if (o.trace) Some(tr) else None))
    spark.stop()
  }
}
