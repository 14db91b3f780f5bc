package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.agg.CountStage
import graft.config.ConfigLoader
import graft.model.PipelineConfig.{AttrSpec, MetricSpec}
import graft.parse.ParseStage
import graft.route.RouteStage
import graft.run.{Lineage, Pipeline}
import graft.sources.Transcripts

/** `backfill`: the batch path in the order `graft.run.PipelineJob.main`
  * runs it — read → parse bank → broadcast enrich → multi-match
  * partitioned write → footer lineage → per-route windowed counts via
  * `Lineage.runResumable` — plus launches of `PipelineJob.main` itself:
  * in this JVM for set-up, in a child JVM that is killed and relaunched
  * for the resume time. */
object Backfill {

  val Cores = 4
  val Files = 8

  def turns(o: Opts): Long = if (o.smoke) 20000L else 250000L

  private def routeNames: Seq[String] =
    Pipeline.routeTable.routes.map(_.name) :+ Pipeline.routeTable.defaultName

  /** The count sinks `PipelineJob` derives from the written fan-out. */
  def countSinks(written: DataFrame): Map[String, DataFrame] =
    routeNames.map { r =>
      s"counts_$r" -> CountStage.countWindowed(written.filter(col("route") === r),
        MetricSpec("count", attrs = Seq(AttrSpec("role"))), col("ts"), "1 hour")
    }.toMap

  private def routeDirs(sinksDir: String): Seq[String] =
    Option(new File(sinksDir).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("route=")).map(_.getPath).sortBy(identity)

  def read(spark: SparkSession, in: String): DataFrame =
    Transcripts.TranscriptTable().read(spark, in)

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One untraced pass; returns the footer row total of the fan-out. */
  def pass(spark: SparkSession, in: String, out: String): Long = {
    val sinksDir = s"$out/sinks"
    RouteStage.writeMultiMatch(Pipeline.parseEnrich(spark, read(spark, in)),
      Pipeline.routeTable, sinksDir)
    val footers = routeDirs(sinksDir).flatMap(d => Lineage.fileLineage(spark, d))
    val report = Lineage.runResumable(spark, countSinks(spark.read.parquet(sinksDir)), out,
      Lineage.fingerprintOf("perfbench", in))
    require(report.failed.isEmpty, s"count sinks failed: ${report.failed}")
    footers.map(_.rows).sum
  }

  // ---------------------------------------------------------------- child JVMs

  /** Launch `graft.run.PipelineJob in out` in a fresh JVM with this
    * JVM's flags at local[4]; returns the process (output to `log`). */
  def launchPipelineJob(in: String, out: String, log: String): Process = {
    val javaBin = new File(System.getProperty("java.home"), "bin/java").getPath
    val flags = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-Dspark.master"))
    val cmd = Seq(javaBin) ++ flags ++ Seq("-Xmx1536m", s"-Dspark.master=local[$Cores]",
      "-cp", System.getProperty("java.class.path"), "graft.run.PipelineJob", in, out)
    new ProcessBuilder(cmd.asJava).redirectErrorStream(true)
      .redirectOutput(new File(log)).start()
  }

  def runPipelineJob(in: String, out: String, log: String): (Double, Int) = {
    val t0 = Util.nowS
    val p = launchPipelineJob(in, out, log)
    if (!p.waitFor(170, TimeUnit.SECONDS)) { p.destroyForcibly(); p.waitFor() }
    (Util.nowS - t0, p.exitValue())
  }

  /** Median of three `PipelineJob.main` launches on a zero-row table,
    * each building and stopping its own session in this JVM. The
    * benchmark's session is stopped first and rebuilt after. */
  def setupS(spark: SparkSession, o: Opts, empty: String, res: Result): (SparkSession, Double) = {
    Sessions.stop(spark)
    System.setProperty("spark.master", s"local[$Cores]")
    val runs = (1 to 3).map { i =>
      val out = s"${o.work}/out/setup-$i"
      Util.rmrf(out)
      val t0 = Util.nowS
      val ok = scala.util.Try(graft.run.PipelineJob.main(Array(empty, out)))
      val wall = Util.nowS - t0
      res.attempted += 1
      if (ok.isFailure || !Util.exists(s"$out/_lineage/sinks_fanout.json")) {
        res.failed += 1; res.notes += s"setup launch $i failed: ${ok.failed.toOption.getOrElse("no manifest")}"
      }
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() // main stopped it
      wall
    }
    System.clearProperty("spark.master")
    (Sessions.build(Cores, o.work), Util.median(runs))
  }

  // ---------------------------------------------------------------- untraced

  def run(spark0: SparkSession, o: Opts, res: Result): SparkSession = {
    val n = turns(o)
    val in = Inputs.transcripts(spark0, o.work, o.seed, n, Files)
    val empty = Inputs.transcripts(spark0, o.work, o.seed, 0L, 1)
    res.inputs ++= Map("turns" -> n, "files" -> Files, "hot_pct" -> 5, "cores" -> Cores)

    val (spark, setup) = setupS(spark0, o, empty, res)
    res.metric("setup_s", setup, "s")
    Log("backfill: setup done")

    val last = Passes.measure(o, res, n) { out =>
      val rows = pass(spark, in, out)
      if (rows < n) { res.failed += 1; res.notes += s"$out: wrote $rows rows for $n turns" }
    }
    res.checks += Map("kind" -> "backfill", "input" -> in, "out" -> last)
    spark
  }

  // ---------------------------------------------------------------- traced

  /** Cumulative prefixes of the pass. Each prefix re-runs the path from
    * the scan, so a layer's cost is its prefix minus the one before. */
  val Ladder: Seq[String] = Seq("sources.scan", "parse.bank", "enrich.join",
    "route.tag", "route.write", "run.lineage", "agg.counts")

  def ladderOnce(spark: SparkSession, in: String, out: String, tr: Tracer): Map[String, Span] = {
    val sinksDir = s"$out/sinks"
    val rt = Pipeline.routeTable
    def sp(name: String)(f: => Unit) = name -> tr.span(s"ladder.$name")(f)._2
    tr.span("backfill.ladder") {
      Seq(
        sp("sources.scan")(noop(read(spark, in))),
        sp("parse.bank")(noop(ParseStage(read(spark, in), Pipeline.parseConfig, barrier = false))),
        sp("enrich.join")(noop(Pipeline.parseEnrich(spark, read(spark, in)))),
        sp("route.tag")(noop(RouteStage.tagsExploded(Pipeline.parseEnrich(spark, read(spark, in)), rt))),
        sp("route.write")(RouteStage.writeMultiMatch(Pipeline.parseEnrich(spark, read(spark, in)), rt, sinksDir)),
        sp("run.lineage")(routeDirs(sinksDir).foreach(d => Lineage.fileLineage(spark, d))),
        sp("agg.counts")(Lineage.runResumable(spark, countSinks(spark.read.parquet(sinksDir)), out,
          Lineage.fingerprintOf("perfbench", in)))
      ).toMap
    }._1
  }

  /** Per-layer (wall, executor cpu) over `reps` ladders: median prefix
    * times, differenced along the ladder for the fused prefixes. */
  def ladder(spark: SparkSession, in: String, o: Opts, tr: Tracer, tag: String,
             reps: Int): Map[String, Map[String, Double]] = {
    val runs = (1 to reps).map { r =>
      tr.run = s"$tag-$r"
      val out = s"${o.work}/out/ladder-$tag-$r"
      val s = ladderOnce(spark, in, out, tr)
      if (r < reps) Util.rmrf(out)
      s
    }
    def med(layer: String, f: Span => Double) = Util.median(runs.map(s => f(s(layer))))
    val fused = Ladder.take(5)
    fused.zipWithIndex.map { case (l, k) =>
      def d(f: Span => Double) =
        if (k == 0) med(l, f) else med(l, f) - med(fused(k - 1), f)
      l -> Map("wall_s" -> d(_.wall), "cpu_s" -> d(_.metrics("cpu_ns") / 1e9))
    }.toMap ++ Ladder.drop(5).map { l =>
      // lineage reads footers on the driver and runs no task, so its
      // CPU is the JVM's, not the executors'
      val cpu: Span => Double =
        if (l == "run.lineage") _.metrics("process_cpu_s") else _.metrics("cpu_ns") / 1e9
      l -> Map("wall_s" -> med(l, _.wall), "cpu_s" -> med(l, cpu))
    } + ("_last" -> Map("write_gc_s" -> runs.last("route.write").metrics("gc_ms") / 1e3,
        "write_spill_bytes" -> runs.last("route.write").metrics("spill_bytes"),
        "write_output_bytes" -> runs.last("route.write").metrics("output_bytes"),
        "write_task_skew" -> runs.last("route.write").metrics("task_skew"),
        "scan_tasks" -> runs.last("sources.scan").metrics("tasks"),
        "counts_shuffle_bytes" -> runs.last("agg.counts").metrics("shuffle_write_bytes"),
        "pass_s" -> Util.median(runs.map(s => Ladder.drop(4).map(l => s(l).wall).sum))))
  }

  /** Flagship config rendered to YAML from `Pipeline`'s own definition,
    * so that compiling it exercises graft.config and graft.expr. */
  def flagshipYaml: String = {
    import ConfigLoader._
    render(GraftFileConfig(
      parse = Pipeline.parseConfig,
      enrich = Some(EnrichFile(Seq("tool"))),
      routes = RoutesFile(table = Pipeline.routeConditionStrings.map { case (n, w) => RouteFileSpec(n, w) }),
      metrics = Pipeline.metricConfigStrings.map { case (n, c, a) =>
        MetricFileSpec(n, c, a.map { case (k, d) => MetricAttr(k, d) })
      }))
  }

  def traced(spark0: SparkSession, o: Opts, res: Result, tr: Tracer,
             rebuild: Int => SparkSession): SparkSession = {
    var spark = spark0
    val n4 = turns(o)
    val n1 = n4 / 4
    val in4 = Inputs.transcripts(spark, o.work, o.seed, n4, Files)
    val in1 = Inputs.transcripts(spark, o.work, o.seed, n1, Files)
    new File(s"${o.work}/logs").mkdirs()
    def m(name: String, v: Double, unit: String) = res.metric(name, v, unit)

    // config / expr: compile the flagship config text
    val yaml = flagshipYaml
    ConfigLoader.compile(ConfigLoader.load(yaml)) // warm
    val compiles = (1 to 20).map { _ =>
      val t0 = Util.nowS
      ConfigLoader.compile(ConfigLoader.load(yaml))
      Util.nowS - t0
    }
    tr.run = "config"
    tr.span("config.compile")(ConfigLoader.compile(ConfigLoader.load(yaml)))
    m("config.compile.wall_s", Util.median(compiles), "s")

    pass(spark, in4, s"${o.work}/out/warm")
    Util.rmrf(s"${o.work}/out/warm")

    val reps4 = if (o.smoke) 2 else 3
    val l4 = ladder(spark, in4, o, tr, "4c-4n", reps4)
    // tracing overhead: untraced passes (probe detached), run right after
    // the ladder so both are equally warm, against the write + lineage +
    // counts spans of the traced ladder
    spark.sparkContext.removeSparkListener(tr.probe)
    val plain = (1 to 2).map { i =>
      val t0 = Util.nowS
      pass(spark, in4, s"${o.work}/out/plain-$i")
      Util.rmrf(s"${o.work}/out/plain-$i")
      Util.nowS - t0
    }
    spark.sparkContext.addSparkListener(tr.probe)
    Log("backfill: 4-core ladder and untraced passes done")
    val reps1 = if (o.smoke) 1 else 2
    val l1 = ladder(spark, in1, o, tr, "4c-n", reps1)
    spark.sparkContext.removeSparkListener(tr.probe)
    spark = rebuild(1)
    spark.sparkContext.addSparkListener(tr.probe)
    val s1 = ladder(spark, in1, o, tr, "1c-n", 1)
    spark.sparkContext.removeSparkListener(tr.probe)
    spark = rebuild(Cores)
    spark.sparkContext.addSparkListener(tr.probe)
    Log("backfill: ladders done")

    Ladder.foreach { l =>
      val w4 = l4(l)("wall_s"); val w1 = l1(l)("wall_s")
      val slope = (w4 - w1) / (n4 - n1)
      m(s"$l.wall_s", w4, "s")
      m(s"$l.cpu_s", l4(l)("cpu_s"), "s")
      m(s"$l.ns_per_turn", slope * 1e9, "ns")
      m(s"$l.intercept_s", w1 - slope * n1, "s")
      m(s"$l.scaling_eff", s1(l)("wall_s") / w4, "ratio")
    }
    val last = l4("_last")
    val tracedPass = last("pass_s")
    val plainPass = Util.median(plain)
    val ladderSum = Ladder.map(l => l4(l)("wall_s")).sum
    m("sources.scan.splits", last("scan_tasks"), "count")
    m("route.write.gc_s", last("write_gc_s"), "s")
    m("route.write.spill_bytes", last("write_spill_bytes"), "bytes")
    m("route.write.bytes_per_turn", last("write_output_bytes") / n4, "bytes")
    m("route.write.task_skew", last("write_task_skew"), "ratio")
    m("agg.counts.shuffle_bytes", last("counts_shuffle_bytes"), "bytes")
    m("backfill.pass_untraced_s", plainPass, "s")
    m("backfill.pass_traced_s", tracedPass, "s")
    m("backfill.ladder_sum_s", ladderSum, "s")
    m("trace.overhead_s", tracedPass - plainPass, "s")

    // counts along the path (own jobs, outside every span)
    val ladderOut = s"${o.work}/out/ladder-4c-4n-$reps4" // the one ladder output kept
    val parsed = ParseStage(read(spark, in4), Pipeline.parseConfig, barrier = false)
    val pr = parsed.agg(count(col("pattern")), count(col("_error"))).head()
    m("parse.bank.match_ratio", pr.getLong(0).toDouble / n4, "ratio")
    m("parse.bank.error_rows", pr.getLong(1).toDouble, "count")
    val hit = Pipeline.parseEnrich(spark, read(spark, in4))
      .agg(count(col("tool_family"))).head().getLong(0)
    m("enrich.join.hit_ratio", hit.toDouble / n4, "ratio")
    val written = spark.read.parquet(s"$ladderOut/sinks")
    val byRoute = written.groupBy("route").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exploded = byRoute.values.sum.toDouble
    m("route.tag.fanout_ratio", exploded / n4, "ratio")
    m("route.tag.default_share", byRoute.getOrElse(Pipeline.routeTable.defaultName, 0L) / exploded, "ratio")
    m("route.write.files", Util.parquetFiles(s"$ladderOut/sinks").size.toDouble, "count")
    m("run.lineage.footers", routeDirs(s"$ladderOut/sinks").map(d => Lineage.fileLineage(spark, d).size).sum.toDouble, "count")
    m("agg.counts.groups", routeNames.map(r => spark.read.parquet(s"$ladderOut/counts_$r").count()).sum.toDouble, "count")
    res.checks += Map("kind" -> "backfill", "input" -> in4, "out" -> ladderOut)

    Log("backfill: path counts done")
    // resume (on the n/4 input): SIGKILL a cold PipelineJob once its
    // fan-out manifest has committed, then time a cold relaunch that
    // must finish the job
    val killedOut = s"${o.work}/out/resume"
    Util.rmrf(killedOut)
    val p = launchPipelineJob(in1, killedOut, s"${o.work}/logs/resume-killed.log")
    val fanout = new File(s"$killedOut/_lineage/sinks_fanout.json")
    val deadline = Util.nowS + 170
    while (!fanout.exists() && p.isAlive && Util.nowS < deadline) Thread.sleep(2)
    p.destroyForcibly(); p.waitFor()
    val lastCount = new File(s"$killedOut/_lineage/counts_${routeNames.max}.json")
    res.attempted += 1
    val killedInWindow = fanout.exists() && !lastCount.exists()
    if (!killedInWindow) { res.failed += 1; res.notes += "resume: kill missed the window" }
    def sinkMtimes = Util.parquetFiles(s"$killedOut/sinks").map(_.toFile.lastModified())
    val before = sinkMtimes
    val relog = s"${o.work}/logs/resume.log"
    val (resumeS, code) = runPipelineJob(in1, killedOut, relog)
    val fanoutSkipped = before.nonEmpty && before == sinkMtimes
    res.attempted += 1
    if (code != 0) { res.failed += 1; res.notes += s"resume launch exited $code" }
    val skipped = scala.io.Source.fromFile(relog).getLines()
      .collectFirst { case l if l.startsWith("[pipeline] executed=") =>
        "skipped=([^ ]*)".r.findFirstMatchIn(l).map(_.group(1).split(",").count(_.nonEmpty)).getOrElse(0)
      }.getOrElse(0)
    m("run.resume.wall_s", resumeS, "s")
    m("run.resume.skipped_sinks", skipped + (if (fanoutSkipped) 1.0 else 0.0), "count")
    res.checks += Map("kind" -> "resume", "resumed" -> killedOut,
      "reference" -> s"${o.work}/out/ladder-4c-n-$reps1")
    Log("backfill: resume done")
    spark
  }
}
