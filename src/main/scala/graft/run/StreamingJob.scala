package graft.run

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

import graft.route.RouteStage
import graft.streaming.StreamingPipeline

/** spark-submit entry point for the pipeline as a LONG-RUNNING
  * Structured Streaming service — the deployment shape of the reference
  * collector itself (a resident process tailing its receivers), where
  * [[PipelineJob]] is the batch/backfill rendering of the same graph:
  *
  *   spark-submit --class graft.run.StreamingJob <jar> \
  *     <transcriptsDir> <outDir> [windowDur] [config.yaml] [--once]
  *
  * Same config surface as [[PipelineJob]] (YAML via
  * [[graft.config.ConfigLoader]], or the bundled flagship), same
  * route-table match semantics (match_once → first-match single tag,
  * default → multi-match fan-out), driving:
  *
  *   - `outDir/sinks/route=<name>/batch_id=N` — the sink table
  *     [[PipelineJob]] writes (`sinks/route=<name>/`, from the same
  *     `RouteStage.routed` frame) plus a per-micro-batch level, via
  *     [[StreamingPipeline.startRoutedSinks]]: ONE write per micro-batch,
  *     per-batch overwrite idempotence (exactly-once on replay);
  *     `spark.read.parquet(outDir/sinks)` reads it like the batch table.
  *     An out dir holding the older per-name layout
  *     (`sinks/<name>/batch_id=N`) is refused at start;
  *   - `outDir/counts` — the streaming count connector
  *     ([[StreamingPipeline.windowedCounts]]): per-(window, route, role)
  *     counts under a watermark, append-finalized — state is bounded by
  *     `lateness`, not the stream;
  *   - `outDir/metric_<name>` — each metric the config declares
  *     (conditions + attrs, the count-connector surface), computed over
  *     the PRE-fan-out enriched frame exactly like [[PipelineJob]]
  *     (multi-match explosion would double-count global metrics), one
  *     independently-restartable query per metric.
  *
  * `--once` runs with `Trigger.AvailableNow` (drain what's there, then
  * exit): the streaming service doubling as an incremental batch job —
  * re-launching later processes only NEW files, positions tracked in the
  * checkpoint, which is the streaming rendering of
  * [[graft.sources.Incremental]]'s ingest ledger.
  *
  * Append-mode semantics note (standard Structured Streaming): a window
  * finalizes when the watermark passes its end, so the trailing window
  * of a drained `--once` run emits on the NEXT run that advances the
  * watermark. The sink tables carry every row immediately; only the
  * count finalization trails.
  */
object StreamingJob {

  final case class Handles(sinks: StreamingQuery, counts: StreamingQuery,
                           metrics: Seq[(String, StreamingQuery)]) {
    def all: Seq[StreamingQuery] = sinks +: counts +: metrics.map(_._2)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: StreamingJob <transcriptsDir> <outDir> [windowDur] [config.yaml] [--once]")
    val inPath = args(0); val outDir = args(1)
    val extra = args.drop(2)
    val once = extra.contains("--once")
    val (_, fileCfg, windowDur) =
      PipelineJob.parseExtraArgs(extra.filterNot(_ == "--once"))

    PipelineJob.failFastLocalHeap("StreamingJob")

    val builder = SparkSession.builder()
      .appName("graft-streaming")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
    val spark = (if (sys.props.contains("spark.master")) builder
                 else builder.master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[32]")))
      .getOrCreate()

    val hs = start(spark, inPath, outDir, fileCfg, windowDur,
      lateness = fileCfg.getOrElse(Pipeline.flagship).lateness,
      once = once)
    if (once) {
      hs.all.foreach(_.awaitTermination())
      spark.stop()
    } else spark.streams.awaitAnyTermination()
  }

  /** Build and start both queries; separated from main for testing and
    * for embedding in a host application. */
  def start(spark: SparkSession, inPath: String, outDir: String,
            fileCfg: Option[graft.config.ConfigLoader.Compiled],
            windowDur: String, lateness: String, once: Boolean): Handles = {
    val sinksDir = s"$outDir/sinks"
    requireRouteLayout(spark, sinksDir)
    // file streaming sources need an explicit schema — take it from the
    // files already present (the table's shape is the input_hint
    // contract, so this is a metadata-only footer read). A resident
    // service must be launchable BEFORE the first file lands: when the
    // input dir is empty or absent, fall back to the input_hint schema
    // itself instead of crashing at startup on schema inference
    val schema =
      try spark.read.parquet(inPath).schema
      catch { case _: org.apache.spark.sql.AnalysisException =>
        graft.sources.Transcripts.transcriptSchema }
    val stream = spark.readStream.schema(schema).parquet(inPath)

    val cfg = fileCfg.getOrElse(Pipeline.flagship)
    val enriched = cfg.parseEnrich(spark, stream)
    val routed = RouteStage.routed(enriched, cfg.routeTable)
    val trig = if (once) Some(Trigger.AvailableNow()) else None

    val qSinks = StreamingPipeline.startRoutedSinks(
      routed, sinksDir, s"$outDir/_ck/sinks", trig)

    // the streaming count connector over the SAME tag column (two
    // queries = two upstream passes — mirroring the batch path, where
    // counts also derive from their own routed pass). One
    // (window, route, role) table — the streaming rendering of
    // PipelineJob's per-route `counts_<route>` tables, route as a column
    def startAppend(df: org.apache.spark.sql.DataFrame, path: String,
                    ck: String): StreamingQuery =
      trig.foldLeft(
          df.writeStream
            .outputMode(OutputMode.Append)
            .option("checkpointLocation", ck)
            .option("path", path)
        )(_.trigger(_))
        .format("parquet")
        .start()
    val qCounts = startAppend(
      StreamingPipeline.windowedCounts(routed, windowDur, lateness,
        Seq("route", "role")),
      s"$outDir/counts", s"$outDir/_ck/counts")

    // configured count-connector metrics (`metric_<name>`, matching
    // PipelineJob; only for an explicitly passed config): over the
    // PRE-fan-out enriched frame — multi-match explosion duplicates
    // rows per route and would double-count global metrics. Metrics are
    // a config-sized set, so one streaming query per metric (each its
    // own checkpoint/table, independently restartable).
    val wmEnriched = enriched.withWatermark("ts", lateness)
    val metricFrames: Seq[(String, org.apache.spark.sql.DataFrame)] =
      fileCfg.filter(_.metrics.nonEmpty) match {
        case Some(c) => c.countMetrics(wmEnriched, windowDur).toSeq
        case None => Nil
      }
    val qMetrics = metricFrames.map { case (name, df) =>
      name -> startAppend(df, s"$outDir/metric_$name", s"$outDir/_ck/metric_$name")
    }
    Handles(qSinks, qCounts, qMetrics)
  }

  /** Refuses a sinks dir in the older per-name layout
    * (`sinks/<name>/batch_id=N`, written before stream and batch shared
    * the `route=` table): a relaunch over it would mix the two layouts
    * under one reader, so it fails loudly at start instead. */
  private def requireRouteLayout(spark: SparkSession, sinksDir: String): Unit = {
    val dir = new org.apache.hadoop.fs.Path(sinksDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val foreign =
      if (!fs.exists(dir)) Seq.empty
      else fs.listStatus(dir).toSeq.filter(_.isDirectory).map(_.getPath.getName)
        .filterNot(n => n.startsWith(".") || n.startsWith("_") || n.startsWith("route="))
    require(foreign.isEmpty,
      s"$sinksDir holds sink directories outside the route=<name> layout " +
      s"(${foreign.mkString(", ")}), written by an older StreamingJob; move the " +
      "old outputs aside (the sinks dir, and _ck to re-ingest every file) " +
      "before relaunching")
  }
}
