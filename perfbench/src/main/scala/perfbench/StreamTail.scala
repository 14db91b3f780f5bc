package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.run.{Lineage, StreamingJob}

/** `stream_tail`: `graft.run.StreamingJob.start` with the flagship config
  * over a directory that one feeder thread fills with pre-staged parquet
  * files (atomic renames, open loop: file i is due at t0 + i/rate
  * whether or not the stream keeps up). Per-micro-batch fixed costs
  * dominate here. */
object StreamTail {
  val FileTurns = 250
  /** Reference rate for the latency figures (files/s). */
  val RefFilesPerS = 16.0
  /** Offered rate while measuring throughput, well above saturation. */
  val OverloadFilesPerS = 100.0
  /** Latency limit on p90 for a rung of the rate ladder to count as sustained. */
  val LatencyLimitS = 5.0
  val QueryTimeoutS = 60.0

  def stagedCount(o: Opts): Int = 300

  /** One StreamingJob instance over `base/in` → `base/out`. */
  final class Job(spark: SparkSession, base: String) {
    val in = s"$base/in"
    val out = s"$base/out"
    new File(in).mkdirs()
    private var handles: StreamingJob.Handles = _

    def start(): Unit =
      handles = StreamingJob.start(spark, in, out, None, "1 hour", "10 minutes", once = false)

    /** Stop every query, concurrently (each waits for its running batch). */
    def stop(): Unit = if (handles != null) {
      val ts = handles.all.map(q => new Thread(() => q.stop()))
      ts.foreach(_.start()); ts.foreach(_.join())
    }

    def queryIds: Map[String, java.util.UUID] =
      Map("sinks" -> handles.sinks.id, "counts" -> handles.counts.id)

    def failure: Option[String] =
      Option(handles).flatMap(_.all.flatMap(_.exception).headOption).map(_.toString)

    private def commitsDir(q: String) = new File(s"$out/_ck/$q/commits")

    def committedBatches(q: String): Int =
      Option(commitsDir(q).listFiles()).toSeq.flatten.count(f => f.getName.forall(_.isDigit))

    /** batch id → wall-clock time its commit file was written. */
    def commitTimes(q: String): Map[Long, Double] =
      Option(commitsDir(q).listFiles()).toSeq.flatten
        .filter(_.getName.forall(_.isDigit))
        .map(f => f.getName.toLong -> f.lastModified() / 1e3).toMap

    /** input file name → the batch of query `q` that read it, from the
      * file source log `_ck/<q>/sources/0/<batch>[.compact]`. */
    def fileBatches(q: String): Map[String, Long] = {
      val entry = """"path":"([^"]+)".*"batchId":(\d+)""".r
      Option(new File(s"$out/_ck/$q/sources/0").listFiles()).toSeq.flatten
        .filterNot(_.getName.startsWith("."))
        .flatMap(f => scala.io.Source.fromFile(f).getLines().toList)
        .flatMap(l => entry.findFirstMatchIn(l).map(m =>
          new File(m.group(1)).getName -> m.group(2).toLong))
        .toMap
    }

    /** Block until both queries committed `n` batches. */
    def awaitBatches(n: Int, timeoutS: Double): Boolean = {
      val end = Util.nowS + timeoutS
      while (Util.nowS < end && failure.isEmpty &&
             !(committedBatches("sinks") >= n && committedBatches("counts") >= n)) Thread.sleep(5)
      committedBatches("sinks") >= n && committedBatches("counts") >= n
    }
  }

  final case class Landing(name: String, dueS: Double, landedS: Double)

  /** Lands files by atomic rename from `pending` into the input dir. */
  final class Feeder(pending: String, in: String) {
    val landed = mutable.ArrayBuffer[Landing]()

    /** Land `names` at `perS` files/s starting now; returns when done. */
    def feed(names: Seq[String], perS: Double): Unit = {
      val t0 = Util.wallClockS
      names.zipWithIndex.foreach { case (n, i) =>
        val due = t0 + i / perS
        val wait = due - Util.wallClockS
        if (wait > 0) Thread.sleep((wait * 1000).toLong, ((wait * 1e9) % 1e6).toInt)
        Files.move(new File(pending, n).toPath, new File(in, n).toPath,
          StandardCopyOption.ATOMIC_MOVE)
        landed.synchronized { landed += Landing(n, due, Util.wallClockS) }
      }
    }

    def inThread(names: Seq[String], perS: Double): Thread = {
      val t = new Thread(() => feed(names, perS), "perfbench-feeder")
      t.setDaemon(true)
      t.start()
      t
    }
  }

  /** Copy staged files into `pending` (outside any timed region). */
  private def prepare(stage: String, names: Seq[String], pending: String): Unit = {
    new File(pending).mkdirs()
    names.foreach(n => Files.copy(new File(stage, n).toPath, new File(pending, n).toPath))
  }

  private def stagedNames(n: Int): Seq[String] = (0 until n).map(i => f"f$i%05d.parquet")

  final case class Phase(latencies: Seq[Double], uncommitted: Int, rows: Long,
                         spanS: Double, lateS: Seq[Double], backlogSlope: Double,
                         maxBacklog: Double)

  /** Land `names` at `perS` on a running job, wait for their commits,
    * and score them. Latency counts from each file's due time. */
  def phase(job: Job, feeder: Feeder, names: Seq[String], perS: Double,
            rowsOf: Map[String, Long], sampleBacklog: Boolean = false): Phase = {
    val from = feeder.landed.size
    val backlog = mutable.ArrayBuffer[(Double, Double)]()
    val t = feeder.inThread(names, perS)
    val t0 = Util.nowS
    while (t.isAlive) {
      if (sampleBacklog) {
        val committed = job.fileBatches("sinks").keySet
        val n = feeder.landed.synchronized(feeder.landed.drop(from).count(l => !committed(l.name)))
        backlog += ((Util.nowS - t0, n.toDouble))
      }
      Thread.sleep(if (sampleBacklog) 200 else 20)
    }
    t.join()
    val mine = feeder.landed.synchronized(feeder.landed.drop(from).toSeq)
    val end = Util.nowS + QueryTimeoutS
    def pending = {
      val fb = job.fileBatches("sinks"); val ct = job.commitTimes("sinks")
      mine.count(l => !fb.get(l.name).exists(ct.contains))
    }
    while (pending > 0 && Util.nowS < end && job.failure.isEmpty) Thread.sleep(20)
    val fb = job.fileBatches("sinks"); val ct = job.commitTimes("sinks")
    val lat = mine.flatMap(l => fb.get(l.name).flatMap(ct.get).map(_ - l.dueS))
    val lastCommit = mine.flatMap(l => fb.get(l.name).flatMap(ct.get)).maxOption.getOrElse(Double.NaN)
    val slope =
      if (backlog.size < 4) 0.0
      else { // least-squares slope of the backlog over the second half
        val h = backlog.drop(backlog.size / 2)
        val mx = h.map(_._1).sum / h.size; val my = h.map(_._2).sum / h.size
        h.map { case (x, y) => (x - mx) * (y - my) }.sum / math.max(h.map(p => (p._1 - mx) * (p._1 - mx)).sum, 1e-9)
      }
    Phase(lat, mine.size - lat.size, mine.map(l => rowsOf(l.name)).sum,
      lastCommit - mine.head.dueS, mine.map(l => l.landedS - l.dueS), slope,
      backlog.map(_._2).maxOption.getOrElse(0.0))
  }

  /** StreamingJob.start until the first batch of every query commits,
    * on a fresh checkpoint over a directory holding one file. */
  private def startTimed(job: Job, res: Result): Double = {
    val t0 = Util.nowS
    job.start()
    val ok = job.awaitBatches(1, QueryTimeoutS)
    res.attempted += 1
    if (!ok) { res.failed += 1; res.notes += s"stream start: ${job.failure.getOrElse("timed out")}" }
    Util.nowS - t0
  }

  /** Two stand-alone starts; the measured job's own start is the third. */
  private def setupRuns(spark: SparkSession, o: Opts, stage: String, res: Result): Seq[Double] =
    (1 to 2).map { i =>
      val base = s"${o.work}/stream/setup-$i"
      val job = new Job(spark, base)
      Files.copy(new File(stage, stagedNames(1).head).toPath, new File(job.in, "seed.parquet").toPath)
      try startTimed(job, res) finally { job.stop(); Util.rmrf(base) }
    }

  /** Staged files of this seed with their footer row counts. */
  private def staged(spark: SparkSession, o: Opts): (String, Seq[String], Map[String, Long]) = {
    val stage = Inputs.stagedFiles(spark, o.work, o.seed, stagedCount(o), FileTurns)
    val rows = Lineage.fileLineage(spark, stage).map(f => f.file -> f.rows).toMap
    (stage, stagedNames(stagedCount(o)), rows)
  }

  def run(spark: SparkSession, o: Opts, res: Result): Unit = {
    val (stage, names, rowsOf) = staged(spark, o)
    val setups = setupRuns(spark, o, stage, res)

    val refN = math.max(100, (o.seconds * 0.8 * RefFilesPerS).toInt)
    val overN = math.min(names.size - refN - 1, (o.seconds * 0.2 * OverloadFilesPerS).toInt)
    Log(s"stream: $refN files at $RefFilesPerS/s, then $overN at $OverloadFilesPerS/s")
    val base = s"${o.work}/stream/run"
    val job = new Job(spark, base)
    val pending = s"$base/pending"
    prepare(stage, names.take(1 + refN + overN), pending)
    val feeder = new Feeder(pending, job.in)
    feeder.feed(names.take(1), 1.0) // one file so the first batches run before timing
    try {
      res.metric("setup_s", Util.median(setups :+ startTimed(job, res)), "s")
      Log("stream: setup done")
      val ref = phase(job, feeder, names.slice(1, 1 + refN), RefFilesPerS, rowsOf)
      Log("stream: reference rate done")
      val c0 = Util.processCpuS
      val over = phase(job, feeder, names.slice(1 + refN, 1 + refN + overN), OverloadFilesPerS, rowsOf)
      val cpu = Util.processCpuS - c0
      Log("stream: overload done")
      res.attempted += ref.latencies.size + ref.uncommitted + over.latencies.size + over.uncommitted
      res.failed += ref.uncommitted + over.uncommitted
      job.failure.foreach(f => { res.failed += 1; res.notes += s"stream query failed: $f" })
      res.metric("latency_p50_s", Util.median(ref.latencies), "s")
      res.metric("rows_per_s", over.rows / over.spanS, "rows/s")
      res.metric("cpu_s_per_mrow", cpu / (over.rows / 1e6), "s/Mrow")
      res.inputs ++= Map("file_turns" -> FileTurns, "ref_files" -> refN, "ref_files_per_s" -> RefFilesPerS,
        "overload_files" -> overN, "overload_files_per_s" -> OverloadFilesPerS,
        "latency_p90_s" -> Util.quantile(ref.latencies, 0.9),
        "latency_mean_s" -> ref.latencies.sum / ref.latencies.size,
        "feeder_late_p90_s" -> Util.quantile(ref.lateS ++ over.lateS, 0.9))
    } finally job.stop()
    res.checks += Map("kind" -> "stream", "sinks" -> s"${job.out}/sinks",
      "landed" -> feeder.landed.map(l => s"${job.in}/${l.name}"))
  }

  /** Progress events of every streaming query, kept for the trace. */
  final class ProgressLog extends StreamingQueryListener {
    val events = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = events.add(e.progress)
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    def of(id: java.util.UUID): Seq[StreamingQueryProgress] =
      events.asScala.filter(p => p.id == id && p.numInputRows > 0).toSeq
  }

  def traced(spark: SparkSession, o: Opts, res: Result, tr: Tracer): Unit = {
    val (stage, names, rowsOf) = staged(spark, o)
    def m(name: String, v: Double, unit: String) = res.metric(name, v, unit)
    val log = new ProgressLog
    spark.streams.addListener(log)
    val base = s"${o.work}/stream/trace"
    val job = new Job(spark, base)
    val pending = s"$base/pending"
    prepare(stage, names, pending)
    val feeder = new Feeder(pending, job.in)
    feeder.feed(names.take(1), 1.0)
    tr.run = "stream"
    var next = 1
    def take(n: Int) = { val t = names.slice(next, next + n); next += n; t }
    try {
      tr.span("streaming.start") {
        job.start()
        require(job.awaitBatches(1, QueryTimeoutS), s"stream did not start: ${job.failure}")
      }
      val refN = if (o.smoke) 40 else 100
      val (ref, _) = tr.span("streaming.ref_rate")(
        phase(job, feeder, take(refN), RefFilesPerS, rowsOf, sampleBacklog = true))
      m("streaming.lat_p50_s", Util.median(ref.latencies), "s")
      m("streaming.lat_p90_s", Util.quantile(ref.latencies, 0.9), "s")
      m("streaming.backlog_files", ref.maxBacklog, "count")
      m("streaming.feeder_late_s", Util.quantile(ref.lateS, 0.9), "s")
      // rate ladder: a rung is sustained when its backlog stays flat
      // (grows by under a tenth of the offered rate) and p90 is in limit
      val rungS = if (o.smoke) 2.0 else 3.0
      val rungs = (if (o.smoke) Seq(1.0, 3.0) else Seq(0.5, 1.0, 2.0, 3.0)).map(_ * RefFilesPerS)
      val sustained = rungs.map { perS =>
        val (p, _) = tr.span(f"streaming.rung_$perS%.0f")(
          phase(job, feeder, take((perS * rungS).toInt), perS, rowsOf, sampleBacklog = true))
        res.attempted += p.latencies.size + p.uncommitted
        res.failed += p.uncommitted
        val ok = p.backlogSlope < 0.1 * perS && p.uncommitted == 0 &&
          Util.quantile(p.latencies, 0.9) <= LatencyLimitS
        res.inputs += f"rung_${perS * FileTurns}%.0f_turns_per_s" -> Map(
          "p90_s" -> Util.quantile(p.latencies, 0.9), "backlog_slope" -> p.backlogSlope, "sustained" -> ok)
        if (ok) perS * FileTurns else 0.0
      }.max
      m("streaming.sustained_turns_per_s", sustained, "turns/s")
      res.attempted += ref.latencies.size + ref.uncommitted
      res.failed += ref.uncommitted
    } finally job.stop()
    spark.streams.removeListener(log)
    job.failure.foreach(f => { res.failed += 1; res.notes += s"stream query failed: $f" })

    val ids = job.queryIds
    val sinks = log.of(ids("sinks"))
    val counts = log.of(ids("counts"))
    def dur(p: StreamingQueryProgress, keys: String*) =
      keys.map(k => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1e3
    def medOf(ps: Seq[StreamingQueryProgress])(f: StreamingQueryProgress => Double) =
      if (ps.isEmpty) Double.NaN else Util.median(ps.map(f))
    m("streaming.sinks.batch_s", medOf(sinks)(dur(_, "triggerExecution")), "s")
    m("streaming.sinks.planning_s", medOf(sinks)(dur(_, "queryPlanning")), "s")
    m("streaming.sinks.offsets_s", medOf(sinks)(dur(_, "latestOffset", "getBatch")), "s")
    m("streaming.sinks.commit_s", medOf(sinks)(dur(_, "walCommit", "commitOffsets")), "s")
    m("streaming.sinks.rows_per_batch", medOf(sinks)(_.numInputRows.toDouble), "rows")
    m("streaming.counts.batch_s", medOf(counts)(dur(_, "triggerExecution")), "s")
    val lastState = counts.lastOption.flatMap(_.stateOperators.headOption)
    m("streaming.counts.state_rows", lastState.map(_.numRowsTotal.toDouble).getOrElse(0.0), "rows")
    m("streaming.counts.state_bytes", lastState.map(_.memoryUsedBytes.toDouble).getOrElse(0.0), "bytes")
    m("streaming.counts.late_dropped",
      counts.flatMap(_.stateOperators.headOption).map(_.numRowsDroppedByWatermark.toDouble).sum, "rows")
    res.checks += Map("kind" -> "stream", "sinks" -> s"${job.out}/sinks",
      "landed" -> feeder.landed.map(l => s"${job.in}/${l.name}"))
  }
}
