package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ops.Dedup

/** `neardup_dense`: `Dedup.nearDupMinhashLsh` (64 hashes, 16 bands,
  * shingle 1, threshold 0.85) then `Dedup.dedupGroups` over a corpus
  * with planted Zipf-sized near-duplicate clusters and one hot bucket —
  * the banded self-join on a dense, non-unique key. No parse, route or
  * streaming code runs here. */
object NearDup {
  val Hashes = 64
  val Bands = 16
  val Shingle = 1
  val Threshold = 0.85

  def docs(o: Opts): Int = if (o.smoke) 2000 else 8000
  def hot(o: Opts): Int = if (o.smoke) 60 else 200

  private def lsh(spark: SparkSession, in: String) =
    Dedup.nearDupMinhashLsh(spark.read.parquet(in), "doc_id", "text",
      Hashes, Bands, Shingle, Threshold)

  private def groups(spark: SparkSession, out: String) =
    Dedup.dedupGroups(spark.read.parquet(s"$out/pairs"))

  /** One LSH + groups pass writing `out/pairs` and `out/groups`. */
  def pass(spark: SparkSession, in: String, out: String): Unit = {
    lsh(spark, in).write.parquet(s"$out/pairs")
    groups(spark, out).write.parquet(s"$out/groups")
  }

  private def describe(o: Opts, sizes: Seq[Int], res: Result): Unit = {
    val clusters = sizes.filter(_ > 1)
    res.inputs ++= Map("docs" -> docs(o), "clusters" -> clusters.size,
      "max_cluster" -> clusters.max, "hot_cluster" -> hot(o),
      "planted_pairs" -> clusters.map(k => k.toLong * (k - 1) / 2).sum,
      "cluster_size_p50" -> Util.median(clusters.map(_.toDouble)),
      "singletons" -> sizes.count(_ == 1))
  }

  def run(spark0: SparkSession, o: Opts, res: Result): SparkSession = {
    var spark = spark0
    val (in, sizes) = Inputs.documents(spark, o.work, o.seed, docs(o), hot(o))
    describe(o, sizes, res)
    val n = docs(o)

    // set-up: a fresh session that has read the corpus footers
    val setups = (1 to 3).map { _ =>
      Sessions.stop(spark)
      val t0 = Util.nowS
      spark = Sessions.build(Backfill.Cores, o.work)
      spark.read.parquet(in).count()
      Util.nowS - t0
    }
    res.metric("setup_s", Util.median(setups), "s")

    val last = Passes.measure(o, res, n)(out => pass(spark, in, out))
    res.checks += Map("kind" -> "neardup", "input" -> in, "out" -> last, "threshold" -> Threshold)
    spark
  }

  def traced(spark: SparkSession, o: Opts, res: Result, tr: Tracer): Unit = {
    val (in, sizes) = Inputs.documents(spark, o.work, o.seed, docs(o), hot(o))
    if (o.workload == "neardup_dense") describe(o, sizes, res)
    def m(name: String, v: Double, unit: String) = res.metric(name, v, unit)
    val sig = Dedup.bandHashes(Dedup.minhashSignature(
      Dedup.shingleHashes(col("text"), Shingle), Hashes), Hashes, Bands)
    pass(spark, in, s"${o.work}/out/nd-warm")
    Util.rmrf(s"${o.work}/out/nd-warm")
    val reps = (1 to 3).map { r =>
      tr.run = s"neardup-$r"
      val out = s"${o.work}/out/nd-$r"
      val (spans, _) = tr.span("neardup.pass") {
        Map(
          "ops.signature" -> tr.span("ops.signature")(
            Backfill.noop(spark.read.parquet(in).select(col("doc_id"), sig.as("bhs"))))._2,
          "ops.lsh" -> tr.span("ops.lsh")(lsh(spark, in).write.parquet(s"$out/pairs"))._2,
          "ops.groups" -> tr.span("ops.groups")(groups(spark, out).write.parquet(s"$out/groups"))._2)
      }
      if (r < 3) Util.rmrf(out)
      spans
    }
    def med(layer: String, f: Span => Double) = Util.median(reps.map(s => f(s(layer))))
    Seq("ops.signature", "ops.lsh", "ops.groups").foreach { l =>
      m(s"$l.wall_s", med(l, _.wall), "s")
      m(s"$l.cpu_s", med(l, _.metrics("cpu_ns") / 1e9), "s")
    }
    m("ops.lsh.parallelism", med("ops.lsh", s => s.metrics("cpu_ns") / 1e9 / s.wall), "ratio")
    m("ops.lsh.task_skew", med("ops.lsh", _.metrics("task_skew")), "ratio")
    m("ops.lsh.shuffle_bytes", med("ops.lsh", _.metrics("shuffle_write_bytes")), "bytes")
    m("ops.lsh.spill_bytes", med("ops.lsh", _.metrics("spill_bytes")), "bytes")
    m("ops.groups.jobs", med("ops.groups", _.metrics("jobs")), "count")

    // bucket shape from the public bandHashes (own jobs, outside spans)
    val out = s"${o.work}/out/nd-3"
    val banded = spark.read.parquet(in)
      .select(col("doc_id").as("id"), posexplode(sig).as(Seq("band", "bh")))
    val maxBucket = banded.groupBy("band", "bh").count().agg(max("count")).head().getLong(0)
    val a = banded.select(col("band"), col("bh"), col("id").as("a"))
    val b = banded.select(col("band"), col("bh"), col("id").as("b"))
    val candidates = a.join(b, Seq("band", "bh")).filter(col("a") < col("b"))
      .select("a", "b").distinct().count()
    val pairs = spark.read.parquet(s"$out/pairs").count()
    m("ops.lsh.max_bucket", maxBucket.toDouble, "count")
    m("ops.lsh.useful_ratio", pairs.toDouble / math.max(candidates, 1L), "ratio")
    m("ops.groups.groups", spark.read.parquet(s"$out/groups").select("group").distinct().count().toDouble, "count")
    res.checks += Map("kind" -> "neardup", "input" -> in, "out" -> out, "threshold" -> Threshold)
  }
}
