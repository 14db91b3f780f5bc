package perfbench

import java.io.File

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.synth.TranscriptSynth

/** Seeded workload inputs, generated before any timed region and cached
  * under `<work>/data/<kind>-s<seed>-n<size>` (a `_READY` marker makes a
  * half-written cache entry count as absent). */
object Inputs {

  private def cached(work: String, key: String)(make: String => Unit): String = {
    val dir = new File(work, s"data/$key").getAbsolutePath
    if (!Util.exists(s"$dir/_READY")) {
      Util.rmrf(dir)
      make(dir)
      Util.writeText(s"$dir/_READY", "")
      Log(s"generated $key")
    }
    dir
  }

  /** TranscriptSynth turns (5% of them in one hot conversation) written
    * as `files` parquet files. */
  def transcripts(spark: SparkSession, work: String, seed: Long, turns: Long,
                  files: Int): String =
    cached(work, s"transcripts-s$seed-n$turns-f$files") { dir =>
      val df = TranscriptSynth.generate(spark, TranscriptSynth.Config(
        nTurns = turns, nConvs = math.max(1L, turns / 40), seed = seed, hotPct = 5))
      df.repartition(files).write.parquet(dir)
    }

  /** The same generator pre-staged as `files` parquet files of about
    * `turnsPerFile` rows each, named `f00000.parquet`… in landing order. */
  def stagedFiles(spark: SparkSession, work: String, seed: Long, files: Int,
                  turnsPerFile: Int): String =
    cached(work, s"staged-s$seed-n${files.toLong * turnsPerFile}-f$files") { dir =>
      val tmp = s"$dir/_tmp"
      val turns = files.toLong * turnsPerFile
      // a few write tasks, each cutting its rows into turnsPerFile-row files
      TranscriptSynth.generate(spark, TranscriptSynth.Config(
          nTurns = turns, nConvs = math.max(1L, turns / 40), seed = seed, hotPct = 5))
        .repartition(4).write.option("maxRecordsPerFile", turnsPerFile.toLong).parquet(tmp)
      val parts = new File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      require(parts.length >= files, s"staged ${parts.length} files, wanted $files")
      parts.zipWithIndex.foreach { case (f, i) =>
        require(f.renameTo(new File(f"$dir/f$i%05d.parquet")), s"stage $i")
      }
      Util.rmrf(tmp)
    }

  /** A document corpus with planted near-duplicate clusters.
    *
    * Every document is `docLen` tokens drawn from a vocabulary of
    * `vocab` words. Cluster sizes follow a Zipf law (exponent 1.1) with
    * a hot cluster of `hot` members; each member of a cluster is its
    * base document with one of its tokens replaced by a token unique to
    * the member. Two members of one cluster then share at least
    * (docLen-2)/(docLen+2) of their token sets, well above the 0.85
    * Jaccard threshold (a miss by the 16x4 banding has probability
    * below 1e-10 per pair), while documents of different clusters share
    * almost nothing. Ids are shuffled so clusters do not sit together. */
  def documents(spark: SparkSession, work: String, seed: Long, docs: Int,
                hot: Int): (String, Seq[Int]) = {
    val docLen = 60
    val vocab = 200000
    val rnd = new scala.util.Random(seed)
    // cluster sizes: one hot cluster, then Zipf(1.1) sizes until the
    // planted share (~40% of docs) is used; the rest are singletons
    val planted = (docs * 0.4).toInt
    val sizes = scala.collection.mutable.ArrayBuffer(hot)
    var used = hot
    var rank = 1
    while (used < planted) {
      val s = math.max(2, math.min(planted - used,
        (hot * 0.25 / math.pow(rank.toDouble, 1.1)).toInt + 2))
      sizes += s; used += s; rank += 1
    }
    sizes ++= Seq.fill(docs - used)(1)
    val dir = cached(work, s"documents-s$seed-n$docs-h$hot") { dir =>
      val ids = rnd.shuffle((0 until docs).toVector)
      var next = 0
      val rows = sizes.toSeq.flatMap { size =>
        val base = Array.fill(docLen)(s"w${rnd.nextInt(vocab)}")
        (0 until size).map { _ =>
          val id = ids(next); next += 1
          val toks = base.clone()
          if (size > 1) toks(rnd.nextInt(docLen)) = s"u$id"
          Row(id.toLong, toks.mkString(" "))
        }
      }
      val schema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
        StructField("text", StringType, nullable = false)))
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
        .write.parquet(dir)
    }
    (dir, sizes.toSeq)
  }
}
