package graft.agg

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.parse.ParseStage
import graft.run.Pipeline
import graft.synth.TranscriptSynth

class TailSamplingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val parsed = ParseStage(
    TranscriptSynth.generate(spark, TranscriptSynth.Config(3000, 30)),
    Pipeline.parseConfig).cache()

  test("whole-trace release: kept conversations keep ALL their turns") {
    val kept = TailSampling.sample(parsed, TailSampling.errorPolicy)
    val keptConvTurnCounts = kept.groupBy("conv_id").count()
    val allConvTurnCounts = parsed.groupBy("conv_id").count()
    val joined = keptConvTurnCounts.as("k")
      .join(allConvTurnCounts.as("a"), "conv_id")
      .filter(col("k.count") =!= col("a.count")).count()
    assert(joined == 0, "a kept conversation lost turns")
  }

  test("error policy keeps exactly conversations containing an ERROR turn") {
    val expect = parsed.filter(col("parsed").getItem("level") === "ERROR")
      .select("conv_id").distinct().count()
    val got = TailSampling.sample(parsed, TailSampling.errorPolicy)
      .select("conv_id").distinct().count()
    assert(got == expect)
  }

  test("latency policy keeps conversations whose span reaches the threshold") {
    val spans = parsed.groupBy("conv_id").agg(
        ((max(unix_micros(col("ts").cast("timestamp")))
          - min(unix_micros(col("ts").cast("timestamp"))))).as("span"))
      .as[(String, Long)].collect().toMap
    val threshold = spans.values.toSeq.sorted.apply(spans.size / 2)
    val got = TailSampling.sample(parsed, TailSampling.latencyPolicy(threshold))
      .select("conv_id").distinct().as[String].collect().toSet
    val want = spans.collect { case (c, s) if s >= threshold => c }.toSet
    assert(want.nonEmpty && want.size < spans.size)
    assert(got == want)
  }

  test("policy combinators: and / or / probabilistic determinism") {
    val stats = TailSampling.convStats(parsed).cache()
    val a = stats.filter(TailSampling.and(
      TailSampling.errorPolicy, TailSampling.turnCountPolicy(2, 10000))).count()
    val o = stats.filter(TailSampling.or(
      TailSampling.errorPolicy, TailSampling.turnCountPolicy(2, 10000))).count()
    assert(a <= o)
    val p1 = stats.filter(TailSampling.probabilisticPolicy(500))
      .select("conv_id").collect().map(_.getString(0)).toSet
    val p2 = stats.filter(TailSampling.probabilisticPolicy(500))
      .select("conv_id").collect().map(_.getString(0)).toSet
    assert(p1 == p2, "probabilistic policy is not deterministic")
  }
}
