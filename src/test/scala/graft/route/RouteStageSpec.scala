package graft.route

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.PipelineConfig._
import graft.run.Pipeline
import graft.sources.Transcripts
import graft.synth.TranscriptSynth

class RouteStageSpec extends SparkSpec {

  private lazy val enriched = {
    val turns = TranscriptSynth.generate(spark,
      TranscriptSynth.Config(nTurns = 2000, nConvs = 20)).cache()
    Pipeline.parseEnrich(spark, turns).cache()
  }

  test("match_once partitions rows into exactly one route (coverage + disjointness)") {
    val tagged = RouteStage.tagged(enriched, Pipeline.routeTable).cache()
    assert(tagged.count() == enriched.count())             // coverage, no loss
    assert(tagged.filter(col("route").isNull).count() == 0)
    val routes = tagged.select("route").distinct().collect().map(_.getString(0)).toSet
    assert(routes.subsetOf(Set("tool_calls", "errors", "user_turns", "default")))
  }

  test("multi-match fan-out: sinks = independent filters; default = no-match rows") {
    val sinks = RouteStage.fanOut(enriched, Pipeline.routeTable)
    val total = enriched.count()
    val sum = sinks.values.map(_.count()).sum
    assert(sum >= total) // multi-match can duplicate, never lose
    // default is disjoint from every named route
    val namedTotal = Pipeline.routeTable.routes.map(r =>
      enriched.filter(coalesce(r.predicate, lit(false))).count()).sum
    assert(sum == namedTotal + sinks("default").count())
    // every row appears in >=1 sink: default ∪ named covers input
    val covered = sinks.values.map(_.select("conv_id", "turn_idx"))
      .reduce(_ unionByName _).distinct().count()
    assert(covered == total)
  }

  test("first-match tag agrees with fan-out priority order") {
    val tagged = RouteStage.tagged(enriched, Pipeline.routeTable)
    val sinks = RouteStage.fanOut(enriched, Pipeline.routeTable)
    // rows tagged tool_calls == rows in the tool_calls sink (highest priority)
    assert(tagged.filter(col("route") === "tool_calls").count()
      == sinks("tool_calls").count())
    // rows tagged errors == errors sink minus rows already claimed by tool_calls
    val r = Pipeline.routeTable.routes
    val errMinus = enriched.filter(
      coalesce(r(1).predicate, lit(false)) && !coalesce(r(0).predicate, lit(false))).count()
    assert(tagged.filter(col("route") === "errors").count() == errMinus)
  }

  test("route tagging is narrow — no shuffle in the tagged plan") {
    import spark.implicits._
    // pre-materialised input: parse+enrich+tag must add NO shuffle on top
    val turns = Seq(
      ("c1", 0, "user", "user=1 action=msg cents=3", "",
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val plan = RouteStage.tagged(Pipeline.parseEnrich(spark, turns), Pipeline.routeTable)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"unexpected shuffle in route tagging:\n$plan")
  }

  test("single-pass multi-match (exploded routes) ≡ per-sink filters") {
    val sinks = RouteStage.fanOut(enriched, Pipeline.routeTable)
    val exploded = RouteStage.tagsExploded(enriched, Pipeline.routeTable).cache()
    for (name <- Seq("tool_calls", "errors", "user_turns", "default")) {
      val a = sinks(name).select("conv_id", "turn_idx")
        .collect().map(r => (r.getString(0), r.getInt(1))).toSet
      val b = exploded.filter(col("route") === name).select("conv_id", "turn_idx")
        .collect().map(r => (r.getString(0), r.getInt(1))).toSet
      assert(a == b, s"sink $name differs between single-pass and filter plans")
    }
  }

  test("null predicate results fall to default (error_mode=ignore)") {
    import spark.implicits._
    val df = Seq(("a", 1), ("b", 2)).toDF("k", "v")
      .withColumn("maybe", when(col("k") === "a", lit(null).cast("boolean")).otherwise(lit(true)))
    val table = RouteTable(Seq(RouteSpec("r1", col("maybe"))))
    val sinks = RouteStage.fanOut(df, table)
    assert(sinks("r1").count() == 1)
    assert(sinks("default").count() == 1)
  }

  test("route-name collisions fail at table construction, not silently at read time") {
    // a route named like the default sink (or two same-named routes)
    // would clobber a fanOut map entry and rows matching the clobbered
    // predicate would land in NO sink
    intercept[IllegalArgumentException] {
      RouteTable(Seq(
        RouteSpec("default", col("role") === "user")), defaultName = "default")
    }
    intercept[IllegalArgumentException] {
      RouteTable(Seq(
        RouteSpec("dup", col("role") === "user"),
        RouteSpec("dup", col("role") === "tool")))
    }
  }

  test("writeMultiMatch under match_once puts each row in exactly one route= partition") {
    // overlapping routes: a user turn at index 0 matches both
    val table = RouteTable(Seq(
      RouteSpec("users", col("role") === "user"),
      RouteSpec("early", col("turn_idx") < 1)), matchOnce = true)
    assert(enriched.filter(col("role") === "user" && col("turn_idx") < 1).count() > 0)
    val out = java.nio.file.Files.createTempDirectory("graft_route_once").toString
    RouteStage.writeMultiMatch(enriched, table, out)
    val written = spark.read.parquet(out)
    assert(written.count() == enriched.count())
    assert(written.select("conv_id", "turn_idx").distinct().count() == enriched.count())
    val want = RouteStage.tagged(enriched, table)
    for (name <- table.sinkNames) {
      def keys(df: org.apache.spark.sql.DataFrame) = df.filter(col("route") === name)
        .select("conv_id", "turn_idx").collect().map(r => (r.getString(0), r.getInt(1))).toSet
      assert(keys(written) == keys(want), s"route $name")
    }
  }

  test("an enrich dim carrying a route column is rejected, not overwritten by the tag") {
    import spark.implicits._
    val dimPath = java.nio.file.Files.createTempDirectory("graft_dim_route").toString + "/dim"
    Seq(("bash", "shadow"), ("", "shadow")).toDF("tool", "route").write.parquet(dimPath)
    val cfg = graft.config.ConfigLoader.compile(graft.config.ConfigLoader.load(
      s"""parse:
         |  patterns: []
         |enrich:
         |  keys: [tool]
         |  dim_path: $dimPath
         |routes:
         |  table:
         |    - name: users
         |      where: 'role == "user"'
         |""".stripMargin))
    val withDim = cfg.parseEnrich(spark, TranscriptSynth.generate(spark,
      TranscriptSynth.Config(nTurns = 50, nConvs = 2)))
    val out = java.nio.file.Files.createTempDirectory("graft_route_dim").toString
    val e = intercept[IllegalArgumentException] {
      RouteStage.writeMultiMatch(withDim, cfg.routeTable, out)
    }
    assert(e.getMessage.contains("'route'"))
    // the check is case-insensitive, like Spark's column resolution
    intercept[IllegalArgumentException] {
      RouteStage.routed(enriched.withColumn("Route", lit(1)), Pipeline.routeTable)
    }
  }
}
