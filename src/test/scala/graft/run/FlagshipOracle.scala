package graft.run

import org.apache.spark.sql.functions._

import graft.model.PipelineConfig._

/** Hand-written Column renderings of the flagship's route table and
  * metrics (FIXTURES.md §3/§4): differential oracles for the
  * string-compiled tables [[Pipeline]] loads from `flagship.yaml`. */
object FlagshipOracle {

  def routeTableByHand: RouteTable = RouteTable(
    routes = Seq(
      RouteSpec("tool_calls",
        col("tool") =!= "" && col("parsed").getItem("tool_name").isNotNull),
      RouteSpec("errors",
        col("parsed").getItem("level").isin("ERROR", "FATAL")),
      RouteSpec("user_turns", col("role") === "user")
    ),
    defaultName = "default",
    matchOnce = false
  )

  val metricsByHand: Seq[MetricSpec] = Seq(
    MetricSpec("turn_count"),
    MetricSpec("turn_count_by_role", attrs = Seq(AttrSpec("role"))),
    MetricSpec("tool_call_count",
      conditions = Seq(col("tool") =!= ""),
      attrs = Seq(AttrSpec("tool"), AttrSpec("cost_class", Some("unknown")))),
    MetricSpec("error_count_by_component",
      conditions = Seq(col("parsed").getItem("level") === "ERROR"),
      // component is REQUIRED (no default): rows missing it are skipped
      attrs = Seq(AttrSpec("component")))
  )
}
