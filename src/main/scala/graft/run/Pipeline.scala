package graft.run

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.config.ConfigLoader
import graft.expr.ExprLang
import graft.model.PipelineConfig._

/** The flagship parse→enrich→route→aggregate pipeline (SURVEY.md §7.3):
  * the Spark-native rendering of the reference collector graph
  * `filelog → regex parse → attributes enrich → routing connector →
  * count connector` (`/root/reference`, SURVEY.md §3).
  *
  * Defined ONCE, as the bundled `flagship.yaml` resource (FIXTURES.md
  * §1/§3/§4), and compiled through the same [[ConfigLoader]] path a
  * user-shipped config takes — the reference collector's one way to
  * define a pipeline (confmap unmarshal, then `Build()`). Every member
  * below is a projection of that one definition.
  */
object Pipeline {

  /** The flagship as round-trippable file data (the config identity
    * [[PipelineJob]] fingerprints). */
  val flagshipFile: ConfigLoader.GraftFileConfig = {
    val in = getClass.getResourceAsStream("/flagship.yaml")
    require(in != null, "bundled /flagship.yaml is missing from the classpath")
    try ConfigLoader.load(new String(in.readAllBytes(), "UTF-8")) finally in.close()
  }

  /** The flagship compiled once, driver-side. */
  val flagship: ConfigLoader.Compiled = ConfigLoader.compile(flagshipFile)

  val parseConfig: ParseConfig = flagship.parse
  val patternBank: Seq[PatternSpec] = parseConfig.patterns
  val parsedFields: Set[String] = flagship.parsedFields
  val routeTable: RouteTable = flagship.routeTable
  val metrics: Seq[MetricSpec] = flagship.metrics

  /** The route table's OTTL condition strings, `(name, where)`. */
  val routeConditionStrings: Seq[(String, String)] =
    flagshipFile.routes.table.map(r => r.name -> r.where)

  /** The metric table as `(name, conditions, (attr, default) pairs)`. */
  val metricConfigStrings: Seq[(String, Seq[String], Seq[(String, Option[String])])] =
    flagshipFile.metrics.map(m => (m.name, m.conditions, m.attributes.map(a => a.key -> a.default)))

  def exprResolver: ExprLang.Resolver = flagship.resolver

  def resolveAttr(parsedFields: Set[String])(key: String): Column =
    ConfigLoader.resolveAttr(parsedFields)(key)

  /** parse + enrich over a transcripts frame ([[ConfigLoader.Compiled.parseEnrich]]). */
  def parseEnrich(spark: SparkSession, transcripts: DataFrame): DataFrame =
    flagship.parseEnrich(spark, transcripts)
}
