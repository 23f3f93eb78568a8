package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full named-query registry (one entry per implemented
  * operator from SURVEY.md §2 plus the large-scale pipeline extensions);
  * `oracleSql` carries the DuckDB-equivalent SQL for every hash-checkable
  * query. Registries live in graft.queries.* modules; this object is the
  * aggregation point the driver calls.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    CoreQueries.queries ++ FilterQueries.queries ++ JoinQueries.queries ++
      AggQueries.queries ++ WindowSetQueries.queries ++
      ScalarQueries.queries ++ DerivationQueries.queries ++
      ExtTextQueries.queries ++ ExtVectorQueries.queries ++ SketchQueries.queries ++ PipelineQueries.queries ++
      BehaviorQueries.queries ++ LayoutQueries.queries ++
      GraphQueries.queries ++ ProfileQueries.queries ++ QualityQueries.queries ++
      TimeSeriesQueries.queries ++ EvalQueries.queries ++
      LiteralTwinQueries.queries ++ ProbeQueries.queries

  lazy val oracleSql: Map[String, String] =
    CoreQueries.oracleSql ++ FilterQueries.oracleSql ++ JoinQueries.oracleSql ++
      AggQueries.oracleSql ++ WindowSetQueries.oracleSql ++
      ScalarQueries.oracleSql ++ DerivationQueries.oracleSql ++
      ExtTextQueries.oracleSql ++ ExtVectorQueries.oracleSql ++ SketchQueries.oracleSql ++ PipelineQueries.oracleSql ++
      BehaviorQueries.oracleSql ++ LayoutQueries.oracleSql ++
      GraphQueries.oracleSql ++ ProfileQueries.oracleSql ++ QualityQueries.oracleSql ++
      TimeSeriesQueries.oracleSql ++ EvalQueries.oracleSql ++
      LiteralTwinQueries.oracleSql ++ ProbeQueries.oracleSql
}
