package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.analytics.Views
import graft.etl.Pipeline
import graft.io.Sources
import graft.queries.{AnalyticsQueries, EtlQueries, ExtensionQueries, IoQueries, PipelineQueries, StreamingQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2 (and the LLM-pipeline extension
  * surface) is registered as a Q in graft.queries.*; `queries` and
  * `oracleSql` are derived from the same registry so names, output
  * columns and ordering stay in lockstep with the DuckDB oracle.
  */
object SparkEntry {

  val registry: Seq[Q] =
    EtlQueries.all ++ AnalyticsQueries.all ++ ExtensionQueries.all ++
      PipelineQueries.all ++ StreamingQueries.all ++ IoQueries.all

  /** Flagship: the reference's full 5-stage ETL pipeline (clean →
    * normalize → enrich → validate) over the corpus events table,
    * finished with the daily-summary view (reference:
    * src/transform.py:40-69 + sql/schema.sql:82-97). The transform
    * runs here and is materialized ([[graft.etl.Pipeline.transform]]);
    * the returned view is a lazy plan over that batch.
    */
  def entry(spark: SparkSession): DataFrame = {
    val events = Sources.table(spark, "/root/testdata/sf0.001", "events")
    val weather = Pipeline.transform(Pipeline.weatherFromEvents(events))
    Views.dailyWeatherSummary(weather)
  }

  /** ListMap in registry order: a plain HashMap reshuffles iteration
    * every time a key is added, so Verify/Bench would execute each
    * query in a different cache/GC context each round — per-query
    * times become incomparable round over round.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    scala.collection.immutable.ListMap(
      registry.map(q => q.name -> q.plan): _*)

  def oracleSql: Map[String, String] =
    scala.collection.immutable.ListMap(
      registry.collect { case Q(name, _, Some(sql)) => name -> sql }: _*)
}
