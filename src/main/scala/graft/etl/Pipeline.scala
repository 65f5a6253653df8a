package graft.etl

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Stage composition — the Spark analogue of the reference's eager
  * 5-stage pandas pipeline (reference: src/transform.py:40-69). Each
  * stage is a pure DataFrame => DataFrame. Folding [[stages]] gives one
  * lazy plan, so Catalyst optimizes across stage boundaries (e.g.
  * pushes the validation filter below the 12 enrichment projections);
  * callers that compose the transform into a larger plan (or a
  * streaming query) fold them themselves. [[transform]] executes the
  * same stages in two checkpointed steps and returns the materialized
  * batch — the boundary where the reference passes the transformed
  * batch between DAG tasks as a file (reference:
  * airflow_dag/weather_etl_dag.py:124-148).
  */
object Pipeline {

  def stages(dedupTieBreak: Seq[String] = Nil): Seq[DataFrame => DataFrame] =
    Seq(dedupStage(dedupTieBreak), fillWind,
      (df: DataFrame) => Clean.fillMedianLazy(df, "visibility")) ++ afterMedian

  private def dedupStage(tieBreak: Seq[String]): DataFrame => DataFrame =
    df => Clean.dedupFirstPerKeyHour(df, Seq("city", "country"), "timestamp", tieBreak)

  private val fillWind: DataFrame => DataFrame =
    df => Clean.fillConst(df, Map("wind_speed" -> 0.0, "wind_direction" -> 0))

  private val afterMedian: Seq[DataFrame => DataFrame] = Seq(
    df => Clean.dropNullCritical(df,
      Seq("temperature", "humidity", "pressure", "lat", "lon")),
    Clean.cleanWeatherText,
    Normalize.normalizeWeather,
    Enrich.enrichWeather,
    Validate.validateWeather)

  /** transform_weather_data (reference: src/transform.py:40-69): the
    * same rows as a fold of [[stages]], materialized.
    * `dedupTieBreak` pins the keep-first winner when two rows share the
    * key AND the exact timestamp (pandas keeps input order; a shuffle
    * has no input order, so ties need a total order to be stable).
    *
    * MATERIALIZED, input read once: an eager `localCheckpoint` of the
    * deduped, wind-filled batch observes the visibility median, and the
    * remaining stages fold over it into a second checkpoint, the median
    * filled from a one-row broadcast relation ([[Clean.fillWith]]).
    * Folded over the raw input, the median aggregate would be a branch
    * of its own that scans, parses and dedups the input (a live weather
    * poll included) a second time, and could fill from a different
    * fetch than the rows it fills. The quality metrics, the gate and
    * the load that follow read the second checkpoint. Size bound: each
    * checkpoint holds at most the input batch's rows — dedup, the
    * critical-null drop and validation only remove rows, the other
    * stages only add or rewrite columns. Lineage: local checkpoints,
    * not `persist`, on purpose — an evicted persisted block is
    * recomputed from lineage, which re-polls the source and can hand
    * the load a different fetch than the gate judged; a checkpoint
    * spills to local disk instead and cuts the lineage (losing an
    * executor before the batch is consumed fails the job rather than
    * silently re-fetching).
    */
  def transform(df: DataFrame, dedupTieBreak: Seq[String] = Nil): DataFrame = {
    val med = new Observation()
    val deduped = fillWind(dedupStage(dedupTieBreak)(df))
      .observe(med, median(col("visibility")).as("m"))
      .localCheckpoint()
    val filled = Clean.fillWith(deduped, "visibility",
      med.get("m").asInstanceOf[java.lang.Double])
    afterMedian.foldLeft(filled)((d, s) => s(d)).localCheckpoint()
  }

  /** Deterministic adapter: project the corpus `events` table into the
    * weather schema so the full reference pipeline can run against the
    * driver corpus (the reference's own weather table does not exist
    * there — FIXTURES.md §C). Pure column arithmetic; used by
    * SparkEntry.entry and the test suites.
    */
  def weatherFromEvents(events: DataFrame): DataFrame = {
    val v = col("value")
    events.select(
      concat_ws(" ", lit(" city"), (col("user_id") % 50).cast("string")).as("city"),
      substring(col("event_type"), 1, 2).as("country"),
      col("ts").as("timestamp"),
      (v / 4 - 20).as("temperature"),
      (v / 4 - 22).as("feels_like"),
      (floor(v).cast("int") % 101).as("humidity"),
      (lit(800) + (floor(v * 7).cast("int") % 300)).as("pressure"),
      col("event_type").as("description"),
      when(col("user_id") % 13 === 0, lit(null))
        .otherwise(Normalize.roundTo(v / 8, 2)).as("wind_speed"),
      (floor(v * 13).cast("int") % 720 - 360).as("wind_direction"),
      (floor(v).cast("int") % 120).as("cloudiness"),
      when(v < 50, lit(null))
        .otherwise(Normalize.roundTo(v / 20, 2)).as("visibility"),
      (pmod(v, lit(180.0)) - 90 + 0.1234567).as("lat"),
      (pmod(v * 2, lit(360.0)) - 180).as("lon"))
  }
}
