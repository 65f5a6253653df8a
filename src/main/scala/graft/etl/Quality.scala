package graft.etl

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Quality metrics + gate.
  *
  * agg_quality_metrics (reference: src/transform.py:301-315) and the
  * Airflow threshold gate (reference: airflow_dag/weather_etl_dag.py:349-389).
  */
object Quality {

  /** One-row global aggregate over the transformed batch, run when
    * called: one plain aggregate pass, then the two ratios against
    * `inputCount` on the driver, returned as a one-row local relation.
    * The distinct counts are `size(collect_set(..))` — NULLs ignored
    * like `countDistinct`, each set bounded by the batch's cities —
    * so no `Expand` plans under a three-level aggregate; and the input
    * count never becomes a literal in generated code, where every day
    * with a new raw count would compile a new class.
    */
  def qualityMetrics(df: DataFrame, inputCount: Long): DataFrame = {
    val nullCols = sum(df.columns.map(c => when(col(c).isNull, 1L).otherwise(0L))
      .reduce(_ + _))
    val batch = df.agg(
      count(lit(1)).as("records_after_cleaning"),
      avg(col("quality_score")).as("avg_quality_score"),
      size(collect_set(col("city"))).cast("long").as("cities_count"),
      size(collect_set(col("country"))).cast("long").as("countries_count"),
      min(col("timestamp")).as("date_range_start"),
      max(col("timestamp")).as("date_range_end"),
      nullCols.as("total_nulls"))
    val row = batch.head()
    val retention =
      if (inputCount > 0) row.getLong(0).toDouble / inputCount.toDouble else 0.0
    val schema = batch.schema
      .add("total_records_processed", LongType, nullable = false)
      .add("data_retention_rate", DoubleType)
    df.sparkSession.createDataFrame(
      java.util.List.of(Row.fromSeq(row.toSeq :+ inputCount :+ retention)), schema)
  }

  final case class Thresholds(
      minRetention: Double = 0.8, minAvgQuality: Double = 70.0,
      minRecords: Long = 5)

  /** Per-run quality-report artifact (reference:
    * airflow_dag/weather_etl_dag.py:301-346): the ingestion,
    * transformation (a [[qualityMetrics]] row), and loading metrics
    * composed into one JSON document at
    * `<outDir>/report_<yyyyMMdd_HHmmss>.json` with the run date and
    * overall status. Driver-side by design — the report is one small
    * document ABOUT the run, not data; the distributed work happened
    * upstream in the metrics aggregate. Returns the written path.
    */
  def report(outDir: String,
             ingestion: Seq[(String, Any)],
             transformation: Row,
             loading: Seq[(String, Any)],
             runTime: java.time.ZonedDateTime,
             overallStatus: String = "SUCCESS"): java.nio.file.Path = {
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"'  => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case '\r' => "\\r"
        case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    def jval(v: Any): String = v match {
      case null                => "null"
      case None                => "null"
      case Some(x)             => jval(x)
      case b: Boolean          => b.toString
      case n: Byte             => n.toString
      case n: Short            => n.toString
      case n: Int              => n.toString
      case n: Long             => n.toString
      case n: Float            => n.toString
      case n: Double           => n.toString
      case n: java.math.BigDecimal => n.toPlainString
      case r: Row              => jobj(r.schema.fieldNames.toSeq.zip(r.toSeq))
      case m: Seq[_]           => m.map(jval).mkString("[", ",", "]")
      case other               => jstr(other.toString) // strings, timestamps
    }
    def jobj(fields: Seq[(String, Any)]): String =
      fields.map { case (k, v) => jstr(k) + ": " + jval(v) }
        .mkString("{", ", ", "}")
    val rendered =
      "{" + jstr("pipeline_run_date") + ": " +
        jstr(runTime.toOffsetDateTime.toString) +
        ", " + jstr("ingestion") + ": " + jobj(ingestion) +
        ", " + jstr("transformation") + ": " + jval(transformation) +
        ", " + jstr("loading") + ": " + jobj(loading) +
        ", " + jstr("overall_status") + ": " + jstr(overallStatus) + "}"
    val stamp = runTime.format(
      java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss"))
    val dir = java.nio.file.Paths.get(outDir)
    java.nio.file.Files.createDirectories(dir)
    val path = dir.resolve(s"report_$stamp.json")
    java.nio.file.Files.writeString(path, rendered + "\n")
    path
  }

  /** Quality gate — throws when a threshold is violated, the Spark
    * analogue of failing the DAG run
    * (reference: airflow_dag/weather_etl_dag.py:360-386).
    */
  def gate(metrics: Row, t: Thresholds = Thresholds()): Unit = {
    val retention = metrics.getAs[Double]("data_retention_rate")
    val avgQ = metrics.getAs[Double]("avg_quality_score")
    val n = metrics.getAs[Long]("records_after_cleaning")
    val failures = Seq(
      (retention < t.minRetention) -> f"retention $retention%.3f < ${t.minRetention}",
      (avgQ < t.minAvgQuality) -> f"avg quality $avgQ%.1f < ${t.minAvgQuality}",
      (n < t.minRecords) -> s"records $n < ${t.minRecords}"
    ).collect { case (true, msg) => msg }
    if (failures.nonEmpty)
      throw new IllegalStateException("quality gate failed: " + failures.mkString("; "))
  }
}
