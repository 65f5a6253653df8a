package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.etl.{Clean, Normalize, Pipeline, Validate}
import graft.model.WeatherRecord

/** Clean / Normalize / Validate semantics against hand-built fixtures
  * (reference: tests/test_transform.py:65-206, tests/conftest.py).
  */
class EtlSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def rec(city: String = "London", country: String = "GB",
                  t: String = "2023-11-07 12:00:00", temp: Double = 15.5,
                  humidity: Int = 65, pressure: Int = 1013,
                  windSpeed: Double = 3.2, windDir: Int = 180,
                  visibility: Double = 10.0, lat: Double = 51.5074,
                  lon: Double = -0.1278): WeatherRecord =
    WeatherRecord(city, country, ts(t), temp, temp - 1.3, humidity, pressure,
      "partly cloudy", windSpeed, windDir, 40, visibility, lat, lon)

  test("dedup_hour keeps the FIRST record per (city,country,hour)") {
    val df = Seq(
      rec(t = "2023-11-07 12:00:00", temp = 15.5),
      rec(t = "2023-11-07 12:30:00", temp = 99.0), // same hour → dropped
      rec(t = "2023-11-07 13:00:00", temp = 16.0), // next hour → kept
      rec(city = "Tokyo", country = "JP", t = "2023-11-07 12:10:00")
    ).toDF()
    val out = Clean.dedupFirstPerKeyHour(df, Seq("city", "country"), "timestamp", Nil)
    assert(out.count() == 3)
    val london12 = out.filter($"city" === "London" && hour($"timestamp") === 12)
    assert(london12.select("temperature").as[Double].head() == 15.5)
  }

  test("fill median is the exact interpolated median") {
    val df = Seq(Some(1.0), Some(2.0), Some(4.0), Some(8.0), None)
      .toDF("visibility")
    val out = Clean.fillMedianExact(df, "visibility")
    assert(out.filter($"visibility" === 3.0).count() == 1) // (2+4)/2
    val lazyOut = Clean.fillMedianLazy(df, "visibility")
    assert(lazyOut.filter($"visibility" === 3.0).count() == 1)
  }

  test("text cleaning: title-case city, upper country, lower description") {
    val df = Seq(("  new york ", "us", "  Partly CLOUDY "))
      .toDF("city", "country", "description")
    val out = Clean.cleanWeatherText(df).first()
    assert(out.getString(0) == "New York")
    assert(out.getString(1) == "US")
    assert(out.getString(2) == "partly cloudy")
  }

  test("normalize: clip ranges, wrap negative wind direction, round") {
    val df = Seq(rec(humidity = 150, windDir = -10, visibility = -2.0)).toDF()
      .withColumn("cloudiness", lit(120))
    val out = Normalize.normalizeWeather(df).first()
    assert(out.getAs[Int]("humidity") == 100)
    assert(out.getAs[Int]("cloudiness") == 100)
    assert(out.getAs[Int]("wind_direction") == 350) // pmod, not %
    assert(out.getAs[Double]("visibility") == 0.0)
  }

  test("validate drops the all-rules-violated row, keeps valid rows") {
    // reference: tests/conftest.py:100-119 invalid_weather_data
    val invalid = rec(city = "", temp = 999.0, humidity = 150, pressure = -100,
      windSpeed = -5.0, windDir = 450, visibility = -1.0, lat = 200.0, lon = -200.0)
    val df = Seq(rec(), invalid).toDF()
    val out = Validate.validateWeather(df)
    assert(out.count() == 1)
    assert(out.select("city").as[String].head() == "London")
  }

  test("full pipeline: 26-column output, quality gate passes on corpus") {
    val events = io.Sources.table(spark, sf, "events")
    val weather = Pipeline.transform(Pipeline.weatherFromEvents(events))
    val cols = weather.columns.toSet
    Seq("date", "hour", "day_of_week", "month", "season", "temp_category",
      "humidity_category", "wind_category", "comfort_index", "location",
      "coord_string", "quality_score").foreach(c => assert(cols.contains(c), c))
    val n = weather.count()
    assert(n > 0)
    val metrics = etl.Quality.qualityMetrics(weather, events.count()).first()
    etl.Quality.gate(metrics, etl.Quality.Thresholds(
      minRetention = 0.5, minAvgQuality = 70, minRecords = 5))
  }

  test("quality report artifact: per-run JSON with the reference's shape") {
    // reference: airflow_dag/weather_etl_dag.py:301-346 — one JSON doc
    // with run date + ingestion/transformation/loading sections and an
    // overall status, written under a timestamped name
    val events = io.Sources.table(spark, sf, "events")
    val weather = Pipeline.transform(Pipeline.weatherFromEvents(events))
    val inputCount = events.count()
    val metrics = etl.Quality.qualityMetrics(weather, inputCount).first()
    etl.Quality.gate(metrics, etl.Quality.Thresholds(
      minRetention = 0.5, minAvgQuality = 70, minRecords = 5))
    val outDir = java.nio.file.Files.createTempDirectory("qreport").toString
    val runTime = java.time.ZonedDateTime.of(
      2023, 11, 7, 12, 34, 56, 0, java.time.ZoneOffset.UTC)
    val path = etl.Quality.report(
      outDir,
      ingestion = Seq(
        "records_ingested" -> inputCount,
        "cities_count" -> metrics.getAs[Long]("cities_count"),
        "ingestion_timestamp" -> runTime.toOffsetDateTime.toString),
      transformation = metrics,
      loading = Seq(
        "records_loaded" -> metrics.getAs[Long]("records_after_cleaning")),
      runTime = runTime)
    assert(path.getFileName.toString == "report_20231107_123456.json")
    // parse the artifact back with Spark's JSON reader — a malformed
    // doc would come back as _corrupt_record
    val back = spark.read.option("multiLine", "true").json(path.toString)
    assert(!back.columns.contains("_corrupt_record"))
    val r = back.first()
    assert(r.getAs[String]("overall_status") == "SUCCESS")
    assert(r.getAs[String]("pipeline_run_date").startsWith("2023-11-07T12:34:56"))
    import org.apache.spark.sql.Row
    val tr = r.getAs[Row]("transformation")
    assert(tr.getAs[Long]("records_after_cleaning") ==
      metrics.getAs[Long]("records_after_cleaning"))
    assert(tr.getAs[Double]("data_retention_rate") > 0.5)
    assert(r.getAs[Row]("ingestion").getAs[Long]("records_ingested") == inputCount)
    assert(r.getAs[Row]("loading").getAs[Long]("records_loaded") ==
      metrics.getAs[Long]("records_after_cleaning"))
  }

  test("transform materializes the same rows as the lazy fold of its stages") {
    val events = io.Sources.table(spark, sf, "events")
    val weather = Pipeline.weatherFromEvents(events)
    assert(weather.filter(col("visibility").isNull).count() > 0,
      "the fixture must exercise the median fill")
    Seq(Nil, Seq("temperature", "humidity")).foreach { tieBreak =>
      val folded = Pipeline.stages(tieBreak).foldLeft(weather)((d, st) => st(d))
      val out = Pipeline.transform(weather, tieBreak)
      assert(out.schema == folded.schema)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
      assert(rows(out) == rows(folded))
    }
  }

  /** qualityMetrics as it was planned with `countDistinct` and the input
    * count as literals: the reference for the parity test below.
    */
  private def countDistinctMetrics(df: org.apache.spark.sql.DataFrame,
                                   inputCount: Long): org.apache.spark.sql.DataFrame = {
    val nullCols = df.columns.map(c =>
      sum(when(col(c).isNull, 1L).otherwise(0L))).reduce(_ + _)
    df.agg(
      count(lit(1)).as("records_after_cleaning"),
      avg(col("quality_score")).as("avg_quality_score"),
      countDistinct(col("city")).as("cities_count"),
      countDistinct(col("country")).as("countries_count"),
      min(col("timestamp")).as("date_range_start"),
      max(col("timestamp")).as("date_range_end"),
      nullCols.as("total_nulls"))
      .withColumn("total_records_processed", lit(inputCount))
      .withColumn("data_retention_rate",
        when(lit(inputCount) > 0,
          col("records_after_cleaning") / lit(inputCount.toDouble)).otherwise(0.0))
  }

  test("qualityMetrics: distinct counts, ratios and schema equal the countDistinct form") {
    val t = ts("2023-11-07 12:00:00")
    val t2 = ts("2023-11-08 06:00:00")
    def batch(rows: (String, String, Timestamp, Option[Double])*) =
      rows.toDF("city", "country", "timestamp", "quality_score")
    val nulls = batch(("London", "GB", t, Some(90.0)), (null, "GB", t2, Some(80.0)),
      ("Paris", null, null, None), (null, null, t, Some(70.0)))
    val dupCities = batch(("London", "GB", t, Some(90.0)), ("London", "CA", t, Some(85.0)),
      ("London", "GB", t2, Some(80.0)), ("Lima", "PE", t2, Some(75.0)))
    val one = batch(("Cairo", "EG", t, Some(100.0)))
    val empty = batch()
    val transformed = Pipeline.transform(Pipeline.weatherFromEvents(
      io.Sources.table(spark, sf, "events")))
    val cases = Seq(nulls -> 10L, nulls -> 0L, dupCities -> 4L, one -> 1L, one -> 0L,
      empty -> 0L, empty -> 3L, transformed -> 1000L)
    cases.foreach { case (df, inputCount) =>
      val got = etl.Quality.qualityMetrics(df, inputCount)
      val want = countDistinctMetrics(df, inputCount)
      assert(got.schema == want.schema)
      assert(got.collect().toSeq == want.collect().toSeq, s"inputCount $inputCount")
    }
    val r = etl.Quality.qualityMetrics(nulls, 10L).head()
    assert(r.getAs[Long]("cities_count") == 2L && r.getAs[Long]("countries_count") == 1L)
    assert(etl.Quality.qualityMetrics(dupCities, 4L).head().getAs[Long]("cities_count") == 2L)
  }
}
