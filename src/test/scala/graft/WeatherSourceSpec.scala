package graft

import java.nio.file.{Files, Paths}
import graft.io.weather.WeatherFetch

/** DataSource V2 HTTP-JSON ingest source, driven against file://
  * fixtures shaped like the reference's mock API response
  * (reference: tests/conftest.py:122-145).
  */
class WeatherSourceSpec extends SparkSpec {

  private def fixture(city: String, country: String, temp: Double): String =
    s"""{
       |  "coord": {"lon": -0.1278, "lat": 51.5074},
       |  "weather": [{"id": 801, "main": "Clouds", "description": "few clouds", "icon": "02d"}],
       |  "main": {"temp": $temp, "feels_like": 14.2, "temp_min": 13.0,
       |           "temp_max": 18.0, "pressure": 1013, "humidity": 65},
       |  "visibility": 10000,
       |  "wind": {"speed": 3.2, "deg": 180},
       |  "clouds": {"all": 40},
       |  "dt": 1699358400,
       |  "sys": {"type": 1, "id": 1414, "country": "$country",
       |          "sunrise": 1699339200, "sunset": 1699372800},
       |  "timezone": 0, "id": 2643743, "name": "$city", "cod": 200
       |}""".stripMargin

  private def writeFixtures(entries: (String, String, Double)*): String = {
    val dir = Files.createTempDirectory("graft_weather_api")
    entries.foreach { case (city, cc, temp) =>
      Files.write(dir.resolve(s"$city.json"), // URL %20 decodes back to the space

        fixture(city, cc, temp).getBytes("UTF-8"))
    }
    dir.toString
  }

  test("graft-weather returns the 14-col schema with parsed values") {
    val dir = writeFixtures(("London", "GB", 15.5), ("Tokyo", "JP", 22.0))
    val df = spark.read.format("graft-weather")
      .option("cities", "London:GB,Tokyo:JP")
      .option("urlTemplate", s"file://$dir/{city}.json")
      .load()
    assert(df.schema == graft.model.Schemas.weather)
    assert(df.schema.fields.length == 14)
    val rows = df.collect().map(r => r.getAs[String]("city") -> r).toMap
    assert(rows.keySet == Set("London", "Tokyo"))
    val london = rows("London")
    assert(london.getAs[String]("country") == "GB")
    assert(london.getAs[Double]("temperature") == 15.5)
    assert(london.getAs[Int]("humidity") == 65)
    assert(london.getAs[String]("description") == "few clouds")
    assert(london.getAs[Double]("visibility") == 10.0) // m → km
    assert(london.getAs[Int]("wind_direction") == 180)
    assert(london.getAs[java.sql.Timestamp]("timestamp").getTime == 1699358400000L)
  }

  test("cities with spaces resolve through the URL template") {
    val dir = writeFixtures(("New York", "US", 9.0))
    val df = spark.read.format("graft-weather")
      .option("cities", "New York:US")
      .option("urlTemplate", s"file://$dir/{city}.json")
      .load()
    val r = df.collect()
    assert(r.length == 1 && r(0).getAs[String]("city") == "New York")
  }

  test("a city that fails after retries is skipped, not fatal") {
    val dir = writeFixtures(("London", "GB", 15.5))
    val df = spark.read.format("graft-weather")
      .option("cities", "London:GB,Atlantis:XX") // no Atlantis fixture
      .option("urlTemplate", s"file://$dir/{city}.json")
      .option("maxRetries", "1").option("backoffMs", "1")
      .load()
    assert(df.count() == 1) // reference skips failed cities (src/ingest.py:110-120)

    val strict = spark.read.format("graft-weather")
      .option("cities", "Atlantis:XX")
      .option("urlTemplate", s"file://$dir/{city}.json")
      .option("maxRetries", "0").option("backoffMs", "1")
      .option("failFast", "true")
      .load()
    intercept[org.apache.spark.SparkException] { strict.count() }
  }

  test("skipped cities surface in the queryable skip-count channel") {
    import graft.io.weather.WeatherMetrics
    val dir = writeFixtures(("London", "GB", 15.5))
    val metric = "graft-weather.skips.spec"
    val df = spark.read.format("graft-weather")
      .option("cities", "London:GB,Atlantis:XX,ElDorado:YY") // 2 missing fixtures
      .option("urlTemplate", s"file://$dir/{city}.json")
      .option("maxRetries", "0").option("backoffMs", "1")
      .option("skipMetricName", metric)
      .load()
    WeatherMetrics.reset(metric)
    assert(df.count() == 1)
    assert(WeatherMetrics.skipCount(metric) == 2L)
    // a fully successful pass adds nothing
    WeatherMetrics.reset(metric)
    val ok = spark.read.format("graft-weather")
      .option("cities", "London:GB")
      .option("urlTemplate", s"file://$dir/{city}.json")
      .option("skipMetricName", metric)
      .load()
    assert(ok.count() == 1)
    assert(WeatherMetrics.skipCount(metric) == 0L)
  }

  test("the daily job polls the source once: the gate and the load read the transformed batch") {
    import graft.etl.{Pipeline, Quality}
    import graft.io.weather.WeatherMetrics
    val found = Seq(("London", "GB", 15.5), ("Tokyo", "JP", 22.0),
      ("Paris", "FR", 12.0), ("Cairo", "EG", 28.0), ("Lima", "PE", 19.0))
    val dir = writeFixtures(found: _*)
    val metric = "graft-weather.skips.transform-once"
    val raw = spark.read.format("graft-weather")
      .option("cities",
        (found.map { case (c, cc, _) => s"$c:$cc" } :+ "Atlantis:XX").mkString(","))
      .option("urlTemplate", s"file://$dir/{city}.json")
      .option("maxRetries", "0").option("backoffMs", "1")
      .option("skipMetricName", metric)
      .load()
    WeatherMetrics.reset(metric)
    val out = Pipeline.transform(raw)
    val afterTransform = WeatherMetrics.skipCount(metric)
    val qm = Quality.qualityMetrics(out, found.size.toLong).head()
    Quality.gate(qm)
    val table = Files.createTempDirectory("graft_weather_load").toString + "/t"
    graft.io.Sinks.upsertPartitioned(spark, out, table,
      Seq("city", "country", "timestamp"), "date")
    // each poll skips Atlantis once, so the skip count is the poll count
    assert(WeatherMetrics.skipCount(metric) == afterTransform,
      s"the gate and the load re-polled the source: ${WeatherMetrics.skipCount(metric)} " +
        s"skips after the load, $afterTransform after transform")
    assert(afterTransform == 1L, s"one transform polled the source $afterTransform times")
    assert(spark.read.parquet(table).count() == found.size)
  }

  test("streaming read polls every city once per trigger") {
    val dir = writeFixtures(("London", "GB", 15.5), ("Tokyo", "JP", 22.0))
    val stream = spark.readStream.format("graft-weather")
      .option("cities", "London:GB,Tokyo:JP")
      .option("urlTemplate", s"file://$dir/{city}.json")
      .load()
    assert(stream.isStreaming)
    val q = stream.writeStream.format("memory").queryName("weather_poll")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = spark.table("weather_poll")
    assert(out.schema == graft.model.Schemas.weather)
    assert(out.count() == 2) // one poll × two cities
    assert(out.select("city").collect().map(_.getString(0)).toSet ==
      Set("London", "Tokyo"))
  }

  test("poll offsets advance per trigger and gaps collapse to one fetch") {
    val s = new graft.io.weather.WeatherMicroBatchStream(
      Map("cities" -> "London:GB,Tokyo:JP", "urltemplate" -> "file:///x/{city}.json"))
    val o0 = s.initialOffset().asInstanceOf[graft.io.weather.WeatherOffset]
    val o1 = s.latestOffset().asInstanceOf[graft.io.weather.WeatherOffset]
    val o2 = s.latestOffset().asInstanceOf[graft.io.weather.WeatherOffset]
    assert(o0.n == 0 && o1.n == 1 && o2.n == 2)
    assert(s.planInputPartitions(o0, o1).length == 2)    // 2 cities
    assert(s.planInputPartitions(o0, o2).length == 2)    // gap ≠ more fetches
    assert(s.planInputPartitions(o2, o2).isEmpty)        // nothing new
    // restart resumes past the committed poll count
    val restarted = new graft.io.weather.WeatherMicroBatchStream(
      Map("cities" -> "London:GB", "urltemplate" -> "file:///x/{city}.json"))
    assert(restarted.deserializeOffset("7")
      .asInstanceOf[graft.io.weather.WeatherOffset].n == 7)
    assert(restarted.latestOffset()
      .asInstanceOf[graft.io.weather.WeatherOffset].n == 8)
  }

  test("parse yields null (not 0) for absent non-defaulted fields, matching parseWeatherJson") {
    // a malformed/empty API response must read the same through the
    // DSv2 row parser as through Sources.parseWeatherJson (from_json
    // gives null for missing struct fields); only wind/clouds/
    // visibility carry 0-defaults (reference: src/ingest.py:152-169)
    val row = WeatherFetch.parse("""{"wind":{},"clouds":{}}""")
    val nullIdx = Seq(0, 1, 2, 3, 4, 5, 6, 7, 12, 13) // city..pressure, desc, lat, lon
    nullIdx.foreach(i => assert(row.isNullAt(i), s"field $i should be null"))
    assert(row.getDouble(8) == 0.0)  // wind_speed default
    assert(row.getInt(9) == 0)       // wind_direction default
    assert(row.getInt(10) == 0)      // cloudiness default
    assert(row.getDouble(11) == 0.0) // visibility default
    // present fields still parse
    val ok = WeatherFetch.parse(
      """{"name":"London","dt":1699358400,"main":{"temp":15.5}}""")
    assert(ok.getUTF8String(0).toString == "London")
    assert(ok.getLong(2) == 1699358400L * 1000000L)
    assert(ok.getDouble(3) == 15.5)
    assert(ok.isNullAt(4) && ok.isNullAt(5))
  }

  test("withRetry retries with backoff then succeeds / exhausts") {
    var calls = 0
    val out = WeatherFetch.withRetry(maxRetries = 3, backoffMs = 1) { () =>
      calls += 1
      if (calls < 3) sys.error("transient") else "ok"
    }
    assert(out == "ok" && calls == 3)

    var failCalls = 0
    val e = intercept[RuntimeException] {
      WeatherFetch.withRetry(maxRetries = 2, backoffMs = 1) { () =>
        failCalls += 1; sys.error("down")
      }
    }
    assert(e.getMessage == "down")
    assert(failCalls == 3) // initial attempt + 2 retries, then rethrow
  }

  test("minRequestIntervalMs spaces concurrent requests at the endpoint") {
    import graft.io.weather.WeatherRateLimiter
    // the limiter itself: 4 threads race for slots on one key; the
    // acquired start times must be pairwise >= interval apart
    val key = s"spec-endpoint-${System.nanoTime()}"
    val times = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Long]())
    val threads = (1 to 4).map(_ => new Thread(() => {
      times.add(WeatherRateLimiter.acquire(key, 120))
    }))
    threads.foreach(_.start()); threads.foreach(_.join())
    // assert on the RESERVED slot times, not post-sleep wall clocks:
    // the reservation arithmetic guarantees >= interval spacing
    // exactly, while a loaded box's scheduler can delay an earlier
    // thread's wakeup enough to compress an observed wall-clock gap
    // (the flake ADVICE r13 named). No slack needed — the invariant
    // is deterministic.
    val sorted = times.toArray(Array.empty[java.lang.Long])
      .map(_.longValue).sorted
    val gaps = sorted.sliding(2).map(p => (p(1) - p(0)) / 1e6).toSeq
    assert(gaps.forall(_ >= 120.0),
      s"reserved slots must be spaced: gaps ${gaps.map(g => f"$g%.0f").mkString(",")}ms")
    // and zero interval means no gate at all (the default path)
    val t0 = System.nanoTime()
    (1 to 8).foreach(_ => WeatherRateLimiter.acquire(key + "-off", 0))
    assert((System.nanoTime() - t0) / 1e6 < 50.0)
  }

  test("a throttled scan serializes its city fetches end to end") {
    val dir = writeFixtures(("London", "GB", 1.0), ("Tokyo", "JP", 2.0),
      ("Paris", "FR", 3.0))
    def elapsed(opts: Map[String, String]): Double = {
      val r = spark.read.format("graft-weather")
        .option("cities", "London:GB,Tokyo:JP,Paris:FR")
        // per-test template => per-test limiter key: the ledger is
        // JVM-global, a shared template would inherit earlier waits
        .option("urlTemplate", s"file://$dir/{city}.json")
      val t0 = System.nanoTime()
      val n = opts.foldLeft(r) { case (b, (k, v)) => b.option(k, v) }
        .load().count()
      assert(n == 3)
      (System.nanoTime() - t0) / 1e6
    }
    elapsed(Map.empty) // warmup (plan + codegen, uncounted)
    // 3 cities at >=150ms spacing: first fires immediately, the scan
    // cannot finish under 2 intervals
    assert(elapsed(Map("minRequestIntervalMs" -> "150")) >= 300.0,
      "throttled scan must space its 3 requests")
  }

  test("config file and fallback city resolution") {
    val cfg = Files.createTempDirectory("graft_cities")
      .resolve("cities.json")
    Files.write(cfg,
      """[{"city": "Oslo", "country_code": "NO"},
        | {"city": "Lima", "country_code": "PE"}]""".stripMargin.getBytes("UTF-8"))
    assert(WeatherFetch.cities(Map("configpath" -> cfg.toString)) ==
      Seq("Oslo" -> "NO", "Lima" -> "PE"))
    assert(WeatherFetch.cities(Map.empty) == WeatherFetch.fallbackCities)
    assert(WeatherFetch.cities(Map("cities" -> "London:GB, Tokyo:JP")) ==
      Seq("London" -> "GB", "Tokyo" -> "JP"))
  }
}
