package graft

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import graft.etl.{Pipeline, Quality}
import graft.io.{Sinks, Sources}
import graft.model.Schemas

/** The generated-class working set of the daily job ([[GeneratedClasses]]):
  * a day whose plans need more entries than the cache holds, or whose
  * generated source carries a per-day value, recompiles classes the
  * previous day had already compiled.
  *
  * One load here is the daily job over file fixtures: a JSON-lines
  * ingest unioned with a `graft-weather` poll and counted,
  * [[Pipeline.transform]], [[Quality.qualityMetrics]] and the gate,
  * [[Sinks.upsertPartitioned]] into a table that already exists, and
  * the metrics and load-history appends. Each day has a different raw
  * count and different readings.
  */
class CodegenWorkingSetSpec extends SparkSpec with GeneratedClasses {

  private val Day0 = 1699315200L // 2023-11-07T00:00:00Z
  private val Cities = (0 until 12).map(i => (s"City$i", s"C${i % 4}"))
  private val Polled = Cities.take(3)

  private def reading(city: String, cc: String, dt: Long, temp: Double,
                      visibility: Option[Int]): String =
    s"""{"coord":{"lon":${temp / 10},"lat":${temp / 20}},""" +
      s""""weather":[{"id":801,"main":"Clouds","description":" Few Clouds "}],""" +
      s""""main":{"temp":$temp,"feels_like":${temp - 1},"pressure":1013,"humidity":${40 + (dt / 3600 % 50)}},""" +
      visibility.fold("")(v => s""""visibility":$v,""") +
      s""""wind":{"speed":3.2,"deg":180},"clouds":{"all":40},"dt":$dt,""" +
      s""""sys":{"country":"$cc"},"name":"$city"}"""

  /** Day `d`'s fixtures and raw row count: hourly readings of every
    * city (fewer hours on some days) and one poll file per polled city;
    * the poll's list also names a city without a file.
    */
  private def fixtures(root: Path, d: Int): (String, Long) = {
    val dir = Files.createDirectories(root.resolve(s"day$d"))
    val hours = 24 - d % 3
    val lines = for ((c, i) <- Cities.zipWithIndex; h <- 0 until hours) yield
      reading(c._1, c._2, Day0 + d * 86400L + h * 3600L, 10.0 + i + h * 0.1 + d,
        if ((i + h) % 5 == 0) None else Some(8000 + 100 * h))
    Files.createDirectories(dir.resolve("readings"))
    Files.write(dir.resolve("readings/part-0.json"), lines.mkString("\n").getBytes("UTF-8"))
    Files.createDirectories(dir.resolve("poll"))
    Polled.foreach { case (c, cc) =>
      Files.write(dir.resolve(s"poll/$c.json"),
        reading(c, cc, Day0 + d * 86400L + 12 * 3600L + 60, 30.0 + d, Some(9000))
          .getBytes("UTF-8"))
    }
    (dir.toString, lines.size.toLong + Polled.size)
  }

  private def load(root: Path, d: Int): Unit = {
    val (dir, nFixture) = fixtures(root, d)
    val polled = spark.read.format("graft-weather")
      .option("cities", (Polled :+ ("Atlantis" -> "XX")).map { case (c, cc) => s"$c:$cc" }
        .mkString(","))
      .option("urlTemplate", s"file://$dir/poll/{city}.json")
      .option("maxRetries", "0").option("backoffMs", "0")
      .load()
    val raw = Sources.parseWeatherJson(spark.read.text(s"$dir/readings"), "value")
      .unionByName(polled)
    val nRaw = raw.count()
    assert(nRaw == nFixture)
    val out = Pipeline.transform(raw)
    val qm = Quality.qualityMetrics(out, nRaw).head()
    Quality.gate(qm)
    Sinks.upsertPartitioned(spark, out, root.resolve("weather").toString,
      Seq("city", "country", "timestamp"), "date")
    val loadTs = new Timestamp((Day0 + (d + 1) * 86400L) * 1000L)
    val qmSchema = StructType(Schemas.qualityMetrics.fields.filter(_.name != "metrics_json"))
    Sinks.appendMetrics(spark.createDataFrame(java.util.List.of(Row.fromSeq(
      loadTs +: qmSchema.fields.toSeq.tail.map(f => qm.get(qm.fieldIndex(f.name))))), qmSchema),
      root.resolve("metrics").toString)
    val nOut = qm.getAs[Long]("records_after_cleaning")
    Sinks.append(spark.createDataFrame(java.util.List.of(
      Row(loadTs, nOut, null, nRaw - nOut, 1.0, "SUCCESS", null)), Schemas.loadHistory),
      root.resolve("history").toString)
  }

  test("one daily load into an existing table compiles at most 75 generated classes") {
    val root = Files.createTempDirectory("graft_codegen_ws")
    load(root, 0)
    clearCodegenCache()
    val n = compiles(load(root, 1))
    assert(n <= 75, s"one load compiled $n classes from an empty cache")
  }

  /** Compiles in a later load are re-compiles after an eviction, whose
    * count depends on how the JVM's class-loader hashes spread the
    * working set over the cache's LRU segments, or classes whose source
    * is new, whose count depends on the code alone: a day's value
    * compiled into the source. This pins the second kind at zero.
    */
  test("a second consecutive daily load compiles no class the first one did not") {
    val root = Files.createTempDirectory("graft_codegen_ws2")
    load(root, 0)
    val first = compiledSources { clearCodegenCache(); load(root, 1) }
    val second = compiledSources(load(root, 2))
    val fresh = second.toSet -- first
    assert(fresh.isEmpty, s"${fresh.size} classes of the second load have a new source:\n" +
      heads(fresh))
    assert(spark.read.parquet(root.resolve("weather").toString).count() ==
      Cities.size * (24 + 23 + 22))
  }
}
