package perfbench

import java.sql.{Date, Timestamp}
import java.time.{Instant, ZoneOffset, ZonedDateTime}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.analytics.Views
import graft.etl.{Pipeline, Quality}
import graft.io.{Manifest, Sinks, Sources}
import graft.io.weather.WeatherMetrics
import graft.model.Schemas
import graft.ops.{AnnIndex, DedupIndex}

/** A workload: its set-up, one op, and the untimed work after an op
  * (recording outputs for the checks, forced executions when traced).
  */
trait Workload {
  def name: String
  def setup(rep: Int): Unit
  def op(i: Int, slot: Int, t: Tracer): Map[String, Any]
  def afterOp(i: Int, slot: Int, t: Tracer): Map[String, Any] = Map.empty
  def maxOps: Int
  /** Op pairs in a traced run. */
  def tracePairs: Int
  def finish(): Map[String, Any] = Map.empty
  def layerExtras(t: Tracer, nTraced: Int): Map[String, Double] = Map.empty
}

object Workload {
  val Layers = Seq("io.weather", "etl.pipeline", "etl.quality", "io.sinks.upsert",
    "io.sinks.audit", "analytics.views", "ops.dedup_index", "ops.ann_index")

  def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(dirBytes).sum
    else f.length()
}

final case class WBatch(idx: Int, dir: String, poll: Seq[String], loadTs: Long)

object WBatch {
  def all(n: JsonNode): IndexedSeq[WBatch] = n.elements().asScala.map { b =>
    WBatch(b.path("idx").asInt, b.path("dir").asText,
      b.path("poll").elements().asScala.map(_.asText).toSeq, b.path("load_ts").asLong)
  }.toIndexedSeq
}

/** The reference's daily job for one batch: ingest, transform, quality
  * metrics + gate + report, partitioned upsert, audit rows. Views are
  * not part of it.
  */
final class WeatherLoad(spark: SparkSession, val root: String) {
  val table = s"$root/weather_data"
  val metrics = s"$root/data_quality_metrics"
  val history = s"$root/load_history"
  val Keys = Seq("city", "country", "timestamp")
  var lastRaw: DataFrame = _
  var lastOut: DataFrame = _

  private val qmSchema =
    StructType(Schemas.qualityMetrics.fields.filter(_.name != "metrics_json"))

  def load(b: WBatch, op: Int, t: Tracer): Map[String, Any] = {
    val t0 = System.nanoTime()
    val skipName = s"perfbench.skipped.$root.${b.idx}"
    val (raw, nRaw, nSkipped) = t.span("io.weather", "ingest", op) {
      val readings = Sources.parseWeatherJson(
        spark.read.text(s"${b.dir}/readings"), "value")
      val polled = spark.read.format("graft-weather")
        .option("cities", b.poll.map(p => s"$p:XX").mkString(","))
        .option("urlTemplate", s"file://${b.dir}/poll/{city}.json")
        .option("maxRetries", "0").option("backoffMs", "0")
        .option("skipMetricName", skipName)
        .load()
      val raw = readings.unionByName(polled)
      val n = raw.count()
      (raw, n, WeatherMetrics.skipCount(skipName))
    }
    val out = t.span("etl.pipeline", "Pipeline.transform", op)(Pipeline.transform(raw))
    val qm = t.span("etl.quality", "Quality.qualityMetrics", op)(
      Quality.qualityMetrics(out, nRaw).head())
    t.span("etl.quality", "Quality.gate", op)(Quality.gate(qm))
    val runTime = ZonedDateTime.ofInstant(Instant.ofEpochSecond(b.loadTs), ZoneOffset.UTC)
    val nOut = qm.getAs[Long]("records_after_cleaning")
    t.span("etl.quality", "Quality.report", op)(Quality.report(s"$root/reports",
      Seq("records_fetched" -> nRaw, "cities_skipped" -> nSkipped), qm,
      Seq("strategy" -> "upsert", "table" -> "weather_data"), runTime))
    t.span("io.sinks.upsert", "Sinks.upsertPartitioned", op)(
      Sinks.upsertPartitioned(spark, out, table, Keys, "date"))
    val loadTs = new Timestamp(b.loadTs * 1000L)
    val mRow = Row.fromSeq(loadTs +: qmSchema.fields.toSeq.tail.map(f => qm.get(qm.fieldIndex(f.name))))
    t.span("io.sinks.audit", "Sinks.appendMetrics", op)(Sinks.appendMetrics(
      spark.createDataFrame(java.util.List.of(mRow), qmSchema), metrics))
    val hRow = Row(loadTs, nOut, null, nRaw - nOut, (System.nanoTime() - t0) / 1e9,
      "SUCCESS", null)
    t.span("io.sinks.audit", "Sinks.append", op)(Sinks.append(
      spark.createDataFrame(java.util.List.of(hRow), Schemas.loadHistory), history))
    lastRaw = raw
    lastOut = out
    Map("batch" -> b.idx, "raw" -> nRaw, "out" -> nOut, "skipped" -> nSkipped,
      "load_ts" -> b.loadTs)
  }
}

/** daily_load: each op loads the next day through the daily job. */
final class DailyLoad(spark: SparkSession, plan: JsonNode, work: String) extends Workload {
  val name = "daily_load"
  private val setupBatches = WBatch.all(plan.path("setup_batches"))
  private val opBatches = WBatch.all(plan.path("op_batches"))
  private var w: WeatherLoad = _
  private val noTrace = new Tracer(spark)

  def maxOps: Int = opBatches.size
  def tracePairs: Int = plan.path("trace_pairs").asInt

  def setup(rep: Int): Unit = {
    w = new WeatherLoad(spark, s"$work/setup$rep")
    setupBatches.foreach(b => w.load(b, -1, noTrace))
  }

  private var loaded: WBatch = _

  def op(i: Int, slot: Int, t: Tracer): Map[String, Any] = {
    loaded = opBatches(i)
    w.load(loaded, i, t)
  }

  /** Traced ops only, outside the op: one forced execution each of the
    * lazy ingest and transform plans, and each analyst view once over
    * the table as this op left it.
    */
  override def afterOp(i: Int, slot: Int, t: Tracer): Map[String, Any] = {
    if (t.enabled) {
      t.span("io.weather", "force:ingest", i, root = true)(
        w.lastRaw.write.format("noop").mode("overwrite").save())
      t.span("etl.pipeline", "force:transform", i, root = true)(
        w.lastOut.write.format("noop").mode("overwrite").save())
      val cutoff = Analyst.cutoff(opBatches(i))
      Analyst.Kinds.foreach(k =>
        t.span("analytics.views", k, i, root = true)(Analyst.query(spark, w, k, cutoff).collect()))
    }
    Map.empty
  }

  /** In a traced run the views are also checked, over the final table. */
  override def finish(): Map[String, Any] = Map("root" -> w.root, "table" -> w.table,
    "metrics" -> w.metrics, "history" -> w.history) ++ (
    if (!plan.path("trace").asBoolean(false)) Map.empty
    else Analyst.results(spark, w, Analyst.cutoff(loaded)))

  override def layerExtras(t: Tracer, nTraced: Int): Map[String, Double] =
    WeatherExtras(t, nTraced, opBatches) ++ Analyst.layerExtras(t)
}

/** The analyst views over the loaded table, as the traced daily load
  * runs them.
  */
object Analyst {
  val Kinds = Seq("daily_summary", "latest", "quality_summary", "seasonal",
    "data_summary", "last7_summary")

  /** First day of the seven days up to the day before the batch's load. */
  def cutoff(b: WBatch): Date = Date.valueOf(
    Instant.ofEpochSecond(b.loadTs).atZone(ZoneOffset.UTC).toLocalDate.minusDays(7))

  def query(spark: SparkSession, w: WeatherLoad, kind: String, cutoff: Date): DataFrame = {
    def t = Manifest.read(spark, w.table)
    kind match {
      case "daily_summary"   => Views.dailyWeatherSummary(t)
      case "latest"          => Views.latestWeather(t)
      case "quality_summary" => Views.dataQualitySummary(Sources.parquet(spark, w.metrics))
      case "seasonal"        => Views.seasonalTrends(t)
      case "data_summary"    => Views.dataSummary(t)
      case "last7_summary"   => Views.dailyWeatherSummary(t.filter(col("date") >= lit(cutoff)))
    }
  }

  def results(spark: SparkSession, w: WeatherLoad, cutoff: Date): Map[String, Any] = Map(
    "cutoff" -> cutoff.toString,
    "results" -> Kinds.map(k => k -> Rows.dump(query(spark, w, k, cutoff).collect())).toMap)

  /** Per view: mean wall time and files scanned per traced run. */
  def layerExtras(t: Tracer): Map[String, Double] = Kinds.flatMap { k =>
    val spans = t.spans.filter(s => s.layer == "analytics.views" && s.name == k)
    val n = spans.size.max(1)
    val files = LayerStats.queries(t, s => s.layer == "analytics.views" && s.name == k)
      .flatMap(_.scans).map(_._2).sum
    Seq(s"analytics.views.$k.busy_s" -> spans.map(_.wallS).sum / n,
      s"analytics.views.$k.files_read" -> files.toDouble / n)
  }.toMap
}

/** Layer-specific figures of the load path, from traced ops. Rows and
  * skips come back in the op records, so they are summed by `run.py`;
  * here go the ones read from query plans.
  */
object WeatherExtras {
  def apply(t: Tracer, nTraced: Int, batches: IndexedSeq[WBatch]): Map[String, Double] = {
    val opsTraced = t.spans.filter(s => s.layer == "op").map(_.op).toSet
    // raw input bytes scanned per op over bytes on disk
    val onDisk = opsTraced.toSeq.map { i =>
      Workload.dirBytes(new java.io.File(s"${batches(i).dir}/readings")).toDouble
    }.sum
    val scanned = opsTraced.toSeq.map { i =>
      val dir = new java.io.File(s"${batches(i).dir}/readings").getCanonicalPath
      LayerStats.queries(t, s => s.op == i && s.parent != -1 || s.layer == "op" && s.op == i)
        .flatMap(_.scans).filter(_._1.exists(p => new java.io.File(p).getCanonicalPath == dir))
        .map(_._3.toDouble).sum
    }.sum
    def writes(layer: String) =
      LayerStats.queries(t, _.layer == layer).flatMap(_.writes)
    val up = writes("io.sinks.upsert")
    Map(
      "io.weather.scan_amp" -> (if (onDisk > 0) scanned / onDisk else 0.0),
      "io.sinks.upsert.files_written" -> up.map(_._1).sum.toDouble / nTraced,
      "io.sinks.upsert.partitions_rewritten" -> up.map(_._3).sum.toDouble / nTraced,
      "io.sinks.upsert.rows_written" -> up.map(_._2).sum.toDouble / nTraced,
      "io.sinks.audit.files_written" ->
        writes("io.sinks.audit").map(_._1).sum.toDouble / nTraced)
  }
}

/** View results dumped for the DuckDB check. */
object Rows {
  def value(v: Any): Any = v match {
    case t: Timestamp => t.getTime / 1000 * 1000000L + t.getNanos / 1000
    case d: Date => d.toString
    case o => o
  }

  def dump(rows: Array[Row]): Map[String, Any] = Map(
    "columns" -> rows.headOption.map(_.schema.fieldNames.toSeq).getOrElse(Nil),
    "rows" -> rows.toSeq.map(r => (0 until r.length).map(i => value(r.get(i)))))
}

/** corpus_dedup: a standing dedup index and ANN index; each op dedups
  * one incoming batch against the index, appends the accepted
  * documents to both indexes and probes the ANN index for them.
  */
final class CorpusDedup(spark: SparkSession, plan: JsonNode, work: String) extends Workload {
  val name = "corpus_dedup"
  private val corpusDir = plan.path("corpus_dir").asText
  private val nCentroids = plan.path("n_centroids").asInt
  private val k = plan.path("k").asInt
  private val batches = plan.path("batches").elements().asScala.map(b =>
    (b.path("dir").asText, b.path("lo").asLong, b.path("hi").asLong)).toIndexedSeq
  private var root: String = _
  private def dedup = s"$root/dedup"
  private def ann = s"$root/ann"
  private val cand = scala.collection.mutable.ArrayBuffer.empty[(Double, Long, Long)]
  private val annCand = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]

  def maxOps: Int = batches.size
  def tracePairs: Int = plan.path("trace_pairs").asInt

  def setup(rep: Int): Unit = {
    root = s"$work/setup$rep"
    val corpus = spark.read.parquet(s"$corpusDir/docs.parquet")
    DedupIndex.build(corpus.select("doc_id", "text"), "doc_id", "text", 3, dedup,
      nFiles = 8)
    AnnIndex.build(corpus.select("doc_id", "embedding"), "doc_id", "embedding",
      nCentroids, ann)
  }

  def op(i: Int, slot: Int, t: Tracer): Map[String, Any] = {
    val (dir, lo, hi) = batches(i)
    val batch = spark.read.parquet(s"$dir/docs.parquet")
    val accepted = s"$root/accepted/batch$i"
    t.span("ops.dedup_index", "DedupIndex.dedupBatch", i) {
      DedupIndex.dedupBatch(spark, batch.select("doc_id", "text"), dedup,
        "doc_id", "text", 3, 0.5).write.parquet(accepted)
    }
    val acc = spark.read.parquet(accepted)
    t.span("ops.dedup_index", "DedupIndex.append", i)(
      DedupIndex.append(acc, "doc_id", "text", 3, dedup))
    t.span("ops.ann_index", "AnnIndex.append", i)(AnnIndex.append(
      batch.join(acc.select("doc_id"), "doc_id"), "doc_id", "embedding", ann))
    val hits = t.span("ops.ann_index", "AnnIndex.probe", i)(
      AnnIndex.probe(spark, ann, col("vec_id").between(lo, hi), k = k).collect())
    Map("batch" -> i, "docs" -> (hi - lo + 1),
      "probe" -> hits.toSeq.map(r => Seq(r.getAs[Long]("q_id"),
        r.getAs[Long]("neighbor_id"), r.getAs[Long]("rank"))))
  }

  override def afterOp(i: Int, slot: Int, t: Tracer): Map[String, Any] = {
    val (_, lo, hi) = batches(i)
    val kept = spark.read.parquet(s"$root/accepted/batch$i").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    if (t.enabled) {
      val perDoc = graft.BenchAttribution.snapshot.toMap
        .getOrElse("dedup_index.batch_cand_per_doc", 0.0)
      cand += ((perDoc, hi - lo + 1, hi - lo + 1 - kept.size))
      annCand += ((scoredPairs(t, i), kept.size.toLong))
    }
    Map("kept" -> kept)
  }

  /** Candidate vectors the probe scored in op `i`: rows out of the
    * probe's own joins that pair a query (`q_id`) with an index member
    * (`vec_id`), as its query plans report them.
    */
  private def scoredPairs(t: Tracer, i: Int): Long =
    LayerStats.queries(t, s => s.op == i && s.name == "AnnIndex.probe")
      .flatMap(_.joins).collect { case (cols, rows) if cols("q_id") && cols("vec_id") => rows }.sum

  override def finish(): Map[String, Any] = Map("root" -> root, "dedup" -> dedup, "ann" -> ann)

  override def layerExtras(t: Tracer, nTraced: Int): Map[String, Double] = {
    val candidates = cand.map { case (perDoc, n, _) => perDoc * n }.sum
    Map(
      "ops.dedup_index.candidates_per_doc" -> cand.map(_._1).sum / cand.size.max(1),
      "ops.dedup_index.pairs_per_candidate" ->
        (if (candidates > 0) cand.map(_._3).sum / candidates else 0.0),
      "ops.ann_index.candidates_per_query" ->
        annCand.map(_._1).sum.toDouble / annCand.map(_._2).sum.max(1L))
  }
}
