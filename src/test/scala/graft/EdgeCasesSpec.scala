package graft

import org.apache.spark.sql.functions._
import graft.etl.{Clean, Pipeline}
import graft.io.{Sinks, Sources}
import graft.ops.{Dedup, Multimodal, Similarity}

/** Empty-input and degenerate-input propagation (reference:
  * tests/test_integration.py:212-232) — every operator must produce an
  * empty/valid result, never throw, when fed nothing.
  */
class EdgeCasesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val noEvents =
    Sources.table(spark, sf, "events").filter(lit(false))
  private lazy val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
  private lazy val noVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")

  test("full pipeline on empty input yields an empty 26-column frame") {
    val out = Pipeline.transform(Pipeline.weatherFromEvents(noEvents))
    assert(out.count() == 0)
    assert(out.columns.length == 26)
  }

  test("median fill with no non-null values keeps nulls (no crash)") {
    val df = Seq[Option[Double]](None, None).toDF("visibility")
    assert(Clean.fillMedianExact(df, "visibility")
      .filter($"visibility".isNull).count() == 2)
    assert(Clean.fillMedianLazy(df, "visibility")
      .filter($"visibility".isNull).count() == 2)
  }

  test("upsert with an empty update batch is the identity") {
    val base = Seq(("London", 1L, 15.0)).toDF("city", "k", "v")
    val none = base.filter(lit(false))
    assert(Sinks.upsert(base, none, Seq("city", "k")).count() == 1)
  }

  test("upsert into an empty base inserts everything") {
    val base = Seq.empty[(String, Long, Double)].toDF("city", "k", "v")
    val updates = Seq(("London", 1L, 15.0)).toDF("city", "k", "v")
    assert(Sinks.upsert(base, updates, Seq("city", "k")).count() == 1)
  }

  test("dedup family handles empty and single-doc corpora") {
    assert(Dedup.exact(noDocs, "doc_id", "text").count() == 0)
    assert(Dedup.simhashPairs(noDocs, "doc_id", "text").count() == 0)
    val one = Seq((1L, "just one tiny document here")).toDF("doc_id", "text")
    for (c <- Seq("auto", "gram", "banded"); d <- Seq(noDocs, one))
      assert(Dedup.jaccardPairs(d, "doc_id", "text", 3, 0.5, candidates = c)
        .count() == 0, c)
    assert(Dedup.minhashLshPairs(one, "doc_id", "text").count() == 0)
  }

  test("docs shorter than the gram width produce no grams, no crash") {
    val short = Seq((1L, "ab"), (2L, "one two")).toDF("doc_id", "text")
    assert(Dedup.gramTable(short, "doc_id", "text", 3).count() == 0)
  }

  test("similarity ops on empty embeddings return empty") {
    assert(Similarity.cosinePairs(noVecs, "vec_id", "embedding", 0.5).count() == 0)
    assert(Similarity.cosineTopK(noVecs, "vec_id", "embedding",
      lit(true), 5).count() == 0)
    assert(Similarity.lshPairs(noVecs, "vec_id", "embedding").count() == 0)
  }

  test("multimodal decode of a non-image payload fails loudly") {
    // corrupt/undecodable media must not silently vanish from the
    // feature table — downstream stats would skew
    val notAnImage = Seq((1L, "plain text")).toDF("doc_id", "text")
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.decodeImages(
        spark, Multimodal.toMediaTable(notAnImage, "doc_id", "text")).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      t +: Option(t.getCause).toSeq.flatMap(chain)
    assert(chain(e).exists(_.getMessage != null) &&
      chain(e).exists(c => Option(c.getMessage).exists(_.contains("not a decodable image"))))
  }

  test("domain blocklist never drops NULL-text docs") {
    import graft.ops.Corpus
    // regexp over NULL text yields NULL domains; before the coalesce
    // fix the NULL filter verdict dropped the row even with an EMPTY
    // blocklist — a scrub filter deleting rows it never matched
    val d = Seq((1L, Some("see https://bad.example.com x")),
      (2L, None), (3L, Some("clean text"))).toDF("doc_id", "text")
    val kept = Corpus.filterByDomainBlocklist(d, "text", Seq("bad.example.com"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(2L, 3L))
    assert(Corpus.filterByDomainBlocklist(d, "text", Nil).count() == 3)
  }

  test("audio decode of a non-audio payload fails loudly") {
    val notAudio = Seq((1L, "plain text")).toDF("doc_id", "text")
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.decodeAudio(
        spark, Multimodal.toMediaTable(notAudio, "doc_id", "text")).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      t +: Option(t.getCause).toSeq.flatMap(chain)
    assert(chain(e).exists(c =>
      Option(c.getMessage).exists(_.contains("not a decodable audio file"))))
  }

  test("round-5 ops on degenerate input: empty batch/corpus, null URL, empty embeddings") {
    import graft.ops.Corpus
    val docs = Seq((1L, "a b c"), (2L, "a b c")).toDF("doc_id", "text")
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    // incremental dedup: empty batch → empty out; empty corpus → pure
    // in-batch exact dedup (min id wins)
    assert(Dedup.incremental(empty, docs, "doc_id", "text", 3, 0.5).count() == 0)
    assert(Dedup.incremental(docs, empty, "doc_id", "text", 3, 0.5)
      .select("doc_id").as[Long].collect().toSeq == Seq(1L))
    // tfidf and centroid update flow through empty inputs
    assert(Corpus.tfidfTopK(noDocs, "doc_id", "text", 3).count() == 0)
    assert(Similarity.centroidUpdate(noVecs, "vec_id", "embedding", 4).count() == 0)
    // normalizeUrl propagates NULL (it must not fabricate a dedup key)
    val n = Seq((1L, Option.empty[String])).toDF("id", "u")
      .select(graft.ops.TextOps.normalizeUrl($"u")).collect()(0)
    assert(n.isNullAt(0))
  }

  test("incremental daily summary on an empty lineitem: everything is history, no crash") {
    // no ship date means no "new day": the split must not dereference
    // the NULL cutoff, and the maintained view is empty like the oracle
    val dir = java.nio.file.Files.createTempDirectory("edge_ivm").toString
    Sources.table(spark, sf, "lineitem").filter(lit(false))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val li = Sources.table(spark, dir, "lineitem")
    val (isNew, isHistory) = graft.analytics.Incremental.daySplit(li)
    assert(li.filter(isNew).count() == 0 && li.filter(isHistory).count() == 0)
    assert(SparkEntry.queries("view_daily_summary_incremental")(spark, dir)
      .count() == 0)
    // one NULL-dated row: still history (the oracle keeps its NULL group)
    val nullDated = Sources.table(spark, sf, "lineitem").limit(1)
      .withColumn("l_shipdate", lit(null).cast("timestamp_ntz"))
    val (n1, h1) = graft.analytics.Incremental.daySplit(nullDated)
    assert(nullDated.filter(n1).count() == 0 && nullDated.filter(h1).count() == 1)
  }

  test("round-6 ops on degenerate input: zero-row zorder/resize/LM, reserved-column guards") {
    import graft.ops.{Corpus, Layout, RuntimeFilter}
    // zero-row z-order write round-trips empty
    val zout = java.nio.file.Files.createTempDirectory("edge_z").toString
    Layout.writeZOrdered(Seq.empty[(Long, Long)].toDF("a", "b"),
      zout, nFiles = 2, colA = "a", colB = "b", bits = 4)
    assert(spark.read.parquet(zout).count() == 0)
    // resize of an empty media table is empty, no crash
    val noMedia = Seq.empty[(Long, String, Array[Byte])]
      .toDF("doc_id", "kind", "payload")
    assert(Multimodal.decodeImages(spark,
      Multimodal.resizeImages(noMedia, 4, 4)).count() == 0)
    // unigram LM over an empty corpus is empty (N = 0 never divides)
    assert(Corpus.unigramLmScores(noDocs, "doc_id", "text").count() == 0)
    // bloom pruning works on string keys (hash family is type-generic)
    val sFact = Seq(("x", 1L), ("y", 2L), ("zz", 3L)).toDF("k", "fid")
    val sDim = Seq("x", "zz").map(Tuple1(_)).toDF("dk")
    val kept = RuntimeFilter.bloomPruned(sFact, "k", sDim, "dk")
      .join(sDim, col("k") === col("dk"), "left_semi")
      .select("fid").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L))
    // reserved output columns are refused, not silently clobbered
    intercept[IllegalArgumentException](Layout.writeZOrdered(
      Seq((1L, 2L, 3L)).toDF("a", "b", "zkey"), zout, 2, "a", "b", 4))
    intercept[IllegalArgumentException](RuntimeFilter.bloomPruned(
      Seq((1L, 2L)).toDF("k", "bloom"), "k", sDim, "dk"))
  }

  test("new corpus ops on degenerate input: empty blocklist, empty benchmark, empty corpus") {
    import graft.ops.Corpus
    val d = Seq((1L, "some text with https://a.example.com inside"))
      .toDF("doc_id", "text")
    // empty blocklist blocks nothing
    assert(Corpus.filterByDomainBlocklist(d, "text", Nil).count() == 1)
    // empty benchmark contaminates nothing
    val noBench = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.decontaminate(d, noBench, "doc_id", "text", 3, 0.8).count() == 1)
    // empty corpus flows through repetition/histogram/quantize
    assert(Corpus.repetitionRatio(noDocs, "doc_id", "text").count() == 0)
    assert(Corpus.tokenLenHistogram(noDocs, "text", 16).count() == 0)
    assert(Similarity.quantizeInt8(noVecs, "vec_id", "embedding").count() == 0)
  }

  test("corpus ops on empty input: sample, vocab, packing, representatives") {
    import graft.ops.Corpus
    assert(Corpus.hashSample(noDocs, "doc_id", lit(50)).count() == 0)
    assert(Corpus.vocabTopK(noDocs, "text", 5).count() == 0)
    val noLang = Seq.empty[(Long, String, String)].toDF("doc_id", "lang", "text")
    assert(Corpus.packGreedy(noLang, "doc_id", "text", "lang", 2048).count() == 0)
    val noPairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    // no near-dup edges → the whole corpus survives
    val docs = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    assert(Dedup.keepRepresentatives(docs, "doc_id", noPairs,
      "doc_a", "doc_b").count() == 2)
  }

  test("weather JSON parse tolerates missing optional fields") {
    // wind/clouds/visibility absent → zero defaults, like the reference
    val row = graft.io.weather.WeatherFetch.parse(
      """{"coord":{"lon":1.0,"lat":2.0},
        |"weather":[{"description":"clear"}],
        |"main":{"temp":10.0,"feels_like":9.0,"pressure":1000,"humidity":50},
        |"dt":1699358400,"sys":{"country":"GB"},"name":"X"}""".stripMargin)
    assert(row.getDouble(8) == 0.0)  // wind_speed
    assert(row.getInt(9) == 0)       // wind_direction
    assert(row.getInt(10) == 0)      // cloudiness
    assert(row.getDouble(11) == 0.0) // visibility
    assert(row.getDouble(3) == 10.0) // temperature
  }

  test("connected components of an empty edge set is empty") {
    val edges = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(ops.Components.connectedComponents(edges, "doc_a", "doc_b").count() == 0)
  }

  test("partitioned upsert with an empty batch is a no-op") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_empty_upsert").toString + "/t"
    val base = Seq(("London", "GB", 1L, 15.5, "2023-11-01"))
      .toDF("city", "country", "ts", "temp", "date")
    io.Sinks.upsertPartitioned(spark, base, dir,
      Seq("city", "country", "ts"), "date")
    val before = spark.read.parquet(dir).collect().toSet
    // an empty daily batch must sail through the stage/marker/swap
    // protocol touching nothing (no partitions staged, no swaps)
    io.Sinks.upsertPartitioned(spark, base.limit(0), dir,
      Seq("city", "country", "ts"), "date")
    assert(spark.read.parquet(dir).collect().toSet == before)
  }

  test("substring ops on an empty corpus yield empty results") {
    assert(Dedup.substringDupStats(noDocs, "doc_id", "text").count() == 0)
    assert(Dedup.substringPrune(noDocs, "doc_id", "text").count() == 0)
  }

  test("funnel with no first-step events is empty; later-step-only users absent") {
    import java.sql.Timestamp
    def ts(min: Long) = new Timestamp(1700000000000L + min * 60000L)
    val onlyLater = Seq((1L, "click", ts(0)), (1L, "purchase", ts(5)))
      .toDF("user_id", "event_type", "ts")
    assert(graft.ops.Funnel.windowed(onlyLater, "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"), 3600).count() == 0)
    assert(graft.ops.Funnel.windowed(
      noEvents.select("user_id", "event_type", "ts"),
      "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"), 3600).count() == 0)
  }

  test("semDedup on an empty embedding table is empty, not a crash") {
    val model = Seq((0L, Array(1.0, 0.0))).toDF("cid", "cv")
    assert(Similarity.semDedup(noVecs, "vec_id", "embedding", model, 0.9)
      .count() == 0)
  }

  test("merged KMV states with fewer than k hashes report the shortfall") {
    import graft.ops.Sketch
    val a = Sketch.kmvState(Seq(1L, 2L).toDF("v"), col("v"), k = 32)
    val b = Sketch.kmvState(Seq(2L, 3L).toDF("v"), col("v"), k = 32)
    val row = Sketch.kmvFromStates(Seq(a, b), k = 32).head()
    // 3 distinct values across both shards — k_actual must say so
    // (the underpopulation signal consumers threshold on)
    assert(row.getAs[Long]("k_actual") == 3L)
  }

  test("incremental summary state merged with an empty batch is the identity") {
    import graft.analytics.Incremental
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val st = Incremental.lineitemSummaryState(li)
    val merged = Incremental.mergeStates(st,
      Incremental.lineitemSummaryState(li.filter(lit(false))))
    assert(Incremental.summaryFromState(merged)
      .orderBy("ship_date", "l_returnflag", "l_linestatus")
      .collect().map(_.toSeq).toSeq ==
      Incremental.summaryFromState(st)
        .orderBy("ship_date", "l_returnflag", "l_linestatus")
        .collect().map(_.toSeq).toSeq)
  }
}
