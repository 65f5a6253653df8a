package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.StreamingOps

/** Streaming forms of the keyed operators, driven synchronously via
  * MemoryStream + processAllAvailable.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("watermarked hourly dedup drops same-hour duplicates in-stream") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Double)]
    val events = input.toDF().toDF("city", "ts", "temp")
    val deduped = StreamingOps.dedupHourlyStream(events, Seq("city"), "ts")
    val q = deduped.writeStream.format("memory")
      .queryName("dedup_out").outputMode(OutputMode.Append).start()
    try {
      input.addData(
        ("London", ts("2023-11-07 12:00:00"), 15.5),
        ("London", ts("2023-11-07 12:30:00"), 16.0), // same hour → dropped
        ("London", ts("2023-11-07 13:05:00"), 17.0),
        ("Tokyo", ts("2023-11-07 12:10:00"), 22.0))
      q.processAllAvailable()
      val out = spark.table("dedup_out")
      assert(out.count() == 3)
      assert(out.filter($"city" === "London").count() == 2)
    } finally q.stop()
  }

  test("streaming upsert sink merges micro-batches by key") {
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_upsert")
      .toString + "/t"
    val input = MemoryStream[(String, Long, Double)]
    val events = input.toDF().toDF("city", "k", "temp")
    val q = events.writeStream
      .foreachBatch((batch: org.apache.spark.sql.DataFrame, id: Long) =>
        StreamingOps.upsertSink(batch, id, dir, Seq("city", "k")))
      .start()
    try {
      input.addData(("London", 1L, 15.0), ("Tokyo", 1L, 22.0))
      q.processAllAvailable()
      input.addData(("London", 1L, 16.5), ("Paris", 1L, 18.0)) // update + insert
      q.processAllAvailable()
      val out = spark.read.parquet(dir)
      assert(out.count() == 3)
      assert(out.filter($"city" === "London").select("temp")
        .as[Double].head() == 16.5)
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark dedups keyed events across batches") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Double)]
    val events = input.toDF().toDF("city", "ts", "temp")
    val deduped = StreamingOps.dedupWithinWatermarkStream(events, Seq("city"), "ts")
    val q = deduped.writeStream.format("memory")
      .queryName("wm_dedup_out").outputMode(OutputMode.Append).start()
    try {
      input.addData(("London", ts("2023-11-07 12:00:00"), 15.5))
      q.processAllAvailable()
      // same key within the 1h watermark window, next micro-batch
      input.addData(("London", ts("2023-11-07 12:20:00"), 16.0))
      q.processAllAvailable()
      assert(spark.table("wm_dedup_out").count() == 1)
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionization closes sessions across batches") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, Timestamp)]
    val sessions = StreamingOps.sessionizeStream(input.toDS(), gapSeconds = 1800)
    val q = sessions.writeStream.format("memory")
      .queryName("session_out").outputMode("append").start()
    try {
      input.addData(
        (1L, ts("2023-11-07 12:00:00")),
        (1L, ts("2023-11-07 12:10:00")),
        (2L, ts("2023-11-07 12:00:00")))
      q.processAllAvailable()
      input.addData((1L, ts("2023-11-07 14:00:00"))) // > 30 min gap → closes s1
      q.processAllAvailable()
      val s1 = spark.table("session_out").as[StreamingOps.ClosedSession]
        .collect().filter(_.user_id == 1L)
      assert(s1.length == 1)
      assert(s1.head.n_events == 2L)
      assert(s1.head.duration_s == 600L)
      // advance event time far enough that the watermark (14:00+2h − 30min
      // lateness) passes user 2's idle deadline (12:00 + gap) → its state
      // is EVICTED and the session emitted by the EventTimeTimeout, and
      // user 1's 14:00 session closes by gap
      input.addData((1L, ts("2023-11-07 16:00:00")))
      q.processAllAvailable()
      val out = spark.table("session_out").as[StreamingOps.ClosedSession].collect()
      val u2 = out.filter(_.user_id == 2L)
      assert(u2.length == 1, "idle session must be flushed by timeout")
      assert(u2.head.n_events == 1L && u2.head.duration_s == 0L)
      assert(out.count(_.user_id == 1L) == 2)
    } finally q.stop()
  }

  test("a too-old event cannot merge into the open session and drag start back") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, Timestamp)]
    // generous lateness so the too-old event is NOT watermark-dropped:
    // it reaches the state function, which must still refuse to merge it
    val sessions = StreamingOps.sessionizeStream(input.toDS(),
      gapSeconds = 1800, lateness = "2 hours")
    val q = sessions.writeStream.format("memory")
      .queryName("session_old_out").outputMode("append").start()
    try {
      input.addData((9L, ts("2023-11-07 13:00:00")), (9L, ts("2023-11-07 13:10:00")))
      q.processAllAvailable()
      // 12:15 satisfies t - last <= gap (negative delta) but pre-dates
      // the session start by > gap — merging would move start to 12:15
      input.addData((9L, ts("2023-11-07 12:15:00")))
      q.processAllAvailable()
      input.addData((9L, ts("2023-11-07 15:00:00"))) // gap-closes the session
      q.processAllAvailable()
      val closed = spark.table("session_old_out")
        .as[StreamingOps.ClosedSession].collect().filter(_.user_id == 9L)
      assert(closed.length == 1)
      assert(closed.head.n_events == 2L, "too-old event must not join the session")
      assert(closed.head.duration_s == 600L, "session start must not move backwards")
    } finally q.stop()
  }

  test("transformWithState sessionization closes by gap and evicts idle keys by timer") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(Long, Timestamp)]
      val sessions = StreamingOps.sessionizeStreamTws(input.toDS(), gapSeconds = 1800)
      val q = sessions.writeStream.format("memory")
        .queryName("tws_session_out").outputMode("append").start()
      try {
        input.addData(
          (1L, ts("2023-11-07 12:00:00")),
          (1L, ts("2023-11-07 12:10:00")),
          (2L, ts("2023-11-07 12:00:00")))
        q.processAllAvailable()
        input.addData((1L, ts("2023-11-07 14:00:00"))) // gap-closes user 1's s1
        q.processAllAvailable()
        val s1 = spark.table("tws_session_out").as[StreamingOps.ClosedSession]
          .collect().filter(_.user_id == 1L)
        assert(s1.length == 1 && s1.head.n_events == 2L && s1.head.duration_s == 600L)
        // watermark (16:00 − 30 min) passes user 2's 12:30 deadline →
        // its registered timer fires and evicts the idle session
        input.addData((1L, ts("2023-11-07 16:00:00")))
        q.processAllAvailable()
        val out = spark.table("tws_session_out").as[StreamingOps.ClosedSession].collect()
        val u2 = out.filter(_.user_id == 2L)
        assert(u2.length == 1, "idle session must be flushed by its timer")
        assert(u2.head.n_events == 1L && u2.head.duration_s == 0L)
        assert(out.count(_.user_id == 1L) == 2)
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(provKey, v)
        case None => spark.conf.unset(provKey)
      }
    }
  }

  test("sessionization: late out-of-order event merges without moving frontier back") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, Timestamp)]
    val sessions = StreamingOps.sessionizeStream(input.toDS(), gapSeconds = 1800)
    val q = sessions.writeStream.format("memory")
      .queryName("session_ooo_out").outputMode("append").start()
    try {
      input.addData((1L, ts("2023-11-07 12:00:00")), (1L, ts("2023-11-07 12:20:00")))
      q.processAllAvailable()
      // late event BEFORE the session frontier (within watermark + gap):
      // joins the session, must not shrink `last` (12:20 stays the frontier)
      input.addData((1L, ts("2023-11-07 12:05:00")))
      q.processAllAvailable()
      input.addData((1L, ts("2023-11-07 14:00:00"))) // closes the session
      q.processAllAvailable()
      val out = spark.table("session_ooo_out").as[StreamingOps.ClosedSession]
        .collect().filter(_.duration_s > 0)
      assert(out.length == 1)
      assert(out.head.n_events == 3L)
      assert(out.head.duration_s == 1200L) // 12:00 → 12:20, not negative/shrunk
    } finally q.stop()
  }

  test("streaming quality gate passes good batches and fails the query on bad ones") {
    implicit val sq = spark.sqlContext
    def run(rows: Seq[(String, String, Timestamp, Double)]): Unit = {
      val input = MemoryStream[(String, String, Timestamp, Double)]
      val q = input.toDF().toDF("city", "country", "timestamp", "quality_score")
        .writeStream
        .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) =>
          StreamingOps.gatedBatch(b, b.count()))
        .start()
      try { input.addData(rows: _*); q.processAllAvailable() } finally q.stop()
    }
    val good = (1 to 6).map(i =>
      (s"City$i", "GB", ts("2023-11-07 12:00:00"), 90.0))
    run(good) // does not throw
    val bad = (1 to 6).map(i =>
      (s"City$i", "GB", ts("2023-11-07 12:00:00"), 10.0)) // avg quality < 70
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(bad)
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(_.getMessage != null) &&
      causes(e).exists(c => String.valueOf(c.getMessage).contains("quality gate failed")),
      s"expected gate failure in cause chain: $e")
  }

  test("stream-stream interval join matches prior views within the window") {
    implicit val sq = spark.sqlContext
    val views = MemoryStream[(Long, Timestamp)]
    val clicks = MemoryStream[(Long, Timestamp)]
    val joined = StreamingOps.intervalJoinStream(
      clicks.toDF().toDF("user_id", "click_ts"),
      views.toDF().toDF("view_user", "view_ts"),
      "user_id", "view_user", "click_ts", "view_ts",
      before = "10 minutes", lateness = "1 hour")
    val q = joined.writeStream.format("memory")
      .queryName("ij_out").outputMode(OutputMode.Append).start()
    try {
      views.addData(
        (1L, ts("2023-11-07 12:00:00")),  // 5 min before the click → match
        (1L, ts("2023-11-07 11:40:00")),  // 25 min before → outside window
        (1L, ts("2023-11-07 12:30:00")),  // after the click → no match
        (2L, ts("2023-11-07 12:04:00")))  // other user → no match
      clicks.addData((1L, ts("2023-11-07 12:05:00")))
      q.processAllAvailable()
      val out = spark.table("ij_out").collect()
      assert(out.length == 1)
      assert(out(0).getAs[Long]("user_id") == 1L)
      assert(out(0).getAs[Timestamp]("view_ts") == ts("2023-11-07 12:00:00"))
    } finally q.stop()
  }

  test("windowed summary aggregates per key per hour") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Double)]
    val events = input.toDF().toDF("event_type", "ts", "value")
    val agg = StreamingOps.windowedSummary(events, "event_type", "ts", "value")
    val q = agg.writeStream.format("memory")
      .queryName("window_out").outputMode(OutputMode.Complete).start()
    try {
      input.addData(
        ("click", ts("2023-11-07 12:05:00"), 1.0),
        ("click", ts("2023-11-07 12:55:00"), 3.0),
        ("click", ts("2023-11-07 13:05:00"), 5.0))
      q.processAllAvailable()
      val out = spark.table("window_out").collect()
      assert(out.length == 2) // two hourly windows for 'click'
      val h12 = out.find(_.getAs[Long]("n") == 2).get
      assert(h12.getAs[Double]("avg_value") == 2.0)
    } finally q.stop()
  }

  test("streaming indexed dedup equals the batch twin: same survivors, same final index state") {
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog today", 49L),
      (101L, "completely different words about spark and shuffles here", 56L)
    ).toDF("doc_id", "text", "n_chars")
    // batch A: 1 = exact dup of corpus, 2 = near dup of corpus, 3 = new
    // batch B: 4 = exact dup of A's SURVIVOR 3 (only droppable if A's
    //          append landed), 5 = new
    val bA = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today", 49L),
      (2L, "the quick brown fox jumps over the lazy cat today", 49L),
      (3L, "fresh unique sentence with many novel tokens inside", 51L)
    ).toDF("doc_id", "text", "n_chars")
    val bB = Seq(
      (4L, "fresh unique sentence with many novel tokens inside", 51L),
      (5L, "another entirely new document nothing shares these words", 56L)
    ).toDF("doc_id", "text", "n_chars")

    def runBatchTwin(): (Seq[Long], Long, Long) = {
      val idx = java.nio.file.Files.createTempDirectory("ddx_twin").toString
      graft.ops.DedupIndex.build(corpus, "doc_id", "text", 3, idx)
      val sA = graft.ops.DedupIndex.dedupBatch(spark, bA, idx,
        "doc_id", "text", 3, 0.5).localCheckpoint(true)
      graft.ops.DedupIndex.append(sA, "doc_id", "text", 3, idx)
      val sB = graft.ops.DedupIndex.dedupBatch(spark, bB, idx,
        "doc_id", "text", 3, 0.5).localCheckpoint(true)
      graft.ops.DedupIndex.append(sB, "doc_id", "text", 3, idx)
      val ids = (sA.select("doc_id").as[Long].collect() ++
        sB.select("doc_id").as[Long].collect()).sorted.toSeq
      (ids, spark.read.parquet(s"$idx/fps").distinct().count(),
        spark.read.parquet(s"$idx/grams").count())
    }

    def runStreaming(): (Seq[Long], Long, Long) =
      graft.io.TempScope.perCall("ddx_stream") { scope =>
        val idx = scope.path("idx")
        graft.ops.DedupIndex.build(corpus, "doc_id", "text", 3, idx)
        val out = scope.path("out")
        val stream = graft.streaming.StreamHarness.stage(scope, Seq(bA, bB))
        graft.streaming.StreamHarness.foreachBatch("ddx_stream", stream) { (b, id) =>
          StreamingOps.dedupIndexedBatch(spark, b, id, idx, out,
            "doc_id", "text", 3, 0.5, keep = Seq("doc_id", "n_chars"))
        }
        val ids = spark.read.parquet(out)
          .select("doc_id").as[Long].collect().sorted.toSeq
        (ids, spark.read.parquet(s"$idx/fps").distinct().count(),
          spark.read.parquet(s"$idx/grams").count())
      }

    val (twinIds, twinFps, twinGrams) = runBatchTwin()
    val (strIds, strFps, strGrams) = runStreaming()
    // the sequencing itself must have bitten: doc 4 is only droppable
    // because batch A's survivor 3 was appended before B arrived
    assert(twinIds == Seq(3L, 5L), s"batch twin survivors: $twinIds")
    assert(strIds == twinIds,
      s"streaming survivors $strIds must equal the batch twin's $twinIds")
    assert(strFps == twinFps && strGrams == twinGrams,
      "final index state must be identical to the batch twin's")
  }
}
