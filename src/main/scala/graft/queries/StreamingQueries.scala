package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Q
import graft.io.TempScope
import graft.streaming.{StreamHarness, StreamingOps}

/** Structured Streaming, oracle-verified: the query fn runs a REAL
  * streaming query over the corpus (file source → windowed aggregate →
  * memory sink, Trigger.AvailableNow) and returns its final result,
  * which the driver's DuckDB compare then checks against batch SQL.
  * This is the daily-micro-batch cadence of the reference pipeline
  * (SURVEY §2.6) executed through the streaming engine, not a batch
  * stand-in.
  */
object StreamingQueries {

  val all: Seq[Q] = Seq(
    Q("stream_windowed_counts",
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS ws, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin) { (s, dir) =>
      // the shared unit-detecting events reader (Sources.eventsStream)
      // owns the ts unit — query code never divides raw longs
      val stream = graft.io.Sources.eventsStream(s, dir)
      val agg = stream
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      StreamHarness.memory("stream_windowed_counts", agg, "complete") {
        _.select(col("window.start").as("ws"), col("event_type"),
            col("n"), col("sum_value"))
          .orderBy("ws", "event_type")
      }
    },

    /** Watermarked stream-stream interval join: each click joined to
      * the same user's views in the preceding hour
      * (StreamingOps.intervalJoinStream), attribution counts per user.
      * The join runs in the streaming engine with state eviction from
      * the watermark + time bound; only the final per-user rollup of
      * the emitted pairs happens in batch.
      */
    Q("stream_join_attrib",
      """SELECT c.user_id AS user_id, COUNT(*) AS n_view_click_pairs,
        |  COUNT(DISTINCT c.event_id) AS n_attributed_clicks
        |FROM events c JOIN events v ON v.user_id = c.user_id
        |  AND c.event_type = 'click' AND v.event_type = 'view'
        |  AND v.ts >= c.ts - INTERVAL 60 MINUTE AND v.ts < c.ts
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val base = graft.io.Sources.eventsStream(s, dir)
      val clicks = base.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
      val views = base.filter(col("event_type") === "view")
        .select(col("user_id").as("view_user"), col("ts").as("view_ts"))
      val joined = StreamingOps.intervalJoinStream(
        clicks, views, "user_id", "view_user", "click_ts", "view_ts",
        before = "60 minutes", lateness = "1 hour")
      StreamHarness.memory("stream_join_attrib", joined, "append") {
        _.groupBy("user_id")
          .agg(count(lit(1)).as("n_view_click_pairs"),
            countDistinct(col("click_id")).as("n_attributed_clicks"))
          .orderBy("user_id")
      }
    },

    /** foreachBatch + upsert sink end to end: the event stream merges
      * into a parquet target keyed by (user, event type), the latest
      * event winning per key — the streaming form of the reference's
      * upsert load (reference: src/load.py:371-486) with a
      * deterministic in-batch winner.
      */
    Q("stream_upsert_latest",
      """SELECT user_id, event_type, event_id, value FROM (
        |  SELECT user_id, event_type, event_id, value, row_number() OVER (
        |    PARTITION BY user_id, event_type
        |    ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin) { (s, dir) =>
      val stream = graft.io.Sources.eventsStream(s, dir)
        .select("user_id", "event_type", "event_id", "value", "ts")
      TempScope.perCall("stream_upsert") { scope =>
        val out = scope.path("t")
        StreamHarness.foreachBatch("stream_upsert_latest", stream) { (b, id) =>
          StreamingOps.upsertSink(b, id, out,
            keys = Seq("user_id", "event_type"),
            updatePriority = Seq("ts", "event_id"))
        }
        s.read.parquet(out)
          .select("user_id", "event_type", "event_id", "value")
          .orderBy("user_id", "event_type")
      }
    },

    /** stream_rerun_dynamic — the idempotent streaming day-load: each
      * micro-batch lands via DYNAMIC partition overwrite
      * (Sinks.overwriteDynamic on the batch's date partitions), so a
      * REPLAYED batch — retried task, reprocessed day, restarted job
      * with a lost checkpoint — replaces its own partitions with the
      * same content instead of duplicating rows. The row runs the
      * whole stream TWICE with fresh checkpoints (a full reprocess,
      * the harshest replay) and the oracle states one batch pass: any
      * duplication or loss breaks the hash. Contract (documented at
      * the sink): a partition's rows must arrive within one
      * micro-batch — the daily-file cadence of the reference pipeline
      * — or the batch must be a full recompute of the partitions it
      * carries; arbitrary cross-batch splits of one day need the
      * keyed upsert sink (stream_upsert_latest) instead. */
    Q("stream_rerun_dynamic",
      """SELECT event_id, user_id, event_type, value, CAST(ts AS DATE) AS d
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      TempScope.perCall("stream_rerun") { scope =>
        val out = scope.path("t")
        // twice, each run with a fresh checkpoint: the full-reprocess
        // replay; each run records its own sections (.run1, .run2)
        (1 to 2).foreach { i =>
          val stream = graft.io.Sources.eventsStream(s, dir)
            .select(col("event_id"), col("user_id"), col("event_type"),
              col("value"), to_date(col("ts")).as("d"))
          StreamHarness.foreachBatch(s"stream_rerun_dynamic.run$i", stream) { (b, _) =>
            graft.io.Sinks.overwriteDynamic(b.repartition(col("d")), out, Seq("d"))
          }
        }
        s.read.parquet(out)
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"), col("d").cast("date").as("d"))
          .orderBy("event_id")
      }
    },

    /** Keyed streaming dedup through the engine
      * (StreamingOps.dedupHourlyStream → watermark + dropDuplicates on
      * (user, hour)): the streaming form of the reference's
      * hour-granularity dedup. Only the KEY columns are emitted — the
      * streaming winner row is first-arrival (a partition race), so a
      * deterministic oracle exists exactly for the key set, which is
      * what hour-dedup keeps anyway. Single AvailableNow batch ⇒ the
      * watermark never drops rows here; multi-batch state eviction is
      * pinned in StreamingSpec.
      */
    Q("stream_dedup",
      """SELECT DISTINCT user_id, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ts_hour
        |FROM events ORDER BY user_id, ts_hour""".stripMargin) { (s, dir) =>
      val stream = graft.io.Sources.eventsStream(s, dir)
        .select("user_id", "ts")
      val dd = StreamingOps.dedupHourlyStream(
        stream, keys = Seq("user_id"), tsCol = "ts")
      // emitted KEY set is partitioning-independent (only the winner
      // ROW would race, and only keys are emitted)
      StreamHarness.memory("stream_dedup", dd.select("user_id", "ts_hour"),
        "append")(_.orderBy("user_id", "ts_hour"))
    },

    /** stream_dedup_indexed — the composed production ingest shape:
      * file-source micro-batches of NEW documents dropped through the
      * PERSISTED dedup index (foreachBatch { DedupIndex.dedupBatch →
      * write survivors → DedupIndex.append }), so each micro-batch
      * dedups against the standing corpus PLUS every earlier batch's
      * accepted docs, and the index is current when the next batch
      * arrives — the daily-micro-batch cadence of the reference DAG
      * (airflow_dag/weather_etl_dag.py:57) composed with the
      * incremental-index shape that makes daily dedup of a standing
      * corpus affordable (corpus text is never rescanned; the
      * streaming plan touches only the batch and the fixed-width
      * index tables). The per-micro-batch candidate stage
      * auto-selects with [[graft.ops.Dedup.useBandedEdge]] priced off
      * the index — on the gate corpora it lands on BANDED (the
      * persisted sigs/ probe; 48–407 predicted candidates/doc vs the
      * 8/doc budget at every graded sf), which this oracle's two-step
      * MinHash form mirrors.
      *
      * Determinism: the batch (doc_id % 5 = 0) is split into two
      * files (doc_id % 10 = 0 then % 10 = 5) with pinned modification
      * times and maxFilesPerTrigger=1, so AvailableNow processes
      * exactly two micro-batches in a fixed order; the oracle states
      * the same two-step sequence (batch B's fingerprint and gram
      * relations include batch A's survivors). Batch-equivalence of
      * the engine path — same survivors AND same final index state as
      * running dedupBatch+append twice in batch mode — is pinned in
      * StreamingSpec.
      */
    Q("stream_dedup_indexed", {
      val fp = (x: String) => s"('0x' || substring(md5($x),1,15))::BIGINT"
      s"""WITH tok AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents),
         |grams AS (SELECT DISTINCT doc_id, g FROM tok,
         |  UNNEST(list_transform(range(1, greatest(len(t)-2,0)+1),
         |                        i -> array_to_string(t[i:i+2], ' '))) AS u(g)),
         |${ExtensionQueries.minhashSigSql},
         |${ExtensionQueries.minhashBandsSql},
         |cfp AS (SELECT DISTINCT ${fp("lower(trim(text))")} AS f
         |  FROM documents WHERE doc_id % 5 <> 0),
         |bA1 AS (SELECT doc_id, n_chars, text FROM (
         |    SELECT doc_id, n_chars, text, row_number() OVER (
         |      PARTITION BY ${fp("lower(trim(text))")} ORDER BY doc_id) AS rn
         |    FROM documents WHERE doc_id % 10 = 0) WHERE rn = 1),
         |bA2 AS (SELECT doc_id, n_chars FROM bA1
         |  WHERE ${fp("lower(trim(text))")} NOT IN (SELECT f FROM cfp)),
         |candA AS (SELECT DISTINCT a.doc_id AS bid, b.doc_id AS cid
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         |  WHERE a.doc_id % 10 = 0 AND b.doc_id % 5 <> 0),
         |hitsA AS (SELECT DISTINCT bid FROM candA
         |  JOIN sig sa ON sa.doc_id = bid JOIN sig sb ON sb.doc_id = cid
         |  WHERE ${ExtensionQueries.minhashEstSql} >= 0.5),
         |sA AS (SELECT doc_id, n_chars FROM bA2
         |  WHERE doc_id NOT IN (SELECT bid FROM hitsA)),
         |fp1 AS (SELECT f FROM cfp UNION
         |  SELECT DISTINCT ${fp("lower(trim(text))")} FROM documents
         |  WHERE doc_id IN (SELECT doc_id FROM sA)),
         |bB1 AS (SELECT doc_id, n_chars, text FROM (
         |    SELECT doc_id, n_chars, text, row_number() OVER (
         |      PARTITION BY ${fp("lower(trim(text))")} ORDER BY doc_id) AS rn
         |    FROM documents WHERE doc_id % 10 = 5) WHERE rn = 1),
         |bB2 AS (SELECT doc_id, n_chars FROM bB1
         |  WHERE ${fp("lower(trim(text))")} NOT IN (SELECT f FROM fp1)),
         |candB AS (SELECT DISTINCT a.doc_id AS bid, b.doc_id AS cid
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         |  WHERE a.doc_id % 10 = 5 AND (b.doc_id % 5 <> 0
         |    OR b.doc_id IN (SELECT doc_id FROM sA))),
         |hitsB AS (SELECT DISTINCT bid FROM candB
         |  JOIN sig sa ON sa.doc_id = bid JOIN sig sb ON sb.doc_id = cid
         |  WHERE ${ExtensionQueries.minhashEstSql} >= 0.5),
         |sB AS (SELECT doc_id, n_chars FROM bB2
         |  WHERE doc_id NOT IN (SELECT bid FROM hitsB))
         |SELECT doc_id, n_chars FROM
         |  (SELECT * FROM sA UNION ALL SELECT * FROM sB)
         |ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val docs = graft.io.Sources.table(s, dir, "documents")
        .select("doc_id", "text", "n_chars")
      // one TEMPLATE index per (application, corpus), copied fresh per
      // invocation: the stream APPENDS to its index, so reusing the
      // shared corpus-only index (dedup_incremental_indexed's) or
      // re-running over an already-appended copy would change answers
      // scaffold vs work attribution (VERDICT r17 #7): the template
      // build (cached per app+corpus), the per-invocation index COPY,
      // and the input staging are bench harness — a production stream
      // owns ONE standing index, appends to it daily, and its files
      // arrive from upstream. Only the `.stream` section is the cost
      // a deployment pays per day. Sections land in the bench
      // artifact's env.attribution.
      val tpl = graft.BenchAttribution.timed("stream_dedup_indexed.template_build") {
        graft.ops.DedupIndex.ensureBuilt(s, dir + "#streamtpl",
          docs.filter(pmod(col("doc_id"), lit(5)) =!= 0), "doc_id", "text", 3)
      }
      TempScope.perCall("stream_ddx") { scope =>
        val idx = scope.path("idx")
        graft.BenchAttribution.timed("stream_dedup_indexed.copy_index") {
          org.apache.commons.io.FileUtils.copyDirectory(
            new java.io.File(tpl), new java.io.File(idx))
        }
        // two micro-batches: A = doc_id % 10 = 0, then B = doc_id % 10 = 5
        val stream = graft.BenchAttribution.timed("stream_dedup_indexed.stage_input") {
          StreamHarness.stage(scope,
            Seq(0, 5).map(r => docs.filter(pmod(col("doc_id"), lit(10)) === r)))
        }
        val out = scope.path("out")
        graft.BenchAttribution.timed("stream_dedup_indexed.stream") {
          StreamHarness.foreachBatch("stream_dedup_indexed", stream) { (b, id) =>
            StreamingOps.dedupIndexedBatch(s, b, id, idx, out,
              "doc_id", "text", 3, 0.5, keep = Seq("doc_id", "n_chars"))
          }
        }
        s.read.parquet(out).select("doc_id", "n_chars").orderBy("doc_id")
      }
    },

    /** stream_decontaminate — ingest-time benchmark decontamination:
      * file-source micro-batches of NEW documents probed against the
      * STANDING benchmark gram relation (built once from the eval
      * set, checkpointed, broadcast into every batch's containment
      * join — Dedup.benchGrams / decontaminateBatch), survivors
      * appended to the corpus sink. The production cadence: eval-set
      * grams are pipeline metadata, derived when the benchmark is
      * registered, never re-derived per day; each daily batch's
      * probe is a map-side broadcast join with no corpus-sized
      * exchange. Unlike stream_dedup_indexed there is no cross-batch
      * state (the benchmark is fixed), so survivors are independent
      * of the batch split — the oracle states the batch-mode result
      * over both batches, and the two-micro-batch run must reproduce
      * it exactly.
      */
    Q("stream_decontaminate",
      s"""WITH tok AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents),
         |grams AS (SELECT DISTINCT doc_id, g FROM tok,
         |  UNNEST(list_transform(range(1, greatest(len(t)-2,0)+1),
         |                        i -> array_to_string(t[i:i+2], ' '))) AS u(g)),
         |bsz AS (SELECT doc_id AS bid, COUNT(*) AS nb FROM grams
         |  WHERE doc_id % 97 = 0 GROUP BY 1),
         |pairs AS (SELECT c.doc_id AS cid, b.doc_id AS bid, COUNT(*) AS ni
         |  FROM grams c JOIN grams b ON c.g = b.g
         |  WHERE c.doc_id % 5 = 0 AND b.doc_id % 97 = 0 GROUP BY 1, 2),
         |hits AS (SELECT DISTINCT cid FROM pairs JOIN bsz USING (bid)
         |  WHERE CAST(ni AS DOUBLE) / CAST(nb AS DOUBLE) >= 0.8::DOUBLE)
         |SELECT doc_id, n_chars FROM documents
         |WHERE doc_id % 5 = 0 AND doc_id NOT IN (SELECT cid FROM hits)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = graft.io.Sources.table(s, dir, "documents")
        .select("doc_id", "text", "n_chars")
      // the standing benchmark artifact: built once, reused per batch
      val bg = graft.ops.Dedup.benchGrams(
        docs.filter(pmod(col("doc_id"), lit(97)) === 0),
        "doc_id", "text", 3).localCheckpoint(true)
      TempScope.perCall("stream_dc") { scope =>
        // two micro-batches: A = doc_id % 10 = 0, then B = doc_id % 10 = 5
        val stream = StreamHarness.stage(scope,
          Seq(0, 5).map(r => docs.filter(pmod(col("doc_id"), lit(10)) === r)))
        val out = scope.path("out")
        StreamHarness.foreachBatch("stream_decontaminate", stream) { (b, _) =>
          graft.ops.Dedup.decontaminateBatch(b, bg, "doc_id", "text", 3, 0.8)
            .select("doc_id", "n_chars")
            .write.mode("append").parquet(out)
        }
        s.read.parquet(out).select("doc_id", "n_chars").orderBy("doc_id")
      }
    },

    /** stream_summary_incremental — streaming warehouse ingest: each
      * micro-batch's partial aggregates fold into the PERSISTED
      * summary state table (graft.analytics.Incremental — exact
      * decimal sums/counts/min-max, avg derived at read), so the
      * standing daily summary is current after every batch and
      * history is never rescanned — foreachBatch composes the
      * streaming engine with the incremental-view shape the same way
      * stream_dedup_indexed composes it with the dedup index. No
      * cross-batch ORDER sensitivity: merge is split-invariant
      * (pinned for arbitrary splits in PropertySpec), so the oracle
      * is the plain full-recompute view over the streamed subset.
      */
    Q("stream_summary_incremental",
      s"""SELECT l_returnflag, l_linestatus, CAST(l_shipdate AS DATE) AS ship_date,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
         |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
         |  COUNT(*) AS record_count
         |FROM lineitem WHERE l_orderkey % 5 = 0 GROUP BY 1, 2, 3
         |ORDER BY ship_date DESC, l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      import graft.analytics.Incremental
      val li = graft.io.Sources.table(s, dir, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_linestatus",
          "l_shipdate", "l_quantity", "l_extendedprice")
      TempScope.perCall("stream_ivm") { scope =>
        val stream = StreamHarness.stage(scope,
          Seq(0, 5).map(r => li.filter(pmod(col("l_orderkey"), lit(10)) === r)))
        val latestState = new java.util.concurrent.atomic.AtomicReference[String](null)
        StreamHarness.foreachBatch("stream_summary_incremental", stream) { (b, id) =>
          val bs = Incremental.lineitemSummaryState(b)
          val merged = Option(latestState.get()) match {
            case Some(prev) => Incremental.mergeStates(s.read.parquet(prev), bs)
            case None => bs
          }
          val out = scope.path(s"state_$id")
          // summary-sized state: one file per version (guide §6) —
          // the NEXT batch's merge re-reads this table, so a
          // shuffle-width spray of KB parts costs listing + open
          // overhead every fold
          merged.coalesce(1).write.mode("overwrite").parquet(out)
          latestState.set(out)
        }
        Incremental.summaryFromState(s.read.parquet(latestState.get()))
          .orderBy(col("ship_date").desc, col("l_returnflag"), col("l_linestatus"))
      }
    },

    /** Gap sessionization through the REAL streaming engine on Spark
      * 4's transformWithState + the RocksDB state store
      * (StreamingOps.sessionizeStreamTws) — the last operator family
      * that was verified only in ScalaTest. Append mode emits CLOSED
      * sessions only, so the prepared input adds one far-future
      * sentinel event per user (> gap past every real event): the
      * sentinel gap-closes each user's final session inside the
      * engine, while the sentinel's own session stays open in state
      * and never emits — the emitted set is exactly the batch
      * sessionization of the real events, which is what the oracle
      * states (same formulation as the batch `sessionize` oracle,
      * rolled up to (start_s, n_events, duration_s)). All input lands
      * in one AvailableNow batch (no rate limit), where the processor
      * sorts per key, so the documented late-drop divergence cannot
      * fire; multi-batch state carry, timer eviction, and the too-old
      * drop are pinned in StreamingSpec. Shuffle partitions are sized
      * to the state stores (8), same as stream_join_attrib.
      *
      * Local cost (~3 s at sf0.1) is engine machinery — the input
      * re-write, RocksDB store open/commit per partition, and the
      * memory-sink collect — not data volume; at scale the same plan
      * is one stateful shuffle keyed by user.
      */
    Q("stream_sessionize",
      """WITH s AS (
        |  SELECT user_id, epoch_us(ts) // 1000000 AS t,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_us(ts) // 1000000 - epoch_us(lag(ts) OVER w) // 1000000 > 1800
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s2 AS (SELECT user_id, t, SUM(new_s) OVER (
        |    PARTITION BY user_id ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
        |  FROM s)
        |SELECT user_id, MIN(t) AS start_s, COUNT(*) AS n_events,
        |  MAX(t) - MIN(t) AS duration_s
        |FROM s2 GROUP BY user_id, seq
        |ORDER BY user_id, start_s""".stripMargin) { (s, dir) =>
      import s.implicits._
      val ev = graft.io.Sources.table(s, dir, "events")
        .select(col("user_id"), col("ts"))
      val maxSec = ev.agg(max(unix_timestamp(col("ts")))).head().getLong(0)
      val sentinels = ev.select("user_id").distinct()
        .withColumn("ts", timestamp_seconds(lit(maxSec + 1800 + 3600)))
      TempScope.perCall("stream_sess") { scope =>
        val stream = StreamHarness.stage(scope, Seq(ev.unionByName(sentinels)))
          .toDF("_1", "_2").as[(Long, java.sql.Timestamp)]
        val sessions = StreamingOps.sessionizeStreamTws(
          stream, gapSeconds = 1800, lateness = "30 days")
        StreamHarness.memory("stream_sessionize", sessions.toDF(), "append",
          StreamHarness.RocksDb)(_.orderBy("user_id", "start_s"))
      }
    })
}
