package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Streaming forms of the pipeline's keyed operators (SURVEY.md §2.6).
  *
  * The reference is pure batch on a daily Airflow cadence; these are
  * the Structured Streaming equivalents it would need to go real-time:
  * the hourly keyed dedup becomes watermarked stream dedup, the daily
  * summary becomes a windowed aggregate, and the upsert sink becomes a
  * foreachBatch merge. State is bounded by the watermark — without it,
  * keyed dedup state grows forever at 100 TB/day.
  */
object StreamingOps {

  /** dedup_hour as a stream (reference: src/transform.py:85-92 →
    * watermark + dropDuplicates on the truncated-hour key). Events
    * later than `lateness` past the max seen ts are dropped; dedup
    * state older than that is evicted.
    */
  def dedupHourlyStream(events: DataFrame, keys: Seq[String], tsCol: String,
                        lateness: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .withColumn("ts_hour", date_trunc("hour", col(tsCol)))
      .dropDuplicates(keys :+ "ts_hour")

  /** Daily-summary view as a tumbling-window streaming aggregate
    * (reference: sql/schema.sql:82-97). Append-mode compatible: results
    * emit once the watermark passes the window end.
    */
  def windowedSummary(events: DataFrame, keyCol: String, tsCol: String,
                      valCol: String, window_ : String = "1 hour",
                      lateness: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), window_), col(keyCol))
      .agg(count(lit(1)).as("n"), avg(col(valCol)).as("avg_value"),
        min(col(valCol)).as("min_value"), max(col(valCol)).as("max_value"))

  /** Same dedup with Spark 3.5+'s dropDuplicatesWithinWatermark: rows
    * whose event times fall within the watermark delay of a seen key
    * are duplicates even across micro-batches, and state still evicts
    * with the watermark — the API built for exactly this pattern
    * (SURVEY §2.6).
    */
  def dedupWithinWatermarkStream(events: DataFrame, keys: Seq[String],
                                 tsCol: String,
                                 lateness: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark(keys)

  final case class SessionState(start: Long, last: Long, n: Long)
  final case class ClosedSession(
      user_id: Long, start_s: Long, n_events: Long, duration_s: Long)

  /** The gap fold both sessionizers share: the key's event seconds,
    * sorted, folded into its open session. An event within the gap of
    * the open session extends it — never moving start forward or last
    * backward; the lower bound matters, because an event far OLDER
    * than the session start also satisfies t - last <= gap (negative
    * delta) but belongs to an earlier, already-closed session. Such a
    * too-old event is dropped like a watermark-late row. Any later
    * event closes the session and opens a new one. Returns the closed
    * sessions and the open one.
    */
  private def foldSession(user: Long, seconds: Iterator[Long],
                          open: Option[SessionState],
                          gapSeconds: Long): (Iterator[ClosedSession], Option[SessionState]) = {
    val closed = scala.collection.mutable.ArrayBuffer.empty[ClosedSession]
    var st = open
    seconds.toArray.sorted.foreach { t =>
      st match {
        case Some(s) if t - s.last <= gapSeconds && t >= s.start - gapSeconds =>
          st = Some(SessionState(math.min(s.start, t), math.max(s.last, t), s.n + 1))
        case Some(s) if t < s.start - gapSeconds =>
          () // too-old: its session already closed and emitted
        case Some(s) =>
          closed += ClosedSession(user, s.start, s.n, s.last - s.start)
          st = Some(SessionState(t, t, 1))
        case None =>
          st = Some(SessionState(t, t, 1))
      }
    }
    (closed.iterator, st)
  }

  /** Custom per-key state via flatMapGroupsWithState: gap-based
    * sessionization. A session closes (and emits) when a later event
    * for the key arrives more than `gapSeconds` after the last one, OR
    * when the event-time watermark passes `last + gap` with no new
    * events — an EventTimeTimeout flushes and EVICTS idle sessions, so
    * per-key state really is bounded (a key that goes quiet does not
    * pin state forever). Out-of-order events within the gap merge into
    * the open session without moving its frontier backwards.
    * The streaming twin of graft.ops.Sessionize.
    *
    * DIVERGENCE from the batch twin: an event older than the open
    * session's start by more than the gap is DISCARDED — its session
    * already closed and emitted, so it is treated like a
    * watermark-late row even when it arrives within the declared
    * `lateness`. A batch run over the same data emits it as a separate
    * earlier session. Streaming cannot do that without unbounded
    * state (re-opening arbitrarily old sessions), and merging it into
    * the open session (the previous behavior) silently dragged `start`
    * backwards; dropping is the bounded-state choice.
    */
  def sessionizeStream(events: Dataset[(Long, Timestamp)],
                       gapSeconds: Long,
                       lateness: String = "30 minutes"): Dataset[ClosedSession] = {
    implicit val stEnc: Encoder[SessionState] = Encoders.product[SessionState]
    implicit val outEnc: Encoder[ClosedSession] = Encoders.product[ClosedSession]
    events
      .withWatermark("_2", lateness)
      .groupByKey(_._1)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, it: Iterator[(Long, Timestamp)], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(ClosedSession(user, s.start, s.n, s.last - s.start))
          } else {
            val (closed, st) = foldSession(user,
              it.map(_._2.getTime / 1000), state.getOption, gapSeconds)
            st.foreach { s =>
              state.update(s)
              // idle eviction: fire once the watermark passes the gap
              // deadline (a timeout timestamp ≤ the watermark is illegal)
              val deadline = (s.last + gapSeconds) * 1000L
              state.setTimeoutTimestamp(
                math.max(deadline, state.getCurrentWatermarkMs() + 1))
            }
            closed
          }
      }
  }

  /** Watermarked stream-stream interval join: left rows match right
    * rows with the same key whose event times fall in
    * [leftTs − before, leftTs). The watermarks plus the two-sided time
    * bound are what make it runnable forever — they let Spark compute
    * how old a buffered row can still possibly match, and evict join
    * state beyond that; an unconstrained stream-stream join's state
    * grows without bound.
    */
  def intervalJoinStream(left: DataFrame, right: DataFrame,
                         leftKey: String, rightKey: String,
                         leftTs: String, rightTs: String,
                         before: String = "10 minutes",
                         lateness: String = "1 hour"): DataFrame =
    left.withWatermark(leftTs, lateness)
      .join(right.withWatermark(rightTs, lateness),
        col(leftKey) === col(rightKey) &&
          col(rightTs) >= col(leftTs) - expr(s"INTERVAL $before") &&
          col(rightTs) < col(leftTs))

  /** The same gap sessionization on Spark 4's transformWithState — the
    * successor API to flatMapGroupsWithState: typed ValueState instead
    * of one opaque state blob, explicit per-key TIMERS instead of a
    * single timeout, and the RocksDB state store (required by the API;
    * the disk-backed store is also what bounds executor memory when key
    * cardinality is corpus-scale). Timers accumulate per registration,
    * so an expired timer re-checks the session's real deadline against
    * the watermark — a timer made stale by a later in-gap event no-ops.
    */
  private final class SessionProcessor(gapSeconds: Long)
      extends StatefulProcessor[Long, (Long, Timestamp), ClosedSession] {
    @transient private var session: ValueState[SessionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      session = getHandle.getValueState[SessionState]("session",
        Encoders.product[SessionState], TTLConfig.NONE)

    private def deadlineMs(s: SessionState): Long = (s.last + gapSeconds) * 1000L

    override def handleInputRows(user: Long, rows: Iterator[(Long, Timestamp)],
                                 timers: TimerValues): Iterator[ClosedSession] = {
      val (closed, st) = foldSession(user, rows.map(_._2.getTime / 1000),
        if (session.exists()) Some(session.get()) else None, gapSeconds)
      st.foreach { s =>
        session.update(s)
        getHandle.registerTimer(
          math.max(deadlineMs(s), timers.getCurrentWatermarkInMs() + 1))
      }
      closed
    }

    override def handleExpiredTimer(user: Long, timers: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[ClosedSession] =
      if (session.exists() &&
          deadlineMs(session.get()) <= timers.getCurrentWatermarkInMs()) {
        val s = session.get()
        session.clear()
        Iterator.single(ClosedSession(user, s.start, s.n, s.last - s.start))
      } else Iterator.empty // stale timer: the session was extended meanwhile
  }

  /** [[sessionizeStream]] on transformWithState (see SessionProcessor).
    * Requires `spark.sql.streaming.stateStore.providerClass =
    * ...RocksDBStateStoreProvider`.
    */
  def sessionizeStreamTws(events: Dataset[(Long, Timestamp)],
                          gapSeconds: Long,
                          lateness: String = "30 minutes"): Dataset[ClosedSession] = {
    implicit val outEnc: Encoder[ClosedSession] = Encoders.product[ClosedSession]
    events
      .withWatermark("_2", lateness)
      .groupByKey(_._1)(Encoders.scalaLong)
      .transformWithState(new SessionProcessor(gapSeconds),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Per-micro-batch quality gate for foreachBatch sinks: compute the
    * batch's quality metrics and fail the STREAM when a threshold is
    * violated — the streaming analogue of the reference's Airflow gate
    * task failing the DAG run
    * (reference: airflow_dag/weather_etl_dag.py:349-389). Wrap the real
    * sink: {{{ foreachBatch(gatedSink(upsertSink(...))) }}}. A thrown
    * gate stops the query BEFORE the bad batch is committed, so the
    * checkpoint replays it after the upstream fix — no partial load.
    */
  def gatedBatch(batch: DataFrame, inputCount: Long,
                 thresholds: graft.etl.Quality.Thresholds =
                   graft.etl.Quality.Thresholds()): Unit = {
    val metrics = graft.etl.Quality.qualityMetrics(batch, inputCount).head()
    graft.etl.Quality.gate(metrics, thresholds)
  }

  /** Streaming upsert sink: per-micro-batch set-based merge into a
    * parquet target — the foreachBatch analogue of the reference's
    * upsert strategy (reference: src/load.py:371-486). `updatePriority`
    * picks the in-batch winner per key (e.g. latest event time),
    * keeping the merge deterministic under micro-batch replay.
    */
  def upsertSink(batch: DataFrame, batchId: Long, path: String,
                 keys: Seq[String], updatePriority: Seq[String] = Nil): Unit =
    graft.io.Sinks.load(batch.sparkSession, batch, path, "upsert", keys,
      updatePriority)

  /** One micro-batch of indexed streaming dedup — the foreachBatch body
    * of the stream_dedup_indexed row: the batch's survivors against the
    * dedup index at `indexPath` ([[graft.ops.DedupIndex.dedupBatch]],
    * materialized once), their `keep` columns appended to `out`, then
    * the survivors appended to the index, so the next micro-batch
    * dedups against the standing corpus plus every earlier batch's
    * accepted docs.
    */
  def dedupIndexedBatch(spark: org.apache.spark.sql.SparkSession,
                        batch: DataFrame, batchId: Long, indexPath: String,
                        out: String, idCol: String, textCol: String,
                        n: Int, threshold: Double, keep: Seq[String]): Unit = {
    val surv = graft.BenchAttribution.timed(
        s"stream_dedup_indexed.b${batchId}_dedup") {
      graft.ops.DedupIndex.dedupBatch(spark, batch, indexPath,
        idCol, textCol, n, threshold).localCheckpoint(true)
    }
    surv.select(keep.map(col): _*).write.mode("append").parquet(out)
    graft.BenchAttribution.timed(s"stream_dedup_indexed.b${batchId}_append") {
      graft.ops.DedupIndex.append(surv, idCol, textCol, n, indexPath)
    }
  }
}
