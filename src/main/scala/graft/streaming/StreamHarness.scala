package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

import graft.io.TempScope

/** The AvailableNow plumbing every registered streaming row shares:
  * pinned-order input staging, start with a per-run conf override,
  * await, progress sections, and memory-sink teardown — all scratch
  * through [[TempScope]].
  */
object StreamHarness {

  /** Conf for stateful rows: a stateful operator keeps one state store
    * per shuffle partition, each loaded and committed per micro-batch,
    * so the streaming shuffle is sized to the state volume (a few
    * hundred groups), not the CPU count (r19: stream_windowed_counts
    * trigger_exec 1.15 s → ~0.5 s; a stream-stream join keeps four
    * stores per partition, 32 → 8 partitions ~4× faster).
    */
  val StateSized: Map[String, String] = Map("spark.sql.shuffle.partitions" -> "8")

  /** `StateSized` plus the RocksDB state store transformWithState needs. */
  val RocksDb: Map[String, String] = StateSized +
    ("spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** Stage each of `batches` as ONE parquet file under `scope`, named
    * and modification-time-pinned in order, and return the stream over
    * them at one file per trigger: AvailableNow then processes exactly
    * `batches.size` micro-batches in that order.
    */
  def stage(scope: TempScope, batches: Seq[DataFrame]): DataFrame = {
    val spark = batches.head.sparkSession
    val in = new Path(scope.path("in"))
    val fs = in.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(in)
    batches.zipWithIndex.foreach { case (b, i) =>
      val stage = scope.path(f"stage$i%02d")
      b.coalesce(1).write.parquet(stage)
      val part = fs.listStatus(new Path(stage))
        .map(_.getPath).find(_.getName.startsWith("part-")).get
      val file = new Path(in, f"$i%02d.parquet")
      require(fs.rename(part, file))
      fs.setTimes(file, 1700000000000L + i * 60000L, -1)
    }
    spark.readStream.schema(batches.head.schema)
      .option("maxFilesPerTrigger", 1).parquet(in.toString)
  }

  /** Run `stream` into the sink `sink` configures as an AvailableNow
    * query to completion and record its sections under `prefix`.
    * `conf` is set for the start and restored right after it: the
    * query clones the session conf when it starts, and its checkpoint
    * is fresh per run.
    */
  private def run(prefix: String, stream: DataFrame, conf: Map[String, String])(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit = {
    val spark = stream.sparkSession
    val prev = conf.keys.map(k => k -> spark.conf.getOption(k))
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    val t0 = System.nanoTime()
    val q =
      try sink(stream.writeStream).trigger(Trigger.AvailableNow()).start()
      finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    val tStart = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    q.awaitTermination()
    recordSections(prefix, q, tStart, (System.nanoTime() - t1) / 1e9)
  }

  /** [[run]] with a foreachBatch sink, under the session's own conf. */
  def foreachBatch(prefix: String, stream: DataFrame)(
      f: (DataFrame, Long) => Unit): Unit =
    run(prefix, stream, Map.empty)(_.foreachBatch(f))

  /** [[run]] into a memory sink, then `read` over its table; the
    * result is materialized and the sink's view dropped before
    * returning.
    */
  def memory(prefix: String, stream: DataFrame, outputMode: String,
             conf: Map[String, String] = StateSized)(
      read: DataFrame => DataFrame): DataFrame =
    TempScope.perCall(prefix) { scope =>
      val name = scope.name(s"graft_$prefix")
      run(prefix, stream, conf)(
        _.format("memory").queryName(name).outputMode(outputMode))
      read(stream.sparkSession.table(name))
    }

  /** Decompose a finished run's wall time into engine fixed floor vs
    * micro-batch work (VERDICT r18 #6), from the engine's own
    * per-batch progress (`recentProgress` `durationMs`):
    * `trigger_exec` is the summed in-batch execution, `add_batch` the
    * data-plane part of it, `state_commit` the offset/WAL commit
    * overhead, and `engine_floor` = start call + await wall −
    * trigger_exec — the query-lifecycle cost (planning, state-store
    * init, source listing, inter-batch gaps) that scales with engine
    * startup, not with corpus. Advisory overlay only, same contract as
    * every BenchAttribution section.
    */
  private def recordSections(prefix: String, q: StreamingQuery,
                             startSec: Double, awaitSec: Double): Unit = {
    graft.BenchAttribution.record(s"$prefix.start_call", startSec)
    graft.BenchAttribution.record(s"$prefix.await", awaitSec)
    val prog = q.recentProgress
    def sumMs(key: String): Double =
      prog.map(p => Option(p.durationMs.get(key))
        .map(_.longValue).getOrElse(0L)).sum / 1000.0
    val trig = sumMs("triggerExecution")
    graft.BenchAttribution.record(s"$prefix.trigger_exec", trig)
    graft.BenchAttribution.record(s"$prefix.add_batch", sumMs("addBatch"))
    graft.BenchAttribution.record(s"$prefix.state_commit",
      sumMs("commitOffsets") + sumMs("walCommit"))
    graft.BenchAttribution.record(s"$prefix.n_batches", prog.length.toDouble)
    graft.BenchAttribution.record(s"$prefix.engine_floor",
      math.max(0.0, startSec + awaitSec - trig))
  }
}
