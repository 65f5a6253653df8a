package perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced call: a public engine call made by the benchmark. `op`
  * is the op it belongs to; `parent` is -1 for a root span.
  */
final case class Span(id: Int, parent: Int, layer: String, name: String,
                      op: Int, startNs: Long) {
  var endNs: Long = -1L
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Task counters summed per stage, plus the stage's active interval. */
final class StageAgg {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var submitMs = -1L
  var doneMs = -1L
}

final case class JobRec(jobId: Int, group: String, stageIds: Seq[Int])

/** Facts of one finished query, read from its physical plan: every
  * file scan (root paths, files, bytes listed), every file write (files,
  * rows, dynamic partitions) and every join (output column names, rows
  * out).
  */
final case class QueryFacts(scans: Seq[(Seq[String], Long, Long)],
                            writes: Seq[(Long, Long, Long)],
                            joins: Seq[(Set[String], Long)])

/** Counters from the Spark listener bus. Events arrive on the bus
  * threads; readers call [[Tracer.drain]] first and then read under the
  * same lock.
  */
final class Recorder extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  val stages = mutable.HashMap.empty[Int, StageAgg]
  val pendingJobs = mutable.ArrayBuffer.empty[JobRec]
  val pendingQueries = mutable.ArrayBuffer.empty[QueryFacts]

  private def agg(id: Int) = stages.getOrElseUpdate(id, new StageAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    pendingJobs += JobRec(e.jobId, g, e.stageIds)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val a = agg(e.stageInfo.stageId)
    a.submitMs = e.stageInfo.submissionTime.getOrElse(-1L)
    a.doneMs = e.stageInfo.completionTime.getOrElse(-1L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = agg(e.stageId)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.diskBytesSpilled
      a.inputBytes += m.inputMetrics.bytesRead
      a.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    def metric(p: org.apache.spark.sql.execution.SparkPlan, k: String) =
      p.metrics.get(k).map(_.value).getOrElse(0L)
    val plan = qe.executedPlan
    val scans = collectWithSubqueries(plan) {
      case s: FileSourceScanExec =>
        (s.relation.location.rootPaths.map(_.toUri.getPath).toSeq,
          metric(s, "numFiles"), metric(s, "filesSize"))
    }
    val writes = collectWithSubqueries(plan) {
      case w: DataWritingCommandExec =>
        (metric(w, "numFiles"), metric(w, "numOutputRows"), metric(w, "numParts"))
    }
    val joins = collectWithSubqueries(plan) {
      case j: BaseJoinExec => (j.output.map(_.name).toSet, metric(j, "numOutputRows"))
    }
    synchronized { pendingQueries += QueryFacts(scans, writes, joins) }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** Spans around the benchmark's calls into the engine. Spark work is
  * tied to a span by a per-call job group: each job carries the group
  * of the span that was innermost when it was submitted. A job whose
  * group is missing or names a span that had already ended (a pool
  * thread created during an earlier call inherits that call's group)
  * goes to the innermost span open when it is drained. Query-level file
  * facts have no group; they go to the innermost span open when drained.
  * The bus is drained at every span boundary, so with one client
  * nothing drains into the wrong span.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val recorder = new Recorder
  val spans = mutable.ArrayBuffer.empty[Span]
  val jobsOf = mutable.HashMap.empty[Int, mutable.ArrayBuffer[JobRec]]
  val queriesOf = mutable.HashMap.empty[Int, mutable.ArrayBuffer[QueryFacts]]
  private val stack = mutable.Stack.empty[Span]
  private val nextId = new AtomicInteger(0)
  private var on = false
  /** Wall-clock epoch ms of a nanoTime reading, to line spans up with
    * the scheduler's stage timestamps.
    */
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def epochMs(ns: Long): Double = (ns + epochOffsetNs) / 1e6

  def enabled: Boolean = on

  def enable(): Unit = if (!on) {
    sc.addSparkListener(recorder)
    spark.listenerManager.register(recorder)
    on = true
  }

  def disable(): Unit = if (on) {
    drain()
    sc.removeSparkListener(recorder)
    spark.listenerManager.unregister(recorder)
    on = false
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  private def group(s: Span) = s"perfbench-span-${s.id}"

  /** Hand drained jobs and queries to their spans; `into` is the span
    * innermost at this boundary.
    */
  private def assign(into: Span): Unit = recorder.synchronized {
    val open = stack.map(s => group(s) -> s.id).toMap
    recorder.pendingJobs.foreach { j =>
      val id = Option(j.group).flatMap(open.get).getOrElse(into.id)
      jobsOf.getOrElseUpdate(id, mutable.ArrayBuffer.empty) += j
    }
    recorder.pendingJobs.clear()
    queriesOf.getOrElseUpdate(into.id, mutable.ArrayBuffer.empty) ++=
      recorder.pendingQueries
    recorder.pendingQueries.clear()
  }

  def span[T](layer: String, name: String, op: Int, root: Boolean = false)(body: => T): T =
    if (!on) body
    else {
      if (stack.nonEmpty) { drain(); assign(stack.top) }
      val parent = if (root || stack.isEmpty) -1 else stack.top.id
      val s = Span(nextId.getAndIncrement(), parent, layer, name, op, System.nanoTime())
      spans += s
      val outer = stack.toList
      stack.push(s)
      sc.setJobGroup(group(s), name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        drain()
        assign(s)
        stack.pop()
        if (outer.isEmpty) sc.clearJobGroup()
        else sc.setJobGroup(group(outer.head), outer.head.name, interruptOnCancel = false)
      }
    }
}

/** Per-layer figures from the recorded spans. */
object LayerStats {
  /** Length of the union of [lo, hi) intervals, clipped to [a, b). */
  def unionLen(iv: Seq[(Double, Double)], a: Double, b: Double): Double = {
    val clipped = iv.map { case (lo, hi) => (math.max(lo, a), math.min(hi, b)) }
      .filter { case (lo, hi) => hi > lo }.sortBy(_._1)
    var total = 0.0
    var curLo = Double.NaN
    var curHi = Double.NaN
    clipped.foreach { case (lo, hi) =>
      if (curHi.isNaN || lo > curHi) {
        if (!curHi.isNaN) total += curHi - curLo
        curLo = lo; curHi = hi
      } else curHi = math.max(curHi, hi)
    }
    if (!curHi.isNaN) total += curHi - curLo
    total
  }

  /** Common metrics of every layer, summed over its spans. Time values
    * are seconds; byte values bytes.
    */
  def common(t: Tracer, layer: String): Map[String, Double] = t.recorder.synchronized {
    val all = t.spans.filter(_.endNs > 0)
    val stageIv = t.recorder.stages.values.filter(a => a.submitMs > 0 && a.doneMs > 0)
      .map(a => (a.submitMs.toDouble, a.doneMs.toDouble)).toSeq
    val mine = all.filter(_.layer == layer)
    var busy, self, driver = 0.0
    var task, cpu, jobs, tasks, shuffle, spill, in, out = 0.0
    mine.foreach { s =>
      val a = t.epochMs(s.startNs)
      val b = t.epochMs(s.endNs)
      val kids = all.filter(_.parent == s.id).map(k => (t.epochMs(k.startNs), t.epochMs(k.endNs))).toSeq
      busy += s.wallS
      self += s.wallS - unionLen(kids, a, b) / 1e3
      driver += s.wallS - unionLen(stageIv, a, b) / 1e3
      t.jobsOf.getOrElse(s.id, Nil).foreach { j =>
        jobs += 1
        j.stageIds.flatMap(t.recorder.stages.get).foreach { st =>
          tasks += st.tasks
          task += st.runMs / 1e3
          cpu += st.cpuNs / 1e9
          shuffle += st.shuffleBytes
          spill += st.spillBytes
          in += st.inputBytes
          out += st.outputBytes
        }
      }
    }
    Map("busy_s" -> busy, "self_s" -> self, "driver_s" -> driver, "task_s" -> task,
      "cpu_s" -> cpu, "jobs" -> jobs, "tasks" -> tasks, "shuffle_bytes" -> shuffle,
      "spill_bytes" -> spill, "input_bytes" -> in, "output_bytes" -> out)
  }

  def queries(t: Tracer, pred: Span => Boolean): Seq[QueryFacts] =
    t.spans.filter(pred).flatMap(s => t.queriesOf.getOrElse(s.id, Nil)).toSeq
}
