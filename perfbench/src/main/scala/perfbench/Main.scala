package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set the workload up once untimed (the
  * JVM's warm-up), then `setup_reps` more times, timed, then drive its ops in a
  * closed loop with a single client, and write the raw figures for
  * `run.py`, which checks the outputs and prints the result.
  *
  * Untraced (`--trace 0`): ops run until their summed wall time reaches
  * `--seconds`, at least one op. Every set-up and op records its wall
  * time, the CPU time of the whole JVM and the CPU time of the JIT
  * compiler's threads within it.
  * Traced (`--trace 1`): one untimed set-up, then a fixed number of op
  * pairs, each pair one traced op then one untraced op on the same kind
  * of input, so the per-layer counts repeat for a seed and the two
  * halves give the tracing overhead.
  *
  * Usage: Main --plan <plan.json> --work <dir> --out <result.json>
  *             --seconds <s> --trace <0|1> --spans <spans.jsonl>
  */
object Main {
  val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = a("work")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val t0 = System.nanoTime()
    val spark = session(work)
    Phase.mark("session", t0)
    try {
      // several plans (comma-separated) run one after another in this
      // JVM, each in a work directory of its own; `run.py` passes several
      // only for the class-archive training run of its build
      a("plan").split(",").zipWithIndex.foreach { case (path, n) =>
        val plan = mapper.readTree(new File(path))
        val dir = s"$work/$n"
        val w: Workload = plan.path("workload").asText match {
          case "daily_load"   => new DailyLoad(spark, plan, dir)
          case "corpus_dedup" => new CorpusDedup(spark, plan, dir)
        }
        val result = run(spark, w, plan, seconds, traced, a("spans"))
        mapper.writerWithDefaultPrettyPrinter().writeValue(new File(a("out")),
          toJava(result + ("phase_s" -> Phase.all)))
      }
    } finally spark.stop()
  }

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Single-thread spin of fixed work: how fast one core of the machine
    * was during the run.
    */
  def calibrationSpin(): Double = {
    val t0 = System.nanoTime()
    var x = 1L
    var i = 0
    while (i < 200000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    if (x == 42L) println("")
    (System.nanoTime() - t0) / 1e9
  }

  /** CPU seconds used so far by every thread of this JVM. */
  def cpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** CPU seconds used so far by the JIT compiler's threads, from
    * /proc/self/task (clock ticks of 10 ms).
    */
  def jitCpuSeconds(): Double =
    Option(new File("/proc/self/task").listFiles).toSeq.flatten.map { t =>
      try {
        val comm = scala.io.Source.fromFile(new File(t, "comm"))
        val name = try comm.mkString finally comm.close()
        if (!name.contains("CompilerThre")) 0L
        else {
          val st = scala.io.Source.fromFile(new File(t, "stat"))
          val f = try st.mkString.split("\\) ")(1).split(" ") finally st.close()
          f(11).toLong + f(12).toLong
        }
      } catch { case _: java.io.IOException => 0L }
    }.sum / 100.0

  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  }

  def run(spark: SparkSession, w: Workload, plan: JsonNode, seconds: Double,
          traced: Boolean, spansPath: String): Map[String, Any] = {
    val calib = calibrationSpin()
    val tSetup = System.nanoTime()
    // set-up 0 is the cold one: it pays the JVM's class loading and
    // first compilations, so it is reported apart and not in setup_s
    val setups = (0 to plan.path("setup_reps").asInt).map { r =>
      val c0 = cpuSeconds()
      val j0 = jitCpuSeconds()
      val t0 = System.nanoTime()
      w.setup(r)
      ((System.nanoTime() - t0) / 1e9, cpuSeconds() - c0, jitCpuSeconds() - j0)
    }
    Phase.mark("setup", tSetup)
    val tOps = System.nanoTime()
    val tracer = new Tracer(spark)
    val ops = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    var gcTraced = 0.0
    def once(i: Int, slot: Int, withTrace: Boolean): Unit = {
      if (withTrace) tracer.enable() else tracer.disable()
      val gc0 = gcSeconds()
      val c0 = cpuSeconds()
      val j0 = jitCpuSeconds()
      val t0 = System.nanoTime()
      val (ok, err, rec) =
        try {
          val r = tracer.span("op", w.name, i, root = true)(w.op(i, slot, tracer))
          (true, null, r)
        } catch {
          case e: Exception => (false, s"${e.getClass.getSimpleName}: ${e.getMessage}",
            Map.empty[String, Any])
        }
      val t = (System.nanoTime() - t0) / 1e9
      val cpu = cpuSeconds() - c0
      val jit = jitCpuSeconds() - j0
      if (withTrace) gcTraced += gcSeconds() - gc0
      val after = if (ok) w.afterOp(i, slot, tracer) else Map.empty[String, Any]
      ops += (rec ++ after ++ Map("i" -> i, "slot" -> slot, "t_s" -> t, "cpu_s" -> cpu,
        "jit_cpu_s" -> jit, "traced" -> withTrace, "ok" -> ok, "error" -> err))
    }
    if (!traced) {
      var i = 0
      def spent = ops.map(_("t_s").asInstanceOf[Double]).sum
      while (i < w.maxOps && spent < seconds) {
        once(i, i, withTrace = false)
        i += 1
      }
    } else {
      (0 until math.min(w.tracePairs, w.maxOps / 2)).foreach { p =>
        once(2 * p, p, withTrace = true)
        once(2 * p + 1, p, withTrace = false)
      }
      tracer.disable()
    }
    Phase.mark("ops", tOps)
    val tFinish = System.nanoTime()
    val state = w.finish()
    Phase.mark("finish", tFinish)
    val base = Map[String, Any](
      "workload" -> w.name, "cold_setup_s" -> setups.head._1, "setup_s" -> setups.tail.map(_._1),
      "setup_cpu_s" -> setups.tail.map(_._2), "setup_jit_cpu_s" -> setups.tail.map(_._3),
      "ops" -> ops.toSeq,
      "calib_spin_s" -> calib, "nproc" -> Runtime.getRuntime.availableProcessors(),
      "peak_rss_mb" -> peakRssMb(), "state" -> state)
    if (!traced) base
    else {
      val nTraced = ops.count(_("traced") == true).max(1)
      val layers = Workload.Layers.flatMap { l =>
        LayerStats.common(tracer, l).map { case (k, v) => s"$l.$k" -> v / nTraced }
      }.toMap ++ w.layerExtras(tracer, nTraced) + ("jvm.gc_s" -> gcTraced / nTraced)
      dumpSpans(tracer, spansPath)
      base ++ Map("layers" -> layers, "spans" -> spansPath)
    }
  }

  def dumpSpans(t: Tracer, path: String): Unit = {
    val f = new File(path)
    f.getParentFile.mkdirs()
    val out = new java.io.PrintWriter(f, "UTF-8")
    try t.spans.foreach { s =>
      out.println(mapper.writeValueAsString(toJava(Map(
        "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
        "op" -> s.op, "start_ms" -> t.epochMs(s.startNs), "end_ms" -> t.epochMs(s.endNs),
        "jobs" -> t.jobsOf.getOrElse(s.id, Nil).map(_.jobId)))))
    } finally out.close()
  }

  /** Wall seconds of the run's phases, for the run record. */
  object Phase {
    private val marks = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def mark(name: String, t0: Long): Unit = marks(name) = (System.nanoTime() - t0) / 1e9
    def all: Map[String, Double] = marks.toMap
  }

  def toJava(v: Any): AnyRef = v match {
    case null => null
    case m: Map[_, _] => m.map { case (k, x) => k.toString -> toJava(x) }.asJava
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case a: Array[_] => a.toSeq.map(toJava).asJava
    case d: Double => java.lang.Double.valueOf(d)
    case l: Long => java.lang.Long.valueOf(l)
    case i: Int => java.lang.Integer.valueOf(i)
    case b: Boolean => java.lang.Boolean.valueOf(b)
    case o: AnyRef => o
  }
}
