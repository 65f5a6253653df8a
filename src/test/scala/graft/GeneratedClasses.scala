package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Counting and capturing the classes Spark compiles. Spark keeps the
  * classes it generates for whole-stage codegen, projections and
  * orderings in one JVM-wide cache (`spark.sql.codegen.cache.maxEntries`,
  * 100 by default, split into LRU segments), keyed by the generated
  * source and the compiling thread's class loader. A workload whose
  * plans need more entries than the cache holds, or whose generated
  * source carries a per-call value, recompiles classes on every call.
  */
trait GeneratedClasses { this: AnyFunSuite =>

  private val CodeGen = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"

  /** Empties Spark's generated-class cache: a private member of the
    * `CodeGenerator` object wrapping a shaded Guava cache, reached by
    * reflection.
    */
  def clearCodegenCache(): Unit = {
    val cg = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val m = cg.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    val cache = m.invoke(cg)
    val guava = cache.getClass.getMethod("cache").invoke(cache)
    Class.forName("org.sparkproject.guava.cache.Cache").getMethod("invalidateAll")
      .invoke(guava)
  }

  /** Classes compiled (generated-class cache misses) while `body` runs. */
  def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** The sources of the classes compiled while `body` runs, one per
    * compile: the `CodeGenerator` logger prints each one at DEBUG,
    * captured here without reaching the other appenders. The level is
    * set in the logger's configuration, so a reconfiguration while
    * `body` runs keeps it, and the capture must hold exactly as many
    * sources as [[compiles]] counts — a capture that missed compiles
    * would make any comparison of source sets pass vacuously.
    */
  def compiledSources(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{Configurator, Property}
    val sources = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("compiled-sources", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (m.contains(" generate(Object[] references)")) sources.add(m)
      }
    }
    val logger = LogManager.getLogger(CodeGen).asInstanceOf[Logger]
    val (level, additive) = (logger.getLevel, logger.isAdditive)
    appender.start()
    logger.addAppender(appender)
    logger.setAdditive(false)
    Configurator.setLevel(CodeGen, Level.DEBUG)
    val n = try compiles(body) finally {
      Configurator.setLevel(CodeGen, level)
      logger.setAdditive(additive)
      logger.removeAppender(appender)
      appender.stop()
    }
    import scala.jdk.CollectionConverters._
    val captured = sources.asScala.toSeq
    assert(captured.size == n,
      s"captured ${captured.size} generated sources but $n classes were compiled")
    captured
  }

  /** The first lines of each source, for a failure message. */
  def heads(sources: Iterable[String]): String =
    sources.map(_.linesIterator.take(12).mkString("\n")).mkString("\n---\n")
}
