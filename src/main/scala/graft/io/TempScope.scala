package graft.io

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Dataset, SparkSession}

/** The one owner of scratch lifetime. Scratch lives for exactly one of
  * two spans:
  *
  *  - [[TempScope.perCall]] — one evaluation. The body gets a fresh
  *    scope: a dir under `java.io.tmpdir` (created on first use) and
  *    session catalog names. A Dataset result is materialized once
  *    ([[Sinks.materialized]]) and then the dir and every name go, on
  *    failure too. A soak-looped bench (warm-up plus timed passes per
  *    query) thereby accumulates nothing, and the returned relation
  *    holds no lineage on deleted files or dropped names.
  *  - [[TempScope.perApp]] — one application. One dir per
  *    (application, owner tag, key), built on first touch and reused
  *    by every later call: the lifetime of a standing index or a
  *    staged table. Keyed by application id so a new SparkSession in
  *    the same JVM rebuilds rather than reusing a stopped session's
  *    files; deleted when the JVM exits.
  */
final class TempScope private (tag: String) {
  private var dir: String = _
  private val names = scala.collection.mutable.ArrayBuffer.empty[String]

  /** This call's scratch dir, created on first use. */
  def root: String = synchronized {
    if (dir == null) dir = TempScope.fresh(tag)
    dir
  }

  /** `sub` under [[root]]. */
  def path(sub: String): String = s"$root/$sub"

  /** A session catalog name unique to this call — a temp view or a
    * table — dropped when the call ends.
    */
  def name(prefix: String): String = synchronized {
    val n = s"${prefix}_${TempScope.ids.incrementAndGet()}"
    names += n
    n
  }

  private def close(): Unit = synchronized {
    if (names.nonEmpty) {
      val spark = SparkSession.active
      names.foreach { n =>
        if (!spark.catalog.dropTempView(n)) spark.sql(s"DROP TABLE IF EXISTS $n")
      }
    }
    if (dir != null) FileUtils.deleteQuietly(new File(dir))
  }
}

object TempScope {

  private val ids = new AtomicLong()

  private def fresh(tag: String): String =
    Files.createTempDirectory(s"graft_$tag").toString

  /** Run `body` in a fresh per-call scope; a Dataset result is
    * materialized before the scope's scratch is removed, any other
    * result is returned as is.
    */
  def perCall[T](tag: String)(body: TempScope => T): T = {
    val scope = new TempScope(tag)
    try body(scope) match {
      case ds: Dataset[_] => Sinks.materialized(ds).asInstanceOf[T]
      case other => other
    } finally scope.close()
  }

  /** One application-lifetime dir: `build` runs once on a not yet
    * existing child of a fresh owned dir, so the siblings an in-place
    * rewrite keeps beside its root (the relayout trash) stay inside
    * what the exit hook deletes. A failed build deletes the owned dir
    * and is retried by the next call. Concurrent callers of one key
    * wait for its single build; distinct keys build independently.
    */
  private final class AppDir(tag: String, build: String => Unit) {
    lazy val dir: String = {
      val owned = fresh(tag)
      try build(s"$owned/$tag")
      catch { case e: Throwable => FileUtils.deleteQuietly(new File(owned)); throw e }
      appDirs.add(owned)
      s"$owned/$tag"
    }
  }

  private val apps = new ConcurrentHashMap[(String, String, String), AppDir]()
  private val appDirs = ConcurrentHashMap.newKeySet[String]()
  private lazy val exitHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      appDirs.forEach(d => FileUtils.deleteQuietly(new File(d)))))

  /** The dir `build` filled for (this application, `tag`, `key`),
    * building it on first touch.
    */
  def perApp(spark: SparkSession, key: String, tag: String)(build: String => Unit): String = {
    exitHook
    apps.computeIfAbsent((spark.sparkContext.applicationId, tag, key),
      _ => new AppDir(tag, build)).dir
  }
}
