package graft

import java.util.concurrent.{ConcurrentHashMap, ExecutionException, FutureTask}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.SparkSession

/** The one owner of the query surface's derived artifacts: partitioned and
  * merged layouts, stored indexes, fitted models, LM gates and replayed
  * truth rows. Each is built once per (name, data dir) per JVM and then
  * shared by every query that needs it. A directory artifact is read
  * fresh from disk by every query run, so the read path under test is the
  * real scan of the stored layout, not a cache effect; a value artifact
  * (a driver-side fit or collected rows) survives
  * `spark.catalog.clearCache()`.
  *
  * The contract, for both entry points:
  *  - the map only installs a per-key holder; the build runs outside any
  *    map lock, so a build may request other keys (nested builds), and two
  *    concurrent callers of one key build it once. A build must not
  *    request its own key;
  *  - a build that throws drops its holder (and its directory) before the
  *    error reaches any caller, so a later call builds again and a failed
  *    build is never served;
  *  - build jobs run under `spark.job.description = artifact:<name>`, and
  *    the caller's own description is restored afterwards;
  *  - every directory lives under one temp root per JVM, deleted when the
  *    JVM exits (a killed JVM leaves it behind). Every entry point runs
  *    one session per JVM, so the per-JVM scope is the session's.
  */
object Artifacts {
  /** The local property Spark shows as a job's description, and the
    * prefix it carries on artifact build jobs. */
  private[graft] val Description = "spark.job.description"
  private[graft] val Tag = "artifact:"

  /** The artifact whose build ran `job`, if any. */
  private[graft] def builtBy(job: org.apache.spark.scheduler.SparkListenerJobStart): Option[String] =
    Option(job.properties).flatMap(p => Option(p.getProperty(Description)))
      .filter(_.startsWith(Tag)).map(_.stripPrefix(Tag))

  private val cells = new ConcurrentHashMap[(String, String), FutureTask[Any]]()
  private val seq = new AtomicLong()

  private[graft] lazy val root: java.nio.file.Path = {
    val r = java.nio.file.Files.createTempDirectory("graft-")
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(r.toFile))
    r
  }

  /** A fresh empty directory `<root>/<prefix>-<n>`: the scratch space of
    * one build (and of one spec fixture). */
  private[graft] def scratch(prefix: String): String =
    java.nio.file.Files.createDirectory(
      root.resolve(s"$prefix-${seq.incrementAndGet()}")).toString

  /** The artifact `name` of `dataDir`: a value computed by `build` on its
    * first request. */
  def value[T](spark: SparkSession, name: String, dataDir: String)(build: => T): T = {
    val key = (name, dataDir)
    val task = new FutureTask[Any](() =>
      try tagged(spark, name)(build)
      catch { case e: Throwable => cells.remove(key); throw e })
    val cell = Option(cells.putIfAbsent(key, task)).getOrElse { task.run(); task }
    try cell.get().asInstanceOf[T]
    catch { case e: ExecutionException => throw e.getCause }
  }

  /** The directory artifact `name` of `dataDir`: `build` fills a fresh
    * empty directory, whose path is returned. */
  def dir(spark: SparkSession, name: String, dataDir: String)(
      build: String => Unit): String =
    value(spark, name, dataDir) {
      val d = scratch(name)
      try { build(d); d }
      catch { case e: Throwable =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)); throw e }
    }

  private def tagged[T](spark: SparkSession, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prior = sc.getLocalProperty(Description)
    sc.setJobDescription(Tag + name)
    try body finally sc.setLocalProperty(Description, prior)
  }
}
