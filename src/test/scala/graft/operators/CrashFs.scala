package graft.operators

import java.net.URI
import java.util.EnumSet
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{CreateFlag, FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Crash injection for the commit protocol: the local filesystem under
  * the `crash://` scheme (register with `fs.crash.impl`), which throws
  * [[CrashFs.Crash]] INSTEAD of performing the k-th mutating call
  * (create, rename, delete, mkdirs) of an armed run — the call never
  * happens, exactly as if the process had died before it. Calls on paths
  * under Spark's `_temporary` (task output and its job-commit moves) are
  * not counted; [[CrashFs.crashInTaskWrite]] instead fails the first
  * task-side file create, a crash inside a staged write. A call the
  * filesystem makes internally (a create making its parent directories)
  * is part of the outer call and not counted again. */
class CrashFs extends RawLocalFileSystem {
  import CrashFs.step

  override def getUri: URI = URI.create("crash:///")
  override def getScheme: String = "crash"

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    step("create", f)(super.create(f, overwrite, bufferSize, replication,
      blockSize, progress))

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    step("create", f)(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))

  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    step("create", f)(super.createNonRecursive(f, permission, flags,
      bufferSize, replication, blockSize, progress))

  override def createNonRecursive(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    step("create", f)(super.createNonRecursive(f, permission, overwrite,
      bufferSize, replication, blockSize, progress))

  override def rename(src: Path, dst: Path): Boolean =
    step("rename", src, dst)(super.rename(src, dst))

  override def delete(p: Path, recursive: Boolean): Boolean =
    step("delete", p)(super.delete(p, recursive))

  override def mkdirs(p: Path): Boolean = step("mkdirs", p)(super.mkdirs(p))

  override def mkdirs(p: Path, permission: FsPermission): Boolean =
    step("mkdirs", p)(super.mkdirs(p, permission))
}

object CrashFs {

  final class Crash(what: String) extends java.io.IOException(s"injected crash: $what")

  private val counted = new AtomicInteger()
  @volatile private var armed = false
  @volatile private var crashAt = 0 // 0: count only
  @volatile private var crashTask = false
  @volatile private var fired = false
  private val depth = new ThreadLocal[Int] { override def initialValue(): Int = 0 }
  private val log = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  private def underTemporary(p: Path): Boolean =
    p.toUri.getPath.split('/').contains("_temporary")

  private def step[T](op: String, paths: Path*)(call: => T): T = {
    val outer = depth.get == 0
    depth.set(depth.get + 1)
    try {
      if (outer && armed) {
        val what = s"$op ${paths.mkString(" -> ")}"
        if (!paths.exists(underTemporary)) {
          val n = counted.incrementAndGet()
          log.add(s"$n: $what")
          if (n == crashAt) { fired = true; armed = false; throw new Crash(what) }
        } else if (crashTask && op == "create") {
          fired = true; armed = false; throw new Crash(what)
        }
      }
      call
    } finally depth.set(depth.get - 1)
  }

  private def arm(k: Int, task: Boolean): Unit = {
    counted.set(0); log.clear()
    crashAt = k; crashTask = task; fired = false; armed = true
  }

  /** The counted mutating calls `body` makes, in order. */
  def calls(body: => Unit): Seq[String] = {
    arm(0, task = false)
    try body finally armed = false
    log.toArray(Array.empty[String]).toSeq
  }

  /** Run `body`, crashing its `k`-th counted call; false when `body`
    * finished without reaching it. A `body` that swallows the crash and
    * carries on is an error: a crashed writer does not continue. */
  def crashAt(k: Int)(body: => Unit): Boolean = crashed(k, task = false)(body)

  /** Run `body`, crashing its first task-side file create. */
  def crashInTaskWrite(body: => Unit): Boolean = crashed(0, task = true)(body)

  private def crashed(k: Int, task: Boolean)(body: => Unit): Boolean = {
    arm(k, task)
    val threw = try { body; false }
      catch { case _: Throwable if fired => true }
      finally armed = false
    if (fired && !threw)
      throw new AssertionError("the writer swallowed an injected crash")
    fired
  }
}
