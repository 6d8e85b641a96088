package graft.operators

import graft.SparkSpec

/** Crash-injection harness for [[Commit]]'s contract: a writer runs once
  * crash-free over a copy of its fixture, which enumerates its own
  * mutating calls ([[CrashFs]]); then, on a fresh copy each time, it is
  * crashed at every one of those calls and once inside its staged
  * write. After each crash (and `recover`, for tables whose readers list
  * the table directly) every key of the artifact must read as its old
  * value or its new one, never neither; the keys are the parts that
  * commit separately (a table's partition leaves), one key for an
  * artifact that commits whole. Then the same writer runs again — the
  * replay — and must converge to the crash-free result. */
trait CrashSpec extends SparkSpec {
  spark.sparkContext.hadoopConfiguration.set("fs.crash.impl", classOf[CrashFs].getName)

  /** A fresh copy of the local directory `fixture`, addressed through the
    * crash scheme. */
  def crashCopy(fixture: String): String = {
    import java.nio.file.{Files, Paths}
    val (src, dst) = (Paths.get(fixture), Paths.get(tmpDir("graft-crash"), "a"))
    val tree = Files.walk(src)
    try tree.forEach(p => Files.copy(p, dst.resolve(src.relativize(p))))
    finally tree.close()
    s"crash://$dst"
  }

  /** Run the enumeration above; returns the writer's counted calls. */
  def everyCrash[K, V](fixture: String, read: String => Map[K, V],
      recover: String => Unit = (_: String) => (), taskWrite: Boolean = true)(
      write: String => Unit): Seq[String] = {
    val clean = crashCopy(fixture)
    val old = read(clean)
    val calls = CrashFs.calls(write(clean))
    val fresh = read(clean)
    assert(old != fresh, "the writer changed nothing")
    val points = calls.indices.map(i => Some(i + 1)) ++
      (if (taskWrite) Seq(None) else Nil)
    for (point <- points) {
      val what = point.fold("inside the staged write")(k => s"call ${calls(k - 1)}")
      val root = crashCopy(fixture)
      assert(point.fold(CrashFs.crashInTaskWrite(write(root)))(
        CrashFs.crashAt(_)(write(root))), s"no crash $what")
      recover(root)
      val mid = read(root)
      for (k <- old.keySet ++ fresh.keySet ++ mid.keySet)
        assert(mid.get(k) == old.get(k) || mid.get(k) == fresh.get(k),
          s"after a crash at $what, $k reads ${mid.get(k)}: neither old " +
            s"${old.get(k)} nor new ${fresh.get(k)}")
      write(root)
      assert(read(root) == fresh, s"the replay after a crash at $what diverged")
    }
    calls
  }
}
