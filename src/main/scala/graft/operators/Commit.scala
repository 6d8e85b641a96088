package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one commit protocol for stored artifacts. Every writer that adds
  * or replaces committed state — [[Merge]]'s partition leaves (and so
  * [[Compaction]], [[Scd]], [[Ivm]]), [[Generations]]' generations and
  * batch directories, [[Snapshot]] versions, [[FileManifest]]'s manifest
  * and stamps, the stream sinks' state and markers — takes three steps:
  *
  *   - '''stage''': recover (below), then write the new copy into the
  *     dot-prefixed sibling `.<name>.inprogress`, hidden from Spark's
  *     listings and from every artifact's own;
  *   - '''publish''': rename an existing target aside to the hidden
  *     sibling `.<name>.old`, rename the staged copy in, drop the aside;
  *   - '''resolve''' / '''recover''': a reader takes the target, or its
  *     aside when a crash fell between the two renames. A writer first
  *     recovers: a swap that had begun (its aside exists) is rolled
  *     forward — the staged copy is complete, since staging ends before
  *     the first rename — and only then is staging cleared, so a staged
  *     copy whose swap never began is discarded, never published.
  *
  * Crash contract: every crash point leaves the new copy, the old one, or
  * both on disk, so a resolving reader sees old or new state and never
  * neither, and a replay after [[recover]] converges to the crash-free
  * result. What must commit together (state and its replay ledger, a
  * manifest and its stamp, a generation and its component stamps) lives
  * inside ONE published directory, so one rename commits all of it.
  *
  * Assumes one writer per target and a filesystem whose rename is atomic
  * (local, HDFS); object stores, where rename is a copy, are out of scope.
  */
object Commit {

  /** Where `target` is staged: the hidden sibling `.<name>.inprogress`. */
  def staging(target: String): String = sibling(target, "inprogress")

  /** Where a published `target` waits while its replacement renames in. */
  def aside(target: String): String = sibling(target, "old")

  private def sibling(target: String, tag: String): String = {
    val t = new Path(target)
    new Path(t.getParent, s".${t.getName}.$tag").toString
  }

  private[graft] def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def rename(fs: FileSystem, from: Path, to: Path): Unit =
    require(fs.rename(from, to), s"commit: rename $from -> $to failed")

  /** Stage `target` (`write` fills the staging path it is given), then
    * [[publish]] it. */
  def replace(spark: SparkSession, target: String)(write: String => Unit): Unit = {
    recover(spark, target)
    write(staging(target))
    publish(spark, staging(target), target)
  }

  /** Swap the complete copy at `staged` in as `target`, whose parent
    * directory must exist: it does when `staged` is the sibling
    * [[staging]] path. Like [[recover]], deletes only paths that exist:
    * an HDFS delete takes the NameNode's write lock even when it finds
    * nothing. */
  def publish(spark: SparkSession, staged: String, target: String): Unit = {
    val (s, t, a) = (new Path(staged), new Path(target), new Path(aside(target)))
    val f = fs(spark, target)
    val replacing = f.exists(t)
    if (replacing) {
      if (f.exists(a)) f.delete(a, true) // left by a swap that completed: `t` is committed
      rename(f, t, a)
    }
    rename(f, s, t)
    if (replacing) f.delete(a, true)
  }

  /** The committed copy of `target`: the target itself, or its aside when
    * a crash fell between the two renames of a [[publish]]. */
  def resolve(spark: SparkSession, target: String): String = {
    val f = fs(spark, target)
    if (!f.exists(new Path(target)) && f.exists(new Path(aside(target))))
      aside(target)
    else target
  }

  /** [[recover]] with `target`'s own staging path. */
  def recover(spark: SparkSession, target: String): Unit =
    recover(spark, staging(target), target)

  /** Make a crashed attempt's state concrete before anything reads or
    * restages `target`: a begun swap (aside present) is finished — the
    * copy at `staged` renames in, or the aside back if nothing was staged
    * — then the aside and the staged copy are dropped. */
  def recover(spark: SparkSession, staged: String, target: String): Unit = {
    val (s, t, a) = (new Path(staged), new Path(target), new Path(aside(target)))
    val f = fs(spark, target)
    if (f.exists(a)) {
      if (f.exists(t)) f.delete(a, true)
      else if (f.exists(s)) { rename(f, s, t); f.delete(a, true) }
      else rename(f, a, t)
    }
    if (f.exists(s)) f.delete(s, true)
  }
}
