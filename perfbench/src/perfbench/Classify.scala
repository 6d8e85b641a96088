package perfbench

/** Sorts a Spark job into the layer that caused it, from the op phase it ran
  * in and the job's call site (Spark names a stage
  * `<method> at <File>.scala:<line>`, e.g. `parquet at Tables.scala:44`; a
  * job's call site is the name of its result stage, see [[jobCallSite]]).
  * `DataFrameReader.parquet` and `DataFrameWriter.parquet` share a method
  * name, so a job whose stages wrote output is never a read.
  *
  *  - In the `build` phase (the call `queries(n)(spark, dir)`), a reader call
  *    site is schema inference (`tables.infer`), a `checkpoint` or
  *    `localCheckpoint` call site is an operator loop's checkpoint
  *    (`operators.checkpoint`), and anything else is another build job
  *    (`build.other`).
  *  - In the `action` phase every job is the action's (`action`).
  *  - In an ingest phase (`prepare`, `core`, `merge`, `sink`, `readback`) a
  *    reader call site is `<phase>.infer`, and anything else is `<phase>`.
  *
  * Jobs that AQE or a broadcast launches from a pool thread carry call sites
  * such as `... at CompletableFuture.java:1768`; they match no rule and so
  * belong to the phase that encloses them.
  */
object Classify {
  val Infer = "tables.infer"
  val Checkpoint = "operators.checkpoint"
  val OtherBuild = "build.other"
  val Action = "action"

  private val readerMethods =
    Set("parquet", "load", "json", "csv", "orc", "text", "textFile", "table")
  private val checkpointMethods = Set("checkpoint", "localCheckpoint")

  /** A job's call site: the name of its result stage, which is the stage
    * with the highest id, as Spark's own status listener names jobs. The
    * lowest id is no good: under AQE a job's lower stages are map stages AQE
    * already ran from a pool thread, named `... at CompletableFuture.java`.
    */
  def jobCallSite(stages: Seq[(Int, String)]): String =
    if (stages.isEmpty) "" else stages.maxBy(_._1)._2

  /** The method half of a call site: `parquet at Tables.scala:44` → `parquet`. */
  def method(callSite: String): String = {
    val i = callSite.indexOf(" at ")
    if (i < 0) "" else callSite.substring(0, i).trim
  }

  def isRead(callSite: String, wrote: Boolean): Boolean =
    !wrote && readerMethods(method(callSite))

  def apply(phase: String, callSite: String, wrote: Boolean = false): String = phase match {
    case "build" =>
      if (isRead(callSite, wrote)) Infer
      else if (checkpointMethods(method(callSite))) Checkpoint
      else OtherBuild
    case "action" => Action
    case p => if (isRead(callSite, wrote)) s"$p.infer" else p
  }
}
