package perfbench

/** Unit test of the job classifier and of the interval arithmetic behind the
  * self times. Call sites are names Spark recorded for this program's jobs.
  * The last case runs a small local Spark job through [[Recorder]], so that
  * the naming of real jobs is tested too.
  * Run with `python3 perfbench/run.py --selftest`; exits 1 on a failure. */
object ClassifyTest {
  private var failures = 0

  private def check[A](what: String, got: A, want: A): Unit =
    if (got != want) {
      failures += 1
      println(s"FAIL $what: got $got, want $want")
    } else println(s"ok   $what")

  def main(args: Array[String]): Unit = {
    // schema inference of a table read during build
    check("build parquet read", Classify("build", "parquet at Tables.scala:44"), Classify.Infer)
    check("build events read", Classify("build", "parquet at Tables.scala:22"), Classify.Infer)
    // an operator loop's eager checkpoints
    check("build localCheckpoint",
      Classify("build", "localCheckpoint at Components.scala:126"), Classify.Checkpoint)
    check("build checkpoint", Classify("build", "checkpoint at Graph.scala:357"),
      Classify.Checkpoint)
    // other driver-side jobs before the action
    check("build count", Classify("build", "count at Dedup.scala:210"), Classify.OtherBuild)
    check("build collect", Classify("build", "collect at ClosureStore.scala:88"),
      Classify.OtherBuild)
    // a write shares DataFrameReader.parquet's method name but is not a read
    check("build write", Classify("build", "parquet at ClosureStore.scala:140", wrote = true),
      Classify.OtherBuild)
    // AQE and broadcast jobs run on pool threads and belong to the enclosing phase
    val aqe = "$anonfun$withThreadLocalCaptured$1 at CompletableFuture.java:1768"
    check("AQE job in action", Classify("action", aqe), Classify.Action)
    check("AQE job in build", Classify("build", aqe), Classify.OtherBuild)
    check("AQE job in merge", Classify("merge", aqe), "merge")
    // every job of the action is the action's, whatever its call site
    check("action collect", Classify("action", "collect at Fingerprint.scala:40"),
      Classify.Action)
    check("action reader", Classify("action", "parquet at Tables.scala:44"), Classify.Action)
    // ingest phases
    check("merge read", Classify("merge", "parquet at Merge.scala:142"), "merge.infer")
    check("merge write", Classify("merge", "parquet at Merge.scala:119", wrote = true), "merge")
    check("readback read", Classify("readback", "parquet at Workloads.scala:96"),
      "readback.infer")
    check("core count", Classify("core", "count at Workloads.scala:81"), "core")
    check("no call site", Classify("build", ""), Classify.OtherBuild)

    // a job is named by its result stage, not by a lower map stage AQE ran
    val aqeMap = "$anonfun$withThreadLocalCaptured$1 at CompletableFuture.java:1768"
    check("job call site is the result stage's",
      Classify.jobCallSite(Seq(7 -> aqeMap, 9 -> "localCheckpoint at Components.scala:126",
        8 -> aqeMap)), "localCheckpoint at Components.scala:126")
    check("job call site of a one-stage job",
      Classify.jobCallSite(Seq(3 -> "parquet at Tables.scala:44")), "parquet at Tables.scala:44")
    check("job call site of no stages", Classify.jobCallSite(Nil), "")

    liveCheckpoint()

    // self-time arithmetic
    check("covered union", Intervals.covered(Seq((0L, 10L), (5L, 20L), (30L, 40L))), 30L)
    check("covered empty", Intervals.covered(Nil), 0L)
    val split = Intervals.split(Seq(("a", 0L, 10L), ("b", 5L, 15L)))
    check("split shares", split, Map("a" -> 7.5, "b" -> 7.5))
    check("split sums to covered", split.values.sum, 15.0)

    if (failures > 0) {
      println(s"$failures failure(s)")
      sys.exit(1)
    }
    println("all classifier tests passed")
  }

  /** An eager `localCheckpoint` of an aggregate: AQE first runs the shuffle's
    * map stage as a job of its own, so the checkpoint's job holds that
    * skipped map stage under a lower id. The recorded job must still be
    * classified as a checkpoint. */
  private def liveCheckpoint(): Unit = {
    import org.apache.spark.sql.functions.col
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val rec = new Recorder
      spark.sparkContext.addSparkListener(rec)
      spark.range(0, 10000, 1, 4).groupBy(col("id") % 7).count().localCheckpoint(true)
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      val jobs = rec.take().jobs
      val ckpt = jobs.filter(j => Classify("build", j.callSite) == Classify.Checkpoint)
      check("live: one checkpoint job", ckpt.size, 1)
      check("live: it holds the skipped map stage", ckpt.exists(_.stageIds.size >= 2), true)
      check("live: the map stage ran as a job of its own",
        jobs.count(j => Classify("build", j.callSite) == Classify.OtherBuild) >= 1, true)
    } finally spark.stop()
  }
}
