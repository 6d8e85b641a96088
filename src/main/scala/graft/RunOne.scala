package graft

/** Dev tool: run a single registered query with timing and optional plan.
  * Usage: runMain graft.RunOne <queryName|shortCode> [sfDir] [explain]
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val (name, fn) = SparkEntry.select(Seq(args(0))).head
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val doExplain = args.contains("explain")
    val spark = Session()
    // diagnostic runtime conf overrides: SPARK_GRAFT_CONF="key=value;key=value"
    // (set on the built session, so a static key fails loud)
    sys.env.getOrElse("SPARK_GRAFT_CONF", "")
      .split(";").map(_.trim).filter(_.contains("="))
      .foreach { kv => val i = kv.indexOf('='); spark.conf.set(kv.take(i), kv.drop(i + 1)) }
    // Optional job profile (SPARK_GRAFT_PROFILE=1): per-job wall time +
    // description — the attribution tool for "where do an eager operator's
    // seconds go" (checkpoint rounds vs convergence probes vs AQE stages).
    val profile = sys.env.get("SPARK_GRAFT_PROFILE").contains("1")
    val jobLog = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    if (profile) spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val desc = Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .orElse(Option(js.properties)
              .flatMap(p => Option(p.getProperty("callSite.short"))))
            .orElse(js.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n')))
            .getOrElse("") +
            js.stageInfos.map(si => si.name.takeWhile(_ != '\n'))
              .distinct.mkString(" | [", "; ", "]")
          jobLog.put(js.jobId, (js.time, desc))
        }
        override def onJobEnd(
            je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          Option(jobLog.get(je.jobId)).foreach { case (t0, desc) =>
            println(f"[job] id=${je.jobId}%4d ${(je.time - t0) / 1e3}%7.3fs  $desc")
          }
        }
      })
    // warm-up: JVM + file-source init so the timing isolates the query
    spark.range(100).count()
    // Time construction + count together, like Bench does — operators with
    // eager driver-side loops (e.g. Components.connected) spend their time
    // in fn(), not in count().
    val t0 = System.nanoTime()
    val df = fn(spark, sfDir)
    val n = df.count()
    val dt = (System.nanoTime() - t0) / 1e9
    if (doExplain) df.explain("formatted")
    if (args.contains("show")) df.show(50, truncate = false)
    println(f"[runone] $name rows=$n time=$dt%.2fs")
    val t1 = System.nanoTime()
    val n2 = fn(spark, sfDir).count()
    println(f"[runone] $name warm rows=$n2 time=${(System.nanoTime() - t1) / 1e9}%.2fs")
    spark.stop()
  }
}
