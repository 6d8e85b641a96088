package graft

/** Dev tool: dump `.explain("formatted")` for named queries to files —
  * the plans/rNN/<query>_{before,after}.txt evidence the optimization
  * rounds commit (the judge checks plan claims against these).
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> <query1,query2,...> [sfDir]
  * Writes <outDir>/<query>_<suffix>.txt per query. Short codes accepted.
  * Expression and plan ids are written as `#n` / `plan_id=n`: they count
  * up per session, so two dumps of one plan would otherwise differ in
  * them alone; so do lambda class names, written as `$$Lambda`. The first
  * line counts the Spark jobs the query's construction ran (fits, guard
  * probes) before any action on the result, with the builds of shared
  * [[Artifacts]] (jobs tagged `artifact:`) counted apart, per artifact:
  * those fall to whichever query of the dump needs an artifact first, so
  * queries run in the order given.
  */
object PlanDump {
  import scala.jdk.CollectionConverters._

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    // in the order given: the first query to need a shared artifact builds it
    val sel = args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      .flatMap(n => SparkEntry.select(Seq(n)))
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val spark = Session()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    // per job: the artifact whose build ran it, if any
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(Artifacts.builtBy(js))
    })
    sel.foreach { case (name, fn) =>
      try {
        jobs.clear()
        val df = fn(spark, sfDir)
        org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
        val (built, own) = jobs.asScala.toSeq.partition(_.isDefined)
        val perArtifact = built.flatten.groupBy(identity).toSeq.sortBy(_._1)
          .map { case (a, js) => s"$a ${js.size}" }
        val txt = s"construction jobs: ${own.size} (artifact builds: ${built.size}" +
          (if (built.isEmpty) "" else perArtifact.mkString(": ", ", ", "")) + ")\n" +
          withoutIds(df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
          txt.getBytes("UTF-8"))
        println(s"[plandump] wrote $name")
      } catch { case e: Throwable =>
        println(s"[plandump] FAILED $name: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }

  private[graft] def withoutIds(plan: String): String =
    plan.replaceAll("#\\d+", "#n").replaceAll("plan_id=\\d+", "plan_id=n")
      .replaceAll("\\$\\$Lambda[$/\\w]*@\\w+", "\\$\\$Lambda")
}
