package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession per suite (one JVM-wide session; Spark reuses
  * the active one across suites). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
  /** A fresh empty scratch directory under the per-JVM [[Artifacts]] root,
    * deleted with it when the JVM exits. */
  def tmpDir(prefix: String): String = Artifacts.scratch(prefix)

  /** The job descriptions of the Spark jobs `body` starts. */
  def jobsOf(body: => Unit): Seq[Option[String]] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(Option(js.properties.getProperty(Artifacts.Description)))
    }
    spark.sparkContext.addSparkListener(l)
    try { body; org.apache.spark.sql.GraftBridge.drainListenerBus(spark) }
    finally spark.sparkContext.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }
}

object SparkSpec {
  lazy val session: SparkSession = Session(4)
}
