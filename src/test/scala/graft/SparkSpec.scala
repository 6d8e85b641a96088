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
}

object SparkSpec {
  lazy val session: SparkSession = Session(4)
}
