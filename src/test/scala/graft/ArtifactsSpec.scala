package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

class ArtifactsSpec extends SparkSpec {
  private val data = "artifacts-spec"

  private def write(dir: String, text: String): Unit =
    Files.write(Paths.get(dir, "v.txt"), text.getBytes("UTF-8"))
  private def read(dir: String): String =
    new String(Files.readAllBytes(Paths.get(dir, "v.txt")), "UTF-8")

  /** The job descriptions of the Spark jobs `body` starts. */
  private def jobsOf(body: => Unit): Seq[Option[String]] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        seen.add(Option(js.properties.getProperty(Artifacts.Description)))
    }
    spark.sparkContext.addSparkListener(l)
    try { body; org.apache.spark.sql.GraftBridge.drainListenerBus(spark) }
    finally spark.sparkContext.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }

  test("a build that requests another key's build returns both") {
    val outer = Artifacts.dir(spark, "outer", data) { d =>
      val inner = Artifacts.value(spark, "inner", data)(41)
      val innerDir = Artifacts.dir(spark, "inner-dir", data)(write(_, "x"))
      write(d, s"${inner + 1}${read(innerDir)}")
    }
    assert(read(outer) == "42x")
    assert(Artifacts.value[Int](spark, "inner", data)(sys.error("rebuilt")) == 41)
  }

  test("two concurrent callers of one key run the build once") {
    val builds = new AtomicInteger
    val release = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val calls = Seq.fill(2)(pool.submit(() => Artifacts.value(spark, "shared", data) {
        builds.incrementAndGet(); release.await(); "v"
      }))
      Thread.sleep(300)
      release.countDown()
      assert(calls.map(_.get(60, TimeUnit.SECONDS)) == Seq("v", "v"))
      assert(builds.get == 1)
    } finally pool.shutdown()
  }

  test("a failing build rethrows, leaves nothing under the root, and the next call rebuilds") {
    val e = intercept[IllegalStateException] {
      Artifacts.dir(spark, "failing", data) { d =>
        write(d, "half"); throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    val left = Artifacts.root.toFile.list().filter(_.startsWith("failing-"))
    assert(left.isEmpty, left.mkString(", "))
    assert(read(Artifacts.dir(spark, "failing", data)(write(_, "whole"))) == "whole")
  }

  test("build jobs carry artifact:<name>, and the caller's description is restored") {
    val sc = spark.sparkContext
    sc.setJobDescription("caller")
    try {
      val descs = jobsOf {
        Artifacts.value(spark, "counted", data)(spark.range(10).count())
        spark.range(5).count()
      }
      assert(descs.head.contains("artifact:counted"))
      assert(descs.last.contains("caller"))
      assert(sc.getLocalProperty(Artifacts.Description) == "caller")
    } finally sc.setJobDescription(null)
  }

  test("a second call of a built key starts no Spark job") {
    def build() = Artifacts.dir(spark, "once", data) { d =>
      spark.range(3).write.parquet(s"$d/t")
    }
    val first = build()
    var second = ""
    assert(jobsOf { second = build() }.isEmpty)
    assert(second == first)
  }
}
