package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: a single-process, single-client, closed-loop
  * driver. It builds its session as `graft.Bench` does, runs one untimed
  * warm-up pass, then times whole passes of the workload's ops, checks the
  * output of every op, and prints a stamp line and the result line.
  *
  * Usage (normally through `run.py`):
  * {{{
  * perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --expected FILE --work DIR --out DIR
  * }}}
  */
object Main {
  private val mainStartNs = System.nanoTime()

  final case class OpRecord(op: Int, pass: Int, name: String, wallS: Double, ok: Boolean,
      items: Long, detail: String, phases: Seq[(String, Double)],
      layers: Map[String, Double], self: Map[String, Double], liveHeapMb: Double)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val out = Paths.get(a("out"))
    val work = Paths.get(a("work"))
    val cpus = Runtime.getRuntime.availableProcessors()
    val expected = Expected.load(Paths.get(a("expected")))
    Files.createDirectories(out)
    val load0 = Stamp.loadavg()
    val cpu0 = Stamp.cpuTicks()
    val jvmStartS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0 -
      (System.nanoTime() - mainStartNs) / 1e9

    // The session exactly as graft.Bench builds it (Bench.scala:50-63).
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionStartS = (System.nanoTime() - t0) / 1e9
    val sc = spark.sparkContext

    val recorder = if (traced) {
      val r = new Recorder
      sc.addSparkListener(r)
      spark.listenerManager.register(r)
      Some(r)
    } else None
    val spans = new SpanLog
    val runStartUs = Clock.us()

    val wl = Workloads(workload, seed, a("data"), expected, work)
    var opId = 0
    val records = mutable.ArrayBuffer.empty[OpRecord]

    /** Runs one op inside its span; returns its record. */
    def runOp(op: Op, pass: Int): OpRecord = {
      opId += 1
      val id = opId
      val phases = mutable.ArrayBuffer.empty[(String, Long, Long)]
      val phaser = new Phases {
        def apply[A](name: String)(f: => A): A = {
          if (traced) {
            sc.setLocalProperty(Recorder.OpKey, id.toString)
            sc.setLocalProperty(Recorder.PhaseKey, name)
          }
          val s = Clock.us()
          try f finally phases += ((name, s, Clock.us()))
        }
      }
      val gc0 = Stamp.gcSeconds()
      val s0 = System.nanoTime()
      val outcome =
        try op.run(spark, phaser)
        catch { case e: Throwable =>
          Outcome(ok = false, items = 0L, detail = s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      val s1 = System.nanoTime()
      val gc = Stamp.gcSeconds() - gc0
      if (traced) {
        sc.setLocalProperty(Recorder.OpKey, null)
        sc.setLocalProperty(Recorder.PhaseKey, null)
      }
      val wall = (s1 - s0) / 1e9
      val (layers, self) = recorder match {
        case Some(r) =>
          org.apache.spark.perfbench.Bus.drain(sc)
          val ev = r.take()
          val extra = try op.traceCounts() catch { case _: Throwable => Map.empty[String, Double] }
          org.apache.spark.perfbench.Bus.drain(sc)
          r.take() // the jobs of traceCounts belong to no op
          val f = new Fold(id, op.name, Clock.fromNs(s0), Clock.fromNs(s1), phases.toSeq,
            ev, spans)
          (f.layers ++ outcome.counts ++ extra + ("jvm.gc_s" -> gc), f.self)
        case None => (outcome.counts + ("jvm.gc_s" -> gc), Map.empty[String, Double])
      }
      // Between ops, outside their time: release what the op cached and
      // collect, as graft.Bench does between runs, so one op's garbage and
      // deferred cleanup do not land in the next op's time. The heap that
      // survives the collection is the op's live set.
      try op.cleanup(spark) catch { case _: Throwable => () }
      val live = Stamp.liveHeapMb()
      OpRecord(id, pass, op.name, wall, outcome.ok, outcome.items, outcome.detail,
        phases.toSeq.map(p => p._1 -> (p._3 - p._2) / 1e6), layers, self, live)
    }

    // Set-up: the workload's own preparation, then one untimed warm-up pass.
    // Its ops are independent and run on `cpus` threads at once: a cold op
    // is mostly single-threaded driver work (class loading, codegen, JIT),
    // so this warms the same code in a fraction of the time; what the ops
    // cached is released only when all of them are done.
    val w0 = System.nanoTime()
    wl.prepare(spark)
    val warmOps = wl.pass(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(cpus, warmOps.size))
    val untimed = new Phases { def apply[A](name: String)(f: => A): A = f }
    val warm = try warmOps.map { op =>
      pool.submit(new java.util.concurrent.Callable[OpRecord] {
        def call(): OpRecord = {
          val s0 = System.nanoTime()
          val o = try op.run(spark, untimed)
            catch { case e: Throwable => Outcome(ok = false, items = 0L, detail = e.toString) }
          OpRecord(0, 0, op.name, (System.nanoTime() - s0) / 1e9, o.ok, o.items, o.detail,
            Nil, Map.empty, Map.empty, 0.0)
        }
      })
    }.map(_.get()) finally pool.shutdown()
    warmOps.foreach(op => try op.cleanup(spark) catch { case _: Throwable => () })
    val jitWaitS = Stamp.awaitCompiler()
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = jvmStartS + sessionStartS + warmS
    recorder.foreach { r => org.apache.spark.perfbench.Bus.drain(sc); r.take() }

    // Timed phase: a fixed number of whole passes for the run length, so
    // that every run of a workload measures the same work.
    val passes = math.max(1, math.round(seconds / wl.nominalPassS).toInt)
    for (pass <- 1 to passes) wl.pass(pass).foreach(op => records += runOp(op, pass))
    // closed loop: the timed phase is the ops back to back, without the
    // harness's work between them
    val timedS = records.map(_.wallS).sum
    val load1 = Stamp.loadavg()
    val otherCpu = Stamp.otherCores(cpu0, Stamp.cpuTicks())

    val attempted = records.size
    val failed = records.count(!_.ok)
    val lat = records.map(_.wallS).toSeq
    val endToEnd = Seq(
      "setup_s" -> (setupS, "s"),
      "ops_per_s" -> (attempted / timedS, "1/s"),
      "op_p50_s" -> (Stats.quantile(lat, 0.5), "s"),
      "op_p90_s" -> (Stats.quantile(lat, 0.9), "s"),
      "items_per_s" -> (records.map(_.items).sum / timedS, "1/s"),
      "live_heap_mb" -> (Stats.quantile(records.map(_.liveHeapMb).toSeq, 0.5), "MB"))
    val perLayer = Layers.summary(records.toSeq, sessionStartS, warmS)
    val metrics = if (traced) perLayer else endToEnd

    val failFrac = failed.toDouble / math.max(attempted, 1)
    val stamp = Stamp.of(spark, workload, seed, cpus, load0, load1,
      wl.inputSize, passes, attempted, failFrac, warm.count(!_.ok), otherCpu, jitWaitS)
    val overhead = if (traced) Results.tracingOverhead(out, workload, seed,
      attempted / timedS) else None
    Results.write(out, workload, seed, traced, stamp, endToEnd, perLayer, warm, records.toSeq,
      overhead)
    if (traced) Results.writeTrace(out, workload, seed, spans.all, records.toSeq,
      runStartUs, overhead)

    records.filterNot(_.ok).foreach(r => System.err.println(s"[perfbench] ${r.name} failed: ${r.detail}"))
    warm.filterNot(_.ok).foreach(r => System.err.println(s"[perfbench] warm-up ${r.name} failed: ${r.detail}"))
    println(Json.obj("stamp" -> Json.raw(stamp)))
    println(Json.obj(
      "correct" -> (failed == 0 && warm.forall(_.ok)),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> Json.raw(Json.obj(metrics.map { case (k, (v, u)) =>
        k -> Json.raw(Json.obj("value" -> v, "unit" -> u))
      }: _*))))
    spark.stop()
  }
}

object Stats {
  /** Linear-interpolation quantile (numpy's default); 0 for no values. */
  def quantile(xs: Seq[Double], q: Double): Double = if (xs.isEmpty) 0.0 else {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** The run stamp: what ran, where, and how loaded the machine was. */
object Stamp {
  def loadavg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime max 0L).sum / 1000.0

  /** Heap in use after a full collection, in MB. */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Lets the JIT compiler finish the work the warm-up queued: waits until
    * its total compilation time stops growing for 300 ms, at most 5 s. */
  def awaitCompiler(): Double = {
    val t0 = System.nanoTime()
    val jit = ManagementFactory.getCompilationMXBean
    if (jit != null && jit.isCompilationTimeMonitoringSupported) {
      val deadline = t0 + 5000000000L
      var last = -1L
      while (jit.getTotalCompilationTime != last && System.nanoTime() < deadline) {
        last = jit.getTotalCompilationTime
        Thread.sleep(300)
      }
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** (busy ticks of all CPUs from /proc/stat, this process's ticks from
    * /proc/self/stat, wall nanoseconds); zeros where unreadable. */
  def cpuTicks(): (Long, Long, Long) = {
    def read(f: String) = try Files.readString(Paths.get(f)) catch { case _: Throwable => "" }
    val all = read("/proc/stat").linesIterator.find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+").drop(1).map(_.toLong)).getOrElse(Array.empty[Long])
    // user nice system (idle iowait) irq softirq steal
    val busy = all.zipWithIndex.collect { case (v, i) if i != 3 && i != 4 && i < 8 => v }.sum
    val self = read("/proc/self/stat")
    val own = if (self.isEmpty) 0L else {
      val f = self.substring(self.lastIndexOf(')') + 2).split(" ")
      f(11).toLong + f(12).toLong // utime, stime
    }
    (busy, own, System.nanoTime())
  }

  /** Cores that other processes kept busy between two [[cpuTicks]] samples
    * (clock ticks at the usual 100 per second). */
  def otherCores(a: (Long, Long, Long), b: (Long, Long, Long)): Double = {
    val secs = (b._3 - a._3) / 1e9
    if (a._1 == 0L || secs <= 0) 0.0
    else math.max(0.0, ((b._1 - a._1) - (b._2 - a._2)) / 100.0 / secs)
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    catch { case _: Throwable => 0.0 }

  def of(spark: SparkSession, workload: String, seed: Long,
      cpus: Int, load0: Double, load1: Double, inputSize: String, passes: Int,
      attempted: Int, failFrac: Double, warmFailures: Int, otherCpu: Double,
      jitWaitS: Double): String = {
    val nproc = Runtime.getRuntime.availableProcessors()
    Json.obj(
      "workload" -> workload, "seed" -> seed,
      "commit" -> sys.props.getOrElse("perfbench.commit", "unknown"),
      "source_hash" -> sys.props.getOrElse("perfbench.source", "unknown"),
      "nproc" -> nproc, "cpus" -> cpus,
      "loadavg_start" -> load0, "loadavg_end" -> load1,
      // the load average also counts this run's own threads, and a minute
      // of the previous run's; the CPU other processes used during the run
      // is measured directly
      "other_cores" -> otherCpu,
      "loaded" -> (otherCpu > 0.5),
      "jit_wait_s" -> jitWaitS,
      "java" -> System.getProperty("java.version"),
      "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
      "input" -> inputSize, "passes" -> passes, "ops" -> attempted,
      "peak_rss_mb" -> peakRssMb(),
      "fail_frac" -> failFrac, "warmup_failures" -> warmFailures)
  }
}
