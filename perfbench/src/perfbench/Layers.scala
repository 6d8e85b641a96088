package perfbench

import scala.collection.mutable

import Recorder.Events

/** Folds the Spark events of one op into its per-layer counts and its self
  * times, and records the op's spans. */
final class Fold(id: Int, name: String, opS: Long, opE: Long,
    phases: Seq[(String, Long, Long)], ev: Events, spans: SpanLog) {

  private def phaseAt(us: Long): String =
    phases.find(p => us >= p._2 && us <= p._3).map(_._1).getOrElse("harness")

  private val stageById = ev.stages.map(s => s.id -> s).toMap

  /** (job, phase, layer, start µs, end µs) */
  private val jobs = ev.jobs.filter(_.op.forall(_ == id)).map { j =>
    val s = j.start * 1000L
    val ph = j.phase.getOrElse(phaseAt(s))
    val wrote = j.stageIds.exists(i => stageById.get(i).exists(_.output > 0))
    (j, ph, Classify(ph, j.callSite, wrote), s, math.max(j.end * 1000L, s))
  }

  private val tasksByStage = ev.tasks.groupBy(_.stageId)

  private def dur(phase: String): Double =
    phases.filter(_._1 == phase).map(p => (p._3 - p._2) / 1e6).sum
  private def covered(js: Seq[(Recorder.Job, String, String, Long, Long)]): Double =
    Intervals.covered(js.map(j => (j._4, j._5))) / 1e6

  val self: Map[String, Double] = {
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val opSpan = spans.add(0, id, name, "op", opS, opE)
    out("harness") += (opE - opS - Intervals.covered(phases.map(p => (p._2, p._3)))) / 1e6
    for ((ph, s, e) <- phases) {
      val phSpan = spans.add(opSpan, id, ph, ph, s, e)
      val inPhase = jobs.filter(_._2 == ph).map(j =>
        (j._3, math.max(j._4, s), math.min(j._5, e)))
      jobs.filter(_._2 == ph).foreach(j =>
        spans.add(phSpan, id, s"job ${j._1.id}: ${j._1.callSite}", j._3, j._4, j._5))
      out(s"$ph.driver") += (e - s - Intervals.covered(inPhase.map(j => (j._2, j._3)))) / 1e6
      Intervals.split(inPhase).foreach { case (layer, us) => out(s"jobs:$layer") += us / 1e6 }
    }
    out.toMap
  }

  val layers: Map[String, Double] = {
    val isQuery = phases.exists(_._1 == "build")
    val build = jobs.filter(_._2 == "build")
    val infer = jobs.filter(j => j._3.endsWith("infer") && j._2 != "readback")
    val ckpt = jobs.filter(_._3 == Classify.Checkpoint)
    val exec = if (isQuery) jobs.filter(_._2 == "action") else jobs
    val execStages = exec.flatMap(_._1.stageIds).distinct.flatMap(stageById.get)
    val allTasks = ev.tasks.map(t => (t.launch * 1000L max opS, t.finish * 1000L min opE))
    val skew = execStages.map(s => tasksByStage.getOrElse(s.id, Vector.empty)
      .map(t => (t.finish - t.launch).toDouble)).filter(_.size >= 2).map { d =>
      val med = Stats.quantile(d, 0.5)
      if (med > 0) d.max / med else 1.0
    }
    val plans = ev.plans.filter(p => p.start * 1000L >= opS - 1000L && p.start * 1000L <= opE)
    Map(
      "op.wall_s" -> (opE - opS) / 1e6,
      "build.s" -> dur("build"),
      "build.jobs" -> build.size.toDouble,
      "tables.infer_jobs" -> infer.size.toDouble,
      "tables.infer_s" -> covered(infer),
      "readback.infer_jobs" -> jobs.count(_._3 == "readback.infer").toDouble,
      "operators.checkpoint_jobs" -> ckpt.size.toDouble,
      "operators.checkpoint_s" -> covered(ckpt),
      "operators.other_build_jobs" -> build.count(_._3 == Classify.OtherBuild).toDouble,
      "catalyst.analysis_ms" -> plans.map(_.analysisMs).sum,
      "catalyst.optimization_ms" -> plans.map(_.optimizationMs).sum,
      "catalyst.planning_ms" -> plans.map(_.planningMs).sum,
      "exec.s" -> covered(exec),
      "exec.jobs" -> exec.size.toDouble,
      "exec.stages" -> execStages.size.toDouble,
      "exec.tasks" -> execStages.map(_.numTasks).sum.toDouble,
      "exec.task_cpu_s" -> execStages.map(_.cpuNs).sum / 1e9,
      "exec.idle_s" -> (opE - opS - Intervals.covered(allTasks)) / 1e6,
      "exec.task_skew" -> (if (skew.isEmpty) 1.0 else skew.max),
      "exec.shuffle_write_bytes" -> execStages.map(_.shuffleWrite).sum.toDouble,
      "exec.shuffle_read_bytes" -> execStages.map(_.shuffleRead).sum.toDouble,
      "exec.spill_bytes" -> execStages.map(_.spill).sum.toDouble,
      "exec.input_bytes" -> execStages.map(_.input).sum.toDouble,
      "exec.output_bytes" -> execStages.map(_.output).sum.toDouble,
      "core.run_s" -> dur("core"),
      "merge.s" -> dur("merge"),
      "merge.jobs" -> jobs.count(_._2 == "merge").toDouble,
      "sink.errors_s" -> dur("sink"),
      "readback.s" -> dur("readback"),
      "readback.jobs" -> jobs.count(_._2 == "readback").toDouble)
  }
}

object Layers {
  /** The per-layer metrics of the traced run, with their units. */
  val units: Seq[(String, String)] = Seq(
    "session.start_s" -> "s", "session.warm_s" -> "s", "op.wall_s" -> "s",
    "build.s" -> "s", "build.jobs" -> "count",
    "tables.infer_jobs" -> "count", "tables.infer_s" -> "s", "readback.infer_jobs" -> "count",
    "operators.checkpoint_jobs" -> "count", "operators.checkpoint_s" -> "s",
    "operators.other_build_jobs" -> "count",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms",
    "exec.s" -> "s", "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_cpu_s" -> "s", "exec.idle_frac" -> "frac", "exec.task_skew" -> "ratio",
    "exec.shuffle_write_bytes" -> "bytes", "exec.shuffle_read_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes", "exec.input_bytes" -> "bytes",
    "exec.output_bytes" -> "bytes",
    "core.run_s" -> "s", "core.items" -> "count", "core.items_failed" -> "count",
    "core.items_critical" -> "count", "core.retry_attempts" -> "count",
    "core.useful_frac" -> "frac",
    "core.stage_s.normalize" -> "s", "core.stage_s.tokenize" -> "s",
    "core.stage_s.score" -> "s", "core.stage_s.embed_batch" -> "s",
    "merge.s" -> "s", "merge.jobs" -> "count", "merge.write_amp" -> "ratio",
    "merge.partitions_touched" -> "count", "sink.errors_s" -> "s",
    "readback.s" -> "s", "readback.jobs" -> "count", "jvm.gc_s" -> "s")

  /** Per-op means, except the ratios, which are ratios of sums (idle share,
    * useful share, write amplification) or the median over ops (skew). */
  def summary(ops: Seq[Main.OpRecord], sessionStartS: Double, warmS: Double)
      : Seq[(String, (Double, String))] = {
    def sum(k: String) = ops.map(_.layers.getOrElse(k, 0.0)).sum
    def ratio(n: Double, d: Double) = if (d > 0) n / d else 0.0
    val n = math.max(ops.size, 1).toDouble
    val special = Map(
      "session.start_s" -> sessionStartS,
      "session.warm_s" -> warmS,
      "exec.idle_frac" -> ratio(sum("exec.idle_s"), ops.map(_.wallS).sum),
      "exec.task_skew" -> Stats.quantile(ops.map(_.layers.getOrElse("exec.task_skew", 1.0)), 0.5),
      "core.useful_frac" -> ratio(sum("core.items") - sum("core.items_critical"), sum("core.items")),
      "merge.write_amp" -> ratio(sum("merge.rows_written"), sum("merge.rows_in")))
    units.map { case (k, u) => k -> (special.getOrElse(k, sum(k) / n), u) }
  }
}
