package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What the traced run sees of Spark: a `SparkListener` for jobs, stages
  * and tasks, and a `QueryExecutionListener` for the Catalyst phase times
  * (`QueryExecution.tracker`) of every query that ran. Events queue up
  * until [[take]] hands them to the op that caused them.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  import Recorder._

  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val stages = new ConcurrentLinkedQueue[Stage]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val plans = new ConcurrentLinkedQueue[Plan]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val site = Classify.jobCallSite(e.stageInfos.map(i => i.stageId -> i.name))
    jobs.add(Job(e.jobId, e.time, site, e.stageIds.toSet,
      prop(OpKey).map(_.toInt), prop(PhaseKey)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobEnds.put(e.jobId, e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = Option(i.taskMetrics)
    def mv(f: org.apache.spark.executor.TaskMetrics => Long) = m.map(f).getOrElse(0L)
    stages.add(Stage(i.stageId, i.numTasks,
      cpuNs = mv(_.executorCpuTime),
      shuffleWrite = mv(_.shuffleWriteMetrics.bytesWritten),
      shuffleRead = mv(t => t.shuffleReadMetrics.remoteBytesRead +
        t.shuffleReadMetrics.localBytesRead),
      spill = mv(t => t.memoryBytesSpilled + t.diskBytesSpilled),
      input = mv(_.inputMetrics.bytesRead),
      output = mv(_.outputMetrics.bytesWritten)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    tasks.add(Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime))

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    addPlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    addPlan(qe)

  private def addPlan(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    val start = ph.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
    plans.add(Plan(start, ms("analysis"), ms("optimization"), ms("planning")))
  }

  private def drainQueue[A](q: ConcurrentLinkedQueue[A]): Vector[A] = {
    val b = Vector.newBuilder[A]
    var x = q.poll()
    while (x != null) { b += x; x = q.poll() }
    b.result()
  }

  /** Everything recorded since the last call; jobs carry their end time. */
  def take(): Events = {
    val js = drainQueue(jobs).map { j =>
      val end = Option(jobEnds.remove(j.id)).map(_.longValue).getOrElse(j.start)
      j.copy(end = end)
    }
    Events(js, drainQueue(stages), drainQueue(tasks), drainQueue(plans))
  }
}

object Recorder {
  /** Local properties the harness sets on its thread; Spark copies them to
    * every job the thread starts, including AQE's pool-thread jobs. */
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"

  final case class Job(id: Int, start: Long, callSite: String, stageIds: Set[Int],
      op: Option[Int], phase: Option[String], end: Long = 0L)
  final case class Stage(id: Int, numTasks: Int, cpuNs: Long, shuffleWrite: Long,
      shuffleRead: Long, spill: Long, input: Long, output: Long)
  final case class Task(stageId: Int, launch: Long, finish: Long)
  final case class Plan(start: Long, analysisMs: Double, optimizationMs: Double,
      planningMs: Double)
  final case class Events(jobs: Vector[Job], stages: Vector[Stage],
      tasks: Vector[Task], plans: Vector[Plan])
}
