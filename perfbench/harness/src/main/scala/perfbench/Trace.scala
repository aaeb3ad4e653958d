package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The benchmark's own observers of Spark, attached only for traced ops.
  *
  * Every op runs under a job group; jobs are attributed to an op by that
  * group (the local property `Pipeline.inParallel` threads inherit), never
  * by matching wall-clock windows. Streaming queries set their own group
  * (their run id), which the caller passes in as "also belongs to this op".
  */
final class Trace extends SparkListener with QueryExecutionListener {
  import Trace._

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Task]()
  private val phases = new java.util.concurrent.ConcurrentLinkedQueue[Phase]()
  private val actions = new AtomicLong()
  private val markerJobs = new ConcurrentHashMap[Int, String]()
  @volatile private var markerSeen = ""

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    if (g.startsWith(Trace.MarkerPrefix)) { markerJobs.put(e.jobId, g); return }
    jobs.put(e.jobId, Job(e.jobId, g, e.time, -1L, e.stageIds))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = jobs.get(e.jobId)
    if (j != null) j.end = e.time
    val m = markerJobs.remove(e.jobId)
    if (m != null) markerSeen = m
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null || !stageJob.containsKey(e.stageId)) return
    tasks.add(Task(e.stageId, e.taskInfo.duration, m.executorCpuTime,
      m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  /** Marker jobs carry a group of their own; seeing one end means every
    * event posted before it (on this listener's queue) has been handled. */
  def markerDone(group: String): Boolean = markerSeen == group

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
  private def record(qe: QueryExecution): Unit = {
    actions.incrementAndGet()
    qe.tracker.phases.foreach { case (n, p) => phases.add(Phase(n, p.startTimeMs, p.endTimeMs)) }
  }

  /** Drain everything recorded so far into one op's layer figures. */
  def harvest(opGroups: Set[String], t0: Long, t1: Long, cores: Int): Map[String, Double] = {
    val js = jobs.values.asScala.toSeq
    jobs.clear()
    val ts = Iterator.continually(tasks.poll()).takeWhile(_ != null).toSeq
    val ps = Iterator.continually(phases.poll()).takeWhile(_ != null).toSeq
    val nActions = actions.getAndSet(0)
    val mine = js.filter(j => opGroups(j.group))
    val myStages = mine.flatMap(_.stages).toSet
    val myTasks = ts.filter(t => myStages(t.stage))
    val untagged = js.count(j => !opGroups(j.group) && j.start >= t0 && j.start <= t1)
    val wall = math.max(1e-9, (t1 - t0) / 1000.0)
    val taskS = myTasks.map(_.durMs).sum / 1000.0
    val byStage = myTasks.groupBy(_.stage).values.filter(_.size >= 2)
    val skew = byStage.map { st =>
      val d = st.map(_.durMs.toDouble).sorted
      val med = d(d.size / 2)
      if (med > 0) d.last / med else 1.0
    }.foldLeft(1.0)(math.max)
    val mb = 1024.0 * 1024.0
    def phaseMs(n: String) = ps.filter(_.name == n).map(p => (p.end - p.start).toDouble).sum
    // share of the op's wall covered by no Spark job and no planning phase
    val intervals = (mine.map(j => (j.start, if (j.end < 0) t1 else j.end)) ++
      ps.map(p => (p.start, p.end))).map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    intervals.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    Map(
      "spark.jobs" -> mine.size.toDouble,
      "spark.stages" -> myStages.size.toDouble,
      "spark.tasks" -> myTasks.size.toDouble,
      "spark.task_s" -> taskS,
      "spark.cpu_s" -> myTasks.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> myTasks.map(_.gcMs).sum / 1000.0,
      "spark.shuffle_write_mb" -> myTasks.map(_.shWrite).sum / mb,
      "spark.shuffle_read_mb" -> myTasks.map(_.shRead).sum / mb,
      "spark.spill_mb" -> myTasks.map(_.spill).sum / mb,
      "spark.task_skew" -> skew,
      "spark.core_idle_frac" -> (1.0 - taskS / (cores * wall)),
      "plans.analysis_ms" -> phaseMs("analysis"),
      "plans.optimization_ms" -> phaseMs("optimization"),
      "plans.planning_ms" -> phaseMs("planning"),
      "plans.actions" -> nActions.toDouble,
      "trace.untagged_jobs" -> untagged.toDouble,
      "trace.unattributed_frac" -> (1.0 - covered / 1000.0 / wall),
    )
  }
}

object Trace {
  val MarkerPrefix = "perfbench-marker-"

  final case class Job(id: Int, group: String, start: Long, var end: Long, stages: Seq[Int])
  final case class Task(stage: Int, durMs: Long, cpuNs: Long, gcMs: Long,
                        shWrite: Long, shRead: Long, spill: Long)
  final case class Phase(name: String, start: Long, end: Long)
}
