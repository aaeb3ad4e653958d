package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** The harness's one run listener: per-job and per-stage costs, keyed by
  * the `spark.jobGroup.id` local property of the thread that ran the work.
  *
  * Attribution is by job group, never by wall-clock window: the group is a
  * local property, so threads a tagged thread starts (`Pipeline.inParallel`)
  * inherit it and Spark's broadcast-build futures capture it
  * (`SQLExecution.withThreadLocalCaptured`) — every job and stage of a
  * measured unit lands under its tag even when several driver threads run
  * at once; untagged work is not recorded. Listener-bus delivery is
  * asynchronous; [[drain]] is the one wait, and it waits on evidence (a
  * marker job's end event), not a guess.
  *
  * Only harness mains tag ([[RunTrace.tagged]]); library code never sets a
  * job group, so a caller's own groups (perfbench attributes its ops by
  * them) stay intact. Install with [[RunTrace.of]]. */
final class RunTrace private (spark: SparkSession) extends SparkListener {
  import RunTrace._

  private val byTag = new ConcurrentHashMap[String, Tag]()
  private val openJobs = new ConcurrentHashMap[Int, (String, String, Long)]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val markers = new ConcurrentHashMap[String, CountDownLatch]()

  private def groupOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap(p => Option(p.getProperty(GroupKey)))

  private def tag(group: String): Tag = byTag.computeIfAbsent(group, _ => new Tag)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    // The result stage's name IS the call site ("parquet at Foo.scala:78")
    // when the job-level property is absent, as under local[] masters.
    val site = Option(e.properties).flatMap(p => Option(p.getProperty("callSite.short")))
      .orElse(e.stageInfos.lastOption.map(_.name)).getOrElse("?")
    groupOf(e.properties).foreach(g => openJobs.put(e.jobId, (g, site, e.time)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(openJobs.remove(e.jobId)).foreach { case (group, site, start) =>
      val marker = markers.get(group)
      if (marker != null) marker.countDown()
      else tag(group).jobs.add(Job(site, (e.time - start) / 1e3))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    groupOf(e.properties).foreach(stageTag.put(e.stageInfo.stageId, _))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    val group = stageTag.remove(si.stageId)
    if (group != null && !markers.containsKey(group) && m != null) {
      val sec = (for (a <- si.completionTime; b <- si.submissionTime) yield (a - b) / 1e3)
        .getOrElse(0.0)
      tag(group).stages.add(Stage(si.stageId, si.name, si.numTasks, sec,
        m.executorRunTime, m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleWriteMetrics.recordsWritten, m.shuffleReadMetrics.totalBytesRead))
    }
  }

  /** Completed jobs under `tag`, in end order. */
  def jobs(tag: String): Seq[Job] =
    Option(byTag.get(tag)).map(_.jobs.asScala.toSeq).getOrElse(Seq.empty)

  /** Completed stages under `tag`, in completion order. */
  def stages(tag: String): Seq[Stage] =
    Option(byTag.get(tag)).map(_.stages.asScala.toSeq).getOrElse(Seq.empty)

  /** Every tag that has recorded a job or stage. */
  def tags: Seq[String] = byTag.keySet.asScala.toSeq

  /** Waits until every event posted before this call has been recorded:
    * runs a 1-task marker job under a group of its own, then blocks until
    * this listener sees that job end (bus events reach a listener in
    * order). Bounded at 30 s; false if the marker did not arrive in time.
    * Call it between tagged units, not inside one. */
  def drain(): Boolean = {
    val marker = s"graft-trace-marker-${java.util.UUID.randomUUID}"
    val seen = new CountDownLatch(1)
    markers.put(marker, seen)
    try {
      tagged(spark, marker)(spark.sparkContext.parallelize(Seq(0), 1).count())
      seen.await(30, TimeUnit.SECONDS)
    } finally markers.remove(marker)
  }
}

object RunTrace {
  final case class Job(callSite: String, sec: Double)
  final case class Stage(id: Int, name: String, tasks: Int, sec: Double,
                         runMs: Long, cpuNs: Long, shuffleWriteBytes: Long,
                         shuffleWriteRecords: Long, shuffleReadBytes: Long)
  private final class Tag {
    val jobs = new ConcurrentLinkedQueue[Job]()
    val stages = new ConcurrentLinkedQueue[Stage]()
  }

  private val GroupKey = "spark.jobGroup.id"

  private var installed: Option[(SparkContext, RunTrace)] = None

  /** The session's trace, installed on its SparkContext the first time it
    * is asked for (idempotent: a second call returns the same listener). */
  def of(spark: SparkSession): RunTrace = synchronized {
    val sc = spark.sparkContext
    installed.collect { case (c, t) if c eq sc => t }.getOrElse {
      val t = new RunTrace(spark)
      sc.addSparkListener(t)
      installed = Some(sc -> t)
      t
    }
  }

  /** Runs `body` with its jobs under job group `tag`: one measured unit of
    * a harness main (units do not nest). */
  def tagged[T](spark: SparkSession, tag: String)(body: => T): T = {
    spark.sparkContext.setJobGroup(tag, tag, interruptOnCancel = false)
    try body
    finally spark.sparkContext.clearJobGroup()
  }
}
