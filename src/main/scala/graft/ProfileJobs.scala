package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-JOB wall-clock profiler for one registered query or pipeline —
  * the measurement tool Bench's per-query totals cannot provide: a query
  * like `pipeline_report` runs ~40 Spark jobs (zone writes, counts,
  * pivot samples, broadcasts), and optimizing it requires knowing which
  * job owns the seconds. A listener records every job's duration plus
  * its call site (Spark stamps `callSite.short` on each job), and the
  * tool prints the per-job table sorted by cost after a warm run.
  *
  * Usage: `tools/run.sh graft.ProfileJobs <sfDir> <query> [reps]`
  * (reps defaults to 2; the table reports the LAST rep — warm numbers,
  * matching Bench's steady-state min discipline).
  */
object ProfileJobs {

  private final class JobTally extends SparkListener {
    final case class J(desc: String, start: Long)
    private val open = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      // The result stage's name IS the call site ("parquet at Foo.scala:78")
      // — job-level properties don't carry it under local[] masters.
      val d = Option(e.properties)
        .flatMap(p => Option(p.getProperty("callSite.short")))
        .orElse(e.stageInfos.lastOption.map(_.name))
        .getOrElse("?")
      open.put(e.jobId, J(d, System.nanoTime()))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = open.remove(e.jobId)
      if (j != null) done.add((j.desc, (System.nanoTime() - j.start) / 1e9))
    }
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val sec = (for (a <- si.completionTime; b <- si.submissionTime)
        yield (a - b) / 1e3).getOrElse(-1.0)
      if (sec >= 0.3) {
        val m = si.taskMetrics
        stages.add(f"  stage ${si.stageId}%5d $sec%7.2f s ${si.numTasks}%5d tasks " +
          f"exec=${m.executorRunTime / 1e3}%8.1f cpu=${m.executorCpuTime / 1e9}%8.1f " +
          f"shW=${m.shuffleWriteMetrics.bytesWritten / 1e6}%8.1f MB " +
          f"shR=${m.shuffleReadMetrics.totalBytesRead / 1e6}%8.1f MB  ${si.name.take(90)}")
      }
    }
    def reset(): Unit = { open.clear(); done.clear(); stages.clear() }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val query = args.lift(1).getOrElse("pipeline_report")
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    val spark = GraftSession.harness()
    val tally = new JobTally
    spark.sparkContext.addSparkListener(tally)

    def runOnce(): Double = query match {
      case "pipeline_report" =>
        GraftSession.timed(SparkEntry.runDwhPipeline(spark, sfDir).collect())._2
      case "corpus_report" =>
        GraftSession.timed(SparkEntry.runCorpusPipeline(spark, sfDir).collect())._2
      case q =>
        GraftSession.timedNoop(SparkEntry.queries(q)(spark, sfDir))
    }

    var total = 0.0
    (1 to reps).foreach { r =>
      tally.reset()
      total = runOnce()
      println(f"== rep $r: total $total%.2f s")
    }
    Thread.sleep(500) // let the async listener bus drain
    val rows = tally.done.toArray(Array.empty[(String, Double)])
    println(f"== $query rep $reps%d total $total%.2f s, ${rows.length} jobs ==")
    // Per-job list in submission order (matches the pipeline's stage flow),
    // then the per-callsite rollup sorted by cost.
    rows.foreach { case (d, s) => if (s >= 0.05) println(f"  $s%7.3f  $d") }
    println("-- stages >= 0.3 s (last rep) --")
    tally.stages.toArray(Array.empty[String]).foreach(println)
    println("-- by callsite --")
    rows.groupBy(_._1).map { case (d, g) =>
      (d, g.map(_._2).sum, g.length)
    }.toSeq.sortBy(-_._2).foreach { case (d, s, n) =>
      println(f"  $s%7.3f  x$n%-3d $d")
    }
    spark.stop()
  }
}
