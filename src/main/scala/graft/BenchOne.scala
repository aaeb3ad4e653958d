package graft

/** Targeted timing harness for iterating on single queries:
  * `tools/run.sh graft.BenchOne <sfDir> <reps> <query...>`.
  * Warms the session like Bench, then times each named query `reps` times
  * (noop sink) and prints min/median per query, then the LAST (warm) rep's
  * jobs ≥ 0.05 s, stages ≥ 0.3 s and per-call-site rollup from [[RunTrace]]:
  * which job owns the seconds (`pipeline_report` alone runs ~60 jobs).
  * The closing calibration line carries Bench's `calib_spread`.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2)
    val spark = GraftSession.harness()
    val trace = RunTrace.of(spark)
    GraftSession.warm(spark, sfDir)
    // Same host-speed probe as Bench, run BEFORE and AFTER the queries: a
    // recorded warm min carries its own noise denominator (compare
    // min/calib, not raw min), and the closing reading catches a host that
    // turned noisy MID-sweep — a single opening probe can certify a sweep
    // that degraded right after it.
    val calib = Bench.calibrate(spark, 3).sorted
    println(f"calibration            min=${calib.head}%6.2f med=${calib(calib.size / 2)}%6.2f reps=3")
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val runs = (1 to reps).map(r =>
        RunTrace.tagged(spark, s"$name:$r")(GraftSession.timedNoop(fn(spark, sfDir))))
      val ts = runs.sorted
      println(f"$name%-22s min=${ts.head}%6.2f med=${ts(ts.size / 2)}%6.2f reps=$reps")
      trace.drain()
      val last = s"$name:$reps"
      val jobs = trace.jobs(last)
      println(f"== $name rep $reps%d total ${runs.last}%.2f s, ${jobs.length} jobs ==")
      jobs.foreach(j => if (j.sec >= 0.05) println(f"  ${j.sec}%7.3f  ${j.callSite}"))
      println("-- stages >= 0.3 s (last rep) --")
      trace.stages(last).filter(_.sec >= 0.3).foreach { s =>
        println(f"  stage ${s.id}%5d ${s.sec}%7.2f s ${s.tasks}%5d tasks " +
          f"exec=${s.runMs / 1e3}%8.1f cpu=${s.cpuNs / 1e9}%8.1f " +
          f"shW=${s.shuffleWriteBytes / 1e6}%8.1f MB " +
          f"shR=${s.shuffleReadBytes / 1e6}%8.1f MB  ${s.name.take(90)}")
      }
      println("-- by callsite --")
      jobs.groupBy(_.callSite).map { case (d, g) => (d, g.map(_.sec).sum, g.length) }
        .toSeq.sortBy(-_._2).foreach { case (d, s, n) => println(f"  $s%7.3f  x$n%-3d $d") }
    }
    val calib2 = Bench.calibrate(spark, 3).sorted
    // Bench's calib_spread: max − min of all six calibration timings
    val calibAll = calib ++ calib2
    println(f"calibration_end        min=${calib2.head}%6.2f med=${calib2(calib2.size / 2)}%6.2f reps=3 " +
      f"calib_spread=${calibAll.max - calibAll.min}%6.2f")
    spark.stop()
  }
}
