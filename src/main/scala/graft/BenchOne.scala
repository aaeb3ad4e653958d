package graft

/** Targeted timing harness for iterating on single queries:
  * `tools/run.sh graft.BenchOne <sfDir> <reps> <query...>`.
  * Warms the session like Bench, then times each named query `reps` times
  * (noop sink) and prints min/median per query.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2)
    val spark = GraftSession.harness()
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
      val ts = (1 to reps).map(_ => GraftSession.timedNoop(fn(spark, sfDir))).sorted
      println(f"$name%-22s min=${ts.head}%6.2f med=${ts(ts.size / 2)}%6.2f reps=$reps")
    }
    val calib2 = Bench.calibrate(spark, 3).sorted
    println(f"calibration_end        min=${calib2.head}%6.2f med=${calib2(calib2.size / 2)}%6.2f reps=3")
    spark.stop()
  }
}
