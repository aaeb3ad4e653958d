package graft

import org.apache.spark.sql.functions._

/** Proves the broadcast-build pathology detector (VERDICT r17 #3) reads
  * RunTrace's job-group tags: plants exactly the r17 shape — a
  * BroadcastExchange whose 1-partition build subtree carries expensive HOF
  * lineage, which Spark executes as ONE driver-side task under
  * `withThreadLocalCaptured` — from concurrent driver threads, and asserts
  * each build stage lands in the tag of the thread that ran its query, a
  * query flags only when the build recurs in two pass tags, and a healthy
  * query stays silent. */
class PathologySpec extends SparkSpec {

  test("pathology flags by pass tag: two passes flag, one pass and clean stay silent") {
    val trace = RunTrace.of(spark)
    // the plant: hinted broadcast of a single-partition subtree whose
    // per-row HOF work is seconds when re-run single-threaded — the build
    // stage is 1 task, named withThreadLocalCaptured. Distinct row counts
    // defeat broadcast reuse so every plant re-executes its build.
    def plant(rows: Int): Unit = {
      val exp = spark.range(0, rows, 1, 1).select(col("id"),
        expr("aggregate(sequence(1, 20000), 0L, (a, x) -> a + x * x % 1000)").as("w"))
      val big = spark.range(0, 10000).select((col("id") % 50).as("k"))
      big.join(broadcast(exp), big("k") === exp("id") % 50)
        .write.mode("overwrite").format("noop").save()
    }
    def tag(t: String)(body: => Unit): () => Unit = () => RunTrace.tagged(spark, t)(body)

    // negative control: a healthy parallel shuffle query
    tag("clean:1") {
      spark.range(0, 100000, 1, 2).groupBy((col("id") % 7).as("k"))
        .agg(count(lit(1)).as("n"))
        .write.mode("overwrite").format("noop").save()
    }()
    // two passes of one query, run at the same time from two driver threads
    Pipeline.inParallel(tag("planted:1")(plant(1500)), tag("planted:2")(plant(1501)))
    // two builds inside ONE pass: threads started under the tag inherit it
    tag("once:1")(Pipeline.inParallel(() => plant(1502), () => plant(1503)))()
    assert(trace.drain(), "marker job never reached the listener")

    def builds(t: String) = trace.stages(t)
      .filter(s => s.tasks == 1 && s.name.contains("withThreadLocalCaptured"))
    assert(builds("planted:1").size == 1 && builds("planted:2").size == 1,
      s"build stages not filed under their thread's tag: ${trace.tags.map(t => t -> builds(t).size)}")
    assert(builds("once:1").size == 2)
    assert(builds("clean:1").isEmpty)

    // half the fastest plant: every plant clears it, whatever the host speed
    val threshold = Seq("planted:1", "planted:2", "once:1").flatMap(builds).map(_.sec).min / 2
    val flags = Bench.pathologyFlags(trace, threshold)
    assert(flags.exists { case (q, s) => q == "planted" && s > threshold },
      s"detector missed the recurring planted broadcast build: $flags")
    assert(!flags.exists(_._1 == "clean"), s"false positive on the healthy query: $flags")
    assert(!flags.exists(_._1 == "once"),
      s"two builds in one pass flagged as recurring: $flags")
  }
}
