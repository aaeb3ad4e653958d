package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one place a graft SparkSession is built. Every harness main
  * (Bench, BenchOne, Verify, Plans, ScaleProbe) and
  * the test fixture go through [[local]], so the load-bearing confs below
  * cannot drift between entry points. Library code never builds a session:
  * it runs on whatever session the caller owns.
  */
object GraftSession {

  /** A `local[cpus]` session with the confs every graft run depends on. */
  def local(cpus: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // local-fs chmod-fork removal (without libhadoop every local file
      // create forks a chmod): see graft.sources.BareLocalFileSystem
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.sources.BareLocalFileSystem].getName)
      // v2 output committer: task-parallel commit renames instead of the
      // driver-serial job-commit merge — O(files) driver work removed from
      // every partitioned write (zones are idempotent overwrite targets,
      // so v2's weaker mid-job atomicity is safe here)
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      // AQE coalescing floor: the 1MB default collapses small-bytes but
      // CPU-DENSE post-shuffle stages (similarity-join verify: 5.7MB of
      // candidate pairs -> 5 tasks x 1.3s of array_intersect) to a handful
      // of tasks. 256KB keeps such stages parallel; at production shuffle
      // sizes bytes/parallelism >> 256KB so the floor never binds there.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256KB")
      // static conf: the default 100-entry codegen cache thrashes under a
      // 90-query sweep (~1500 distinct codegen units), recompiling every
      // stage on every run — sized to hold the whole library's units
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  /** Recommended runtime tuning for graft workloads — applied to a live
    * session (all of these are runtime-settable SQL confs), including one
    * graft did not build. At cluster scale: AQE re-plans joins and
    * coalesces shuffle partitions from runtime stats, skew-join splits hot
    * partitions, and maxPartitionBytes keeps scan tasks at a size that
    * fits executor memory alongside shuffle buffers. The static
    * codegen-cache conf cannot be set here; only [[local]] sets it. */
  def tune(spark: SparkSession, shufflePartitions: Option[Int] = None): Unit = {
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "134217728") // 128 MiB
    shufflePartitions.foreach(n => spark.conf.set("spark.sql.shuffle.partitions", n.toString))
  }

  /** Harness core count: `SPARK_GRAFT_CPUS`, else every available core. */
  def cores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Harness entry: a [[local]] session on [[cores]], root log level WARN,
    * and the budgeted-site WindowExec WARN silenced. */
  def harness(): SparkSession = {
    val spark = local(cores)
    spark.sparkContext.setLogLevel("WARN")
    quietBudgetedWindowWarn()
    spark
  }

  /** Silence WindowExec's "No Partition Defined for Window operation"
    * WARN in harness processes (VERDICT r19 #4/#9): every unpartitioned
    * window in src/main is a SourceGuardSpec-BUDGETED site — driver-bounded
    * post-limit ranks and value-domain/day-spine cumulatives — and that
    * budget (a test that fails on any NEW site) is the guard that actually
    * prevents the scale sin. A 207-query sweep emits hundreds of the WARNs
    * for those audited sites, burying real warnings in the driver's
    * entry_tail.
    *
    * Why not partition the sites by a constant instead: probed in r20
    * (OPTIMIZATION_r20.md) — the optimizer FOLDS a literal partition key
    * away (the physical windowspecdefinition loses it, the exchange is
    * still SinglePartition, and WindowExec still warns), and a
    * non-foldable fake key would pay a per-row hash just to launder a log
    * line. Library users keep the warning: this runs only from [[harness]],
    * after sparkContext.setLogLevel (which sets the ROOT level; this
    * per-logger override survives it). */
  private def quietBudgetedWindowWarn(): Unit =
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    catch { case _: Throwable => () }

  /** Warm the session before timing anything: scheduler, codegen
    * infrastructure, parquet footer reader, and shuffle machinery all pay
    * one-time costs that would otherwise land entirely on the first query
    * (alphabetically ann_ivf) and distort per-query comparisons. */
  def warm(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    noop(Tables.region(spark, sfDir)
      .groupBy(col("r_regionkey")).agg(count(lit(1))))
    // Per-table first-touch (file listing + footer reads + schema) is also
    // one-time; count() materializes no columns, so this is metadata work.
    Seq(Tables.nation _, Tables.customer _, Tables.supplier _,
        Tables.part _, Tables.orders _, Tables.lineitem _, Tables.events _,
        Tables.documents _, Tables.embeddings _)
      .foreach(t => t(spark, sfDir).count())
    // One throwaway mini-query per operator-family machinery, all over the
    // 5-row region table (milliseconds of data): first use of each
    // executor path — window sort, broadcast hash join, the custom
    // ObjectHashAggregate, decimal aggregation, generate/explode, regex,
    // collect_list reassembly — otherwise pays its class-loading + janino
    // + JIT cost inside pass 1 of whichever real query hits it first,
    // which is exactly the cold-pass spread the interleaved min then has
    // to absorb.
    val r = Tables.region(spark, sfDir).select(col("r_regionkey").as("k"),
      col("r_name").as("s"))
    noop(r.withColumn("rn", row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("k")).orderBy(col("s")))))
    noop(r.join(broadcast(r.select(col("k"), col("s").as("s2"))), Seq("k")))
    noop(r.groupBy(col("k")).agg(graft.functions.TopKAgg.topKPairs(
        struct(col("k").cast("double").as("ord"), col("k").as("id")), 2).as("t"))
      .select(col("k"), posexplode(col("t"))))
    noop(r.agg(sum(col("k").cast("decimal(18,4)")).cast("double"),
      count(when(col("s").rlike("^[A-Z]"), 1))))
    noop(r.select(col("k"), explode(split(col("s"), "")).as("c"))
      .groupBy(col("k")).agg(concat_ws("", sort_array(collect_list(col("c"))))))
  }

  /** Times `body` in seconds, then frees the transient checkpoints it
    * registered — in a `finally`, outside the timed window (release is
    * bookkeeping, not query work), so a failed run leaks no blocks either.
    * Without the release a long sweep accumulates executor storage blocks
    * for the JVM's whole life (VERDICT r19 #1; see [[Ckpt]]). */
  def timed[T](body: => T): (T, Double) =
    try {
      val t0 = System.nanoTime()
      val out = body
      (out, (System.nanoTime() - t0) / 1e9)
    } finally Ckpt.releaseTransient()

  /** [[timed]] run of `df` into the noop sink; returns the seconds. */
  def timedNoop(df: => DataFrame): Double = timed(noop(df))._2

  private def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
}
