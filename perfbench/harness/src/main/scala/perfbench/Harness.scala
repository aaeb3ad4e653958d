package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One benchmark run of one workload, in one JVM, from one client thread.
  *
  * `Harness <workload> <dataDir> <workDir> <seconds> <trace 0|1> <seed> <out.json>`
  *
  * Sets up the session four times (the first from process start), runs
  * the workload's cold op and warm-up, then closed-loop ops until
  * `seconds` of op time have elapsed, and writes every op's latency and
  * output fingerprint to `out.json`. It checks nothing against expected
  * values itself: run.py compares the fingerprints with DuckDB oracles and
  * the generator's known counts. With trace=1, every other op runs with
  * the benchmark's listeners attached and records per-layer figures.
  */
object Harness {

  /** The confs graft.Bench sets that its timings depend on; a run whose
    * session lacks any of them is refused rather than measured. */
  def parityConfs(cores: Int): Seq[(String, String)] = Seq(
    "spark.sql.codegen.cache.maxEntries" -> "5000",
    "spark.hadoop.fs.file.impl" -> classOf[graft.sources.BareLocalFileSystem].getName,
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version" -> "2",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "256KB",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.shuffle.partitions" -> cores.toString)

  final case class Op(name: String, seconds: Double, rows: Long, check: String,
                      traced: Boolean, layers: Map[String, Double])

  def main(args: Array[String]): Unit =
    if (args.headOption.contains("--oracles")) dumpOracles(args(1)) else run(args)

  /** The DuckDB oracle SQL of every query the benchmark checks, as JSON. */
  def dumpOracles(path: String): Unit = {
    val names = QueryMix.Names :+ "pipeline_report"
    Files.writeString(Paths.get(path), names.map(n =>
      s"${q(n)}: ${q(graft.SparkEntry.oracleSql(n))}").mkString("{\n", ",\n", "\n}\n"))
  }

  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
    case c if c < ' ' => " "; case c => c.toString
  } + "\""

  def run(args: Array[String]): Unit = {
    val Array(workload, dataDir, workDir, secondsArg, traceArg, seedArg, outPath) = args
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val seed = seedArg.toLong
    val cores = Runtime.getRuntime.availableProcessors()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    // --- setup: four builds of a warmed session; the first from JVM start
    val setups = (1 to 4).map { i =>
      if (i > 1) {
        SparkSession.active.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = if (i == 1) jvmStart else System.currentTimeMillis()
      val s = session(cores, workDir)
      warm(s)
      (System.currentTimeMillis() - t0) / 1000.0
    }
    val spark = SparkSession.active
    val confs = parityConfs(cores).map { case (k, v) => k -> spark.conf.getOption(k).getOrElse("") }
    val missing = parityConfs(cores).filterNot(confs.contains)
    if (missing.nonEmpty ||
        spark.sparkContext.hadoopConfiguration.get("fs.file.impl") !=
          classOf[graft.sources.BareLocalFileSystem].getName) {
      System.err.println(s"session parity guard: missing or wrong confs $missing")
      sys.exit(3)
    }

    val w = workload match {
      case "ingest_etl" => new IngestEtl(spark, dataDir, workDir)
      case "query_mix" => new QueryMix(spark, dataDir, workDir, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val tracer = new Trace
    var opNo = 0

    def runOp(timed: Boolean, traced: Boolean = false): Op = {
      opNo += 1
      val group = s"perfbench-op-$opNo"
      val sc = spark.sparkContext
      if (traced) {
        sc.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
      }
      val gc0 = gcMs()
      val name = w.nextName
      sc.setJobGroup(group, s"perfbench $name", interruptOnCancel = false)
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      val res = try w.op(timed) catch {
        case e: Exception => Result(name, 0L, () => s"error: $e")
      }
      val dt = (System.nanoTime() - n0) / 1e9
      val t1 = System.currentTimeMillis()
      sc.clearJobGroup()
      var layers = Map.empty[String, Double]
      if (traced) {
        val marker = Trace.MarkerPrefix + opNo
        sc.setJobGroup(marker, "perfbench marker", interruptOnCancel = false)
        spark.range(1).write.mode("overwrite").format("noop").save()
        sc.clearJobGroup()
        val deadline = System.currentTimeMillis() + 30000
        while (!tracer.markerDone(marker) && System.currentTimeMillis() < deadline) Thread.sleep(2)
        sc.removeSparkListener(tracer)
        spark.listenerManager.unregister(tracer)
        layers = tracer.harvest(w.streamGroups + group, t0, t1, cores) ++ res.layers ++
          Map("jvm.gc_s" -> (gcMs() - gc0) / 1000.0, "jvm.heap_used_mb" -> heapMb(),
            "Ckpt.rdds_pending" -> sc.getPersistentRDDs.size.toDouble,
            "Ckpt.storage_mb" -> sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0) ++
          w.sourcesLayer(t0)
      }
      graft.Ckpt.releaseTransient()
      Op(res.name, dt, res.rows, res.check(), traced, layers)
    }

    val cold = runOp(timed = false)
    val warmups = (1 to w.warmUpOps).map(_ => runOp(timed = false))
    val timed = Vector.newBuilder[Op]
    var elapsed = 0.0
    var n = 0
    // traced runs alternate untraced and traced units of ops (one op, or
    // one query pass) in U T T U order, so their latency ratio is the
    // tracing overhead rather than a warm-up trend
    while (elapsed < seconds || n < w.minOps * (if (trace) 2 else 1) || !w.atBoundary) {
      val unit = (n / w.traceUnit) % 4
      val op = runOp(timed = true, traced = trace && (unit == 1 || unit == 2))
      timed += op
      elapsed += op.seconds
      n += 1
    }
    w.close()
    val peak = vmHwmMb()
    spark.stop()

    val sb = new StringBuilder
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    def opJson(o: Op) = s"""{"name": ${q(o.name)}, "seconds": ${num(o.seconds)}, "rows": ${o.rows}, """ +
      s""""check": ${q(o.check)}, "traced": ${o.traced}, "layers": {""" +
      o.layers.map { case (k, v) => s"${q(k)}: ${num(v)}" }.mkString(", ") + "}}"
    sb.append("{\n")
    sb.append(s""""workload": ${q(workload)}, "cores": $cores,\n""")
    sb.append(s""""setup_s": [${setups.map(num).mkString(", ")}],\n""")
    sb.append(s""""confs": {${confs.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString(", ")}},\n""")
    sb.append(s""""peak_rss_mb": ${num(peak)},\n""")
    sb.append(s""""cold": ${opJson(cold)},\n""")
    sb.append(s""""warmup": [${warmups.map(opJson).mkString(",\n")}],\n""")
    sb.append(s""""ops": [${timed.result().map(opJson).mkString(",\n")}]\n""")
    sb.append("}\n")
    Files.writeString(Paths.get(outPath), sb.toString)
  }

  def session(cores: Int, workDir: String): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
    parityConfs(cores).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Bench's machinery warm-up: one throwaway query per operator family
    * over five generated rows, so one-time class loading and codegen
    * infrastructure land in setup, not in the first op. Inputs are not
    * touched: reading them is the cold op's work. */
  def warm(spark: SparkSession): Unit = {
    def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
    val r = spark.range(0, 5, 1, 2).select(col("id").as("k"),
      concat(lit("R"), col("id").cast("string")).as("s"))
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

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def heapMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  /** The process's peak resident set (VmHWM), in MB. */
  def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  /** Order-insensitive fingerprint of a DataFrame's rows, computed by an
    * `observe` riding the op's own action: (row count, sum of 32-bit row
    * hashes). Doubles are rounded to 6 places and arrays sorted, so the
    * fingerprint is stable across runs of a correct query. */
  def fingerprinted(df: DataFrame, name: String): (DataFrame, Observation) = {
    val obs = Observation(name)
    val h = xxhash64(df.schema.fields.map(f => canon(col(s"`${f.name}`"), f.dataType)).toIndexedSeq: _*)
    (df.observe(obs, count(lit(1)).as("n"), sum(h.bitwiseAND(lit(0xFFFFFFFFL))).as("h")), obs)
  }

  /** The observed fingerprint as "rows:hash". */
  def fingerprint(obs: Observation): String = {
    val m = obs.get
    s"${m("n")}:${Option(m("h")).getOrElse(0L)}"
  }

  private def orderable(dt: DataType): Boolean = dt match {
    case _: MapType | _: ArrayType => false
    case s: StructType => s.fields.forall(f => orderable(f.dataType))
    case _ => true
  }

  def canon(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(et, _) =>
      val t = transform(c, x => canon(x, et))
      if (orderable(et)) array_sort(t) else t
    case s: StructType =>
      struct(s.fields.map(f => canon(c.getField(f.name), f.dataType).as(f.name)).toIndexedSeq: _*)
    case MapType(kt, vt, _) =>
      canon(map_entries(c), ArrayType(StructType(Seq(
        StructField("key", kt), StructField("value", vt)))))
    case _ => c
  }
}
