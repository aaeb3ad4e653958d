package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Pipeline, SparkEntry}
import graft.operators.Quality
import graft.streaming.{FileTopicBroker, StreamingPipeline}

/** One op's outcome. `check` runs after the op's timer stops: it returns
  * the fingerprint run.py compares against the expected value. */
final case class Result(name: String, rows: Long, check: () => String,
                        layers: Map[String, Double] = Map.empty)

abstract class Workload(val spark: SparkSession, val workDir: String) {
  /** Untimed ops after the cold op, before timing starts. */
  def warmUpOps: Int = 0
  /** Fewest timed ops a run makes, whatever its time budget. */
  def minOps: Int = 2
  /** Ops per traced/untraced alternation unit in a traced run. */
  def traceUnit: Int = 1
  /** Whether the timed loop may stop after the op just run. */
  def atBoundary: Boolean = true
  /** Job groups, besides the op's own, whose jobs belong to the op. */
  def streamGroups: Set[String] = Set.empty
  def nextName: String
  def op(timed: Boolean): Result
  def close(): Unit = ()

  /** Root the workload writes its zones under, and the bytes of input one
    * op consumes (the write-amplification base); None writes nothing. */
  def zoneRoot: Option[String] = None
  def inputBytes: Long = 1L

  /** The `sources` layer: files and bytes written since `t0` (ms) under
    * the zone root, and the partition directories present there. */
  def sourcesLayer(t0: Long): Map[String, Double] = {
    var files, bytes, partDirs = 0L
    def walk(f: File): Unit =
      if (f.isDirectory) {
        if (f.getName.contains("=")) partDirs += 1
        Option(f.listFiles()).toSeq.flatten.foreach(walk)
      } else if (f.lastModified() >= t0) { files += 1; bytes += f.length() }
    zoneRoot.foreach(r => walk(new File(r)))
    Map("sources.files_written" -> files.toDouble,
      "sources.bytes_written_mb" -> bytes / 1048576.0,
      "sources.write_amp" -> bytes.toDouble / math.max(1L, inputBytes),
      "sources.partition_dirs" -> partDirs.toDouble)
  }

  protected def dirBytes(d: File): Long =
    if (d.isDirectory) Option(d.listFiles()).toSeq.flatten.map(dirBytes).sum else d.length()

  protected def report(df: DataFrame): Seq[(String, Long, Double)] =
    df.collect().toSeq.map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
}

/** The reference's full ingest-and-load run, one op per batch: publish one
  * seeded event batch through `FileTopicBroker`, drain
  * `StreamingPipeline.run`'s four sinks (started once, before the cold
  * op), then `Pipeline.runAll` over a staged snapshot directory. The cold
  * op stages snapshots 1 .. S-1; every later op (one untimed warm-up, then
  * the timed ones) re-runs snapshot S under its own run id (the same
  * partition rewritten: identical work per op).
  * Sink counts are read after the op's timer stops. */
final class IngestEtl(spark: SparkSession, dataDir: String, workDir: String)
    extends Workload(spark, workDir) {
  private val snaps = new File(dataDir).listFiles().map(_.getName)
    .filter(_.startsWith("snap_")).map(_.stripPrefix("snap_").toInt).sorted
  private val nBatches = new File(s"$dataDir/batches").list().count(_.startsWith("batch="))
  private val broker = new FileTopicBroker(s"$workDir/broker")
  private val streamOut = s"$workDir/zones/stream"
  private val dwhOut = s"$workDir/zones/dwh"
  new File(broker.topicDir("events")).mkdirs()
  private val sinks = StreamingPipeline.run(spark, broker.topicDir("events"), streamOut,
    Seq(Quality.Rule("negative_value", col("value") < 0)), "bench_run")
  private val seen = scala.collection.mutable.Map.empty[String, Long]
  private var next = 0
  // the op after the cold op still runs ~20% slower while the JIT catches
  // up: it is an untimed warm-up
  override def warmUpOps: Int = 1
  override def zoneRoot: Option[String] = Some(s"$workDir/zones")
  override def streamGroups: Set[String] = sinks.all.map(_.runId.toString).toSet
  override lazy val inputBytes: Long =
    dirBytes(new File(s"$dataDir/snap_${snaps.last}")) + dirBytes(new File(s"$dataDir/batches/batch=1"))
  def nextName: String = s"${snapName(next)}+batch_$next"
  private def snapName(i: Int) = s"snap_${snaps(math.min(i, snaps.length - 1))}"

  def op(timed: Boolean): Result = {
    require(next < nBatches, s"ingest_etl ran out of event batches ($nBatches)")
    val b = next
    next += 1
    val batch = spark.read.parquet(s"$dataDir/batches/batch=$b")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"), col("user_id"),
        col("event_type"), col("value"))
    broker.publish(batch, "events")
    sinks.drain()
    val rep = (if (b == 0) snaps.init.toSeq else Seq(snaps.last)).map { k =>
      report(Pipeline.runAll(spark, s"$dataDir/snap_$k", dwhOut, s"snap$k",
        f"2026-01-${k}%02d 00:00:00"))
    }.last
    val names = Seq("raw" -> sinks.raw, "clean" -> sinks.clean, "error" -> sinks.error,
      "state" -> sinks.state)
    val progress = names.map { case (n, q) =>
      val last = seen.getOrElse(n, -1L)
      val ps = q.recentProgress.filter(_.batchId > last).toSeq
      ps.lastOption.foreach(p => seen(n) = p.batchId)
      n -> ps
    }.toMap
    def dur(n: String, k: String) =
      progress(n).map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum
    val all = names.map(_._1)
    val clean = progress("clean")
    val orders = rep.collectFirst { case ("stage_raw", n, _) => n }.getOrElse(-1L)
    val quality = rep.collectFirst { case ("quality", n, _) => n }.getOrElse(-1L)
    Result(s"${snapName(b)}+batch_$b", orders, () => {
      def cnt(p: String) = spark.read.parquet(s"$streamOut/$p").count()
      (rep.map { case (s, n, _) => s"$s=$n" } ++ all.map(p => s"$p=${cnt(p)}")).mkString(";")
    }, rep.map { case (s, _, sec) => s"Pipeline.${s}_s" -> sec }.toMap ++ Map(
      "Pipeline.reject_frac" -> (1.0 - quality.toDouble / math.max(1L, orders)),
      "streaming.trigger_ms" -> all.map(dur(_, "triggerExecution")).sum,
      "streaming.add_batch_ms" -> all.map(dur(_, "addBatch")).sum,
      "streaming.wal_commit_ms" -> all.map(dur(_, "walCommit")).sum,
      "streaming.query_planning_ms" -> all.map(dur(_, "queryPlanning")).sum,
      "streaming.state_upsert_ms" -> dur("state", "addBatch"),
      "streaming.state_rows" -> clean.lastOption.map(_.stateOperators.map(_.numRowsTotal).sum)
        .getOrElse(0L).toDouble,
      "streaming.dup_dropped" -> clean.flatMap(_.stateOperators).map(s =>
        Option(s.customMetrics.get("numDroppedDuplicateRows")).map(_.toLong).getOrElse(0L)).sum.toDouble))
  }

  override def close(): Unit = sinks.stop()
}

/** A mix of `SparkEntry.queries`, one per op, in seed-shuffled passes, plus
  * `corpus_report`'s exact pipeline run (`SparkEntry.runCorpusPipeline`).
  * Pass 1 (the cold op and warm-up) writes each query result as parquet for
  * the DuckDB oracle check; timed passes use a noop sink. Every query op's
  * rows carry an order-insensitive fingerprint, which must equal pass 1's;
  * the corpus run reports its per-stage row counts. */
final class QueryMix(spark: SparkSession, dataDir: String, workDir: String, seed: Long)
    extends Workload(spark, workDir) {
  import QueryMix._
  private var pos = 0
  private var order = Names.toVector
  override def warmUpOps: Int = Names.size - 1
  // two timed passes: each query is sampled twice per run
  override def minOps: Int = 2 * Names.size
  override def traceUnit: Int = Names.size
  override def atBoundary: Boolean = pos % Names.size == 0
  // runCorpusPipeline writes its zones under java.io.tmpdir
  override def zoneRoot: Option[String] = Some(System.getProperty("java.io.tmpdir"))
  override lazy val inputBytes: Long = new File(s"$dataDir/documents.parquet").length()
  def nextName: String = order(pos % order.size)

  def op(timed: Boolean): Result = {
    if (pos % Names.size == 0) {
      val rnd = new scala.util.Random(seed * 1000003L + pos)
      // pass 1 starts with the flagship query so the cold op is the same
      // query at every seed; later passes are fully shuffled
      order = if (pos == 0) Names.head +: rnd.shuffle(Names.tail.toVector)
              else rnd.shuffle(Names.toVector)
    }
    val name = order(pos % order.size)
    pos += 1
    if (name == Corpus) {
      val rep = report(SparkEntry.runCorpusPipeline(spark, dataDir))
      def n(s: String) = rep.collectFirst { case (`s`, v, _) => v }.getOrElse(-1L)
      return Result(name, n("ingest"), () => rep.map { case (s, v, _) => s"$s=$v" }.mkString(";"),
        rep.map { case (s, _, sec) => s"CorpusPipeline.${s}_s" -> sec }.toMap ++ Map(
          "CorpusPipeline.gate_pass_frac" -> n("quality_gate").toDouble / math.max(1L, n("ingest")),
          "CorpusPipeline.dedup_keep_frac" -> n("dedup").toDouble / math.max(1L, n("source_cap"))))
    }
    val (df, obs) = Harness.fingerprinted(SparkEntry.queries(name)(spark, dataDir), "perfbench_fp")
    if (timed) df.write.mode("overwrite").format("noop").save()
    else df.write.mode("overwrite").parquet(s"$workDir/verify/$name")
    // the observed fingerprint arrives on the listener bus: read it after
    // the op's timer stops
    Result(name, 0L, () => Harness.fingerprint(obs))
  }
}

object QueryMix {
  val Corpus = "corpus_report"
  val Names: Seq[String] = Seq(
    "star_rollup", "edit_join", "neardup_minhash", "setsim_join", "hybrid_rrf",
    "bm25_topk", "quantile_sketch", Corpus)
}
