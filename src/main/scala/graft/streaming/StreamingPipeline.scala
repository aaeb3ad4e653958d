package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Quality, Star}
import graft.sources.Retry

/** Continuous variant of `graft.Pipeline.runAll` — the reference's broker
  * consumer as a long-running flow (etl/broker/consumer.py's drain loop +
  * STEP3's quality split applied per micro-batch):
  *
  *   watched dir (FileStreamSource = the queue) →
  *     raw zone (staged metadata, append) +
  *     watermarked exact dedup → quality rule split → clean/error zones +
  *     an INCREMENTALLY UPSERTED latest-state table (newest row per key via
  *     `Star.upsertLatest` — the staging-reload primitive applied
  *     continuously, as a [[SketchFold]] merge law).
  *
  * Every sink is checkpointed, so the pipeline resumes exactly-once after a
  * restart (file source offsets + sink commit log). The state table is
  * replaced through [[graft.sources.TableSwap]]: the merged table is
  * written completely to `state.swap.tmp`, then the live dir is renamed to
  * `state.swap.prev` and the temp dir renamed into place. A crash between
  * the two renames leaves the complete prior table in `.prev`, which the
  * next batch's existence probe (the Hadoop FS of the path's own scheme)
  * renames back before it merges — never a delete-then-write window, and
  * never a lost table. Keep-newest is idempotent by content, so a replayed
  * batch needs no batch-id guard.
  */
object StreamingPipeline {

  final case class Sinks(raw: StreamingQuery, clean: StreamingQuery,
                         error: StreamingQuery, state: StreamingQuery) {
    def all: Seq[StreamingQuery] = Seq(raw, clean, error, state)
    def drain(): Unit = all.foreach(_.processAllAvailable())
    def stop(): Unit = all.foreach(_.stop())
  }

  /** Start the four sinks over a watched directory of event files.
    * `stateKey`/`stateVersion`/`stateTieBreak` configure the latest-state
    * upsert (defaults: newest event per user). */
  def run(spark: SparkSession, watchDir: String, outRoot: String,
          rules: Seq[Quality.Rule], runId: String,
          stateKey: String = "user_id", stateVersion: String = "ts",
          stateTieBreak: String = "event_id"): Sinks = {
    val stream = SketchFold.watch[EventStreaming.Event](spark, watchDir)

    // Sink STARTUP (checkpoint dir probe, offset-log recovery, first source
    // listing) is driver-side work Spark's task retry does not cover — the
    // same exposure as the reference's broker connect, so it takes the same
    // bounded-retry treatment (etl/utils/retry.py wraps consumer startup).
    // start() is idempotent-safe to retry: a failed start leaves no running
    // query behind.
    def startRetrying(label: String)(start: => StreamingQuery): StreamingQuery =
      Retry.withRetry(label = s"stream_start:$label")(start)

    val raw = startRetrying("raw") {
      EventStreaming.toRawZone(stream, s"$outRoot/raw", s"$outRoot/cp_raw",
        "dirq", runId)
    }

    val deduped = EventStreaming.dedupStream(stream)
    val (clean, err) = EventStreaming.qualityZones(deduped, rules)
    val cleanQ = startRetrying("clean") {
      EventStreaming.appendZone(clean, s"$outRoot/clean", s"$outRoot/cp_clean")
    }
    val errQ = startRetrying("error") {
      EventStreaming.appendZone(err, s"$outRoot/error", s"$outRoot/cp_error")
    }

    val latest = SketchFold.idempotent((prior: DataFrame, batch: DataFrame) =>
      Star.upsertLatest(prior, batch, stateKey, stateVersion, stateTieBreak))
    val stateQ = startRetrying("state") {
      SketchFold.consume(clean, s"$outRoot/cp_state") { (batch, batchId) =>
        SketchFold.fold(batch, batchId, s"$outRoot/state", latest)
      }
    }

    Sinks(raw, cleanQ, errQ, stateQ)
  }
}
