package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Structured Streaming re-expression of the reference's broker flow
  * (etl/broker/producer.py → RabbitMQ → consumer.py → raw zone): the queue
  * becomes a stream source, the consumer's drain loop becomes a micro-batch
  * sink, and the raw-zone metadata columns ride along. Watermarked windowed
  * aggregation and stateful sessionization are the streaming analogs of
  * operators/Events.
  */
object EventStreaming {

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                         event_type: String, value: Double)
  final case class SessionUpdate(user_id: Long, session_start: Timestamp,
                                 session_end: Timestamp, n_events: Long)
  final case class SessionState(startMs: Long, endMs: Long, n: Long)

  /** Routing counts per event type over tumbling windows, watermarked so
    * state is bounded (the streaming `per-queue` stats). */
  def windowedRouteCounts(events: DataFrame, window_ : String = "1 hour",
                          watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Gap-based sessionization with explicit keyed state
    * (flatMapGroupsWithState): emits a session when `gapSec` of event-time
    * silence passes. State per user is O(1). */
  def sessionize(spark: SparkSession, events: Dataset[Event],
                 gapSec: Long = 1800L): Dataset[SessionUpdate] = {
    import spark.implicits._
    events
      .withWatermark("ts", s"$gapSec seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionUpdate](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionUpdate(userId, new Timestamp(s.startMs), new Timestamp(s.endMs), s.n))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[SessionUpdate]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.endMs <= gapSec * 1000L =>
                  cur = Some(SessionState(s.startMs, math.max(s.endMs, t), s.n + 1))
                case Some(s) =>
                  closed ::= SessionUpdate(userId, new Timestamp(s.startMs), new Timestamp(s.endMs), s.n)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.endMs + gapSec * 1000L)
            }
            closed.reverseIterator
          }
      }
  }

  /** Streaming exact dedup: drop repeated event ids within the watermark
    * horizon (state is bounded by the watermark — the streaming analog of
    * the batch exact-dedup operator; at-least-once sources become
    * effectively-once downstream). */
  def dedupStream(events: DataFrame, idCol: String = "event_id",
                  watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicates(idCol, "ts")

  /** Streaming exact dedup for keys whose duplicates may arrive with
    * DIFFERENT timestamps (retried producers restamp on send, so
    * `dropDuplicates(id, ts)` misses them): `dropDuplicatesWithinWatermark`
    * keys state on the id alone and evicts it once the watermark passes the
    * first sighting — bounded state without requiring duplicate events to
    * be byte-identical. */
  def dedupKeysWithinWatermark(events: DataFrame, idCol: String = "event_id",
                               watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(idCol)

  /** Gap-based sessionization via Spark's NATIVE session window — the
    * declarative alternative to the explicit-state [[sessionize]]: the
    * engine merges per-key windows that overlap within the gap and emits a
    * session when the watermark passes its end. State and output semantics
    * match flatMapGroupsWithState but the plan stays fully Catalyst-visible
    * (codegen'd aggregation, mergeable session state store). */
  def sessionWindowAgg(events: DataFrame, gap: String = "30 minutes",
                       watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).as("session_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("session_value"))

  /** Streaming quality split: the SAME batch rule engine runs unchanged on
    * a stream — rule predicates are stateless Column exprs and FK rules are
    * stream-static broadcast joins, both streaming-safe. (Duplicate
    * detection is the one batch rule that doesn't stream — its window
    * becomes [[dedupStream]]'s watermarked dropDuplicates.) Returns the
    * (clean, error) streams, each writable to its own zone sink. */
  def qualityZones(stream: DataFrame,
                   rules: Seq[graft.operators.Quality.Rule]): (DataFrame, DataFrame) = {
    val annotated = graft.operators.Quality.annotate(stream, rules)
    (graft.operators.Quality.cleanZone(annotated),
      graft.operators.Quality.errorZone(annotated))
  }

  /** Stream-stream interval join: pair each left event with the right-stream
    * events of the same key whose timestamp lands in [left.ts, left.ts +
    * maxDelay] — the attribution/funnel primitive (click → purchase within
    * N minutes). Both sides are watermarked and the join carries the
    * event-time range condition, so Spark derives a state-eviction bound on
    * BOTH buffers: state is O(key-rate × (watermark + maxDelay)), never
    * unbounded — the condition every production stream-stream join must
    * satisfy. Inner join; emits as soon as both sides arrive. */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
                   watermark: String = "1 hour",
                   maxDelay: String = "30 minutes"): DataFrame = {
    val l = left.withWatermark("ts", watermark).alias("l")
    val r = right.withWatermark("ts", watermark).alias("r")
    l.join(r,
      col(s"l.$keyCol") === col(s"r.$keyCol") &&
      col("r.ts") >= col("l.ts") &&
      col("r.ts") <= col("l.ts") + expr(s"INTERVAL $maxDelay"))
  }

  /** Streaming heavy hitters: a Misra-Gries frequent-items sketch maintained
    * ACROSS micro-batches by the streaming aggregation state store — the
    * monitoring question "which tokens/sources/event types dominate the
    * stream so far" answered continuously, without ever holding the full
    * vocabulary (state per group is the sketch's <= capacity counters, the
    * same bound the batch operator's shuffle buffers carry).
    *
    * The MG sketch is a mergeable summary, so Spark's partial/final
    * streaming aggregation is exactly its algebra: each micro-batch folds
    * map-side into bounded buffers, merges into the stored state, and the
    * stored state IS a valid sketch of everything seen since the query
    * started. The no-miss guarantee carries over: any item with frequency
    * > n_total/(capacity+1) over the WHOLE stream history is in the
    * candidate list. Estimated counts undercount by at most
    * n_total/(capacity+1); items fewer than capacity distinct keep exact
    * counts. Output (per group): the candidate array + the exact stream
    * length, for thresholding downstream. Use Update/Complete mode — the
    * aggregation is global per group, not windowed. */
  def streamingHeavyHitters(items: DataFrame, itemCol: String, capacity: Int,
                            groupCols: Seq[String] = Seq.empty): DataFrame =
    items
      .groupBy(groupCols.map(col): _*)
      .agg(graft.functions.MisraGriesAgg.misraGries(col(itemCol), capacity)
          .as("candidates"),
        count(lit(1)).as("n_total"))

  /** Raw-zone sink contract: append the staged metadata and write micro-batch
    * parquet (the consumer.py drain loop). Returns the started query. */
  def toRawZone(events: DataFrame, outDir: String, checkpointDir: String,
                source: String, runId: String): StreamingQuery =
    appendZone(events
      .withColumn("_source", lit(source))
      .withColumn("_run_id", lit(runId))
      .withColumn("_extract_time", current_timestamp()), outDir, checkpointDir)

  /** Checkpointed parquet zone sink in Append mode — the raw, clean and
    * error zones all write through it. */
  private[streaming] def appendZone(stream: DataFrame, outDir: String,
                                    checkpointDir: String): StreamingQuery =
    stream.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .start()
}
