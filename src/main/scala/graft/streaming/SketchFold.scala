package graft.streaming

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{BloomSketch, F2Sketch, QuantileSketch, TextAnalysis}
import graft.sources.TableSwap

/** One streaming fold — the algorithm every lake-state consumer shares:
  * take a micro-batch, merge its delta into the table at a lake path, and
  * replace that table without a crash window. Two parts:
  *
  *  - [[consume]] starts the checkpointed `foreachBatch` query (the only
  *    one in graft) and [[watch]] opens the watched parquet dir it drains;
  *  - [[fold]] merges a batch's delta into the table under a caller-supplied
  *    merge [[Law]] and replaces the table through [[TableSwap]].
  *
  * foreachBatch is AT-LEAST-ONCE: a crash between the table write and the
  * checkpoint commit replays the batch. Whether that replay is harmless is
  * a property of the merge law, so the law fixes the replay guard:
  *
  * | consumer                    | merge law                     | replay guard       |
  * |-----------------------------|-------------------------------|--------------------|
  * | [[StreamingCms]]            | cell-wise sum                 | `_bid`             |
  * | [[StreamingF2]]             | estimator-wise sum            | `_bid`             |
  * | [[StreamingHll]]            | register-wise max             | none (max)         |
  * | [[StreamingQuantile]]       | distinct-union + re-threshold | none (distinct)    |
  * | [[StreamingBloom]]          | word-wise bitwise OR          | none (x OR x = x)  |
  * | [[StreamingPipeline]] state | keep newest row per key       | none (keep-newest) |
  *
  * A law that is idempotent by content re-merges a replayed batch into a
  * no-op. A sum is not: every row of a guarded table records the
  * last-applied batch id in `_bid`, and a batch whose id is ≤ the stored
  * one is skipped. Guard and merged rows land in ONE table replace, so
  * there is no window where a partial table carries the new `_bid`; with
  * the swap's rollback every crash point resolves to exactly-once. */
object SketchFold {

  /** A merge law — (prior table, batch delta) → new table — and the
    * replay guard it implies. Built only by [[idempotent]] or [[summing]]. */
  final class Law private[SketchFold] (
      private[SketchFold] val merge: (DataFrame, DataFrame) => DataFrame,
      private[SketchFold] val bidGuard: Boolean)

  /** A law idempotent by content (max, OR, distinct-union, keep-newest):
    * no replay bookkeeping. */
  def idempotent(merge: (DataFrame, DataFrame) => DataFrame): Law = new Law(merge, false)

  /** A summing law: replays would double-count, so the table carries the
    * `_bid` guard. */
  def summing(merge: (DataFrame, DataFrame) => DataFrame): Law = new Law(merge, true)

  private val Bid = "_bid"

  /** A file-source stream over the watched parquet dir `dir`, typed by
    * `T`'s encoder schema. */
  def watch[T <: Product : TypeTag](spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(Encoders.product[T].schema).parquet(dir)

  /** Start a `foreachBatch` query over `stream`, checkpointed at
    * `checkpoint` (each source file lands in exactly one committed batch). */
  def consume(stream: DataFrame, checkpoint: String)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(body)
      .start()

  /** Merge `delta` into the table at `path` under `law`, then replace it
    * through [[TableSwap]]. The law is its own first write: with no table
    * yet, the delta merges into an empty one, so a delta with several rows
    * per key (a raw state batch) is reduced before it lands. A guarded law
    * skips a `batchId` the table has already applied; an idempotent law
    * never reads `batchId`. */
  def fold(delta: DataFrame, batchId: Long, path: String, law: Law): Unit = {
    val s = delta.sparkSession
    val prior = if (TableSwap.exists(s, path)) Some(s.read.parquet(path)) else None
    // bounded driver pull: one MAX over the sketch-sized table (null when
    // only an empty batch was applied → nothing to skip)
    def applied(p: DataFrame): Boolean = law.bidGuard &&
      Option(p.agg(max(col(Bid))).first().get(0)).exists(_.asInstanceOf[Long] >= batchId)
    if (!prior.exists(applied)) {
      val base = prior.fold(delta.limit(0))(p => if (law.bidGuard) p.drop(Bid) else p)
      val merged = law.merge(base, delta)
      val table = if (law.bidGuard) merged.withColumn(Bid, lit(batchId)) else merged
      TableSwap.replace(s, path)(table.write.parquet(_))
    }
  }

  /** The sketch consumers' one shape: [[StreamingDedup.Doc]] files dropped
    * in `watchDir`, checkpoint at `outRoot/cp`, table at `outRoot/sketch`. */
  private[streaming] def runDocs(spark: SparkSession, watchDir: String, outRoot: String)(
      foldBatch: (DataFrame, Long, String) => Unit): StreamingQuery =
    consume(watch[StreamingDedup.Doc](spark, watchDir), s"$outRoot/cp") { (batch, batchId) =>
      foldBatch(batch, batchId, s"$outRoot/sketch")
    }
}

/** Streaming Count-Min Sketch — the unbounded-stream form of
  * [[graft.operators.TextAnalysis.cmsSketch]]. Cells fold by CELL-WISE
  * SUM, an exact merge law, so the accumulated sketch is ROW-IDENTICAL to
  * the batch sketch of everything ingested so far, in ≤ depth×width rows
  * at any stream size (token streams are never retained). Sums are not
  * idempotent: `_bid`-guarded (see [[SketchFold]]). Point queries read the
  * sketch dir at any time with the usual min-over-rows estimate. */
object StreamingCms {

  private val law = SketchFold.summing((prior, delta) =>
    prior.unionByName(delta).groupBy(col("_r"), col("_b")).agg(sum(col("_cell")).as("_cell")))

  /** Fold one micro-batch into the sketch at `sketchPath` — a no-op for an
    * already-applied batchId. Exposed so the replay spec can drive it. */
  private[graft] def foldBatch(batch: DataFrame, batchId: Long,
                               sketchPath: String, depth: Int, width: Int): Unit =
    SketchFold.fold(TextAnalysis.cmsSketch(batch, "text", depth, width), batchId, sketchPath, law)

  /** Start the sketch consumer over a watched directory of
    * [[StreamingDedup.Doc]] parquet files; the running sketch lives at
    * `outRoot/sketch` as (_r, _b, _cell, _bid) parquet. */
  def run(spark: SparkSession, watchDir: String, outRoot: String,
          depth: Int = 4, width: Int = 1024): StreamingQuery =
    SketchFold.runDocs(spark, watchDir, outRoot)(foldBatch(_, _, _, depth, width))
}

/** Streaming AMS F2 sketch — the unbounded-stream form of
  * [[graft.operators.F2Sketch.f2Cells]]. The 96 estimator sums fold by
  * ESTIMATOR-WISE SUM (the spec-pinned linear merge law Z_i(A ⊎ B) =
  * Z_i(A) + Z_i(B): every occurrence of a key draws the same md5 sign on
  * any engine/batch/retry), so the state is ROW-IDENTICAL to the batch
  * sketch of everything ingested so far, in 96 longs — the running
  * self-join-size / repetition-skew answer at any point in the stream. A
  * replayed sum would double every Z and inflate F2 ≈ 4×: `_bid`-guarded. */
object StreamingF2 {

  private val law = SketchFold.summing((prior, delta) =>
    prior.unionByName(delta).groupBy(col("_e")).agg(sum(col("z")).as("z")))

  /** Fold one micro-batch's token stream into the sketch at `sketchPath` —
    * a no-op for an already-applied batchId. Exposed for the replay spec. */
  private[graft] def foldBatch(batch: DataFrame, batchId: Long,
                               sketchPath: String): Unit = {
    val toks = batch
      .select(explode(TextAnalysis.tokens(col("text"))).as("t"))
      .where(col("t") =!= "")
    // Empty-batch skip: f2Cells' global agg over zero tokens emits 96
    // NULL-z rows, which would seed the sketch with NULLs and make
    // estimate()'s median-of-means element_at go out of range under ANSI.
    // A token-free batch is a content no-op for a linear fold.
    if (!toks.isEmpty)
      SketchFold.fold(F2Sketch.f2Cells(toks, Seq.empty, "t"), batchId, sketchPath, law)
  }

  /** Current F2 estimate from the lake sketch — the batch median-of-means
    * tail over the accumulated cells. One row (f2_est). */
  def estimate(spark: SparkSession, sketchPath: String): DataFrame =
    F2Sketch.f2EstimateFromCells(
      spark.read.parquet(sketchPath).select(col("_e"), col("z")), Seq.empty)

  /** Start the sketch consumer over a watched directory of
    * [[StreamingDedup.Doc]] parquet files; the running sketch lives at
    * `outRoot/sketch` as (_e, z, _bid) parquet. */
  def run(spark: SparkSession, watchDir: String, outRoot: String): StreamingQuery =
    SketchFold.runDocs(spark, watchDir, outRoot)(foldBatch)
}

/** Streaming HyperLogLog — the unbounded-stream form of
  * [[graft.operators.TextAnalysis.hllRegisters]]. Registers fold by
  * REGISTER-WISE MAX (spec-pinned on the batch operator), so the sketch is
  * ROW-IDENTICAL to the batch sketch of everything ingested so far, in
  * ≤ 256 rows. Max is idempotent by content: no replay guard. */
object StreamingHll {

  private val law = SketchFold.idempotent((prior, delta) =>
    prior.unionByName(delta).groupBy(col("bucket")).agg(max(col("r")).cast("int").as("r")))

  /** Fold one micro-batch into the register table at `sketchPath`.
    * Exposed so the replay spec can drive it directly. */
  private[graft] def foldBatch(batch: DataFrame, sketchPath: String): Unit =
    SketchFold.fold(TextAnalysis.hllRegisters(batch, "text"), 0L, sketchPath, law)

  /** Start the cardinality-sketch consumer over a watched directory of
    * [[StreamingDedup.Doc]] parquet files; the running register table
    * lives at `outRoot/sketch` as (bucket, r) parquet — read it at any
    * time and estimate with the usual α·m²/Σ2^(−r) formula. */
  def run(spark: SparkSession, watchDir: String, outRoot: String): StreamingQuery =
    SketchFold.runDocs(spark, watchDir, outRoot)((batch, _, path) => foldBatch(batch, path))
}

/** Streaming mergeable quantile sketch — the unbounded-stream form of
  * [[graft.operators.QuantileSketch]]. Each micro-batch's ≤ k-row
  * survivor table folds by the EXACT merge law (distinct-union +
  * re-threshold), so the state is row-identical to the batch sketch of
  * everything ingested so far, in ≤ k rows. The distinct on (v60, value)
  * makes a replay a content no-op: no replay guard. Requires unique row
  * keys (the md5-coin source); two distinct rows colliding on
  * (v60, value) is the documented ~2^−60 jitter. */
object StreamingQuantile {

  private def law(k: Int) = SketchFold.idempotent(QuantileSketch.merge(_, _, k))

  /** Fold one micro-batch into the sketch at `sketchPath`. Exposed so the
    * replay/parity spec can drive it directly. */
  private[graft] def foldBatch(batch: DataFrame, sketchPath: String,
                               keyCol: String, valueCol: String, k: Int): Unit =
    SketchFold.fold(QuantileSketch.sketch(batch, keyCol, valueCol, k), 0L, sketchPath, law(k))

  /** Start the quantile-sketch consumer over a watched directory of
    * [[StreamingDedup.Doc]] parquet files (value = document length in
    * characters); the running sketch lives at `outRoot/sketch` as
    * (level, v60, value) parquet — read it at any time and take survivor
    * order statistics. */
  def run(spark: SparkSession, watchDir: String, outRoot: String,
          k: Int = 64): StreamingQuery =
    SketchFold.runDocs(spark, watchDir, outRoot) { (batch, _, path) =>
      foldBatch(batch.selectExpr("doc_id", "length(text) AS n_chars"), path,
        "doc_id", "n_chars", k)
    }
}

/** Streaming Bloom filter — the unbounded-stream form of
  * [[graft.operators.BloomSketch]]. Each micro-batch's word table folds by
  * word-wise BITWISE OR, so the filter is row-identical to the batch
  * filter of everything ingested so far, in ≤ m/32 rows — the incremental
  * decontamination gate (new benchmark/blocklist keys arrive; the
  * training-side probe keeps reading one broadcastable table). OR is
  * idempotent algebraically (x | x = x): no replay guard. */
object StreamingBloom {

  private val law = SketchFold.idempotent(BloomSketch.merge)

  /** Fold one micro-batch's keys into the word table at `sketchPath`.
    * Exposed for the replay spec. */
  private[graft] def foldBatch(batch: DataFrame, keyCol: String,
                               sketchPath: String): Unit =
    SketchFold.fold(BloomSketch.bloomWords(batch, keyCol), 0L, sketchPath, law)

  /** Start the membership-filter consumer over a watched directory of
    * [[StreamingDedup.Doc]] parquet files; the running word table lives
    * at `outRoot/sketch` as (widx, bits) parquet — probe it at any time
    * with [[graft.operators.BloomSketch.bloomProbe]]. */
  def run(spark: SparkSession, watchDir: String, outRoot: String): StreamingQuery =
    SketchFold.runDocs(spark, watchDir, outRoot)((batch, _, path) =>
      foldBatch(batch, "text", path))
}
