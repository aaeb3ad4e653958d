package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Banded, Dedup, Similarity}
import graft.sources.TableSwap

/** Incremental streaming near-duplicate suppression — the ingestion-time
  * dedup a training-data pipeline runs so a crawler replaying yesterday's
  * pages never re-enters the corpus.
  *
  * Each micro-batch of documents is MinHash-banded (the same native
  * signature expressions as the batch [[graft.operators.Dedup]]) and checked
  * against the ACCUMULATED signature index — a parquet table in the lake
  * keyed (doc_id, signature), so dedup state scales with the corpus ON DISK,
  * not with executor memory (flatMapGroupsWithState would cap the corpus at
  * cluster RAM and lose the index on checkpoint wipe). Candidates come from
  * the [[graft.operators.Banded]] equi-join on (band_id, band_key) — never
  * an all-pairs compare — and are verified with the unbiased MinHash
  * Jaccard estimator (matching signature components / numHashes), so the
  * index never needs document text. Batch-local duplicates are verified with EXACT shingle Jaccard
  * (text is still at hand). Uniques append to the index and the clean zone;
  * duplicates land in the dup zone with their matched representative and
  * similarity.
  *
  * Failure semantics: the [[SketchFold.consume]] query is checkpointed
  * (each file is processed in exactly one committed batch). The zone
  * appends are not transactional with the checkpoint, so a crash INSIDE
  * a batch — after some appends, before the commit — replays that batch. Replay
  * CLASSIFICATION is stable by construction: the index probe excludes any
  * (rep_id, signature) row identical to one the current batch itself
  * appends (same-batch pairs belong to the within-batch pass, which
  * verifies with EXACT Jaccard under the smallest-id-survives rule), so
  * the rows a crashed attempt already appended to the index are invisible
  * to the replay and it reproduces the first attempt's verdicts bit for
  * bit — while an id re-ingested with DIFFERENT text keeps its earlier
  * index row visible as a representative. Without that exclusion a replay
  * would re-judge same-batch pairs through the index path's ESTIMATED
  * Jaccard — a doc unique at exact similarity could flip to dup (or an
  * index-resident peer could usurp the smaller-id representative), leaving
  * clean/ and dups/ in permanent disagreement. What a replay does repeat
  * is the APPEND of rows the first attempt already wrote; a production
  * deployment would partition the zone appends by batchId so replayed
  * appends overwrite idempotently.
  */
object StreamingDedup {

  final case class Doc(doc_id: Long, text: String)

  /** Unbiased MinHash Jaccard estimate: matching components / numHashes. */
  def estJaccard(a: Column, b: Column, numHashes: Int): Column =
    round(aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x).cast("double") / numHashes, 6)

  /** One row per duplicate id from a candidate table (id, rep_id,
    * similarity, reason): best similarity wins, ties to the lowest
    * (rep_id, reason) pair — deterministic under any partitioning, and a
    * single pass over the UNION of the index and batch candidate sets so
    * an id seen by both paths reports exactly once. */
  private def bestRep(cand: DataFrame, idCol: String): DataFrame = {
    val best = cand.groupBy(col(idCol)).agg(max(col("similarity")).as("similarity"))
    cand.join(best, Seq(idCol, "similarity"))
      .groupBy(col(idCol), col("similarity"))
      .agg(min(struct(col("rep_id"), col("reason"))).as("_r"))
      .select(col(idCol), col("_r.rep_id").as("rep_id"), col("similarity"),
        col("_r.reason").as("reason"))
  }

  private def emptyCand(s: SparkSession, idCol: String): DataFrame =
    s.emptyDataFrame.select(lit(0L).as(idCol), lit(0L).as("rep_id"),
      lit(0.0).as("similarity"), lit("index").as("reason")).limit(0)

  /** Start the dedup consumer over a watched directory of Doc parquet files.
    * Zones under `outRoot`: `clean/` (unique docs), `dups/` (doc_id, rep_id,
    * similarity, reason), `index/` (doc_id, _mh). Docs too short to shingle
    * pass straight to clean (no signature to compare). */
  def run(spark: SparkSession, watchDir: String, outRoot: String,
          shingleN: Int = 3, numHashes: Int = 128,
          numBands: Int = 32, rowsPerBand: Int = 4,
          threshold: Double = 0.8): StreamingQuery = {
    // built (and its bands*rows == numHashes check run) before the stream
    // starts, so a misconfigured banding fails here, not in the first batch
    val bandKeys = Dedup.bandSignatures(col("_mh"), numHashes, numBands, rowsPerBand)
    def bandsOf(sigs: DataFrame): DataFrame =
      Banded.band(sigs, Seq(col("doc_id"), col("_mh")), bandKeys)
    val indexPath = s"$outRoot/index"

    SketchFold.consume(SketchFold.watch[Doc](spark, watchDir), s"$outRoot/cp") { (batch, _) =>
      val s = batch.sparkSession
      val docs = batch.dropDuplicates("doc_id")
        .withColumn("_sh", Dedup.shingles(col("text"), shingleN))
      val short = docs.where(size(col("_sh")) < 1)
      val sigs = docs.where(size(col("_sh")) >= 1)
        .withColumn("_mh", Dedup.minHashSignature(col("_sh"), numHashes))
        // several downstream uses (index probe, self-join, zone writes) —
        // bound the lineage once per batch
        .localCheckpoint()

      // --- cross-batch: probe the accumulated signature index ---------
      val indexCand: DataFrame =
        if (TableSwap.exists(s, indexPath)) {
          Banded.pairs(bandsOf(sigs), bandsOf(s.read.parquet(indexPath)))
            .select(col("x.doc_id").as("doc_id"), col("y.doc_id").as("rep_id"),
              col("y._mh").as("_mh_i"),
              estJaccard(col("x._mh"), col("y._mh"), numHashes).as("similarity"))
            .where(col("similarity") >= threshold)
            // index rows IDENTICAL to what this batch's own attempt
            // appends — same id AND same signature — only exist when a
            // crashed batch replays; those pairs are the within-batch
            // pass's jurisdiction (exact Jaccard, smallest id survives),
            // so excluding them makes the replay reproduce the first
            // attempt's classification exactly (this also covers the
            // self-match doc_id == rep_id case). Matching on the FULL
            // (id, signature) pair — not the id alone — keeps a
            // re-ingested id with DIFFERENT text (a legitimate update
            // indexed in an earlier batch) visible as a representative
            // for its batch-mates.
            .join(sigs.select(col("doc_id").as("rep_id"), col("_mh").as("_mh_i")),
              Seq("rep_id", "_mh_i"), "left_anti")
            .drop("_mh_i")
            .distinct()
            .withColumn("reason", lit("index"))
        } else emptyCand(s, "doc_id")

      // --- within-batch: LSH candidates verified with EXACT jaccard ---
      // Pairing runs over the WHOLE batch (not just index-survivors), so
      // a doc whose only smaller-id neighbor is itself an index dup is
      // still caught — the same membership rule the batch operators use.
      val batchCand = {
        val bx = bandsOf(sigs)
        val cand = Banded.pairs(bx, bx, col("x.doc_id") > col("y.doc_id"))
          .select(col("x.doc_id").as("doc_id"), col("y.doc_id").as("rep_id"))
          .distinct()
        val sh = sigs.select(col("doc_id"), col("_sh"))
        Dedup.withJaccard(
          cand
            .join(sh.withColumnRenamed("doc_id", "_ida").withColumnRenamed("_sh", "_sh_a"),
              col("doc_id") === col("_ida"))
            .join(sh.withColumnRenamed("doc_id", "_idb").withColumnRenamed("_sh", "_sh_b"),
              col("rep_id") === col("_idb")),
          col("_sh_a"), col("_sh_b"), "similarity")
          .where(col("similarity") >= threshold)
          .select(col("doc_id"), col("rep_id"), col("similarity"))
          .withColumn("reason", lit("batch"))
      }

      val dups = bestRep(indexCand.unionByName(batchCand), "doc_id").localCheckpoint()
      val uniques = sigs.join(dups.select(col("doc_id")), Seq("doc_id"), "left_anti")

      // zone writes: uniques' signatures extend the index; text goes clean
      uniques.select(col("doc_id"), col("_mh"))
        .write.mode("append").parquet(indexPath)
      uniques.select(col("doc_id"), col("text"))
        .unionByName(short.select(col("doc_id"), col("text")))
        .write.mode("append").parquet(s"$outRoot/clean")
      dups.write.mode("append").parquet(s"$outRoot/dups")
    }
  }

  final case class Vec(vec_id: Long, embedding: Seq[Float])

  /** Streaming SEMANTIC dedup (online SemDeDup) — the embedding-space
    * sibling of [[run]]: each micro-batch of vectors is cell-assigned
    * map-side against the provided IVF centroids (the same carrier the
    * batch [[graft.operators.Similarity.semanticDedup]] uses) and checked
    * for cosine ≥ `threshold` neighbors, first against the ACCUMULATED
    * (vec_id, cell, vector) parquet index — state on disk, not executor
    * RAM — then within the batch. Pairing is cell-scoped on BOTH paths and
    * the within-batch pass covers the whole batch (an arrival whose only
    * smaller-id neighbor is itself an index dup is still caught), so the
    * keep rules match the batch operator's: index-resident vectors beat
    * new arrivals, and within a batch the smallest id survives its
    * neighborhood; cross-cell misses are the same documented SemDeDup
    * approximation as the batch operator. Degenerate-vector policy also
    * matches batch: NaN cosines (zero-norm vectors) never mark a
    * duplicate — in Spark's ordering NaN compares GREATER than any
    * double, so an unguarded `NaN >= threshold` would let one zero-norm
    * index entry silently absorb its whole cell. Uniques append to the
    * index and the clean zone; dups carry (rep_id, similarity, reason).
    * Checkpoint + crash-replay semantics are [[run]]'s (index rows
    * identical to the batch's own (id, vector) appends are excluded from
    * the probe, so a replay reproduces the first attempt's classification
    * and only re-appends rows already written). */
  def runSemantic(spark: SparkSession, watchDir: String, outRoot: String,
                  centroids: Array[(Int, Array[Double])],
                  threshold: Double = 0.9): StreamingQuery = {
    val indexPath = s"$outRoot/index"
    SketchFold.consume(SketchFold.watch[Vec](spark, watchDir), s"$outRoot/cp") { (batch, _) =>
      val s = batch.sparkSession
      val cells = Similarity.cellMaker(batch, centroids, forceBroadcast = false)
      val vecs = batch.dropDuplicates("vec_id")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("_v"))
        .withColumn("cell", cells(col("_v"), 1)(0))
        .localCheckpoint()

      // --- cross-batch: probe the accumulated vector index by cell ----
      val indexCand: DataFrame =
        if (TableSwap.exists(s, indexPath)) {
          val idx = s.read.parquet(indexPath)
            .select(col("vec_id").as("rep_id"), col("cell"), col("_v").as("_vi"))
          vecs.join(idx, Seq("cell"))
            .select(col("vec_id"), col("rep_id"), col("_vi"),
              round(Similarity.cosine(col("_v"), col("_vi")), 6).as("similarity"))
            .where(!isnan(col("similarity")) && col("similarity") >= threshold)
            // index rows identical to this batch's own appends — same id
            // AND same vector — are a crashed replay's rows; those pairs
            // belong to the within-batch pass (see run()), and matching
            // the full (id, vector) pair keeps a re-ingested id with a
            // DIFFERENT embedding visible as a representative
            .join(vecs.select(col("vec_id").as("rep_id"), col("_v").as("_vi")),
              Seq("rep_id", "_vi"), "left_anti")
            .drop("_vi")
            .withColumn("reason", lit("index"))
        } else emptyCand(s, "vec_id")

      // --- within-batch: cell-scoped pairs, smallest id survives ------
      val batchCand = {
        val a = vecs.select(col("cell"), col("vec_id"), col("_v"))
        a.as("x").join(a.as("y"),
            col("x.cell") === col("y.cell") && col("x.vec_id") > col("y.vec_id"))
          .select(col("x.vec_id").as("vec_id"), col("y.vec_id").as("rep_id"),
            round(Similarity.cosine(col("x._v"), col("y._v")), 6).as("similarity"))
          .where(!isnan(col("similarity")) && col("similarity") >= threshold)
          .withColumn("reason", lit("batch"))
      }

      val dups = bestRep(indexCand.unionByName(batchCand), "vec_id").localCheckpoint()
      val uniques = vecs.join(dups.select(col("vec_id")), Seq("vec_id"), "left_anti")

      uniques.select(col("vec_id"), col("cell"), col("_v"))
        .write.mode("append").parquet(indexPath)
      uniques.select(col("vec_id"), col("_v").as("embedding"))
        .write.mode("append").parquet(s"$outRoot/clean")
      dups.write.mode("append").parquet(s"$outRoot/dups")
    }
  }
}
