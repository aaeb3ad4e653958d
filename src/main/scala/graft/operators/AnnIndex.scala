package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted, incrementally-maintained IVF-PQ index — the vector-STORE
  * maintenance shape around [[Similarity.ivfPqTopKWith]]'s in-memory
  * search: the (cell, id, codes) table lands as a parquet zone clustered
  * by cell, new vectors APPEND map-side against the FROZEN
  * centroids/codebooks (no retrain, no rebuild — the faiss
  * `IndexIVF.add` contract), searches run against the zone as they would
  * against the in-memory frame, and a staleness gate compares the
  * CURRENT cell-occupancy distribution against the training-time
  * snapshot (exact weighted two-sample KS — [[Analytics.ksTwoSampleCounts]])
  * to recommend retraining once the data has drifted away from the
  * partition the centroids were trained for.
  *
  * Zone layout under `path/`:
  *  - `index/`     (cell, neighbor_id, _codes, _vnormr) — hash-clustered
  *                 (each cell whole in one file) and sorted by cell, so a
  *                 probe's (cell)-keyed join prunes to its cells' row
  *                 groups via min/max stats;
  *  - `vectors/`   (neighbor_id, vec) — the refine store the exact
  *                 re-rank fetches shortlist vectors from (faiss
  *                 IVFPQ + refine / DiskANN's on-disk vector file);
  *  - `occupancy/` (cell, n) — the training-time histogram, FROZEN at
  *                 build; the staleness baseline ([[append]] never
  *                 touches it);
  *  - `centroids/`, `books/` — the pinned artifacts, persisted for
  *                 durability/inspection (searches take them as driver
  *                 constants, the pinned-artifact discipline — nothing
  *                 here re-collects them).
  *
  * Scale: build and append are the SAME one map-side pass as the
  * in-memory index (cell assignment + compiled PQ encode + per-row
  * reconstructed norm — the corpus never shuffles except the cell
  * clustering of the m-byte code table, which is code-table-sized, not
  * vector-sized); search is [[Similarity.ivfPqTopKWith]]'s probe
  * broadcast + bounded-heap shortlist + exact re-rank, reading codes
  * from the zone and vectors only for the shortlist; the staleness gate
  * reads nothing but the code table's cell column (map-side-combined
  * counts, ≤ cells rows cross the shuffle). */
object AnnIndex {

  /** The persistable index rows for `corpus` under frozen artifacts —
    * identical, column for column, to [[Similarity.ivfPqTopKWith]]'s
    * in-memory index frame: (cell, neighbor_id, _codes, _vnormr). */
  def indexRows(corpus: DataFrame, idCol: String, vecCol: String,
                centroids: Array[(Int, Array[Double])],
                books: Array[Array[Array[Double]]]): DataFrame = {
    val booksSeq: Seq[Seq[Seq[Double]]] = books.map(_.map(_.toSeq).toSeq).toSeq
    val c = corpus.select(col(idCol).as("neighbor_id"),
      Similarity.toDouble(col(vecCol)).as("_cv"))
    val cells = Similarity.cellMaker(c, centroids, forceBroadcast = false)
    c.select(col("neighbor_id"),
        cells(col("_cv"), 1)(0).as("cell"),
        graft.functions.NativeExprs.pqEncode(col("_cv"), booksSeq).as("_codes"))
      .withColumn("_vnormr", Similarity.reconNorm(books))
      .select(col("cell"), col("neighbor_id"), col("_codes"), col("_vnormr"))
  }

  private def vectorRows(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("neighbor_id"),
      Similarity.toDouble(col(vecCol)).as("vec"))

  /** Cell-clustered writer for the code table. HASH repartition on the
    * cell key (r20): `repartitionByRange` pays a SAMPLING pass that
    * re-executes the whole indexRows subtree — cell assignment + compiled
    * PQ encode run TWICE per build/append — to derive boundaries for a
    * key with ≤ |cells| distinct values; a hash exchange keys the same
    * bytes once, each cell still lands whole in one file and the
    * within-file sort keeps cell min/max row-group stats tight, which is
    * what the probe-side pruning reads. */
  private def writeIndex(rows: DataFrame, path: String, mode: String): Unit =
    rows.repartition(rows.sparkSession.sparkContext.defaultParallelism, col("cell"))
      .sortWithinPartitions(col("cell"))
      .write.mode(mode).parquet(path)

  /** Build the zone from scratch — index + vector store + FROZEN occupancy
    * baseline + persisted artifacts — as ONE [[graft.sources.TableSwap]] commit. */
  def build(corpus: DataFrame, idCol: String, vecCol: String,
            centroids: Array[(Int, Array[Double])],
            books: Array[Array[Array[Double]]], path: String): Unit = {
    val s = corpus.sparkSession
    import s.implicits._
    graft.sources.TableSwap.replace(s, path) { root =>
      writeIndex(indexRows(corpus, idCol, vecCol, centroids, books),
        s"$root/index", "errorifexists")
      // the remaining four zone writes are mutually independent (disjoint
      // paths; occupancy READS the index just written above) — overlapped
      // from driver threads (guide §2.6, the pipeline inParallel pattern)
      graft.Pipeline.inParallel(
        () => vectorRows(corpus, idCol, vecCol).write.parquet(s"$root/vectors"),
        // training-time occupancy, computed from the index just written (one
        // cheap scan of the code table's cell column) — the staleness baseline
        () => s.read.parquet(s"$root/index").groupBy(col("cell"))
          .agg(count(lit(1)).as("n"))
          .write.parquet(s"$root/occupancy"),
        () => centroids.map { case (id, v) => (id, v.toSeq) }.toSeq
          .toDF("cell", "vec").write.parquet(s"$root/centroids"),
        () => books.zipWithIndex.flatMap { case (bk, m) =>
          bk.zipWithIndex.map { case (cv, code) => (m, code, cv.toSeq) }
        }.toSeq.toDF("sub", "code", "vec")
          .write.parquet(s"$root/books"))
    }
  }

  /** Append new vectors against the FROZEN artifacts — one map-side pass,
    * no rebuild; the occupancy baseline is deliberately NOT updated (it
    * records what the centroids were trained for, which is exactly what
    * [[staleness]] compares against). */
  def append(newVecs: DataFrame, idCol: String, vecCol: String,
             centroids: Array[(Int, Array[Double])],
             books: Array[Array[Array[Double]]], path: String): Unit =
    // the two appends touch disjoint paths — overlapped (guide §2.6)
    graft.Pipeline.inParallel(
      () => writeIndex(indexRows(newVecs, idCol, vecCol, centroids, books),
        s"$path/index", "append"),
      () => vectorRows(newVecs, idCol, vecCol)
        .write.mode("append").parquet(s"$path/vectors"))

  /** Search the persisted zone — [[Similarity.ivfPqTopKWith]]'s probe
    * broadcast / ADC shortlist / exact re-rank, with the code table read
    * from `index/` and shortlist vectors fetched from `vectors/`.
    * Append-then-search equals a fresh in-memory build on the union
    * (spec-pinned): frozen artifacts make index rows a pure per-row
    * function, so the zone IS the in-memory frame, rows unioned. */
  def search(spark: SparkSession, path: String, queries: DataFrame,
             idCol: String, vecCol: String, k: Int,
             centroids: Array[(Int, Array[Double])],
             books: Array[Array[Array[Double]]],
             nprobe: Int = 0, shortlist: Int = 0): DataFrame = {
    val probes = if (nprobe > 0) nprobe else Similarity.adaptiveProbes(centroids.length)
    val cShort = if (shortlist > 0) shortlist else math.max(8 * k, 64)
    val booksSeq: Seq[Seq[Seq[Double]]] = books.map(_.map(_.toSeq).toSeq).toSeq
    val index = spark.read.parquet(s"$path/index")
    val vectors = spark.read.parquet(s"$path/vectors")
      .select(col("neighbor_id").as(idCol), col("vec").as(vecCol))
    val cells = Similarity.cellMaker(index, centroids, forceBroadcast = false)
    val q = queries.select(col(idCol).as("query_id"),
        Similarity.toDouble(col(vecCol)).as("_qv"))
      .select(col("query_id"),
        explode(cells(col("_qv"), probes)).as("cell"),
        graft.functions.NativeExprs.pqLut(col("_qv"), booksSeq).as("_lut"),
        sqrt(aggregate(col("_qv"), lit(0.0), (acc, x) => acc + x * x)).as("_qnorm"))
    val scored = index.join(broadcast(q), "cell")
      .withColumn("_sim", Similarity.adcCosine)
    Similarity.adcRerank(queries, vectors, idCol, vecCol, scored, cShort, k)
  }

  /** Staleness gate: exact weighted two-sample KS between the FROZEN
    * training-time occupancy and the zone's CURRENT occupancy (train +
    * appends), over the cell-id axis. Appends distributed like the
    * training data leave D at 0 (proportions identical); a drifted feed
    * piles into cells the training never favored and D grows toward the
    * drifted mass fraction. Output: one row
    * (n_train, n_now, n_cells, d_stat, stale = d_stat > threshold). */
  def staleness(spark: SparkSession, path: String,
                threshold: Double = 0.1): DataFrame = {
    val base = spark.read.parquet(s"$path/occupancy")
      .select(col("cell").as("v"), col("n").as("_ca"))
    val cur = spark.read.parquet(s"$path/index")
      .groupBy(col("cell")).agg(count(lit(1)).as("_cb"))
      .select(col("cell").as("v"), col("_cb"))
    Analytics.ksTwoSampleCounts(base, cur)
      .select(col("n_a").as("n_train"), col("n_b").as("n_now"),
        col("n_points").as("n_cells"), col("d_stat"),
        (col("d_stat") > threshold).as("stale"))
  }
}
