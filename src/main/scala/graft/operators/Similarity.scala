package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Ckpt.CkptOps

/** Similarity search over embedding columns (`array<float>`): brute-force
  * cosine top-k as the exact baseline, random-hyperplane LSH bucketing as the
  * scale path.
  *
  * All vector math is Catalyst higher-order functions (`zip_with`,
  * `aggregate`) over arrays cast to double — whole-stage codegen'd, no UDFs,
  * no driver-side collection of vectors.
  *
  * Scale design: the query set is broadcast (it is small by construction);
  * the corpus streams through map-side cosine + per-partition top-k via a
  * window partitioned by query id. The LSH path buckets the corpus once
  * (signatures are computed in a single projection) and joins queries to
  * buckets, turning the O(|Q|·|C|) cross product into O(|Q|·bucket) work,
  * with multiprobe (single-bit flips) to recover recall.
  */
object Similarity {

  def toDouble(v: Column): Column = v.cast("array<double>")

  // NOTE: there is deliberately no generic dot(a, b) helper here — the
  // obvious zip_with/aggregate formulation nulls the WHOLE sum when the
  // arrays differ in length (zip_with null-pads the shorter side), which
  // silently dropped a ragged query from the residual ADC path once.
  // Vector sums follow the zero-pad convention explicitly (coalesce to
  // 0.0 inside the zip_with) or use the native CosineSimExpr.

  def l2Norm(v: Column): Column =
    sqrt(aggregate(v, lit(0.0), (acc, x) => acc + x * x))

  /** Cosine similarity — native fused expression (graft.functions
    * .CosineSimExpr); the declarative zip_with/aggregate formulation is
    * interpreted per element and measured orders of magnitude slower on the
    * cross-join hot path. */
  def cosine(a: Column, b: Column): Column = graft.functions.NativeExprs.cosineSim(a, b)

  /** Per-query top-k re-rank via the bounded-heap TypedImperativeAggregate
    * (graft.functions.TopKPairsAgg): each map task keeps at most k candidates
    * per query and only those cross the shuffle (PARTIAL/FINAL agg), where
    * the `row_number` window formulation must shuffle AND sort every
    * candidate row of every query — at 100x corpus the candidate sets grow
    * with bucket size and that per-query sort becomes the bottleneck.
    * Ordering matches the window it replaces: _sim desc, neighbor_id asc.
    * Input: (query_id, neighbor_id: any orderable type — kept as-is, no
    * cast, so string-keyed corpora work under ANSI mode, _sim: double).
    * Degenerate-vector policy (shared by the exact and approximate paths):
    * NaN sims (zero-norm vectors: 0/0 cosine) and null sims (dim mismatch)
    * are dropped before ranking — a malformed vector is never a neighbor. */
  private def topKRank(scored: DataFrame, k: Int): DataFrame =
    scored.where(col("_sim").isNotNull && !isnan(col("_sim")))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAgg.topKPairs(
        struct(col("_sim").cast("double").as("ord"), col("neighbor_id").as("id")),
        k).as("_top"))
      .select(col("query_id"), posexplode(col("_top")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"))

  /** Exact top-k neighbors by cosine for each query vector.
    * Deterministic tie-break on neighbor id. Output: (query_id, neighbor_id,
    * rank); ids keep their source type (any orderable type works). */
  def exactTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), toDouble(col(vecCol)).as("_qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), toDouble(col(vecCol)).as("_cv"))
    val sim = cosine(col("_qv"), col("_cv"))
    topKRank(c.crossJoin(broadcast(q)).withColumn("_sim", sim), k)
  }

  // Fixed-seed random hyperplanes (deterministic across JVMs — which is
  // what lets the driver's DuckDB oracle re-derive ann_lsh's signatures:
  // SparkEntry inlines these exact constants into the oracle SQL).
  private[graft] def hyperplanes(numPlanes: Int, dim: Int): Seq[Seq[Double]] = {
    val rnd = new java.util.Random(7L)
    Seq.fill(numPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Fixed-seed random centroid set (deterministic across JVMs). ANY fixed
    * centroid set is a valid IVF index (see [[ivfTopKWith]] — the same
    * literals assign corpus cells and query probes, so search is
    * self-consistent); a SEEDED one is additionally reproducible by the
    * DuckDB oracle, which inlines these exact constants to re-derive the
    * full cell-routed search (`ann_ivf_fixed`). Trained centroids
    * ([[trainCentroids]]) remain the recall-quality path — the pinned set
    * trades occupancy balance for cross-engine verifiability, exactly the
    * ann_lsh pinned-planes precedent. */
  private[graft] def seededCentroids(numCells: Int, dim: Int): Array[(Int, Array[Double])] = {
    val rnd = new java.util.Random(13L)
    Array.tabulate(numCells)(c => (c, Array.fill(dim)(rnd.nextGaussian())))
  }

  /** Fixed-seed random PQ codebooks (m subspaces × ksub codes × sub dims),
    * deterministic across JVMs — the PQ analog of [[seededCentroids]]: ANY
    * fixed codebook set is a valid product quantizer ([[pqTopKWith]]'s
    * encode, LUT, and reconstructed-norm stages all read the same
    * constants, so search is self-consistent), and a SEEDED one is
    * replayable by the DuckDB oracle, which inlines these exact literals
    * to re-derive the whole ADC search (`ann_pq_fixed` /
    * `ann_ivfpq_fixed`). Entries are scaled to the per-component magnitude
    * of a unit-norm dim-(m·sub) vector's subvectors (σ = 1/√(m·sub)) so
    * code assignments spread across the codebook instead of collapsing
    * onto the smallest-norm entry (argmin ‖x−b‖² is dominated by ‖b‖²
    * when the codebook's scale dwarfs the data's). Trained codebooks
    * ([[pqTrain]]) remain the recall-quality path — the pinned set trades
    * quantization fidelity for cross-engine verifiability, exactly the
    * seeded-centroid precedent. */
  private[graft] def seededBooks(m: Int, ksub: Int, sub: Int): Array[Array[Array[Double]]] = {
    val rnd = new java.util.Random(29L)
    val sigma = 1.0 / math.sqrt((m * sub).toDouble)
    Array.fill(m)(Array.fill(ksub)(Array.fill(sub)(rnd.nextGaussian() * sigma)))
  }

  /** Scale-adaptive signature sizing: the number of hyperplanes that puts the
    * MEAN bucket occupancy at `corpusRows / 2^planes ≈ targetOccupancy`, i.e.
    * `ceil(log2(corpusRows / targetOccupancy))`, floored at `minPlanes`.
    *
    * A FIXED signature width is the classic LSH scale-killer: 8 planes is 256
    * buckets at ANY corpus size, so bucket occupancy — and the within-bucket
    * candidate work — grows linearly with the corpus and the "approximate"
    * index quietly degenerates toward all-pairs. Deriving the width from the
    * corpus count keeps occupancy constant: buckets double every time the
    * corpus doubles, candidate volume per query stays ~targetOccupancy ×
    * numProbes regardless of scale, and multiprobe compensates the recall
    * cost of the narrower buckets. The floor keeps small-corpus behavior
    * identical to the former fixed defaults (below ~targetOccupancy·2^min
    * rows the rule returns minPlanes), so results are stable across the test
    * scale factors and only the 100 TB regime gets wider signatures. */
  def adaptivePlanes(corpusRows: Long, targetOccupancy: Int, minPlanes: Int): Int = {
    val buckets = math.max(1.0, corpusRows.toDouble / math.max(targetOccupancy, 1))
    math.max(minPlanes, math.ceil(math.log(buckets) / math.log(2.0)).toInt)
  }

  /** TOTAL signature width for a BANDED self-join, quantized to 1 plane
    * instead of `numBands` planes (round 20 — the margin_mine sawtooth,
    * VERDICT r18 #5 / r19 #10): `ceil(numBands · log2(rows/target))`,
    * floored at `minPlanes · numBands`.
    *
    * Deriving a PER-BAND width and multiplying (the old shape:
    * `adaptivePlanes(...) * numBands`) moves the total width in steps of
    * `numBands` planes, so between knees every band's occupancy doubles
    * and the per-band self-join candidate volume (∝ occupancy²·buckets =
    * N²/2^bandLen) swings by 2^numBands÷2 across a knee — a sawtooth in
    * wall/shuffle as the corpus grows. Quantizing the TOTAL to single
    * planes (bands then differ in width by at most 1 — see the per-band
    * length distribution at the call sites) moves one band's bucket count
    * ×2 per step, a ~(1 − 1/(2·numBands)) candidate-volume step — the
    * flattest curve integer bucketing admits. At the floor the result is
    * `minPlanes` per band exactly, so small-corpus behavior (every test
    * SF) is unchanged. */
  def adaptivePlanesTotal(corpusRows: Long, targetOccupancy: Int,
                          minPlanes: Int, numBands: Int): Int = {
    val buckets = math.max(1.0, corpusRows.toDouble / math.max(targetOccupancy, 1))
    math.max(minPlanes * numBands,
      math.ceil(numBands * (math.log(buckets) / math.log(2.0))).toInt)
  }

  /** Per-band substring extents for a total width spread over numBands
    * bands, widths differing by at most one plane (wider bands first). */
  private def bandExtents(planes: Int, numBands: Int): Array[(Int, Int)] = {
    val lens = Array.tabulate(numBands)(b =>
      planes / numBands + (if (b < planes % numBands) 1 else 0))
    val offs = lens.scanLeft(0)(_ + _)
    Array.tabulate(numBands)(b => (offs(b), lens(b)))
  }

  /** Scale-adaptive IVF cell count: the classic `nlist ≈ sqrt(N)` sizing
    * (cell occupancy and probe cost balance at sqrt), clamped to
    * [minCells, maxCells]. The floor reproduces the former fixed default
    * (16 cells) below N ≈ 256, so small-corpus behavior is unchanged. Up
    * to [[centroidLiteralBudget]] cells the centroid set inlines as plan
    * literals; past it the index switches automatically to sample-seed
    * training + a broadcast-variable carrier (see [[trainCentroids]] /
    * [[BcNearestCellsExpr|nearest_cells_bc]]), so the ceiling is no longer
    * the plan — it is the C-vector driver collect + broadcast (65536 cells
    * × dim 64 ≈ 33 MB), which covers derived sizing to N ≈ 4e9 corpus
    * rows. */
  def adaptiveCells(corpusRows: Long, minCells: Int = 16, maxCells: Int = 65536): Int =
    math.min(maxCells,
      math.max(minCells, math.ceil(math.sqrt(math.max(corpusRows, 0L).toDouble)).toInt))

  /** Largest centroid set inlined into the plan as literals (~2 MB at dim
    * 64). Larger sets ride a broadcast variable instead — same kernel,
    * same results, flat plan size ([[graft.functions.BcNearestCellsExpr]]). */
  val centroidLiteralBudget = 4096

  /** Nearest-cell assignment factory with the carrier chosen by centroid
    * count: plan literals within [[centroidLiteralBudget]] (zero per-query
    * setup, the small-index fast path), broadcast variable past it (or on
    * `forceBroadcast`, which the parity specs use). Returned maker shares
    * ONE broadcast across every column it builds (corpus assignment and
    * query probes ride the same copy). */
  private[graft] def cellMaker(df: DataFrame, cents: Array[(Int, Array[Double])],
                        forceBroadcast: Boolean): (Column, Int) => Column =
    if (!forceBroadcast && cents.length <= centroidLiteralBudget)
      (vec, n) => nearestCells(vec, cents, n)
    else {
      val bc = df.sparkSession.sparkContext.broadcast(cents)
      (vec, n) => graft.functions.NativeExprs.nearestCellsBc(vec, bc, n)
    }

  /** Probe count matched to a cell count: a constant FRACTION (1/8) of the
    * index, floored at the former fixed default (4). A fixed nprobe under
    * sqrt(N)-derived cells silently shrinks the probed fraction as the
    * corpus grows (4/16 at the floor but 4/4096 at the ceiling) and recall
    * decays with scale; probing a constant fraction keeps the
    * recall/probe-cost trade stable — per-probe candidate work is constant
    * (occupancy ≈ sqrt(N) per cell), so total query cost grows only with
    * the fraction times sqrt(N). */
  def adaptiveProbes(numCells: Int): Int =
    math.max(4, math.ceil(numCells / 8.0).toInt)

  /** Memoized corpus row count for the adaptive-width default (`numPlanes =
    * 0`). The width is needed at PLAN-CONSTRUCTION time (it shapes the
    * signature expressions), so the count job itself can't be deferred —
    * but it is keyed on (session, canonicalized logical plan) and paid
    * once per distinct corpus: repeated calls over the same input
    * (`ann_recall` building lsh + exact, bench reps, a query batch loop)
    * reuse the cached count instead of re-scanning. A corpus REWRITTEN
    * in-place mid-session would serve a stale count — the width would lag
    * one index rebuild, which only shifts bucket occupancy, never
    * correctness. STREAMING inputs cannot be counted at all: pass an
    * explicit `numPlanes` there (count() on a streaming plan throws). */
  // Keyed by (session hash, semantic plan hash) — small value keys, like
  // Star's pivot memo, so the map never pins a session or a plan tree (a
  // LocalRelation key would otherwise hold the corpus data itself). A hash
  // collision serves a wrong COUNT, whose only consequence is a
  // differently-sized signature/index — a perf shift, never a wrong result.
  // Bounded: a long-lived JVM cycling sessions/corpora would otherwise
  // accumulate (session, plan) keys forever. 256 entries ≈ 10 KB; on
  // overflow the whole map resets (the value is a one-job recompute, not
  // worth an LRU).
  private val rowCountCacheMax = 256
  private val rowCountCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Long), java.lang.Long]()
  private def memoizedCount(df: DataFrame): Long = {
    if (rowCountCache.size() >= rowCountCacheMax) rowCountCache.clear()
    rowCountCache.computeIfAbsent(
      (df.sparkSession.hashCode, df.queryExecution.analyzed.semanticHash().toLong),
      _ => java.lang.Long.valueOf(df.count())).longValue()
  }

  /** Sign-bit signature under `numPlanes` fixed hyperplanes, as a bit string
    * (the LSH bucket key). Native expression — one fused loop per row. */
  def lshSignature(vec: Column, numPlanes: Int, dim: Int): Column =
    graft.functions.NativeExprs.hyperplaneSig(vec, hyperplanes(numPlanes, dim))

  /** LSH-bucketed approximate top-k: corpus bucketed once by signature
    * (map-side, native expression), queries multiprobed into all buckets
    * within hamming distance 2, exact cosine re-rank within the candidate
    * set. Output: (query_id, neighbor_id, rank). At scale the corpus-side
    * work is one projection + one 8-byte-keyed join — never a cross join.
    *
    * `numPlanes = 0` (the default) derives the signature width from the
    * corpus row count via [[adaptivePlanes]] (target occupancy 64, floor 8
    * planes), so bucket count GROWS with the corpus instead of occupancy
    * growing — the count job is metadata-cheap next to the search itself.
    * Pass an explicit width to pin the index shape (e.g. for a precomputed
    * corpus index shared across query batches). */
  def lshTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, k: Int, numPlanes: Int = 0, dim: Int = 64): DataFrame = {
    val planes = if (numPlanes > 0) numPlanes
                 else adaptivePlanes(memoizedCount(corpus), targetOccupancy = 64, minPlanes = 8)
    val c = corpus.select(col(idCol).as("neighbor_id"), toDouble(col(vecCol)).as("_cv"))
      .withColumn("_bucket", lshSignature(col("_cv"), planes, dim))
    val q = queries.select(col(idCol).as("query_id"), toDouble(col(vecCol)).as("_qv"))
      .withColumn("_bucket", explode(graft.functions.NativeExprs.sigProbes(
        lshSignature(col("_qv"), planes, dim), 2)))
    topKRank(
      c.join(broadcast(q), "_bucket")
        .select(col("query_id"), col("neighbor_id"), cosine(col("_qv"), col("_cv")).as("_sim"))
        .distinct(),
      k)
  }

  /** Top-n nearest cell ids (by cosine, ties to the lowest cell) against a
    * small centroid table — pure map-side native expression, no shuffle and
    * no per-centroid codegen (graft.functions.NearestCellsExpr). */
  private def nearestCells(vec: Column, cents: Array[(Int, Array[Double])], n: Int): Column =
    graft.functions.NativeExprs.nearestCells(vec,
      cents.map { case (cell, cv) => (cell, cv.toSeq) }.toSeq, n)

  /** IVF-style approximate top-k — the scale path for ANN over 100 TB
    * corpora. Centroid training runs on a BOUNDED hash sample: one
    * distributed TakeOrdered by xxhash64(id) pulls `numCells * 32` vectors
    * (a uniform deterministic sample — smallest hashes), which are cached
    * and feed both seed selection and one k-means refinement step. The
    * trained centroids are collected (numCells x dim doubles — bytes, by
    * design) and inlined as literals, so corpus cell assignment is a pure
    * map-side projection: ZERO shuffle over the corpus, and the full corpus
    * is scanned exactly ONCE (the search pass; TakeOrdered's scan is
    * map-side partial top-K). Each query searches only its `nprobe` nearest
    * cells via an 8-byte-keyed broadcast join.
    *
    * numCells sizing at scale: classic IVF guidance is nlist ≈ sqrt(N)
    * (cell occupancy and probe cost balance), so a 1e9-vector corpus wants
    * thousands of cells, not 16. Centroids inline as plan literals up to
    * [[centroidLiteralBudget]] (~2 MB at dim 64); past it the index
    * switches AUTOMATICALLY to sample-seed training and a
    * broadcast-variable carrier (`nearest_cells_bc`) — same kernel, same
    * shuffle profile, flat plan size — so derived sizing keeps tracking
    * sqrt(N) to the 65536-cell collect/broadcast ceiling (N ≈ 4e9).
    * `numCells = 0` (the default) derives nlist via [[adaptiveCells]]
    * (≈ sqrt(N), floored at the former fixed 16) from a memoized corpus
    * count — the same pattern as the LSH `adaptivePlanes` default; pass an
    * explicit value to pin the index shape (a precomputed index shared
    * across query batches, or a streaming input that cannot be counted). */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, k: Int, numCells: Int = 0, nprobe: Int = 0): DataFrame =
    ivfTopKWith(queries, corpus, idCol, vecCol, k,
      trainCentroids(corpus, idCol, vecCol, numCells), nprobe)

  /** IVF search against PRECOMPUTED centroids — lets callers train once per
    * (corpus, numCells) and share across queries (e.g. `ann_ivf` and the
    * `ann_recall` gate), instead of re-running the training jobs inside
    * every query. Any fixed centroid set is a valid IVF index: the same
    * literals assign both corpus cells and query probes, so search is
    * self-consistent regardless of which corpus snapshot trained them. */
  /** `nprobe = 0` (the default) derives the probe count from the centroid
    * set via [[adaptiveProbes]] (a constant 1/8 of the cells, floored at
    * the former fixed 4); explicit values pin it. */
  /** `broadcastCentroids` forces the broadcast-variable carrier below the
    * literal budget (parity testing); past [[centroidLiteralBudget]] cells
    * the broadcast carrier engages regardless. */
  def ivfTopKWith(queries: DataFrame, corpus: DataFrame, idCol: String,
                  vecCol: String, k: Int, centroids: Array[(Int, Array[Double])],
                  nprobe: Int = 0, broadcastCentroids: Boolean = false): DataFrame = {
    val probes = if (nprobe > 0) nprobe else adaptiveProbes(centroids.length)
    val c = corpus.select(col(idCol).as("neighbor_id"), toDouble(col(vecCol)).as("_cv"))
    ivfSearch(queries, c, idCol, vecCol, k, probes, centroids, broadcastCentroids)
  }

  /** Train IVF centroids on a BOUNDED deterministic hash sample of the
    * corpus (see ivfTopK scaladoc). Returns numCells x dim doubles — a
    * driver-side literal by design. Deterministic for a given (corpus data,
    * numCells), so results are cacheable and retry-safe. */
  def trainCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                     numCells0: Int = 0): Array[(Int, Array[Double])] = {
    val numCells =
      if (numCells0 > 0) numCells0 else adaptiveCells(memoizedCount(corpus))
    // Past the literal budget, sampled-refined training stops scaling at
    // the DRIVER (the k-means step is O(sample × cells × dim): quadratic
    // in cells with the 32x sample) — so the large-index regime switches
    // to SAMPLE-SEED centroids: the numCells smallest-hash corpus vectors
    // ARE the centroids (one bounded TakeOrdered collect, numCells × dim
    // doubles; 65536 × 64 ≈ 33 MB). Any fixed centroid set is a valid IVF
    // index (see ivfTopKWith) — seeds trade some occupancy balance for a
    // training cost that stays linear in the index size; the recall knobs
    // (adaptiveProbes' constant probed fraction) are unchanged. Behavior
    // at or below the budget is byte-identical to previous rounds.
    if (numCells > centroidLiteralBudget)
      return corpus
        .select(toDouble(col(vecCol)).as("_cv"), xxhash64(col(idCol)).as("_h"))
        .orderBy(col("_h")).limit(numCells)
        .collect().map(_.getSeq[Double](0).toArray)
        .zipWithIndex.map { case (v, i) => (i, v) }
    // ONE distributed job: the numCells*32 smallest-hash vectors (map-side
    // partial top-K, ~sample x dim doubles over the wire — bounded by
    // construction). Seed selection and the single k-means refinement step
    // then run driver-side over the collected sample: at 512 x 64 doubles
    // that is microseconds of arithmetic, and it saves the persist plus two
    // extra scheduled jobs the distributed formulation cost.
    val sample: Array[Array[Double]] = corpus
      .select(toDouble(col(vecCol)).as("_cv"), xxhash64(col(idCol)).as("_h"))
      .orderBy(col("_h")).limit(numCells * 32)
      .collect().map(_.getSeq[Double](0).toArray)

    // Deterministic seeds: the numCells sample vectors with smallest hash.
    val seeds = sample.take(numCells)
    val seedNorms = seeds.map(s => math.sqrt(s.map(x => x * x).sum))

    // Assign each sample vector to its nearest seed — the same cosine +
    // (-sim, cellId) tie policy as NearestCellsExpr, so the refinement
    // reproduces the distributed formulation it replaces.
    def nearestSeed(v: Array[Double]): Int = {
      val vnorm = math.sqrt(v.map(x => x * x).sum)
      val sims = seeds.indices.map { p =>
        val s = seeds(p)
        var dot = 0.0
        var i = 0
        val d = math.min(v.length, s.length)
        while (i < d) { dot += v(i) * s(i); i += 1 }
        dot / (vnorm * seedNorms(p))
      }
      seeds.indices.minBy(p => (-sims(p), p))
    }

    // One k-means step: per-cell, per-dimension mean of assigned vectors.
    sample.groupBy(nearestSeed)
      .map { case (cell, vs) =>
        val dim = vs.map(_.length).max
        val mean = Array.tabulate(dim) { i =>
          val xs = vs.filter(_.length > i).map(_(i))
          xs.sum / xs.length
        }
        (cell, mean)
      }.toArray.sortBy(_._1)
  }

  private def ivfSearch(queries: DataFrame, c: DataFrame, idCol: String, vecCol: String,
                        k: Int, nprobe: Int, refined: Array[(Int, Array[Double])],
                        broadcastCentroids: Boolean = false): DataFrame = {
    val cells = cellMaker(c, refined, broadcastCentroids)
    val assigned = c.withColumn("cell", cells(col("_cv"), 1)(0))
    val q = queries.select(col(idCol).as("query_id"), toDouble(col(vecCol)).as("_qv"))
      .select(col("query_id"), col("_qv"),
        explode(cells(col("_qv"), nprobe)).as("cell"))
    topKRank(
      assigned.join(broadcast(q), "cell")
        .select(col("query_id"), col("neighbor_id"), cosine(col("_qv"), col("_cv")).as("_sim")),
      k)
  }

  /** Embedding-cosine near-duplicate pairs: the hyperplane signature is
    * sliced into `numBands` bands and a pair becomes a candidate when ANY
    * band matches within hamming distance 1 (one side carries exact band
    * values, the other is multiprobed with all single-bit band flips —
    * the lshTopK multiprobe pattern applied to a self-join). Exact cosine
    * verification >= threshold runs on candidates only, BEFORE the pair
    * dedup, so unverified pairs never cross the distinct shuffle.
    *
    * Recall: a full-signature-equality bucket join misses a true pair at
    * cos θ with probability 1-(1-θ/π)^P (~71% at cos=0.9 with P=8). With
    * B bands of r planes and within-band multiprobe ≤1, a pair is missed
    * only if EVERY band has ≥2 flipped planes — P(miss) = (1-P0-P1)^B where
    * P0/P1 are Binomial(r, θ/π) — <1e-8 for the near-identical pairs this
    * operator targets, while a random pair still has to clear a
    * 1-in-2^(r-something) band bucket, keeping candidates ~13% of pairs
    * instead of 100% (all-pairs). */
  def cosineNearDup(vectors: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, numPlanes: Int = 0, dim: Int = 64,
                    numBands: Int = 4): DataFrame =
    bandPairs(vectors, Nil, idCol, vecCol, numPlanes, dim, numBands,
        col("x._id") < col("y._id"))
      .select(col("x._id").as("vec_a"), col("y._id").as("vec_b"),
        round(cosine(col("x._v"), col("y._v")), 6).as("cos_sim"))
      .where(col("cos_sim") >= threshold)
      .distinct()

  /** Banded hyperplane-signature candidate pairs for the cosine self-joins
    * ([[cosineNearDup]], [[marginMine]]): the signature is cut into
    * `numBands` bands and one side's exact bands pair with the other
    * side's hamming-1 probe balls ([[Banded]]) under `pairPred`. Each side
    * carries `carry`, `_id` and the vector `_v`.
    *
    * numPlanes = 0 (default) derives the TOTAL width from the corpus count
    * ([[adaptivePlanesTotal]], single-plane steps, so bands differ by ≤ 1
    * plane), so band-bucket count grows with the corpus instead of
    * within-bucket pairing growing quadratically. Target occupancy 32, not
    * ANN's 256: a self-join's per-bucket cost is occupancy² (≈ occ²/2
    * pairs), so the width must start growing ~8x earlier (≈ 8k vectors).
    * Measured at the r18 10x probe (48k vectors): the wider bands this
    * target reaches read 2x the wall and 2.6x less shuffle than the
    * 256-target floor width, at −0.2% verified pairs
    * (bench_logs/r18/SCALE_CURVE.md); below the knee the width stays
    * 8 bits/band. An explicit numPlanes pins the exact layout (the oracles
    * replay even band widths, so pins stay divisible). */
  private def bandPairs(vectors: DataFrame, carry: Seq[Column], idCol: String,
                        vecCol: String, numPlanes: Int, dim: Int, numBands: Int,
                        pairPred: Column): DataFrame = {
    val planes =
      if (numPlanes > 0) numPlanes
      else adaptivePlanesTotal(memoizedCount(vectors), targetOccupancy = 32,
        minPlanes = 8, numBands = numBands)
    require(numPlanes <= 0 || planes % numBands == 0,
      "numBands must divide an explicitly pinned numPlanes")
    // signed vectors feed BOTH join sides (exact bands + probe balls):
    // localCheckpoint runs the planes×dim signature pass once (r19 — the
    // per-job profile showed the signature stage twice)
    val v = vectors.select(carry ++ Seq(col(idCol).as("_id"), toDouble(col(vecCol)).as("_v")): _*)
      .withColumn("_sig", lshSignature(col("_v"), planes, dim))
      .ckptLocal()
    val kept = v.columns.filter(_ != "_sig").map(col).toSeq
    val keys = array(bandExtents(planes, numBands).toSeq.map { case (off, len) =>
      substring(col("_sig"), off + 1, len) }: _*)
    Banded.pairs(Banded.band(v, kept, keys), Banded.band(v, kept, keys, probeRadius = 1),
      pairPred)
  }

  /** Margin-based semantic pair mining (Artetxe & Schwenk 2019, the
    * LASER/CCMatrix bitext-mining criterion): mine high-confidence
    * CROSS-SIDE pairs — parallel sentences across languages, caption↔image
    * embeddings, duplicate listings across marketplaces — by RATIO margin,
    * margin(x, y) = cos(x, y) / ((μ_k(x) + μ_k(y)) / 2), where μ_k is the
    * mean cosine of a vector's k best candidate neighbors on the OTHER
    * side. Raw cosine is incomparable across query neighborhoods (hubness);
    * the margin normalizes by local density, which is why CCMatrix mines
    * with it at web scale. A pair is emitted when it is rank-1 for at
    * least one of its endpoints (forward ∪ backward best-match, the
    * standard mining union) and its margin clears `minMargin`. Output:
    * (vec_a, vec_b, cos_sim 6dp, margin 6dp), side(a) < side(b).
    *
    * Candidates are LSH-band-scoped, the [[cosineNearDup]] discipline:
    * banded hyperplane signatures, per-band hamming ≤ 1 multiprobe, pairs
    * form only inside band buckets — never corpus × corpus. μ_k is the
    * mean over the CANDIDATE neighborhood, not the exhaustive kNN — the
    * approximation CCMatrix itself makes (margins normalize against the
    * retrieved neighborhood; spec-pinned vs a brute-force replay of the
    * same scoping).
    *
    * Determinism/oracle: pinned `numPlanes` re-derives the signatures in
    * SQL (the ann_lsh precedent); cosines are 6dp-rounded BEFORE use, μ_k
    * sums run over DECIMAL(18,6) (order-independent) and divide as one
    * exactly-rounded double op, so the margin is bit-identical
    * cross-engine. Ties rank by (cos desc, id asc). Scale: the candidate
    * table (bucket-bounded) is the unit of all downstream work — two
    * id-keyed window passes + two id-keyed μ aggregates join back onto
    * candidates, never onto the corpus. */
  def marginMine(vectors: DataFrame, idCol: String, vecCol: String, sideCol: String,
                 k: Int = 4, minMargin: Double = 1.0,
                 numPlanes: Int = 0, dim: Int = 64, numBands: Int = 4): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // the oracled query pins numPlanes = 16
    val cand = bandPairs(vectors, Seq(col(sideCol).as("_side")), idCol, vecCol,
        numPlanes, dim, numBands, col("x._side") < col("y._side"))
      .select(col("x._id").as("vec_a"), col("y._id").as("vec_b"),
        round(cosine(col("x._v"), col("y._v")), 6).as("cos_sim"))
      .where(!isnan(col("cos_sim")))
      .distinct()
    val wa = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_a")).orderBy(col("cos_sim").desc, col("vec_b"))
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_b")).orderBy(col("cos_sim").desc, col("vec_a"))
    // the ranked candidate table has THREE consumers (μ_a, μ_b, the
    // best-match filter) and the μ broadcast builds would otherwise
    // re-run the whole banded join + window chain (the r17 AQE
    // broadcast-build lesson — measured as twin 12 MB candidate stages):
    // one checkpoint of the candidate-sized table
    val ranked = cand
      .withColumn("_ra", row_number().over(wa))
      .withColumn("_rb", row_number().over(wb))
      .ckptLocal()
    val muA = ranked.where(col("_ra") <= k).groupBy(col("vec_a"))
      .agg((sum(col("cos_sim").cast("decimal(18,6)")).cast("double") / count(lit(1)))
        .as("_mu_a"))
    val muB = ranked.where(col("_rb") <= k).groupBy(col("vec_b"))
      .agg((sum(col("cos_sim").cast("decimal(18,6)")).cast("double") / count(lit(1)))
        .as("_mu_b"))
    ranked.where(col("_ra") === 1 || col("_rb") === 1)
      .join(muA, "vec_a").join(muB, "vec_b")
      .withColumn("margin",
        round(col("cos_sim") / ((col("_mu_a") + col("_mu_b")) / 2), 6))
      .where(col("margin") >= minMargin)
      .select(col("vec_a"), col("vec_b"), col("cos_sim"), col("margin"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): embeddings are grouped into clusters and, within a
    * cluster, any vector whose cosine to a LOWER-id cluster-mate reaches
    * `threshold` is marked a duplicate — the smallest id of every near-dup
    * neighborhood survives (deterministic, engine-independent keep rule).
    * Output: (id, cell, keep).
    *
    * Scale: pairing is CLUSTER-SCOPED — one cell-keyed hash self-join, so
    * candidate work is bounded by cluster occupancy (with derived IVF
    * cells, occupancy ≈ sqrt(N)) and never corpus-wide all-pairs; the
    * exact-cosine check runs on cluster-mates only. COST LAW, stated
    * honestly: single-level derived-IVF semdedup is Θ(N^1.5·d) — brute
    * nearest-centroid assignment costs N·cells·d and within-cell pairing
    * costs cells·occ²≈N·occ, so sqrt-cells (occ ≈ sqrt(N)) is the OPTIMAL
    * single-level split, and no cell-count choice makes this operator
    * linear (fixed-occupancy cells push the N^1.5 into assignment
    * instead; an angular-window refinement inside cells prunes nothing in
    * high dim — concentration of measure puts every cell-mate's
    * θ-to-centroid inside the acos(threshold) window). The r18 10x probe
    * (exp(t) 0.20 at 2k→24k vectors) sits far below the asymptote; for
    * corpora where N^1.5 bites, the linear-growth near-dup path is the
    * LSH-banded [[cosineNearDup]] (occupancy-held band buckets), and
    * SemDeDup's own deployment (Abbas et al. §3, fixed k on 5B
    * embeddings) accepts the same within-cluster quadratic by capping
    * cluster count. NaN sims (zero-norm
    * vectors) never mark a duplicate — the ANN paths' degenerate-vector
    * policy. Null cluster keys pair with nothing (kept), matching SQL
    * equi-join semantics.
    *
    * `clusterCol = Some(c)` pins the grouping to an existing column (a
    * label, a shard, an LSH band — the oracle-checkable variant); `None`
    * derives clusters from trained IVF centroids (bounded-sample k-means,
    * map-side [[graft.functions.NativeExprs.nearestCells]] assignment —
    * zero extra shuffle over the corpus). Near-dup pairs that straddle a
    * derived-cell boundary are missed — SemDeDup's documented
    * approximation (tight near-dup neighborhoods co-locate under any
    * reasonable clustering; the spec pins the behavior). */
  def semanticDedup(vectors: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, clusterCol: Option[Column] = None,
                    numCells: Int = 0, broadcastCentroids: Boolean = false): DataFrame = {
    val assigned = clusterCol match {
      case Some(c) =>
        vectors.select(col(idCol).as("_id"), toDouble(col(vecCol)).as("_v"), c.as("cell"))
      case None =>
        val cents = trainCentroids(vectors, idCol, vecCol, numCells)
        vectors.select(col(idCol).as("_id"), toDouble(col(vecCol)).as("_v"))
          .withColumn("cell",
            cellMaker(vectors, cents, broadcastCentroids)(col("_v"), 1)(0))
    }
    val slim = assigned.select(col("cell"), col("_id"), col("_v"))
    // the similarity is ROUNDED to 6dp before thresholding, like
    // cosineNearDup/centroidOutliers: accumulation-order float noise at
    // the boundary must not flip a keep bit between engines or retries
    val dropped = slim.as("x").join(slim.as("y"),
        col("x.cell") === col("y.cell") && col("x._id") > col("y._id"))
      .select(col("x._id").as("_id"),
        round(cosine(col("x._v"), col("y._v")), 6).as("_s"))
      .where(!isnan(col("_s")) && col("_s") >= threshold)
      .select(col("_id")).distinct()
      .withColumn("_dup", lit(true))
    assigned.join(dropped, Seq("_id"), "left")
      .select(col("_id").as(idCol), col("cell"), col("_dup").isNull.as("keep"))
  }

  /** Symmetric int8 quantization of an embedding (per-vector absmax
    * scaling) — the storage-compression step vector stores apply before
    * indexing 100 TB of embeddings. Pure higher-order-function math. */
  def quantizeInt8(vec: Column): Column = {
    val mx = greatest(array_max(transform(vec, x => abs(x))), lit(1e-12))
    transform(vec, x => round(x / mx * 127).cast("int"))
  }

  /** Per-label mean embeddings (class prototypes) — the curation primitive
    * behind nearest-prototype routing, label-noise detection, and per-class
    * outlier pruning. posexplode → (label, pos)-keyed partial-agg shuffle
    * (dim-bounded fan-out: rows = labels × dim after the combine), then a
    * label-keyed gather into an ordered array. Element sums go through
    * DECIMAL(28,12) so the centroid is independent of accumulation order —
    * bit-stable across partitionings and engines. Output:
    * (label, n_vecs, centroid: array<double> rounded to 6dp). */
  def labelCentroids(vectors: DataFrame, labelCol: String, vecCol: String): DataFrame =
    vectors
      .select(col(labelCol).as("label"), posexplode(toDouble(col(vecCol))))
      .groupBy(col("label"), col("pos"))
      .agg(count(lit(1)).as("_n"), sum(col("col").cast("decimal(28,12)")).as("_s"))
      .select(col("label"), col("pos"), col("_n"),
        round(col("_s").cast("double") / col("_n"), 6).as("_c"))
      .groupBy(col("label"))
      .agg(max(col("_n")).as("n_vecs"),
        transform(array_sort(collect_list(struct(col("pos"), col("_c")))),
          s => s.getField("_c")).as("centroid"))

  /** Per-class prototype-distance outlier flags (SemDeDup-style curation):
    * each vector's cosine similarity to ITS OWN label's mean embedding,
    * flagged when below `minCos` — the label-noise / off-distribution
    * pruning gate run before a labeled corpus trains a router or classifier.
    *
    * Scale: the centroids table is labels × dim (dimension-sized), so it
    * broadcasts and the corpus joins map-side — one centroid aggregation
    * pass + one broadcast join, no corpus shuffle. Flags derive from the
    * ROUNDED similarity so the boundary is engine-stable. */
  def centroidOutliers(vectors: DataFrame, idCol: String, labelCol: String,
                       vecCol: String, minCos: Double): DataFrame = {
    val cents = labelCentroids(vectors, labelCol, vecCol)
      .select(col("label"), col("centroid"))
    vectors
      .select(col(idCol), col(labelCol).as("label"), toDouble(col(vecCol)).as("_v"))
      .join(broadcast(cents), "label")
      .select(col(idCol), col("label"),
        round(cosine(col("_v"), col("centroid")), 6).as("cos_centroid"))
      .withColumn("is_outlier", col("cos_centroid") < minCos)
  }

  /** Per-vector norms/dims — typed array-column ops used across the ANN
    * operators, exposed as a checkable table. */
  def norms(embeddings: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = toDouble(col(vecCol))
    embeddings.select(
      col(idCol),
      size(col(vecCol)).as("dim"),
      round(l2Norm(v), 4).as("l2_norm"),
      round(aggregate(v, lit(0.0), (acc, x) => acc + x) / size(col(vecCol)).cast("double"), 6)
        .as("mean_component"))
  }

  /** MMR-diversified retrieval (Carbonell & Goldstein 1998 maximal marginal
    * relevance) — the de-duplicating re-rank every RAG/retrieval stack puts
    * after top-k: greedily pick k results maximizing
    * λ·sim(q,d) − (1−λ)·max_{c∈chosen} sim(d,c), so a shortlist full of
    * near-identical hits diversifies instead of wasting slots. Output:
    * (query_id, neighbor_id, mmr_rank), min(k, |pool|) rows per query.
    *
    * Determinism / oracle-ability: candidate and pairwise cosines are
    * 6dp-rounded BEFORE any score arithmetic, λ and μ = 1−λ are decimal
    * literals (1.0 − 0.7 in doubles is NOT the 0.3 a SQL replay states —
    * the split_assign lesson), every product/difference is then a single
    * correctly-rounded op, ties break on neighbor_id — so the k greedy
    * steps unroll as SQL CTEs and replay exactly (the event_pagerank
    * pattern, applied to retrieval).
    *
    * Scale: the pool comes from [[exactTopK]]'s bounded heaps (swap in any
    * ANN searcher upstream — no corpus shuffle either way); vectors for
    * the ≤ pool·|queries| shortlist re-fetch via one broadcast semi-join
    * against the corpus scan; pairwise sims and all k greedy rounds run on
    * pool²-sized frames, each round `localCheckpoint`ed (the iterative
    * discipline). The corpus is scanned twice and never shuffled. */
  def mmrTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, k: Int = 5, pool: Int = 20,
              lambda: Double = 0.7): DataFrame = {
    require(k >= 1 && pool >= k && lambda > 0 && lambda <= 1,
      s"need k >= 1, pool >= k, 0 < lambda <= 1: k=$k pool=$pool λ=$lambda")
    val mu = (BigDecimal.valueOf(1.0) - BigDecimal.valueOf(lambda)).toDouble
    val byQ = org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
    val shortIds = exactTopK(queries, corpus, idCol, vecCol, pool)
      .select(col("query_id"), col("neighbor_id"))
    val cvecs = corpus.select(col(idCol).as("neighbor_id"), toDouble(col(vecCol)).as("_cv"))
    val q = queries.select(col(idCol).as("query_id"), toDouble(col(vecCol)).as("_qv"))
    val cand = cvecs.join(broadcast(shortIds), "neighbor_id")
      .join(broadcast(q), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("_qv"), col("_cv")), 6).as("_sim"), col("_cv"))
      .ckptLocal()
    val pairs = cand.select(col("query_id"), col("neighbor_id").as("_ida"), col("_cv").as("_va"))
      .join(cand.select(col("query_id"), col("neighbor_id").as("_idb"), col("_cv").as("_vb")),
        Seq("query_id"))
      .where(col("_ida") =!= col("_idb"))
      .select(col("query_id"), col("_ida"), col("_idb"),
        round(cosine(col("_va"), col("_vb")), 6).as("_psim"))
      .ckptLocal()
    var chosen = cand
      .withColumn("_rn", row_number().over(byQ.orderBy(col("_sim").desc, col("neighbor_id"))))
      .where(col("_rn") === 1)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("mmr_rank"))
      .ckptLocal()
    for (t <- 2 to k) {
      val pen = pairs
        .join(chosen.select(col("query_id"), col("neighbor_id").as("_idb")),
          Seq("query_id", "_idb"))
        .groupBy(col("query_id"), col("_ida")).agg(max(col("_psim")).as("_pen"))
        .withColumnRenamed("_ida", "neighbor_id")
      val pick = cand
        .join(chosen.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_anti")
        .join(pen, Seq("query_id", "neighbor_id"))
        .withColumn("_score", lit(lambda) * col("_sim") - lit(mu) * col("_pen"))
        .withColumn("_rn", row_number().over(byQ.orderBy(col("_score").desc, col("neighbor_id"))))
        .where(col("_rn") === 1)
        .select(col("query_id"), col("neighbor_id"), lit(t).as("mmr_rank"))
      chosen = chosen.union(pick).ckptLocal()
    }
    chosen
  }

  /** Matryoshka (MRL) truncation diagnostics — how much of each vector's
    * mass the first `d` dimensions retain: for truncation-by-prefix,
    * cos(full, truncated) = ‖x[1:d]‖ / ‖x‖ EXACTLY (the dot against the
    * zero-padded prefix collapses to the prefix's own squared norm), so
    * `retained_d` IS the cosine the truncated vector keeps — the number
    * that decides how far a retrieval funnel can cheapen its coarse stage
    * (prefix search) before the refine stage must take over.
    *
    * Pure projection, zero shuffles. Determinism: the squared-norm fold is
    * order-pinned ascending (Spark's `aggregate` left fold ≡ DuckDB's
    * `list_reduce` over the squared list, 0.0 + x₁² being exactly x₁²);
    * sqrt and the ratio are single correctly-rounded operations — the
    * doubles replay bit-identically with NO rounding step. */
  def matryoshkaNorms(embeddings: DataFrame, idCol: String, vecCol: String,
                      dims: Seq[Int]): DataFrame = {
    require(dims.nonEmpty && dims.forall(_ >= 1), s"bad prefix dims: $dims")
    val v = toDouble(col(vecCol))
    val withNorms = embeddings.select(
      (col(idCol) +: l2Norm(v).as("norm_full") +:
        dims.map(d => l2Norm(slice(v, 1, d)).as(s"norm_$d"))): _*)
    withNorms.select(
      (col(idCol) +: col("norm_full") +:
        dims.flatMap(d => Seq(col(s"norm_$d"),
          (col(s"norm_$d") / col("norm_full")).as(s"retained_$d")))): _*)
  }

  /** Fixed-seed Gaussian JL planes (deterministic across JVMs — the
    * [[hyperplanes]] discipline under its own seed, so the DuckDB oracle
    * re-derives every projection from the same literals). */
  private[graft] def jlPlanes(outDim: Int, dim: Int): Seq[Seq[Double]] = {
    val rnd = new java.util.Random(19L)
    Seq.fill(outDim)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Johnson–Lindenstrauss random projection — DATA-OBLIVIOUS dimension
    * reduction: y = (1/√outDim) · R·x with R fixed Gaussian. Unlike
    * [[embeddingCovariance]]+PCA (which needs a training pass and an
    * eigensolve over corpus statistics), JL needs NOTHING from the data —
    * the projection of row N is identical whether the corpus has 10³ or
    * 10¹² rows, which makes it the 100 TB-safe coarse stage for ANN
    * funnels and the only reducer that composes with streaming ingest
    * (no model to retrain as data arrives). The JL lemma bounds pairwise
    * distance distortion by the OUTPUT dimension alone.
    *
    * Pure projection, zero shuffles; the outDim×dim plane matrix rides
    * into codegen as literals (1k doubles at 16×64 — far under the
    * classifier's audited 8192-literal budget). Every component is an
    * order-pinned ascending fold × an exact dyadic scale (1/√16 = 0.25),
    * rounded once to 6dp; `norm_ratio` (‖y‖/‖x‖, the per-vector JL
    * distortion diagnostic) folds over the ROUNDED components so both
    * engines see identical inputs. NULL vectors are dropped — the ANN
    * family's degenerate-vector policy (a malformed row has no
    * projection; keeping it would diverge NULL-array vs zero-vector
    * semantics across engines). Output: (id, proj, norm_ratio). */
  def jlProject(vecs: DataFrame, idCol: String, vecCol: String,
                outDim: Int = 16, dim: Int = 64): DataFrame = {
    require(outDim >= 1 && dim >= 1, s"bad dims: outDim=$outDim dim=$dim")
    val planes = jlPlanes(outDim, dim)
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    val comps = planes.map { p =>
      round(aggregate(
        zip_with(col("_v"), typedLit(p),
          (x, w) => coalesce(x, lit(0.0)) * coalesce(w, lit(0.0))),
        lit(0.0), (a, b) => a + b) * scale, 6)
    }
    vecs.select(col(idCol), toDouble(col(vecCol)).as("_v"))
      .where(col("_v").isNotNull)
      .select(col(idCol), col("_v"), array(comps: _*).as("proj"))
      .select(col(idCol), col("proj"),
        round(sqrt(aggregate(col("proj"), lit(0.0), (a, x) => a + x * x)) /
          sqrt(aggregate(col("_v"), lit(0.0), (a, x) => a + x * x)), 6)
          .as("norm_ratio"))
  }

  /** Train product-quantization codebooks (Jégou et al. 2011): the vector
    * space splits into `m` equal subspaces, each with its own `ksub`-entry
    * L2 codebook, so a d-dim float vector compresses to m small code ids —
    * the MEMORY-bounded ANN path: a 100 TB float corpus becomes an
    * m-bytes-per-row code table that fits where the vectors never will.
    *
    * Training discipline matches [[trainCentroids]]: ONE bounded
    * deterministic hash sample (the `ksub * 32` smallest-xxhash vectors via
    * distributed TakeOrdered — map-side partial top-K, never a full
    * collect), then per-subspace seed selection + one k-means refinement
    * step driver-side (L2 metric — the PQ assignment metric — with the
    * same deterministic smallest-index tie policy). Total driver state is
    * the sample (ksub*32 × d doubles; 256*32×64 ≈ 4 MB) and the codebooks
    * (d × ksub doubles regardless of m). Deterministic for a given
    * (corpus, m, ksub) — cacheable and retry-safe. Corpora smaller than
    * ksub train a codebook per distinct sample vector. */
  def pqTrain(corpus: DataFrame, idCol: String, vecCol: String,
              m: Int, ksub: Int): Array[Array[Array[Double]]] = {
    require(m >= 1 && ksub >= 2, s"pqTrain needs m >= 1, ksub >= 2; got m=$m ksub=$ksub")
    val sample: Array[Array[Double]] = corpus
      .select(toDouble(col(vecCol)).as("_cv"), xxhash64(col(idCol)).as("_h"))
      .orderBy(col("_h")).limit(ksub * 32)
      .collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "pqTrain: empty corpus")
    val dim = sample.map(_.length).max
    require(dim % m == 0, s"pqTrain: dim $dim not divisible by m $m")
    val sub = dim / m

    Array.tabulate(m) { j =>
      val off = j * sub
      // zero-padded subvectors (short vectors read as 0.0 past their end —
      // the same convention PqEncodeExpr applies at assignment time)
      val slices = sample.map { v =>
        Array.tabulate(sub)(i => if (off + i < v.length) v(off + i) else 0.0)
      }
      val k = math.min(ksub, slices.length)
      val seeds = slices.take(k)
      def nearestSeed(v: Array[Double]): Int = {
        var best = 0
        var bestD = Double.PositiveInfinity
        var c = 0
        while (c < k) {
          val s = seeds(c)
          var d2 = 0.0
          var i = 0
          while (i < sub) { val d = v(i) - s(i); d2 += d * d; i += 1 }
          if (d2 < bestD) { bestD = d2; best = c }
          c += 1
        }
        best
      }
      // One k-means step; seeds with no assigned sample keep themselves
      // (an empty cell is a valid, merely unused, codebook entry).
      val assigned = slices.groupBy(nearestSeed)
      Array.tabulate(k) { c =>
        assigned.get(c) match {
          case Some(vs) => Array.tabulate(sub)(i => vs.map(_(i)).sum / vs.length)
          case None => seeds(c)
        }
      }
    }
  }

  /** PQ approximate top-k with ADC scoring + exact re-rank — the third ANN
    * path next to LSH (hash-bucketed) and IVF (cell-probed): PQ trades a
    * small, RERANK-CORRECTED approximation error for a corpus
    * representation of m code ids per vector (×32-or-more compression at
    * dim 64 float), which is what makes billion-scale ANN fit in memory at
    * all. The three compose in production (IVF-PQ); here PQ stands alone so
    * its recall is attributable.
    *
    * Plan shape: (1) the corpus encodes MAP-SIDE into the (id, codes) index
    * table — one compiled pass ([[graft.functions.PqEncodeExpr]]; codebooks
    * ride the expression instance, task-serialized once, plan size flat in
    * ksub); (2) each query builds its ADC lookup table ONCE
    * ([[graft.functions.PqLutExpr]]) and broadcasts; the index scan scores a
    * row with m array lookups + adds — never a d-dim dot product — into the
    * bounded-heap top-`shortlist` (only shortlist rows per query cross the
    * shuffle); (3) the shortlist (dimension-sized) broadcast-semi-joins the
    * corpus to fetch full vectors — at scale an id-pruned scan of the
    * vector store — and exact cosine re-ranks to the final k. Approximate
    * ordering ranks by reconstructed cosine: dot from the LUT, vector norm
    * from the query-independent per-code norm² table (a plan literal,
    * d-doubles-sized). Zero-norm queries score NaN and drop, matching the
    * exact path's degenerate-vector policy. */
  def pqTopKWith(queries: DataFrame, corpus: DataFrame, idCol: String,
                 vecCol: String, k: Int, books: Array[Array[Array[Double]]],
                 shortlist: Int = 0): DataFrame = {
    val cShort = if (shortlist > 0) shortlist else math.max(8 * k, 64)
    val booksSeq: Seq[Seq[Seq[Double]]] = books.map(_.map(_.toSeq).toSeq).toSeq

    val index = corpus
      .select(col(idCol).as("neighbor_id"), toDouble(col(vecCol)).as("_cv"))
      .select(col("neighbor_id"),
        graft.functions.NativeExprs.pqEncode(col("_cv"), booksSeq).as("_codes"))
      .withColumn("_vnormr", reconNorm(books))
    val q = pqQuerySide(queries, idCol, vecCol, booksSeq)
    val scored = index.crossJoin(broadcast(q))
      .withColumn("_sim", adcCosine)
    adcRerank(queries, corpus, idCol, vecCol, scored, cShort, k)
  }

  /** Query-side ADC columns shared by [[pqTopKWith]] and [[ivfPqTopKWith]]:
    * the per-query lookup table and L2 norm. */
  private def pqQuerySide(queries: DataFrame, idCol: String, vecCol: String,
                          booksSeq: Seq[Seq[Seq[Double]]]): DataFrame =
    queries.select(col(idCol).as("query_id"), toDouble(col(vecCol)).as("_qv"))
      .select(col("query_id"),
        graft.functions.NativeExprs.pqLut(col("_qv"), booksSeq).as("_lut"),
        sqrt(aggregate(col("_qv"), lit(0.0), (acc, x) => acc + x * x)).as("_qnorm"))

  /** Reconstructed norm of an index row's codes under the
    * query-independent per-code norm² table (a plan literal,
    * d-doubles-sized) — computed ONCE PER INDEX ROW at index-build time,
    * the same discipline as the residual path's exact `_vnorm`: the norm
    * walk depends only on the codes, so evaluating it inside the
    * (index row × query) score would repeat it per probing query. */
  private[operators] def reconNorm(books: Array[Array[Array[Double]]]): Column = {
    val norm2: Seq[Seq[Double]] =
      books.map(_.map(cent => cent.map(x => x * x).sum).toSeq).toSeq
    sqrt(graft.functions.NativeExprs.adcSum(typedLit(norm2), col("_codes")))
  }

  /** Reconstructed-cosine ADC score over (_lut, _codes, _qnorm, _vnormr):
    * dot from the per-query LUT via the fused
    * [[graft.functions.AdcSumExpr]] kernel — the per-(index row × query)
    * hot loop is exactly one m-code table walk and a divide. */
  private[operators] def adcCosine: Column =
    graft.functions.NativeExprs.adcSum(col("_lut"), col("_codes")) /
      (col("_qnorm") * col("_vnormr"))

  /** Shared shortlist + exact-cosine re-rank tail of the two ADC searchers:
    * bounded-heap top-`cShort` of the approximate scores, then a broadcast
    * semi-join vector fetch (at scale an id-pruned scan of the vector
    * store) re-ranked by true cosine to the final k. */
  private[operators] def adcRerank(queries: DataFrame, corpus: DataFrame, idCol: String,
                        vecCol: String, scored: DataFrame,
                        cShort: Int, k: Int): DataFrame = {
    val short = topKRank(scored, cShort).select(col("query_id"), col("neighbor_id"))
    val cv = corpus.select(col(idCol).as("neighbor_id"), toDouble(col(vecCol)).as("_cv"))
    val qv = queries.select(col(idCol).as("query_id"), toDouble(col(vecCol)).as("_qv"))
    topKRank(
      cv.join(broadcast(short), "neighbor_id")
        .join(broadcast(qv), "query_id")
        .withColumn("_sim", cosine(col("_qv"), col("_cv"))),
      k)
  }

  /** Binary (sign-bit) Hamming search — the fourth ANN tier next to LSH /
    * IVF / PQ, the binary-embedding production shape (faiss
    * IndexBinaryFlat + refine): each vector compresses to its SIGN BITS
    * packed into two 32-bit words, so the index scan scores a candidate
    * with two XOR+popcount word ops over 8 bytes instead of a d-dim float
    * dot over 4d bytes — the cheapest quantization that still correlates
    * with cosine (sign agreement ≈ angle), and the one modern embedding
    * APIs ship as "binary embeddings". The exact-cosine re-rank
    * ([[pqTopKWith]]'s correction stage, shared `adcRerank` tail) corrects
    * the top-`shortlist` to the final k, so sign-quantization error
    * affects recall only through shortlist membership.
    *
    * The two words are built by one compiled fold per vector (no shuffle);
    * each stays below 2^32, so the arithmetic is sign-free in any engine.
    * Dims past 64 are ignored by the SIGNATURE (the re-rank still sees the
    * full vector) — wider embeddings extend the word count, same packing.
    * Approximate ordering: Hamming ascending, neighbor id ascending.
    * Output: (query_id, neighbor_id, rank). */
  def hammingTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                  vecCol: String, k: Int, shortlist: Int = 50): DataFrame = {
    require(k >= 1 && shortlist >= k,
      s"hammingTopK needs shortlist >= k >= 1; got k=$k shortlist=$shortlist")
    val lo = expr("aggregate(transform(_v, (x, i) -> IF(x > 0.0D AND i < 32, " +
      "shiftleft(1L, i), 0L)), 0L, (a, s) -> a + s)")
    val hi = expr("aggregate(transform(_v, (x, i) -> IF(x > 0.0D AND i >= 32 " +
      "AND i < 64, shiftleft(1L, i - 32), 0L)), 0L, (a, s) -> a + s)")
    def sigs(df: DataFrame, idAs: String, pfx: String): DataFrame = df
      .select(col(idCol).as(idAs), toDouble(col(vecCol)).as("_v"))
      .select(col(idAs), lo.as(pfx + "lo"), hi.as(pfx + "hi"))
    val scored = sigs(corpus, "neighbor_id", "_c")
      .crossJoin(broadcast(sigs(queries, "query_id", "_q")))
      .withColumn("_sim",
        -(expr("bit_count(_clo ^ _qlo) + bit_count(_chi ^ _qhi)").cast("double")))
    adcRerank(queries, corpus, idCol, vecCol, scored, shortlist, k)
  }

  /** IVF-PQ — the two scale paths COMPOSED, the billion-vector production
    * shape (faiss's IVFxx,PQyy with global codebooks): IVF routing bounds
    * WHICH rows each query touches (nprobe cells instead of the whole
    * index), PQ bounds WHAT each touched row costs (m code lookups against
    * an m-byte entry instead of a d-dim float dot). The index table is
    * (cell, id, codes) — built in ONE map-side pass over the corpus (cell
    * assignment and PQ encoding are both compiled projections; the corpus
    * never shuffles to build it), clustered by cell at rest so a probe
    * reads only its cells' row groups.
    *
    * Search: each query explodes to its nprobe nearest cells and broadcasts
    * with its ADC lookup table; the (cell)-keyed join prunes the index scan
    * to the probed cells; ADC scores feed the bounded-heap top-`shortlist`;
    * exact cosine re-ranks the fetched shortlist vectors to the final k —
    * the same correction stage as [[pqTopKWith]], so quantization error
    * affects recall only through shortlist membership.
    *
    * Codebooks here are GLOBAL (not residual): one codebook set serves
    * every cell, so training stays one bounded sample and the encoder one
    * expression; with the exact re-rank stage this variant already
    * recovers the recall at these shortlist sizes (spec-gated ≥ 0.9).
    * [[ivfPqResidualTopKWith]] is the residual-encoded refinement (faiss
    * `by_residual`) for when the shortlist has to shrink. */
  def ivfPqTopKWith(queries: DataFrame, corpus: DataFrame, idCol: String,
                    vecCol: String, k: Int,
                    centroids: Array[(Int, Array[Double])],
                    books: Array[Array[Array[Double]]],
                    nprobe: Int = 0, shortlist: Int = 0): DataFrame = {
    val probes = if (nprobe > 0) nprobe else adaptiveProbes(centroids.length)
    val cShort = if (shortlist > 0) shortlist else math.max(8 * k, 64)
    val booksSeq: Seq[Seq[Seq[Double]]] = books.map(_.map(_.toSeq).toSeq).toSeq

    val c = corpus.select(col(idCol).as("neighbor_id"), toDouble(col(vecCol)).as("_cv"))
    val cells = cellMaker(c, centroids, forceBroadcast = false)
    val index = c.select(col("neighbor_id"),
      cells(col("_cv"), 1)(0).as("cell"),
      graft.functions.NativeExprs.pqEncode(col("_cv"), booksSeq).as("_codes"))
      .withColumn("_vnormr", reconNorm(books))
    // one projection (not pqQuerySide + a join): the probe explode needs
    // _qv, which the shared helper's projection drops
    val q = queries.select(col(idCol).as("query_id"), toDouble(col(vecCol)).as("_qv"))
      .select(col("query_id"),
        explode(cells(col("_qv"), probes)).as("cell"),
        graft.functions.NativeExprs.pqLut(col("_qv"), booksSeq).as("_lut"),
        sqrt(aggregate(col("_qv"), lit(0.0), (acc, x) => acc + x * x)).as("_qnorm"))
    val scored = index.join(broadcast(q), "cell")
      .withColumn("_sim", adcCosine)
    adcRerank(queries, corpus, idCol, vecCol, scored, cShort, k)
  }

  /** Broadcastable (cell, centroid vector) table — dimension-sized by
    * construction (≤ 65536 cells × dim doubles), the carrier both residual
    * paths use to subtract each row's OWN cell centroid map-side. */
  private[graft] def centroidTable(df: DataFrame,
                            centroids: Array[(Int, Array[Double])]): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    centroids.map { case (id, v) => (id, v.toSeq) }.toSeq.toDF("cell", "_centv")
  }

  /** Element-wise residual x − centroid, null-safe for short vectors (a
    * missing element reads as 0.0 — the same zero-pad convention pqTrain
    * and PqEncodeExpr apply). */
  private def resid(v: Column, cent: Column): Column =
    zip_with(v, cent, (x, m) => coalesce(x, lit(0.0)) - coalesce(m, lit(0.0)))

  /** Train PQ codebooks on RESIDUALS x − centroid(cell(x)) — the faiss
    * `by_residual` training step: after IVF routing, what a cell's rows
    * differ by is their residual, whose spread is a fraction of the
    * corpus's, so the same ksub codes quantize it proportionally finer.
    * One map-side pass forms the residuals (cell assignment + a broadcast
    * centroid-vector join), then the [[pqTrain]] discipline (bounded
    * deterministic hash sample, driver k-means step) runs unchanged over
    * them. */
  def pqTrainResidual(corpus: DataFrame, idCol: String, vecCol: String,
                      centroids: Array[(Int, Array[Double])],
                      m: Int, ksub: Int): Array[Array[Array[Double]]] = {
    val c = corpus.select(col(idCol).as("_rid"), toDouble(col(vecCol)).as("_cv"))
    val cells = cellMaker(c, centroids, forceBroadcast = false)
    val res = c.withColumn("cell", cells(col("_cv"), 1)(0))
      .join(broadcast(centroidTable(c, centroids)), "cell")
      .select(col("_rid"), resid(col("_cv"), col("_centv")).as("_res"))
    pqTrain(res, "_rid", "_res", m, ksub)
  }

  /** IVF-PQ with RESIDUAL encoding (faiss `by_residual = true`) — the
    * refinement over [[ivfPqTopKWith]]'s global codebooks: each index row
    * stores PQ codes of x − c(cell), so quantization error scales with the
    * within-cell spread instead of the corpus spread.
    *
    * The classical objection to residual encoding — per-(query, cell)
    * lookup tables — applies to L2 ADC, where the LUT is built from the
    * query's own residual q − c. Ranking by reconstructed INNER PRODUCT
    * dissolves it: ⟨q, x̂⟩ = ⟨q, c⟩ + ⟨q, r̂⟩, where the ⟨q, r̂⟩ LUT
    * depends only on the query (subvector dots against the residual
    * codebooks — the same [[graft.functions.NativeExprs.pqLut]] as the
    * global path) and the per-cell part collapses to ONE scalar ⟨q, c⟩,
    * computed in the probe-exploded query projection (nprobe d-dim dots
    * per query, dimension-sized). The index build stays one map-side pass
    * (cell assignment + broadcast centroid join + compiled residual
    * encode); each row also carries its EXACT vector norm (one double —
    * the standard IP/cosine-metric companion), so the ADC cosine needs no
    * reconstructed-norm table. Shortlist + exact re-rank tail shared with
    * the other ADC searchers; zero-norm vectors score NaN and drop. */
  def ivfPqResidualTopKWith(queries: DataFrame, corpus: DataFrame, idCol: String,
                            vecCol: String, k: Int,
                            centroids: Array[(Int, Array[Double])],
                            resBooks: Array[Array[Array[Double]]],
                            nprobe: Int = 0, shortlist: Int = 0): DataFrame = {
    val probes = if (nprobe > 0) nprobe else adaptiveProbes(centroids.length)
    val cShort = if (shortlist > 0) shortlist else math.max(8 * k, 64)
    val booksSeq: Seq[Seq[Seq[Double]]] = resBooks.map(_.map(_.toSeq).toSeq).toSeq

    val c = corpus.select(col(idCol).as("neighbor_id"), toDouble(col(vecCol)).as("_cv"))
    val cells = cellMaker(c, centroids, forceBroadcast = false)
    val cents = centroidTable(c, centroids)
    val index = c.withColumn("cell", cells(col("_cv"), 1)(0))
      .join(broadcast(cents), "cell")
      .select(col("cell"), col("neighbor_id"),
        graft.functions.NativeExprs.pqEncode(resid(col("_cv"), col("_centv")), booksSeq)
          .as("_codes"),
        sqrt(aggregate(col("_cv"), lit(0.0), (acc, x) => acc + x * x)).as("_vnorm"))
    val q = queries.select(col(idCol).as("query_id"), toDouble(col(vecCol)).as("_qv"))
      .select(col("query_id"), col("_qv"), explode(cells(col("_qv"), probes)).as("cell"))
      .join(broadcast(cents), "cell")
      .select(col("query_id"), col("cell"),
        // zero-pad convention, NOT dot(): zip_with pads the shorter side
        // with nulls, which would null this whole sum for a ragged/short
        // query and kill its shortlist at the ADC stage — the WRONG place
        // to apply the degenerate-vector policy. Every ADC component
        // zero-pads (resid(), PqLutExpr); the uniform dim-mismatch drop
        // happens once, at the exact re-rank's cosine (spec-pinned vs the
        // global-codebook path).
        aggregate(zip_with(col("_qv"), col("_centv"),
            (x, m) => coalesce(x, lit(0.0)) * coalesce(m, lit(0.0))),
          lit(0.0), (acc, x) => acc + x).as("_qdotc"),
        graft.functions.NativeExprs.pqLut(col("_qv"), booksSeq).as("_lut"),
        sqrt(aggregate(col("_qv"), lit(0.0), (acc, x) => acc + x * x)).as("_qnorm"))
    val lutDot = graft.functions.NativeExprs.adcSum(col("_lut"), col("_codes"))
    val scored = index.join(broadcast(q), "cell")
      // a zero-norm corpus vector would score ±Infinity here (nonzero
      // reconstructed numerator over a zero norm) and usurp a shortlist
      // slot; force the NaN the degenerate-vector policy expects
      .withColumn("_sim", when(col("_vnorm") > 0,
        (col("_qdotc") + lutDot) / (col("_qnorm") * col("_vnorm")))
        .otherwise(lit(Double.NaN)))
    adcRerank(queries, corpus, idCol, vecCol, scored, cShort, k)
  }

  /** Pairwise covariance matrix of the embedding components (upper
    * triangle incl. the diagonal, population covariance) — the input PCA /
    * whitening consumes, and a corpus diagnostic in its own right (which
    * dimensions are degenerate or redundant before an ANN index or
    * SemDeDup pass is built over them).
    *
    * Postings discipline, ONE corpus scan, NO join: posexplode to
    * (i, x_i) carrying the vector's tail slice, a second map-side explode
    * emits each ordered pair's product — then one (i, j)-keyed aggregation
    * whose map-side combine collapses the d(d+1)/2-per-row fan-out to at
    * most d(d+1)/2 groups per partition BEFORE the exchange: the shuffle
    * carries dimension²-sized partials, never the corpus. The per-pair
    * x_i/x_j sums ride the SAME aggregation (every vector contributes
    * exactly one row to each (i, j) group, so the group's sum(x_i) IS
    * n·mean_i) — the means never need a second pass or a join-back. All
    * three sums go through DECIMAL(28,12) (the cast rounds each product
    * once) so the result is accumulation-order independent and
    * engine-stable. Output: (i, j, n_vecs, cov 6dp) for i <= j.
    *
    * Two carriers; the DEFAULT is the fixed-buffer aggregate
    * [[graft.functions.CovOuterSumAgg]] — O(d²) arithmetic per row into
    * ONE buffer per task (no rows materialized; only the d(d+1)/2-entry
    * buffer crosses the shuffle) — because it measures ~2.3× faster
    * already at sf0.1/dim 64 (0.43 s vs 1.14 s warm; the explode's row
    * churn costs more than the aggregate's per-term decimal rounding even
    * at small dims), its advantage grows with dimension, and it is the
    * only shape that survives high dims (the explode materializes
    * O(N·d(d+1)/2) rows through codegen before the map-side combine).
    * `highDim = false` keeps that explode carrier — pure built-in
    * Catalyst, nothing extra crossing the shuffle — as the
    * independently-planned shape the oracle cross-checks the aggregate
    * against. The two paths are
    * BIT-IDENTICAL by construction on the decimal path's numeric domain
    * (the aggregate accumulates the same DECIMAL(28,12)-rounded terms and
    * reproduces the same final double arithmetic; spec-pinned incl.
    * ragged lengths and lane overflow), so the hashed driver oracle gates
    * both; past that domain (|x_i·x_j| ≥ 1e16) the decimal path fails
    * loudly under ANSI while the aggregate stays exact — see
    * [[graft.functions.CovOuterSumAgg]]. */
  /** The fixed-buffer covariance carrier WITH the aggregate's diagonal
    * `mean` column — the ONE pipeline both [[embeddingCovariance]]'s
    * default branch (which drops `mean` to keep the oracled schema) and
    * [[pcaTrain]] (which reads the diagonal means) consume, so the
    * oracled carrier and the PCA training input can never drift apart. */
  private def covOuterRows(vectors: DataFrame, vecCol: String): DataFrame =
    vectors
      .agg(graft.functions.CovOuterSumAgg.covOuterSum(toDouble(col(vecCol))).as("_m"))
      .select(explode(col("_m")).as("_e"))
      .select(col("_e.i").as("i"), col("_e.j").as("j"),
        col("_e.n_vecs").as("n_vecs"), col("_e.cov").as("cov"),
        col("_e.mean").as("mean"))

  def embeddingCovariance(vectors: DataFrame, vecCol: String,
                          highDim: Boolean = true): DataFrame =
    if (highDim)
      covOuterRows(vectors, vecCol)
        .select(col("i"), col("j"), col("n_vecs"), col("cov"))
    else vectors
      .select(toDouble(col(vecCol)).as("_v"))
      .select(col("_v"), posexplode(col("_v")).as(Seq("i", "xi")))
      .select(col("i"), col("xi"),
        posexplode(slice(col("_v"), col("i") + lit(1), size(col("_v")) - col("i")))
          .as(Seq("jj", "xj")))
      .groupBy(col("i"), (col("i") + col("jj")).as("j"))
      .agg(count(lit(1)).as("n_vecs"),
        sum((col("xi") * col("xj")).cast("decimal(28,12)")).as("_sxy"),
        sum(col("xi").cast("decimal(28,12)")).as("_sx"),
        sum(col("xj").cast("decimal(28,12)")).as("_sy"))
      .select(col("i"), col("j"), col("n_vecs"),
        // + 0.0 collapses IEEE -0.0 to +0.0 (a tiny negative covariance
        // rounds to a signed zero in some engines but not others)
        (round(col("_sxy").cast("double") / col("n_vecs")
          - (col("_sx").cast("double") / col("n_vecs"))
            * (col("_sy").cast("double") / col("n_vecs")), 6) + lit(0.0)).as("cov"))

  /** Dimension ceiling for [[pcaTrain]]'s EXACT driver-side Jacobi
    * eigensolve (O(d³) per sweep — ~minutes of driver CPU at this
    * bound); wider covariances switch to [[randomizedTopK]]. */
  val PcaEigenDimBound: Int = 1024

  /** Dimension ceiling for the RANDOMIZED eigensolve path: past the
    * Jacobi bound, [[pcaTrain]] runs seeded subspace iteration (Halko
    * et al. 2011) — O(d²·(k+p)) per iteration instead of O(d³) per
    * sweep, so d = 8192 is seconds of driver CPU. The bound is the
    * dense d×d covariance the driver holds (~512 MB at 8192); the
    * distributed covariance pass itself is dimension²-bounded and
    * unchanged. */
  val PcaRandomizedDimBound: Int = 8192

  /** Eigendecomposition of a symmetric matrix by cyclic Jacobi rotations —
    * pure sequential driver math over the DIMENSION-sized covariance
    * matrix (64×64 here; the corpus never participates). Deterministic:
    * fixed sweep order, convergence on off-diagonal mass, eigenpairs
    * sorted by descending eigenvalue (index-ascending on exact ties) and
    * sign-fixed so each vector's largest-|component| entry is positive.
    * Returns (eigenvalues desc, eigenvectors as rows). */
  private[graft] def jacobiEigen(m: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = m.length
    val a = m.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    def off(): Double = {
      var s = 0.0
      var p = 0
      while (p < d) { var q = p + 1; while (q < d) { s += a(p)(q) * a(p)(q); q += 1 }; p += 1 }
      s
    }
    var sweep = 0
    while (sweep < 100 && off() > 1e-18) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t = if (theta >= 0) 1.0 / (theta + math.sqrt(theta * theta + 1.0))
                    else 1.0 / (theta - math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var k = 0
            while (k < d) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < d) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              k += 1
            }
            k = 0
            while (k < d) {
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    val order = (0 until d).sortBy(i => (-a(i)(i), i))
    val eig = order.map(i => a(i)(i)).toArray
    val vecs = order.map(i => signFix(Array.tabulate(d)(k => v(k)(i)))).toArray
    (eig, vecs)
  }

  /** Largest-|component|-positive sign convention — the ONE sign fixer
    * both eigensolvers share, so their bases are comparable. */
  private def signFix(w: Array[Double]): Array[Double] = {
    var best = 0
    var k = 1
    while (k < w.length) { if (math.abs(w(k)) > math.abs(w(best))) best = k; k += 1 }
    if (w(best) < 0) w.map(-_) else w
  }

  /** Top-k eigenpairs of a symmetric matrix by SEEDED subspace iteration
    * (randomized range finder + Rayleigh–Ritz; Halko, Martinsson, Tropp
    * 2011) — the wider-dimension companion of [[jacobiEigen]]: each of
    * the fixed `iters` power steps costs O(d²·m) (m = k + oversample)
    * against Jacobi's O(d³) per sweep, so dimensions in the thousands
    * stay seconds of driver CPU. Deterministic by construction: fixed
    * seed, fixed iteration count (no convergence-dependent branching),
    * the small m×m Rayleigh quotient goes through [[jacobiEigen]]'s
    * deterministic sweep, and the returned basis is sign-fixed the same
    * way — so the same 6dp-rounded covariance yields the same basis on
    * every run/engine. Accuracy: the top-k eigenpairs of a spectrum with
    * any decay are reproduced to ~1e-9 relative after 4 power steps
    * (spec-pinned against Jacobi at d = 200); degenerate trailing
    * columns (rank < m) re-seed deterministically. */
  private[graft] def randomizedTopK(m0: Array[Array[Double]], k: Int,
      oversample: Int = 8, iters: Int = 4): (Array[Double], Array[Array[Double]]) = {
    val d = m0.length
    val m = math.min(d, k + oversample)
    val rnd = new java.util.Random(987654321L)
    // column-major sketch: m columns of length d
    var q = Array.fill(m)(Array.fill(d)(rnd.nextGaussian()))

    def matvec(x: Array[Double]): Array[Double] = {
      val y = new Array[Double](d)
      var r = 0
      while (r < d) {
        val row = m0(r)
        var s = 0.0
        var c = 0
        while (c < d) { s += row(c) * x(c); c += 1 }
        y(r) = s
        r += 1
      }
      y
    }

    def orthonormalize(cols: Array[Array[Double]]): Unit = {
      var i = 0
      while (i < cols.length) {
        var attempt = 0
        var ok = false
        while (!ok) {
          val ci = cols(i)
          var j = 0
          while (j < i) {
            val cj = cols(j)
            var dot = 0.0; var x = 0
            while (x < d) { dot += ci(x) * cj(x); x += 1 }
            x = 0
            while (x < d) { ci(x) -= dot * cj(x); x += 1 }
            j += 1
          }
          var nrm = 0.0; var x = 0
          while (x < d) { nrm += ci(x) * ci(x); x += 1 }
          nrm = math.sqrt(nrm)
          if (nrm >= 1e-12) {
            x = 0
            while (x < d) { ci(x) /= nrm; x += 1 }
            ok = true
          } else {
            // column collapsed into the span of the previous ones
            // (rank(C) < m): re-seed deterministically and retry; after
            // 3 attempts leave the zero column (its Ritz value is ~0
            // and lands at the tail of the descending sort)
            attempt += 1
            if (attempt > 3) { java.util.Arrays.fill(ci, 0.0); ok = true }
            else {
              val r2 = new java.util.Random(1013904223L * (i + 1) + attempt)
              var y = 0
              while (y < d) { ci(y) = r2.nextGaussian(); y += 1 }
            }
          }
        }
        i += 1
      }
    }

    orthonormalize(q)
    var it = 0
    while (it < iters) {
      q = q.map(matvec)
      orthonormalize(q)
      it += 1
    }
    // Rayleigh quotient B = Qᵀ C Q (m×m, symmetrized against fp drift)
    val cq = q.map(matvec)
    val b = Array.tabulate(m, m)((a2, b2) => {
      var s = 0.0
      var x = 0
      while (x < d) { s += q(a2)(x) * cq(b2)(x); x += 1 }
      s
    })
    var i2 = 0
    while (i2 < m) {
      var j2 = i2 + 1
      while (j2 < m) {
        val avg = (b(i2)(j2) + b(j2)(i2)) / 2.0
        b(i2)(j2) = avg; b(j2)(i2) = avg
        j2 += 1
      }
      i2 += 1
    }
    val (eigB, vecsB) = jacobiEigen(b)
    val basis = vecsB.take(k).map { vb =>
      val w = new Array[Double](d)
      var c = 0
      while (c < m) {
        val qc = q(c); val coef = vb(c)
        var x = 0
        while (x < d) { w(x) += coef * qc(x); x += 1 }
        c += 1
      }
      signFix(w)
    }
    (eigB.take(k), basis)
  }

  /** PCA basis over an embedding corpus: means, eigenvalues (descending)
    * and the top-k principal components. The distributed work is ONE
    * corpus pass — the fixed-buffer [[graft.functions.CovOuterSumAgg]]
    * carrier, whose diagonal entries also carry the column means (same
    * decimal-sum discipline a separate means pass would use, so nothing
    * else scans the corpus); the collect is the d(d+1)/2-row covariance
    * table (dimension-sized — 2080 doubles at dim 64, bounded by
    * construction like the centroid collects), and the eigensolve runs
    * on the driver — exact [[jacobiEigen]] up to [[PcaEigenDimBound]],
    * the seeded [[randomizedTopK]] subspace iteration up to
    * [[PcaRandomizedDimBound]]. The basis trains on the 6dp-ROUNDED
    * covariance, so it is bit-identical across partitionings and engines
    * (both solvers are deterministic by construction).
    *
    * NOT memoized, deliberately: a canonicalized-plan key omits
    * LocalRelation data and parquet file locations, so two same-schema
    * corpora would collide and the second would silently receive the
    * first's basis — a correctness input, unlike the collision-tolerant
    * performance hints the bounded memos elsewhere cache. Training is two
    * dimension-bounded aggregation jobs; callers projecting repeatedly
    * hold the returned basis and pass it where needed. */
  def pcaTrain(vectors: DataFrame, vecCol: String,
               k: Int): (Array[Double], Array[Double], Array[Array[Double]]) = {
    val rows = covOuterRows(vectors, vecCol)
      .select(col("i"), col("j"), col("cov"), col("mean"))
      .collect()
    require(rows.nonEmpty, "pcaTrain: empty corpus")
    val d = rows.iterator.map(_.getInt(1)).max + 1
    // Eigensolve dispatch by dimension: exact cyclic Jacobi is O(d³) PER
    // SWEEP on the driver — seconds at d=256, minutes past ~1024 — so
    // wider covariances switch to the seeded randomized subspace
    // iteration (only the top-k basis is needed, not the full
    // decomposition); past THAT bound the dense d×d matrix itself no
    // longer belongs on the driver, so fail loudly.
    require(d <= PcaRandomizedDimBound,
      s"pcaTrain: dimension $d exceeds the randomized-eigensolve bound " +
        s"$PcaRandomizedDimBound (the dense covariance alone is " +
        s"${d.toLong * d * 8 / (1 << 20)} MB on the driver); project or " +
        "slice the embedding first")
    val cov = Array.ofDim[Double](d, d)
    val means = Array.fill(d)(Double.NaN)
    rows.foreach { r =>
      val (i, j, c) = (r.getInt(0), r.getInt(1), r.getDouble(2))
      cov(i)(j) = c; cov(j)(i) = c
      // the diagonal's mean lane IS the column mean (n·mean_i = Σx_i,
      // accumulated with the same decimal discipline a dedicated
      // posexplode/groupBy means pass would use) — no second corpus scan
      if (i == j) means(i) = r.getDouble(3)
    }
    require(!means.exists(_.isNaN), s"pcaTrain: missing diagonal for some of $d dims")
    val (eig, vecs) =
      if (d <= PcaEigenDimBound) jacobiEigen(cov)
      else randomizedTopK(cov, k)
    (means, eig.take(k), vecs.take(k))
  }

  /** SKETCHED top-k subspace training — the dimension regime
    * [[pcaTrain]] refuses: its exact path collects the d(d+1)/2
    * covariance triangle and eigensolves a dense d×d matrix on the
    * driver, gated at [[PcaRandomizedDimBound]] = 8192 because past that
    * the MATRIX no longer belongs on the driver. This path never forms
    * anything d×d: one corpus pass folds rows into the Frequent-
    * Directions sketch ([[graft.functions.FdSketchAgg]] — mergeable,
    * 2·ell·d buffer, LINEAR in d), the driver collects the ≤ ell sketch
    * rows (ell·d doubles, require-bounded), and the eigensolve runs on
    * the SMALL ell×ell Gram matrix BBᵀ; the top-k directions come back
    * as v_k = BᵀU_k/√λ_k. The FD guarantee transfers: every direction's
    * energy under BᵀB is within ‖A‖F²/ell of its energy under AᵀA, so
    * with a spectral gap wider than that additive error the top-k
    * subspace is recovered (spec-pinned against the exact path on a
    * zero-mean planted corpus).
    *
    * UNCENTERED by design: this is the second-moment (Gram) subspace,
    * not covariance PCA — at the widths this path exists for, embedding
    * pipelines either work with normalized vectors or center map-side
    * upstream; a means pass would be a second corpus scan. The sketch
    * (and therefore the basis) depends on the partition/merge order —
    * deterministic GUARANTEES, not deterministic bytes (the FdSketchAgg
    * adjudication) — which is why no oracle query fronts this method.
    * Returns (approxEigenvalues descending, top-k unit directions). */
  def pcaTrainSketched(vectors: DataFrame, vecCol: String, k: Int,
                       ell: Int = 64): (Array[Double], Array[Array[Double]]) = {
    require(k >= 1 && k <= ell / 2,
      s"pcaTrainSketched: need 1 <= k <= ell/2 (FD deflation kills the tail), got k=$k ell=$ell")
    val sk = vectors
      .agg(graft.functions.FdSketchAgg.fdSketch(toDouble(col(vecCol)), ell).as("sk"))
      .select(explode(col("sk")).as("s")).select(col("s.row").as("row"))
      // bounded collect: <= ell rows of the corpus' dimension — the FD
      // buffer the executors already held, require-bounded below
      .collect()
    require(sk.nonEmpty, "pcaTrainSketched: empty corpus")
    val b = sk.map(_.getSeq[Double](0).toArray)
    val d = b.map(_.length).max
    require(ell.toLong * d <= (32L << 20),
      s"pcaTrainSketched: ell*d = ${ell.toLong * d} exceeds the 32M-double " +
        "driver budget; lower ell")
    val r = b.length
    val g = Array.ofDim[Double](r, r)
    var i = 0
    while (i < r) {
      var j = i
      while (j < r) {
        var s = 0.0
        var c = 0
        val len = math.min(b(i).length, b(j).length)
        while (c < len) { s += b(i)(c) * b(j)(c); c += 1 }
        g(i)(j) = s; g(j)(i) = s
        j += 1
      }
      i += 1
    }
    val (lam, u) = graft.functions.FdSketchAgg.jacobiEigen(g)
    val kk = math.min(k, r)
    val basis = (0 until kk).toArray.flatMap { c =>
      if (lam(c) <= 1e-12) None
      else {
        val w = new Array[Double](d)
        var j = 0
        while (j < r) {
          val coef = u(j)(c)
          if (coef != 0.0) {
            val src = b(j)
            var x = 0
            while (x < src.length) { w(x) += coef * src(x); x += 1 }
          }
          j += 1
        }
        val inv = 1.0 / math.sqrt(lam(c))
        var x = 0
        while (x < d) { w(x) *= inv; x += 1 }
        Some(signFix(w))
      }
    }
    (lam.take(basis.length), basis)
  }

  /** Project (and optionally whiten) an embedding corpus onto its top-k
    * principal components — the dimensionality-reduction / whitening step
    * run before ANN indexing or SemDeDup when raw embedding components
    * are correlated. The basis and means ride the projection as plan
    * literals (k·d + d doubles — dimension-sized); the corpus projects
    * MAP-SIDE in one codegen'd pass of higher-order functions: no
    * shuffle, no join, nothing collected. Whitening divides each
    * component by sqrt(eigenvalue) (floored at 1e-12) so the projected
    * components have ~unit variance. Output: (id, proj array<double>
    * rounded 6dp). */
  def pcaProject(vectors: DataFrame, idCol: String, vecCol: String, k: Int,
                 whiten: Boolean = false): DataFrame = {
    val (means, eig, basis) = pcaTrain(vectors, vecCol, k)
    val meansLit = array(means.map(lit(_)).toIndexedSeq: _*)
    val comps = basis.zip(eig).map { case (w, e) =>
      val scaleInv = if (whiten) 1.0 / math.sqrt(math.max(e, 1e-12)) else 1.0
      val wLit = array(w.map(x => lit(x * scaleInv)).toIndexedSeq: _*)
      wLit
    }
    val centered = zip_with(toDouble(col(vecCol)), meansLit, (x, m) => x - m)
    val proj = array(comps.map(wLit =>
      round(aggregate(zip_with(centered, wLit, (x, w) => x * w),
        lit(0.0), (acc, x) => acc + x), 6)).toIndexedSeq: _*)
    vectors.select(col(idCol), proj.as("proj"))
  }

  /** Pinned iteration count for [[pcaPowerFixed]]: enough to converge on
    * a separated spectrum (gap 0.5 → residual 0.5¹² ≈ 2·10⁻⁴,
    * spec-pinned against [[jacobiEigen]] on a planted corpus) while the
    * unrolled oracle CTE chain stays bounded (k·rounds joins over the
    * d²-row covariance — dimension-sized, never the corpus). */
  val PcaPowerRounds: Int = 12

  /** Engine-exact top-k PCA eigensolve — the ORACLED form of the
    * [[pcaTrain]] family. [[pcaTrain]]'s Jacobi/randomized eigensolves
    * are driver float math no SQL engine replays (hence embedding_pca's
    * long-standing rows-only status); this method re-expresses the
    * top-k solve as k runs of `rounds` pinned power-iteration steps
    * (von Mises iteration) with Hotelling (1933) deflation, entirely in
    * INTEGER fixed point, replayed verbatim by unrolled DuckDB CTEs
    * (the event_pagerank discipline):
    *
    *  - the input is the 6dp-rounded covariance the oracled
    *    `embedding_cov` already proves engine-identical, integerized as
    *    cov6 = round(cov·1e6) — that product sits within ~1e-9 of an
    *    integer, so no rounding-mode disagreement is possible;
    *  - each iterate renormalizes by max-|component| to exactly ±1e6
    *    via truncating division — no sqrt, no float anywhere in the
    *    loop (an L2 norm would re-introduce one);
    *  - λ̂6 is the truncated integer Rayleigh quotient
    *    sdiv(Σ v6·w, Σ v6²), and deflation subtracts
    *    sdiv(λ6·v6ᵢ·v6ⱼ, Σ v6²) from cov6 — Hotelling deflation for an
    *    ∞-norm-normalized iterate;
    *  - sums ride BigInt here / HUGEINT in the oracle (the mann_whitney
    *    precedent): |Σ v6·w| reaches ~10²¹ at d = 64.
    *
    * Engine-exactness holds BY CONSTRUCTION — every op is an exact
    * integer op with truncation-toward-zero division (BigInt `/` here;
    * CASE-signed `//` in the oracle) — INDEPENDENT of spectral
    * convergence. Adjudication for the synthetic testdata: its
    * covariance spectrum is near-flat (λ₂/λ₁ ≈ 0.99), so 12 steps yield
    * the exact pinned ITERATE rather than the converged eigenvector;
    * the oracle certifies the distributed covariance pass plus the
    * eigensolve arithmetic, while convergence quality on a spectrum
    * with real separation is spec-pinned against [[jacobiEigen]] on a
    * planted anisotropic corpus. The corpus participates only through
    * the one oracled covariance aggregation; the iteration itself is
    * dimension-bounded driver integer math (the [[pcaTrain]] collect
    * class, d ≤ [[PcaEigenDimBound]]).
    *
    * Output: (component, dim_idx, loading6 = v·1e6 with max-|loading6|
    * exactly 1e6 per component, lambda6 = λ̂·1e6). */
  def pcaPowerFixed(vectors: DataFrame, vecCol: String, k: Int = 4,
                    rounds: Int = PcaPowerRounds): DataFrame = {
    require(k >= 1 && rounds >= 1,
      s"pcaPowerFixed: need k >= 1 and rounds >= 1, got k=$k rounds=$rounds")
    val spark = vectors.sparkSession
    // bounded collect: d(d+1)/2 covariance rows (dimension-sized — the
    // audited pcaTrain class), require-gated below
    val tri = covOuterRows(vectors, vecCol)
      .select(col("i"), col("j"), col("cov")).collect()
    require(tri.nonEmpty, "pcaPowerFixed: empty corpus")
    val d = tri.iterator.map(_.getInt(1)).max + 1
    require(d <= PcaEigenDimBound,
      s"pcaPowerFixed: dimension $d exceeds $PcaEigenDimBound; slice or " +
        "project the embedding first")
    require(k <= d, s"pcaPowerFixed: k=$k exceeds dimension $d")
    val M = BigInt(1000000)
    // deflated working matrix, cov6 scale (value·1e6)
    val m = Array.fill(d, d)(BigInt(0))
    tri.foreach { r =>
      val (i, j) = (r.getInt(0), r.getInt(1))
      val c = BigInt(math.round(r.getDouble(2) * 1e6))
      m(i)(j) = c; m(j)(i) = c
    }
    // truncation-toward-zero division — BigInt's own semantics, matched
    // by the oracle's CASE-signed `//` (DuckDB floors, so bare `//` on a
    // negative numerator would disagree)
    def matVec(v: Array[BigInt]): Array[BigInt] =
      Array.tabulate(d) { i =>
        var s = BigInt(0); var j = 0
        while (j < d) { s += m(i)(j) * v(j); j += 1 }
        s
      }
    val out = Seq.newBuilder[(Int, Int, Long, Long)]
    var c = 0
    while (c < k) {
      var v = Array.fill(d)(M) // pinned all-ones seed, max-abs scale
      var r = 0
      while (r < rounds) {
        val w = matVec(v)
        val mx = w.map(_.abs).max
        v = if (mx == 0) Array.fill(d)(BigInt(0)) else w.map(x => x * M / mx)
        r += 1
      }
      val w = matVec(v)
      val s = v.map(x => x * x).sum
      val lam = if (s == 0) BigInt(0)
                else v.zip(w).map { case (a, b) => a * b }.sum / s
      val lamL = lam.toLong
      var i = 0
      while (i < d) { out += ((c, i, v(i).toLong, lamL)); i += 1 }
      if (s != 0) {
        var p = 0
        while (p < d) {
          var q = 0
          while (q < d) { m(p)(q) -= lam * v(p) * v(q) / s; q += 1 }
          p += 1
        }
      }
      c += 1
    }
    import spark.implicits._
    out.result().toDF("component", "dim_idx", "loading6", "lambda6")
  }
}
