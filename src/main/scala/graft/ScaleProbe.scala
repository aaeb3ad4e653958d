package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Scale-curve certification for the heavy similarity operators
  * (VERDICT r17 #2/#7): the per-round 2x gate at sf0.1 cannot see
  * super-linear blowup, so this probe clones the sf documents /
  * embeddings / supplier tables to 1x/3x/10x with CONTROLLED mutations
  * and measures, per operator and scale: warm wall seconds, output
  * rows, and total shuffle bytes/records — enough to read off the
  * scaling exponent ln(t₁₀/t₁)/ln 10 and whether candidate generation
  * stays bucketed (bytes growing ~linearly) rather than quadratic.
  *
  * Corpus construction (the dirtyOrders controlled-mutation precedent):
  * scale k keeps the original table as shard 0 and adds shards 1..k−1
  * whose rows are ~95-98% DISTINCT content (tokens rewritten with a
  * shard suffix / vectors re-drawn from a hash PRNG / names extended
  * beyond the edit threshold) plus a FIXED small fraction of true
  * near-duplicates (≈2% light-mutation clones, single-edit names,
  * ±1e-3-perturbed vectors) — so planted-match DENSITY stays
  * proportional to corpus size and the measured growth is the
  * algorithm's, not an artifact of quadratic clone families. All
  * mutation choices are xxhash64-keyed: every run builds the identical
  * corpus.
  *
  * The probe also runs the substrDedup md5-vs-xxhash64 and
  * setsim/containment raw-vs-hashKeys carriers at the top scale and
  * reports row-count deltas (the G²/2⁶⁵ collision adjudication's
  * empirical datapoint) alongside the timing delta.
  *
  * Usage: `tools/run.sh graft.ScaleProbe [sfDir] [scales csv] [reps]
  * [ops csv]` (defaults /root/testdata/sf0.1, 1,3,10, 2, all ops; the
  * optional 4th arg reruns a subset against already-built corpora).
  * Prints one JSON line per measurement; the round log (bench_logs/r18)
  * captures the table. */
object ScaleProbe {

  /** Documents at scale k: shard 0 verbatim; shard c ≥ 1 near-dup for
    * ~2% of docs (1% of tokens lightly mutated) else distinct (98% of
    * tokens shard-suffixed). doc_id offset by 5M per shard. */
  private def scaleDocuments(docs: DataFrame, k: Int): DataFrame = {
    val sharded = docs.select(col("*"),
      explode(sequence(lit(0), lit(k - 1))).as("_shard"))
    val toks = split(col("text"), "\\s+")
    val nearDup = pmod(xxhash64(col("doc_id"), col("_shard"), lit("role")), lit(50)) === 0
    val mutated = array_join(transform(toks, t =>
      when(pmod(xxhash64(t, col("doc_id"), col("_shard")), lit(100)) < 1,
        concat(t, lit("x"))).otherwise(t)), " ")
    val rewritten = array_join(transform(toks, t =>
      when(pmod(xxhash64(t, col("_shard")), lit(100)) < 98,
        concat(t, lit("_"), col("_shard"))).otherwise(t)), " ")
    val newText = when(col("_shard") === 0, col("text"))
      .when(nearDup, mutated).otherwise(rewritten)
    sharded.select(
      (col("doc_id") + col("_shard").cast("long") * 5000000L).as("doc_id"),
      newText.as("text"), col("lang"), col("source"),
      length(newText).cast("long").as("n_chars"))
  }

  /** Embeddings at scale k: shard 0 verbatim; ~5% of clones are ±1e-3
    * perturbations (true semantic dups), the rest are fresh hash-PRNG
    * vectors in [-0.5, 0.5]⁶⁴ (distinct content). Labels carried, so
    * per-cluster sizes grow linearly with scale. */
  private def scaleEmbeddings(emb: DataFrame, k: Int): DataFrame = {
    val sharded = emb.select(col("*"),
      explode(sequence(lit(0), lit(k - 1))).as("_shard"))
    val nearDup = pmod(xxhash64(col("vec_id"), col("_shard"), lit("role")), lit(20)) === 0
    val v = col("embedding").cast("array<double>")
    val perturbed = zip_with(v, sequence(lit(1), size(v)), (x, i) =>
      x + (pmod(xxhash64(col("vec_id"), col("_shard"), i), lit(2001)).cast("double")
        - lit(1000.0)) / lit(1000000.0))
    val fresh = transform(sequence(lit(1), size(v)), i =>
      (pmod(xxhash64(col("vec_id"), col("_shard"), i, lit("f")), lit(2001)).cast("double")
        - lit(1000.0)) / lit(2000.0))
    val newVec = when(col("_shard") === 0, v)
      .when(nearDup, perturbed).otherwise(fresh)
    sharded.select(
      (col("vec_id") + col("_shard").cast("long") * 5000000L).as("vec_id"),
      newVec.cast("array<float>").as("embedding"), col("label"))
  }

  /** Supplier at scale k (edit_join input): ~5% of clones are single-edit
    * twins of shard-0 names (planted matches at threshold 1); the rest
    * append a shard-keyed suffix far beyond edit distance 1. */
  private def scaleSupplier(sup: DataFrame, k: Int): DataFrame = {
    val sharded = sup.select(col("*"),
      explode(sequence(lit(0), lit(k - 1))).as("_shard"))
    val nearDup = pmod(xxhash64(col("s_suppkey"), col("_shard"), lit("role")), lit(20)) === 0
    val newName = when(col("_shard") === 0, col("s_name"))
      .when(nearDup, concat(col("s_name"), lit("x")))
      .otherwise(concat(col("s_name"), lit(" #"), col("_shard"),
        pmod(xxhash64(col("s_suppkey"), col("_shard")), lit(997))))
    sharded.select(
      (col("s_suppkey") + col("_shard").cast("long") * 5000000L).as("s_suppkey"),
      newName.as("s_name"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val scales = args.lift(1).getOrElse("1,3,10").split(",").map(_.trim.toInt).toSeq
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    val only: Set[String] =
      args.lift(3).map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty)
    def wanted(op: String): Boolean = only.isEmpty || only(op)
    val spark = GraftSession.harness()
    val trace = RunTrace.of(spark)

    def zone(k: Int): String =
      s"${System.getProperty("java.io.tmpdir")}/graft_scale_" +
        sfDir.replaceAll("[^A-Za-z0-9.]", "_") + s"_${k}x"

    scales.foreach { k =>
      val dir = zone(k)
      scaleDocuments(Tables.documents(spark, sfDir), k)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      scaleEmbeddings(Tables.embeddings(spark, sfDir), k)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      scaleSupplier(Tables.supplier(spark, sfDir)
          .select(col("s_suppkey"), col("s_name")), k)
        .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
      println(s"""{"built":"$dir","scale":$k}""")
    }

    def measure(opName: String, k: Int, fn: (SparkSession, String) => DataFrame): Unit = {
      val dir = zone(k)
      val rows = try fn(spark, dir).count() // warm + row count in one pass
        finally Ckpt.releaseTransient()
      val secs = (1 to reps).map(r =>
        RunTrace.tagged(spark, s"$opName:${k}x:$r")(GraftSession.timedNoop(fn(spark, dir))))
      // shuffle write of the LAST timed rep, read from its tag
      trace.drain()
      val shuffle = trace.stages(s"$opName:${k}x:$reps")
      println(f"""{"op":"$opName","scale":$k,"sec":${secs.min}%.3f,"rows":$rows,"shuffle_mb":${shuffle.map(_.shuffleWriteBytes).sum / 1048576.0}%.2f,"shuffle_records":${shuffle.map(_.shuffleWriteRecords).sum}}""")
    }

    val ops: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "setsim_join", "containment_join", "dedup_substr", "dedup_cluster",
      "neardup_minhash", "margin_mine", "edit_join", "semantic_dedup")
      .map(n => n -> SparkEntry.queries(n)) :+
      // margin_mine's QUERY pins numPlanes = 16 for the SQL replay — a
      // bucket count that is CONSTANT in n, so its candidate table grows
      // ~quadratically by construction. The library default (numPlanes =
      // 0 → adaptivePlanes, occupancy-bounded buckets) is the scale
      // path; measuring both curves records that the super-linearity is
      // the pinned-oracle artifact, not the operator.
      ("margin_mine_adaptive" -> ((s: SparkSession, d: String) =>
        graft.operators.Similarity.marginMine(
          Tables.embeddings(s, d).withColumn("side",
            when(pmod(col("label"), lit(2)) === 0, "a").otherwise("b")),
          "vec_id", "embedding", "side", 4, 1.0))) :+
      // semantic_dedup's QUERY pins clusterCol = label (a CONSTANT number
      // of clusters, each growing with n → within-cluster pairs grow
      // quadratically; the r18 curve reads shuffle exp ~1.9 on it). The
      // library default derives occupancy-bounded IVF cells instead —
      // the scale path, measured here.
      ("semantic_dedup_adaptive" -> ((s: SparkSession, d: String) =>
        graft.operators.Similarity.semanticDedup(
          QueryShared.embCorpus(s, d, withLabel = true),
          "vec_id", "embedding", 0.9))) :+
      // cosineNearDup shares marginMine's banded self-join machinery and
      // the same adaptive width derivation (self-join occupancy target 32
      // after the r18 knee fix) — probed on the planted-duplicate corpus
      // so verified pairs exist at every scale.
      ("neardup_embedding_adaptive" -> ((s: SparkSession, d: String) =>
        graft.operators.Similarity.cosineNearDup(
          QueryShared.embCorpus(s, d), "vec_id", "embedding", 0.9))) :+
      // margin_mine at explicit 40 planes (10 bits/band): the signature
      // width the adaptive rule reaches past ~260k vectors, measured at
      // 10x to show the lever — occupancy (and so candidates) drops ~30x
      // for a bounded recall cost (the LSH width/recall tradeoff).
      ("margin_mine_p40" -> ((s: SparkSession, d: String) =>
        graft.operators.Similarity.marginMine(
          Tables.embeddings(s, d).withColumn("side",
            when(pmod(col("label"), lit(2)) === 0, "a").otherwise("b")),
          "vec_id", "embedding", "side", 4, 1.0, numPlanes = 40))) :+
      // edit_join's scale knob is q: q = 2 grams over TPC-H's
      // digit-dominated name domain lose selectivity as n grows (every
      // digit-pair gram's df grows linearly → quadratic candidates);
      // longer grams restore discrimination. The query keeps q = 2 (its
      // oracle replays it); these record the knob's effect.
      ("edit_join_q3" -> ((s: SparkSession, d: String) =>
        graft.operators.MultiSource.editJoin(
          Tables.supplier(s, d).select(col("s_suppkey"), col("s_name")),
          "s_suppkey", "s_name", 1, q = 3))) :+
      ("edit_join_q4" -> ((s: SparkSession, d: String) =>
        graft.operators.MultiSource.editJoin(
          Tables.supplier(s, d).select(col("s_suppkey"), col("s_name")),
          "s_suppkey", "s_name", 1, q = 4)))

    scales.foreach(k => ops.foreach { case (n, f) => if (wanted(n)) measure(n, k, f) })

    // carrier A/B at the top scale: identical results expected (rows must
    // match), timing delta = the hashed-key carriers' payoff/jitter
    val top = scales.max
    if (wanted("carriers")) {
      measure("dedup_substr_md5", top, (s, d) =>
      Dedup.substrDedup(QueryShared.dedupCorpus(s, d), "doc_id", "text",
        QueryShared.SubstrRun, md5Hash = true))
    measure("dedup_substr_xxh", top, (s, d) =>
      Dedup.substrDedup(QueryShared.dedupCorpus(s, d), "doc_id", "text",
        QueryShared.SubstrRun, md5Hash = false))
    measure("setsim_raw", top, (s, d) =>
      Dedup.setSimJoin(Tables.documents(s, d), "doc_id", "text", 3, 1, 2))
    measure("setsim_hashed", top, (s, d) =>
      Dedup.setSimJoin(Tables.documents(s, d), "doc_id", "text", 3, 1, 2,
        hashKeys = true))
    measure("containment_raw", top, (s, d) =>
      Dedup.containmentJoin(Tables.documents(s, d), "doc_id", "text", 3, 3, 5))
      measure("containment_hashed", top, (s, d) =>
        Dedup.containmentJoin(Tables.documents(s, d), "doc_id", "text", 3, 3, 5,
          hashKeys = true))
    }
    spark.stop()
  }
}
