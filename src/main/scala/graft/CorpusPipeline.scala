package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Ckpt.CkptOps

import graft.operators.{Dedup, TextAnalysis}
import graft.sources.{IngestDiscovery, TableSwap}

/** End-to-end training-corpus curation pipeline — the corpus counterpart of
  * [[Pipeline.runAll]] (which drives the reference's relational DWH): one
  * orchestrated run wiring the curation operators in their canonical order,
  * with zone outputs and a per-stage report.
  *
  * Stages (each writes a zone under `outRoot` and reports rows + seconds):
  *  1. `ingest`       — NFC-normalize the text (pre-dedup canonicalization),
  *     attach staged metadata, write the raw zone.
  *  2. `quality_gate` — composite gate ([[TextAnalysis.corpusGate]]):
  *     too-short / low-stopword / repetitive docs to the rejected zone with
  *     reasons, survivors to the gated zone.
  *  3. `source_cap`   — at most `capPerSource` docs per source
  *     (deterministic md5 rank) so no source dominates the mixture.
  *  4. `dedup`        — exact dedup (keep min id per normalized text), then
  *     MinHash-LSH near-dup pairs → connected components → keep cluster
  *     representatives. Survivors to the dedup zone.
  *  4b. `span_scrub`  — OPTIONAL (`spanScrub = Some(spanTokens)`):
  *     [[Dedup.spanDedup]] rewrites each surviving document keeping only
  *     the corpus-first occurrence of every aligned token span (the
  *     within/cross-doc passage-level scrub row-grain dedup can't do).
  *     Rewrites text in place — no document is dropped here.
  *  4c. `semantic_dedup` — OPTIONAL (`embeddings = Some(df)` with
  *     (doc_id, embedding) rows): [[Similarity.semanticDedup]] over the
  *     SURVIVORS' embeddings (derived IVF cells), dropping every document
  *     whose cluster holds a lower-id near-duplicate at
  *     `semanticThreshold` cosine. Documents without an embedding row are
  *     kept (no silent drops on missing features).
  *  4d. `tokenizer`   — OPTIONAL (`bpeMerges = Some(n)`):
  *     [[graft.operators.Bpe.train]] induces n BPE merges on the final
  *     survivors, writes the merge table (the tokenizer artifact) to the
  *     tokenizer zone, and annotates each document with `n_pieces` — its
  *     subword piece count, the sequence-budget currency downstream
  *     packing actually consumes.
  *  4e. `ppl_buckets` — OPTIONAL (`pplBuckets = Some(k)`): CCNet-style
  *     perplexity bucketing — each survivor annotated with its
  *     per-`pplStratum` exact-NTILE bucket of the corpus's own unigram LM
  *     score ([[TextAnalysis.lmScore]] +
  *     [[graft.operators.Analytics.ntileBuckets]]; bucket k = highest
  *     avg_logprob = lowest perplexity, the "head"). Annotates, never
  *     drops — the label downstream quality-stratified sampling consumes.
  *  5. `shard_write`  — token-balanced shard assignment
  *     ([[TextAnalysis.shardTokenBudget]]) and a `partitionBy(shard)`
  *     layout write of the final corpus.
  *
  * Every stage is deterministic (md5 ranks, min-id representatives — no
  * RNG), so reruns produce byte-identical zones. Stage timing, zone-write
  * row counts and zone read-backs go through [[StageRunner]]. Returns the
  * run report as (stage, rows, seconds).
  */
object CorpusPipeline {

  def runAll(spark: SparkSession, docs: DataFrame, outRoot: String, runId: String,
             minTokens: Int = 30, minStopRatio: Double = 0.05,
             maxDupFraction: Double = 0.2, capPerSource: Int = 1000000,
             nearDupThreshold: Double = 0.8, numShards: Int = 8,
             extractTime: String = "2026-01-01 00:00:00",
             spanScrub: Option[Int] = None,
             embeddings: Option[DataFrame] = None,
             semanticThreshold: Double = 0.9,
             bpeMerges: Option[Int] = None,
             pplBuckets: Option[Int] = None,
             pplStratum: String = "source",
             classifierWeights: Option[Array[Double]] = None,
             domainMinKeepRate: Option[Double] = None,
             domainMinDocs: Long = 10L): DataFrame = {
    import spark.implicits._
    val run = new StageRunner(spark, outRoot, Seq("ingest", "quality_gate",
      "model_gate", "domain_gate", "source_cap", "dedup", "span_scrub",
      "semantic_dedup", "tokenizer", "ppl_buckets", "shard_write"))

    // 1. ingest: canonicalize + stage metadata -> raw zone. Every stage's
    // reported row count is its zone write's own count, and the NEXT stage
    // reads the zone back (the zone contract) with the schema that wrote it.
    run("ingest") {
      val canon = docs.withColumn("text",
        graft.functions.NativeExprs.nfcNormalize(col("text")))
      run.write(IngestDiscovery.staged(canon, "corpus", runId, extractTime),
        "raw", "documents")
    }
    val raw = run.read("raw", "documents")

    // 2. quality gate: keep/reject split with reasons. The gate verdict
    // table is doc_id-sized — localCheckpoint materializes it ONCE so the
    // rejected and gated writes don't each re-run the whole token-stats
    // subtree (two full gate computes measured as twin stages in r19's
    // per-job profile).
    run("quality_gate") {
      val gate = TextAnalysis.corpusGate(raw, "doc_id", "text",
          minTokens, minStopRatio, maxDupFraction)
        .select("doc_id", "keep", "_reasons").ckptLocal()
      val keep = gate.where(col("keep")).select("doc_id")
      // the reject/keep writes consume the materialized gate table and
      // write disjoint zones — overlapped (guide §2.6)
      Pipeline.inParallel(
        () => run.write(raw.join(gate.where(!col("keep")).select("doc_id", "_reasons"), "doc_id"),
          "rejected", "documents"),
        () => run.write(raw.join(keep, "doc_id"), "gated", "documents"))
      run.written("gated", "documents")
    }
    var gated = run.read("gated", "documents")

    // 2b. optional model-based gates (default-off — the adjudicated
    // report counts are untouched unless enabled): the per-doc hashed
    // linear classifier keep, then the domain-level wholesale drop
    // scored over the PRE-model-gate population (a domain is judged on
    // everything it submitted, not on its survivors)
    classifierWeights.foreach { w =>
      val preGate = gated
      run("model_gate") {
        val kept = TextAnalysis.hashClassifier(preGate, "doc_id", "text", w)
          .where(col("kept")).select("doc_id")
        run.write(preGate.join(kept, "doc_id"), "model_gated", "documents")
      }
      gated = run.read("model_gated", "documents")
      domainMinKeepRate.foreach { minRate =>
        run("domain_gate") {
          val srcKeep = TextAnalysis.domainGate(
              preGate.withColumn("_len", length(col("text"))),
              "doc_id", "text", "source", "_len", w, domainMinDocs, minRate)
            .where(col("src_kept")).select("source")
          run.write(gated.join(broadcast(srcKeep), "source"), "domain_gated", "documents")
        }
        gated = run.read("domain_gated", "documents")
      }
    }

    // 3. per-source cap (domain cap)
    run("source_cap") {
      run.write(gated.join(
          TextAnalysis.sourceCap(gated, "doc_id", "source", capPerSource)
            .select("doc_id"), "doc_id"),
        "capped", "documents")
    }
    val capped = run.read("capped", "documents")

    // 4. dedup: exact keep-min-id, then near-dup cluster representatives
    run("dedup") {
      // exact survivors feed THREE consumers (minhash pairs, cluster
      // labels, the final write) — localCheckpoint materializes the
      // exact-dedup join once instead of re-running the content-hash
      // groupBy per consumer.
      val exactKeep = Dedup.exactDedupByHash(capped, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      val exact = capped.join(exactKeep, "doc_id").ckptLocal()
      val pairs = Dedup.nearDupMinHash(exact, "doc_id", "text",
        shingleN = 3, threshold = nearDupThreshold)
      val reps = Dedup.nearDupClusters(exact, pairs, "doc_id")
        .where(col("kept")).select(col("doc_id"))
      run.write(exact.join(reps, "doc_id"), "deduped", "documents")
    }
    var deduped = run.read("deduped", "documents")

    // 4b. optional span-level scrub: rewrite texts keeping only the
    // corpus-first occurrence of each aligned span (no rows dropped)
    spanScrub.foreach { spanTokens =>
      run("span_scrub") {
        val scrubbed = Dedup.spanDedup(deduped, "doc_id", "text", spanTokens)
          .select(col("doc_id"), col("text_dedup"))
        run.write(deduped.drop("text")
            .join(scrubbed, Seq("doc_id"), "left")
            // all-empty docs yield no spanDedup row: keep them with empty text
            .withColumn("text", coalesce(col("text_dedup"), lit("")))
            .drop("text_dedup"),
          "span_scrubbed", "documents")
      }
      deduped = run.read("span_scrubbed", "documents")
    }

    // 4c. optional SemDeDup stage over the survivors' embeddings: drop
    // docs whose derived cluster holds a lower-id near-duplicate
    embeddings.foreach { emb =>
      run("semantic_dedup") {
        val survivorEmb = emb.join(deduped.select("doc_id"), "doc_id")
        val dropIds = graft.operators.Similarity
          .semanticDedup(survivorEmb, "doc_id", "embedding", semanticThreshold)
          .where(!col("keep")).select("doc_id")
        run.write(deduped.join(dropIds, Seq("doc_id"), "left_anti"), "semantic", "documents")
      }
      deduped = run.read("semantic", "documents")
    }

    // 4d. optional tokenizer induction: train BPE on the survivors, write
    // the merge table (the tokenizer artifact), annotate docs with their
    // subword piece counts
    bpeMerges.foreach { n =>
      run("tokenizer") {
        val merges = graft.operators.Bpe.train(deduped, "text", n)
        run.write(graft.operators.Bpe.mergesDF(spark, merges).coalesce(1), "tokenizer", "merges")
        run.write(deduped
            .withColumn("n_pieces",
              size(graft.functions.NativeExprs.bpeSegment(
                graft.operators.Bpe.tokens(col("text")), merges, "</w>"))),
          "tokenized", "documents")
      }
      deduped = run.read("tokenized", "documents")
    }

    // 4e. optional perplexity bucketing: per-stratum exact-NTILE cut of
    // the survivors' own unigram LM score (annotates, never drops)
    pplBuckets.foreach { k =>
      run("ppl_buckets") {
        val lm = TextAnalysis.lmScore(deduped, "doc_id", "text")
        val scored = deduped.select(col("doc_id"), col(pplStratum)).join(lm, "doc_id")
        val buckets = graft.operators.Analytics.ntileBuckets(scored,
            col(pplStratum), col("avg_logprob"), col("doc_id"), k)
          .select(col("id").as("doc_id"), col("bucket").as("ppl_bucket"))
        run.write(deduped.join(buckets, Seq("doc_id"), "left"), "ppl", "documents")
      }
      deduped = run.read("ppl", "documents")
    }

    // 5. token-balanced shards, laid out one directory per shard
    run("shard_write") {
      run.write(deduped.join(
          TextAnalysis.shardTokenBudget(deduped, "doc_id", "text", numShards)
            .select("doc_id", "shard"), "doc_id"),
        "shards", "documents",
        (df, path) => df.write.partitionBy("shard").parquet(path))
    }

    val report = run.report.toDF()
    TableSwap.replace(spark, s"$outRoot/report/corpus_run")(report.coalesce(1).write.parquet(_))
    report
  }
}
