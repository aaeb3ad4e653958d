package graft

import java.nio.file.Files

class PipelineSpec extends SparkSpec {
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  test("runAll drives stage -> quality -> DWH end-to-end with a run report") {
    val out = SparkSpec.tempDir("graft_pipe").toFile.getAbsolutePath
    val report = Pipeline.runAll(spark, sf, out, "run_p1")
      .as[Pipeline.StageReport].collect().map(r => r.stage -> r.rows).toMap

    val raw = spark.read.parquet(s"$out/raw/orders")
    val clean = spark.read.parquet(s"$out/clean/orders")
    val fact = spark.read.parquet(s"$out/dwh/fact_orders")
    val factLine = spark.read.parquet(s"$out/dwh/fact_lineitem")

    assert(report.keySet == Set("stage_raw", "quality", "transform_load", "report"))
    assert(report("stage_raw") == raw.count())
    // raw data is valid, so clean == raw and the error zone is absent/empty
    assert(clean.count() == raw.count())
    assert(!new java.io.File(s"$out/error/orders").exists() ||
      spark.read.parquet(s"$out/error/orders").count() == 0)
    // DWH facts: every clean order at order grain, every line of a clean
    // order at line grain, all with resolved surrogate keys
    assert(fact.count() == clean.count())
    assert(fact.where(fact("customer_key").isNull).count() == 0)
    assert(report("transform_load") == fact.count() + factLine.count())
    assert(factLine.count() == spark.read.parquet(s"$out/raw/lineitem").count())
    assert(factLine.where(factLine("part_key").isNull || factLine("customer_key").isNull)
      .count() == 0)
    // metadata rode through the zones
    assert(raw.columns.contains("_run_id"))
    // DWH layout is granularity-ADAPTIVE (round 20): at sf0.001 rows/day is
    // far below Star's 1e6 rows/day threshold, so the facts are written
    // FLAT (no date_key= dirs — the day-dir layout would be thousands of
    // sub-KB files) but still carry date_key as a data column, range-
    // clustered for parquet min/max skipping. The at-scale day-dir shape is
    // pinned by the dedicated writeFactPartitioned test below.
    for (f <- Seq("fact_orders", "fact_lineitem")) {
      val parts = new java.io.File(s"$out/dwh/$f").listFiles()
        .filter(_.isDirectory).map(_.getName)
      assert(parts.isEmpty, s"expected flat low-volume layout for $f, got dirs: ${parts.toSeq}")
      assert(spark.read.parquet(s"$out/dwh/$f").columns.contains("date_key"))
    }
    // report zone: per-zone stats cover every raw row; rule audit readable
    val stats = spark.read.parquet(s"$out/report/zone_stats")
    assert(stats.agg(org.apache.spark.sql.functions.sum("n_rows"))
      .collect().head.getLong(0) == raw.count())
    assert(spark.read.parquet(s"$out/report/rule_audit").columns.toSet ==
      Set("rule", "n_violations"))

    // DWH dimensional shape: dim_date covers every fact date_key
    val dimDate = spark.read.parquet(s"$out/dwh/dim_date")
    assert(dimDate.select("date_key").distinct().count() == dimDate.count())
    assert(fact.join(dimDate, Seq("date_key"), "left_anti").count() == 0)

    // every zone is committed through TableSwap: a clean run leaves no swap
    // sibling behind
    def tree(): Set[String] = {
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(out)
      Files.walk(root).iterator().asScala.filter(Files.isDirectory(_))
        .map(root.relativize(_).toString).toSet
    }
    val cleanTree = tree()
    assert(cleanTree.contains("raw/customer/_run_id=run_p1"), cleanTree)
    assert(!cleanTree.exists(d => d.endsWith(".swap.tmp") || d.endsWith(".swap.prev")), cleanTree)
    // a run killed mid-commit: clean/orders retired but not promoted (its
    // new table half-written), the customer partition's write dead before
    // its retire (beside a stale prev), and a stale prev after fact_orders'
    // promote; plus a dead run id's customer temp, which partition
    // discovery would read as a partition. The re-run reports the clean
    // run's counts and leaves the clean run's tree.
    val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s"$out/$s")
    def partialTmp(zone: String): Unit = {
      fs.mkdirs(p(s"$zone.swap.tmp"))
      fs.create(p(s"$zone.swap.tmp/part-00000-dead.parquet")).close()
    }
    assert(fs.rename(p("clean/orders"), p("clean/orders.swap.prev")))
    partialTmp("clean/orders")
    partialTmp("raw/customer/_run_id=run_p1")
    fs.mkdirs(p("dwh/fact_orders.swap.prev"))
    org.apache.hadoop.fs.FileUtil.copy(fs, p("raw/customer/_run_id=run_p1"), fs,
      p("raw/customer/_run_id=run_p1.swap.prev"), false, spark.sparkContext.hadoopConfiguration)
    partialTmp("raw/customer/_run_id=run_dead")
    val rerun = Pipeline.runAll(spark, sf, out, "run_p1")
      .as[Pipeline.StageReport].collect().map(r => r.stage -> r.rows).toMap
    assert(rerun == report)
    assert(tree() == cleanTree)
  }

  test("runAll launches no schema-inference job on the zones it just wrote") {
    val out = SparkSpec.tempDir("graft_pipe_jobs").toFile.getAbsolutePath
    val corpusOut = SparkSpec.tempDir("graft_corpus_jobs").toFile.getAbsolutePath
    val trace = RunTrace.of(spark)
    val tag = s"pipeline-jobs-${java.util.UUID.randomUUID}"
    val corpusTag = s"corpus-jobs-${java.util.UUID.randomUUID}"
    RunTrace.tagged(spark, tag)(
      Pipeline.runAll(spark, sf, out, "run_jobs").collect())
    // the corpus pipeline with corpus_report's optional stages
    RunTrace.tagged(spark, corpusTag)(
      CorpusPipeline.runAll(spark, Tables.documents(spark, sf), corpusOut, "run_jobs",
        capPerSource = 120, numShards = 4,
        spanScrub = Some(20), bpeMerges = Some(32), pplBuckets = Some(3)).collect())
    assert(trace.drain(), "trace marker did not arrive")
    // every zone read back is read with the schema that wrote it: an
    // inferring spark.read.parquet shows up as a footer job at its site
    for ((t, sites) <- Seq(
        tag -> Seq("parquet at Pipeline.scala", "parquet at StageRunner.scala"),
        corpusTag -> Seq("parquet at StageRunner.scala"))) {
      val jobs = trace.jobs(t)
      assert(jobs.nonEmpty)
      val inferring = jobs.map(_.callSite).filter(c => sites.exists(c.startsWith))
      assert(inferring.isEmpty, s"metadata-only jobs: $inferring")
    }
  }

  test("runAll rethrows a failure in a branch that overlaps another stage") {
    import org.apache.spark.sql.functions.col
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    // a customer snapshot without c_mktsegment breaks only the SCD2 dim
    // branch, which runs while the quality stage writes its zones
    val broken = SparkSpec.tempDir("graft_sf_nocol").toFile.getAbsolutePath
    for (t <- Seq("orders", "lineitem", "part"))
      Files.copy(java.nio.file.Paths.get(s"$sf/$t.parquet"),
        java.nio.file.Paths.get(s"$broken/$t.parquet"))
    spark.read.parquet(s"$sf/customer.parquet").drop(col("c_mktsegment"))
      .write.parquet(s"$broken/customer.parquet")
    val out = SparkSpec.tempDir("graft_pipe_fail").toFile.getAbsolutePath

    val run = Future(Pipeline.runAll(spark, broken, out, "run_f"))(
      scala.concurrent.ExecutionContext.global)
    val e = intercept[org.apache.spark.sql.AnalysisException](Await.result(run, 180.seconds))
    assert(e.getMessage.contains("c_mktsegment"), e.getMessage)
    // the sibling branch ran to completion before the rethrow; the failed
    // one wrote nothing
    assert(spark.read.parquet(s"$out/clean/orders").count() > 0)
    assert(!new java.io.File(s"$out/dwh/dim_customer").exists())
  }

  test("writeFactPartitioned: day dirs at scale, flat range-clustered below the threshold") {
    import org.apache.spark.sql.functions._
    val fact = spark.range(0, 600).select(
      col("id").as("k"),
      (lit(20240101) + (col("id") % 3)).cast("int").as("date_key"))
    // rows/day ABOVE the threshold -> day-dir pruning layout
    val outHi = SparkSpec.tempDir("graft_fact_hi").toFile.getAbsolutePath
    graft.operators.Star.writeFactPartitioned(fact, s"$outHi/f", "date_key", "k",
      rowsPerDayHint = 2e6)
    val hiDirs = new java.io.File(s"$outHi/f").listFiles().filter(_.isDirectory).map(_.getName)
    assert(hiDirs.nonEmpty && hiDirs.forall(_.startsWith("date_key=")), hiDirs.toSeq)
    // rows/day BELOW the threshold -> flat, date_key kept as a data column
    val outLo = SparkSpec.tempDir("graft_fact_lo").toFile.getAbsolutePath
    graft.operators.Star.writeFactPartitioned(fact, s"$outLo/f", "date_key", "k",
      rowsPerDayHint = 200.0)
    assert(new java.io.File(s"$outLo/f").listFiles().forall(!_.isDirectory))
    // identical rows either way, and the flat layout keeps the column
    val hi = spark.read.parquet(s"$outHi/f").select("k", "date_key")
    val lo = spark.read.parquet(s"$outLo/f").select("k", "date_key")
    assert(hi.count() == 600 && lo.count() == 600)
    assert(hi.exceptAll(lo).isEmpty && lo.exceptAll(hi).isEmpty)
    // unknown volume (hint < 0) keeps the conservative day-dir layout
    val outUk = SparkSpec.tempDir("graft_fact_uk").toFile.getAbsolutePath
    graft.operators.Star.writeFactPartitioned(fact, s"$outUk/f", "date_key", "k")
    assert(new java.io.File(s"$outUk/f").listFiles()
      .filter(_.isDirectory).forall(_.getName.startsWith("date_key=")))
  }

  test("two runs with a changed customer snapshot version the SCD2 dim; facts resolve current") {
    import org.apache.spark.sql.functions._
    val out = SparkSpec.tempDir("graft_pipe2").toFile.getAbsolutePath
    val orig = sf

    // Second-run source: same tables, but some customers changed market
    // segment — the attribute change SCD2 must version.
    val mutated = SparkSpec.tempDir("graft_sf_mut").toFile.getAbsolutePath
    for (t <- Seq("orders", "lineitem", "part", "nation", "region", "supplier",
                  "documents", "embeddings", "events"))
      Files.copy(java.nio.file.Paths.get(s"$orig/$t.parquet"),
        java.nio.file.Paths.get(s"$mutated/$t.parquet"))
    spark.read.parquet(s"$orig/customer.parquet")
      .withColumn("c_mktsegment",
        when(col("c_custkey") % 10 === 0, concat(lit("MOVED_"), col("c_mktsegment")))
          .otherwise(col("c_mktsegment")))
      .write.parquet(s"$mutated/customer.parquet")

    Pipeline.runAll(spark, orig, out, "run_a", "2026-01-01 00:00:00").collect()
    Pipeline.runAll(spark, mutated, out, "run_b", "2026-02-01 00:00:00").collect()

    val dim = spark.read.parquet(s"$out/dwh/dim_customer")
    assert(Seq("valid_from", "valid_to", "is_current", "customer_key")
      .forall(dim.columns.contains))
    val moved = dim.where(col("c_custkey") % 10 === 0)
    val unmoved = dim.where(col("c_custkey") % 10 =!= 0)
    // changed keys: two versions — the old one closed at run 2's snapshot
    // time and no longer current, the new one open-ended and current
    assert(moved.groupBy("c_custkey").count().where(col("count") =!= 2).count() == 0)
    assert(moved.where(!col("is_current"))
      .agg(min(col("valid_to")), max(col("valid_to"))).collect().head.toSeq.forall(
        _ == java.sql.Timestamp.valueOf("2026-02-01 00:00:00")))
    assert(moved.where(col("is_current")).where(!col("c_mktsegment").startsWith("MOVED_"))
      .count() == 0)
    // unchanged keys: exactly one (current) version
    assert(unmoved.groupBy("c_custkey").count().where(col("count") =!= 1).count() == 0)
    assert(unmoved.where(!col("is_current")).count() == 0)
    // per-version surrogate keys are unique across the whole dim
    assert(dim.select("customer_key").distinct().count() == dim.count())
    // facts resolve against the CURRENT version's surrogate key
    val cur = dim.where(col("is_current")).select(col("c_custkey"), col("customer_key"))
    val fact = spark.read.parquet(s"$out/dwh/fact_orders")
    assert(fact.where(col("customer_key").isNull).count() == 0)
    assert(fact.join(cur, Seq("customer_key"), "left_anti").count() == 0)
  }

  test("CorpusPipeline curates ingest -> gate -> cap -> dedup -> shards with a report") {
    val out = SparkSpec.tempDir("graft_corpus").toFile.getAbsolutePath
    val t1 = (1 to 40).map(i => s"w$i").mkString(" ")            // 40 unique tokens
    val t1near = (1 to 39).map(i => s"w$i").mkString(" ") + " zz" // ~0.95 shingle jaccard
    val t2 = (1 to 40).map(i => s"v$i").mkString(" ")
    val docs = (Seq(
      (1L, t1, "a"), (2L, t1, "a"),      // exact duplicate pair -> keep 1
      (3L, t1near, "a"),                 // near-dup of 1 -> dropped by clusters
      (4L, t2, "a"),                     // distinct good doc
      (5L, "tiny doc", "a")              // gate-rejected (too short)
    ) ++ (10L to 14L).map(i =>           // source b: 5 good docs, cap keeps 4
      (i, (1 to 40).map(j => s"b${i}x$j").mkString(" "), "b")))
      .toDF("doc_id", "text", "source")

    val report = CorpusPipeline.runAll(spark, docs, out, "run_c1",
      minTokens = 10, minStopRatio = 0.0, maxDupFraction = 0.9,
      capPerSource = 4, nearDupThreshold = 0.8, numShards = 2)
      .as[Pipeline.StageReport].collect().map(r => r.stage -> r.rows).toMap

    assert(report.keySet == Set("ingest", "quality_gate", "source_cap", "dedup", "shard_write"))
    assert(report("ingest") == 10L)
    assert(report("quality_gate") == 9L)   // doc 5 rejected
    assert(report("source_cap") == 8L)     // source b: 5 -> 4
    assert(report("dedup") == 6L)          // -doc2 (exact), -doc3 (near-dup)
    assert(report("shard_write") == 6L)

    val rejected = spark.read.parquet(s"$out/rejected/documents")
      .select("doc_id", "_reasons").as[(Long, String)].collect().toMap
    assert(rejected == Map(5L -> "too_short"))
    val survivors = spark.read.parquet(s"$out/shards/documents")
      .select("doc_id").as[Long].collect().toSet
    assert(Set(1L, 4L).subsetOf(survivors))
    assert(Set(2L, 3L, 5L).intersect(survivors).isEmpty)
    // shard layout: one directory per assigned shard
    val shardDirs = new java.io.File(s"$out/shards/documents")
      .listFiles().count(_.getName.startsWith("shard="))
    assert(shardDirs >= 1 && shardDirs <= 2)
    // deterministic rerun: identical survivor set
    val out2 = SparkSpec.tempDir("graft_corpus2").toFile.getAbsolutePath
    CorpusPipeline.runAll(spark, docs, out2, "run_c2",
      minTokens = 10, minStopRatio = 0.0, maxDupFraction = 0.9,
      capPerSource = 4, nearDupThreshold = 0.8, numShards = 2)
    val survivors2 = spark.read.parquet(s"$out2/shards/documents")
      .select("doc_id").as[Long].collect().toSet
    assert(survivors2 == survivors)
  }

  test("CorpusPipeline model + domain gates: per-doc classifier keep, tiny domains dropped wholesale") {
    val weights = Array.tabulate(64) { b =>
      ((b.toLong * 2654435761L) % 4294967296L).toDouble / 4294967296.0 - 0.5
    }
    def words(prefix: String, n: Int) = (1 to n).map(i => s"$prefix$i").mkString(" ")
    val docs = ((1L to 12L).map(i => (i, words(s"b$i", 12), "big")) ++
      Seq((20L, words("t", 12), "tiny"), (21L, words("u", 12), "tiny")))
      .toDF("doc_id", "text", "source")
    // expected model-gate survivors, straight from the operator
    val perDoc = graft.operators.TextAnalysis
      .hashClassifier(docs, "doc_id", "text", weights, carry = Seq("source"))
      .where(org.apache.spark.sql.functions.col("kept"))
      .select("doc_id", "source")
      .as[(Long, String)].collect()
    val out = SparkSpec.tempDir("graft_corpus_mg").toFile.getAbsolutePath
    val report = CorpusPipeline.runAll(spark, docs, out, "run_mg",
        minTokens = 1, minStopRatio = 0.0, maxDupFraction = 0.95,
        capPerSource = 100, nearDupThreshold = 0.9, numShards = 2,
        classifierWeights = Some(weights), domainMinKeepRate = Some(0.0),
        domainMinDocs = 3L)
      .as[Pipeline.StageReport].collect().map(r => r.stage -> r.rows).toMap
    assert(report("model_gate") == perDoc.length.toLong,
      s"model gate must keep exactly the classifier's keeps: $report")
    // tiny (2 docs < minDocs 3) drops wholesale regardless of its verdicts
    val expectedAfterDomain = perDoc.count(_._2 == "big").toLong
    assert(report("domain_gate") == expectedAfterDomain, s"$report")
    assert(report.contains("shard_write"))
  }

  test("CorpusPipeline optional stages: span scrub rewrites, semantic dedup drops, rerun identical") {
    val passage = (1 to 4).map(i => s"p$i").mkString(" ")
    def uniq(prefix: String) = (1 to 36).map(i => s"$prefix$i").mkString(" ")
    val docs = Seq(
      (1L, passage + " " + uniq("a"), "a"),
      (2L, passage + " " + uniq("c"), "a"), // repeats doc 1's aligned first span
      (3L, uniq("d"), "a"),
      (4L, uniq("e"), "a"),                 // embedding-identical to doc 3
      (5L, uniq("f"), "a")
    ).toDF("doc_id", "text", "source")
    // paraphrase scenario: distinct TEXTS (row-grain dedup keeps both) with
    // identical embeddings -> only the semantic stage can catch doc 4
    val emb = Seq(
      (3L, Seq(0f, 1f, 0f, 0f)),
      (4L, Seq(0f, 1f, 0f, 0f)),
      (5L, Seq(1f, 0f, 0f, 0f))
    ).toDF("doc_id", "embedding")
    def run(root: String, runId: String) =
      CorpusPipeline.runAll(spark, docs, root, runId,
        minTokens = 10, minStopRatio = 0.0, maxDupFraction = 0.9,
        capPerSource = 10, nearDupThreshold = 0.8, numShards = 2,
        spanScrub = Some(4), embeddings = Some(emb), semanticThreshold = 0.95,
        bpeMerges = Some(6), pplBuckets = Some(2))
    val out = SparkSpec.tempDir("graft_corpus_opt").toFile.getAbsolutePath
    val report = run(out, "run_c3")
      .as[Pipeline.StageReport].collect().map(r => r.stage -> r.rows).toMap
    assert(report.keySet == Set("ingest", "quality_gate", "source_cap", "dedup",
      "span_scrub", "semantic_dedup", "tokenizer", "ppl_buckets", "shard_write"))
    assert(report("span_scrub") == 5L)     // scrub rewrites, never drops
    assert(report("semantic_dedup") == 4L) // doc 4 dropped
    assert(report("tokenizer") == 4L)      // annotates, never drops
    assert(report("ppl_buckets") == 4L)    // annotates, never drops
    // 4 survivors in one stratum cut into 2 buckets of 2. Post-scrub every
    // surviving token is corpus-unique, so all docs tie on the unigram LM
    // and the NTILE falls to the deterministic doc_id tie-break: docs
    // (1, 2) -> bucket 1, (3, 5) -> bucket 2
    val ppl = spark.read.parquet(s"$out/shards/documents")
      .select("doc_id", "ppl_bucket").as[(Long, Int)].collect().toMap
    assert(ppl == Map(1L -> 1, 2L -> 1, 3L -> 2, 5L -> 2))
    // tokenizer artifact: at most the requested merges, ranked from 1
    val merges = spark.read.parquet(s"$out/tokenizer/merges")
      .select("rank").as[Int].collect().sorted
    assert(merges.nonEmpty && merges.length <= 6 && merges.head == 1)
    // every surviving doc carries a positive subword piece count
    val pieces = spark.read.parquet(s"$out/shards/documents")
      .select("doc_id", "n_pieces").as[(Long, Int)].collect().toMap
    assert(pieces.values.forall(_ > 0))
    val spanTexts = spark.read.parquet(s"$out/span_scrubbed/documents")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(spanTexts(1L).startsWith(passage), "first occurrence keeps its span")
    assert(!spanTexts(2L).contains("p1") && spanTexts(2L).startsWith("c1"),
      s"doc 2 must lose the repeated span: ${spanTexts(2L).take(40)}")
    val survivors = spark.read.parquet(s"$out/shards/documents")
      .select("doc_id").as[Long].collect().toSet
    assert(survivors == Set(1L, 2L, 3L, 5L)) // docs w/o embeddings kept; 4 dropped
    val out2 = SparkSpec.tempDir("graft_corpus_opt2").toFile.getAbsolutePath
    run(out2, "run_c4")
    val texts2 = spark.read.parquet(s"$out2/shards/documents")
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    val texts1 = spark.read.parquet(s"$out/shards/documents")
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    assert(texts2 == texts1)
  }
}
