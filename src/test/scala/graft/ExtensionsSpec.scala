package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Star}

class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("GraftExtensions.register exposes native expressions to SQL") {
    GraftExtensions.register(spark)
    val row = spark.sql(
      """SELECT graft_simhash(array('a','b','a')) AS sh,
        |  graft_shingles(array('a','b','c','d'), 2) AS sg,
        |  graft_cosine(array(1.0d, 0.0d), array(2.0d, 0.0d)) AS cs,
        |  size(graft_minhash(array('x y z'), 64)) AS mh_n""".stripMargin).head()
    assert(row.getSeq[String](row.fieldIndex("sg")).toList == List("a b", "b c", "c d"))
    assert(math.abs(row.getAs[Double]("cs") - 1.0) < 1e-12)
    assert(row.getAs[Int]("mh_n") == 64)
    // SQL result matches the Column-API expression
    val viaApi = Seq("a b a").toDF("t")
      .select(Dedup.simHash(col("t"))).as[Long].head()
    assert(row.getAs[Long]("sh") == viaApi)
  }

  test("span/semantic building blocks are SQL-callable: graft_spans and graft_nearest_cells") {
    GraftExtensions.register(spark)
    val row = spark.sql(
      """SELECT graft_spans(array('a','b','c','d','e'), 2) AS sp,
        |  graft_nearest_cells(array(1.0d, 0.0d),
        |    array(array(0.0d, 1.0d), array(1.0d, 0.1d)), 2) AS nc""".stripMargin).head()
    // span grid matches spanDedup's cut: ceil(5/2) spans, last one short
    assert(row.getSeq[String](row.fieldIndex("sp")).toList == List("a b", "c d", "e"))
    // nearest cell = position 1 (cos ~0.995), then 0 (cos 0)
    assert(row.getSeq[Int](row.fieldIndex("nc")).toList == List(1, 0))
    // the SQL span grid agrees with the operator's cut on a real sentence
    val viaSql = spark.sql(
      "SELECT graft_spans(split('w1 w2 w3 w4 w5 w6 w7', ' '), 3) AS s").head()
      .getSeq[String](0).toList
    assert(viaSql == List("w1 w2 w3", "w4 w5 w6", "w7"))
  }

  test("graft_pq_encode is SQL-callable and matches the library encoder") {
    GraftExtensions.register(spark)
    // 2 subspaces of width 2, 2 codes each; vector (1,0, 0,1) picks code 0
    // in subspace 0 (closer to (1,0)) and code 1 in subspace 1
    val row = spark.sql(
      """SELECT graft_pq_encode(array(1.0d, 0.0d, 0.0d, 1.0d),
        |  array(array(array(1.0d, 0.0d), array(0.0d, 1.0d)),
        |        array(array(1.0d, 0.0d), array(0.0d, 1.0d)))) AS codes""".stripMargin)
      .head()
    assert(row.getSeq[Int](0).toList == List(0, 1))
    // agrees with the library (instance-carried) encoder on the same input
    val books: Seq[Seq[Seq[Double]]] =
      Seq(Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)), Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)))
    val viaLib = Seq(Seq(1.0, 0.0, 0.0, 1.0)).toDF("v")
      .select(graft.functions.NativeExprs.pqEncode(
        col("v").cast("array<double>"), books))
      .as[Seq[Int]].head()
    assert(viaLib.toList == List(0, 1))
  }

  test("query_tf: vocab-order hit structs, duplicate slots merged, null/empty safe") {
    import graft.functions.NativeExprs.queryTf
    val toks = graft.operators.TextAnalysis.tokens(col("t"))
    val rows = Seq((1, "a b a c"), (2, null: String), (3, "x y"))
      .toDF("i", "t")
      // duplicate vocab entry "a" must keep ONE slot (counts never split)
      .select(col("i"), queryTf(toks, Seq("a", "b", "a", "zz")).as("h"))
      .collect().map(r => r.getInt(0) ->
        (if (r.isNullAt(1)) null
         else r.getSeq[org.apache.spark.sql.Row](1).map(h => (h.getString(0), h.getInt(1)))))
      .toMap
    assert(rows(1) == Seq(("a", 2), ("b", 1))) // vocab order, absent terms omitted
    assert(rows(2) == null)                    // null text -> null (explode drops it)
    assert(rows(3) == Seq.empty)               // no hits -> empty array
  }

  test("nearest_cells_dyn: empty centroid set and n > cells degrade gracefully") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT graft_nearest_cells(array(1.0d), array(array(1.0d)), 5) AS a,
        |  size(graft_nearest_cells(array(1.0d),
        |    CAST(array() AS array<array<double>>), 2)) AS b""".stripMargin)
      .head()
    assert(r.getSeq[Int](0).toList == List(0)) // n capped at cell count
    assert(r.getInt(1) == 0)                   // no cells -> empty
    // n = 0 must yield an empty array, not an index-out-of-bounds
    val z = spark.sql(
      "SELECT size(graft_nearest_cells(array(1.0d), array(array(1.0d)), 0)) AS z")
      .head().getInt(0)
    assert(z == 0)
  }

  test("custom aggregates are SQL-callable through the extension registry") {
    GraftExtensions.register(spark)
    Seq(("hot", 1.0), ("hot", 2.0), ("rare", 9.0)).toDF("t", "v")
      .createOrReplaceTempView("ext_agg_in")
    val row = spark.sql(
      """SELECT graft_misra_gries(t, 4) AS mg,
        |  graft_top_k_pairs(struct(v AS ord, t AS id), 2) AS tk
        |FROM ext_agg_in""".stripMargin).head()
    val mg = row.getSeq[org.apache.spark.sql.Row](row.fieldIndex("mg"))
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mg == Map("hot" -> 2L, "rare" -> 1L))
    val tk = row.getSeq[org.apache.spark.sql.Row](row.fieldIndex("tk"))
      .map(r => (r.getDouble(0), r.getString(1)))
    assert(tk.toList == List((9.0, "rare"), (2.0, "hot")))
    // the covariance-matrix aggregate: 1-dim vectors make the expected
    // value trivially checkable (population variance of 1, 2, 9)
    val cov = spark.sql(
      """SELECT graft_cov_outer_sum(array(CAST(v AS DOUBLE))) AS c
        |FROM ext_agg_in""".stripMargin).head()
      .getSeq[org.apache.spark.sql.Row](0)
    assert(cov.length == 1)
    val c0 = cov.head
    assert(c0.getInt(0) == 0 && c0.getInt(1) == 0 && c0.getLong(2) == 3L)
    assert(math.abs(c0.getDouble(3) - 12.666667) < 1e-9)
  }

  test("adc_sum kernel matches the aggregate/zip_with formulation, null on malformed inputs") {
    val df = Seq(
      (Seq(Seq(1.0, 2.0), Seq(10.0, 20.0, 30.0)), Seq(1, 2)),   // 2.0 + 30.0
      (Seq(Seq(1.0, 2.0), Seq(10.0, 20.0, 30.0)), Seq(0, 0))    // 1.0 + 10.0
    ).toDF("table", "codes")
    val kernel = df.select(graft.functions.NativeExprs.adcSum(col("table"), col("codes")))
      .as[Double].collect().toSeq
    val hof = df.select(aggregate(
        zip_with(col("table"), col("codes"), (row, code) => element_at(row, code + 1)),
        lit(0.0), (acc, x) => acc + x))
      .as[Double].collect().toSeq
    assert(kernel == Seq(32.0, 11.0) && kernel == hof)
    // mismatched lengths and out-of-range codes score null, never throw
    val bad = Seq(
      (Seq(Seq(1.0, 2.0)), Seq(0, 1)),       // table shorter than codes
      (Seq(Seq(1.0, 2.0), Seq(3.0)), Seq(0, 5))  // code out of range
    ).toDF("table", "codes")
    val out = bad.select(graft.functions.NativeExprs.adcSum(col("table"), col("codes")))
      .collect().map(r => r.isNullAt(0)).toSeq
    assert(out == Seq(true, true))
  }

  test("optimizer rule collapses nested nfc_normalize at plan time") {
    graft.plans.GraftOptimizations.register(spark)
    // non-foldable input (depends on a column) so constant folding cannot
    // erase the expressions before our rule is observable
    val t = concat(lit("eclair-"), col("id").cast("string"))
    val nfc2 = graft.functions.NativeExprs.nfcNormalize(
      graft.functions.NativeExprs.nfcNormalize(t))
    val df = spark.range(1).select(nfc2.as("n"))
    val optimized = df.queryExecution.optimizedPlan
    var count = 0
    optimized.transformAllExpressions {
      case e: graft.functions.NfcNormalizeExpr => count += 1; e
    }
    assert(count == 1) // nested call collapsed
    assert(df.as[String].head() == "eclair-0") // result still correct
  }

  test("winnowing fingerprints: shared long runs share fingerprints; disjoint docs do not") {
    import graft.functions.NativeExprs.winnowFingerprints
    val shared = "one two three four five six seven eight nine ten eleven twelve"
    val docs = Seq(
      (1L, s"prefix words here $shared"),
      (2L, s"$shared and a different ending entirely"),
      (3L, "totally disjoint vocabulary with nothing in common whatsoever at all")
    ).toDF("doc_id", "text")
    val fps = docs.select(col("doc_id"),
      winnowFingerprints(graft.operators.TextAnalysis.tokens(col("text")), 5, 4).as("f"))
      .as[(Long, Seq[Long])].collect().map(r => r._1 -> r._2.toSet).toMap
    assert((fps(1L) & fps(2L)).nonEmpty)  // shared 12-token run >= k+w-1 = 8
    assert((fps(1L) & fps(3L)).isEmpty)
    // identical token stream -> identical fingerprints
    val again = docs.filter(col("doc_id") === 1).select(
      winnowFingerprints(graft.operators.TextAnalysis.tokens(col("text")), 5, 4))
      .as[Seq[Long]].head().toSet
    assert(again == fps(1L))

    // md5 token-hash variant (the cross-engine-oracled carrier): same
    // winnowing invariants, genuinely different hash family, and an
    // in-memory replay of the DuckDB oracle's arithmetic — top-8 md5
    // bytes big-endian, h = (h*B + t) mod 2^64, window-min, distinct —
    // reproduces the expression's sets exactly
    val fpsMd5 = docs.select(col("doc_id"),
      winnowFingerprints(graft.operators.TextAnalysis.tokens(col("text")), 5, 4,
        md5Hash = true).as("f"))
      .as[(Long, Seq[Long])].collect().map(r => r._1 -> r._2.toSet).toMap
    assert((fpsMd5(1L) & fpsMd5(2L)).nonEmpty)
    assert((fpsMd5(1L) & fpsMd5(3L)).isEmpty)
    assert(fpsMd5(1L) != fps(1L), "md5 and xxh64 variants should differ")
    def refWinnow(text: String): Set[Long] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val toks = text.trim.split("\\s+")
      val th = toks.map { t =>
        val b = md.digest(t.getBytes("UTF-8"))
        (0 until 8).foldLeft(0L)((h, i) => (h << 8) | (b(i) & 0xffL))
      }
      if (th.length < 5) return Set.empty
      val kg = th.sliding(5).map(_.foldLeft(0L)((h, t) => h * 1000003L + t)).toArray
      val sel =
        if (kg.length <= 4) Seq(kg.min)
        else (0 to kg.length - 4).map(s => kg.slice(s, s + 4).min)
      sel.toSet
    }
    Seq(1L, 2L, 3L).foreach { id =>
      val text = docs.filter(col("doc_id") === id).select(col("text")).as[String].head()
      assert(fpsMd5(id) == refWinnow(text), s"md5 winnow mismatch for doc $id")
    }
  }

  test("winnowing guarantee holds on randomized draws: shared runs >= k+w-1 share a fingerprint") {
    // the Schleimer/Wilkerson/Aiken theorem the operator exists for, pinned
    // as a randomized property on BOTH hash variants: any pair of docs
    // sharing a token run of length >= k + w - 1 = 8 must share at least
    // one selected fingerprint, regardless of where the run sits
    import graft.functions.NativeExprs.winnowFingerprints
    val rnd = new scala.util.Random(31337L)
    def tok() = "t" + rnd.nextInt(5000)
    val cases = (0 until 24).map { i =>
      val runLen = 8 + rnd.nextInt(6)
      val shared = Vector.fill(runLen)(tok())
      val pre1 = Vector.fill(rnd.nextInt(10))(tok())
      val post1 = Vector.fill(rnd.nextInt(10))(tok())
      val pre2 = Vector.fill(rnd.nextInt(10))(tok())
      val post2 = Vector.fill(rnd.nextInt(10))(tok())
      (i.toLong * 2, (pre1 ++ shared ++ post1).mkString(" "),
       i.toLong * 2 + 1, (pre2 ++ shared ++ post2).mkString(" "))
    }
    val docs = cases.flatMap { case (a, ta, b, tb) => Seq((a, ta), (b, tb)) }
      .toDF("doc_id", "text")
    Seq(false, true).foreach { md5 =>
      val fps = docs.select(col("doc_id"),
        winnowFingerprints(graft.operators.TextAnalysis.tokens(col("text")), 5, 4,
          md5Hash = md5).as("f"))
        .as[(Long, Seq[Long])].collect().map(r => r._1 -> r._2.toSet).toMap
      cases.foreach { case (a, _, b, _) =>
        assert((fps(a) & fps(b)).nonEmpty,
          s"pair ($a, $b) md5=$md5 shared a run >= 8 tokens but no fingerprint")
      }
    }
  }

  test("bucketed tables join without a shuffle (co-located join)") {
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      spark.sql("DROP TABLE IF EXISTS g_buck_a")
      spark.sql("DROP TABLE IF EXISTS g_buck_b")
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
        .write.bucketBy(4, "k").sortBy("k").saveAsTable("g_buck_a")
      Seq((1L, 10.0), (2L, 20.0), (4L, 40.0)).toDF("k", "w")
        .write.bucketBy(4, "k").sortBy("k").saveAsTable("g_buck_b")
      val j = spark.table("g_buck_a").join(spark.table("g_buck_b"), "k")
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"expected no shuffle for co-bucketed join, got:\n$plan")
      assert(j.count() == 2)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }

  test("writeFactPartitioned lays out by date key and prunes on read") {
    val fact = Seq((20240101, 1L, 10.0), (20240101, 2L, 20.0), (20240202, 3L, 30.0))
      .toDF("date_key", "k", "v")
    val dir = SparkSpec.tempDir("graft_fact").toFile.getAbsolutePath
    Star.writeFactPartitioned(fact, dir, "date_key", "k")
    val back = spark.read.parquet(dir)
    assert(back.count() == 3)
    val pruned = back.where(col("date_key") === 20240101)
    assert(pruned.count() == 2)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || plan.contains("date_key"))
    // physical layout: one directory per date_key
    val parts = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(parts.toSeq == Seq("date_key=20240101", "date_key=20240202"))
  }
}
