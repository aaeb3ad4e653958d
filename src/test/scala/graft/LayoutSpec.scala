package graft

import org.apache.spark.sql.functions._

import graft.operators.Layout

/** Z-order clustering: value correctness vs a reference Morton encoder,
  * bucket-range invariants, and — the point of the operator — a measured
  * file-level data-skipping proof: a z-ordered layout gives EVERY
  * clustered column tight per-file ranges, where a single-column sort
  * leaves the other column's ranges spanning the whole domain. */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  /** Reference Morton encode: bit j of column i → output bit j*k + i. */
  private def morton(vals: Seq[Long], bits: Int): Long = {
    var z = 0L
    for (j <- 0 until bits; i <- vals.indices)
      z |= ((vals(i) >> j) & 1L) << (j * vals.size + i)
    z
  }

  test("zorderValues: buckets hit [0, 2^bits-1] exactly; zval matches reference Morton") {
    val df = Seq((0L, 100L, 7L), (1L, 150L, 9L), (2L, 200L, 23L), (3L, 117L, 7L))
      .toDF("id", "x", "y")
    val out = Layout.zorderValues(df, Seq("x", "y"), bits = 8)
      .select(col("id"), col("_zb_x"), col("_zb_y"), col("zval"))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    // min -> bucket 0, max -> bucket 255, interior exact: (v-min)*255 // range
    val expected = Seq((100L, 7L), (150L, 9L), (200L, 23L), (117L, 7L)).map {
      case (x, y) => (((x - 100) * 255) / 100, ((y - 7) * 255) / 16)
    }
    out.zip(expected).foreach { case ((id, bx, by, z), (ex, ey)) =>
      assert(bx == ex && by == ey, s"bucket mismatch at id=$id: ($bx,$by) vs ($ex,$ey)")
      assert(z == morton(Seq(ex, ey), 8), s"zval mismatch at id=$id")
    }
    assert(out.map(_._2).min == 0 && out.map(_._2).max == 255)
    assert(out.map(_._3).min == 0 && out.map(_._3).max == 255)
  }

  test("zorderValues: 3-column interleave matches the reference encoder") {
    val df = Seq((1L, 0L, 3L, 5L), (2L, 7L, 0L, 2L), (3L, 4L, 7L, 0L))
      .toDF("id", "a", "b", "c")
    val out = Layout.zorderValues(df, Seq("a", "b", "c"), bits = 3)
      .select(col("id"), col("_zb_a"), col("_zb_b"), col("_zb_c"), col("zval"))
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    out.foreach { case (id, ba, bb, bc, z) =>
      assert(z == morton(Seq(ba, bb, bc), 3), s"3-col zval mismatch at id=$id")
    }
  }

  test("zorderValues: constant column lands in bucket 0; non-integral rejected") {
    val df = Seq((1L, 5L), (2L, 5L)).toDF("id", "c")
    val buckets = Layout.zorderValues(df, Seq("c"), bits = 4)
      .select(col("_zb_c")).as[Long].collect()
    assert(buckets.forall(_ == 0L))
    val bad = Seq((1L, 0.5)).toDF("id", "f")
    val e = intercept[IllegalArgumentException] {
      Layout.zorderValues(bad, Seq("f"))
    }
    assert(e.getMessage.contains("integral"))
  }

  test("z-ordered layout prunes on BOTH columns; single-column sort only on its own") {
    // two independent uniform dimensions — the workload multi-column
    // clustering exists for (neither column is a function of the other)
    val n = 1 << 15
    val pts = spark.range(n).select(
      col("id"),
      (xxhash64(col("id")) % 1024 + 1024) % 1024 cast "long" as "x",
      (xxhash64(col("id"), lit(1)) % 1024 + 1024) % 1024 cast "long" as "y")
    val zdir = SparkSpec.tempDir("graft_zorder").toFile.getAbsolutePath
    val sdir = SparkSpec.tempDir("graft_xsort").toFile.getAbsolutePath
    Layout.writeZOrdered(pts, zdir, Seq("x", "y"), targetFiles = 16)
    // comparison layout: same file count, clustered by x alone
    pts.repartitionByRange(16, col("x")).sortWithinPartitions(col("x"))
      .write.mode("overwrite").parquet(sdir)

    def intersecting(dir: String, colName: String, lo: Long, hi: Long): Int =
      Layout.fileBoxes(spark, dir, Seq("x", "y"))
        .where(col(s"max_$colName") >= lo && col(s"min_$colName") <= hi)
        .count().toInt
    val zFiles = Layout.fileBoxes(spark, zdir, Seq("x", "y")).count().toInt
    assert(zFiles == 16, s"expected 16 z-ordered files, got $zFiles")

    // a quarter-domain predicate on EITHER column: the 16-file z-layout is
    // a ~4x4 grid in (x, y), so at most ~one grid row/column (+ boundary
    // straddlers) intersects — bound at 8 = half the files; the x-sorted
    // layout must read ALL files for the y predicate
    assert(intersecting(zdir, "y", 0, 255) <= 8,
      s"z-layout y-pruning too weak: ${intersecting(zdir, "y", 0, 255)} of 16")
    assert(intersecting(zdir, "x", 0, 255) <= 8,
      s"z-layout x-pruning too weak: ${intersecting(zdir, "x", 0, 255)} of 16")
    assert(intersecting(sdir, "y", 0, 255) == 16,
      "x-sorted layout should NOT prune on y — that asymmetry is the point")
    assert(intersecting(sdir, "x", 0, 255) <= 8)

    // the layout is physical only: the row set is unchanged
    val back = spark.read.parquet(zdir).select("id", "x", "y")
      .as[(Long, Long, Long)].collect().toSet
    val orig = pts.as[(Long, Long, Long)].collect().toSet
    assert(back == orig)

    // a RELAYOUT keeps the contract: same row set, pruning still holds
    // (file CUTS may shift — the range boundaries come from Spark's
    // sampling RangePartitioner, seeded per RDD id; the z-values and the
    // skipping property are what the operator guarantees)
    Layout.writeZOrdered(pts, zdir, Seq("x", "y"), targetFiles = 16)
    assert(intersecting(zdir, "y", 0, 255) <= 8)
    assert(spark.read.parquet(zdir).count() == n)
  }

  test("bucketed layout: co-bucketed join and bucket-key aggregation plan no shuffle") {
    import spark.implicits._
    val fact1 = (1L to 2000L).map(i => (i % 97, i, i * 2)).toDF("k", "a", "b")
    val fact2 = (1L to 1500L).map(i => (i % 97, i * 3)).toDF("k", "c")
    Layout.writeBucketed(fact1, "bkt_fact1", Seq("k"), 4, sortCols = Seq("k"))
    Layout.writeBucketed(fact2, "bkt_fact2", Seq("k"), 4, sortCols = Seq("k"))
    val t1 = spark.table("bkt_fact1")
    val t2 = spark.table("bkt_fact2")
    // row parity through the layout
    assert(t1.count() == 2000 && t2.count() == 1500)
    // force the join away from broadcast so co-location is what's tested
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = t1.join(t2, "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"co-bucketed join must not shuffle either side:\n$plan")
      // values still correct: spot-check against the unbucketed join
      val expect = fact1.join(fact2, "k").count()
      assert(joined.count() == expect)
      // single-table aggregation on the bucket key: no exchange either
      val agg = t1.groupBy(col("k")).agg(sum(col("a")).as("sa"))
      val aplan = agg.queryExecution.executedPlan.toString
      assert(!aplan.contains("Exchange"),
        s"bucket-key aggregation must not shuffle:\n$aplan")
      assert(agg.count() == 97)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      spark.sql("DROP TABLE IF EXISTS bkt_fact1")
      spark.sql("DROP TABLE IF EXISTS bkt_fact2")
    }
  }
}
