package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, explode}
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.{EventStreaming, StreamingPipeline}
import graft.streaming.EventStreaming.Event

class StreamingSpec extends SparkSpec {

  private def ts(min: Int) = new Timestamp(86400000L + min * 60000L) // day 1, not epoch 0 (epoch 0 == initial watermark -> dropped as late)

  test("windowedRouteCounts aggregates per (window, type) under a watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    in.addData(
      Event(1, ts(5), 1, "click", 1.0),
      Event(2, ts(10), 2, "click", 2.0),
      Event(3, ts(70), 1, "view", 3.0))
    val q = EventStreaming.windowedRouteCounts(in.toDF(), "1 hour", "2 hours")
      .writeStream.format("memory").queryName("route_counts")
      .outputMode(OutputMode.Complete).start()
    try {
      q.processAllAvailable()
      val rows = spark.table("route_counts")
        .select("event_type", "n_events").as[(String, Long)].collect().toMap
      assert(rows == Map("click" -> 2L, "view" -> 1L))
    } finally q.stop()
  }

  test("classifier gate runs unchanged on a stream, bitwise batch parity") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val weights = Array.tabulate(64) { b =>
      ((b.toLong * 2654435761L) % 4294967296L).toDouble / 4294967296.0 - 0.5
    }
    val docs = Seq((1L, "alpha beta"), (2L, "gamma delta epsilon"),
      (3L, "zeta eta theta"))
    val in = MemoryStream[(Long, String)]
    // the model gate is a stateless pure projection, so the SAME operator
    // call plans on a stream with no watermark, state, or mode changes
    val q = graft.operators.TextAnalysis.hashClassifier(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text", weights)
      .writeStream.format("memory").queryName("sq_classify")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(docs.take(2): _*); q.processAllAvailable()
      in.addData(docs.drop(2): _*); q.processAllAvailable()
      val streamed = spark.table("sq_classify")
        .as[(Long, Long, Double, Boolean)].collect().sortBy(_._1).toSeq
      val batch = graft.operators.TextAnalysis.hashClassifier(
          docs.toDF("doc_id", "text"), "doc_id", "text", weights)
        .as[(Long, Long, Double, Boolean)].collect().sortBy(_._1).toSeq
      assert(streamed == batch, "stream and batch must agree bitwise")
    } finally q.stop()
  }

  test("toRawZone writes micro-batch parquet with staged metadata columns") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = SparkSpec.tempDir("graft_raw").toFile
    val in = MemoryStream[Event]
    val q = EventStreaming.toRawZone(in.toDF(),
      s"$dir/out", s"$dir/ckpt", "broker", "run_s1")
    try {
      in.addData(Event(1, ts(1), 1, "click", 1.0), Event(2, ts(2), 2, "view", 2.0))
      q.processAllAvailable()
      val out = spark.read.parquet(s"$dir/out")
      assert(out.count() == 2)
      val meta = out.select("_source", "_run_id").distinct()
        .as[(String, String)].collect().toSeq
      assert(meta == Seq(("broker", "run_s1")))
    } finally q.stop()
  }

  test("dedupStream drops replayed event ids within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStreaming.dedupStream(in.toDF(), "event_id", "1 hour")
      .writeStream.format("memory").queryName("deduped")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(Event(1, ts(1), 1, "click", 1.0), Event(2, ts(2), 2, "view", 2.0))
      q.processAllAvailable()
      in.addData(Event(1, ts(1), 1, "click", 1.0), Event(3, ts(3), 3, "click", 3.0)) // replay of id 1
      q.processAllAvailable()
      val ids = spark.table("deduped").select("event_id").as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("dedupKeysWithinWatermark drops restamped duplicates (same id, different ts)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStreaming.dedupKeysWithinWatermark(in.toDF(), "event_id", "1 hour")
      .writeStream.format("memory").queryName("key_deduped")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(Event(1, ts(1), 1, "click", 1.0), Event(2, ts(2), 2, "view", 2.0))
      q.processAllAvailable()
      // id 1 replayed with a DIFFERENT timestamp — dropDuplicates(id, ts)
      // would let it through; the key-only dedup must not
      in.addData(Event(1, ts(5), 1, "click", 1.0), Event(3, ts(6), 3, "click", 3.0))
      q.processAllAvailable()
      val ids = spark.table("key_deduped").select("event_id").as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("native session window emits merged gap sessions after the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStreaming.sessionWindowAgg(in.toDF(), "30 minutes", "1 hour")
      .writeStream.format("memory").queryName("native_sessions")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1: two events 10 min apart (one session), then 50-min silence
      in.addData(Event(1, ts(0), 1, "a", 1.0), Event(2, ts(10), 1, "a", 2.0))
      in.addData(Event(3, ts(60), 1, "a", 4.0)) // new session after the gap
      q.processAllAvailable()
      // advance the watermark far past everything so sessions finalize
      in.addData(Event(99, ts(600), 2, "a", 0.0))
      q.processAllAvailable()
      val rows = spark.table("native_sessions")
        .select("user_id", "n_events", "session_value")
        .as[(Long, Long, Double)].collect().filter(_._1 == 1L).sortBy(_._3)
      assert(rows.toSeq == Seq((1L, 2L, 3.0), (1L, 1L, 4.0)))
    } finally q.stop()
  }

  test("intervalJoin pairs same-key events within the delay window, across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val buys = MemoryStream[Event]
    val joined = EventStreaming.intervalJoin(
      clicks.toDF().select(col("event_id").as("click_id"), col("ts"), col("user_id")),
      buys.toDF().select(col("event_id").as("buy_id"), col("ts"), col("user_id")),
      "user_id", "1 hour", "30 minutes")
      .select(col("click_id"), col("buy_id"))
    val q = joined.writeStream.format("memory").queryName("attributed")
      .outputMode(OutputMode.Append).start()
    try {
      clicks.addData(Event(10, ts(0), 1, "click", 0), Event(11, ts(0), 2, "click", 0))
      buys.addData(Event(20, ts(10), 1, "buy", 5.0)) // user 1, within 30 min
      q.processAllAvailable()
      // Next batch: a buy 40 min after user 2's click (outside the window),
      // and a second in-window buy for user 1 — cross-batch match.
      buys.addData(Event(21, ts(40), 2, "buy", 7.0), Event(22, ts(25), 1, "buy", 9.0))
      q.processAllAvailable()
      val pairs = spark.table("attributed").as[(Long, Long)].collect().toSet
      assert(pairs == Set((10L, 20L), (10L, 22L)))
    } finally q.stop()
  }

  test("quality rule engine runs unchanged on a stream (incl. stream-static FK join)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val users = Seq(1L, 2L).toDF("known_user")
    val (addFk, fkRule) = graft.operators.Quality.fkRule(
      "fk_user", col("user_id"), users, "known_user")
    val rules = Seq(
      graft.operators.Quality.Rule("negative_value", col("value") < 0),
      fkRule)
    val (clean, err) = EventStreaming.qualityZones(addFk(in.toDF()), rules)
    val q1 = clean.writeStream.format("memory").queryName("sq_clean")
      .outputMode(OutputMode.Append).start()
    val q2 = err.writeStream.format("memory").queryName("sq_err")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        Event(1, ts(1), 1, "a", 1.0),   // clean
        Event(2, ts(2), 9, "a", 2.0),   // unknown user -> fk_user
        Event(3, ts(3), 2, "a", -1.0))  // negative_value
      q1.processAllAvailable(); q2.processAllAvailable()
      val cleanIds = spark.table("sq_clean").select("event_id").as[Long].collect().sorted
      assert(cleanIds.toSeq == Seq(1L))
      val errs = spark.table("sq_err").select("event_id", "_errors")
        .as[(Long, String)].collect().toMap
      assert(errs == Map(2L -> "fk_user", 3L -> "negative_value"))
    } finally { q1.stop(); q2.stop() }
  }

  test("file-source end-to-end: files dropped in a watched dir flow through quality zones across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // The reference's broker as a directory-queue: the producer drops files
    // into a watched dir (FileStreamSource), the consumer is readStream ->
    // qualityZones -> checkpointed raw/clean/error parquet sinks. No
    // MemoryStream anywhere — this is the real source a deployment tails.
    val root = SparkSpec.tempDir("graft_fstream").toFile.getAbsolutePath
    val inDir = new java.io.File(s"$root/incoming"); inDir.mkdirs()
    def dropFile(name: String, events: Seq[Event]): Unit = {
      // write atomically elsewhere, then move the part file in — the
      // producer contract that keeps FileStreamSource from reading partials
      val tmp = SparkSpec.tempDir("graft_fdrop").toFile.getAbsolutePath
      events.toDF().coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, new java.io.File(inDir, name).toPath)
    }

    val stream = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[Event]].schema)
      .parquet(inDir.getAbsolutePath)
    val rules = Seq(
      graft.operators.Quality.Rule("negative_value", col("value") < 0),
      graft.operators.Quality.Rule("null_type", col("event_type").isNull))
    val (clean, err) = EventStreaming.qualityZones(stream, rules)
    val qRaw = EventStreaming.toRawZone(stream, s"$root/raw", s"$root/cp_raw", "dirq", "run_f1")
    val qClean = clean.writeStream.format("parquet")
      .option("path", s"$root/clean").option("checkpointLocation", s"$root/cp_clean")
      .outputMode(OutputMode.Append).start()
    val qErr = err.writeStream.format("parquet")
      .option("path", s"$root/error").option("checkpointLocation", s"$root/cp_error")
      .outputMode(OutputMode.Append).start()
    def drain(): Unit = Seq(qRaw, qClean, qErr).foreach(_.processAllAvailable())
    try {
      // micro-batch 1
      dropFile("b1.parquet", Seq(
        Event(1, ts(1), 1, "click", 1.0),
        Event(2, ts(2), 2, "view", -5.0)))
      drain()
      assert(spark.read.parquet(s"$root/raw").count() == 2)
      assert(spark.read.parquet(s"$root/clean").select("event_id").as[Long].collect().toSeq == Seq(1L))
      assert(spark.read.parquet(s"$root/error").select("event_id", "_errors")
        .as[(Long, String)].collect().toMap == Map(2L -> "negative_value"))
      // micro-batch 2: a later file arrives in the same watched dir
      dropFile("b2.parquet", Seq(
        Event(3, ts(3), 3, "click", 3.0),
        Event(4, ts(4), 4, null, 4.0)))
      drain()
      assert(spark.read.parquet(s"$root/raw").count() == 4)
      assert(spark.read.parquet(s"$root/raw").select("_run_id").distinct()
        .as[String].collect().toSeq == Seq("run_f1"))
      assert(spark.read.parquet(s"$root/clean").select("event_id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
      assert(spark.read.parquet(s"$root/error").select("event_id", "_errors")
        .as[(Long, String)].collect().toMap == Map(2L -> "negative_value", 4L -> "null_type"))
    } finally { qRaw.stop(); qClean.stop(); qErr.stop() }
  }

  test("StreamingPipeline upserts latest state per key across micro-batches (dedup + quality + zones)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = SparkSpec.tempDir("graft_spipe").toFile.getAbsolutePath
    val inDir = new java.io.File(s"$root/incoming"); inDir.mkdirs()
    def dropFile(name: String, events: Seq[Event]): Unit = {
      val tmp = SparkSpec.tempDir("graft_sdrop").toFile.getAbsolutePath
      events.toDF().coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, new java.io.File(inDir, name).toPath)
    }
    val rules = Seq(graft.operators.Quality.Rule("negative_value", col("value") < 0))
    val sinks = StreamingPipeline.run(spark, inDir.getAbsolutePath, root, rules, "run_sp1")
    def state(): Seq[(Long, Double)] = spark.read.parquet(s"$root/state")
      .select("user_id", "value").as[(Long, Double)].collect().toSeq
    try {
      dropFile("b1.parquet", Seq(
        Event(1, ts(1), 7, "click", 10.0),
        Event(6, ts(0), 7, "view", 9.0), // older clean event, same user
        Event(2, ts(2), 8, "view", 20.0),
        Event(3, ts(3), 8, "view", -1.0))) // error-zone row, excluded from state
      sinks.drain()
      // the first delta is reduced to one row per key before it lands
      val s1 = state()
      assert(s1.size == 2 && s1.toMap == Map(7L -> 10.0, 8L -> 20.0))
      // batch 2: user 7 advances, event 2 is a broker replay (dropped by
      // dedup), user 9 appears
      dropFile("b2.parquet", Seq(
        Event(4, ts(10), 7, "click", 11.0),
        Event(2, ts(2), 8, "view", 20.0),
        Event(5, ts(11), 9, "click", 30.0)))
      sinks.drain()
      val s2 = spark.read.parquet(s"$root/state")
        .select("user_id", "value").as[(Long, Double)].collect().toMap
      assert(s2 == Map(7L -> 11.0, 8L -> 20.0, 9L -> 30.0))
      // state is one row per key; zones accumulated across batches
      assert(spark.read.parquet(s"$root/state").groupBy("user_id").count()
        .where(col("count") > 1).count() == 0)
      assert(spark.read.parquet(s"$root/clean").count() == 5) // 1,6,2,4,5
      assert(spark.read.parquet(s"$root/error").select("event_id").as[Long].collect().toSeq
        == Seq(3L))
      assert(spark.read.parquet(s"$root/raw").count() == 7) // raw keeps replays
      // crash point A of the state swap: the live table was retired to
      // .swap.prev and the new one never promoted. The next batch must
      // roll back to the complete prior table and merge into it — not
      // start the state over from its own rows.
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.rename(new org.apache.hadoop.fs.Path(s"$root/state"),
        new org.apache.hadoop.fs.Path(s"$root/state.swap.prev")))
      dropFile("b3.parquet", Seq(Event(7, ts(12), 8, "click", 21.0)))
      sinks.drain()
      val s3 = state()
      assert(s3.size == 3 && s3.toMap == Map(7L -> 11.0, 8L -> 21.0, 9L -> 30.0),
        "state after a crash between retire and promote must be the full latest-per-key map")
    } finally sinks.stop()
  }

  test("stateful sessionize emits sessions after the gap passes the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStreaming.sessionize(spark, in.toDS(), gapSec = 600L)
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(Event(1, ts(0), 7, "a", 1.0), Event(2, ts(5), 7, "a", 1.0))
      q.processAllAvailable()
      // gap > 10min within the same user closes the first session
      in.addData(Event(3, ts(60), 7, "a", 1.0))
      q.processAllAvailable()
      in.addData(Event(4, ts(200), 7, "a", 1.0)) // push watermark far ahead
      q.processAllAvailable()
      val sessions = spark.table("sessions")
        .as[EventStreaming.SessionUpdate].collect().sortBy(_.session_start.getTime)
      assert(sessions.nonEmpty)
      assert(sessions.head.n_events == 2) // first session: events at t0, t5
    } finally q.stop()
  }

  test("StreamingCms folds batch sketches into the exact whole-stream sketch") {
    import spark.implicits._
    import graft.streaming.StreamingDedup.Doc
    val root = SparkSpec.tempDir("graft_scms").toFile.getAbsolutePath
    val inDir = new java.io.File(s"$root/incoming"); inDir.mkdirs()
    def dropFile(name: String, docs: Seq[Doc]): Unit = {
      val tmp = SparkSpec.tempDir("graft_scmsd").toFile.getAbsolutePath
      docs.toDF().coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, new java.io.File(inDir, name).toPath)
    }
    val b1 = Seq(Doc(1, "aa aa bb cc"), Doc(2, "dd aa"))
    val b2 = Seq(Doc(3, "bb cc cc ee"), Doc(4, "aa ff ff"))
    // project the cell columns: the lake sketch carries a _bid replay
    // guard alongside them
    def cells(df: org.apache.spark.sql.DataFrame): Map[(Int, Long), Long] =
      df.select("_r", "_b", "_cell")
        .as[(Int, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val q = graft.streaming.StreamingCms.run(spark, inDir.getAbsolutePath, s"$root/out")
    try {
      dropFile("b1.parquet", b1)
      q.processAllAvailable()
      assert(cells(spark.read.parquet(s"$root/out/sketch")) ==
        cells(graft.operators.TextAnalysis.cmsSketch(b1.toDF(), "text")),
        "after one batch the streamed sketch IS the batch sketch")
      dropFile("b2.parquet", b2)
      q.processAllAvailable()
      // the exact merge law: accumulated state == batch sketch of EVERYTHING
      assert(cells(spark.read.parquet(s"$root/out/sketch")) ==
        cells(graft.operators.TextAnalysis.cmsSketch((b1 ++ b2).toDF(), "text")),
        "streamed fold must be row-identical to the whole-corpus batch sketch")
    } finally q.stop()
  }

  test("StreamingCms replay guard: re-folding an applied batchId is a no-op") {
    // foreachBatch is at-least-once: a crash between the sketch overwrite
    // and the checkpoint commit replays the batch. Cell sums are not
    // idempotent by content, so the fold must skip already-applied ids —
    // drive foldBatch directly with a duplicated id (the StreamingDedup
    // replay-spec pattern) and assert the sketch is unchanged.
    import spark.implicits._
    import graft.streaming.StreamingDedup.Doc
    val root = SparkSpec.tempDir("graft_scmsr").toFile.getAbsolutePath
    val sketch = s"$root/sketch"
    def cells(): Map[(Int, Long), Long] =
      spark.read.parquet(sketch).select("_r", "_b", "_cell")
        .as[(Int, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val b1 = Seq(Doc(1, "aa aa bb cc"), Doc(2, "dd aa")).toDF()
    val b2 = Seq(Doc(3, "bb cc cc ee"), Doc(4, "aa ff ff")).toDF()
    graft.streaming.StreamingCms.foldBatch(b1, 0L, sketch, 4, 1024)
    val afterB1 = cells()
    // replayed batch 0 (same id, same content — the crash-before-commit
    // case): must be skipped, not summed again
    graft.streaming.StreamingCms.foldBatch(b1, 0L, sketch, 4, 1024)
    assert(cells() == afterB1, "replayed batchId must not double-count")
    graft.streaming.StreamingCms.foldBatch(b2, 1L, sketch, 4, 1024)
    val afterB2 = cells()
    assert(afterB2 == cells2(b1.unionByName(b2)),
      "fresh id still folds after a skipped replay")
    // late replay of an OLD id after newer batches applied: still a no-op
    graft.streaming.StreamingCms.foldBatch(b1, 0L, sketch, 4, 1024)
    assert(cells() == afterB2, "stale batchId replay must not re-fold")
  }

  test("TableSwap protocol: every crash window of a sketch fold is exactly-once") {
    // The ADVICE r15 hazard: mode("overwrite") is delete-then-write, so a
    // crash mid-overwrite could leave a PARTIAL sketch carrying the new
    // _bid (replay skips against incomplete cells) or no sketch at all.
    // Simulate each crash point of the swap protocol by hand-arranging the
    // live/.swap.prev/.swap.tmp dirs, then assert the next fold lands on
    // the exact whole-stream sketch.
    import spark.implicits._
    import graft.streaming.StreamingDedup.Doc
    val fsconf = spark.sparkContext.hadoopConfiguration
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val fs = p("/").getFileSystem(fsconf)
    val b1 = Seq(Doc(1, "aa aa bb cc"), Doc(2, "dd aa")).toDF()
    val b2 = Seq(Doc(3, "bb cc cc ee"), Doc(4, "aa ff ff")).toDF()
    def cellsOf(path: String): Map[(Int, Long), Long] =
      spark.read.parquet(path).select("_r", "_b", "_cell")
        .as[(Int, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap

    // crash point A: between retire (live -> .prev) and promote (.tmp ->
    // live) while folding batch 1 — live missing, .prev = complete prior
    // sketch, .tmp = complete new sketch. recover() must roll back to the
    // prior state and the at-least-once replay of batch 1 must then fold
    // it exactly once.
    val rootA = SparkSpec.tempDir("graft_swapA").toFile.getAbsolutePath
    val skA = s"$rootA/sketch"
    graft.streaming.StreamingCms.foldBatch(b1, 0L, skA, 4, 1024)
    fs.rename(p(skA), p(skA + ".swap.prev")) // simulate: retired, not promoted
    graft.streaming.StreamingCms.foldBatch(b2, 1L, skA, 4, 1024) // the replay
    assert(cellsOf(skA) == cells2(b1.unionByName(b2)),
      "crash between retire and promote: rollback + replay must fold exactly once")
    assert(!fs.exists(p(skA + ".swap.prev")), "recover consumed .prev")

    // crash point B: after promote, before .prev cleanup — live = new
    // sketch, .prev stale. The replayed batch must skip (bid guard) and
    // the stale .prev must not resurrect or block the next fold.
    val rootB = SparkSpec.tempDir("graft_swapB").toFile.getAbsolutePath
    val skB = s"$rootB/sketch"
    graft.streaming.StreamingCms.foldBatch(b1, 0L, skB, 4, 1024)
    graft.streaming.StreamingCms.foldBatch(b2, 1L, skB, 4, 1024)
    fs.mkdirs(p(skB + ".swap.prev")) // simulate a stale, half-deleted .prev
    graft.streaming.StreamingCms.foldBatch(b2, 1L, skB, 4, 1024) // replay: skip
    assert(cellsOf(skB) == cells2(b1.unionByName(b2)),
      "crash after promote: replay skips, stale .prev is inert")
    val b3 = Seq(Doc(5, "gg aa")).toDF()
    graft.streaming.StreamingCms.foldBatch(b3, 2L, skB, 4, 1024) // clears stale .prev
    assert(cellsOf(skB) == cells2(b1.unionByName(b2).unionByName(b3)) &&
      !fs.exists(p(skB + ".swap.prev")),
      "next fresh fold replaces the stale .prev and lands the full stream")

    // crash point C: mid-write of .tmp (partial temp dir) — live sketch
    // intact; the next fold overwrites .tmp and completes normally.
    val rootC = SparkSpec.tempDir("graft_swapC").toFile.getAbsolutePath
    val skC = s"$rootC/sketch"
    graft.streaming.StreamingCms.foldBatch(b1, 0L, skC, 4, 1024)
    fs.mkdirs(p(skC + ".swap.tmp")) // simulate a partial tmp write
    graft.streaming.StreamingCms.foldBatch(b2, 1L, skC, 4, 1024)
    assert(cellsOf(skC) == cells2(b1.unionByName(b2)),
      "partial .tmp from a crashed write must be overwritten, not promoted")
  }

  test("StreamingHll folds to the whole-stream sketch; replay is a no-op WITHOUT a guard") {
    // max-merge is idempotent by content — the contrast with StreamingCms,
    // whose cell sums need the _bid guard. Drive foldBatch directly:
    // batch identity, whole-stream identity, and a guard-free replay.
    import spark.implicits._
    import graft.streaming.StreamingDedup.Doc
    val root = SparkSpec.tempDir("graft_shll").toFile.getAbsolutePath
    val sketch = s"$root/sketch"
    def regs(): Map[Int, Int] =
      spark.read.parquet(sketch).as[(Int, Int)].collect().toMap
    def batchRegs(df: org.apache.spark.sql.DataFrame): Map[Int, Int] =
      graft.operators.TextAnalysis.hllRegisters(df, "text")
        .as[(Int, Int)].collect().toMap
    val b1 = Seq(Doc(1, "aa aa bb cc"), Doc(2, "dd aa")).toDF()
    val b2 = Seq(Doc(3, "bb cc cc ee"), Doc(4, "aa ff ff")).toDF()
    graft.streaming.StreamingHll.foldBatch(b1, sketch)
    assert(regs() == batchRegs(b1), "after one batch the stream sketch IS the batch sketch")
    graft.streaming.StreamingHll.foldBatch(b2, sketch)
    val whole = regs()
    assert(whole == batchRegs(b1.unionByName(b2)),
      "streamed max-fold must equal the whole-corpus register table")
    // replayed batch (at-least-once crash window): max is idempotent, so
    // NO batch-id bookkeeping is needed for correctness
    graft.streaming.StreamingHll.foldBatch(b1, sketch)
    assert(regs() == whole, "replaying an applied batch must be a content-level no-op")
  }

  test("StreamingF2 folds estimator sums with a _bid guard; replay is skipped, not doubled") {
    // the FIFTH streaming-guard family member, on the GUARDED side with
    // CMS: the F2 merge law is LINEAR (estimator-wise sum), so an
    // at-least-once replay would double every Z and inflate F2 ≈ 4× —
    // drive foldBatch directly: batch identity, whole-stream identity,
    // and the bid-guarded replay skip.
    import spark.implicits._
    import graft.streaming.StreamingDedup.Doc
    val root = SparkSpec.tempDir("graft_sf2").toFile.getAbsolutePath
    val sketch = s"$root/sketch"
    def cells(): Map[Int, Long] =
      spark.read.parquet(sketch).select("_e", "z").as[(Int, Long)].collect().toMap
    def batchCells(df: org.apache.spark.sql.DataFrame): Map[Int, Long] =
      graft.operators.F2Sketch.f2Cells(
        df.select(explode(graft.operators.TextAnalysis.tokens(col("text"))).as("t"))
          .where(col("t") =!= ""), Nil, "t")
        .as[(Int, Long)].collect().toMap
    val b1 = Seq(Doc(1, "aa aa bb cc"), Doc(2, "dd aa")).toDF()
    val b2 = Seq(Doc(3, "bb cc cc ee"), Doc(4, "aa ff ff")).toDF()
    graft.streaming.StreamingF2.foldBatch(b1, 0L, sketch)
    val afterB1 = cells()
    assert(afterB1 == batchCells(b1),
      "after one batch the stream sketch IS the batch sketch")
    // replayed batch 0 (crash between write and checkpoint commit): the
    // linear fold MUST skip it — summing again would double every Z
    graft.streaming.StreamingF2.foldBatch(b1, 0L, sketch)
    assert(cells() == afterB1, "replayed batchId must not double-fold")
    graft.streaming.StreamingF2.foldBatch(b2, 1L, sketch)
    val whole = cells()
    assert(whole == batchCells(b1.unionByName(b2)),
      "streamed linear fold must equal the whole-corpus estimator sums")
    // stale replay after newer batches: still a no-op
    graft.streaming.StreamingF2.foldBatch(b1, 0L, sketch)
    assert(cells() == whole, "stale batchId replay must not re-fold")
    // the estimate read runs the batch median-of-means tail on the
    // accumulated cells — identical to the direct batch estimate
    val est = graft.streaming.StreamingF2.estimate(spark, sketch)
      .as[Double].collect().head
    val direct = graft.operators.F2Sketch.f2EstimateFromCells(
      b1.unionByName(b2)
        .select(explode(graft.operators.TextAnalysis.tokens(col("text"))).as("t"))
        .where(col("t") =!= "")
        .transform(df => graft.operators.F2Sketch.f2Cells(df, Nil, "t")), Nil)
      .as[Double].collect().head
    assert(est == direct, "estimate off the lake sketch must equal the batch estimate")
  }

  test("StreamingBloom folds to the whole-stream filter; replay is a no-op by OR-idempotence") {
    // the FOURTH streaming-guard family member: CMS sums carry _bid,
    // HLL maxes and the quantile distinct are idempotent by content,
    // and OR is idempotent ALGEBRAICALLY — drive foldBatch directly.
    import spark.implicits._
    import graft.streaming.StreamingDedup.Doc
    val root = SparkSpec.tempDir("graft_sbloom").toFile.getAbsolutePath
    val sketch = s"$root/sketch"
    def words(): Map[Int, Long] =
      spark.read.parquet(sketch).as[(Int, Long)].collect().toMap
    def batchWords(df: org.apache.spark.sql.DataFrame): Map[Int, Long] =
      graft.operators.BloomSketch.bloomWords(df, "text")
        .as[(Int, Long)].collect().toMap
    val b1 = Seq(Doc(1, "alpha beta"), Doc(2, "gamma")).toDF()
    val b2 = Seq(Doc(3, "delta epsilon"), Doc(4, "alpha beta")).toDF()
    graft.streaming.StreamingBloom.foldBatch(b1, "text", sketch)
    assert(words() == batchWords(b1), "after one batch the stream filter IS the batch filter")
    graft.streaming.StreamingBloom.foldBatch(b2, "text", sketch)
    val whole = words()
    assert(whole == batchWords(b1.unionByName(b2)),
      "streamed OR-fold must equal the whole-corpus word table")
    // every ingested key must probe positive against the folded filter
    val hits = graft.operators.BloomSketch.bloomProbe(
      b1.unionByName(b2), "doc_id", "text", spark.read.parquet(sketch))
      .as[(Long, Boolean)].collect()
    assert(hits.length == 4 && hits.forall(_._2))
    // replayed batch (at-least-once crash window): x | x = x
    graft.streaming.StreamingBloom.foldBatch(b1, "text", sketch)
    assert(words() == whole, "replaying an applied batch must be a content-level no-op")
  }

  test("StreamingQuantile end-to-end: the file-source stream accumulates the batch sketch") {
    import spark.implicits._
    import graft.streaming.StreamingDedup.Doc
    val root = SparkSpec.tempDir("graft_squante").toFile.getAbsolutePath
    val inDir = new java.io.File(s"$root/incoming"); inDir.mkdirs()
    def dropFile(name: String, docs: Seq[Doc]): Unit = {
      val tmp = SparkSpec.tempDir("graft_squantd").toFile.getAbsolutePath
      docs.toDF().coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, new java.io.File(inDir, name).toPath)
    }
    val b1 = (1 to 80).map(i => Doc(i.toLong, "x" * (i * 3 % 97)))
    val b2 = (81 to 200).map(i => Doc(i.toLong, "x" * (i * 11 % 97)))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    def batchSketch(docs: Seq[Doc]) = rows(graft.operators.QuantileSketch.sketch(
      docs.toDF().selectExpr("doc_id", "length(text) AS n_chars"),
      "doc_id", "n_chars", 64))
    val q = graft.streaming.StreamingQuantile.run(spark, inDir.getAbsolutePath, s"$root/out")
    try {
      dropFile("b1.parquet", b1)
      q.processAllAvailable()
      assert(rows(spark.read.parquet(s"$root/out/sketch")) == batchSketch(b1),
        "after one batch the streamed sketch IS the batch sketch")
      dropFile("b2.parquet", b2)
      q.processAllAvailable()
      assert(rows(spark.read.parquet(s"$root/out/sketch")) == batchSketch(b1 ++ b2),
        "streamed merge-fold must equal the whole-corpus sketch")
    } finally q.stop()
  }

  test("StreamingQuantile folds to the whole-stream sketch; replay is a content no-op") {
    // the THIRD member of the guard family: the merge's distinct on
    // (v60, value) makes the fold idempotent by content — like HLL's max,
    // unlike CMS's guarded sums — and the exact merge law makes the
    // accumulated state row-identical to the batch sketch of everything.
    import spark.implicits._
    val root = SparkSpec.tempDir("graft_squant").toFile.getAbsolutePath
    val sketch = s"$root/sketch"
    val k = 32
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    def lake() = rows(spark.read.parquet(sketch))
    def batchSketch(df: org.apache.spark.sql.DataFrame) =
      rows(graft.operators.QuantileSketch.sketch(df, "doc_id", "n_chars", k))
    val b1 = (1 to 500).map(i => (i.toLong, (i * 7 % 997).toDouble)).toDF("doc_id", "n_chars")
    val b2 = (501 to 1200).map(i => (i.toLong, (i * 13 % 997).toDouble)).toDF("doc_id", "n_chars")
    graft.streaming.StreamingQuantile.foldBatch(b1, sketch, "doc_id", "n_chars", k)
    assert(lake() == batchSketch(b1), "after one batch the stream sketch IS the batch sketch")
    graft.streaming.StreamingQuantile.foldBatch(b2, sketch, "doc_id", "n_chars", k)
    val whole = lake()
    assert(whole == batchSketch(b1.unionByName(b2)),
      "streamed merge-fold must equal the whole-corpus sketch")
    graft.streaming.StreamingQuantile.foldBatch(b1, sketch, "doc_id", "n_chars", k)
    assert(lake() == whole, "replaying an applied batch must be a content-level no-op")
  }

  private def cells2(df: org.apache.spark.sql.DataFrame): Map[(Int, Long), Long] = {
    import df.sparkSession.implicits._
    graft.operators.TextAnalysis.cmsSketch(df, "text").select("_r", "_b", "_cell")
      .as[(Int, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
  }

  test("StreamingDedup suppresses near-dups within a batch, across batches, and on replay") {
    import spark.implicits._
    import graft.streaming.StreamingDedup
    import graft.streaming.StreamingDedup.Doc
    val root = SparkSpec.tempDir("graft_sdedup").toFile.getAbsolutePath
    val inDir = new java.io.File(s"$root/incoming"); inDir.mkdirs()
    def dropFile(name: String, docs: Seq[Doc]): Unit = {
      val tmp = SparkSpec.tempDir("graft_sdrop").toFile.getAbsolutePath
      docs.toDF().coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, new java.io.File(inDir, name).toPath)
    }
    val base = "the quick brown fox jumps over the lazy dog while rain falls on the quiet town square"
    val q = StreamingDedup.run(spark, inDir.getAbsolutePath, s"$root/out")
    try {
      // batch 1: A unique, B unique, C ~= A (one appended token) -> batch dup
      dropFile("b1.parquet", Seq(
        Doc(1, base),
        Doc(2, "completely different words about spark catalyst optimizer plans and shuffles at scale here"),
        Doc(3, base + " tonight")))
      q.processAllAvailable()
      val clean1 = spark.read.parquet(s"$root/out/clean").select("doc_id").as[Long].collect().toSet
      assert(clean1 == Set(1L, 2L))
      val dups1 = spark.read.parquet(s"$root/out/dups")
        .select("doc_id", "rep_id", "reason").as[(Long, Long, String)].collect().toSet
      assert(dups1 == Set((3L, 1L, "batch")))

      // batch 2: D ~= A (cross-batch -> index hit), E unique, F too short to
      // shingle -> straight to clean
      dropFile("b2.parquet", Seq(
        Doc(4, base + " again"),
        Doc(5, "unrelated fresh content with enough tokens to shingle and index cleanly tonight ok"),
        Doc(6, "hi")))
      q.processAllAvailable()
      val clean2 = spark.read.parquet(s"$root/out/clean").select("doc_id").as[Long].collect().toSet
      assert(clean2 == Set(1L, 2L, 5L, 6L))
      val dup4 = spark.read.parquet(s"$root/out/dups")
        .where($"doc_id" === 4L).as[(Long, Long, Double, String)].collect().head
      assert(dup4._2 == 1L && dup4._4 == "index" && dup4._3 >= 0.8)

      // batch 3: exact replay of doc 2's text under a new id -> index hit at
      // similarity 1.0 (the crawler-replay case)
      dropFile("b3.parquet", Seq(
        Doc(7, "completely different words about spark catalyst optimizer plans and shuffles at scale here")))
      q.processAllAvailable()
      val dup7 = spark.read.parquet(s"$root/out/dups")
        .where($"doc_id" === 7L).as[(Long, Long, Double, String)].collect().head
      assert(dup7._2 == 2L && dup7._3 == 1.0 && dup7._4 == "index")
      // index holds exactly the unique shingleable docs
      val idx = spark.read.parquet(s"$root/out/index").select("doc_id").as[Long].collect().toSet
      assert(idx == Set(1L, 2L, 5L))

      // restart from the same checkpoint: processed files are not replayed,
      // and the lake-resident index keeps deduping new batches
      q.stop()
      val q2 = StreamingDedup.run(spark, inDir.getAbsolutePath, s"$root/out")
      try {
        dropFile("b4.parquet", Seq(Doc(8, base + " rebooted")))  // ~= doc 1
        q2.processAllAvailable()
        val dup8 = spark.read.parquet(s"$root/out/dups")
          .where($"doc_id" === 8L).as[(Long, Long, Double, String)].collect().head
        assert(dup8._2 == 1L && dup8._4 == "index")
        // no replay: clean zone unchanged except nothing new, index unchanged
        val cleanAfter = spark.read.parquet(s"$root/out/clean").select("doc_id").as[Long].collect()
        assert(cleanAfter.length == cleanAfter.toSet.size) // no doc appended twice
        assert(spark.read.parquet(s"$root/out/index").count() == 3)
      } finally q2.stop()
    } finally q.stop()
  }

  test("StreamingDedup replay after a lost checkpoint reproduces the first attempt's classification") {
    // the crash-inside-a-batch case: zone appends landed but the commit
    // didn't, so the batch replays against an index that already holds its
    // own uniques. The index probe excludes same-batch rep_ids, so the
    // replay must re-derive EXACTLY the first attempt's verdicts — no doc
    // flips zones, and no same-batch pair is re-judged through the
    // estimated-Jaccard index path (reason stays "batch").
    import spark.implicits._
    import graft.streaming.StreamingDedup
    import graft.streaming.StreamingDedup.Doc
    val root = SparkSpec.tempDir("graft_sreplay").toFile.getAbsolutePath
    val inDir = new java.io.File(s"$root/incoming"); inDir.mkdirs()
    def dropFile(name: String, docs: Seq[Doc]): Unit = {
      val tmp = SparkSpec.tempDir("graft_sdrop").toFile.getAbsolutePath
      docs.toDF().coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, new java.io.File(inDir, name).toPath)
    }
    val base = "the quick brown fox jumps over the lazy dog while rain falls on the quiet town square"
    val batch = Seq(
      Doc(1, base),
      Doc(2, "completely different words about spark catalyst optimizer plans and shuffles at scale here"),
      Doc(3, base + " tonight"))
    val q = StreamingDedup.run(spark, inDir.getAbsolutePath, s"$root/out")
    try { dropFile("b1.parquet", batch); q.processAllAvailable() } finally q.stop()
    def cleanIds = spark.read.parquet(s"$root/out/clean").select("doc_id").as[Long].collect().toSet
    def dupRows = spark.read.parquet(s"$root/out/dups")
      .select("doc_id", "rep_id", "reason").as[(Long, Long, String)].collect().toSet
    assert(cleanIds == Set(1L, 2L) && dupRows == Set((3L, 1L, "batch")))

    // lose the checkpoint -> the whole batch replays against the zones it
    // already wrote (a superset of the partial-append crash)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$root/out/cp"))
    val q2 = StreamingDedup.run(spark, inDir.getAbsolutePath, s"$root/out")
    try { q2.processAllAvailable() } finally q2.stop()
    assert(cleanIds == Set(1L, 2L), "replay changed the clean zone's membership")
    assert(dupRows == Set((3L, 1L, "batch")),
      "replay reclassified a same-batch pair (estimated-Jaccard index path leaked in)")
    assert(spark.read.parquet(s"$root/out/index").select("doc_id").as[Long].collect().toSet
      == Set(1L, 2L))

    // re-ingestion is NOT a replay: the exclusion matches the full
    // (id, signature) pair, so when id 1 re-arrives with DIFFERENT text,
    // its EARLIER index row must stay visible as a representative — doc 20
    // (a near-dup of the original text) still gets caught via the index.
    val q3 = StreamingDedup.run(spark, inDir.getAbsolutePath, s"$root/out")
    try {
      dropFile("b2.parquet", Seq(
        Doc(1, "entirely new replacement content for document one with plenty of fresh tokens"),
        Doc(20, base + " indeed")))
      q3.processAllAvailable()
    } finally q3.stop()
    val dup20 = spark.read.parquet(s"$root/out/dups")
      .where($"doc_id" === 20L).as[(Long, Long, Double, String)].collect()
    assert(dup20.nonEmpty && dup20.head._2 == 1L && dup20.head._4 == "index",
      s"re-ingested id 1 hid its earlier index row from doc 20: ${dup20.toSeq}")
    // the re-ingested (different-text) id 1 itself is unique again
    assert(spark.read.parquet(s"$root/out/dups").where($"doc_id" === 1L).count() == 0)
  }

  test("StreamingDedup.runSemantic suppresses embedding near-dups within and across batches, and on restart") {
    import spark.implicits._
    import graft.streaming.StreamingDedup
    import graft.streaming.StreamingDedup.Vec
    val root = SparkSpec.tempDir("graft_ssem").toFile.getAbsolutePath
    val inDir = new java.io.File(s"$root/incoming"); inDir.mkdirs()
    def dropFile(name: String, vecs: Seq[Vec]): Unit = {
      val tmp = SparkSpec.tempDir("graft_ssdrop").toFile.getAbsolutePath
      vecs.toDF().coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, new java.io.File(inDir, name).toPath)
    }
    val cents = Array(
      0 -> Array(1.0, 0.0, 0.0, 0.0),
      1 -> Array(0.0, 1.0, 0.0, 0.0))
    def v(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    val q = StreamingDedup.runSemantic(spark, inDir.getAbsolutePath, s"$root/out",
      cents, threshold = 0.95)
    try {
      // batch 1: 1 and 2 unique (different cells), 3 ~= 1 -> batch dup, rep 1
      dropFile("b1.parquet", Seq(
        Vec(1, v(1.0, 0.0, 0.0, 0.05)),
        Vec(2, v(0.0, 1.0, 0.0, 0.0)),
        Vec(3, v(0.999, 0.01, 0.0, 0.05))))
      q.processAllAvailable()
      val clean1 = spark.read.parquet(s"$root/out/clean").select("vec_id").as[Long].collect().toSet
      assert(clean1 == Set(1L, 2L))
      val dups1 = spark.read.parquet(s"$root/out/dups")
        .select("vec_id", "rep_id", "reason").as[(Long, Long, String)].collect().toSet
      assert(dups1 == Set((3L, 1L, "batch")))

      // batch 2: 4 (5 deg off v1) -> index hit; 7 (22 deg off v1, so NOT an
      // index dup) is within 17 deg of 4 -> must still be caught as a BATCH
      // dup even though its only neighbor is itself an index dup (batch
      // membership parity); 5 orthogonal to everything -> clean
      dropFile("b2.parquet", Seq(
        Vec(4, v(0.9962, 0.0, 0.0872, 0.0)),
        Vec(7, v(0.9272, 0.0, 0.3746, 0.0)),
        Vec(5, v(0.0, 0.0, 1.0, 0.0))))
      q.processAllAvailable()
      val dup4 = spark.read.parquet(s"$root/out/dups")
        .where($"vec_id" === 4L).as[(Long, Long, Double, String)].collect().head
      assert(dup4._2 == 1L && dup4._4 == "index" && dup4._3 >= 0.95)
      val dup7 = spark.read.parquet(s"$root/out/dups")
        .where($"vec_id" === 7L).as[(Long, Long, Double, String)].collect().head
      assert(dup7._2 == 4L && dup7._4 == "batch" && dup7._3 >= 0.95)
      val clean2 = spark.read.parquet(s"$root/out/clean").select("vec_id").as[Long].collect().toSet
      assert(clean2 == Set(1L, 2L, 5L))

      // restart from the checkpoint: committed files are not replayed and
      // the lake-resident index keeps deduping (6 ~= 2 -> index hit); a
      // ZERO-NORM vector must pass to clean (NaN cosines never mark a dup)
      q.stop()
      val q2 = StreamingDedup.runSemantic(spark, inDir.getAbsolutePath, s"$root/out",
        cents, threshold = 0.95)
      try {
        dropFile("b3.parquet", Seq(
          Vec(6, v(0.01, 1.0, 0.0, 0.02)),
          Vec(8, v(0.0, 0.0, 0.0, 0.0))))
        q2.processAllAvailable()
        val dup6 = spark.read.parquet(s"$root/out/dups")
          .where($"vec_id" === 6L).as[(Long, Long, Double, String)].collect().head
        assert(dup6._2 == 2L && dup6._4 == "index")
        val clean3 = spark.read.parquet(s"$root/out/clean").select("vec_id").as[Long].collect().toSet
        assert(clean3 == Set(1L, 2L, 5L, 8L))

        // batch 4: 9 ~= 1 -> index hit with a REAL similarity and rep — the
        // zero-norm index entry sharing its cell must not absorb it via NaN
        dropFile("b4.parquet", Seq(Vec(9, v(1.0, 0.01, 0.0, 0.0))))
        q2.processAllAvailable()
        val dup9 = spark.read.parquet(s"$root/out/dups")
          .where($"vec_id" === 9L).as[(Long, Long, Double, String)].collect().head
        assert(dup9._2 == 1L && dup9._4 == "index" && !dup9._3.isNaN && dup9._3 >= 0.95)
        val cleanAfter = spark.read.parquet(s"$root/out/clean").select("vec_id").as[Long].collect()
        assert(cleanAfter.length == cleanAfter.toSet.size)
        assert(spark.read.parquet(s"$root/out/index").count() == 4)
      } finally q2.stop()
    } finally q.stop()
  }

  test("streamingHeavyHitters folds the MG sketch across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    // capacity 4 >= distinct items in the test stream -> counts stay EXACT
    // and must accumulate across batches through the state store
    val q = EventStreaming.streamingHeavyHitters(
        in.toDF().toDF("id", "tok"), "tok", 4)
      .writeStream.format("memory").queryName("shh")
      .outputMode(OutputMode.Complete).start()
    def snap() = spark.table("shh")
      .select(col("n_total"), explode(col("candidates")).as("c"))
      .select(col("n_total"), col("c.item"), col("c.est"))
      .as[(Long, String, Long)].collect()
    try {
      in.addData((1L, "a"), (2L, "a"), (3L, "b"))
      q.processAllAvailable()
      val s1 = snap()
      assert(s1.map(r => r._2 -> r._3).toMap == Map("a" -> 2L, "b" -> 1L))
      assert(s1.forall(_._1 == 3L))
      in.addData((4L, "a"), (5L, "c"), (6L, "b"), (7L, "a"))
      q.processAllAvailable()
      val s2 = snap()
      assert(s2.map(r => r._2 -> r._3).toMap == Map("a" -> 4L, "b" -> 2L, "c" -> 1L))
      assert(s2.forall(_._1 == 7L))
    } finally q.stop()
  }

  test("streamingHeavyHitters keeps the no-miss guarantee under eviction pressure") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    // capacity 2 with 6 distinct items: eviction fires, but "hot" has
    // frequency 10/19 > n/(capacity+1) and MUST survive in the candidates
    val q = EventStreaming.streamingHeavyHitters(
        in.toDF().toDF("id", "tok"), "tok", 2)
      .writeStream.format("memory").queryName("shh2")
      .outputMode(OutputMode.Complete).start()
    try {
      in.addData((1L to 5L).map(i => (i, "hot")) ++ Seq((6L, "x1"), (7L, "x2")): _*)
      q.processAllAvailable()
      in.addData((8L to 12L).map(i => (i, "hot")) ++
        Seq((13L, "x3"), (14L, "x4"), (15L, "x5"), (16L, "x1"), (17L, "x2"),
          (18L, "x3"), (19L, "x4")): _*)
      q.processAllAvailable()
      val cands = spark.table("shh2")
        .select(explode(col("candidates")).as("c")).select(col("c.item"))
        .as[String].collect().toSet
      assert(cands.contains("hot"), s"heavy item evicted from $cands")
      val total = spark.table("shh2").select(col("n_total")).as[Long].head()
      assert(total == 19L)
    } finally q.stop()
  }

  test("streaming priority sample matches the batch operator and absorbs replays") {
    import spark.implicits._
    import graft.streaming.{PrioInput, StreamingSampling}
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[PrioInput]
    val k = 3
    val q = StreamingSampling.run(spark, in.toDS(), k)
      .writeStream.format("memory").queryName("sps")
      .outputMode(OutputMode.Update).start()
    // latest emission per stratum = rows at that stratum's max seq
    def latest(): Set[(String, Long, Double, Double)] = {
      val t = spark.table("sps")
        .as[(String, Long, Double, Double, Double, Long)].collect()
      val maxSeq = t.groupBy(_._1).view.mapValues(_.map(_._6).max).toMap
      t.filter(r => r._6 == maxSeq(r._1)).map(r => (r._1, r._2, r._3, r._5)).toSet
    }
    def batchExpect(rows: Seq[(String, Long, Double)]): Set[(String, Long, Double, Double)] =
      graft.operators.TextAnalysis
        .samplePriorityPerStratum(rows.toDF("src", "doc_id", "w"), "src", "doc_id", "w", k)
        .as[(String, Long, Double, Double, Double)].collect()
        .map(r => (r._1, r._2, r._3, r._5)).toSet
    val b1 = Seq(("x", 1L, 10.0), ("x", 2L, 30.0), ("x", 3L, 20.0), ("y", 10L, 5.0))
    val b2 = Seq(("x", 4L, 40.0), ("x", 5L, 15.0), ("x", 6L, 25.0), ("y", 11L, 7.0))
    def feed(rows: Seq[(String, Long, Double)]): Unit =
      in.addData(rows.map { case (s, i, w) => PrioInput(s, i, w) }: _*)
    try {
      feed(b1)
      q.processAllAvailable()
      assert(latest() == batchExpect(b1), "after batch 1 the sample must equal batch DLT")
      feed(b2)
      q.processAllAvailable()
      val afterTwo = latest()
      assert(afterTwo == batchExpect(b1 ++ b2),
        "the streaming state must answer as if all rows arrived at once")
      // at-least-once redelivery: replaying batch 1 verbatim changes nothing
      feed(b1)
      q.processAllAvailable()
      assert(latest() == afterTwo, "replayed rows must merge idempotently")
    } finally q.stop()
  }
}
