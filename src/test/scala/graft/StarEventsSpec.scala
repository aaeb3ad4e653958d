package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import graft.operators.{Events, Star}

class StarEventsSpec extends SparkSpec {
  import spark.implicits._

  test("dimDate derives calendar attributes (ISO dow, weekend)") {
    val d = Seq("2024-06-01", "2024-06-03").toDF("d") // Sat, Mon
      .select(to_date(col("d")).as("d"))
    val rows = Star.dimDate(d, "d")
      .select("date_key", "iso_dow", "day_name", "is_weekend", "quarter")
      .as[(Int, Int, String, Boolean, Int)].collect().sortBy(_._1)
    assert(rows(0) == (20240601, 6, "Saturday", true, 2))
    assert(rows(1) == (20240603, 1, "Monday", false, 2))
  }

  test("withSurrogateKey assigns dense deterministic keys ordered by natural key") {
    val dim = Seq(30, 10, 20).toDF("nk")
    val keys = Star.withSurrogateKey(dim, "nk", "sk")
      .as[(Int, Long)].collect().sortBy(_._1)
    assert(keys.toSeq == Seq((10, 1L), (20, 2L), (30, 3L)))
  }

  test("withSurrogateKey two-phase rank matches a global dense rank at scale") {
    val n = 1000
    val dim = scala.util.Random.shuffle((1 to n).map(_ * 7).toList).toDF("nk")
    val keys = Star.withSurrogateKey(dim, "nk", "sk")
      .as[(Int, Long)].collect().sortBy(_._1)
    assert(keys.map(_._2).toSeq == (1L to n.toLong))
    assert(keys.map(_._1).toSeq == (1 to n).map(_ * 7))
  }

  test("withSurrogateKey: duplicate keys share a rank; attributes survive; no global window") {
    val dim = Seq((30, "c"), (10, "a"), (20, "b"), (10, "a2")).toDF("nk", "attr")
    val keyed = Star.withSurrogateKey(dim, "nk", "sk")
    val ranks = keyed.select(col("nk"), col("sk")).distinct()
      .as[(Int, Long)].collect().sortBy(_._1)
    assert(ranks.toSeq == Seq((10, 1L), (20, 2L), (30, 3L)))
    assert(keyed.count() == 4) // both rows of nk=10 kept, sharing sk=1
    val unpartitioned = keyed.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.isEmpty => w
    }
    assert(unpartitioned.isEmpty, "surrogate-key plan must not contain a global window")
  }

  test("star_fact plan is free of unpartitioned windows (single-partition sort killer)") {
    val df = SparkEntry.queries("star_fact")(spark, "/root/testdata/sf0.001")
    val unpartitioned = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.isEmpty => w
    }
    assert(unpartitioned.isEmpty,
      s"star_fact must scale: found global Window nodes:\n${unpartitioned.mkString("\n")}")
  }

  test("inventoryFact runs a signed per-key balance; window stays key-partitioned") {
    val m = Seq(
      // (part, supp, seq, qty, flag): two keys interleaved in input order
      (1, 9, 1, 10.0, "N"), (2, 9, 1, 5.0, "N"),
      (1, 9, 2, 4.0, "R"), (1, 9, 3, 7.0, "A"),
      (2, 9, 2, 2.0, "R")).toDF("p", "s", "seq", "qty", "flag")
    val out = Star.inventoryFact(m, Seq("p", "s"), Seq("seq"),
      when(col("flag") === "R", -col("qty")).otherwise(col("qty")))
    val rows = out.select("p", "seq", "qty_delta", "stock_balance")
      .as[(Int, Int, Double, Double)].collect().sortBy(r => (r._1, r._2))
    assert(rows.toSeq == Seq(
      (1, 1, 10.0, 10.0), (1, 2, -4.0, 6.0), (1, 3, 7.0, 13.0),
      (2, 1, 5.0, 5.0), (2, 2, -2.0, 3.0)))
    // the balance window must be partitioned by the inventory key — a
    // global cumulative sum would single-thread a 100 TB movement log.
    // (Checked on the logical plan's partitionSpec: the executed-plan
    // string always prints window contents inside windowspecdefinition(...)
    // even when unpartitioned, so a string grep cannot catch this.)
    val unpartitioned = out.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.isEmpty => w
    }
    assert(unpartitioned.isEmpty, "inventory balance fell back to a global window")
  }

  test("scd2 keeps only changed versions with validity chain") {
    val snaps = Seq(
      (1, "a", "2024-01-01"), (1, "a", "2024-06-01"), // unchanged -> 1 version
      (2, "x", "2024-01-01"), (2, "y", "2024-06-01")  // changed   -> 2 versions
    ).toDF("id", "attr", "snap").withColumn("snap", to_date(col("snap")))
    val out = Star.scd2(snaps, "id", Seq("attr"), "snap")
      .select(col("id"), col("attr"), col("valid_from").cast("string"),
        col("valid_to").cast("string"), col("is_current"))
      .as[(Int, String, String, Option[String], Boolean)].collect().sortBy(r => (r._1, r._3))
    assert(out.toSeq == Seq(
      (1, "a", "2024-01-01", None, true),
      (2, "x", "2024-01-01", Some("2024-06-01"), false),
      (2, "y", "2024-06-01", None, true)))
  }

  test("scd2Merge closes changed versions, opens new ones, passes the rest through") {
    val dim = Seq(
      (1, "old", Some("2024-01-01"), Some("2024-06-01"), false), // history
      (1, "a", Some("2024-06-01"), None, true),                  // changed by snap
      (2, "b", Some("2024-01-01"), None, true),                  // unchanged in snap
      (3, "c", Some("2024-01-01"), None, true)                   // absent from snap
    ).toDF("id", "attr", "valid_from", "valid_to", "is_current")
      .withColumn("valid_from", to_date(col("valid_from")))
      .withColumn("valid_to", to_date(col("valid_to")))
    val snap = Seq((1, "a2"), (2, "b"), (4, "d")).toDF("id", "attr") // 4 is new
    val out = Star.scd2Merge(dim, snap, "id", Seq("attr"), to_date(lit("2025-01-01")))
      .select(col("id"), col("attr"), col("valid_from").cast("string"),
        col("valid_to").cast("string"), col("is_current"))
      .as[(Int, String, String, Option[String], Boolean)]
      .collect().sortBy(r => (r._1, r._3)).toSeq
    assert(out == Seq(
      (1, "old", "2024-01-01", Some("2024-06-01"), false), // history untouched
      (1, "a", "2024-06-01", Some("2025-01-01"), false),   // closed
      (1, "a2", "2025-01-01", None, true),                 // re-opened
      (2, "b", "2024-01-01", None, true),                  // unchanged
      (3, "c", "2024-01-01", None, true),                  // absent is not delete
      (4, "d", "2025-01-01", None, true)))                 // brand new key
  }

  test("pointInTime resolves each fact to the version valid at its timestamp") {
    val dim = Seq(
      (1, "v1", Some("2024-01-01"), Some("2024-06-01")),
      (1, "v2", Some("2024-06-01"), None),
      (2, "w1", Some("2024-01-01"), None)
    ).toDF("key", "attr", "valid_from", "valid_to")
      .withColumn("valid_from", to_date(col("valid_from")))
      .withColumn("valid_to", to_date(col("valid_to")))
    val facts = Seq(
      (10, 1, "2024-03-15"), // inside v1
      (11, 1, "2024-06-01"), // boundary: valid_to exclusive -> v2
      (12, 1, "2023-12-31"), // before first version -> null attrs
      (13, 2, "2025-01-01"), // open-ended single version
      (14, 3, "2024-03-01")  // no dimension row at all -> null attrs
    ).toDF("fid", "key", "d").withColumn("d", to_date(col("d")))
    val out = Star.pointInTime(facts, dim, "key", "key", col("d"))
      .select("fid", "attr").as[(Int, Option[String])].collect().toMap
    assert(out == Map(10 -> Some("v1"), 11 -> Some("v2"), 12 -> None,
      13 -> Some("w1"), 14 -> None))
    // Scale shape: the version table rides a broadcast hash join.
    val plan = Star.pointInTime(facts, dim, "key", "key", col("d"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("sessionize splits on gaps > gapSec and aggregates per session") {
    def ts(min: Int) = new Timestamp(min * 60000L)
    val events = Seq(
      (1L, ts(0), 10L, "a", 1.0), (2L, ts(10), 10L, "a", 2.0), // session 1
      (3L, ts(60), 10L, "a", 3.0),                             // session 2 (50min gap)
      (4L, ts(5), 20L, "a", 4.0)                               // other user
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val s = Events.sessionize(events, 1800L)
      .select("user_id", "session_id", "n_events", "session_value")
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(s.toSeq == Seq((10L, 1L, 2L, 3.0), (10L, 2L, 1L, 3.0), (20L, 1L, 1L, 4.0)))
  }

  test("transitions counts ordered next-type pairs with row-normalized probabilities") {
    def ts(min: Int) = new Timestamp(min * 60000L)
    val events = Seq(
      (1L, ts(0), 10L, "view", 0.0), (2L, ts(1), 10L, "cart", 0.0),
      (3L, ts(2), 10L, "view", 0.0), (4L, ts(3), 10L, "buy", 0.0),
      (5L, ts(0), 20L, "view", 0.0), (6L, ts(1), 20L, "view", 0.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    // user 10: view->cart, cart->view, view->buy; user 20: view->view.
    // From "view": 3 transitions total -> p = 1/3 each; cart->view p = 1.
    val out = Events.transitions(events)
      .select("from_type", "to_type", "n", "p")
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(out == Map(
      ("view", "cart") -> ((1L, 0.333333)),
      ("view", "buy") -> ((1L, 0.333333)),
      ("view", "view") -> ((1L, 0.333333)),
      ("cart", "view") -> ((1L, 1.0))))
  }

  test("pageRank: exact integer replay, traffic sinks outrank sources") {
    def ts(min: Int) = new Timestamp(min * 60000L)
    // u10: a->b, b->c, c->b, b->a; u20: a->b. Inflow concentrates on b
    // (b's outflow splits, so no undamped 2-cycle oscillation survives).
    val events = Seq(
      (1L, ts(0), 10L, "a", 0.0), (2L, ts(1), 10L, "b", 0.0),
      (3L, ts(2), 10L, "c", 0.0), (4L, ts(3), 10L, "b", 0.0),
      (5L, ts(4), 10L, "a", 0.0),
      (6L, ts(0), 20L, "a", 0.0), (7L, ts(1), 20L, "b", 0.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = Events.pageRank(events).as[(String, Long)].collect().toMap
    // local replay of the fixed-point arithmetic (Long / truncates like
    // div on nonnegative operands)
    val edges = Map(("a", "b") -> 2L, ("b", "c") -> 1L, ("c", "b") -> 1L,
      ("b", "a") -> 1L)
    val nodes = Seq("a", "b", "c")
    val outN = edges.groupBy(_._1._1).map { case (f, m) => f -> m.values.sum }
    val p6 = edges.map { case ((f, t), n) => (f, t) -> n * 1000000L / outN(f) }
    val S = 1000000000000L
    var pr = nodes.map(_ -> S / nodes.length).toMap
    for (_ <- 1 to 8) {
      val cs = nodes.map(v => v -> p6.collect {
        case ((f, t), p) if t == v => pr(f) * p / 1000000L }.sum).toMap
      pr = nodes.map(v =>
        v -> (S / nodes.length * 15L / 100L + 85L * cs(v) / 100L)).toMap
    }
    assert(out == pr, s"engine $out vs replay $pr")
    assert(out("b") > out("a") && out("b") > out("c"))
  }

  test("hourlyAgg buckets by hour and type") {
    def ts(min: Int) = new Timestamp(min * 60000L)
    val events = Seq(
      (1L, ts(5), 1L, "a", 1.0), (2L, ts(50), 2L, "a", 2.0), (3L, ts(65), 1L, "b", 3.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val rows = Events.hourlyAgg(events)
      .select(col("hour").cast("string"), col("event_type"), col("n_events"), col("sum_value"))
      .as[(String, String, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(rows.length == 2)
    assert(rows(0) == ("1970-01-01 00:00:00", "a", 2L, 3.0))
    assert(rows(1) == ("1970-01-01 01:00:00", "b", 1L, 3.0))
  }

  test("funnel counts users per step, strictly in order") {
    def ts(min: Int) = new Timestamp(min * 60000L)
    val events = Seq(
      // user 1: full ordered funnel
      (1L, ts(0), 1L, "view", 0.0), (2L, ts(1), 1L, "click", 0.0), (3L, ts(2), 1L, "buy", 0.0),
      // user 2: view only
      (4L, ts(0), 2L, "view", 0.0),
      // user 3: click BEFORE view — click must not count
      (5L, ts(0), 3L, "click", 0.0), (6L, ts(1), 3L, "view", 0.0),
      // user 4: never enters (no view)
      (7L, ts(0), 4L, "buy", 0.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = Events.funnel(events, col("event_type"), Seq("view", "click", "buy"))
      .select("step_index", "step", "n_users").as[(Int, String, Long)]
      .collect().sortBy(_._1)
    assert(out.toSeq == Seq((1, "view", 3L), (2, "click", 1L), (3, "buy", 1L)))
  }

  test("funnel step names with embedded quotes AND backslashes survive the stack() literal") {
    def ts(min: Int) = new Timestamp(min * 60000L)
    // The backslash step is the sharp edge: Spark SQL string literals
    // process backslash escapes, so an unescaped "a\nb" step name would be
    // silently mangled into a newline (or break the parse on a trailing \).
    val tricky = "add'l\\nstep\\"
    val events = Seq(
      (1L, ts(0), 1L, "view", 0.0), (2L, ts(1), 1L, tricky, 0.0),
      (3L, ts(0), 2L, "view", 0.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = Events.funnel(events, col("event_type"), Seq("view", tricky))
      .select("step_index", "step", "n_users").as[(Int, String, Long)]
      .collect().sortBy(_._1)
    assert(out.toSeq == Seq((1, "view", 2L), (2, tricky, 1L)))
  }

  test("catalogCounts rule names with quotes and backslashes survive the stack() literal") {
    val df = Seq((1, "x"), (2, null)).toDF("id", "v")
    val rules = Seq(
      graft.operators.Quality.Rule("null'v \\rule", col("v").isNull),
      graft.operators.Quality.Rule("neg\\id", col("id") < 0))
    val out = graft.operators.Quality.catalogCounts(df, rules, "e")
      .as[(String, String, Long)].collect().sortBy(_._2)
    assert(out.toSeq == Seq(("e", "neg\\id", 0L), ("e", "null'v \\rule", 1L)))
  }

  test("cohortRetention grids distinct active users by cohort week and offset") {
    def ts(day: Int) = new Timestamp(day * 86400000L)
    // Jan 1 1970 is a Thursday; week boundary (Monday) falls on day 4.
    val events = Seq(
      (1L, ts(0), 1L, "a", 0.0),  // u1 cohort week0, active week0
      (2L, ts(5), 1L, "a", 0.0),  // u1 active week1
      (3L, ts(1), 2L, "a", 0.0),  // u2 cohort week0, active week0
      (4L, ts(5), 3L, "a", 0.0)   // u3 cohort week1, active week1 (offset 0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = Events.cohortRetention(events)
      .select(col("cohort_week").cast("string"), col("week_offset"), col("n_active"))
      .as[(String, Int, Long)].collect().sortBy(r => (r._1, r._2))
    assert(out.toSeq == Seq(
      ("1969-12-29 00:00:00", 0, 2L),  // u1+u2 in week0
      ("1969-12-29 00:00:00", 1, 1L),  // u1 retained into week1
      ("1970-01-05 00:00:00", 0, 1L))) // u3's own cohort
  }

  test("Tables.events normalizes both ts encodings to session-zone TIMESTAMP") {
    import org.apache.spark.sql.types.{TimestampType, TimestampNTZType}
    // TIMESTAMP(MICROS, isAdjustedToUTC=false): written by Spark as NTZ —
    // the encoding the driver's testdata ships as of round 9
    val ntzDir = SparkSpec.tempDir("graft_ev_ntz").toString
    Seq((1L, "2024-06-01 10:30:00", 7L, "click", 1.0, "{}"))
      .toDF("event_id", "s", "user_id", "event_type", "value", "props")
      .select(col("event_id"), col("s").cast(TimestampNTZType).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$ntzDir/events.parquet")
    val ntz = Tables.events(spark, ntzDir)
    assert(ntz.schema("ts").dataType == TimestampType)
    assert(ntz.select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
      .as[String].head == "2024-06-01 10:30:00")

    // TIMESTAMP(NANOS) arrives as long under nanosAsLong=true; emulate with
    // a raw long ts column and check the div-1000 micros conversion
    val nanosDir = SparkSpec.tempDir("graft_ev_ns").toString
    val epochNanos = 1717237800L * 1000000000L // 2024-06-01T10:30:00Z
    Seq((1L, epochNanos, 7L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$nanosDir/events.parquet")
    val ns = Tables.events(spark, nanosDir)
    assert(ns.schema("ts").dataType == TimestampType)
    assert(ns.select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
      .as[String].head == "2024-06-01 10:30:00")
  }

  test("Tables.events reads a GENUINE TIMESTAMP(NANOS) parquet file end-to-end") {
    // Spark cannot write TIMESTAMP(NANOS), so the raw-long test above only
    // exercises the div-1000 branch. Build a real NANOS file with
    // parquet-java's example writer — annotated int64 ts, the encoding the
    // driver's early testdata actually shipped — and read it through
    // Tables.events, covering the spark.sql.legacy.parquet.nanosAsLong
    // read path (NANOS arrives as LongType) plus the micros conversion.
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
    import org.apache.parquet.schema.MessageTypeParser
    import org.apache.spark.sql.types.TimestampType
    val dir = SparkSpec.tempDir("graft_ev_real_ns").toString
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 event_id;
        |  required int64 ts (TIMESTAMP(NANOS,true));
        |  required int64 user_id;
        |  required binary event_type (STRING);
        |  required double value;
        |  required binary props (STRING);
        |}""".stripMargin)
    val conf = new org.apache.hadoop.conf.Configuration()
    GroupWriteSupport.setSchema(schema, conf)
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withConf(conf).withType(schema).build()
    val f = new SimpleGroupFactory(schema)
    // 10:30:00.000000001Z — the sub-microsecond nanosecond exercises the
    // truncation (testdata has none, but the read path must not throw)
    val nanos = 1717237800L * 1000000000L + 1L
    writer.write(f.newGroup()
      .append("event_id", 1L).append("ts", nanos).append("user_id", 7L)
      .append("event_type", "click").append("value", 1.0).append("props", "{}"))
    writer.close()
    val ev = Tables.events(spark, dir)
    assert(ev.schema("ts").dataType == TimestampType)
    assert(ev.select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
      .as[String].head == "2024-06-01 10:30:00")
    assert(ev.select(col("event_type")).as[String].head == "click")
  }
}
