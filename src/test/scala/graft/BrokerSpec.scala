package graft

import java.sql.Timestamp

import graft.streaming.{Broker, FileTopicBroker, KafkaBroker}
import graft.streaming.EventStreaming.Event

/** The broker interface: producer → per-entity topic → consumer with
  * offset/ack semantics in the streaming checkpoint (the reference's
  * RabbitMQ contract, rabbitmq_client.py / producer.py / consumer.py). */
class BrokerSpec extends SparkSpec {

  private def ts(min: Int) = new Timestamp(86400000L + min * 60000L)
  private val schema = org.apache.spark.sql.Encoders.product[Event].schema

  test("two topics: routed publishes stay isolated and consume to separate raw zones") {
    import spark.implicits._
    val root = SparkSpec.tempDir("graft_broker").toFile.getAbsolutePath
    val broker = new FileTopicBroker(s"$root/q")

    // producer.py: each entity routes to its own queue
    broker.publish(Seq(
      Event(1, ts(1), 1, "customer_created", 1.0),
      Event(2, ts(2), 2, "customer_created", 2.0)).toDF(), "khach_hang")
    broker.publish(Seq(
      Event(10, ts(3), 1, "order_placed", 50.0)).toDF(), "dat_hang")

    val qC = broker.consume(spark, "khach_hang", schema,
      s"$root/raw/khach_hang", s"$root/cp/khach_hang", "run_b1")
    val qO = broker.consume(spark, "dat_hang", schema,
      s"$root/raw/dat_hang", s"$root/cp/dat_hang", "run_b1")
    try {
      qC.processAllAvailable(); qO.processAllAvailable()
      val c = spark.read.parquet(s"$root/raw/khach_hang")
      val o = spark.read.parquet(s"$root/raw/dat_hang")
      assert(c.select("event_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
      assert(o.select("event_id").as[Long].collect().toSeq == Seq(10L))
      // staged metadata names the topic (the consumer's queue tag)
      assert(c.select("_source").distinct().as[String].collect().toSeq
        == Seq("topic:khach_hang"))
      assert(o.select("_source").distinct().as[String].collect().toSeq
        == Seq("topic:dat_hang"))
    } finally { qC.stop(); qO.stop() }
  }

  test("replay after restart: the checkpoint is the ack ledger — committed messages are not re-delivered") {
    import spark.implicits._
    val root = SparkSpec.tempDir("graft_broker_rs").toFile.getAbsolutePath
    val broker = new FileTopicBroker(s"$root/q")

    broker.publish(Seq(Event(1, ts(1), 1, "a", 1.0)).toDF(), "khach_hang")
    broker.publish(Seq(Event(10, ts(2), 2, "b", 2.0)).toDF(), "dat_hang")
    val q1C = broker.consume(spark, "khach_hang", schema,
      s"$root/raw/c", s"$root/cp/c", "run_r1")
    val q1O = broker.consume(spark, "dat_hang", schema,
      s"$root/raw/o", s"$root/cp/o", "run_r1")
    q1C.processAllAvailable(); q1O.processAllAvailable()
    q1C.stop(); q1O.stop()

    // messages arrive while no consumer is running (queued durably),
    // including a replay of message 1 as a NEW file (at-least-once producer)
    broker.publish(Seq(
      Event(1, ts(1), 1, "a", 1.0),
      Event(2, ts(5), 3, "a", 3.0)).toDF(), "khach_hang")
    broker.publish(Seq(Event(11, ts(6), 4, "b", 4.0)).toDF(), "dat_hang")

    // restart with the SAME checkpoints: consumption resumes from the last
    // ack — already-committed files are skipped, queued files are delivered
    val q2C = broker.consume(spark, "khach_hang", schema,
      s"$root/raw/c", s"$root/cp/c", "run_r2")
    val q2O = broker.consume(spark, "dat_hang", schema,
      s"$root/raw/o", s"$root/cp/o", "run_r2")
    try {
      q2C.processAllAvailable(); q2O.processAllAvailable()
      val c = spark.read.parquet(s"$root/raw/c")
      // 1 from run_r1, then the broker-replayed 1 + new 2 from run_r2: the
      // raw zone is at-least-once (replays are a PRODUCER property; the
      // downstream dedupStream handles them) — but the run_r1 batch itself
      // must appear exactly once, proving the committed file wasn't re-read
      assert(c.where($"_run_id" === "run_r1").count() == 1)
      assert(c.where($"_run_id" === "run_r2").select("event_id")
        .as[Long].collect().sorted.toSeq == Seq(1L, 2L))
      val o = spark.read.parquet(s"$root/raw/o")
      assert(o.where($"_run_id" === "run_r1").select("event_id").as[Long].collect().toSeq == Seq(10L))
      assert(o.where($"_run_id" === "run_r2").select("event_id").as[Long].collect().toSeq == Seq(11L))
    } finally { q2C.stop(); q2O.stop() }
  }

  test("AMQP daemon: unacked messages are redelivered; acks are monotonic and idempotent") {
    val server = new graft.streaming.AmqpLite.Server
    try {
      val c = new graft.streaming.AmqpLite.Client("127.0.0.1", server.port)
      c.queueDeclare("q")
      c.queueDeclare("q") // idempotent declare (rabbitmq queue_declare)
      assert(c.basicPublish("q", "m1") == 1L)
      assert(c.basicPublish("q", "m2") == 2L)
      // fetch does NOT advance the committed offset (unacked => requeued)
      assert(c.fetch("q", "t", 10).map(_._2) == Vector("m1", "m2"))
      // a crashed consumer: connection drops with no ack — a NEW connection
      // under the same tag is redelivered both messages
      c.close()
      val c2 = new graft.streaming.AmqpLite.Client("127.0.0.1", server.port)
      assert(c2.fetch("q", "t", 10).map(_._2) == Vector("m1", "m2"))
      // bounded fetch respects max (the prefetch-window discipline)
      assert(c2.fetch("q", "t", 1).map(_._2) == Vector("m1"))
      assert(c2.basicAck("q", "t", 2L) == 2L)
      assert(c2.fetch("q", "t", 10).isEmpty)
      // replayed / backward ack can never rewind the ledger
      assert(c2.basicAck("q", "t", 1L) == 2L)
      // over-ack clamps to the log end
      assert(c2.basicAck("q", "t", 99L) == 2L)
      // an independent consumer tag has its own ledger over the same queue
      assert(c2.fetch("q", "t2", 10).map(_._2) == Vector("m1", "m2"))
      assert(c2.committed("q", "t") == 2L && c2.committed("q", "t2") == 0L)
      c2.close()
    } finally server.close()
  }

  test("live-broker path: socket produce → drain → ack; restart skips committed; parity with FileTopicBroker") {
    import spark.implicits._
    val root = SparkSpec.tempDir("graft_amqp").toFile.getAbsolutePath
    val server = new graft.streaming.AmqpLite.Server
    try {
      val broker = new graft.streaming.AmqpLite.AmqpBroker("127.0.0.1", server.port)
      val batch1 = Seq(
        Event(1, ts(1), 1, "customer_created", 1.0),
        Event(2, ts(2), 2, "customer_created", 2.0),
        Event(3, ts(3), 3, "order_placed", 3.0))
      // produce from EXECUTORS: 2 partitions = 2 broker connections
      broker.publish(batch1.toDF().repartition(2), "khach_hang")
      val n1 = broker.drainTo(spark, "khach_hang", schema, "raw_loader",
        s"$root/raw", "run_a1")
      assert(n1 == 3)
      // messages queued while the consumer is offline
      broker.publish(Seq(Event(4, ts(4), 4, "order_placed", 4.0)).toDF(), "khach_hang")
      // consumer RESTART (same tag): the daemon's ack ledger — not any
      // local state — guarantees only the unacked message is delivered
      val n2 = broker.drainTo(spark, "khach_hang", schema, "raw_loader",
        s"$root/raw", "run_a2")
      assert(n2 == 1)
      // nothing pending after ack
      assert(broker.drainTo(spark, "khach_hang", schema, "raw_loader",
        s"$root/raw", "run_a3") == 0)
      val raw = spark.read.parquet(s"$root/raw")
      assert(raw.where($"_run_id" === "run_a1").select("event_id")
        .as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
      assert(raw.where($"_run_id" === "run_a2").select("event_id")
        .as[Long].collect().toSeq == Seq(4L))
      // parity with the FileTopicBroker transport: same rows in, same raw-
      // zone shape out (staged metadata columns + _source naming)
      val fb = new FileTopicBroker(s"$root/q")
      fb.publish((batch1 :+ Event(4, ts(4), 4, "order_placed", 4.0)).toDF(), "khach_hang")
      val q = fb.consume(spark, "khach_hang", schema,
        s"$root/raw_fb", s"$root/cp_fb", "run_fb")
      try q.processAllAvailable() finally q.stop()
      val fraw = spark.read.parquet(s"$root/raw_fb")
      assert(raw.columns.sorted.toSeq == fraw.columns.sorted.toSeq)
      assert(raw.select("_source").distinct().as[String].collect().toSeq
        == Seq("topic:khach_hang"))
      val key = (df: org.apache.spark.sql.DataFrame) =>
        df.select("event_id", "event_type", "value")
          .as[(Long, String, Double)].collect().toSet
      assert(key(raw) == key(fraw))
    } finally server.close()
  }

  test("transport flag: forUri picks the Kafka wiring or the file-topic queue") {
    assert(Broker.forUri("kafka:broker1:9092,broker2:9092").isInstanceOf[KafkaBroker])
    assert(Broker.forUri("/data/queues").isInstanceOf[FileTopicBroker])
    // the Kafka transport is compile-checked wiring: constructing it (and
    // its JSON encode plan on the publish side) must not require a broker
    val k = new KafkaBroker("localhost:9092")
    assert(k != null)
    // option mapping: the kafka: prefix strips into the bootstrap servers
    // the publish/subscribe wiring hands to the connector verbatim
    assert(Broker.forUri("kafka:b1:9092,b2:9092")
      .asInstanceOf[KafkaBroker].bootstrapServers == "b1:9092,b2:9092")
  }

  test("Kafka serialization parity: encode-decode round trip is the identity and matches the file transport (VERDICT r17 #5)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // mixed types a staging row actually carries: long, string with JSON
    // metacharacters, negative double, nullable timestamp, nullable string
    val df = Seq(
      (1L, "click", 2.5, Option("2026-01-01 08:30:00"), Option("plain")),
      (2L, "view", -0.25, Option("2026-01-02 09:00:00"), None),
      (3L, "bu\"y\\,:{}", 0.0, None, Option("q\"uo\\ted")))
      .toDF("event_id", "event_type", "value", "ts_s", "note")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    def key(d: org.apache.spark.sql.DataFrame)
        : Set[(Long, String, Double, Option[String], Option[java.sql.Timestamp])] =
      d.select(col("event_id"), col("event_type"), col("value"),
        col("note"), col("ts"))
        .as[(Long, String, Double, Option[String], Option[java.sql.Timestamp])]
        .collect().toSet
    val want = key(df)
    // 1) the wire payload is exactly ONE string column named value
    val enc = graft.streaming.KafkaBroker.encode(df)
    assert(enc.schema.fields.map(f => (f.name, f.dataType.typeName)).toSeq ==
      Seq(("value", "string")))
    // 2) decode(encode(df)) is the identity under the caller's schema —
    // the broker-less proof of the Kafka value round trip (nulls survive
    // to_json's omit-null-fields default; timestamps survive the ISO form)
    val dec = graft.streaming.KafkaBroker.decode(enc, df.schema)
    assert(dec.columns.toSeq == df.columns.toSeq)
    assert(key(dec) == want)
    // 3) Kafka's value column is BINARY, not string — decode must accept
    // the bytes shape identically (the cast("string") seam)
    val decBin = graft.streaming.KafkaBroker.decode(
      enc.select(col("value").cast("binary").as("value")), df.schema)
    assert(key(decBin) == want)
    // 4) transport parity: the same rows through FileTopicBroker's parquet
    // queue read back row-identical to the Kafka-value round trip
    val root = SparkSpec.tempDir("kparity").toString
    val f = new FileTopicBroker(root)
    f.publish(df, "orders")
    assert(key(spark.read.parquet(f.topicDir("orders"))) == want)
  }
}
