package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Ckpt.CkptOps

import graft.operators.{Quality, Star}
import graft.sources.IngestDiscovery

/** End-to-end pipeline orchestrator — the Spark re-expression of the
  * reference's top-level entry point (RUN_ALL_STEPS.py: producer → raw
  * consumer → quality engine → transform & load, with per-step timing and a
  * run report; PIPELINE_DIRECT_LOAD.py is the broker-less variant this
  * mirrors).
  *
  * Stages:
  *  1. `stage_raw`   — read the sources, attach staged metadata
  *     (`_source/_run_id/_extract_time`), write the raw zone.
  *  2. `quality`     — rule-engine split; clean and error zones written
  *     (error rows carry `_errors` reasons).
  *  3. `transform_load` — the DWH build over the CLEAN zone: the SCD2
  *     customer dimension over all staged snapshots (create_dwh_tables
  *     .sql:21-41 — valid_from/valid_to/is_current with per-version
  *     surrogate keys), dim_date (:108-125), then star facts with
  *     broadcast dim lookups against the is_current slice: fact_orders
  *     (order grain) AND fact_lineitem (line grain, customer+part dims)
  *     — the reference's two-fact DWH shape (create_dwh_tables
  *     .sql:127-163) — both written partitioned by date_key.
  *  4. `report`      — per-zone stats and per-rule violation counts written
  *     under `report/` (dashboard.py:30-40's data source, as a sink).
  *
  * The run follows its data dependencies, not the stage numbering. After
  * `stage_raw`, the SCD2 customer dimension (reads only the raw customer
  * zone) and the part dimension (reads only the part source) build
  * alongside `quality`; `report` and `dim_date` (read only the clean and
  * error zones) start as soon as `quality` has written them; the two facts
  * run last. Stage timing, zone commits and row counts, and zone read-backs
  * go through [[StageRunner]], so every zone this run reads back is read
  * with the schema that wrote it and no metadata-only job runs.
  *
  * Returns the run report as a DataFrame: (stage, rows, seconds) — the
  * reference's step_times/step_results table, one row per stage in the
  * order above. `seconds` is the stage's own wall time: the span covered
  * by its work (for transform_load, the union of its four segments).
  * Stages overlap, so the seconds can add up to more than the run's wall
  * time.
  */
object Pipeline {

  final case class StageReport(stage: String, rows: Long, seconds: Double)

  /** Run independent Spark ACTIONS (zone writes to disjoint paths)
    * concurrently from driver threads — the optimization-guide §2.6
    * overlap: Spark's FIFO scheduler backfills executors freed by one
    * job's task tail with the next job's tasks, so two ~N-task writes
    * cost ~max instead of sum. Exceptions propagate (first one rethrown);
    * outputs are unchanged because the actions touch disjoint paths. */
  private[graft] def inParallel(tasks: (() => Unit)*): Unit = {
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = tasks.map { t =>
      val th = new Thread(() => try t() catch { case e: Throwable => errs.add(e) })
      th.setDaemon(true)
      th.start()
      th
    }
    threads.foreach(_.join())
    if (!errs.isEmpty) {
      // rethrow the first failure with any concurrent ones attached, so a
      // double zone-write failure keeps both diagnostics (ADVICE r19)
      val first = errs.poll()
      var next = errs.poll()
      while (next != null) { first.addSuppressed(next); next = errs.poll() }
      throw first
    }
  }

  def runAll(spark: SparkSession, sfDir: String, outRoot: String,
             runId: String, extractTime: String = "2026-01-01 00:00:00"): DataFrame = {
    import spark.implicits._
    val run = new StageRunner(spark, outRoot,
      Seq("stage_raw", "quality", "transform_load", "report"))

    // 1. stage raw: sources -> raw zone with staged metadata. Customer is
    // staged too and written partitioned by _run_id: each run replaces only
    // its own partition, so repeated runs ACCUMULATE snapshot history — the
    // incremental staging-load shape that feeds the SCD2 dimension
    // (re-running a run id is idempotent).
    // source reads ride Tables.spread (no-op on well-split sources): the
    // testdata tables ship as 1-3 row groups, so an unspread staged write
    // runs 3 tasks (measured 1.0 s for orders alone) AND leaves a 3-file
    // raw zone that under-parallelizes every downstream zone read — one
    // cheap shuffle of the staged rows buys full-width encode + scans
    val orders = IngestDiscovery.staged(
      Tables.spread(spark, sfDir, "orders", Tables.orders(spark, sfDir)),
      "parquet", runId, extractTime)
    val customer = IngestDiscovery.staged(
      Tables.spread(spark, sfDir, "customer", Tables.customer(spark, sfDir)),
      "parquet", runId, extractTime)
    val lineitem = IngestDiscovery.staged(
      Tables.spread(spark, sfDir, "lineitem", Tables.lineitem(spark, sfDir)),
      "parquet", runId, extractTime)
    run("stage_raw") {
      // three disjoint zone writes — overlapped (guide §2.6): the next
      // write's tasks backfill executors freed by the previous one's tail
      inParallel(
        () => run.write(orders, "raw", "orders"),
        () => run.writePartition(customer, "raw", "customer", "_run_id", runId),
        () => run.write(lineitem, "raw", "lineitem"))
      run.written("raw", "orders")
    }

    // 2. quality: rule engine over the raw zone -> clean/error zones
    val annotated = {
      val raw = run.read("raw", "orders")
      val (addRn, dupRule) = Quality.duplicateKeyRule("duplicate_key",
        col("o_orderkey"), Seq(col("_run_id")))
      val (addFk, fkRule) = Quality.fkRule("fk_customer", col("o_custkey"),
        customer, "c_custkey")
      val rules = Seq(
        Quality.Rule("null_custkey", col("o_custkey").isNull),
        fkRule,
        Quality.Rule("nonpositive_price", col("o_totalprice") <= 0),
        dupRule)
      Quality.annotate(addFk(addRn(raw)), rules)
        .drop("_rn_duplicate_key", "_fk_ok_fk_customer")
        // clean and error zones both consume the annotated table:
        // localCheckpoint runs the rule engine (window + FK broadcast)
        // once instead of once per zone write
        .ckptLocalLazy()
    }
    def quality(): Unit = run("quality") {
      val clean = run.write(Quality.cleanZone(annotated), "clean", "orders")
      run.write(Quality.errorZone(annotated), "error", "orders")
      clean
    }

    // 3. transform & load, in four segments. The three dimensions come
    // first. dim_customer is the SCD2
    // dimension over ALL staged snapshots (reference create_dwh_tables
    // .sql:21-41 — dim_khach_hang IS the SCD2 dim): unchanged snapshots are
    // dropped, each surviving version gets its own surrogate key (IDENTITY
    // analog: two-phase rank over the (key, valid_from) composite), and
    // validity is a lead() chain. It reads only the raw customer zone, so
    // it runs alongside the quality stage.
    val scdAttrs = Seq("c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    def dimCustomer(): Unit = run("transform_load") {
      val custSnaps = run.read("raw", "customer")
        .select(col("c_custkey") +: scdAttrs.map(col) :+ col("_extract_time").as("_snap"): _*)
      // dimension-sized: localCheckpoint materializes the SCD2 window
      // chain once — withSurrogateKey consumes `versions` three times
      // (pivot sample, distinct+rank chain, attribute join-back)
      val versions = Star.scd2(custSnaps, "c_custkey", scdAttrs, "_snap")
        .withColumn("_vk", concat_ws("|", col("c_custkey"),
          date_format(col("valid_from"), "yyyyMMddHHmmss")))
        .ckptLocal()
      run.write(Star.withSurrogateKey(versions, "_vk", "customer_key").drop("_vk"),
        "dwh", "dim_customer")
      0L
    }
    // The part dimension reads only the part source. It is materialized
    // alongside quality, so the line-grain fact's broadcast lookup reads a
    // checkpoint instead of re-running the rank chain on the facts'
    // critical path. The lazy val's initialization publishes it to the
    // facts' thread.
    lazy val dimPart = Star.withSurrogateKey(
      Tables.part(spark, sfDir).select(col("p_partkey")), "p_partkey", "part_key")
      .ckptLocal()
    def partDim(): Unit = run("transform_load") { dimPart; 0L }
    // dim_date over the clean fact's date domain
    // (create_dwh_tables.sql:108-125); its written row count feeds the
    // facts' layout hints.
    def dimDate(): Unit = run("transform_load") {
      run.write(Star.dimDate(run.read("clean", "orders"), "o_orderdate"), "dwh", "dim_date")
      0L
    }

    // The facts come last: both star facts over the clean
    // zone (order grain + line grain — the reference's two-fact DWH),
    // partitioned by date_key. Their row counts come from the writes
    // themselves: a count-back re-listed ~2,400 partition dirs per fact
    // (one listing task per dir) and re-read every footer, 2×5 s at sf0.1
    // and O(files) at any scale, for a number the write already knows.
    def facts(): Unit = run("transform_load") {
      val clean = run.read("clean", "orders")
      // Fact lookups resolve against the CURRENT version slice of the SCD2
      // dim — a fact loaded today points at today's version of the customer.
      val dimC = run.read("dwh", "dim_customer")
        .where(col("is_current")).select(col("c_custkey"), col("customer_key"))
      val dateKey = (year(col("o_orderdate")) * 10000 + month(col("o_orderdate")) * 100 +
        dayofmonth(col("o_orderdate"))).as("date_key")
      // ordersKeyed feeds BOTH facts (order grain directly, line grain via
      // the o_orderkey join): localCheckpoint materializes the dim-resolved
      // rows once, so the second fact neither re-scans the clean zone nor
      // re-runs the broadcast lookup — and the checkpoint's exact size lets
      // the planner pick the line-grain join strategy from real stats.
      val ordersKeyed = Star.lookupDim(
        clean.withColumnRenamed("o_custkey", "c_custkey"), dimC, "c_custkey", "customer_key")
        .ckptLocal()
      val factOrders = ordersKeyed
        .select(col("o_orderkey"), col("customer_key"), dateKey,
          col("o_totalprice"), col("o_orderstatus"))
      val line = run.read("raw", "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_linenumber"),
          col("l_partkey").as("p_partkey"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"))
        .join(ordersKeyed.select(col("o_orderkey"), col("customer_key"), col("o_orderdate")),
          Seq("o_orderkey"))
      val factLine = Star.lookupDim(line, dimPart, "p_partkey", "part_key")
        .select(col("o_orderkey").as("l_orderkey"), col("l_linenumber"),
          col("customer_key"), col("part_key"), dateKey,
          col("l_quantity").as("quantity"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      // Layout-granularity hints (guide §6, see writeFactPartitioned): the
      // fact row counts are ALREADY KNOWN without a new pass — fact_orders
      // is clean-grain (the quality stage's reported rows) and fact_lineitem
      // is raw-lineitem-grain (stage_raw's lineitem write counted it; an
      // upper bound of the written line grain); the date-domain size is the
      // dim_date write's row count. Layout is decided from DATA, never from
      // the core count, and costs no job.
      val days = math.max(1L, run.written("dwh", "dim_date"))
      def fact(df: DataFrame, entity: String, sortCol: String, rows: Long): () => Unit = () =>
        run.write(df, "dwh", entity, (d, path) =>
          Star.writeFactPartitioned(d, path, "date_key", sortCol, rows.toDouble / days))
      // the two fact writes are mutually independent (both consume the
      // materialized ordersKeyed checkpoint and written dims) and write
      // disjoint paths — overlapped (guide §2.6): ~max of the two
      // partitioned-write tails instead of their sum
      inParallel(
        fact(factOrders, "fact_orders", "o_orderkey", run.rows("quality")),
        fact(factLine, "fact_lineitem", "l_orderkey", run.written("raw", "lineitem")))
      run.written("dwh", "fact_orders") + run.written("dwh", "fact_lineitem")
    }

    // 4. report: per-zone stats + per-rule violations (the dashboard's
    // feed), derived from the zones ALREADY WRITTEN in stage 2 — the rule
    // engine (raw scan + FK broadcast join + duplicate-key window) must not
    // re-run per report query. It reads only the clean and error zones, so
    // it runs as soon as quality has written them, alongside dim_date and
    // the customer and part dimensions.
    def report(): Unit = run("report") {
      val cleanZ = run.read("clean", "orders").withColumn("_errors", lit(""))
      val errorZ = run.read("error", "orders")
      val zones = cleanZ.select(col("o_orderkey"), col("_errors"))
        .unionByName(errorZ.select(col("o_orderkey"), col("_errors")))
      inParallel( // disjoint report sinks — overlapped (guide §2.6)
        () => run.write(Quality.zoneStats(zones, "orders", "o_orderkey"), "report", "zone_stats"),
        () => run.write(Quality.ruleAudit(errorZ), "report", "rule_audit"))
      run.written("report", "zone_stats")
    }
    inParallel(
      () => { quality(); inParallel(() => report(), () => dimDate()) },
      () => dimCustomer(),
      () => partDim())
    facts()

    run.report.toDF()
  }
}
