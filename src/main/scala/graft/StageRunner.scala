package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, TimeoutException}

import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.StructType

import graft.sources.{IngestDiscovery, TableSwap}

/** The stage plumbing both pipelines share (the reference's RUN_ALL_STEPS
  * step_times/step_results report): timed stages, counted zone writes, and
  * zone read-backs, for one run writing zones under `outRoot`.
  *
  *  - `apply(stage)(body)` times one segment of a stage; `body` returns the
  *    segment's rows. Safe to call from [[Pipeline.inParallel]] threads.
  *  - `report` is one [[Pipeline.StageReport]] per stage that ran, in the
  *    order of `stages`: its rows summed over its segments, its seconds the
  *    length of the union of its segments' spans (its own wall, so
  *    overlapping stages can add up to more than the run's).
  *  - `write` commits a zone (`writePartition` one hive partition of it)
  *    through [[TableSwap.replace]], counts the rows written from the
  *    write's own `observe()` metric, never by re-reading the zone, and
  *    records the zone's schema.
  *  - `read` reads a zone this run wrote with the schema that wrote it: an
  *    inferring `spark.read.parquet` launches a footer-read job for a schema
  *    already known. Partition columns come back last, as Spark places them.
  */
private[graft] final class StageRunner(spark: SparkSession, outRoot: String,
                                       stages: Seq[String]) {

  // (stage, start ns, end ns, rows) per segment
  private val segments = new ConcurrentLinkedQueue[(String, Long, Long, Long)]()
  // zone path -> (schema, written rows)
  private val zones = new ConcurrentHashMap[String, (StructType, Long)]()

  def apply(stage: String)(body: => Long): Unit = {
    val t0 = System.nanoTime()
    val rows = body
    segments.add((stage, t0, System.nanoTime(), rows))
  }

  def report: Seq[Pipeline.StageReport] = {
    val byStage = segments.asScala.toSeq.groupBy(_._1)
    stages.flatMap(stage => byStage.get(stage).map { segs =>
      val (_, wall) = segs.sortBy(_._2).foldLeft((Long.MinValue, 0L)) {
        case ((reach, ns), (_, t0, t1, _)) =>
          (math.max(reach, t1), ns + math.max(0L, t1 - math.max(t0, reach)))
      }
      Pipeline.StageReport(stage, segs.map(_._4).sum, wall / 1e9)
    })
  }

  /** Rows `stage` has reported; throws if it has not run. */
  def rows(stage: String): Long = report.find(_.stage == stage)
    .getOrElse(throw new IllegalStateException(s"stage $stage has not run")).rows

  private def pathOf(zone: String, entity: String) = s"$outRoot/$zone/$entity"

  /** Replace the zone with `df`, written by `save(observedDf, path)` to the
    * path it is given; return the rows written. The observation event lands
    * asynchronously after the write; a lost one degrades to a read-back
    * count after 30 s. */
  def write(df: DataFrame, zone: String, entity: String,
            save: (DataFrame, String) => Unit = IngestDiscovery.writeNew(_, _)): Long =
    commit(df, zone, entity, pathOf(zone, entity), save)

  /** Replace only the zone's hive partition `column=value` with `df` (whose
    * rows all carry `value`), first recovering its other partitions from a
    * run killed mid-commit. Reads of the zone see `column` as a partition. */
  def writePartition(df: DataFrame, zone: String, entity: String,
                     column: String, value: String): Long = {
    TableSwap.recoverUnder(spark, pathOf(zone, entity))
    commit(df, zone, entity,
      s"${pathOf(zone, entity)}/${ExternalCatalogUtils.getPartitionPathString(column, value)}",
      (d, p) => IngestDiscovery.writeNew(d.drop(column), p))
  }

  private def commit(df: DataFrame, zone: String, entity: String, table: String,
                     save: (DataFrame, String) => Unit): Long = {
    val obs = Observation(s"$zone/$entity")
    TableSwap.replace(spark, table)(save(df.observe(obs, count(lit(1)).as("n")), _))
    val rows =
      try Await.result(obs.future, 30.seconds).getAs[Long]("n")
      catch { case _: TimeoutException =>
        spark.read.schema(df.schema).parquet(table).count()
      }
    zones.put(pathOf(zone, entity), (df.schema, rows))
    rows
  }

  private def zoneOf(zone: String, entity: String) = Option(zones.get(pathOf(zone, entity)))
    .getOrElse(throw new IllegalStateException(s"zone $zone/$entity not written by this run"))

  /** Rows this run wrote to the zone; throws if it has not written it. */
  def written(zone: String, entity: String): Long = zoneOf(zone, entity)._2

  def read(zone: String, entity: String): DataFrame =
    spark.read.schema(zoneOf(zone, entity)._1).parquet(pathOf(zone, entity))
}
