package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Input discovery and staged reading.
  *
  * Re-expresses the reference's CSV auto-discovery
  * (etl/discovery/csv_discovery.py:16-50: glob the data dir, infer entity
  * type from the filename stem, assign a staging target) and the staged
  * reader's metadata contract (STEP2_RAW_CONSUMER.py: each raw-zone row
  * carries `_source`, `_extract_time`, `_run_id`).
  *
  * Discovery is metadata work (file listings), so it runs on the driver; the
  * data path stays fully distributed (`spark.read` on the discovered files).
  */
object IngestDiscovery {

  // Known stem → entity mappings (csv_discovery.py:55-75's explicit table),
  // covering both the reference's Vietnamese names and this repo's testdata.
  private val KnownEntities = Map(
    "khachhang" -> "khach_hang", "khach_hang" -> "khach_hang",
    "nguyenlieu" -> "nguyen_lieu", "nguyen_lieu" -> "nguyen_lieu",
    "loaisanpham" -> "loai_mon", "loai_mon" -> "loai_mon",
    "tensanpham" -> "mon", "mon" -> "mon",
    "dathang" -> "dat_hang", "dat_hang" -> "dat_hang",
    "lineitem" -> "line_item", "orders" -> "order", "customer" -> "customer",
    "supplier" -> "supplier", "part" -> "part", "nation" -> "nation",
    "region" -> "region", "events" -> "event", "documents" -> "document",
    "embeddings" -> "embedding")

  /** Infer an entity type from a file stem (csv_discovery.py:52-78): strip
    * `_tbl`/`_data` suffixes, look up known names, else pass through. */
  def inferEntityType(stem: String): String = {
    val base = stem.toLowerCase
      .stripSuffix("_tbl").stripSuffix("_data")
      .replaceAll("_[0-9]{8}_[0-9]{6}$", "") // run-id suffix, STEP3:83-90
    KnownEntities.getOrElse(base, base)
  }

  /** Discover ingestable files in a directory (parquet/csv), with inferred
    * entity types and staging targets. Deterministic: sorted by file name.
    * Lists through the Hadoop FS of `dir`'s own scheme, not the local disk. */
  def discover(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = (if (fs.exists(p) && fs.getFileStatus(p).isDirectory) fs.listStatus(p)
                 else Array.empty[FileStatus])
      .collect { case f if f.isFile => f.getPath.getName }
      .filter(n => n.endsWith(".parquet") || n.endsWith(".csv"))
      .map { n =>
        val stem = n.replaceAll("\\.(parquet|csv)$", "")
        val fmt = if (n.endsWith(".parquet")) "parquet" else "csv"
        (n, inferEntityType(stem), fmt, s"staging.${inferEntityType(stem)}_tbl")
      }
      .sortBy(_._1).toSeq
    files.toDF("file_name", "entity_type", "format", "staging_table")
  }

  /** Read a CSV with the reference reader's options (header, UTF-8 with BOM
    * tolerance, explicit schema — csv_staging_reader.py). */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .option("header", "true")
      .option("encoding", "UTF-8")
      .option("mode", "PERMISSIVE")
      .schema(schema)
      .csv(path)

  /** Replace a zone directory (`<root>/<zone>/<entity>`) with a DataFrame
    * in the given format — the clean/error/raw zone layout
    * (STEP3_QUALITY_ENGINE.py writes staging/clean and staging/error),
    * committed through [[TableSwap]]. */
  def writeZone(df: DataFrame, zoneRoot: String, zone: String, entity: String,
                format: String = "parquet"): String = {
    val path = s"$zoneRoot/$zone/$entity"
    TableSwap.replace(df.sparkSession, path)(writeNew(df, _, format))
    path
  }

  /** Write `df` as a new table at `path` (absent) in the given format; a
    * csv table gets a header row. */
  private[graft] def writeNew(df: DataFrame, path: String, format: String = "parquet"): Unit =
    df.write.format(format).option("header", format == "csv").save(path)

  /** Attach the raw-zone metadata columns (STEP2_RAW_CONSUMER.py's
    * `_source/_extract_time/_run_id`). `extractTime` is supplied by the
    * caller so reruns are reproducible (the reference stamps now()). */
  def staged(df: DataFrame, source: String, runId: String, extractTime: String): DataFrame =
    df.select(df.columns.toIndexedSeq.map(col) :+
      lit(source).as("_source") :+
      lit(runId).as("_run_id") :+
      to_timestamp(lit(extractTime)).as("_extract_time"): _*)
}
