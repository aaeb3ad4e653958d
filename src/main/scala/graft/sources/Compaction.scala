package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Small-file compaction — the lake-maintenance step every streaming zone
  * needs: micro-batch sinks (raw/clean/error zones, the dedup index) append
  * one file per trigger per partition, and a 100 TB lake tailed for a month
  * decays into millions of KB-sized files whose per-file open/footer costs
  * dominate scan time.
  *
  * `compact` rewrites a parquet directory into ceil(bytes / targetBytes)
  * files, sized from the ACTUAL on-disk footprint (no data scan to plan),
  * and commits the result through [[TableSwap]] (recovering, before it
  * reads, a directory a crashed compaction left retired but not promoted).
  * Uses `coalesce` (narrow — no shuffle: compaction must not pay a network
  * pass over the whole zone) unless the caller asks for `sortBy`, in which
  * case the rewrite range-partitions + sorts so downstream scans get
  * clustered data (one deliberate shuffle, the min-max-pruning trade).
  */
object Compaction {

  /** On-disk bytes and file count of a directory's parquet data files. */
  def footprint(spark: SparkSession, dir: String): (Long, Int) = {
    val p = new Path(dir)
    val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
    val files = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .filter(f => f.getPath.getName.endsWith(".parquet") && !f.getPath.getName.startsWith("."))
      .toSeq
    (files.map(_.getLen).sum, files.size)
  }

  /** Compact `dir` in place. Returns (filesBefore, filesAfter). NOTE:
    * rewrites the directory as a FLAT parquet table — for a hive-partitioned
    * zone, compact each leaf partition directory (that is also the unit a
    * maintenance job parallelizes over). */
  def compact(spark: SparkSession, dir: String, targetBytes: Long,
              sortBy: Seq[String] = Nil): (Int, Int) = {
    TableSwap.recover(spark, dir)
    val (bytes, before) = footprint(spark, dir)
    val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val df = spark.read.parquet(dir)
    val out =
      if (sortBy.isEmpty) df.coalesce(n)
      else df.repartitionByRange(n, sortBy.map(col): _*)
        .sortWithinPartitions(sortBy.map(col): _*)
    TableSwap.replace(spark, dir)(out.write.parquet(_))
    val (_, after) = footprint(spark, dir)
    (before, after)
  }
}
