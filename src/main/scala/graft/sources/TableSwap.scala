package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one way graft replaces a table it owns: every pipeline zone, fact,
  * shard and report ([[graft.StageRunner]], [[IngestDiscovery.writeZone]]),
  * every lake table [[graft.streaming.SketchFold.fold]] writes, the
  * [[graft.operators.AnnIndex]] root and [[Compaction]]'s rewrite. It
  * closes the window of delete-then-write `mode("overwrite")`, where a
  * crash could leave a PARTIAL table that readers take for whole (a sketch
  * already carrying the new `_bid`, a zone missing files) or no table.
  *
  * Protocol (two sibling dirs, `<path>.swap.tmp` and `<path>.swap.prev`;
  * every step is an atomic FileSystem rename or an idempotent write):
  *
  *  1. write the new table COMPLETELY to `.tmp` (a partial `.tmp` from an
  *     earlier crash is deleted first);
  *  2. retire the live dir: delete any stale `.prev`, rename live → `.prev`;
  *  3. rename `.tmp` → live;
  *  4. delete `.prev`.
  *
  * The only crash point that leaves the live dir missing is between steps
  * 2 and 3, where `.prev` holds the complete PRIOR table: [[recover]],
  * called before a read, renames it back. A crash after step 3 leaves the
  * new table live and at most a stale `.prev`, which the next replace
  * clears. A re-run of the interrupted writer therefore lands the same
  * table as a clean run. The live dir is renamed only after the write
  * completes, so the new table's plan may read it. Every probe goes
  * through the Hadoop FS of the path's own scheme. */
object TableSwap {

  /** The table's FS and its (live, tmp, prev) dirs; `Path` drops a
    * trailing slash, so the siblings never land inside the live dir. */
  private def dirs(s: SparkSession, path: String): (FileSystem, Path, Path, Path) = {
    val live = new Path(path)
    (live.getFileSystem(s.sparkContext.hadoopConfiguration), live,
      live.suffix(".swap.tmp"), live.suffix(".swap.prev"))
  }

  /** Roll back to the complete prior table if a crash between retire and
    * promote left the live dir missing. Call before any read. */
  private[graft] def recover(s: SparkSession, path: String): Unit = {
    val (f, live, _, prev) = dirs(s, path)
    if (!f.exists(live) && f.exists(prev)) {
      require(f.rename(prev, live), s"table swap recover: rename $prev -> $live failed")
    }
  }

  /** [[recover]] every table directly under `dir` (the partitions of a
    * partitioned zone) and drop their leftover swap siblings, which
    * partition discovery would read as partitions of their own. */
  private[graft] def recoverUnder(s: SparkSession, dir: String): Unit = {
    val (f, root, _, _) = dirs(s, dir)
    if (f.exists(root)) f.listStatus(root).map(_.getPath).foreach { c =>
      if (c.getName.endsWith(".swap.prev")) recover(s, c.toString.stripSuffix(".swap.prev"))
      if (c.getName.matches(".*\\.swap\\.(prev|tmp)")) f.delete(c, true)
    }
  }

  /** True iff a (recovered) table exists at `path`. */
  private[graft] def exists(s: SparkSession, path: String): Boolean = {
    recover(s, path)
    val (f, live, _, _) = dirs(s, path)
    f.exists(live)
  }

  /** Replace the table at `path` with what `write` writes to the path it
    * is given (`<path>.swap.tmp`, absent when `write` starts), under the
    * swap protocol. `write` must leave the new table complete. */
  private[graft] def replace(s: SparkSession, path: String)(write: String => Unit): Unit = {
    val (f, live, tmp, prev) = dirs(s, path)
    if (f.exists(tmp)) f.delete(tmp, true) // partial, from a crashed write
    write(tmp.toString) // step 1: full write
    if (f.exists(live)) {
      if (f.exists(prev)) f.delete(prev, true) // stale from a post-promote crash
      require(f.rename(live, prev), s"table swap: retire $live -> $prev failed")
    }
    require(f.rename(tmp, live), s"table swap: promote $tmp -> $live failed")
    if (f.exists(prev)) f.delete(prev, true)
  }
}
