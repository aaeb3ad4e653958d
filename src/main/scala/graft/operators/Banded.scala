package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The banded-candidate kernel behind every LSH band join (MinHash,
  * SimHash, decontamination, streaming dedup, cosine near-dup, margin
  * mining): explode each row's band keys, equi-join two banded tables on
  * (band_id, band_key), and hand the pairs back to the caller, which keeps
  * its own verify step and its own `distinct` placement. Pairs only ever
  * form inside a band bucket — never corpus × corpus.
  */
object Banded {

  /** One row per (row, band): the `carry` columns plus `band_id` (the
    * band's position in `keys`, an array of per-band keys) and `band_key`.
    * With `probeRadius` 1 the band key is replaced by every key within
    * hamming distance 1 of it (itself included, bit-string keys only), so
    * pairing a probed table against an exact one matches bands that differ
    * in at most one bit. */
  def band(rows: DataFrame, carry: Seq[Column], keys: Column,
           probeRadius: Int = 0): DataFrame = {
    val banded = rows.select(carry :+ posexplode(keys).as(Seq("band_id", "band_key")): _*)
    if (probeRadius == 0) banded
    else banded.withColumn("band_key",
      explode(graft.functions.NativeExprs.sigProbes(col("band_key"), probeRadius)))
  }

  /** Candidate pairs of two banded tables: rows sharing a (band_id,
    * band_key) bucket that also satisfy `pairPred`. The sides are aliased
    * `x` and `y`, so the predicate and the caller's select address columns
    * as `x.<name>` / `y.<name>`. A row pair that shares several bands
    * appears once per shared band. */
  def pairs(x: DataFrame, y: DataFrame, pairPred: Column = lit(true)): DataFrame =
    x.as("x").join(y.as("y"),
      col("x.band_id") === col("y.band_id") &&
      col("x.band_key") === col("y.band_key") && pairPred)
}
