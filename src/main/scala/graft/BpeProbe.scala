package graft

import graft.operators.Bpe

/** Round-log probe for the DISTRIBUTED BPE merge carrier — the
  * > [[graft.operators.Bpe.DriverVocabBound]] branch that real corpora
  * only hit past ~1M distinct words, so the per-round bench never times
  * it. Forces the distributed loop over the sf documents table
  * (`driverVocabBound = 0`), asserts the dispatch actually took it, and
  * prints per-merge-round wall seconds plus the driver-kernel total on
  * the SAME corpus — the scale path's cost model, measured (VERDICT r16
  * #7). Usage: `tools/run.sh graft.BpeProbe <sfDir> [numMerges]`. */
object BpeProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val numMerges = if (args.length > 1) args(1).toInt else 16
    // Mirrors the library's argument guards (ADVICE r17): with zero
    // merge rounds the per-round stats below (rounds.min / median)
    // would throw an opaque UnsupportedOperationException instead.
    require(numMerges >= 1, s"BpeProbe: numMerges must be >= 1, got $numMerges")
    val spark = GraftSession.harness()

    val docs = Tables.documents(spark, sfDir)
    val (dist, distSec) = GraftSession.timed(Bpe.train(docs, "text", numMerges,
      memoize = false, driverVocabBound = 0L))
    require(Bpe.lastTrainCarrier == "distributed",
      s"expected the distributed carrier, took '${Bpe.lastTrainCarrier}'")
    val rounds = {
      import scala.jdk.CollectionConverters._
      Bpe.lastRoundSecs.asScala.map(_.doubleValue).toVector
    }
    def f(v: Double): String = f"$v%.2f"
    println(s"carrier=distributed merges=${dist.size} total_sec=${f(distSec)} " +
      s"rounds=[${rounds.map(f).mkString(",")}] " +
      s"round_min=${f(rounds.min)} round_med=${f(rounds.sorted.apply(rounds.size / 2))} " +
      s"round_max=${f(rounds.max)}")

    val (drv, drvSec) = GraftSession.timed(Bpe.train(docs, "text", numMerges, memoize = false))
    println(s"carrier=${Bpe.lastTrainCarrier} merges=${drv.size} total_sec=${f(drvSec)}")
    println(s"merge_lists_equal=${dist == drv}")
    spark.stop()
  }
}
