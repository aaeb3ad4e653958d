package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions._

/** SparkSessionExtensions installer exposing the native graft expressions to
  * SQL, so `spark.sql("SELECT graft_minhash(shingles, 128) ...")` works:
  *
  *   SparkSession.builder()
  *     .withExtensions(new GraftExtensions)   // or
  *     .config("spark.sql.extensions", "graft.GraftExtensions")
  *
  * [[GraftExtensions.register]] installs the same functions into an already
  * running session (the driver owns the session in this harness).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.definitions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    graft.plans.GraftOptimizations.rules.foreach(r => ext.injectOptimizerRule(_ => r))
  }
}

object GraftExtensions {
  private def info(name: String, usage: String) =
    new ExpressionInfo("graft.functions", name, usage)

  private def one(args: Seq[Expression]): Expression = args.head
  private def intArg(args: Seq[Expression], i: Int, default: Int): Int =
    if (args.length > i) args(i).eval(null).toString.toInt else default

  val definitions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("graft_minhash",
      info("graft_minhash", "graft_minhash(shingles array<string>[, numHashes]) -> array<bigint>"),
      args => MinHashSigExpr(one(args), intArg(args, 1, 128))),
    ("graft_simhash",
      info("graft_simhash", "graft_simhash(tokens array<string>) -> bigint"),
      args => SimHashExpr(one(args))),
    ("graft_shingles",
      info("graft_shingles", "graft_shingles(tokens array<string>, n) -> array<string>"),
      args => ShinglesExpr(one(args), intArg(args, 1, 3), distinct = true)),
    ("graft_cosine",
      info("graft_cosine", "graft_cosine(a array<double>, b array<double>) -> double"),
      args => CosineSimExpr(args(0), args(1))),
    // span/semantic-dedup building blocks (round-8 operators) for SQL users:
    // cut the span grid, assign nearest cells, verify with graft_cosine
    ("graft_spans",
      info("graft_spans",
        "graft_spans(tokens array<string>[, spanTokens]) -> array<string> (non-overlapping token spans)"),
      args => SpansExpr(one(args), intArg(args, 1, 20))),
    ("graft_nearest_cells",
      info("graft_nearest_cells",
        "graft_nearest_cells(vec array<double>, centroids array<array<double>>[, n]) -> array<int> (best-n cells by cosine, id = position)"),
      args => NearestCellsDynExpr(args(0), args(1), intArg(args, 2, 1))),
    // aggregates register like scalar functions — the builder returns the
    // AggregateFunction and the analyzer wraps it in an AggregateExpression
    ("graft_pq_encode",
      info("graft_pq_encode",
        "graft_pq_encode(vec array<double>, codebooks array<array<array<double>>>) -> array<int> (PQ codes: per-subspace L2 argmin)"),
      args => PqEncodeDynExpr(args(0), args(1))),
    ("graft_misra_gries",
      info("graft_misra_gries",
        "graft_misra_gries(item string[, capacity]) -> array<struct<item,est>> (frequent-items sketch)"),
      args => MisraGriesAgg(one(args), intArg(args, 1, 64))),
    ("graft_top_k_pairs",
      info("graft_top_k_pairs",
        "graft_top_k_pairs(struct<ord double, id>, k) -> array<struct<ord,id>> (bounded per-group top-k)"),
      args => TopKPairsAgg(args(0), intArg(args, 1, 10))),
    ("graft_cov_outer_sum",
      info("graft_cov_outer_sum",
        "graft_cov_outer_sum(vec array<double>) -> array<struct<i,j,n_vecs,cov,mean>> (fixed-buffer covariance matrix; mean is the pair's first-component mean)"),
      args => CovOuterSumAgg(one(args))))

  /** Install into a live session (runtime FunctionRegistry). */
  def register(spark: SparkSession): Unit =
    definitions.foreach { case (name, i, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(FunctionIdentifier(name), i, builder)
    }
}
