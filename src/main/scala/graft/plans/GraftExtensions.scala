package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions hook: registers the engine's native expressions
  * as SQL functions, so plain `spark.sql` pipelines (and any BI layer on
  * top) can call them without the Scala DSL. `graft.core.Engine.session`
  * installs it; another host sets
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  *
  *   spark.sql("SELECT graft_dot(a, b), graft_simhash60(hs) FROM t")
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // predicate rewrites (e.g. the Levenshtein length-band + banded-DP
    // threshold form) run with the operator-optimization batch
    ext.injectOptimizerRule(_ => LevenshteinGuard)
  }
}

object GraftExtensions {
  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "built-in")

  /** (identifier, info, builder) triples for the extension injection. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_dot"),
      info("graft_dot", "graft_dot(a, b) - dot product of two array<double>"),
      (args: Seq[Expression]) => DotProduct(args(0), args(1))),
    (FunctionIdentifier("graft_sorted_intersect_size"),
      info("graft_sorted_intersect_size",
        "graft_sorted_intersect_size(a, b) - |A∩B| of sorted array<bigint>"),
      (args: Seq[Expression]) => SortedIntersectSize(args(0), args(1))),
    (FunctionIdentifier("graft_simhash60"),
      info("graft_simhash60", "graft_simhash60(hs) - 60-bit simhash of token hashes"),
      (args: Seq[Expression]) => SimHash60(args(0))))
}
