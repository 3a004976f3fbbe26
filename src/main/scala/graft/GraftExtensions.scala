package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension installing graft's native Catalyst functions and
  * optimizer rules. Wire up with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")`
  * on the session builder — the public injection point, no internal
  * registry APIs. Currently registers:
  *
  *  - `graft_dot(a, b)`: codegen'd double-array dot product
  *    ([[graft.functions.DotProduct]]).
  *  - `graft_gk_quantile(v, eps, phis)`: Greenwald–Khanna ε-quantile
  *    sketch as a TypedImperativeAggregate — map-side partial sketches,
  *    sketch-sized shuffle, merge-order-independent error bound
  *    ([[graft.functions.GkQuantile]]).
  *  - `graft_shingles(text, k)`: codegen'd table-valued GENERATOR
  *    emitting distinct word k-grams with the per-doc set size — the
  *    UDTF tier ([[graft.functions.ShingleGenerator]]).
  *  - [[graft.plans.BandJoinRewrite]]: rewrites `abs(l − r) <= δ`
  *    inner-join conditions into bucket-explode equi-joins, so the
  *    naive band-join predicate never executes as a nested loop.
  *  - [[graft.plans.AsOfJoinStrategy]]: plans the [[graft.plans.AsOfJoin]]
  *    logical node to the merge-scan [[graft.plans.AsOfJoinExec]] — the
  *    full custom-operator tier (LogicalPlan + Strategy + SparkPlan).
  *
  * It also gives the context the session is built on the process-free
  * `file:` filesystem ([[graft.io.LocalFs]]): every engine session
  * passes through here, before any `file:` filesystem is cached.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // Spark applies extensions once the session's context is active;
    // `getActive` is package-private, and `getOrCreate()` would make a
    // context where none is being built.
    SparkContext.getClass.getMethod("getActive").invoke(SparkContext)
      .asInstanceOf[Option[SparkContext]]
      .foreach(sc => graft.io.LocalFs.install(sc.hadoopConfiguration))
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[graft.functions.DotProduct].getName,
        "graft_dot"),
      (children: Seq[Expression]) =>
        graft.functions.DotProduct(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_gk_quantile"),
      new ExpressionInfo(classOf[graft.functions.GkQuantile].getName,
        "graft_gk_quantile"),
      (children: Seq[Expression]) =>
        graft.functions.GkQuantile(children(0), children(1), children(2))
          .toAggregateExpression()))
    ext.injectFunction((
      FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[graft.functions.ShingleGenerator].getName,
        "graft_shingles"),
      (children: Seq[Expression]) =>
        graft.functions.ShingleGenerator(children(0), children(1))))
    ext.injectOptimizerRule(_ => graft.plans.BandJoinRewrite)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}
