package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.DotProduct

/** Session-extensions entry point — the library-grade way to install
  * graft's custom Catalyst surface on ANY session, including ones the
  * library never constructs (spark-submit, Thrift server, notebooks):
  *
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   // or programmatically:
  *   builder.withExtensions(new GraftExtensions)   // as graft.Session does
  *
  * Installs the codegen'd `dot_product` expression as a persistent-style
  * builtin (visible to pure SQL: `SELECT dot_product(a, b)`), the same
  * function the imperative VectorFunctions.register provides per-session
  * for the library's own entry points, plus the MergePercentiles
  * optimizer rule (N same-column percentiles → one sort buffer).
  * Extension-injected functions survive `spark.sql(...)` from any thread
  * and need no per-caller registration — the deployment shape for a
  * shared cluster. The library's own session (graft.Session) installs these
  * extensions too, so the custom Catalyst surface runs under the driver
  * correctness gate end-to-end.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // Optimizer depth: N same-column percentile aggregates → one
    // array-percentile buffer (see graft.plans.MergePercentiles).
    ext.injectOptimizerRule(_ => graft.plans.MergePercentiles)
    ext.injectFunction((
      new FunctionIdentifier("dot_product"),
      // Full 11-arg form — the only non-deprecated constructor that
      // carries a usage string (the 3-arg overload is (className, DB,
      // name); passing usage there would register it as the NAME).
      new ExpressionInfo(
        classOf[DotProduct].getName, null, "dot_product",
        "dot_product(a, b) - left-to-right double-fold dot product of two float/double arrays",
        "", "", "", "math_funcs", "", "", "scala_udf"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, s"dot_product expects 2 arguments, got ${exprs.length}")
        DotProduct(exprs.head, exprs(1))
      }))
  }
}
