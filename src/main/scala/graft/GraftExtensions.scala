package graft

import graft.functions.{MinHash64, SimHash64, VecDot, VecNormSq}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension point: installs graft's native functions into any
  * session built with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` or
  * `.withExtensions(new GraftExtensions)` — the deployment-grade
  * alternative to per-session `SimHash64.register`.
  *
  * The optimizer slots carry two rules. The materialized-view rewrite
  * ([[graft.plans.MatView.MvRewrite]]) is the one beyond-§2 capability
  * the built-in operators can't express (SURVEY §4, re-validated by
  * PlanSpec); it is inert unless a view is registered for the scanned
  * path. [[graft.plans.FinalSort]] picks a final sort's shape from the
  * measured input, as a runtime rule (AQE stage sizes) and a static one
  * (plans without stages).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(s => graft.plans.MatView.MvRewrite(s))
    e.injectOptimizerRule(s => graft.plans.FinalSort(s))
    e.injectRuntimeOptimizerRule(s => graft.plans.FinalSort(s))
    e.injectFunction((
      new FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (exprs: Seq[Expression]) => SimHash64(exprs.head)))
    e.injectFunction((
      new FunctionIdentifier("minhash64"),
      new ExpressionInfo(classOf[MinHash64].getName, "minhash64"),
      (exprs: Seq[Expression]) => MinHash64(exprs.head,
        exprs(1).eval(null).asInstanceOf[Int])))
    e.injectFunction((
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (exprs: Seq[Expression]) => VecDot(exprs.head, exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("vec_norm_sq"),
      new ExpressionInfo(classOf[VecNormSq].getName, "vec_norm_sq"),
      (exprs: Seq[Expression]) => VecNormSq(exprs.head)))
  }
}
