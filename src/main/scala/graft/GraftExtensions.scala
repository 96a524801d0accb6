package graft

import org.apache.spark.sql.SparkSessionExtensions

/** SparkSessionExtensions entry point: library users can load graft's
  * custom expressions without calling registration helpers —
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * or SparkSession.builder().withExtensions(new GraftExtensions). Inside
  * this repo, query code registers functions lazily per session
  * (FloatDot.register), so the driver harness needs no special config. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("float_dot"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[functions.FloatDot].getName, "float_dot"),
        (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
          functions.FloatDot(exprs(0), exprs(1))))
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("double_dot"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[functions.DoubleDot].getName, "double_dot"),
        (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
          functions.DoubleDot(exprs(0), exprs(1))))
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("lsh_bands_text"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[functions.LshBandsText].getName, "lsh_bands_text"),
        (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
          functions.LshBandsText.build(exprs)))
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("minhash_sets_text"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[functions.MinhashSetsText].getName, "minhash_sets_text"),
        (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
          functions.MinhashSetsText.build(exprs)))
    // whole-operator extension: the native as-of join planner strategy
    // (graft.plans.AsofJoin logical node → AsofJoinExec) plus the
    // filter-pushdown rule Catalyst can't apply to an unknown node
    ext.injectPlannerStrategy(_ => plans.AsofJoinStrategy)
    ext.injectOptimizerRule(_ => plans.AsofJoinFilterPushdown)
  }
}
