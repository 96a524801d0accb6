package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** SparkSessionExtensions entry point: library users can load graft's
  * SQL functions and as-of join planner hooks with
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * or SparkSession.builder().withExtensions(new GraftExtensions).
  * Program sessions need neither: `Tables.configure` calls
  * [[GraftExtensions.install]], which puts the same functions and hooks
  * on a session that already exists. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.sqlFunctions.foreach(ext.injectFunction)
    // whole-operator extension: the native as-of join planner strategy
    // (graft.plans.AsofJoin logical node → AsofJoinExec) plus the
    // filter-pushdown rule Catalyst can't apply to an unknown node
    ext.injectPlannerStrategy(_ => plans.AsofJoinStrategy)
    ext.injectOptimizerRule(_ => plans.AsofJoinFilterPushdown)
  }
}

object GraftExtensions {
  private def fn(name: String, cls: Class[_])(
      build: Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  /** Every SQL function graft adds. `bloom_filter_agg` and
    * `might_contain` expose Spark's own runtime-filter expressions, so a
    * pipeline can build and apply the sketch explicitly (pre-filtering a
    * probe side before its shuffle); the analyzer wraps the aggregate in
    * an AggregateExpression, as it does for built-ins. */
  val sqlFunctions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    fn("float_dot", classOf[functions.FloatDot])(
      e => functions.FloatDot(e(0), e(1))),
    fn("double_dot", classOf[functions.DoubleDot])(
      e => functions.DoubleDot(e(0), e(1))),
    fn("float_l2q", classOf[functions.FloatL2Q])(
      e => functions.FloatL2Q(e(0), e(1))),
    fn("lsh_bands_text", classOf[functions.LshBandsText])(
      functions.LshBandsText.build),
    fn("minhash_sets_text", classOf[functions.MinhashSetsText])(
      functions.MinhashSetsText.build),
    fn("bloom_filter_agg", classOf[BloomFilterAggregate])(
      e => new BloomFilterAggregate(e(0), e(1), e(2))),
    fn("might_contain", classOf[BloomFilterMightContain])(
      e => BloomFilterMightContain(e(0), e(1))))

  /** Put [[sqlFunctions]] and the as-of planner hooks on a live session
    * (idempotent). */
  def install(spark: SparkSession): Unit = {
    val fr = spark.sessionState.functionRegistry
    sqlFunctions.foreach { case (id, info, build) =>
      fr.registerFunction(id, info, build)
    }
    val x = spark.experimental
    if (!x.extraStrategies.contains(plans.AsofJoinStrategy))
      x.extraStrategies = x.extraStrategies :+ plans.AsofJoinStrategy
    if (!x.extraOptimizations.contains(plans.AsofJoinFilterPushdown))
      x.extraOptimizations =
        x.extraOptimizations :+ plans.AsofJoinFilterPushdown
  }
}
