package graft

import org.apache.spark.sql.SparkSessionExtensions

/** graft's SQL functions and as-of planner hooks reach a session one
  * way: one list in `GraftExtensions`, injected by the extension and
  * installed on live sessions by `Tables.configure`. */
class GraftExtensionsSpec extends SparkSuite {

  test("the extension injects exactly the install list") {
    val injected = scala.collection.mutable.ArrayBuffer[String]()
    val ext = new SparkSessionExtensions {
      override def injectFunction(f: FunctionDescription): Unit = {
        injected += f._1.funcName
        super.injectFunction(f)
      }
    }
    new GraftExtensions()(ext)
    assert(injected.toSeq === GraftExtensions.sqlFunctions.map(_._1.funcName))
    assert(injected.toSet === Set("float_dot", "double_dot", "float_l2q",
      "lsh_bands_text", "minhash_sets_text", "bloom_filter_agg",
      "might_contain"))
  }

  test("configure installs the functions and hooks on a bare session") {
    val child = spark.newSession()
    Tables.configure(child)
    val r = child.sql(
      """SELECT
           float_l2q(array(CAST(1 AS FLOAT), CAST(2 AS FLOAT)),
                     array(CAST(1 AS FLOAT), CAST(0 AS FLOAT))) AS d2p,
           might_contain(
             (SELECT bloom_filter_agg(id, 100L, 1024L) FROM range(10)),
             3L) AS hit""").head()
    assert(r.getLong(0) === 4000000000000L)
    assert(r.getBoolean(1))
    assert(child.experimental.extraStrategies.contains(plans.AsofJoinStrategy))
    assert(child.experimental.extraOptimizations
      .contains(plans.AsofJoinFilterPushdown))
  }
}
