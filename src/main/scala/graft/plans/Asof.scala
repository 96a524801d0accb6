package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.graftbridge.Bridge

/** Public entry for the native as-of join: resolves the key/time columns
  * against each side's analyzed plan and returns the joined DataFrame —
  * left columns followed by right columns (right side nullable). The
  * session plans it through the strategy and rule that
  * `GraftExtensions` installs (`Tables.configure` does so for every
  * session the program reads through). */
object Asof {
  def join(left: DataFrame, right: DataFrame,
      leftKey: String, leftTime: String,
      rightKey: String, rightTime: String,
      broadcastRight: Option[Boolean] = None): DataFrame = {
    val s = left.sparkSession
    val lp = Bridge.analyzed(left)
    val rp = Bridge.analyzed(right)
    def attr(p: LogicalPlan, n: String) =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"column $n not in ${p.output.map(_.name).mkString(", ")}"))
    Bridge.ofRows(s, AsofJoin(lp, rp,
      attr(lp, leftKey), attr(rp, rightKey),
      attr(lp, leftTime), attr(rp, rightTime), broadcastRight))
  }
}
