package graft
import org.apache.spark.sql.SparkSession

/** Throwaway: break a PREPARED run (analysis/optimization/strategy
  * planning all pinned) into its remaining per-run parts:
  *   prep  = QueryExecution construction + executedPlan (preparation
  *           rules + AQE wrapper over the pinned clone)
  *   event = SQLExecution.withNewExecutionId bookkeeping (execution-id
  *           registration + SQLExecutionStart/End events incl. plan
  *           stringification + SparkPlanInfo walk)
  *   jobs  = executeCollect wall (scheduler + tasks + AQE stage loop)
  * Median of 7 after warm. If `jobs` dominates, the tiny-tier floor is
  * scheduler wall, not Catalyst — the r14 verdict's alternative done
  * bar for next-step #1. */
object ExecProf {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(2000000L).selectExpr("sum(id)").collect()
    if (sys.env.get("SPARK_GRAFT_WARM").contains("1")) {
      try ops.Scale.warm(spark, sfDir) catch { case _: Throwable => () }
      try ops.Extras.warm(spark, sfDir) catch { case _: Throwable => () }
      Fixpoints.warmAll(spark, sfDir)
    }
    // A/B: SPARK_GRAFT_PREPARED_MODE=off|force|auto routes through
    // PreparedCount's spark.graft.preparedNoAqe hatch
    sys.env.get("SPARK_GRAFT_PREPARED_MODE").foreach(m =>
      spark.conf.set("spark.graft.preparedNoAqe", m))
    def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    args.foreach { id =>
      val df = SparkEntry.queries(id)(spark, sfDir)
      val parts = org.apache.spark.sql.graftbridge.PreparedCount.profile(df)
      parts() // warm
      val reps = (1 to 7).map(_ => parts())
      val p = med(reps.map(_._1)); val e = med(reps.map(_._2))
      val j = med(reps.map(_._3))
      println(f"[exec] $id%-24s prep=${p * 1e3}%6.1fms event=${e * 1e3}%6.1fms " +
        f"jobs=${j * 1e3}%6.1fms total=${(p + e + j) * 1e3}%6.1fms")
    }
    spark.stop()
  }
}
