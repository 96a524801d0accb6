package graft
import org.apache.spark.sql.SparkSession

/** Throwaway: per-id A/B of the r14 memoized-count path (fresh
  * Dataset.count per run: analysis+optimization+planning re-paid)
  * vs the r15 PreparedCount path (analysis+optimization pinned,
  * physical planning + execution per run). Median of 5 after 1 warm. */
object PrepProf {
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
    def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    var sumOld = 0.0
    var sumNew = 0.0
    args.foreach { id =>
      val df = SparkEntry.queries(id)(spark, sfDir)
      val prep = org.apache.spark.sql.graftbridge.PreparedCount(df)
      df.count(); prep.run() // warm both paths once
      val old = (1 to 5).map { _ =>
        val t0 = System.nanoTime(); df.count(); (System.nanoTime() - t0) / 1e9
      }
      val nw = (1 to 5).map { _ =>
        val t0 = System.nanoTime(); prep.run(); (System.nanoTime() - t0) / 1e9
      }
      sumOld += med(old); sumNew += med(nw)
      println(f"[prep] $id%-28s old=${med(old)}%.3f new=${med(nw)}%.3f " +
        f"saved=${med(old) - med(nw)}%.3f")
    }
    println(f"[prep] TOTAL old=$sumOld%.2f new=$sumNew%.2f " +
      f"saved=${sumOld - sumNew}%.2f over ${args.length} ids")
    spark.stop()
  }
}
