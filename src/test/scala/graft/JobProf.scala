package graft
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Throwaway: per-job wall breakdown for a handful of query ids. */
object JobProf {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        sys.env.getOrElse("SPARK_GRAFT_CACHE_AQE", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(2000000L).selectExpr("sum(id)").collect()
    // SPARK_GRAFT_WARM=1 reproduces Bench's warm-shared state, so
    // rep1 measures what the bench charges the query itself.
    if (sys.env.get("SPARK_GRAFT_WARM").contains("1")) {
      try ops.Scale.warm(spark, sfDir) catch { case _: Throwable => () }
      try ops.Extras.warm(spark, sfDir) catch { case _: Throwable => () }
      Fixpoints.warmAll(spark, sfDir)
    }

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int)]()
    val done = scala.collection.mutable.ArrayBuffer[(Int, Long, Long, Int)]()
    val lsn = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.put(e.jobId, (e.time, e.stageInfos.map(_.numTasks).sum))
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val st = jobs.remove(e.jobId)
        if (st != null) done.synchronized {
          done += ((e.jobId, st._1, e.time, st._2))
        }
      }
    }
    spark.sparkContext.addSparkListener(lsn)

    args.foreach { id =>
      (1 to 2).foreach { rep =>
        done.synchronized(done.clear())
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(id)(spark, sfDir)
        val tBuild = System.nanoTime()
        val n = df.count()
        val tEnd = System.nanoTime()
        Thread.sleep(200)
        val js = done.synchronized(done.sortBy(_._2).toSeq)
        val jobSum = js.map(j => j._3 - j._2).sum
        val gaps = js.sliding(2).collect {
          case Seq(a, b) => math.max(0L, b._2 - a._3)
        }.sum
        println(f"[prof] $id rep$rep rows=$n total=${(tEnd - t0) / 1e9}%.2f " +
          f"build=${(tBuild - t0) / 1e9}%.2f njobs=${js.size} " +
          f"jobSum=${jobSum / 1e3}%.2f interJobGaps=${gaps / 1e3}%.2f")
        js.foreach { case (jid, s, e, nt) =>
          println(f"[prof]   job$jid%3d ${(e - s) / 1e3.toDouble}%7.3f s tasks=$nt")
        }
      }
    }
    spark.stop()
  }
}
