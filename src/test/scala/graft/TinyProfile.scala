package graft

import org.apache.spark.sql.SparkSession

/** Dev-only profiler for the tiny-query floor (~0.17 s/query over the
  * ~178 sub-0.3 s bench entries = ~30 s of the sf0.1 bench): break a
  * representative tiny query's wall time into build (DataFrame
  * construction = analysis), optimization+planning (tracker phases),
  * codegen compilation (CodegenMetrics histogram delta), and raw job
  * execution (a fresh re-build + re-count of the SAME query, which
  * hits the codegen source cache — the difference is compile + first-
  * touch cost the bench pays once per unique plan).
  *
  * Two modes:
  *  - `sbt "Test/runMain graft.TinyProfile q_scan_csv q_fn_cond ..."` —
  *    per-query phase breakdown (3 reps each).
  *  - `SPARK_GRAFT_TINY_TIER=1 sbt "Test/runMain graft.TinyProfile"` — time
  *    the whole tiny tier (every bench_closing.json id < 0.3 s) once
  *    in bench order, total printed; combine with
  *    SPARK_GRAFT_TINY_CONF="k=v;k2=v2" to A/B a conf against the
  *    tier without a rebuild.
  */
object TinyProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    sys.env.get("SPARK_GRAFT_TINY_CONF").foreach(_.split(";")
      .filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2); builder.config(k, v)
      })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(2000000L).selectExpr("sum(id)").collect()
    try ops.Extras.warm(spark, sfDir) catch { case _: Throwable => () }

    val compHist = org.apache.spark.metrics.source
      .CodegenMetrics.METRIC_COMPILATION_TIME

    if (sys.env.contains("SPARK_GRAFT_TINY_TIER")) {
      // mirror Bench's accounting: shared fixpoints are warmed before
      // the timed loop, so a tiny fixpoint-consumer's number is its
      // query-local cost, not the shared build
      Fixpoints.warmAll(spark, sfDir)
      try ops.Scale.warm(spark, sfDir) catch { case _: Throwable => () }
      // whole-tier A/B: every id under 0.3 s in the committed closing
      // bench, run once each in bench (alphabetical) order
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("bench_closing.json")), "UTF-8")
      val entry = """"(q_[a-z0-9_]+)"\s*:\s*([0-9.]+)""".r
      val tiny = entry.findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2).toDouble)
        .filter { case (k, v) => v < 0.3 && !k.startsWith("q_stream") }
        // bench_closing.json carries queries + pass1 + pass2 maps since
        // the min-of-two protocol — dedupe or every id runs three times
        .map(_._1).toSeq.distinct.sorted
        .filter(SparkEntry.queries.contains)
      val t0 = System.nanoTime()
      val c0 = compHist.getCount
      val times = tiny.map { id =>
        val q0 = System.nanoTime()
        SparkEntry.queries(id)(spark, sfDir).count()
        id -> (System.nanoTime() - q0) / 1e9
      }
      val total = (System.nanoTime() - t0) / 1e9
      println(f"[tiny] tier n=${tiny.size} total=$total%.1f s " +
        f"mean=${total / tiny.size}%.3f s compilations=${compHist.getCount - c0}")
      times.sortBy(-_._2).take(10).foreach { case (id, t) =>
        println(f"[tiny]   slowest $id $t%.3f s") }
      spark.stop()
      return
    }

    val ids = if (args.nonEmpty) args.toSeq
      else Seq("q_scan_csv", "q_fn_cond", "q_join_broadcast")
    ids.foreach { id =>
      (1 to 3).foreach { rep =>
        val c0 = compHist.getCount
        val m0 = compHist.getSnapshot.getMean * c0
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(id)(spark, sfDir)
        val tBuild = (System.nanoTime() - t0) / 1e6
        val t1 = System.nanoTime()
        df.count()
        val tExec = (System.nanoTime() - t1) / 1e6
        val c1 = compHist.getCount
        val m1 = compHist.getSnapshot.getMean * c1
        val phases = df.queryExecution.tracker.phases.map { case (k, v) =>
          s"$k=${v.endTimeMs - v.startTimeMs}ms"
        }.mkString(" ")
        println(f"[tiny] $id rep$rep build=$tBuild%.0fms exec=$tExec%.0fms " +
          f"compile_n=${c1 - c0} compile_ms~=${(m1 - m0)}%.0f  $phases")
      }
    }
    spark.stop()
  }
}
