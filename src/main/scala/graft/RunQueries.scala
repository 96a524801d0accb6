package graft

/** Dev loop: run a subset of registered queries at one sf dir, dump
  * each result + its oracle SQL in the driver's Verify layout, so
  * `tools/check.py <sfDir> /tmp/xtest` replays the DuckDB compare for
  * just those ids. Usage:
  *   sbt "runMain graft.RunQueries q_mix_sample q_join_dpp"
  * Env: SPARK_GRAFT_SF_DIR (default sf0.01), SPARK_GRAFT_OUT
  * (default /tmp/xtest), SPARK_GRAFT_CPUS (default 8),
  * SPARK_GRAFT_COUNT_ONLY=1 to time a bench-style count() instead of
  * writing parquet (repeat a query id to see warm timings). */
object RunQueries {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "pass one or more query ids")
    val sfDir =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val out = sys.env.getOrElse("SPARK_GRAFT_OUT", "/tmp/xtest")
    val countOnly = sys.env.get("SPARK_GRAFT_COUNT_ONLY").contains("1")
    val spark =
      Tables.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    spark.sparkContext.setLogLevel("WARN")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    if (countOnly)
      spark.range(2000000L).selectExpr("sum(id)").collect()
    val sqls = scala.collection.mutable.LinkedHashMap[String, String]()
    args.foreach { n =>
      val t0 = System.nanoTime()
      if (countOnly) {
        val c = SparkEntry.queries(n)(spark, sfDir).count()
        println(
          f"[runq] $n -> $c rows in ${(System.nanoTime() - t0) / 1e9}%.2f s")
      } else {
        SparkEntry.queries(n)(spark, sfDir)
          .coalesce(1).write.mode("overwrite").parquet(s"$out/$n")
        println(
          f"[runq] $n done in ${(System.nanoTime() - t0) / 1e9}%.2f s")
        SparkEntry.oracleSql.get(n).foreach(sqls += n -> _)
      }
    }
    if (!countOnly) {
      val json = sqls.map { case (k, v0) =>
        val v = v0.replace("__SF_DIR__", sfDir)
        "\"" + k + "\": \"" + v.replace("\\", "\\\\")
          .replace("\"", "\\\"").replace("\n", "\\n") + "\""
      }.mkString("{", ",", "}")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$out/oracle_sql.json"),
        json.getBytes("UTF-8"))
    }
    spark.stop()
  }
}
