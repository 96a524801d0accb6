package graft

/** r17: the 4th ratio-vs-scale point (~sf1). Rolls a named id subset
  * over an arbitrary data dir with the Bench protocol's shape — the
  * same load phase (`Bench.load`), two separated full sweeps, each id
  * charged min(pass1, pass2), the timed action a bench-parity
  * count() — WITHOUT the prepared-plan
  * memo (every pass rebuilds from the registry fn and pays the whole
  * Catalyst pipeline, which only makes the Spark side SLOWER than the
  * official protocol: conservative for a ratio claim). Usage:
  *   SPARK_GRAFT_SF_DIR=/tmp/graft_scale10 \
  *     sbt "Test/runMain graft.ScaleRoll q_a q_b ..."
  * Prints one JSON line {"total":..,"n":..,"queries":{..}}. */
object ScaleRoll {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "pass query ids")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/graft_scale10")
    val spark =
      Tables.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")
    Bench.load(spark, sfDir, "roll")
    def sweep(): Map[String, Double] = args.map { id =>
      val t0 = System.nanoTime()
      try SparkEntry.queries(id)(spark, sfDir).count()
      catch { case e: Throwable =>
        System.err.println(s"[roll] $id FAILED: ${e.getMessage}")
      }
      id -> (System.nanoTime() - t0) / 1e9
    }.toMap
    val p1 = sweep(); val p2 = sweep()
    val res = p1.map { case (k, v) => k -> math.min(v, p2(k)) }
    def f3(v: Double) =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    println(s"""{"total":${f3(res.values.sum)},"n":${res.size},""" +
      s""""queries":{${res.toSeq.sortBy(-_._2).map { case (k, v) =>
        "\"" + k + "\":" + f3(v) }.mkString(",")}},"sf":"$sfDir"}""")
    spark.stop()
  }
}
