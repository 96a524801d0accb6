package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** A session that repeats queries must reuse its generated classes.
  * Spark's JVM-wide codegen cache defaults to 100 entries; the ids
  * below generate more than that per pass, so under the default the
  * LRU evicts every class before its next use and each repeat pass
  * recompiles all of them. Tables.configure sizes the cache before the
  * JVM's first compile (SparkSuite.session opens through
  * Tables.session), so the second pass compiles nothing. Counts only, no
  * timings. */
class CodegenReuseSpec extends SparkSuite {

  // The read-only ids of the DAQ warm mix plus four TPC-H shapes. From
  // an empty cache at sf0.001 / 4 partitions one pass compiles 163
  // distinct classes. q20's AQE stages can take their codegen ids in a
  // different order from run to run; the ids stay out of the class
  // names (Tables.configure), so it reuses its classes. q2 is left
  // out: which of its joins AQE turns into a broadcast can change
  // between runs, so a later run can execute a physically different
  // plan and compile it.
  private val ids = Seq(
    "q_frame_decode", "q_heatmap", "q_daq_stats", "q_tpch_q1",
    "q_tpch_q6", "q_tpch_q9", "q_agg_hash", "q_join_broadcast",
    "q_join_bloom", "q_tpch_q10", "q_tpch_q11", "q_tpch_q13",
    "q_tpch_q20")

  private def compiles: Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def pass(): Long = {
    val c0 = compiles
    ids.foreach(q(_).collect())
    compiles - c0
  }

  test("a repeated pass over >100 generated classes compiles nothing") {
    Tables.configure(spark)
    // Start from an empty cache so the first pass compiles the whole
    // working set whichever suites ran earlier in this JVM. The cache
    // is a private field of CodeGenerator; emptying it only costs
    // later suites a recompile.
    val cg = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val cacheOf = cg.getClass.getDeclaredMethod("cache")
    cacheOf.setAccessible(true)
    val cache = cacheOf.invoke(cg)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
    val first = pass()
    assert(first > 100, s"working set too small to exercise the cap: $first")
    val second = pass()
    assert(second === 0L,
      s"second pass recompiled $second of $first classes: the codegen " +
        "cache was sized after the JVM's first compile")
  }

  // Streaming drains run in a session clone and q_join_skew_aqe in a
  // per-call child session. With artifact isolation on, each such
  // session's tasks load classes through a new loader, which is part of
  // the cache key, so every run recompiled 11-21 identical classes.
  // q_stream_anomaly's typed state encoder names a lambda variable from
  // a JVM-wide counter when it is built, so it is built once per JVM.
  test("drains and child-session queries reuse their classes on a rerun") {
    Tables.configure(spark)
    val rerun = Seq("q_stream_daq_pipeline", "q_stream_source",
        "q_stream_tumbling", "q_stream_anomaly", "q_join_skew_aqe").map { id =>
      q(id).collect()
      val c0 = compiles
      q(id).collect()
      id -> (compiles - c0)
    }
    assert(rerun.forall(_._2 == 0L),
      s"classes compiled again on the second run: ${rerun.mkString(", ")}")
  }
}
