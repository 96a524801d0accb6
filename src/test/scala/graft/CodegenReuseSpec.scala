package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** A session that repeats queries must reuse its generated classes.
  * Spark's JVM-wide codegen cache defaults to 100 entries; the ids
  * below generate more than that per pass, so under the default the
  * LRU evicts every class before its next use and each repeat pass
  * recompiles all of them. Tables.configure sizes the cache before the
  * JVM's first compile (SparkSuite.session calls it right after
  * getOrCreate), so the second pass compiles nothing. Counts only, no
  * timings. */
class CodegenReuseSpec extends SparkSuite {

  // The read-only ids of the DAQ warm mix plus three TPC-H shapes. In a
  // fresh JVM at sf0.001 / 4 partitions one pass compiles 156 distinct
  // classes (frame_decode 9, heatmap 13, daq_stats 7, q1 12, q6 5,
  // q9 24, agg_hash 7, join_broadcast 19, join_bloom 8, q10 13,
  // q11 21, q13 18). q2 and q20 are left out: their second run plans
  // differently from their first and compiles again.
  private val ids = Seq(
    "q_frame_decode", "q_heatmap", "q_daq_stats", "q_tpch_q1",
    "q_tpch_q6", "q_tpch_q9", "q_agg_hash", "q_join_broadcast",
    "q_join_bloom", "q_tpch_q10", "q_tpch_q11", "q_tpch_q13")

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
}
