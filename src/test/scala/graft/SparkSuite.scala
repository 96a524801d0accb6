package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared session + fixture plumbing for all suites. One SparkSession per
  * JVM (suites share it), UTC, small shuffle width. */
trait SparkSuite extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSuite.session

  /** Real driver data, smallest scale. */
  val sf0: String = "/root/testdata/sf0.001"

  /** Write a synthetic sf-style dir of parquet tables; returns its path.
    * Mirrors the driver layout so SparkEntry.queries run on it as-is. */
  def fixtureDir(name: String)(tables: (String, DataFrame)*): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_fix_$name"
    tables.foreach { case (t, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }

  def q(name: String, sfDir: String = sf0): DataFrame =
    SparkEntry.queries(name)(spark, sfDir)
}

object SparkSuite {
  lazy val session: SparkSession = {
    val s = Tables.session(4)
    // FileSourceScanExec renders its metadata (DataFilters, …) into
    // a string ONCE, lazily, truncated at this length under whichever
    // conf is active at first render. PlanGuardSpec hashes plans that
    // can embed scan nodes first rendered by an earlier suite — keep
    // every render in the test JVM untruncated so the hash cannot
    // depend on suite order. Set before the session's first query.
    s.conf.set("spark.sql.maxMetadataStringLength", "100000")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
