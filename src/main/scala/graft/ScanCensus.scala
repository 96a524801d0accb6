package graft

import org.apache.spark.sql.SparkSession

/** Plan-size audit: per-query count of parquet scans of the BIG
  * tables (lineitem, orders, events, documents, embeddings) in the
  * optimized logical plan. A count far above the query's intrinsic
  * scan count means an un-cut lineage re-enters a join/union/iteration
  * — Catalyst re-analyzes every copy, so plan SIZE (not data volume)
  * dominates such a query's cost, and at fleet scale the duplicated
  * subtree may re-EXECUTE wherever exchange reuse can't dedupe it.
  * Fix pattern: localCheckpoint()/persist the small multi-consumed
  * frame (round-12 sweep: q_graft_hits 238→shared edge fixpoint,
  * q_mix_doremi_rounds 86→per-round grid checkpoints, q_ml_logreg 2³
  * lineage doubling→per-step weight checkpoint, …).
  * Persisted fixpoints show as InMemoryRelation and checkpoints as
  * ExistingRDD — neither counts as a scan, so a clean query reports
  * only its true fact reads. Skips q_stream_* (their fn executes the
  * drain on invocation).
  *
  * [[ScanCensusSpec]] pins the counts to a checked-in allowlist
  * (src/test/resources/scan_census.tsv) so a NEW query with un-cut
  * lineage fails CI instead of waiting for a judge; this main stays
  * as the ad-hoc reporting tool. Usage:
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.ScanCensus" */
object ScanCensus {

  val bigTables: Seq[String] =
    Seq("lineitem", "orders", "events", "documents", "embeddings")

  /** Fact-table scan counts per query: (query, table→count with
    * count>1, or ERR text). Expects shared fixpoints already warmed
    * when deterministic counts are wanted — an un-warmed consumer
    * plans the full build pipeline where the bench sees an
    * InMemoryRelation. */
  def census(spark: SparkSession, sfDir: String)
      : Seq[(String, Either[String, Seq[(String, Int)]])] =
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(_._1.startsWith("q_stream"))
      .map { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.optimizedPlan
          val scans = plan.collect {
            case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
              r.relation match {
                case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                  h.location.rootPaths.mkString(",")
                case o => o.toString
              }
          }
          val counts = bigTables.map(t => t ->
            scans.count(_.contains(t + ".parquet"))).filter(_._2 > 1)
          name -> Right(counts)
        } catch { case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse("").take(160)
          name -> Left(s"${e.getClass.getSimpleName}: $msg")
        }
      }

  def main(args: Array[String]): Unit = {
    val sfDir =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Tables.session(32)
    spark.sparkContext.setLogLevel("ERROR")
    val rows = census(spark, sfDir).flatMap {
      case (name, Left(err)) => Some(s"$name -> ERR $err")
      case (name, Right(counts)) if counts.nonEmpty =>
        Some(s"$name -> ${counts.mkString(", ")}")
      case _ => None
    }
    println("[census] multi-scan queries:")
    rows.foreach(r => println(s"[census] $r"))
    println(s"[census] total flagged: ${rows.size}")
    spark.stop()
  }
}
