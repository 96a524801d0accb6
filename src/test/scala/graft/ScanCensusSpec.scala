package graft

/** Lineage-audit gate (round-12 verdict item 6): the round-12 hand-run
  * of graft.ScanCensus found 19 queries whose multi-consumed frames'
  * build lineage re-entered joins/unions/loops — each one a plan-size
  * (and, at fleet scale, re-execution) hazard that no individual spec
  * asserted. This spec pins every query's fact-table scan counts to a
  * checked-in allowlist so a NEW query with un-cut lineage fails CI
  * instead of waiting for a judge.
  *
  * The allowlist (`src/test/resources/scan_census.tsv`, one
  * `query<TAB>table=N[,table=N]` row per query with any count > 1)
  * documents the ACCEPTED multi-scans: unions of two windows over one
  * fact, train/test splits, self-joins, settled-vs-increment reads —
  * all intrinsic to those queries' semantics, 2-8 scans each. A query
  * exceeding its row (or flagged with no row) is a regression.
  *
  * Counts are taken with all shared fixpoints warmed — the bench's
  * state, and the only deterministic one (an un-warmed consumer plans
  * its tier's whole build pipeline where the bench sees an
  * InMemoryRelation; the PlanGuardSpec argument).
  *
  * On an INTENTIONAL change (new query, restructured lineage):
  * regenerate with
  * `SPARK_GRAFT_UPDATE_CENSUS=1 sbt "testOnly graft.ScanCensusSpec"`
  * and eyeball the tsv diff — a new row must be arguable as intrinsic
  * (if the count looks like corpus-passes-per-round × rounds, cut the
  * lineage instead: localCheckpoint the small grid, persist the shared
  * frame, see SCALE.md's round-12 section). */
class ScanCensusSpec extends SparkSuite {

  private val snapshotPath =
    java.nio.file.Paths.get("src/test/resources/scan_census.tsv")

  test("fact-table scan counts stay within the checked-in allowlist") {
    // Warm through the one list right before counting: a consumer
    // whose store is missing plans the store's whole build pipeline,
    // so without this the counts would depend on which earlier suite
    // built (or which dir traffic released) the shared fixpoints.
    Fixpoints.warmAll(spark, sf0)

    val got = ScanCensus.census(spark, sf0)
    val errs = got.collect { case (n, Left(e)) => s"$n: $e" }
    assert(errs.isEmpty, s"census ERR rows:\n  ${errs.mkString("\n  ")}")
    val current: Map[String, Map[String, Int]] = got.collect {
      case (n, Right(counts)) if counts.nonEmpty => n -> counts.toMap
    }.toMap

    if (sys.env.get("SPARK_GRAFT_UPDATE_CENSUS").contains("1")) {
      val lines = current.toSeq.sortBy(_._1).map { case (n, m) =>
        s"$n\t${m.toSeq.sortBy(_._1).map { case (t, c) => s"$t=$c" }.mkString(",")}"
      }
      java.nio.file.Files.write(snapshotPath,
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
      info(s"wrote ${lines.size} rows to $snapshotPath")
    } else {
      assert(java.nio.file.Files.exists(snapshotPath),
        s"no $snapshotPath — regenerate with SPARK_GRAFT_UPDATE_CENSUS=1")
      val allowed: Map[String, Map[String, Int]] =
        new String(java.nio.file.Files.readAllBytes(snapshotPath), "UTF-8")
          .linesIterator.filter(_.nonEmpty).map { l =>
            val Array(n, rest) = l.split("\t", 2)
            n -> rest.split(",").map { kv =>
              val Array(t, c) = kv.split("="); t -> c.toInt
            }.toMap
          }.toMap
      val over = current.toSeq.sortBy(_._1).flatMap { case (n, m) =>
        m.flatMap { case (t, c) =>
          val cap = allowed.getOrElse(n, Map.empty).getOrElse(t, 1)
          if (c > cap) Some(s"$n scans $t ${c}x (allowlist: ${cap}x)")
          else None
        }
      }
      assert(over.isEmpty,
        "un-allowlisted fact-table multi-scans (un-cut lineage?):\n  " +
          over.mkString("\n  ") +
          "\nCut the lineage (localCheckpoint/persist the multi-consumed " +
          "frame) or, if intrinsic, regenerate the allowlist with " +
          "SPARK_GRAFT_UPDATE_CENSUS=1 and justify the diff.")
      val stale = allowed.keySet -- SparkEntry.queries.keySet
      assert(stale.isEmpty,
        s"allowlist rows for deleted queries: ${stale.toSeq.sorted.mkString(", ")}")
    }
  }
}
