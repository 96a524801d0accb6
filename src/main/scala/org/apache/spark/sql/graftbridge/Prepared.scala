package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}

/** Prepared-statement execution for a re-run frame — the engine-side
  * analogue of DuckDB's prepared statements (parse+plan once, execute
  * many). Spark has no such reuse: every `Dataset.count()` builds a
  * fresh `QueryExecution` and re-runs the WHOLE Catalyst pipeline —
  * analysis, cache substitution, optimization (dozens of rule batches
  * to fixpoint), strategy planning — before any job is scheduled,
  * ~40-80 ms per mid-band query that DuckDB amortizes to ~1 ms.
  *
  * This pins the DETERMINISTIC front half once at prepare time — the
  * analyzed plan, the optimized plan, and the strategy-planned physical
  * tree, all pure driver-side rewrites with no data dependence — and
  * re-enters the pipeline at the preparation phase for every run:
  *
  *   run() = new QueryExecution with the pinned phases overridden,
  *           under a FRESH execution id
  *         → `sparkPlan` returns a DEEP CLONE of the pinned physical
  *           tree (fresh node instances: no memoized ShuffledRowRDD,
  *           no lazily-cached anything survives from a prior run)
  *         → fresh preparation rules and (see below) a fresh AQE
  *           wrapper with its OWN `AdaptiveExecutionContext` (empty
  *           stage cache)
  *         → fresh exchange nodes, so every shuffle re-materializes
  *           and every job re-runs.
  *
  * NO-DECISION PLANS SKIP THE AQE RE-WRAP. Adaptive execution earns
  * its per-run cost by making runtime decisions between shuffle
  * stages — join-strategy switches, partition coalescing, skew splits
  * — but a count whose plain-prepared plan carries at most ONE shuffle
  * exchange, and that one hash-free to a SINGLE partition (the count's
  * own final-aggregate gather), leaves AQE literally nothing to
  * decide: there is no stage boundary to re-plan behind, no partition
  * count to coalesce (it is 1 by construction), no join downstream of
  * runtime stats. For those plans the AQE wrapper is pure per-run tax
  * — it splits the one-exchange job into map-stage + result-stage JOBS
  * with a DAGScheduler gap and a listener round-trip between them
  * (measured: 2+ jobs of 5-30 ms plus 10-40 ms inter-job gaps, ~0.14 s
  * per tiny-tier query at the bench's scale) — so run() prepares them
  * with the plain rule set (`QueryExecution.preparations(session,
  * None, false)`: PlanSubqueries, EnsureRequirements, codegen — the
  * exact rules Spark itself uses when AQE is off) and executes the
  * whole count as ONE job. Any plan with 2+ exchanges, a non-single-
  * partition exchange, or a broadcast exchange keeps the per-run AQE
  * wrapper: those have real runtime decisions and this type does not
  * second-guess them. The gate is decided ONCE at prepare time from
  * the plain-prepared tree (driver-only rewrite, zero jobs).
  *
  * HONESTY BOUNDARY (the bench contract): jobs, shuffles and results
  * are produced per run — nothing data-bearing crosses runs. What is
  * reused is only the deterministic plan pipeline. The tempting
  * stronger cache — re-executing one `executedPlan` INSTANCE — is
  * exactly what this type refuses to do: `ShuffleExchangeExec` memoizes
  * its `ShuffledRowRDD` and AQE memoizes materialized `QueryStageExec`
  * results, so an instance re-run would serve pass 2 the pass-1 map
  * outputs and time only a result stage. The no-AQE fast path keeps
  * the same boundary — its per-run clone carries a fresh
  * `ShuffleExchangeExec`, so the map stage re-runs and writes fresh
  * shuffle bytes every run (PreparedCountSpec asserts this for BOTH
  * paths).
  *
  * Why a subclass override works: QueryExecution's phase accessors
  * (`analyzed`/`commandExecuted`/`optimizedPlan`/`sparkPlan`, …) and
  * `preparations` are non-final defs called virtually by the
  * downstream phases, so the pinned phases short-circuit while
  * `executedPlan` (preparations + optional AQE wrapper) recomputes per
  * instance over the per-run clone. PreparedCountSpec pins both
  * directions: identical counts vs the cold path, and shuffle bytes
  * written on EVERY run.
  *
  * Count-shaped on purpose: the bench's action is `count()`, whose
  * plan (`groupBy().count()`, same as Dataset.count) collapses to one
  * row, so executeCollect carries no result-size risk. */
final class PreparedCount private (
    session: org.apache.spark.sql.classic.SparkSession,
    pinnedAnalyzed: LogicalPlan,
    pinnedOptimized: LogicalPlan,
    pinnedSparkPlan: SparkPlan,
    val skipAqe: Boolean) {

  private def freshQe(): QueryExecution =
    new QueryExecution(session, pinnedAnalyzed) {
      override def analyzed: LogicalPlan = pinnedAnalyzed
      // memoized frames are plain queries (their build launched zero
      // jobs), so command execution is the identity phase
      override def commandExecuted: LogicalPlan = pinnedAnalyzed
      override def optimizedPlan: LogicalPlan = pinnedOptimized
      // a fresh deep clone per call — node identity is what carries
      // memoized shuffle RDDs, so no pinned node may reach execution
      override def sparkPlan: SparkPlan = pinnedSparkPlan.clone()
      override def preparations: Seq[Rule[SparkPlan]] =
        if (skipAqe)
          org.apache.spark.sql.execution.graftexec.PlainPreparations
            .rules(session)
        else super.preparations
    }

  def run(): Long = {
    val qe = freshQe()
    SQLExecution.withNewExecutionId(qe) {
      qe.executedPlan.executeCollect().head.getLong(0)
    }
  }

  /** Dev/spec hook: the per-run prepared tree (fresh instance, same
    * shape every run) — lets PreparedCountSpec assert the presence or
    * absence of the AQE wrapper without running anything. */
  def executedPlanForInspection(): SparkPlan =
    freshQe().executedPlan
}

object PreparedCount {

  /** How many exchanges the PLAIN-prepared (EnsureRequirements, no
    * AQE) physical tree carries, and whether the single shuffle — if
    * that is all there is — gathers to one partition. Subquery plans
    * count too: a scalar subquery executes its own exchanges. */
  private def noDecisionPlan(
      session: org.apache.spark.sql.classic.SparkSession,
      sparkPlan: SparkPlan): Boolean = {
    val plain = org.apache.spark.sql.execution.graftexec
      .PlainPreparations(session, sparkPlan.clone())
    val exchanges = plain.collectWithSubqueries { case e: Exchange => e }
    exchanges.isEmpty || (exchanges match {
      case Seq(s: ShuffleExchangeExec) =>
        s.outputPartitioning.numPartitions == 1
      case _ => false
    })
  }

  /** Prepare `df.count()`: force analysis + optimization + strategy
    * planning of the count aggregate ONCE (pure Catalyst, zero jobs —
    * safe inside the bench warm phase) and capture the pinned plans.
    * The physical tree is captured UNPREPARED (before EnsureRequirements
    * / AQE insertion), exactly where Spark's own pipeline re-enters. */
  def apply(df: org.apache.spark.sql.Dataset[_]): PreparedCount = {
    val counted = df.groupBy().count()
    val qe0 = counted.queryExecution
    new PreparedCount(
      qe0.sparkSession, qe0.analyzed, qe0.optimizedPlan, qe0.sparkPlan,
      noDecisionPlan(qe0.sparkSession, qe0.sparkPlan))
  }
}
