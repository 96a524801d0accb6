package graft.ops

import graft.{Fixpoints, Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Survival / attribution / resampling tier (round 9): time-to-event
  * statistics and revenue-credit models over the order and event
  * streams — Kaplan-Meier curves, the log-rank test, multi-touch
  * attribution, probability-proportional-to-size sampling and the
  * Poisson bootstrap (the distributed-resampling idiom: multiplicities
  * are computed per row from a hash, so a resample never materializes
  * a shuffled copy of the data).
  *
  * Scale discipline: every op touches the raw table with ONE keyed
  * window or aggregate (per-customer order sequences, per-purchase
  * touch windows, per-resample sums); everything downstream runs over
  * domain-bounded frames (the day grid, the 100-resample grid, the
  * channel grid). Float policy per the house rules: money enters as
  * exact cents, sums/credits stay BIGINT to the end (largest-remainder
  * splits, never fractional credits), and the only doubles are single
  * divisions or ln/exp chains evaluated in identical order by both
  * engines, rounded on emission.
  */
object Causal {

  private def ev(s: SparkSession, d: String): DataFrame =
    Tables.t(s, d, "events")
  private def ord(s: SparkSession, d: String): DataFrame =
    Tables.t(s, d, "orders")

  /** Shared (t, e [, g]) observation frame for the survival ops:
    * per customer, consecutive-order gaps in days are uncensored
    * "repurchase" events; the tail after the last order is censored at
    * the corpus max date. One per-customer window + one broadcast of
    * the global max date. */
  private def survObs(s: SparkSession, d: String,
      withGroup: Boolean): DataFrame = {
    val o = ord(s, d)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val seq0 = o.select(col("o_custkey"), col("o_orderdate"),
      lead(col("o_orderdate"), 1).over(w).as("nxt"))
    val mx = o.agg(max(col("o_orderdate")).as("mxd"))
    val base = seq0.crossJoin(broadcast(mx)).select(
      col("o_custkey"),
      when(col("nxt").isNull,
        datediff(col("mxd").cast("date"), col("o_orderdate").cast("date")))
        .otherwise(
          datediff(col("nxt").cast("date"), col("o_orderdate").cast("date")))
        .cast("long").as("t"),
      when(col("nxt").isNull, lit(0L)).otherwise(lit(1L)).as("e"))
    if (!withGroup) base
    else {
      val cust = Tables.t(s, d, "customer")
        .select(col("c_custkey"),
          when(col("c_mktsegment") === "BUILDING", lit(1L))
            .otherwise(lit(0L)).as("g"))
      base.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .select(col("t"), col("e"), col("g"))
    }
  }

  /** The identical observation frame as DuckDB CTEs. */
  private def survObsSql(withGroup: Boolean): String = {
    val base = """seq AS (
        SELECT o_custkey, o_orderdate,
               lead(o_orderdate) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey) AS nxt
        FROM orders),
      mx AS (SELECT max(o_orderdate) AS mxd FROM orders),
      obs0 AS (
        SELECT o_custkey,
          CAST(CASE WHEN nxt IS NULL
            THEN date_diff('day', CAST(o_orderdate AS DATE), CAST(mxd AS DATE))
            ELSE date_diff('day', CAST(o_orderdate AS DATE), CAST(nxt AS DATE))
          END AS BIGINT) AS t,
          CAST(CASE WHEN nxt IS NULL THEN 0 ELSE 1 END AS BIGINT) AS e
        FROM seq CROSS JOIN mx)"""
    if (!withGroup) base + ",\n      obs AS (SELECT t, e FROM obs0)"
    else base + """,
      obs AS (
        SELECT t, e,
          CAST(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
            AS BIGINT) AS g
        FROM obs0 JOIN customer ON o_custkey = c_custkey)"""
  }

  // ---- q_surv_km --------------------------------------------------------

  /** Kaplan-Meier survival curve over repurchase gaps (q_surv_km): the
    * time-to-next-order distribution with the censored tails handled
    * properly — the canonical churn/retention statistic. Per distinct
    * day t: events d, censorings c, at-risk n (total minus everything
    * that left strictly before t), and the product-limit estimate
    * S(t) = Π_{u≤t} (1 - d_u/n_u).
    *
    * Float discipline: the product runs as exp(Σ ln(factor)) over the
    * ordered day grid — a sequential, identically-ordered summation in
    * both engines (the q_text_perplexity precedent) — EXCEPT that a
    * factor of exactly 0 (the last at-risk observation is an event)
    * must bypass ln: DuckDB raises on ln(0) where the JVM returns -Inf,
    * so both sides carry a cumulative zero-seen flag instead.
    *
    * Scale shape: one per-customer window over orders (keyed, no
    * global sort), one aggregate to the day grid (≤ date-range days
    * whatever the corpus size), windows over that bounded grid only. */
  val qSurvKm = Q(
    "q_surv_km",
    (s, d) => {
      val byT = survObs(s, d, withGroup = false)
        .groupBy(col("t"))
        .agg(sum(col("e")).as("d"), sum(lit(1L) - col("e")).as("c"))
      val wPrev = Window.orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wCum = Window.orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byT
        .withColumn("n_at_risk",
          sum(col("d") + col("c")).over(
            Window.rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing)) -
            coalesce(sum(col("d") + col("c")).over(wPrev), lit(0L)))
        .withColumn("fac",
          lit(1.0) - col("d").cast("double") / col("n_at_risk"))
        .withColumn("surv",
          when(max(when(col("fac") === 0.0, 1L).otherwise(0L))
            .over(wCum) === 1L, lit(0.0))
            .otherwise(round(exp(sum(
              when(col("fac") > 0.0, log(col("fac"))).otherwise(lit(0.0)))
              .over(wCum)), 6)))
        .select(col("t"), col("n_at_risk"), col("d"), col("c"), col("surv"))
        .orderBy(col("t"))
    },
    Some(s"""WITH ${survObsSql(withGroup = false)},
      byt AS (SELECT t, CAST(sum(e) AS BIGINT) AS d,
                     CAST(sum(1 - e) AS BIGINT) AS c
              FROM obs GROUP BY t),
      risk AS (
        SELECT t, d, c,
          CAST(sum(d + c) OVER ()
               - coalesce(sum(d + c) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS n_at_risk
        FROM byt),
      fac AS (SELECT *, 1.0e0 - d * 1.0e0 / n_at_risk AS fac FROM risk)
      SELECT t, n_at_risk, d, c,
        CASE WHEN max(CASE WHEN fac = 0.0e0 THEN 1 ELSE 0 END)
               OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) = 1
          THEN 0.0e0
          ELSE round(exp(sum(CASE WHEN fac > 0.0e0 THEN ln(fac)
                             ELSE 0.0e0 END)
                 OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW)), 6)
        END AS surv
      FROM fac
      ORDER BY t NULLS FIRST"""))

  // ---- q_surv_logrank ---------------------------------------------------

  /** Log-rank test between customer segments (q_surv_logrank): does the
    * BUILDING market segment repurchase on a different clock than the
    * rest? The standard chi-squared statistic over the shared event-day
    * grid: per day, observed group-1 events d1 vs hypergeometric
    * expectation d·n1/n and variance d·(n1/n)(1-n1/n)(n-d)/(n-1).
    *
    * Float discipline: per-day expectation/variance are single-division
    * doubles quantized to integer MILLIONTHS per row, then summed as
    * BIGINT — aggregate summation order can differ between engines, so
    * no raw double ever crosses an aggregate (the q_stats_mannwhitney
    * rule). One row out. */
  val qSurvLogrank = Q(
    "q_surv_logrank",
    (s, d) => {
      val byT = survObs(s, d, withGroup = true)
        .groupBy(col("t"))
        .agg(
          sum(when(col("g") === 1L, col("e")).otherwise(0L)).as("d1"),
          sum(when(col("g") === 1L, lit(1L) - col("e")).otherwise(0L))
            .as("c1"),
          sum(col("e")).as("dd"),
          sum(lit(1L) - col("e")).as("cc"))
      val wPrev = Window.orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wAll = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      val perT = byT
        .withColumn("n1",
          sum(col("d1") + col("c1")).over(wAll) -
            coalesce(sum(col("d1") + col("c1")).over(wPrev), lit(0L)))
        .withColumn("nn",
          sum(col("dd") + col("cc")).over(wAll) -
            coalesce(sum(col("dd") + col("cc")).over(wPrev), lit(0L)))
        .filter(col("dd") > 0 && col("nn") > 1)
        .withColumn("e1",
          col("dd").cast("double") * col("n1") / col("nn"))
        .withColumn("v",
          col("dd").cast("double") * (col("n1").cast("double") / col("nn")) *
            (lit(1.0) - col("n1").cast("double") / col("nn")) *
            (col("nn") - col("dd")) / (col("nn") - lit(1L)))
        .select(col("d1"),
          floor(col("e1") * 1e6 + 0.5).cast("long").as("e1_q"),
          floor(col("v") * 1e6 + 0.5).cast("long").as("v_q"))
      perT.agg(
        sum(col("d1")).as("d1_total"),
        round(sum(col("e1_q")) / 1e6, 6).as("e1_total"),
        round(
          pow(sum(col("d1") * 1000000L - col("e1_q")) / 1e6, 2.0) /
            (sum(col("v_q")) / 1e6), 6).as("chi2"))
    },
    Some(s"""WITH ${survObsSql(withGroup = true)},
      byt AS (
        SELECT t,
          CAST(sum(CASE WHEN g = 1 THEN e ELSE 0 END) AS BIGINT) AS d1,
          CAST(sum(CASE WHEN g = 1 THEN 1 - e ELSE 0 END) AS BIGINT) AS c1,
          CAST(sum(e) AS BIGINT) AS dd,
          CAST(sum(1 - e) AS BIGINT) AS cc
        FROM obs GROUP BY t),
      risk AS (
        SELECT t, d1, dd,
          CAST(sum(d1 + c1) OVER ()
               - coalesce(sum(d1 + c1) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS n1,
          CAST(sum(dd + cc) OVER ()
               - coalesce(sum(dd + cc) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS nn
        FROM byt),
      pert AS (
        SELECT d1,
          CAST(floor(dd * 1.0e0 * n1 / nn * 1e6 + 0.5e0) AS BIGINT) AS e1_q,
          CAST(floor(dd * 1.0e0 * (n1 * 1.0e0 / nn)
               * (1.0e0 - n1 * 1.0e0 / nn)
               * (nn - dd) / (nn - 1) * 1e6 + 0.5e0) AS BIGINT) AS v_q
        FROM risk WHERE dd > 0 AND nn > 1)
      SELECT CAST(sum(d1) AS BIGINT) AS d1_total,
        round(sum(e1_q) / 1e6, 6) AS e1_total,
        round(pow(sum(d1 * 1000000 - e1_q) / 1e6, 2)
              / (sum(v_q) / 1e6), 6) AS chi2
      FROM pert"""))

  // ---- q_surv_hazard ----------------------------------------------------

  /** Nelson-Aalen cumulative hazard (q_surv_hazard): the additive
    * sibling of the KM product — H(t) = Σ_{u≤t} d_u/n_u over the same
    * (events, censorings, at-risk) day grid. Unlike KM there is NO
    * float at all: each increment is the exact integer
    * d·1000000 div n (micro-hazard), the cumulative sum is a BIGINT
    * window over the bounded day grid, and both engines agree to the
    * last digit by construction. Same one-window-one-aggregate scale
    * shape as q_surv_km. */
  val qSurvHazard = Q(
    "q_surv_hazard",
    (s, d) => {
      val byT = survObs(s, d, withGroup = false)
        .groupBy(col("t"))
        .agg(sum(col("e")).as("d"), sum(lit(1L) - col("e")).as("c"))
      val wPrev = Window.orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wCum = Window.orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byT
        .withColumn("n_at_risk",
          sum(col("d") + col("c")).over(
            Window.rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing)) -
            coalesce(sum(col("d") + col("c")).over(wPrev), lit(0L)))
        .withColumn("h_micro", expr("d * 1000000L div n_at_risk"))
        .withColumn("cumhaz_micro", sum(col("h_micro")).over(wCum))
        .select(col("t"), col("n_at_risk"), col("d"), col("h_micro"),
          col("cumhaz_micro"))
        .orderBy(col("t"))
    },
    Some(s"""WITH ${survObsSql(withGroup = false)},
      byt AS (SELECT t, CAST(sum(e) AS BIGINT) AS d,
                     CAST(sum(1 - e) AS BIGINT) AS c
              FROM obs GROUP BY t),
      risk AS (
        SELECT t, d,
          CAST(sum(d + c) OVER ()
               - coalesce(sum(d + c) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS n_at_risk
        FROM byt)
      SELECT t, n_at_risk, d,
        CAST(d * 1000000 // n_at_risk AS BIGINT) AS h_micro,
        CAST(sum(d * 1000000 // n_at_risk) OVER (ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS BIGINT) AS cumhaz_micro
      FROM risk
      ORDER BY t NULLS FIRST"""))

  // ---- q_ml_logreg ------------------------------------------------------

  /** Logistic regression by unrolled gradient descent (q_ml_logreg):
    * fit P(error | value, hour) with three full-scan gradient steps —
    * the distributed-GD shape where each iteration is ONE map-side-
    * combined aggregate over the corpus and the weight update is
    * constant driver-side algebra (the q_ml_linreg one-pass discipline,
    * iterated). Cross-engine float policy: features are scaled by fixed
    * constants into [0,1); per-iteration gradient sums take the 4dp
    * snap (hundreds of ulps wide — summation-order noise cannot cross
    * it, the linreg/kmeans rule) and weights re-snap to 8dp after every
    * update, so both engines walk the identical trajectory. */
  /** Feature frame (y, x1, x2) shared by logreg and the importance
    * harness. */
  private def logregBase(s: SparkSession, d: String): DataFrame =
    ev(s, d).select(
      when(col("event_type") === "error", 1.0).otherwise(0.0).as("y"),
      (floor(col("value") * 100 + 0.5).cast("long") / 50000.0).as("x1"),
      (hour(col("ts")).cast("long") / 24.0).as("x2"))

  /** Three snapped GD steps → the 1-row (w0, w1, w2) weight frame.
    * A shared persisted fixpoint: TWO registered consumers (logreg
    * accuracy, featimp's permutation harness) fit the identical model,
    * so the 3-pass GD chain runs once per (session, dir). */
  private def logregWeights(s: SparkSession, d: String): DataFrame =
    Fixpoints.cacheOnce(s, d, "logregw") { logregWeightsBuild(s, d) }

  private def logregWeightsBuild(s: SparkSession, d: String): DataFrame = {
    val base = logregBase(s, d)
    var w = s.range(1).select(lit(0.0).as("w0"), lit(0.0).as("w1"),
      lit(0.0).as("w2"))
    for (_ <- 1 to 3) {
      val g = base.crossJoin(broadcast(w))
        .withColumn("p",
          expr("1.0 / (1.0 + exp(-(w0 + w1 * x1 + w2 * x2)))"))
        .agg(round(sum(col("p") - col("y")), 4).as("g0"),
          round(sum((col("p") - col("y")) * col("x1")), 4).as("g1"),
          round(sum((col("p") - col("y")) * col("x2")), 4).as("g2"),
          count(lit(1)).cast("double").as("n"))
      // 1-row weight frame, checkpointed per step: w enters the next
      // iteration's lineage TWICE (the gradient aggregate and the
      // update's crossJoin), so un-cut the corpus scan doubles every
      // round — 2^3 copies after three steps, and the downstream
      // scorers (logreg accuracy, featimp's three variants) would each
      // re-enter the whole chain
      w = w.crossJoin(g).select(
        round(col("w0") - lit(2.0) * col("g0") / col("n"), 8).as("w0"),
        round(col("w1") - lit(2.0) * col("g1") / col("n"), 8).as("w1"),
        round(col("w2") - lit(2.0) * col("g2") / col("n"), 8).as("w2"))
        .localCheckpoint()
    }
    w
  }

  /** The 3-step snapped-GD weight chain as DuckDB CTEs (base ..
    * w3_) — shared by the logreg oracle and the importance harness. */
  private val logregWeightsCteSql: String = """WITH base AS (
        SELECT CASE WHEN event_type = 'error' THEN 1.0e0 ELSE 0.0e0 END
            AS y,
          CAST(floor(value * 100 + 0.5e0) AS BIGINT) / 50000.0e0 AS x1,
          CAST(extract(hour FROM ts) AS BIGINT) / 24.0e0 AS x2
        FROM events),
      w0_ AS (SELECT 0.0e0 AS w0, 0.0e0 AS w1, 0.0e0 AS w2),
      g1_ AS (
        SELECT round(sum(p - y), 4) AS g0,
          round(sum((p - y) * x1), 4) AS g1,
          round(sum((p - y) * x2), 4) AS g2,
          CAST(count(*) AS DOUBLE) AS n
        FROM (SELECT y, x1, x2,
                1.0e0 / (1.0e0 + exp(-(w0 + w1 * x1 + w2 * x2))) AS p
              FROM base CROSS JOIN w0_) t),
      w1_ AS (
        SELECT round(w0 - 2.0e0 * g0 / n, 8) AS w0,
          round(w1 - 2.0e0 * g1 / n, 8) AS w1,
          round(w2 - 2.0e0 * g2 / n, 8) AS w2
        FROM w0_ CROSS JOIN g1_),
      g2_ AS (
        SELECT round(sum(p - y), 4) AS g0,
          round(sum((p - y) * x1), 4) AS g1,
          round(sum((p - y) * x2), 4) AS g2,
          CAST(count(*) AS DOUBLE) AS n
        FROM (SELECT y, x1, x2,
                1.0e0 / (1.0e0 + exp(-(w0 + w1 * x1 + w2 * x2))) AS p
              FROM base CROSS JOIN w1_) t),
      w2_ AS (
        SELECT round(w0 - 2.0e0 * g0 / n, 8) AS w0,
          round(w1 - 2.0e0 * g1 / n, 8) AS w1,
          round(w2 - 2.0e0 * g2 / n, 8) AS w2
        FROM w1_ CROSS JOIN g2_),
      g3_ AS (
        SELECT round(sum(p - y), 4) AS g0,
          round(sum((p - y) * x1), 4) AS g1,
          round(sum((p - y) * x2), 4) AS g2,
          CAST(count(*) AS DOUBLE) AS n
        FROM (SELECT y, x1, x2,
                1.0e0 / (1.0e0 + exp(-(w0 + w1 * x1 + w2 * x2))) AS p
              FROM base CROSS JOIN w2_) t),
      w3_ AS (
        SELECT round(w0 - 2.0e0 * g0 / n, 8) AS w0,
          round(w1 - 2.0e0 * g1 / n, 8) AS w1,
          round(w2 - 2.0e0 * g2 / n, 8) AS w2
        FROM w2_ CROSS JOIN g3_)"""

  val qMlLogreg = Q(
    "q_ml_logreg",
    (s, d) => {
      val base = logregBase(s, d)
      val w = logregWeights(s, d)
      base.crossJoin(broadcast(w))
        .withColumn("pred",
          when(col("w0") + col("w1") * col("x1") + col("w2") * col("x2")
            > 0.0, 1.0).otherwise(0.0))
        .agg(count(lit(1)).as("n"),
          sum(when(col("pred") === col("y"), 1L).otherwise(0L))
            .as("n_correct"),
          first(col("w0")).as("f0"), first(col("w1")).as("f1"),
          first(col("w2")).as("f2"))
        .selectExpr("n", "n_correct", "round(f0, 8) AS w0",
          "round(f1, 8) AS w1", "round(f2, 8) AS w2",
          "round(CAST(n_correct AS DOUBLE) / n, 6) AS accuracy")
    },
    Some(s"""$logregWeightsCteSql
      SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CASE WHEN (CASE WHEN w0 + w1 * x1 + w2 * x2 > 0.0e0
                            THEN 1.0e0 ELSE 0.0e0 END) = y
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
        round(min(w0), 8) AS w0, round(min(w1), 8) AS w1,
        round(min(w2), 8) AS w2,
        round(sum(CASE WHEN (CASE WHEN w0 + w1 * x1 + w2 * x2 > 0.0e0
                             THEN 1.0e0 ELSE 0.0e0 END) = y
                  THEN 1 ELSE 0 END) * 1.0e0 / count(*), 6) AS accuracy
      FROM base CROSS JOIN w3_"""))

  // ---- q_ml_featimp -----------------------------------------------------

  /** Permutation feature importance (q_ml_featimp): score the trained
    * logreg under a deterministic DERANGEMENT of one feature at a time
    * — the accuracy drop is that feature's importance, the
    * model-agnostic eval every feature-selection pass runs. The
    * permutation is hash-cyclic: rows rank by md5(event_id), row i
    * takes the permuted value of row i mod n + 1 (a single cycle, no
    * fixed points beyond n=1), so both engines shuffle identically
    * with no RNG. The rank is a global sort — acceptable for an EVAL
    * harness (production permutes within partitions or on a sample;
    * the estimate is unchanged in expectation). One model fit (the
    * shared 3-step GD weights) + one scan scoring all three variants
    * via a stacked projection. */
  val qMlFeatimp = Q(
    "q_ml_featimp",
    (s, d) => {
      val base = ev(s, d).select(
        when(col("event_type") === "error", 1.0).otherwise(0.0).as("y"),
        (floor(col("value") * 100 + 0.5).cast("long") / 50000.0)
          .as("x1"),
        (hour(col("ts")).cast("long") / 24.0).as("x2"),
        expr("""CAST(conv(substring(md5(CAST(event_id AS STRING)), 1, 8),
             16, 10) AS BIGINT)""").as("hsh"),
        col("event_id"))
      // The hash-cyclic derangement (row i takes row (i mod n)+1's
      // values) IS "next row in rank order, wrapping the last to the
      // first" — lead(1) with a first_value patch over ONE ordered
      // window, instead of materializing the ranked table twice and
      // equi-joining on rn%nn+1 (column pruning split the two copies,
      // so the global sort ran twice and fed a shuffle join).
      val wOrd = Window.orderBy(col("hsh"), col("event_id"))
      val wFull = wOrd.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      val wAll = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      val joined = base
        .withColumn("x1p", coalesce(lead(col("x1"), 1).over(wOrd),
          first(col("x1")).over(wFull)))
        .withColumn("x2p", coalesce(lead(col("x2"), 1).over(wOrd),
          first(col("x2")).over(wFull)))
        .crossJoin(broadcast(logregWeights(s, d)))
      val scored = joined.selectExpr("y",
        """stack(3,
           'base',       CASE WHEN w0 + w1 * x1  + w2 * x2  > 0.0D
                         THEN 1.0D ELSE 0.0D END,
           'perm_value', CASE WHEN w0 + w1 * x1p + w2 * x2  > 0.0D
                         THEN 1.0D ELSE 0.0D END,
           'perm_hour',  CASE WHEN w0 + w1 * x1  + w2 * x2p > 0.0D
                         THEN 1.0D ELSE 0.0D END)
           AS (variant, pred)""")
      scored.groupBy(col("variant"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("pred") === col("y"), 1L).otherwise(0L))
            .as("n_correct"))
        .withColumn("acc_base", max(when(col("variant") === "base",
          col("n_correct"))).over(wAll))
        .selectExpr("variant", "n", "n_correct",
          "round(CAST(n_correct AS DOUBLE) / n, 6) AS accuracy",
          "round(CAST(acc_base - n_correct AS DOUBLE) / n, 6)" +
            " AS importance")
        .orderBy(col("variant"))
    },
    Some(s"""$logregWeightsCteSql,
      base2 AS (
        SELECT CASE WHEN event_type = 'error' THEN 1.0e0 ELSE 0.0e0 END
            AS y,
          CAST(floor(value * 100 + 0.5e0) AS BIGINT) / 50000.0e0 AS x1,
          CAST(extract(hour FROM ts) AS BIGINT) / 24.0e0 AS x2,
          CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)
            AS BIGINT) AS hsh,
          event_id
        FROM events),
      ranked AS (
        SELECT *, CAST(row_number() OVER (ORDER BY hsh, event_id)
            AS BIGINT) AS rn,
          CAST(count(*) OVER () AS BIGINT) AS nn
        FROM base2),
      joined AS (
        SELECT r.y, r.x1, r.x2, d.x1 AS x1p, d.x2 AS x2p
        FROM ranked r JOIN ranked d ON r.rn % r.nn + 1 = d.rn),
      scored AS (
        SELECT y, 'base' AS variant,
          CASE WHEN w0 + w1 * x1 + w2 * x2 > 0.0e0
            THEN 1.0e0 ELSE 0.0e0 END AS pred
        FROM joined CROSS JOIN w3_
        UNION ALL
        SELECT y, 'perm_value',
          CASE WHEN w0 + w1 * x1p + w2 * x2 > 0.0e0
            THEN 1.0e0 ELSE 0.0e0 END
        FROM joined CROSS JOIN w3_
        UNION ALL
        SELECT y, 'perm_hour',
          CASE WHEN w0 + w1 * x1 + w2 * x2p > 0.0e0
            THEN 1.0e0 ELSE 0.0e0 END
        FROM joined CROSS JOIN w3_),
      agg AS (
        SELECT variant, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CASE WHEN pred = y THEN 1 ELSE 0 END) AS BIGINT)
            AS n_correct
        FROM scored GROUP BY variant)
      SELECT variant, n, n_correct,
        round(CAST(n_correct AS DOUBLE) / n, 6) AS accuracy,
        round(CAST((SELECT n_correct FROM agg WHERE variant = 'base')
            - n_correct AS DOUBLE) / n, 6) AS importance
      FROM agg
      ORDER BY variant NULLS FIRST"""))

  // ---- q_events_attribution ---------------------------------------------

  /** Multi-touch revenue attribution (q_events_attribution): each
    * purchase's value is credited back to the click/view touches of the
    * same user in the prior 7 days, under four standard models at once —
    * first-touch, last-touch, linear, and position-based (40/20/40).
    * Purchases with no prior touch credit a synthetic 'direct' channel.
    *
    * Credits are INTEGER CENTS with largest-remainder splits (earliest
    * touches absorb remainders), so every model conserves total revenue
    * exactly — no fractional-cent drift, and the final per-channel sums
    * are BIGINT-exact in both engines.
    *
    * Scale shape: the touch↔purchase join is keyed on user_id with a
    * 7-day range predicate — per-user-bounded state, the q_join_range
    * shape; the credit windows partition by purchase (small groups);
    * the output is the 3-row channel grid. */
  val qEventsAttribution = Q(
    "q_events_attribution",
    (s, d) => {
      val e = ev(s, d)
      val p = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
          col("ts").as("p_ts"),
          floor(col("value") * 100 + 0.5).cast("long").as("pc"))
      val tch = e.filter(col("event_type").isin("click", "view"))
        .select(col("user_id").as("t_user"), col("event_id").as("t_id"),
          col("ts").as("t_ts"), col("event_type").as("t_channel"))
      val j = p.join(tch,
        col("p_user") === col("t_user") &&
          col("t_ts") < col("p_ts") &&
          col("t_ts") >= col("p_ts") - expr("INTERVAL 7 DAYS"), "left")
      val w = Window.partitionBy(col("p_id"))
        .orderBy(col("t_ts"), col("t_id"))
      val wk = Window.partitionBy(col("p_id"))
      val pos = j
        .withColumn("i", when(col("t_id").isNotNull,
          row_number().over(w)).otherwise(lit(0L)))
        .withColumn("k", count(col("t_id")).over(wk))
      // integer `div`/`%` only — largest-remainder credit splits must be
      // BIGINT-exact, never a truncated double division
      val credited = pos.selectExpr(
        "CASE WHEN t_id IS NULL THEN 'direct' ELSE t_channel END " +
          "AS channel",
        "CASE WHEN k = 0 OR i = 1 THEN pc ELSE 0 END AS first_c",
        "CASE WHEN k = 0 OR i = k THEN pc ELSE 0 END AS last_c",
        """CASE WHEN k = 0 THEN pc
           ELSE pc div k + CASE WHEN i <= pc % k THEN 1 ELSE 0 END
           END AS linear_c""",
        """CASE WHEN k = 0 THEN pc
           WHEN k = 1 THEN pc
           WHEN k = 2 THEN CASE WHEN i = 1 THEN pc - pc div 2
                           ELSE pc div 2 END
           WHEN i = 1 OR i = k THEN pc * 2 div 5
           ELSE (pc - (pc * 2 div 5) * 2) div (k - 2)
                + CASE WHEN i - 1 <= (pc - (pc * 2 div 5) * 2) % (k - 2)
                       THEN 1 ELSE 0 END
           END AS pos_c""")
      credited.groupBy(col("channel"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("first_c")).as("first_cents"),
          sum(col("last_c")).as("last_cents"),
          sum(col("linear_c")).as("linear_cents"),
          sum(col("pos_c")).as("pos_cents"))
        .orderBy(col("channel"))
    },
    Some("""WITH p AS (
        SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts,
          CAST(floor(value * 100 + 0.5e0) AS BIGINT) AS pc
        FROM events WHERE event_type = 'purchase'),
      tch AS (
        SELECT user_id AS t_user, event_id AS t_id, ts AS t_ts,
          event_type AS t_channel
        FROM events WHERE event_type IN ('click', 'view')),
      j AS (
        SELECT p.*, t_id, t_ts, t_channel
        FROM p LEFT JOIN tch
          ON p_user = t_user AND t_ts < p_ts
          AND t_ts >= p_ts - INTERVAL 7 DAY),
      pos AS (
        SELECT *,
          CAST(CASE WHEN t_id IS NULL THEN 0 ELSE
            row_number() OVER (PARTITION BY p_id ORDER BY t_ts, t_id)
          END AS BIGINT) AS i,
          CAST(count(t_id) OVER (PARTITION BY p_id) AS BIGINT) AS k
        FROM j),
      credited AS (
        SELECT
          CASE WHEN t_id IS NULL THEN 'direct' ELSE t_channel END
            AS channel,
          CASE WHEN k = 0 OR i = 1 THEN pc ELSE 0 END AS first_c,
          CASE WHEN k = 0 OR i = k THEN pc ELSE 0 END AS last_c,
          CASE WHEN k = 0 THEN pc
            ELSE pc // k + CASE WHEN i <= pc % k THEN 1 ELSE 0 END
          END AS linear_c,
          CASE WHEN k = 0 THEN pc
            WHEN k = 1 THEN pc
            WHEN k = 2 THEN CASE WHEN i = 1 THEN pc - pc // 2
                            ELSE pc // 2 END
            WHEN i = 1 OR i = k THEN pc * 2 // 5
            ELSE (pc - (pc * 2 // 5) * 2) // (k - 2)
                 + CASE WHEN i - 1 <= (pc - (pc * 2 // 5) * 2) % (k - 2)
                        THEN 1 ELSE 0 END
          END AS pos_c
        FROM pos)
      SELECT channel, CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(first_c) AS BIGINT) AS first_cents,
        CAST(sum(last_c) AS BIGINT) AS last_cents,
        CAST(sum(linear_c) AS BIGINT) AS linear_cents,
        CAST(sum(pos_c) AS BIGINT) AS pos_cents
      FROM credited
      GROUP BY channel
      ORDER BY channel NULLS FIRST"""))

  // ---- q_events_conversion_lag ------------------------------------------

  /** Conversion-lag distribution (q_events_conversion_lag): how long
    * after the LAST touch does the purchase land? The funnel-latency
    * census behind attribution-window tuning — lags bucket to whole
    * hours (≤168 cells inside the 7-day window), and the quartiles
    * interpolate on the bounded hour grid with pure BIGINT algebra
    * (the q_agg_loghist crossing idiom, at p25/p50/p75 in one pass).
    * The touch join is the same user-keyed range join as attribution;
    * purchases with no in-window touch are excluded (they have no
    * lag). */
  val qEventsConversionLag = Q(
    "q_events_conversion_lag",
    (s, d) => {
      val e = ev(s, d)
      val p = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
          col("ts").as("p_ts"))
      val tch = e.filter(col("event_type").isin("click", "view"))
        .select(col("user_id").as("t_user"), col("event_id").as("t_id"),
          col("ts").as("t_ts"))
      val lags = p.join(tch,
        col("p_user") === col("t_user") &&
          col("t_ts") < col("p_ts") &&
          col("t_ts") >= col("p_ts") - expr("INTERVAL 7 DAYS"))
        .groupBy(col("p_id"), col("p_ts"))
        .agg(max(col("t_ts")).as("last_t"))
        .select(expr(
          """(unix_micros(CAST(p_ts AS TIMESTAMP))
             - unix_micros(CAST(last_t AS TIMESTAMP)))
             div 3600000000L""").as("lag_h"))
      val grid = lags.groupBy(col("lag_h")).agg(count(lit(1)).as("n"))
      val wCum = Window.orderBy(col("lag_h"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      // ≤168-row hour grid — checkpointed because the three quantile
      // branches each re-enter the purchase⋈touch range join otherwise
      // (6 logical copies of the events scan in the un-cut form)
      val cum = grid
        .withColumn("cum_n", sum(col("n")).over(wCum))
        .withColumn("nn", sum(col("n")).over(wAll))
        .localCheckpoint()
      val qs = Seq(("p25", 1), ("p50", 2), ("p75", 3)).map {
        case (name, q) =>
          cum.filter(
            expr(s"cum_n - n < ($q * nn + 3) div 4") &&
              expr(s"cum_n >= ($q * nn + 3) div 4"))
            .selectExpr(s"'$name' AS quantile", "lag_h", "n", "nn")
      }
      qs.reduce(_ unionAll _).orderBy(col("quantile"))
    },
    Some("""WITH p AS (
        SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts
        FROM events WHERE event_type = 'purchase'),
      tch AS (
        SELECT user_id AS t_user, event_id AS t_id, ts AS t_ts
        FROM events WHERE event_type IN ('click', 'view')),
      lags AS (
        SELECT (epoch_us(p_ts) - epoch_us(max(t_ts))) // 3600000000
          AS lag_h
        FROM p JOIN tch
          ON p_user = t_user AND t_ts < p_ts
          AND t_ts >= p_ts - INTERVAL 7 DAY
        GROUP BY p_id, p_ts),
      grid AS (
        SELECT lag_h, CAST(count(*) AS BIGINT) AS n
        FROM lags GROUP BY lag_h),
      cum AS (
        SELECT lag_h, n,
          CAST(sum(n) OVER (ORDER BY lag_h
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_n,
          CAST(sum(n) OVER () AS BIGINT) AS nn
        FROM grid)
      SELECT q.quantile, lag_h, n, nn
      FROM cum
      CROSS JOIN (SELECT unnest(['p25', 'p50', 'p75']) AS quantile,
                    unnest([1, 2, 3]) AS k) q
      WHERE cum_n - n < (q.k * nn + 3) // 4
        AND cum_n >= (q.k * nn + 3) // 4
      ORDER BY q.quantile NULLS FIRST"""))

  // ---- q_sample_pps -----------------------------------------------------

  /** Probability-proportional-to-size sample (q_sample_pps): sequential
    * Poisson sampling — each order draws a deterministic uniform from
    * its key hash, priority = u / weight (weight = order value in
    * cents), and the 200 smallest priorities form the sample. The
    * standard one-pass distributed PPS design: priorities are computed
    * scan-locally and the selection is a bounded top-k (TakeOrdered —
    * per-partition heads then a driver merge, never a global sort of
    * the corpus). */
  val qSamplePps = Q(
    "q_sample_pps",
    (s, d) =>
      ord(s, d)
        .select(col("o_orderkey"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("w_cents"),
          expr("""CAST(conv(substring(md5(CAST(CAST(o_orderkey AS STRING)
                    AS BINARY)), 1, 8), 16, 10) AS BIGINT)""").as("h"))
        .select(col("o_orderkey"), col("w_cents"),
          round(((col("h") + 1L) / lit(4294967296.0) / col("w_cents")) *
            1e9, 6).as("pri_scaled"))
        .orderBy(col("pri_scaled"), col("o_orderkey"))
        .limit(200),
    Some("""SELECT o_orderkey,
        CAST(floor(o_totalprice * 100 + 0.5e0) AS BIGINT) AS w_cents,
        round((CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)
                 AS BIGINT) + 1) / 4294967296.0e0
              / CAST(floor(o_totalprice * 100 + 0.5e0) AS BIGINT)
              * 1e9, 6) AS pri_scaled
      FROM orders
      ORDER BY pri_scaled NULLS FIRST, o_orderkey NULLS FIRST
      LIMIT 200"""))

  // ---- q_sample_ht ------------------------------------------------------

  /** Horvitz-Thompson estimation under Poisson PPS (q_sample_ht): the
    * unbiasedness half of the sampling tier — draw a Poisson sample
    * with inclusion probability π_i = min(1, 200·w_i/W) (w = order
    * value in cents, W the corpus total), then estimate the population
    * SIZE as Σ 1/π_i over the sample and the value TOTAL as Σ w_i/π_i.
    * The size estimator is the non-trivial one (the total is
    * self-weighted under PPS: every non-certainty unit contributes
    * exactly W/200). Per-row doubles are single divisions; both HT sums
    * are quantized to integer micro per row before aggregation (the
    * no-double-crosses-an-aggregate rule). One broadcast of the scalar
    * W; selection is scan-local — the classic one-pass design that
    * needs no sort at any scale. */
  val qSampleHt = Q(
    "q_sample_ht",
    (s, d) => {
      val o = ord(s, d).select(col("o_orderkey"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("w"))
      val tot = o.agg(sum(col("w")).as("ww"), count(lit(1)).as("n_pop"))
      o.crossJoin(broadcast(tot))
        .withColumn("u", expr(
          """(CAST(conv(substring(md5(CAST(CAST(o_orderkey AS STRING)
               AS BINARY)), 1, 8), 16, 10) AS BIGINT) + 1)
             / 4294967296.0"""))
        // 200.0D not 200.0: a bare decimal literal drags the whole ratio
        // into rounded DECIMAL division (Spark parses 200.0 as
        // DECIMAL(4,1)), silently diverging from DuckDB's double math —
        // caught by the sf0.001 replay where w·100/pi lands exactly on a
        // floor half-boundary.
        .withColumn("pi", expr(
          "CASE WHEN 200.0D * w / ww > 1.0D THEN 1.0D " +
            "ELSE 200.0D * w / ww END"))
        // pi >= 1 units are certainty units: Horvitz-Thompson requires
        // them unconditionally in-sample. u can be exactly 1.0 (hash
        // prefix 0xffffffff makes (h+1)/2^32 = 1), so `u < pi` alone
        // could drop a certainty unit and skew ht_total_est.
        .filter(col("u") < col("pi") || col("pi") >= lit(1.0))
        .agg(
          max(col("n_pop")).as("n_pop"),
          max(col("ww")).as("true_total_cents"),
          count(lit(1)).as("n_sampled"),
          sum(expr("CAST(floor(1e6 / pi + 0.5) AS BIGINT)"))
            .as("ht_n_micro"),
          sum(expr("CAST(floor(w * 1e2 / pi + 0.5) AS BIGINT)"))
            .as("ht_total_centi"))
        .selectExpr("n_pop", "true_total_cents", "n_sampled",
          "round(ht_n_micro / 1e6, 6) AS ht_n_est",
          "round(ht_total_centi / 1e2, 6) AS ht_total_est")
    },
    Some("""WITH o AS (
        SELECT o_orderkey,
          CAST(floor(o_totalprice * 100 + 0.5e0) AS BIGINT) AS w
        FROM orders),
      tot AS (SELECT CAST(sum(w) AS BIGINT) AS ww,
                CAST(count(*) AS BIGINT) AS n_pop FROM o),
      drawn AS (
        SELECT w, ww, n_pop,
          (CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)
             AS BIGINT) + 1) / 4294967296.0e0 AS u,
          CASE WHEN 200.0e0 * w / ww > 1.0e0 THEN 1.0e0
               ELSE 200.0e0 * w / ww END AS pi
        FROM o CROSS JOIN tot)
      SELECT max(n_pop) AS n_pop, max(ww) AS true_total_cents,
        CAST(count(*) AS BIGINT) AS n_sampled,
        round(sum(CAST(floor(1e6 / pi + 0.5e0) AS BIGINT)) / 1e6, 6)
          AS ht_n_est,
        round(sum(CAST(floor(w * 1e2 / pi + 0.5e0) AS BIGINT)) / 1e2, 6)
          AS ht_total_est
      FROM drawn WHERE u < pi OR pi >= 1.0e0"""))

  // ---- q_ml_stump -------------------------------------------------------

  /** Best decision stump by Gini impurity (q_ml_stump): the one-split
    * tree that best separates error events from the rest, searched over
    * two features at once — hour-of-day (24-value grid) and value cents
    * (the bounded price grid). For every candidate threshold t the
    * weighted Gini of the (x ≤ t | x > t) split comes from cumulative
    * INTEGER counts over the per-feature value grid (one hash aggregate
    * over the corpus, then windows over the grid only — the
    * q_agg_equidepth discipline); the winner is the lexicographic
    * (gini, feature, threshold) minimum, so ties break identically in
    * both engines. Count squares ride in DECIMAL(38,0)/HUGEINT before
    * the one double division (the q_agg_skew_kurt overflow rule). */
  val qMlStump = Q(
    "q_ml_stump",
    (s, d) => {
      val rows = ev(s, d).select(
        when(col("event_type") === "error", 1L).otherwise(0L).as("y"),
        hour(col("ts")).cast("long").as("f_hour"),
        floor(col("value") * 100 + 0.5).cast("long").as("f_cents"))
      val stacked = rows.selectExpr(
        "stack(2, 'hour', f_hour, 'cents', f_cents) AS (feature, x)", "y")
      val grid = stacked.groupBy(col("feature"), col("x"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
      val wCum = Window.partitionBy(col("feature")).orderBy(col("x"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("feature"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      grid
        .withColumn("nl", sum(col("n")).over(wCum))
        .withColumn("pl", sum(col("pos")).over(wCum))
        .withColumn("nn", sum(col("n")).over(wAll))
        .withColumn("pp", sum(col("pos")).over(wAll))
        .filter(col("nl") < col("nn"))
        .selectExpr("feature", "x AS threshold", "nl AS n_left",
          "nn - nl AS n_right",
          """(CAST(nl AS DOUBLE)
              - CAST(CAST(pl AS DECIMAL(38,0)) * pl
                     + CAST(nl - pl AS DECIMAL(38,0)) * (nl - pl)
                  AS DOUBLE) / nl
              + CAST(nn - nl AS DOUBLE)
              - CAST(CAST(pp - pl AS DECIMAL(38,0)) * (pp - pl)
                     + CAST((nn - nl) - (pp - pl) AS DECIMAL(38,0))
                       * ((nn - nl) - (pp - pl))
                  AS DOUBLE) / (nn - nl)) / nn AS gini""")
        .orderBy(col("gini"), col("feature"), col("threshold"))
        .limit(1)
        .selectExpr("feature", "threshold", "n_left", "n_right",
          "round(gini, 6) AS gini")
    },
    Some("""WITH rows_ AS (
        SELECT CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS y,
          CAST(extract(hour FROM ts) AS BIGINT) AS f_hour,
          CAST(floor(value * 100 + 0.5e0) AS BIGINT) AS f_cents
        FROM events),
      stacked AS (
        SELECT 'hour' AS feature, f_hour AS x, y FROM rows_
        UNION ALL
        SELECT 'cents', f_cents, y FROM rows_),
      grid AS (
        SELECT feature, x, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(y) AS BIGINT) AS pos
        FROM stacked GROUP BY feature, x),
      cum AS (
        SELECT feature, x,
          CAST(sum(n) OVER (PARTITION BY feature ORDER BY x
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS nl,
          CAST(sum(pos) OVER (PARTITION BY feature ORDER BY x
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS pl,
          CAST(sum(n) OVER (PARTITION BY feature) AS BIGINT) AS nn,
          CAST(sum(pos) OVER (PARTITION BY feature) AS BIGINT) AS pp
        FROM grid),
      scored AS (
        SELECT feature, x AS threshold, nl AS n_left, nn - nl AS n_right,
          (CAST(nl AS DOUBLE)
           - CAST(CAST(pl AS HUGEINT) * pl
                  + CAST(nl - pl AS HUGEINT) * (nl - pl) AS DOUBLE) / nl
           + CAST(nn - nl AS DOUBLE)
           - CAST(CAST(pp - pl AS HUGEINT) * (pp - pl)
                  + CAST((nn - nl) - (pp - pl) AS HUGEINT)
                    * ((nn - nl) - (pp - pl)) AS DOUBLE) / (nn - nl))
          / nn AS gini
        FROM cum WHERE nl < nn)
      SELECT feature, threshold, n_left, n_right,
        round(gini, 6) AS gini
      FROM (SELECT * FROM scored
            ORDER BY gini NULLS FIRST, feature NULLS FIRST,
                     threshold NULLS FIRST
            LIMIT 1) z"""))

  // ---- q_ml_adaboost ----------------------------------------------------

  /** Weighted-error stump search over the stacked (hour, cents) grids:
    * cumulative integer weight sums per candidate threshold, each side
    * predicting its weighted-majority label (ties → 0), minimizing
    * min(wl_pos, wl_neg) + min(wr_pos, wr_neg); lexicographic
    * tie-break. Weights are integer micro-units so every comparison is
    * BIGINT-exact. r17: the input is the (f_hour, f_cents, y, cnt,
    * wgt) JOINT-grid cell frame, not row-level data — Σ cnt·wgt over
    * cells equals the row-level Σ wgt exactly (all BIGINTs), so each
    * search is bounded-grid algebra instead of a corpus pass. */
  private def stumpSearch(cells: DataFrame): DataFrame = {
    val grid = cells.selectExpr(
      "stack(2, 'hour', f_hour, 'cents', f_cents) AS (feature, x)",
      "y", "cnt", "wgt")
      .groupBy(col("feature"), col("x"))
      .agg(sum(col("cnt") * col("wgt")).as("sw"),
        sum(col("cnt") * col("wgt") * col("y")).as("swp"))
    val wCum = Window.partitionBy(col("feature")).orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("feature"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    grid
      .withColumn("wl", sum(col("sw")).over(wCum))
      .withColumn("wlp", sum(col("swp")).over(wCum))
      .withColumn("wt", sum(col("sw")).over(wAll))
      .withColumn("wtp", sum(col("swp")).over(wAll))
      .filter(col("wl") < col("wt"))
      .selectExpr("feature", "x AS thr",
        "CASE WHEN 2 * wlp > wl THEN 1L ELSE 0L END AS pred_l",
        "CASE WHEN 2 * (wtp - wlp) > wt - wl THEN 1L ELSE 0L END AS pred_r",
        """CASE WHEN wlp < wl - wlp THEN wlp ELSE wl - wlp END
           + CASE WHEN wtp - wlp < (wt - wl) - (wtp - wlp)
             THEN wtp - wlp ELSE (wt - wl) - (wtp - wlp) END AS werr""",
        "wt")
      .orderBy(col("werr"), col("feature"), col("thr"))
      .limit(1)
  }

  /** The identical search as DuckDB CTEs reading (y, f_hour, f_cents,
    * wgt) from `src`; emits a 1-row CTE named `out`. */
  private def stumpSql(src: String, out: String): String =
    s"""${out}_grid AS (
        SELECT feature, x, CAST(sum(wgt) AS BIGINT) AS sw,
          CAST(sum(wgt * y) AS BIGINT) AS swp
        FROM (SELECT 'hour' AS feature, f_hour AS x, y, wgt FROM $src
              UNION ALL
              SELECT 'cents', f_cents, y, wgt FROM $src) u
        GROUP BY feature, x),
      ${out}_cum AS (
        SELECT feature, x,
          CAST(sum(sw) OVER (PARTITION BY feature ORDER BY x
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS wl,
          CAST(sum(swp) OVER (PARTITION BY feature ORDER BY x
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS wlp,
          CAST(sum(sw) OVER (PARTITION BY feature) AS BIGINT) AS wt,
          CAST(sum(swp) OVER (PARTITION BY feature) AS BIGINT) AS wtp
        FROM ${out}_grid),
      $out AS (
        SELECT feature, x AS thr,
          CASE WHEN 2 * wlp > wl THEN 1 ELSE 0 END AS pred_l,
          CASE WHEN 2 * (wtp - wlp) > wt - wl THEN 1 ELSE 0 END
            AS pred_r,
          CASE WHEN wlp < wl - wlp THEN wlp ELSE wl - wlp END
          + CASE WHEN wtp - wlp < (wt - wl) - (wtp - wlp)
            THEN wtp - wlp ELSE (wt - wl) - (wtp - wlp) END AS werr,
          wt
        FROM ${out}_cum WHERE wl < wt
        ORDER BY CASE WHEN wlp < wl - wlp THEN wlp ELSE wl - wlp END
          + CASE WHEN wtp - wlp < (wt - wl) - (wtp - wlp)
            THEN wtp - wlp ELSE (wt - wl) - (wtp - wlp) END,
          feature, x
        LIMIT 1)"""

  /** Two-round AdaBoost over decision stumps (q_ml_adaboost): round 1
    * fits the best unweighted stump for the error label; misclassified
    * rows are reweighted by the exact AdaBoost factor (1−e)/e in
    * integer micro-units (DECIMAL/HUGEINT for the blow-up product, the
    * skew_kurt rule) and round 2 fits the best stump under those
    * weights; αs and the ensemble accuracy come last. r17: ONE corpus
    * pass builds the (f_hour, f_cents, y) joint cell grid — the
    * sufficient statistic for every round — so boosting at 100 TB is
    * one scan plus bounded-grid algebra, never K corpus scans.
    * Ties in the weighted-majority labels and the argmin break
    * lexicographically, so both engines pick the identical model. */
  val qMlAdaboost = Q(
    "q_ml_adaboost",
    (s, d) => {
      // ONE corpus pass — r17: every later step (round-2 reweight,
      // round-2 stump search, ensemble accuracy) depends only on
      // (f_hour, f_cents, y), so the domain-bounded JOINT grid with
      // cell counts is the sufficient statistic for the whole program.
      // Boosting at 100 TB is one scan + bounded-grid algebra — the
      // old three corpus passes (two stump searches + the scorer) now
      // read this checkpointed grid. All sums are Σ cnt·wgt over
      // cells = the row-level Σ wgt exactly (BIGINT), and per-cell
      // predictions equal per-row ones (they read only cell keys), so
      // the output is bit-identical.
      val g = ev(s, d).select(
          when(col("event_type") === "error", 1L).otherwise(0L).as("y"),
          hour(col("ts")).cast("long").as("f_hour"),
          floor(col("value") * 100 + 0.5).cast("long").as("f_cents"))
        .groupBy(col("f_hour"), col("f_cents"), col("y"))
        .agg(count(lit(1)).as("cnt"))
        .localCheckpoint()
      val r1 = g.withColumn("wgt", lit(1000000L))
      // the 1-row stumps are each consumed twice (the next round's
      // reweight and the final ensemble scorer) — checkpoint so each
      // boosting round is exactly one grid pass, never a re-entered
      // stump-search lineage
      val s1 = stumpSearch(r1).selectExpr("feature AS f1", "thr AS t1",
        "pred_l AS pl1", "pred_r AS pr1", "werr AS werr1", "wt AS wt1")
        .localCheckpoint()
      val tagged = g.crossJoin(broadcast(s1))
        .withColumn("p1", expr(
          """CASE WHEN (CASE WHEN f1 = 'hour' THEN f_hour ELSE f_cents
             END) <= t1 THEN pl1 ELSE pr1 END"""))
        .withColumn("wgt", expr(
          """CASE WHEN p1 = y THEN 1000000L
             ELSE CAST(CAST(wt1 - werr1 AS DECIMAL(38,0)) * 1000000
               div werr1 AS BIGINT) END"""))
      val s2 = stumpSearch(tagged).selectExpr("feature AS f2",
        "thr AS t2", "pred_l AS pl2", "pred_r AS pr2", "werr AS werr2",
        "wt AS wt2")
        .localCheckpoint()
      g.crossJoin(broadcast(s1)).crossJoin(broadcast(s2))
        .withColumn("p1", expr(
          """CASE WHEN (CASE WHEN f1 = 'hour' THEN f_hour ELSE f_cents
             END) <= t1 THEN pl1 ELSE pr1 END"""))
        .withColumn("p2", expr(
          """CASE WHEN (CASE WHEN f2 = 'hour' THEN f_hour ELSE f_cents
             END) <= t2 THEN pl2 ELSE pr2 END"""))
        .withColumn("a1", expr(
          "0.5 * ln((CAST(wt1 AS DOUBLE) - werr1) / werr1)"))
        .withColumn("a2", expr(
          "0.5 * ln((CAST(wt2 AS DOUBLE) - werr2) / werr2)"))
        .withColumn("pred", expr(
          """CASE WHEN a1 * (2 * p1 - 1) + a2 * (2 * p2 - 1) > 0.0
             THEN 1L ELSE 0L END"""))
        .groupBy(col("f1"), col("t1"), col("f2"), col("t2"))
        .agg(round(max(col("a1")), 6).as("alpha1"),
          round(max(col("a2")), 6).as("alpha2"),
          sum(col("cnt")).as("n"),
          sum(when(col("pred") === col("y"), col("cnt")).otherwise(0L))
            .as("n_correct"))
        .selectExpr("f1", "t1", "round(alpha1, 6) AS alpha1",
          "f2", "t2", "round(alpha2, 6) AS alpha2", "n", "n_correct",
          "round(CAST(n_correct AS DOUBLE) / n, 6) AS accuracy")
    },
    Some(s"""WITH base AS (
        SELECT CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS y,
          CAST(extract(hour FROM ts) AS BIGINT) AS f_hour,
          CAST(floor(value * 100 + 0.5e0) AS BIGINT) AS f_cents
        FROM events),
      r1 AS (SELECT *, CAST(1000000 AS BIGINT) AS wgt FROM base),
      ${stumpSql("r1", "s1")},
      tagged AS (
        SELECT base.*,
          CASE WHEN (CASE WHEN s1.feature = 'hour' THEN f_hour
                     ELSE f_cents END) <= s1.thr
            THEN s1.pred_l ELSE s1.pred_r END AS p1,
          s1.werr AS werr1, s1.wt AS wt1
        FROM base CROSS JOIN s1),
      r2 AS (
        SELECT y, f_hour, f_cents,
          CASE WHEN p1 = y THEN CAST(1000000 AS BIGINT)
            ELSE CAST(CAST(wt1 - werr1 AS HUGEINT) * 1000000
              // werr1 AS BIGINT) END AS wgt
        FROM tagged),
      ${stumpSql("r2", "s2")},
      scored AS (
        SELECT base.y,
          CASE WHEN (CASE WHEN s1.feature = 'hour' THEN f_hour
                     ELSE f_cents END) <= s1.thr
            THEN s1.pred_l ELSE s1.pred_r END AS p1,
          CASE WHEN (CASE WHEN s2.feature = 'hour' THEN f_hour
                     ELSE f_cents END) <= s2.thr
            THEN s2.pred_l ELSE s2.pred_r END AS p2,
          0.5e0 * ln((CAST(s1.wt AS DOUBLE) - s1.werr) / s1.werr) AS a1,
          0.5e0 * ln((CAST(s2.wt AS DOUBLE) - s2.werr) / s2.werr) AS a2,
          s1.feature AS f1, s1.thr AS t1,
          s2.feature AS f2, s2.thr AS t2
        FROM base CROSS JOIN s1 CROSS JOIN s2)
      SELECT f1, t1, round(max(a1), 6) AS alpha1,
        f2, t2, round(max(a2), 6) AS alpha2,
        CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CASE WHEN (CASE WHEN a1 * (2 * p1 - 1)
                        + a2 * (2 * p2 - 1) > 0.0e0
                      THEN 1 ELSE 0 END) = y THEN 1 ELSE 0 END)
          AS BIGINT) AS n_correct,
        round(sum(CASE WHEN (CASE WHEN a1 * (2 * p1 - 1)
                         + a2 * (2 * p2 - 1) > 0.0e0
                       THEN 1 ELSE 0 END) = y THEN 1 ELSE 0 END)
              * 1.0e0 / count(*), 6) AS accuracy
      FROM scored
      GROUP BY f1, t1, f2, t2"""))

  // ---- q_ml_kfold -------------------------------------------------------

  /** 5-fold cross-validated stump accuracy (q_ml_kfold): the model-
    * selection harness — rows hash into 5 folds, each fold's stump
    * trains on the other four and scores on its own. The trick that
    * keeps this ONE pass over the corpus: the per-(fold, feature,
    * value) grid plus the per-(feature, value) totals give every
    * fold's TRAINING counts by subtraction (total − own fold), so 5
    * models train from a single aggregate — k-fold CV at 100 TB costs
    * one scan + domain-bounded grid algebra, not k scans. Stumps pick
    * weighted-majority labels with the q_ml_adaboost tie rules;
    * argmin per fold breaks ties lexicographically. */
  val qMlKfold = Q(
    "q_ml_kfold",
    (s, d) => {
      val rows = ev(s, d).select(
        when(col("event_type") === "error", 1L).otherwise(0L).as("y"),
        hour(col("ts")).cast("long").as("f_hour"),
        floor(col("value") * 100 + 0.5).cast("long").as("f_cents"),
        expr("""CAST(conv(substring(md5(CAST(event_id AS STRING)), 1, 8),
             16, 10) AS BIGINT) % 5""").as("fold"))
      val stacked = rows.selectExpr(
        "stack(2, 'hour', f_hour, 'cents', f_cents) AS (feature, x)",
        "y", "fold")
      // ONE corpus aggregation: the (fold, feature, value) grid is the
      // sufficient statistic — the all-folds totals are its fold-sum,
      // not a second scan of the fact
      val perFold = stacked.groupBy(col("fold"), col("feature"), col("x"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
        .localCheckpoint()
      val cells = perFold.groupBy(col("feature"), col("x"))
        .agg(sum(col("n")).as("tn"), sum(col("pos")).as("tpos"))
      val folds = s.range(5).select(col("id").as("fold"))
      val train = cells.crossJoin(broadcast(folds))
        .join(perFold, Seq("fold", "feature", "x"), "left")
        .select(col("fold"), col("feature"), col("x"),
          (col("tn") - coalesce(col("n"), lit(0L))).as("n"),
          (col("tpos") - coalesce(col("pos"), lit(0L))).as("pos"))
      val wCum = Window.partitionBy(col("fold"), col("feature"))
        .orderBy(col("x"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("fold"), col("feature"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val scored = train
        .withColumn("wl", sum(col("n")).over(wCum))
        .withColumn("wlp", sum(col("pos")).over(wCum))
        .withColumn("wt", sum(col("n")).over(wAll))
        .withColumn("wtp", sum(col("pos")).over(wAll))
        .filter(col("wl") < col("wt"))
        .selectExpr("fold", "feature", "x AS thr",
          "CASE WHEN 2 * wlp > wl THEN 1L ELSE 0L END AS pred_l",
          "CASE WHEN 2 * (wtp - wlp) > wt - wl THEN 1L ELSE 0L END" +
            " AS pred_r",
          """CASE WHEN wlp < wl - wlp THEN wlp ELSE wl - wlp END
             + CASE WHEN wtp - wlp < (wt - wl) - (wtp - wlp)
               THEN wtp - wlp ELSE (wt - wl) - (wtp - wlp) END
             AS werr""")
      val best = scored
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("fold"))
            .orderBy(col("werr"), col("feature"), col("thr"))))
        .filter(col("rk") === 1)
        .select(col("fold").as("bfold"), col("feature").as("bfeat"),
          col("thr"), col("pred_l"), col("pred_r"))
      // Test scoring straight off the fold grid — r17: a test row's
      // prediction depends only on its (fold, best-feature value) cell,
      // and the grid already carries that cell's label counts (pos /
      // n − pos), so the held-out accuracy is grid algebra: correct =
      // pred==1 ? pos : n − pos per cell. Exact integers, and the
      // second corpus scan (+ per-row md5 fold hash) is gone — k-fold
      // CV at 100 TB is now ONE fact pass, full stop.
      perFold.join(broadcast(best),
          col("fold") === col("bfold") && col("feature") === col("bfeat"))
        .withColumn("n_corr",
          when(when(col("x") <= col("thr"), col("pred_l"))
            .otherwise(col("pred_r")) === 1L, col("pos"))
            .otherwise(col("n") - col("pos")))
        .groupBy(col("fold"), col("bfeat"), col("thr"))
        .agg(sum(col("n")).as("n_test"),
          sum(col("n_corr")).as("n_correct"))
        .selectExpr("fold", "bfeat AS feature", "thr AS threshold",
          "n_test", "n_correct",
          "round(CAST(n_correct AS DOUBLE) / n_test, 6) AS accuracy")
        .orderBy(col("fold"))
    },
    Some("""WITH rows_ AS (
        SELECT CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS y,
          CAST(extract(hour FROM ts) AS BIGINT) AS f_hour,
          CAST(floor(value * 100 + 0.5e0) AS BIGINT) AS f_cents,
          CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)
            AS BIGINT) % 5 AS fold
        FROM events),
      stacked AS (
        SELECT 'hour' AS feature, f_hour AS x, y, fold FROM rows_
        UNION ALL SELECT 'cents', f_cents, y, fold FROM rows_),
      perfold AS (
        SELECT fold, feature, x, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(y) AS BIGINT) AS pos
        FROM stacked GROUP BY fold, feature, x),
      cells AS (
        SELECT feature, x, CAST(count(*) AS BIGINT) AS tn,
          CAST(sum(y) AS BIGINT) AS tpos
        FROM stacked GROUP BY feature, x),
      train AS (
        SELECT f.fold, c.feature, c.x,
          tn - coalesce(n, 0) AS n, tpos - coalesce(pos, 0) AS pos
        FROM cells c
        CROSS JOIN (SELECT unnest(range(0, 5)) AS fold) f
        LEFT JOIN perfold p ON p.fold = f.fold
          AND p.feature = c.feature AND p.x = c.x),
      cum AS (
        SELECT fold, feature, x,
          CAST(sum(n) OVER wc AS BIGINT) AS wl,
          CAST(sum(pos) OVER wc AS BIGINT) AS wlp,
          CAST(sum(n) OVER wa AS BIGINT) AS wt,
          CAST(sum(pos) OVER wa AS BIGINT) AS wtp
        FROM train
        WINDOW wc AS (PARTITION BY fold, feature ORDER BY x
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
          wa AS (PARTITION BY fold, feature)),
      scored AS (
        SELECT fold, feature, x AS thr,
          CASE WHEN 2 * wlp > wl THEN 1 ELSE 0 END AS pred_l,
          CASE WHEN 2 * (wtp - wlp) > wt - wl THEN 1 ELSE 0 END
            AS pred_r,
          CASE WHEN wlp < wl - wlp THEN wlp ELSE wl - wlp END
          + CASE WHEN wtp - wlp < (wt - wl) - (wtp - wlp)
            THEN wtp - wlp ELSE (wt - wl) - (wtp - wlp) END AS werr
        FROM cum WHERE wl < wt),
      best AS (
        SELECT fold, feature, thr, pred_l, pred_r FROM (
          SELECT *, row_number() OVER (PARTITION BY fold
            ORDER BY werr, feature, thr) AS rk
          FROM scored) b
        WHERE rk = 1)
      SELECT r.fold, b.feature, b.thr AS threshold,
        CAST(count(*) AS BIGINT) AS n_test,
        CAST(sum(CASE WHEN (CASE WHEN (CASE WHEN b.feature = 'hour'
                    THEN r.f_hour ELSE r.f_cents END) <= b.thr
                  THEN b.pred_l ELSE b.pred_r END) = r.y
               THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
        round(sum(CASE WHEN (CASE WHEN (CASE WHEN b.feature = 'hour'
                     THEN r.f_hour ELSE r.f_cents END) <= b.thr
                   THEN b.pred_l ELSE b.pred_r END) = r.y
                THEN 1 ELSE 0 END) * 1.0e0 / count(*), 6) AS accuracy
      FROM rows_ r JOIN best b ON r.fold = b.fold
      GROUP BY r.fold, b.feature, b.thr
      ORDER BY r.fold NULLS FIRST"""))

  // ---- q_stats_bootstrap ------------------------------------------------

  /** Poisson-bootstrap confidence interval (q_stats_bootstrap): the
    * distributed bootstrap — instead of materializing B shuffled
    * resamples, every purchase row draws a deterministic Poisson(1)
    * multiplicity per resample from a hash of (event_id, b), so the
    * whole procedure is one scan-local explode plus one keyed aggregate
    * over the fixed 100-resample grid. Resample means are exact integer
    * MICRO-cents (BIGINT sums, one integer division), the 95% CI is the
    * nearest-rank 3rd/98th of the 100 means — no double ever crosses an
    * aggregate. Poisson inverse-CDF thresholds are e-notation double
    * literals (the DECIMAL-literal trap). */
  val qStatsBootstrap = Q(
    "q_stats_bootstrap",
    (s, d) => {
      val pur = ev(s, d).filter(col("event_type") === "purchase")
        .select(col("event_id"),
          floor(col("value") * 100 + 0.5).cast("long").as("c"))
      // ONE md5 per row; per-resample uniforms come from a Lehmer-style
      // integer mix of (row hash, b) — 100× fewer digest calls than
      // hashing (event_id, b) pairs (3.0 s → ~1 s at sf0.1), identical
      // integer algebra in both engines, products bounded far below
      // BIGINT (2^31 · 48271 ≈ 1e14) so neither wraps nor errors.
      val drawn = pur
        .withColumn("h", expr(
          """CAST(conv(substring(md5(CAST(CAST(event_id AS STRING)
               AS BINARY)), 1, 8), 16, 10) AS BIGINT) % 2147483647L"""))
        .select(col("event_id"), col("c"), col("h"),
          explode(expr("sequence(0, 99)")).as("b"))
        .withColumn("u", expr(
          """((h * 48271L + b * 16807L) % 2147483647L + 0.5D)
             / 2147483647.0D"""))
        .withColumn("m", expr(
          """CASE WHEN u < 0.36787944117144233 THEN 0
                  WHEN u < 0.7357588823428847  THEN 1
                  WHEN u < 0.9196986029286058  THEN 2
                  WHEN u < 0.9810118431238462  THEN 3
                  WHEN u < 0.9963401531726563  THEN 4
                  WHEN u < 0.9994058151824183  THEN 5
                  WHEN u < 0.9999167589426509  THEN 6
                  ELSE 7 END"""))
      // Σ(m·c) rides in DECIMAL(38,0) before the ×1e6 blow-up: at corpus
      // scale sum(m*c)*1e6 clears BIGINT (the q_agg_skew_kurt overflow
      // rule); DuckDB's sum(BIGINT) is HUGEINT already.
      val means = drawn.groupBy(col("b"))
        .agg(expr("CAST(CAST(sum(m * c) AS DECIMAL(38,0)) * 1000000" +
          " div sum(m) AS BIGINT)").as("mean_micro"))
      // BOTH CI bounds from ONE consumption of the ranked resample
      // means (r15 derivation lens): the old rk=3 / rk=98 filters each
      // re-derived `means` — re-running the whole 100× resample
      // explode and its aggregate twice more per run.
      val ci = means
        .withColumn("rk", row_number().over(
          Window.orderBy(col("mean_micro"), col("b"))))
        .agg(
          min(when(col("rk") === 3, col("mean_micro"))).as("lo_micro"),
          min(when(col("rk") === 98, col("mean_micro"))).as("hi_micro"))
      val point = pur.agg(
        expr("sum(c) * 1000000L div count(*)").as("point_micro"))
      point.crossJoin(broadcast(ci))
        .selectExpr("round(point_micro / 1e6, 6) AS mean_cents",
          "round(lo_micro / 1e6, 6) AS ci_lo",
          "round(hi_micro / 1e6, 6) AS ci_hi")
    },
    Some("""WITH pur AS (
        SELECT event_id, CAST(floor(value * 100 + 0.5e0) AS BIGINT) AS c
        FROM events WHERE event_type = 'purchase'),
      hashed AS (
        SELECT event_id, c,
          CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)
            AS BIGINT) % 2147483647 AS h
        FROM pur),
      drawn AS (
        SELECT event_id, c, b,
          ((h * 48271 + b * 16807) % 2147483647 + 0.5e0)
          / 2147483647.0e0 AS u
        FROM hashed CROSS JOIN (SELECT unnest(range(0, 100)) AS b)),
      mult AS (
        SELECT b, c,
          CASE WHEN u < 0.36787944117144233e0 THEN 0
               WHEN u < 0.7357588823428847e0  THEN 1
               WHEN u < 0.9196986029286058e0  THEN 2
               WHEN u < 0.9810118431238462e0  THEN 3
               WHEN u < 0.9963401531726563e0  THEN 4
               WHEN u < 0.9994058151824183e0  THEN 5
               WHEN u < 0.9999167589426509e0  THEN 6
               ELSE 7 END AS m
        FROM drawn),
      means AS (
        SELECT b, CAST(sum(m * c) * 1000000 // sum(m) AS BIGINT)
          AS mean_micro
        FROM mult GROUP BY b),
      ranked AS (
        SELECT mean_micro,
          row_number() OVER (ORDER BY mean_micro, b) AS rk
        FROM means),
      pt AS (
        SELECT CAST(sum(c) * 1000000 // count(*) AS BIGINT)
          AS point_micro FROM pur)
      SELECT round(point_micro / 1e6, 6) AS mean_cents,
        round((SELECT mean_micro FROM ranked WHERE rk = 3) / 1e6, 6)
          AS ci_lo,
        round((SELECT mean_micro FROM ranked WHERE rk = 98) / 1e6, 6)
          AS ci_hi
      FROM pt"""))

  // ---- q_stats_permutation ----------------------------------------------

  /** Randomization test for the weekend effect (q_stats_permutation):
    * does mean purchase value differ between weekend and weekday? The
    * observed |mean difference| is compared against 200 deterministic
    * label reallocations — each resample reassigns every purchase to
    * the "weekend" group with probability n_A/n via the same hashed
    * Lehmer stream as the bootstrap, the random-allocation form of the
    * permutation test that needs NO global shuffle (a true permutation
    * would sort the corpus; reallocation is scan-local per row, THE
    * distributed substitute). Group means are exact integer
    * micro-cents; the p-value is the add-one count estimate
    * (1 + #{T_b ≥ T_obs}) / (B + 1). Weekday masks: Spark dayofweek is
    * 1=Sun..7=Sat, DuckDB 0=Sun..6=Sat — the oracle uses (0,6). */
  val qStatsPermutation = Q(
    "q_stats_permutation",
    (s, d) => {
      val pur = ev(s, d).filter(col("event_type") === "purchase")
        .select(col("event_id"),
          floor(col("value") * 100 + 0.5).cast("long").as("c"),
          when(expr("dayofweek(ts) IN (1, 7)"), 1L).otherwise(0L)
            .as("g"))
      val obs = pur.agg(
        sum(when(col("g") === 1L, col("c"))).as("sa"),
        sum(when(col("g") === 1L, 1L).otherwise(0L)).as("na"),
        sum(when(col("g") === 0L, col("c"))).as("sb"),
        sum(when(col("g") === 0L, 1L).otherwise(0L)).as("nb"))
        .selectExpr("sa", "na", "sb", "nb",
          "abs(sa * 1000000L div na - sb * 1000000L div nb) AS t_obs")
      // Draw b = 99 is the OBSERVED split (ga = the real weekend
      // flag), so the observed statistic and counts fall out of the
      // same per-draw aggregate as the 200 permutations — the old
      // form re-derived the 1-row obs aggregate (and with it the
      // fact scan) twice more for t_obs and the output row. obs
      // itself survives only as the assignment-threshold broadcast
      // (na/nb must precede the draws — irreducible pre-pass); every
      // final scalar rides the bounded 201-row per-draw frame.
      val drawn = pur
        .withColumn("h", expr(
          """CAST(conv(substring(md5(CAST(CAST(event_id AS STRING)
               AS BINARY)), 1, 8), 16, 10) AS BIGINT) % 2147483647L"""))
        .select(col("c"), col("h"), col("g"),
          explode(expr("sequence(99, 299)")).as("b"))
        .crossJoin(broadcast(obs.select(col("na"), col("nb"))))
        // u < nA/n as the exact integer cross-product (no division).
        // The u31·(na+nb) product rides in DECIMAL(38,0)/HUGEINT: for
        // row counts above ~4e9 the BIGINT product wraps silently in
        // non-ANSI Spark while DuckDB raises (overflow rule).
        .withColumn("ga", expr(
          """CASE WHEN b = 99 THEN g
             WHEN CAST((h * 48271L + b * 16807L) % 2147483647L
                 AS DECIMAL(38,0))
               * (na + nb) < CAST(na AS DECIMAL(38,0)) * 2147483647L
             THEN 1L ELSE 0L END"""))
      val perB = drawn.groupBy(col("b"))
        .agg(sum(when(col("ga") === 1L, col("c"))).as("sa"),
          sum(col("ga")).as("na2"),
          sum(when(col("ga") === 0L, col("c"))).as("sb"),
          sum(lit(1L) - col("ga")).as("nb2"))
        .selectExpr("b", "na2", "nb2",
          """coalesce(abs(sa * 1000000L div nullif(na2, 0L)
             - sb * 1000000L div nullif(nb2, 0L)), 0L) AS t_b""",
          // the UN-coalesced statistic for the b=99 observed row: a
          // degenerate observed split (all purchases one side of the
          // weekend flag) must propagate null t_obs → n_exceed 0, not
          // read as t_o=0 with every draw counting as an exceedance
          // (ADVICE r16; unreachable on the driver data, where both
          // groups are populated — values identical there)
          """abs(sa * 1000000L div nullif(na2, 0L)
             - sb * 1000000L div nullif(nb2, 0L)) AS t_raw""")
      perB
        .withColumn("t_o", max(when(col("b") === 99L, col("t_raw")))
          .over(Window.partitionBy()))
        .agg(
          max(when(col("b") === 99L, col("na2"))).as("na"),
          max(when(col("b") === 99L, col("nb2"))).as("nb"),
          first(col("t_o")).as("t_obs"),
          sum(when(col("b") >= 100L && col("t_b") >= col("t_o"), 1L)
            .otherwise(0L)).as("n_exceed"))
        .selectExpr("na", "nb",
          "round(t_obs / 1e6, 6) AS diff_obs_cents", "n_exceed",
          "round((1 + n_exceed) / 201.0D, 6) AS p_value")
    },
    Some("""WITH pur AS (
        SELECT event_id, CAST(floor(value * 100 + 0.5e0) AS BIGINT) AS c,
          CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END AS g
        FROM events WHERE event_type = 'purchase'),
      obs AS (
        SELECT CAST(sum(CASE WHEN g = 1 THEN c END) AS BIGINT) AS sa,
          CAST(sum(g) AS BIGINT) AS na,
          CAST(sum(CASE WHEN g = 0 THEN c END) AS BIGINT) AS sb,
          CAST(sum(1 - g) AS BIGINT) AS nb
        FROM pur),
      obs2 AS (
        SELECT *, abs(sa * 1000000 // na - sb * 1000000 // nb) AS t_obs
        FROM obs),
      drawn AS (
        SELECT c, b, na, nb,
          CASE WHEN CAST(((CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)),
                 1, 8) AS BIGINT) % 2147483647 * 48271 + b * 16807)
               % 2147483647) AS HUGEINT) * (na + nb)
               < CAST(na AS HUGEINT) * 2147483647
            THEN 1 ELSE 0 END AS ga
        FROM pur CROSS JOIN (SELECT unnest(range(100, 300)) AS b)
          CROSS JOIN obs),
      perb AS (
        SELECT b,
          coalesce(abs(
            CAST(sum(CASE WHEN ga = 1 THEN c END) AS BIGINT) * 1000000
              // nullif(CAST(sum(ga) AS BIGINT), 0)
            - CAST(sum(CASE WHEN ga = 0 THEN c END) AS BIGINT) * 1000000
              // nullif(CAST(sum(1 - ga) AS BIGINT), 0)), 0) AS t_b
        FROM drawn GROUP BY b)
      SELECT na, nb, round(t_obs / 1e6, 6) AS diff_obs_cents,
        CAST(sum(CASE WHEN t_b >= t_obs THEN 1 ELSE 0 END) AS BIGINT)
          AS n_exceed,
        round((1 + sum(CASE WHEN t_b >= t_obs THEN 1 ELSE 0 END))
              / 201.0e0, 6) AS p_value
      FROM perb CROSS JOIN obs2
      GROUP BY na, nb, t_obs"""))

  // ---- q_stats_power ----------------------------------------------------

  /** Two-sample power analysis (q_stats_power): the experiment-design
    * calculator — given the OBSERVED purchase-value variance, how many
    * samples per arm detect a 1%/2%/5%/10% lift of the observed mean
    * at α=0.05, power 0.8? n = 2σ²(z_{α/2}+z_β)²/δ². Variance comes
    * from the exact cent sufficient statistics (Σc, Σc² in
    * DECIMAL/HUGEINT — population σ²); z constants are fixed double
    * literals; one corpus aggregate, four output rows of constant
    * algebra, ceil to whole samples identically in both engines. */
  val qStatsPower = Q(
    "q_stats_power",
    (s, d) => {
      val st = ev(s, d).filter(col("event_type") === "purchase")
        .select(floor(col("value") * 100 + 0.5).cast("long").as("c"))
        .agg(count(lit(1)).as("n"),
          sum(col("c").cast("decimal(38,0)")).as("sc"),
          sum(col("c").cast("decimal(38,0)") * col("c")).as("sc2"))
      st.crossJoin(
        s.range(1).selectExpr(
          "explode(array(1L, 2L, 5L, 10L)) AS lift_pct"))
        .selectExpr("lift_pct", "n",
          "round(CAST(sc AS DOUBLE) / n / 100, 6) AS mean_value",
          """round(sqrt((CAST(sc2 AS DOUBLE)
               - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE) / n) / n)
             / 100, 6) AS stddev_value""",
          // z_{0.025}=1.959963985, z_{0.2}=0.8416212336
          """CAST(ceil(
               2.0D * ((CAST(sc2 AS DOUBLE)
                   - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE) / n) / n)
               * (1.959963985D + 0.8416212336D)
               * (1.959963985D + 0.8416212336D)
               / ((CAST(sc AS DOUBLE) / n * lift_pct / 100.0D)
                  * (CAST(sc AS DOUBLE) / n * lift_pct / 100.0D)))
             AS BIGINT) AS n_per_arm""")
        .orderBy(col("lift_pct"))
    },
    Some("""WITH st AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
          sum(CAST(c AS HUGEINT)) AS sc,
          sum(CAST(c AS HUGEINT) * c) AS sc2
        FROM (SELECT CAST(floor(value * 100 + 0.5e0) AS BIGINT) AS c
              FROM events WHERE event_type = 'purchase') x)
      SELECT lift_pct, n,
        round(CAST(sc AS DOUBLE) / n / 100, 6) AS mean_value,
        round(sqrt((CAST(sc2 AS DOUBLE)
            - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE) / n) / n)
          / 100, 6) AS stddev_value,
        CAST(ceil(
          2.0e0 * ((CAST(sc2 AS DOUBLE)
              - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE) / n) / n)
          * (1.959963985e0 + 0.8416212336e0)
          * (1.959963985e0 + 0.8416212336e0)
          / ((CAST(sc AS DOUBLE) / n * lift_pct / 100.0e0)
             * (CAST(sc AS DOUBLE) / n * lift_pct / 100.0e0)))
          AS BIGINT) AS n_per_arm
      FROM st CROSS JOIN (SELECT unnest([1, 2, 5, 10]) AS lift_pct)
      ORDER BY lift_pct NULLS FIRST"""))

  // ---- q_agg_loghist ----------------------------------------------------

  /** Power-of-two log histogram (q_agg_loghist): the HdrHistogram /
    * DDSketch family's integer-exact cousin — bucket = bit length of
    * the value in cents, so bucketing is string-length arithmetic with
    * NO floating log whose boundary rounding could differ between
    * engines. Emits the bucket census with cumulative counts plus an
    * interpolated median estimate on the crossing bucket (uniform
    * within-bucket assumption, all-BIGINT algebra). One hash aggregate
    * over the corpus; windows over the ≤64-row bucket grid. */
  val qAggLoghist = Q(
    "q_agg_loghist",
    (s, d) => {
      val g = ev(s, d)
        .select(floor(col("value") * 100 + 0.5).cast("long").as("c"))
        .filter(col("c") >= 1L)
        .select(length(expr("conv(c, 10, 2)")).cast("long").as("bucket"),
          col("c"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), min(col("c")).as("min_c"),
          max(col("c")).as("max_c"))
      val wCum = Window.orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      g.withColumn("cum_n", sum(col("n")).over(wCum))
        .withColumn("nn", sum(col("n")).over(wAll))
        .selectExpr("bucket", "n", "cum_n", "min_c", "max_c",
          "CAST(pow(2, bucket - 1) AS BIGINT) AS lo_bound",
          "CAST(pow(2, bucket) AS BIGINT) - 1 AS hi_bound",
          """CASE WHEN cum_n - n < (nn + 1) div 2 AND cum_n >= (nn + 1) div 2
             THEN CAST(pow(2, bucket - 1) AS BIGINT)
                  + ((nn + 1) div 2 - (cum_n - n) - 1)
                    * (CAST(pow(2, bucket - 1) AS BIGINT)) div n
             ELSE NULL END AS median_est""")
        .orderBy(col("bucket"))
    },
    Some("""WITH g AS (
        SELECT CAST(length(to_base(c, 2)) AS BIGINT) AS bucket,
          c
        FROM (SELECT CAST(floor(value * 100 + 0.5e0) AS BIGINT) AS c
              FROM events) x
        WHERE c >= 1),
      byb AS (
        SELECT bucket, CAST(count(*) AS BIGINT) AS n,
          min(c) AS min_c, max(c) AS max_c
        FROM g GROUP BY bucket),
      cum AS (
        SELECT *,
          CAST(sum(n) OVER (ORDER BY bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_n,
          CAST(sum(n) OVER () AS BIGINT) AS nn
        FROM byb)
      SELECT bucket, n, cum_n, min_c, max_c,
        CAST(2 ** (bucket - 1) AS BIGINT) AS lo_bound,
        CAST(2 ** bucket AS BIGINT) - 1 AS hi_bound,
        CASE WHEN cum_n - n < (nn + 1) // 2 AND cum_n >= (nn + 1) // 2
        THEN CAST(2 ** (bucket - 1) AS BIGINT)
             + ((nn + 1) // 2 - (cum_n - n) - 1)
               * CAST(2 ** (bucket - 1) AS BIGINT) // n
        ELSE NULL END AS median_est
      FROM cum
      ORDER BY bucket NULLS FIRST"""))

  // ---- q_graph_closeness ------------------------------------------------

  /** Landmark harmonic closeness (q_graph_closeness): approximate
    * closeness centrality over the derived link graph — multi-source
    * BFS from 8 fixed landmark nodes for 4 fixed rounds, then per node
    * the harmonic sum Σ 1/dist over reached landmarks, in exact integer
    * MILLIONTHS (1000000 div dist — no float division at all). The
    * landmark trick is the scale story: exact closeness is all-pairs
    * BFS (quadratic); k landmarks cost k·|E| per round with rounds
    * bounded by the probe radius, independent of node count. Frontier
    * propagation reuses the cached undirected edge list and the
    * min-dist merge discipline of q_graph_bfs. */
  /** (landmark, node, dist) labels from a fixed-round multi-source BFS
    * over the cached link graph — shared by closeness, the effective
    * diameter and betweenness. Memoized at the DEEPEST radius any
    * consumer asks for (6): a 6-round min-dist table restricted to
    * dist ≤ r IS the r-round table (a node first reached by round r
    * has dist ≤ r), so one build serves all three instead of three
    * fresh 4-6 round BFS runs per bench pass. Its release frees every
    * round's checkpoint blocks. */
  private val lbfsMaxRounds = 6

  private[graft] def landmarkBfs(s: SparkSession, d: String,
      rounds: Int): DataFrame = {
    require(rounds <= lbfsMaxRounds,
      s"landmarkBfs memo built at radius $lbfsMaxRounds < $rounds")
    val full = Fixpoints.memo[DataFrame](s, d, "landmarkbfs") {
      val perRound = landmarkBfsBuild(s, d, lbfsMaxRounds)
      Fixpoints.holding(perRound.last, perRound: _*)
    }
    if (rounds >= lbfsMaxRounds) full
    else full.filter(col("dist") <= rounds.toLong)
  }

  /** Bench-warmup hook: materialize the shared landmark-BFS labels. */
  private[graft] def warmShared(s: SparkSession, d: String): Unit = {
    landmarkBfs(s, d, lbfsMaxRounds).count()
    // the logistic weights are a shared fixpoint too (q_ml_logreg and
    // q_ml_featimp both consume the one trained model) — un-warmed,
    // whichever consumer the bench reaches first was charged the whole
    // 4-round IRLS build (~1.2 s at sf0.1 landing on q_ml_featimp)
    logregWeights(s, d).count()
    ()
  }

  /** The checkpointed labels after each round; the last is the result. */
  private def landmarkBfsBuild(s: SparkSession, d: String,
      rounds: Int): Seq[DataFrame] = {
    val und = Insights.undirectedLinkEdges(s, d)
    val edges = und.select(col("a").as("u"), col("b").as("w"))
      .unionAll(und.select(col("b").as("u"), col("a").as("w")))
    // size the tiny per-round shuffles to the (cached, counted) edge
    // list, not the session default — the q_graph_bfs discipline
    val saved = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions",
      math.min(8, saved.toInt).toString)
    try {
      val seed = s.range(8)
        .select(col("id").as("l"), col("id").as("v"), lit(0L).as("dist"))
      (1 to rounds).scanLeft(seed) { (labels, _) =>
        val cand = labels.join(edges, col("v") === col("u"))
          .select(col("l"), col("w").as("v"),
            (col("dist") + 1L).as("dist"))
        labels.unionAll(cand)
          .groupBy(col("l"), col("v")).agg(min(col("dist")).as("dist"))
          .localCheckpoint() // eager: materialize under the capped width
      }.tail
    } finally s.conf.set("spark.sql.shuffle.partitions", saved)
  }

  val qGraphCloseness = Q(
    "q_graph_closeness",
    (s, d) => {
      landmarkBfs(s, d, 4).filter(col("dist") > 0L)
        .groupBy(col("v"))
        .agg(count(lit(1)).as("n_landmarks"),
          sum(expr("1000000L div dist")).as("harmonic_micro"))
        .orderBy(col("v"))
    },
    Some(s"""WITH RECURSIVE ${Insights.undirectedLinkEdgesSql},
      edges AS (SELECT a AS u, b AS v FROM und
                UNION ALL SELECT b, a FROM und),
      bfs(l, v, dist) AS (
        SELECT CAST(x AS BIGINT), CAST(x AS BIGINT), CAST(0 AS BIGINT)
        FROM (SELECT unnest(range(0, 8)) AS x)
        UNION
        SELECT bfs.l, e.v, bfs.dist + 1
        FROM bfs JOIN edges e ON e.u = bfs.v
        WHERE bfs.dist < 4),
      best AS (
        SELECT l, v, min(dist) AS dist FROM bfs GROUP BY l, v)
      SELECT v, CAST(count(*) AS BIGINT) AS n_landmarks,
        CAST(sum(1000000 // dist) AS BIGINT) AS harmonic_micro
      FROM best WHERE dist > 0
      GROUP BY v
      ORDER BY v NULLS FIRST"""))

  // ---- q_graph_eff_diameter ---------------------------------------------

  /** Effective diameter estimate (q_graph_eff_diameter): the smallest
    * hop count within which 90% of reachable (landmark, node) pairs
    * sit — the ANF/HyperANF summary statistic, here from the same
    * 8-landmark BFS labels (6 rounds for deeper reach). The distance
    * histogram is grid-bounded (≤7 rows); the 0.9 crossing
    * interpolates in exact integer MICRO-hops: target = ceil(0.9·N)
    * via (9N+9) div 10, d90 = (d−1) + (target − cum_prev)/(cum −
    * cum_prev), all BIGINT until the single emission division. */
  val qGraphEffDiameter = Q(
    "q_graph_eff_diameter",
    (s, d) => {
      val hist = landmarkBfs(s, d, 6).filter(col("dist") > 0L)
        .groupBy(col("dist")).agg(count(lit(1)).as("n_pairs"))
      val wCum = Window.orderBy(col("dist"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      hist
        .withColumn("cum", sum(col("n_pairs")).over(wCum))
        .withColumn("nn", sum(col("n_pairs")).over(wAll))
        .withColumn("target", expr("(9 * nn + 9) div 10"))
        .filter(col("cum") - col("n_pairs") < col("target") &&
          col("cum") >= col("target"))
        .selectExpr("dist AS d90_hop", "nn AS n_pairs_total",
          """round(((dist - 1) * 1000000
               + (target - (cum - n_pairs)) * 1000000 div n_pairs)
             / 1e6, 6) AS eff_diameter""")
    },
    Some(s"""WITH RECURSIVE ${Insights.undirectedLinkEdgesSql},
      edges AS (SELECT a AS u, b AS v FROM und
                UNION ALL SELECT b, a FROM und),
      bfs(l, v, dist) AS (
        SELECT CAST(x AS BIGINT), CAST(x AS BIGINT), CAST(0 AS BIGINT)
        FROM (SELECT unnest(range(0, 8)) AS x)
        UNION
        SELECT bfs.l, e.v, bfs.dist + 1
        FROM bfs JOIN edges e ON e.u = bfs.v
        WHERE bfs.dist < 6),
      best AS (
        SELECT l, v, min(dist) AS dist FROM bfs GROUP BY l, v),
      hist AS (
        SELECT dist, CAST(count(*) AS BIGINT) AS n_pairs
        FROM best WHERE dist > 0 GROUP BY dist),
      cum AS (
        SELECT dist, n_pairs,
          CAST(sum(n_pairs) OVER (ORDER BY dist
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum,
          CAST(sum(n_pairs) OVER () AS BIGINT) AS nn
        FROM hist)
      SELECT dist AS d90_hop, nn AS n_pairs_total,
        round(((dist - 1) * 1000000
            + (target - (cum - n_pairs)) * 1000000 // n_pairs)
          / 1e6, 6) AS eff_diameter
      FROM (SELECT *, (9 * nn + 9) // 10 AS target FROM cum)
      WHERE cum - n_pairs < target AND cum >= target"""))

  // ---- q_graph_betweenness ----------------------------------------------

  /** Radius-bounded landmark betweenness (q_graph_betweenness): Brandes'
    * algorithm from the 8 fixed landmarks, truncated at radius 4 — the
    * standard sampled estimator (exact betweenness is all-sources, i.e.
    * quadratic; k landmarks cost k·|E| per round, rounds bounded by the
    * probe radius). Forward phase: BFS distances (shared landmarkBfs)
    * plus shortest-path COUNTS σ accumulated level by level (integer
    * sums along dist-(k−1)→k edges). Backward phase: the dependency
    * δ(v) = Σ_{w child} σ(v)/σ(w)·(1+δ(w)) unwinds from depth R to 0
    * with every term in exact integer MICRO units — σ_v·(1e6+δ_w) div
    * σ_w — so both engines accumulate the identical floor sequence and
    * the result hash-matches without any float tolerance. Output: the
    * top-20 bridge nodes by Σ_l δ_l(v)/2. The oracle unrolls the same
    * fixed number of σ/δ stages as SQL CTEs generated by the same
    * Scala loop bounds. */
  private val betwRounds = 4

  val qGraphBetweenness = Q(
    "q_graph_betweenness",
    (s, d) => {
      val und = Insights.undirectedLinkEdges(s, d)
      val edges = und.select(col("a").as("u"), col("b").as("w"))
        .unionAll(und.select(col("b").as("u"), col("a").as("w")))
      val labels = landmarkBfs(s, d, betwRounds)
      // the 2R sigma/delta rounds shuffle tiny frontier tables — cap
      // their width like the BFS itself
      val saved = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions",
        math.min(8, saved.toInt).toString)
      try {
      // forward: shortest-path counts per (landmark, node, depth).
      // Each round checkpoints ONLY its own (small) sigma stage — the
      // old form checkpointed the whole growing union, re-copying
      // every prior round's rows per round — and later consumers index
      // the per-depth stage directly instead of filtering the union.
      val sig0 = labels.filter(col("dist") === 0L)
        .select(col("l"), col("v"), lit(1L).as("sigma"),
          lit(0L).as("dist"))
        .localCheckpoint()
      val sig = new Array[DataFrame](betwRounds + 1)
      sig(0) = sig0
      for (k <- 1 to betwRounds) {
        sig(k) = sig(k - 1)
          .join(edges, col("v") === col("u"))
          .select(col("l"), col("w").as("v2"), col("sigma"))
          .join(labels.filter(col("dist") === k.toLong)
            .select(col("l").as("l2"), col("v").as("v3")),
            col("l") === col("l2") && col("v2") === col("v3"))
          .groupBy(col("l"), col("v2"))
          .agg(sum(col("sigma")).as("sigma"))
          .select(col("l"), col("v2").as("v"), col("sigma"),
            lit(k.toLong).as("dist"))
          .localCheckpoint()
      }
      // backward: integer micro dependency accumulation
      var del = sig(betwRounds)
        .select(col("l"), col("v"), col("sigma"), lit(0L).as("del"))
      var acc = del
      for (k <- (betwRounds - 1) to 0 by -1) {
        val children = del.select(col("l").as("cl"), col("v").as("cv"),
          col("sigma").as("csig"), col("del").as("cdel"))
        del = sig(k)
          .join(edges, col("v") === col("u"), "left")
          .join(children,
            col("l") === col("cl") && col("w") === col("cv"), "left")
          .groupBy(col("l"), col("v"), col("sigma"))
          .agg(coalesce(
            sum(expr("sigma * (1000000L + cdel) div csig")), lit(0L))
            .as("del"))
          .localCheckpoint()
        acc = acc.unionAll(del)
      }
      acc.filter(col("l") =!= col("v"))
        .groupBy(col("v")).agg(sum(col("del")).as("del_sum"))
        .orderBy(col("del_sum").desc, col("v"))
        .limit(20)
        // RAW quotient, not round(x, 6): del_sum is an exact integer
        // in half-micro units, so del_sum/2e6 lands EXACTLY on a
        // x.xxxxxx5 boundary whenever del_sum is odd — and Spark
        // (HALF_UP on the binary value) and DuckDB disagree on those
        // ties (caught at sf0.1: 262.596415 vs 262.596414). The raw
        // IEEE quotient of the same integer is bit-identical in both
        // engines (the per-row-doubles-stay-raw rule).
        .selectExpr("v", "del_sum", "del_sum / 2e6 AS betweenness")
      } finally s.conf.set("spark.sql.shuffle.partitions", saved)
    },
    Some {
      val sigStages = (1 to betwRounds).map { k =>
        s"""sig$k AS MATERIALIZED (
            SELECT p.l, e.v AS v, CAST(sum(p.sigma) AS BIGINT) AS sigma
            FROM sig${k - 1} p
            JOIN edges e ON e.u = p.v
            JOIN best b ON b.l = p.l AND b.v = e.v AND b.dist = $k
            GROUP BY p.l, e.v)"""
      }.mkString(",\n")
      val sigAll = (0 to betwRounds).map(k =>
        s"SELECT l, v, sigma, CAST($k AS BIGINT) AS dist FROM sig$k")
        .mkString("\n UNION ALL ")
      val delStages = ((betwRounds - 1) to 0 by -1).map { k =>
        s"""del$k AS MATERIALIZED (
            SELECT s.l, s.v, s.sigma,
              CAST(coalesce(sum(
                s.sigma * (1000000 + c.del) // c.sigma), 0)
                AS BIGINT) AS del
            FROM (SELECT * FROM sigd WHERE dist = $k) s
            LEFT JOIN edges e ON e.u = s.v
            LEFT JOIN del${k + 1} c ON c.l = s.l AND c.v = e.v
            GROUP BY s.l, s.v, s.sigma)"""
      }.mkString(",\n")
      val delAll = (0 to betwRounds).map(k =>
        s"SELECT l, v, del FROM del$k").mkString("\n UNION ALL ")
      s"""WITH RECURSIVE ${Insights.undirectedLinkEdgesSql},
        edges AS MATERIALIZED (SELECT a AS u, b AS v FROM und
                  UNION ALL SELECT b, a FROM und),
        bfs(l, v, dist) AS (
          SELECT CAST(x AS BIGINT), CAST(x AS BIGINT), CAST(0 AS BIGINT)
          FROM (SELECT unnest(range(0, 8)) AS x)
          UNION
          SELECT bfs.l, e.v, bfs.dist + 1
          FROM bfs JOIN edges e ON e.u = bfs.v
          WHERE bfs.dist < $betwRounds),
        best AS MATERIALIZED (
          SELECT l, v, min(dist) AS dist FROM bfs GROUP BY l, v),
        sig0 AS MATERIALIZED (
          SELECT l, v, CAST(1 AS BIGINT) AS sigma FROM best
          WHERE dist = 0),
        $sigStages,
        sigd AS MATERIALIZED ($sigAll),
        del$betwRounds AS MATERIALIZED (
          SELECT l, v, sigma, CAST(0 AS BIGINT) AS del FROM sigd
          WHERE dist = $betwRounds),
        $delStages,
        dall AS MATERIALIZED ($delAll)
        SELECT v, CAST(sum(del) AS BIGINT) AS del_sum,
          CAST(sum(del) AS BIGINT) / 2e6 AS betweenness
        FROM dall WHERE l <> v
        GROUP BY v
        ORDER BY del_sum DESC, v NULLS FIRST
        LIMIT 20"""
    })

  // ---- q_causal_did -----------------------------------------------------

  /** Difference-in-differences (q_causal_did): the 2×2 panel estimator
    * — treated vs control, pre vs post — over purchase values. The
    * treated cohort is the even-user_id half (a deterministic stand-in
    * for a feature-rollout assignment; the ESTIMATOR is the real
    * shape) and the post period starts 2024-01-15. Per-cell sums are
    * exact BIGINT cents; cell means quantize to integer micro-cents by
    * integer division, so the DiD estimate — (postT − preT) −
    * (postC − preC) — is exact integer arithmetic on both engines.
    * One corpus aggregate, four cells, one output row. */
  val qCausalDid = Q(
    "q_causal_did",
    (s, d) => {
      val cells = ev(s, d)
        .filter(col("event_type") === "purchase")
        .select(
          (col("user_id") % 2 === 0).cast("long").as("treated"),
          (col("ts") >= lit("2024-01-15").cast("timestamp_ntz"))
            .cast("long").as("post"),
          floor(col("value") * 100 + 0.5).cast("long").as("c"))
        .groupBy(col("treated"), col("post"))
        .agg(count(lit(1)).as("n"), sum(col("c")).as("sc"))
        .withColumn("mean_micro", expr("(1000000 * sc) div n"))
      cells.agg(
          sum(when(col("treated") === 1 && col("post") === 0, col("n")))
            .as("n_pre_t"),
          sum(when(col("treated") === 1 && col("post") === 1, col("n")))
            .as("n_post_t"),
          sum(when(col("treated") === 0 && col("post") === 0, col("n")))
            .as("n_pre_c"),
          sum(when(col("treated") === 0 && col("post") === 1, col("n")))
            .as("n_post_c"),
          sum(when(col("treated") === 1 && col("post") === 0,
            col("mean_micro"))).as("pre_t"),
          sum(when(col("treated") === 1 && col("post") === 1,
            col("mean_micro"))).as("post_t"),
          sum(when(col("treated") === 0 && col("post") === 0,
            col("mean_micro"))).as("pre_c"),
          sum(when(col("treated") === 0 && col("post") === 1,
            col("mean_micro"))).as("post_c"))
        .selectExpr("n_pre_t", "n_post_t", "n_pre_c", "n_post_c",
          "round(pre_t / 1e6, 6) AS mean_pre_treated",
          "round(post_t / 1e6, 6) AS mean_post_treated",
          "round(pre_c / 1e6, 6) AS mean_pre_control",
          "round(post_c / 1e6, 6) AS mean_post_control",
          "(post_t - pre_t) - (post_c - pre_c) AS did_micro")
    },
    Some("""WITH cells AS (
              SELECT CAST(user_id % 2 = 0 AS BIGINT) AS treated,
                CAST(ts >= TIMESTAMP '2024-01-15' AS BIGINT) AS post,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CAST(floor(value * 100 + 0.5e0) AS BIGINT))
                  AS BIGINT) AS sc
              FROM events WHERE event_type = 'purchase'
              GROUP BY 1, 2),
            m AS (SELECT *, (1000000 * sc) // n AS mean_micro
                  FROM cells)
            SELECT
              CAST(sum(CASE WHEN treated = 1 AND post = 0 THEN n END)
                AS BIGINT) AS n_pre_t,
              CAST(sum(CASE WHEN treated = 1 AND post = 1 THEN n END)
                AS BIGINT) AS n_post_t,
              CAST(sum(CASE WHEN treated = 0 AND post = 0 THEN n END)
                AS BIGINT) AS n_pre_c,
              CAST(sum(CASE WHEN treated = 0 AND post = 1 THEN n END)
                AS BIGINT) AS n_post_c,
              round(sum(CASE WHEN treated = 1 AND post = 0
                THEN mean_micro END) / 1e6, 6) AS mean_pre_treated,
              round(sum(CASE WHEN treated = 1 AND post = 1
                THEN mean_micro END) / 1e6, 6) AS mean_post_treated,
              round(sum(CASE WHEN treated = 0 AND post = 0
                THEN mean_micro END) / 1e6, 6) AS mean_pre_control,
              round(sum(CASE WHEN treated = 0 AND post = 1
                THEN mean_micro END) / 1e6, 6) AS mean_post_control,
              CAST((sum(CASE WHEN treated = 1 AND post = 1
                  THEN mean_micro END)
                - sum(CASE WHEN treated = 1 AND post = 0
                  THEN mean_micro END))
                - (sum(CASE WHEN treated = 0 AND post = 1
                  THEN mean_micro END)
                - sum(CASE WHEN treated = 0 AND post = 0
                  THEN mean_micro END)) AS BIGINT) AS did_micro
            FROM m"""))

  val all: Seq[Q] = Seq(qSurvKm, qSurvLogrank, qSurvHazard,
    qEventsAttribution, qEventsConversionLag, qSamplePps, qSampleHt, qMlStump, qMlLogreg,
    qMlAdaboost, qMlKfold, qMlFeatimp, qStatsBootstrap,
    qStatsPermutation, qStatsPower, qAggLoghist,
    qGraphCloseness, qGraphEffDiameter, qGraphBetweenness, qCausalDid)
}

