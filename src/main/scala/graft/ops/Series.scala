package graft.ops

import graft.{Fixpoints, Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series analytics over the `events` stream table: autocorrelation,
  * robust (median/MAD) outlier detection, seasonality strength, CUSUM
  * change detection, Markov transitions, OHLC downsampling.
  *
  * Scale notes: every window here partitions by the series key
  * (event_type / user_id) — per-series order is the semantics, so the
  * shuffle is one exchange on the series key and parallelism equals
  * series cardinality (5 here; thousands-to-millions in a real fleet,
  * where the same plan spreads across executors). Cross-engine
  * determinism: `value` carries exactly 2 decimals, so sums are taken
  * in integer cents (floor(x*100+0.5) BIGINT) — addition-order-free —
  * and derived means/stds are single fixed double expressions, never
  * order-dependent double reductions. */
object Series {

  private def t(n: String)(implicit s: SparkSession, d: String) =
    Tables.t(s, d, n)

  private def events(implicit s: SparkSession, d: String): DataFrame =
    t("events")

  /** Daily revenue totals in exact cents — the series every day-grid
    * statistic in this tier starts from (Hurst, Ljung-Box, DW,
    * variance ratio, periodogram, PACF, changepoint, Theil-Sen, STL).
    * Memoized + persisted ONCE per (session, dir): one corpus scan
    * feeds the whole tier instead of nine identical rollups. */
  private[graft] def dailyRevenue(s: SparkSession, d: String): DataFrame =
    Fixpoints.memo(s, d, "daygrid") {
      val days = Tables.t(s, d, "events")
        .select(to_date(col("ts")).as("day"),
          floor(col("value") * 100 + 0.5).cast("long").as("c"))
        .groupBy(col("day")).agg(sum(col("c")).as("v"))
        .persist()
      Fixpoints.holding(days, days)
    }

  /** Bench-warmup hook: materialize the shared day grid. */
  private[graft] def warmShared(s: SparkSession, d: String): Unit = {
    dailyRevenue(s, d).count()
    ()
  }

  /** Autocorrelation of `value` at lags 1–3 per event_type, ordered by
    * (ts, event_id). One window exchange on the series key feeds all
    * three lag columns; three corr aggregates ride one pass. */
  val qTsAcf = Q(
    "q_ts_acf",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      events
        .select(col("event_type"), col("value"),
          lag(col("value"), 1).over(w).as("v1"),
          lag(col("value"), 2).over(w).as("v2"),
          lag(col("value"), 3).over(w).as("v3"))
        .groupBy(col("event_type"))
        .agg(
          round(corr(col("value"), col("v1")), 6).as("acf1"),
          round(corr(col("value"), col("v2")), 6).as("acf2"),
          round(corr(col("value"), col("v3")), 6).as("acf3"))
        .orderBy(col("event_type"))
    },
    Some("""WITH lagged AS (
              SELECT event_type, value,
                lag(value, 1) OVER w AS v1,
                lag(value, 2) OVER w AS v2,
                lag(value, 3) OVER w AS v3
              FROM events
              WINDOW w AS (PARTITION BY event_type
                           ORDER BY ts, event_id))
            SELECT event_type,
              round(corr(value, v1), 6) AS acf1,
              round(corr(value, v2), 6) AS acf2,
              round(corr(value, v3), 6) AS acf3
            FROM lagged
            GROUP BY event_type
            ORDER BY event_type NULLS FIRST"""))

  /** Robust outlier census per event_type: median + MAD (median absolute
    * deviation), outliers = |x − med| > 3 · 1.4826 · MAD. ONE fact scan
    * (the q_agg_spearman count-grid discipline, retro-applied to this
    * allowlisted 4-scan id): `value` carries exactly 2 decimals, so the
    * whole distribution rolls up to a (type, cents) COUNT GRID bounded
    * by the VALUE DOMAIN, not the corpus — the old form's three
    * broadcast join-backs re-scanned the fact once per median. Every
    * emitted double is bit-faithful to the per-row form: cents/100.0
    * is the correctly-rounded double of the exact rational, i.e. the
    * stored `value` itself; the interpolated median mirrors Spark's
    * own Percentile formula ((1−g)·lo + g·hi, here g = 0.5, raw order
    * stat when the indices coincide); and the MAD is selected over the
    * SAME per-row deviation doubles abs(value − med) — materialized
    * per grid cell with multiplicity — ordered and cumulated with a
    * RANGE frame so exact ties accumulate deterministically. Windows
    * ride grid-sized partitions (≤ value-domain cells per type). */
  val qTsMad = Q(
    "q_ts_mad",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      val grid = events
        .select(col("event_type"),
          floor(col("value") * 100 + 0.5).cast("long").as("c"))
        .groupBy(col("event_type"), col("c"))
        .agg(count(lit(1)).as("cnt"))
      val wAll = Window.partitionBy(col("event_type"))
      val wCum = Window.partitionBy(col("event_type")).orderBy(col("c"))
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      // order-stat indices for p = 0.5 over n rows, 0-based:
      // lower = floor((n−1)/2), higher = ceil((n−1)/2) = n div 2
      val medStage = grid
        .withColumn("n", sum(col("cnt")).over(wAll))
        .withColumn("cum", sum(col("cnt")).over(wCum))
      val vStage = medStage
        .withColumn("v1", min(when(
          col("cum") > (col("n") - 1) / lit(2L), col("c"))).over(wAll))
        .withColumn("v2", min(when(
          col("cum") > col("n") / lit(2L), col("c"))).over(wAll))
        .withColumn("med", when(col("v1") === col("v2"),
            col("v1").cast("double") / 100.0)
          .otherwise((col("v1").cast("double") / 100.0) * 0.5 +
            (col("v2").cast("double") / 100.0) * 0.5))
      // per-cell deviation = the EXACT per-row double the old form fed
      // percentile() — cells keep their multiplicity, so the deviation
      // multiset is identical
      val devStage = vStage
        .withColumn("devd",
          abs(col("c").cast("double") / 100.0 - col("med")))
      val wDev = Window.partitionBy(col("event_type")).orderBy(col("devd"))
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      val madStage = devStage
        .withColumn("dcum", sum(col("cnt")).over(wDev))
        .withColumn("d1", min(when(
          col("dcum") > (col("n") - 1) / lit(2L), col("devd"))).over(wAll))
        .withColumn("d2", min(when(
          col("dcum") > col("n") / lit(2L), col("devd"))).over(wAll))
        .withColumn("mad", when(col("d1") === col("d2"), col("d1"))
          .otherwise(col("d1") * 0.5 + col("d2") * 0.5))
      madStage
        .groupBy(col("event_type"))
        .agg(
          round(first(col("med")), 6).as("median_value"),
          round(first(col("mad")), 6).as("mad"),
          sum(when(col("devd") > col("mad") * 3 * 1.4826, col("cnt"))
            .otherwise(0L)).as("n_outliers"))
        .orderBy(col("event_type"))
    },
    Some("""WITH med AS (
              SELECT event_type, quantile_cont(value, 0.5) AS med
              FROM events GROUP BY event_type),
            mad AS (
              SELECT e.event_type,
                quantile_cont(abs(e.value - m.med), 0.5) AS mad
              FROM events e JOIN med m ON e.event_type = m.event_type
              GROUP BY e.event_type)
            SELECT e.event_type,
              round(any_value(m.med), 6) AS median_value,
              round(any_value(d.mad), 6) AS mad,
              CAST(sum(CASE WHEN abs(e.value - m.med) >
                       d.mad * 3 * 1.4826 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_outliers
            FROM events e
              JOIN med m ON e.event_type = m.event_type
              JOIN mad d ON e.event_type = d.event_type
            GROUP BY e.event_type
            ORDER BY e.event_type NULLS FIRST"""))

  /** Seasonality strength per event_type: hour-of-day means as the
    * seasonal component, F = max(0, 1 − Var(residual)/Var(x)) (the STL
    * strength statistic), plus the peak hour. Variances are computed
    * from exact integer-cent sums via fixed double expressions, so both
    * engines see bit-identical doubles — no order-dependent reduction. */
  val qTsSeasonal = Q(
    "q_ts_seasonal",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      val cents = floor(col("value") * 100 + 0.5).cast("long")
      val base = events.select(col("event_type"),
        hour(col("ts")).cast("long").as("hod"), cents.as("c"))
      // per (type, hour): exact sums for the seasonal mean
      // hod is aliased to shod on the aggregate side (like et): a
      // self-derived seas("hod") resolves to the SAME attribute id as
      // base("hod"), which Spark rewrites to a trivially-true predicate
      // — correct today, a silent cross join after any refactor
      val seas = base.groupBy(col("event_type").as("et"), col("hod"))
        .agg(sum(col("c")).as("s1"), count(lit(1)).as("n"))
        .select(col("et"), col("hod").as("shod"),
          (col("s1").cast("double") / col("n")).as("smean"))
      val joined = base.join(broadcast(seas),
        base("event_type") === col("et") && base("hod") === col("shod"))
      // residual r = c − smean (double, fixed expression); Var via
      // exact sums of c and deterministic per-row r, reduced as
      // integer-scaled residuals to stay order-free
      val rint = floor((col("c") - col("smean")) * 1000000 + 0.5)
        .cast("long")
      val cint = col("c") * 1000000L
      val stats = joined
        .select(col("event_type"), col("c"), rint.as("r"), cint.as("ci"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("ci")).as("cs1"),
          sum(col("ci").cast("double") * col("ci")).as("cs2"),
          sum(col("r")).as("rs1"),
          sum(col("r").cast("double") * col("r")).as("rs2"))
      val varX = (col("cs2") - col("cs1").cast("double") *
        col("cs1") / col("n")) / (col("n") - 1)
      val varR = (col("rs2") - col("rs1").cast("double") *
        col("rs1") / col("n")) / (col("n") - 1)
      val peak = seas
        .withColumn("rk", row_number().over(Window.partitionBy(col("et"))
          .orderBy(col("smean").desc, col("shod"))))
        .filter(col("rk") === 1)
        .select(col("et"), col("shod").as("peak_hour"))
      stats
        .select(col("event_type"),
          round(greatest(lit(0.0), lit(1.0) - varR / varX), 6)
            .as("strength"))
        .join(broadcast(peak), col("event_type") === col("et"))
        .select(col("event_type"), col("strength"), col("peak_hour"))
        .orderBy(col("event_type"))
    },
    Some("""WITH base AS (
              SELECT event_type,
                CAST(hour(ts) AS BIGINT) AS hod,
                CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
              FROM events),
            seas AS (
              SELECT event_type, hod,
                CAST(sum(c) AS DOUBLE) / count(*) AS smean
              FROM base GROUP BY event_type, hod),
            joined AS (
              SELECT b.event_type, b.c,
                CAST(floor((b.c - s.smean) * 1000000 + 0.5) AS BIGINT)
                  AS r,
                b.c * 1000000 AS ci
              FROM base b JOIN seas s
                ON b.event_type = s.event_type AND b.hod = s.hod),
            stats AS (
              SELECT event_type, count(*) AS n,
                CAST(sum(ci) AS BIGINT) AS cs1,
                sum(CAST(ci AS DOUBLE) * ci) AS cs2,
                CAST(sum(r) AS BIGINT) AS rs1,
                sum(CAST(r AS DOUBLE) * r) AS rs2
              FROM joined GROUP BY event_type),
            peak AS (
              SELECT event_type, hod AS peak_hour
              FROM (SELECT event_type, hod, row_number() OVER (
                      PARTITION BY event_type
                      ORDER BY smean DESC, hod) AS rk
                    FROM seas) WHERE rk = 1)
            SELECT s.event_type,
              round(greatest(0.0,
                1.0 - ((rs2 - CAST(rs1 AS DOUBLE) * rs1 / n) / (n - 1))
                    / ((cs2 - CAST(cs1 AS DOUBLE) * cs1 / n) / (n - 1))),
                6) AS strength,
              p.peak_hour
            FROM stats s JOIN peak p ON s.event_type = p.event_type
            ORDER BY s.event_type NULLS FIRST"""))

  /** CUSUM change detection per event_type: standardized cumulative sum
    * of deviations, peak |CUSUM| and its timestamp. Mean/std come from
    * exact integer-cent sums (fixed double expressions); per-row z is
    * re-quantized to integer millionths so the running sum is an exact
    * BIGINT — the peak and argmax cannot wobble between engines. */
  val qTsCusum = Q(
    "q_ts_cusum",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      val cents = floor(col("value") * 100 + 0.5).cast("long")
      val base = events.select(col("event_type"), col("ts"),
        col("event_id"), cents.as("c"))
      // Per-type mean/std as UNBOUNDED-frame aggregates over the SAME
      // per-type partitioning the CUSUM window needs anyway (the r15
      // window-derivation discipline): the old groupBy + broadcast
      // join-back re-scanned the fact — the per-type partition already
      // holds every row the stats need, so the second scan and the
      // join are derivable. min/sum/count are O(1)-state; the
      // grow-with-data partition is intrinsic to CUSUM itself (a
      // running sum per type is sequential by definition).
      val wt = Window.partitionBy(col("event_type"))
      val n = count(lit(1)).over(wt)
      val s1 = sum(col("c")).over(wt)
      val s2 = sum(col("c").cast("double") * col("c")).over(wt)
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val zint = floor((col("c") - col("mu")) / col("sd") * 1000000 + 0.5)
        .cast("long")
      base
        .withColumn("mu", (s1.cast("double") / n))
        .withColumn("sd",
          sqrt((s2 - s1.cast("double") * s1 / n) / (n - 1)))
        .select(col("event_type"), col("ts"), col("event_id"),
          zint.as("z"))
        .withColumn("cusum", sum(col("z")).over(w))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("event_type"))
            .orderBy(abs(col("cusum")).desc, col("ts"), col("event_id"))))
        .filter(col("rk") === 1)
        .select(col("event_type"),
          round(col("cusum").cast("double") / 1000000, 6).as("peak_cusum"),
          col("ts").as("peak_ts"))
        .orderBy(col("event_type"))
    },
    Some("""WITH base AS (
              SELECT event_type, ts, event_id,
                CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
              FROM events),
            stats AS (
              SELECT event_type,
                CAST(sum(c) AS DOUBLE) / count(*) AS mu,
                sqrt((sum(CAST(c AS DOUBLE) * c)
                  - CAST(sum(c) AS DOUBLE) * CAST(sum(c) AS BIGINT)
                    / count(*)) / (count(*) - 1)) AS sd
              FROM base GROUP BY event_type),
            z AS (
              SELECT b.event_type, b.ts, b.event_id,
                CAST(floor((b.c - s.mu) / s.sd * 1000000 + 0.5) AS BIGINT)
                  AS z
              FROM base b JOIN stats s ON b.event_type = s.event_type),
            cs AS (
              SELECT event_type, ts, event_id,
                CAST(sum(z) OVER (PARTITION BY event_type
                  ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cusum
              FROM z)
            SELECT event_type,
              round(CAST(cusum AS DOUBLE) / 1000000, 6) AS peak_cusum,
              ts AS peak_ts
            FROM (SELECT *, row_number() OVER (PARTITION BY event_type
                    ORDER BY abs(cusum) DESC, ts, event_id) AS rk
                  FROM cs)
            WHERE rk = 1
            ORDER BY event_type NULLS FIRST"""))

  /** Per-user event-type transition matrix (first-order Markov chain):
    * lag over (user, time) pairs prev→next, counts and conditional
    * probabilities. The one exchange is the user-keyed window; the
    * transition table is |types|² rows at any corpus size. */
  val qEventsMarkov = Q(
    "q_events_markov",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val trans = events
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("next_type"))
        .withColumn("prev_type", lag(col("next_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("next_type"))
        .agg(count(lit(1)).as("n"))
      val totals = trans.groupBy(col("prev_type").as("pt"))
        .agg(sum(col("n")).as("total"))
      trans
        .join(broadcast(totals), col("prev_type") === col("pt"))
        .select(col("prev_type"), col("next_type"), col("n"),
          round(col("n").cast("double") / col("total"), 6).as("p"))
        .orderBy(col("prev_type"), col("next_type"))
    },
    Some("""WITH seq AS (
              SELECT event_type AS next_type,
                lag(event_type) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS prev_type
              FROM events),
            trans AS (
              SELECT prev_type, next_type,
                CAST(count(*) AS BIGINT) AS n
              FROM seq WHERE prev_type IS NOT NULL
              GROUP BY prev_type, next_type)
            SELECT prev_type, next_type, n,
              round(CAST(n AS DOUBLE) /
                sum(n) OVER (PARTITION BY prev_type), 6) AS p
            FROM trans
            ORDER BY prev_type NULLS FIRST, next_type NULLS FIRST"""))

  /** Hurst exponent by rescaled-range analysis (q_ts_hurst): does
    * daily revenue trend-persist (H > 0.5), mean-revert (H < 0.5), or
    * walk randomly? For window sizes w ∈ {5, 10, 15} days the series
    * splits into full blocks; per block the rescaled range R/S comes
    * out EXACTLY as (max − min of w·s_j) / √(w·Σv² − (Σv)²), where
    * w·s_j = w·cumsum − j·blocksum is an exact integer (the ×w scaling
    * clears the block-mean rational — no float partial sums), products
    * ride DECIMAL(38,0)/HUGEINT (v² wraps BIGINT at fleet-scale daily
    * totals), and per-block R/S micro-quantizes before the cross-block
    * mean. H is the 3-point log-log OLS slope. Windows are
    * calendar-bounded (day grid × the 3-value w grid). */
  val qTsHurst = Q(
    "q_ts_hurst",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      val days = dailyRevenue(sp, dir)
      val idxed = days.withColumn("i",
        row_number().over(Window.orderBy(col("day"))).cast("long"))
      val grid = idxed.select(col("i"), col("v"),
        explode(expr("array(5L, 10L, 15L)")).as("w"))
        .withColumn("blk", expr("(i - 1) div w"))
        .withColumn("j", expr("(i - 1) % w + 1"))
      val nDays = idxed.agg(count(lit(1)).as("n_days"))
      val full = grid.crossJoin(broadcast(nDays))
        .filter(col("blk") < expr("n_days div w"))
      val wB = Window.partitionBy(col("w"), col("blk"))
      val wCum = wB.orderBy(col("j"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val blocks = full
        .withColumn("cum", sum(col("v").cast("decimal(38,0)")).over(wCum))
        .withColumn("bs", sum(col("v").cast("decimal(38,0)")).over(wB))
        .withColumn("sv2",
          sum((col("v").cast("decimal(38,0)") * col("v")).cast(
            "decimal(38,0)")).over(wB))
        .withColumn("ws", expr("w * cum - j * bs"))
        .groupBy(col("w"), col("blk"))
        .agg(max(col("ws")).as("mx"), min(col("ws")).as("mn"),
          first(col("bs")).as("bs"), first(col("sv2")).as("sv2"))
        .withColumn("rs_micro", expr(
          """CAST(floor(CAST(mx - mn AS DOUBLE)
             / sqrt(CAST(w * sv2 - bs * bs AS DOUBLE)) * 1e6 + 0.5D)
             AS BIGINT)"""))
      val perW = blocks.groupBy(col("w"))
        .agg(count(lit(1)).as("n_blocks"),
          sum(col("rs_micro")).as("rs_sum"))
        .withColumn("mean_rs",
          round(col("rs_sum").cast("double") / col("n_blocks") / 1e6, 6))
        // micro-quantized log coordinates: the 3-point OLS sums are
        // then exact integers (a raw 3-double sum is partial-agg-order
        // dependent), and the micro scale cancels in the slope ratio
        .withColumn("x", expr(
          "CAST(floor(ln(CAST(w AS DOUBLE)) * 1e6 + 0.5D) AS BIGINT)"))
        .withColumn("y", expr(
          "CAST(floor(ln(mean_rs) * 1e6 + 0.5D) AS BIGINT)"))
      val slope = perW.agg(count(lit(1)).as("np"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(round(
          (col("np") * col("sxy") - col("sx") * col("sy"))
            .cast("double") /
          (col("np") * col("sxx") - col("sx") * col("sx"))
            .cast("double"), 6).as("hurst"))
      perW.select(col("w"), col("n_blocks"), col("mean_rs"))
        .crossJoin(broadcast(slope))
        .orderBy(col("w"))
    },
    Some("""WITH days AS (
              SELECT CAST(ts AS DATE) AS day,
                CAST(sum(CAST(floor(value * 100 + 0.5e0) AS BIGINT))
                  AS BIGINT) AS v
              FROM events GROUP BY 1),
            idxed AS (
              SELECT v, CAST(row_number() OVER (ORDER BY day)
                AS BIGINT) AS i
              FROM days),
            nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days
                   FROM idxed),
            grid AS (
              SELECT i, v, CAST(unnest([5, 10, 15]) AS BIGINT) AS w
              FROM idxed),
            full_blocks AS (
              SELECT i, v, w, (i - 1) // w AS blk, (i - 1) % w + 1 AS j
              FROM grid CROSS JOIN nd
              WHERE (i - 1) // w < n_days // w),
            cums AS (
              SELECT w, blk, j,
                CAST(sum(CAST(v AS HUGEINT)) OVER (
                  PARTITION BY w, blk ORDER BY j
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS HUGEINT) AS cum,
                CAST(sum(CAST(v AS HUGEINT)) OVER (
                  PARTITION BY w, blk) AS HUGEINT) AS bs,
                CAST(sum(CAST(v AS HUGEINT) * v) OVER (
                  PARTITION BY w, blk) AS HUGEINT) AS sv2
              FROM full_blocks),
            blocks AS (
              SELECT w, blk,
                max(w * cum - j * bs) AS mx,
                min(w * cum - j * bs) AS mn,
                any_value(bs) AS bs, any_value(sv2) AS sv2
              FROM cums GROUP BY w, blk),
            rs AS (
              SELECT w, blk,
                CAST(floor(CAST(mx - mn AS DOUBLE)
                  / sqrt(CAST(w * sv2 - bs * bs AS DOUBLE)) * 1e6
                  + 0.5e0) AS BIGINT) AS rs_micro
              FROM blocks),
            per_w AS (
              SELECT w, CAST(count(*) AS BIGINT) AS n_blocks,
                round(CAST(sum(rs_micro) AS BIGINT) * 1.0e0
                  / count(*) / 1e6, 6) AS mean_rs
              FROM rs GROUP BY w),
            pts AS (
              SELECT w, n_blocks, mean_rs,
                CAST(floor(ln(CAST(w AS DOUBLE)) * 1e6 + 0.5e0)
                  AS BIGINT) AS x,
                CAST(floor(ln(mean_rs) * 1e6 + 0.5e0) AS BIGINT) AS y
              FROM per_w),
            slope AS (
              SELECT round(
                CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS DOUBLE)
                / CAST(count(*) * sum(x * x) - sum(x) * sum(x)
                  AS DOUBLE), 6) AS hurst
              FROM pts)
            SELECT w, n_blocks, mean_rs, hurst
            FROM per_w CROSS JOIN slope
            ORDER BY w NULLS FIRST"""))

  /** Stationary distribution of the session Markov chain
    * (q_events_markov_pi): where does a user's journey SETTLE — the
    * long-run share of each event type under the q_events_markov
    * transition matrix, via 8 power iterations from the uniform
    * start (the q_graph_pagerank bounded-iteration discipline). The
    * state space is the event-TYPE domain — bounded at any corpus
    * size — so after the one corpus-wide lag+count pass the 8 rounds
    * run as array algebra over ONE collected row (dense k×k matrix),
    * not 8 unrolled k-row join+agg stages. Two determinism notes on
    * the dense form: (1) its inner products sum in FIXED ascending
    * state-index order, and the oracle's per-round sum is pinned to
    * the SAME order (`sum(... ORDER BY st)` — an ordered aggregate,
    * st ascending = the dense form's ascending state index), so with
    * both engines rounding every entry at 1e-10 each round the
    * settled vector is bit-identical by construction, not merely a
    * tolerance (the unordered-sum caveat this doc used to carry is
    * retired); (2) the oracle's iterated join
    * DROPS a state whose inbound key chain dies — a next_type fed
    * only by source-only prev types (types never appearing as
    * next_type) exists in r1 but not r2..r8 — so the live key set
    * keys_n (keys_0 = prev types; keys_n = next types with an
    * in-edge from keys_{n-1}) is propagated through the same
    * aggregate alongside pi, and only keys_8 is emitted. Dead states
    * carry pi exactly 0.0 in the dense algebra (all their feeders'
    * mass died a round earlier), so the VALUES need no masking —
    * only the emitted row set does. */
  val qEventsMarkovPi = Q(
    "q_events_markov_pi",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val trans = events
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("next_type"))
        .withColumn("prev_type", lag(col("next_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("next_type"))
        .agg(count(lit(1)).as("n"))
      val totals = trans.groupBy(col("prev_type").as("pt"))
        .agg(sum(col("n")).as("total"))
      // k×k grid (k = |event types|) — checkpoint it ONCE: the 8
      // unrolled iterations each re-reference the matrix, and an un-cut
      // lineage re-enters the corpus-width window scan every time (20
      // logical copies of the events scan; the checkpoint makes the
      // loop a grid-sized program, the q_agg_equidepth discipline)
      val pmat = trans
        .join(broadcast(totals), col("prev_type") === col("pt"))
        .select(col("prev_type"), col("next_type"),
          (col("n").cast("double") / col("total")).as("p"))
        .localCheckpoint()
      // The state space is the EVENT-TYPE domain — bounded at any
      // corpus size — so the 8 power iterations run as array algebra
      // on ONE collected row instead of 8 unrolled k-row join+agg
      // stages (16 shuffles of 5-row frames; the AQE stage cascade
      // was most of this query's post-scan cost). Dense layout: types
      // sorted, P[i*k+j] = p(i -> j), pi0 uniform over PREV-types
      // (matching the join form's start vector); each round rounds
      // every entry at 1e-10 exactly like the join form and the
      // oracle, so the settled vector is bit-identical. Emitted rows
      // mirror the join semantics: only types whose key chain is
      // still alive at round 8 (see the scaladoc).
      val one = pmat
        .select(struct(col("prev_type"), col("next_type"), col("p"))
          .as("e"))
        .agg(array_sort(collect_list(col("e"))).as("es"))
        .withColumn("ts", expr(
          "array_sort(array_distinct(concat(" +
            "transform(es, x -> x.prev_type), " +
            "transform(es, x -> x.next_type))))"))
        .withColumn("prevs", expr(
          "array_sort(array_distinct(transform(es, x -> x.prev_type)))"))
        .withColumn("k", size(col("ts")))
        .withColumn("pm", expr(
          // get(), not [0]: a SPARSE matrix (some (i,j) has no edge)
          // makes the filter result empty, and ANSI mode turns [0] on
          // an empty array into a runtime error; get() yields NULL and
          // the coalesce snaps it to the intended 0-probability cell.
          """transform(sequence(0, CAST(k AS BIGINT) * k - 1), ij ->
               coalesce(get(filter(es, x ->
                   x.prev_type = ts[CAST(ij div k AS INT)] AND
                   x.next_type = ts[CAST(ij % k AS INT)]), 0).p,
                 CAST(0 AS DOUBLE)))"""))
      // The live key chain runs as its OWN 8-round aggregate next to
      // the pi recursion, not as one struct-state aggregate: keys_0 =
      // prev types (the oracle's r0 states), each round advancing to
      // the next types fed from the previous live set — the oracle's
      // join-key chain. (A combined named_struct state was 15x slower
      // here: every GetStructField reference re-evaluates the whole
      // 8-round aggregate under interpreted higher-order eval, and the
      // optimizer multiplies the references through the explode+filter
      // below. Two independent array-state aggregates stay at the old
      // form's cost; the key recursion never reads pi, so splitting
      // them changes nothing semantically.)
      val settled = one.select(col("ts"),
        expr(
          """aggregate(sequence(1, 8),
               transform(ts, t -> CASE
                 WHEN array_contains(prevs, t)
                 THEN 1.0D / CAST(size(prevs) AS DOUBLE)
                 ELSE CAST(0 AS DOUBLE) END),
               (pi, r) -> transform(sequence(0, CAST(k AS BIGINT) - 1),
                 j -> round(aggregate(sequence(0, CAST(k AS BIGINT) - 1),
                   CAST(0 AS DOUBLE),
                   (acc, i) -> acc + pi[CAST(i AS INT)] *
                     pm[CAST(i * k + j AS INT)]), 10)))""").as("pi8"),
        expr(
          """aggregate(sequence(1, 8), prevs,
               (ks, r) -> array_sort(array_distinct(transform(
                 filter(es, x -> array_contains(ks, x.prev_type)),
                 x -> x.next_type))))""").as("live"))
      settled
        .select(posexplode(col("ts")).as(Seq("i", "event_type")),
          col("pi8"), col("live"))
        .filter(expr("array_contains(live, event_type)"))
        .select(col("event_type"),
          round(expr("pi8[CAST(i AS INT)]"), 6).as("pi"))
        .orderBy(col("event_type"))
    },
    Some {
      val iters = (1 to 8).map { i =>
        s"""r$i AS (
              SELECT next_type AS st,
                round(sum(r${i - 1}.pi * p.p ORDER BY r${i - 1}.st), 10)
                AS pi
              FROM r${i - 1} JOIN p ON r${i - 1}.st = p.prev_type
              GROUP BY next_type)"""
      }.mkString(",\n")
      s"""WITH seq AS (
            SELECT event_type AS next_type,
              lag(event_type) OVER (PARTITION BY user_id
                ORDER BY ts, event_id) AS prev_type
            FROM events),
          trans AS (
            SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
            FROM seq WHERE prev_type IS NOT NULL
            GROUP BY prev_type, next_type),
          tot AS (SELECT prev_type AS pt, CAST(sum(n) AS BIGINT)
                    AS total
                  FROM trans GROUP BY prev_type),
          p AS (SELECT prev_type, next_type, CAST(n AS DOUBLE) / total
                  AS p
                FROM trans JOIN tot ON prev_type = pt),
          states AS (SELECT DISTINCT prev_type AS st FROM trans),
          kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM states),
          r0 AS (SELECT st, 1.0e0 / k AS pi FROM states CROSS JOIN kk),
          $iters
          SELECT st AS event_type, round(pi, 6) AS pi
          FROM r8
          ORDER BY event_type NULLS FIRST"""
    })

  /** Daily OHLC bars per event_type: open/close are the first/last
    * values by (ts, event_id) inside each day — picked by row_number in
    * both directions inside the one (type, day) window exchange, then
    * collapsed by a conditional aggregate (no self-join). */
  val qTsOhlc = Q(
    "q_ts_ohlc",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      val keyed = events.select(col("event_type"),
        to_date(col("ts")).as("day"), col("ts"), col("event_id"),
        col("value"))
      val wAsc = Window.partitionBy(col("event_type"), col("day"))
        .orderBy(col("ts"), col("event_id"))
      val wDesc = Window.partitionBy(col("event_type"), col("day"))
        .orderBy(col("ts").desc, col("event_id").desc)
      keyed
        .withColumn("ra", row_number().over(wAsc))
        .withColumn("rd", row_number().over(wDesc))
        .groupBy(col("event_type"), col("day"))
        .agg(
          max(when(col("ra") === 1, col("value"))).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max(when(col("rd") === 1, col("value"))).as("close"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type"), col("day"))
    },
    Some("""WITH keyed AS (
              SELECT event_type, CAST(ts AS DATE) AS day, value,
                row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
                  ORDER BY ts, event_id) AS ra,
                row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
                  ORDER BY ts DESC, event_id DESC) AS rd
              FROM events)
            SELECT event_type, day,
              max(CASE WHEN ra = 1 THEN value END) AS open,
              max(value) AS high,
              min(value) AS low,
              max(CASE WHEN rd = 1 THEN value END) AS close,
              CAST(count(*) AS BIGINT) AS n
            FROM keyed
            GROUP BY event_type, day
            ORDER BY event_type NULLS FIRST, day NULLS FIRST"""))

  /** Top user paths: the first 5 event types of each (user, day),
    * joined into a path string, counted, top-20. Ordering inside the
    * collected array is pinned by sorting (rank, type) structs — never
    * the undefined collect_list arrival order — so the path strings are
    * deterministic under any partitioning. */
  val qEventsPaths = Q(
    "q_events_paths",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      val w = Window.partitionBy(col("user_id"), col("day"))
        .orderBy(col("ts"), col("event_id"))
      val paths = events
        .select(col("user_id"), to_date(col("ts")).as("day"), col("ts"),
          col("event_id"), col("event_type"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .groupBy(col("user_id"), col("day"))
        .agg(array_join(expr(
          "transform(array_sort(collect_list(struct(rn, event_type)))," +
            " x -> x.event_type)"), ">").as("path"))
      paths
        .groupBy(col("path"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path"))
        .limit(20)
    },
    Some("""WITH ranked AS (
              SELECT user_id, CAST(ts AS DATE) AS day, event_type,
                row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                  ORDER BY ts, event_id) AS rn
              FROM events),
            paths AS (
              SELECT string_agg(event_type, '>' ORDER BY rn) AS path
              FROM ranked WHERE rn <= 5
              GROUP BY user_id, day)
            SELECT path, CAST(count(*) AS BIGINT) AS n
            FROM paths
            GROUP BY path
            ORDER BY n DESC NULLS LAST, path NULLS FIRST
            LIMIT 20"""))

  /** 8-tap EWMA smoothing of click values (q_ts_ewma): exponential
    * weights α(1−α)^k over the last 8 observations, renormalized over
    * the taps actually present near the series head. Inputs are integer
    * cents and the weighted sum is ONE fixed expression tree (8
    * explicit lag terms — never a data-order float reduction), so the
    * smoothed series is bit-identical across engines. One window
    * exchange on the series key. */
  val qTsEwma = Q(
    "q_ts_ewma",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val alpha = 0.3
      val weights = (0 until 8).map(k => alpha * math.pow(1 - alpha, k))
      val base = events.filter(col("event_type") === "click")
        .select(col("event_type"), col("ts"), col("event_id"),
          floor(col("value") * 100 + 0.5).cast("long").as("c"))
        .select(col("*") +: (1 until 8).map(k =>
          lag(col("c"), k).over(w).as(s"c$k")): _*)
      val num = weights.zipWithIndex.map { case (wk, k) =>
        val ck = if (k == 0) col("c") else col(s"c$k")
        coalesce(ck.cast("double") * wk, lit(0.0))
      }.reduce(_ + _)
      val den = weights.zipWithIndex.map { case (wk, k) =>
        val ck = if (k == 0) col("c") else col(s"c$k")
        when(ck.isNotNull, lit(wk)).otherwise(lit(0.0))
      }.reduce(_ + _)
      base
        .select(col("event_id"),
          round(num / den / 100.0, 6).as("ewma"))
        .orderBy(col("event_id"))
    },
    Some("""WITH base AS (
              SELECT event_id,
                CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
                lag(CAST(floor(value * 100 + 0.5) AS BIGINT), 1) OVER w AS c1,
                lag(CAST(floor(value * 100 + 0.5) AS BIGINT), 2) OVER w AS c2,
                lag(CAST(floor(value * 100 + 0.5) AS BIGINT), 3) OVER w AS c3,
                lag(CAST(floor(value * 100 + 0.5) AS BIGINT), 4) OVER w AS c4,
                lag(CAST(floor(value * 100 + 0.5) AS BIGINT), 5) OVER w AS c5,
                lag(CAST(floor(value * 100 + 0.5) AS BIGINT), 6) OVER w AS c6,
                lag(CAST(floor(value * 100 + 0.5) AS BIGINT), 7) OVER w AS c7
              FROM events WHERE event_type = 'click'
              WINDOW w AS (PARTITION BY event_type
                           ORDER BY ts, event_id))
            SELECT event_id,
              round((coalesce(CAST(c AS DOUBLE) * 0.3e0, 0.0e0)
                + coalesce(CAST(c1 AS DOUBLE) * 0.21e0, 0.0e0)
                + coalesce(CAST(c2 AS DOUBLE) * 0.14699999999999996e0, 0.0e0)
                + coalesce(CAST(c3 AS DOUBLE) * 0.10289999999999998e0, 0.0e0)
                + coalesce(CAST(c4 AS DOUBLE) * 0.07202999999999998e0, 0.0e0)
                + coalesce(CAST(c5 AS DOUBLE) * 0.05042099999999998e0, 0.0e0)
                + coalesce(CAST(c6 AS DOUBLE) * 0.035294699999999984e0, 0.0e0)
                + coalesce(CAST(c7 AS DOUBLE) * 0.02470628999999999e0, 0.0e0))
               / ((CASE WHEN c IS NOT NULL THEN 0.3e0 ELSE 0.0e0 END)
                + (CASE WHEN c1 IS NOT NULL THEN 0.21e0 ELSE 0.0e0 END)
                + (CASE WHEN c2 IS NOT NULL THEN 0.14699999999999996e0 ELSE 0.0e0 END)
                + (CASE WHEN c3 IS NOT NULL THEN 0.10289999999999998e0 ELSE 0.0e0 END)
                + (CASE WHEN c4 IS NOT NULL THEN 0.07202999999999998e0 ELSE 0.0e0 END)
                + (CASE WHEN c5 IS NOT NULL THEN 0.05042099999999998e0 ELSE 0.0e0 END)
                + (CASE WHEN c6 IS NOT NULL THEN 0.035294699999999984e0 ELSE 0.0e0 END)
                + (CASE WHEN c7 IS NOT NULL THEN 0.02470628999999999e0 ELSE 0.0e0 END))
               / 100.0e0, 6) AS ewma
            FROM base
            ORDER BY event_id NULLS FIRST"""))

  /** V-shape pattern detection (q_ts_vshape): a MATCH_RECOGNIZE-lite
    * scan per series — three consecutive observations where the value
    * drops ≥ 20% then rebounds ≥ 20%. Percent tests are integer
    * cross-multiplications over cents (5·(c1−c2) ≥ c1), so detection
    * is engine-exact; one window exchange, all tests scan-local. */
  val qTsVshape = Q(
    "q_ts_vshape",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val base = events
        .select(col("event_type"), col("ts"), col("event_id"),
          floor(col("value") * 100 + 0.5).cast("long").as("c"))
        .withColumn("c1", lag(col("c"), 2).over(w))
        .withColumn("c2", lag(col("c"), 1).over(w))
        .filter(col("c1").isNotNull &&
          (col("c1") - col("c2")) * 5 >= col("c1") &&
          (col("c") - col("c2")) * 5 >= col("c"))
      base
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_vshapes"),
          min(col("ts")).as("first_at"))
        .orderBy(col("event_type"))
    },
    Some("""WITH base AS (
              SELECT event_type, ts,
                CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
                lag(CAST(floor(value * 100 + 0.5) AS BIGINT), 2) OVER w
                  AS c1,
                lag(CAST(floor(value * 100 + 0.5) AS BIGINT), 1) OVER w
                  AS c2
              FROM events
              WINDOW w AS (PARTITION BY event_type
                           ORDER BY ts, event_id))
            SELECT event_type, CAST(count(*) AS BIGINT) AS n_vshapes,
              min(ts) AS first_at
            FROM base
            WHERE c1 IS NOT NULL
              AND (c1 - c2) * 5 >= c1 AND (c - c2) * 5 >= c
            GROUP BY event_type
            ORDER BY event_type NULLS FIRST"""))

  // ---- q_ts_changepoint -------------------------------------------------

  /** Single change-point detection over the daily revenue series
    * (q_ts_changepoint): the CUSUM-style argmax — the day k maximizing
    * |m·cum_k − k·total|, the scaled distance between the observed
    * cumulative revenue and the no-change linear ramp (binary
    * segmentation's first split). INTEGER-exact throughout: revenue is
    * cents, the argmax rides the cross-multiplied DECIMAL(38,0) form,
    * the emitted score is `score div m` as BIGINT (cross-engine
    * stable), argmax ties break on the earlier day. One hash
    * aggregate to the bounded day grid; windows over that grid only. */
  val qTsChangepoint = Q(
    "q_ts_changepoint",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      val days = dailyRevenue(sp, dir).withColumnRenamed("v", "rev")
      val wCum = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      days
        .withColumn("i", row_number().over(Window.orderBy(col("day")))
          .cast("long"))
        .withColumn("m", count(lit(1)).over(wAll))
        .withColumn("total", sum(col("rev")).over(wAll))
        .withColumn("cum", sum(col("rev")).over(wCum))
        .filter(col("i") < col("m"))
        // m·cum and i·total ride in DECIMAL(38,0): at the 100 TB tier
        // (~1e16 cents cumulative × ~2.5e3 days) the BIGINT product
        // wraps silently under Spark's non-ANSI arithmetic while DuckDB
        // raises — the q_agg_skew_kurt overflow rule.
        .withColumn("score", abs(col("m").cast("decimal(38,0)") *
          col("cum") - col("i").cast("decimal(38,0)") * col("total")))
        .orderBy(col("score").desc, col("day"))
        .limit(1)
        // EMIT rule: the DECIMAL(38,0) score stays internal (argmax
        // only); the reported score is `score div m` — bounded by
        // `total`, so it fits BIGINT at any plausible scale, and BIGINT
        // survives both engines' result paths identically where
        // DECIMAL(38,0) does not (DuckDB degrades it to float64).
        .selectExpr("day", "i AS split_idx", "m AS n_days",
          "CAST(score div m AS BIGINT) AS score_div_m",
          "cum div i AS mean_before_cents",
          "(total - cum) div (m - i) AS mean_after_cents")
    },
    Some("""WITH days AS (
        SELECT CAST(ts AS DATE) AS day,
          CAST(sum(CAST(floor(value * 100 + 0.5e0) AS BIGINT))
            AS BIGINT) AS rev
        FROM events GROUP BY 1),
      cum AS (
        SELECT day,
          CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i,
          CAST(count(*) OVER () AS BIGINT) AS m,
          CAST(sum(rev) OVER () AS BIGINT) AS total,
          CAST(sum(rev) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum
        FROM days)
      SELECT day, i AS split_idx, m AS n_days,
        CAST(abs(CAST(m AS HUGEINT) * cum - CAST(i AS HUGEINT) * total)
          // m AS BIGINT) AS score_div_m,
        cum // i AS mean_before_cents,
        (total - cum) // (m - i) AS mean_after_cents
      FROM cum WHERE i < m
      ORDER BY abs(CAST(m AS HUGEINT) * cum - CAST(i AS HUGEINT) * total)
        DESC, day NULLS FIRST
      LIMIT 1"""))

  // ---- q_agg_theilsen ---------------------------------------------------

  /** Theil-Sen robust trend (q_agg_theilsen): the median-of-pairwise-
    * slopes estimator over the daily revenue series — outlier-immune
    * where least squares is not. The pair generation is a self-join of
    * the DAY GRID, not the corpus: the grid is date-range-bounded, so
    * the m·(m−1)/2 slope pairs are domain-constant however large the
    * raw table (the q_stats_kendall cell-table discipline). Each slope
    * is one exact double division; the median is positional selection
    * (row_number over the sorted pairs — no double ever crosses an
    * aggregate), and the intercept is the median of per-day residuals
    * against that slope. */
  val qAggTheilsen = Q(
    "q_agg_theilsen",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      val days = dailyRevenue(sp, dir).withColumnRenamed("v", "rev")
        .withColumn("i", row_number().over(Window.orderBy(col("day")))
          .cast("long"))
      val a = days.select(col("i").as("ia"), col("rev").as("ra"))
      val b = days.select(col("i").as("ib"), col("rev").as("rb"))
      val slopes = a.join(b, col("ia") < col("ib"))
        .select(col("ia"), col("ib"),
          ((col("rb") - col("ra")).cast("double") /
            (col("ib") - col("ia"))).as("slope"))
      val wR = Window.orderBy(col("slope"), col("ia"), col("ib"))
      val wAll = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      val med = slopes
        .withColumn("r", row_number().over(wR).cast("long"))
        .withColumn("np", count(lit(1)).over(wAll))
        .filter(expr("r = (np + 1) div 2 OR r = (np + 2) div 2"))
        .agg((sum(col("slope")) / count(lit(1))).as("slope"))
      val wRes = Window.orderBy(col("res"), col("i"))
      val resid = days.crossJoin(broadcast(med))
        .select(col("i"), (col("rev").cast("double") -
          col("slope") * col("i")).as("res"), col("slope"))
      resid
        .withColumn("r", row_number().over(wRes).cast("long"))
        .withColumn("m", count(lit(1)).over(wAll))
        .filter(expr("r = (m + 1) div 2 OR r = (m + 2) div 2"))
        .agg(round(min(col("slope")), 6).as("slope_cents_per_day"),
          round(sum(col("res")) / count(lit(1)), 6)
            .as("intercept_cents"),
          min(col("m")).as("n_days"))
    },
    Some("""WITH days AS (
        SELECT CAST(ts AS DATE) AS day,
          CAST(sum(CAST(floor(value * 100 + 0.5e0) AS BIGINT))
            AS BIGINT) AS rev
        FROM events GROUP BY 1),
      grid AS (
        SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i,
          rev
        FROM days),
      slopes AS (
        SELECT a.i AS ia, b.i AS ib,
          (b.rev - a.rev) * 1.0e0 / (b.i - a.i) AS slope
        FROM grid a JOIN grid b ON a.i < b.i),
      ranked AS (
        SELECT slope,
          CAST(row_number() OVER (ORDER BY slope, ia, ib) AS BIGINT)
            AS r,
          CAST(count(*) OVER () AS BIGINT) AS np
        FROM slopes),
      med AS (
        SELECT sum(slope) / count(*) AS slope
        FROM ranked
        WHERE r = (np + 1) // 2 OR r = (np + 2) // 2),
      resid AS (
        SELECT i, rev * 1.0e0 - slope * i AS res, slope
        FROM grid CROSS JOIN med),
      rranked AS (
        SELECT res, slope,
          CAST(row_number() OVER (ORDER BY res, i) AS BIGINT) AS r,
          CAST(count(*) OVER () AS BIGINT) AS m
        FROM resid)
      SELECT round(min(slope), 6) AS slope_cents_per_day,
        round(sum(res) / count(*), 6) AS intercept_cents,
        min(m) AS n_days
      FROM rranked
      WHERE r = (m + 1) // 2 OR r = (m + 2) // 2"""))

  // ---- q_ts_stl ---------------------------------------------------------

  /** STL-lite decomposition (q_ts_stl): daily revenue split into trend
    * + weekly seasonal + residual — the classical decomposition
    * (centered 7-day moving-average trend, per-weekday mean seasonal
    * re-centered to sum zero) that q_ts_seasonal's strength score
    * summarizes. INTEGER-exact: revenue is cents, the trend is
    * (7-day sum × 1e6) div 7 micro-cents over a full ±3 window, the
    * seasonal means and their centering are BIGINT divisions, and the
    * residual is a subtraction — both engines agree to the last digit
    * before the single emission rounding. Weekday keys use Spark's
    * 1=Sun..7=Sat convention (the oracle maps DuckDB's 0-based). All
    * windows run over the bounded day grid after one keyed aggregate
    * of the corpus. */
  /** The STL-lite decomposition over a settled (day, rev-cents) frame —
    * shared by the batch query and its streaming twin (the stream
    * drains the daily aggregate, then decomposes the settled grid). */
  private[graft] def stlDecompose(days0: DataFrame): DataFrame = {
    val days = days0.withColumn("wd", dayofweek(col("day")).cast("long"))
    val w7 = Window.orderBy(col("day")).rowsBetween(-3, 3)
    val withTrend = days
      .withColumn("n7", count(lit(1)).over(w7))
      .withColumn("trend_micro",
        when(col("n7") === 7L,
          expr("sum(rev) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING" +
            " AND 3 FOLLOWING) * 1000000L div 7")))
      .withColumn("detr",
        when(col("trend_micro").isNotNull,
          col("rev") * 1000000L - col("trend_micro")))
    withTrend
      .withColumn("s_raw", expr(
        "sum(detr) OVER (PARTITION BY wd) div count(detr) OVER" +
          " (PARTITION BY wd)"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("wd")).orderBy(col("day"))))
      .withColumn("s_mean", expr(
        "(sum(CASE WHEN rn = 1 THEN s_raw END) OVER ()) div 7"))
      .withColumn("seasonal_micro", col("s_raw") - col("s_mean"))
      .withColumn("resid_micro",
        col("detr") - col("seasonal_micro"))
      .selectExpr("day", "wd", "rev",
        "round(trend_micro / 1e6, 6) AS trend",
        "round(seasonal_micro / 1e6, 6) AS seasonal",
        "round(resid_micro / 1e6, 6) AS resid")
      .orderBy(col("day"))
  }

  /** DuckDB mirror shared by batch and streaming STL. */
  private[graft] val stlOracleSql: String = """WITH days AS (
        SELECT CAST(ts AS DATE) AS day,
          CAST(sum(CAST(floor(value * 100 + 0.5e0) AS BIGINT))
            AS BIGINT) AS rev
        FROM events GROUP BY 1),
      wd_t AS (
        SELECT day, rev, CAST(dayofweek(day) + 1 AS BIGINT) AS wd
        FROM days),
      tr AS (
        SELECT *,
          CASE WHEN count(*) OVER w7 = 7
            THEN CAST(sum(rev) OVER w7 * 1000000 // 7 AS BIGINT)
          END AS trend_micro
        FROM wd_t
        WINDOW w7 AS (ORDER BY day
          ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      de AS (
        SELECT *, CASE WHEN trend_micro IS NOT NULL
          THEN rev * 1000000 - trend_micro END AS detr
        FROM tr),
      sr AS (
        SELECT *,
          CAST(sum(detr) OVER (PARTITION BY wd)
               // count(detr) OVER (PARTITION BY wd) AS BIGINT)
            AS s_raw,
          row_number() OVER (PARTITION BY wd ORDER BY day) AS rn
        FROM de),
      sm AS (
        SELECT *,
          CAST((sum(CASE WHEN rn = 1 THEN s_raw END) OVER ()) // 7
            AS BIGINT) AS s_mean
        FROM sr)
      SELECT day, wd, rev,
        round(trend_micro / 1e6, 6) AS trend,
        round((s_raw - s_mean) / 1e6, 6) AS seasonal,
        round((detr - (s_raw - s_mean)) / 1e6, 6) AS resid
      FROM sm
      ORDER BY day NULLS FIRST"""

  val qTsStl = Q(
    "q_ts_stl",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      stlDecompose(
        dailyRevenue(sp, dir).withColumnRenamed("v", "rev"))
    },
    Some(stlOracleSql))

  // ---- q_ts_backtest ----------------------------------------------------

  /** Walk-forward EWMA backtest (q_ts_backtest): the eval harness for
    * the q_ts_ewma forecaster — every click's value is predicted from
    * the 8-tap exponential smooth of STRICTLY EARLIER observations
    * (lags 1..8, the 1-step-ahead forecast), and each series reports
    * its error census. Per-row errors are micro-quantized BIGINT
    * before aggregation (|err| for MAE, signed for bias — floats
    * never cross an aggregate); rows whose full history window is
    * missing (series head) are excluded so both engines evaluate the
    * identical forecast set. One window exchange on the series key —
    * the same scale shape as the forecaster itself. */
  val qTsBacktest = Q(
    "q_ts_backtest",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val alpha = 0.3
      val weights = (1 to 8).map(k => alpha * math.pow(1 - alpha, k - 1))
      val base = events
        .select(col("event_type"), col("ts"), col("event_id"),
          floor(col("value") * 100 + 0.5).cast("long").as("c"))
        .select(col("*") +: (1 to 8).map(k =>
          lag(col("c"), k).over(w).as(s"c$k")): _*)
        .filter(col("c8").isNotNull)
      val num = weights.zipWithIndex.map { case (wk, i) =>
        col(s"c${i + 1}").cast("double") * wk
      }.reduce(_ + _)
      val den = weights.sum
      base
        .withColumn("fc", num / lit(den))
        .withColumn("err_micro",
          expr("CAST(floor((c - fc) * 1e4 + 0.5D) AS BIGINT)"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_eval"),
          sum(abs(col("err_micro"))).as("sum_abs"),
          sum(col("err_micro")).as("sum_signed"))
        // RAW quotients: /n_eval gives an unbounded decimal
        // expansion, so round(x, 6) can land on an exact scaled .5
        // where the engines' half-rules differ (the betweenness
        // lesson); the raw IEEE chain over the exact integer sums is
        // bit-identical in both engines (same op order as the oracle)
        .selectExpr("event_type", "n_eval",
          "sum_abs / 1e4 / n_eval / 100 AS mae_value",
          "sum_signed / 1e4 / n_eval / 100 AS bias_value")
        .orderBy(col("event_type"))
    },
    Some {
      val alpha = 0.3
      val weights = (1 to 8).map(k => alpha * math.pow(1 - alpha, k - 1))
      val num = weights.zipWithIndex.map { case (wk, i) =>
        s"c${i + 1} * ${wk}e0"
      }.mkString(" + ")
      val lags = (1 to 8).map(k =>
        s"lag(c, $k) OVER (PARTITION BY event_type ORDER BY ts, " +
          s"event_id) AS c$k").mkString(",\n                ")
      s"""WITH base AS (
              SELECT event_type, ts, event_id,
                CAST(floor(value * 100 + 0.5e0) AS BIGINT) AS c,
                $lags
              FROM events),
            fc AS (
              SELECT event_type, c,
                ($num) / ${weights.sum}e0 AS fc
              FROM base WHERE c8 IS NOT NULL),
            q AS (
              SELECT event_type,
                CAST(floor((c - fc) * 1e4 + 0.5e0) AS BIGINT)
                  AS err_micro
              FROM fc)
            SELECT event_type, CAST(count(*) AS BIGINT) AS n_eval,
              sum(abs(err_micro)) / 1e4 / count(*) / 100 AS mae_value,
              sum(err_micro) / 1e4 / count(*) / 100 AS bias_value
            FROM q
            GROUP BY event_type
            ORDER BY event_type NULLS FIRST"""
    })

  /** Ljung-Box portmanteau test (q_ts_ljungbox): is daily revenue
    * white noise, or autocorrelated at ANY of the first 7 lags? Per
    * lag k the full-series autocorrelation ρ_k is an exact integer
    * ratio — deviations ride as n·v − Σv (the ×n scaling clears the
    * mean rational, the Hurst trick) with products in
    * DECIMAL(38,0)/HUGEINT — and ρ micro-quantizes BEFORE the Q
    * accumulation, so Q_k = n(n+2)·Σ_{j≤k} ρ_j²/(n−j) is built from
    * integer terms (ρ_micro² div (n−j)) under an ordered running sum:
    * nothing order-dependent ever crosses an aggregate. The day-grid
    * window is calendar-bounded (one row per day; the 7 lag columns
    * ride one window exchange). */
  val qTsLjungbox = Q(
    "q_ts_ljungbox",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      val days = dailyRevenue(sp, dir)
      val w = Window.orderBy(col("day"))
      val lagged = days.select(col("v"),
        lag(col("v"), 1).over(w).as("v1"), lag(col("v"), 2).over(w).as("v2"),
        lag(col("v"), 3).over(w).as("v3"), lag(col("v"), 4).over(w).as("v4"),
        lag(col("v"), 5).over(w).as("v5"), lag(col("v"), 6).over(w).as("v6"),
        lag(col("v"), 7).over(w).as("v7"))
      val st = days.agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(38,0)")).as("sv"))
      val devs = lagged.crossJoin(broadcast(st))
        .withColumn("dev", expr("CAST(n * v AS DECIMAL(38,0)) - sv"))
      val den = devs
        .agg(sum(expr("CAST(dev * dev AS DECIMAL(38,0))")).as("den"))
      val perLag = devs
        .select(col("n"), col("sv"), col("dev"), expr(
          """stack(7, 1L, v1, 2L, v2, 3L, v3, 4L, v4,
                      5L, v5, 6L, v6, 7L, v7)""").as(Seq("k", "vk")))
        .filter(col("vk").isNotNull)
        .withColumn("devk", expr("CAST(n * vk AS DECIMAL(38,0)) - sv"))
        .groupBy(col("k"))
        .agg(first(col("n")).as("n"),
          sum(expr("CAST(dev * devk AS DECIMAL(38,0))")).as("num"))
        .crossJoin(broadcast(den))
        .withColumn("rho_micro", expr(
          """CAST(floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * 1e6
                 + 0.5D) AS BIGINT)"""))
        .withColumn("term", expr("(rho_micro * rho_micro) div (n - k)"))
      perLag
        .withColumn("cum", sum(col("term")).over(Window.orderBy(col("k"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("k").as("lag"),
          round(col("rho_micro").cast("double") / 1e6, 6).as("rho"),
          round(expr(
            "CAST(n AS DOUBLE) * (n + 2) * CAST(cum AS DOUBLE) / 1e12"), 6)
            .as("q_stat"))
        .orderBy(col("lag"))
    },
    Some("""WITH days AS (
              SELECT CAST(ts AS DATE) AS day,
                CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS v
              FROM events GROUP BY day),
            lagged AS (
              SELECT v,
                lag(v, 1) OVER w AS v1, lag(v, 2) OVER w AS v2,
                lag(v, 3) OVER w AS v3, lag(v, 4) OVER w AS v4,
                lag(v, 5) OVER w AS v5, lag(v, 6) OVER w AS v6,
                lag(v, 7) OVER w AS v7
              FROM days WINDOW w AS (ORDER BY day)),
            st AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(v) AS HUGEINT) AS sv FROM days),
            devs AS (
              SELECT lagged.*, st.n, st.sv,
                CAST(n AS HUGEINT) * v - sv AS dev
              FROM lagged, st),
            den AS (
              SELECT sum(dev * dev) AS den FROM devs),
            un AS (
              SELECT n, sv, dev, k,
                CASE k WHEN 1 THEN v1 WHEN 2 THEN v2 WHEN 3 THEN v3
                       WHEN 4 THEN v4 WHEN 5 THEN v5 WHEN 6 THEN v6
                       ELSE v7 END AS vk
              FROM devs CROSS JOIN
                (SELECT unnest([1, 2, 3, 4, 5, 6, 7]) AS k)),
            per AS (
              SELECT k, any_value(n) AS n,
                sum(dev * (CAST(n AS HUGEINT) * vk - sv)) AS num
              FROM un WHERE vk IS NOT NULL
              GROUP BY k),
            rho AS (
              SELECT k, n,
                CAST(floor(CAST(num AS DOUBLE) / CAST(den.den AS DOUBLE)
                  * 1e6 + 0.5) AS BIGINT) AS rho_micro
              FROM per, den),
            terms AS (
              SELECT k, n, rho_micro,
                (rho_micro * rho_micro) // (n - k) AS term
              FROM rho)
            SELECT CAST(k AS BIGINT) AS lag,
              round(CAST(rho_micro AS DOUBLE) / 1e6, 6) AS rho,
              round(CAST(n AS DOUBLE) * (n + 2)
                * CAST(sum(term) OVER (ORDER BY k
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS DOUBLE) / 1e12, 6) AS q_stat
            FROM terms
            ORDER BY lag NULLS FIRST"""))

  /** Durbin-Watson statistic (q_ts_dw): serial correlation of the
    * residuals around the daily-revenue linear trend — the standard
    * post-regression autocorrelation gate (DW ≈ 2 ⇒ independent,
    * < 2 ⇒ positively correlated). The OLS fit rides exact integer
    * sufficient statistics (Σi, Σv, Σi², Σiv in DECIMAL(38,0)/
    * HUGEINT); slope/intercept are single fixed double divisions;
    * each residual is a PER-ROW double (bit-identical across engines)
    * quantized to 1/100 cent BEFORE the Σ(Δe)² / Σe² aggregates, so
    * the ratio is built from integer sums. One calendar-bounded
    * day-grid window. */
  val qTsDw = Q(
    "q_ts_dw",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      val days = dailyRevenue(sp, dir)
      val idxed = days.withColumn("i",
        row_number().over(Window.orderBy(col("day"))).cast("long"))
      val st = idxed.agg(count(lit(1)).as("n"),
        sum(col("i")).as("si"),
        sum(col("v").cast("decimal(38,0)")).as("sv"),
        sum(col("i") * col("i")).as("sii"),
        sum(expr("CAST(i * v AS DECIMAL(38,0))")).as("siv"))
      val fit = st.select(col("n"), col("si"), col("sv"),
        expr("CAST(n * siv - si * sv AS DOUBLE) / CAST(CAST(n AS DECIMAL(38,0)) * sii - CAST(si AS DECIMAL(38,0)) * si AS DOUBLE)").as("b"))
        .withColumn("a", expr("(CAST(sv AS DOUBLE) - b * si) / n"))
      val resid = idxed.crossJoin(broadcast(fit))
        .withColumn("ec", expr(
          "CAST(floor((v - a - b * i) * 100 + 0.5D) AS BIGINT)"))
        .withColumn("ep", lag(col("ec"), 1)
          .over(Window.orderBy(col("day"))))
      resid.agg(
          first(col("n")).as("n_days"),
          round(first(col("b")), 6).as("slope"),
          sum(expr("CAST(ec AS DECIMAL(38,0)) * ec")).as("s2"),
          sum(expr(
            "CAST((ec - ep) AS DECIMAL(38,0)) * (ec - ep)")).as("sd2"))
        .select(col("n_days"), col("slope"),
          round(expr("CAST(sd2 AS DOUBLE) / CAST(s2 AS DOUBLE)"), 6)
            .as("dw"))
    },
    Some("""WITH days AS (
              SELECT CAST(ts AS DATE) AS day,
                CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS v
              FROM events GROUP BY day),
            idxed AS (
              SELECT day, v,
                CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i
              FROM days),
            st AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(i) AS BIGINT) AS si,
                CAST(sum(v) AS HUGEINT) AS sv,
                CAST(sum(i * i) AS BIGINT) AS sii,
                CAST(sum(CAST(i AS HUGEINT) * v) AS HUGEINT) AS siv
              FROM idxed),
            fit AS (
              SELECT n, si, sv,
                CAST(n * siv - si * sv AS DOUBLE)
                  / CAST(CAST(n AS HUGEINT) * sii
                         - CAST(si AS HUGEINT) * si AS DOUBLE) AS b
              FROM st),
            fit2 AS (
              SELECT *, (CAST(sv AS DOUBLE) - b * si) / n AS a FROM fit),
            resid AS (
              SELECT idxed.day, fit2.n, fit2.b,
                CAST(floor((v - a - b * i) * 100 + 0.5) AS BIGINT) AS ec
              FROM idxed, fit2),
            lagged AS (
              SELECT n, b, ec, lag(ec, 1) OVER (ORDER BY day) AS ep
              FROM resid)
            SELECT any_value(n) AS n_days,
              round(any_value(b), 6) AS slope,
              round(CAST(sum(CAST(ec - ep AS HUGEINT) * (ec - ep))
                  AS DOUBLE)
                / CAST(sum(CAST(ec AS HUGEINT) * ec) AS DOUBLE), 6) AS dw
            FROM lagged"""))

  /** Lo-MacKinlay variance ratio (q_ts_varratio): is the daily
    * log-revenue series a random walk? VR(q) = Var(x_t − x_{t−q}) /
    * (q · Var(x_t − x_{t−1})) over overlapping q-period differences —
    * VR < 1 means mean reversion, > 1 momentum. ln(v) is a PER-ROW
    * double (identical across engines); each difference nano-quantizes
    * BEFORE the variance aggregates, whose sufficient statistics
    * (n, Σr, Σr²) are then exact integers in DECIMAL(38,0)/HUGEINT.
    * One calendar-bounded day-grid window carries both lag columns. */
  val qTsVarratio = Q(
    "q_ts_varratio",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      val days = dailyRevenue(sp, dir)
      val w = Window.orderBy(col("day"))
      val lagged = days
        .withColumn("x", expr("ln(CAST(v AS DOUBLE))"))
        .select(col("x"),
          lag(col("x"), 1).over(w).as("x1"),
          lag(col("x"), 2).over(w).as("x2"),
          lag(col("x"), 5).over(w).as("x5"))
      val diffs = lagged.select(expr(
          """stack(3,
               1L, CAST(floor((x - x1) * 1e9 + 0.5D) AS BIGINT),
               2L, CAST(floor((x - x2) * 1e9 + 0.5D) AS BIGINT),
               5L, CAST(floor((x - x5) * 1e9 + 0.5D) AS BIGINT))""")
          .as(Seq("q", "r")))
        .filter(col("r").isNotNull)
        .groupBy(col("q"))
        .agg(count(lit(1)).as("n"), sum(col("r")).as("sr"),
          sum(expr("CAST(r AS DECIMAL(38,0)) * r")).as("srr"))
        .withColumn("v", expr(
          """(CAST(srr AS DOUBLE)
              - CAST(sr AS DOUBLE) * sr / n) / (n - 1)"""))
      val base = diffs.filter(col("q") === 1)
        .select(col("v").as("v1"))
      diffs.filter(col("q") > 1).crossJoin(broadcast(base))
        .select(col("q"), col("n").as("n_obs"),
          round(expr("v / (q * v1)"), 6).as("vr"))
        .orderBy(col("q"))
    },
    Some("""WITH days AS (
              SELECT CAST(ts AS DATE) AS day,
                CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS v
              FROM events GROUP BY day),
            lagged AS (
              SELECT ln(CAST(v AS DOUBLE)) AS x,
                lag(ln(CAST(v AS DOUBLE)), 1) OVER w AS x1,
                lag(ln(CAST(v AS DOUBLE)), 2) OVER w AS x2,
                lag(ln(CAST(v AS DOUBLE)), 5) OVER w AS x5
              FROM days WINDOW w AS (ORDER BY day)),
            un AS (
              SELECT q,
                CASE q WHEN 1 THEN
                    CAST(floor((x - x1) * 1e9 + 0.5) AS BIGINT)
                  WHEN 2 THEN CAST(floor((x - x2) * 1e9 + 0.5) AS BIGINT)
                  ELSE CAST(floor((x - x5) * 1e9 + 0.5) AS BIGINT)
                END AS r
              FROM lagged CROSS JOIN (SELECT unnest([1, 2, 5]) AS q)),
            st AS (
              SELECT q, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(r) AS BIGINT) AS sr,
                CAST(sum(CAST(r AS HUGEINT) * r) AS HUGEINT) AS srr
              FROM un WHERE r IS NOT NULL
              GROUP BY q),
            vs AS (
              SELECT q, n,
                (CAST(srr AS DOUBLE) - CAST(sr AS DOUBLE) * sr / n)
                  / (n - 1) AS v
              FROM st),
            base AS (SELECT v AS v1 FROM vs WHERE q = 1)
            SELECT CAST(q AS BIGINT) AS q, n AS n_obs,
              round(v / (q * v1), 6) AS vr
            FROM vs, base
            WHERE q > 1
            ORDER BY q NULLS FIRST"""))

  /** Integer micro-quantized trig weight table for the periodogram:
    * one CASE chain over (period, day-phase), generated ONCE in Scala
    * and embedded as the SAME literals in both engines (the
    * q_audit_dp_hist inverse-CDF discipline) — no engine ever
    * evaluates cos/sin itself, so the weighted sums are exact integer
    * arithmetic everywhere. */
  private def trigCaseSql(f: (Int, Int) => Double): String = {
    val branches = for { p <- Seq(7, 14, 30); j <- 0 until p } yield
      s"WHEN p = $p AND j = $j THEN CAST(" +
        s"${math.floor(f(p, j) * 1e6 + 0.5).toLong} AS BIGINT)"
    s"CASE ${branches.mkString(" ")} END"
  }
  private val cosCaseSql =
    trigCaseSql((p, j) => math.cos(2 * math.Pi * j / p))
  private val sinCaseSql =
    trigCaseSql((p, j) => math.sin(2 * math.Pi * j / p))

  /** Single-frequency periodogram (q_ts_periodogram): how much of the
    * daily-revenue variance concentrates at the weekly / biweekly /
    * monthly cycles? Per candidate period p ∈ {7, 14, 30} the
    * Goertzel-style power is (Σ d_t·cos_t)² + (Σ d_t·sin_t)² over the
    * mean-removed series, normalized by n·Σd² — the spectral-mass
    * fraction at that frequency. Deviations ride exactly as n·v − Σv
    * (the ×n scaling clears the mean rational), trig weights are
    * precomputed integer micro-literals (see trigCaseSql), so every
    * sum is DECIMAL(38,0)/HUGEINT-exact and only the final
    * power-fraction division is floating point. One corpus rollup,
    * then a calendar-bounded (day × 3-period) grid. */
  val qTsPeriodogram = Q(
    "q_ts_periodogram",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      val days = dailyRevenue(sp, dir)
      val idxed = days.withColumn("i",
        row_number().over(Window.orderBy(col("day"))).cast("long"))
      val st = days.agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(38,0)")).as("sv"))
      idxed.crossJoin(broadcast(st))
        .select(col("i"), col("v"), col("n"), col("sv"),
          explode(expr("array(7L, 14L, 30L)")).as("p"))
        .withColumn("j", expr("CAST((i - 1) % p AS INT)"))
        .withColumn("dev", expr("CAST(n * v AS DECIMAL(38,0)) - sv"))
        .withColumn("cw", expr(cosCaseSql))
        .withColumn("sw", expr(sinCaseSql))
        .groupBy(col("p"))
        .agg(first(col("n")).as("n"),
          sum(expr("CAST(dev * cw AS DECIMAL(38,0))")).as("cs"),
          sum(expr("CAST(dev * sw AS DECIMAL(38,0))")).as("ss"),
          sum(expr("CAST(dev * dev AS DECIMAL(38,0))")).as("den"))
        .select(col("p").as("period"), col("n").as("n_days"),
          round(expr(
            """2.0D * (CAST(cs AS DOUBLE) * CAST(cs AS DOUBLE)
                 + CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE))
               / (1e12 * n * CAST(den AS DOUBLE))"""), 6)
            .as("power_frac"))
        .orderBy(col("period"))
    },
    Some(s"""WITH days AS (
              SELECT CAST(ts AS DATE) AS day,
                CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS v
              FROM events GROUP BY day),
            idxed AS (
              SELECT v,
                CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i
              FROM days),
            st AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(v) AS HUGEINT) AS sv FROM days),
            grid AS (
              SELECT i, v, n, sv, p,
                CAST((i - 1) % p AS INT) AS j,
                CAST(n AS HUGEINT) * v - sv AS dev
              FROM idxed, st
              CROSS JOIN (SELECT unnest([7, 14, 30]) AS p)),
            weighted AS (
              SELECT p, n, dev,
                $cosCaseSql AS cw,
                $sinCaseSql AS sw
              FROM grid),
            agg AS (
              SELECT p, any_value(n) AS n,
                sum(dev * cw) AS cs, sum(dev * sw) AS ss,
                sum(dev * dev) AS den
              FROM weighted GROUP BY p)
            SELECT CAST(p AS BIGINT) AS period, n AS n_days,
              round(2.0e0 * (CAST(cs AS DOUBLE) * CAST(cs AS DOUBLE)
                  + CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE))
                / (1e12 * n * CAST(den AS DOUBLE)), 6) AS power_frac
            FROM agg
            ORDER BY period NULLS FIRST"""))

  /** Partial autocorrelation (q_ts_pacf): lags 1–3 of daily revenue by
    * the Durbin-Levinson recursion unrolled in closed form — φ11 = r1,
    * φ22 = (r2 − r1²)/(1 − r1²), φ33 from the level-2 coefficients —
    * the AR-order diagnostic read next to q_ts_ljungbox. The r_k feed
    * in as the SAME exact integer-ratio autocorrelations (n·v − Σv
    * deviation products in DECIMAL(38,0)/HUGEINT, micro-quantized),
    * and every φ is one fixed double expression over those integers —
    * nothing order-dependent anywhere. Day-grid bounded. */
  val qTsPacf = Q(
    "q_ts_pacf",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      val days = dailyRevenue(sp, dir)
      val w = Window.orderBy(col("day"))
      val lagged = days.select(col("v"),
        lag(col("v"), 1).over(w).as("v1"),
        lag(col("v"), 2).over(w).as("v2"),
        lag(col("v"), 3).over(w).as("v3"))
      val st = days.agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(38,0)")).as("sv"))
      val devs = lagged.crossJoin(broadcast(st))
        .withColumn("dev", expr("CAST(n * v AS DECIMAL(38,0)) - sv"))
      val den = devs
        .agg(sum(expr("CAST(dev * dev AS DECIMAL(38,0))")).as("den"))
      val rhos = devs
        .select(col("n"), col("sv"), col("dev"),
          expr("stack(3, 1L, v1, 2L, v2, 3L, v3)").as(Seq("k", "vk")))
        .filter(col("vk").isNotNull)
        .withColumn("devk", expr("CAST(n * vk AS DECIMAL(38,0)) - sv"))
        .groupBy(col("k"))
        .agg(sum(expr("CAST(dev * devk AS DECIMAL(38,0))")).as("num"))
        .crossJoin(broadcast(den))
        .select(col("k"), expr(
          """CAST(floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * 1e6
                 + 0.5D) AS BIGINT)""").as("rm"))
      val wide = rhos.agg(
        max(when(col("k") === 1, col("rm"))).as("m1"),
        max(when(col("k") === 2, col("rm"))).as("m2"),
        max(when(col("k") === 3, col("rm"))).as("m3"))
        .withColumn("r1", col("m1").cast("double") / 1e6)
        .withColumn("r2", col("m2").cast("double") / 1e6)
        .withColumn("r3", col("m3").cast("double") / 1e6)
        .withColumn("p11", col("r1"))
        .withColumn("p22", expr("(r2 - r1 * r1) / (1.0D - r1 * r1)"))
        .withColumn("p21", expr("r1 - p22 * r1"))
        .withColumn("p33", expr(
          """(r3 - p21 * r2 - p22 * r1)
             / (1.0D - p21 * r1 - p22 * r2)"""))
      wide.select(expr(
          """stack(3, 1L, r1, p11, 2L, r2, p22, 3L, r3, p33)""")
          .as(Seq("lag", "rho", "pacf")))
        .select(col("lag"), round(col("rho"), 6).as("rho"),
          round(col("pacf"), 6).as("pacf"))
        .orderBy(col("lag"))
    },
    Some("""WITH days AS (
              SELECT CAST(ts AS DATE) AS day,
                CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS v
              FROM events GROUP BY day),
            lagged AS (
              SELECT v, lag(v, 1) OVER w AS v1,
                lag(v, 2) OVER w AS v2, lag(v, 3) OVER w AS v3
              FROM days WINDOW w AS (ORDER BY day)),
            st AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(v) AS HUGEINT) AS sv FROM days),
            devs AS (
              SELECT lagged.*, st.n, st.sv,
                CAST(n AS HUGEINT) * v - sv AS dev
              FROM lagged, st),
            den AS (SELECT sum(dev * dev) AS den FROM devs),
            un AS (
              SELECT n, sv, dev, k,
                CASE k WHEN 1 THEN v1 WHEN 2 THEN v2 ELSE v3 END AS vk
              FROM devs CROSS JOIN (SELECT unnest([1, 2, 3]) AS k)),
            rhos AS (
              SELECT k,
                CAST(floor(CAST(sum(dev * (CAST(n AS HUGEINT) * vk - sv))
                    AS DOUBLE) / CAST(any_value(den.den) AS DOUBLE) * 1e6
                  + 0.5) AS BIGINT) AS rm
              FROM un, den WHERE vk IS NOT NULL
              GROUP BY k),
            wide AS (
              SELECT
                CAST(max(CASE WHEN k = 1 THEN rm END) AS DOUBLE) / 1e6
                  AS r1,
                CAST(max(CASE WHEN k = 2 THEN rm END) AS DOUBLE) / 1e6
                  AS r2,
                CAST(max(CASE WHEN k = 3 THEN rm END) AS DOUBLE) / 1e6
                  AS r3
              FROM rhos),
            lvl AS (
              SELECT r1, r2, r3, r1 AS p11,
                (r2 - r1 * r1) / (1.0e0 - r1 * r1) AS p22
              FROM wide),
            lvl2 AS (
              SELECT *, r1 - p22 * r1 AS p21 FROM lvl),
            lvl3 AS (
              SELECT *,
                (r3 - p21 * r2 - p22 * r1)
                  / (1.0e0 - p21 * r1 - p22 * r2) AS p33
              FROM lvl2),
            rows_ AS (
              SELECT 1 AS lag, r1 AS rho, p11 AS pacf FROM lvl3
              UNION ALL SELECT 2, r2, p22 FROM lvl3
              UNION ALL SELECT 3, r3, p33 FROM lvl3)
            SELECT CAST(lag AS BIGINT) AS lag, round(rho, 6) AS rho,
              round(pacf, 6) AS pacf
            FROM rows_
            ORDER BY lag NULLS FIRST"""))

  /** Holt-Winters additive seasonal smoothing (q_ts_holtwinters):
    * triple exponential smoothing (α=0.3, β=0.1, γ=0.2, weekly season
    * m=7) over daily revenue — the seasonal upgrade of q_ts_holt.
    * Textbook init: level = week-1 mean, trend = (week-2 mean −
    * week-1 mean)/7, seasonals = week-1 deviations; recursion from
    * day 8 emits level/trend/seasonal and the one-step-ahead fit.
    * Inherently sequential, so it follows the q_ts_holt discipline:
    * a TIME-bounded higher-order fold over the collected day array on
    * the Spark side and the identical recurrence as a recursive CTE
    * in DuckDB — both engines execute the same IEEE double sequence
    * (inputs are exact integer cents), so the series agrees
    * bit-for-bit before rounding. The seasonal state updates by an
    * index-lambda transform (Spark 0-based, DuckDB 1-based — same
    * slot). At 100 TB the daily rollup is the only corpus-scaling
    * stage; the fold touches one element per calendar day. */
  val qTsHoltwinters = Q(
    "q_ts_holtwinters",
    (sp, dir) => {
      val sOld = "element_at(acc.seas, CAST((x.i - 1) % 7 + 1 AS INT))"
      val lnew = s"0.3D * (x.v - $sOld) + 0.7D * (acc.lvl + acc.trd)"
      val bnew = s"0.1D * (($lnew) - acc.lvl) + 0.9D * acc.trd"
      val snew = s"0.2D * (x.v - ($lnew)) + 0.8D * $sOld"
      val fit = s"acc.lvl + acc.trd + $sOld"
      val a1 = (0 to 6).map(k => s"vs[$k].v").mkString(" + ")
      val a2 = (7 to 13).map(k => s"vs[$k].v").mkString(" + ")
      dailyRevenue(sp, dir)
        .withColumn("i", row_number()
          .over(Window.orderBy(col("day"))).cast("long"))
        .agg(array_sort(collect_list(expr(
          "named_struct('i', i, 'day', day, 'v', CAST(v AS DOUBLE))")))
          .as("vs"))
        .filter(size(col("vs")) >= 15)
        .withColumn("a1", expr(s"($a1) / 7.0D"))
        .withColumn("b0", expr(s"(($a2) / 7.0D - a1) / 7.0D"))
        .withColumn("seas0", expr((0 to 6)
          .map(k => s"vs[$k].v - a1").mkString("array(", ", ", ")")))
        .select(explode(expr(s"""
          aggregate(
            slice(vs, 8, size(vs) - 7),
            named_struct('lvl', a1, 'trd', b0, 'seas', seas0,
              'hist', CAST(array() AS ARRAY<STRUCT<
                i: BIGINT, day: DATE, lvl: DOUBLE, trd: DOUBLE,
                seas: DOUBLE, fit: DOUBLE>>)),
            (acc, x) -> named_struct(
              'lvl', $lnew,
              'trd', $bnew,
              'seas', transform(acc.seas,
                (sv, k) -> IF(k = CAST((x.i - 1) % 7 AS INT),
                  $snew, sv)),
              'hist', concat(acc.hist, array(named_struct(
                'i', x.i, 'day', x.day,
                'lvl', $lnew, 'trd', $bnew, 'seas', $snew,
                'fit', $fit)))),
            acc -> acc.hist)""")).as("h"))
        .select(col("h.i").as("idx"), col("h.day").as("day"),
          round(col("h.lvl") / 100.0, 6).as("level"),
          round(col("h.trd") / 100.0, 6).as("trend"),
          round(col("h.seas") / 100.0, 6).as("seasonal"),
          round(col("h.fit") / 100.0, 6).as("fitted"))
        .orderBy(col("idx"))
    },
    Some {
      val sOld = "h.seas[CAST((d.i - 1) % 7 + 1 AS INT)]"
      val lnew = s"0.3e0 * (d.v - $sOld) + 0.7e0 * (h.lvl + h.trd)"
      val bnew = s"0.1e0 * (($lnew) - h.lvl) + 0.9e0 * h.trd"
      val snew = s"0.2e0 * (d.v - ($lnew)) + 0.8e0 * $sOld"
      val fit = s"h.lvl + h.trd + $sOld"
      val a1 = (1 to 7).map(k => s"v$k").mkString(" + ")
      val a2 = (8 to 14).map(k => s"v$k").mkString(" + ")
      val vcols = (1 to 14).map(k =>
        s"max(CASE WHEN i = $k THEN v END) AS v$k").mkString(", ")
      val seas0 = (1 to 7).map(k => s"v$k - a1").mkString("[", ", ", "]")
      s"""WITH RECURSIVE daily AS (
            SELECT day,
              CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                AS DOUBLE) AS v,
              CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i
            FROM (SELECT CAST(ts AS DATE) AS day, value FROM events)
            GROUP BY day),
          n AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM daily),
          seed0 AS (SELECT $vcols FROM daily WHERE i <= 14),
          seed1 AS (SELECT ($a1) / 7.0e0 AS a1, seed0.* FROM seed0),
          hw(i, day, lvl, trd, seas, seasv, fit) AS (
            SELECT CAST(7 AS BIGINT), DATE '1970-01-01',
              a1, (($a2) / 7.0e0 - a1) / 7.0e0,
              $seas0, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
            FROM seed1, n WHERE n.nd >= 15
            UNION ALL
            SELECT d.i, d.day, $lnew, $bnew,
              list_transform(h.seas,
                (sv, k) -> CASE WHEN k = CAST((d.i - 1) % 7 + 1 AS INT)
                  THEN $snew ELSE sv END),
              $snew, $fit
            FROM hw h JOIN daily d ON d.i = h.i + 1)
          SELECT i AS idx, day,
            round(lvl / 100.0e0, 6) AS level,
            round(trd / 100.0e0, 6) AS trend,
            round(seasv / 100.0e0, 6) AS seasonal,
            round(fit / 100.0e0, 6) AS fitted
          FROM hw WHERE i >= 8
          ORDER BY idx NULLS FIRST"""
    })

  /** Inter-arrival exponential fit (q_events_interarrival): are each
    * type's event gaps Poisson-compatible? Per event_type the
    * consecutive-gap series (integer seconds from exact micros, one
    * window exchange on the series key) is fitted by the exponential
    * MLE λ = n/Σg, then tested with the one-sample KS distance
    * against Exp(λ) evaluated on the DISTINCT-gap grid: F_emp steps
    * are exact integer cum/n rationals, F_exp = 1 − e^(−λg) is a
    * per-row double (exp parity is already load-bearing in the
    * logreg/KM oracles), and the statistic is a MAX — commutative and
    * order-free, so no float sum ever forms. Output is one row per
    * type; the gap grid bounds all downstream work. */
  val qEventsInterarrival = Q(
    "q_events_interarrival",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("tm"), col("event_id"))
      val gaps = events
        .select(col("event_type"), col("event_id"),
          expr("unix_micros(CAST(ts AS TIMESTAMP))").as("tm"))
        .withColumn("g", expr("(tm - lag(tm, 1) OVER (" +
          "PARTITION BY event_type ORDER BY tm, event_id)) div 1000000"))
        .filter(col("g").isNotNull)
      val vc = gaps.groupBy(col("event_type"), col("g"))
        .agg(count(lit(1)).as("cnt"))
      // per-type n/Σg as UNBOUNDED windows over the gap grid's own
      // per-type partitioning (the r15 window-derivation discipline):
      // the old groupBy + broadcast join-back re-derived the grid —
      // and the grid's lineage is the corpus-wide lag window, so the
      // fact was scanned and gap-sorted TWICE per run. The grid is
      // gap-domain-bounded, so these windows never see corpus-sized
      // partitions.
      val wType = Window.partitionBy(col("event_type"))
      vc.withColumn("n", sum(col("cnt")).over(wType))
        .withColumn("sg",
          sum(expr("CAST(g * cnt AS DECIMAL(38,0))")).over(wType))
        .withColumn("cum", sum(col("cnt")).over(
          Window.partitionBy(col("event_type")).orderBy(col("g"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("fexp", expr(
          "1.0D - exp(-(CAST(n AS DOUBLE) / CAST(sg AS DOUBLE)) * g)"))
        .withColumn("dev", greatest(
          expr("CAST(cum AS DOUBLE) / n - fexp"),
          expr("fexp - CAST(cum - cnt AS DOUBLE) / n")))
        .groupBy(col("event_type"))
        .agg(first(col("n")).as("n_gaps"),
          round(first(col("sg")).cast("double") /
            first(col("n")).cast("double"), 6).as("mean_gap_s"),
          round(max(col("dev")), 6).as("ks_stat"))
        .orderBy(col("event_type"))
    },
    Some("""WITH base AS (
              SELECT event_type, event_id, epoch_us(ts) AS tm
              FROM events),
            gaps AS (
              SELECT event_type,
                (tm - lag(tm, 1) OVER (PARTITION BY event_type
                   ORDER BY tm, event_id)) // 1000000 AS g
              FROM base),
            vc AS (
              SELECT event_type, g, CAST(count(*) AS BIGINT) AS cnt
              FROM gaps WHERE g IS NOT NULL
              GROUP BY event_type, g),
            st AS (
              SELECT event_type AS et, CAST(sum(cnt) AS BIGINT) AS n,
                CAST(sum(CAST(g AS HUGEINT) * cnt) AS HUGEINT) AS sg
              FROM vc GROUP BY event_type),
            curve AS (
              SELECT vc.event_type, cnt, n, sg, g,
                CAST(sum(cnt) OVER (PARTITION BY vc.event_type
                  ORDER BY g ROWS BETWEEN UNBOUNDED PRECEDING
                  AND CURRENT ROW) AS BIGINT) AS cum,
                1.0e0 - exp(-(CAST(n AS DOUBLE) / CAST(sg AS DOUBLE))
                  * g) AS fexp
              FROM vc JOIN st ON vc.event_type = st.et)
            SELECT event_type, any_value(n) AS n_gaps,
              round(CAST(any_value(sg) AS DOUBLE)
                / CAST(any_value(n) AS DOUBLE), 6) AS mean_gap_s,
              round(max(greatest(
                CAST(cum AS DOUBLE) / n - fexp,
                fexp - CAST(cum - cnt AS DOUBLE) / n)), 6) AS ks_stat
            FROM curve
            GROUP BY event_type
            ORDER BY event_type NULLS FIRST"""))

  /** Grubbs outlier test (q_ts_grubbs): is the most extreme revenue
    * day a statistical outlier? G = max|x − x̄|/s over the shared day
    * grid — deviations ride exactly as |n·v − Σv| (integer, the ×n
    * trick), the max is commutative, and the tied-peak day resolves
    * by a max-day second aggregate, so both engines pick the same
    * row without any ordering window. s comes from the exact
    * (n, Σv, Σv²) sums; G and the z-score are single double
    * expressions at the end. */
  val qTsGrubbs = Q(
    "q_ts_grubbs",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      val days = dailyRevenue(sp, dir)
      val st = days.agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(38,0)")).as("sv"),
        sum(expr("CAST(v AS DECIMAL(38,0)) * v")).as("svv"))
      val devs = days.crossJoin(broadcast(st))
        .withColumn("adev", abs(expr(
          "CAST(n * v AS DECIMAL(38,0)) - sv")))
      val mx = devs.agg(max(col("adev")).as("mdev"))
      devs.join(broadcast(mx), col("adev") === col("mdev"))
        .agg(first(col("n")).as("n_days"),
          first(col("sv")).as("sv"), first(col("svv")).as("svv"),
          first(col("mdev")).as("mdev"),
          max(col("day")).as("peak_day"))
        .select(col("n_days"), col("peak_day"),
          round(expr("CAST(sv AS DOUBLE) / n_days / 100.0D"), 6)
            .as("mean_rev"),
          round(expr(
            """sqrt((CAST(n_days AS DOUBLE) * CAST(svv AS DOUBLE)
                 - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))
                / (CAST(n_days AS DOUBLE) * (n_days - 1))) / 100.0D"""),
            6).as("std_rev"),
          round(expr(
            """CAST(mdev AS DOUBLE) / n_days
               / sqrt((CAST(n_days AS DOUBLE) * CAST(svv AS DOUBLE)
                   - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))
                 / (CAST(n_days AS DOUBLE) * (n_days - 1)))"""), 6)
            .as("g_stat"))
    },
    Some("""WITH days AS (
              SELECT CAST(ts AS DATE) AS day,
                CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS v
              FROM events GROUP BY day),
            st AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(v) AS HUGEINT) AS sv,
                CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS svv
              FROM days),
            devs AS (
              SELECT day, abs(CAST(n AS HUGEINT) * v - sv) AS adev,
                n, sv, svv
              FROM days, st),
            mx AS (SELECT max(adev) AS mdev FROM devs)
            SELECT any_value(n) AS n_days, max(day) AS peak_day,
              round(CAST(any_value(sv) AS DOUBLE) / any_value(n)
                / 100.0e0, 6) AS mean_rev,
              round(sqrt((CAST(any_value(n) AS DOUBLE)
                    * CAST(any_value(svv) AS DOUBLE)
                  - CAST(any_value(sv) AS DOUBLE)
                    * CAST(any_value(sv) AS DOUBLE))
                / (CAST(any_value(n) AS DOUBLE) * (any_value(n) - 1)))
                / 100.0e0, 6) AS std_rev,
              round(CAST(any_value(mdev) AS DOUBLE) / any_value(n)
                / sqrt((CAST(any_value(n) AS DOUBLE)
                    * CAST(any_value(svv) AS DOUBLE)
                  - CAST(any_value(sv) AS DOUBLE)
                    * CAST(any_value(sv) AS DOUBLE))
                / (CAST(any_value(n) AS DOUBLE) * (any_value(n) - 1))),
                6) AS g_stat
            FROM devs, mx
            WHERE adev = mdev"""))

  // ---- q_ts_theta -------------------------------------------------------

  /** Theta-method forecast (q_ts_theta): the M3-winning combination of
    * a linear trend line and simple exponential smoothing of the
    * theta=2 line (Z_t = 2·v_t − L_t, L the OLS fit) over daily
    * revenue, emitting the 7-day-ahead forecasts
    * (SES_n + L_{n+h}) / 2. The OLS slope/intercept come from ONE
    * exact integer-moment aggregate (Σi, Σv, Σiv, Σi² in
    * DECIMAL(38,0)/HUGEINT — no float sum ever forms); Z_t and the
    * SES recursion l_t = ½Z_t + ½l_{t−1} are fixed per-row double
    * expressions, run as the q_ts_holt TIME-bounded fold on the Spark
    * side and the identical recursive CTE in DuckDB — the same IEEE
    * sequence, bit-for-bit, before the final rounding. At 100 TB the
    * daily rollup is the only corpus-scaling stage. */
  val qTsTheta = Q(
    "q_ts_theta",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      val days = dailyRevenue(sp, dir)
        .withColumn("i", row_number().over(Window.orderBy(col("day")))
          .cast("long"))
      val st = days
        .agg(count(lit(1)).as("n"),
          sum(col("i")).as("si"),
          sum(col("v").cast("decimal(38,0)")).as("sv"),
          sum(expr("CAST(i * v AS DECIMAL(38,0))")).as("siv"),
          sum(expr("CAST(i * i AS DECIMAL(38,0))")).as("sii"))
        .filter(col("n") >= 3)
        .withColumn("b", expr(
          // si² rides DECIMAL(38,0): the BIGINT square wraps silently
          // past 9.2e18 (si ~ n²/2) under non-ANSI arithmetic
          """CAST(n * siv - si * sv AS DOUBLE)
             / CAST(n * sii - CAST(si AS DECIMAL(38,0)) * si AS DOUBLE)"""))
        .withColumn("a0", expr(
          "(CAST(sv AS DOUBLE) - b * CAST(si AS DOUBLE)) / n"))
        .select(col("n"), col("a0"), col("b"))
      days.crossJoin(broadcast(st))
        .withColumn("z", expr(
          "CAST(2 * v AS DOUBLE) - (a0 + b * CAST(i AS DOUBLE))"))
        .groupBy(col("n"), col("a0"), col("b"))
        .agg(array_sort(collect_list(
          expr("named_struct('i', i, 'z', z)"))).as("zs"))
        .withColumn("ses", expr(
          """aggregate(slice(zs, 2, size(zs) - 1),
               CAST(zs[0].z AS DOUBLE),
               (acc, x) -> 0.5D * x.z + 0.5D * acc)"""))
        .select(col("n"), col("a0"), col("b"), col("ses"),
          explode(expr("sequence(1L, 7L)")).as("h"))
        .select(col("h"),
          round(expr(
            """((ses + (a0 + b * CAST(n + h AS DOUBLE))) / 2.0D)
               / 100.0D"""), 6).as("forecast"))
        .orderBy(col("h"))
    },
    Some("""WITH RECURSIVE days AS (
              SELECT CAST(ts AS DATE) AS day,
                CAST(sum(CAST(floor(value * 100 + 0.5e0) AS BIGINT))
                  AS BIGINT) AS v
              FROM events GROUP BY 1),
            idxed AS (
              SELECT v,
                CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i
              FROM days),
            st AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(i) AS HUGEINT) AS si,
                CAST(sum(v) AS HUGEINT) AS sv,
                CAST(sum(CAST(i AS HUGEINT) * v) AS HUGEINT) AS siv,
                CAST(sum(CAST(i AS HUGEINT) * i) AS HUGEINT) AS sii
              FROM idxed),
            co AS (
              SELECT n,
                (CAST(sv AS DOUBLE)
                  - (CAST(n * siv - si * sv AS DOUBLE)
                     / CAST(n * sii - si * si AS DOUBLE))
                    * CAST(si AS DOUBLE)) / n AS a0,
                CAST(n * siv - si * sv AS DOUBLE)
                  / CAST(n * sii - si * si AS DOUBLE) AS b
              FROM st WHERE n >= 3),
            z AS (
              SELECT i,
                CAST(2 * v AS DOUBLE) - (a0 + b * CAST(i AS DOUBLE)) AS z
              FROM idxed, co),
            ses(i, l) AS (
              SELECT CAST(1 AS BIGINT), z FROM z WHERE i = 1
              UNION ALL
              SELECT z.i, 0.5e0 * z.z + 0.5e0 * s.l
              FROM ses s JOIN z ON z.i = s.i + 1),
            fin AS (
              SELECT l FROM ses JOIN co ON ses.i = co.n)
            SELECT CAST(h AS BIGINT) AS h,
              round(((fin.l + (co.a0 + co.b * CAST(co.n + h AS DOUBLE)))
                  / 2.0e0) / 100.0e0, 6) AS forecast
            FROM fin, co,
              (SELECT unnest(generate_series(1, 7)) AS h) hs
            ORDER BY h NULLS FIRST"""))

  // ---- q_ts_spectral_entropy ---------------------------------------------

  /** Spectral concentration of daily revenue (q_ts_spectral_entropy):
    * normalized Shannon entropy of the periodogram mass over the
    * candidate cycle set {7, 14, 30} plus the peak period — the scalar
    * that says "one dominant seasonality" (entropy → 0) vs "no cycle
    * stands out" (entropy → 1). Rides the SAME machinery as
    * q_ts_periodogram (exact DECIMAL deviation sums, micro-literal
    * trig weights); each per-period power quantizes to pico units
    * BEFORE the cross-period normalization and each −p·ln p term to
    * nano units before the entropy sum (3-row float sums are still
    * merge-order-dependent — the house rule), so both engines
    * assemble identical integers end-to-end. Day-grid bounded. */
  val qTsSpectralEntropy = Q(
    "q_ts_spectral_entropy",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      val days = dailyRevenue(sp, dir)
      val idxed = days.withColumn("i",
        row_number().over(Window.orderBy(col("day"))).cast("long"))
      val st = days.agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(38,0)")).as("sv"))
      val powers = idxed.crossJoin(broadcast(st))
        .select(col("i"), col("v"), col("n"), col("sv"),
          explode(expr("array(7L, 14L, 30L)")).as("p"))
        .withColumn("j", expr("CAST((i - 1) % p AS INT)"))
        .withColumn("dev", expr("CAST(n * v AS DECIMAL(38,0)) - sv"))
        .withColumn("cw", expr(cosCaseSql))
        .withColumn("sw", expr(sinCaseSql))
        .groupBy(col("p"))
        .agg(first(col("n")).as("n"),
          sum(expr("CAST(dev * cw AS DECIMAL(38,0))")).as("cs"),
          sum(expr("CAST(dev * sw AS DECIMAL(38,0))")).as("ss"),
          sum(expr("CAST(dev * dev AS DECIMAL(38,0))")).as("den"))
        .select(col("p"), expr(
          """CAST(floor(
               2.0D * (CAST(cs AS DOUBLE) * CAST(cs AS DOUBLE)
                 + CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE))
               / (1e12 * n * CAST(den AS DOUBLE)) * 1e12 + 0.5D)
             AS BIGINT)""").as("pm"))
      val tot = powers.agg(sum(col("pm")).as("tot"))
      val peak = powers.orderBy(col("pm").desc, col("p")).limit(1)
        .select(col("p").as("peak_period"))
      powers.crossJoin(broadcast(tot))
        .withColumn("hterm", expr(
          """CAST(floor(CASE WHEN pm > 0 THEN
               -(CAST(pm AS DOUBLE) / tot)
                 * ln(CAST(pm AS DOUBLE) / tot)
             ELSE 0.0D END * 1e9 + 0.5D) AS BIGINT)"""))
        .agg(count(lit(1)).as("n_freq"), sum(col("hterm")).as("hsum"))
        .crossJoin(broadcast(peak))
        .select(col("n_freq"),
          round(expr("CAST(hsum AS DOUBLE) / 1e9 / ln(3.0D)"), 6)
            .as("entropy"),
          col("peak_period"))
    },
    Some(s"""WITH days AS (
              SELECT CAST(ts AS DATE) AS day,
                CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS v
              FROM events GROUP BY day),
            idxed AS (
              SELECT v,
                CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i
              FROM days),
            st AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(v) AS HUGEINT) AS sv FROM days),
            grid AS (
              SELECT i, v, n, sv, p,
                CAST((i - 1) % p AS INT) AS j,
                CAST(n AS HUGEINT) * v - sv AS dev
              FROM idxed, st
              CROSS JOIN (SELECT unnest([7, 14, 30]) AS p)),
            weighted AS (
              SELECT p, n, dev,
                $cosCaseSql AS cw,
                $sinCaseSql AS sw
              FROM grid),
            agg AS (
              SELECT p, any_value(n) AS n,
                sum(dev * cw) AS cs, sum(dev * sw) AS ss,
                sum(dev * dev) AS den
              FROM weighted GROUP BY p),
            powers AS (
              SELECT p,
                CAST(floor(
                  2.0e0 * (CAST(cs AS DOUBLE) * CAST(cs AS DOUBLE)
                    + CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE))
                  / (1e12 * n * CAST(den AS DOUBLE)) * 1e12 + 0.5e0)
                AS BIGINT) AS pm
              FROM agg),
            tot AS (SELECT CAST(sum(pm) AS BIGINT) AS tot FROM powers),
            peak AS (
              SELECT CAST(p AS BIGINT) AS peak_period FROM powers
              ORDER BY pm DESC, p LIMIT 1),
            terms AS (
              SELECT CAST(floor(CASE WHEN pm > 0 THEN
                  -(CAST(pm AS DOUBLE) / tot)
                    * ln(CAST(pm AS DOUBLE) / tot)
                ELSE 0.0e0 END * 1e9 + 0.5e0) AS BIGINT) AS hterm
              FROM powers, tot),
            ent AS (
              SELECT CAST(count(*) AS BIGINT) AS n_freq,
                CAST(sum(hterm) AS BIGINT) AS hsum
              FROM terms)
            SELECT n_freq,
              round(CAST(hsum AS DOUBLE) / 1e9 / ln(3.0e0), 6)
                AS entropy,
              peak_period
            FROM ent, peak"""))

  // ---- q_ts_croston -----------------------------------------------------

  /** Croston's intermittent-demand method (q_ts_croston): the standard
    * forecaster for series that are MOSTLY ZERO — here the daily count
    * of extreme events (value > 250), the "how many capacity spikes
    * per day should we provision for" series. Croston smooths demand
    * SIZE and demand INTERVAL separately (α = 0.3) over the non-zero
    * days only: z_k = 0.3·c_k + 0.7·z, p_k = 0.3·q_k + 0.7·p with q_k
    * the gap since the previous demand; forecast = z/p per-day rate.
    * Inherently sequential → the q_ts_holt discipline: a TIME-bounded
    * fold over the collected demand-day array on the Spark side, the
    * identical recursive CTE in DuckDB; inputs are exact integer
    * (day index, count), so both engines run the same IEEE sequence.
    * The only corpus-scaling stage is the daily count aggregate. */
  val qTsCroston = Q(
    "q_ts_croston",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      val days = events
        .select(to_date(col("ts")).as("day"),
          (col("value") > 250.0).cast("long").as("hit"))
        .groupBy(col("day")).agg(sum(col("hit")).as("c"))
        .withColumn("i", row_number().over(Window.orderBy(col("day")))
          .cast("long"))
      // n_days as a global window over the calendar-bounded day grid
      // (r15 derivation lens): the separate count aggregate re-derived
      // the grid and re-scanned the fact; the grid already carries one
      // sanctioned global window (the day index).
      val demand = days
        .withColumn("n_days",
          count(lit(1)).over(Window.partitionBy()))
        .filter(col("c") > 0)
      demand
        .agg(array_sort(collect_list(
          expr("named_struct('i', i, 'c', CAST(c AS DOUBLE))")))
          .as("ds"),
          max(col("n_days")).as("n_days"))
        .filter(size(col("ds")) >= 1)
        .withColumn("fin", expr("""
          aggregate(
            slice(ds, 2, size(ds) - 1),
            named_struct(
              'z', ds[0].c, 'p', CAST(ds[0].i AS DOUBLE),
              'ti', ds[0].i, 'k', 1L),
            (acc, x) -> named_struct(
              'z', 0.3D * x.c + 0.7D * acc.z,
              'p', 0.3D * CAST(x.i - acc.ti AS DOUBLE) + 0.7D * acc.p,
              'ti', x.i, 'k', acc.k + 1L),
            acc -> acc)"""))
        .select(col("n_days"), col("fin.k").as("n_demand_days"),
          round(col("fin.z"), 6).as("size_level"),
          round(col("fin.p"), 6).as("interval_level"),
          round(expr("fin.z / fin.p"), 6).as("forecast_per_day"))
    },
    Some("""WITH RECURSIVE days AS (
              SELECT day,
                CAST(sum(hit) AS BIGINT) AS c,
                CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i
              FROM (SELECT CAST(ts AS DATE) AS day,
                      CASE WHEN value > 250.0e0 THEN 1 ELSE 0 END AS hit
                    FROM events)
              GROUP BY day),
            nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM days),
            dem AS (
              SELECT i, CAST(c AS DOUBLE) AS c,
                CAST(row_number() OVER (ORDER BY i) AS BIGINT) AS k
              FROM days WHERE c > 0),
            cro(k, z, p, ti) AS (
              SELECT k, c, CAST(i AS DOUBLE), i FROM dem WHERE k = 1
              UNION ALL
              SELECT d.k,
                0.3e0 * d.c + 0.7e0 * r.z,
                0.3e0 * CAST(d.i - r.ti AS DOUBLE) + 0.7e0 * r.p,
                d.i
              FROM cro r JOIN dem d ON d.k = r.k + 1),
            fin AS (
              SELECT k, z, p FROM cro ORDER BY k DESC LIMIT 1)
            SELECT n_days, k AS n_demand_days,
              round(z, 6) AS size_level,
              round(p, 6) AS interval_level,
              round(z / p, 6) AS forecast_per_day
            FROM fin, nd"""))

  // ---- q_ts_kpss ---------------------------------------------------------

  /** KPSS level-stationarity test (q_ts_kpss) on the shared daily
    * revenue grid — the complement of the unit-root view (q_ts_dickey):
    * its NULL is "stationary", so KPSS > 0.463 (5%) says the level
    * drifts. Everything is exact integer algebra until ONE final
    * division: with x_t the daily total in whole dollars (v div 100 —
    * cents would square past DECIMAL(38,0) at a 10× blow-up), running
    * sum P_t and total S, the demeaned partial sum is S_t = A_t/n with
    * A_t = n·P_t − t·S exact, and the Bartlett long-run variance with
    * L = 4 lags folds into D = 5·B₀ + 2·(4B₁+3B₂+2B₃+B₄) where
    * B_l = Σ(n·x_t − S)(n·x_{t−l} − S) — so η = 5·ΣA² / (n·D), one
    * double ratio of two DECIMAL(38,0) sums. The day grid is bounded
    * (calendar), so the single ORDER BY window is a documented
    * grid-bounded site. */
  val qTsKpss = Q(
    "q_ts_kpss",
    (sp, dir) => {
      val days = dailyRevenue(sp, dir)
        .select(col("day"), expr("v DIV 100").as("x"))
      val w = Window.orderBy(col("day"))
      val tot = days.agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
      val scored = days
        .withColumn("t", row_number().over(w).cast("long"))
        .withColumn("p", sum(col("x")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(broadcast(tot))
        .withColumn("a", expr(
          "CAST(n AS DECIMAL(38,0)) * p - CAST(t AS DECIMAL(38,0)) * s"))
        .withColumn("e", expr(
          "CAST(n AS DECIMAL(38,0)) * x - s"))
        .withColumn("e1", lag(col("e"), 1).over(w))
        .withColumn("e2", lag(col("e"), 2).over(w))
        .withColumn("e3", lag(col("e"), 3).over(w))
        .withColumn("e4", lag(col("e"), 4).over(w))
      scored
        .agg(max(col("n")).as("n_days"),
          sum(expr("a * a")).as("sa2"),
          sum(expr("e * e")).as("b0"),
          sum(expr("e * e1")).as("b1"),
          sum(expr("e * e2")).as("b2"),
          sum(expr("e * e3")).as("b3"),
          sum(expr("e * e4")).as("b4"))
        .select(col("n_days"), lit(4L).as("lags"),
          round(expr(
            """5.0D * CAST(sa2 AS DOUBLE)
               / (CAST(n_days AS DOUBLE)
                  * CAST(5 * b0 + 2 * (4 * b1 + 3 * b2 + 2 * b3 + b4)
                      AS DOUBLE))"""), 6).as("kpss_eta"),
          expr("""5.0D * CAST(sa2 AS DOUBLE)
               / (CAST(n_days AS DOUBLE)
                  * CAST(5 * b0 + 2 * (4 * b1 + 3 * b2 + 2 * b3 + b4)
                      AS DOUBLE)) < 0.463D""").as("is_stationary"))
    },
    Some("""WITH days AS (
              SELECT CAST(ts AS DATE) AS day,
                CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                  AS BIGINT) // 100 AS x
              FROM events GROUP BY CAST(ts AS DATE)),
            tot AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(x) AS BIGINT) AS s
              FROM days),
            scored AS (
              SELECT CAST(row_number() OVER w AS BIGINT) AS t,
                CAST(sum(x) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                  PRECEDING AND CURRENT ROW) AS BIGINT) AS p,
                x
              FROM days WINDOW w AS (ORDER BY day)),
            terms AS (
              SELECT CAST(n AS HUGEINT) * p
                       - CAST(t AS HUGEINT) * s AS a,
                CAST(n AS HUGEINT) * x - s AS e,
                lag(CAST(n AS HUGEINT) * x - s, 1)
                  OVER (ORDER BY t) AS e1,
                lag(CAST(n AS HUGEINT) * x - s, 2)
                  OVER (ORDER BY t) AS e2,
                lag(CAST(n AS HUGEINT) * x - s, 3)
                  OVER (ORDER BY t) AS e3,
                lag(CAST(n AS HUGEINT) * x - s, 4)
                  OVER (ORDER BY t) AS e4
              FROM scored, tot),
            st AS (
              SELECT sum(a * a) AS sa2, sum(e * e) AS b0,
                sum(e * e1) AS b1, sum(e * e2) AS b2,
                sum(e * e3) AS b3, sum(e * e4) AS b4
              FROM terms)
            SELECT n AS n_days, CAST(4 AS BIGINT) AS lags,
              round(5.0e0 * CAST(sa2 AS DOUBLE)
                / (CAST(n AS DOUBLE)
                   * CAST(5 * b0 + 2 * (4 * b1 + 3 * b2 + 2 * b3 + b4)
                       AS DOUBLE)), 6) AS kpss_eta,
              5.0e0 * CAST(sa2 AS DOUBLE)
                / (CAST(n AS DOUBLE)
                   * CAST(5 * b0 + 2 * (4 * b1 + 3 * b2 + 2 * b3 + b4)
                       AS DOUBLE)) < 0.463e0 AS is_stationary
            FROM st, tot"""))

  // ---- q_ts_dickey -------------------------------------------------------

  /** Dickey-Fuller unit-root test (q_ts_dickey): regress the daily
    * revenue DIFFERENCE on the lagged level (with intercept) and read
    * the slope's t-statistic — t deep below −2.86 rejects a random
    * walk, i.e. revenue mean-reverts and a drift monitor can assume a
    * stable level. The q_ml_linreg discipline: five commutative
    * DECIMAL(38,0) sufficient sums over (z = x_{t−1}, y = Δx_t), then
    * β̂ = Szy/Szz and t = β̂ / √((Syy − Szy²/Szz) / ((m−2)·Szz)) as one
    * fixed double expression (S·· are the m-scaled centered sums —
    * the scale cancels in both ratios). */
  val qTsDickey = Q(
    "q_ts_dickey",
    (sp, dir) => {
      val w = Window.orderBy(col("day"))
      val pairs = dailyRevenue(sp, dir)
        .select(col("day"), col("v").as("x"))
        .withColumn("z", lag(col("x"), 1).over(w))
        .filter(col("z").isNotNull)
        .withColumn("y", expr("x - z"))
      pairs
        .agg(count(lit(1)).as("m"),
          sum(col("z")).as("sz"), sum(col("y")).as("sy"),
          sum(expr("CAST(z AS DECIMAL(38,0)) * z")).as("szz"),
          sum(expr("CAST(z AS DECIMAL(38,0)) * y")).as("szy"),
          sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
        .withColumn("bzz", expr(
          "m * szz - CAST(sz AS DECIMAL(38,0)) * sz"))
        .withColumn("bzy", expr(
          "m * szy - CAST(sz AS DECIMAL(38,0)) * sy"))
        .withColumn("byy", expr(
          "m * syy - CAST(sy AS DECIMAL(38,0)) * sy"))
        .select(col("m").as("n_obs"),
          round(expr("CAST(bzy AS DOUBLE) / CAST(bzz AS DOUBLE)"), 6)
            .as("delta_coef"),
          round(expr(
            """(CAST(bzy AS DOUBLE) / CAST(bzz AS DOUBLE))
               / sqrt((CAST(byy AS DOUBLE)
                       - CAST(bzy AS DOUBLE) * CAST(bzy AS DOUBLE)
                         / CAST(bzz AS DOUBLE))
                      / ((m - 2) * CAST(bzz AS DOUBLE)))"""), 6)
            .as("df_t"),
          expr(
            """(CAST(bzy AS DOUBLE) / CAST(bzz AS DOUBLE))
               / sqrt((CAST(byy AS DOUBLE)
                       - CAST(bzy AS DOUBLE) * CAST(bzy AS DOUBLE)
                         / CAST(bzz AS DOUBLE))
                      / ((m - 2) * CAST(bzz AS DOUBLE)))
               > -2.86D""").as("is_unit_root"))
    },
    Some("""WITH days AS (
              SELECT CAST(ts AS DATE) AS day,
                CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS x
              FROM events GROUP BY CAST(ts AS DATE)),
            pairs AS (
              SELECT x - z AS y, z FROM (
                SELECT x, lag(x, 1) OVER (ORDER BY day) AS z
                FROM days)
              WHERE z IS NOT NULL),
            st AS (
              SELECT CAST(count(*) AS BIGINT) AS m,
                CAST(sum(z) AS BIGINT) AS sz,
                CAST(sum(y) AS BIGINT) AS sy,
                sum(CAST(z AS HUGEINT) * z) AS szz,
                sum(CAST(z AS HUGEINT) * y) AS szy,
                sum(CAST(y AS HUGEINT) * y) AS syy
              FROM pairs),
            big AS (
              SELECT m,
                m * szz - CAST(sz AS HUGEINT) * sz AS bzz,
                m * szy - CAST(sz AS HUGEINT) * sy AS bzy,
                m * syy - CAST(sy AS HUGEINT) * sy AS byy
              FROM st)
            SELECT m AS n_obs,
              round(CAST(bzy AS DOUBLE) / CAST(bzz AS DOUBLE), 6)
                AS delta_coef,
              round((CAST(bzy AS DOUBLE) / CAST(bzz AS DOUBLE))
                / sqrt((CAST(byy AS DOUBLE)
                        - CAST(bzy AS DOUBLE) * CAST(bzy AS DOUBLE)
                          / CAST(bzz AS DOUBLE))
                       / ((m - 2) * CAST(bzz AS DOUBLE))), 6) AS df_t,
              (CAST(bzy AS DOUBLE) / CAST(bzz AS DOUBLE))
                / sqrt((CAST(byy AS DOUBLE)
                        - CAST(bzy AS DOUBLE) * CAST(bzy AS DOUBLE)
                          / CAST(bzz AS DOUBLE))
                       / ((m - 2) * CAST(bzz AS DOUBLE)))
                > -2.86e0 AS is_unit_root
            FROM big"""))

  // ---- q_ts_haar ---------------------------------------------------------

  /** Haar wavelet energy decomposition (q_ts_haar): which time scale
    * carries the daily-revenue variance — day-pair jitter (level 1),
    * weekly texture (~level 3), or month-scale swings (level 5)? For
    * dyadic level j the detail is d_{j,k} = (first-half sum − second-
    * half sum) over each complete 2^j-day block; its energy d²/2^j is
    * kept exact by scaling every level to the common denominator 2^5
    * (E_j·2^(5−j), integer), so the per-level energy FRACTION is one
    * double ratio of two DECIMAL(38,0) sums. The day grid explodes
    * 5× via stack (grid-bounded), then one (level, block) aggregate. */
  val qTsHaar = Q(
    "q_ts_haar",
    (sp, dir) => {
      val w = Window.orderBy(col("day"))
      val days = dailyRevenue(sp, dir)
        .select(col("day"), col("v").as("x"))
        .withColumn("t", (row_number().over(w) - 1).cast("long"))
      val nTot = days.agg(count(lit(1)).as("n"))
      val branches = (1 to 5).map { j =>
        val len = 1 << j
        val half = 1 << (j - 1)
        s"${j}L, named_struct('k', t DIV $len, " +
          s"'s', CASE WHEN t % $len < $half THEN x ELSE -x END)"
      }.mkString(", ")
      val blocks = days
        .select(expr(s"stack(5, $branches)").as(Seq("j", "kv")))
        .groupBy(col("j"), col("kv.k").as("k"))
        .agg(sum(col("kv.s")).as("dsum"))
        .crossJoin(broadcast(nTot))
        .filter(col("k") < expr("n DIV CAST(pow(2, j) AS BIGINT)"))
      val lev = blocks.groupBy(col("j"))
        .agg(count(lit(1)).as("n_blocks"),
          sum(expr(
            """CAST(dsum AS DECIMAL(38,0)) * dsum
               * CAST(pow(2, 5 - j) AS BIGINT)""")).as("esc"))
      val tot = lev.agg(sum(col("esc")).as("etot"))
      lev.crossJoin(broadcast(tot))
        .select(col("j").as("level"), col("n_blocks"),
          round(expr("CAST(esc AS DOUBLE) / CAST(etot AS DOUBLE)"), 6)
            .as("energy_frac"))
        .orderBy(col("level"))
    },
    Some("""WITH days AS (
              SELECT CAST(row_number() OVER (ORDER BY day) - 1
                  AS BIGINT) AS t, x
              FROM (SELECT CAST(ts AS DATE) AS day,
                      CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS x
                    FROM events GROUP BY CAST(ts AS DATE))),
            nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM days),
            terms AS (
              SELECT j, t // (1 << j) AS k,
                CASE WHEN t % (1 << j) < (1 << (j - 1))
                  THEN x ELSE -x END AS s
              FROM days CROSS JOIN
                (SELECT unnest([1, 2, 3, 4, 5]) AS j)),
            blocks AS (
              SELECT j, k, CAST(sum(s) AS BIGINT) AS dsum
              FROM terms GROUP BY j, k),
            complete AS (
              SELECT j, dsum FROM blocks, nt
              WHERE k < n // (1 << j)),
            lev AS (
              SELECT j, CAST(count(*) AS BIGINT) AS n_blocks,
                sum(CAST(dsum AS HUGEINT) * dsum * (1 << (5 - j)))
                  AS esc
              FROM complete GROUP BY j),
            tot AS (SELECT sum(esc) AS etot FROM lev)
            SELECT CAST(j AS BIGINT) AS level, n_blocks,
              round(CAST(esc AS DOUBLE) / CAST(etot AS DOUBLE), 6)
                AS energy_frac
            FROM lev, tot
            ORDER BY level NULLS FIRST"""))

  // ---- q_stats_poisson_gof ----------------------------------------------

  /** Poisson factor chain for bucket k — generated ONCE in Scala and
    * embedded with engine-matched float suffixes so both engines run
    * the identical multiply/divide sequence (the trig-table
    * discipline): p_k = exp(−λ)·λ·…·λ/k!, and the ≥8 tail is
    * 1 − Σ p_0..7 with a fixed addition order. */
  private def poissonPSql(sfx: String): String = {
    val fact = Seq(1.0, 1.0, 2.0, 6.0, 24.0, 120.0, 720.0, 5040.0)
    def term(k: Int): String = {
      val pow =
        if (k == 0) s"1.0$sfx" else Seq.fill(k)("lam").mkString(" * ")
      s"exp(-lam) * ($pow) / ${fact(k)}$sfx"
    }
    val branches =
      (0 to 7).map(k => s"WHEN k = $k THEN ${term(k)}").mkString(" ")
    s"CASE $branches ELSE 1.0$sfx - (${(0 to 7).map(term).mkString(" + ")}) END"
  }

  /** Poisson goodness-of-fit (q_stats_poisson_gof): are the daily
    * extreme-event counts (value > 250 — q_ts_croston's demand series)
    * Poisson, i.e. independent arrivals, or over-dispersed/bursty (the
    * q_events_fano question, settled by a full χ² table instead of one
    * ratio)? One daily aggregate, a 9-bucket histogram (counts ≥ 8
    * pooled into the tail), λ̂ = mean from exact integer sums, and the
    * literal factor chain above — every expected count and χ²
    * contribution is the same IEEE sequence on both engines. */
  /** The commutative daily extreme-count grid — the shared ingest
    * aggregate of the batch op and its streaming twin (state is
    * calendar-bounded: one row per day). */
  private[graft] def extremeDayCounts(ev: DataFrame): DataFrame =
    ev.select(to_date(col("ts")).as("day"),
        (col("value") > 250.0).cast("long").as("hit"))
      .groupBy(col("day")).agg(sum(col("hit")).as("c"))

  /** Finisher: day grid → the 9-bucket χ² table. */
  private[graft] def poissonGofFromDays(days: DataFrame): DataFrame = {
      val st = days.agg(count(lit(1)).as("n"), sum(col("c")).as("sc"))
      val hist = days.select(least(col("c"), lit(8L)).as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("obs"))
      st.select(col("n"), col("sc"),
          explode(expr("sequence(0L, 8L)")).as("k"))
        .withColumn("lam", expr("CAST(sc AS DOUBLE) / n"))
        .join(hist, Seq("k"), "left")
        .withColumn("observed", coalesce(col("obs"), lit(0L)))
        .withColumn("p", expr(poissonPSql("D")))
        .select(col("k").as("bucket"), col("observed"),
          round(expr("n * p"), 6).as("expected"),
          round(expr(
            "(observed - n * p) * (observed - n * p) / (n * p)"), 6)
            .as("chi2_term"))
        .orderBy(col("bucket"))
  }

  val qStatsPoissonGof = Q(
    "q_stats_poisson_gof",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      poissonGofFromDays(extremeDayCounts(events))
    },
    Some(poissonGofOracleSql))

  // def, not val: referenced by the Q above it (object init order)
  private[graft] def poissonGofOracleSql: String = s"""WITH days AS (
              SELECT CAST(ts AS DATE) AS day,
                CAST(sum(CASE WHEN value > 250.0e0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS c
              FROM events GROUP BY CAST(ts AS DATE)),
            st AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(c) AS BIGINT) AS sc
              FROM days),
            hist AS (
              SELECT least(c, 8) AS kk, CAST(count(*) AS BIGINT) AS obs
              FROM days GROUP BY least(c, 8)),
            grid AS (
              SELECT n, sc, CAST(sc AS DOUBLE) / n AS lam,
                unnest(generate_series(0, 8)) AS k
              FROM st),
            joined AS (
              SELECT k, n, lam, COALESCE(h.obs, 0) AS observed,
                ${poissonPSql("e0")} AS p
              FROM grid g LEFT JOIN hist h ON g.k = h.kk)
            SELECT CAST(k AS BIGINT) AS bucket,
              CAST(observed AS BIGINT) AS observed,
              round(n * p, 6) AS expected,
              round((observed - n * p) * (observed - n * p) / (n * p),
                6) AS chi2_term
            FROM joined
            ORDER BY bucket NULLS FIRST"""

  // ---- q_events_circadian ------------------------------------------------

  /** Circadian activity profile (q_events_circadian): the 24-hour
    * event-rate and spend profile — which UTC hours carry the load and
    * the money, the capacity-planning complement to the day-grid tier
    * (q_ts_seasonal reads day-of-week; this reads hour-of-day). ONE
    * (hour) aggregate over the stream; spend rides exact cents, share
    * and mean are one double division per grid row. */
  val qEventsCircadian = Q(
    "q_events_circadian",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      val grid = events
        .select(hour(col("ts")).cast("long").as("hr"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        .groupBy(col("hr"))
        .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("sc"))
      val tot = grid.agg(sum(col("n_events")).as("tn"))
      grid.crossJoin(broadcast(tot))
        .select(col("hr").as("hour"), col("n_events"),
          round(expr("CAST(n_events AS DOUBLE) / tn"), 6).as("share"),
          round(expr("CAST(sc AS DOUBLE) / n_events / 100.0D"), 2)
            .as("mean_value"))
        .orderBy(col("hour"))
    },
    Some("""WITH grid AS (
              SELECT CAST(extract(hour FROM ts) AS BIGINT) AS hr,
                CAST(count(*) AS BIGINT) AS n_events,
                CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS sc
              FROM events GROUP BY extract(hour FROM ts)),
            tot AS (SELECT CAST(sum(n_events) AS BIGINT) AS tn
                    FROM grid)
            SELECT hr AS hour, n_events,
              round(CAST(n_events AS DOUBLE) / tn, 6) AS share,
              round(CAST(sc AS DOUBLE) / n_events / 100.0e0, 2)
                AS mean_value
            FROM grid, tot
            ORDER BY hour NULLS FIRST"""))

  val all: Seq[Q] = Seq(qTsAcf, qTsMad, qTsSeasonal, qTsCusum,
    qEventsMarkov, qTsOhlc, qEventsPaths, qTsEwma, qTsVshape,
    qTsChangepoint, qAggTheilsen, qTsStl, qTsBacktest, qEventsMarkovPi,
    qTsHurst, qTsLjungbox, qTsDw, qTsVarratio, qTsPeriodogram, qTsPacf,
    qTsHoltwinters, qEventsInterarrival, qTsGrubbs, qTsTheta,
    qTsSpectralEntropy, qTsCroston, qTsKpss, qTsDickey, qTsHaar,
    qStatsPoissonGof, qEventsCircadian)
}
