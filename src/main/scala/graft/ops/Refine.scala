package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Round-8 additions: robust/order statistics, privacy auditing, corpus
  * novelty, and sketch-based cross-source overlap — the QA surface a
  * large-scale training-data pipeline runs AROUND the core curation
  * operators (reference scope: the DAQ manuals' rate/consistency
  * characterization generalized to corpus health checks;
  * Manuals/Testing/DAQ_self-triggering.md:194-239 motivates the
  * "characterize before you trust" tier).
  *
  * Shared scale discipline (SURVEY §4): every aggregate here is a
  * map-side-combinable pass over the fact table; windows only ever run
  * over DOMAIN-BOUNDED distinct-value tables (quantity grid ≤ 50 rows,
  * discount grid ≤ 11, sketch rows ≤ sources² × 128), never over
  * grow-with-corpus partitions; higher moments accumulate in
  * DECIMAL(38,0) so 100 TB row counts cannot overflow a BIGINT sum. */
object Refine {

  private def li(s: SparkSession, d: String) = Tables.t(s, d, "lineitem")
  private def ev(s: SparkSession, d: String) = Tables.t(s, d, "events")
  private def cust(s: SparkSession, d: String) = Tables.t(s, d, "customer")
  private def docs(s: SparkSession, d: String) = Tables.t(s, d, "documents")

  // ---- q_agg_trimmed ----------------------------------------------------

  /** Trimmed + winsorized means (q_agg_trimmed): the robust-mean pair
    * every metrics pipeline wants next to avg() once heavy tails show
    * up. Per return flag: exact interpolated P10/P90 cuts over WHOLE-
    * DOLLAR prices (the grid quantization that keeps the exact-
    * percentile aggregation buffer domain-bounded at ~1e5 distinct
    * values — the Audit.scala exact-vs-approx rule), then
    *   trimmed_mean  = mean of rows inside [p10, p90]  (exact integer
    *                   sum of in-range dollars / count), and
    *   winsor_mean   = (sum_mid + n_low·p10 + n_high·p90) / n,
    * assembled ALGEBRAICALLY from exact integer aggregates and the two
    * per-group cut scalars — never a data-order float reduction, so
    * both engines compute bit-identical doubles. Cut table is 3 rows
    * (flag domain is literal-bounded) → broadcast join-back. */
  val qAggTrimmed = Q(
    "q_agg_trimmed",
    (s, d) => {
      val base = li(s, d).select(col("l_returnflag").as("rf"),
        floor(col("l_extendedprice") + 0.5).cast("long").as("c"))
      val cuts = base.groupBy(col("rf").as("cf"))
        .agg(expr("percentile(c, 0.1)").as("p10"),
          expr("percentile(c, 0.9)").as("p90"))
      base.join(broadcast(cuts), col("rf") === col("cf"))
        .groupBy(col("rf"))
        .agg(
          count(lit(1)).as("n_rows"),
          max(col("p10")).as("cut10"),
          max(col("p90")).as("cut90"),
          sum(when(col("c") >= col("p10") && col("c") <= col("p90"),
            col("c")).otherwise(lit(0L))).as("sum_mid"),
          sum(when(col("c") >= col("p10") && col("c") <= col("p90"), 1L)
            .otherwise(0L)).as("n_mid"),
          sum(when(col("c") < col("p10"), 1L).otherwise(0L)).as("n_low"),
          sum(when(col("c") > col("p90"), 1L).otherwise(0L)).as("n_high"))
        .select(col("rf").as("l_returnflag"),
          round(col("cut10"), 6).as("p10"),
          round(col("cut90"), 6).as("p90"),
          round(col("sum_mid").cast("double") / col("n_mid"), 6)
            .as("trimmed_mean"),
          round((col("sum_mid").cast("double") +
              col("n_low") * col("cut10") +
              col("n_high") * col("cut90")) / col("n_rows"), 6)
            .as("winsor_mean"))
        .orderBy(col("l_returnflag"))
    },
    Some("""WITH base AS (
              SELECT l_returnflag AS rf,
                CAST(floor(l_extendedprice + 0.5) AS BIGINT) AS c
              FROM lineitem),
            cuts AS (
              SELECT rf AS cf, quantile_cont(c, 0.1) AS p10,
                quantile_cont(c, 0.9) AS p90
              FROM base GROUP BY rf),
            agg AS (
              SELECT rf, count(*) AS n_rows,
                max(p10) AS cut10, max(p90) AS cut90,
                CAST(sum(CASE WHEN c >= p10 AND c <= p90 THEN c
                         ELSE 0 END) AS BIGINT) AS sum_mid,
                CAST(sum(CASE WHEN c >= p10 AND c <= p90 THEN 1
                         ELSE 0 END) AS BIGINT) AS n_mid,
                CAST(sum(CASE WHEN c < p10 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_low,
                CAST(sum(CASE WHEN c > p90 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_high
              FROM base JOIN cuts ON rf = cf
              GROUP BY rf)
            SELECT rf AS l_returnflag,
              round(cut10, 6) AS p10, round(cut90, 6) AS p90,
              round(CAST(sum_mid AS DOUBLE) / n_mid, 6) AS trimmed_mean,
              round((CAST(sum_mid AS DOUBLE) + n_low * cut10
                + n_high * cut90) / n_rows, 6) AS winsor_mean
            FROM agg
            ORDER BY l_returnflag NULLS FIRST"""))

  // ---- q_agg_spearman ---------------------------------------------------

  /** Spearman rank correlation (q_agg_spearman) between quantity and
    * discount per return flag — the tie-aware average-rank formulation,
    * computed WITHOUT ranking individual rows: both variables live on
    * literal-bounded grids (quantity 1..50, discount per-cent 0..10),
    * so the average rank of every grid value is derived on the
    * per-(flag, value) COUNT table — a window over ≤ 50 rows per group,
    * never over the fact — and joined back broadcast. Doubled ranks
    * 2·rank_avg = 2·n_below + cnt + 1 are exact BIGINTs; the Pearson-
    * on-ranks correlation assembles from five DECIMAL(38,0) sufficient
    * sums cast to double once — deterministic at any row count (the
    * Gini/RFM broadcast-cuts discipline applied to rank transforms). */
  val qAggSpearman = Q(
    "q_agg_spearman",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      // ONE fact scan: the (flag, quantity, cent) COUNT grid is
      // literal-bounded (≤ 5·50·11 rows), and everything else — both
      // tie-aware rank transforms AND the Pearson sufficient sums —
      // is exact integer algebra over that grid. below_x (count of
      // rows with a strictly smaller x in the flag) is a RANGE window
      // (excludes ties by construction) over the grid, weighted by
      // cnt; the old form scanned lineitem three times (grid-per-
      // variable + the rank join-back) for identical values.
      val grid = li(s, d).select(col("l_returnflag").as("rf"),
          col("l_quantity").cast("long").as("x"),
          floor(col("l_discount") * 100 + 0.5).cast("long").as("y"))
        .groupBy(col("rf"), col("x"), col("y"))
        .agg(count(lit(1)).as("cnt"))
      def r2(vcol: String): org.apache.spark.sql.Column = {
        val below = coalesce(sum(col("cnt")).over(
          Window.partitionBy(col("rf")).orderBy(col(vcol))
            .rangeBetween(Window.unboundedPreceding, -1)), lit(0L))
        val ties = sum(col("cnt")).over(
          Window.partitionBy(col("rf"), col(vcol)))
        below * 2 + ties + 1
      }
      val dec = "decimal(38,0)"
      grid
        .withColumn("r2_x", r2("x"))
        .withColumn("r2_y", r2("y"))
        .groupBy(col("rf"))
        .agg(sum(col("cnt")).as("n"),
          sum(col("r2_x").cast(dec) * col("cnt")).as("sx"),
          sum(col("r2_y").cast(dec) * col("cnt")).as("sy"),
          sum(col("r2_x").cast(dec) * col("r2_x") * col("cnt")).as("sxx"),
          sum(col("r2_y").cast(dec) * col("r2_y") * col("cnt")).as("syy"),
          sum(col("r2_x").cast(dec) * col("r2_y") * col("cnt")).as("sxy"))
        .select(col("rf").as("l_returnflag"), col("n"),
          round((col("n").cast("double") * col("sxy").cast("double") -
              col("sx").cast("double") * col("sy").cast("double")) /
            sqrt((col("n").cast("double") * col("sxx").cast("double") -
                col("sx").cast("double") * col("sx").cast("double")) *
              (col("n").cast("double") * col("syy").cast("double") -
                col("sy").cast("double") * col("sy").cast("double"))), 6)
            .as("spearman"))
        .orderBy(col("l_returnflag"))
    },
    Some("""WITH base AS (
              SELECT l_returnflag AS rf,
                CAST(l_quantity AS BIGINT) AS x,
                CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS y
              FROM lineitem),
            rx AS (
              SELECT rf, x AS v,
                2 * coalesce(sum(cnt) OVER (PARTITION BY rf ORDER BY x
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                + cnt + 1 AS r2
              FROM (SELECT rf, x, CAST(count(*) AS BIGINT) AS cnt
                    FROM base GROUP BY rf, x) g),
            ry AS (
              SELECT rf, y AS v,
                2 * coalesce(sum(cnt) OVER (PARTITION BY rf ORDER BY y
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                + cnt + 1 AS r2
              FROM (SELECT rf, y, CAST(count(*) AS BIGINT) AS cnt
                    FROM base GROUP BY rf, y) g),
            joined AS (
              SELECT b.rf, rx.r2 AS r2x, ry.r2 AS r2y
              FROM base b
              JOIN rx ON b.rf = rx.rf AND b.x = rx.v
              JOIN ry ON b.rf = ry.rf AND b.y = ry.v),
            stats AS (
              SELECT rf, CAST(count(*) AS BIGINT) AS n,
                sum(r2x) AS sx, sum(r2y) AS sy,
                sum(r2x * r2x) AS sxx, sum(r2y * r2y) AS syy,
                sum(r2x * r2y) AS sxy
              FROM joined GROUP BY rf)
            SELECT rf AS l_returnflag, n,
              round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
                AS spearman
            FROM stats
            ORDER BY l_returnflag NULLS FIRST"""))

  // ---- q_agg_skew_kurt --------------------------------------------------

  /** Higher central moments (q_agg_skew_kurt): population skewness and
    * excess kurtosis per event type, from the four raw power sums over
    * integer cents — the one-pass sufficient-statistics shape
    * (q_ml_linreg discipline). The 3rd/4th per-row powers multiply in
    * DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) from the FIRST factor —
    * c⁴ would overflow BIGINT (silently, on Spark) already at
    * c > ~5.5e4 cents — and the SUMS accumulate in the same wide types
    * so any corpus size and value domain is exact; each sum converts
    * to double exactly once before the
    * closed-form moment algebra — no engine-order float reduction
    * anywhere. Built-in skewness()/kurtosis() are deliberately NOT
    * used: Spark's are population moments, DuckDB's are sample-
    * corrected, so the portable formulation IS the operator. */
  val qAggSkewKurt = Q(
    "q_agg_skew_kurt",
    (s, d) => {
      val base = ev(s, d).select(col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long").as("c"))
      val n = col("n").cast("double")
      val Seq(s1, s2, s3, s4) =
        Seq("s1", "s2", "s3", "s4").map(c => col(c).cast("double"))
      val mean = s1 / n
      val m2 = s2 / n - mean * mean
      val m3 = s3 / n - lit(3.0) * mean * (s2 / n) +
        lit(2.0) * mean * mean * mean
      val m4 = s4 / n - lit(4.0) * mean * (s3 / n) +
        lit(6.0) * mean * mean * (s2 / n) -
        lit(3.0) * mean * mean * mean * mean
      base.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("c").cast("decimal(38,0)")).as("s1"),
          sum((col("c") * col("c")).cast("decimal(38,0)")).as("s2"),
          // cast BEFORE the 3rd/4th multiply: c³ overflows BIGINT at
          // c > ~2.1e6 cents and c⁴ at c > ~5.5e4 — decimal-first
          // keeps every per-row power exact whatever the value domain
          sum(col("c").cast("decimal(38,0)") * col("c") * col("c"))
            .as("s3"),
          sum(col("c").cast("decimal(38,0)") * col("c") * col("c") *
            col("c")).as("s4"))
        .select(col("event_type"), col("n"),
          round(mean / 100.0, 6).as("mean_value"),
          round(m3 / pow(m2, 1.5), 6).as("skewness"),
          round(m4 / (m2 * m2) - 3.0, 6).as("kurtosis_excess"))
        .orderBy(col("event_type"))
    },
    Some("""WITH base AS (
              SELECT event_type,
                CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
              FROM events),
            sums AS (
              SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                sum(c) AS s1, sum(c * c) AS s2,
                sum(CAST(c AS HUGEINT) * c * c) AS s3,
                sum(CAST(c AS HUGEINT) * c * c * c) AS s4
              FROM base GROUP BY event_type),
            m AS (
              SELECT event_type, n,
                CAST(s1 AS DOUBLE) / n AS mean,
                CAST(s2 AS DOUBLE) / n AS e2,
                CAST(s3 AS DOUBLE) / n AS e3,
                CAST(s4 AS DOUBLE) / n AS e4
              FROM sums)
            SELECT event_type, n,
              round(mean / 100.0, 6) AS mean_value,
              round((e3 - 3.0 * mean * e2 + 2.0 * mean * mean * mean)
                / pow(e2 - mean * mean, 1.5), 6) AS skewness,
              round((e4 - 4.0 * mean * e3 + 6.0 * mean * mean * e2
                  - 3.0 * mean * mean * mean * mean)
                / pow(e2 - mean * mean, 2.0) - 3.0, 6)
                AS kurtosis_excess
            FROM m
            ORDER BY event_type NULLS FIRST"""))

  // ---- q_audit_kanon ----------------------------------------------------

  /** k-anonymity audit (q_audit_kanon): the privacy gate a dataset
    * release runs — bucket every customer into its quasi-identifier
    * equivalence class (nation, market segment, account-balance
    * thousand-band) and report, per segment, how many classes exist,
    * how many are smaller than k = 5, and what fraction of rows sit in
    * those re-identifiable classes. Two hash aggregates (rows → classes
    * → per-segment rollup), output bounded by the QI domain — the
    * 100 TB cost is one scan. */
  val qAuditKanon = Q(
    "q_audit_kanon",
    (s, d) => {
      val classes = cust(s, d)
        .select(col("c_mktsegment"), col("c_nationkey"),
          floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
        .groupBy(col("c_mktsegment"), col("c_nationkey"), col("bal_band"))
        .agg(count(lit(1)).as("cnt"))
      classes.groupBy(col("c_mktsegment"))
        .agg(
          sum(col("cnt")).as("n_rows"),
          count(lit(1)).as("n_classes"),
          sum(when(col("cnt") < 5, 1L).otherwise(0L)).as("n_small"),
          sum(when(col("cnt") < 5, col("cnt")).otherwise(0L))
            .as("rows_at_risk"))
        .select(col("c_mktsegment"), col("n_rows"), col("n_classes"),
          col("n_small"),
          col("rows_at_risk"),
          round(col("rows_at_risk").cast("double") / col("n_rows"), 6)
            .as("risk_frac"))
        .orderBy(col("c_mktsegment"))
    },
    Some("""WITH classes AS (
              SELECT c_mktsegment, c_nationkey,
                CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
                CAST(count(*) AS BIGINT) AS cnt
              FROM customer
              GROUP BY c_mktsegment, c_nationkey, bal_band)
            SELECT c_mktsegment,
              CAST(sum(cnt) AS BIGINT) AS n_rows,
              count(*) AS n_classes,
              CAST(sum(CASE WHEN cnt < 5 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_small,
              CAST(sum(CASE WHEN cnt < 5 THEN cnt ELSE 0 END) AS BIGINT)
                AS rows_at_risk,
              round(CAST(sum(CASE WHEN cnt < 5 THEN cnt ELSE 0 END)
                AS DOUBLE) / sum(cnt), 6) AS risk_frac
            FROM classes
            GROUP BY c_mktsegment
            ORDER BY c_mktsegment NULLS FIRST"""))

  // ---- q_text_novelty ---------------------------------------------------

  /** N-gram novelty profile (q_text_novelty): how much genuinely NEW
    * text each source contributes, processed in doc_id (ingest) order —
    * the diversity counterpart of the dedup tier. A bigram's owner is
    * the minimum doc_id containing it; a document's novelty is the
    * fraction of its distinct bigrams it owns. Per-doc fractions are
    * exact micro-quantized integers (novel·1e6 div nb — the
    * q_text_contrast integral-division discipline) so the per-source
    * mean is a deterministic integer sum. Plan: one bigram explode, one
    * (w1,w2)-keyed min aggregate, one vocabulary-keyed equi-join back
    * (UNHINTED — vocab grows with the corpus), two bounded rollups.
    * No windows, nothing corpus-sized is ever broadcast. */
  val qTextNovelty = Q(
    "q_text_novelty",
    (s, d) => {
      // the shared per-doc bigram multiset is already unique on
      // (doc_id, source, w1, w2) — its key projection IS the distinct
      val bd = Corpus.docBigrams(s, d)
        .select(col("doc_id"), col("source"), col("w1"), col("w2"))
      val owner = bd.groupBy(col("w1"), col("w2"))
        .agg(min(col("doc_id")).as("first_doc"))
      val perDoc = bd.join(owner, Seq("w1", "w2"))
        .groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).as("nb"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("novel"))
        .withColumn("nov_micro", expr("(novel * 1000000) div nb"))
      perDoc.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nb")).as("n_bigrams"),
          sum(col("novel")).as("n_novel"),
          sum(col("nov_micro")).as("sum_micro"))
        .select(col("source"), col("n_docs"), col("n_bigrams"),
          col("n_novel"),
          round(col("sum_micro").cast("double") / 1e6 / col("n_docs"), 6)
            .as("avg_novelty"))
        .orderBy(col("source"))
    },
    Some("""WITH tk AS (
              SELECT doc_id, source, string_split(text, ' ') AS w
              FROM documents
              WHERE len(string_split(text, ' ')) >= 2),
            bd AS (
              SELECT DISTINCT doc_id, source, w[i] AS w1, w[i + 1] AS w2
              FROM tk, LATERAL (
                SELECT unnest(generate_series(1, len(w) - 1)) AS i) g),
            owner AS (
              SELECT w1, w2, min(doc_id) AS first_doc
              FROM bd GROUP BY w1, w2),
            per_doc AS (
              SELECT bd.doc_id, bd.source,
                CAST(count(*) AS BIGINT) AS nb,
                CAST(sum(CASE WHEN o.first_doc = bd.doc_id THEN 1
                         ELSE 0 END) AS BIGINT) AS novel
              FROM bd JOIN owner o ON bd.w1 = o.w1 AND bd.w2 = o.w2
              GROUP BY bd.doc_id, bd.source),
            md AS (
              SELECT doc_id, source, nb, novel,
                (novel * 1000000) // nb AS nov_micro
              FROM per_doc)
            SELECT source, count(*) AS n_docs,
              CAST(sum(nb) AS BIGINT) AS n_bigrams,
              CAST(sum(novel) AS BIGINT) AS n_novel,
              round(CAST(sum(nov_micro) AS DOUBLE) / 1e6 / count(*), 6)
                AS avg_novelty
            FROM md
            GROUP BY source
            ORDER BY source NULLS FIRST"""))

  // ---- q_agg_kmv --------------------------------------------------------

  /** KMV sketch overlap (q_agg_kmv): cross-source distinct-document and
    * Jaccard estimation from k-minimum-values sketches — the
    * constant-memory answer to "how much do my crawl snapshots
    * overlap?" that q_source_overlap's exact join cannot give at
    * 100 TB. Per source, the sketch is the k = 64 smallest 32-bit text
    * hashes (the portable first-8-hex-of-md5 hash the dedup tier
    * already shares with DuckDB); the per-source top-k plans as a
    * partial WindowGroupLimit (map-side keeps ≤ 64 per source — the
    * q_topk/zipf idiom), so the full corpus never reaches one task.
    * Pair stage runs entirely on sketches: ≤ sources²·2k rows.
    * Estimators (both engines, same CASE): D̂ = (k−1)·2³²/τ_k when the
    * sketch saturates (else the exact sketch count), Jaccard from the
    * k smallest of the MERGED sketch — shared fraction within it. */
  /** The un-checkpointed per-source KMV sketch build (k = 64 smallest
    * 32-bit text hashes) shared by q_agg_kmv and q_agg_kmv_intersect —
    * factored out so PlanSpec can assert the partial WindowGroupLimit
    * on the build stage itself: both registered queries checkpoint
    * this ≤ k-rows-per-source frame (THREE consumers each — estimator,
    * source list, pair explode — would otherwise re-enter the corpus
    * hash + window lineage; 5 logical documents scans un-cut). */
  private[graft] def kmvSketch(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs(s, d)
      .select(col("source"),
        expr("CAST(conv(substring(md5(lower(trim(text))), 1, 8), 16, 10) AS BIGINT)")
          .as("h"))
      .distinct()
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("h"))))
      .filter(col("rn") <= 64)
  }

  val qAggKmv = Q(
    "q_agg_kmv",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val k = 64
      val sk = kmvSketch(s, d).localCheckpoint()
      val est = sk.groupBy(col("source"))
        .agg(count(lit(1)).as("sk_n"), max(col("h")).as("tau"))
        .select(col("source"),
          when(col("sk_n") < k, col("sk_n").cast("double"))
            .otherwise((lit(k - 1) * lit(4294967296.0)) / col("tau"))
            .as("d_est"))
      val srcs = sk.select(col("source")).distinct()
      val pairs = srcs.as("pa").join(srcs.as("pb"),
          col("pa.source") < col("pb.source"))
        .select(col("pa.source").as("sa"), col("pb.source").as("sb"))
      val pe = pairs.join(sk.select(col("source").as("es"), col("h")),
          col("es") === col("sa") || col("es") === col("sb"))
        .groupBy(col("sa"), col("sb"), col("h"))
        .agg(max(when(col("es") === col("sa"), 1L).otherwise(0L)).as("in_a"),
          max(when(col("es") === col("sb"), 1L).otherwise(0L)).as("in_b"))
      val merged = pe
        .withColumn("mrn", row_number().over(
          Window.partitionBy(col("sa"), col("sb")).orderBy(col("h"))))
        .filter(col("mrn") <= k)
      merged.groupBy(col("sa"), col("sb"))
        .agg(count(lit(1)).as("k_used"),
          sum(when(col("in_a") === 1 && col("in_b") === 1, 1L)
            .otherwise(0L)).as("n_shared"))
        .join(broadcast(est).select(col("source").as("ea"),
          round(col("d_est"), 2).as("est_a")), col("sa") === col("ea"))
        .join(broadcast(est).select(col("source").as("eb"),
          round(col("d_est"), 2).as("est_b")), col("sb") === col("eb"))
        .select(col("sa"), col("sb"), col("est_a"), col("est_b"),
          col("k_used"), col("n_shared"),
          round(col("n_shared").cast("double") / col("k_used"), 6)
            .as("jaccard_est"))
        .orderBy(col("sa"), col("sb"))
    },
    Some("""WITH hashes AS (
              SELECT DISTINCT source,
                CAST('0x' || substr(md5(lower(trim(text))), 1, 8)
                  AS BIGINT) AS h
              FROM documents),
            sk AS (
              SELECT source, h FROM (
                SELECT source, h, row_number() OVER (
                  PARTITION BY source ORDER BY h) AS rn
                FROM hashes) z WHERE rn <= 64),
            est AS (
              SELECT source,
                CASE WHEN count(*) < 64
                  THEN CAST(count(*) AS DOUBLE)
                  ELSE 63 * 4294967296.0 / max(h) END AS d_est
              FROM sk GROUP BY source),
            srcs AS (SELECT DISTINCT source FROM sk),
            pairs AS (
              SELECT a.source AS sa, b.source AS sb
              FROM srcs a JOIN srcs b ON a.source < b.source),
            pe AS (
              SELECT p.sa, p.sb, e.h,
                CAST(max(CASE WHEN e.source = p.sa THEN 1 ELSE 0 END)
                  AS BIGINT) AS in_a,
                CAST(max(CASE WHEN e.source = p.sb THEN 1 ELSE 0 END)
                  AS BIGINT) AS in_b
              FROM pairs p JOIN sk e
                ON e.source = p.sa OR e.source = p.sb
              GROUP BY p.sa, p.sb, e.h),
            merged AS (
              SELECT sa, sb, h, in_a, in_b FROM (
                SELECT sa, sb, h, in_a, in_b, row_number() OVER (
                  PARTITION BY sa, sb ORDER BY h) AS mrn
                FROM pe) z WHERE mrn <= 64)
            SELECT m.sa, m.sb,
              round(ea.d_est, 2) AS est_a, round(eb.d_est, 2) AS est_b,
              count(*) AS k_used,
              CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_shared,
              round(CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1
                  ELSE 0 END) AS DOUBLE) / count(*), 6) AS jaccard_est
            FROM merged m
            JOIN est ea ON m.sa = ea.source
            JOIN est eb ON m.sb = eb.source
            GROUP BY m.sa, m.sb, ea.d_est, eb.d_est
            ORDER BY sa NULLS FIRST, sb NULLS FIRST"""))

  // ---- q_agg_kmv_intersect ----------------------------------------------

  /** KMV sketch set-operation estimates (q_agg_kmv_intersect): the
    * union / intersection / containment CARDINALITIES between source
    * pairs, estimated entirely from the same k = 64 sketches as
    * q_agg_kmv — union D̂ from the merged sketch's own kth minimum
    * (the standard KMV union property: the merge of two KMV sketches
    * IS the KMV sketch of the union), intersection D̂ = Ĵ · D̂_∪, and
    * per-side containment D̂_∩ / D̂_side. This is the number a crawl
    * planner actually budgets with ("how many NEW documents does
    * snapshot B add?") and it never touches the corpus after the
    * per-source top-64: the pair stage is sources²·2k rows. All
    * estimator inputs are exact integers; divisions are IEEE-exact
    * doubles rounded once at emission. */
  val qAggKmvIntersect = Q(
    "q_agg_kmv_intersect",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val k = 64
      // same three-consumer shape as q_agg_kmv — the shared sketch
      // build, checkpointed once
      val sk = kmvSketch(s, d).localCheckpoint()
      val est = sk.groupBy(col("source"))
        .agg(count(lit(1)).as("sk_n"), max(col("h")).as("tau"))
        .select(col("source"),
          when(col("sk_n") < k, col("sk_n").cast("double"))
            .otherwise((lit(k - 1) * lit(4294967296.0)) / col("tau"))
            .as("d_est"))
      val srcs = sk.select(col("source")).distinct()
      val pairs = srcs.as("pa").join(srcs.as("pb"),
          col("pa.source") < col("pb.source"))
        .select(col("pa.source").as("sa"), col("pb.source").as("sb"))
      val pe = pairs.join(sk.select(col("source").as("es"), col("h")),
          col("es") === col("sa") || col("es") === col("sb"))
        .groupBy(col("sa"), col("sb"), col("h"))
        .agg(max(when(col("es") === col("sa"), 1L).otherwise(0L)).as("in_a"),
          max(when(col("es") === col("sb"), 1L).otherwise(0L)).as("in_b"))
      val merged = pe
        .withColumn("mrn", row_number().over(
          Window.partitionBy(col("sa"), col("sb")).orderBy(col("h"))))
        .filter(col("mrn") <= k)
      merged.groupBy(col("sa"), col("sb"))
        .agg(count(lit(1)).as("k_used"), max(col("h")).as("tau_m"),
          sum(when(col("in_a") === 1 && col("in_b") === 1, 1L)
            .otherwise(0L)).as("n_shared"))
        .join(broadcast(est).select(col("source").as("ea"),
          col("d_est").as("da")), col("sa") === col("ea"))
        .join(broadcast(est).select(col("source").as("eb"),
          col("d_est").as("db")), col("sb") === col("eb"))
        .withColumn("u_est", when(col("k_used") < k,
            col("k_used").cast("double"))
          .otherwise((lit(k - 1) * lit(4294967296.0)) / col("tau_m")))
        .withColumn("i_est",
          col("n_shared").cast("double") / col("k_used") * col("u_est"))
        .select(col("sa"), col("sb"), col("k_used"), col("n_shared"),
          round(col("u_est"), 2).as("union_est"),
          round(col("i_est"), 2).as("inter_est"),
          round(col("i_est") / col("da"), 6).as("containment_a"),
          round(col("i_est") / col("db"), 6).as("containment_b"))
        .orderBy(col("sa"), col("sb"))
    },
    Some("""WITH hashes AS (
              SELECT DISTINCT source,
                CAST('0x' || substr(md5(lower(trim(text))), 1, 8)
                  AS BIGINT) AS h
              FROM documents),
            sk AS (
              SELECT source, h FROM (
                SELECT source, h, row_number() OVER (
                  PARTITION BY source ORDER BY h) AS rn
                FROM hashes) z WHERE rn <= 64),
            est AS (
              SELECT source,
                CASE WHEN count(*) < 64
                  THEN CAST(count(*) AS DOUBLE)
                  ELSE 63 * 4294967296e0 / max(h) END AS d_est
              FROM sk GROUP BY source),
            srcs AS (SELECT DISTINCT source FROM sk),
            pairs AS (
              SELECT a.source AS sa, b.source AS sb
              FROM srcs a JOIN srcs b ON a.source < b.source),
            pe AS (
              SELECT p.sa, p.sb, e.h,
                CAST(max(CASE WHEN e.source = p.sa THEN 1 ELSE 0 END)
                  AS BIGINT) AS in_a,
                CAST(max(CASE WHEN e.source = p.sb THEN 1 ELSE 0 END)
                  AS BIGINT) AS in_b
              FROM pairs p JOIN sk e
                ON e.source = p.sa OR e.source = p.sb
              GROUP BY p.sa, p.sb, e.h),
            merged AS (
              SELECT sa, sb, h, in_a, in_b FROM (
                SELECT sa, sb, h, in_a, in_b, row_number() OVER (
                  PARTITION BY sa, sb ORDER BY h) AS mrn
                FROM pe) z WHERE mrn <= 64),
            agg AS (
              SELECT m.sa, m.sb,
                CAST(count(*) AS BIGINT) AS k_used,
                max(h) AS tau_m,
                CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0
                  END) AS BIGINT) AS n_shared,
                max(ea.d_est) AS da, max(eb.d_est) AS db
              FROM merged m
              JOIN est ea ON m.sa = ea.source
              JOIN est eb ON m.sb = eb.source
              GROUP BY m.sa, m.sb),
            scored AS (
              SELECT sa, sb, k_used, n_shared, da, db,
                CASE WHEN k_used < 64 THEN CAST(k_used AS DOUBLE)
                  ELSE 63 * 4294967296e0 / tau_m END AS u_est
              FROM agg),
            fin AS (
              SELECT *, CAST(n_shared AS DOUBLE) / k_used * u_est
                AS i_est
              FROM scored)
            SELECT sa, sb, k_used, n_shared,
              round(u_est, 2) AS union_est,
              round(i_est, 2) AS inter_est,
              round(i_est / da, 6) AS containment_a,
              round(i_est / db, 6) AS containment_b
            FROM fin
            ORDER BY sa NULLS FIRST, sb NULLS FIRST"""))

  // ---- q_ts_holt --------------------------------------------------------

  /** Holt linear-trend smoothing (q_ts_holt): double exponential
    * smoothing (α = 0.5, β = 0.3) over the per-type DAILY mean series,
    * emitting level, trend, and the one-step-ahead forecast for every
    * day. The recurrence l_t = αv_t + (1−α)(l_{t−1}+b_{t−1}),
    * b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1} is inherently sequential, so
    * it runs as a per-series fold over the collected daily array —
    * TIME-bounded (days per type), never corpus-bounded: at 100 TB the
    * daily rollup is still one map-side-combined aggregate and the
    * fold touches ~365 elements per key. The DuckDB oracle replays the
    * identical recurrence as a recursive CTE; both engines execute the
    * same IEEE double sequence (daily means are single divisions of
    * exact cent sums), so the smoothed series matches bit-for-bit
    * before the final rounding. Series with fewer than 2 days are
    * excluded on both sides (the trend seed needs v₂ − v₁). */
  val qTsHolt = Q(
    "q_ts_holt",
    (s, d) => {
      val daily = ev(s, d)
        .select(col("event_type"), col("ts").cast("date").as("day"),
          floor(col("value") * 100 + 0.5).cast("long").as("c"))
        .groupBy(col("event_type"), col("day"))
        .agg((sum(col("c")).cast("double") / count(lit(1))).as("v"))
      import org.apache.spark.sql.expressions.Window
      val idxed = daily.withColumn("idx", row_number().over(
          Window.partitionBy(col("event_type")).orderBy(col("day")))
        .cast("long"))
      val folded = idxed
        .groupBy(col("event_type"))
        .agg(array_sort(collect_list(
          expr("named_struct('i', idx, 'day', day, 'v', v)"))).as("vs"))
        .filter(size(col("vs")) >= 2)
        .select(col("event_type"), explode(expr("""
          aggregate(
            slice(vs, 2, size(vs) - 1),
            named_struct(
              'lvl', CAST(vs[0].v AS DOUBLE),
              'trd', CAST(vs[1].v - vs[0].v AS DOUBLE),
              'hist', array(
                named_struct('i', vs[0].i, 'day', vs[0].day,
                  'lvl', CAST(vs[0].v AS DOUBLE),
                  'trd', CAST(vs[1].v - vs[0].v AS DOUBLE)))),
            (acc, x) -> named_struct(
              'lvl', 0.5D * x.v + 0.5D * (acc.lvl + acc.trd),
              'trd', 0.3D * ((0.5D * x.v + 0.5D * (acc.lvl + acc.trd))
                       - acc.lvl) + 0.7D * acc.trd,
              'hist', concat(acc.hist, array(named_struct(
                'i', x.i, 'day', x.day,
                'lvl', 0.5D * x.v + 0.5D * (acc.lvl + acc.trd),
                'trd', 0.3D * ((0.5D * x.v + 0.5D * (acc.lvl + acc.trd))
                         - acc.lvl) + 0.7D * acc.trd)))),
            acc -> acc.hist)""")).as("h"))
        .select(col("event_type"), col("h.i").as("idx"),
          col("h.day").as("day"),
          round(col("h.lvl") / 100.0, 6).as("level"),
          round(col("h.trd") / 100.0, 6).as("trend"),
          round((col("h.lvl") + col("h.trd")) / 100.0, 6)
            .as("forecast_next"))
      folded.orderBy(col("event_type"), col("idx"))
    },
    Some("""WITH RECURSIVE base AS (
              SELECT event_type, CAST(ts AS DATE) AS day,
                CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
              FROM events),
            daily AS (
              SELECT event_type, day,
                CAST(sum(c) AS DOUBLE) / count(*) AS v,
                CAST(row_number() OVER (PARTITION BY event_type
                  ORDER BY day) AS BIGINT) AS idx
              FROM base GROUP BY event_type, day),
            holt(event_type, idx, day, lvl, trd) AS (
              SELECT d1.event_type, d1.idx, d1.day,
                d1.v, d2.v - d1.v
              FROM daily d1 JOIN daily d2
                ON d1.event_type = d2.event_type
               AND d1.idx = 1 AND d2.idx = 2
              UNION ALL
              SELECT d.event_type, d.idx, d.day,
                0.5e0 * d.v + 0.5e0 * (h.lvl + h.trd),
                0.3e0 * ((0.5e0 * d.v + 0.5e0 * (h.lvl + h.trd)) - h.lvl)
                  + 0.7e0 * h.trd
              FROM holt h JOIN daily d
                ON d.event_type = h.event_type AND d.idx = h.idx + 1)
            SELECT event_type, idx, day,
              round(lvl / 100.0e0, 6) AS level,
              round(trd / 100.0e0, 6) AS trend,
              round((lvl + trd) / 100.0e0, 6) AS forecast_next
            FROM holt
            ORDER BY event_type NULLS FIRST, idx NULLS FIRST"""))

  // ---- q_curate_ablation ------------------------------------------------

  /** Per-filter ablation of the curation funnel (q_curate_ablation):
    * for each of the four gates (exact-dup keeper, SemDeDup, DSIR
    * affinity, token length) treated as INDEPENDENT predicates, how
    * many documents fail it, how many fail ONLY it (its unique
    * contribution — the number FineWeb-style ablation reports quote),
    * and how many would survive if it were removed (leave-one-out).
    * This is the table that justifies each filter's existence before a
    * 100 TB run pays for it. Every gate REUSES the registered
    * operator's stage store verbatim (the q_curate_v2 discipline), the
    * flags collapse to ONE global 13-sum aggregate, and the 4 output
    * rows come from a literal stack — scan cost is the funnel's three
    * hash joins, nothing more. */
  val qCurateAblation = Q(
    "q_curate_ablation",
    (s, d) => {
      val docsF = docs(s, d)
        .select(col("doc_id"), col("source"),
          md5(lower(trim(col("text"))).cast("binary")).as("th"),
          size(split(col("text"), " ")).cast("bigint").as("ntok"))
      val (eg, sem, dsir) = TextOps.curateStages(s, d)
      val fl = docsF
        .join(eg, col("th") === col("text_hash"))
        .join(sem, col("doc_id") === col("vec_id"), "left")
        .join(dsir, col("doc_id") === col("w_id"), "left")
        .select(
          (col("keep_id") === col("doc_id")).as("f1"),
          col("vec_id").isNull.as("f2"),
          coalesce(col("logw") >= lit(-15.0), lit(false)).as("f3"),
          (col("ntok") >= 20 && col("ntok") <= 1000).as("f4"))
      def cnt(p: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        sum(when(p, 1L).otherwise(0L))
      val Seq(f1, f2, f3, f4) = Seq("f1", "f2", "f3", "f4").map(col)
      val agg = fl.agg(
        count(lit(1)).as("n_docs"),
        cnt(f1 && f2 && f3 && f4).as("n_kept"),
        cnt(!f1).as("fail_1"), cnt(!f2).as("fail_2"),
        cnt(!f3).as("fail_3"), cnt(!f4).as("fail_4"),
        cnt(!f1 && f2 && f3 && f4).as("uniq_1"),
        cnt(f1 && !f2 && f3 && f4).as("uniq_2"),
        cnt(f1 && f2 && !f3 && f4).as("uniq_3"),
        cnt(f1 && f2 && f3 && !f4).as("uniq_4"),
        cnt(f2 && f3 && f4).as("loo_1"),
        cnt(f1 && f3 && f4).as("loo_2"),
        cnt(f1 && f2 && f4).as("loo_3"),
        cnt(f1 && f2 && f3).as("loo_4"))
      agg.select(expr("""stack(4,
          'dsir',     fail_3, uniq_3, loo_3,
          'exact',    fail_1, uniq_1, loo_1,
          'length',   fail_4, uniq_4, loo_4,
          'semdedup', fail_2, uniq_2, loo_2)
          AS (gate, n_fail, n_unique_fail, n_kept_without)"""),
          col("n_docs"), col("n_kept"))
        .orderBy(col("gate"))
    },
    for {
      semSql <- Dedup.qDedupSemantic.oracle
      dsirSql <- Corpus.qMixDsir.oracle
    } yield {
      val semInner = graft.Oracle.stripOrderBy(semSql)
      val dsirInner = graft.Oracle.stripOrderBy(dsirSql)
      s"""WITH eg AS MATERIALIZED (
            SELECT md5(lower(trim(text))) AS th, min(doc_id) AS keep_id
            FROM documents GROUP BY th),
          sem AS MATERIALIZED (SELECT vec_id FROM ($semInner) z),
          dw AS MATERIALIZED (SELECT doc_id AS w_id, logw FROM ($dsirInner) z),
          fl AS MATERIALIZED (
            SELECT
              (eg.keep_id = d.doc_id) AS f1,
              (d.doc_id NOT IN (SELECT vec_id FROM sem)) AS f2,
              COALESCE(dw.logw >= -15.0e0, FALSE) AS f3,
              (len(string_split(d.text, ' ')) >= 20
                AND len(string_split(d.text, ' ')) <= 1000) AS f4
            FROM documents d
            JOIN eg ON md5(lower(trim(d.text))) = eg.th
            LEFT JOIN dw ON d.doc_id = dw.w_id),
          a AS MATERIALIZED (
            SELECT count(*) AS n_docs,
              CAST(sum(CASE WHEN f1 AND f2 AND f3 AND f4 THEN 1 ELSE 0
                END) AS BIGINT) AS n_kept,
              CAST(sum(CASE WHEN NOT f1 THEN 1 ELSE 0 END) AS BIGINT)
                AS fail_1,
              CAST(sum(CASE WHEN NOT f2 THEN 1 ELSE 0 END) AS BIGINT)
                AS fail_2,
              CAST(sum(CASE WHEN NOT f3 THEN 1 ELSE 0 END) AS BIGINT)
                AS fail_3,
              CAST(sum(CASE WHEN NOT f4 THEN 1 ELSE 0 END) AS BIGINT)
                AS fail_4,
              CAST(sum(CASE WHEN NOT f1 AND f2 AND f3 AND f4 THEN 1
                ELSE 0 END) AS BIGINT) AS uniq_1,
              CAST(sum(CASE WHEN f1 AND NOT f2 AND f3 AND f4 THEN 1
                ELSE 0 END) AS BIGINT) AS uniq_2,
              CAST(sum(CASE WHEN f1 AND f2 AND NOT f3 AND f4 THEN 1
                ELSE 0 END) AS BIGINT) AS uniq_3,
              CAST(sum(CASE WHEN f1 AND f2 AND f3 AND NOT f4 THEN 1
                ELSE 0 END) AS BIGINT) AS uniq_4,
              CAST(sum(CASE WHEN f2 AND f3 AND f4 THEN 1 ELSE 0 END)
                AS BIGINT) AS loo_1,
              CAST(sum(CASE WHEN f1 AND f3 AND f4 THEN 1 ELSE 0 END)
                AS BIGINT) AS loo_2,
              CAST(sum(CASE WHEN f1 AND f2 AND f4 THEN 1 ELSE 0 END)
                AS BIGINT) AS loo_3,
              CAST(sum(CASE WHEN f1 AND f2 AND f3 THEN 1 ELSE 0 END)
                AS BIGINT) AS loo_4
            FROM fl)
          SELECT 'dsir' AS gate, fail_3 AS n_fail, uniq_3 AS
            n_unique_fail, loo_3 AS n_kept_without, n_docs, n_kept FROM a
          UNION ALL SELECT 'exact', fail_1, uniq_1, loo_1, n_docs,
            n_kept FROM a
          UNION ALL SELECT 'length', fail_4, uniq_4, loo_4, n_docs,
            n_kept FROM a
          UNION ALL SELECT 'semdedup', fail_2, uniq_2, loo_2, n_docs,
            n_kept FROM a
          ORDER BY gate NULLS FIRST"""
    })

  // ---- q_win_percent ----------------------------------------------------

  /** Relative-position window pair (q_win_percent): percent_rank and
    * cume_dist of every event's value within its type — the two
    * standard relative-rank functions completing the T2 window surface
    * (rank/lag/running/sliding/ntile/first-last/range-frame already
    * covered). Ordering key (value, event_id) is total, so both
    * engines assign identical positions; the per-row doubles are exact
    * rational k/n in both engines and compare raw. */
  val qWinPercent = Q(
    "q_win_percent",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value"), col("event_id"))
      ev(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_id"), col("event_type"),
          round(percent_rank().over(w), 6).as("pr"),
          round(cume_dist().over(w), 6).as("cd"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id, event_type,
              round(percent_rank() OVER w, 6) AS pr,
              round(cume_dist() OVER w, 6) AS cd
            FROM events
            WHERE event_type IN ('click', 'purchase')
            WINDOW w AS (PARTITION BY event_type
                         ORDER BY value, event_id)
            ORDER BY event_id NULLS FIRST"""))

  // ---- q_join_skew_census -----------------------------------------------

  /** Join-key skew census (q_join_skew_census): the distribution of
    * per-key multiplicities on lineitem's join key — the table a
    * planner (or the q_join_salted / q_join_skew_aqe decision rule)
    * reads BEFORE choosing a strategy for a 100 TB join. Two hash
    * aggregates: per-key counts, then count-of-counts statistics; the
    * exact percentile runs over the multiplicity DOMAIN (≤ 7 for
    * TPC-H-shaped orders), so the aggregation buffer is domain-bounded
    * (the Audit.scala exact-percentile rule). skew_ratio = max/mean
    * is the number that decides salting. */
  val qJoinSkewCensus = Q(
    "q_join_skew_census",
    (s, d) => {
      val perKey = li(s, d).groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("cnt"))
      perKey.agg(
          count(lit(1)).as("n_keys"),
          sum(col("cnt")).as("n_rows"),
          max(col("cnt")).as("max_cnt"),
          expr("percentile(cnt, 0.5)").as("p50"),
          expr("percentile(cnt, 0.99)").as("p99"))
        .select(col("n_keys"), col("n_rows"), col("max_cnt"),
          round(col("p50"), 6).as("p50_cnt"),
          round(col("p99"), 6).as("p99_cnt"),
          round(col("n_rows").cast("double") / col("n_keys"), 6)
            .as("mean_cnt"),
          round(col("max_cnt") * col("n_keys").cast("double") /
            col("n_rows"), 6).as("skew_ratio"))
    },
    Some("""WITH per_key AS (
              SELECT l_orderkey, CAST(count(*) AS BIGINT) AS cnt
              FROM lineitem GROUP BY l_orderkey)
            SELECT count(*) AS n_keys,
              CAST(sum(cnt) AS BIGINT) AS n_rows,
              CAST(max(cnt) AS BIGINT) AS max_cnt,
              round(quantile_cont(cnt, 0.5), 6) AS p50_cnt,
              round(quantile_cont(cnt, 0.99), 6) AS p99_cnt,
              round(CAST(sum(cnt) AS DOUBLE) / count(*), 6) AS mean_cnt,
              round(max(cnt) * CAST(count(*) AS DOUBLE) / sum(cnt), 6)
                AS skew_ratio
            FROM per_key"""))

  // ---- q_split_leakage --------------------------------------------------

  /** Dedup-aware split audit (q_split_leakage): assign every document
    * to train/val/test by a deterministic portable hash of its id
    * (90/5/5), then count the verified NEAR-DUP pairs that cross split
    * boundaries — the leakage a random split silently ships when the
    * corpus still holds near-duplicates (the C4/Pile eval-
    * contamination lesson: a test doc whose twin sits in train is a
    * memorization freebie). Reuses the registered near-pair program
    * verbatim (q_dedup_near's banded candidates + exact-Jaccard
    * verify), so the leakage matrix is an oracle-checked composition
    * of an already-verified operator; split labels are pure per-row
    * hash arithmetic — no extra scan, no join back to the corpus.
    * Output: the 3×3 upper-triangle pair matrix, cross-split rows
    * flagged leaky. */
  val qSplitLeakage = Q(
    "q_split_leakage",
    (s, d) => {
      def splitOf(name: String) = {
        val b = expr("CAST(conv(substring(md5(CAST(CAST(" + name +
          " AS STRING) AS BINARY)), 1, 4), 16, 10) AS BIGINT) % 100")
        when(b < 90, "train").when(b < 95, "val").otherwise("test")
      }
      Dedup.nearPairs(s, d)
        .select(splitOf("a_id").as("split_lo_raw"),
          splitOf("b_id").as("split_hi_raw"))
        .select(least(col("split_lo_raw"), col("split_hi_raw"))
            .as("split_a"),
          greatest(col("split_lo_raw"), col("split_hi_raw"))
            .as("split_b"))
        .groupBy(col("split_a"), col("split_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("leaky", (col("split_a") =!= col("split_b"))
          .cast("long"))
        .orderBy(col("split_a"), col("split_b"))
    },
    Dedup.qDedupNear.oracle.map { nearSql =>
      val inner = graft.Oracle.stripOrderBy(nearSql)
      s"""WITH np AS ($inner),
          lab AS (
            SELECT
              CASE WHEN CAST('0x' || substr(md5(CAST(a_id AS VARCHAR)),
                  1, 4) AS BIGINT) % 100 < 90 THEN 'train'
                WHEN CAST('0x' || substr(md5(CAST(a_id AS VARCHAR)),
                  1, 4) AS BIGINT) % 100 < 95 THEN 'val'
                ELSE 'test' END AS sa,
              CASE WHEN CAST('0x' || substr(md5(CAST(b_id AS VARCHAR)),
                  1, 4) AS BIGINT) % 100 < 90 THEN 'train'
                WHEN CAST('0x' || substr(md5(CAST(b_id AS VARCHAR)),
                  1, 4) AS BIGINT) % 100 < 95 THEN 'val'
                ELSE 'test' END AS sb
            FROM np)
          SELECT least(sa, sb) AS split_a, greatest(sa, sb) AS split_b,
            count(*) AS n_pairs,
            CAST(CASE WHEN least(sa, sb) <> greatest(sa, sb) THEN 1
              ELSE 0 END AS BIGINT) AS leaky
          FROM lab
          GROUP BY least(sa, sb), greatest(sa, sb)
          ORDER BY split_a NULLS FIRST, split_b NULLS FIRST"""
    })

  // ---- q_quality_kappa --------------------------------------------------

  /** Inter-gate agreement (q_quality_kappa): Cohen's kappa between the
    * two independent quality raters the funnel runs — the Gopher rule
    * set and the distilled naive-Bayes classifier — from their 2×2
    * confusion counts. Raw agreement (po) overstates concordance when
    * both gates pass almost everything; kappa subtracts the
    * chance-agreement floor (pe), which is exactly the question a
    * pipeline owner asks before dropping one of two redundant filters.
    * Composes the registered q_quality_classify output verbatim (it
    * already carries both verdicts per doc); the whole operator is one
    * global 5-sum aggregate over integer flags — double math enters
    * only in the final closed-form kappa. */
  val qQualityKappa = Q(
    "q_quality_kappa",
    (s, d) => {
      val flags = Learn.qualityScores(s, d)
        .select(col("gopher_pass").cast("long").as("g"),
          col("nb_keep").cast("long").as("c"))
      val n = col("n").cast("double")
      val po = (col("both_keep") + col("both_drop")) / n
      val pe = ((col("both_keep") + col("gopher_only")) *
          (col("both_keep") + col("nb_only")) +
        (col("nb_only") + col("both_drop")) *
          (col("gopher_only") + col("both_drop"))) / (n * n)
      flags.agg(
          count(lit(1)).as("n"),
          sum(col("g") * col("c")).as("both_keep"),
          sum(col("g") * (lit(1) - col("c"))).as("gopher_only"),
          sum((lit(1) - col("g")) * col("c")).as("nb_only"),
          sum((lit(1) - col("g")) * (lit(1) - col("c")))
            .as("both_drop"))
        .select(col("n"), col("both_keep"), col("gopher_only"),
          col("nb_only"), col("both_drop"),
          round(po, 6).as("po"), round(pe, 6).as("pe"),
          round((po - pe) / (lit(1.0) - pe), 6).as("kappa"))
    },
    Learn.qQualityClassify.oracle.map { qcSql =>
      val inner = graft.Oracle.stripOrderBy(qcSql)
      s"""WITH qc AS ($inner),
          flags AS (
            SELECT CAST(gopher_pass AS BIGINT) AS g,
              CAST(nb_keep AS BIGINT) AS c
            FROM qc),
          cm AS (
            SELECT count(*) AS n,
              CAST(sum(g * c) AS BIGINT) AS both_keep,
              CAST(sum(g * (1 - c)) AS BIGINT) AS gopher_only,
              CAST(sum((1 - g) * c) AS BIGINT) AS nb_only,
              CAST(sum((1 - g) * (1 - c)) AS BIGINT) AS both_drop
            FROM flags)
          SELECT n, both_keep, gopher_only, nb_only, both_drop,
            round((both_keep + both_drop) / CAST(n AS DOUBLE), 6) AS po,
            round(((both_keep + gopher_only) * (both_keep + nb_only)
              + (nb_only + both_drop) * (gopher_only + both_drop))
              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS pe,
            round(((both_keep + both_drop) / CAST(n AS DOUBLE)
              - ((both_keep + gopher_only) * (both_keep + nb_only)
                + (nb_only + both_drop) * (gopher_only + both_drop))
                / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
              / (1.0e0 - ((both_keep + gopher_only) * (both_keep + nb_only)
                + (nb_only + both_drop) * (gopher_only + both_drop))
                / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 6) AS kappa
          FROM cm"""
    })

  // ---- q_text_langmix ---------------------------------------------------

  /** Mixed-language detection (q_text_langmix): per document, the TOP
    * TWO language-profile overlaps from q_text_langid's stopword-
    * profile method and the margin between them — the confidence
    * signal that separates a clean single-language page from the
    * code-switched / boilerplate-dominated ones a multilingual corpus
    * must route differently. margin ≤ 1 flags the doc mixed. The
    * per-doc window ranks ≤ #languages rows per doc (literal-bounded);
    * the profile build is the registered langid's (top-10 tokens per
    * language, broadcast). */
  val qTextLangmix = Q(
    "q_text_langmix",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ex = docs(s, d)
        .select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("token"))
      val wProf = Window.partitionBy(col("plang"))
        .orderBy(col("cnt").desc, col("token"))
      val profile = ex
        .groupBy(col("lang").as("plang"), col("token"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(wProf))
        .filter(col("rn") <= 10)
        .select(col("plang"), col("token"))
      val overlap = ex.select(col("doc_id"), col("lang"), col("token"))
        .distinct()
        .join(broadcast(profile), "token")
        .groupBy(col("doc_id"), col("lang"), col("plang"))
        .agg(count(lit(1)).as("ov"))
      val wDoc = Window.partitionBy(col("doc_id"))
        .orderBy(col("ov").desc, col("plang"))
      overlap
        .withColumn("rn", row_number().over(wDoc))
        .filter(col("rn") <= 2)
        .groupBy(col("doc_id"), col("lang"))
        .agg(
          max(when(col("rn") === 1, col("plang"))).as("top1"),
          max(when(col("rn") === 1, col("ov"))).as("ov1"),
          max(when(col("rn") === 2, col("plang"))).as("top2"),
          coalesce(max(when(col("rn") === 2, col("ov"))), lit(0L))
            .as("ov2"))
        .select(col("doc_id"), col("lang"), col("top1"), col("ov1"),
          col("top2"), col("ov2"),
          (col("ov1") - col("ov2")).as("margin"),
          (col("ov1") - col("ov2") <= 1).cast("long").as("mixed"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH ex AS (
              SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
              FROM documents),
            profile AS (
              SELECT plang, token FROM (
                SELECT lang AS plang, token, count(*) AS cnt,
                  row_number() OVER (PARTITION BY lang
                    ORDER BY count(*) DESC, token) AS rn
                FROM ex GROUP BY lang, token)
              WHERE rn <= 10),
            overlap AS (
              SELECT e.doc_id, e.lang, p.plang,
                CAST(count(*) AS BIGINT) AS ov
              FROM (SELECT DISTINCT doc_id, lang, token FROM ex) e
              JOIN profile p USING (token)
              GROUP BY e.doc_id, e.lang, p.plang),
            ranked AS (
              SELECT doc_id, lang, plang, ov,
                row_number() OVER (PARTITION BY doc_id
                  ORDER BY ov DESC, plang) AS rn
              FROM overlap)
            SELECT doc_id, lang,
              max(CASE WHEN rn = 1 THEN plang END) AS top1,
              max(CASE WHEN rn = 1 THEN ov END) AS ov1,
              max(CASE WHEN rn = 2 THEN plang END) AS top2,
              coalesce(max(CASE WHEN rn = 2 THEN ov END), 0) AS ov2,
              max(CASE WHEN rn = 1 THEN ov END)
                - coalesce(max(CASE WHEN rn = 2 THEN ov END), 0)
                AS margin,
              CAST(CASE WHEN max(CASE WHEN rn = 1 THEN ov END)
                - coalesce(max(CASE WHEN rn = 2 THEN ov END), 0) <= 1
                THEN 1 ELSE 0 END AS BIGINT) AS mixed
            FROM ranked
            WHERE rn <= 2
            GROUP BY doc_id, lang
            ORDER BY doc_id NULLS FIRST"""))

  // ---- q_sample_coreset -------------------------------------------------

  /** k-center coreset selection (q_sample_coreset): greedy farthest-
    * point sampling over the embedding table — the data-pruning method
    * that keeps the most GEOMETRICALLY SPREAD k examples (a 2-approx
    * of the k-center cover), versus the density-blind random sample.
    * Seed = min vec_id; each of 7 rounds adds the vector farthest from
    * the chosen set and reports the SQUARED coverage distance it
    * closed (radius_sq — the monotone argmax key; callers wanting the
    * metric radius take the square root). Fully
    * lazy plan: the running min-distance column updates by ONE
    * crossJoin against the (1-row, broadcast) newest center per round
    * — never a k-way distance recompute — with a lazy checkpoint per
    * round cutting the plan pyramid (the q_graph_kcore lesson); the
    * argmax is TakeOrderedAndProject on MICRO-QUANTIZED distances, so
    * both engines pick identical centers (ulp-independent ties).
    * Distances via the native codegen'd float_dot
    * (‖a‖² + ‖b‖² − 2a·b). The oracle unrolls the identical 7 rounds. */
  val qSampleCoreset = Q(
    "q_sample_coreset",
    (s, d) => {
      val sq = Tables.t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"),
          expr("float_dot(embedding, embedding)").as("n2"))
      val c0 = sq.orderBy(col("vec_id")).limit(1)
      def distTo(center: DataFrame)(df: DataFrame): DataFrame =
        df.crossJoin(broadcast(center
            .select(col("embedding").as("ce"), col("n2").as("cn2"))))
          .withColumn("dq2", floor((col("n2") + col("cn2") -
              lit(2.0) * expr("float_dot(embedding, ce)")) * 1e6 + 0.5)
            .cast("long"))
      var mind = distTo(c0)(sq)
        .select(col("vec_id"), col("embedding"), col("n2"),
          col("dq2").as("dq"))
        .localCheckpoint(false)
      var out = c0.select(lit(0L).as("round"),
        col("vec_id").as("center_id"),
        lit(null).cast("double").as("radius_sq"))
      for (r <- 1 to 7) {
        val sel = mind.orderBy(col("dq").desc, col("vec_id")).limit(1)
        out = out.unionAll(sel.select(lit(r.toLong).as("round"),
          col("vec_id").as("center_id"),
          round(col("dq") / 1e6, 6).as("radius_sq")))
        val cFull = sel.select(col("vec_id").as("cid"))
          .join(sq, col("cid") === sq("vec_id"))
        mind = distTo(cFull)(mind)
          .select(col("vec_id"), col("embedding"), col("n2"),
            least(col("dq"), col("dq2")).as("dq"))
          .localCheckpoint(false)
      }
      out.orderBy(col("round"))
    },
    Some {
      def roundSql(r: Int): String =
        s"""p$r AS (SELECT vec_id, dq FROM m${r - 1}
                    ORDER BY dq DESC, vec_id LIMIT 1),
            c$r AS (SELECT s.vec_id, s.v, s.n2 FROM sq s
                    JOIN p$r USING (vec_id)),
            m$r AS (
              SELECT s.vec_id, s.v, s.n2,
                least(s.dq, CAST(floor((s.n2 + c.n2
                  - 2.0e0 * list_dot_product(s.v, c.v)) * 1e6 + 0.5)
                  AS BIGINT)) AS dq
              FROM m${r - 1} s, c$r c)"""
      s"""WITH sq AS (
            SELECT vec_id,
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
              list_dot_product(
                list_transform(embedding, x -> CAST(x AS DOUBLE)),
                list_transform(embedding, x -> CAST(x AS DOUBLE))) AS n2
            FROM embeddings),
          c0 AS (SELECT vec_id, v, n2 FROM sq ORDER BY vec_id LIMIT 1),
          m0 AS (
            SELECT s.vec_id, s.v, s.n2,
              CAST(floor((s.n2 + c.n2
                - 2.0e0 * list_dot_product(s.v, c.v)) * 1e6 + 0.5)
                AS BIGINT) AS dq
            FROM sq s, c0 c),
          ${(1 to 7).map(roundSql).mkString(",\n")}
          SELECT CAST(0 AS BIGINT) AS round, vec_id AS center_id,
            CAST(NULL AS DOUBLE) AS radius_sq FROM c0
          ${(1 to 7).map(r =>
            s"UNION ALL SELECT $r, vec_id, round(dq / 1e6, 6) FROM p$r")
            .mkString("\n")}
          ORDER BY round NULLS FIRST"""
    })

  // ---- q_embed_norms ----------------------------------------------------

  /** Embedding-space health census (q_embed_norms): per label, the
    * vector-norm statistics an ANN index build checks BEFORE trusting
    * cosine geometry — count, mean norm, min/max, zero vectors
    * (cosine-undefined: they poison normalization) and large outliers
    * (norm > 2× the label mean — norm disparity that breaks
    * dot-for-cosine shortcuts). Norms come from the native codegen'd
    * float_dot (one pass, no explode); each norm micro-quantizes to an
    * exact BIGINT before any aggregation, so every statistic is an
    * exact integer sum and the two-pass mean-then-flag composition is
    * engine-deterministic (broadcast 1-row-per-label means, the RFM
    * cuts discipline). */
  val qEmbedNorms = Q(
    "q_embed_norms",
    (s, d) => {
      val nq = Tables.t(s, d, "embeddings")
        .select(col("label"),
          floor(sqrt(expr("float_dot(embedding, embedding)")) * 1e6
            + 0.5).cast("long").as("nq"))
      val means = nq.groupBy(col("label").as("ml"))
        .agg((sum(col("nq")) / count(lit(1))).as("mean_nq"))
      nq.join(broadcast(means), col("label") === col("ml"))
        .groupBy(col("label"))
        .agg(
          count(lit(1)).as("n_vecs"),
          round(max(col("mean_nq")) / 1e6, 6).as("mean_norm"),
          round(min(col("nq")) / 1e6, 6).as("min_norm"),
          round(max(col("nq")) / 1e6, 6).as("max_norm"),
          sum(when(col("nq") === 0, 1L).otherwise(0L)).as("n_zero"),
          sum(when(col("nq") > lit(2.0) * col("mean_nq"), 1L)
            .otherwise(0L)).as("n_outlier"))
        .orderBy(col("label"))
    },
    Some("""WITH nq AS (
              SELECT label,
                CAST(floor(sqrt(list_dot_product(
                  list_transform(embedding, x -> CAST(x AS DOUBLE)),
                  list_transform(embedding, x -> CAST(x AS DOUBLE))))
                  * 1e6 + 0.5) AS BIGINT) AS nq
              FROM embeddings),
            means AS (
              SELECT label AS ml, sum(nq) / count(*) AS mean_nq
              FROM nq GROUP BY label)
            SELECT label,
              count(*) AS n_vecs,
              round(max(mean_nq) / 1e6, 6) AS mean_norm,
              round(min(nq) / 1e6, 6) AS min_norm,
              round(max(nq) / 1e6, 6) AS max_norm,
              CAST(sum(CASE WHEN nq = 0 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_zero,
              CAST(sum(CASE WHEN nq > 2.0e0 * mean_nq THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outlier
            FROM nq JOIN means ON label = ml
            GROUP BY label
            ORDER BY label NULLS FIRST"""))

  // ---- q_stats_benford --------------------------------------------------

  /** Benford first-digit audit (q_stats_benford): observed vs expected
    * leading-digit distribution of extended prices with the chi-square
    * distance — the classic synthetic-data / fraud smell test a data
    * QA pass runs over any money-like column. First digit extracted by
    * integer arithmetic (value → cents BIGINT → leading digit via
    * repeated division, branch-free with log-free floor(c/10^floor())
    * avoided: a 19-step CASE is exact at any magnitude); observed
    * counts are exact, expectations are the closed-form log10(1+1/d),
    * and the chi-square statistic assembles from the 9-row table. */
  /** Exact leading digit of a positive BIGINT column as a FLAT
    * range-CASE (a folded conditional nests the expression tree
    * 2^18-fold — OOM; double log10/pow hits DuckDB's rounding BIGINT
    * cast). `intDiv` is "div" for Spark, "//" for DuckDB. */
  private[graft] def leadingDigitSql(c: String, intDiv: String): String =
    s"CASE WHEN $c < 10 THEN $c " +
      (1 to 18).map(p =>
        s"WHEN $c < ${BigInt(10).pow(p + 1)} " +
          s"THEN $c $intDiv ${BigInt(10).pow(p)}").mkString(" ") + " END"

  val qStatsBenford = Q(
    "q_stats_benford",
    (s, d) => {
      val firstDigit = expr(leadingDigitSql("c", "div"))
      val base = li(s, d)
        .select(floor(col("l_extendedprice") * 100 + 0.5).cast("long")
          .as("c"))
        .filter(col("c") > 0)
        .select(firstDigit.as("d"))
      val obs = base.groupBy(col("d")).agg(count(lit(1)).as("n"))
      val tot = obs.agg(sum(col("n")).as("total"))
      obs.crossJoin(broadcast(tot))
        .select(col("d"), col("n"),
          round(col("n").cast("double") / col("total"), 6).as("obs_p"),
          round(log10(lit(1.0) + lit(1.0) / col("d")), 6).as("exp_p"),
          round(pow(col("n").cast("double") / col("total") -
              log10(lit(1.0) + lit(1.0) / col("d")), 2) /
            log10(lit(1.0) + lit(1.0) / col("d")), 6).as("chi_term"))
        .orderBy(col("d"))
    },
    Some {
      s"""WITH base AS (
              SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                AS c
              FROM lineitem
              WHERE floor(l_extendedprice * 100 + 0.5) > 0),
            dig AS (
              SELECT ${leadingDigitSql("c", "//")} AS d
              FROM base),
            obs AS (
              SELECT d, CAST(count(*) AS BIGINT) AS n FROM dig
              GROUP BY d),
            tot AS (SELECT sum(n) AS total FROM obs)
            SELECT d, n,
              round(CAST(n AS DOUBLE) / total, 6) AS obs_p,
              round(log10(1.0e0 + 1.0e0 / d), 6) AS exp_p,
              round(pow(CAST(n AS DOUBLE) / total
                - log10(1.0e0 + 1.0e0 / d), 2)
                / log10(1.0e0 + 1.0e0 / d), 6) AS chi_term
            FROM obs, tot
            ORDER BY d NULLS FIRST"""
    })

  // ---- q_events_entropy_rate --------------------------------------------

  /** Markov entropy rate (q_events_entropy_rate): per-state conditional
    * entropy H(next | prev) of the user event chains, weighted by the
    * state's share of transitions — how PREDICTABLE the event stream
    * is, the information-theoretic companion to q_events_markov's raw
    * transition matrix (whose count tables this reuses shape-for-
    * shape). Transition counts are exact integers; each state's
    * entropy sums ≤ |event-type|² bounded terms and rounds at 6dp (the
    * q_text_entropy discipline). */
  val qEventsEntropyRate = Q(
    "q_events_entropy_rate",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val trans = ev(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("next_type"))
        .withColumn("prev_type", lag(col("next_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("next_type"))
        .agg(count(lit(1)).as("n"))
      // per-state totals and the grand total as UNBOUNDED windows over
      // the k²-bounded transition grid (r15 window-derivation
      // discipline): the old groupBy/agg + join-backs re-derived the
      // grid, whose lineage is the corpus-wide lag window — three fact
      // scans for two scalars the grid already held. Both windows ride
      // type-domain-bounded inputs (k² rows, then k rows).
      trans
        .withColumn("total",
          sum(col("n")).over(Window.partitionBy(col("prev_type"))))
        .groupBy(col("prev_type"))
        .agg(max(col("total")).as("n_obs"),
          sum(-col("n").cast("double") / col("total") *
            log(2.0, col("n").cast("double") / col("total")))
            .as("h"))
        .withColumn("g", sum(col("n_obs")).over(Window.partitionBy()))
        .select(col("prev_type"), col("n_obs"),
          round(col("n_obs").cast("double") / col("g"), 6)
            .as("p_state"),
          round(col("h"), 6).as("entropy_bits"),
          round(col("n_obs").cast("double") / col("g") * col("h"), 6)
            .as("weighted_bits"))
        .orderBy(col("prev_type"))
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
              GROUP BY prev_type, next_type),
            totals AS (
              SELECT prev_type AS pt, CAST(sum(n) AS BIGINT) AS total
              FROM trans GROUP BY prev_type),
            grand AS (SELECT sum(total) AS g FROM totals),
            hs AS (
              SELECT prev_type, max(total) AS n_obs,
                sum(-(CAST(n AS DOUBLE) / total)
                  * log2(CAST(n AS DOUBLE) / total)) AS h
              FROM trans JOIN totals ON prev_type = pt
              GROUP BY prev_type)
            SELECT prev_type, n_obs,
              round(CAST(n_obs AS DOUBLE) / g, 6) AS p_state,
              round(h, 6) AS entropy_bits,
              round(CAST(n_obs AS DOUBLE) / g * h, 6) AS weighted_bits
            FROM hs, grand
            ORDER BY prev_type NULLS FIRST"""))

  // ---- q_agg_tukey ------------------------------------------------------

  /** Tukey five-number fence census (q_agg_tukey): Q1/Q3, the IQR
    * fences (1.5·IQR), and the per-side outlier counts per event type
    * — the box-plot statistic batch QA runs next to the MAD census.
    * Exact interpolated quartiles over integer cents (grid-bounded
    * buffer, the q_agg_percentile idiom), fences derived in one fixed
    * expression, outlier counts from a second aggregate against the
    * broadcast 5-row cut table — zero windows. */
  val qAggTukey = Q(
    "q_agg_tukey",
    (s, d) => {
      val base = ev(s, d).select(col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long").as("c"))
      val cuts = base.groupBy(col("event_type").as("ct"))
        .agg(expr("percentile(c, 0.25)").as("q1"),
          expr("percentile(c, 0.75)").as("q3"))
        .withColumn("lo", col("q1") - (col("q3") - col("q1")) * 1.5)
        .withColumn("hi", col("q3") + (col("q3") - col("q1")) * 1.5)
      base.join(broadcast(cuts), col("event_type") === col("ct"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(max(col("q1")) / 100.0, 6).as("q1"),
          round(max(col("q3")) / 100.0, 6).as("q3"),
          round(max(col("lo")) / 100.0, 6).as("fence_lo"),
          round(max(col("hi")) / 100.0, 6).as("fence_hi"),
          sum(when(col("c") < col("lo"), 1L).otherwise(0L))
            .as("n_below"),
          sum(when(col("c") > col("hi"), 1L).otherwise(0L))
            .as("n_above"))
        .orderBy(col("event_type"))
    },
    Some("""WITH base AS (
              SELECT event_type,
                CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
              FROM events),
            cuts AS (
              SELECT event_type AS ct,
                quantile_cont(c, 0.25) AS q1,
                quantile_cont(c, 0.75) AS q3,
                quantile_cont(c, 0.25)
                  - 1.5 * (quantile_cont(c, 0.75)
                    - quantile_cont(c, 0.25)) AS lo,
                quantile_cont(c, 0.75)
                  + 1.5 * (quantile_cont(c, 0.75)
                    - quantile_cont(c, 0.25)) AS hi
              FROM base GROUP BY event_type)
            SELECT event_type, count(*) AS n,
              round(max(q1) / 100.0e0, 6) AS q1,
              round(max(q3) / 100.0e0, 6) AS q3,
              round(max(lo) / 100.0e0, 6) AS fence_lo,
              round(max(hi) / 100.0e0, 6) AS fence_hi,
              CAST(sum(CASE WHEN c < lo THEN 1 ELSE 0 END) AS BIGINT)
                AS n_below,
              CAST(sum(CASE WHEN c > hi THEN 1 ELSE 0 END) AS BIGINT)
                AS n_above
            FROM base JOIN cuts ON event_type = ct
            GROUP BY event_type
            ORDER BY event_type NULLS FIRST"""))

  // ---- q_agg_weighted_median --------------------------------------------

  /** Weighted median (q_agg_weighted_median): the quantity-weighted
    * median unit price per return flag — the weighted order statistic
    * built-in aggregates don't offer. Computed on the per-(flag,
    * dollar) WEIGHT-SUM table with a TWO-LEVEL cumulative: a ~110-row
    * 1000-dollar cell census locates the median's cell (bounded
    * window), then the exact prefix sum re-runs over only that cell's
    * ≤1000 grid rows — never a ~1e5-row-per-flag serial window sort.
    * The pick rule is pure integer comparison (2·cum ≥ total — no
    * total/2 float, no rounding divergence). One fact-table
    * aggregate + bounded windows + one 3-row rollup. */
  val qAggWeightedMedian = Q(
    "q_agg_weighted_median",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      // Two-level cumulative (the q_agg_equidepth census discipline):
      // the old form ran the per-flag prefix sum directly over the
      // ~1e5-row-per-flag dollar grid — a 3-5-task window whose sort
      // is a fact-sized serial bottleneck at scale. Level 1 rolls the
      // grid to ~110 1000-dollar CELLS per flag, prefix-sums those
      // (bounded window), and locates the single cell containing the
      // weighted median; level 2 re-runs the exact cumulative over
      // ONLY that cell's ≤1000 grid rows, offset by the cell prefix.
      // Pure integer comparisons throughout — values identical to the
      // one-window oracle shape.
      val grid = li(s, d)
        .select(col("l_returnflag").as("rf"),
          floor(col("l_extendedprice") + 0.5).cast("long").as("dollars"),
          col("l_quantity").cast("long").as("w"))
        .groupBy(col("rf"), col("dollars"))
        .agg(sum(col("w")).as("wsum"))
        // integer div, not double-divide-and-cast: the cell key must
        // agree exactly with the level-2 join at ANY dollar magnitude,
        // not just magnitudes where the double quotient is exact
        .withColumn("cell", expr("dollars div 1000"))
        // r17: TWO consumers (the cell census and the level-2 detail
        // join) — un-cut, each re-ran the fact aggregate, so the query
        // paid two lineitem scans. The grid is DOMAIN-bounded (flags ×
        // distinct dollars, ~267k rows at sf0.1 and capped at the
        // price domain at any corpus size), so one checkpoint makes
        // the whole query a single fact pass + grid algebra.
        .localCheckpoint()
      val cells = grid.groupBy(col("rf"), col("cell"))
        .agg(sum(col("wsum")).as("cw"))
        .withColumn("off",
          sum(col("cw")).over(Window.partitionBy(col("rf"))
            .orderBy(col("cell"))
            .rowsBetween(Window.unboundedPreceding, 0)) - col("cw"))
        .withColumn("total", sum(col("cw")).over(
          Window.partitionBy(col("rf")).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)))
      val targetCell = cells
        .filter((col("off") + col("cw")) * 2 >= col("total"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("rf")).orderBy(col("cell"))))
        .filter(col("rk") === 1)
        .select(col("rf").as("trf"), col("cell").as("tcell"),
          col("off"), col("total"))
      grid
        .join(broadcast(targetCell),
          col("rf") === col("trf") && col("cell") === col("tcell"))
        .withColumn("cum", col("off") +
          sum(col("wsum")).over(Window.partitionBy(col("rf"))
            .orderBy(col("dollars"))
            .rowsBetween(Window.unboundedPreceding, 0)))
        .filter(col("cum") * 2 >= col("total"))
        .groupBy(col("rf"))
        .agg(min(col("dollars")).as("wmedian_dollars"),
          max(col("total")).as("total_weight"))
        .select(col("rf").as("l_returnflag"), col("wmedian_dollars"),
          col("total_weight"))
        .orderBy(col("l_returnflag"))
    },
    Some("""WITH grid AS (
              SELECT l_returnflag AS rf,
                CAST(floor(l_extendedprice + 0.5) AS BIGINT) AS dollars,
                CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS wsum
              FROM lineitem
              GROUP BY rf, dollars),
            cum AS (
              SELECT rf, dollars, wsum,
                sum(wsum) OVER (PARTITION BY rf ORDER BY dollars
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS cum,
                sum(wsum) OVER (PARTITION BY rf) AS total
              FROM grid)
            SELECT rf AS l_returnflag,
              CAST(min(dollars) AS BIGINT) AS wmedian_dollars,
              CAST(max(total) AS BIGINT) AS total_weight
            FROM cum
            WHERE cum * 2 >= total
            GROUP BY rf
            ORDER BY l_returnflag NULLS FIRST"""))

  // ---- q_sim_mmr --------------------------------------------------------

  /** Maximal-marginal-relevance re-ranking (q_sim_mmr): the diversity-
    * aware top-5 for the query vector (vec_id 0) — each round picks
    * argmax of λ·rel − (1−λ)·max-sim-to-selected (λ = 0.7), so near-
    * duplicates of an already-picked result are displaced by relevant-
    * but-different ones (the retrieval twin of the dedup tier). Same
    * lazy shape as q_sample_coreset: the running max-similarity column
    * updates by ONE broadcast 1-row crossJoin per round with a lazy
    * checkpoint; every score is micro-quantized to BIGINT before the
    * argmax and the MMR combination is pure integer arithmetic
    * (7·rel − 3·maxsim, the ×10-scaled combination — no division at
    * all: Spark div truncates where DuckDB // floors on negatives), so
    * both engines pick identical results at every round. Cosines via
    * the native float_dot. */
  val qSimMmr = Q(
    "q_sim_mmr",
    (s, d) => {
      val base = Tables.t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"),
          sqrt(expr("float_dot(embedding, embedding)")).as("nrm"))
      val qv = base.filter(col("vec_id") === 0)
        .select(col("embedding").as("qe"), col("nrm").as("qn"))
      val cands = base.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(qv))
        .select(col("vec_id"), col("embedding"), col("nrm"),
          floor(expr("float_dot(embedding, qe)") /
            (col("nrm") * col("qn")) * 1e6 + 0.5).cast("long")
            .as("rel_q"))
      def simTo(center: DataFrame)(df: DataFrame): DataFrame =
        df.crossJoin(broadcast(center
            .select(col("embedding").as("ce"), col("nrm").as("cn"))))
          .withColumn("sim2", floor(expr("float_dot(embedding, ce)") /
            (col("nrm") * col("cn")) * 1e6 + 0.5).cast("long"))
      val mmr = expr("7 * rel_q - 3 * maxsim")
      var pool = cands.withColumn("maxsim", lit(Long.MinValue))
        .localCheckpoint(false)
      var picked: DataFrame = null
      for (r <- 1 to 5) {
        val score = if (r == 1) expr("7 * rel_q") else mmr
        val sel = pool
          .withColumn("mmr_q", score)
          .orderBy(col("mmr_q").desc, col("vec_id")).limit(1)
        val row = sel.select(lit(r.toLong).as("rank"),
          col("vec_id").as("pick_id"),
          round(col("rel_q") / 1e6, 6).as("relevance"),
          when(lit(r) === 1, lit(null).cast("double"))
            .otherwise(round(col("maxsim") / 1e6, 6)).as("max_sim"),
          // RAW quotient: mmr_q is integer tenths-of-micro, so /1e7
          // has 7 decimals and round(x, 6) sits on an exact .5 tie
          // whenever mmr_q % 10 == 5 — Spark HALF_UP and DuckDB's
          // scaled-double round disagree on those (the betweenness
          // lesson). The raw IEEE quotient is bit-identical.
          (col("mmr_q") / 1e7).as("mmr_score"))
        picked = if (picked == null) row else picked.unionAll(row)
        val cFull = sel.select(col("vec_id").as("cid"))
          .join(base, col("cid") === base("vec_id"))
        pool = simTo(cFull)(
            pool.join(sel.select(col("vec_id").as("dropped")),
              col("vec_id") === col("dropped"), "left_anti"))
          .select(col("vec_id"), col("embedding"), col("nrm"),
            col("rel_q"), greatest(col("maxsim"), col("sim2"))
              .as("maxsim"))
          .localCheckpoint(false)
      }
      picked.orderBy(col("rank"))
    },
    Some {
      val cos = (a: String, b: String) =>
        s"CAST(floor(list_dot_product($a.v, $b.v) / ($a.nrm * $b.nrm)" +
          s" * 1e6 + 0.5) AS BIGINT)"
      def roundSql(r: Int): String = {
        val score = if (r == 1) "7 * rel_q" else "7 * rel_q - 3 * maxsim"
        s"""p$r AS (
              SELECT vec_id, rel_q, maxsim, $score AS mmr_q
              FROM m${r - 1}
              ORDER BY $score DESC, vec_id LIMIT 1),
            c$r AS (SELECT s.vec_id, s.v, s.nrm FROM sq s
                    JOIN p$r USING (vec_id)),
            m$r AS (
              SELECT s.vec_id, s.v, s.nrm, s.rel_q,
                greatest(s.maxsim, ${cos("s", "c")}) AS maxsim
              FROM m${r - 1} s, c$r c
              WHERE s.vec_id <> c.vec_id)"""
      }
      s"""WITH e AS (
            SELECT vec_id,
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
          sq AS (
            SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
            FROM e),
          qv AS (SELECT v, nrm FROM sq WHERE vec_id = 0),
          m0 AS (
            SELECT s.vec_id, s.v, s.nrm,
              CAST(floor(list_dot_product(s.v, q.v)
                / (s.nrm * q.nrm) * 1e6 + 0.5) AS BIGINT) AS rel_q,
              CAST(-9223372036854775808 AS BIGINT) AS maxsim
            FROM sq s, qv q WHERE s.vec_id <> 0),
          ${(1 to 5).map(roundSql).mkString(",\n")}
          ${(1 to 5).map { r =>
            val ms = if (r == 1) "CAST(NULL AS DOUBLE)"
              else "round(maxsim / 1e6, 6)"
            s"SELECT CAST($r AS BIGINT) AS rank, vec_id AS pick_id, " +
              s"round(rel_q / 1e6, 6) AS relevance, $ms AS max_sim, " +
              s"mmr_q / 1e7 AS mmr_score FROM p$r"
          }.mkString("\nUNION ALL ")}
          ORDER BY rank NULLS FIRST"""
    })

  // ---- q_cust_pareto ----------------------------------------------------

  /** Revenue concentration (q_cust_pareto): the 80/20 readout next to
    * q_agg_gini's coefficient — what share of revenue the top decile
    * of customers carries, with the decile cut an exact interpolated
    * percentile over per-customer cent totals (broadcast back, zero
    * windows — the RFM cuts discipline; the per-customer aggregation
    * buffer bound is the same one Biz.scala documents). All revenue
    * sums are exact BIGINT cents; the shares divide once at the end. */
  val qCustPareto = Q(
    "q_cust_pareto",
    (s, d) => {
      val perCust = Tables.t(s, d, "orders")
        .select(col("o_custkey"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("rc"))
        .groupBy(col("o_custkey"))
        .agg(sum(col("rc")).as("rev"))
      val cut = perCust.agg(expr("percentile(rev, 0.9)").as("c90"))
      perCust.crossJoin(broadcast(cut))
        .agg(
          count(lit(1)).as("n_cust"),
          sum(col("rev")).as("total_cents"),
          max(col("c90")).as("cut_c90"),
          sum(when(col("rev") >= col("c90"), col("rev"))
            .otherwise(0L)).as("top_cents"),
          sum(when(col("rev") >= col("c90"), 1L).otherwise(0L))
            .as("n_top"))
        .select(col("n_cust"), col("n_top"),
          round(col("cut_c90") / 100.0, 6).as("cut_rev"),
          round(col("total_cents") / lit(100.0), 2).as("total_rev"),
          round(col("top_cents").cast("double") / col("total_cents"), 6)
            .as("top_decile_share"))
    },
    Some("""WITH per_cust AS (
              SELECT o_custkey,
                CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS rev
              FROM orders GROUP BY o_custkey),
            cut AS (SELECT quantile_cont(rev, 0.9) AS c90 FROM per_cust)
            SELECT count(*) AS n_cust,
              CAST(sum(CASE WHEN rev >= c90 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_top,
              round(max(c90) / 100.0e0, 6) AS cut_rev,
              round(sum(rev) / 100.0e0, 2) AS total_rev,
              round(CAST(sum(CASE WHEN rev >= c90 THEN rev ELSE 0 END)
                AS DOUBLE) / sum(rev), 6) AS top_decile_share
            FROM per_cust, cut"""))

  // ---- q_agg_genmeans ---------------------------------------------------

  /** Pythagorean-mean family (q_agg_genmeans): arithmetic, geometric
    * and harmonic means of `value` per event type — the three-way
    * comparison a rate/ratio analysis needs (harmonic for rates,
    * geometric for multiplicative effects; AM ≥ GM ≥ HM is asserted
    * by the spec). Per-row ln(c) and 1/c are fixed doubles over
    * integer cents, quantized (nano / pico) BEFORE their sums, so
    * every aggregate is an exact integer; each mean is one closed
    * double expression at the end, reported in value units. */
  /** Commutative per-type sufficient sums for the mean family —
    * shared with the streaming twin (mergeable in any batch order). */
  private[graft] def genmeansStatsAggs(
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.select(col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long").as("c"))
      .filter(col("c") > 0)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("c")).as("s1"),
        sum(expr(
          "CAST(floor(ln(CAST(c AS DOUBLE)) * 1e9 + 0.5D) AS BIGINT)"))
          .as("sln"),
        sum(expr("CAST(floor(1e12 / c + 0.5D) AS BIGINT)")).as("srec"))

  /** The mean-family finisher over settled sums. */
  private[graft] def genmeansFromStats(
      st: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    st.select(col("event_type"), col("n"),
          round(expr("CAST(s1 AS DOUBLE) / n / 100.0D"), 6)
            .as("mean_arith"),
          round(expr(
            "exp(CAST(sln AS DOUBLE) / 1e9 / n) / 100.0D"), 6)
            .as("mean_geom"),
          round(expr(
            "CAST(n AS DOUBLE) * 1e12 / CAST(srec AS DOUBLE) / 100.0D"),
            6).as("mean_harm"))
        .orderBy(col("event_type"))

  private[graft] val genmeansOracleSql: String = """WITH base AS (
              SELECT event_type,
                CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
              FROM events
              WHERE CAST(floor(value * 100 + 0.5) AS BIGINT) > 0),
            st AS (
              SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(c) AS BIGINT) AS s1,
                CAST(sum(CAST(floor(ln(CAST(c AS DOUBLE)) * 1e9 + 0.5)
                  AS BIGINT)) AS BIGINT) AS sln,
                CAST(sum(CAST(floor(1e12 / c + 0.5) AS BIGINT))
                  AS BIGINT) AS srec
              FROM base GROUP BY event_type)
            SELECT event_type, n,
              round(CAST(s1 AS DOUBLE) / n / 100.0e0, 6) AS mean_arith,
              round(exp(CAST(sln AS DOUBLE) / 1e9 / n) / 100.0e0, 6)
                AS mean_geom,
              round(CAST(n AS DOUBLE) * 1e12 / CAST(srec AS DOUBLE)
                / 100.0e0, 6) AS mean_harm
            FROM st
            ORDER BY event_type NULLS FIRST"""

  val qAggGenmeans = Q(
    "q_agg_genmeans",
    (s, d) => genmeansFromStats(genmeansStatsAggs(ev(s, d))),
    Some(genmeansOracleSql))

  val all: Seq[Q] = Seq(
    qAggTrimmed, qAggSpearman, qAggSkewKurt, qAuditKanon,
    qTextNovelty, qAggKmv, qAggKmvIntersect, qTsHolt, qCurateAblation,
    qWinPercent, qJoinSkewCensus, qSplitLeakage,
    qQualityKappa, qTextLangmix, qEmbedNorms,
    qSampleCoreset, qStatsBenford,
    qCustPareto, qSimMmr, qAggWeightedMedian,
    qAggTukey, qEventsEntropyRate, qAggGenmeans)

  /** DuckDB mirror of the shared link graph (one definition with
    * Insights — referenced, not duplicated). */
  private def undirectedLinkEdgesSqlRef: String =
    Insights.undirectedLinkEdgesSql
}
