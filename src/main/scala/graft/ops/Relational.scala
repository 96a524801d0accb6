package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** T2 capability closure (SURVEY.md §2.2): the relational operator surface
  * every reference transformation decomposes into, expressed over the
  * driver's star schema and checked against the DuckDB oracle.
  *
  * Scale notes (100 TB thinking):
  *  - dims (region/nation/supplier/part at dim-cardinality) are broadcast;
  *  - the range join is pre-binned to an equi-key so it plans as a shuffle
  *    hash/sort-merge join, never BroadcastNestedLoop over the fact table;
  *  - the as-of join is the single-shuffle union+window formulation, not a
  *    join+dedup (no candidate-pair blowup on hot keys);
  *  - aggregates are plain groupBy → two-phase partial/final hash agg.
  */
object Relational {

  private def li(s: SparkSession, d: String) = Tables.t(s, d, "lineitem")
  private def ord(s: SparkSession, d: String) = Tables.t(s, d, "orders")
  private def cust(s: SparkSession, d: String) = Tables.t(s, d, "customer")
  private def ev(s: SparkSession, d: String) = Tables.t(s, d, "events")

  // ---------------------------------------------------------------- scans

  val qScanParquet = Q(
    "q_scan_parquet",
    (s, d) =>
      ord(s, d)
        .select($"o_orderkey", $"o_totalprice")
        .orderBy($"o_orderkey"),
    Some("""SELECT o_orderkey, o_totalprice FROM orders
            ORDER BY o_orderkey NULLS FIRST"""))

  // -------------------------------------------------- projection / filter

  val qProject = Q(
    "q_project",
    (s, d) =>
      li(s, d)
        .select(
          $"l_orderkey", $"l_linenumber",
          ($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("disc_price"),
          ($"l_extendedprice" * (lit(1.0) - $"l_discount") *
            (lit(1.0) + $"l_tax")).as("charge"))
        // (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
        // tie-break on every output column for a total order.
        .orderBy($"l_orderkey", $"l_linenumber", $"disc_price", $"charge"),
    Some("""SELECT l_orderkey, l_linenumber,
              l_extendedprice * (1.0 - l_discount) AS disc_price,
              l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS charge
            FROM lineitem
            ORDER BY l_orderkey NULLS FIRST, l_linenumber NULLS FIRST,
                     disc_price NULLS FIRST, charge NULLS FIRST"""))

  val qFilterPred = Q(
    "q_filter_pred",
    (s, d) =>
      li(s, d)
        .filter(
          $"l_shipdate" >= lit("1996-01-01").cast("timestamp_ntz") &&
          $"l_shipdate" < lit("1999-01-01").cast("timestamp_ntz") &&
          $"l_returnflag".isin("A", "N") &&
          $"l_discount".between(0.03, 0.08) &&
          $"l_quantity".isNotNull)
        .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_discount")
        .orderBy($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_discount"),
    Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_discount
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate <  TIMESTAMP '1999-01-01'
              AND l_returnflag IN ('A','N')
              AND l_discount BETWEEN 0.03 AND 0.08
              AND l_quantity IS NOT NULL
            ORDER BY l_orderkey NULLS FIRST, l_linenumber NULLS FIRST,
                     l_quantity NULLS FIRST, l_discount NULLS FIRST"""))

  // ---------------------------------------------------------------- joins

  val qJoinInner = Q(
    "q_join_inner",
    (s, d) =>
      ord(s, d)
        .join(cust(s, d), $"o_custkey" === $"c_custkey", "inner")
        .select($"o_orderkey", $"c_custkey", $"c_name", $"o_totalprice")
        .orderBy($"o_orderkey"),
    Some("""SELECT o_orderkey, c_custkey, c_name, o_totalprice
            FROM orders JOIN customer ON o_custkey = c_custkey
            ORDER BY o_orderkey NULLS FIRST"""))

  /** Star-join through three broadcast dims; at 100 TB the fact side streams
    * through three broadcast hash joins with zero shuffle before the agg. */
  val qJoinBroadcast = Q(
    "q_join_broadcast",
    (s, d) => {
      val supplier = Tables.t(s, d, "supplier")
      val nation = Tables.t(s, d, "nation")
      val region = Tables.t(s, d, "region")
      li(s, d)
        .join(broadcast(supplier), $"l_suppkey" === $"s_suppkey")
        .join(broadcast(nation), $"s_nationkey" === $"n_nationkey")
        .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name")
        .agg(
          count(lit(1)).as("n_items"),
          (Mart.centSum($"l_extendedprice" * (lit(1.0) - $"l_discount")) /
            100.0).as("revenue"))
        .orderBy($"r_name")
    },
    Some("""SELECT r_name, count(*) AS n_items,
              CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount)
                * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0e0 AS revenue
            FROM lineitem
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation   ON s_nationkey = n_nationkey
              JOIN region   ON n_regionkey = r_regionkey
            GROUP BY r_name
            ORDER BY r_name NULLS FIRST"""))

  val qJoinLeft = Q(
    "q_join_left",
    (s, d) =>
      cust(s, d)
        .join(ord(s, d), $"c_custkey" === $"o_custkey", "left")
        .groupBy($"c_custkey", $"c_name")
        .agg(
          count($"o_orderkey").cast("long").as("n_orders"),
          coalesce(round(sum($"o_totalprice"), 2), lit(0.0)).as("total_spend"))
        .orderBy($"c_custkey"),
    Some("""SELECT c_custkey, c_name,
              CAST(count(o_orderkey) AS BIGINT) AS n_orders,
              coalesce(round(sum(o_totalprice), 2), 0.0) AS total_spend
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey, c_name
            ORDER BY c_custkey NULLS FIRST"""))

  val qJoinSemi = Q(
    "q_join_semi",
    (s, d) =>
      cust(s, d)
        .join(
          ord(s, d).filter($"o_orderstatus" === "F"),
          $"c_custkey" === $"o_custkey", "left_semi")
        .select($"c_custkey", $"c_name")
        .orderBy($"c_custkey"),
    Some("""SELECT c_custkey, c_name FROM customer
            WHERE EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
            ORDER BY c_custkey NULLS FIRST"""))

  /** Reconciliation shape (lost events, md:236): customers with no
    * high-value order — the filtered right side keeps the result
    * non-trivial at every scale factor. */
  val qJoinAnti = Q(
    "q_join_anti",
    (s, d) =>
      cust(s, d)
        .join(ord(s, d).filter($"o_totalprice" > 300000.0),
          $"c_custkey" === $"o_custkey", "left_anti")
        .select($"c_custkey", $"c_name", $"c_acctbal")
        .orderBy($"c_custkey"),
    Some("""SELECT c_custkey, c_name, c_acctbal FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_totalprice > 300000.0)
            ORDER BY c_custkey NULLS FIRST"""))

  /** Interval join (sensor ts BETWEEN run start AND finish — SURVEY §2.1
    * q_runlog_enrich shape). Scale path: pre-bin both sides to a 14-day
    * equi-key so the planner gets a hash join; a run window (14 days) spans
    * ≤ 2 bins, so the run side explodes into ≤ 2 rows — NOT a
    * BroadcastNestedLoopJoin over the fact table (SURVEY §4.2). */
  val qJoinRange = Q(
    "q_join_range",
    (s, d) => {
      val binDays = 14
      val runs = ord(s, d)
        .filter($"o_orderkey" % 100 === 0)
        .select(
          $"o_orderkey".as("run_id"),
          $"o_orderdate".as("start_ts"),
          ($"o_orderdate" + expr("INTERVAL 14 DAYS")).as("end_ts"))
      val runBins = runs.withColumn(
        "bin",
        explode(sequence(
          floor(datediff($"start_ts", lit("1970-01-01").cast("date"))
            / binDays).cast("long"),
          floor(datediff($"end_ts", lit("1970-01-01").cast("date"))
            / binDays).cast("long"))))
      val items = li(s, d).withColumn(
        "bin",
        floor(datediff($"l_shipdate", lit("1970-01-01").cast("date"))
          / binDays).cast("long"))
      items
        .join(runBins, Seq("bin"))
        .filter($"l_shipdate" >= $"start_ts" && $"l_shipdate" <= $"end_ts")
        .groupBy($"run_id")
        .agg(
          count(lit(1)).as("n_in_window"),
          round(sum($"l_quantity"), 2).as("qty_in_window"))
        .orderBy($"run_id")
    },
    Some("""SELECT r.run_id, count(*) AS n_in_window,
              round(sum(l.l_quantity), 2) AS qty_in_window
            FROM (SELECT o_orderkey AS run_id, o_orderdate AS start_ts,
                         o_orderdate + INTERVAL 14 DAY AS end_ts
                  FROM orders WHERE o_orderkey % 100 = 0) r
            JOIN lineitem l
              ON l.l_shipdate >= r.start_ts AND l.l_shipdate <= r.end_ts
            GROUP BY r.run_id
            ORDER BY r.run_id NULLS FIRST"""))

  /** As-of join: for each error event, the latest click by the same user at
    * or before it. Single-shuffle formulation: union both row kinds, one
    * window pass carrying the last click ts forward — no join, no
    * candidate-pair blowup on hot users (SURVEY §4.3 hard part 2). */
  val qJoinAsof = Q(
    "q_join_asof",
    (s, d) => {
      val e = ev(s, d)
      val tagged = e
        .filter($"event_type".isin("error", "click"))
        .select($"event_id", $"user_id", $"ts", $"event_type")
      // clicks sort before errors at equal ts ('click' < 'error'), so
      // the backward frame sees a same-timestamp click — matching the
      // oracle's inclusive c.ts <= e.ts branch on ties
      val w = Window
        .partitionBy($"user_id")
        .orderBy($"ts", $"event_type", $"event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tagged
        .withColumn(
          "last_click_ts",
          last(when($"event_type" === "click", $"ts"), ignoreNulls = true)
            .over(w))
        .filter($"event_type" === "error")
        .select($"event_id", $"user_id", $"last_click_ts")
        .orderBy($"event_id")
    },
    Some("""SELECT e.event_id, e.user_id, max(c.ts) AS last_click_ts
            FROM (SELECT * FROM events WHERE event_type = 'error') e
            LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
              ON c.user_id = e.user_id AND c.ts <= e.ts
            GROUP BY e.event_id, e.user_id
            ORDER BY e.event_id NULLS FIRST"""))

  /** Forward as-of join (q_join_asof_forward): for each error event,
    * the EARLIEST click by the same user at or after it — the other
    * direction of the merge-asof family (backward = q_join_asof,
    * forward = this; together they bracket an incident with its
    * preceding and following user action). Same single-shuffle
    * union+window formulation, mirrored: the frame looks forward and
    * `first` picks the next click. */
  val qJoinAsofForward = Q(
    "q_join_asof_forward",
    (s, d) => {
      val e = ev(s, d)
      val tagged = e
        .filter($"event_type".isin("error", "click"))
        .select($"event_id", $"user_id", $"ts", $"event_type")
      // errors sort before clicks at equal ts (event_type DESC), so the
      // forward frame sees a same-timestamp click — matching the
      // oracle's inclusive c.ts >= e.ts branch on ties
      val w = Window
        .partitionBy($"user_id")
        .orderBy($"ts", $"event_type".desc, $"event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      tagged
        .withColumn(
          "next_click_ts",
          first(when($"event_type" === "click", $"ts"), ignoreNulls = true)
            .over(w))
        .filter($"event_type" === "error")
        .select($"event_id", $"user_id", $"next_click_ts")
        .orderBy($"event_id")
    },
    Some("""SELECT e.event_id, e.user_id, min(c.ts) AS next_click_ts
            FROM (SELECT * FROM events WHERE event_type = 'error') e
            LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
              ON c.user_id = e.user_id AND c.ts >= e.ts
            GROUP BY e.event_id, e.user_id
            ORDER BY e.event_id NULLS FIRST"""))

  /** Nearest as-of join (q_join_asof_nearest): pandas merge_asof's
    * third direction — for each error, the click by the same user
    * closest in time on EITHER side, ties to the earlier (backward)
    * match. One tagged union, one shuffle on user_id, and BOTH frame
    * directions over the same sorted partition (the backward `last`
    * and forward `first` share the sort, so the second window adds no
    * exchange); the pick is a scan-local microsecond comparison. The
    * emitted direction column makes the bracketing auditable. */
  val qJoinAsofNearest = Q(
    "q_join_asof_nearest",
    (s, d) => {
      val e = ev(s, d)
      val tagged = e
        .filter($"event_type".isin("error", "click"))
        .select($"event_id", $"user_id", $"ts", $"event_type",
          unix_micros($"ts".cast("timestamp")).as("us"))
      // clicks sort before errors at equal ts ('click' < 'error'): the
      // backward frame then includes a same-timestamp click (bt = us,
      // distance 0) and the tie-prefers-backward pick emits it — the
      // same row the oracle's inclusive c.ts <= e.ts branch picks. The
      // forward frame misses same-ts clicks under this shared sort, but
      // whenever one exists the backward branch already wins the tie,
      // so the emitted (value, direction) still matches the oracle.
      val wb = Window.partitionBy($"user_id")
        .orderBy($"ts", $"event_type", $"event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wf = Window.partitionBy($"user_id")
        .orderBy($"ts", $"event_type", $"event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      tagged
        .withColumn("bt",
          last(when($"event_type" === "click", $"us"), ignoreNulls = true)
            .over(wb))
        .withColumn("ft",
          first(when($"event_type" === "click", $"us"), ignoreNulls = true)
            .over(wf))
        .filter($"event_type" === "error")
        .withColumn("pick_b",
          $"bt".isNotNull &&
            ($"ft".isNull || ($"us" - $"bt") <= ($"ft" - $"us")))
        .select($"event_id", $"user_id",
          when($"pick_b", $"bt").otherwise($"ft").as("nearest_click_us"),
          when($"pick_b", lit("backward"))
            .when($"ft".isNotNull, lit("forward"))
            .as("direction"))
        .orderBy($"event_id")
    },
    Some("""WITH e AS (SELECT * FROM events WHERE event_type = 'error'),
            c AS (SELECT * FROM events WHERE event_type = 'click'),
            b AS (SELECT e.event_id, max(epoch_us(c.ts)) AS bt
                  FROM e LEFT JOIN c
                    ON c.user_id = e.user_id AND c.ts <= e.ts
                  GROUP BY e.event_id),
            f AS (SELECT e.event_id, min(epoch_us(c.ts)) AS ft
                  FROM e LEFT JOIN c
                    ON c.user_id = e.user_id AND c.ts >= e.ts
                  GROUP BY e.event_id)
            SELECT e.event_id, e.user_id,
              CASE WHEN bt IS NOT NULL AND (ft IS NULL
                     OR (epoch_us(e.ts) - bt) <= (ft - epoch_us(e.ts)))
                   THEN bt ELSE ft END AS nearest_click_us,
              CASE WHEN bt IS NOT NULL AND (ft IS NULL
                     OR (epoch_us(e.ts) - bt) <= (ft - epoch_us(e.ts)))
                   THEN 'backward'
                   WHEN ft IS NOT NULL THEN 'forward' END AS direction
            FROM e
            JOIN b ON b.event_id = e.event_id
            JOIN f ON f.event_id = e.event_id
            ORDER BY e.event_id NULLS FIRST"""))

  /** Tolerance-bounded as-of join (q_join_asof_tolerance): the backward
    * as-of match is DISCARDED when the latest prior click is more than
    * one hour stale — pandas merge_asof's `tolerance`, the guard every
    * feature-freshness join needs (a day-old click must not explain
    * this error). Same single-shuffle union+window formulation; the
    * staleness bound is one residual comparison, and the match flag is
    * emitted so downstream can audit coverage. */
  val qJoinAsofTolerance = Q(
    "q_join_asof_tolerance",
    (s, d) => {
      val e = ev(s, d)
      val tagged = e
        .filter($"event_type".isin("error", "click"))
        .select($"event_id", $"user_id", $"ts", $"event_type")
      // clicks before errors at equal ts: the backward frame includes a
      // same-timestamp click, matching the oracle's c.ts <= e.ts
      val w = Window
        .partitionBy($"user_id")
        .orderBy($"ts", $"event_type", $"event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tagged
        .withColumn(
          "raw_click_ts",
          last(when($"event_type" === "click", $"ts"), ignoreNulls = true)
            .over(w))
        .filter($"event_type" === "error")
        .withColumn("fresh",
          $"raw_click_ts".isNotNull &&
            $"raw_click_ts" >= $"ts" - expr("INTERVAL 1 HOUR"))
        .select($"event_id", $"user_id",
          when($"fresh", $"raw_click_ts").as("last_click_ts"),
          $"fresh".as("matched"))
        .orderBy($"event_id")
    },
    Some("""SELECT e.event_id, e.user_id,
              CASE WHEN max(c.ts) >= e.ts - INTERVAL 1 HOUR
                   THEN max(c.ts) END AS last_click_ts,
              coalesce(max(c.ts) >= e.ts - INTERVAL 1 HOUR, FALSE)
                AS matched
            FROM (SELECT * FROM events WHERE event_type = 'error') e
            LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
              ON c.user_id = e.user_id AND c.ts <= e.ts
            GROUP BY e.event_id, e.user_id, e.ts
            ORDER BY e.event_id NULLS FIRST"""))

  /** Native as-of join (q_join_asof_native): the same semantics as
    * q_join_asof through the custom whole-operator plan
    * (graft.plans.AsofJoin → AsofJoinStrategy → AsofJoinExec) — the
    * SURVEY §4.3 tier-(c) extension. EnsureRequirements supplies the
    * key-clustered exchanges and (key, time) sorts; the exec itself is a
    * single merge pass buffering ONE right row per partition. Same
    * oracle as the union+window formulation: the two must agree
    * bit-for-bit. */
  val qJoinAsofNative = Q(
    "q_join_asof_native",
    (s, d) => {
      val e = ev(s, d)
      val errors = e.filter($"event_type" === "error")
        .select($"event_id", $"user_id", $"ts")
      val clicks = e.filter($"event_type" === "click")
        .select($"user_id".as("c_user_id"), $"ts".as("c_ts"))
      graft.plans.Asof
        .join(errors, clicks, "user_id", "ts", "c_user_id", "c_ts")
        .select($"event_id", $"user_id", $"c_ts".as("last_click_ts"))
        .orderBy($"event_id")
    },
    Some("""SELECT e.event_id, e.user_id, max(c.ts) AS last_click_ts
            FROM (SELECT * FROM events WHERE event_type = 'error') e
            LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
              ON c.user_id = e.user_id AND c.ts <= e.ts
            GROUP BY e.event_id, e.user_id
            ORDER BY e.event_id NULLS FIRST"""))

  /** Broadcast variant of the native as-of join (q_join_asof_bcast):
    * same semantics and oracle, but the dim-sized click side is
    * broadcast and the error side streams through UNSHUFFLED — at
    * 100 TB the probe side never pays an exchange when the reference
    * side is small. Strategy picks this form via stats/threshold; the
    * hint pins it for the registered query. */
  val qJoinAsofBcast = Q(
    "q_join_asof_bcast",
    (s, d) => {
      val e = ev(s, d)
      val errors = e.filter($"event_type" === "error")
        .select($"event_id", $"user_id", $"ts")
      val clicks = e.filter($"event_type" === "click")
        .select($"user_id".as("c_user_id"), $"ts".as("c_ts"))
      graft.plans.Asof
        .join(errors, clicks, "user_id", "ts", "c_user_id", "c_ts",
          broadcastRight = Some(true))
        .select($"event_id", $"user_id", $"c_ts".as("last_click_ts"))
        .orderBy($"event_id")
    },
    qJoinAsofNative.oracle)

  /** Theta join (value > per-type threshold — the self-trigger comparison
    * shape). The threshold side is 5 rows → broadcast; the non-equi
    * comparison is evaluated stream-side. */
  val qJoinTheta = Q(
    "q_join_theta",
    (s, d) => {
      val e = ev(s, d)
      val thr = e.groupBy($"event_type".as("t_type"))
        .agg(round(avg($"value"), 6).as("thr"))
      e.join(broadcast(thr), $"value" > $"thr")
        .groupBy($"t_type", $"thr")
        .agg(count(lit(1)).as("n_above"))
        .orderBy($"t_type")
    },
    Some("""SELECT t.t_type, t.thr, count(*) AS n_above
            FROM events e
            JOIN (SELECT event_type AS t_type, round(avg(value), 6) AS thr
                  FROM events GROUP BY event_type) t
              ON e.value > t.thr
            GROUP BY t.t_type, t.thr
            ORDER BY t.t_type NULLS FIRST"""))

  // ----------------------------------------------------------- aggregates

  /** TPC-H Q1 shape: the canonical partial+final two-phase hash
    * aggregate. Sums and averages are taken over whole cents as BIGINT
    * (the q_tpch_q1 rule), so they do not depend on row order. */
  val qAggHash = Q(
    "q_agg_hash",
    (s, d) => {
      def avgMicros(c: String) =
        expr(s"($c * 20000 + count_order) div (2 * count_order)") / lit(1e6)
      li(s, d)
        .filter($"l_shipdate" <= lit("2001-09-01").cast("timestamp_ntz"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          Mart.centSum($"l_quantity").as("qty_c"),
          Mart.centSum($"l_extendedprice").as("price_c"),
          Mart.centSum($"l_extendedprice" * (lit(1.0) - $"l_discount"))
            .as("disc_price_c"),
          Mart.centSum($"l_discount").as("disc_c"),
          count(lit(1)).as("count_order"))
        .select($"l_returnflag", $"l_linestatus",
          ($"qty_c" / 100.0).as("sum_qty"),
          ($"price_c" / 100.0).as("sum_base_price"),
          ($"disc_price_c" / 100.0).as("sum_disc_price"),
          avgMicros("qty_c").as("avg_qty"),
          avgMicros("disc_c").as("avg_disc"),
          $"count_order")
        .orderBy($"l_returnflag", $"l_linestatus")
    },
    Some("""WITH g AS (
              SELECT l_returnflag, l_linestatus,
                CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS qty_c,
                CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS price_c,
                CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount)
                  * 100 + 0.5) AS BIGINT)) AS BIGINT) AS disc_price_c,
                CAST(sum(CAST(floor(l_discount * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS disc_c,
                count(*) AS count_order
              FROM lineitem
              WHERE l_shipdate <= TIMESTAMP '2001-09-01'
              GROUP BY l_returnflag, l_linestatus)
            SELECT l_returnflag, l_linestatus,
              qty_c / 100.0e0 AS sum_qty,
              price_c / 100.0e0 AS sum_base_price,
              disc_price_c / 100.0e0 AS sum_disc_price,
              CAST((qty_c * 20000 + count_order) // (2 * count_order)
                AS BIGINT) / 1e6 AS avg_qty,
              CAST((disc_c * 20000 + count_order) // (2 * count_order)
                AS BIGINT) / 1e6 AS avg_disc,
              count_order
            FROM g
            ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""))

  val qAggMulti = Q(
    "q_agg_multi",
    (s, d) =>
      ev(s, d)
        .groupBy($"event_type", $"user_id")
        .agg(
          count(lit(1)).as("n"),
          round(sum($"value"), 2).as("sum_value"))
        .orderBy($"event_type", $"user_id"),
    Some("""SELECT event_type, user_id, count(*) AS n,
              round(sum(value), 2) AS sum_value
            FROM events
            GROUP BY event_type, user_id
            ORDER BY event_type NULLS FIRST, user_id NULLS FIRST"""))

  val qAggDistinct = Q(
    "q_agg_distinct",
    (s, d) =>
      li(s, d)
        .groupBy($"l_returnflag")
        .agg(
          countDistinct($"l_partkey").as("n_parts"),
          countDistinct($"l_suppkey").as("n_supps"),
          count(lit(1)).as("n_rows"))
        .orderBy($"l_returnflag"),
    Some("""SELECT l_returnflag,
              count(DISTINCT l_partkey) AS n_parts,
              count(DISTINCT l_suppkey) AS n_supps,
              count(*) AS n_rows
            FROM lineitem GROUP BY l_returnflag
            ORDER BY l_returnflag NULLS FIRST"""))

  /** HLL sketch distinct — the 100 TB path where exact distinct would
    * shuffle every key. Oracle-eligible via the exact-vs-approx pattern:
    * the output carries the EXACT count (cross-checkable in DuckDB) and
    * a bounded-relative-error flag computed Spark-side (approx within 5%
    * of exact — the estimator bytes themselves are engine-specific and
    * never cross the hash). rsd=0.01, so 5% is a generous bound. */
  val qAggApproxDistinct = Q(
    "q_agg_approx_distinct",
    (s, d) =>
      li(s, d)
        .groupBy($"l_returnflag")
        .agg(approx_count_distinct($"l_partkey", 0.01).as("ap"),
          countDistinct($"l_partkey").as("exact_parts"))
        .select($"l_returnflag", $"exact_parts",
          (abs($"ap" - $"exact_parts") <= $"exact_parts" * 0.05)
            .cast("int").as("within_5pct"))
        .orderBy($"l_returnflag"),
    Some("""SELECT l_returnflag,
              count(DISTINCT l_partkey) AS exact_parts,
              CAST(1 AS INTEGER) AS within_5pct
            FROM lineitem GROUP BY l_returnflag
            ORDER BY l_returnflag NULLS FIRST"""))

  val qAggStddev = Q(
    "q_agg_stddev",
    (s, d) =>
      ev(s, d)
        .groupBy($"event_type")
        .agg(
          round(stddev_samp($"value"), 6).as("sd"),
          round(var_samp($"value"), 6).as("variance"),
          round(avg($"value"), 6).as("mean"))
        .orderBy($"event_type"),
    Some("""SELECT event_type,
              round(stddev_samp(value), 6) AS sd,
              round(var_samp(value), 6) AS variance,
              round(avg(value), 6) AS mean
            FROM events GROUP BY event_type
            ORDER BY event_type NULLS FIRST"""))

  /** Bivariate statistics (q_agg_corr): Pearson correlation + sample
    * covariance between amplitude and the JSON payload metric —
    * completes the statistical aggregate family next to stddev/var. */
  val qAggCorr = Q(
    "q_agg_corr",
    (s, d) =>
      ev(s, d)
        .withColumn("k", get_json_object($"props", "$.k").cast("double"))
        .groupBy($"event_type")
        .agg(
          round(corr($"value", $"k"), 6).as("corr_vk"),
          round(covar_samp($"value", $"k"), 6).as("covar_vk"),
          count(lit(1)).as("n"))
        .orderBy($"event_type"),
    Some("""SELECT event_type,
              round(corr(value, k), 6) AS corr_vk,
              round(covar_samp(value, k), 6) AS covar_vk,
              count(*) AS n
            FROM (SELECT event_type, value,
                    CAST(props ->> '$.k' AS DOUBLE) AS k
                  FROM events)
            GROUP BY event_type
            ORDER BY event_type NULLS FIRST"""))

  /** Exact interpolated percentile (S-curve midpoint idiom, html:194). */
  val qAggPercentile = Q(
    "q_agg_percentile",
    (s, d) =>
      ev(s, d)
        .groupBy($"event_type")
        .agg(
          round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.9)"), 6).as("p90"))
        .orderBy($"event_type"),
    Some("""SELECT event_type,
              round(quantile_cont(value, 0.5), 6) AS p50,
              round(quantile_cont(value, 0.9), 6) AS p90
            FROM events GROUP BY event_type
            ORDER BY event_type NULLS FIRST"""))

  val qAggRollup = Q(
    "q_agg_rollup",
    (s, d) => {
      val nation = Tables.t(s, d, "nation")
      val region = Tables.t(s, d, "region")
      cust(s, d)
        .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
        .rollup($"r_name", $"n_name")
        .agg(
          count(lit(1)).as("n_cust"),
          round(sum($"c_acctbal"), 2).as("sum_bal"))
        .orderBy($"r_name", $"n_name")
    },
    Some("""SELECT r_name, n_name, count(*) AS n_cust,
              round(sum(c_acctbal), 2) AS sum_bal
            FROM customer
              JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
            GROUP BY ROLLUP (r_name, n_name)
            ORDER BY r_name NULLS FIRST, n_name NULLS FIRST"""))

  val qAggCube = Q(
    "q_agg_cube",
    (s, d) =>
      ev(s, d)
        .withColumn("grp", ($"user_id" % 4).cast("long"))
        .cube($"event_type", $"grp")
        .agg(
          count(lit(1)).as("n"),
          round(sum($"value"), 2).as("sum_value"))
        .orderBy($"event_type", $"grp"),
    Some("""SELECT event_type, CAST(user_id % 4 AS BIGINT) AS grp,
              count(*) AS n, round(sum(value), 2) AS sum_value
            FROM events
            GROUP BY CUBE (event_type, grp)
            ORDER BY event_type NULLS FIRST, grp NULLS FIRST"""))

  val qAggGroupingSets = Q(
    "q_agg_grouping_sets",
    (s, d) => {
      ev(s, d).createOrReplaceTempView("gs_events")
      s.sql("""SELECT event_type, CAST(user_id % 4 AS BIGINT) AS grp,
                 count(*) AS n
               FROM gs_events
               GROUP BY GROUPING SETS ((event_type, grp), (event_type), ())
               ORDER BY event_type NULLS FIRST, grp NULLS FIRST""")
    },
    Some("""SELECT event_type, CAST(user_id % 4 AS BIGINT) AS grp,
              count(*) AS n
            FROM events
            GROUP BY GROUPING SETS ((event_type, grp), (event_type), ())
            ORDER BY event_type NULLS FIRST, grp NULLS FIRST"""))

  /** Conditional aggregation — the lost-events counting idiom (md:236). */
  val qAggFiltered = Q(
    "q_agg_filtered",
    (s, d) =>
      ev(s, d)
        .groupBy($"user_id")
        .agg(
          count(when($"event_type" === "error", 1)).as("n_err"),
          count(when($"event_type" === "purchase", 1)).as("n_purchase"),
          round(sum(when($"event_type" === "purchase", $"value")
            .otherwise(0.0)), 2).as("purchase_value"))
        .orderBy($"user_id"),
    Some("""SELECT user_id,
              count(CASE WHEN event_type = 'error' THEN 1 END) AS n_err,
              count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
              round(sum(CASE WHEN event_type = 'purchase' THEN value
                             ELSE 0.0 END), 2) AS purchase_value
            FROM events GROUP BY user_id
            ORDER BY user_id NULLS FIRST"""))

  // -------------------------------------------------------------- windows

  val qWinRank = Q(
    "q_win_rank",
    (s, d) => {
      val w = Window
        .partitionBy($"o_orderpriority")
        .orderBy($"o_totalprice".desc, $"o_orderkey")
      ord(s, d)
        .withColumn("rnk", rank().over(w).cast("long"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter($"rn" <= 5)
        .select($"o_orderpriority", $"rn", $"rnk", $"o_orderkey",
          $"o_totalprice")
        .orderBy($"o_orderpriority", $"rn")
    },
    Some("""SELECT o_orderpriority, rn, rnk, o_orderkey, o_totalprice
            FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
                    CAST(rank() OVER w AS BIGINT) AS rnk,
                    CAST(row_number() OVER w AS BIGINT) AS rn
                  FROM orders
                  WINDOW w AS (PARTITION BY o_orderpriority
                               ORDER BY o_totalprice DESC, o_orderkey))
            WHERE rn <= 5
            ORDER BY o_orderpriority NULLS FIRST, rn NULLS FIRST"""))

  /** Inter-trigger gap — the double-trigger detection primitive
    * (html:239-243). */
  val qWinLag = Q(
    "q_win_lag",
    (s, d) => {
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      ev(s, d)
        .withColumn("prev_us", lag(unix_micros($"ts".cast("timestamp")), 1).over(w))
        .select(
          $"event_id", $"user_id",
          (unix_micros($"ts".cast("timestamp")) - $"prev_us").as("gap_us"))
        .orderBy($"event_id")
    },
    Some("""SELECT event_id, user_id,
              epoch_us(ts) - lag(epoch_us(ts)) OVER
                (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
            FROM events
            ORDER BY event_id NULLS FIRST"""))

  /** Running count/sum — the EVENT_CNT monotone counter (html:163-166). */
  val qWinRunning = Q(
    "q_win_running",
    (s, d) => {
      val w = Window
        .partitionBy($"user_id")
        .orderBy($"ts", $"event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev(s, d)
        .select(
          $"event_id", $"user_id",
          count(lit(1)).over(w).as("event_cnt"),
          round(sum($"value").over(w), 2).as("running_value"))
        .orderBy($"event_id")
    },
    Some("""SELECT event_id, user_id,
              count(*) OVER w AS event_cnt,
              round(sum(value) OVER w, 2) AS running_value
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            ORDER BY event_id NULLS FIRST"""))

  /** Range-frame sliding aggregate: events in the trailing hour per user —
    * the rate-monitoring window (md:236). */
  val qWinSliding = Q(
    "q_win_sliding",
    (s, d) => {
      val withSec = ev(s, d)
        .withColumn("ts_sec", (unix_micros($"ts".cast("timestamp")) / 1000000L).cast("long"))
      val w = Window
        .partitionBy($"user_id")
        .orderBy($"ts_sec")
        .rangeBetween(-3600L, 0L)
      withSec
        .select(
          $"event_id", $"user_id",
          count(lit(1)).over(w).as("n_last_hour"),
          round(sum($"value").over(w), 2).as("value_last_hour"))
        .orderBy($"event_id")
    },
    Some("""SELECT event_id, user_id,
              count(*) OVER w AS n_last_hour,
              round(sum(value) OVER w, 2) AS value_last_hour
            FROM (SELECT *, epoch_us(ts) // 1000000 AS ts_sec FROM events)
            WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec
                         RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
            ORDER BY event_id NULLS FIRST"""))

  // ------------------------------------------------------ sort/limit/topk

  val qSort = Q(
    "q_sort",
    (s, d) =>
      ord(s, d)
        .select($"o_orderkey", $"o_orderpriority", $"o_orderdate",
          $"o_totalprice")
        .orderBy($"o_orderpriority", $"o_orderdate".desc, $"o_orderkey"),
    Some("""SELECT o_orderkey, o_orderpriority, o_orderdate, o_totalprice
            FROM orders
            ORDER BY o_orderpriority NULLS FIRST, o_orderdate DESC NULLS LAST,
                     o_orderkey NULLS FIRST"""))

  /** Top-k: plans as TakeOrderedAndProject — per-partition heaps, no global
    * sort; the only formulation that survives 100 TB. */
  val qTopk = Q(
    "q_topk",
    (s, d) =>
      ord(s, d)
        .select($"o_orderkey", $"o_totalprice")
        .orderBy($"o_totalprice".desc, $"o_orderkey")
        .limit(20),
    Some("""SELECT o_orderkey, o_totalprice FROM orders
            ORDER BY o_totalprice DESC NULLS LAST, o_orderkey NULLS FIRST
            LIMIT 20"""))

  val qLimit = Q(
    "q_limit",
    (s, d) =>
      ev(s, d)
        .select($"event_id", $"ts", $"event_type")
        .orderBy($"event_id")
        .limit(128),
    Some("""SELECT event_id, ts, event_type FROM events
            ORDER BY event_id NULLS FIRST LIMIT 128"""))

  // ------------------------------------------------------------- set ops

  val qUnion = Q(
    "q_union",
    (s, d) => {
      val e = ev(s, d)
      val a = e.filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"event_type")
      val b = e.filter($"event_type" === "error")
        .select($"event_id", $"user_id", $"event_type")
      a.unionByName(b).orderBy($"event_id")
    },
    Some("""SELECT event_id, user_id, event_type FROM events
              WHERE event_type = 'purchase'
            UNION ALL
            SELECT event_id, user_id, event_type FROM events
              WHERE event_type = 'error'
            ORDER BY event_id NULLS FIRST"""))

  val qIntersect = Q(
    "q_intersect",
    (s, d) => {
      val e = ev(s, d)
      e.filter($"event_type" === "click").select($"user_id")
        .intersect(
          e.filter($"event_type" === "purchase").select($"user_id"))
        .orderBy($"user_id")
    },
    Some("""SELECT user_id FROM events WHERE event_type = 'click'
            INTERSECT
            SELECT user_id FROM events WHERE event_type = 'purchase'
            ORDER BY user_id NULLS FIRST"""))

  /** Multiset set ops (q_setop_all): INTERSECT ALL / EXCEPT ALL — the
    * bag semantics the DISTINCT variants (q_intersect/q_except) can't
    * express: per-user day-visit multiplicities survive, so the result
    * counts how many times a behavior repeats, not whether it occurs.
    * Spark plans both as aggregate+join (no row-by-row matching), same
    * as DuckDB; the summary census keeps the output bounded. */
  val qSetopAll = Q(
    "q_setop_all",
    (s, d) => {
      val e = ev(s, d)
      def visits(t: String) = e.filter($"event_type" === t)
        .select($"user_id", to_date($"ts").as("day"))
      val iAll = visits("click").intersectAll(visits("view"))
        .groupBy($"user_id").agg(count(lit(1)).as("n"))
        .select(lit("intersect_all").as("op"), $"user_id", $"n")
      val eAll = visits("click").exceptAll(visits("purchase"))
        .groupBy($"user_id").agg(count(lit(1)).as("n"))
        .select(lit("except_all").as("op"), $"user_id", $"n")
      iAll.unionAll(eAll).orderBy($"op", $"user_id")
    },
    Some("""WITH cl AS (SELECT user_id, CAST(ts AS DATE) AS day
              FROM events WHERE event_type = 'click'),
            vw AS (SELECT user_id, CAST(ts AS DATE) AS day
              FROM events WHERE event_type = 'view'),
            pu AS (SELECT user_id, CAST(ts AS DATE) AS day
              FROM events WHERE event_type = 'purchase'),
            ia AS (SELECT 'intersect_all' AS op, user_id,
                     CAST(count(*) AS BIGINT) AS n
                   FROM (SELECT * FROM cl INTERSECT ALL
                         SELECT * FROM vw) x
                   GROUP BY user_id),
            ea AS (SELECT 'except_all', user_id,
                     CAST(count(*) AS BIGINT)
                   FROM (SELECT * FROM cl EXCEPT ALL
                         SELECT * FROM pu) y
                   GROUP BY user_id)
            SELECT * FROM ia UNION ALL SELECT * FROM ea
            ORDER BY op NULLS FIRST, user_id NULLS FIRST"""))

  val qExcept = Q(
    "q_except",
    (s, d) => {
      val e = ev(s, d)
      e.filter($"event_type" === "view").select($"user_id", $"event_id")
        .except(
          e.filter($"value" > 100.0).select($"user_id", $"event_id"))
        .orderBy($"user_id", $"event_id")
    },
    Some("""SELECT user_id, event_id FROM events WHERE event_type = 'view'
            EXCEPT
            SELECT user_id, event_id FROM events WHERE value > 100.0
            ORDER BY user_id NULLS FIRST, event_id NULLS FIRST"""))

  // ------------------------------------------------------ scalar families

  val qFnString = Q(
    "q_fn_string",
    (s, d) =>
      cust(s, d)
        .select(
          $"c_custkey",
          upper($"c_name").as("name_upper"),
          substring($"c_name", 1, 5).as("name_prefix"),
          length($"c_name").cast("long").as("name_len"),
          concat(lit("cust_"), $"c_custkey").as("synth_key"),
          regexp_extract($"c_name", "([0-9]+)", 1).as("name_digits"))
        .orderBy($"c_custkey"),
    Some("""SELECT c_custkey,
              upper(c_name) AS name_upper,
              substr(c_name, 1, 5) AS name_prefix,
              CAST(length(c_name) AS BIGINT) AS name_len,
              'cust_' || c_custkey AS synth_key,
              coalesce(regexp_extract(c_name, '([0-9]+)', 1), '') AS name_digits
            FROM customer
            ORDER BY c_custkey NULLS FIRST"""))

  val qFnDate = Q(
    "q_fn_date",
    (s, d) =>
      ord(s, d)
        .select(
          $"o_orderkey",
          year($"o_orderdate").cast("long").as("yr"),
          month($"o_orderdate").cast("long").as("mo"),
          dayofmonth($"o_orderdate").cast("long").as("dom"),
          date_trunc("month", $"o_orderdate").as("month_start"),
          datediff($"o_orderdate", lit("1995-01-01").cast("date"))
            .cast("long").as("days_since"),
          (unix_micros($"o_orderdate".cast("timestamp")) / 1000000L).cast("long").as("epoch_s"))
        .orderBy($"o_orderkey"),
    Some("""SELECT o_orderkey,
              CAST(year(o_orderdate) AS BIGINT) AS yr,
              CAST(month(o_orderdate) AS BIGINT) AS mo,
              CAST(day(o_orderdate) AS BIGINT) AS dom,
              date_trunc('month', o_orderdate) AS month_start,
              CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate)
                   AS BIGINT) AS days_since,
              epoch_us(o_orderdate) // 1000000 AS epoch_s
            FROM orders
            ORDER BY o_orderkey NULLS FIRST"""))

  val qFnMath = Q(
    "q_fn_math",
    (s, d) =>
      li(s, d)
        .select(
          $"l_orderkey", $"l_linenumber",
          floor($"l_extendedprice" / 1000.0).cast("long").as("price_k"),
          ceil($"l_quantity" / 7.0).cast("long").as("qty_ceil"),
          abs($"l_quantity" - lit(25.0)).as("qty_dev"),
          pow($"l_discount", 2).as("disc_sq"),
          round(log($"l_extendedprice"), 6).as("ln_price"),
          sqrt($"l_quantity").as("qty_sqrt"),
          ($"l_orderkey" % 7).cast("long").as("key_mod"))
        .orderBy($"l_orderkey", $"l_linenumber", $"qty_dev", $"ln_price"),
    Some("""SELECT l_orderkey, l_linenumber,
              CAST(floor(l_extendedprice / 1000.0) AS BIGINT) AS price_k,
              CAST(ceil(l_quantity / 7.0) AS BIGINT) AS qty_ceil,
              abs(l_quantity - 25.0) AS qty_dev,
              pow(l_discount, 2) AS disc_sq,
              round(ln(l_extendedprice), 6) AS ln_price,
              sqrt(l_quantity) AS qty_sqrt,
              CAST(l_orderkey % 7 AS BIGINT) AS key_mod
            FROM lineitem
            ORDER BY l_orderkey NULLS FIRST, l_linenumber NULLS FIRST,
                     qty_dev NULLS FIRST, ln_price NULLS FIRST"""))

  val qFnArray = Q(
    "q_fn_array",
    (s, d) =>
      Tables.t(s, d, "documents")
        .withColumn("toks", split($"text", " "))
        .select(
          $"doc_id",
          size($"toks").cast("long").as("n_tokens"),
          element_at($"toks", 1).as("first_token"),
          element_at($"toks", -1).as("last_token"),
          array_contains($"toks", "spark").as("has_spark"))
        .orderBy($"doc_id"),
    Some("""SELECT doc_id,
              CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
              string_split(text, ' ')[1] AS first_token,
              string_split(text, ' ')[-1] AS last_token,
              list_contains(string_split(text, ' '), 'spark') AS has_spark
            FROM documents
            ORDER BY doc_id NULLS FIRST"""))

  /** Map functions in the plan interior (map_from_entries → explode); the
    * oracle-visible output stays scalar (SURVEY §1.2: normalize dynamic
    * keys, never carry them as columns). */
  val qFnMap = Q(
    "q_fn_map",
    (s, d) => {
      val perType = ev(s, d)
        .groupBy($"user_id", $"event_type")
        .agg(count(lit(1)).as("n"))
        .groupBy($"user_id")
        .agg(map_from_entries(collect_list(struct($"event_type", $"n")))
          .as("type_counts"))
      perType
        .select($"user_id", explode($"type_counts").as(Seq("etype", "n")))
        .orderBy($"user_id", $"etype")
    },
    Some("""SELECT user_id, event_type AS etype, count(*) AS n
            FROM events GROUP BY user_id, event_type
            ORDER BY user_id NULLS FIRST, etype NULLS FIRST"""))

  val qFnJson = Q(
    "q_fn_json",
    (s, d) =>
      ev(s, d)
        .select(
          $"event_id",
          get_json_object($"props", "$.k").cast("long").as("k"))
        .orderBy($"event_id"),
    Some("""SELECT event_id, CAST(props ->> '$.k' AS BIGINT) AS k
            FROM events
            ORDER BY event_id NULLS FIRST"""))

  val qFnCond = Q(
    "q_fn_cond",
    (s, d) =>
      ord(s, d)
        .select(
          $"o_orderkey",
          when($"o_totalprice" > 300000, "high")
            .when($"o_totalprice" > 100000, "mid")
            .otherwise("low").as("price_tier"),
          coalesce(nullif($"o_orderstatus", lit("P")), lit("pending"))
            .as("status_norm"),
          // floor before the long cast: DuckDB CAST(double AS BIGINT)
          // rounds, Spark truncates — floor makes both exact.
          floor($"o_totalprice").cast("long").as("price_long"))
        .orderBy($"o_orderkey"),
    Some("""SELECT o_orderkey,
              CASE WHEN o_totalprice > 300000 THEN 'high'
                   WHEN o_totalprice > 100000 THEN 'mid'
                   ELSE 'low' END AS price_tier,
              coalesce(nullif(o_orderstatus, 'P'), 'pending') AS status_norm,
              CAST(floor(o_totalprice) AS BIGINT) AS price_long
            FROM orders
            ORDER BY o_orderkey NULLS FIRST"""))

  /** Interval RANGE frame (q_win_range_frame): per board, the count and
    * sum of activity in the TRAILING HOUR of event time — a range
    * frame over microseconds, not a row frame: frame membership follows
    * the time axis, so bursty and sparse regions get correct windows
    * regardless of row density (the rate-monitor primitive, md:236).
    * Peers (equal timestamps) are frame-inclusive on both engines. */
  val qWinRangeFrame = Q(
    "q_win_range_frame",
    (s, d) => {
      val w = Window.partitionBy($"user_id").orderBy($"us")
        .rangeBetween(-3600000000L, 0)
      ev(s, d)
        .withColumn("us", unix_micros($"ts".cast("timestamp")))
        .select($"event_id", $"user_id",
          count(lit(1)).over(w).as("n_last_hour"),
          round(sum($"value").over(w), 2).as("sum_last_hour"))
        .orderBy($"event_id")
    },
    Some("""SELECT event_id, user_id,
              count(*) OVER w AS n_last_hour,
              round(sum(value) OVER w, 2) AS sum_last_hour
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
              RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
            ORDER BY event_id NULLS FIRST"""))

  /** Distribution window functions (q_win_distribution): cume_dist —
    * tie-aware, so equal cents share one value in both engines — and
    * nth_value over a running frame, the two analytic functions the
    * window tier didn't yet cover. cume_dist's division is the single
    * per-row rational count(≤x)/N (deterministic); the per-series
    * exchange on event_type is the only shuffle. */
  val qWinDistribution = Q(
    "q_win_distribution",
    (s, d) => {
      val wVal = Window.partitionBy($"event_type")
        .orderBy(floor($"value" * 100 + 0.5).cast("long"))
      val wSeq = Window.partitionBy($"event_type")
        .orderBy($"ts", $"event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev(s, d)
        .select($"event_id", $"event_type",
          round(cume_dist().over(wVal), 6).as("value_cume"),
          nth_value(floor($"value" * 100 + 0.5).cast("long"), 3)
            .over(wSeq).as("third_seen_cents"))
        .orderBy($"event_id")
    },
    Some("""SELECT event_id, event_type,
          round(cume_dist() OVER (PARTITION BY event_type
            ORDER BY CAST(floor(value * 100 + 0.5e0) AS BIGINT)), 6)
            AS value_cume,
          nth_value(CAST(floor(value * 100 + 0.5e0) AS BIGINT), 3)
            OVER (PARTITION BY event_type ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS third_seen_cents
        FROM events
        ORDER BY event_id NULLS FIRST"""))

  /** Correlated EXISTS / NOT EXISTS (q_subquery_exists): customers with
    * at least one high-value order and no low-priority one — the
    * decorrelation path (Catalyst rewrites both predicates into
    * semi/anti joins; DuckDB does the same, so one SQL text serves both
    * engines). */
  val qSubqueryExists = Q(
    "q_subquery_exists",
    (s, d) => {
      ord(s, d).createOrReplaceTempView("orders_sq_v")
      cust(s, d).createOrReplaceTempView("customer_sq_v")
      s.sql("""SELECT c_custkey, c_name
               FROM customer_sq_v c
               WHERE EXISTS (SELECT 1 FROM orders_sq_v o
                             WHERE o.o_custkey = c.c_custkey
                               AND o.o_totalprice > 400000.0)
                 AND NOT EXISTS (SELECT 1 FROM orders_sq_v o
                                 WHERE o.o_custkey = c.c_custkey
                                   AND o.o_orderpriority = '5-LOW')
               ORDER BY c_custkey""")
    },
    Some("""SELECT c_custkey, c_name
            FROM customer c
            WHERE EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_totalprice > 400000.0)
              AND NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey
                                AND o.o_orderpriority = '5-LOW')
            ORDER BY c_custkey NULLS FIRST"""))

  /** Quantile sketch (q_agg_approx_percentile): approx_percentile over
    * the fact table — the fixed-memory companion to the HLL distinct
    * sketch for 100 TB profiling, where an exact percentile would sort
    * or multi-pass the column. Oracle-eligible via exact-vs-approx: the
    * output carries the exact percentiles (quantile_cont cross-matches,
    * same idiom as q_agg_percentile) plus Spark-side bounded-error flags
    * for the sketch values. */
  val qAggApproxPercentile = Q(
    "q_agg_approx_percentile",
    (s, d) =>
      li(s, d)
        .groupBy($"l_returnflag")
        .agg(expr(
          "approx_percentile(l_extendedprice, array(0.5D, 0.95D), 10000)")
          .as("ap"),
          expr("percentile(l_extendedprice, 0.5)").as("ex50"),
          expr("percentile(l_extendedprice, 0.95)").as("ex95"))
        .select($"l_returnflag",
          round($"ex50", 6).as("exact_p50"),
          round($"ex95", 6).as("exact_p95"),
          (abs($"ap".getItem(0) - $"ex50") <= abs($"ex50") * 0.05)
            .cast("int").as("p50_within_5pct"),
          (abs($"ap".getItem(1) - $"ex95") <= abs($"ex95") * 0.05)
            .cast("int").as("p95_within_5pct"))
        .orderBy($"l_returnflag"),
    Some("""SELECT l_returnflag,
              round(quantile_cont(l_extendedprice, 0.5), 6) AS exact_p50,
              round(quantile_cont(l_extendedprice, 0.95), 6) AS exact_p95,
              CAST(1 AS INTEGER) AS p50_within_5pct,
              CAST(1 AS INTEGER) AS p95_within_5pct
            FROM lineitem GROUP BY l_returnflag
            ORDER BY l_returnflag NULLS FIRST"""))

  /** Frame-boundary window functions (q_win_first_last): first, last and
    * second value of each user's event tape — the session-summary idiom
    * (entry event, exit value, second touch) over a full-partition frame.
    * One shuffle by user_id, deterministic (ts, event_id) order. */
  val qWinFirstLast = Q(
    "q_win_first_last",
    (s, d) => {
      val w = Window.partitionBy($"user_id")
        .orderBy($"ts", $"event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      ev(s, d)
        .select($"user_id", $"event_id",
          first($"event_type").over(w).as("first_type"),
          last($"event_type").over(w).as("last_type"),
          nth_value($"value", 2).over(w).as("second_value"))
        .groupBy($"user_id")
        .agg(
          max($"first_type").as("first_type"),
          max($"last_type").as("last_type"),
          round(max($"second_value"), 2).as("second_value"))
        .orderBy($"user_id")
    },
    Some("""SELECT user_id,
              max(first_type) AS first_type,
              max(last_type) AS last_type,
              round(max(second_value), 2) AS second_value
            FROM (
              SELECT user_id, event_id,
                first_value(event_type) OVER w AS first_type,
                last_value(event_type) OVER w AS last_type,
                nth_value(value, 2) OVER w AS second_value
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
            GROUP BY user_id
            ORDER BY user_id NULLS FIRST"""))

  /** Count-Min frequency sketch (q_agg_cms): the third sketch family
    * next to HLL (distinct) and approx-percentile (quantiles) — a
    * fixed-memory frequency table whose merge is cellwise addition, so
    * per-partition sketches sum at any scale. The sketch is built by the
    * built-in count_min_sketch aggregate; estimates are read back via a
    * small deserializing UDF (inherently JVM-library code, like the
    * sketch itself). Oracle-eligible via exact-vs-approx: exact counts
    * cross-check in DuckDB; the Spark-side flag encodes the CMS
    * contract (never undercounts, overcount bounded by eps·N — 1% is
    * generous for eps=1e-4). */
  val qAggCms = Q(
    "q_agg_cms",
    (s, d) => {
      val sk = ev(s, d).agg(expr(
        "count_min_sketch(event_type, 0.0001d, 0.99d, 42)").as("sk"))
      val est = udf { (sk: Array[Byte], item: String) =>
        org.apache.spark.util.sketch.CountMinSketch
          .readFrom(new java.io.ByteArrayInputStream(sk))
          .estimateCount(item)
      }
      ev(s, d).groupBy($"event_type")
        .agg(count(lit(1)).as("exact_n"))
        .crossJoin(broadcast(sk))
        .select($"event_type", $"exact_n",
          est($"sk", $"event_type").as("e"))
        .select($"event_type", $"exact_n",
          ($"e" >= $"exact_n" && $"e" <= $"exact_n" * 1.01 + 5)
            .cast("int").as("within_bound"))
        .orderBy($"event_type")
    },
    Some("""SELECT event_type, count(*) AS exact_n,
              CAST(1 AS INTEGER) AS within_bound
            FROM events GROUP BY event_type
            ORDER BY event_type NULLS FIRST"""))

  // ---------------------------------------------------------------- dollar

  // Minimal $-interpolator so the bodies above read like the guide's idioms
  // without importing a SparkSession's implicits per closure.
  private implicit class Dollar(val sc: StringContext) {
    def $(args: Any*): Column = col(sc.s(args: _*))
  }

  /** Null-safe equi-join (q_join_nullsafe): Spark's `<=>` /
    * SQL `IS NOT DISTINCT FROM` — the join variant where NULL keys
    * MATCH each other instead of vanishing. The key is the event's
    * k-bucket with bucket 0 mapped to NULL by nullif (an "unbucketed"
    * class, the usual shape of optional dimensions); per-bucket
    * counts of the first half-month join those of the second, and the
    * NULL row survives — a plain `=` join would silently drop that
    * class from any drift report. Same hash-join physicals as an
    * equi-join (null-safe keys still hash-partition); two aggregates
    * + one bucket-grid join. */
  val qJoinNullsafe = Q(
    "q_join_nullsafe",
    (s, d) => {
      def half(pred: Column): DataFrame =
        ev(s, d).filter(pred)
          .select(expr(
            """nullif(CAST(get_json_object(props, '$.k') AS BIGINT)
               % 5, 0)""").as("bucket"))
          .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      val cut = lit("2024-01-16").cast("timestamp_ntz")
      val a = half(col("ts") < cut)
        .withColumnRenamed("n", "n_first")
      val b = half(col("ts") >= cut)
        .select(col("bucket").as("bucket_b"), col("n").as("n_second"))
      a.join(b, col("bucket") <=> col("bucket_b"))
        .select(col("bucket"), col("n_first"), col("n_second"),
          (col("n_second") - col("n_first")).as("delta"))
        .orderBy(col("bucket"))
    },
    Some("""WITH halves AS (
              SELECT nullif(CAST(props ->> '$.k' AS BIGINT) % 5, 0)
                  AS bucket,
                ts < TIMESTAMP '2024-01-16 00:00:00' AS first_half
              FROM events),
            a AS (
              SELECT bucket, CAST(count(*) AS BIGINT) AS n_first
              FROM halves WHERE first_half GROUP BY bucket),
            b AS (
              SELECT bucket, CAST(count(*) AS BIGINT) AS n_second
              FROM halves WHERE NOT first_half GROUP BY bucket)
            SELECT a.bucket, n_first, n_second,
              n_second - n_first AS delta
            FROM a JOIN b ON a.bucket IS NOT DISTINCT FROM b.bucket
            ORDER BY a.bucket NULLS FIRST"""))

  val all: Seq[Q] = Seq(
    qScanParquet, qProject, qFilterPred,
    qJoinInner, qJoinBroadcast, qJoinLeft, qJoinSemi, qJoinAnti,
    qJoinRange, qJoinAsof, qJoinAsofForward, qJoinAsofNearest,
    qJoinAsofTolerance,
    qJoinAsofNative,
    qJoinAsofBcast, qJoinTheta, qJoinNullsafe,
    qAggHash, qAggMulti, qAggDistinct, qAggApproxDistinct, qAggStddev,
    qAggCorr, qAggPercentile, qAggRollup, qAggCube, qAggGroupingSets,
    qAggFiltered,
    qWinRank, qWinLag, qWinRunning, qWinSliding, qWinFirstLast,
    qWinRangeFrame, qWinDistribution, qSubqueryExists,
    qAggApproxPercentile, qAggCms,
    qSort, qTopk, qLimit,
    qUnion, qIntersect, qExcept, qSetopAll,
    qFnString, qFnDate, qFnMath, qFnArray, qFnMap, qFnJson, qFnCond)
}
