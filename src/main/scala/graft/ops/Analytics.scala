package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Composite analytics in the classic TPC-H shapes, adapted to the
  * driver's star schema — full multi-join + aggregate + order + limit
  * programs, the queries a reference user would actually run over the
  * archive. All joins follow the broadcast-dims / shuffle-facts split;
  * AQE reorders and sizes the rest. */
object Analytics {

  private def t(n: String)(implicit s: SparkSession, d: String) =
    Tables.t(s, d, n)

  /** Q3 shape — unshipped-order revenue by order for one segment. */
  val qTpchQ3 = Q(
    "q_tpch_q3",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      t("customer").filter(col("c_mktsegment") === "BUILDING")
        .join(t("orders"),
          col("c_custkey") === col("o_custkey") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp_ntz"))
        .join(t("lineitem"),
          col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > lit("1998-01-01").cast("timestamp_ntz"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(round(sum(col("l_extendedprice") *
          (lit(1.0) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    },
    Some("""SELECT o_orderkey, o_orderdate,
              round(sum(l_extendedprice * (1.0 - l_discount)), 2)
                AS revenue
            FROM customer
              JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON o_orderkey = l_orderkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-01-01'
              AND l_shipdate > TIMESTAMP '1998-01-01'
            GROUP BY o_orderkey, o_orderdate
            ORDER BY revenue DESC NULLS LAST, o_orderkey NULLS FIRST
            LIMIT 10"""))

  /** Q5 shape — local-supplier revenue per nation inside one region. */
  val qTpchQ5 = Q(
    "q_tpch_q5",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      t("customer")
        .join(t("orders"), col("c_custkey") === col("o_custkey"))
        .join(t("lineitem"), col("o_orderkey") === col("l_orderkey"))
        .join(t("supplier"),
          col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(t("nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t("region")),
          col("n_regionkey") === col("r_regionkey") &&
          col("r_name") === "ASIA")
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") *
          (lit(1.0) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
    Some("""SELECT n_name,
              round(sum(l_extendedprice * (1.0 - l_discount)), 2)
                AS revenue
            FROM customer
              JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON o_orderkey = l_orderkey
              JOIN supplier ON l_suppkey = s_suppkey
                           AND c_nationkey = s_nationkey
              JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
            GROUP BY n_name
            ORDER BY revenue DESC NULLS LAST, n_name NULLS FIRST"""))

  /** Q10 shape — returned-item revenue attribution per customer. */
  val qTpchQ10 = Q(
    "q_tpch_q10",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      t("customer")
        .join(t("orders"), col("c_custkey") === col("o_custkey"))
        .join(t("lineitem"),
          col("o_orderkey") === col("l_orderkey") &&
          col("l_returnflag") === "R")
        .join(broadcast(t("nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"),
          col("c_acctbal"))
        .agg(round(sum(col("l_extendedprice") *
          (lit(1.0) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },
    Some("""SELECT c_custkey, c_name, n_name, c_acctbal,
              round(sum(l_extendedprice * (1.0 - l_discount)), 2)
                AS revenue
            FROM customer
              JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON o_orderkey = l_orderkey
              JOIN nation ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
            GROUP BY c_custkey, c_name, n_name, c_acctbal
            ORDER BY revenue DESC NULLS LAST, c_custkey NULLS FIRST
            LIMIT 20"""))

  /** Q21 shape — "suppliers who kept orders waiting": the one classic
    * multi-correlation pattern where a semi join AND an anti join
    * correlate on the SAME fact. A line is "late" when it was returned
    * (l_returnflag = 'R' — this schema's lateness marker); a supplier
    * waits an order when it is the ONLY late supplier on a
    * multi-supplier finished order. Both correlations collapse to
    * per-ORDER hash aggregates over ONE fact scan (the r15
    * second-pass-derivation discipline, retro-applied to this
    * allowlisted 3-scan id): "EXISTS another supplier on the order" is
    * min(l_suppkey) ≠ max(l_suppkey) within the order, and "NOT EXISTS
    * another LATE supplier" is min = max over the late rows' suppkeys
    * (non-empty ⇒ every late line belongs to that one supplier, who
    * contributes ALL of the order's late lines to numwait — so the
    * per-line final count becomes sum(n_late)). A hash aggregate, not
    * a window: min/max/count partial-aggregate map-side, so the one
    * equi-shuffle on l_orderkey moves order-grain rows and nothing is
    * sorted — strictly fewer fact passes AND less shuffled data than
    * the old three-scan/two-self-join form at any scale (a window form
    * was A/B'd and rejected: Spark's WindowExec sorts every partition
    * even for unbounded min/max frames, costing a full fact sort).
    * Nation is a broadcast dim and the final top-k is
    * TakeOrderedAndProject, per the q_tpch_q1 discipline. */
  val qTpchQ21 = Q(
    "q_tpch_q21",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      val lateSupp = when(col("l_returnflag") === "R", col("l_suppkey"))
      t("lineitem")
        .groupBy(col("l_orderkey"))
        .agg(
          min(col("l_suppkey")).as("smin"),
          max(col("l_suppkey")).as("smax"),
          min(lateSupp).as("lmin"),
          max(lateSupp).as("lmax"),
          count(lateSupp).as("n_late"))
        .filter(col("smin") =!= col("smax") &&
          col("lmin").isNotNull && col("lmin") === col("lmax"))
        .join(t("orders").filter(col("o_orderstatus") === "F")
            .select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_semi")
        .join(t("supplier"), col("lmin") === col("s_suppkey"))
        .join(broadcast(t("nation")),
          col("s_nationkey") === col("n_nationkey") &&
          col("n_name").isin("NATION_1", "NATION_3", "NATION_5",
            "NATION_7"))
        .groupBy(col("s_name"))
        .agg(sum(col("n_late")).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(100)
    },
    Some("""SELECT s_name, count(*) AS numwait
            FROM supplier
              JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
              JOIN orders ON o_orderkey = l1.l_orderkey
              JOIN nation ON s_nationkey = n_nationkey
            WHERE o_orderstatus = 'F'
              AND l1.l_returnflag = 'R'
              AND EXISTS (SELECT 1 FROM lineitem l2
                          WHERE l2.l_orderkey = l1.l_orderkey
                            AND l2.l_suppkey <> l1.l_suppkey)
              AND NOT EXISTS (SELECT 1 FROM lineitem l3
                              WHERE l3.l_orderkey = l1.l_orderkey
                                AND l3.l_suppkey <> l1.l_suppkey
                                AND l3.l_returnflag = 'R')
              AND n_name IN ('NATION_1','NATION_3','NATION_5','NATION_7')
            GROUP BY s_name
            ORDER BY numwait DESC NULLS LAST, s_name NULLS FIRST
            LIMIT 100"""))

  /** Q4 shape — order-priority checking: orders in a window having at
    * least one returned line, counted by priority. The EXISTS is a
    * left_semi against the pre-filtered fact projection — the probe
    * side carries only l_orderkey, so the semi shuffle moves one
    * column of the fact, and the date filter prunes orders at the
    * scan (PushedFilters). */
  val qTpchQ4 = Q(
    "q_tpch_q4",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      t("orders")
        .filter(
          col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp_ntz"))
        .join(t("lineitem").filter(col("l_returnflag") === "R")
            .select(col("l_orderkey")),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""SELECT o_orderpriority, count(*) AS order_count
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
              AND EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey
                            AND l_returnflag = 'R')
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority NULLS FIRST"""))

  /** Q7 shape — volume shipping between two nations, keyed by the
    * (supplier-nation, customer-nation) pair. Nation is joined TWICE in
    * different roles; both role copies are filtered to the two nations
    * of interest BEFORE the broadcast, so the fact rows that survive
    * are pruned by the broadcast hash sets, never re-scanned. */
  val qTpchQ7 = Q(
    "q_tpch_q7",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      val pair = Seq("NATION_1", "NATION_2")
      val n1 = t("nation").filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("nk1"),
          col("n_name").as("supp_nation"))
      val n2 = t("nation").filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("nk2"),
          col("n_name").as("cust_nation"))
      t("supplier")
        .join(t("lineitem"), col("s_suppkey") === col("l_suppkey"))
        .join(t("orders"), col("o_orderkey") === col("l_orderkey"))
        .join(t("customer"), col("c_custkey") === col("o_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("nk1"))
        .join(broadcast(n2), col("c_nationkey") === col("nk2"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"))
        .agg(round(sum(col("l_extendedprice") *
          (lit(1.0) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"))
    },
    Some("""SELECT supp_nation, cust_nation,
              round(sum(volume), 2) AS revenue
            FROM (
              SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                l_extendedprice * (1.0 - l_discount) AS volume
              FROM supplier
                JOIN lineitem ON s_suppkey = l_suppkey
                JOIN orders ON o_orderkey = l_orderkey
                JOIN customer ON c_custkey = o_custkey
                JOIN nation n1 ON s_nationkey = n1.n_nationkey
                JOIN nation n2 ON c_nationkey = n2.n_nationkey
              WHERE n1.n_name IN ('NATION_1', 'NATION_2')
                AND n2.n_name IN ('NATION_1', 'NATION_2')
                AND n1.n_name <> n2.n_name) x
            GROUP BY supp_nation, cust_nation
            ORDER BY supp_nation NULLS FIRST, cust_nation NULLS FIRST"""))

  /** Q14 shape — promo revenue share: one conditional-sum ratio over the
    * lineitem–part join in a ship-date window. Only (p_partkey, p_type)
    * leave the part scan, so the join's build side is two columns wide
    * whatever the part payload; the date filter pushes to the fact
    * scan. No broadcast hint: at bench scale the projected part side
    * auto-broadcasts, at 100 TB AQE picks the shuffle join. */
  val qTpchQ14 = Q(
    "q_tpch_q14",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      t("lineitem")
        .filter(
          col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp_ntz"))
        .join(t("part").select(col("p_partkey"), col("p_type")),
          col("l_partkey") === col("p_partkey"))
        .agg(round(lit(100.0) *
          sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0.0))) /
          sum(rev), 6).as("promo_pct"))
    },
    Some("""SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                THEN l_extendedprice * (1.0 - l_discount)
                ELSE 0.0 END)
              / sum(l_extendedprice * (1.0 - l_discount)), 6)
              AS promo_pct
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'"""))

  /** Q13 shape — customer order-count distribution: LEFT join with a
    * predicate ON THE JOIN (not a post-filter — unmatched customers
    * must survive with count 0), then a two-level aggregate where the
    * second groupBy runs over at most #distinct-counts rows. One fact
    * shuffle on the join key; the histogram re-agg is driver-trivial
    * at any scale. */
  val qTpchQ13 = Q(
    "q_tpch_q13",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      t("customer").select(col("c_custkey"))
        .join(t("orders").filter(col("o_orderpriority") =!= "5-LOW")
            .select(col("o_custkey"), col("o_orderkey")),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
    Some("""SELECT c_count, count(*) AS custdist FROM (
              SELECT c_custkey, count(o_orderkey) AS c_count
              FROM customer LEFT JOIN orders ON c_custkey = o_custkey
                AND o_orderpriority <> '5-LOW'
              GROUP BY c_custkey) x
            GROUP BY c_count
            ORDER BY custdist DESC NULLS LAST, c_count DESC NULLS LAST"""))

  /** Q22 shape — global-acquaintance check: customers above the global
    * average balance with no urgent order, bucketed by country code
    * (nationkey mod 10 stands in for the phone prefix). The scalar
    * subquery is a one-row broadcast; the NOT EXISTS is a left_anti
    * keyed on custkey — the second half of the Q21 correlation family. */
  val qTpchQ22 = Q(
    "q_tpch_q22",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      val cust = t("customer")
      val avgBal = cust.filter(col("c_acctbal") > 0.0)
        .agg(avg(col("c_acctbal")).as("m"))
      cust
        .crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("m"))
        .join(t("orders").filter(col("o_orderpriority") === "1-URGENT")
            .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy((col("c_nationkey") % 10).as("cntrycode"))
        .agg(count(lit(1)).as("numcust"),
          round(sum(col("c_acctbal")), 2).as("totacctbal"))
        .orderBy(col("cntrycode"))
    },
    Some("""SELECT cntrycode, count(*) AS numcust,
              round(sum(c_acctbal), 2) AS totacctbal
            FROM (
              SELECT c_nationkey % 10 AS cntrycode, c_acctbal, c_custkey
              FROM customer
              WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                                 WHERE c_acctbal > 0.0)
                AND NOT EXISTS (SELECT 1 FROM orders
                                WHERE o_custkey = c_custkey
                                  AND o_orderpriority = '1-URGENT')) x
            GROUP BY cntrycode
            ORDER BY cntrycode NULLS FIRST"""))

  /** Re-aggregatable distinct via HLL sketches (q_agg_hll_merge): build
    * one sketch per event_type, then UNION the sketches for the global
    * estimate — the 100 TB pattern where per-partition/per-day sketches
    * are stored once and merged at query time instead of re-scanning raw
    * keys. Oracle-eligible via exact-vs-approx: exact distinct counts
    * cross-check in DuckDB; a Spark-side flag bounds every estimate
    * (per-slice and merged-union) within 5% of exact. */
  val qAggHllMerge = Q(
    "q_agg_hll_merge",
    (sp, dir) => {
      val events = Tables.t(sp, dir, "events")
      val sketches = events
        .groupBy(col("event_type"))
        .agg(expr("hll_sketch_agg(user_id)").as("sk"),
          countDistinct(col("user_id")).as("exact_users"))
      val perType = sketches
        .select(col("event_type").as("scope"), col("exact_users"),
          expr("hll_sketch_estimate(sk)").as("est"))
      val overall = sketches
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
        .crossJoin(broadcast(
          events.agg(countDistinct(col("user_id")).as("exact_users"))))
        .select(lit("__union__").as("scope"), col("exact_users"),
          col("est"))
      perType.unionAll(overall)
        .select(col("scope"), col("exact_users"),
          (abs(col("est") - col("exact_users")) <=
            col("exact_users") * 0.05).cast("int").as("within_5pct"))
        .orderBy(col("scope"))
    },
    Some("""SELECT event_type AS scope,
              count(DISTINCT user_id) AS exact_users,
              CAST(1 AS INTEGER) AS within_5pct
            FROM events GROUP BY event_type
            UNION ALL
            SELECT '__union__', count(DISTINCT user_id),
              CAST(1 AS INTEGER)
            FROM events
            ORDER BY scope NULLS FIRST"""))

  /** Time-series resample + forward fill (q_resample_ffill): snap each
    * board's signal to an hourly grid over its own [first, last] span
    * and carry the last observation forward through empty hours — the
    * gap-filling step before any rate/trend analytic. Grid generation is
    * a per-key sequence explode (no cross join against a calendar
    * table); the fill is one window pass. */
  val qResampleFfill = Q(
    "q_resample_ffill",
    (sp, dir) => {
      import org.apache.spark.sql.expressions.Window
      val hourly = Tables.t(sp, dir, "events")
        .filter(col("user_id") < 8)
        .groupBy(col("user_id"),
          date_trunc("hour", col("ts")).cast("timestamp_ntz").as("h"))
        .agg(round(avg(col("value")), 6).as("v"),
          count(lit(1)).as("n_obs"))
      val grid = hourly.groupBy(col("user_id"))
        .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
        .select(col("user_id"),
          explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("h"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(hourly, Seq("user_id", "h"), "left")
        .select(col("user_id"), col("h"),
          last(col("v"), ignoreNulls = true).over(w).as("v_ffill"),
          coalesce(col("n_obs"), lit(0L)).as("n_obs"))
        .orderBy(col("user_id"), col("h"))
    },
    Some("""WITH hourly AS (
              SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS h,
                round(avg(value), 6) AS v, count(*) AS n_obs
              FROM events WHERE user_id < 8
              GROUP BY user_id, h),
            grid AS (
              SELECT user_id, unnest(generate_series(min(h), max(h),
                INTERVAL '1 hour')) AS h
              FROM hourly GROUP BY user_id)
            SELECT g.user_id, g.h,
              last_value(v IGNORE NULLS) OVER (
                PARTITION BY g.user_id ORDER BY g.h
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS v_ffill,
              coalesce(n_obs, 0) AS n_obs
            FROM grid g LEFT JOIN hourly USING (user_id, h)
            ORDER BY g.user_id NULLS FIRST, g.h NULLS FIRST"""))

  /** SCD2 validity intervals (q_scd2): collapse each board's event-type
    * stream into change rows with [valid_from, valid_to) windows and an
    * is_current flag — the slowly-changing-dimension shape a warehouse
    * merge emits. Two window passes (change detection, then interval
    * close-off), both over the same (user_id | ts, event_id) shuffle. */
  val qScd2 = Q(
    "q_scd2",
    (sp, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wLag = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val changes = Tables.t(sp, dir, "events")
        .filter(col("user_id") < 50)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(wLag))
        .filter(col("prev_type").isNull ||
          col("prev_type") =!= col("event_type"))
      changes
        .withColumn("valid_to", lead(col("ts"), 1).over(wLag))
        .select(col("user_id"), col("event_type"),
          col("ts").as("valid_from"), col("valid_to"),
          col("valid_to").isNull.as("is_current"))
        .orderBy(col("user_id"), col("valid_from"), col("event_type"))
    },
    Some("""WITH changes AS (
              SELECT user_id, ts, event_id, event_type
              FROM (SELECT user_id, ts, event_id, event_type,
                      lag(event_type) OVER w AS prev_type
                    FROM events WHERE user_id < 50
                    WINDOW w AS (PARTITION BY user_id
                                 ORDER BY ts, event_id))
              WHERE prev_type IS NULL OR prev_type != event_type)
            SELECT user_id, event_type, ts AS valid_from,
              lead(ts) OVER w AS valid_to,
              lead(ts) OVER w IS NULL AS is_current
            FROM changes
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ORDER BY user_id NULLS FIRST, valid_from NULLS FIRST,
              event_type NULLS FIRST"""))

  /** Q1 shape — the pricing-summary report: one full-fact scan into a
    * grouped aggregate over a 6-value key. THE map-side-combine
    * benchmark: partial aggregation collapses each partition to ≤6
    * rows before the shuffle, so the exchange is constant-size at any
    * scale. Every summed value is quantized per row to whole cents and
    * summed as BIGINT (the q_tpch_q11 rule): a double sum changes in
    * its last bits with the order rows arrive in, enough to flip
    * round(x, 2) on large sums (SumOrderSpec). Averages are the cent
    * sum over the count, rounded half-up to a millionth in integer
    * arithmetic (cents·2·10⁴ stays below 2⁶³ for group sums under
    * ~4·10¹² of price, far past the tested scales). */
  val qTpchQ1 = Q(
    "q_tpch_q1",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      def centSum(x: org.apache.spark.sql.Column) =
        sum(floor(x * 100 + 0.5).cast("long"))
      def avgMicros(c: String) =
        expr(s"($c * 20000 + count_order) div (2 * count_order)") / lit(1e6)
      val discPrice = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      t("lineitem")
        .filter(col("l_shipdate") <=
          lit("1998-09-01").cast("timestamp_ntz"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          centSum(col("l_quantity")).as("qty_c"),
          centSum(col("l_extendedprice")).as("price_c"),
          centSum(discPrice).as("disc_price_c"),
          centSum(discPrice * (lit(1.0) + col("l_tax"))).as("charge_c"),
          centSum(col("l_discount")).as("disc_c"),
          count(lit(1)).as("count_order"))
        .select(col("l_returnflag"), col("l_linestatus"),
          (col("qty_c") / 100.0).as("sum_qty"),
          (col("price_c") / 100.0).as("sum_base_price"),
          (col("disc_price_c") / 100.0).as("sum_disc_price"),
          (col("charge_c") / 100.0).as("sum_charge"),
          avgMicros("qty_c").as("avg_qty"),
          avgMicros("price_c").as("avg_price"),
          avgMicros("disc_c").as("avg_disc"),
          col("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    Some("""WITH g AS (
              SELECT l_returnflag, l_linestatus,
                CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS qty_c,
                CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS price_c,
                CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount)
                  * 100 + 0.5) AS BIGINT)) AS BIGINT) AS disc_price_c,
                CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount)
                  * (1.0 + l_tax) * 100 + 0.5) AS BIGINT)) AS BIGINT)
                  AS charge_c,
                CAST(sum(CAST(floor(l_discount * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS disc_c,
                count(*) AS count_order
              FROM lineitem
              WHERE l_shipdate <= TIMESTAMP '1998-09-01'
              GROUP BY l_returnflag, l_linestatus)
            SELECT l_returnflag, l_linestatus,
              qty_c / 100.0e0 AS sum_qty,
              price_c / 100.0e0 AS sum_base_price,
              disc_price_c / 100.0e0 AS sum_disc_price,
              charge_c / 100.0e0 AS sum_charge,
              CAST((qty_c * 20000 + count_order) // (2 * count_order)
                AS BIGINT) / 1e6 AS avg_qty,
              CAST((price_c * 20000 + count_order) // (2 * count_order)
                AS BIGINT) / 1e6 AS avg_price,
              CAST((disc_c * 20000 + count_order) // (2 * count_order)
                AS BIGINT) / 1e6 AS avg_disc,
              count_order
            FROM g
            ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""))

  /** Q18 shape — large-volume customers: aggregate the fact table,
    * filter on the aggregate (HAVING), then join the qualifying keys
    * BACK to the dimensions. The having-set is tiny, so the join back
    * is a broadcast — the scale contract is one fact shuffle (the
    * per-order agg) and no second fact pass. */
  val qTpchQ18 = Q(
    "q_tpch_q18",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      val bigOrders = t("lineitem")
        .groupBy(col("l_orderkey"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"))
        .filter(col("sum_qty") > 300.0)
      t("orders")
        .join(org.apache.spark.sql.functions.broadcast(bigOrders),
          col("o_orderkey") === col("l_orderkey"))
        .join(t("customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
    },
    Some("""SELECT c_custkey, c_name, o_orderkey, o_orderdate,
              o_totalprice, sum_qty
            FROM (SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty
                  FROM lineitem GROUP BY l_orderkey
                  HAVING round(sum(l_quantity), 2) > 300.0) big
              JOIN orders ON o_orderkey = l_orderkey
              JOIN customer ON o_custkey = c_custkey
            ORDER BY o_totalprice DESC NULLS LAST, o_orderkey NULLS FIRST
            LIMIT 20"""))

  /** Ordered conversion funnel (q_funnel): view → click → purchase,
    * each stage's timestamp strictly after the previous stage's — the
    * product-analytics query behind every activation dashboard. Three
    * TYPE-PRUNED scans, three user-grain rollups, ONE final aggregate
    * (r16 rework of this allowlisted 6-scan id): each stage scan reads
    * only its event type; clicks/purchases roll up to per-user SORTED
    * timestamp lists (user-activity-bounded); the stage cutoffs then
    * resolve IN-ROW over the co-partitioned user-grain join — c_ts =
    * first click after v_ts, p_ts = first purchase after c_ts — so all
    * three funnel counts come from one aggregate with zero chain
    * re-derivation. The old form's three per-stage counts each
    * re-derived the join chain (6 fact scans); the intermediate
    * one-scan window form was measured and rejected — it shuffled and
    * sorted the WHOLE fact by user where this shape shuffles only the
    * type subsets' (user, ts) pairs, map-side-pruned at the scan. */
  val qFunnel = Q(
    "q_funnel",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      val ev = t("events").select(col("user_id"), col("event_type"),
        col("ts"))
      def tsList(tp: String, name: String) =
        ev.filter(col("event_type") === tp)
          .groupBy(col("user_id"))
          .agg(sort_array(collect_list(col("ts"))).as(name))
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
      v.join(tsList("click", "cls"), Seq("user_id"), "left")
        .join(tsList("purchase", "pls"), Seq("user_id"), "left")
        .withColumn("c_ts", expr(
          "get(filter(cls, x -> x > v_ts), 0)"))
        .withColumn("p_ts", expr(
          "get(filter(pls, x -> x > c_ts), 0)"))
        .agg(
          count(lit(1)).as("n_v"),
          sum(col("c_ts").isNotNull.cast("long")).as("n_c"),
          sum(col("p_ts").isNotNull.cast("long")).as("n_p"))
        .selectExpr("""stack(3,
          '1_view', n_v, '2_click', n_c, '3_purchase', n_p)
          AS (stage, n_users)""")
        .orderBy(col("stage"))
    },
    Some("""WITH v AS (
              SELECT user_id, min(ts) AS v_ts FROM events
              WHERE event_type = 'view' GROUP BY user_id),
            c AS (
              SELECT e.user_id, min(e.ts) AS c_ts
              FROM events e JOIN v ON e.user_id = v.user_id
              WHERE e.event_type = 'click' AND e.ts > v.v_ts
              GROUP BY e.user_id),
            p AS (
              SELECT e.user_id, min(e.ts) AS p_ts
              FROM events e JOIN c ON e.user_id = c.user_id
              WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
              GROUP BY e.user_id)
            SELECT '1_view' AS stage, count(*) AS n_users FROM v
            UNION ALL
            SELECT '2_click', count(*) FROM c
            UNION ALL
            SELECT '3_purchase', count(*) FROM p
            ORDER BY stage NULLS FIRST"""))

  /** Weekly cohort retention (q_retention): users grouped by
    * first-activity week, counted per (cohort_week, weeks-since-cohort)
    * — the retention-matrix query. Two keyed aggregates: first-activity
    * per user (one shuffle by user), then a distinct count per
    * (cohort, offset) cell; the matrix output is weeks² rows whatever
    * the event volume. */
  val qRetention = Q(
    "q_retention",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      // explicit floor() on BOTH sides: Spark integer `div` truncates
      // toward zero while DuckDB `//` floors, so events before the epoch
      // date would otherwise land in week 0 here and week -1 there
      val acts = t("events")
        .select(col("user_id"),
          expr("floor(datediff(CAST(ts AS DATE), DATE'2024-01-01') / 7)")
            .cast("long").as("week"))
        .distinct()
      // cohort week as a per-user min-window over the distinct
      // (user, week) frame (r15 window-derivation discipline): the
      // groupBy + join-back re-derived acts — and acts' lineage is the
      // fact-wide distinct, so events was scanned and deduped twice.
      // Per-user partitions are calendar-bounded (≤ weeks in span),
      // and the (user, week) rows are distinct, so the offset cell
      // count needs no distinct expand either — plain count.
      import org.apache.spark.sql.expressions.Window
      acts
        .withColumn("cohort_week",
          min(col("week")).over(Window.partitionBy(col("user_id"))))
        .groupBy(col("cohort_week"),
          (col("week") - col("cohort_week")).as("week_offset"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("cohort_week"), col("week_offset"))
    },
    Some("""WITH acts AS (
              SELECT DISTINCT user_id,
                CAST(floor(date_diff('day', DATE '2024-01-01',
                  CAST(ts AS DATE)) / 7.0) AS BIGINT) AS week
              FROM events),
            cohorts AS (
              SELECT user_id, min(week) AS cohort_week
              FROM acts GROUP BY user_id)
            SELECT c.cohort_week, a.week - c.cohort_week AS week_offset,
              count(DISTINCT a.user_id) AS n_users
            FROM acts a JOIN cohorts c ON a.user_id = c.user_id
            GROUP BY c.cohort_week, week_offset
            ORDER BY c.cohort_week NULLS FIRST, week_offset NULLS FIRST"""))

  val all: Seq[Q] = Seq(qTpchQ3, qTpchQ5, qTpchQ10, qAggHllMerge,
    qResampleFfill, qScd2, qTpchQ1, qTpchQ18, qTpchQ21, qTpchQ4,
    qTpchQ7, qTpchQ13, qTpchQ14, qTpchQ22, qFunnel, qRetention)
}
