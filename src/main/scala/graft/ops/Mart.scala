package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Decision-support mart: the eleven TPC-H shapes not yet in Analytics
  * (Q2/6/8/9/11/12/15/16/17/19/20), adapted to the driver's reduced
  * star schema. There is no `partsupp` table here, so every
  * part-supplier relationship is derived from `lineitem` (the actual
  * shipments); the classic correlated-subquery patterns survive intact:
  * per-group MIN/AVG/MAX thresholds become small aggregate tables
  * broadcast back against the fact, never a second fact shuffle.
  * Completes the full 22-query TPC-H surface together with
  * Analytics.scala (Q1/3/4/5/7/10/13/14/18/21/22). */
object Mart {

  private def t(n: String)(implicit s: SparkSession, d: String) =
    Tables.t(s, d, n)

  /** Sum of a money value rounded per row to whole cents, as BIGINT:
    * exact, so independent of the order rows arrive in (a double sum's
    * last bits are not, enough to flip round(x, 2) on large sums). The
    * one Spark-side definition for every TPC-H shape here and in
    * Analytics; oracles spell it
    * `CAST(sum(CAST(floor(x * 100 + 0.5) AS BIGINT)) AS BIGINT)`. */
  private[ops] def centSum(x: org.apache.spark.sql.Column) =
    sum(floor(x * 100 + 0.5).cast("long"))

  /** Q2 shape — min-cost supplier per part: for each mid-size LARGE
    * part, the EUROPE supplier whose observed unit price
    * (min l_extendedprice/l_quantity over their shipments) is the
    * part's minimum. The correlated `cost = (SELECT min ...)` becomes a
    * per-part aggregate joined back by (part, cost); both the filtered
    * part list and the per-part minimum table are dimension-sized, so
    * each joins broadcast — the fact is scanned once. */
  val qTpchQ2 = Q(
    "q_tpch_q2",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      val euSupp = t("supplier")
        .join(broadcast(t("nation")
            .join(t("region").filter(col("r_name") === "EUROPE"),
              col("n_regionkey") === col("r_regionkey"))
            .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
          col("n_name"))
      val pt = t("part")
        .filter(col("p_size").between(10, 20) && col("p_type") === "LARGE")
        .select(col("p_partkey"))
      val costs = t("lineitem")
        .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
        .join(euSupp, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("p_partkey"), col("s_suppkey"), col("s_name"),
          col("s_acctbal"), col("n_name"))
        .agg(round(min(col("l_extendedprice") / col("l_quantity")), 4)
          .as("cost"))
      val minCost = costs.groupBy(col("p_partkey").as("mk"))
        .agg(min(col("cost")).as("min_cost"))
      costs
        .join(broadcast(minCost),
          col("p_partkey") === col("mk") && col("cost") === col("min_cost"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("cost"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
        .limit(100)
    },
    Some("""WITH costs AS (
              SELECT p_partkey, s_suppkey, s_name, s_acctbal, n_name,
                round(min(l_extendedprice / l_quantity), 4) AS cost
              FROM lineitem
                JOIN part ON l_partkey = p_partkey
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation ON s_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
              WHERE p_size BETWEEN 10 AND 20 AND p_type = 'LARGE'
                AND r_name = 'EUROPE'
              GROUP BY p_partkey, s_suppkey, s_name, s_acctbal, n_name)
            SELECT s_acctbal, s_name, n_name, p_partkey, cost
            FROM costs c1
            WHERE cost = (SELECT min(cost) FROM costs c2
                          WHERE c2.p_partkey = c1.p_partkey)
            ORDER BY s_acctbal DESC NULLS LAST, n_name NULLS FIRST,
              s_name NULLS FIRST, p_partkey NULLS FIRST
            LIMIT 100"""))

  /** Q6 shape — forecast revenue change: one full-scan conditional sum.
    * All three predicates push to the parquet scan; the aggregate is a
    * map-side partial → single-row exchange. The simplest query in the
    * suite and the purest scan-throughput probe. Revenue is summed in
    * whole cents per row (the q_tpch_q11 rule), so the order rows
    * reach the aggregate cannot move the emitted value. */
  val qTpchQ6 = Q(
    "q_tpch_q6",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      t("lineitem")
        .filter(
          col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp_ntz") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        .agg((centSum(col("l_extendedprice") * col("l_discount")) / 100.0)
          .as("revenue"))
    },
    Some("""SELECT CAST(sum(CAST(floor(l_extendedprice * l_discount * 100
              + 0.5) AS BIGINT)) AS BIGINT) / 100.0e0 AS revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
              AND l_discount BETWEEN 0.05 AND 0.07
              AND l_quantity < 24"""))

  /** Q8 shape — national market share: of the ECONOMY-part volume sold
    * to ASIA customers in 1996–97, the fraction supplied from NATION_3,
    * per year. Nation plays two roles (customer side restricts, supplier
    * side labels); both role copies and the filtered part list broadcast,
    * so the two conditional sums ride one fact pass. */
  val qTpchQ8 = Q(
    "q_tpch_q8",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      val custNations = t("nation")
        .join(t("region").filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("cnk"))
      val suppNations = t("nation")
        .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))
      val volume = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      t("lineitem")
        .join(broadcast(t("part").filter(col("p_type") === "ECONOMY")
            .select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"))
        .join(t("orders").filter(
            col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp_ntz")),
          col("l_orderkey") === col("o_orderkey"))
        .join(t("customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(custNations), col("c_nationkey") === col("cnk"))
        .join(t("supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(suppNations), col("s_nationkey") === col("snk"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(round(
          sum(when(col("supp_nation") === "NATION_3", volume)
            .otherwise(lit(0.0))) / sum(volume), 6).as("mkt_share"))
        .orderBy(col("o_year"))
    },
    Some("""SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
              round(sum(CASE WHEN n2.n_name = 'NATION_3'
                        THEN l_extendedprice * (1.0 - l_discount)
                        ELSE 0.0 END)
                / sum(l_extendedprice * (1.0 - l_discount)), 6)
                AS mkt_share
            FROM lineitem
              JOIN part ON l_partkey = p_partkey
              JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              JOIN nation n1 ON c_nationkey = n1.n_nationkey
              JOIN region ON n1.n_regionkey = r_regionkey
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation n2 ON s_nationkey = n2.n_nationkey
            WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1998-01-01'
            GROUP BY o_year
            ORDER BY o_year NULLS FIRST"""))

  /** Q9 shape — product-line profit by supplier nation and year. With no
    * partsupp.ps_supplycost, cost is modeled as 60% of the part's retail
    * price per unit — the join topology (part ⋈ lineitem ⋈ orders ⋈
    * supplier ⋈ nation, filter on part name) is the original's. Only
    * (p_partkey, p_retailprice) leave the part scan. Profit is summed
    * in whole cents per row (the q_tpch_q11 rule), so the join's row
    * order cannot move the emitted value. */
  val qTpchQ9 = Q(
    "q_tpch_q9",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      val amount = col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
        lit(0.6) * col("p_retailprice") * col("l_quantity")
      t("lineitem")
        .join(broadcast(t("part").filter(col("p_name").contains("widget"))
            .select(col("p_partkey"), col("p_retailprice"))),
          col("l_partkey") === col("p_partkey"))
        .join(t("orders").select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .join(t("supplier").select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t("nation")),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(centSum(amount).as("profit_c"))
        .select(col("nation"), col("o_year"),
          (col("profit_c") / 100.0).as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    },
    Some("""SELECT n_name AS nation,
              CAST(year(o_orderdate) AS BIGINT) AS o_year,
              CAST(sum(CAST(floor((l_extendedprice * (1.0 - l_discount)
                - 0.6 * p_retailprice * l_quantity) * 100 + 0.5) AS BIGINT))
                AS BIGINT) / 100.0e0 AS sum_profit
            FROM lineitem
              JOIN part ON l_partkey = p_partkey
              JOIN orders ON l_orderkey = o_orderkey
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation ON s_nationkey = n_nationkey
            WHERE p_name LIKE '%widget%'
            GROUP BY n_name, o_year
            ORDER BY nation NULLS FIRST, o_year DESC NULLS LAST"""))

  /** Q11 shape — important stock: per-part shipped value from two
    * nations' suppliers, kept when above 1.2× the mean per-part value. The scalar
    * threshold subquery is a one-row aggregate broadcast back via cross
    * join (the Catalyst scalar-subquery shape); threshold is relative so
    * the result survives scale factor changes. Values are summed in
    * integer CENTS: a double sum is addition-order-dependent and this
    * query both filters on and emits the sum, so a last-ulp wobble at a
    * rounding boundary would flip rows between engines — per-row
    * floor(x*100+0.5) is IEEE-deterministic and the BIGINT sum is
    * order-free. */
  val qTpchQ11 = Q(
    "q_tpch_q11",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      val cents = floor(col("l_extendedprice") *
        (lit(1.0) - col("l_discount")) * 100 + 0.5).cast("long")
      val values = t("lineitem")
        .join(t("supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t("nation")
            .filter(col("n_name").isin("NATION_3", "NATION_8"))),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("l_partkey").as("p_partkey"))
        .agg(sum(cents).as("cents"))
      val thresh = values.agg((avg(col("cents")) * 1.2).as("threshold"))
      values
        .crossJoin(broadcast(thresh))
        .filter(col("cents") > col("threshold"))
        .select(col("p_partkey"), (col("cents") / 100.0).as("value"))
        .orderBy(col("value").desc, col("p_partkey"))
    },
    Some("""WITH values_ AS (
              SELECT l_partkey AS p_partkey,
                CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount)
                  * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
              FROM lineitem
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation ON s_nationkey = n_nationkey
              WHERE n_name IN ('NATION_3', 'NATION_8')
              GROUP BY l_partkey)
            SELECT p_partkey, cents / 100.0 AS value
            FROM values_
            WHERE cents > (SELECT avg(cents) * 1.2 FROM values_)
            ORDER BY value DESC NULLS LAST, p_partkey NULLS FIRST"""))

  /** Q12 shape — late-shipment priority audit: lines shipped more than
    * 90 days after order placement, split high/low priority per line
    * status. The original's l_shipmode/commitdate/receiptdate don't
    * exist here; l_linestatus groups and shipdate-vs-orderdate lateness
    * keep the shape (join + dual conditional count). */
  val qTpchQ12 = Q(
    "q_tpch_q12",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      val isHigh = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      t("lineitem")
        .join(t("orders"), col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") >
          col("o_orderdate") + expr("INTERVAL 90 DAY"))
        .groupBy(col("l_linestatus"))
        .agg(
          sum(when(isHigh, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(isHigh, 0L).otherwise(1L)).as("low_line_count"))
        .orderBy(col("l_linestatus"))
    },
    Some("""SELECT l_linestatus,
              CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                       THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
              CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                       THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
            GROUP BY l_linestatus
            ORDER BY l_linestatus NULLS FIRST"""))

  /** Q15 shape — top supplier(s) by revenue in a quarter. The view +
    * `= (SELECT max ...)` pattern becomes a per-supplier aggregate and a
    * one-row max broadcast back (no second fact pass, no window over the
    * whole table). Ties all surface, ordered by key. Revenue is a whole
    * cent sum per row, so the max and the tie test are exact. */
  val qTpchQ15 = Q(
    "q_tpch_q15",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      val revenue = t("lineitem")
        .filter(
          col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp_ntz"))
        .groupBy(col("l_suppkey"))
        .agg(centSum(col("l_extendedprice") *
          (lit(1.0) - col("l_discount"))).as("rev_c"))
      val mx = revenue.agg(max(col("rev_c")).as("max_c"))
      revenue
        .crossJoin(broadcast(mx))
        .filter(col("rev_c") === col("max_c"))
        .join(t("supplier"), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          (col("rev_c") / 100.0).as("total_revenue"))
        .orderBy(col("s_suppkey"))
    },
    Some("""WITH revenue AS (
              SELECT l_suppkey,
                CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount)
                  * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_c
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate < TIMESTAMP '1996-04-01'
              GROUP BY l_suppkey)
            SELECT s_suppkey, s_name, rev_c / 100.0e0 AS total_revenue
            FROM revenue JOIN supplier ON l_suppkey = s_suppkey
            WHERE rev_c = (SELECT max(rev_c) FROM revenue)
            ORDER BY s_suppkey NULLS FIRST"""))

  /** Q16 shape — supplier diversity per part attribute triple, excluding
    * distrusted suppliers (negative balance — the schema's stand-in for
    * the original's complaints filter, expressed the same way: NOT IN →
    * left_anti). Distinct supplier count per (brand, type, size) rides
    * the lineitem link since there is no partsupp. */
  val qTpchQ16 = Q(
    "q_tpch_q16",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      val sizes = Seq(1, 4, 9, 14, 19, 23, 36, 45)
      t("lineitem")
        .join(broadcast(t("part")
            .filter(col("p_brand") =!= "Brand#1" &&
              col("p_type") =!= "PROMO" &&
              col("p_size").isin(sizes: _*))
            .select(col("p_partkey"), col("p_brand"), col("p_type"),
              col("p_size"))),
          col("l_partkey") === col("p_partkey"))
        .join(t("supplier").filter(col("s_acctbal") < 0)
            .select(col("s_suppkey")),
          col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    },
    Some("""SELECT p_brand, p_type, p_size,
              CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
              AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
              AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                    WHERE s_acctbal < 0)
            GROUP BY p_brand, p_type, p_size
            ORDER BY supplier_cnt DESC NULLS LAST, p_brand NULLS FIRST,
              p_type NULLS FIRST, p_size NULLS FIRST"""))

  /** Q17 shape — small-quantity-order revenue: lines of one brand moving
    * less than half the part's average quantity, scaled to a yearly
    * figure. The correlated per-part AVG becomes a part-keyed aggregate
    * broadcast back onto the same filtered fact slice — the fact is
    * scanned twice only logically; both passes are brand-pruned at the
    * scan. The yearly figure is the whole-cent sum over 7, rounded
    * half-up to a cent in integer arithmetic. */
  val qTpchQ17 = Q(
    "q_tpch_q17",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      val brandLines = t("lineitem")
        .join(broadcast(t("part").filter(col("p_brand") === "Brand#3")
            .select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"))
      val avgQty = brandLines.groupBy(col("p_partkey").as("ak"))
        .agg((avg(col("l_quantity")) * 0.5).as("half_avg_qty"))
      brandLines
        .join(broadcast(avgQty), col("p_partkey") === col("ak"))
        .filter(col("l_quantity") < col("half_avg_qty"))
        .agg(centSum(col("l_extendedprice")).as("price_c"))
        .select((expr("(price_c * 2 + 7) div 14") / 100.0).as("avg_yearly"))
    },
    Some("""SELECT CAST((CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5)
              AS BIGINT)) AS BIGINT) * 2 + 7) // 14 AS BIGINT) / 100.0e0
              AS avg_yearly
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_brand = 'Brand#3'
              AND l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                                FROM lineitem l2
                                WHERE l2.l_partkey = p_partkey)"""))

  /** Q19 shape — disjunctive bracket pricing: three (brand, size range,
    * quantity range) brackets OR-ed together. The part equi-key stays a
    * hash join; the disjunction is evaluated as the join's residual
    * filter, so no fallback to a nested-loop join. Revenue is summed in
    * whole cents per row. */
  val qTpchQ19 = Q(
    "q_tpch_q19",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      val bracket =
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 10) &&
          col("l_quantity").between(1, 20)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(11, 20) &&
          col("l_quantity").between(10, 30)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(21, 40) &&
          col("l_quantity").between(20, 40))
      t("lineitem")
        .join(broadcast(t("part")
            .select(col("p_partkey"), col("p_brand"), col("p_size"))),
          col("l_partkey") === col("p_partkey") && bracket)
        .agg((centSum(col("l_extendedprice") *
          (lit(1.0) - col("l_discount"))) / 100.0).as("revenue"))
    },
    Some("""SELECT CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount)
              * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0e0 AS revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
                   AND l_quantity BETWEEN 1 AND 20)
               OR (p_brand = 'Brand#2' AND p_size BETWEEN 11 AND 20
                   AND l_quantity BETWEEN 10 AND 30)
               OR (p_brand = 'Brand#3' AND p_size BETWEEN 21 AND 40
                   AND l_quantity BETWEEN 20 AND 40)"""))

  /** Q20 shape — dominant suppliers of SMALL parts in 1996: a supplier
    * qualifies when, for some SMALL part, they shipped more than 30% of
    * that part's total 1996 volume (the availqty-vs-half-shipped test of
    * the original, re-anchored to shipments). Two-level aggregate, part
    * totals broadcast back, qualifying pairs reach supplier as a
    * left_semi on s_suppkey, ASIA filter via broadcast dims. */
  val qTpchQ20 = Q(
    "q_tpch_q20",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      val smallLines = t("lineitem")
        .filter(
          col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp_ntz"))
        .join(broadcast(t("part").filter(col("p_type") === "SMALL")
            .select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"))
      // part totals as an UNBOUNDED window over the pair-grain
      // aggregate (r15 window-derivation discipline): the old two-level
      // groupBy + broadcast join-back re-derived perPair, whose lineage
      // is the fact scan — so lineitem was scanned twice per run. The
      // window partitions by part over PAIR-grain rows (bounded by
      // suppliers-per-part), never the fact.
      import org.apache.spark.sql.expressions.Window
      val dominant = smallLines
        .groupBy(col("p_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity")).as("pair_qty"))
        .withColumn("part_qty", sum(col("pair_qty")).over(
          Window.partitionBy(col("p_partkey"))))
        .filter(col("pair_qty") > col("part_qty") * 0.3)
        .select(col("l_suppkey")).distinct()
      t("supplier")
        .join(dominant, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .join(broadcast(t("nation")
            .join(t("region").filter(col("r_name") === "ASIA"),
              col("n_regionkey") === col("r_regionkey"))
            .select(col("n_nationkey"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_name"), col("s_acctbal"))
        .orderBy(col("s_name"))
    },
    Some("""WITH small_lines AS (
              SELECT p_partkey, l_suppkey, l_quantity
              FROM lineitem JOIN part ON l_partkey = p_partkey
              WHERE p_type = 'SMALL'
                AND l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate < TIMESTAMP '1997-01-01'),
            per_pair AS (
              SELECT p_partkey, l_suppkey, sum(l_quantity) AS pair_qty
              FROM small_lines GROUP BY p_partkey, l_suppkey),
            per_part AS (
              SELECT p_partkey, sum(pair_qty) AS part_qty
              FROM per_pair GROUP BY p_partkey)
            SELECT s_name, s_acctbal
            FROM supplier
              JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND s_suppkey IN (
                SELECT pp.l_suppkey
                FROM per_pair pp JOIN per_part pt
                  ON pp.p_partkey = pt.p_partkey
                WHERE pp.pair_qty > pt.part_qty * 0.3)
            ORDER BY s_name NULLS FIRST"""))

  val all: Seq[Q] = Seq(qTpchQ2, qTpchQ6, qTpchQ8, qTpchQ9, qTpchQ11,
    qTpchQ12, qTpchQ15, qTpchQ16, qTpchQ17, qTpchQ19, qTpchQ20)
}
