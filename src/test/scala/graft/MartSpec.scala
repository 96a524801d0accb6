package graft

import org.apache.spark.sql.functions._

/** Mart tier (TPC-H Q2/6/8/9/11/12/15/16/17/19/20) — value
  * self-consistency against independently-written re-computations plus
  * the plan shapes that matter at scale (dims broadcast, no cartesian
  * fallback on the disjunctive join). */
class MartSpec extends SparkSuite {

  private def plan(name: String): String =
    q(name).queryExecution.executedPlan.toString

  test("Q6 revenue matches an independent SQL computation") {
    val got = q("q_tpch_q6").collect()(0).getDouble(0)
    Tables.t(spark, sf0, "lineitem").createOrReplaceTempView("li_q6")
    // whole cents per row, summed exactly (the q_tpch_q11 rule)
    val want = spark.sql(
      """SELECT sum(floor(l_extendedprice * l_discount * 100 + 0.5D))
           / 100.0D FROM li_q6
         WHERE l_shipdate >= TIMESTAMP_NTZ'1996-01-01'
           AND l_shipdate < TIMESTAMP_NTZ'1997-01-01'
           AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""")
      .collect()(0).getDouble(0)
    assert(got === want)
  }

  test("Q2 keeps exactly the min-cost supplier rows per part") {
    val rows = q("q_tpch_q2").collect()
    assert(rows.nonEmpty)
    // no part may appear with two different costs (all ties share the min)
    val perPart = rows.groupBy(_.getAs[Long]("p_partkey"))
      .map { case (_, rs) => rs.map(_.getAs[Double]("cost")).distinct.size }
    assert(perPart.forall(_ === 1))
  }

  test("Q2 plan: part list and per-part minimum broadcast, no cartesian") {
    val p = plan("q_tpch_q2")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3)
    assert(!p.contains("CartesianProduct"))
  }

  test("Q8 market share is a fraction per year") {
    val rows = q("q_tpch_q8").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val share = r.getAs[Double]("mkt_share")
      assert(share >= 0.0 && share <= 1.0)
      assert(Set(1996L, 1997L).contains(r.getAs[Long]("o_year")))
    }
  }

  test("Q11 returns only parts above the 1.2x-mean threshold") {
    val vals = q("q_tpch_q11").collect().map(_.getAs[Double]("value"))
    assert(vals.nonEmpty)
    // recompute the full per-part value table independently
    val li = Tables.t(spark, sf0, "lineitem")
    val sup = Tables.t(spark, sf0, "supplier")
    val nat = Tables.t(spark, sf0, "nation")
      .filter(col("n_name").isin("NATION_3", "NATION_8"))
    val all = li.join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(nat, col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        * 100 + 0.5).cast("long")).as("cents"))
      .collect().map(_.getAs[Long]("cents"))
    val threshold = all.map(_.toDouble).sum / all.length * 1.2
    val expected = all.filter(_ > threshold).map(_ / 100.0).sorted
    assert(vals.sorted.toSeq === expected.toSeq)
  }

  test("Q12 high+low counts cover every late line") {
    val rows = q("q_tpch_q12").collect()
    val total = rows.map(r => r.getAs[Long]("high_line_count") +
      r.getAs[Long]("low_line_count")).sum
    val want = Tables.t(spark, sf0, "lineitem")
      .join(Tables.t(spark, sf0, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") >
        col("o_orderdate") + expr("INTERVAL 90 DAY"))
      .count()
    assert(total === want)
  }

  test("Q15 returns exactly the max-revenue supplier(s)") {
    val rows = q("q_tpch_q15").collect()
    assert(rows.nonEmpty)
    val revs = rows.map(_.getAs[Double]("total_revenue")).distinct
    assert(revs.length === 1) // all returned rows share the max
    val mx = Tables.t(spark, sf0, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz")
        && col("l_shipdate") < lit("1996-04-01").cast("timestamp_ntz"))
      .groupBy(col("l_suppkey"))
      .agg(sum(floor(col("l_extendedprice") *
        (lit(1.0) - col("l_discount")) * 100 + 0.5)).as("cents"))
      .agg(max(col("cents"))).collect()(0).getLong(0)
    assert(revs(0) === mx / 100.0)
  }

  test("Q16 never counts a negative-balance supplier") {
    val bad = Tables.t(spark, sf0, "supplier")
      .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
      .collect().map(_.getLong(0)).toSet
    // re-derive the distinct supplier sets per triple and check disjoint
    val li = Tables.t(spark, sf0, "lineitem")
    val counted = li.join(Tables.t(spark, sf0, "part"),
        col("l_partkey") === col("p_partkey"))
      .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO" &&
        col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
      .select(col("l_suppkey")).distinct()
      .collect().map(_.getLong(0)).toSet
    val rows = q("q_tpch_q16").collect()
    assert(rows.nonEmpty)
    val totalCnt = rows.map(_.getAs[Long]("supplier_cnt")).max
    assert(totalCnt <= (counted -- bad).size)
  }

  test("Q17 is a single non-negative yearly figure") {
    val rows = q("q_tpch_q17").collect()
    assert(rows.length === 1)
    assert(rows(0).getAs[Double]("avg_yearly") >= 0.0)
  }

  test("Q19 plan: equi hash join with residual disjunction, no cartesian") {
    val p = plan("q_tpch_q19")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"))
  }

  test("Q20 suppliers each dominate some SMALL part's 1996 volume") {
    val names = q("q_tpch_q20").collect().map(_.getAs[String]("s_name"))
    assert(names.length === names.distinct.length)
    // recompute dominance membership independently
    val li = Tables.t(spark, sf0, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz")
        && col("l_shipdate") < lit("1997-01-01").cast("timestamp_ntz"))
      .join(Tables.t(spark, sf0, "part")
          .filter(col("p_type") === "SMALL").select(col("p_partkey")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity")).as("q"))
      .collect()
      .groupBy(_.getAs[Long]("p_partkey"))
    val dominant = li.values.flatMap { rs =>
      val tot = rs.map(_.getAs[Double]("q")).sum
      rs.filter(_.getAs[Double]("q") > tot * 0.3)
        .map(_.getAs[Long]("l_suppkey"))
    }.toSet
    val asiaDominantNames = Tables.t(spark, sf0, "supplier")
      .join(Tables.t(spark, sf0, "nation"),
        col("s_nationkey") === col("n_nationkey"))
      .join(Tables.t(spark, sf0, "region"),
        col("n_regionkey") === col("r_regionkey") &&
          col("r_name") === "ASIA")
      .filter(col("s_suppkey").isin(dominant.toSeq: _*))
      .select(col("s_name")).collect().map(_.getString(0)).toSet
    assert(names.toSet === asiaDominantNames)
  }

  test("Q9 groups carry valid nations and years") {
    val rows = q("q_tpch_q9").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[String]("nation").startsWith("NATION_"))
      val y = r.getAs[Long]("o_year")
      assert(y >= 1995L && y <= 2001L)
    }
  }
}
