package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Aggregated money and score values must not depend on the order in
  * which rows reach the aggregate. A double sum does: the same rows
  * split over different files are added in a different order, and
  * the last bits of the sum move — enough to flip round(x, 2) once the
  * sums are large. These ids quantize every row to whole cents first
  * and add BIGINTs, as the DuckDB oracle does, so any file layout
  * gives the same result. */
class SumOrderSpec extends SparkSuite {

  /** sf0.001 with every price of c cents raised to c·k + c % 100
    * cents (large, and still not whole units), written twice: lineitem
    * as one file in scan order, and as five hash-partitioned files.
    * Large sums make the last-bit error of a double sum visible at two
    * decimals. */
  private val layoutsByScale =
    scala.collection.mutable.Map[Long, (String, String)]()

  private def layouts(k: Long): (String, String) =
    layoutsByScale.getOrElseUpdate(k, {
      def scaled(t: String, c: String) = {
        val df = Tables.t(spark, sf0, t)
        df.select(df.columns.map { n =>
          val cents = floor(col(n) * 100 + 0.5)
          if (n == c) ((cents * k + cents % 100) / 100).as(n) else col(n)
        }: _*)
      }
      val li = scaled("lineitem", "l_extendedprice")
        .withColumn("rid", monotonically_increasing_id())
      val dims = Seq("part" -> scaled("part", "p_retailprice")) ++
        Seq("orders", "supplier", "nation").map(n => n -> Tables.t(spark, sf0, n))
      val one = fixtureDir(s"sumorder_${k}_one")(
        ("lineitem" -> li.orderBy("rid").drop("rid")) +: dims: _*)
      val five = fixtureDir(s"sumorder_${k}_five")(dims: _*)
      li.repartition(5, col("rid")).drop("rid")
        .write.mode("overwrite").parquet(s"$five/lineitem.parquet")
      (one, five)
    })

  private def sameAcrossLayouts(id: String, k: Long): Array[Row] = {
    val (one, five) = layouts(k)
    val a = q(id, one).collect()
    val b = q(id, five).collect()
    assert(a.nonEmpty)
    assert(a.toSeq === b.toSeq, s"$id differs between file layouts")
    a
  }

  test("q_tpch_q1 sums and averages do not depend on the file layout") {
    val rows = sameAcrossLayouts("q_tpch_q1", 10000L)
    // exact: the emitted base price is the BIGINT cent sum / 100
    val (one, _) = layouts(10000L)
    val want = Tables.t(spark, one, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp_ntz"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long")).as("c"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    rows.foreach { r =>
      val c = want((r.getAs[String]("l_returnflag"),
        r.getAs[String]("l_linestatus")))
      assert(r.getAs[Double]("sum_base_price") === c / 100.0)
    }
  }

  test("q_tpch_q9 profit does not depend on the file layout") {
    sameAcrossLayouts("q_tpch_q9", 10000000L)
  }

  test("q_join_skew_aqe revenue does not depend on the file layout") {
    sameAcrossLayouts("q_join_skew_aqe", 10000000L)
  }

  // These four sum a few dozen to a few hundred filtered rows at
  // sf0.001, so the prices are scaled further before a double sum's
  // last bits reach the cents. Whether they do for a given scale is
  // luck; at this one all four double sums differed between layouts
  // (largest cent sum ~1.8e18, inside BIGINT).
  Seq("q_tpch_q6", "q_tpch_q15", "q_tpch_q17", "q_tpch_q19").foreach { id =>
    test(s"$id revenue does not depend on the file layout") {
      sameAcrossLayouts(id, 3000000000L)
    }
  }

  test("bits per bigram rounds a half-millionth tie up, like the oracle") {
    // (sum_i, nb) -> half-up millionths. 29550081 / 6 = 4925013.5: the
    // double quotient 29.550081 / 6 prints as 4.9250134999999995, so
    // round(sum_i / 1e6 / nb, 6) gave 4.925013. Halving is exact in
    // binary, so the nb = 2 tie rounded right either way.
    val ties = Seq((29550081L, 6L) -> 4.925014, (9850155L, 2L) -> 4.925078,
      (24000033L, 6L) -> 4.000006, (7L, 2L) -> 0.000004)
    ties.foreach { case ((sumI, nb), want) =>
      val got = spark.range(1)
        .select(lit(sumI).as("sum_i"), lit(nb).as("nb"))
        .select(ops.Corpus.bitsPerBigram("sum_i", "nb"))
        .collect()(0).getDouble(0)
      assert(got === want, s"sum_i=$sumI nb=$nb")
    }
  }
}
