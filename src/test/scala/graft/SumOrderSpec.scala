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
    scala.collection.mutable.Map[(Long, Long, Boolean), (String, String)]()

  /** No sf0.001 supplier is in NATION_1 or NATION_2, the pair
    * q_tpch_q7 reports, so its layouts swap those names with the
    * nations of two suppliers whose parts ship to each other's
    * customers. */
  private val q7Names = Map(1L -> "NATION_18", 2L -> "NATION_19",
    18L -> "NATION_1", 19L -> "NATION_2")

  /** With `qtyK` > 0, every whole-unit quantity q also becomes
    * q·qtyK + 0.37: a double sum of whole numbers is exact at any
    * scale, so only a cent part can show the order of the sum. */
  private def layouts(k: Long, qtyK: Long = 0L,
      renamed: Boolean = false): (String, String) =
    layoutsByScale.getOrElseUpdate((k, qtyK, renamed), {
      def scaled(t: String, c: String) = {
        val df = Tables.t(spark, sf0, t)
        df.select(df.columns.map { n =>
          val cents = floor(col(n) * 100 + 0.5)
          if (n == c) ((cents * k + cents % 100) / 100).as(n) else col(n)
        }: _*)
      }
      val li0 = scaled("lineitem", "l_extendedprice")
      val li = (if (qtyK > 0) li0.withColumn("l_quantity",
          (col("l_quantity") * qtyK * 100 + 37) / 100) else li0)
        .withColumn("rid", monotonically_increasing_id())
      val nation = Tables.t(spark, sf0, "nation")
      val names = q7Names.foldLeft(col("n_name")) { case (c, (key, n)) =>
        when(col("n_nationkey") === key, lit(n)).otherwise(c)
      }
      val dims = Seq("part" -> scaled("part", "p_retailprice"),
        "nation" -> (if (renamed) nation.withColumn("n_name", names)
          else nation)) ++
        Seq("orders", "supplier", "customer", "region")
          .map(n => n -> Tables.t(spark, sf0, n))
      val name = s"sumorder_$k" + (if (qtyK > 0) s"_q$qtyK" else "") +
        (if (renamed) "_n" else "")
      val one = fixtureDir(s"${name}_one")(
        ("lineitem" -> li.orderBy("rid").drop("rid")) +: dims: _*)
      val five = fixtureDir(s"${name}_five")(dims: _*)
      li.repartition(5, col("rid")).drop("rid")
        .write.mode("overwrite").parquet(s"$five/lineitem.parquet")
      (one, five)
    })

  private def sameAcrossLayouts(id: String, k: Long, qtyK: Long = 0L,
      renamed: Boolean = false): Array[Row] = {
    val (one, five) = layouts(k, qtyK, renamed)
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

  // At price scale 10⁹ the double revenue sums of these four differed
  // between the layouts (e.g. q3 4.137335805000048E14 vs
  // 4.1373358050000475E14; largest cent sum ~4.6·10¹⁷).
  Seq("q_tpch_q3", "q_tpch_q5", "q_tpch_q10").foreach { id =>
    test(s"$id revenue does not depend on the file layout") {
      sameAcrossLayouts(id, 1000000000L)
    }
  }

  test("q_tpch_q7 revenue does not depend on the file layout") {
    assert(sameAcrossLayouts("q_tpch_q7", 1000000000L, renamed = true)
      .length === 2)
  }

  // Quantities are whole numbers, so no price scale moves q18's
  // double sum; with a cent part at 10¹² per unit it differed between
  // the layouts (1.0600000000000186E14 vs 1.0600000000000184E14).
  test("q_tpch_q18 quantity sums do not depend on the file layout") {
    sameAcrossLayouts("q_tpch_q18", 1L, qtyK = 1000000000000L)
  }

  // The relational and scale-pattern ids that summed raw doubles.
  // At these price scales each one's double sums differed between the
  // layouts; q_join_bucketed sums quantities, so it takes the q18
  // cent part instead.
  Seq("q_join_salted" -> 10000000L, "q_join_broadcast" -> 10000000L,
    "q_agg_hash" -> 10000000L, "q_sql_api" -> 3000000000L).foreach {
    case (id, k) =>
      test(s"$id sums do not depend on the file layout") {
        sameAcrossLayouts(id, k)
      }
  }

  test("q_join_bucketed quantity sums do not depend on the file layout") {
    sameAcrossLayouts("q_join_bucketed", 1L, qtyK = 1000000000000L)
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
