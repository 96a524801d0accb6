package graft

import org.apache.spark.sql.functions._

/** Relational invariants over the real sf0.001 data (SURVEY §5.2 #2/#3):
  * partition/union counting, rollup totals, top-k consistency, as-of
  * ordering, reconciliation flags. */
class RelationalSpec extends SparkSuite {

  test("entry flagship returns rows with positive counts") {
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Long]("n_hits") > 0))
  }

  test("filter(p) + filter(!p) partitions lineitem") {
    val li = Tables.t(spark, sf0, "lineitem")
    val p = col("l_discount") > 0.05
    assert(li.filter(p).count() + li.filter(!p || p.isNull).count()
      === li.count())
  }

  test("rollup grand total equals direct aggregate") {
    val rows = q("q_agg_rollup").collect()
    val grand = rows.filter(r => r.isNullAt(0) && r.isNullAt(1))
    assert(grand.length === 1)
    val direct = Tables.t(spark, sf0, "customer").count()
    assert(grand(0).getAs[Long]("n_cust") === direct)
  }

  test("top-k is the head of the full sort") {
    val topk = q("q_topk").collect().map(_.getAs[Long]("o_orderkey"))
    val full = Tables.t(spark, sf0, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(20).collect().map(_.getAs[Long]("o_orderkey"))
    assert(topk.toSeq === full.toSeq)
  }

  test("semi + anti partition customers against high-value orders") {
    val cust = Tables.t(spark, sf0, "customer")
    val anti = q("q_join_anti").count()
    val semi = cust.join(
      Tables.t(spark, sf0, "orders").filter(col("o_totalprice") > 300000.0),
      col("c_custkey") === col("o_custkey"), "left_semi").count()
    assert(anti + semi === cust.count())
  }

  test("as-of join: last_click_ts never exceeds the error ts") {
    val e = Tables.t(spark, sf0, "events")
      .filter(col("event_type") === "error")
      .select(col("event_id"), col("ts"))
    val joined = q("q_join_asof")
      .join(e, "event_id")
      .filter(col("last_click_ts").isNotNull &&
        col("last_click_ts") > col("ts"))
    assert(joined.count() === 0)
  }

  test("union counts add; intersect/except partition the view users") {
    val e = Tables.t(spark, sf0, "events")
    val nPurchase = e.filter(col("event_type") === "purchase").count()
    val nError = e.filter(col("event_type") === "error").count()
    assert(q("q_union").count() === nPurchase + nError)
  }

  test("running EVENT_CNT is monotone per rb and ends at the rb total") {
    val rows = q("q_event_count").collect()
    val byRb = rows.groupBy(_.getAs[Long]("rb"))
    byRb.foreach { case (rb, rs) =>
      val total = rs.length
      assert(rs.map(_.getAs[Long]("event_cnt")).max === total.toLong, s"rb=$rb")
    }
  }

  test("reconcile: injected == observed + lost, flags consistent") {
    q("q_reconcile").collect().foreach { r =>
      assert(r.getAs[Long]("injected") ===
        r.getAs[Long]("observed") + r.getAs[Long]("lost"))
      assert(r.getAs[Boolean]("ok") === (r.getAs[Long]("lost") == 0L))
    }
  }

  test("double triggers all have sub-minute gaps and valid predecessors") {
    q("q_double_trigger").collect().foreach { r =>
      val gap = r.getAs[Long]("gap_us")
      assert(gap >= 0L && gap < 60000000L)
      assert(r.getAs[Long]("prev_id") !== r.getAs[Long]("event_id"))
    }
  }

  test("approx distinct: exact counts match and the 5% flag holds") {
    val rows = q("q_agg_approx_distinct").collect()
    assert(rows.nonEmpty)
    val exact = q("q_agg_distinct").collect()
      .map(r => r.getAs[String]("l_returnflag") ->
        r.getAs[Long]("n_parts")).toMap
    rows.foreach { r =>
      val k = r.getAs[String]("l_returnflag")
      assert(r.getAs[Long]("exact_parts") === exact(k))
      assert(r.getAs[Int]("within_5pct") === 1, s"flag=$k out of bound")
    }
  }

  test("approx percentile: exact percentiles carried, 5% flags hold") {
    val rows = q("q_agg_approx_percentile").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val k = r.getAs[String]("l_returnflag")
      assert(r.getAs[Double]("exact_p50") > 0.0)
      assert(r.getAs[Double]("exact_p95") >= r.getAs[Double]("exact_p50"))
      assert(r.getAs[Int]("p50_within_5pct") === 1, s"p50 flag=$k")
      assert(r.getAs[Int]("p95_within_5pct") === 1, s"p95 flag=$k")
    }
  }

  test("count-min estimates never undercount and stay within 1%") {
    val rows = q("q_agg_cms").collect()
    val exact = Tables.t(spark, sf0, "events")
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getAs[String]("event_type") ->
        r.getAs[Long]("n")).toMap
    assert(rows.length === exact.size)
    rows.foreach { r =>
      val k = r.getAs[String]("event_type")
      assert(r.getAs[Long]("exact_n") === exact(k))
      // the flag encodes est >= exact AND est <= 1.01·exact + 5
      assert(r.getAs[Int]("within_bound") === 1, s"CMS bound broken for $k")
    }
  }

  test("hll union estimate within 5% of exact; union covers every slice") {
    val rows = q("q_agg_hll_merge").collect()
    val scopes = rows.map(_.getAs[String]("scope")).toSet
    assert(scopes.contains("__union__"))
    val exact = Tables.t(spark, sf0, "events")
      .select(countDistinct(col("user_id"))).collect()(0).getLong(0)
    rows.foreach { r =>
      val sc = r.getAs[String]("scope")
      if (sc == "__union__")
        assert(r.getAs[Long]("exact_users") === exact)
      assert(r.getAs[Int]("within_5pct") === 1, s"hll bound broken for $sc")
    }
  }

  test("semi join equals the distinct inner-join projection (SURVEY §5.2)") {
    val cust = Tables.t(spark, sf0, "customer")
    val ordF = Tables.t(spark, sf0, "orders")
      .filter(col("o_orderstatus") === "F")
    val semi = cust.join(ordF, col("c_custkey") === col("o_custkey"),
      "left_semi").select(col("c_custkey"))
    val innerProj = cust.join(ordF, col("c_custkey") === col("o_custkey"))
      .select(col("c_custkey")).distinct()
    assert(semi.except(innerProj).count() === 0)
    assert(innerProj.except(semi).count() === 0)
  }

  test("intersect + except partition the left distinct set") {
    val e = Tables.t(spark, sf0, "events")
    val a = e.filter(col("event_type") === "view").select(col("user_id"))
    val b = e.filter(col("event_type") === "purchase").select(col("user_id"))
    val total = a.distinct().count()
    assert(a.intersect(b).count() + a.except(b).count() === total)
  }

  test("config parse emits the declared typed rows") {
    val rows = q("q_config_parse").collect()
    assert(rows.length === 5)
    assert(rows.forall(_.getAs[Long]("l1a_delay") === 508L))
    assert(rows.forall(_.getAs[Long]("beam_energy") === 120L))
  }

  test("nearest as-of picks the closer of the backward/forward matches") {
    val back = q("q_join_asof").collect()
      .map(r => r.getAs[Long]("event_id") ->
        Option(r.getAs[java.time.LocalDateTime]("last_click_ts"))).toMap
    val fwd = q("q_join_asof_forward").collect()
      .map(r => r.getAs[Long]("event_id") ->
        Option(r.getAs[java.time.LocalDateTime]("next_click_ts"))).toMap
    val errUs = Tables.t(spark, sf0, "events")
      .filter(col("event_type") === "error")
      .select(col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def us(t: java.time.LocalDateTime): Long =
      t.toInstant(java.time.ZoneOffset.UTC).getEpochSecond * 1000000L +
        t.getNano / 1000L
    val rows = q("q_join_asof_nearest").collect()
    assert(rows.length === back.size)
    rows.foreach { r =>
      val id = r.getAs[Long]("event_id")
      val got = Option(r.getAs[Long]("nearest_click_us"))
        .filter(_ => !r.isNullAt(r.fieldIndex("nearest_click_us")))
      val b = back(id).map(us)
      val f = fwd(id).map(us)
      val want = (b, f) match {
        case (None, None) => None
        case (Some(x), None) => Some(x)
        case (None, Some(y)) => Some(y)
        case (Some(x), Some(y)) =>
          if (errUs(id) - x <= y - errUs(id)) Some(x) else Some(y)
      }
      assert(got === want, s"event $id: got $got want $want (b=$b f=$f)")
      val dir = Option(r.getAs[String]("direction"))
      assert(dir === (want match {
        case None => None
        case w if w == b && (b.isDefined) &&
          (f.isEmpty || errUs(id) - b.get <= f.get - errUs(id)) =>
          Some("backward")
        case _ => Some("forward")
      }))
    }
  }

  test("as-of family includes a click sharing the error's exact ts, " +
    "whatever the event_id order (oracle tie parity)") {
    import spark.implicits._
    import java.sql.Timestamp
    val t0 = Timestamp.valueOf("2024-03-01 12:00:00")
    val before = Timestamp.valueOf("2024-03-01 11:00:00")
    val after = Timestamp.valueOf("2024-03-01 13:00:00")
    // user 7: the ADVICE case — same-ts click with HIGHER event_id than
    // the error (sorts after it on (ts, event_id) and was missed by the
    // backward frame); user 8: same-ts click with LOWER event_id (the
    // mirror case the forward frame used to miss)
    val rows = Seq(
      (1L, before, 7L, "click", 1.0, "{}"),
      (3L, t0, 7L, "error", 1.0, "{}"),
      (5L, t0, 7L, "click", 1.0, "{}"),
      (9L, after, 7L, "click", 1.0, "{}"),
      (11L, t0, 8L, "click", 1.0, "{}"),
      (12L, t0, 8L, "error", 1.0, "{}"))
    val dir = fixtureDir("asof_ties")("events" ->
      rows.toDF("event_id", "ts", "user_id", "event_type", "value",
        "props"))
    val ldt0 = t0.toLocalDateTime
    val us0 = ldt0.toInstant(java.time.ZoneOffset.UTC)
      .getEpochSecond * 1000000L
    // backward: the oracle's c.ts <= e.ts includes the same-ts click
    val back = q("q_join_asof", dir).collect()
      .map(r => r.getAs[Long]("event_id") ->
        r.getAs[java.time.LocalDateTime]("last_click_ts")).toMap
    assert(back(3L) === ldt0, "backward must see the same-ts click")
    assert(back(12L) === ldt0)
    // forward: the oracle's c.ts >= e.ts includes the same-ts click
    val fwd = q("q_join_asof_forward", dir).collect()
      .map(r => r.getAs[Long]("event_id") ->
        r.getAs[java.time.LocalDateTime]("next_click_ts")).toMap
    assert(fwd(3L) === ldt0, "forward must see the same-ts click")
    assert(fwd(12L) === ldt0)
    // nearest: distance 0, tie prefers backward — value is the same-ts
    // click in both engines
    q("q_join_asof_nearest", dir).collect().foreach { r =>
      assert(r.getAs[Long]("nearest_click_us") === us0)
      assert(r.getAs[String]("direction") === "backward")
    }
    // tolerance: a same-ts click is maximally fresh
    q("q_join_asof_tolerance", dir).collect().foreach { r =>
      assert(r.getAs[java.time.LocalDateTime]("last_click_ts") === ldt0)
      assert(r.getAs[Boolean]("matched"))
    }
  }

  test("tolerance as-of equals plain as-of filtered at one hour") {
    val plain = q("q_join_asof").collect()
      .map(r => r.getAs[Long]("event_id") ->
        Option(r.getAs[java.time.LocalDateTime]("last_click_ts"))).toMap
    val errTs = Tables.t(spark, sf0, "events")
      .filter(col("event_type") === "error")
      .select(col("event_id"), col("ts")).collect()
      .map(r => r.getLong(0) -> r.getAs[java.time.LocalDateTime]("ts"))
      .toMap
    q("q_join_asof_tolerance").collect().foreach { r =>
      val id = r.getAs[Long]("event_id")
      val got = Option(r.getAs[java.time.LocalDateTime]("last_click_ts"))
      val want = plain(id).filter(ts =>
        !ts.isBefore(errTs(id).minusHours(1)))
      assert(got === want, s"event $id")
      assert(r.getAs[Boolean]("matched") === want.isDefined)
    }
  }

  test("setop_all: multiset counts match a scalar bag replay") {
    val got = SparkEntry.queries("q_setop_all")(spark, sf0).collect()
      .map(r => (r.getAs[String]("op"), r.getAs[Long]("user_id")) ->
        r.getAs[Long]("n")).toMap
    val ev = Tables.t(spark, sf0, "events")
      .select(col("event_type"), col("user_id"), to_date(col("ts")))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDate(2).toLocalDate))
    def bag(t: String) = ev.filter(_._1 == t)
      .groupBy(r => (r._2, r._3)).view.mapValues(_.length.toLong).toMap
    val (cl, vw, pu) = (bag("click"), bag("view"), bag("purchase"))
    // INTERSECT ALL: per key min multiplicity; EXCEPT ALL: max(0, a - b)
    val ia = cl.keys.toSeq.filter(vw.contains)
      .groupBy(_._1).view.mapValues(ks =>
        ks.map(k => math.min(cl(k), vw(k))).sum).toMap
    val ea = cl.keys.toSeq
      .groupBy(_._1).view.mapValues(ks =>
        ks.map(k => math.max(0L, cl(k) - pu.getOrElse(k, 0L))).sum)
      .filter(_._2 > 0).toMap
    ia.foreach { case (u, n) =>
      assert(got(("intersect_all", u)) === n, s"ia user $u")
    }
    ea.foreach { case (u, n) =>
      assert(got(("except_all", u)) === n, s"ea user $u")
    }
    assert(got.count(_._1._1 == "intersect_all") === ia.size)
    assert(got.count(_._1._1 == "except_all") === ea.size)
  }

  test("nullsafe join keeps the NULL bucket a plain = join drops") {
    val got = q("q_join_nullsafe").collect()
    val nullRow = got.filter(_.isNullAt(0))
    assert(nullRow.length === 1, "the unbucketed class must survive")
    // replay: counts per bucket per half from the raw table
    val rows = Tables.t(spark, sf0, "events")
      .select(expr(
        """nullif(CAST(get_json_object(props, '$.k') AS BIGINT)
           % 5, 0)""").as("b"),
        (col("ts") < lit("2024-01-16").cast("timestamp_ntz")).as("h"))
      .collect().map(r => (if (r.isNullAt(0)) None
        else Some(r.getLong(0)), r.getBoolean(1)))
    got.foreach { r =>
      val key = if (r.isNullAt(0)) None else Some(r.getLong(0))
      assert(r.getAs[Long]("n_first") ===
        rows.count(x => x._1 == key && x._2).toLong)
      assert(r.getAs[Long]("n_second") ===
        rows.count(x => x._1 == key && !x._2).toLong)
      assert(r.getAs[Long]("delta") ===
        r.getAs[Long]("n_second") - r.getAs[Long]("n_first"))
    }
    // the same program under a plain = join loses exactly the NULL row
    assert(got.length === rows.map(_._1).distinct.length)
  }

  test("q_join_bucketed reads the dir it is asked for, dir after dir") {
    // each dir's bucketed tables carry that dir in their names: a
    // second dir builds its own, and coming back to the first reads
    // the first dir's again
    val subset = fixtureDir("bucketed_subset")(
      "orders" -> Tables.t(spark, sf0, "orders")
        .filter(col("o_orderkey") % 3 === 0),
      "lineitem" -> Tables.t(spark, sf0, "lineitem")
        .filter(col("l_orderkey") % 3 === 0))
    def unbucketed(dir: String): Seq[String] =
      Tables.t(spark, dir, "orders")
        .join(Tables.t(spark, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("n_items"),
          (sum(floor(col("l_quantity") * 100 + 0.5).cast("long")) / 100.0)
            .as("sum_qty"),
          round(max(col("o_totalprice")), 2).as("total"))
        .collect().map(_.toString).sorted.toSeq
    Seq(sf0, subset, sf0).foreach { dir =>
      val got = q("q_join_bucketed", dir).collect().map(_.toString)
        .sorted.toSeq
      val want = unbucketed(dir)
      assert(got.size === want.size, s"row count on $dir")
      assert(got === want, s"rows on $dir")
    }
  }

  test("q_join_bucketed leaves its caller's session confs as they were") {
    // a fresh session, so no earlier query's setting can hide a change;
    // a dir of its own, because bucket table names are per dir
    val dir = fixtureDir("bucketed_confs")(
      "orders" -> Tables.t(spark, sf0, "orders"),
      "lineitem" -> Tables.t(spark, sf0, "lineitem"))
    val s = spark.newSession()
    Tables.configure(s)
    val before = s.conf.getAll
    try SparkEntry.queries("q_join_bucketed")(s, dir).collect()
    finally Fixpoints.release(s, dir)
    val after = s.conf.getAll
    val moved = (before.keySet ++ after.keySet)
      .filter(k => before.get(k) != after.get(k))
    assert(moved.isEmpty, "confs changed: " + moved.toSeq.sorted
      .map(k => s"$k ${before.get(k)} -> ${after.get(k)}").mkString(", "))
  }
}
