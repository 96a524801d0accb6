package graft

import org.apache.spark.sql.functions._

/** Learn tier — structural invariants of the naive-Bayes classifier,
  * the Zipf fit, and the path miner at sf0.001. */
class LearnSpec extends SparkSuite {

  test("naive Bayes classifies every held-out doc exactly once") {
    val rows = q("q_ml_naive_bayes").collect()
    val total = rows.map(_.getAs[Long]("n")).sum
    val want = Tables.t(spark, sf0, "documents")
      .filter(col("doc_id") % 5 === 0).count()
    assert(total === want)
    // all cells reference real languages
    val langs = Tables.t(spark, sf0, "documents")
      .select(col("lang")).distinct().collect().map(_.getString(0)).toSet
    rows.foreach { r =>
      assert(langs.contains(r.getAs[String]("true_lang")))
      assert(langs.contains(r.getAs[String]("pred_lang")))
    }
  }

  test("naive Bayes is deterministic across runs") {
    val a = q("q_ml_naive_bayes").collect().toSeq
    val b = q("q_ml_naive_bayes").collect().toSeq
    assert(a === b)
  }

  test("Zipf slope is negative (frequency falls with rank)") {
    val r = q("q_text_zipf").collect()(0)
    assert(r.getAs[Double]("slope") < 0.0)
    assert(r.getAs[Long]("n_terms") <= 100L)
    assert(r.getAs[Long]("n_terms") > 1L)
  }

  test("quality classifier recovers the rule labels it was trained on") {
    val rows = q("q_quality_classify").collect()
    assert(rows.length === 500)
    // decision is exactly the sign of the emitted margin
    rows.foreach { r =>
      assert((r.getAs[Double]("log_odds") > 0.0) ===
        (r.getAs[Int]("nb_keep") === 1))
    }
    // held-out fold: the distilled model generalizes the rules
    val holdout = rows.filter(_.getAs[Long]("doc_id") % 5 == 0)
    val agree = holdout.count(r =>
      r.getAs[Int]("gopher_pass") === r.getAs[Int]("nb_keep"))
    assert(agree.toDouble / holdout.length >= 0.9,
      s"holdout agreement ${agree.toDouble / holdout.length}")
    // both classes are actually predicted (not a constant classifier)
    assert(rows.count(_.getAs[Int]("nb_keep") === 1) > 50)
    assert(rows.count(_.getAs[Int]("nb_keep") === 0) > 50)
  }

  /** Scalar replay of the q_quality_classify oracle: doc_id ->
    * (label, lo_i). Logs are StrictMath.log, as Spark's `log` is. */
  private def classifyReplay(docs: Seq[(Long, String)])
      : Map[Long, (Option[Int], Long)] = {
    def qz(x: Double) = math.floor(x * 1000000 + 0.5).toLong
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // (doc_id, label, ws): a NULL text is one NULL token, no label
    val base = docs.map { case (id, text) =>
      if (text == null) (id, None, Seq(null: String))
      else {
        val ws = text.split(" ", -1).toSeq
        val n = ws.length
        val chars = text.replace(" ", "")
        val meanLen = r6(chars.codePointCount(0, chars.length).toDouble / n)
        val pass = n >= 50 && n <= 100000 &&
          meanLen >= 3.0 && meanLen <= 10.0 &&
          r6(ws.count(_.matches("[a-z]+")).toDouble / n) >= 0.8 &&
          ws.count(w => w == "the" || w == "a") >= 2
        (id, Some(if (pass) 1 else 0), ws :+ s"lb${n / 10}")
      }
    }
    val train = base.filter(_._1 % 5 != 0)
    val v = train.flatMap(_._3).filter(_ != null).distinct.length
    val cls = train.flatMap(_._2).distinct.map { l =>
      val ofL = train.filter(_._2.contains(l))
      val tv = ofL.map(_._3.length.toLong).sum + v
      val c = ofL.flatMap(_._3).groupBy(identity).map { case (w, xs) =>
        w -> qz(StrictMath.log((xs.length + 1).toDouble / tv)) }
      (l, qz(StrictMath.log(ofL.length.toDouble / train.length)),
        qz(StrictMath.log(1.0 / tv)), c)
    }
    base.filter(_ => cls.nonEmpty).map { case (id, label, ws) =>
      id -> (label, cls.map { case (l, prior, unseen, llh) =>
        val t = prior + ws.map(w => llh.getOrElse(w, unseen)).sum
        if (l == 1) t else -t
      }.sum)
    }.toMap
  }

  /** q_quality_classify on a fixture `documents` of (doc_id, text),
    * row for row against [[classifyReplay]]. */
  private def assertClassifyReplays(name: String, docs: Seq[(Long, String)])
      : Unit = {
    import spark.implicits._
    val df = docs.map { case (id, t) => (id, t, "en", s"src${id % 3}") }
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val got = q("q_quality_classify", fixtureDir(name)("documents" -> df))
      .collect().map { r =>
        r.getAs[Long]("doc_id") ->
          ((Option(r.getAs[Integer]("gopher_pass")).map(_.toInt),
            r.getAs[Int]("nb_keep"), r.getAs[Double]("log_odds")))
      }.toMap
    val want = classifyReplay(docs).map { case (id, (label, lo)) =>
      id -> ((label, if (lo > 0) 1 else 0, BigDecimal(lo / 1e6)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }
    assert(got === want)
  }

  /** A doc the gopher rules pass: 60 lowercase words, two stopwords. */
  private def passing(i: Int): String = {
    val words = Seq("alpha", "beta", "gamma", "delta", "omega", "sigma")
    ("the" +: "a" +: (0 until 58).map(j => words((i + j) % 6)))
      .mkString(" ")
  }

  test("quality classifier replays the oracle, NULL texts included") {
    val docs = (0L until 40L).map { i =>
      i -> (i match {
        case 7L | 10L => null // one NULL text in each fold
        // a word with a trailing newline is no lowercase word: under
        // the oracle's full match this doc fails the alpha rule
        case 12L => "the a " + Seq.fill(58)("beta\n").mkString(" ")
        case _ if i % 3 == 0 => passing(i.toInt)
        case _ => "zeta eta theta"
      })
    }
    val want = classifyReplay(docs)
    assert(want(12L)._1 === Some(0) && want(7L)._1 === None)
    assert(want.values.map(_._1).toSet === Set(None, Some(0), Some(1)))
    assertClassifyReplays("learn_classify_mixed", docs)
  }

  test("quality classifier replays the oracle on a one-label train fold") {
    // only the held-out fold (doc_id % 5 == 0) passes the rules
    val docs = (0L until 20L).map { i =>
      i -> (if (i % 5 == 0) passing(i.toInt) else s"zeta eta theta w$i")
    }
    assertClassifyReplays("learn_classify_onelabel", docs)
  }

  test("quality classifier: no documents, or no labelled train doc, " +
    "scores nothing") {
    assertClassifyReplays("learn_classify_empty", Seq.empty)
    assert(classifyReplay(Seq(0L -> passing(0), 1L -> null)).isEmpty)
    assertClassifyReplays("learn_classify_nulltrain",
      Seq(0L -> passing(0), 1L -> null))
  }

  test("calibration: bins clamp, counts conserve, pass rate monotone") {
    val rows = q("q_quality_calibrate").collect().sortBy(_.getAs[Long]("bin"))
    assert(rows.map(_.getAs[Long]("n_docs")).sum === 500L)
    rows.foreach { r =>
      val b = r.getAs[Long]("bin")
      assert(b >= -4L && b <= 3L)
      // the decision boundary is lo > 0, so sign(bin) pins n_keep
      if (b >= 1) assert(r.getAs[Long]("n_keep") === r.getAs[Long]("n_docs"))
      if (b <= -1) assert(r.getAs[Long]("n_keep") === 0L)
    }
    // reliability: empirical pass rate rises with the margin bin
    val rates = rows.map(_.getAs[Double]("pass_rate"))
    assert(rates.zip(rates.tail).forall { case (a, b) => a <= b },
      s"calibration not monotone: ${rates.toSeq}")
  }

  test("paths are bounded at 5 hops and counts conserve user-days") {
    val rows = q("q_events_paths").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val hops = r.getAs[String]("path").split(">")
      assert(hops.length <= 5 && hops.nonEmpty)
    }
    val totalDays = Tables.t(spark, sf0, "events")
      .select(col("user_id"), to_date(col("ts"))).distinct().count()
    assert(rows.map(_.getAs[Long]("n")).sum <= totalDays)
  }
}
