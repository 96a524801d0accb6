package graft

import org.apache.spark.sql.functions._

/** Corpus-curation tier: per-domain caps, quality rules, bigram LM. */
class CorpusSpec extends SparkSuite {
  import spark.implicits._

  test("domain cap keeps at most k docs per source, lowest ids first") {
    val rows = q("q_domain_cap").collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id")))
    val bySource = rows.groupBy(_._1)
    assert(bySource.values.forall(_.length <= 15))
    // keep policy: the kept set per source is exactly its k smallest ids
    val all = Tables.t(spark, sf0, "documents")
      .select(col("doc_id"), col("source")).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id")))
      .groupBy(_._1)
    bySource.foreach { case (src, kept) =>
      val expect = all(src).map(_._2).sorted.take(15).toSeq
      assert(kept.map(_._2).toSeq.sorted === expect, s"source $src")
    }
  }

  test("domain cap plans a partial WindowGroupLimit (map-side prune)") {
    val p = q("q_domain_cap").queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"), s"group-limit pruning absent:\n$p")
    assert(p.contains("Partial"), "expected a partial (map-side) group limit")
  }

  test("gopher rules match a scalar replay on a planted fixture") {
    val docsDf = Seq(
      // passes: 60 words incl. stopwords, alpha, mean wlen in range
      (0L, ("the a " + ("word " * 58)).trim, "en", "s0"),
      // fails: too short (3 words)
      (1L, "the a word", "en", "s0"),
      // fails: no stopwords
      (2L, ("word " * 60).trim, "en", "s0"),
      // fails: mean word length too high (one 900-char token repeated)
      (3L, (("x" * 900 + " ") * 50 + "the a").trim, "en", "s0"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = fixtureDir("corpus_gopher")("documents" -> docsDf)
    val got = q("q_text_gopher", dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("passes")).toMap
    assert(got === Map(0L -> 1, 1L -> 0, 2L -> 0, 3L -> 0), s"got $got")
  }

  test("gopher rules: a word with a trailing newline is no lowercase " +
    "word, as in a scalar replay") {
    val texts = Seq(
      // 58 of 60 words end in a newline: 2 of 60 are lowercase words
      0L -> ("the a " + Seq.fill(58)("word\n").mkString(" ")),
      // the same without the newlines passes every rule
      1L -> ("the a " + Seq.fill(58)("word").mkString(" ")),
      2L -> ("the a " + Seq.fill(58)("word\r").mkString(" ")))
    val dir = fixtureDir("corpus_gopher_newline")("documents" ->
      texts.map { case (id, t) => (id, t, "en", "s0") }
        .toDF("doc_id", "text", "lang", "source")
        .withColumn("n_chars", length(col("text")).cast("long")))
    val got = q("q_text_gopher", dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("alpha_frac"), r.getAs[Int]("passes"))).toMap
    val want = texts.map { case (id, t) =>
      val ws = t.split(" ", -1)
      val alpha = BigDecimal(ws.count(_.matches("[a-z]+")).toDouble /
        ws.length).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      id -> (alpha, if (alpha >= 0.8) 1 else 0)
    }.toMap
    assert(got === want)
    assert(got(0L)._2 === 0 && got(1L)._2 === 1)
  }

  test("bigram pairs: zipped slices give the lambda form's rows") {
    val texts = Seq(0L -> "", 1L -> "one", 2L -> "a  b", 3L -> "a b ",
      4L -> "héllo wörld 日本 語 😀 x", 5L -> null,
      6L -> "the cat sat on the mat")
    val ws = texts.toDF("id", "text")
      .select(col("id"), split(col("text"), " ").as("ws"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("b.w1"), col("b.w2")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
        .sorted
    val zipped = rows(ws.select(col("id"),
      explode(graft.ops.Corpus.bigramPairs(col("ws"))).as("b")))
    // the lambda form needs two tokens: element_at(ws, 0) throws
    val lambda = rows(ws.filter(size(col("ws")) >= 2)
      .select(col("id"), explode(expr(
        """transform(sequence(1, size(ws) - 1),
                     i -> struct(element_at(ws, i) AS w1,
                                 element_at(ws, i + 1) AS w2))""")).as("b")))
    assert(zipped === lambda)
    assert(zipped.count(_._1 == 2L) === 2 && zipped.count(_._1 == 3L) === 2)
    assert(zipped.count(_._1 == 4L) === 5)
  }

  test("bigram LM: top continuation and probability match a scalar replay") {
    val rows = q("q_text_bigram_lm").collect()
    assert(rows.nonEmpty)
    // scalar replay over the whole sf0.001 corpus
    val texts = Tables.t(spark, sf0, "documents")
      .select(col("text")).collect().map(_.getString(0))
    val counts = scala.collection.mutable.Map[(String, String), Long]()
    texts.foreach { t =>
      val w = t.split(" ")
      (0 until w.length - 1).foreach { i =>
        counts((w(i), w(i + 1))) = counts.getOrElse((w(i), w(i + 1)), 0L) + 1
      }
    }
    val byW1 = counts.groupBy(_._1._1)
    rows.foreach { r =>
      val (w1, w2, n, p) = (r.getAs[String]("w1"), r.getAs[String]("w2"),
        r.getAs[Long]("n"), r.getAs[Double]("p"))
      val cands = byW1(w1)
      // top-1 by (count desc, w2 asc)
      val best = cands.toSeq.map { case ((_, b), c) => (b, c) }
        .sortBy { case (b, c) => (-c, b) }.head
      assert((w2, n) === best, s"w1=$w1")
      val tot = cands.values.sum
      assert(math.abs(p - n.toDouble / tot) < 1e-6, s"w1=$w1 p=$p")
    }
  }

  test("temperature mixing: weights sum to 1 and boost small sources") {
    val rows = q("q_mix_temperature").collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n"),
        r.getAs[Double]("weight")))
    assert(rows.nonEmpty)
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-3)
    // alpha < 1 compresses the range: weight ratio < raw token ratio
    val big = rows.maxBy(_._2); val small = rows.minBy(_._2)
    if (big._2 > small._2)
      assert(big._3 / small._3 < big._2.toDouble / small._2,
        "temperature must compress source imbalance")
  }

  test("entropy matches a scalar replay per source") {
    val rows = q("q_text_entropy").collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Double]("entropy"),
        r.getAs[Long]("vocab")))
    val texts = Tables.t(spark, sf0, "documents")
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val bySource = texts.groupBy(_._1)
    rows.foreach { case (src, ent, vocab) =>
      val counts = bySource(src).flatMap(_._2.split(" "))
        .groupBy(identity).map { case (_, v) => v.length.toLong }
      val tn = counts.sum.toDouble
      val expect = -counts.map { n =>
        val p = n / tn; p * math.log(p) / math.log(2.0)
      }.sum
      assert(counts.size === vocab, s"vocab mismatch for $src")
      assert(math.abs(ent - expect) < 1e-5, s"entropy $src: $ent vs $expect")
    }
  }

  test("tpch q13/q22 shapes: histogram accounts for every customer; " +
    "q22 anti-join excludes urgent-order customers") {
    val nCust = Tables.t(spark, sf0, "customer").count()
    val q13 = q("q_tpch_q13").collect()
    assert(q13.map(_.getAs[Long]("custdist")).sum === nCust)
    val q22 = q("q_tpch_q22").collect()
    q22.foreach(r => assert(r.getAs[Long]("numcust") > 0))
    // no overlap with urgent-order customers by construction
    val urgent = Tables.t(spark, sf0, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey")).distinct().count()
    assert(urgent > 0) // the anti side is non-trivial
  }

  test("reservoir sample: fixed size, deterministic, TakeOrdered plan") {
    val a = q("q_sample_reservoir").collect().map(_.getAs[Long]("doc_id"))
    val b = q("q_sample_reservoir").collect().map(_.getAs[Long]("doc_id"))
    assert(a.length === 100)
    assert(a.toSeq === b.toSeq, "hash-ranked sample must be reproducible")
    // the k-smallest-hash selection must be a per-partition heap merge
    val p = q("q_sample_reservoir").queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), s"no heap-based top-k:\n$p")
  }

  test("streaming mix gate settles to the batch gate's counts") {
    val streamed = q("q_stream_mix_sample").collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("kept_docs"), r.getAs[Long]("kept_toks"))).toMap
    val batch = q("q_mix_sample").collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("kept_docs"), r.getAs[Long]("kept_toks"))).toMap
    assert(streamed === batch)
  }

  test("tpch q4/q7/q14 return sane shapes at sf0.001") {
    val q4 = q("q_tpch_q4").collect()
    assert(q4.nonEmpty && q4.forall(_.getAs[Long]("order_count") > 0))
    val q7 = q("q_tpch_q7").collect()
    assert(q7.length <= 2 &&
      q7.forall(r => r.getAs[String]("supp_nation") !=
        r.getAs[String]("cust_nation")))
    val q14 = q("q_tpch_q14").collect()
    assert(q14.length === 1)
    val pct = q14(0).getAs[Double]("promo_pct")
    assert(pct > 0.0 && pct < 100.0, s"promo_pct=$pct")
  }

  test("epoch plan: ceil-division repeat factors cover the target budget") {
    val rows = q("q_mix_epochs").collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("n")).sum
    rows.foreach { r =>
      val n = r.getAs[Long]("n")
      val tgt = r.getAs[Long]("target_tokens")
      val ep = r.getAs[Long]("epochs")
      assert(ep === (tgt + n - 1) / n)
      // epochs of the source must cover the target
      assert(ep * n >= tgt)
      assert(r.getAs[Double]("oversample") > 0.0)
    }
    // targets track the 10x budget (weights are rounded, so allow 1%)
    val sumTgt = rows.map(_.getAs[Long]("target_tokens")).sum.toDouble
    assert(math.abs(sumTgt - 10.0 * total) <= 0.01 * 10.0 * total)
    // temperature mixing must boost low-resource sources: the smallest
    // source oversamples at a higher ratio than the largest
    val smallest = rows.minBy(_.getAs[Long]("n"))
    val largest = rows.maxBy(_.getAs[Long]("n"))
    assert(smallest.getAs[Double]("oversample") >
      largest.getAs[Double]("oversample"))
  }

  test("DSIR: feature counts are ntok-1 and target docs score higher") {
    val rows = q("q_mix_dsir").collect()
    val ntok = Tables.t(spark, sf0, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).as("nt"),
        col("source"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("nt"), r.getAs[String]("source")))
      .toMap
    // every >=2-token doc present, with n_feat = token count - 1
    assert(rows.length === ntok.count(_._2._1 >= 2))
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Long]("n_feat") === ntok(id)._1 - 1, s"doc $id")
    }
    // the importance weight must separate the target domain in the
    // mean (individual docs overlap; the estimator works in aggregate)
    val tgtSrc = Set("src0", "src1", "src2", "src3")
    val (tgt, rest) = rows.partition(r => tgtSrc(ntok(r.getAs[Long]("doc_id"))._2))
    def mean(xs: Array[Double]) = xs.sum / xs.length
    assert(mean(tgt.map(_.getAs[Double]("logw"))) >
      mean(rest.map(_.getAs[Double]("logw"))) + 1.0)
  }

  test("shard manifest: shards partition the corpus; checksum is " +
    "order-insensitive") {
    val rows = q("q_shard_manifest").collect()
    val total = Tables.t(spark, sf0, "documents").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum === total)
    // driver-side replay in REVERSED row order must give the same sums
    val perDoc = Tables.t(spark, sf0, "documents").selectExpr(
      "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) " +
        "AS BIGINT) % 16 AS shard",
      "CAST(conv(substring(md5(CAST(lower(trim(text)) AS BINARY)), 1, " +
        "8), 16, 10) AS BIGINT) AS ch")
      .collect().map(r => (r.getAs[Long]("shard"), r.getAs[Long]("ch")))
    val byShard = perDoc.groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).reverse.sum }
    rows.foreach { r =>
      assert(byShard(r.getAs[Long]("shard")) ===
        r.getAs[Long]("content_sum"))
    }
  }

  test("DSIR resampling: 64 dense ranks, selection biased toward weight") {
    val rows = q("q_mix_dsir_sample").collect()
    assert(rows.length === 64)
    assert(rows.map(_.getAs[Long]("rk")).sorted.toSeq === (1L to 64L))
    // Gumbel-top-k must bias the draw toward high importance weights
    val selected = rows.map(_.getAs[Double]("logw"))
    val all = q("q_mix_dsir").collect().map(_.getAs[Double]("logw"))
    assert(selected.sum / selected.length > all.sum / all.length + 2.0,
      "selection not weight-biased")
    // the selected set is a subset of the scored corpus
    val ids = q("q_mix_dsir").collect().map(_.getAs[Long]("doc_id")).toSet
    rows.foreach(r => assert(ids(r.getAs[Long]("doc_id"))))
  }

  test("DSIR: model table broadcasts for scoring (no model-side shuffle join)") {
    val p = q("q_mix_dsir").queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"scoring join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), "model join fell back to SMJ")
  }

  test("held-out perplexity: foreign model costs more bits than self-scoring") {
    val held = q("q_text_heldout_ppl").collect()
    assert(held.length === 100)
    val bigrams = held.map(_.getAs[Long]("n_bigrams")).sum
    val unseen = held.map(_.getAs[Long]("n_unseen")).sum
    // the folds share a generator, so the backoff fires rarely
    assert(unseen.toDouble / bigrams < 0.05, s"unseen $unseen/$bigrams")
    def mean(xs: Array[Double]) = xs.sum / xs.length
    val heldMean = mean(held.map(_.getAs[Double]("bits_per_bigram")))
    // same docs scored under the self-trained corpus model: the
    // held-out (train-fold) model must not look BETTER than the model
    // that saw the documents
    val self = q("q_text_perplexity").collect()
      .filter(_.getAs[Long]("doc_id") % 5 == 0)
    val selfMean = mean(self.map(_.getAs[Double]("bits_per_bigram")))
    assert(heldMean >= selfMean - 1e-6,
      s"generalization gap negative: $heldMean vs $selfMean")
  }

  test("DSIR ESS: bounded by n, consistent ratios, weights concentrated") {
    val r = q("q_mix_dsir_ess").collect()(0)
    val n = r.getAs[Long]("n_docs")
    val ess = r.getAs[Double]("ess")
    assert(n === 500L)
    assert(ess >= 1.0 && ess <= n.toDouble)
    assert(math.abs(r.getAs[Double]("ess_ratio") - ess / n) < 1e-6)
    val share = r.getAs[Double]("max_share")
    assert(share > 0.0 && share <= 1.0)
    // the ~7-nat DSIR weight spread concentrates the draw: ESS well
    // below n (measured 15.2 at sf0.001, 25.4 at sf0.01)
    assert(ess < n / 4.0)
  }

  test("anneal mix: budgets split 90/10, boost follows the pass rate") {
    val rows = q("q_mix_anneal").collect()
    assert(rows.length === 20)
    val tot = rows.map(_.getAs[Long]("n_tokens")).sum
    val t1 = rows.map(_.getAs[Long]("t1_tokens")).sum
    val t2 = rows.map(_.getAs[Long]("t2_tokens")).sum
    // floors under-shoot by at most one token per source
    assert(t1 <= (0.9 * tot * 10).toLong && t1 >= (0.9 * tot * 10).toLong - 20)
    assert(t2 <= (0.1 * tot * 10).toLong && t2 >= (0.1 * tot * 10).toLong - 20)
    // the anneal stage boosts the highest-quality source relative to
    // the lowest-quality one
    val best = rows.maxBy(_.getAs[Double]("pass_rate"))
    val worst = rows.minBy(_.getAs[Double]("pass_rate"))
    assert(best.getAs[Double]("boost") > worst.getAs[Double]("boost"))
    // stage weights are distributions
    assert(math.abs(rows.map(_.getAs[Double]("w1")).sum - 1.0) < 1e-3)
    assert(math.abs(rows.map(_.getAs[Double]("w2")).sum - 1.0) < 1e-3)
  }

  test("perplexity: tertiles balanced, bits ordered head < middle < tail") {
    val rows = q("q_text_perplexity").collect()
    assert(rows.length === 500)
    val byBucket = rows.groupBy(_.getAs[String]("ppl_bucket"))
    assert(byBucket.keySet === Set("head", "middle", "tail"))
    // tertile split: bucket sizes differ by at most the tie width
    val sizes = byBucket.view.mapValues(_.length).toMap
    assert(sizes.values.max - sizes.values.min <= 10, s"skewed: $sizes")
    def meanBits(b: String) = {
      val xs = byBucket(b).map(_.getAs[Double]("bits_per_bigram"))
      xs.sum / xs.length
    }
    assert(meanBits("head") < meanBits("middle"))
    assert(meanBits("middle") < meanBits("tail"))
    rows.foreach(r => assert(r.getAs[Double]("bits_per_bigram") > 0.0))
  }

  test("contrast filter: in-domain scores below out-of-domain, keep " +
    "flag matches the integer contrast sign") {
    val rows = q("q_text_contrast").collect()
    assert(rows.length === 500)
    val inDomain = Set("src0", "src1", "src2", "src3")
    val (ins, outs) = rows.partition(r =>
      inDomain(r.getAs[String]("source")))
    def mean(xs: Array[Double]) = xs.sum / xs.length
    val mIn = mean(ins.map(_.getAs[Double]("contrast_bits")))
    val mOut = mean(outs.map(_.getAs[Double]("contrast_bits")))
    // the in-domain model fits its own sources: clear class separation
    assert(mIn < 0.0 && mOut > 0.0 && mOut - mIn > 0.1,
      s"no contrast separation: in=$mIn out=$mOut")
    // the gate keeps most of the target domain, rejects most of the rest
    def keepRate(xs: Array[org.apache.spark.sql.Row]) =
      xs.count(_.getAs[Long]("keep") == 1L).toDouble / xs.length
    assert(keepRate(ins) > 0.7, s"in-domain keep ${keepRate(ins)}")
    assert(keepRate(outs) < 0.4, s"out-domain keep ${keepRate(outs)}")
    rows.foreach { r =>
      // keep is exactly the sign test on the (rounded) integer contrast
      val c = r.getAs[Double]("contrast_bits")
      assert((r.getAs[Long]("keep") == 1L) === (c <= 0.0), r.toString)
      // foreign-model cost never beats the model that saw every doc by
      // more than the add-1 smoothing can explain; OOV counted
      assert(r.getAs[Long]("n_oov_in") >= 0L)
      assert(r.getAs[Double]("bits_in") > 0.0)
      assert(r.getAs[Double]("bits_gen") > 0.0)
    }
    // out-of-domain text hits the in-model's backoff more often
    val oovIn = mean(ins.map(_.getAs[Long]("n_oov_in").toDouble))
    val oovOut = mean(outs.map(_.getAs[Long]("n_oov_in").toDouble))
    assert(oovOut > oovIn, s"backoff rates: in=$oovIn out=$oovOut")
  }

  test("curriculum: contiguous phase spans, per-phase shares sum to 1, " +
    "difficulty rises with the phase") {
    val rows = q("q_mix_curriculum").collect()
    assert(rows.length === 60) // 3 phases x 20 sources
    val byPhase = rows.groupBy(_.getAs[Long]("phase"))
    assert(byPhase.keySet === Set(1L, 2L, 3L))
    // shares are a distribution within each phase
    byPhase.values.foreach { ps =>
      assert(math.abs(ps.map(_.getAs[Double]("share")).sum - 1.0) < 1e-3)
      // every row in a phase carries the same span
      assert(ps.map(_.getAs[Long]("tok_start")).distinct.length === 1)
      assert(ps.map(_.getAs[Long]("tok_end")).distinct.length === 1)
    }
    // spans tile the concatenated schedule: 0 ... total, no gaps
    def span(p: Long) = (byPhase(p)(0).getAs[Long]("tok_start"),
      byPhase(p)(0).getAs[Long]("tok_end"))
    assert(span(1)._1 === 0L)
    assert(span(1)._2 === span(2)._1)
    assert(span(2)._2 === span(3)._1)
    val total = rows.map(_.getAs[Long]("n_tokens")).sum
    assert(span(3)._2 === total)
    assert(rows.map(_.getAs[Long]("n_docs")).sum === 500L)
    // curriculum orders easy -> hard: average difficulty rises
    def meanBits(p: Long) = {
      val xs = byPhase(p).map(_.getAs[Double]("mean_bits"))
      xs.sum / xs.length
    }
    assert(meanBits(1) < meanBits(2) && meanBits(2) < meanBits(3),
      s"phases not ordered: ${meanBits(1)} ${meanBits(2)} ${meanBits(3)}")
  }

  test("hapax: lexical-richness census replays per source") {
    val tf = Tables.t(spark, sf0, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .collect().map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1).view
      .mapValues(_.groupBy(_._2).view.mapValues(_.length.toLong).toMap)
    val got = q("q_text_hapax").collect()
    assert(got.length === tf.size)
    got.foreach { r =>
      val m = tf(r.getAs[String]("source"))
      val types = m.size.toLong
      val tokens = m.values.sum
      val hapax = m.values.count(_ == 1L).toLong
      assert(r.getAs[Long]("n_types") === types)
      assert(r.getAs[Long]("n_tokens") === tokens)
      assert(r.getAs[Long]("n_hapax") === hapax)
      assert(r.getAs[Long]("hapax_rate_micro") ===
        1000000L * hapax / types)
      assert(r.getAs[Long]("ttr_micro") === 1000000L * types / tokens)
    }
  }

  test("budget: greedy allocation replays and exhausts exactly") {
    val got = q("q_mix_budget").collect()
    val docs = Tables.t(spark, sf0, "documents")
      .select(col("source"), size(split(col("text"), " ")).cast("long"),
        col("lang") === "en")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    val bySrc = docs.groupBy(_._1).map { case (src, rs) =>
      (src, rs.map(_._2).sum, 1000000L * rs.count(_._3) / rs.length)
    }.toSeq
    val total = bySrc.map(_._2).sum
    val budget = total / 2
    val ranked = bySrc.sortBy { case (src, _, sc) => (-sc, src) }
    var cum = 0L
    val want = ranked.zipWithIndex.map { case ((src, tok, sc), i) =>
      val alloc = math.min(tok, math.max(0L, budget - cum))
      cum += tok
      (src, (i + 1).toLong, tok, sc, alloc, alloc < tok)
    }
    val gotSeq = got.map(r => (r.getAs[String]("source"),
      r.getAs[Long]("rank"), r.getAs[Long]("tokens"),
      r.getAs[Long]("score_micro"), r.getAs[Long]("alloc_tokens"),
      r.getAs[Boolean]("truncated"))).toSeq
    assert(gotSeq === want)
    // the plan spends the whole budget (corpus has more than enough)
    assert(gotSeq.map(_._5).sum === budget)
  }
}
