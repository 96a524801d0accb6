package graft.ops

import graft.{Fixpoints, Q, Tables}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Learned-model operators expressed as pure dataflow: a multinomial
  * naive-Bayes language classifier (train + score + confusion matrix in
  * one program) and a Zipf rank-frequency fit. Both follow the
  * integer-scaling discipline: every per-item log-probability is
  * quantized to millionths (floor(x*1e6+0.5) BIGINT) BEFORE any
  * aggregation, so document scores are exact integer sums — prediction
  * argmax cannot flip between engines on a last-ulp float wobble. */
object Learn {

  private def t(n: String)(implicit s: SparkSession, d: String) =
    Tables.t(s, d, n)

  /** Multinomial naive Bayes over `documents`: train on doc_id%5!=0,
    * Laplace-smoothed token likelihoods, score the held-out fold,
    * emit the confusion matrix. Scale shape: the (term, lang)
    * log-likelihood table is VOCABULARY-sized (unbounded on raw web
    * text), so its scoring join is un-hinted — test tokens
    * hash-partition to the model terms, AQE broadcasting only by
    * measured size; only the #langs-row stats and 1-row totals carry
    * hints. Corpus-side work is one explode + one aggregation per test
    * token, shuffled on (doc, lang). No driver loop: training IS an
    * aggregation. */
  val qMlNaiveBayes = Q(
    "q_ml_naive_bayes",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      val docs = t("documents")
        .select(col("doc_id"), col("lang"),
          split(col("text"), " ").as("toks"))
      val train = docs.filter(col("doc_id") % 5 =!= 0)
      val test = docs.filter(col("doc_id") % 5 === 0)
      // ONE explode pass over the training corpus: the (term, lang)
      // count grid is the sufficient statistic for everything the
      // model needs — vocabulary size (distinct terms), per-lang token
      // totals (sum of counts), and the observed log-likelihoods —
      // so materialize it once instead of re-exploding per consumer.
      val termCounts = train
        .select(col("lang"), explode(col("toks")).as("term"))
        .groupBy(col("term").as("mt"), col("lang").as("ll"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint()
      // vocabulary size (all langs pooled) — one-row broadcast
      val vocab = termCounts.agg(countDistinct(col("mt")).as("v"))
      // per-lang doc counts, ONE training scan; the total-doc prior
      // denominator is its sum (identical value, one fewer corpus
      // scan than a separate count)
      val langDocs = train.groupBy(col("lang").as("dl"))
        .agg(count(lit(1)).as("docs_l"))
        .localCheckpoint()
      val nDocs = langDocs.agg(sum(col("docs_l")).as("n_docs"))
      val langStats = termCounts.groupBy(col("ll").as("ml"))
        .agg(sum(col("c")).as("t_l"))
        .join(langDocs, col("ml") === col("dl"))
        .crossJoin(broadcast(vocab))
        .crossJoin(broadcast(nDocs))
        .select(col("ml"), col("t_l"), col("v"),
          floor(log(col("docs_l").cast("double") / col("n_docs")) *
            1000000 + 0.5).cast("long").as("prior_i"),
          floor(log(lit(1.0) / (col("t_l") + col("v"))) * 1000000 + 0.5)
            .cast("long").as("unseen_i"))
      // observed (term, lang) log-likelihoods, integer-quantized;
      // diff_i = llh_i − unseen_i pre-computed so scoring can use the
      // seen-term-adjustment decomposition below (exact: both terms
      // are already-quantized longs)
      val llh = termCounts
        .join(broadcast(langStats), col("ll") === col("ml"))
        .select(col("mt"), col("ll"),
          (floor(log((col("c") + 1).cast("double") / (col("t_l") + col("v")))
            * 1000000 + 0.5).cast("long") - col("unseen_i")).as("diff_i"))
      // Score by sufficient statistics, not by token×lang explode:
      //   score(d,l) = prior_l + N_d·unseen_l + Σ_{t∈d seen in l} c_dt·diff_i
      // (exact integer identity with the per-token coalesce form —
      // each unseen token contributes unseen_l, each seen one
      // unseen_l + diff). The test corpus shuffles ONCE as (doc, term,
      // c) against the vocabulary-sized model on term alone — never
      // the ×|langs| token blow-up — and the full (doc × lang) score
      // grid is a #docs·|langs| row finisher, not a corpus-width one.
      // checkpointed: two consumers (per-doc totals and the model
      // join) would each re-run the test-fold explode otherwise
      val testTermCounts = test
        .select(col("doc_id"), col("lang").as("true_lang"),
          explode(col("toks")).as("term"))
        .groupBy(col("doc_id"), col("true_lang"), col("term"))
        .agg(count(lit(1)).as("ct"))
        .localCheckpoint()
      val docTotals = testTermCounts
        .groupBy(col("doc_id"), col("true_lang"))
        .agg(sum(col("ct")).as("nd"))
      val adj = testTermCounts
        .join(llh, col("term") === col("mt"))
        .groupBy(col("doc_id").as("a_doc"), col("ll"))
        .agg(sum(col("ct") * col("diff_i")).as("adj"))
      val scored = docTotals
        .crossJoin(broadcast(langStats.select(col("ml"), col("prior_i"),
          col("unseen_i"))))
        .join(adj,
          col("doc_id") === col("a_doc") && col("ml") === col("ll"),
          "left")
        .select(col("doc_id"), col("true_lang"),
          col("ml").as("cand"),
          (col("prior_i") + col("unseen_i") * col("nd") +
            coalesce(col("adj"), lit(0L))).as("score"))
      val pred = scored
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("doc_id"))
            .orderBy(col("score").desc, col("cand"))))
        .filter(col("rk") === 1)
      pred
        .groupBy(col("true_lang"), col("cand").as("pred_lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("true_lang"), col("pred_lang"))
    },
    Some("""WITH docs AS (
              SELECT doc_id, lang, string_split(text, ' ') AS toks
              FROM documents),
            train AS (SELECT * FROM docs WHERE doc_id % 5 <> 0),
            test AS (SELECT * FROM docs WHERE doc_id % 5 = 0),
            train_toks AS (
              SELECT lang, unnest(toks) AS term FROM train),
            vocab AS (
              SELECT count(DISTINCT term) AS v FROM train_toks),
            lang_stats AS (
              SELECT tt.lang AS ml,
                count(*) AS t_l,
                (SELECT v FROM vocab) AS v,
                CAST(floor(ln(CAST(dc.docs_l AS DOUBLE) /
                  (SELECT count(*) FROM train)) * 1000000 + 0.5) AS BIGINT)
                  AS prior_i,
                CAST(floor(ln(1.0e0 / (count(*) + (SELECT v FROM vocab)))
                  * 1000000 + 0.5) AS BIGINT) AS unseen_i
              FROM train_toks tt
                JOIN (SELECT lang, count(*) AS docs_l FROM train
                      GROUP BY lang) dc ON tt.lang = dc.lang
              GROUP BY tt.lang, dc.docs_l),
            llh AS (
              SELECT c.term AS mt, c.lang AS ll,
                CAST(floor(ln(CAST(c.c + 1 AS DOUBLE) / (ls.t_l + ls.v))
                  * 1000000 + 0.5) AS BIGINT) AS llh_i
              FROM (SELECT term, lang, count(*) AS c FROM train_toks
                    GROUP BY term, lang) c
                JOIN lang_stats ls ON c.lang = ls.ml),
            test_toks AS (
              SELECT t.doc_id, t.lang AS true_lang, ls.ml AS cand,
                ls.prior_i,
                coalesce(l.llh_i, ls.unseen_i) AS si
              FROM (SELECT doc_id, lang, unnest(toks) AS term
                    FROM test) t
                CROSS JOIN (SELECT ml, prior_i, unseen_i
                            FROM lang_stats) ls
                LEFT JOIN llh l ON t.term = l.mt AND ls.ml = l.ll),
            scored AS (
              SELECT doc_id, true_lang, cand,
                prior_i + CAST(sum(si) AS BIGINT) AS score
              FROM test_toks
              GROUP BY doc_id, true_lang, cand, prior_i),
            pred AS (
              SELECT true_lang, cand AS pred_lang
              FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                      ORDER BY score DESC, cand) AS rk
                    FROM scored)
              WHERE rk = 1)
            SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n
            FROM pred
            GROUP BY true_lang, pred_lang
            ORDER BY true_lang NULLS FIRST, pred_lang NULLS FIRST"""))

  /** Zipf's-law fit: ln(freq) regressed on ln(rank) over the 100 most
    * frequent terms (ties ranked by term). The regression inputs are
    * integer-quantized per term (nanos scale) so the closed-form
    * slope/intercept come from exact BIGINT sums; the corpus-sized work
    * is one token-count aggregate. The top-100 cut is a partial top-k
    * (orderBy + limit → TakeOrderedAndProject, map-side k per
    * partition) — NEVER a row_number window over the full vocabulary,
    * which is a single-partition sort of a table that grows with the
    * corpus. Rank within the 100 survivors is a broadcast
    * strict-predecessor count (100×100 nested loop), so no window at
    * all remains in the plan. */
  val qTextZipf = Q(
    "q_text_zipf",
    (sp, dir) => {
      implicit val s: SparkSession = sp
      implicit val d: String = dir
      val freqs = t("documents")
        .select(explode(split(col("text"), " ")).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("freq"))
      val top = freqs
        .orderBy(col("freq").desc, col("term")).limit(100)
      val ranked = top
        .join(broadcast(top.select(col("freq").as("pf"),
          col("term").as("pt"))),
          col("pf") > col("freq") ||
            (col("pf") === col("freq") && col("pt") < col("term")),
          "left")
        .groupBy(col("term"), col("freq"))
        .agg((count(col("pt")) + 1).as("rank"))
        .select(
          floor(log(col("rank").cast("double")) * 1000000 + 0.5)
            .cast("long").as("x"),
          floor(log(col("freq").cast("double")) * 1000000 + 0.5)
            .cast("long").as("y"))
      // x,y <= ~2e7 at any corpus size, so x*x and x*y stay inside
      // BIGINT over a 100-row fit window: ALL regression sums are exact
      val fit = ranked.agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      val nd = col("n").cast("double")
      val slope = (nd * col("sxy") - col("sx").cast("double") *
        col("sy")) / (nd * col("sxx") - col("sx").cast("double") *
        col("sx"))
      fit.select(
        col("n").as("n_terms"),
        round(slope / 1.0, 6).as("slope"),
        round((col("sy").cast("double") / nd - slope *
          col("sx") / nd) / 1000000, 6).as("intercept"))
    },
    Some("""WITH freqs AS (
              SELECT term, count(*) AS freq
              FROM (SELECT unnest(string_split(text, ' ')) AS term
                    FROM documents)
              GROUP BY term),
            ranked AS (
              SELECT
                CAST(floor(ln(CAST(rank AS DOUBLE)) * 1000000 + 0.5)
                  AS BIGINT) AS x,
                CAST(floor(ln(CAST(freq AS DOUBLE)) * 1000000 + 0.5)
                  AS BIGINT) AS y
              FROM (SELECT freq, row_number() OVER (
                      ORDER BY freq DESC, term) AS rank
                    FROM freqs)
              WHERE rank <= 100),
            fit AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(x) AS BIGINT) AS sx,
                CAST(sum(y) AS BIGINT) AS sy,
                CAST(sum(x * x) AS BIGINT) AS sxx,
                CAST(sum(x * y) AS BIGINT) AS sxy
              FROM ranked)
            SELECT n AS n_terms,
              round(((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
                     (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)) / 1.0, 6)
                AS slope,
              round((CAST(sy AS DOUBLE) / n -
                     ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
                      (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)) *
                     CAST(sx AS DOUBLE) / n) / 1000000, 6)
                AS intercept
            FROM fit"""))

  /** Model-based quality classifier (q_quality_classify): the
    * GPT-3/LLaMA-style quality filter — distill the rule-based gate
    * (q_text_gopher's pass/fail label) into a multinomial naive-Bayes
    * bag-of-words model on a train fold (doc_id % 5 != 0), then score
    * EVERY document with the pass-vs-fail log-odds. This is the pipeline
    * step that generalizes hand rules to a learned scorer whose
    * threshold can be swept; emitted per doc: the rule label, the model
    * decision, and the log-odds margin. Same integer discipline as the
    * language NB above: every log term is quantized to millionths
    * before summation, so the margin is an exact BIGINT and the
    * keep/drop decision cannot flip on a float ulp. The feature bag is
    * the token multiset PLUS one structural pseudo-token per document
    * (the decade length bucket `lb<floor(n_words/10)>`) — the standard
    * fastText-classifier trick that lets a bag-of-words model express
    * the length rule a multinomial NB is otherwise blind to. Scale
    * shape: two corpus passes. The training fold explodes once into
    * a per-term class-count grid; the per-class constants (one driver
    * row) fold both classes into one signed per-term delta table
    * (vocabulary rows, unbounded on raw web text), which the scoring
    * pass joins UN-hinted — tokens hash-partition to the model
    * terms, AQE broadcasting only by measured size. Scoring is one
    * explode, one left join and one per-doc aggregate: no class cross
    * join, no windows, corpus-linear. */
  val qQualityClassify = Q(
    "q_quality_classify",
    // Served from the shared verdict store: the memoized plan IS this
    // query's program (built by qualityClassifyBuild below), and the
    // cache-manager used to hand the raw rebuild the same cached scan
    // anyway — consuming the accessor keeps that behavior explicit and
    // lets cacheOnce drop its wide duplicate cache entry. The ORDER BY
    // lives here, not in the build: cacheOnce re-shapes the store
    // (repartition or coalesce, then a checkpointed RDD), which
    // discards any sort the build paid for (caught by the sf0.1
    // row-order compare), and the other consumers aggregate.
    (sp, dir) => qualityScores(sp, dir).orderBy(col("doc_id")),
    qualityClassifyOracle)

  private def qualityClassifyBuild(sp: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    implicit val s: SparkSession = sp
    implicit val d: String = dir
    // a NULL text carries one NULL token, as the oracle's
    // list_append(NULL, NULL) does: the doc is scored on that one
    // unseen token and emitted with a NULL label
    val base = t("documents")
      .select(col("doc_id"), col("text"),
        split(col("text"), " ").as("ws"))
      .select(col("doc_id"), col("ws"),
        (size(col("ws")).between(50, 100000) &&
          round(length(translate(col("text"), " ", "")) /
            size(col("ws")), 6).between(3.0, 10.0) &&
          round(size(filter(col("ws"), w => w.rlike("^[a-z]+\\z"))) /
            size(col("ws")), 6) >= 0.8 &&
          size(filter(col("ws"), w => w.isin("the", "a"))) >= 2)
          .cast("int").as("label"))
      .select(col("doc_id"), col("label"),
        concat(coalesce(col("ws"), array().cast("array<string>")),
          array(concat(lit("lb"),
            floor(size(col("ws")) / lit(10)).cast("long")
              .cast("string")))).as("ws"))
    // Pass 1, the training fold: one row per term with its count in
    // each class (label is 0, 1 or NULL). The length pseudo-token
    // closes every bag, so the last-position counts per class are the
    // class doc counts, and `d` counts every train doc (a NULL text's
    // lone NULL token too, as the oracle's prior denominator does).
    val last = col("pos") === col("n") - 1
    // The per-class constants ride on the grid's own job as observed
    // metrics: one driver row, no second job. Every quantized log is a
    // Spark expression (StrictMath.log), as in the oracle replay.
    def q6(x: Column): Column = floor(x * 1000000 + 0.5).cast("long")
    val v = count(col("term"))
    val constants = Seq(0, 1).flatMap { c =>
      val (dc, tv) = (sum(col(s"d$c")), sum(col(s"c$c")) + v)
      Seq(dc.as(s"d$c"), tv.as(s"tv$c"),
        when(dc > 0, q6(log(dc.cast("double") / sum(col("d")))))
          .as(s"prior$c"),
        when(dc > 0, q6(log(lit(1.0) / tv))).as(s"unseen$c"))
    }
    val observed = org.apache.spark.sql.Observation()
    val grid = base.filter(col("doc_id") % 5 =!= 0)
      .select(col("label"), size(col("ws")).as("n"),
        posexplode(col("ws")).as(Seq("pos", "term")))
      .groupBy(col("term"))
      .agg(count(when(col("label") === 0, 1)).as("c0"),
        count(when(col("label") === 1, 1)).as("c1"),
        count(when(col("label") === 0 && last, 1)).as("d0"),
        count(when(col("label") === 1 && last, 1)).as("d1"),
        count(when(last, 1)).as("d"))
      .observe(observed, constants.head, constants.tail: _*)
      .localCheckpoint()
    val metrics = observed.get
    def metric(name: String): Option[Long] =
      metrics.get(name).flatMap(Option(_)).map(_.asInstanceOf[Long])
    // (class, sign, t_c + v, prior_c, unseen_c) of each class with a
    // train doc; the pass class counts positive
    val cls = Seq(1 -> 1L, 0 -> -1L).collect {
      case (c, sign) if metric(s"d$c").exists(_ > 0) =>
        (c, sign, metric(s"tv$c").get, metric(s"prior$c").get,
          metric(s"unseen$c").get)
    }
    // lo = Σ_c sign_c·(prior_c + Σ_tok coalesce(llh_c, unseen_c)) folds
    // into per-doc constants and one signed per-term delta
    // e = Σ_c sign_c·(llh_c − unseen_c), a projection of the grid
    val k0 = cls.map { case (_, sign, _, p, _) => sign * p }.sum
    val k1 = cls.map { case (_, sign, _, _, u) => sign * u }.sum
    val e = grid.filter(col("term").isNotNull)
      .select(col("term").as("mt"), cls.map { case (c, sign, tv, _, u) =>
        val cnt = col(s"c$c")
        when(cnt > 0, lit(sign) *
          (q6(log((cnt + 1).cast("double") / tv)) - u)).otherwise(0L)
      }.reduceOption(_ + _).getOrElse(lit(0L)).as("e"))
    // Pass 2, every doc: one join of its tokens to e and one per-doc
    // aggregate. No class (an empty train fold) scores nothing, as
    // the cross join with the empty class table does in the oracle.
    base.filter(lit(cls.nonEmpty))
      .select(col("doc_id"), col("label"), explode(col("ws")).as("term"))
      .join(e, col("term") === col("mt"), "left")
      .groupBy(col("doc_id"), col("label"))
      .agg((lit(k0) + count(lit(1)) * k1 +
        coalesce(sum(col("e")), lit(0L))).as("lo_i"))
      .select(col("doc_id"), col("label").as("gopher_pass"),
        (col("lo_i") > 0).cast("int").as("nb_keep"),
        round(col("lo_i") / lit(1e6), 6).as("log_odds"))
  }

  private lazy val qualityClassifyOracle: Option[String] =
    Some("""WITH base AS (
              SELECT doc_id,
                list_append(string_split(text, ' '),
                  'lb' || CAST(CAST(floor(len(string_split(text, ' ')) / 10)
                    AS BIGINT) AS VARCHAR)) AS ws,
                CAST(len(string_split(text, ' ')) BETWEEN 50 AND 100000
                  AND round(length(replace(text, ' ', '')) * 1.0e0 /
                    len(string_split(text, ' ')), 6) BETWEEN 3.0 AND 10.0
                  AND round(len(list_filter(string_split(text, ' '),
                      x -> regexp_full_match(x, '[a-z]+'))) * 1.0e0 /
                    len(string_split(text, ' ')), 6) >= 0.8
                  AND len(list_filter(string_split(text, ' '),
                      x -> x IN ('the', 'a'))) >= 2
                AS INTEGER) AS label
              FROM documents),
            train AS (SELECT * FROM base WHERE doc_id % 5 <> 0),
            train_toks AS (
              SELECT label, unnest(ws) AS term FROM train),
            vocab AS (
              SELECT count(DISTINCT term) AS v FROM train_toks),
            cls AS (
              SELECT tt.label AS ml,
                count(*) AS t_l,
                (SELECT v FROM vocab) AS v,
                CAST(floor(ln(CAST(dc.docs_l AS DOUBLE) /
                  (SELECT count(*) FROM train)) * 1000000 + 0.5)
                  AS BIGINT) AS prior_i,
                CAST(floor(ln(1.0e0 / (count(*) + (SELECT v FROM vocab)))
                  * 1000000 + 0.5) AS BIGINT) AS unseen_i
              FROM train_toks tt
                JOIN (SELECT label, count(*) AS docs_l FROM train
                      GROUP BY label) dc ON tt.label = dc.label
              GROUP BY tt.label, dc.docs_l),
            llh AS (
              SELECT c.term AS mt, c.label AS ll,
                CAST(floor(ln(CAST(c.c + 1 AS DOUBLE) / (cs.t_l + cs.v))
                  * 1000000 + 0.5) AS BIGINT) AS llh_i
              FROM (SELECT term, label, count(*) AS c FROM train_toks
                    GROUP BY term, label) c
                JOIN cls cs ON c.label = cs.ml),
            tok AS (
              SELECT b.doc_id, b.label, cs.ml, cs.prior_i,
                coalesce(l.llh_i, cs.unseen_i) AS si
              FROM (SELECT doc_id, label, unnest(ws) AS term
                    FROM base) b
                CROSS JOIN (SELECT ml, prior_i, unseen_i FROM cls) cs
                LEFT JOIN llh l ON b.term = l.mt AND cs.ml = l.ll),
            scored AS (
              SELECT doc_id, label,
                CASE WHEN ml = 1
                  THEN prior_i + CAST(sum(si) AS BIGINT)
                  ELSE -(prior_i + CAST(sum(si) AS BIGINT)) END AS signed
              FROM tok
              GROUP BY doc_id, label, ml, prior_i),
            lo AS (
              SELECT doc_id, label, CAST(sum(signed) AS BIGINT) AS lo_i
              FROM scored GROUP BY doc_id, label)
            SELECT doc_id, label AS gopher_pass,
              CAST(lo_i > 0 AS INTEGER) AS nb_keep,
              round(lo_i / 1e6, 6) AS log_odds
            FROM lo
            ORDER BY doc_id NULLS FIRST""")

  /** The distilled classifier's per-doc verdict table, persisted once
    * per (session, dir) — q_quality_calibrate and q_quality_kappa both
    * probe the registered q_quality_classify output verbatim, and
    * without the store each consumer re-runs the full train+score
    * pipeline (measured 1.5 s per consumer at sf0.1). At fleet scale
    * this is the materialized score table a QA pass reads anyway. */
  private[graft] def qualityScores(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    Fixpoints.cacheOnce(s, d, "qualscores")(qualityClassifyBuild(s, d))

  /** Classifier calibration (q_quality_calibrate): reliability table
    * of the distilled quality classifier — fixed-width log-odds bins
    * (width 5, clamped to [-4, 3]) with per-bin document counts, the
    * empirical rule-label pass rate, and the mean margin. The QA pass
    * any learned filter gets before its threshold ships: a calibrated
    * model's pass rate should rise monotonically with the margin.
    * Composes the registered classifier verbatim (oracle CTE reuse),
    * so the driver hash-checks the composition. Binning is scan-local
    * against FIXED literal edges (never a percentile of the data);
    * the margin mean recovers the exact integer score (floor(lo·1e6))
    * per row before summation, so the aggregate is order-insensitive. */
  val qQualityCalibrate = Q(
    "q_quality_calibrate",
    (sp, dir) => {
      qualityScores(sp, dir)
        .select(col("gopher_pass"), col("nb_keep"),
          least(greatest(floor(col("log_odds") / 5), lit(-4)), lit(3))
            .cast("long").as("bin"),
          floor(col("log_odds") * 1000000 + 0.5).cast("long").as("li"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("gopher_pass").cast("long")).as("n_pass"),
          sum(col("nb_keep").cast("long")).as("n_keep"),
          round(sum(col("li")).cast("double") / 1000000 / count(lit(1)),
            6).as("mean_log_odds"))
        .withColumn("pass_rate",
          round(col("n_pass").cast("double") / col("n_docs"), 6))
        .orderBy(col("bin"))
    },
    qQualityClassify.oracle.map { sql =>
      val inner = graft.Oracle.stripOrderBy(sql)
      s"""SELECT bin, count(*) AS n_docs,
            CAST(sum(gopher_pass) AS BIGINT) AS n_pass,
            CAST(sum(nb_keep) AS BIGINT) AS n_keep,
            round(CAST(sum(li) AS DOUBLE) / 1000000 / count(*), 6)
              AS mean_log_odds,
            round(CAST(sum(gopher_pass) AS DOUBLE) / count(*), 6)
              AS pass_rate
          FROM (SELECT gopher_pass, nb_keep,
                  least(greatest(CAST(floor(log_odds / 5) AS BIGINT),
                    -4), 3) AS bin,
                  CAST(floor(log_odds * 1000000 + 0.5) AS BIGINT) AS li
                FROM ($inner) z) b
          GROUP BY bin
          ORDER BY bin NULLS FIRST"""
    })

  val all: Seq[Q] = Seq(qMlNaiveBayes, qTextZipf, qQualityClassify,
    qQualityCalibrate)
}
