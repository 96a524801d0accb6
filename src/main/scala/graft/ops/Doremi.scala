package graft.ops

import graft.{Fixpoints, Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DoReMi-style mixture reweighting (Xie et al. 2023, public method):
  * the one-round excess-loss reweight and the iterated two-round
  * trajectory with the mixture model refit between rounds. Model
  * plumbing reuses Corpus's shared add-1 bigram scorer. Carved out of
  * Refine.scala (round 9) purely for review tractability; behavior,
  * registry ids, and oracles are unchanged. */
object Doremi {

  private def docs(s: SparkSession, d: String) =
    Tables.t(s, d, "documents")

  /** Per-source add-1 model tables, persisted once per (session, dir):
    * source-keyed bigram counts cntS(source, w1, w2, n) — a rollup of
    * the shared [[Corpus.docBigrams]] — per-history totals
    * totS(source, w1, t) and per-source vocab sizes vocS(source, v).
    * Shared by q_mix_doremi and q_mix_doremi_rounds (which also feeds
    * cntS to every mixture-scoring round). */
  private[graft] def sourceModel(
      s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    val cntS = Fixpoints.cacheOnce(s, d, "cnts") {
      Corpus.docBigrams(s, d)
        .groupBy(col("source"), col("w1"), col("w2"))
        .agg(sum(col("c")).as("n"))
    }
    val totS = Fixpoints.cacheOnce(s, d, "tots") {
      cntS.groupBy(col("source"), col("w1")).agg(sum(col("n")).as("t"))
    }
    // every token of a doc with at least 2 tokens sits in one of its
    // bigrams, as for Corpus.fullModel's vocabulary
    val vocS = Fixpoints.cacheOnce(s, d, "vocs") {
      cntS.select(col("source"), col("w1").as("token"))
        .union(cntS.select(col("source"), col("w2").as("token")))
        .groupBy(col("source"))
        .agg(countDistinct(col("token")).as("v"))
    }
    (cntS, totS, vocS)
  }

  /** Every doc scored under its OWN source's add-1 model — (doc_id,
    * source, nb, so), persisted once; both DoReMi variants divide the
    * same integer micro-bit sums. The backoff chain matches
    * [[Corpus.scoreUnder]]; vocS (one row per source, bounded in any
    * real mixture) is the only broadcast. */
  private[graft] def ownScore(s: SparkSession, d: String): DataFrame =
    Fixpoints.cacheOnce(s, d, "ownscore") {
      val (cntS, totS, vocS) = sourceModel(s, d)
      Corpus.docBigrams(s, d)
        .join(cntS, Seq("source", "w1", "w2"), "left")
        .join(totS, Seq("source", "w1"), "left")
        .join(broadcast(vocS), Seq("source"))
        .withColumn("lqi", floor(-log(
            when(col("n").isNotNull,
              (col("n") + 1).cast("double") / (col("t") + col("v")))
              .when(col("t").isNotNull, lit(1.0) / (col("t") + col("v")))
              .otherwise(lit(1.0) / col("v")))
          / log(lit(2.0)) * 1000000 + 0.5).cast("long"))
        .groupBy(col("doc_id"), col("source"))
        .agg(sum(col("c")).as("nb"), sum(col("c") * col("lqi")).as("so"))
    }

  // ---- q_mix_doremi -----------------------------------------------------

  /** DoReMi-style domain reweighting (q_mix_doremi): one multiplicative-
    * weights round over sources — per domain, the EXCESS LOSS of the
    * general (mixture-trained) model over the domain's own model, and
    * the exponentiated reweight w_s ∝ exp(η·excess_s) (η = 1) that
    * upweights domains the mixture underserves. Model plumbing reuses
    * the shared add-1 bigram scorer (q_text_contrast's backoff chain);
    * the per-source models are ONE source-keyed aggregate (cnt/tot
    * tables vocab²-bounded, joined UNHINTED; only the one-row-per-
    * source vocab sizes broadcast — domain counts are bounded in any
    * real mixture). Per-doc means are exact integral divisions of
    * micro-quantized bit sums; excess clamps at 0 per doc (the DoReMi
    * rule), aggregates as an exact BIGINT sum, and the normalizer
    * follows the q_mix_temperature round(raw/z, 6) discipline. */
  val qMixDoremi = Q(
    "q_mix_doremi",
    (s, d) => {
      // both scorings are shared persisted fixpoints: the general-model
      // scores (also q_text_contrast's general side) and the own-model
      // scores (also q_mix_doremi_rounds' fixed side)
      val gen = Corpus.genScore(s, d)
        .select(col("doc_id"), col("nb"), col("sum_i").as("sg"))
      val own = ownScore(s, d)
        .select(col("doc_id"), col("source"), col("so"))
      val perDoc = own.join(gen, Seq("doc_id"))
        .withColumn("mg", expr("sg div nb"))
        .withColumn("mo", expr("so div nb"))
        .withColumn("ex", greatest(col("mg") - col("mo"), lit(0L)))
      val perSource = perDoc.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("mg")).as("sum_mg"), sum(col("mo")).as("sum_mo"),
          sum(col("ex")).as("sum_ex"))
        .withColumn("ex_micro", expr("sum_ex div n_docs"))
      val z = perSource
        .agg(sum(exp(col("ex_micro") / lit(1e6))).as("z"))
      perSource.crossJoin(broadcast(z))
        .select(col("source"), col("n_docs"),
          round(col("sum_mg").cast("double") / 1e6 / col("n_docs"), 6)
            .as("bits_gen"),
          round(col("sum_mo").cast("double") / 1e6 / col("n_docs"), 6)
            .as("bits_own"),
          round(col("ex_micro") / lit(1e6), 6).as("excess_bits"),
          round(exp(col("ex_micro") / lit(1e6)) / col("z"), 6)
            .as("weight"))
        .orderBy(col("source"))
    },
    Some("""WITH tk AS (
              SELECT doc_id, source, string_split(text, ' ') AS w
              FROM documents
              WHERE len(string_split(text, ' ')) >= 2),
            big AS (
              SELECT doc_id, source, w[i] AS w1, w[i + 1] AS w2
              FROM tk, LATERAL (
                SELECT unnest(generate_series(1, len(w) - 1)) AS i) g),
            db AS (
              SELECT doc_id, source, w1, w2,
                CAST(count(*) AS BIGINT) AS c
              FROM big GROUP BY doc_id, source, w1, w2),
            cnt_g AS (
              SELECT w1, w2, CAST(sum(c) AS BIGINT) AS n
              FROM db GROUP BY w1, w2),
            tot_g AS (
              SELECT w1, CAST(sum(n) AS BIGINT) AS t
              FROM cnt_g GROUP BY w1),
            voc_g AS (
              SELECT count(DISTINCT token) AS v
              FROM (SELECT unnest(w) AS token FROM tk)),
            cnt_s AS (
              SELECT source, w1, w2, CAST(sum(c) AS BIGINT) AS n
              FROM db GROUP BY source, w1, w2),
            tot_s AS (
              SELECT source, w1, CAST(sum(n) AS BIGINT) AS t
              FROM cnt_s GROUP BY source, w1),
            voc_s AS (
              SELECT source, count(DISTINCT token) AS v
              FROM (SELECT source, unnest(w) AS token FROM tk)
              GROUP BY source),
            gen AS (
              SELECT db.doc_id,
                CAST(sum(db.c) AS BIGINT) AS nb,
                CAST(sum(db.c * CAST(floor(-ln(
                    CASE WHEN cnt_g.n IS NOT NULL
                      THEN CAST(cnt_g.n + 1 AS DOUBLE)
                        / (tot_g.t + voc_g.v)
                    WHEN tot_g.t IS NOT NULL
                      THEN 1.0e0 / (tot_g.t + voc_g.v)
                    ELSE 1.0e0 / voc_g.v END)
                  / ln(CAST(2 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT))
                  AS BIGINT) AS sg
              FROM db
              LEFT JOIN cnt_g ON db.w1 = cnt_g.w1 AND db.w2 = cnt_g.w2
              LEFT JOIN tot_g ON db.w1 = tot_g.w1
              CROSS JOIN voc_g
              GROUP BY db.doc_id),
            own AS (
              SELECT db.doc_id, db.source,
                CAST(sum(db.c * CAST(floor(-ln(
                    CASE WHEN cnt_s.n IS NOT NULL
                      THEN CAST(cnt_s.n + 1 AS DOUBLE)
                        / (tot_s.t + voc_s.v)
                    WHEN tot_s.t IS NOT NULL
                      THEN 1.0e0 / (tot_s.t + voc_s.v)
                    ELSE 1.0e0 / voc_s.v END)
                  / ln(CAST(2 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT))
                  AS BIGINT) AS so
              FROM db
              LEFT JOIN cnt_s ON db.source = cnt_s.source
                AND db.w1 = cnt_s.w1 AND db.w2 = cnt_s.w2
              LEFT JOIN tot_s ON db.source = tot_s.source
                AND db.w1 = tot_s.w1
              JOIN voc_s ON db.source = voc_s.source
              GROUP BY db.doc_id, db.source),
            per_doc AS (
              SELECT o.source, g.sg // g.nb AS mg, o.so // g.nb AS mo,
                greatest(g.sg // g.nb - o.so // g.nb, 0) AS ex
              FROM own o JOIN gen g ON o.doc_id = g.doc_id),
            per_source AS (
              SELECT source, count(*) AS n_docs,
                CAST(sum(mg) AS BIGINT) AS sum_mg,
                CAST(sum(mo) AS BIGINT) AS sum_mo,
                CAST(sum(ex) AS BIGINT) // count(*) AS ex_micro
              FROM per_doc GROUP BY source),
            z AS (SELECT sum(exp(ex_micro / 1e6)) AS z FROM per_source)
            SELECT source, n_docs,
              round(CAST(sum_mg AS DOUBLE) / 1e6 / n_docs, 6)
                AS bits_gen,
              round(CAST(sum_mo AS DOUBLE) / 1e6 / n_docs, 6)
                AS bits_own,
              round(ex_micro / 1e6, 6) AS excess_bits,
              round(exp(ex_micro / 1e6) / z, 6) AS weight
            FROM per_source, z
            ORDER BY source NULLS FIRST"""))


  // ---- q_mix_doremi_rounds ----------------------------------------------

  /** Iterated DoReMi (q_mix_doremi_rounds): TWO multiplicative-weights
    * updates with the mixture model REFIT between rounds — the part of
    * DoReMi the single-round q_mix_doremi cannot show: upweighted
    * domains pull the mixture toward themselves, so their excess loss
    * SHRINKS in the next round and the weights converge instead of
    * running away. The weighted mixture model is kept EXACT: weights
    * live as integer micro-weights (wm, Σ ≈ 1e6), so the round-r
    * mixture counts Σ_s wm_r(s)·cnt_s are exact BIGINT sums (never a
    * data-order float reduction over the vocabulary), smoothing adds
    * K = 1e6 in the same milli-units ((c+K)/(t+K·V)), and one double
    * division per bigram is the only float before the usual
    * micro-quantized bits. Per-source models fit once; two scoring
    * passes reuse ONE per-doc bigram multiset. Output: weight
    * trajectory w0 → w1 → w2 with each round's excess. */
  val qMixDoremiRounds = Q(
    "q_mix_doremi_rounds",
    (s, d) => {
      // shared persisted fixpoints: the per-doc bigram multiset, the
      // per-source model (cntS feeds every mixture round), and the
      // own-model per-doc scores (fixed across rounds, also
      // q_mix_doremi's own side)
      val db = Corpus.docBigrams(s, d)
      val (cntS, _, _) = sourceModel(s, d)
      val vocG = Corpus.fullModel(s, d)._3
      val own = ownScore(s, d)
        .withColumn("mo", expr("so div nb"))
        .select(col("doc_id"), col("source"), col("nb"), col("mo"))
      // one MW round: score docs under the wm-weighted mixture, clamp
      // per-doc excess at 0, integral-mean per source, reweight
      def mwRound(wm: DataFrame): DataFrame = {
        val K = 1000000L
        val cntR = cntS.join(broadcast(wm), Seq("source"))
          .groupBy(col("w1"), col("w2"))
          .agg(sum(col("n") * col("wm")).as("cr"))
        val totR = cntR.groupBy(col("w1")).agg(sum(col("cr")).as("tr"))
        val mix = db
          .join(cntR, Seq("w1", "w2"), "left")
          .join(totR, Seq("w1"), "left")
          .crossJoin(broadcast(vocG))
          .withColumn("lqi", floor(-log(
              when(col("cr").isNotNull,
                (col("cr") + K).cast("double") /
                  (col("tr") + lit(K) * col("v")))
                .when(col("tr").isNotNull,
                  lit(K).cast("double") / (col("tr") + lit(K) * col("v")))
                .otherwise(lit(1.0) / col("v")))
            / log(lit(2.0)) * 1000000 + 0.5).cast("long"))
          .groupBy(col("doc_id"))
          .agg(sum(col("c") * col("lqi")).as("sm"))
        // ≤|sources| rows carrying the round's one corpus pass —
        // checkpointed because raw is consumed twice (the z normalizer
        // aggregate and the reweight select)
        val perSource = own.join(mix, Seq("doc_id"))
          .withColumn("ex",
            greatest(expr("sm div nb") - col("mo"), lit(0L)))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("ex")).as("sum_ex"))
          .withColumn("ex_micro", expr("sum_ex div n_docs"))
          .localCheckpoint()
        val raw = perSource.join(broadcast(wm), Seq("source"))
          .withColumn("raw",
            col("wm").cast("double") * exp(col("ex_micro") / lit(1e6)))
        val z = raw.agg(sum(col("raw")).as("z"))
        raw.crossJoin(broadcast(z))
          .select(col("source"), col("n_docs"), col("ex_micro"),
            floor(col("raw") / col("z") * 1e6 + 0.5).cast("long")
              .as("wm_next"))
      }
      // The weight vector is ≤|sources| rows but its lineage is the
      // whole preceding round: un-cut, round 2's two references to w1
      // (cntR and the reweight join) and the final trajectory select
      // re-enter round 1's corpus pass — 86 logical copies of the
      // documents scan, and the per-round mixture scoring risks
      // re-EXECUTION wherever exchange reuse can't dedupe it.
      // Checkpoint the tiny per-round grids so each corpus pass runs
      // exactly once and the loop's plan stays grid-sized.
      val w0 = docs(s, d).select(col("source")).distinct()
        .crossJoin(broadcast(
          docs(s, d).agg(countDistinct(col("source")).as("ns"))))
        .select(col("source"),
          expr("1000000 div ns").cast("long").as("wm"))
        .localCheckpoint()
      val r1 = mwRound(w0).localCheckpoint()
      val w1 = r1.select(col("source"), col("wm_next").as("wm"))
      val r2 = mwRound(w1).localCheckpoint()
      r1.select(col("source"), col("n_docs"),
          round(col("ex_micro") / lit(1e6), 6).as("excess_r1"),
          col("wm_next").as("wm1"))
        .join(r2.select(col("source"),
          round(col("ex_micro") / lit(1e6), 6).as("excess_r2"),
          col("wm_next").as("wm2")), Seq("source"))
        .join(broadcast(w0.select(col("source"), col("wm").as("wm0"))),
          Seq("source"))
        .select(col("source"), col("n_docs"),
          round(col("wm0") / lit(1e6), 6).as("w0"),
          col("excess_r1"),
          round(col("wm1") / lit(1e6), 6).as("w1"),
          col("excess_r2"),
          round(col("wm2") / lit(1e6), 6).as("w2"))
        .orderBy(col("source"))
    },
    Some {
      // one scoring round under the wm-weighted mixture as SQL; the
      // weight table CTE name is parameterized so the round unrolls
      def roundSql(wTab: String, exTab: String): String =
        s"""cnt_$exTab AS MATERIALIZED (
              SELECT c.w1, c.w2, CAST(sum(c.n * w.wm) AS BIGINT) AS cr
              FROM cnt_s c JOIN $wTab w USING (source)
              GROUP BY c.w1, c.w2),
            tot_$exTab AS MATERIALIZED (
              SELECT w1, CAST(sum(cr) AS BIGINT) AS tr
              FROM cnt_$exTab GROUP BY w1),
            mix_$exTab AS MATERIALIZED (
              SELECT db.doc_id,
                CAST(sum(db.c * CAST(floor(-ln(
                    CASE WHEN m.cr IS NOT NULL
                      THEN CAST(m.cr + 1000000 AS DOUBLE)
                        / (t.tr + 1000000 * voc_g.v)
                    WHEN t.tr IS NOT NULL
                      THEN CAST(1000000 AS DOUBLE)
                        / (t.tr + 1000000 * voc_g.v)
                    ELSE 1.0e0 / voc_g.v END)
                  / ln(CAST(2 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT))
                  AS BIGINT) AS sm
              FROM db
              LEFT JOIN cnt_$exTab m ON db.w1 = m.w1 AND db.w2 = m.w2
              LEFT JOIN tot_$exTab t ON db.w1 = t.w1
              CROSS JOIN voc_g
              GROUP BY db.doc_id),
            $exTab AS MATERIALIZED (
              SELECT o.source, count(*) AS n_docs,
                CAST(sum(greatest(x.sm // o.nb - o.mo, 0)) AS BIGINT)
                  // count(*) AS ex_micro
              FROM own o JOIN mix_$exTab x USING (doc_id)
              GROUP BY o.source),
            raw_$exTab AS MATERIALIZED (
              SELECT e.source, e.n_docs, e.ex_micro,
                CAST(w.wm AS DOUBLE) * exp(e.ex_micro / 1e6) AS raw
              FROM $exTab e JOIN $wTab w USING (source)),
            next_$exTab AS MATERIALIZED (
              SELECT source, n_docs, ex_micro,
                CAST(floor(raw / (SELECT sum(raw) FROM raw_$exTab)
                  * 1e6 + 0.5) AS BIGINT) AS wm
              FROM raw_$exTab)"""
      s"""WITH tk AS MATERIALIZED (
            SELECT doc_id, source, string_split(text, ' ') AS w
            FROM documents
            WHERE len(string_split(text, ' ')) >= 2),
          big AS MATERIALIZED (
            SELECT doc_id, source, w[i] AS w1, w[i + 1] AS w2
            FROM tk, LATERAL (
              SELECT unnest(generate_series(1, len(w) - 1)) AS i) g),
          db AS MATERIALIZED (
            SELECT doc_id, source, w1, w2, CAST(count(*) AS BIGINT) AS c
            FROM big GROUP BY doc_id, source, w1, w2),
          cnt_s AS MATERIALIZED (
            SELECT source, w1, w2, CAST(sum(c) AS BIGINT) AS n
            FROM db GROUP BY source, w1, w2),
          tot_s AS MATERIALIZED (
            SELECT source, w1, CAST(sum(n) AS BIGINT) AS t
            FROM cnt_s GROUP BY source, w1),
          voc_s AS MATERIALIZED (
            SELECT source, count(DISTINCT token) AS v
            FROM (SELECT source, unnest(w) AS token FROM tk)
            GROUP BY source),
          voc_g AS MATERIALIZED (
            SELECT count(DISTINCT token) AS v
            FROM (SELECT unnest(w) AS token FROM tk)),
          own AS MATERIALIZED (
            SELECT db.doc_id, db.source,
              CAST(sum(db.c) AS BIGINT) AS nb,
              CAST(sum(db.c * CAST(floor(-ln(
                  CASE WHEN cnt_s.n IS NOT NULL
                    THEN CAST(cnt_s.n + 1 AS DOUBLE)
                      / (tot_s.t + voc_s.v)
                  WHEN tot_s.t IS NOT NULL
                    THEN 1.0e0 / (tot_s.t + voc_s.v)
                  ELSE 1.0e0 / voc_s.v END)
                / ln(CAST(2 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT))
                AS BIGINT) // CAST(sum(db.c) AS BIGINT) AS mo
            FROM db
            LEFT JOIN cnt_s ON db.source = cnt_s.source
              AND db.w1 = cnt_s.w1 AND db.w2 = cnt_s.w2
            LEFT JOIN tot_s ON db.source = tot_s.source
              AND db.w1 = tot_s.w1
            JOIN voc_s ON db.source = voc_s.source
            GROUP BY db.doc_id, db.source),
          w0 AS MATERIALIZED (
            SELECT source,
              CAST(1000000 // (SELECT count(DISTINCT source)
                FROM documents) AS BIGINT) AS wm
            FROM (SELECT DISTINCT source FROM documents)),
          ${roundSql("w0", "r1")},
          w1 AS MATERIALIZED (SELECT source, wm FROM next_r1),
          ${roundSql("w1", "r2")}
          SELECT w0.source, r1.n_docs,
            round(w0.wm / 1e6, 6) AS w0,
            round(r1.ex_micro / 1e6, 6) AS excess_r1,
            round(n1.wm / 1e6, 6) AS w1,
            round(r2.ex_micro / 1e6, 6) AS excess_r2,
            round(n2.wm / 1e6, 6) AS w2
          FROM w0
          JOIN r1 ON w0.source = r1.source
          JOIN next_r1 n1 ON w0.source = n1.source
          JOIN r2 ON w0.source = r2.source
          JOIN next_r2 n2 ON w0.source = n2.source
          ORDER BY w0.source NULLS FIRST"""
    })

  val all: Seq[Q] = Seq(qMixDoremi, qMixDoremiRounds)
}
