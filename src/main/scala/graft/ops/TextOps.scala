package graft.ops

import graft.{Fixpoints, Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** T3 text-analysis operators for the LLM-data-pipeline north star
  * (SURVEY.md §2.3, BASELINE.json): tokenization, TF-IDF, language stats,
  * quality scoring, n-gram language-ID, winnowing-style fingerprinting,
  * BPE-ish token counting — all over `documents`.
  *
  * Scale shape: everything is explode → two-phase hash aggregate; the
  * only joins are against tiny per-language profile tables (broadcast).
  * The corpus vocabulary is tiny (31 words), so 5-gram shingles — not
  * unigrams — are the discriminative unit wherever identity matters.
  */
object TextOps {

  private def docs(s: SparkSession, d: String) = Tables.t(s, d, "documents")

  /** doc_id + token array, Spark side. */
  private def toks(s: SparkSession, d: String): DataFrame =
    docs(s, d).withColumn("toks", split(col("text"), " "))

  private val toksCte =
    """WITH toks_t AS (
         SELECT doc_id, lang, source, n_chars, text,
                string_split(text, ' ') AS toks
         FROM documents)"""

  /** Corpus term frequency (q_text_tokens): tokenize + count. */
  val qTextTokens = Q(
    "q_text_tokens",
    (s, d) =>
      toks(s, d)
        .select(col("doc_id"), explode(col("toks")).as("token"))
        .groupBy(col("token"))
        .agg(
          count(lit(1)).as("tf"),
          countDistinct(col("doc_id")).as("df"))
        .orderBy(col("token")),
    Some(s"""$toksCte
             SELECT token, count(*) AS tf,
               count(DISTINCT doc_id) AS df
             FROM (SELECT doc_id, unnest(toks) AS token FROM toks_t)
             GROUP BY token
             ORDER BY token NULLS FIRST"""))

  /** TF-IDF (q_text_tfidf): top-5 scored terms per document. Two-level
    * aggregate; deterministic tie-break (score desc, token asc). The df
    * table is VOCABULARY-sized — Heaps-law unbounded on raw web text —
    * so its join is left un-hinted: both sides hash-partition on token
    * (tf is already shuffled there), and AQE may still broadcast by
    * measured size when the vocab genuinely is small. Only the 1-row
    * doc-count frame carries a hint.
    *
    * ONE corpus explode: df derives from tf — a token's document
    * frequency is exactly its (doc, token) row count — as a COUNT
    * WINDOW over the vocabulary-sized tf table (partition by token),
    * not a second exploded-stream aggregate + join. A separate df
    * branch can't share tf's exchange: column pruning strips the tf
    * value from the df side, the subtrees diverge, and ReusedExchange
    * never fires — measured as two full explode passes. The window
    * form is one explode, one (doc, token) shuffle, one token-bounded
    * window shuffle, zero joins. */
  val qTextTfidf = Q(
    "q_text_tfidf",
    (s, d) => {
      val t = toks(s, d)
        .select(col("doc_id"), explode(col("toks")).as("token"))
      val tf = t.groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("tf"))
      val n = docs(s, d).agg(count(lit(1)).as("n_docs"))
      val scored = tf
        .withColumn("df",
          count(lit(1)).over(Window.partitionBy(col("token"))))
        .crossJoin(broadcast(n))
        .withColumn("score",
          round(col("tf") * log(col("n_docs") / col("df")), 6))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("token"))
      scored
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 5)
        .select(col("doc_id"), col("rn"), col("token"), col("score"))
        .orderBy(col("doc_id"), col("rn"))
    },
    Some(s"""$toksCte,
             exploded AS (SELECT doc_id, unnest(toks) AS token FROM toks_t),
             tf AS (SELECT doc_id, token, count(*) AS tf
                    FROM exploded GROUP BY doc_id, token),
             df AS (SELECT token, count(DISTINCT doc_id) AS df
                    FROM exploded GROUP BY token),
             n AS (SELECT count(*) AS n_docs FROM documents),
             scored AS (
               SELECT tf.doc_id, tf.token,
                 round(tf.tf * ln(n.n_docs / df.df), 6) AS score
               FROM tf JOIN df USING (token) CROSS JOIN n)
             SELECT doc_id, rn, token, score
             FROM (SELECT doc_id, token, score,
                     CAST(row_number() OVER (PARTITION BY doc_id
                       ORDER BY score DESC, token) AS BIGINT) AS rn
                   FROM scored)
             WHERE rn <= 5
             ORDER BY doc_id NULLS FIRST, rn NULLS FIRST"""))

  /** Per-language corpus stats (q_text_lang). */
  val qTextLang = Q(
    "q_text_lang",
    (s, d) =>
      docs(s, d)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          round(avg(col("n_chars")), 6).as("avg_chars"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy(col("lang")),
    Some("""SELECT lang, count(*) AS n_docs,
              CAST(sum(n_chars) AS BIGINT) AS sum_chars,
              round(avg(n_chars), 6) AS avg_chars,
              count(DISTINCT source) AS n_sources
            FROM documents GROUP BY lang
            ORDER BY lang NULLS FIRST"""))

  /** Quality scoring (q_text_quality): length/stopword/word-shape
    * heuristics per document — the pre-training filter idiom. */
  val qTextQuality = Q(
    "q_text_quality",
    (s, d) =>
      toks(s, d)
        .select(
          col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          length(col("text")).cast("long").as("len_chars"),
          expr("""CAST(size(filter(toks,
                    t -> t IN ('the','a','and','of','to','in')))
                  AS BIGINT)""").as("n_stop"))
        .withColumn("stop_ratio",
          round(col("n_stop") * lit(1.0) / col("n_tokens"), 6))
        .withColumn("avg_token_len",
          round((col("len_chars") - (col("n_tokens") - 1)) * lit(1.0) /
            col("n_tokens"), 6))
        .withColumn("quality",
          round(log(lit(1.0) + col("len_chars")) *
            (lit(1.0) - col("stop_ratio")), 6))
        .orderBy(col("doc_id")),
    Some(s"""$toksCte
             SELECT doc_id, n_tokens, len_chars, n_stop,
               round(n_stop * 1.0e0 / n_tokens, 6) AS stop_ratio,
               round((len_chars - (n_tokens - 1)) * 1.0e0 / n_tokens, 6)
                 AS avg_token_len,
               round(ln(1.0 + len_chars) *
                 (1.0 - round(n_stop * 1.0e0 / n_tokens, 6)), 6) AS quality
             FROM (SELECT doc_id,
                     CAST(len(toks) AS BIGINT) AS n_tokens,
                     CAST(length(text) AS BIGINT) AS len_chars,
                     CAST(len(list_filter(toks, t -> t IN
                       ('the','a','and','of','to','in'))) AS BIGINT)
                       AS n_stop
                   FROM toks_t)
             ORDER BY doc_id NULLS FIRST"""))

  /** Language-ID (q_text_langid): n-gram-profile heuristic — build a
    * top-10 token profile per language from the corpus, score each doc by
    * profile overlap, argmax with deterministic tie-break. */
  val qTextLangid = Q(
    "q_text_langid",
    (s, d) => {
      val ex = toks(s, d)
        .select(col("doc_id"), col("lang"), explode(col("toks")).as("token"))
      val wProf = Window.partitionBy(col("plang"))
        .orderBy(col("cnt").desc, col("token"))
      val profile = ex
        .groupBy(col("lang").as("plang"), col("token"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(wProf))
        .filter(col("rn") <= 10)
        .select(col("plang"), col("token"))
      val overlap = ex.select(col("doc_id"), col("lang"), col("token"))
        .distinct()
        .join(broadcast(profile), "token")
        .groupBy(col("doc_id"), col("lang"), col("plang"))
        .agg(count(lit(1)).as("overlap"))
      val wDoc = Window.partitionBy(col("doc_id"))
        .orderBy(col("overlap").desc, col("plang"))
      overlap
        .withColumn("rn", row_number().over(wDoc))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("lang"),
          col("plang").as("guess_lang"), col("overlap"))
        .orderBy(col("doc_id"))
    },
    Some(s"""$toksCte,
             ex AS (SELECT doc_id, lang, unnest(toks) AS token FROM toks_t),
             profile AS (
               SELECT plang, token FROM (
                 SELECT lang AS plang, token, count(*) AS cnt,
                   row_number() OVER (PARTITION BY lang
                     ORDER BY count(*) DESC, token) AS rn
                 FROM ex GROUP BY lang, token)
               WHERE rn <= 10),
             overlap AS (
               SELECT e.doc_id, e.lang, p.plang, count(*) AS overlap
               FROM (SELECT DISTINCT doc_id, lang, token FROM ex) e
               JOIN profile p USING (token)
               GROUP BY e.doc_id, e.lang, p.plang)
             SELECT doc_id, lang, plang AS guess_lang, overlap
             FROM (SELECT doc_id, lang, plang, overlap,
                     row_number() OVER (PARTITION BY doc_id
                       ORDER BY overlap DESC, plang) AS rn
                   FROM overlap)
             WHERE rn = 1
             ORDER BY doc_id NULLS FIRST"""))

  /** Document fingerprinting (q_text_fingerprint): winnowing-style — hash
    * every 5-token shingle, keep the minimum as the doc fingerprint. */
  val qTextFingerprint = Q(
    "q_text_fingerprint",
    (s, d) =>
      toks(s, d)
        .withColumn("sh_str", explode(expr(
          """CASE WHEN size(toks) >= 5
               THEN transform(sequence(1, size(toks) - 4),
                      i -> concat_ws(' ', slice(toks, i, 5)))
               ELSE array() END""")))
        // md5 as a top-level projection (codegen'd), not inside the lambda
        .select(col("doc_id"),
          md5(col("sh_str").cast("binary")).as("sh"))
        .groupBy(col("doc_id"))
        .agg(
          min(col("sh")).as("fingerprint"),
          countDistinct(col("sh")).as("n_shingles"))
        .orderBy(col("doc_id")),
    Some(s"""$toksCte
             SELECT doc_id, min(sh) AS fingerprint,
               count(DISTINCT sh) AS n_shingles
             FROM (SELECT doc_id, unnest(
                     CASE WHEN len(toks) >= 5
                       THEN list_transform(generate_series(1, len(toks) - 4),
                              i -> md5(array_to_string(toks[i:i+4], ' ')))
                       ELSE [] END) AS sh
                   FROM toks_t)
             GROUP BY doc_id
             ORDER BY doc_id NULLS FIRST"""))

  /** Token counting (q_token_count): whitespace count vs a BPE-ish
    * regex segmentation ([a-z]+ / digit runs), plus a chars-per-token
    * compression ratio. */
  val qTokenCount = Q(
    "q_token_count",
    (s, d) =>
      toks(s, d)
        .select(
          col("doc_id"),
          size(col("toks")).cast("long").as("ws_tokens"),
          expr("""CAST(size(regexp_extract_all(lower(text),
                    '[a-z]+|[0-9]+', 0)) AS BIGINT)""").as("re_tokens"),
          round(length(col("text")) * lit(1.0) /
            greatest(size(col("toks")), lit(1)), 6)
            .as("chars_per_token"))
        .orderBy(col("doc_id")),
    Some(s"""$toksCte
             SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS ws_tokens,
               CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+'))
                    AS BIGINT) AS re_tokens,
               round(length(text) * 1.0e0 /
                     greatest(len(toks), 1), 6) AS chars_per_token
             FROM toks_t
             ORDER BY doc_id NULLS FIRST"""))

  /** Unigram LM scoring (q_text_logprob): per-doc mean token
    * log-probability under the corpus unigram model — the
    * perplexity-style quality filter of pre-training pipelines. The
    * model is VOCABULARY-sized (unbounded on raw web text), so the
    * scoring join is un-hinted: tokens hash-partition to the model's
    * terms, and AQE broadcasts only when the measured size warrants it.
    * Scoring is one explode + join + aggregate. Summed in deterministic
    * token order (ts-free: sum of identical doubles is order-sensitive
    * only at ulp level, absorbed by round 6 on both engines). */
  val qTextLogprob = Q(
    "q_text_logprob",
    (s, d) => {
      val ex = toks(s, d)
        .select(col("doc_id"), explode(col("toks")).as("token"))
      val totals = ex.agg(count(lit(1)).as("n_total"))
      val model = ex.groupBy(col("token"))
        .agg(count(lit(1)).as("tf"))
        .crossJoin(broadcast(totals))
        .select(col("token"),
          log(col("tf") / col("n_total")).as("logp"))
      ex.join(model, "token")
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_tokens"),
          round(sum(col("logp")), 6).as("sum_logp"),
          round(avg(col("logp")), 6).as("mean_logp"))
        .orderBy(col("doc_id"))
    },
    Some(s"""$toksCte,
             ex AS (SELECT doc_id, unnest(toks) AS token FROM toks_t),
             totals AS (SELECT count(*) AS n_total FROM ex),
             model AS (
               SELECT token, ln(count(*) * 1.0e0 / n_total) AS logp
               FROM ex CROSS JOIN totals
               GROUP BY token, n_total)
             SELECT doc_id, count(*) AS n_tokens,
               round(sum(logp), 6) AS sum_logp,
               round(avg(logp), 6) AS mean_logp
             FROM ex JOIN model USING (token)
             GROUP BY doc_id
             ORDER BY doc_id NULLS FIRST"""))

  /** End-to-end corpus curation (q_text_curation): the whole
    * training-data funnel as one declarative program — length/quality
    * gate → near-dup removal (LSH pairs → drop larger ids) → language
    * filter → per-language corpus stats. Each stage is a filter or
    * anti-join, so the funnel is a single pipelined pass plus the dedup
    * candidate joins. */
  val qTextCuration = Q(
    "q_text_curation",
    (s, d) => {
      val dropIds = Dedup.nearPairs(s, d)
        .select(col("b_id")).distinct()
      Tables.t(s, d, "documents")
        .filter(size(split(col("text"), " ")) >= 20 &&
          col("lang") =!= "zh")
        .join(dropIds, col("doc_id") === col("b_id"), "left_anti")
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          round(avg(col("n_chars")), 6).as("avg_chars"),
          sum(col("n_chars")).as("corpus_chars"))
        .orderBy(col("lang"))
    },
    Dedup.qDedupNear.oracle.map { nearSql =>
      val inner = graft.Oracle.stripOrderBy(nearSql)
      s"""WITH np AS ($inner)
          SELECT lang, count(*) AS n_docs,
            round(avg(n_chars), 6) AS avg_chars,
            CAST(sum(n_chars) AS BIGINT) AS corpus_chars
          FROM documents
          WHERE len(string_split(text, ' ')) >= 20
            AND lang != 'zh'
            AND doc_id NOT IN (SELECT DISTINCT b_id FROM np)
          GROUP BY lang
          ORDER BY lang NULLS FIRST"""
    })

  /** Shared flag/rollup construction for the curation funnel: grade a
    * (doc_id, source, th, ntok) frame — batch table or stream — through
    * the four stages (exact-keeper probe → SemDeDup drop list → DSIR
    * logw ≥ −15 gate → 20..1000 token-length gate) and roll up
    * per-source survivor counts. Both q_curate_v2 and its streaming
    * twin q_stream_curate call THIS, so a threshold change lands in
    * both paths at once and cannot silently diverge from the shared
    * oracle. */
  private[graft] def curateFunnelAgg(docs: DataFrame, eg: DataFrame,
      sem: DataFrame, dsir: DataFrame): DataFrame = {
    val flagged = docs
      .join(eg, col("th") === col("text_hash"))
      .join(sem, col("doc_id") === col("vec_id"), "left")
      .join(dsir, col("doc_id") === col("w_id"), "left")
      .select(col("source"), col("ntok"),
        (col("keep_id") === col("doc_id")).as("s1"),
        col("vec_id").isNull.as("not_sem"),
        coalesce(col("logw") >= lit(-15.0), lit(false)).as("dsir_ok"))
      .select(col("source"), col("ntok"), col("s1"),
        (col("s1") && col("not_sem")).as("s2"),
        (col("s1") && col("not_sem") && col("dsir_ok")).as("s3"))
      .withColumn("kept",
        col("s3") && col("ntok") >= 20 && col("ntok") <= 1000)
    flagged.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("s1"), 1L).otherwise(0L)).as("n_after_exact"),
        sum(when(col("s2"), 1L).otherwise(0L)).as("n_after_sem"),
        sum(when(col("s3"), 1L).otherwise(0L)).as("n_after_dsir"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("ntok")).otherwise(0L))
          .as("kept_tokens"))
  }

  /** The three static stage stores the funnel probes, each the
    * registered operator's output verbatim — persisted once per
    * (session, dir): q_curate_v2 and q_stream_curate probe the same
    * stores, and the streaming twin's stream-static joins re-plan
    * their static side every micro-batch (un-persisted, each batch
    * would re-run three full operator pipelines). At fleet scale these
    * are the materialized keyed stores an ingest gate reads anyway. */
  private[graft] def curateStages(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = (
    Fixpoints.cacheOnce(s, d, "cur_eg") {
      Dedup.qDedupExact.fn(s, d).select(col("text_hash"), col("keep_id"))
    },
    Fixpoints.cacheOnce(s, d, "cur_sem") {
      Dedup.qDedupSemantic.fn(s, d).select(col("vec_id"))
    },
    Fixpoints.cacheOnce(s, d, "cur_dsir") {
      Corpus.qMixDsir.fn(s, d)
        .select(col("doc_id").as("w_id"), col("logw"))
    })

  /** Bench-warmup hook for the funnel's stage stores. */
  private[graft] def warmShared(s: SparkSession, d: String): Unit = {
    val (eg, sem, dsir) = curateStages(s, d)
    eg.count(); sem.count(); dsir.count()
  }

  /** Curation funnel v2 (q_curate_v2): the staged selection pipeline a
    * modern pre-training build runs, with per-source survivor
    * accounting at every stage — exact dedup (md5 keeper groups) →
    * semantic dedup (SemDeDup drop list, embeddings keyed by
    * vec_id = doc_id) → DSIR target-affinity gate (logw ≥ −15, the
    * operating point from the q_mix_dsir calibration) → token-length
    * gate. Every stage REUSES the registered operator verbatim (the
    * q_sim_ann_eval discipline), so this funnel's oracle hash-checks
    * the composition of four already-verified programs. Plan shape:
    * three hash equi-joins against stage tables that are
    * duplicate-mass- or corpus-bounded, flags scan-local, ONE
    * source-keyed aggregate — no window, no all-pairs anything. */
  val qCurateV2 = Q(
    "q_curate_v2",
    (s, d) => {
      val docs = Tables.t(s, d, "documents")
        .select(col("doc_id"), col("source"),
          md5(lower(trim(col("text"))).cast("binary")).as("th"),
          size(split(col("text"), " ")).cast("bigint").as("ntok"))
      val (eg, sem, dsir) = curateStages(s, d)
      curateFunnelAgg(docs, eg, sem, dsir).orderBy(col("source"))
    },
    for {
      semSql <- Dedup.qDedupSemantic.oracle
      dsirSql <- Corpus.qMixDsir.oracle
    } yield {
      val semInner = graft.Oracle.stripOrderBy(semSql)
      val dsirInner = graft.Oracle.stripOrderBy(dsirSql)
      s"""WITH eg AS (
            SELECT md5(lower(trim(text))) AS th, min(doc_id) AS keep_id
            FROM documents GROUP BY th),
          sem AS (SELECT vec_id FROM ($semInner) z),
          dw AS (SELECT doc_id AS w_id, logw FROM ($dsirInner) z),
          f AS (
            SELECT d.source,
              CAST(len(string_split(d.text, ' ')) AS BIGINT) AS ntok,
              (eg.keep_id = d.doc_id) AS s1,
              (eg.keep_id = d.doc_id
                AND d.doc_id NOT IN (SELECT vec_id FROM sem)) AS s2,
              (eg.keep_id = d.doc_id
                AND d.doc_id NOT IN (SELECT vec_id FROM sem)
                AND COALESCE(dw.logw >= -15.0e0, FALSE)) AS s3
            FROM documents d
            JOIN eg ON md5(lower(trim(d.text))) = eg.th
            LEFT JOIN dw ON d.doc_id = dw.w_id)
          SELECT source, count(*) AS n_docs,
            CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_after_exact,
            CAST(sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_after_sem,
            CAST(sum(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_after_dsir,
            CAST(sum(CASE WHEN s3 AND ntok >= 20 AND ntok <= 1000
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
            CAST(sum(CASE WHEN s3 AND ntok >= 20 AND ntok <= 1000
                     THEN ntok ELSE 0 END) AS BIGINT) AS kept_tokens
          FROM f
          GROUP BY source
          ORDER BY source NULLS FIRST"""
    })

  /** Repetition-ratio quality signals (q_text_repetition): the
    * Gopher/CCNet-style repetition filters — distinct-token ratio and
    * the fraction of all bigrams taken by the single most frequent
    * bigram (boilerplate and looping generators score high). Two
    * explode → two-phase aggregates joined on doc_id; no text is ever
    * compared across documents, so the op is embarrassingly parallel
    * at any corpus size. */
  val qTextRepetition = Q(
    "q_text_repetition",
    (s, d) => {
      val t = toks(s, d)
      val tstats = t
        .select(col("doc_id"), explode(col("toks")).as("tok"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          countDistinct(col("tok")).as("n_distinct"))
      val bstats = t
        .withColumn("bg", explode(expr(
          """CASE WHEN size(toks) >= 2
               THEN transform(sequence(1, size(toks) - 1),
                    i -> concat_ws(' ', slice(toks, i, 2)))
               ELSE array() END""")))
        .groupBy(col("doc_id"), col("bg"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("doc_id"))
        .agg(max(col("cnt")).as("top_bg"), sum(col("cnt")).as("n_bg"))
      tstats.join(bstats, "doc_id")
        .select(col("doc_id"), col("n_tokens"),
          round(col("n_distinct") * lit(1.0) / col("n_tokens"), 6)
            .as("distinct_ratio"),
          round(col("top_bg") * lit(1.0) / col("n_bg"), 6)
            .as("top_bigram_frac"))
        .orderBy(col("doc_id"))
    },
    Some(s"""$toksCte,
            tstats AS (
              SELECT doc_id, count(*) AS n_tokens,
                count(DISTINCT tok) AS n_distinct
              FROM (SELECT doc_id, unnest(toks) AS tok FROM toks_t)
              GROUP BY doc_id),
            bstats AS (
              SELECT doc_id, max(cnt) AS top_bg,
                CAST(sum(cnt) AS BIGINT) AS n_bg
              FROM (SELECT doc_id, bg, count(*) AS cnt
                    FROM (SELECT doc_id, unnest(
                            CASE WHEN len(toks) >= 2
                              THEN list_transform(
                                     generate_series(1, len(toks) - 1),
                                     i -> array_to_string(toks[i:i+1], ' '))
                              ELSE [] END) AS bg
                          FROM toks_t)
                    GROUP BY doc_id, bg)
              GROUP BY doc_id)
            SELECT doc_id, n_tokens,
              round(n_distinct * 1.0e0 / n_tokens, 6) AS distinct_ratio,
              round(top_bg * 1.0e0 / n_bg, 6) AS top_bigram_frac
            FROM tstats JOIN bstats USING (doc_id)
            ORDER BY doc_id NULLS FIRST"""))

  /** Training-sequence packing (q_text_pack): assign documents to
    * fixed-budget training sequences by contiguous greedy fill — the
    * sample-packing pass that turns a curated corpus into equal-length
    * batches. A windowed running token count per (lang) stream, divided
    * by the budget, IS the greedy bin id (each doc lands in the bin
    * where its stream prefix starts), so packing needs one shuffle and
    * zero driver logic; per-bin fill statistics quantify padding waste.
    * Deterministic order (doc_id) keeps both engines and any rerun
    * bit-identical. */
  val qTextPack = Q(
    "q_text_pack",
    (s, d) => {
      val budget = 512
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      toks(s, d)
        .select(col("doc_id"), col("lang"),
          size(col("toks")).cast("long").as("n_tokens"))
        .withColumn("running", sum(col("n_tokens")).over(w))
        .withColumn("bin",
          ((col("running") - col("n_tokens")) / budget).cast("long"))
        .groupBy(col("lang"), col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          min(col("doc_id")).as("first_doc"))
        .orderBy(col("lang"), col("bin"))
    },
    Some("""WITH sized AS (
              SELECT doc_id, lang,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
              FROM documents),
            binned AS (
              SELECT doc_id, lang, n_tokens,
                CAST(floor((sum(n_tokens) OVER (PARTITION BY lang
                        ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      - n_tokens) / 512) AS BIGINT) AS bin
              FROM sized)
            SELECT lang, bin, count(*) AS n_docs,
              CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
              min(doc_id) AS first_doc
            FROM binned
            GROUP BY lang, bin
            ORDER BY lang NULLS FIRST, bin NULLS FIRST"""))

  /** Classifier evaluation (q_text_langid_eval): confusion matrix of the
    * n-gram language-ID against the labeled lang column, with per-pair
    * counts — the QA pass every heuristic classifier in a data pipeline
    * gets before its output feeds a filter. Pure aggregate over the
    * prediction table; accuracy is readable off the diagonal. */
  val qTextLangidEval = Q(
    "q_text_langid_eval",
    (s, d) =>
      qTextLangid.fn(s, d)
        .groupBy(col("lang"), col("guess_lang"))
        .agg(count(lit(1)).as("n"))
        .withColumn("correct", col("lang") === col("guess_lang"))
        .orderBy(col("lang"), col("guess_lang")),
    qTextLangid.oracle.map { langidSql =>
      val inner = graft.Oracle.stripOrderBy(langidSql)
      s"""SELECT lang, guess_lang, count(*) AS n,
            lang = guess_lang AS correct
          FROM ($inner)
          GROUP BY lang, guess_lang
          ORDER BY lang NULLS FIRST, guess_lang NULLS FIRST"""
    })

  /** Per-source distribution drift (q_text_drift): KL divergence of
    * each source's unigram distribution from the whole-corpus
    * distribution — the domain-shift monitor a training-data pipeline
    * runs when a new crawl lands (a source whose KL jumps is sending
    * different text than the mix was tuned on). Every source word
    * appears in the corpus by construction, so KL is finite. Shape:
    * one explode → (source, word) counts → join the VOCABULARY-sized
    * corpus table UN-hinted ("vocab ≪ corpus" is a relative bound;
    * broadcast cost is absolute, and Heaps-law vocab is 10⁸–10⁹ terms
    * at fleet scale — both sides hash-partition on the word instead,
    * AQE broadcasting only by measured size) → per-source sum. The
    * per-source totals (O(#sources), a genuinely bounded dimension) and
    * the 1-row corpus total keep their hints. Rounded after summation
    * so cross-engine log ulps wash out. */
  val qTextDrift = Q(
    "q_text_drift",
    (s, d) => {
      val words = docs(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
      val bySource = words.groupBy(col("source"), col("w"))
        .agg(count(lit(1)).as("n_sw"))
      val srcTot = words.groupBy(col("source"))
        .agg(count(lit(1)).as("tot_s"))
      val corpus = words.groupBy(col("w")).agg(count(lit(1)).as("n_w"))
      val corpusTot = corpus.agg(sum(col("n_w")).as("tot_c"))
      bySource
        .join(corpus, Seq("w"))
        .join(broadcast(srcTot), Seq("source"))
        .crossJoin(broadcast(corpusTot))
        .groupBy(col("source"))
        .agg(
          max(col("tot_s")).as("n_tokens"),
          count(lit(1)).as("vocab"),
          round(sum(expr(
            """(n_sw / tot_s) *
               ln((n_sw / tot_s) / (n_w / tot_c))""")), 6).as("kl"))
        .orderBy(col("source"))
    },
    Some("""WITH words AS (
              SELECT source, unnest(string_split(text, ' ')) AS w
              FROM documents),
            by_source AS (
              SELECT source, w, count(*) AS n_sw
              FROM words GROUP BY source, w),
            src_tot AS (
              SELECT source, count(*) AS tot_s
              FROM words GROUP BY source),
            corpus AS (SELECT w, count(*) AS n_w FROM words GROUP BY w),
            corpus_tot AS (SELECT sum(n_w) AS tot_c FROM corpus)
            SELECT b.source,
              CAST(max(t.tot_s) AS BIGINT) AS n_tokens,
              count(*) AS vocab,
              round(sum((n_sw / tot_s) *
                        ln((n_sw / tot_s) / (n_w / tot_c))), 6) AS kl
            FROM by_source b
            JOIN corpus c ON b.w = c.w
            JOIN src_tot t ON b.source = t.source
            CROSS JOIN corpus_tot
            GROUP BY b.source
            ORDER BY b.source NULLS FIRST"""))

  /** Term burstiness (q_text_burstiness): variance-to-mean ratio of
    * per-document counts for the 30 highest-frequency terms — the
    * corpus statistic separating topical terms (bursty, VMR ≫ 1) from
    * function words (Poisson-like, VMR ≈ 1), a standard stopword/
    * keyword discriminator. Zero-count documents enter through the
    * sufficient statistics, never materialized: with N docs, Σx and
    * Σx² over occurring docs give mean = Σx/N and population variance
    * (Σx² − (Σx)²/N)/N exactly (integer sums in DECIMAL/HUGEINT, two
    * divisions at emission). One token explode + per-(term, doc)
    * count, then per-term sufficient stats, then a rank window over
    * the term table only. */
  val qTextBurstiness = Q(
    "q_text_burstiness",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val n = docs(s, d).agg(count(lit(1)).as("n_docs"))
      val perDoc = docs(s, d)
        .select(col("doc_id"),
          explode(split(col("text"), " ")).as("term"))
        .groupBy(col("term"), col("doc_id"))
        .agg(count(lit(1)).as("x"))
      val perTerm = perDoc.groupBy(col("term"))
        .agg(sum(col("x")).as("sx"),
          sum(col("x").cast("decimal(38,0)") * col("x")).as("sx2"),
          count(lit(1)).as("df"))
      perTerm.crossJoin(broadcast(n))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("sx").desc, col("term"))))
        .filter(col("rk") <= 30)
        .selectExpr("term", "sx AS tf", "df",
          "round(CAST(sx AS DOUBLE) / n_docs, 6) AS mean_x",
          """round((CAST(sx2 AS DOUBLE)
               - CAST(sx AS DOUBLE) * sx / n_docs) / n_docs
             / (CAST(sx AS DOUBLE) / n_docs), 6) AS vmr""")
        .orderBy(col("tf").desc, col("term"))
    },
    Some("""WITH n AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
      perdoc AS (
        SELECT term, doc_id, CAST(count(*) AS BIGINT) AS x
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents) t
        GROUP BY term, doc_id),
      perterm AS (
        SELECT term, CAST(sum(x) AS BIGINT) AS sx,
          CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sx2,
          CAST(count(*) AS BIGINT) AS df
        FROM perdoc GROUP BY term),
      ranked AS (
        SELECT *, row_number() OVER (ORDER BY sx DESC, term) AS rk
        FROM perterm CROSS JOIN n)
      SELECT term, sx AS tf, df,
        round(CAST(sx AS DOUBLE) / n_docs, 6) AS mean_x,
        round((CAST(sx2 AS DOUBLE)
            - CAST(sx AS DOUBLE) * sx / n_docs) / n_docs
          / (CAST(sx AS DOUBLE) / n_docs), 6) AS vmr
      FROM ranked
      WHERE rk <= 30
      ORDER BY tf DESC, term NULLS FIRST"""))

  // ---- q_text_keyphrase -------------------------------------------------

  /** RAKE keyphrase extraction (q_text_keyphrase): candidate phrases
    * are maximal stopword-delimited token runs (the gaps-and-islands
    * grouping: position minus the per-doc rank among non-stop tokens),
    * capped at 4 words; each member word's degree (Σ phrase lengths it
    * appears in) and frequency accumulate over the WHOLE corpus, and a
    * phrase scores the sum of its members' deg/freq — the classic
    * co-occurrence keyword score (Rose et al. 2010), re-derived
    * relationally. Per-word deg/freq ratios are exact micro-unit
    * integer divisions summed exactly, so the top-20 argmax has no
    * float on either engine; the phrase build is a per-DOC window
    * (doc-bounded, never corpus-wide) and the top-20 plans as
    * TakeOrderedAndProject.
    *
    * ONE phrase pass: the corpus-expensive pipeline (posexplode →
    * per-doc window → collect_list aggregate) used to run TWICE —
    * once under the word-stats branch and once under the distinct-
    * phrase branch; column pruning made the subtrees diverge so
    * exchange reuse never fired. Word degree/frequency are now COUNT/
    * SUM windows over the exploded phrase-instance rows (partition by
    * word — the same distribution the old join shuffled to), each
    * instance's score is a (doc, grp) re-aggregate, and identical
    * phrases collapse in a final phrase-level aggregate. Zero joins,
    * zero repeated corpus passes; the oracle SQL keeps the two-branch
    * spelling, which is value-identical. */
  val qTextKeyphrase = Q(
    "q_text_keyphrase",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val pos = toks(s, d)
        .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "tok")))
      val ns = pos
        .filter(expr("NOT tok IN ('the','a','and','of','to','in')"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
        .withColumn("grp", col("pos") - col("rn"))
      val phr = ns.groupBy(col("doc_id"), col("grp"))
        .agg(expr("array_join(transform(array_sort(" +
          "collect_list(struct(pos, tok))), x -> x.tok), ' ')")
          .as("phrase"),
          count(lit(1)).as("n_words"))
        .filter(col("n_words") <= 4)
      // one row per word occurrence per phrase INSTANCE — the corpus
      // totals (freq = instances containing w, deg = Σ their lengths)
      // are windows over this table, no second phr pass
      val wW = Window.partitionBy(col("w"))
      val scoredWords = phr.select(col("doc_id"), col("grp"),
          col("phrase"), col("n_words"),
          explode(split(col("phrase"), " ")).as("w"))
        .withColumn("deg", sum(col("n_words")).over(wW))
        .withColumn("freq", count(lit(1)).over(wW))
        .withColumn("wscore_micro", expr("(1000000 * deg) div freq"))
      val inst = scoredWords
        .groupBy(col("doc_id"), col("grp"), col("phrase"), col("n_words"))
        .agg(sum(col("wscore_micro")).as("score_micro"))
      inst
        .groupBy(col("phrase"), col("n_words"), col("score_micro"))
        .agg(count(lit(1)).as("n_occ"))
        .select(col("phrase"), col("n_words"), col("n_occ"),
          col("score_micro"))
        .orderBy(col("score_micro").desc, col("phrase"))
        .limit(20)
    },
    Some(s"""$toksCte,
            pos AS (
              SELECT doc_id,
                unnest(generate_series(0, len(toks) - 1)) AS pos,
                unnest(toks) AS tok
              FROM toks_t),
            ns AS (
              SELECT doc_id, pos, tok,
                pos - row_number() OVER (
                  PARTITION BY doc_id ORDER BY pos) AS grp
              FROM pos
              WHERE tok NOT IN ('the','a','and','of','to','in')),
            phr AS (
              SELECT doc_id, grp,
                string_agg(tok, ' ' ORDER BY pos) AS phrase,
                CAST(count(*) AS BIGINT) AS n_words
              FROM ns GROUP BY doc_id, grp
              HAVING count(*) <= 4),
            w AS (
              SELECT phrase, n_words,
                unnest(string_split(phrase, ' ')) AS w
              FROM phr),
            wsc AS (
              SELECT w, (1000000 * CAST(sum(n_words) AS BIGINT))
                  // CAST(count(*) AS BIGINT) AS wscore_micro
              FROM w GROUP BY w),
            dp AS (
              SELECT phrase, n_words, CAST(count(*) AS BIGINT) AS n_occ
              FROM phr GROUP BY phrase, n_words),
            pw AS (
              SELECT phrase, unnest(string_split(phrase, ' ')) AS w
              FROM dp),
            sc AS (
              SELECT phrase, CAST(sum(wscore_micro) AS BIGINT)
                AS score_micro
              FROM pw JOIN wsc USING (w) GROUP BY phrase)
            SELECT dp.phrase, dp.n_words, dp.n_occ, sc.score_micro
            FROM dp JOIN sc USING (phrase)
            ORDER BY score_micro DESC, phrase NULLS FIRST
            LIMIT 20"""))

  // ---- q_text_boilerplate -----------------------------------------------

  /** Cross-source boilerplate census (q_text_boilerplate): an 8-token
    * shingle that recurs across ≥ 3 DISTINCT sources is template
    * boilerplate (navigation chrome, license footers, scaffold text),
    * not content — the shingle-spread criterion CCNet/RefinedWeb-style
    * pipelines strip before training. Per source: how many of its
    * distinct doc-shingles are corpus-boilerplate, and the ratio — the
    * table that ranks sources by template pollution. Shape: one
    * explode + per-doc distinct, ONE shingle-keyed aggregate for the
    * spread counts (map-side combined; the shingle table is
    * corpus-sized but the aggregate is the only full-width stage), a
    * semi-join back, and a source-grid rollup. The ratio is an
    * integer pair divided once. */
  val qTextBoilerplate = Q(
    "q_text_boilerplate",
    (s, d) => {
      val sh = Tables.t(s, d, "documents")
        .withColumn("toks", split(col("text"), " "))
        .select(col("doc_id"), col("source"), explode(expr(
          """CASE WHEN size(toks) >= 8
               THEN transform(sequence(1, size(toks) - 7),
                    i -> concat_ws(' ', slice(toks, i, 8)))
               ELSE array() END""")).as("sh"))
        .distinct()
      val boiler = sh.groupBy(col("sh"))
        .agg(countDistinct(col("source")).as("n_src"))
        .filter(col("n_src") >= 3)
        .select(col("sh"))
      sh.join(boiler.withColumnRenamed("sh", "bsh"),
          col("sh") === col("bsh"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(expr("CAST(bsh IS NOT NULL AS LONG)")).as("n_boiler"))
        .select(col("source"), col("n_shingles"), col("n_boiler"),
          round(col("n_boiler").cast("double") / col("n_shingles"), 6)
            .as("boiler_ratio"))
        .orderBy(col("source"))
    },
    Some("""WITH sh AS (
              SELECT DISTINCT doc_id, source, sh
              FROM (SELECT doc_id, source, unnest(
                      CASE WHEN len(toks) >= 8
                        THEN list_transform(
                               generate_series(1, len(toks) - 7),
                               i -> array_to_string(toks[i:i+7], ' '))
                        ELSE [] END) AS sh
                    FROM (SELECT doc_id, source,
                            string_split(text, ' ') AS toks
                          FROM documents))),
            boiler AS (
              SELECT sh FROM (
                SELECT sh, count(DISTINCT source) AS n_src
                FROM sh GROUP BY sh)
              WHERE n_src >= 3)
            SELECT source,
              CAST(count(*) AS BIGINT) AS n_shingles,
              CAST(sum(CASE WHEN b.bsh IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_boiler,
              round(CAST(sum(CASE WHEN b.bsh IS NOT NULL THEN 1 ELSE 0
                    END) AS DOUBLE) / count(*), 6) AS boiler_ratio
            FROM sh LEFT JOIN (SELECT sh AS bsh FROM boiler) b
              ON sh.sh = b.bsh
            GROUP BY source
            ORDER BY source NULLS FIRST"""))

  /** Per-document rep-scrub stats, computed entirely IN-ROW: the
    * keep-first rule means removals = (trigram occurrences) −
    * (distinct trigrams), so the whole accounting is
    * size(tris) − size(array_distinct(tris)) on a per-doc array —
    * no explode, no (doc, trigram) shuffle, bounded by doc length.
    * Shared by the batch op and its streaming twin. */
  private[graft] def repScrubDocStats(df: DataFrame): DataFrame =
    df.withColumn("toks", split(col("text"), " "))
      .select(col("source"),
        size(col("toks")).cast("long").as("nt"),
        expr("""CASE WHEN size(toks) >= 3
                  THEN transform(sequence(1, size(toks) - 2),
                       i -> concat_ws(' ', slice(toks, i, 3)))
                  ELSE array() END""").as("tris"))
      .select(col("source"), col("nt"),
        size(col("tris")).cast("long").as("tri_starts"),
        (size(col("tris")) - size(array_distinct(col("tris"))))
          .cast("long").as("removed"))

  /** The matching per-doc CTE (doc_stats: source, nt, tri_starts,
    * removed) for DuckDB. */
  private[graft] val repScrubDocSql: String =
    """rs_tris AS (
         SELECT source, len(toks) AS nt,
           CASE WHEN len(toks) >= 3
             THEN list_transform(generate_series(1, len(toks) - 2),
                  i -> array_to_string(toks[i:i+2], ' '))
             ELSE [] END AS tris
         FROM toks_t),
       rs_doc AS (
         SELECT source, nt, len(tris) AS tri_starts,
           len(tris) - len(list_distinct(tris)) AS removed
         FROM rs_tris)"""

  /** Intra-document repetition SCRUB accounting (q_text_rep_scrub):
    * where q_text_repetition scores the signal, this measures the
    * transform — the keep-first repeated-trigram removal a
    * Gopher/RefinedWeb-style pipeline applies before training. Rule:
    * within a document, every occurrence of a trigram after its first
    * drops its start token, so removals = occurrences − distinct —
    * computed IN-ROW per document (no window, no position ordering,
    * no shuffle of the trigram table). Per source: docs, exact
    * token/trigram totals, tokens removed, docs touched, and the
    * removal ratio.
    *
    * Scale shape: one scan-local projection (per-doc array algebra
    * bounded by doc length) → ONE per-source hash aggregate. No text
    * crosses documents; the only exchange carries |sources| rows. */
  val qTextRepScrub = Q(
    "q_text_rep_scrub",
    (s, d) =>
      repScrubDocStats(docs(s, d))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nt")).as("tokens_before"),
          sum(col("tri_starts")).as("trigram_starts"),
          sum(col("removed")).as("tokens_removed"),
          sum(when(col("removed") >= 1, 1L).otherwise(0L))
            .as("docs_affected"))
        .withColumn("removal_ratio",
          round(col("tokens_removed") * lit(1.0) /
            col("tokens_before"), 6))
        .orderBy(col("source")),
    Some(s"""$toksCte,
            $repScrubDocSql
            SELECT source, count(*) AS n_docs,
              CAST(sum(nt) AS BIGINT) AS tokens_before,
              CAST(sum(tri_starts) AS BIGINT) AS trigram_starts,
              CAST(sum(removed) AS BIGINT) AS tokens_removed,
              CAST(sum(CASE WHEN removed >= 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS docs_affected,
              round(sum(removed) * 1.0e0 / sum(nt), 6) AS removal_ratio
            FROM rs_doc
            GROUP BY source
            ORDER BY source NULLS FIRST"""))

  val all: Seq[Q] = Seq(
    qTextTokens, qTextTfidf, qTextLang, qTextQuality, qTextLangid,
    qTextFingerprint, qTokenCount, qTextLogprob, qTextCuration,
    qTextRepetition, qTextRepScrub, qTextPack, qTextLangidEval,
    qTextDrift, qCurateV2, qTextBurstiness, qTextKeyphrase,
    qTextBoilerplate)
}
