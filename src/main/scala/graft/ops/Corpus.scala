package graft.ops

import graft.{Fixpoints, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators a web-scale training-data pipeline runs
  * between dedup and packing: per-domain caps, rule-based quality
  * gates, and n-gram language-model statistics. All pure Catalyst
  * expressions over `documents` (the `source` column stands in for the
  * crawl domain), each with a DuckDB oracle. */
object Corpus {

  private def docs(s: SparkSession, d: String) =
    Tables.t(s, d, "documents")

  /** Per-domain document cap (q_domain_cap): keep at most k docs per
    * source — the anti-boilerplate step crawls apply so one mirror
    * farm can't dominate the mix. Expressed as a rank-filter so
    * Catalyst plans a PARTIAL WindowGroupLimit: each map task keeps at
    * most k rows per source before the shuffle, so a hot domain ships
    * k·tasks rows, never its whole crawl (plan-asserted). Deterministic
    * keep policy: lowest doc_id first. */
  val qDomainCap = Q(
    "q_domain_cap",
    (s, d) => {
      val k = 15
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      docs(s, d)
        .select(col("doc_id"), col("source"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k)
        .select(col("doc_id"), col("source"))
        .orderBy(col("source"), col("doc_id"))
    },
    Some("""SELECT doc_id, source FROM (
              SELECT doc_id, source,
                row_number() OVER (PARTITION BY source ORDER BY doc_id)
                  AS rn
              FROM documents) x
            WHERE rn <= 15
            ORDER BY source NULLS FIRST, doc_id NULLS FIRST"""))

  /** Gopher-style quality rules (q_text_gopher): the classic doc-level
    * heuristics (word-count bounds, mean-word-length bounds, alphabetic
    * ratio, stopword floor) as one scan-local projection — no joins, no
    * shuffles before the output sort; at 100 TB this is a pure map over
    * the corpus. Thresholds follow the published Gopher rules, scaled
    * to the synthetic token range. */
  val qTextGopher = Q(
    "q_text_gopher",
    (s, d) =>
      docs(s, d)
        .select(col("doc_id"), col("text"),
          split(col("text"), " ").as("ws"))
        .select(col("doc_id"),
          size(col("ws")).as("n_words"),
          round(length(translate(col("text"), " ", "")) / size(col("ws")),
            6).as("mean_wlen"),
          round(size(filter(col("ws"), w => w.rlike("^[a-z]+$"))) /
            size(col("ws")), 6).as("alpha_frac"),
          size(filter(col("ws"), w => w.isin("the", "a")))
            .as("n_stop"))
        .withColumn("passes",
          (col("n_words").between(50, 100000) &&
            col("mean_wlen").between(3.0, 10.0) &&
            col("alpha_frac") >= 0.8 &&
            col("n_stop") >= 2).cast("int"))
        .orderBy(col("doc_id")),
    Some("""SELECT doc_id, n_words, mean_wlen, alpha_frac, n_stop,
              CAST(n_words BETWEEN 50 AND 100000
                AND mean_wlen BETWEEN 3.0 AND 10.0
                AND alpha_frac >= 0.8
                AND n_stop >= 2 AS INTEGER) AS passes
            FROM (
              SELECT doc_id,
                len(w) AS n_words,
                round(length(replace(text, ' ', '')) * 1.0e0 / len(w), 6)
                  AS mean_wlen,
                round(len(list_filter(w,
                    x -> regexp_full_match(x, '[a-z]+'))) * 1.0e0 / len(w),
                  6) AS alpha_frac,
                len(list_filter(w, x -> x IN ('the', 'a'))) AS n_stop
              FROM (SELECT doc_id, text, string_split(text, ' ') AS w
                    FROM documents) t) x
            ORDER BY doc_id NULLS FIRST"""))

  /** Bigram language-model head (q_text_bigram_lm): the most likely
    * continuation of every unigram with its conditional probability
    * P(w2|w1) — the statistic behind n-gram LM filters and synthetic-
    * text detectors. Scale shape: the bigram explode feeds ONE
    * map-side-combined count aggregate (corpus-sized); everything after
    * (per-w1 totals, top-1 rank) runs over the (w1, w2) count table,
    * which is vocabulary², not corpus-sized. */
  val qTextBigramLm = Q(
    "q_text_bigram_lm",
    (s, d) => {
      val cnt = docs(s, d)
        .select(split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 2)
        .select(explode(expr(
          """transform(sequence(1, size(ws) - 1),
                       i -> struct(element_at(ws, i) AS w1,
                                   element_at(ws, i + 1) AS w2))"""))
          .as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("n"))
      val tot = Window.partitionBy(col("w1"))
      val top = Window.partitionBy(col("w1"))
        .orderBy(col("n").desc, col("w2"))
      cnt
        .withColumn("tot", sum(col("n")).over(tot))
        .withColumn("rn", row_number().over(top))
        .filter(col("rn") === 1)
        .select(col("w1"), col("w2"), col("n"),
          round(col("n") / col("tot"), 6).as("p"))
        .orderBy(col("w1"))
    },
    Some("""WITH toks AS (
              SELECT doc_id, string_split(text, ' ') AS w
              FROM documents WHERE len(string_split(text, ' ')) >= 2),
            big AS (
              SELECT w[i] AS w1, w[i + 1] AS w2
              FROM toks, LATERAL (
                SELECT unnest(generate_series(1, len(w) - 1)) AS i) g),
            cnt AS (
              SELECT w1, w2, CAST(count(*) AS BIGINT) AS n
              FROM big GROUP BY w1, w2)
            SELECT w1, w2, n,
              round(1.0e0 * n / sum(n) OVER (PARTITION BY w1), 6) AS p
            FROM cnt
            QUALIFY row_number()
              OVER (PARTITION BY w1 ORDER BY n DESC, w2) = 1
            ORDER BY w1 NULLS FIRST"""))

  /** Temperature-scaled mixing weights (q_mix_temperature): the
    * standard multilingual/multi-source re-balancing rule — source i
    * samples proportionally to n_i^alpha (alpha = 0.7), boosting
    * low-resource sources relative to raw token share. Two tiny
    * aggregates over per-source token counts; the normalizer is a
    * one-row broadcast. The sampling RATE table this emits is what a
    * downstream q_mix_sample-style gate consumes. */
  val qMixTemperature = Q(
    "q_mix_temperature",
    (s, d) => {
      val bySource = docs(s, d)
        .select(col("source"), size(split(col("text"), " ")).as("ntok"))
        .groupBy(col("source"))
        .agg(sum(col("ntok")).as("n"))
      val z = bySource.agg(sum(pow(col("n"), 0.7)).as("z"))
      bySource.crossJoin(broadcast(z))
        .select(col("source"), col("n"),
          round(pow(col("n"), 0.7) / col("z"), 6).as("weight"))
        .orderBy(col("source"))
    },
    Some("""WITH s AS (
              SELECT source,
                CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n
              FROM documents GROUP BY source),
            tot AS (SELECT sum(pow(n, 0.7)) AS z FROM s)
            SELECT source, n, round(pow(n, 0.7) / z, 6) AS weight
            FROM s, tot
            ORDER BY source NULLS FIRST"""))

  /** Epoch/repeat planning (q_mix_epochs): turn the temperature-mix
    * weights into an executable ingest plan for a fixed global token
    * budget (10x the corpus here) — per source, the target token
    * count, the repeat factor (whole epochs of the source needed,
    * ceil), and the oversampling ratio. This is the table a training
    * launcher actually consumes after q_mix_temperature's rates: it
    * says HOW MANY TIMES to cycle each source, not just its share.
    * Dimension-sized end to end: one per-source aggregate, a one-row
    * normalizer broadcast, integer ceil-division (identical in both
    * engines on non-negatives) — the weight is rounded at 6dp before
    * the budget multiply so both engines floor the same double. */
  val qMixEpochs = Q(
    "q_mix_epochs",
    (s, d) => {
      val bySource = docs(s, d)
        .select(col("source"), size(split(col("text"), " ")).as("ntok"))
        .groupBy(col("source"))
        .agg(sum(col("ntok")).as("n"))
      val z = bySource.agg(sum(pow(col("n"), 0.7)).as("z"),
        sum(col("n")).as("total"))
      bySource.crossJoin(broadcast(z))
        .select(col("source"), col("n"),
          round(pow(col("n"), 0.7) / col("z"), 6).as("weight"),
          floor(col("total") * 10 *
            round(pow(col("n"), 0.7) / col("z"), 6)).cast("long")
            .as("target_tokens"))
        .select(col("source"), col("n"), col("weight"),
          col("target_tokens"),
          // integral `div`, not `/`: the double quotient of `/` can
          // round across an integer boundary (or lose precision past
          // 2^53) at fleet-scale token counts, diverging from DuckDB's
          // exact integer `//`
          expr("(target_tokens + n - 1) div n").as("epochs"),
          round(col("target_tokens").cast("double") / col("n"), 6)
            .as("oversample"))
        .orderBy(col("source"))
    },
    Some("""WITH s AS (
              SELECT source,
                CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n
              FROM documents GROUP BY source),
            tot AS (SELECT sum(pow(n, 0.7)) AS z,
                      CAST(sum(n) AS BIGINT) AS total FROM s),
            plan AS (
              SELECT source, n,
                round(pow(n, 0.7) / z, 6) AS weight,
                CAST(floor(total * 10 * round(pow(n, 0.7) / z, 6))
                  AS BIGINT) AS target_tokens
              FROM s, tot)
            SELECT source, n, weight, target_tokens,
              CAST((target_tokens + n - 1) // n AS BIGINT) AS epochs,
              round(CAST(target_tokens AS DOUBLE) / n, 6) AS oversample
            FROM plan
            ORDER BY source NULLS FIRST"""))

  /** Per-source unigram entropy (q_text_entropy): Shannon entropy of
    * each source's token distribution — low entropy flags templated or
    * machine-generated sources, the cheap cousin of the KL drift
    * check. One corpus-sized explode feeds a (source, term) count
    * aggregate with map-side combine; the entropy reduction runs over
    * the count table (vocab-sized), and the per-source totals join
    * back by broadcast. */
  val qTextEntropy = Q(
    "q_text_entropy",
    (s, d) => {
      val cnt = docs(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .groupBy(col("source"), col("w"))
        .agg(count(lit(1)).as("n"))
      val tot = cnt.groupBy(col("source")).agg(sum(col("n")).as("tn"))
      cnt.join(tot, "source")
        .groupBy(col("source"))
        .agg(
          round(-sum((col("n") / col("tn")) * log2(col("n") / col("tn"))),
            6).as("entropy"),
          count(lit(1)).as("vocab"))
        .orderBy(col("source"))
    },
    Some("""WITH toks AS (
              SELECT source, unnest(string_split(text, ' ')) AS w
              FROM documents),
            cnt AS (
              SELECT source, w, CAST(count(*) AS BIGINT) AS n
              FROM toks GROUP BY source, w),
            tot AS (SELECT source, sum(n) AS tn FROM cnt GROUP BY source)
            SELECT c.source,
              round(-sum((n * 1.0e0 / tn) * log2(n * 1.0e0 / tn)), 6)
                AS entropy,
              CAST(count(*) AS BIGINT) AS vocab
            FROM cnt c JOIN tot t ON c.source = t.source
            GROUP BY c.source
            ORDER BY c.source NULLS FIRST"""))

  /** DSIR importance weights (q_mix_dsir): data selection via
    * importance resampling — score every document by how much more
    * likely its hashed-bigram features are under a target-domain
    * bag-of-ngrams model than under the raw-corpus model,
    * log w(x) = Σ_b c_b·[ln p_t(b) − ln p_r(b)] with add-1 smoothing
    * over 4096 md5 buckets (target = sources src0–src3 standing in
    * for the curated domain). Both models come from ONE bucket-keyed
    * aggregate over the bigram explode (count + conditional target
    * count), so they stay ≤4096 rows however big the corpus is —
    * map-side combine does the heavy lifting — and the joined
    * log-ratio table broadcasts for scoring; the per-doc score is a
    * second corpus-linear aggregate. Per-doc sums of double products
    * are order-sensitive only at ulp level — absorbed by round 6 on
    * both engines (the q_text_logprob argument). Docs shorter than
    * two tokens have no features and are absent by construction in
    * both engines. */
  /** Feature-hash bucket count shared by the batch scorer and the
    * streaming telemetry twin (q_stream_dsir). */
  private[graft] val DsirBuckets = 4096

  /** Hashed-bigram DSIR features over a (doc_id, source, text) frame:
    * scan-local bigram explode → md5 buckets. Works on any source
    * (batch table or file stream) — one output row per occurrence. */
  private[graft] def dsirFeatures(docsDf: DataFrame): DataFrame =
    docsDf
      .select(col("doc_id"), col("source"),
        split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("source"), explode(expr(
        """CASE WHEN size(toks) >= 2
             THEN transform(sequence(1, size(toks) - 1),
                    i -> concat_ws(' ', slice(toks, i, 2)))
             ELSE array() END""")).as("bg"))
      .select(col("doc_id"), col("source"),
        expr("CAST(conv(substring(md5(CAST(bg AS BINARY)), 1, 8), " +
          s"16, 10) AS BIGINT) % $DsirBuckets").as("b"))

  /** Bucket → add-1-smoothed log p_target/p_raw ratio from a feature
    * frame (target = sources src0–src3). ≤[[DsirBuckets]] rows however
    * big the corpus — always broadcastable. */
  private[graft] def dsirLogRatio(feats: DataFrame): DataFrame =
    dsirLogRatioFromCounts(feats
      .groupBy(col("source"), col("b"))
      .agg(count(lit(1)).as("c")))

  /** Same model from a pre-aggregated (source, b, c) count frame —
    * the weighted rollup Σc per bucket equals the raw row count, so
    * the model is identical to [[dsirLogRatio]] over the exploded
    * frame; consumers that already hold the shared
    * [[dsirDocBuckets]] fixpoint derive the model without touching
    * the corpus again. */
  private def dsirLogRatioFromCounts(cnts: DataFrame): DataFrame = {
    val B = DsirBuckets
    val isTgt = col("source").isin("src0", "src1", "src2", "src3")
    val model = cnts
      .groupBy(col("b"))
      .agg(sum(col("c")).as("nr"),
        sum(when(isTgt, col("c")).otherwise(0L)).as("nt"))
    val tot = model.agg(sum(col("nr")).as("nr_tot"),
      sum(col("nt")).as("nt_tot"))
    model.crossJoin(broadcast(tot))
      .select(col("b"),
        (log((col("nt") + 1).cast("double") /
            (col("nt_tot") + B).cast("double")) -
          log((col("nr") + 1).cast("double") /
            (col("nr_tot") + B).cast("double"))).as("lr"))
  }

  /** Per-(doc, source, bucket) DSIR feature counts over the FULL
    * corpus, persisted once per (session, dir) — the shared front of
    * the DSIR family: q_mix_dsir, q_mix_dsir_ess (via qMixDsir.fn),
    * q_mix_dsir_sample and both model fits read this one hashed-
    * feature rollup instead of re-exploding every bigram. Rows are
    * bounded by docs × min(doc bigrams, [[DsirBuckets]]) — the
    * explode itself never persists. */
  private[graft] def dsirDocBuckets(s: SparkSession, d: String): DataFrame =
    Fixpoints.cacheOnce(s, d, "dsirbuckets") {
      dsirFeatures(docs(s, d))
        .groupBy(col("doc_id"), col("source"), col("b"))
        .agg(count(lit(1)).as("c"))
    }

  /** Full-corpus DSIR log-ratio model (≤[[DsirBuckets]] rows),
    * persisted once — q_mix_dsir and q_mix_dsir_sample broadcast the
    * identical table. */
  private[graft] def dsirLrFull(s: SparkSession, d: String): DataFrame =
    Fixpoints.cacheOnce(s, d, "dsirlrfull") {
      dsirLogRatioFromCounts(dsirDocBuckets(s, d))
    }

  /** Train-split (doc_id % 10 < 8) DSIR model, persisted once — the
    * static store q_stream_dsir probes per micro-batch (a stream-
    * static join re-plans its static side every batch; an un-persisted
    * model would re-fit on the whole corpus each time). */
  private[graft] def dsirLrTrain(s: SparkSession, d: String): DataFrame =
    Fixpoints.cacheOnce(s, d, "dsirlrtrain") {
      dsirLogRatioFromCounts(
        dsirDocBuckets(s, d).filter(col("doc_id") % 10 < 8))
    }

  /** DuckDB CTEs mirroring [[dsirFeatures]] + [[dsirLogRatio]] over
    * `documents` rows satisfying `pred`; defines big/model/tot/lr
    * (callers open with WITH and append their scoring query). */
  private[graft] def dsirLrSql(pred: String): String =
    s"""big AS (
          SELECT doc_id, source,
            CAST('0x' || substr(md5(bg), 1, 8) AS BIGINT) % 4096 AS b
          FROM (SELECT doc_id, source, unnest(
                  CASE WHEN len(toks) >= 2
                    THEN list_transform(
                           generate_series(1, len(toks) - 1),
                           i -> array_to_string(toks[i:i+1], ' '))
                    ELSE [] END) AS bg
                FROM (SELECT doc_id, source,
                        string_split(text, ' ') AS toks
                      FROM documents WHERE $pred))),
        model AS (
          SELECT b, count(*) AS nr,
            sum(CASE WHEN source IN ('src0','src1','src2','src3')
                  THEN 1 ELSE 0 END) AS nt
          FROM big GROUP BY b),
        tot AS (SELECT sum(nr) AS nr_tot, sum(nt) AS nt_tot
                FROM model),
        lr AS (
          SELECT b,
            ln(CAST(nt + 1 AS DOUBLE) / CAST(nt_tot + 4096 AS DOUBLE))
              - ln(CAST(nr + 1 AS DOUBLE)
                   / CAST(nr_tot + 4096 AS DOUBLE)) AS lr
          FROM model, tot)"""

  val qMixDsir = Q(
    "q_mix_dsir",
    (s, d) => {
      // shared persisted fixpoints: the per-(doc, bucket) counts and
      // the full-corpus model (doc_id determines source, so the
      // bucket rows are already unique on (doc_id, b))
      dsirDocBuckets(s, d)
        .select(col("doc_id"), col("b"), col("c"))
        .join(broadcast(dsirLrFull(s, d)), "b")
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).cast("bigint").as("n_feat"),
          round(sum(col("c") * col("lr")), 6).as("logw"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH ${dsirLrSql("TRUE")},
            db AS (SELECT doc_id, b, count(*) AS c
                   FROM big GROUP BY doc_id, b)
            SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_feat,
              round(sum(c * lr), 6) AS logw
            FROM db JOIN lr USING (b)
            GROUP BY doc_id
            ORDER BY doc_id NULLS FIRST"""))

  /** Shard manifest (q_shard_manifest): the publish/attestation step of
    * a data release — every document is assigned to one of 16 shards by
    * a deterministic content-independent hash of its id, and the
    * manifest records per shard the doc count, token mass, id range,
    * and an ORDER-INSENSITIVE content checksum (sum of 32-bit md5
    * prefixes of the normalized text — any engine, any partitioning,
    * any row order reproduces the same value, which is the whole point
    * of the artifact). One scan + one 16-key aggregate with map-side
    * combine; nothing here grows beyond 16 rows. */
  val qShardManifest = Q(
    "q_shard_manifest",
    (s, d) =>
      docs(s, d)
        .select(
          expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), " +
            "16, 10) AS BIGINT) % 16").as("shard"),
          col("doc_id"),
          size(split(col("text"), " ")).cast("bigint").as("ntok"),
          expr("CAST(conv(substring(md5(CAST(lower(trim(text)) " +
            "AS BINARY)), 1, 8), 16, 10) AS BIGINT)").as("ch"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ntok")).as("n_tokens"),
          min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"),
          sum(col("ch")).as("content_sum"))
        .orderBy(col("shard")),
    Some("""SELECT
              CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                AS BIGINT) % 16 AS shard,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                AS n_tokens,
              min(doc_id) AS min_id, max(doc_id) AS max_id,
              CAST(sum(CAST('0x' || substr(md5(lower(trim(text))), 1, 8)
                AS BIGINT)) AS BIGINT) AS content_sum
            FROM documents
            GROUP BY shard
            ORDER BY shard NULLS FIRST"""))

  /** DSIR importance resampling (q_mix_dsir_sample): the SELECTION
    * half of DSIR — draw the 64-doc subset with probability
    * proportional to the importance weight via the deterministic
    * Gumbel-top-k race, key = logw − ln(−ln(u)) with u the md5-derived
    * uniform of q_sample_weighted. The race key is libm math: fine for
    * ORDERING (keys are continuous and well separated — the
    * q_sample_weighted argument) but never output; the published rank
    * is a predecessor count over the MILLIONTH-quantized keys of the
    * 64 survivors (the q_text_zipf discipline), so the emitted table
    * is integer-exact. Plan: scoring reuses the q_mix_dsir model
    * pipeline; the global top-64 is a TakeOrderedAndProject (map-side
    * k, no global sort materialized); the rank join is 64×64 and
    * broadcast. */
  val qMixDsirSample = Q(
    "q_mix_dsir_sample",
    (s, d) => {
      // the bucket counts and the model are the shared persisted
      // fixpoints (also q_mix_dsir's inputs)
      val dw = dsirDocBuckets(s, d)
        .join(broadcast(dsirLrFull(s, d)), "b")
        .groupBy(col("doc_id"), col("source"))
        .agg(round(sum(col("c") * col("lr")), 6).as("logw"))
      val keyed = dw
        .withColumn("u", expr(
          "(CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), " +
            "16, 10) AS BIGINT) + 0.5) / 4294967296.0"))
        .withColumn("key", col("logw") - log(-log(col("u"))))
      val top = keyed.orderBy(col("key").desc, col("doc_id")).limit(64)
        .select(col("doc_id"), col("source"), col("logw"),
          floor(col("key") * lit(1e6) + lit(0.5)).cast("bigint").as("kq"))
      top
        .join(broadcast(top.select(col("kq").as("pk"),
            col("doc_id").as("pd"))),
          col("pk") > col("kq") ||
            (col("pk") === col("kq") && col("pd") < col("doc_id")),
          "left")
        .groupBy(col("doc_id"), col("source"), col("logw"))
        .agg((count(col("pd")) + 1).as("rk"))
        .select(col("rk"), col("doc_id"), col("source"), col("logw"))
        .orderBy(col("rk"), col("doc_id"))
    },
    Some(s"""WITH ${dsirLrSql("TRUE")},
            db AS (SELECT doc_id, source, b, count(*) AS c
                   FROM big GROUP BY doc_id, source, b),
            dw AS (SELECT doc_id, source, round(sum(c * lr), 6) AS logw
                   FROM db JOIN lr USING (b) GROUP BY doc_id, source),
            kq AS (
              SELECT doc_id, source, logw,
                CAST(floor((logw - ln(-ln(
                  (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                     1, 8) AS BIGINT) + 0.5) / 4294967296.0)))
                  * 1e6 + 0.5e0) AS BIGINT) AS kq
              FROM dw
              ORDER BY logw - ln(-ln(
                (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                   1, 8) AS BIGINT) + 0.5) / 4294967296.0)) DESC,
                doc_id
              LIMIT 64)
            SELECT
              CAST(1 + (SELECT count(*) FROM kq b
                        WHERE b.kq > a.kq
                           OR (b.kq = a.kq AND b.doc_id < a.doc_id))
                AS BIGINT) AS rk,
              a.doc_id, a.source, a.logw
            FROM kq a
            ORDER BY rk NULLS FIRST, doc_id NULLS FIRST"""))

  /** Bigram-LM perplexity filter (q_text_perplexity): the CCNet-style
    * quality gate — score every document's bits-per-bigram under an
    * add-1-smoothed conditional bigram model trained on the corpus
    * itself, then split the corpus into head/middle/tail perplexity
    * tertiles. Complements q_text_logprob (unigram mean): the
    * CONDITIONAL model is what CCNet actually thresholds on. Parity
    * discipline: each bigram's -log2 P(w2|w1) is quantized to
    * millionths (BIGINT) before any sum, so per-doc totals are exact
    * integer sums; the tertile assignment compares the integer MEAN
    * (floor of the quantized sum over the bigram count) against
    * broadcast percentile cuts, never one float sum to another. Scale
    * shape: the model (bigram counts, per-w1 totals) is vocabulary²-
    * bounded — Heaps-sublinear in the corpus, so its two equi-joins
    * carry NO broadcast hint and plan by size statistics; the cuts are
    * a one-row broadcast; no windows anywhere, so nothing serializes
    * through a single task. */
  /** (doc_id, source, w1, w2) bigram rows — a scan-local explode over
    * documents with at least two tokens. */
  private[graft] def bigramRows(docsDf: DataFrame): DataFrame =
    docsDf
      .select(col("doc_id"), col("source"),
        split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), col("source"),
        explode(expr(
          """transform(sequence(1, size(ws) - 1),
                       i -> struct(element_at(ws, i) AS w1,
                                   element_at(ws, i + 1) AS w2))"""))
          .as("b"))
      .select(col("doc_id"), col("source"),
        col("b.w1").as("w1"), col("b.w2").as("w2"))

  /** Full-corpus per-doc bigram multiset (doc_id, source, w1, w2, c) —
    * the shared front of the whole bigram-model family: before round 12
    * six batch consumers (q_text_perplexity, q_text_contrast,
    * q_text_novelty, q_mix_curriculum, q_mix_doremi,
    * q_mix_doremi_rounds) each re-ran the split + explode + group over
    * the corpus. Persisted ONCE per (session, dir). Rows are unique on
    * (doc_id, source, w1, w2), so `.select(...)` of the key columns IS
    * the distinct bigram-per-doc list q_text_novelty needs. O(corpus
    * tokens) rows — a distributed persist, never collected or
    * broadcast. */
  private[graft] def docBigrams(s: SparkSession, d: String): DataFrame =
    Fixpoints.cacheOnce(s, d, "docbigrams") {
      bigramRows(Tables.t(s, d, "documents"))
        .groupBy(col("doc_id"), col("source"), col("w1"), col("w2"))
        .agg(count(lit(1)).as("c"))
    }

  /** Full-corpus add-1 model tables, persisted once per (session, dir):
    * bigram counts cnt(w1, w2, n) — derived from [[docBigrams]] by a
    * vocab²-bounded rollup (Σ per-doc c == corpus count) — per-history
    * totals tot(w1, t), and the one-row vocabulary size voc(v). Shared
    * by q_mix_doremi, q_mix_doremi_rounds, q_text_contrast (general
    * side) and [[bigramLqShared]]. */
  private[graft] def fullModel(
      s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    val cnt = Fixpoints.cacheOnce(s, d, "cntg") {
      docBigrams(s, d).groupBy(col("w1"), col("w2"))
        .agg(sum(col("c")).as("n"))
    }
    val tot = Fixpoints.cacheOnce(s, d, "totg") {
      cnt.groupBy(col("w1")).agg(sum(col("n")).as("t"))
    }
    // every token of a doc with at least 2 tokens sits in one of its
    // bigrams, so the vocabulary is the distinct words of the count
    // table: no second split + explode of the corpus
    val voc = Fixpoints.cacheOnce(s, d, "vocg") {
      cnt.select(col("w1").as("token"))
        .union(cnt.select(col("w2").as("token")))
        .agg(countDistinct(col("token")).as("v"))
    }
    (cnt, tot, voc)
  }

  /** Full-corpus add-1-smoothed conditional bigram model, quantized:
    * (w1, w2, lqi = floor(-log2 P(w2|w1) * 1e6 + 0.5)), derived from
    * the shared [[fullModel]] and persisted once — q_text_perplexity
    * and q_mix_curriculum join the identical table. Vocabulary²-bounded
    * (Heaps-sublinear in the corpus), so consumers join it WITHOUT a
    * broadcast hint and let size statistics pick the strategy. */
  private[graft] def bigramLqShared(s: SparkSession, d: String): DataFrame =
    Fixpoints.cacheOnce(s, d, "bigramlq") {
      val (cnt, tot, voc) = fullModel(s, d)
      cnt.join(tot, Seq("w1"))
        .crossJoin(broadcast(voc))
        .select(col("w1"), col("w2"), floor(-log(
            (col("n") + 1).cast("double") / (col("t") + col("v")))
          / log(lit(2.0)) * 1000000 + 0.5).cast("long").as("lqi"))
    }

  /** Every doc scored under the full-corpus add-1 model with the
    * backoff chain — (doc_id, source, nb, sum_i, n_unseen), persisted
    * once: q_mix_doremi (general side) and q_text_contrast (general
    * side) consume the identical table. */
  private[graft] def genScore(s: SparkSession, d: String): DataFrame =
    Fixpoints.cacheOnce(s, d, "genscore") {
      val (cg, tg, vg) = fullModel(s, d)
      scoreUnder(docBigrams(s, d), cg, tg, vg)
    }

  /** Bench-warmup hook for the shared bigram-model fixpoints, so each
    * consumer's bench number charges the query-local work, not
    * whichever registry neighbor built the corpus model first. */
  private[graft] def warmShared(s: SparkSession, d: String): Unit = {
    docBigrams(s, d).count()
    val (cg, tg, vg) = fullModel(s, d)
    cg.count(); tg.count(); vg.count()
    bigramLqShared(s, d).count()
    genScore(s, d).count()
    dsirDocBuckets(s, d).count()
    dsirLrFull(s, d).count()
    dsirLrTrain(s, d).count()
  }

  /** Bits per bigram from a doc's exact integer score: `sumI`
    * millionths of a bit over `nb` bigrams, rounded half-up to a whole
    * millionth in integer arithmetic (sumI >= 0, nb > 0) and divided
    * once, so Spark and the oracle emit the same double. Rounding the
    * double quotient instead, round(sum_i / 1e6 / nb, 6), loses exact
    * ties: sum_i = 29550081, nb = 6 is 4925013.5 millionths, but the
    * quotient prints as 4.9250134999999995 and Spark rounded it to
    * 4.925013. Oracles spell it
    * `CAST((2 * sum_i + nb) // (2 * nb) AS BIGINT) / 1e6`. */
  private[graft] def bitsPerBigram(sumI: String, nb: String): Column =
    expr(s"(2 * $sumI + $nb) div (2 * $nb)") / lit(1e6)

  val qTextPerplexity = Q(
    "q_text_perplexity",
    (s, d) => {
      // shared persisted fixpoints: per-doc bigram multiset + the
      // full-corpus quantized model (also joined by q_mix_curriculum)
      val db = docBigrams(s, d)
      val lq = bigramLqShared(s, d)
      val m = db.join(lq, Seq("w1", "w2"))
        .groupBy(col("doc_id"), col("source"))
        .agg(sum(col("c")).as("nb"),
          sum(col("c") * col("lqi")).as("sum_i"))
        .withColumn("mi",
          floor(col("sum_i") / col("nb")).cast("long"))
      val cuts = m.agg(expr(
        "percentile(mi, array(CAST(1 AS DOUBLE)/3, CAST(2 AS DOUBLE)/3))")
        .as("cuts"))
      m.crossJoin(broadcast(cuts))
        .select(col("doc_id"), col("source"),
          col("nb").as("n_bigrams"),
          bitsPerBigram("sum_i", "nb").as("bits_per_bigram"),
          expr("""CASE aggregate(cuts, 0, (acc, x) ->
                    acc + CASE WHEN mi > x THEN 1 ELSE 0 END)
                  WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
                  ELSE 'tail' END""").as("ppl_bucket"))
        .orderBy(col("doc_id"))
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
            cnt AS (
              SELECT w1, w2, CAST(sum(c) AS BIGINT) AS n
              FROM db GROUP BY w1, w2),
            tot AS (
              SELECT w1, CAST(sum(n) AS BIGINT) AS t
              FROM cnt GROUP BY w1),
            voc AS (
              SELECT count(DISTINCT token) AS v
              FROM (SELECT unnest(w) AS token FROM tk)),
            lq AS (
              SELECT w1, w2,
                CAST(floor(-ln(CAST(n + 1 AS DOUBLE) / (t + v))
                  / ln(CAST(2 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
                  AS lqi
              FROM cnt JOIN tot USING (w1), voc),
            m AS (
              SELECT doc_id, source,
                CAST(sum(c) AS BIGINT) AS nb,
                CAST(sum(c * lqi) AS BIGINT) AS sum_i,
                CAST(floor(CAST(sum(c * lqi) AS DOUBLE) / sum(c))
                  AS BIGINT) AS mi
              FROM db JOIN lq USING (w1, w2)
              GROUP BY doc_id, source),
            cuts AS (
              SELECT [quantile_cont(mi, CAST(1 AS DOUBLE)/3),
                      quantile_cont(mi, CAST(2 AS DOUBLE)/3)] AS cuts
              FROM m)
            SELECT doc_id, source, nb AS n_bigrams,
              CAST((2 * sum_i + nb) // (2 * nb) AS BIGINT) / 1e6
                AS bits_per_bigram,
              CASE len(list_filter(cuts, x -> mi > x))
                WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
                ELSE 'tail' END AS ppl_bucket
            FROM m, cuts
            ORDER BY doc_id NULLS FIRST"""))

  /** Two-stage anneal mix (q_mix_anneal): the LLaMA-3/MiniCPM-style
    * midtraining schedule — stage 1 (90% of the token budget) samples
    * by the plain temperature mix, stage 2 (the final 10%, the
    * "anneal") re-weights each source by the SQUARE of its rule-gate
    * pass rate, concentrating the end of training on the highest-
    * quality sources. Emits the per-source budget table a training
    * launcher consumes: both stage weights, both token allocations,
    * and the anneal boost ratio. Parity discipline: the temperature
    * term pow(n, 0.7) and the quality-weighted term are quantized to
    * millionths (BIGINT) per source BEFORE normalization, so both
    * stage normalizers are exact integer sums and the emitted
    * allocations are floors of identically-ordered double products.
    * Scale shape: two per-source aggregates + one-row normalizer
    * broadcasts — dimension-sized end to end, like q_mix_epochs. */
  val qMixAnneal = Q(
    "q_mix_anneal",
    (s, d) => {
      val bySource = docs(s, d)
        .select(col("source"),
          size(split(col("text"), " ")).cast("long").as("ntok"),
          split(col("text"), " ").as("ws"), col("text"))
        .select(col("source"), col("ntok"),
          (size(col("ws")).between(50, 100000) &&
            round(length(translate(col("text"), " ", "")) /
              size(col("ws")), 6).between(3.0, 10.0) &&
            round(size(filter(col("ws"), w => w.rlike("^[a-z]+$"))) /
              size(col("ws")), 6) >= 0.8 &&
            size(filter(col("ws"), w => w.isin("the", "a"))) >= 2)
            .cast("long").as("passes"))
        .groupBy(col("source"))
        .agg(sum(col("ntok")).as("n"),
          count(lit(1)).as("nd"),
          sum(col("passes")).as("np"))
        .select(col("source"), col("n"),
          round(col("np").cast("double") / col("nd"), 6).as("pass_rate"))
        .select(col("source"), col("n"), col("pass_rate"),
          floor(pow(col("n").cast("double"), 0.7) * 1000000 + 0.5)
            .cast("long").as("q1i"))
        .select(col("*"),
          floor(pow(col("n").cast("double"), 0.7) * col("pass_rate") *
            col("pass_rate") * 1000000 + 0.5).cast("long").as("q2i"))
      val z = bySource.agg(sum(col("q1i")).as("z1"),
        sum(col("q2i")).as("z2"), sum(col("n")).as("tot"))
      bySource.crossJoin(broadcast(z))
        .select(col("source"), col("n").as("n_tokens"), col("pass_rate"),
          round(col("q1i").cast("double") / col("z1"), 6).as("w1"),
          round(col("q2i").cast("double") / col("z2"), 6).as("w2"),
          floor(lit(0.9) * (col("tot") * 10).cast("double") *
            col("q1i") / col("z1")).cast("long").as("t1_tokens"),
          floor(lit(0.1) * (col("tot") * 10).cast("double") *
            col("q2i") / col("z2")).cast("long").as("t2_tokens"),
          round((col("q2i").cast("double") / col("z2")) /
            (col("q1i").cast("double") / col("z1")), 6).as("boost"))
        .orderBy(col("source"))
    },
    Some("""WITH per_doc AS (
              SELECT source,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
                CAST(len(string_split(text, ' ')) BETWEEN 50 AND 100000
                  AND round(length(replace(text, ' ', '')) * 1.0e0 /
                    len(string_split(text, ' ')), 6) BETWEEN 3.0 AND 10.0
                  AND round(len(list_filter(string_split(text, ' '),
                      x -> regexp_full_match(x, '[a-z]+'))) * 1.0e0 /
                    len(string_split(text, ' ')), 6) >= 0.8
                  AND len(list_filter(string_split(text, ' '),
                      x -> x IN ('the', 'a'))) >= 2
                AS BIGINT) AS passes
              FROM documents),
            by_source AS (
              SELECT source, CAST(sum(ntok) AS BIGINT) AS n,
                round(CAST(sum(passes) AS DOUBLE) / count(*), 6)
                  AS pass_rate
              FROM per_doc GROUP BY source),
            quant AS (
              SELECT source, n, pass_rate,
                CAST(floor(pow(CAST(n AS DOUBLE), 0.7e0) * 1000000 + 0.5)
                  AS BIGINT) AS q1i,
                CAST(floor(pow(CAST(n AS DOUBLE), 0.7e0) * pass_rate *
                  pass_rate * 1000000 + 0.5) AS BIGINT) AS q2i
              FROM by_source),
            z AS (
              SELECT CAST(sum(q1i) AS BIGINT) AS z1,
                CAST(sum(q2i) AS BIGINT) AS z2,
                CAST(sum(n) AS BIGINT) AS tot
              FROM quant)
            SELECT source, n AS n_tokens, pass_rate,
              round(CAST(q1i AS DOUBLE) / z1, 6) AS w1,
              round(CAST(q2i AS DOUBLE) / z2, 6) AS w2,
              CAST(floor(0.9e0 * CAST(tot * 10 AS DOUBLE) * q1i / z1)
                AS BIGINT) AS t1_tokens,
              CAST(floor(0.1e0 * CAST(tot * 10 AS DOUBLE) * q2i / z2)
                AS BIGINT) AS t2_tokens,
              round((CAST(q2i AS DOUBLE) / z2) /
                (CAST(q1i AS DOUBLE) / z1), 6) AS boost
            FROM quant, z
            ORDER BY source NULLS FIRST"""))

  /** DSIR weight diagnostics (q_mix_dsir_ess): the effective sample
    * size of the importance weights — ESS = (Σw)²/Σw² with
    * w = exp(logw − max logw) (the log-sum-exp shift, so the largest
    * weight is exactly 1 and exp never over/underflows) — plus the
    * max-weight share. This is the check importance-sampling theory
    * demands before resampling: an ESS near 1 means one document
    * dominates the draw and the target model is over-fit to it; near n
    * means the weights are uninformative. Parity: shifted weights are
    * quantized to millionths (BIGINT) per doc, so both sums are exact
    * integers and the two emitted ratios divide once. Shape: two tiny
    * aggregates over the per-doc weight table + one-row broadcasts —
    * nothing heavier than q_mix_dsir itself. */
  val qMixDsirEss = Q(
    "q_mix_dsir_ess",
    (s, d) => {
      val dw = qMixDsir.fn(s, d).select(col("doc_id"), col("logw"))
      val mx = dw.agg(max(col("logw")).as("ml"))
      val wq = dw.crossJoin(broadcast(mx))
        .select(floor(exp(col("logw") - col("ml")) * 1000000 + 0.5)
          .cast("long").as("w"))
      wq.agg(count(lit(1)).as("n_docs"),
          sum(col("w")).as("sw"),
          sum(col("w") * col("w")).as("sww"),
          max(col("w")).as("wmax"))
        .select(col("n_docs"),
          round(col("sw").cast("double") * col("sw") / col("sww"), 6)
            .as("ess"),
          round(col("sw").cast("double") * col("sw") / col("sww") /
            col("n_docs"), 6).as("ess_ratio"),
          round(col("wmax").cast("double") / col("sw"), 6)
            .as("max_share"))
    },
    qMixDsir.oracle.map { dsirSql =>
      val inner = graft.Oracle.stripOrderBy(dsirSql)
      s"""WITH dw AS (SELECT doc_id, logw FROM ($inner) z),
            mx AS (SELECT max(logw) AS ml FROM dw),
            wq AS (
              SELECT CAST(floor(exp(logw - ml) * 1000000 + 0.5)
                AS BIGINT) AS w
              FROM dw, mx),
            agg AS (
              SELECT CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(w) AS BIGINT) AS sw,
                CAST(sum(w * w) AS BIGINT) AS sww,
                CAST(max(w) AS BIGINT) AS wmax
              FROM wq)
          SELECT n_docs,
            round(CAST(sw AS DOUBLE) * sw / sww, 6) AS ess,
            round(CAST(sw AS DOUBLE) * sw / sww / n_docs, 6)
              AS ess_ratio,
            round(CAST(wmax AS DOUBLE) / sw, 6) AS max_share
          FROM agg"""
    })

  /** Held-out perplexity (q_text_heldout_ppl): the honest version of
    * q_text_perplexity — the add-1 bigram model is fit on the TRAIN
    * fold only (doc_id % 5 != 0) and every held-out document is scored
    * under it, with the full smoothing backoff chain an unseen test
    * bigram needs: seen (w1,w2) → (n+1)/(t+V); unseen w2 under a seen
    * w1 → 1/(t+V); wholly unseen w1 → 1/V. This is the actual CCNet
    * setup (score under a FOREIGN model) and the generalization check
    * q_text_perplexity's self-scored tertiles cannot give. Per-bigram
    * bits are quantized to millionths before summation; the emitted
    * unseen count makes the backoff auditable. Scale shape: model
    * tables are vocab²-bounded with NO broadcast hints; the two left
    * joins and the per-doc aggregate are the only shuffles. */
  /** Add-1-smoothed bigram model over a document subset: bigram counts
    * `cnt(w1, w2, n)`, per-history totals `tot(w1, t)`, and the one-row
    * vocabulary size `voc(v)`. cnt/tot are vocabulary²-bounded (Heaps-
    * sublinear in the corpus) so consumers join them UNHINTED; only the
    * one-row voc is broadcast. */
  private[graft] def addOneModel(docsDf: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val cnt = bigramRows(docsDf).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n"))
    val tot = cnt.groupBy(col("w1")).agg(sum(col("n")).as("t"))
    val voc = docsDf
      .select(split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(explode(col("ws")).as("token"))
      .agg(countDistinct(col("token")).as("v"))
    (cnt, tot, voc)
  }

  /** Score a per-doc bigram multiset `db(doc_id, source, w1, w2, c)`
    * under a possibly-FOREIGN add-1 model with the full backoff chain:
    * seen (w1,w2) → (n+1)/(t+V); unseen w2 under a seen w1 → 1/(t+V);
    * wholly unseen w1 → 1/V. Per-bigram bits are quantized to
    * millionths (BIGINT) before summation. Returns one row per doc:
    * (doc_id, source, nb, sum_i, n_unseen). */
  private[graft] def scoreUnder(db: DataFrame, cnt: DataFrame, tot: DataFrame,
      voc: DataFrame): DataFrame =
    db.join(cnt, Seq("w1", "w2"), "left")
      .join(tot, Seq("w1"), "left")
      .crossJoin(broadcast(voc))
      .withColumn("lqi", floor(-log(
          when(col("n").isNotNull,
            (col("n") + 1).cast("double") / (col("t") + col("v")))
            .when(col("t").isNotNull, lit(1.0) / (col("t") + col("v")))
            .otherwise(lit(1.0) / col("v")))
        / log(lit(2.0)) * 1000000 + 0.5).cast("long"))
      .withColumn("unseen", col("n").isNull.cast("long"))
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("c")).as("nb"),
        sum(col("c") * col("lqi")).as("sum_i"),
        sum(col("c") * col("unseen")).as("n_unseen"))

  val qTextHeldoutPpl = Q(
    "q_text_heldout_ppl",
    (s, d) => {
      val train = docs(s, d).filter(col("doc_id") % 5 =!= 0)
      val test = docs(s, d).filter(col("doc_id") % 5 === 0)
      val (cnt, tot, voc) = addOneModel(train)
      val tb = bigramRows(test)
        .groupBy(col("doc_id"), col("source"), col("w1"), col("w2"))
        .agg(count(lit(1)).as("c"))
      scoreUnder(tb, cnt, tot, voc)
        .select(col("doc_id"), col("source"),
          col("nb").as("n_bigrams"), col("n_unseen"),
          bitsPerBigram("sum_i", "nb").as("bits_per_bigram"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH tk AS (
              SELECT doc_id, source, string_split(text, ' ') AS w
              FROM documents
              WHERE len(string_split(text, ' ')) >= 2),
            big AS (
              SELECT doc_id, source, w[i] AS w1, w[i + 1] AS w2
              FROM tk, LATERAL (
                SELECT unnest(generate_series(1, len(w) - 1)) AS i) g),
            cnt AS (
              SELECT w1, w2, CAST(count(*) AS BIGINT) AS n
              FROM big WHERE doc_id % 5 <> 0 GROUP BY w1, w2),
            tot AS (
              SELECT w1, CAST(sum(n) AS BIGINT) AS t
              FROM cnt GROUP BY w1),
            voc AS (
              SELECT count(DISTINCT token) AS v
              FROM (SELECT unnest(w) AS token FROM tk
                    WHERE doc_id % 5 <> 0)),
            tb AS (
              SELECT doc_id, source, w1, w2,
                CAST(count(*) AS BIGINT) AS c
              FROM big WHERE doc_id % 5 = 0
              GROUP BY doc_id, source, w1, w2),
            scored AS (
              SELECT tb.doc_id, tb.source, tb.c,
                CAST(floor(-ln(
                    CASE WHEN cnt.n IS NOT NULL
                      THEN CAST(cnt.n + 1 AS DOUBLE) / (tot.t + voc.v)
                    WHEN tot.t IS NOT NULL
                      THEN 1.0e0 / (tot.t + voc.v)
                    ELSE 1.0e0 / voc.v END)
                  / ln(CAST(2 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
                  AS lqi,
                CASE WHEN cnt.n IS NULL THEN 1 ELSE 0 END AS unseen
              FROM tb
              LEFT JOIN cnt ON tb.w1 = cnt.w1 AND tb.w2 = cnt.w2
              LEFT JOIN tot ON tb.w1 = tot.w1
              CROSS JOIN voc)
            SELECT doc_id, source, n_bigrams, n_unseen,
              CAST((2 * sum_i + n_bigrams) // (2 * n_bigrams) AS BIGINT)
                / 1e6 AS bits_per_bigram
            FROM (SELECT doc_id, source,
                    CAST(sum(c) AS BIGINT) AS n_bigrams,
                    CAST(sum(c * unseen) AS BIGINT) AS n_unseen,
                    CAST(sum(c * lqi) AS BIGINT) AS sum_i
                  FROM scored
                  GROUP BY doc_id, source)
            ORDER BY doc_id NULLS FIRST"""))

  /** Perplexity-contrast filter (q_text_contrast): the CCNet
    * contrastive gate — score every document under TWO add-1 bigram
    * models, one fit on a literal in-domain source set (src0..src3,
    * standing in for the "wiki-like" target corpus) and one fit on the
    * whole corpus, and keep documents whose in-domain cost is no higher
    * than their general cost. This is the discriminative form of DSIR:
    * instead of hashed-n-gram importance weights, the score is the
    * exact per-bigram bit difference mi_in − mi_gen, negative when the
    * document reads like the target domain. Measured on the fixture:
    * in-domain docs average −0.093 bits, out-domain +0.130, so the
    * keep ≤ 0 literal separates the classes. Parity discipline: both
    * per-doc means are exact integer quotients (`sum_i div nb`, both
    * engines integral division — the q_mix_epochs lesson) of millionth-
    * quantized bit sums, so the contrast is a BIGINT difference and the
    * keep flag compares integers, never floats. Scale shape: one
    * per-doc bigram multiset feeds both scorings; model tables are
    * vocab²-bounded and join UNHINTED; only the one-row vocab sizes
    * broadcast; no windows. */
  val qTextContrast = Q(
    "q_text_contrast",
    (s, d) => {
      val db = docBigrams(s, d)
      val (cg, tg, vg) = fullModel(s, d)
      val (ci, ti, vi) = addOneModel(docs(s, d)
        .filter(col("source").isin("src0", "src1", "src2", "src3")))
      val g = scoreUnder(db, cg, tg, vg)
        .select(col("doc_id"), col("source"), col("nb"),
          col("sum_i").as("sg"))
      val i = scoreUnder(db, ci, ti, vi)
        .select(col("doc_id"), col("sum_i").as("si"),
          col("n_unseen").as("n_oov_in"))
      g.join(i, Seq("doc_id"))
        .withColumn("mg", expr("sg div nb"))
        .withColumn("mi", expr("si div nb"))
        .select(col("doc_id"), col("source"),
          col("nb").as("n_bigrams"), col("n_oov_in"),
          round(col("sg") / lit(1e6) / col("nb"), 6).as("bits_gen"),
          round(col("si") / lit(1e6) / col("nb"), 6).as("bits_in"),
          round((col("mi") - col("mg")) / lit(1e6), 6)
            .as("contrast_bits"),
          (col("mi") <= col("mg")).cast("long").as("keep"))
        .orderBy(col("doc_id"))
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
            cnt_i AS (
              SELECT w1, w2, CAST(sum(c) AS BIGINT) AS n
              FROM db WHERE source IN ('src0', 'src1', 'src2', 'src3')
              GROUP BY w1, w2),
            tot_i AS (
              SELECT w1, CAST(sum(n) AS BIGINT) AS t
              FROM cnt_i GROUP BY w1),
            voc_i AS (
              SELECT count(DISTINCT token) AS v
              FROM (SELECT unnest(w) AS token FROM tk
                    WHERE source IN ('src0', 'src1', 'src2', 'src3'))),
            sg AS (
              SELECT db.doc_id, db.source,
                CAST(sum(db.c) AS BIGINT) AS nb,
                CAST(sum(db.c * CAST(floor(-ln(
                    CASE WHEN cnt_g.n IS NOT NULL
                      THEN CAST(cnt_g.n + 1 AS DOUBLE) / (tot_g.t + voc_g.v)
                    WHEN tot_g.t IS NOT NULL
                      THEN 1.0e0 / (tot_g.t + voc_g.v)
                    ELSE 1.0e0 / voc_g.v END)
                  / ln(CAST(2 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT))
                  AS BIGINT) AS sg
              FROM db
              LEFT JOIN cnt_g ON db.w1 = cnt_g.w1 AND db.w2 = cnt_g.w2
              LEFT JOIN tot_g ON db.w1 = tot_g.w1
              CROSS JOIN voc_g
              GROUP BY db.doc_id, db.source),
            si AS (
              SELECT db.doc_id,
                CAST(sum(db.c * CAST(floor(-ln(
                    CASE WHEN cnt_i.n IS NOT NULL
                      THEN CAST(cnt_i.n + 1 AS DOUBLE) / (tot_i.t + voc_i.v)
                    WHEN tot_i.t IS NOT NULL
                      THEN 1.0e0 / (tot_i.t + voc_i.v)
                    ELSE 1.0e0 / voc_i.v END)
                  / ln(CAST(2 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT))
                  AS BIGINT) AS si,
                CAST(sum(db.c * CASE WHEN cnt_i.n IS NULL THEN 1 ELSE 0
                  END) AS BIGINT) AS n_oov_in
              FROM db
              LEFT JOIN cnt_i ON db.w1 = cnt_i.w1 AND db.w2 = cnt_i.w2
              LEFT JOIN tot_i ON db.w1 = tot_i.w1
              CROSS JOIN voc_i
              GROUP BY db.doc_id)
            SELECT sg.doc_id, sg.source, sg.nb AS n_bigrams, si.n_oov_in,
              round(sg.sg / 1e6 / sg.nb, 6) AS bits_gen,
              round(si.si / 1e6 / sg.nb, 6) AS bits_in,
              round((si.si // sg.nb - sg.sg // sg.nb) / 1e6, 6)
                AS contrast_bits,
              CAST(CASE WHEN si.si // sg.nb <= sg.sg // sg.nb
                THEN 1 ELSE 0 END AS BIGINT) AS keep
            FROM sg JOIN si ON sg.doc_id = si.doc_id
            ORDER BY sg.doc_id NULLS FIRST"""))

  /** Quality-curriculum schedule (q_mix_curriculum): order the corpus
    * into three training phases, easy → hard, by self-scored bigram
    * bits-per-doc tertiles (curriculum learning: warm up on the
    * most-predictable text, finish on the hardest), and emit the
    * per-(phase, source) manifest a training launcher consumes —
    * document and token counts, each source's share of its phase, and
    * the phase's absolute token span [tok_start, tok_end) in the
    * concatenated schedule. Parity discipline: the per-doc difficulty
    * is the integer quotient `sum_i div nb` of millionth-quantized
    * bits (exact in both engines); phase cuts are ONE interpolated-
    * percentile aggregate over those integers, broadcast, compared
    * integer-to-cut (the q_agg_equidepth pattern); the token spans are
    * exact BIGINT sums. Scale shape: model joins unhinted and vocab²-
    * bounded as in q_text_perplexity; the phase-offset self-join runs
    * on the LITERAL 3-row phase table (strict-predecessor sum, the
    * q_text_zipf idiom) so no window ever sees a grow-with-data
    * table. The per-doc scores are the persisted [[genScore]]
    * fixpoint: over the full corpus every bigram is in the model, so
    * the backoff scorer's sum_i equals the inner model join's exactly
    * (integer arithmetic) and the query-local work is just the
    * doc-level tertile cut + the phase manifest. */
  val qMixCurriculum = Q(
    "q_mix_curriculum",
    (s, d) => {
      val m = genScore(s, d)
        .select(col("doc_id"), col("source"), col("nb"), col("sum_i"))
        .withColumn("mi", expr("sum_i div nb"))
      val cuts = m.agg(expr(
        "percentile(mi, array(CAST(1 AS DOUBLE)/3, CAST(2 AS DOUBLE)/3))")
        .as("cuts"))
      val phased = m.crossJoin(broadcast(cuts))
        .withColumn("phase",
          expr("""CAST(1 + aggregate(cuts, 0, (acc, x) ->
                    acc + CASE WHEN mi > x THEN 1 ELSE 0 END)
                  AS BIGINT)"""))
      val perPs = phased.groupBy(col("phase"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nb") + 1).as("n_tokens"),
          sum(col("sum_i")).as("s_i"), sum(col("nb")).as("s_nb"))
      val pt = perPs.groupBy(col("phase"))
        .agg(sum(col("n_tokens")).as("p_tokens"))
      val spans = pt.as("a")
        .join(pt.as("b"), col("b.phase") < col("a.phase"), "left")
        .groupBy(col("a.phase").as("phase"),
          col("a.p_tokens").as("p_tokens"))
        .agg(coalesce(sum(col("b.p_tokens")), lit(0L)).as("tok_start"))
      perPs.join(broadcast(spans), Seq("phase"))
        .select(col("phase"), col("source"), col("n_docs"),
          col("n_tokens"),
          round(col("n_tokens").cast("double") / col("p_tokens"), 6)
            .as("share"),
          round(col("s_i") / lit(1e6) / col("s_nb"), 6)
            .as("mean_bits"),
          col("tok_start"),
          (col("tok_start") + col("p_tokens")).as("tok_end"))
        .orderBy(col("phase"), col("source"))
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
            cnt AS (
              SELECT w1, w2, CAST(sum(c) AS BIGINT) AS n
              FROM db GROUP BY w1, w2),
            tot AS (
              SELECT w1, CAST(sum(n) AS BIGINT) AS t
              FROM cnt GROUP BY w1),
            voc AS (
              SELECT count(DISTINCT token) AS v
              FROM (SELECT unnest(w) AS token FROM tk)),
            lq AS (
              SELECT w1, w2,
                CAST(floor(-ln(CAST(n + 1 AS DOUBLE) / (t + v))
                  / ln(CAST(2 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
                  AS lqi
              FROM cnt JOIN tot USING (w1), voc),
            m AS (
              SELECT doc_id, source,
                CAST(sum(c) AS BIGINT) AS nb,
                CAST(sum(c * lqi) AS BIGINT) AS sum_i,
                CAST(sum(c * lqi) AS BIGINT) // sum(c) AS mi
              FROM db JOIN lq USING (w1, w2)
              GROUP BY doc_id, source),
            cuts AS (
              SELECT [quantile_cont(mi, CAST(1 AS DOUBLE)/3),
                      quantile_cont(mi, CAST(2 AS DOUBLE)/3)] AS cuts
              FROM m),
            phased AS (
              SELECT m.*,
                CAST(1 + len(list_filter(cuts, x -> mi > x)) AS BIGINT)
                  AS phase
              FROM m, cuts),
            per_ps AS (
              SELECT phase, source,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(nb + 1) AS BIGINT) AS n_tokens,
                CAST(sum(sum_i) AS BIGINT) AS s_i,
                CAST(sum(nb) AS BIGINT) AS s_nb
              FROM phased GROUP BY phase, source),
            pt AS (
              SELECT phase, CAST(sum(n_tokens) AS BIGINT) AS p_tokens
              FROM per_ps GROUP BY phase),
            spans AS (
              SELECT a.phase, a.p_tokens,
                CAST(coalesce(sum(b.p_tokens), 0) AS BIGINT)
                  AS tok_start
              FROM pt a LEFT JOIN pt b ON b.phase < a.phase
              GROUP BY a.phase, a.p_tokens)
            SELECT per_ps.phase, source, n_docs, n_tokens,
              round(CAST(n_tokens AS DOUBLE) / p_tokens, 6) AS share,
              round(s_i / 1e6 / s_nb, 6) AS mean_bits,
              tok_start,
              CAST(tok_start + p_tokens AS BIGINT) AS tok_end
            FROM per_ps JOIN spans ON per_ps.phase = spans.phase
            ORDER BY per_ps.phase NULLS FIRST, source NULLS FIRST"""))

  // ---- q_text_bigram_kn -------------------------------------------------

  /** Shared KN interpolation formula — identical text in both engines:
    * every input is an exact integer, so the double sequence is
    * IEEE-identical before the 6dp round. */
  private val knSql =
    """(greatest(n - 0.75e0, 0e0)
       + 0.75e0 * n1p_w1 * (CAST(n1p_dot AS DOUBLE) / n1p_all)) / c1"""

  /** Kneser-Ney smoothed bigram LM head (q_text_bigram_kn): the
    * absolute-discount interpolated estimate
    * P(w2|w1) = max(c−d,0)/c(w1) + d·N₁₊(w1·)/c(w1) · Pcont(w2) with
    * d = 0.75 and the continuation prior Pcont(w2) =
    * N₁₊(·w2)/N₁₊(··) — the smoothing that made count-based LMs
    * competitive (Kneser & Ney 1995), and the quality gate that
    * distinguishes "frequent continuation" from "frequent only after
    * one anchor". Per w1 the emitted row is the KN-argmax
    * continuation, which can differ from q_text_bigram_lm's raw-count
    * winner exactly when the continuation prior overrules a
    * one-anchor-burst bigram. All counts are one grouped aggregate;
    * windows run over the distinct-bigram table (vocab-bounded); every
    * arithmetic input is an exact integer so the ranked doubles are
    * engine-identical. */
  val qTextBigramKn = Q(
    "q_text_bigram_kn",
    (s, d) => {
      val cnt = docs(s, d)
        .select(split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 2)
        .select(explode(expr(
          """transform(sequence(1, size(ws) - 1),
                       i -> struct(element_at(ws, i) AS w1,
                                   element_at(ws, i + 1) AS w2))"""))
          .as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("n"))
      val byW1 = Window.partitionBy(col("w1"))
      // continuation counts as a WINDOW over the same vocab-bounded
      // distinct-bigram table the w1 windows already run on — the old
      // separate cont aggregate + join-back re-ran the corpus explode
      // (column pruning divorces the subtrees, so ReusedExchange never
      // fires); only the 1-row global total still needs its own
      // (pruned-to-nothing) pass, broadcast back
      val tot = cnt.agg(count(lit(1)).as("n1p_all"))
      val scored = cnt
        .withColumn("c1", sum(col("n")).over(byW1))
        .withColumn("n1p_w1", count(lit(1)).over(byW1))
        .withColumn("n1p_dot",
          count(lit(1)).over(Window.partitionBy(col("w2"))))
        .crossJoin(broadcast(tot))
        .withColumn("p_kn", expr(knSql))
      scored
        .withColumn("rn", row_number().over(Window.partitionBy(col("w1"))
          .orderBy(col("p_kn").desc, col("w2"))))
        .filter(col("rn") === 1)
        .select(col("w1"), col("w2"), col("n"), col("n1p_w1"),
          round(col("p_kn"), 6).as("p_kn"))
        .orderBy(col("w1"))
    },
    Some(s"""WITH toks AS (
              SELECT doc_id, string_split(text, ' ') AS w
              FROM documents WHERE len(string_split(text, ' ')) >= 2),
            big AS (
              SELECT w[i] AS w1, w[i + 1] AS w2
              FROM toks, LATERAL (
                SELECT unnest(generate_series(1, len(w) - 1)) AS i) g),
            cnt AS (
              SELECT w1, w2, CAST(count(*) AS BIGINT) AS n
              FROM big GROUP BY w1, w2),
            cont AS (
              SELECT w2, CAST(count(*) AS BIGINT) AS n1p_dot
              FROM cnt GROUP BY w2),
            tot AS (SELECT CAST(count(*) AS BIGINT) AS n1p_all FROM cnt),
            scored AS (
              SELECT cnt.w1, cnt.w2, cnt.n,
                CAST(sum(n) OVER (PARTITION BY w1) AS BIGINT) AS c1,
                CAST(count(*) OVER (PARTITION BY w1) AS BIGINT)
                  AS n1p_w1,
                cont.n1p_dot, tot.n1p_all
              FROM cnt JOIN cont USING (w2) CROSS JOIN tot)
            SELECT w1, w2, n, n1p_w1, round($knSql, 6) AS p_kn
            FROM scored
            QUALIFY row_number()
              OVER (PARTITION BY w1 ORDER BY $knSql DESC, w2) = 1
            ORDER BY w1 NULLS FIRST"""))

  // ---- q_compact_plan ---------------------------------------------------

  /** Compaction planning (q_compact_plan): pack the corpus's per-
    * (source, lang) "files" into target-sized compaction groups — the
    * small-file consolidation pass every 100 TB lake runs before
    * training reads (a hundred thousand 2 MB parquet files is a
    * scheduler stall, not a dataset). Files order by (size desc, key)
    * and split on the running cumulative at the 65536-char target —
    * the greedy size-ordered cut production OPTIMIZE jobs use; a file
    * larger than the target gets its own group. Exact integer sizes,
    * integer group assignment ((cum − size) div target), micro-exact
    * fill ratios. The one window runs over the FILE list (sources ×
    * langs — catalog-bounded, never rows; the q_stats_kruskal
    * bounded-window discipline). */
  val qCompactPlan = Q(
    "q_compact_plan",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val files = docs(s, d)
        .groupBy(col("source"), col("lang"))
        .agg(sum(col("n_chars")).as("bytes"))
      val w = Window
        .orderBy(col("bytes").desc, col("source"), col("lang"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      files
        .withColumn("cum", sum(col("bytes")).over(w))
        .withColumn("bin", expr("(cum - bytes) div 65536"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_files"),
          sum(col("bytes")).as("total_chars"),
          min(concat_ws(":", col("source"), col("lang")))
            .as("first_file"),
          max(concat_ws(":", col("source"), col("lang")))
            .as("last_file"))
        .withColumn("fill_micro",
          expr("(1000000 * total_chars) div 65536"))
        .orderBy(col("bin"))
    },
    Some("""WITH files AS (
              SELECT source, lang, CAST(sum(n_chars) AS BIGINT) AS bytes
              FROM documents GROUP BY source, lang),
            binned AS (
              SELECT source, lang, bytes,
                CAST(sum(bytes) OVER (
                  ORDER BY bytes DESC, source, lang
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum
              FROM files),
            grp AS (
              SELECT source, lang, bytes, (cum - bytes) // 65536 AS bin
              FROM binned)
            SELECT bin, CAST(count(*) AS BIGINT) AS n_files,
              CAST(sum(bytes) AS BIGINT) AS total_chars,
              min(source || ':' || lang) AS first_file,
              max(source || ':' || lang) AS last_file,
              (1000000 * CAST(sum(bytes) AS BIGINT)) // 65536
                AS fill_micro
            FROM grp
            GROUP BY bin
            ORDER BY bin NULLS FIRST"""))

  // ---- q_mix_budget -----------------------------------------------------

  /** Greedy token-budget allocation (q_mix_budget): given a training
    * budget of HALF the corpus tokens, fill it source-by-source in
    * quality order (fraction of English docs as the per-source score,
    * ties by source name) — the "which sources make the cut, and
    * which one straddles the boundary" plan a data-mixture review
    * starts from. Everything is exact integers: token counts are
    * BIGINT sums, the score is a micro-quantized ratio, the budget is
    * an integer division of the total, and the allocation is
    * least(tokens, max(0, B − cum_before)) under ONE ordered window
    * over the source grid (20 rows — never corpus-sized). */
  /** Commutative per-source sufficient stats for the budget planner —
    * shared by the batch query and the streaming twin (mergeable in
    * any micro-batch order). */
  private[graft] def budgetStatsAggs(df: DataFrame): DataFrame =
    df.groupBy(col("source"))
      .agg(sum(size(split(col("text"), " ")).cast("long")).as("tokens"),
        count(lit(1)).as("n_docs"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"))

  /** The allocation finisher over settled per-source stats. */
  private[graft] def budgetFromStats(src0: DataFrame): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val src = src0.withColumn("score_micro",
        expr("(1000000L * n_en) div n_docs"))
      val tot = src.agg(sum(col("tokens")).as("tt"))
      val w = Window.orderBy(col("score_micro").desc, col("source"))
      src.crossJoin(broadcast(tot))
        .withColumn("budget", expr("tt div 2"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .withColumn("cum_before",
          coalesce(sum(col("tokens")).over(w.rowsBetween(
            Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("alloc", least(col("tokens"),
          greatest(lit(0L), col("budget") - col("cum_before"))))
        .select(col("source"), col("rank"), col("tokens"),
          col("score_micro"), col("alloc").as("alloc_tokens"),
          (col("alloc") < col("tokens")).as("truncated"))
        .orderBy(col("rank"))
  }

  private[graft] val budgetOracleSql: String = """WITH src AS (
              SELECT source,
                CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                  AS tokens,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_en
              FROM documents GROUP BY source),
            scored AS (
              SELECT source, tokens,
                (1000000 * n_en) // n_docs AS score_micro
              FROM src),
            tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS tt
                    FROM scored),
            ranked AS (
              SELECT source, tokens, score_micro, tt // 2 AS budget,
                CAST(row_number() OVER w AS BIGINT) AS rank,
                CAST(coalesce(sum(tokens) OVER (ORDER BY
                    score_micro DESC, source
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS BIGINT) AS cum_before
              FROM scored, tot
              WINDOW w AS (ORDER BY score_micro DESC, source))
            SELECT source, rank, tokens, score_micro,
              least(tokens, greatest(0, budget - cum_before))
                AS alloc_tokens,
              least(tokens, greatest(0, budget - cum_before)) < tokens
                AS truncated
            FROM ranked
            ORDER BY rank NULLS FIRST"""

  val qMixBudget = Q(
    "q_mix_budget",
    (s, d) => budgetFromStats(budgetStatsAggs(docs(s, d))),
    Some(budgetOracleSql))

  // ---- q_text_hapax -----------------------------------------------------

  /** Hapax / type-token census (q_text_hapax): per source the
    * vocabulary size, the hapax-legomenon count (types seen exactly
    * once), and the two lexical-richness ratios a corpus linguist
    * reads first — high hapax rate flags noisy or OCR-damaged text,
    * low TTR flags boilerplate. One vocabulary-sized aggregate after
    * the token explode; ratios are exact integer micro-divisions. */
  val qTextHapax = Q(
    "q_text_hapax",
    (s, d) => {
      docs(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .groupBy(col("source"), col("w"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_types"),
          sum(col("cnt")).as("n_tokens"),
          sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("n_hapax"))
        .select(col("source"), col("n_types"),
          col("n_tokens").cast("long").as("n_tokens"), col("n_hapax"),
          expr("(1000000L * n_hapax) div n_types")
            .as("hapax_rate_micro"),
          expr("(1000000L * n_types) div CAST(n_tokens AS BIGINT)")
            .as("ttr_micro"))
        .orderBy(col("source"))
    },
    Some("""WITH tf AS (
              SELECT source, w, CAST(count(*) AS BIGINT) AS cnt
              FROM (SELECT source,
                      unnest(string_split(text, ' ')) AS w
                    FROM documents) x
              GROUP BY source, w),
            st AS (
              SELECT source, CAST(count(*) AS BIGINT) AS n_types,
                CAST(sum(cnt) AS BIGINT) AS n_tokens,
                CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_hapax
              FROM tf GROUP BY source)
            SELECT source, n_types, n_tokens, n_hapax,
              (1000000 * n_hapax) // n_types AS hapax_rate_micro,
              (1000000 * n_types) // n_tokens AS ttr_micro
            FROM st
            ORDER BY source NULLS FIRST"""))

  // ---- q_text_simpson ---------------------------------------------------

  /** Simpson lexical concentration (q_text_simpson): per source, the
    * probability two random tokens are the SAME type —
    * λ = Σf(f−1)/(N(N−1)) — and its inverse, the "effective
    * vocabulary", the diversity number that (unlike Shannon entropy,
    * q_text_entropy) weights repeated boilerplate quadratically and so
    * flags template-heavy sources first. The vocab rollup is the only
    * corpus-scaling stage (map-side combined); λ assembles from exact
    * BIGINT/DECIMAL sums, one double division per source. */
  val qTextSimpson = Q(
    "q_text_simpson",
    (s, d) => {
      docs(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .groupBy(col("source"), col("w"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_types"),
          sum(col("cnt")).as("nt"),
          sum(expr("CAST(cnt AS DECIMAL(38,0)) * (cnt - 1)"))
            .as("ff"))
        .select(col("source"), col("n_types"),
          col("nt").cast("long").as("n_tokens"),
          round(expr(
            """CASE WHEN nt > 1 THEN
                 CAST(ff AS DOUBLE)
                 / (CAST(nt AS DOUBLE) * (nt - 1))
               ELSE CAST(NULL AS DOUBLE) END"""), 6).as("simpson"),
          round(expr(
            """CASE WHEN ff > 0 THEN
                 (CAST(nt AS DOUBLE) * (nt - 1)) / CAST(ff AS DOUBLE)
               ELSE CAST(NULL AS DOUBLE) END"""), 6).as("eff_vocab"))
        .orderBy(col("source"))
    },
    Some("""WITH tf AS (
              SELECT source, w, CAST(count(*) AS BIGINT) AS cnt
              FROM (SELECT source, unnest(string_split(text, ' ')) AS w
                    FROM documents)
              GROUP BY source, w),
            st AS (
              SELECT source, CAST(count(*) AS BIGINT) AS n_types,
                CAST(sum(cnt) AS BIGINT) AS nt,
                CAST(sum(CAST(cnt AS HUGEINT) * (cnt - 1)) AS BIGINT)
                  AS ff
              FROM tf GROUP BY source)
            SELECT source, n_types, nt AS n_tokens,
              round(CASE WHEN nt > 1 THEN
                  CAST(ff AS DOUBLE) / (CAST(nt AS DOUBLE) * (nt - 1))
                ELSE CAST(NULL AS DOUBLE) END, 6) AS simpson,
              round(CASE WHEN ff > 0 THEN
                  (CAST(nt AS DOUBLE) * (nt - 1)) / CAST(ff AS DOUBLE)
                ELSE CAST(NULL AS DOUBLE) END, 6) AS eff_vocab
            FROM st
            ORDER BY source NULLS FIRST"""))

  // ---- q_mix_hhi --------------------------------------------------------

  /** Mixture concentration audit (q_mix_hhi): the Herfindahl index of
    * the source mixture by DOC share and by TOKEN share, plus the
    * effective number of sources (1/HHI) — the one-row gauge a
    * mixture planner checks before and after reweighting
    * (q_mix_temperature flattens exactly this number). ONE per-source
    * aggregate; shares square as exact integer products over the
    * squared totals, one double division each. */
  /** The commutative per-source (docs, tokens) grid — the shared
    * ingest aggregate of the batch op and its streaming twin. */
  private[graft] def mixSourceGrid(ds: DataFrame): DataFrame =
    ds.groupBy(col("source"))
      .agg(count(lit(1)).as("nd"),
        sum(size(split(col("text"), " ")).cast("long")).as("nt"))

  /** Finisher: source grid → the one-row HHI gauge. */
  private[graft] def hhiFromGrid(grid: DataFrame): DataFrame =
      grid
        .agg(count(lit(1)).as("n_sources"),
          sum(col("nd")).as("td"), sum(col("nt")).as("tt"),
          sum(expr("CAST(nd AS DECIMAL(38,0)) * nd")).as("sd2"),
          sum(expr("CAST(nt AS DECIMAL(38,0)) * nt")).as("st2"))
        .select(col("n_sources"),
          round(expr(
            """CAST(sd2 AS DOUBLE)
               / (CAST(td AS DOUBLE) * CAST(td AS DOUBLE))"""), 6)
            .as("hhi_docs"),
          round(expr(
            """(CAST(td AS DOUBLE) * CAST(td AS DOUBLE))
               / CAST(sd2 AS DOUBLE)"""), 6).as("eff_docs"),
          round(expr(
            """CAST(st2 AS DOUBLE)
               / (CAST(tt AS DOUBLE) * CAST(tt AS DOUBLE))"""), 6)
            .as("hhi_tokens"),
          round(expr(
            """(CAST(tt AS DOUBLE) * CAST(tt AS DOUBLE))
               / CAST(st2 AS DOUBLE)"""), 6).as("eff_tokens"))

  val qMixHhi = Q(
    "q_mix_hhi",
    (s, d) => hhiFromGrid(mixSourceGrid(docs(s, d))),
    Some(hhiOracleSql))

  // def, not val: referenced by the Q above it (object init order)
  private[graft] def hhiOracleSql: String = """WITH grid AS (
              SELECT source, CAST(count(*) AS BIGINT) AS nd,
                CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS nt
              FROM documents GROUP BY source),
            st AS (
              SELECT CAST(count(*) AS BIGINT) AS n_sources,
                CAST(sum(nd) AS BIGINT) AS td,
                CAST(sum(nt) AS BIGINT) AS tt,
                sum(CAST(nd AS HUGEINT) * nd) AS sd2,
                sum(CAST(nt AS HUGEINT) * nt) AS st2
              FROM grid)
            SELECT n_sources,
              round(CAST(sd2 AS DOUBLE)
                / (CAST(td AS DOUBLE) * CAST(td AS DOUBLE)), 6)
                AS hhi_docs,
              round((CAST(td AS DOUBLE) * CAST(td AS DOUBLE))
                / CAST(sd2 AS DOUBLE), 6) AS eff_docs,
              round(CAST(st2 AS DOUBLE)
                / (CAST(tt AS DOUBLE) * CAST(tt AS DOUBLE)), 6)
                AS hhi_tokens,
              round((CAST(tt AS DOUBLE) * CAST(tt AS DOUBLE))
                / CAST(st2 AS DOUBLE), 6) AS eff_tokens
            FROM st"""

  val all: Seq[Q] = Seq(qDomainCap, qTextGopher, qTextBigramLm,
    qMixTemperature, qMixEpochs, qTextEntropy, qMixDsir, qShardManifest,
    qMixDsirSample, qTextPerplexity, qMixAnneal, qMixDsirEss,
    qTextHeldoutPpl, qTextContrast, qMixCurriculum, qCompactPlan,
    qTextBigramKn, qMixBudget, qTextHapax, qTextSimpson, qMixHhi)
}
