package graft.ops

import graft.{Fixpoints, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-4 training-data-pipeline operators: lexical retrieval (BM25),
  * crawl-style URL canonicalization dedup, content-defined chunking,
  * and Lloyd k-means over the embedding table (the clustering primitive
  * behind semantic dedup / diversity sampling).
  *
  * Scale discipline (100 TB): every per-document step is scan-local
  * array/regexp arithmetic (codegen'd, zero shuffle); the only shuffles
  * are key-hash aggregates, and everything broadcast-sized (corpus
  * stats, k×64 centroids) rides `broadcast()` — never a collect, never
  * a driver loop. k-means' per-iteration work is one broadcast
  * nested-loop over k=8 centroids plus one two-phase (cid, dim)
  * aggregate whose output is k×64 rows regardless of corpus size. */
object Pipeline {

  // ---- q_text_bm25 ------------------------------------------------------

  /** BM25 (k1=1.2, b=0.75) for a fixed 3-term query over `documents`,
    * top-20 by score. Corpus stats (N, avgdl, per-term df) are ONE tiny
    * aggregate broadcast back over the scan; per-doc tf comes from
    * scan-local array filters, so the whole ranking is two scans + a
    * top-k — no explode, no per-term shuffle. Ordering is on the
    * ROUNDED score (both engines) with doc_id tie-break, so the top-20
    * cut is engine-independent. */
  val qTextBm25 = Q(
    "q_text_bm25",
    (s, d) => {
      val terms = Seq("spark", "hash", "window")
      val docs = Tables.t(s, d, "documents")
        .withColumn("toks", split(col("text"), " "))
        .withColumn("dl", size(col("toks")).cast("double"))
      val dfAggs = terms.zipWithIndex.map { case (t, i) =>
        sum(expr(s"CASE WHEN array_contains(toks, '$t') THEN 1 ELSE 0 END"))
          .cast("double").as(s"df$i")
      }
      val stats = docs.agg(
        count(lit(1)).cast("double").as("n_docs"),
        (avg(col("dl")).as("avgdl") +: dfAggs): _*)
      val scored = docs.crossJoin(broadcast(stats))
      val score = terms.zipWithIndex.map { case (t, i) =>
        val tf = s"CAST(size(filter(toks, x -> x = '$t')) AS DOUBLE)"
        expr(s"""ln(1 + (n_docs - df$i + 0.5) / (df$i + 0.5)) *
                 ($tf * 2.2) / ($tf + 1.2 * (0.25 + 0.75 * dl / avgdl))""")
      }.reduce(_ + _)
      scored
        .withColumn("bm25", round(score, 6))
        .filter(col("bm25") > 0.0)
        .select(col("doc_id"), col("bm25"))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(20)
    },
    Some {
      val terms = Seq("spark", "hash", "window")
      val dfSel = terms.zipWithIndex.map { case (t, i) =>
        s"CAST(sum(CASE WHEN list_contains(toks, '$t') THEN 1 ELSE 0 END) AS DOUBLE) AS df$i"
      }.mkString(", ")
      val score = terms.zipWithIndex.map { case (t, i) =>
        s"""ln(1 + (n_docs - df$i + 0.5) / (df$i + 0.5)) *
            (CAST(len(list_filter(toks, x -> x = '$t')) AS DOUBLE) * 2.2) /
            (CAST(len(list_filter(toks, x -> x = '$t')) AS DOUBLE) +
             1.2 * (0.25 + 0.75 * dl / avgdl))"""
      }.mkString(" + ")
      s"""WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks,
              CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
            FROM documents),
          stats AS (
            SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl,
              $dfSel
            FROM t)
          SELECT doc_id, round($score, 6) AS bm25
          FROM t, stats
          WHERE round($score, 6) > 0.0
          ORDER BY bm25 DESC, doc_id NULLS FIRST
          LIMIT 20"""
    })

  // ---- q_dedup_url ------------------------------------------------------

  /** Crawl-dedup by canonical URL. Each doc plants a deterministic messy
    * URL (mixed-case scheme/host, www, tracking params, trailing slash,
    * fragment — the fixture half, like the PII/WAV/BMP fixtures); the
    * normalizer is the real operator: lowercase scheme+host, strip www,
    * drop the fragment, remove utm_* params (cleaning dangling ?/&),
    * drop the trailing slash. Docs agreeing on the canonical URL form a
    * dupe group; keeper = min doc_id. All per-row regexp work
    * (codegen'd, RE2-safe — no lookaheads), then one hash aggregate. */
  /** Canonical-URL normalizer as a single Column program (reused by the
    * query and property-tested directly on generated messy URLs):
    * lowercase scheme+host, strip www., drop the fragment, remove
    * utm_* tracking params (cleaning dangling ?/&), drop the trailing
    * slash. RE2-safe — no lookaheads — so Spark and DuckDB run the
    * same patterns. */
  private[graft] def normalizeUrl(url: Column): Column = {
    val headRaw = regexp_extract(url, "^[A-Za-z]+://[^/?#]*", 0)
    val head = regexp_replace(lower(headRaw),
      "^(https?://)www\\.", "$1")
    val tail0 = url.substr(length(headRaw) + lit(1), length(url))
    val tail = regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(tail0, "#.*$", ""),
            "utm_[a-z]+=[^&#]*&?", ""),
          "[?&]+$", ""),
        "/\\?", "?"),
      "/+$", "")
    concat(head, tail)
  }

  val qDedupUrl = Q(
    "q_dedup_url",
    (s, d) =>
      Tables.t(s, d, "documents")
        .withColumn("url", expr(
          """concat('HTTPS://WWW.Site', CAST(doc_id % 7 AS STRING),
               '.COM/Article/', CAST(doc_id % 50 AS STRING),
               CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END,
               CASE WHEN doc_id % 3 = 0
                    THEN concat('?utm_source=feed&utm_medium=rss&ref=',
                                CAST(doc_id % 5 AS STRING))
                    WHEN doc_id % 3 = 1
                    THEN concat('?ref=', CAST(doc_id % 5 AS STRING),
                                '&utm_campaign=x')
                    ELSE concat('?ref=', CAST(doc_id % 5 AS STRING)) END,
               CASE WHEN doc_id % 4 = 0 THEN '#section-2' ELSE '' END)"""))
        .withColumn("norm_url", normalizeUrl(col("url")))
        .groupBy(col("norm_url"))
        .agg(count(lit(1)).as("n_dupes"), min(col("doc_id")).as("keep_id"))
        .orderBy(col("norm_url")),
    Some("""WITH u AS (
              SELECT doc_id,
                concat('HTTPS://WWW.Site', CAST(doc_id % 7 AS VARCHAR),
                  '.COM/Article/', CAST(doc_id % 50 AS VARCHAR),
                  CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END,
                  CASE WHEN doc_id % 3 = 0
                       THEN concat('?utm_source=feed&utm_medium=rss&ref=',
                                   CAST(doc_id % 5 AS VARCHAR))
                       WHEN doc_id % 3 = 1
                       THEN concat('?ref=', CAST(doc_id % 5 AS VARCHAR),
                                   '&utm_campaign=x')
                       ELSE concat('?ref=', CAST(doc_id % 5 AS VARCHAR)) END,
                  CASE WHEN doc_id % 4 = 0 THEN '#section-2' ELSE '' END)
                  AS url
              FROM documents),
            n AS (
              SELECT doc_id,
                concat(
                  regexp_replace(
                    lower(regexp_extract(url, '^[A-Za-z]+://[^/?#]*', 0)),
                    '^(https?://)www\.', '\1'),
                  regexp_replace(
                    replace(
                      regexp_replace(
                        regexp_replace(
                          regexp_replace(
                            substring(url,
                              length(regexp_extract(url,
                                '^[A-Za-z]+://[^/?#]*', 0)) + 1),
                            '#.*$', ''),
                          'utm_[a-z]+=[^&#]*&?', '', 'g'),
                        '[?&]+$', ''),
                      '/?', '?'),
                    '/+$', '')) AS norm_url
              FROM u)
            SELECT norm_url, count(*) AS n_dupes, min(doc_id) AS keep_id
            FROM n GROUP BY norm_url
            ORDER BY norm_url NULLS FIRST"""))

  // ---- q_doc_cdc --------------------------------------------------------

  /** Content-defined chunking (gear-style, word granularity): a chunk
    * boundary falls AFTER word i whenever md5(word) mod 7 == 0 — so
    * chunk boundaries depend on content, not position, and an insertion
    * near the head of a document only perturbs its own chunk (the
    * property that makes CDC the dedup-friendly chunker). The whole
    * segmentation is scan-local array algebra — boundary positions via
    * `filter(sequence(...))`, chunks via `transform`+`slice` — so
    * chunking shuffles NOTHING; only the final ordered dump sorts. The
    * md5 of each chunk's text lets the oracle verify exact content. */
  val qDocCdc = Q(
    "q_doc_cdc",
    (s, d) =>
      Tables.t(s, d, "documents")
        .withColumn("toks", split(col("text"), " "))
        .withColumn("n", size(col("toks")))
        .withColumn("bpos", expr(
          """concat(array(0),
               filter(sequence(1, greatest(n - 1, 1)),
                 i -> i <= n - 1 AND
                   CAST(conv(substring(md5(CAST(element_at(toks, i)
                     AS BINARY)), 1, 4), 16, 10) AS BIGINT) % 7 = 0),
               array(n))"""))
        .withColumn("chunk", explode(expr(
          """transform(sequence(1, size(bpos) - 1),
               j -> struct(
                 CAST(j - 1 AS BIGINT) AS chunk_idx,
                 slice(toks, element_at(bpos, j) + 1,
                   element_at(bpos, j + 1) - element_at(bpos, j))
                   AS ctoks))""")))
        .select(
          col("doc_id"),
          col("chunk.chunk_idx").as("chunk_idx"),
          size(col("chunk.ctoks")).cast("long").as("n_words"),
          md5(expr("CAST(concat_ws(' ', chunk.ctoks) AS BINARY)"))
            .as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_idx")),
    Some("""WITH t AS (
              SELECT doc_id, string_split(text, ' ') AS toks,
                len(string_split(text, ' ')) AS n
              FROM documents),
            w AS (
              SELECT doc_id, n, toks,
                unnest(generate_series(1, n)) AS pos
              FROM t),
            f AS (
              SELECT doc_id, pos, toks[pos] AS word,
                CASE WHEN pos < n AND
                  CAST('0x' || substr(md5(toks[pos]), 1, 4) AS BIGINT)
                    % 7 = 0
                THEN 1 ELSE 0 END AS cut
              FROM w),
            c AS (
              SELECT doc_id, pos, word,
                CAST(sum(cut) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - cut AS BIGINT) AS chunk_idx
              FROM f)
            SELECT doc_id, chunk_idx,
              CAST(count(*) AS BIGINT) AS n_words,
              md5(string_agg(word, ' ' ORDER BY pos)) AS chunk_md5
            FROM c GROUP BY doc_id, chunk_idx
            ORDER BY doc_id NULLS FIRST, chunk_idx NULLS FIRST"""))

  // ---- q_sim_kmeans -----------------------------------------------------

  private val K = 8
  private val ITERS = 2
  private val DIM = 64

  /** Codegen'd dot product over two DOUBLE arrays (graft.functions
    * .DoubleDot): products in index order, left-to-right accumulation —
    * bit-identical to DuckDB's `list_dot_product` (the same parity
    * contract FloatDot proves for FLOAT inputs), but compiled to a
    * tight primitive loop instead of an interpreted lambda fold. */
  private def ddot(a: String, b: String): Column =
    expr(s"double_dot($a, $b)")

  /** Lloyd k-means over `embeddings` (k=8, 2 recompute iterations,
    * deterministic init = vectors with vec_id < k). Per iteration:
    * assignment is a k-row BROADCAST nested-loop + a two-phase
    * min(struct(d2, cid)) aggregate (ties broken toward the lowest
    * cid — same rule as the oracle's row_number); recompute is a
    * posexplode + (cid, dim) two-phase average whose output is k×64
    * rows whatever the corpus size, with each coordinate ROUNDED to 6
    * decimals so both engines carry bit-identical centroids into the
    * next iteration (double summation order differs at ~1e-15; the
    * round collapses it). Empty clusters keep their previous centroid
    * (LEFT JOIN + coalesce). Output: per-cluster size and mean
    * distance. The oracle unrolls the same two iterations as generated
    * CTEs. */
  /** The matching DuckDB CTE chain (e, c0, unrolled iterations, final
    * assignment) shared by the q_sim_kmeans oracle and the silhouette
    * oracle — ONE definition of the Lloyd program on the oracle side
    * too. Final tables: `a$ITERS` (assignments), `c$ITERS` (cents). */
  private[graft] val kmeansFinalAssignTbl: String = s"a$ITERS"
  private[graft] val kmeansFinalCentsTbl: String = s"c$ITERS"
  private[graft] val kmeansCteSql: String = {
    val d2 = (c: String) =>
      s"""list_dot_product(e.v, e.v)
          - 2 * list_dot_product(e.v, $c.cent)
          + list_dot_product($c.cent, $c.cent)"""
    def assignCte(i: Int): String =
      s"""a$i AS (
            SELECT vec_id, cid, d2, v FROM (
              SELECT vec_id, cid, d2, v,
                row_number() OVER (PARTITION BY vec_id
                  ORDER BY d2, cid) AS rn
              FROM (SELECT e.vec_id, c.cid, e.v, ${d2("c")} AS d2
                    FROM e CROSS JOIN c$i c))
            WHERE rn = 1)"""
    def recomputeCte(i: Int): String =
      s"""g$i AS (
            SELECT cid, i, round(avg(v[i]), 6) AS x
            FROM a$i CROSS JOIN
              (SELECT unnest(generate_series(1, $DIM)) AS i) dims
            GROUP BY cid, i),
          n$i AS (
            SELECT cid, list(x ORDER BY i) AS cent
            FROM g$i GROUP BY cid),
          c${i + 1} AS (
            SELECT c.cid, COALESCE(n.cent, c.cent) AS cent
            FROM c$i c LEFT JOIN n$i n ON c.cid = n.cid)"""
    val iterCtes = (0 until ITERS)
      .map(i => assignCte(i) + ",\n" + recomputeCte(i))
      .mkString(",\n")
    s"""e AS (
          SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        c0 AS (
          SELECT vec_id AS cid, v AS cent FROM e WHERE vec_id < $K),
        $iterCtes,
        ${assignCte(ITERS)}"""
  }

  /** The corpus side of the Lloyd loop: (vec_id, v, aa) with the
    * self-dot precomputed — shared by q_sim_kmeans and the silhouette
    * audit so both walk the identical program. */
  private[graft] def kmeansPoints(s: SparkSession, d: String): DataFrame =
    Tables.t(s, d, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("aa", ddot("v", "v"))

  /** One broadcast nested-loop assignment against a k-row centroid
    * table (ties toward the lowest cid, the oracle's row_number rule). */
  private[graft] def kmeansAssign(e: DataFrame, c: DataFrame): DataFrame =
    e.crossJoin(broadcast(c))
      .withColumn("d2",
        col("aa") - lit(2.0) * ddot("v", "cent") + col("cc"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cid"))).as("m"),
        first(col("v")).as("v"))
      .select(col("vec_id"), col("m.d2").as("d2"),
        col("m.cid").as("cid"), col("v"))

  /** The centroids after the ITERS Lloyd rounds (6dp-rounded per
    * coordinate, empty clusters keep their previous centroid).
    * Memoized as a shared fixpoint (K rows): q_sim_kmeans and the
    * silhouette audit both consume the identical trained model, and
    * un-memoized each consumer re-ran the whole Lloyd loop — ITERS
    * corpus-wide assign passes plus an AQE stage cascade per round
    * (16-17 jobs, ~1.2 s per consumer at sf0.1). Training charges the
    * bench warm phase like every other shared model build; each
    * query's number is its own corpus pass over the trained table. */
  private[graft] def kmeansFinalCents(
      s: SparkSession, d: String): DataFrame =
    Fixpoints.cacheOnce(s, d, "kmcents")(kmeansFinalCentsBuild(s, d))

  private def kmeansFinalCentsBuild(
      s: SparkSession, d: String): DataFrame = {
    val e = kmeansPoints(s, d)
    var cents: DataFrame = e.filter(col("vec_id") < K)
      .select(col("vec_id").as("cid"), col("v").as("cent"))
      .withColumn("cc", ddot("cent", "cent"))
    for (_ <- 0 until ITERS) {
      val a = kmeansAssign(e, cents)
      val newCoords = a
        .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos"))
        .agg(round(avg(col("x")), 6).as("xr"))
        .groupBy(col("cid"))
        .agg(expr(
          "transform(array_sort(collect_list(struct(pos, xr))), s -> s.xr)")
          .as("newc"))
      cents = cents.select(col("cid"), col("cent").as("oldc"))
        .join(newCoords, Seq("cid"), "left")
        .select(col("cid"),
          coalesce(col("newc"), col("oldc")).as("cent"))
        .withColumn("cc", ddot("cent", "cent"))
    }
    cents
  }

  val qSimKmeans = Q(
    "q_sim_kmeans",
    (s, d) => {
      kmeansAssign(kmeansPoints(s, d), kmeansFinalCents(s, d))
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n_members"),
          // d2 = aa − 2ab + cc can cancel to −1ulp for a vector sitting
          // on a centroid; DuckDB hard-errors on sqrt(negative) while
          // Spark yields NaN — clamp on BOTH sides
          round(avg(sqrt(greatest(col("d2"), lit(0.0)))), 6)
            .as("avg_dist"))
        .select(col("cid").as("cluster_id"), col("n_members"),
          col("avg_dist"))
        .orderBy(col("cluster_id"))
    },
    Some(s"""WITH $kmeansCteSql
          SELECT cid AS cluster_id, count(*) AS n_members,
            round(avg(sqrt(greatest(d2, 0))), 6) AS avg_dist
          FROM $kmeansFinalAssignTbl GROUP BY cid
          ORDER BY cluster_id NULLS FIRST"""))

  // ---- q_sim_silhouette -------------------------------------------------

  /** Simplified silhouette audit (q_sim_silhouette): per cluster the
    * mean of s_i = (b_i − a_i) / max(a_i, b_i) with a = distance to
    * the OWN centroid and b = the nearest OTHER centroid — the
    * clustering-quality acceptance number read after q_sim_kmeans
    * (s → 1 tight & separated, s ≤ 0 misassigned). Walks the
    * IDENTICAL shared Lloyd program (kmeansPoints / kmeansFinalCents /
    * kmeansAssign on the Spark side, the same unrolled CTE chain in
    * the oracle), then one more k-row broadcast nested loop for b.
    * Each s_i is a per-row double over 6dp-rounded centroids
    * (bit-identical across engines) micro-quantized BEFORE the
    * per-cluster mean; the 0/0 degenerate point pins to 0 on both
    * sides. Corpus cost: two broadcast passes, no pair join. */
  val qSimSilhouette = Q(
    "q_sim_silhouette",
    (s, d) => {
      val e = kmeansPoints(s, d)
      val cents = kmeansFinalCents(s, d)
      val own = kmeansAssign(e, cents)
      own.crossJoin(broadcast(cents.select(col("cid").as("ocid"),
          col("cent"), col("cc"))))
        .filter(col("ocid") =!= col("cid"))
        .withColumn("d2o",
          ddot("v", "v") - lit(2.0) * ddot("v", "cent") + col("cc"))
        .groupBy(col("vec_id"))
        .agg(first(col("cid")).as("cid"), first(col("d2")).as("d2"),
          min(col("d2o")).as("b2"))
        .withColumn("a_", expr("sqrt(greatest(d2, 0.0D))"))
        .withColumn("b_", expr("sqrt(greatest(b2, 0.0D))"))
        .withColumn("sm", expr(
          """CASE WHEN greatest(a_, b_) = 0.0D THEN 0L
             ELSE CAST(floor((b_ - a_) / greatest(a_, b_) * 1e6 + 0.5D)
               AS BIGINT) END"""))
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n_members"), sum(col("sm")).as("ssm"))
        .select(col("cid").as("cluster_id"), col("n_members"),
          round(col("ssm").cast("double") / col("n_members") / 1e6, 6)
            .as("mean_silhouette"))
        .orderBy(col("cluster_id"))
    },
    Some(s"""WITH $kmeansCteSql,
          own AS (
            SELECT vec_id, cid, d2, v FROM $kmeansFinalAssignTbl),
          b2t AS (
            SELECT o.vec_id, any_value(o.cid) AS cid,
              any_value(o.d2) AS d2,
              min(list_dot_product(o.v, o.v)
                - 2 * list_dot_product(o.v, c.cent)
                + list_dot_product(c.cent, c.cent)) AS b2
            FROM own o JOIN $kmeansFinalCentsTbl c ON c.cid <> o.cid
            GROUP BY o.vec_id),
          si AS (
            SELECT cid,
              CASE WHEN greatest(sqrt(greatest(d2, 0)),
                     sqrt(greatest(b2, 0))) = 0 THEN 0
                ELSE CAST(floor(
                  (sqrt(greatest(b2, 0)) - sqrt(greatest(d2, 0)))
                  / greatest(sqrt(greatest(d2, 0)),
                             sqrt(greatest(b2, 0)))
                  * 1e6 + 0.5e0) AS BIGINT) END AS sm
            FROM b2t)
          SELECT cid AS cluster_id, CAST(count(*) AS BIGINT)
              AS n_members,
            round(CAST(sum(sm) AS DOUBLE) / count(*) / 1e6, 6)
              AS mean_silhouette
          FROM si GROUP BY cid
          ORDER BY cluster_id NULLS FIRST"""))

  // ---- q_text_bpe_train -------------------------------------------------

  /** Two real BPE merge rounds (q_text_bpe_train): the training loop
    * q_text_bpe_pairs only ranks — round 1 picks the top adjacent
    * symbol pair (count desc, pair lexicographic), APPLIES the merge
    * to the word-type table left-to-right non-overlapping (a run of k
    * identical symbols merges ⌊k/2⌋ times — the in-run parity rule),
    * and round 2 re-counts and merges again on the updated sequences,
    * exactly like Sennrich-style learn-BPE (count all adjacent
    * positions, merge non-overlapping). One row per round: the chosen
    * pair, its weighted count, merges applied, and the weighted symbol
    * total before/after — the compression trajectory.
    *
    * Scale shape: everything runs on the WORD-TYPE table (vocabulary-
    * bounded — the whole point of BPE training; the corpus is touched
    * once for the frequency count). Merging is pure positional window
    * algebra — lead/lag and a gaps-and-islands parity index per word,
    * partitions bounded by word length — no folds, no recursion, no
    * driver loop; round 2 reuses round 1's checkpointed output. All
    * counts are exact integers, the argmax tie-breaks on the pair
    * strings, so both engines pick identical merges. */
  val qTextBpeTrain = Q(
    "q_text_bpe_train",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val wf = Tables.t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 1)
        .groupBy(col("w")).agg(count(lit(1)).as("freq"))
        .localCheckpoint(false)
      val c0 = wf
        .withColumn("pos",
          explode(expr("sequence(1, CAST(length(w) AS BIGINT))")))
        .withColumn("sym", expr("substring(w, CAST(pos AS INT), 1)"))
      // one merge round: argmax pair, parity-pruned merge positions,
      // rebuilt sequences, and the (top, next-frame, stats) triple
      def bpeRound(cur: DataFrame) = {
        val wOrd = Window.partitionBy(col("w")).orderBy(col("pos"))
        // nx is NOT checkpointed: materializing the full per-char
        // windowed table costs more than letting each consumer
        // recompute its column-pruned slice (measured 2.7 → 4.0 s)
        val nx = cur.withColumn("nxt", lead(col("sym"), 1).over(wOrd))
        val top = nx.filter(col("nxt").isNotNull)
          .groupBy(col("sym").as("a"), col("nxt").as("b"))
          .agg(sum(col("freq")).as("n_pairs"))
          .orderBy(col("n_pairs").desc, col("a"), col("b")).limit(1)
        val mt = nx.crossJoin(broadcast(top))
          .filter(col("sym") === col("a") && col("nxt") === col("b"))
          .withColumn("rn", row_number().over(wOrd))
          .select(col("w").as("mw"), col("pos").as("mpos"),
            (col("pos") - col("rn")).as("grp"))
        val mp = mt.withColumn("i0", row_number().over(
            Window.partitionBy(col("mw"), col("grp"))
              .orderBy(col("mpos"))) - 1)
          .filter(col("i0") % 2 === 0)
          .select(col("mw"), col("mpos"))
          // consumed by the rebuild join and the merge-count stat
          .localCheckpoint(false)
        val fl = nx.join(mp,
            col("w") === col("mw") && col("pos") === col("mpos"), "left")
          .withColumn("is_m", col("mpos").isNotNull)
          .withColumn("prev_m",
            coalesce(lag(col("is_m"), 1).over(wOrd), lit(false)))
        val out = fl.filter(col("is_m") || !col("prev_m"))
          .select(col("w"), col("freq"), col("pos"),
            when(col("is_m"), concat(col("sym"), col("nxt")))
              .otherwise(col("sym")).as("sym"))
          .localCheckpoint(false)
        val stats = cur.agg(sum(col("freq")).as("symbols_before"))
          .crossJoin(broadcast(mp
            .join(wf.select(col("w").as("fw"), col("freq").as("ff")),
              col("mw") === col("fw"))
            .agg(coalesce(sum(col("ff")), lit(0L)).as("n_merges"))))
        (top, out, stats)
      }
      def row(r: Int, top: DataFrame, stats: DataFrame) =
        top.crossJoin(broadcast(stats))
          .select(lit(r.toLong).as("round"), col("a").as("sym_a"),
            col("b").as("sym_b"), col("n_pairs").as("pair_count"),
            col("n_merges"), col("symbols_before"),
            (col("symbols_before") - col("n_merges"))
              .as("symbols_after"))
      val (top1, out1, st1) = bpeRound(c0)
      val (top2, _, st2) = bpeRound(out1)
      row(1, top1, st1).unionAll(row(2, top2, st2))
        .orderBy(col("round"))
    },
    Some {
      def roundSql(in: String, r: String): String =
        s"""nx_$r AS (
              SELECT w, freq, pos, sym,
                lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt
              FROM $in),
            pc_$r AS (
              SELECT sym AS a, nxt AS b,
                CAST(sum(freq) AS BIGINT) AS n_pairs
              FROM nx_$r WHERE nxt IS NOT NULL GROUP BY sym, nxt),
            top_$r AS (
              SELECT a, b, n_pairs FROM pc_$r
              ORDER BY n_pairs DESC, a, b LIMIT 1),
            mt_$r AS (
              SELECT n.w, n.pos,
                row_number() OVER (PARTITION BY n.w ORDER BY n.pos)
                  AS rn
              FROM nx_$r n, top_$r t
              WHERE n.sym = t.a AND n.nxt = t.b),
            mp_$r AS (
              SELECT w, pos FROM (
                SELECT w, pos,
                  row_number() OVER (PARTITION BY w, pos - rn
                    ORDER BY pos) - 1 AS i0
                FROM mt_$r)
              WHERE i0 % 2 = 0),
            fl_$r AS (
              SELECT n.w, n.freq, n.pos, n.sym, n.nxt,
                m.pos IS NOT NULL AS is_m,
                coalesce(lag(m.pos IS NOT NULL) OVER (
                  PARTITION BY n.w ORDER BY n.pos), FALSE) AS prev_m
              FROM nx_$r n
              LEFT JOIN mp_$r m ON n.w = m.w AND n.pos = m.pos),
            out_$r AS (
              SELECT w, freq, pos,
                CASE WHEN is_m THEN sym || nxt ELSE sym END AS sym
              FROM fl_$r WHERE is_m OR NOT prev_m),
            st_$r AS (
              SELECT
                (SELECT CAST(sum(freq) AS BIGINT) FROM $in)
                  AS symbols_before,
                (SELECT CAST(coalesce(sum(f.freq), 0) AS BIGINT)
                 FROM mp_$r m JOIN wf f ON m.w = f.w) AS n_merges)"""
      s"""WITH wf AS (
            SELECT w, CAST(count(*) AS BIGINT) AS freq
            FROM (SELECT unnest(string_split(text, ' ')) AS w
                  FROM documents)
            WHERE len(w) >= 1 GROUP BY w),
          c0 AS (
            SELECT w, freq, CAST(i AS BIGINT) AS pos,
              substr(w, i, 1) AS sym
            FROM wf, LATERAL (
              SELECT unnest(generate_series(1, len(w))) AS i) g),
          ${roundSql("c0", "r1")},
          ${roundSql("out_r1", "r2")}
          SELECT round, sym_a, sym_b, pair_count, n_merges,
            symbols_before, symbols_before - n_merges AS symbols_after
          FROM (
            SELECT CAST(1 AS BIGINT) AS round, t.a AS sym_a,
              t.b AS sym_b, t.n_pairs AS pair_count, s.n_merges,
              s.symbols_before
            FROM top_r1 t, st_r1 s
            UNION ALL
            SELECT CAST(2 AS BIGINT), t.a, t.b, t.n_pairs, s.n_merges,
              s.symbols_before
            FROM top_r2 t, st_r2 s)
          ORDER BY round NULLS FIRST"""
    })

  // ---- q_text_bpe_pairs -------------------------------------------------

  /** BPE merge-candidate statistics: global frequencies of adjacent
    * character pairs across all word occurrences — the table the first
    * BPE merge step ranks (top pair = first merge). The canonical
    * wordcount shape: two scan-local explodes, one two-phase count
    * aggregate keyed by pair (map-side partials bound the shuffle by
    * alphabet², not corpus size), top-30 as TakeOrderedAndProject. */
  val qTextBpePairs = Q(
    "q_text_bpe_pairs",
    (s, d) =>
      Tables.t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .as("pair"))
        .groupBy(col("pair"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(30),
    Some("""WITH w AS (
              SELECT unnest(string_split(text, ' ')) AS w FROM documents),
            p AS (
              SELECT unnest(list_transform(
                generate_series(1, len(w) - 1),
                i -> substr(w, i, 2))) AS pair
              FROM w WHERE len(w) >= 2)
            SELECT pair, count(*) AS n
            FROM p GROUP BY pair
            ORDER BY n DESC, pair NULLS FIRST
            LIMIT 30"""))

  // ---- q_graph_pagerank -------------------------------------------------

  /** PageRank (d=0.85, 3 unrolled iterations) over a deterministic link
    * graph derived from the corpus: node i links to ⌊i/2⌋ (a contraction
    * that concentrates in-degree on low ids, like real webgraph hubs),
    * (31·i + 17) mod N (affine mixing) and (i² + 1) mod N (quadratic —
    * non-uniform in-degree), self-links dropped — the web-graph
    * authority score a crawl-curation pass feeds into quality
    * weighting. The per-iteration
    * shape is THE scale shape for graph algorithms on Spark: ranks ⋈
    * edges on src (shuffle keyed by src), two-phase sum of contributions
    * keyed by dst, left join back to nodes for the teleport term — cost
    * per iteration is O(|E|) shuffled, never materialized quadratica.
    * Each new rank is ROUNDED to 10 decimals so both engines carry
    * bit-identical state across iterations (summation-order noise is
    * ~1e-17); the oracle unrolls the same three iterations. */
  val qGraphPagerank = Q(
    "q_graph_pagerank",
    (s, d) => {
      val docs = Tables.t(s, d, "documents")
      val n = docs.agg(count(lit(1)).as("n_nodes"))
      // checkpointed: the teleport join re-references nodes every
      // iteration (2 documents scans per round un-cut). Eagerly: the
      // rounds' stages read it concurrently, and a lazy block had two
      // tasks race to store it (`Block rdd_N_0 already exists`)
      val nodes = docs.select(col("doc_id")).crossJoin(broadcast(n))
        .localCheckpoint()
      // ONE shared persisted generator (Insights) — an inline edge
      // build re-enters every iteration's lineage (20 logical copies
      // of the documents scan in the 3-round unroll)
      val edgesN = graft.ops.Insights.directedEdgesOutdeg(s, d)
      var ranks = nodes
        .withColumn("pr", lit(1.0) / col("n_nodes"))
        .select(col("doc_id"), col("pr"))
      for (_ <- 0 until 3) {
        val contribs = ranks
          .join(edgesN, col("doc_id") === col("src"))
          .groupBy(col("dst"))
          .agg(sum(col("pr") / col("outdeg")).as("inflow"))
        ranks = nodes
          .join(contribs, col("doc_id") === col("dst"), "left")
          .select(col("doc_id"),
            round(lit(0.15) / col("n_nodes") +
              lit(0.85) * coalesce(col("inflow"), lit(0.0)), 10).as("pr"))
      }
      ranks
        .select(col("doc_id"), round(col("pr"), 8).as("pagerank"))
        .orderBy(col("doc_id"))
    },
    Some {
      def iterCte(i: Int): String =
        s"""r${i + 1} AS (
              SELECT n.doc_id,
                round(0.15 / n.n_nodes + 0.85 * coalesce(c.inflow, 0), 10)
                  AS pr,
                n.n_nodes AS n_nodes
              FROM nodes n LEFT JOIN (
                SELECT e.dst, sum(r.pr / e.outdeg) AS inflow
                FROM r$i r JOIN e ON r.doc_id = e.src
                GROUP BY e.dst) c
              ON n.doc_id = c.dst)"""
      s"""WITH s AS (
            SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM documents),
          nodes AS (SELECT doc_id, n_nodes FROM documents, s),
          edges AS (
            SELECT DISTINCT src, dst FROM (
              SELECT doc_id AS src,
                unnest([doc_id // 2,
                        (doc_id * 31 + 17) % n_nodes,
                        (doc_id * doc_id + 1) % n_nodes]) AS dst
              FROM nodes) u
            WHERE dst <> src),
          outdeg AS (
            SELECT src, CAST(count(*) AS BIGINT) AS outdeg
            FROM edges GROUP BY src),
          e AS (SELECT edges.src, edges.dst, outdeg.outdeg
                FROM edges JOIN outdeg ON edges.src = outdeg.src),
          r0 AS (SELECT doc_id, 1.0e0 / n_nodes AS pr, n_nodes FROM nodes),
          ${(0 until 3).map(iterCte).mkString(",\n")}
          SELECT doc_id, round(pr, 8) AS pagerank
          FROM r3
          ORDER BY doc_id NULLS FIRST"""
    })

  // ---- q_sessionize -----------------------------------------------------

  /** Batch gap-based sessionization over the events tape: a new session
    * starts when a user's inter-event gap exceeds 12 hours. lag +
    * running sum over a (user, time) window assigns session ids in one
    * pass; sessions then aggregate per (user, session). The window
    * shuffles once keyed by user — per-user tapes are small and the key
    * space is the user population, so the partition strategy holds at
    * 100 TB (this is the keyed-window idiom, NOT a global sort). The
    * streaming twin is q_stream_session (session_window + watermark). */
  val qSessionize = Q(
    "q_sessionize",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.t(s, d, "events")
        .withColumn("gap_us",
          expr("unix_micros(CAST(ts AS TIMESTAMP))") -
            lag(expr("unix_micros(CAST(ts AS TIMESTAMP))"), 1).over(w))
        .withColumn("new_s",
          when(col("gap_us").isNull ||
            col("gap_us") > lit(12L * 3600 * 1000000), 1L).otherwise(0L))
        .withColumn("session_idx", sum(col("new_s")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_idx"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("s_start"), max(col("ts")).as("s_end"))
        .orderBy(col("user_id"), col("session_idx"))
    },
    Some("""WITH g AS (
              SELECT user_id, event_id, ts,
                epoch_us(ts) - lag(epoch_us(ts)) OVER
                  (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
              FROM events),
            f AS (
              SELECT user_id, event_id, ts,
                CASE WHEN gap_us IS NULL
                       OR gap_us > CAST(12 AS BIGINT) * 3600 * 1000000
                     THEN 1 ELSE 0 END AS new_s
              FROM g),
            x AS (
              SELECT user_id, ts,
                CAST(sum(new_s) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS session_idx
              FROM f)
            SELECT user_id, session_idx, count(*) AS n_events,
              min(ts) AS s_start, max(ts) AS s_end
            FROM x GROUP BY user_id, session_idx
            ORDER BY user_id NULLS FIRST, session_idx NULLS FIRST"""))

  // ---- q_text_winnow ----------------------------------------------------

  /** Winnowing fingerprints (the MOSS local-fingerprinting algorithm):
    * hash every 5-token shingle IN SEQUENCE, slide a window of 4 hashes
    * over the sequence, and keep the minimum of each window — the
    * guarantee is that any match of ≥ 8 consecutive tokens between two
    * docs shares at least one selected fingerprint, at ~1/4 the
    * fingerprint density of the full shingle set. (q_text_fingerprint's
    * single global min is the degenerate w=∞ case.) The whole selection
    * is scan-local array algebra — shingle hashes, window mins and the
    * distinct-set collapse all happen inside the row — so fingerprinting
    * shuffles NOTHING; only the ordered dump sorts. Short docs
    * (< 5 tokens) fall back to one whole-text hash so every doc emits
    * ≥ 1 fingerprint. */
  val qTextWinnow = Q(
    "q_text_winnow",
    (s, d) =>
      Tables.t(s, d, "documents")
        .withColumn("toks", split(col("text"), " "))
        .withColumn("n", size(col("toks")))
        .withColumn("hseq", expr(
          """CASE WHEN n >= 5
               THEN transform(sequence(1, n - 4),
                 i -> CAST(conv(substring(md5(CAST(
                   concat_ws(' ', slice(toks, i, 5)) AS BINARY)),
                   1, 8), 16, 10) AS BIGINT))
               ELSE array(CAST(conv(substring(md5(CAST(
                 concat_ws(' ', toks) AS BINARY)), 1, 8), 16, 10)
                 AS BIGINT)) END"""))
        .withColumn("fp", explode(expr(
          """CASE WHEN size(hseq) >= 4
               THEN array_distinct(transform(sequence(1, size(hseq) - 3),
                 j -> array_min(slice(hseq, j, 4))))
               ELSE array_distinct(hseq) END""")))
        .select(col("doc_id"), col("fp"))
        .orderBy(col("doc_id"), col("fp")),
    Some("""WITH t AS (
              SELECT doc_id, string_split(text, ' ') AS toks,
                len(string_split(text, ' ')) AS n
              FROM documents),
            h AS (
              SELECT doc_id,
                CASE WHEN n >= 5
                  THEN list_transform(generate_series(1, n - 4),
                    i -> CAST('0x' || substr(md5(
                      array_to_string(toks[i:i+4], ' ')), 1, 8)
                      AS BIGINT))
                  ELSE [CAST('0x' || substr(md5(
                    array_to_string(toks, ' ')), 1, 8) AS BIGINT)]
                END AS hseq
              FROM t)
            SELECT doc_id, fp FROM (
              SELECT doc_id, unnest(
                CASE WHEN len(hseq) >= 4
                  THEN list_distinct(list_transform(
                    generate_series(1, len(hseq) - 3),
                    j -> list_min(hseq[j:j+3])))
                  ELSE list_distinct(hseq) END) AS fp
              FROM h) f
            ORDER BY doc_id NULLS FIRST, fp NULLS FIRST"""))

  // ---- q_graph_ppr ------------------------------------------------------

  /** Personalized PageRank (q_graph_ppr): the same 3-iteration power
    * loop as q_graph_pagerank, but the 15% teleport mass returns to
    * the 8 SEED nodes instead of the uniform distribution — the
    * random-walk-with-restart relevance score a recommender runs from
    * a user's items (here the landmark set shared with the BFS
    * family). Iteration shape and the round(10) cross-engine state
    * snap are identical to PageRank; the oracle unrolls the same
    * three personalized iterations. Scores concentrate near the
    * seeds, so the emission keeps every node with mass (the zero tail
    * is droppable at any scale). */
  val qGraphPpr = Q(
    "q_graph_ppr",
    (s, d) => {
      val docs = Tables.t(s, d, "documents")
      val n = docs.agg(count(lit(1)).as("n_nodes"))
      // eagerly checkpointed — the q_graph_pagerank note
      val nodes = docs.select(col("doc_id")).crossJoin(broadcast(n))
        .localCheckpoint()
      // shared persisted generator — the q_graph_pagerank note
      val edgesN = graft.ops.Insights.directedEdgesOutdeg(s, d)
      val seed = when(col("doc_id") < 8L, lit(1.0) / 8).otherwise(0.0)
      var ranks = nodes.select(col("doc_id"), seed.as("pr"))
      for (_ <- 0 until 3) {
        val contribs = ranks
          .join(edgesN, col("doc_id") === col("src"))
          .groupBy(col("dst"))
          .agg(sum(col("pr") / col("outdeg")).as("inflow"))
        ranks = nodes
          .join(contribs, col("doc_id") === col("dst"), "left")
          .select(col("doc_id"),
            round(lit(0.15) * seed +
              lit(0.85) * coalesce(col("inflow"), lit(0.0)), 10)
              .as("pr"))
      }
      ranks
        .filter(col("pr") > 0.0)
        .select(col("doc_id"), round(col("pr"), 8).as("ppr"))
        .orderBy(col("doc_id"))
    },
    Some {
      def iterCte(i: Int): String =
        s"""r${i + 1} AS (
              SELECT n.doc_id,
                round(0.15 * (CASE WHEN n.doc_id < 8
                    THEN 1.0e0 / 8 ELSE 0 END)
                  + 0.85 * coalesce(c.inflow, 0), 10) AS pr,
                n.n_nodes AS n_nodes
              FROM nodes n LEFT JOIN (
                SELECT e.dst, sum(r.pr / e.outdeg) AS inflow
                FROM r$i r JOIN e ON r.doc_id = e.src
                GROUP BY e.dst) c
              ON n.doc_id = c.dst)"""
      s"""WITH s AS (
            SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM documents),
          nodes AS (SELECT doc_id, n_nodes FROM documents, s),
          edges AS (
            SELECT DISTINCT src, dst FROM (
              SELECT doc_id AS src,
                unnest([doc_id // 2,
                        (doc_id * 31 + 17) % n_nodes,
                        (doc_id * doc_id + 1) % n_nodes]) AS dst
              FROM nodes) u
            WHERE dst <> src),
          outdeg AS (
            SELECT src, CAST(count(*) AS BIGINT) AS outdeg
            FROM edges GROUP BY src),
          e AS (SELECT edges.src, edges.dst, outdeg.outdeg
                FROM edges JOIN outdeg ON edges.src = outdeg.src),
          r0 AS (SELECT doc_id,
                   CASE WHEN doc_id < 8 THEN 1.0e0 / 8 ELSE 0 END AS pr,
                   n_nodes FROM nodes),
          ${(0 until 3).map(iterCte).mkString(",\n")}
          SELECT doc_id, round(pr, 8) AS ppr
          FROM r3
          WHERE pr > 0
          ORDER BY doc_id NULLS FIRST"""
    })

  val all: Seq[Q] =
    Seq(qTextBm25, qDedupUrl, qDocCdc, qSimKmeans, qSimSilhouette,
      qTextBpePairs, qTextBpeTrain, qGraphPagerank, qSessionize,
      qTextWinnow, qGraphPpr)
}
