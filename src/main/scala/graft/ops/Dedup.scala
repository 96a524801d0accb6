package graft.ops

import graft.{Fixpoints, Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** T3 deduplication operators (BASELINE.json north star): exact,
  * MinHash + LSH banding, SimHash, n-gram Jaccard, embedding near-dup.
  *
  * Identity unit is the 5-token shingle (the 31-word corpus vocabulary
  * makes unigrams useless for identity). All hashes are md5-derived with
  * fixed seeds so the DuckDB oracle reproduces them bit-for-bit
  * (SURVEY §4.3 hard part 3: near-dup determinism).
  *
  * Scale shape (100 TB): shingling is a narrow explode; MinHash
  * signatures are a narrow per-doc kernel; LSH banding turns the
  * quadratic all-pairs problem into equi-joins on (band, band_key) —
  * candidate generation never compares non-colliding docs. Exact-verify
  * runs only on candidates.
  */
object Dedup {

  // ---- shared shingle machinery -----------------------------------------

  /** doc_id → distinct 32-bit shingle hashes (Spark side): the `hs`
    * sets of the shared [[minhashWithSets]] fixpoint, exploded. The
    * fixpoint's kernel hashes shingles by the same md5 routine as the
    * DuckDB [[shinglesCte]], so these are exactly its rows; a document
    * with fewer than 5 tokens has none. Precondition: `doc_id` is the
    * key of `documents` (the fixpoint fails clearly otherwise). */
  private def shingles(s: SparkSession, d: String): DataFrame =
    minhashWithSets(s, d).select(col("doc_id"), explode(col("hs")).as("h"))

  /** Same shingle table for DuckDB. */
  val shinglesCte: String =
    """WITH toks_t AS (
         SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       shingles AS (
         SELECT DISTINCT doc_id,
           CAST('0x' || substr(md5(sh_str), 1, 8) AS BIGINT) AS h
         FROM (SELECT doc_id, unnest(
                 CASE WHEN len(toks) >= 5
                   THEN list_transform(generate_series(1, len(toks) - 4),
                          i -> array_to_string(toks[i:i+4], ' '))
                   ELSE [] END) AS sh_str
               FROM toks_t))"""

  // ---- q_dedup_exact ----------------------------------------------------

  /** Exact dedup by normalized-text hash; keeper = min doc_id (the
    * deterministic tie-break SURVEY §2.3 requires). */
  val qDedupExact = Q(
    "q_dedup_exact",
    (s, d) =>
      Tables.t(s, d, "documents")
        .withColumn("text_hash", md5(lower(trim(col("text"))).cast("binary")))
        .groupBy(col("text_hash"))
        .agg(
          count(lit(1)).as("n_copies"),
          min(col("doc_id")).as("keep_id"))
        .orderBy(col("text_hash")),
    Some("""SELECT md5(lower(trim(text))) AS text_hash,
              count(*) AS n_copies, min(doc_id) AS keep_id
            FROM documents GROUP BY text_hash
            ORDER BY text_hash NULLS FIRST"""))

  // ---- q_dedup_minhash --------------------------------------------------

  /** DuckDB mirror of the per-doc collected shingle set. */
  private val shingleSetsCte =
    """shingle_sets AS (
         SELECT doc_id, list(h) AS hs, count(*) AS sz
         FROM shingles GROUP BY doc_id)"""

  /** Per-doc MinHash signature (doc_id, m0..m15, hs, sz): the 16
    * permutation minima h_i(x) = ((2i+1)x + 7i+3) mod (2^31 - 1), the
    * distinct shingle hashes `hs` (ascending) and their count `sz`,
    * for every doc with at least one shingle. One narrow pass of the
    * `minhash_sets_text` kernel over the documents (the routine the
    * streaming index's `lsh_bands_text` packs its bands from), with no
    * shingle explode and no aggregate, materialized once per (session,
    * sfDir): the near-dup build reads it from two subtrees (band keys
    * + verify sets) and the signature dump from a third. Per-doc state
    * is 16 longs + the distinct shingle set (bounded by doc length).
    *
    * Precondition: `doc_id` is the key of `documents`. The oracle
    * groups shingles by doc_id, so a repeated id would merge two texts
    * there and give two rows here; the materializing job counts rows
    * and distinct ids together and fails on a mismatch. */
  private[graft] def minhashWithSets(s: SparkSession, d: String): DataFrame =
    Fixpoints.memo(s, d, "minhashsets") {
      // The kernel is NULL exactly when the text has fewer than 5
      // tokens; those rows are dropped by that test on the text.
      // Filtering the kernel's NULLs instead would be pushed below
      // the projection and the fan-out, evaluating it twice, once on
      // a single core.
      val df = Tables.fanOutNarrow(s, Tables.t(s, d, "documents")
          .select(col("doc_id"), col("text"))
          .filter(size(split(col("text"), " ")) >= 5), col("doc_id"))
        .select(col("doc_id"), expr("minhash_sets_text(text)").as("sig"))
        .select(col("doc_id"), col("sig.*"))
        .persist()
      val c = df.agg(count(lit(1)), countDistinct(col("doc_id"))).head()
      if (c.getLong(0) != c.getLong(1)) {
        df.unpersist()
        throw new IllegalArgumentException(
          s"documents.doc_id must be a unique non-null key for MinHash " +
            s"signatures: ${c.getLong(0)} documents with shingles carry " +
            s"${c.getLong(1)} distinct doc_id values")
      }
      Fixpoints.holding(df, df)
    }

  private def minhashLong(s: SparkSession, d: String): DataFrame = {
    val stackExpr = "stack(16, " + (0 until 16)
      .map(i => s"CAST($i AS BIGINT), m$i").mkString(", ") +
      ") AS (i, minhash)"
    minhashWithSets(s, d)
      .select(col("doc_id"), expr(stackExpr))
  }

  val qDedupMinhash = Q(
    "q_dedup_minhash",
    (s, d) => minhashLong(s, d).orderBy(col("doc_id"), col("i")),
    Some(s"""$shinglesCte
             SELECT doc_id, i,
               min(((2*i + 1) * h + (7*i + 3)) % 2147483647) AS minhash
             FROM shingles
             CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i) ks
             GROUP BY doc_id, i
             ORDER BY doc_id NULLS FIRST, i NULLS FIRST"""))

  // ---- q_dedup_near (MinHash + LSH banding + exact verify) --------------

  /** Near-dup pairs: 4 bands × 4 rows LSH over the 16 minhashes;
    * candidates = docs colliding on any (band, band_key); verified with
    * exact shingle Jaccard ≥ 0.5 via array_intersect on the collected
    * sets. One shingle scan, one shuffle, then joins only on the tiny
    * candidate set — the 100 TB shape. */
  /** Session-scoped cache of verified near-dup pairs: q_dedup_near,
    * q_dedup_drop, q_dedup_components and q_text_curation all consume
    * the same pair list — materialize it once per (session, sfDir)
    * (SURVEY §4.1: reuse of a prior result instead of a rescan). */
  def nearPairs(s: SparkSession, d: String): DataFrame =
    Fixpoints.memo(s, d, "nearpairs") {
      val df = buildNearPairs(s, d).persist()
      df.count()
      Fixpoints.holding(df, df)
    }

  /** 4×4 LSH band keys from the 16 minhash columns — the ONE definition
    * every banded consumer (near pairs, incremental ingest) shares, so
    * their candidate sets stay provably in lockstep. */
  private def lshBands(df: DataFrame): DataFrame = {
    val bandRows = (0 until 4).map { b =>
      s"CAST($b AS BIGINT), m${4 * b} + 31 * m${4 * b + 1} + " +
        s"961 * m${4 * b + 2} + 29791 * m${4 * b + 3}"
    }.mkString(", ")
    df.select(col("doc_id"),
      expr(s"stack(4, $bandRows) AS (band, band_key)"))
  }

  /** Exact-Jaccard verify over candidate pairs (shared threshold 0.5):
    * appends n_common + jaccard and keeps pairs at or above the cut. */
  private def jaccardVerify(cand: DataFrame, sets: DataFrame,
      aCol: String, bCol: String): DataFrame =
    cand
      .join(sets.as("za"), col(aCol) === col("za.doc_id"))
      .join(sets.as("zb"), col(bCol) === col("zb.doc_id"))
      .withColumn("n_common",
        expr("size(array_intersect(za.hs, zb.hs))").cast("long"))
      .withColumn("jaccard", round(col("n_common") * lit(1.0) /
        (col("za.sz") + col("zb.sz") - col("n_common")), 6))
      .filter(col("jaccard") >= 0.5)

  private def buildNearPairs(s: SparkSession, d: String): DataFrame = {
      val sets = minhashWithSets(s, d)
        .select(col("doc_id"), col("hs"), col("sz"))
      val bands = lshBands(minhashWithSets(s, d))
      val cand = bands.as("a")
        .join(bands.as("b"),
          col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .distinct()
      jaccardVerify(cand, sets, "a_id", "b_id")
        .select(col("a_id"), col("b_id"), col("n_common"), col("jaccard"))
  }

  /** DuckDB mirror of [[lshBands]]: CTE chain shingle_sets → mh →
    * bands — the same one-definition discipline as the Spark side. */
  private[graft] lazy val bandsCteSql: String = {
    val mhCols = (0 until 16).map(i =>
      s"list_min(list_transform(hs, x -> ((${2 * i + 1}) * x + " +
        s"(${7 * i + 3})) % 2147483647)) AS m$i").mkString(",\n  ")
    val bandSelects = (0 until 4).map { b =>
      s"SELECT doc_id, $b AS band, m${4 * b} + 31 * m${4 * b + 1} + " +
        s"961 * m${4 * b + 2} + 29791 * m${4 * b + 3} AS band_key FROM mh"
    }.mkString("\n  UNION ALL ")
    s"""$shinglesCte,
       $shingleSetsCte,
       mh AS (SELECT doc_id, $mhCols FROM shingle_sets),
       bands AS ($bandSelects)"""
  }

  val qDedupNear = Q(
    "q_dedup_near",
    (s, d) => nearPairs(s, d).orderBy(col("a_id"), col("b_id")),
    Some {
      s"""$bandsCteSql,
         cand AS MATERIALIZED (
           SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.band_key = b.band_key
            AND a.doc_id < b.doc_id)
         SELECT a_id, b_id,
           CAST(len(list_intersect(za.hs, zb.hs)) AS BIGINT) AS n_common,
           round(len(list_intersect(za.hs, zb.hs)) * 1.0e0 /
             (za.sz + zb.sz - len(list_intersect(za.hs, zb.hs))), 6)
             AS jaccard
         FROM cand
         JOIN shingle_sets za ON za.doc_id = a_id
         JOIN shingle_sets zb ON zb.doc_id = b_id
         WHERE round(len(list_intersect(za.hs, zb.hs)) * 1.0e0 /
             (za.sz + zb.sz - len(list_intersect(za.hs, zb.hs))), 6) >= 0.5
         ORDER BY a_id NULLS FIRST, b_id NULLS FIRST"""
    })

  // ---- q_dedup_simhash --------------------------------------------------

  /** 32-bit SimHash over shingle hashes: per bit j, sign of Σ±1; sketch
    * assembled as Σ (sign>0) << j. The 32 bit-sums are computed as 32
    * aggregate columns in ONE pass over the shingle table (no 32× bit
    * explode) — single shuffle keyed by doc at any scale.
    *
    * The sketch table is materialized once per (session, sfDir) — the
    * pair query self-joins it (two scans) and the sketch dump reads it
    * again; without the cache each consumer re-runs the shingle explode
    * and 32-agg pass (same reuse discipline as [[nearPairs]]). */
  def simhashTable(s: SparkSession, d: String): DataFrame =
    Fixpoints.memo(s, d, "simhash") {
      val bitAggs = (0 until 32).map(j =>
        sum(expr(
          s"CASE WHEN (shiftright(h, $j) & 1) = 1 THEN 1 ELSE -1 END"))
          .as(s"b$j"))
      val combine = (0 until 32).map(j =>
        s"(CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
      val df = shingles(s, d)
        .groupBy(col("doc_id"))
        .agg(bitAggs.head, bitAggs.tail: _*)
        .select(col("doc_id"),
          expr(s"CAST($combine AS BIGINT)").as("simhash"))
        .persist()
      df.count()
      Fixpoints.holding(df, df)
    }

  val qDedupSimhash = Q(
    "q_dedup_simhash",
    (s, d) => simhashTable(s, d).orderBy(col("doc_id")),
    Some(s"""$simhashCte
             SELECT doc_id, simhash FROM simhash_t
             ORDER BY doc_id NULLS FIRST"""))

  /** DuckDB CTE chain ending in simhash_t(doc_id, simhash) — shared with
    * Extras.qDedupSimhashPairs. */
  lazy val simhashCte: String =
    s"""$shinglesCte,
       bitsums AS (
         SELECT doc_id, j,
           sum(CASE WHEN ((h >> j) & 1) = 1 THEN 1 ELSE -1 END)
             AS bit_sum
         FROM shingles
         CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS j) bs
         GROUP BY doc_id, j),
       simhash_t AS (
         SELECT doc_id,
           CAST(sum(CASE WHEN bit_sum > 0
                  THEN CAST(1 AS BIGINT) << CAST(j AS INT)
                  ELSE 0 END) AS BIGINT) AS simhash
         FROM bitsums GROUP BY doc_id)"""

  // ---- q_dedup_ngram ----------------------------------------------------

  /** Bigram-Jaccard near-dup within (lang, source) blocks.
    *
    * Candidate generation uses RARE-bigram blocking: a pair must share a
    * block AND a bigram whose document frequency is ≤ 5% of the corpus.
    * High-df bigrams carry no identity signal (in a 31-word vocabulary
    * nearly every pair shares some common bigram) and joining through
    * them degenerates to block-all-pairs; capping df makes the
    * candidate fan-out per bigram bounded by df ≤ 0.05·N while true
    * near-dups — which share most of their bigrams, common AND rare —
    * still collide. Jaccard ≥ 0.2 is then verified exactly on the FULL
    * distinct-bigram sets of each candidate pair. The df cutoff is
    * mirrored in the oracle so both engines compute the same set. */
  /** Distinct per-doc bigram table, materialized once per (session,
    * sfDir): the ngram query reads it from six subtrees (df counts, both
    * sides of the candidate self-join, both sides of the verify join,
    * sizes) and without the cache each one re-runs the explode+distinct
    * shuffle over the full corpus. */
  private[graft] def bigrams(s: SparkSession, d: String): DataFrame =
    Fixpoints.memo(s, d, "bigrams") {
      val df = Tables.t(s, d, "documents")
        .withColumn("toks", split(col("text"), " "))
        .withColumn("bg", explode(expr(
          """CASE WHEN size(toks) >= 2
               THEN transform(sequence(1, size(toks) - 1),
                    i -> concat_ws(' ', slice(toks, i, 2)))
               ELSE array() END""")))
        .select(col("doc_id"), col("lang"), col("source"), col("bg"))
        .distinct()
        .persist()
      df.count()
      Fixpoints.holding(df, df)
    }

  val qDedupNgram = Q(
    "q_dedup_ngram",
    (s, d) => {
      val bg = bigrams(s, d)
      val nDocs = Tables.t(s, d, "documents")
        .agg(count(lit(1)).as("n_docs"))
      // bigram → doc frequency; rare = df ≤ 5% of docs (bg is already
      // distinct per doc, so count(*) IS the document frequency). The
      // floor of 2 keeps the cutoff meaningful on tiny corpora — a
      // SHARED bigram has df ≥ 2 by definition.
      val rare = bg.groupBy(col("bg")).agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(nDocs))
        .filter(col("df") <= greatest(lit(2.0), col("n_docs") * 0.05))
        .select(col("bg"))
      val bgRare = bg.join(rare, "bg")
      val cand = bgRare.as("a")
        .join(bgRare.as("b"),
          col("a.lang") === col("b.lang") &&
          col("a.source") === col("b.source") &&
          col("a.bg") === col("b.bg") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .distinct()
      // exact verify on the full bigram sets of the surviving
      // candidates — r17: the sets ride ONE doc-grain array table
      // (sorted distinct bigrams per doc, built by one groupBy over
      // the shared bigram cache) attached to each pair side by doc_id,
      // and the intersection count is an IN-ROW exact array_intersect
      // (string equality — engine-exact). The old form joined the
      // row-per-bigram table twice per pair and re-aggregated
      // (cand ⋈ bg ⋈ bg → groupBy → two more sizes joins): five
      // shuffle stages and an 11 s job at the 10× corpus, replaced by
      // two doc_id-keyed array lookups and a map-side filter; the set
      // size rides size(bgs), killing the separate sizes aggregate.
      val docBg = bg.groupBy(col("doc_id"))
        .agg(sort_array(collect_list(col("bg"))).as("bgs"),
          count(lit(1)).as("sz"))
      cand
        .join(docBg.select(col("doc_id").as("a_id"),
          col("bgs").as("bga"), col("sz").as("sza")), Seq("a_id"))
        .join(docBg.select(col("doc_id").as("b_id"),
          col("bgs").as("bgb"), col("sz").as("szb")), Seq("b_id"))
        .withColumn("n_common",
          size(array_intersect(col("bga"), col("bgb"))).cast("long"))
        .withColumn("jaccard", round(col("n_common") * lit(1.0) /
          (col("sza") + col("szb") - col("n_common")), 6))
        .filter(col("jaccard") >= 0.2)
        .select(col("a_id"), col("b_id"), col("jaccard"))
        .orderBy(col("a_id"), col("b_id"))
    },
    Some("""WITH bg AS (
              SELECT DISTINCT doc_id, lang, source, bg
              FROM (SELECT doc_id, lang, source, unnest(
                      CASE WHEN len(toks) >= 2
                        THEN list_transform(generate_series(1, len(toks)-1),
                               i -> array_to_string(toks[i:i+1], ' '))
                        ELSE [] END) AS bg
                    FROM (SELECT doc_id, lang, source,
                            string_split(text, ' ') AS toks
                          FROM documents))),
            sizes AS (SELECT doc_id, count(*) AS sz FROM bg
                      GROUP BY doc_id),
            nd AS (SELECT count(*) AS n_docs FROM documents),
            rare AS (
              SELECT bg FROM (SELECT bg, count(*) AS df FROM bg
                              GROUP BY bg), nd
              WHERE df <= greatest(2.0, n_docs * 0.05)),
            bgr AS (SELECT bg.* FROM bg JOIN rare USING (bg)),
            cand AS (
              SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
              FROM bgr a JOIN bgr b
                ON a.lang = b.lang AND a.source = b.source
               AND a.bg = b.bg AND a.doc_id < b.doc_id),
            inter AS (
              SELECT c.a_id, c.b_id, count(*) AS n_common
              FROM cand c
              JOIN bg fa ON fa.doc_id = c.a_id
              JOIN bg fb ON fb.doc_id = c.b_id AND fb.bg = fa.bg
              GROUP BY c.a_id, c.b_id)
            SELECT a_id, b_id,
              round(n_common * 1.0e0 / (za.sz + zb.sz - n_common), 6)
                AS jaccard
            FROM inter
            JOIN sizes za ON za.doc_id = a_id
            JOIN sizes zb ON zb.doc_id = b_id
            WHERE round(n_common * 1.0e0 / (za.sz + zb.sz - n_common), 6)
                  >= 0.2
            ORDER BY a_id NULLS FIRST, b_id NULLS FIRST"""))

  // ---- q_dedup_embed ----------------------------------------------------

  /** Embedding-cosine near-dup: 8-bit sign-LSH bucket (signs of dims
    * 1..8) within label blocks; exact cosine ≥ 0.25 on bucket-colliding
    * pairs only. */
  val qDedupEmbed = Q(
    "q_dedup_embed",
    (s, d) => {
      val e = Tables.t(s, d, "embeddings")
        .withColumn("bucket", expr(
          """aggregate(sequence(1, 8),
               CAST(0 AS BIGINT),
               (acc, i) -> acc + CASE WHEN element_at(embedding, i) > 0
                 THEN shiftleft(CAST(1 AS BIGINT), i - 1) ELSE 0 END)"""))
        .withColumn("nrm", sqrt(expr("float_dot(embedding, embedding)")))
      val pairs = e.as("a").join(e.as("b"),
        col("a.label") === col("b.label") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.vec_id") < col("b.vec_id"))
      pairs
        .withColumn("cos_sim", round(
          expr("float_dot(a.embedding, b.embedding)") /
            (col("a.nrm") * col("b.nrm")), 6))
        .filter(col("cos_sim") >= 0.25)
        .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
          col("a.label").as("label"), col("cos_sim"))
        .orderBy(col("a_id"), col("b_id"))
    },
    Some("""WITH e AS (
              SELECT vec_id, label,
                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb_d,
                CAST(
                  (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
                + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
                + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
                + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END)
                + (CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END)
                + (CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END)
                + (CASE WHEN embedding[7] > 0 THEN 64 ELSE 0 END)
                + (CASE WHEN embedding[8] > 0 THEN 128 ELSE 0 END)
                AS BIGINT) AS bucket
              FROM embeddings)
            SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.label AS label,
              round(list_dot_product(a.emb_d, b.emb_d) /
                (sqrt(list_dot_product(a.emb_d, a.emb_d)) *
                 sqrt(list_dot_product(b.emb_d, b.emb_d))), 6) AS cos_sim
            FROM e a JOIN e b
              ON a.label = b.label AND a.bucket = b.bucket
             AND a.vec_id < b.vec_id
            WHERE round(list_dot_product(a.emb_d, b.emb_d) /
                (sqrt(list_dot_product(a.emb_d, a.emb_d)) *
                 sqrt(list_dot_product(b.emb_d, b.emb_d))), 6) >= 0.25
            ORDER BY a_id NULLS FIRST, b_id NULLS FIRST"""))

  /** Near-dup REMOVAL (q_dedup_drop): the action a pipeline takes on the
    * pair list — canonical keep-the-smallest-id policy, so the drop set
    * is every doc that appears as the larger id of a verified pair.
    * Surviving corpus = documents anti-joined against this list. */
  val qDedupDrop = Q(
    "q_dedup_drop",
    (s, d) => {
      val pairs = nearPairs(s, d)
      Tables.t(s, d, "documents")
        .join(pairs.select(col("b_id")).distinct(),
          col("doc_id") === col("b_id"), "left_semi")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },
    qDedupNear.oracle.map { nearSql =>
      val inner = graft.Oracle.stripOrderBy(nearSql)
      s"""SELECT doc_id, lang FROM documents
          WHERE doc_id IN (SELECT b_id FROM ($inner))
          ORDER BY doc_id NULLS FIRST"""
    })

  /** Connected components over an undirected pair list by min-label
    * propagation WITH pointer doubling: each round a vertex takes the
    * min of its own label, its neighbors' labels, and its label's
    * label. The doubling step halves label-chain lengths, so the loop
    * converges in O(log diameter) rounds, not O(diameter) — the shape
    * that survives a path-shaped dup cluster at 100 TB. One Spark
    * action per round: the lazy localCheckpoint is materialized by the
    * same count that tests convergence (a checkpoint is still needed —
    * persist alone does not cut the plan, and Catalyst re-analysis of
    * the growing lineage would dominate the loop). Throws loudly if
    * the fixpoint is not reached instead of emitting unconverged
    * labels. */
  /** Shuffle width for the component-propagation loop, derived from the
    * COUNTED pair-graph size rather than the session default: the loop
    * shuffles only edge/vertex rows (two longs each), so ~2M edges per
    * partition keeps every propagation partition in the tens of MB.
    * Clamped to the session width so a huge pair graph never exceeds
    * the cluster's configured parallelism, and to ≥1 for tiny graphs. */
  private[graft] def propagationWidth(edgeCount: Long, confWidth: Int): Int = {
    val edgesPerPartition = 2000000L
    val derived = (edgeCount + edgesPerPartition - 1) / edgesPerPartition
    math.max(1L, math.min(confWidth.toLong, derived)).toInt
  }

  /** Component membership (doc_id, comp) over the verified near-pair
    * graph, computed once per (session, sfDir) — the min-id and
    * quality-argmax canonicalizations consume the SAME fixpoint, so
    * the pointer-doubling loop runs once, not per consumer (the
    * [[nearPairs]] reuse discipline). */
  private[graft] def nearComponents(s: SparkSession, d: String): DataFrame =
    Fixpoints.memo(s, d, "nearcomps") {
      val df = connectedComponents(
        nearPairs(s, d).select(col("a_id"), col("b_id"))).persist()
      df.count()
      Fixpoints.holding(df, df)
    }

  private[graft] def connectedComponents(
      pairs: DataFrame, maxIter: Int = 64): DataFrame = {
    // materialize the edge list ONCE — every propagation step joins
    // against it, and without the persist each iteration would re-run
    // the whole shingle/minhash/verify pipeline upstream
    val edges = pairs
      .union(pairs.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
      .toDF("src", "dst")
      .persist()
    val nEdges = edges.count()
    // the edge count is already materialized by the persist action above,
    // so sizing the propagation shuffles to the graph costs nothing extra
    val spark = pairs.sparkSession
    val width = propagationWidth(nEdges,
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    Tables.withConfs(spark, "spark.sql.shuffle.partitions" -> width.toString)(
      connectedComponentsLoop(edges, maxIter))
  }

  private def connectedComponentsLoop(
      edges: DataFrame, maxIter: Int): DataFrame = {
    // only edge vertices can be in a >1 cluster — propagate over the
    // (tiny) vertex set, not the whole corpus
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("comp", col("doc_id"))
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val viaNeighbors = edges
        .join(labels, col("dst") === col("doc_id"))
        .groupBy(col("src"))
        .agg(min(col("comp")).as("n_comp"))
      val updated = labels
        .join(viaNeighbors, col("doc_id") === col("src"), "left")
        .select(col("doc_id"),
          least(col("comp"), coalesce(col("n_comp"), col("comp")))
            .as("comp"),
          col("comp").as("old_comp"))
      // pointer doubling: shortcut each vertex's label to its label's
      // current label (comp is always a vertex id in the same
      // component, so the self-join is well-defined)
      val doubled = updated.as("u")
        .join(labels.as("l"), col("u.comp") === col("l.doc_id"), "left")
        .select(col("u.doc_id").as("doc_id"),
          least(col("u.comp"), coalesce(col("l.comp"), col("u.comp")))
            .as("comp"),
          col("u.old_comp").as("old_comp"))
        .localCheckpoint(false)
      // single action: materializes the checkpoint AND counts changes
      changed = doubled.filter(col("comp") =!= col("old_comp")).count()
      labels = doubled.select(col("doc_id"), col("comp"))
      iter += 1
    }
    edges.unpersist()
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge after $maxIter rounds " +
          s"($changed labels still changing) — raise maxIter or check " +
          "the pair graph for unexpected diameter")
    labels
  }

  /** Near-dup CLUSTERS (q_dedup_components): connected components over
    * the verified pair graph — the duplicate-cluster step real
    * pipelines run after pair generation. Driver-side loop,
    * distributed joins per step, O(log diameter) rounds via pointer
    * doubling, loud failure on non-convergence; the oracle is a
    * recursive CTE computing the same fixpoint. */
  val qDedupComponents = Q(
    "q_dedup_components",
    (s, d) => {
      // Pair generation runs at full corpus width FIRST (it scans and
      // shuffles real data); connectedComponents then sizes its own
      // propagation shuffles from the counted edge list (see
      // propagationWidth) — width like the pair graph, not the corpus.
      nearComponents(s, d)
        .groupBy(col("comp"))
        .agg(count(lit(1)).as("cluster_size"),
          min(col("doc_id")).as("keep_id"))
        .filter(col("cluster_size") > 1)
        .orderBy(col("comp"))
    },
    qDedupNear.oracle.map { nearSql =>
      val inner = graft.Oracle.stripOrderBy(nearSql)
      s"""WITH RECURSIVE np AS MATERIALIZED ($inner),
            edges AS MATERIALIZED (SELECT a_id AS u, b_id AS v FROM np
                      UNION SELECT b_id, a_id FROM np),
            reach(u, v) AS (
              SELECT u, u FROM (SELECT DISTINCT u FROM edges)
              UNION
              SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u)
          SELECT comp, count(*) AS cluster_size, min(doc_id) AS keep_id
          FROM (SELECT u AS doc_id, min(v) AS comp FROM reach GROUP BY u)
          GROUP BY comp
          ORDER BY comp NULLS FIRST"""
    })

  /** Prefix-fingerprint dedup (q_dedup_prefix): hash of the first 8
    * tokens — the cheap leading-boilerplate pass pipelines run before
    * full near-dup (mirrored scrapes and template pages share openings
    * long before they share bodies). One hash projection + one groupBy:
    * no pairs, no joins — the cheapest possible dedup shape, reported
    * as the duplicate-prefix groups with the canonical min-id keeper. */
  val qDedupPrefix = Q(
    "q_dedup_prefix",
    (s, d) =>
      Tables.t(s, d, "documents")
        .withColumn("prefix_hash", md5(
          expr("concat_ws(' ', slice(split(text, ' '), 1, 8))")
            .cast("binary")))
        .groupBy(col("prefix_hash"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"))
        .filter(col("n_docs") > 1)
        .orderBy(col("prefix_hash")),
    Some("""SELECT prefix_hash, n_docs, keep_id FROM (
              SELECT md5(array_to_string(
                       string_split(text, ' ')[1:8], ' ')) AS prefix_hash,
                count(*) AS n_docs, min(doc_id) AS keep_id
              FROM documents
              GROUP BY prefix_hash)
            WHERE n_docs > 1
            ORDER BY prefix_hash NULLS FIRST"""))

  /** Exact repeated-substring spans (q_dedup_substring): the
    * deduplicate-text-datasets idea at shingle resolution — any 5-token
    * window appearing in MORE THAN ONE document is a repeated span
    * (boilerplate, licenses, mirrored passages). Detection is one
    * groupBy over the shingle table (an aggregate, never a pairwise
    * join): at 100 TB the shuffle is keyed by shingle hash and
    * high-frequency spans surface with their document frequency for a
    * downstream cut pass. */
  val qDedupSubstring = Q(
    "q_dedup_substring",
    (s, d) =>
      shingles(s, d)
        .groupBy(col("h"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("first_doc"))
        .filter(col("n_docs") > 1)
        .orderBy(col("h")),
    Some(s"""$shinglesCte
             SELECT h, count(*) AS n_docs, min(doc_id) AS first_doc
             FROM shingles
             GROUP BY h
             HAVING count(*) > 1
             ORDER BY h NULLS FIRST"""))

  /** Repeated-span cut pass (q_dedup_trim): the APPLY half of
    * q_dedup_substring — per document, how many token positions are
    * covered by a 5-token window that also appears in another document,
    * and the retained ratio after cutting those spans (the
    * deduplicate-text-datasets trim, cross-doc flavor). Shape: the
    * position-carrying shingle table is corpus-linear scan work; the
    * repeated-span dictionary is duplicate-mass-bounded (one row per
    * shingle hash seen in >1 doc) and meets the positions in an
    * equi-join on the 32-bit hash; coverage is a ×5 span explode +
    * per-doc distinct count — every shuffle is keyed by hash or doc_id
    * and linear in the data. Docs with no repeated span (or <5 tokens)
    * retain 1.0 via the left join. */
  val qDedupTrim = Q(
    "q_dedup_trim",
    (s, d) => {
      val toks = Tables.t(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
      val pos = toks.filter(size(col("toks")) >= 5)
        .select(col("doc_id"), col("toks"),
          explode(expr("sequence(1, size(toks) - 4)")).as("i"))
        .select(col("doc_id"), col("i"),
          expr("CAST(conv(substring(md5(CAST(concat_ws(' ', " +
            "slice(toks, i, 5)) AS BINARY)), 1, 8), 16, 10) AS BIGINT)")
            .as("h"))
      val rep = pos.select(col("doc_id"), col("h")).distinct()
        .groupBy(col("h")).agg(count(lit(1)).as("nd"))
        .filter(col("nd") > 1).select(col("h"))
      val cov = pos.join(rep, "h")
        .select(col("doc_id"), explode(expr("sequence(i, i + 4)")).as("p"))
        .distinct()
        .groupBy(col("doc_id")).agg(count(lit(1)).as("covered"))
      toks
        .select(col("doc_id"),
          size(col("toks")).cast("bigint").as("n_tokens"))
        .join(cov, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("covered"), lit(0L)).as("covered"),
          round(lit(1.0) -
            coalesce(col("covered"), lit(0L)).cast("double") /
              col("n_tokens"), 6).as("retained_ratio"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH toks_t AS (
              SELECT doc_id, string_split(text, ' ') AS toks
              FROM documents),
            pos AS (
              SELECT doc_id, i,
                CAST('0x' || substr(md5(
                  array_to_string(toks[i:i+4], ' ')), 1, 8) AS BIGINT)
                  AS h
              FROM (SELECT doc_id, toks,
                      unnest(generate_series(1, len(toks) - 4)) AS i
                    FROM toks_t WHERE len(toks) >= 5)),
            rep AS (
              SELECT h FROM (
                SELECT h, count(DISTINCT doc_id) AS nd
                FROM pos GROUP BY h) x
              WHERE nd > 1),
            cov AS (
              SELECT doc_id, count(*) AS covered FROM (
                SELECT DISTINCT doc_id, i + o AS p
                FROM (SELECT doc_id, i FROM pos JOIN rep USING (h)) pr
                CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS o) os) c
              GROUP BY doc_id)
            SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
              CAST(COALESCE(covered, 0) AS BIGINT) AS covered,
              round(1.0e0 - CAST(COALESCE(covered, 0) AS DOUBLE)
                / len(toks), 6) AS retained_ratio
            FROM toks_t t LEFT JOIN cov ON t.doc_id = cov.doc_id
            ORDER BY t.doc_id NULLS FIRST"""))

  /** Eval-set decontamination (q_text_contamination): before training,
    * every corpus document is scored for shingle overlap against the
    * held-out set (here: doc_id < 10 stands in for the benchmark). One
    * equi-join on the 32-bit shingle hash against the (tiny, broadcast)
    * eval shingle set, then a per-doc aggregate — the standard
    * n-gram-overlap decontamination pass, linear in corpus size. */
  val qTextContamination = Q(
    "q_text_contamination",
    (s, d) => {
      val sh = shingles(s, d)
      val eval_ = sh.filter(col("doc_id") < 10)
        .select(col("h")).distinct()
      val corpusSizes = minhashWithSets(s, d).filter(col("doc_id") >= 10)
        .select(col("doc_id"), col("sz"))
      val shared = sh.filter(col("doc_id") >= 10)
        .join(broadcast(eval_), "h")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
      corpusSizes
        .join(shared, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_shared"), lit(0L)).as("n_shared"),
          round(coalesce(col("n_shared"), lit(0L)) * lit(1.0) / col("sz"), 6)
            .as("contamination"),
          (coalesce(col("n_shared"), lit(0L)) * lit(1.0) / col("sz") >= 0.2)
            .as("flagged"))
        .orderBy(col("doc_id"))
    },
    Some(s"""$shinglesCte,
            eval_set AS (
              SELECT DISTINCT h FROM shingles WHERE doc_id < 10),
            corpus_sizes AS (
              SELECT doc_id, count(*) AS sz FROM shingles
              WHERE doc_id >= 10 GROUP BY doc_id),
            shared AS (
              SELECT doc_id, count(*) AS n_shared
              FROM shingles JOIN eval_set USING (h)
              WHERE doc_id >= 10
              GROUP BY doc_id)
            SELECT doc_id,
              coalesce(n_shared, 0) AS n_shared,
              round(coalesce(n_shared, 0) * 1.0e0 / sz, 6) AS contamination,
              coalesce(n_shared, 0) * 1.0e0 / sz >= 0.2 AS flagged
            FROM corpus_sizes LEFT JOIN shared USING (doc_id)
            ORDER BY doc_id NULLS FIRST"""))

  /** Incremental (new-batch vs corpus) near-dup check — the daily-ingest
    * shape: an arriving increment (doc_id % 10 >= 8 stands in for the
    * new crawl slice) is checked against the existing corpus WITHOUT
    * re-pairing the corpus with itself. Candidates come from the same
    * 4×4 LSH banding as q_dedup_near, but the join BROADCASTS the
    * increment's band keys — at 100 TB the corpus side streams through
    * map-side, and in production its signatures are a precomputed
    * signature store, so the per-ingest cost is linear in the increment
    * (corpus-signature scan), never quadratic. Verified duplicates pick
    * their best corpus match by exact Jaccard (ties toward the lowest
    * corpus doc). */
  val qDedupIncremental = Q(
    "q_dedup_incremental",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val mh = minhashWithSets(s, d)
      val cand = lshBands(mh.filter(col("doc_id") % 10 < 8)).as("a")
        .join(
          broadcast(lshBands(mh.filter(col("doc_id") % 10 >= 8))).as("b"),
          col("a.band") === col("b.band") &&
            col("a.band_key") === col("b.band_key"))
        .select(col("b.doc_id").as("new_id"),
          col("a.doc_id").as("corpus_id"))
        .distinct()
      val sets = mh.select(col("doc_id"), col("hs"), col("sz"))
      jaccardVerify(cand, sets, "new_id", "corpus_id")
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("new_id"))
            .orderBy(col("jaccard").desc, col("corpus_id"))))
        .filter(col("rn") === 1)
        .select(col("new_id"), col("corpus_id").as("dup_of"),
          col("jaccard"))
        .orderBy(col("new_id"))
    },
    Some {
      s"""$bandsCteSql,
         cand AS (
           SELECT DISTINCT b.doc_id AS new_id, a.doc_id AS corpus_id
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.band_key = b.band_key
           WHERE a.doc_id % 10 < 8 AND b.doc_id % 10 >= 8),
         ver AS (
           SELECT new_id, corpus_id,
             round(len(list_intersect(zn.hs, zc.hs)) * 1.0e0 /
               (zn.sz + zc.sz - len(list_intersect(zn.hs, zc.hs))), 6)
               AS jaccard
           FROM cand
           JOIN shingle_sets zn ON zn.doc_id = new_id
           JOIN shingle_sets zc ON zc.doc_id = corpus_id)
         SELECT new_id, dup_of, jaccard FROM (
           SELECT new_id, corpus_id AS dup_of, jaccard,
             row_number() OVER (PARTITION BY new_id
               ORDER BY jaccard DESC, corpus_id) AS rn
           FROM ver WHERE jaccard >= 0.5)
         WHERE rn = 1
         ORDER BY new_id NULLS FIRST"""
    })

  /** Embeddings with the 6-bit sign cell and double-typed vector — the
    * shared base frame of the semantic-dedup tier. */
  private def semE0(s: SparkSession, d: String): DataFrame =
    Tables.t(s, d, "embeddings")
      .withColumn("cell", expr(
        """aggregate(sequence(1, 6), CAST(0 AS BIGINT),
             (acc, i) -> acc + CASE WHEN element_at(embedding, 58 + i) > 0
               THEN shiftleft(CAST(1 AS BIGINT), i - 1) ELSE 0 END)"""))
      .withColumn("emb_d",
        expr("transform(embedding, x -> CAST(x AS DOUBLE))"))

  /** Centroid-affinity priority per vector: exact per-cell elementwise
    * BIGINT sums of millionth-quantized elements (cosine is scale-
    * invariant so the sum stands in for the mean), broadcast back. */
  private def semPrio(e0: DataFrame): DataFrame = {
    val sums = e0
      .select(col("cell"), posexplode(col("embedding")).as(Seq("jj", "x")))
      .groupBy(col("cell"), col("jj"))
      .agg(sum(floor(col("x").cast("double") * 1000000 + 0.5)
        .cast("long")).as("sq"))
      .groupBy(col("cell").as("c_cell"))
      .agg(expr(
        "transform(array_sort(collect_list(struct(jj, sq))), p -> CAST(p.sq AS DOUBLE))")
        .as("cent_d"))
    e0.join(broadcast(sums), col("cell") === col("c_cell"))
      .withColumn("prio", round(
        expr("double_dot(emb_d, cent_d)") /
          (sqrt(expr("double_dot(emb_d, emb_d)")) *
           sqrt(expr("double_dot(cent_d, cent_d)"))), 6))
      .select(col("vec_id"), col("cell"), col("emb_d"), col("prio"))
  }

  /** Corpus-adaptive band keys (bv, bc, kx, band, base, extra): 4 bands
    * of a fixed 4-bit base key (dims 4b+1..4b+4) widened by kx extra
    * sign bits (dims 16+8b+1..16+8b+kx), where kx = min(8,
    * floor(log2(n div 500))) grows with the corpus so the bucket count
    * scales WITH the data — per-bucket occupancy (and so per-doc
    * candidate count) stays constant instead of n/1024 linear growth.
    * kx derives from one count aggregate via integer bit-length
    * (length(bin(...))−1), exact in both engines; at the sf fixtures
    * (n ≤ 500) kx = 0 and the space is bit-identical to the original
    * fixed 64-cell × 4-bit scheme. `adaptive = false` pins kx = 0 (the
    * fixed reference the audit measures against). */
  private def semBands(e0: DataFrame, adaptive: Boolean): DataFrame = {
    val kTab =
      if (!adaptive) e0.sparkSession.range(1).select(lit(0).as("kx"))
      else e0.agg(count(lit(1)).as("n_vec"))
        .select(least(lit(8), when(expr("n_vec div 500") <= 0, lit(0))
          .otherwise(expr("length(bin(n_vec div 500)) - 1")))
          .cast("int").as("kx"))
    def baseKey(b: Int): String = (1 to 4).map(i =>
      s"(CASE WHEN element_at(embedding, ${4 * b + i}) > 0 " +
        s"THEN ${1 << (i - 1)} ELSE 0 END)").mkString(" + ")
    def extraKey(b: Int): String = (1 to 8).map(j =>
      s"(CASE WHEN $j <= kx AND element_at(embedding, ${16 + 8 * b + j}) > 0 " +
        s"THEN ${1 << (j - 1)} ELSE 0 END)").mkString(" + ")
    val bandRows = (0 until 4).map(b =>
      s"CAST($b AS BIGINT), CAST(${baseKey(b)} AS BIGINT), " +
        s"CAST(${extraKey(b)} AS BIGINT)").mkString(", ")
    e0.crossJoin(broadcast(kTab))
      .select(col("vec_id").as("bv"), col("cell").as("bc"), col("kx"),
        expr(s"stack(4, $bandRows) AS (band, base, extra)"))
  }

  /** Candidate pairs from the band keys. `probe` adds Hamming-≤1
    * multi-probe over the EXTRA bits (the q_sim_ann_multiband flip
    * pattern): one side of the self-join also probes each single-bit
    * flip of its extra key, recovering the pairs the widened buckets
    * split at a (kx+1)-factor key-expansion cost — O(log n) per doc,
    * never a wider bucket. At kx = 0 the probe set is the exact key
    * alone and candidates equal the fixed scheme's. */
  private def semCandsFromBands(bands: DataFrame,
      probe: Boolean): DataFrame = {
    val probed =
      if (!probe) bands.select(col("bv"), col("bc"), col("band"),
        col("base"), col("extra").as("probe"))
      else bands.select(col("bv"), col("bc"), col("band"), col("base"),
        explode(expr(
          """filter(transform(sequence(0, 8), p ->
               CASE WHEN p = 0 THEN extra
                    WHEN p <= kx THEN extra ^ shiftleft(CAST(1 AS BIGINT), p - 1)
               END),
             x -> x IS NOT NULL)""")).as("probe"))
    probed.as("x").join(bands.as("y"),
        col("x.bc") === col("y.bc") &&
        col("x.band") === col("y.band") &&
        col("x.base") === col("y.base") &&
        col("x.probe") === col("y.extra") &&
        col("x.bv") < col("y.bv"))
      .select(col("x.bv").as("a_id"), col("y.bv").as("b_id"))
      .distinct()
  }

  /** DuckDB mirrors of semE0/semBands/semCands — shared by the
    * q_dedup_semantic oracle and the audit's three schemes. */
  private val semCellSql = (1 to 6).map(i =>
    s"(CASE WHEN embedding[${58 + i}] > 0 THEN ${1 << (i - 1)} " +
      "ELSE 0 END)").mkString(" + ")
  private val semBaseSql = (1 to 4).map(i =>
    s"(CASE WHEN embedding[4 * b + $i] > 0 THEN ${1 << (i - 1)} " +
      "ELSE 0 END)").mkString(" + ")
  private val semExtraSql = (1 to 8).map(j =>
    s"(CASE WHEN $j <= kk.kx AND embedding[16 + 8 * b + $j] > 0 " +
      s"THEN ${1 << (j - 1)} ELSE 0 END)").mkString(" + ")
  private val semKkSql =
    """kk AS (
         SELECT CAST(least(8, CASE WHEN count(*) // 500 = 0 THEN 0
             ELSE length(bin(CAST(count(*) // 500 AS BIGINT))) - 1 END)
           AS INT) AS kx
         FROM embeddings)"""

  /** bands/probes/cand CTE text with a scheme suffix, matching the
    * Spark semCands construction bit for bit. */
  private def semCandSql(sfx: String, adaptive: Boolean,
      probe: Boolean): String = {
    val kx = if (adaptive) "kk.kx" else "CAST(0 AS INT)"
    val extra = if (adaptive) semExtraSql else "0"
    val probes =
      if (probe)
        s"""probes$sfx AS (
              SELECT bv, bc, band, base,
                CASE WHEN p = 0 THEN extra
                     ELSE xor(extra, CAST(1 << (p - 1) AS BIGINT)) END
                  AS probe
              FROM bands$sfx
              CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS p) ps
              WHERE p = 0 OR p <= kx),"""
      else
        s"""probes$sfx AS (
              SELECT bv, bc, band, base, extra AS probe FROM bands$sfx),"""
    s"""bands$sfx AS (
          SELECT vec_id AS bv, cell AS bc, $kx AS kx, b AS band,
            CAST($semBaseSql AS BIGINT) AS base,
            CAST($extra AS BIGINT) AS extra
          FROM e
          CROSS JOIN kk
          CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b) bs),
        $probes
        cand$sfx AS (
          SELECT DISTINCT x.bv AS a_id, y.bv AS b_id
          FROM probes$sfx x JOIN bands$sfx y
            ON x.bc = y.bc AND x.band = y.band AND x.base = y.base
           AND x.probe = y.extra AND x.bv < y.bv)"""
  }

  /** Semantic (cluster-based) dedup — the SemDeDup recipe LLM curation
    * pipelines run on embeddings (Abbas et al. 2023, public method):
    * coarse cells, a per-cell centroid, candidate pairs above a cosine
    * threshold, and within each pair DROP the member CLOSER to the
    * centroid (keep the "edge" example; ties by id). Unlike
    * q_dedup_embed (which reports pairs), this emits the actionable
    * drop list with the cell and centroid affinity that justified it.
    *
    * Scale shape: the centroid is an exact elementwise integer-sum
    * vector per cell; the ≤64-row cell table broadcasts back;
    * candidates come from the CORPUS-ADAPTIVE multi-probe sign-LSH
    * bands (semBands/semCands above), equi-joined on (cell, band,
    * base, extra) — never within-cell all-pairs, and never a fixed
    * 1024-bucket space whose per-bucket pair count grows quadratically
    * with the corpus. q_dedup_semantic_audit measures the recall of
    * this banding against the fixed reference. Priorities and pair
    * cosines round at 6dp through the sequential double_dot/
    * list_dot_product pair, so both engines pick identical losers. */
  val qDedupSemantic = Q(
    "q_dedup_semantic",
    (s, d) => {
      val e0 = semE0(s, d)
      // checkpoint the two multi-consumed stages (the audit query's
      // discipline): prio enters the verify join twice and the band
      // frame both sides of the candidate self-join — un-cut, each
      // re-entered the cell/sign-bit derivation over the corpus
      // (8 logical copies of the embeddings scan)
      val prio = semPrio(e0).localCheckpoint()
      val cand = semCandsFromBands(
        semBands(e0, adaptive = true).localCheckpoint(), probe = true)
      val verified = cand
        .join(prio.select(col("vec_id").as("pa"), col("emb_d").as("ea"),
          col("prio").as("prio_a")), col("a_id") === col("pa"))
        .join(prio.select(col("vec_id").as("pb"), col("cell").as("cb"),
          col("emb_d").as("eb"), col("prio").as("prio_b")),
          col("b_id") === col("pb"))
        .withColumn("cos_sim", round(
          expr("double_dot(ea, eb)") /
            (sqrt(expr("double_dot(ea, ea)")) *
             sqrt(expr("double_dot(eb, eb)"))), 6))
        .filter(col("cos_sim") >= 0.3)
      // drop the pair member CLOSER to the centroid (higher priority;
      // tie toward the larger id so a survivor always exists)
      verified
        .select(col("cb").as("cell"),
          when(col("prio_a") > col("prio_b") ||
            (col("prio_a") === col("prio_b") && col("a_id") > col("b_id")),
            col("a_id")).otherwise(col("b_id")).as("vec_id"),
          when(col("prio_a") > col("prio_b") ||
            (col("prio_a") === col("prio_b") && col("a_id") > col("b_id")),
            col("prio_a")).otherwise(col("prio_b")).as("prio"))
        .groupBy(col("vec_id"))
        .agg(first(col("cell")).as("cell"), first(col("prio")).as("prio"),
          count(lit(1)).as("n_dominations"))
        .orderBy(col("vec_id"))
    },
    Some {
      s"""WITH e AS (
              SELECT vec_id,
                CAST($semCellSql AS BIGINT) AS cell,
                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb_d,
                embedding
              FROM embeddings),
            $semKkSql,
            sums AS (
              SELECT cell AS c_cell,
                list(CAST(sq AS DOUBLE) ORDER BY jj) AS cent_d
              FROM (
                SELECT cell, jj,
                  CAST(sum(CAST(floor(CAST(embedding[jj + 1] AS DOUBLE)
                    * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS sq
                FROM e
                CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS jj) js
                GROUP BY cell, jj)
              GROUP BY cell),
            prio AS (
              SELECT vec_id, cell, emb_d,
                round(list_dot_product(emb_d, cent_d) /
                  (sqrt(list_dot_product(emb_d, emb_d)) *
                   sqrt(list_dot_product(cent_d, cent_d))), 6) AS prio
              FROM e JOIN sums ON cell = c_cell),
            ${semCandSql("", adaptive = true, probe = true)},
            verified AS (
              SELECT a.prio AS prio_a, b.prio AS prio_b,
                a_id, b_id, b.cell AS cb
              FROM cand
              JOIN prio a ON a_id = a.vec_id
              JOIN prio b ON b_id = b.vec_id
              WHERE round(list_dot_product(a.emb_d, b.emb_d) /
                (sqrt(list_dot_product(a.emb_d, a.emb_d)) *
                 sqrt(list_dot_product(b.emb_d, b.emb_d))), 6) >= 0.3)
            SELECT vec_id,
              any_value(cell) AS cell, any_value(prio) AS prio,
              CAST(count(*) AS BIGINT) AS n_dominations
            FROM (
              SELECT cb AS cell,
                CASE WHEN prio_a > prio_b OR (prio_a = prio_b
                  AND a_id > b_id) THEN a_id ELSE b_id END AS vec_id,
                CASE WHEN prio_a > prio_b OR (prio_a = prio_b
                  AND a_id > b_id) THEN prio_a ELSE prio_b END AS prio
              FROM verified)
            GROUP BY vec_id
            ORDER BY vec_id NULLS FIRST"""
    })

  /** Quality-aware cluster canonicalization (q_dedup_cluster_keep):
    * inside every near-dup cluster, keep the HIGHEST-QUALITY member
    * (q_text_quality's score, ties to the lowest doc_id) instead of the
    * blind min-id keeper — the selection rule real pipelines prefer,
    * because the best-formatted mirror of a page survives rather than
    * whichever crawled first. Composes two verified programs: the
    * pointer-doubling components and the scan-local quality score; the
    * oracle recomputes the same fixpoint recursively and re-ranks with
    * the same score. The argmax window partitions by cluster id
    * (cluster-bounded, never global), and the quality join is an
    * equi-join on doc_id over the cluster membership — duplicate-mass-
    * sized, not corpus-sized. */
  val qDedupClusterKeep = Q(
    "q_dedup_cluster_keep",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val members = nearComponents(s, d)
      val qual = TextOps.qTextQuality.fn(s, d)
        .select(col("doc_id"), col("quality"))
      val m = members.join(qual, "doc_id")
      val sizes = m.groupBy(col("comp"))
        .agg(count(lit(1)).as("cluster_size"))
      m.withColumn("rk", row_number().over(
          Window.partitionBy(col("comp"))
            .orderBy(col("quality").desc, col("doc_id"))))
        .filter(col("rk") === 1)
        .join(sizes, "comp")
        .filter(col("cluster_size") > 1)
        .select(col("comp"), col("cluster_size"),
          col("doc_id").as("keep_id"), col("quality").as("keep_quality"))
        .orderBy(col("comp"))
    },
    qDedupNear.oracle.map { nearSql =>
      val inner = graft.Oracle.stripOrderBy(nearSql)
      s"""WITH RECURSIVE np AS MATERIALIZED ($inner),
            edges AS MATERIALIZED (SELECT a_id AS u, b_id AS v FROM np
                      UNION SELECT b_id, a_id FROM np),
            reach(u, v) AS (
              SELECT u, u FROM (SELECT DISTINCT u FROM edges)
              UNION
              SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u),
            memb AS MATERIALIZED (SELECT u AS doc_id, min(v) AS comp
                     FROM reach GROUP BY u),
            qual AS MATERIALIZED (
              SELECT doc_id,
                round(ln(1.0 + length(text)) *
                  (1.0 - round(
                    len(list_filter(string_split(text, ' '),
                      t -> t IN ('the','a','and','of','to','in'))) * 1.0e0 /
                    len(string_split(text, ' ')), 6)), 6) AS quality
              FROM documents),
            sized AS MATERIALIZED (SELECT comp, count(*) AS cluster_size
                      FROM memb GROUP BY comp),
            ranked AS MATERIALIZED (
              SELECT m.comp, m.doc_id, q.quality,
                row_number() OVER (PARTITION BY m.comp
                  ORDER BY q.quality DESC, m.doc_id) AS rk
              FROM memb m JOIN qual q USING (doc_id))
          SELECT r.comp, s.cluster_size, r.doc_id AS keep_id,
            r.quality AS keep_quality
          FROM ranked r JOIN sized s USING (comp)
          WHERE rk = 1 AND s.cluster_size > 1
          ORDER BY comp NULLS FIRST"""
    })

  /** Banding recall audit (q_dedup_lsh_audit): the QA gate for the
    * minhash-LSH candidate generation — inside a FIXED sample
    * (doc_id < 200, a literal bound that never grows with the corpus),
    * compute the exact-Jaccard ≥ 0.5 ground-truth pairs by brute force
    * and measure what fraction the 4×4 banding recalls. The all-pairs
    * nested loop exists ONLY inside the literal-bounded sample
    * (19 900 pairs forever); the banded side reuses the registered
    * near-pair program verbatim. This is how a 100 TB pipeline audits
    * its banding parameters: sample-bounded ground truth, never a
    * corpus-wide all-pairs. */
  val qDedupLshAudit = Q(
    "q_dedup_lsh_audit",
    (s, d) => {
      val lim = 200L
      val sample = minhashWithSets(s, d)
        .filter(col("doc_id") < lim)
        .select(col("doc_id"), col("hs"), col("sz"))
      val exact = sample.as("za").join(sample.as("zb"),
          col("za.doc_id") < col("zb.doc_id"))
        .withColumn("n_common",
          expr("size(array_intersect(za.hs, zb.hs))").cast("long"))
        .withColumn("jaccard", round(col("n_common") * lit(1.0) /
          (col("za.sz") + col("zb.sz") - col("n_common")), 6))
        .select(col("za.doc_id").as("a_id"),
          col("zb.doc_id").as("b_id"), col("jaccard"))
      val truth = exact.filter(col("jaccard") >= 0.5)
      val banded = nearPairs(s, d)
        .filter(col("a_id") < lim && col("b_id") < lim)
        .select(col("a_id").as("ca"), col("b_id").as("cb"))
      val nPairs = exact.agg(count(lit(1)).as("n_pairs"))
      val nTrue = truth.agg(count(lit(1)).as("n_true"))
      val nHit = truth.join(banded,
          col("a_id") === col("ca") && col("b_id") === col("cb"),
          "left_semi")
        .agg(count(lit(1)).as("n_hit"))
      val nBand = banded.agg(count(lit(1)).as("n_banded"))
      nPairs.crossJoin(broadcast(nTrue))
        .crossJoin(broadcast(nBand))
        .crossJoin(broadcast(nHit))
        .select(col("n_pairs"), col("n_true"), col("n_banded"),
          col("n_hit"),
          when(col("n_true") === 0, lit(null).cast("double"))
            .otherwise(round(col("n_hit").cast("double") / col("n_true"),
              6)).as("recall"))
    },
    Some {
      val jac = "round(len(list_intersect(za.hs, zb.hs)) * 1.0e0 / " +
        "(za.sz + zb.sz - len(list_intersect(za.hs, zb.hs))), 6)"
      s"""$bandsCteSql,
         cand AS (
           SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.band_key = b.band_key
            AND a.doc_id < b.doc_id),
         banded AS MATERIALIZED (
           SELECT c.a_id, c.b_id FROM cand c
           JOIN shingle_sets za ON za.doc_id = c.a_id
           JOIN shingle_sets zb ON zb.doc_id = c.b_id
           WHERE c.a_id < 200 AND c.b_id < 200 AND $jac >= 0.5),
         sample AS MATERIALIZED (
           SELECT doc_id, hs, sz FROM shingle_sets WHERE doc_id < 200),
         exact_pairs AS MATERIALIZED (
           SELECT za.doc_id AS a_id, zb.doc_id AS b_id, $jac AS jaccard
           FROM sample za JOIN sample zb ON za.doc_id < zb.doc_id),
         truth AS MATERIALIZED (SELECT a_id, b_id FROM exact_pairs
                   WHERE jaccard >= 0.5),
         hit AS MATERIALIZED (
           SELECT count(*) AS n_hit FROM truth t
           WHERE EXISTS (SELECT 1 FROM banded b
                         WHERE b.a_id = t.a_id AND b.b_id = t.b_id))
         SELECT
           CAST((SELECT count(*) FROM exact_pairs) AS BIGINT) AS n_pairs,
           CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true,
           CAST((SELECT count(*) FROM banded) AS BIGINT) AS n_banded,
           CAST((SELECT n_hit FROM hit) AS BIGINT) AS n_hit,
           CASE WHEN (SELECT count(*) FROM truth) = 0 THEN NULL
             ELSE round(CAST((SELECT n_hit FROM hit) AS DOUBLE) /
               (SELECT count(*) FROM truth), 6) END AS recall"""
    })

  /** Banding audit for the semantic tier (q_dedup_semantic_audit) —
    * the q_dedup_lsh_audit discipline applied to SemDeDup's candidate
    * generation: measure the corpus-adaptive schemes against the
    * original fixed 64-cell × 4-bit space. One row per scheme with its
    * candidate-pair count (the cost column SCALE.md tracks per doc),
    * verified-pair count (cos ≥ 0.3), and recall vs the fixed
    * reference's verified set. `adaptive_base` shows the flat-bucket
    * cost floor; `adaptive_probe` (the registered q_dedup_semantic
    * instance) shows what Hamming-≤1 multi-probe recovers. On the
    * quasi-random fixture the ≥0.3 pairs sit near the 0.3 floor
    * (median cos ≈ 0.33, sign-bit agreement ≈ 0.6), the hardest recall
    * regime — real SemDeDup duplicates (cos ≥ 0.9) agree on extra bits
    * far more often, so these numbers are a lower bound. */
  val qDedupSemanticAudit = Q(
    "q_dedup_semantic_audit",
    (s, d) => {
      val e0 = semE0(s, d)
      // The audit fans out into ~12 count branches that would each
      // re-run the shared subtrees (e0 appears under every scheme's
      // band build, prio under every verify join — measured 8×
      // recomputation in the single-DAG form). Materialize each shared
      // stage ONCE; every stage is banding-bounded, so the
      // checkpoints are small at any corpus size. EAGER checkpoints
      // on purpose: a lazy persist() variant was A/B'd and recorded
      // WORSE on the bench's first (charged) run — the 12 branches
      // race to first-fill the shared caches concurrently and
      // duplicate stage work (first-run 3.9 vs 2.8 s at sf0.1;
      // steady-state favored persist 1.5 vs 2.9, but the bench
      // charges the first run).
      val prio = semPrio(e0).localCheckpoint()
      def ver(cand: DataFrame): DataFrame = cand
        .join(prio.select(col("vec_id").as("pa"), col("emb_d").as("ea")),
          col("a_id") === col("pa"))
        .join(prio.select(col("vec_id").as("pb"), col("emb_d").as("eb")),
          col("b_id") === col("pb"))
        .filter(round(
          expr("double_dot(ea, eb)") /
            (sqrt(expr("double_dot(ea, ea)")) *
             sqrt(expr("double_dot(eb, eb)"))), 6) >= 0.3)
        .select(col("a_id"), col("b_id"))
      val bandsF = semBands(e0, adaptive = false).localCheckpoint()
      val bandsA = semBands(e0, adaptive = true).localCheckpoint()
      val candF = semCandsFromBands(bandsF, probe = false).localCheckpoint()
      val candB = semCandsFromBands(bandsA, probe = false).localCheckpoint()
      val candP = semCandsFromBands(bandsA, probe = true).localCheckpoint()
      val verF = ver(candF).localCheckpoint()
      val nTrue = verF.agg(count(lit(1)).as("n_true"))
      def row(scheme: String, cand: DataFrame, v: DataFrame): DataFrame = {
        val nc = cand.agg(count(lit(1)).as("n_cand"))
        val nv = v.agg(count(lit(1)).as("n_verified"))
        val nh = v.join(verF, Seq("a_id", "b_id"), "left_semi")
          .agg(count(lit(1)).as("n_hit"))
        nc.crossJoin(broadcast(nv)).crossJoin(broadcast(nh))
          .crossJoin(broadcast(nTrue))
          .select(lit(scheme).as("scheme"), col("n_cand"),
            col("n_verified"), col("n_hit"),
            when(col("n_true") === 0, lit(null).cast("double"))
              .otherwise(round(
                col("n_hit").cast("double") / col("n_true"), 6))
              .as("recall"))
      }
      row("adaptive_base", candB, ver(candB).localCheckpoint())
        .unionByName(row("adaptive_probe", candP, ver(candP).localCheckpoint()))
        .unionByName(row("fixed_1024", candF, verF))
        .orderBy(col("scheme"))
    },
    Some {
      def verSql(sfx: String): String =
        s"""ver$sfx AS (
              SELECT a_id, b_id FROM cand$sfx
              JOIN prio a ON a_id = a.vec_id
              JOIN prio b ON b_id = b.vec_id
              WHERE round(list_dot_product(a.emb_d, b.emb_d) /
                (sqrt(list_dot_product(a.emb_d, a.emb_d)) *
                 sqrt(list_dot_product(b.emb_d, b.emb_d))), 6) >= 0.3)"""
      def hitSql(sfx: String): String =
        s"""CAST((SELECT count(*) FROM ver$sfx v WHERE EXISTS
              (SELECT 1 FROM ver_f f
               WHERE f.a_id = v.a_id AND f.b_id = v.b_id)) AS BIGINT)"""
      s"""WITH e AS (
              SELECT vec_id,
                CAST($semCellSql AS BIGINT) AS cell,
                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb_d,
                embedding
              FROM embeddings),
            $semKkSql,
            sums AS (
              SELECT cell AS c_cell,
                list(CAST(sq AS DOUBLE) ORDER BY jj) AS cent_d
              FROM (
                SELECT cell, jj,
                  CAST(sum(CAST(floor(CAST(embedding[jj + 1] AS DOUBLE)
                    * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS sq
                FROM e
                CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS jj) js
                GROUP BY cell, jj)
              GROUP BY cell),
            prio AS (
              SELECT vec_id, cell, emb_d,
                round(list_dot_product(emb_d, cent_d) /
                  (sqrt(list_dot_product(emb_d, emb_d)) *
                   sqrt(list_dot_product(cent_d, cent_d))), 6) AS prio
              FROM e JOIN sums ON cell = c_cell),
            ${semCandSql("_f", adaptive = false, probe = false)},
            ${verSql("_f")},
            ${semCandSql("_b", adaptive = true, probe = false)},
            ${verSql("_b")},
            ${semCandSql("_p", adaptive = true, probe = true)},
            ${verSql("_p")}
          SELECT scheme, n_cand, n_verified, n_hit,
            CASE WHEN n_true = 0 THEN NULL
              ELSE round(CAST(n_hit AS DOUBLE) / n_true, 6) END AS recall
          FROM (
            SELECT 'adaptive_base' AS scheme,
              CAST((SELECT count(*) FROM cand_b) AS BIGINT) AS n_cand,
              CAST((SELECT count(*) FROM ver_b) AS BIGINT) AS n_verified,
              ${hitSql("_b")} AS n_hit
            UNION ALL
            SELECT 'adaptive_probe',
              CAST((SELECT count(*) FROM cand_p) AS BIGINT),
              CAST((SELECT count(*) FROM ver_p) AS BIGINT),
              ${hitSql("_p")}
            UNION ALL
            SELECT 'fixed_1024',
              CAST((SELECT count(*) FROM cand_f) AS BIGINT),
              CAST((SELECT count(*) FROM ver_f) AS BIGINT),
              ${hitSql("_f")}) z
          CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS n_true
                      FROM ver_f) t
          ORDER BY scheme NULLS FIRST"""
    })

  /** Bloom-fronted incremental ingest (q_dedup_bloom_ingest): the
    * "bloom-fronted signature store" design the streaming comments
    * promise, made concrete — a ~KB bloom filter over the INCREMENT's
    * combined (band, band_key) keys is built in one aggregate and
    * inlined into the corpus scan's WHERE, so corpus signatures that
    * cannot collide with anything arriving die AT THE SCAN, before any
    * join or shuffle. At 100 TB this is the difference between
    * streaming the whole signature store through the probe join and
    * reading only the ~|increment|-proportional slice that might
    * match. Bloom false positives are removed by the same band
    * equi-join + exact-Jaccard verify as q_dedup_incremental, so the
    * result — and the oracle, reused verbatim — is exactly the plain
    * incremental check. */
  val qDedupBloomIngest = Q(
    "q_dedup_bloom_ingest",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val mh = minhashWithSets(s, d)
      val corpusBands = lshBands(mh.filter(col("doc_id") % 10 < 8))
        .withColumn("ck", col("band_key") * 4 + col("band"))
      val incBands = lshBands(mh.filter(col("doc_id") % 10 >= 8))
        .withColumn("ck", col("band_key") * 4 + col("band"))
      incBands.createOrReplaceTempView("inc_bands_v")
      corpusBands.createOrReplaceTempView("corpus_bands_v")
      // the sketch is a scalar subquery: evaluated once, inlined as a
      // literal into the corpus-side predicate (the broadcast)
      val pruned = s.sql("""
        SELECT doc_id, band, band_key FROM corpus_bands_v
        WHERE might_contain(
                (SELECT bloom_filter_agg(xxhash64(ck), 10000L, 100000L)
                 FROM inc_bands_v),
                xxhash64(ck))""")
      val cand = pruned.as("a")
        .join(broadcast(incBands).as("b"),
          col("a.band") === col("b.band") &&
            col("a.band_key") === col("b.band_key"))
        .select(col("b.doc_id").as("new_id"),
          col("a.doc_id").as("corpus_id"))
        .distinct()
      val sets = mh.select(col("doc_id"), col("hs"), col("sz"))
      jaccardVerify(cand, sets, "new_id", "corpus_id")
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("new_id"))
            .orderBy(col("jaccard").desc, col("corpus_id"))))
        .filter(col("rn") === 1)
        .select(col("new_id"), col("corpus_id").as("dup_of"),
          col("jaccard"))
        .orderBy(col("new_id"))
    },
    qDedupIncremental.oracle)

  /** Containment near-superset pairs (q_dedup_containment): the
    * one-sided overlap C = |A∩B| / min(|A|,|B|) ≥ 0.8 — the measure
    * that catches a small document embedded in a larger one, where
    * symmetric Jaccard is diluted by the size gap (the classic
    * quote/aggregate-page case). Candidates come from the SAME shared
    * minhash banding as q_dedup_near (both engines walk identical
    * candidate sets, so the oracle is exact); the sub/sup roles assign
    * by set size with the lower doc_id breaking ties. A production
    * corpus tuned for containment recall would band the SMALLER set's
    * shingles (prefix-filter style) — noted here because Jaccard-LSH
    * bands under-recall extreme size ratios; on this corpus the
    * containment pairs are also band-collisions, verified by the
    * all-pairs audit in DedupSpec. */
  val qDedupContainment = Q(
    "q_dedup_containment",
    (s, d) => {
      val sets = minhashWithSets(s, d)
        .select(col("doc_id"), col("hs"), col("sz"))
      val bands = lshBands(minhashWithSets(s, d))
      val cand = bands.as("a")
        .join(bands.as("b"),
          col("a.band") === col("b.band") &&
            col("a.band_key") === col("b.band_key") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .distinct()
      // Integer-exact threshold + micro-quantized emission: the
      // 0.8 cut is the cross-multiplied predicate 5*n >= 4*min(sz)
      // and the emitted ratios are exact BIGINT integer divisions —
      // no float ever crosses the hash compare (SURVEY §11/§13).
      cand
        .join(sets.as("za"), col("a_id") === col("za.doc_id"))
        .join(sets.as("zb"), col("b_id") === col("zb.doc_id"))
        .withColumn("n_common",
          expr("size(array_intersect(za.hs, zb.hs))").cast("long"))
        .filter(expr("5L * n_common >= 4L * least(za.sz, zb.sz)"))
        .selectExpr(
          "CASE WHEN za.sz < zb.sz OR (za.sz = zb.sz AND a_id < b_id)" +
            " THEN a_id ELSE b_id END AS sub_id",
          "CASE WHEN za.sz < zb.sz OR (za.sz = zb.sz AND a_id < b_id)" +
            " THEN b_id ELSE a_id END AS sup_id",
          "n_common",
          "(1000000L * n_common) div least(za.sz, zb.sz)" +
            " AS containment_micro",
          "(1000000L * n_common) div (za.sz + zb.sz - n_common)" +
            " AS jaccard_micro")
        .orderBy(col("sub_id"), col("sup_id"))
    },
    Some(s"""$bandsCteSql,
       cand AS (
         SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.band_key = b.band_key
          AND a.doc_id < b.doc_id),
       scored AS (
         SELECT a_id, b_id, za.sz AS asz, zb.sz AS bsz,
           CAST(len(list_intersect(za.hs, zb.hs)) AS BIGINT) AS n_common
         FROM cand
         JOIN shingle_sets za ON za.doc_id = a_id
         JOIN shingle_sets zb ON zb.doc_id = b_id)
       SELECT
         CASE WHEN asz < bsz OR (asz = bsz AND a_id < b_id)
           THEN a_id ELSE b_id END AS sub_id,
         CASE WHEN asz < bsz OR (asz = bsz AND a_id < b_id)
           THEN b_id ELSE a_id END AS sup_id,
         n_common,
         (1000000 * n_common) // least(asz, bsz) AS containment_micro,
         (1000000 * n_common) // (asz + bsz - n_common) AS jaccard_micro
       FROM scored
       WHERE 5 * n_common >= 4 * least(asz, bsz)
       ORDER BY sub_id NULLS FIRST, sup_id NULLS FIRST"""))

  // ---- q_text_rouge -----------------------------------------------------

  /** ROUGE-1/2 overlap on the near-dup candidates (q_text_rouge): for
    * every verified LSH pair, the clipped n-gram overlap and its F
    * score — the summarization-style evidence a dedup reviewer reads
    * next to Jaccard (Jaccard sees SETS; ROUGE weights repeated
    * n-grams, so boilerplate-heavy twins separate from true rewrites).
    * Rides the session near-pair cache; the doc set is first cut to
    * pair members by a semi-join, so every gram table is
    * PAIR-bounded, never corpus-bounded. With clipped counts the F
    * score collapses to 2·Σmin(ca,cb)/(na+nb) — one exact integer
    * micro-division per pair; pairs with no bigram overlap emit 0 via
    * the left joins. */
  val qTextRouge = Q(
    "q_text_rouge",
    (s, d) => {
      val pairs = nearPairs(s, d).select(col("a_id"), col("b_id"))
      val ids = pairs.select(col("a_id").as("doc_id"))
        .union(pairs.select(col("b_id").as("doc_id"))).distinct()
      val ws = Tables.t(s, d, "documents")
        .join(ids, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
      val uni = ws.select(col("doc_id"), explode(col("ws")).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("cnt"))
      val bi = ws.filter(size(col("ws")) >= 2)
        .select(col("doc_id"), explode(expr(
          """transform(sequence(1, size(ws) - 1),
               i -> concat(element_at(ws, i), ' ',
                           element_at(ws, i + 1)))""")).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("cnt"))
      def metrics(g: DataFrame, nm: String): DataFrame = {
        val tot = g.groupBy(col("doc_id")).agg(sum(col("cnt")).as("nt"))
        pairs
          .join(g.select(col("doc_id").as("a_id"), col("g"),
            col("cnt").as("ca")), Seq("a_id"))
          .join(g.select(col("doc_id").as("bid"), col("g").as("gb"),
            col("cnt").as("cb")),
            col("b_id") === col("bid") && col("g") === col("gb"))
          .groupBy(col("a_id"), col("b_id"))
          .agg(sum(least(col("ca"), col("cb"))).as("ov"))
          .join(tot.select(col("doc_id").as("a_id"),
            col("nt").as("na")), Seq("a_id"))
          .join(tot.select(col("doc_id").as("b_id"),
            col("nt").as("nb")), Seq("b_id"))
          .select(col("a_id"), col("b_id"),
            col("ov").cast("long").as(s"ov_$nm"),
            expr("(2000000L * ov) div (na + nb)").as(s"f${nm}_micro"))
      }
      pairs
        .join(metrics(uni, "1"), Seq("a_id", "b_id"), "left")
        .join(metrics(bi, "2"), Seq("a_id", "b_id"), "left")
        .select(col("a_id"), col("b_id"),
          coalesce(col("ov_1"), lit(0L)).as("ov_unigram"),
          coalesce(col("f1_micro"), lit(0L)).as("rouge1_f_micro"),
          coalesce(col("ov_2"), lit(0L)).as("ov_bigram"),
          coalesce(col("f2_micro"), lit(0L)).as("rouge2_f_micro"))
        .orderBy(col("a_id"), col("b_id"))
    },
    qDedupNear.oracle.map { nearSql =>
      val inner = graft.Oracle.stripOrderBy(nearSql)
      s"""WITH vp AS MATERIALIZED (SELECT a_id, b_id FROM ($inner) z),
          ids AS MATERIALIZED (SELECT a_id AS doc_id FROM vp
                  UNION SELECT b_id AS doc_id FROM vp),
          wsrc AS MATERIALIZED (
            SELECT d.doc_id, string_split(d.text, ' ') AS ws
            FROM documents d JOIN ids USING (doc_id)),
          uni AS MATERIALIZED (
            SELECT doc_id, g, CAST(count(*) AS BIGINT) AS cnt
            FROM (SELECT doc_id, unnest(ws) AS g FROM wsrc) x
            GROUP BY doc_id, g),
          bi AS MATERIALIZED (
            SELECT doc_id, g, CAST(count(*) AS BIGINT) AS cnt
            FROM (SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS g
                  FROM wsrc, LATERAL (
                    SELECT unnest(generate_series(1, len(ws) - 1)) AS i) l
                  WHERE len(ws) >= 2) x
            GROUP BY doc_id, g),
          t1 AS MATERIALIZED (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS nt
                 FROM uni GROUP BY doc_id),
          t2 AS MATERIALIZED (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS nt
                 FROM bi GROUP BY doc_id),
          m1 AS MATERIALIZED (
            SELECT vp.a_id, vp.b_id,
              CAST(sum(least(a.cnt, b.cnt)) AS BIGINT) AS ov,
              (2000000 * CAST(sum(least(a.cnt, b.cnt)) AS BIGINT))
                // (any_value(ta.nt) + any_value(tb.nt)) AS fm
            FROM vp JOIN uni a ON a.doc_id = vp.a_id
                    JOIN uni b ON b.doc_id = vp.b_id AND b.g = a.g
                    JOIN t1 ta ON ta.doc_id = vp.a_id
                    JOIN t1 tb ON tb.doc_id = vp.b_id
            GROUP BY vp.a_id, vp.b_id),
          m2 AS MATERIALIZED (
            SELECT vp.a_id, vp.b_id,
              CAST(sum(least(a.cnt, b.cnt)) AS BIGINT) AS ov,
              (2000000 * CAST(sum(least(a.cnt, b.cnt)) AS BIGINT))
                // (any_value(ta.nt) + any_value(tb.nt)) AS fm
            FROM vp JOIN bi a ON a.doc_id = vp.a_id
                    JOIN bi b ON b.doc_id = vp.b_id AND b.g = a.g
                    JOIN t2 ta ON ta.doc_id = vp.a_id
                    JOIN t2 tb ON tb.doc_id = vp.b_id
            GROUP BY vp.a_id, vp.b_id)
          SELECT vp.a_id, vp.b_id,
            coalesce(m1.ov, 0) AS ov_unigram,
            coalesce(m1.fm, 0) AS rouge1_f_micro,
            coalesce(m2.ov, 0) AS ov_bigram,
            coalesce(m2.fm, 0) AS rouge2_f_micro
          FROM vp
          LEFT JOIN m1 ON m1.a_id = vp.a_id AND m1.b_id = vp.b_id
          LEFT JOIN m2 ON m2.a_id = vp.a_id AND m2.b_id = vp.b_id
          ORDER BY vp.a_id NULLS FIRST, vp.b_id NULLS FIRST"""
    })

  // ---- q_dedup_jaccard_hist ----------------------------------------------

  /** Jaccard histogram of verified near-dup pairs
    * (q_dedup_jaccard_hist): how the similarity mass above the 0.5 cut
    * distributes across ten 0.05-wide bins — the threshold-tuning view
    * a dedup operator reads before moving the cut (a spike at the
    * boundary means the cut is load-bearing; mass at 1.0 means exact
    * clones are leaking past the hash stage). Rides the ONE shared
    * [[nearPairs]] fixpoint; the histogram itself is a pair-count
    * aggregate over a 10-row literal bucket grid. The bucket floor
    * runs on the 6dp-rounded jaccard BOTH engines already emit
    * identically, so bucket membership is deterministic. */
  val qDedupJaccardHist = Q(
    "q_dedup_jaccard_hist",
    (s, d) => {
      val hist = nearPairs(s, d)
        .select(expr("least(9L, CAST(floor((jaccard - 0.5D) * 20.0D)" +
          " AS BIGINT))").as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n_pairs"))
      val tot = hist.agg(sum(col("n_pairs")).as("tp"))
      hist.crossJoin(broadcast(tot))
        .select(col("bucket"), col("n_pairs"),
          round(expr("CAST(n_pairs AS DOUBLE) / tp"), 6).as("share"))
        .orderBy(col("bucket"))
    },
    qDedupNear.oracle.map { nearSql =>
      val inner = graft.Oracle.stripOrderBy(nearSql)
      s"""WITH np AS ($inner),
          hist AS (
            SELECT least(9, CAST(floor((jaccard - 0.5e0) * 20.0e0)
                AS BIGINT)) AS bucket,
              CAST(count(*) AS BIGINT) AS n_pairs
            FROM np GROUP BY 1),
          tot AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS tp FROM hist)
          SELECT bucket, n_pairs,
            round(CAST(n_pairs AS DOUBLE) / tp, 6) AS share
          FROM hist, tot
          ORDER BY bucket NULLS FIRST"""
    })

  val all: Seq[Q] = Seq(
    qDedupExact, qDedupMinhash, qDedupNear, qDedupSimhash, qDedupNgram,
    qDedupEmbed, qDedupDrop, qDedupSemantic, qDedupComponents,
    qDedupPrefix, qDedupSubstring, qDedupTrim, qTextContamination,
    qDedupIncremental, qDedupClusterKeep, qDedupLshAudit,
    qDedupSemanticAudit, qDedupBloomIngest, qDedupContainment,
    qTextRouge, qDedupJaccardHist)
}
