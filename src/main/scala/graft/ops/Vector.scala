package graft.ops

import graft.{Fixpoints, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** T3 similarity search (BASELINE.json north star): brute-force cosine
  * top-k as the exact baseline, sign-LSH and IVF-style bucketed variants
  * as the 100 TB scale path, plus all-pairs and multimodal joins.
  *
  * Dot products use the custom codegen Catalyst expression
  * graft.functions.FloatDot — a tight primitive loop accumulating in
  * DOUBLE, sequential left-to-right exactly like the DuckDB oracle's
  * `list_dot_product` over DOUBLE-cast lists.
  *
  * Scale notes: the probe is a 1-row broadcast (never a driver collect
  * into the plan); ANN variants prune candidates with equi-joins on
  * (bucket) / (coarse cell) so the fact side is never cross-joined.
  */
object Vector {

  /** Embeddings with the norm precomputed ONCE per vector — joins and
    * rankings then pay one dot product per pair, not three (the norms
    * side of the cosine must never be recomputed per candidate at 100 TB).
    * Dot products use the custom codegen FloatDot expression
    * (graft.functions.FloatDot) over the raw FLOAT arrays. */
  private def emb(s: SparkSession, d: String): DataFrame =
    Tables.t(s, d, "embeddings")
      .withColumn("nrm", sqrt(expr("float_dot(embedding, embedding)")))

  /** Codegen'd dot product over two FLOAT arrays (DOUBLE accumulate). */
  private def dot(a: String, b: String): Column =
    expr(s"float_dot($a, $b)")

  /** Cosine from a fresh dot and precomputed norms. */
  private def cosinePre(a: String, b: String, na: Column, nb: Column): Column =
    round(dot(a, b) / (na * nb), 6)

  /** DuckDB-side cosine between two DOUBLE-cast list columns. */
  private def cosSql(a: String, b: String): String =
    s"""round(list_dot_product($a, $b) /
        (sqrt(list_dot_product($a, $a)) *
         sqrt(list_dot_product($b, $b))), 6)"""

  private val embCte =
    """WITH e AS (
         SELECT vec_id, label,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb_d
         FROM embeddings)"""

  /** Brute-force cosine top-k vs the probe vector (vec_id 0) — the exact
    * baseline every ANN variant is measured against. */
  val qSimTopk = Q(
    "q_sim_topk",
    (s, d) => {
      val e = emb(s, d)
      val probe = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("p_emb"), col("nrm").as("p_nrm"))
      e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(probe))
        .withColumn("cos_sim",
          cosinePre("embedding", "p_emb", col("nrm"), col("p_nrm")))
        .select(col("vec_id"), col("label"), col("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(20)
    },
    Some(s"""$embCte,
             probe AS (SELECT emb_d AS p_emb FROM e WHERE vec_id = 0)
             SELECT vec_id, label, ${cosSql("emb_d", "p_emb")} AS cos_sim
             FROM e CROSS JOIN probe
             WHERE vec_id != 0
             ORDER BY cos_sim DESC NULLS LAST, vec_id NULLS FIRST
             LIMIT 20"""))

  /** Pairwise similarity ≥ τ inside label blocks (q_sim_pairs).
    *
    * Candidate generation is OR-amplified sign-LSH, not label-all-pairs:
    * 4 independent 4-bit hyperplane bands (signs of dims 1-4, 5-8, 9-12,
    * 13-16); a pair is a candidate iff it collides on ≥ 1 (band, key)
    * within its label block — an equi-join on the band key whose
    * fan-out per bucket stays bounded as blocks grow 100×. OR-ing 4
    * narrow bands (vs one 8-bit bucket) is the standard LSH recall
    * amplification: a pair at cosine c agrees per hyperplane with
    * p = 1 − arccos(c)/π, survives ≥1-of-4 bands with 1 − (1 − p⁴)⁴.
    * Exact cosine ≥ τ is then verified on candidates only; the banding
    * is mirrored in the oracle so both engines compute the same set. */
  val qSimPairs = Q(
    "q_sim_pairs",
    (s, d) => {
      def bkeySpark(b: Int): String = (1 to 4).map(i =>
        s"(CASE WHEN element_at(embedding, ${4 * b + i}) > 0 " +
          s"THEN ${1 << (i - 1)} ELSE 0 END)").mkString(" + ")
      val bandRows = (0 until 4).map(b =>
        s"CAST($b AS BIGINT), CAST(${bkeySpark(b)} AS BIGINT)")
        .mkString(", ")
      val e = emb(s, d)
      val bands = e.select(col("vec_id"), col("label"),
        expr(s"stack(4, $bandRows) AS (band, bkey)"))
      val cand = bands.as("x").join(bands.as("y"),
          col("x.label") === col("y.label") &&
          col("x.band") === col("y.band") &&
          col("x.bkey") === col("y.bkey") &&
          col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"))
        .distinct()
      cand
        .join(e.as("a"), col("a_id") === col("a.vec_id"))
        .join(e.as("b"), col("b_id") === col("b.vec_id"))
        .withColumn("cos_sim",
          cosinePre("a.embedding", "b.embedding", col("a.nrm"), col("b.nrm")))
        .filter(col("cos_sim") >= 0.3)
        .select(col("a_id"), col("b_id"), col("a.label").as("label"),
          col("cos_sim"))
        .orderBy(col("a_id"), col("b_id"))
    },
    Some {
      val bkeySql = (1 to 4).map(i =>
        s"(CASE WHEN embedding[4 * b + $i] > 0 " +
          s"THEN ${1 << (i - 1)} ELSE 0 END)").mkString(" + ")
      s"""$embCte,
             bands AS (
               SELECT vec_id, label, b AS band,
                 CAST($bkeySql AS BIGINT) AS bkey
               FROM embeddings
               CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b) bs),
             cand AS (
               SELECT DISTINCT x.vec_id AS a_id, y.vec_id AS b_id
               FROM bands x JOIN bands y
                 ON x.label = y.label AND x.band = y.band
                AND x.bkey = y.bkey AND x.vec_id < y.vec_id)
             SELECT a_id, b_id, a.label AS label,
               ${cosSql("a.emb_d", "b.emb_d")} AS cos_sim
             FROM cand
             JOIN e a ON a.vec_id = a_id
             JOIN e b ON b.vec_id = b_id
             WHERE ${cosSql("a.emb_d", "b.emb_d")} >= 0.3
             ORDER BY a_id NULLS FIRST, b_id NULLS FIRST"""
    })

  /** Sign-LSH ANN (q_sim_ann_lsh): 8-bit hyperplane bucket = signs of
    * dims 1..8; search only the probe's bucket, rank by exact cosine.
    * The bucket equality is the equi-join that makes this O(n/2^8)
    * per probe at scale. */
  val qSimAnnLsh = Q(
    "q_sim_ann_lsh",
    (s, d) => {
      val e = emb(s, d).withColumn("bucket", expr(
        """aggregate(sequence(1, 8), CAST(0 AS BIGINT),
             (acc, i) -> acc + CASE WHEN element_at(embedding, i) > 0
               THEN shiftleft(CAST(1 AS BIGINT), i - 1) ELSE 0 END)"""))
      val probe = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("p_emb"), col("nrm").as("p_nrm"),
          col("bucket").as("p_bucket"))
      e.join(broadcast(probe), col("bucket") === col("p_bucket"))
        .filter(col("vec_id") =!= 0)
        .withColumn("cos_sim",
          cosinePre("embedding", "p_emb", col("nrm"), col("p_nrm")))
        .select(col("vec_id"), col("label"), col("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(10)
    },
    Some("""WITH e AS (
              SELECT vec_id, label,
                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb_d,
                CAST((CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
                   + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
                   + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
                   + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END)
                   + (CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END)
                   + (CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END)
                   + (CASE WHEN embedding[7] > 0 THEN 64 ELSE 0 END)
                   + (CASE WHEN embedding[8] > 0 THEN 128 ELSE 0 END)
                  AS BIGINT) AS bucket
              FROM embeddings),
            probe AS (SELECT emb_d AS p_emb, bucket AS p_bucket
                      FROM e WHERE vec_id = 0)
            SELECT vec_id, label,
              round(list_dot_product(emb_d, p_emb) /
                (sqrt(list_dot_product(emb_d, emb_d)) *
                 sqrt(list_dot_product(p_emb, p_emb))), 6) AS cos_sim
            FROM e JOIN probe ON bucket = p_bucket
            WHERE vec_id != 0
            ORDER BY cos_sim DESC NULLS LAST, vec_id NULLS FIRST
            LIMIT 10"""))

  /** IVF-style ANN (q_sim_ann_ivf): coarse cells = label partitions with
    * a deterministic representative (min vec_id); probe scans only the
    * nprobe=2 nearest cells' members. At 100 TB the cell id is the
    * partition key and the representative table is broadcast. */
  val qSimAnnIvf = Q(
    "q_sim_ann_ivf",
    (s, d) => {
      val e = emb(s, d)
      val repIds = e.groupBy(col("label").as("cell"))
        .agg(min(col("vec_id")).as("rep_id"))
      val reps = e.join(repIds, col("vec_id") === col("rep_id"))
        .select(col("cell"), col("embedding").as("rep_emb"),
          col("nrm").as("rep_nrm"))
      val probe = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("p_emb"), col("nrm").as("p_nrm"))
      val nearCells = reps.crossJoin(broadcast(probe))
        .withColumn("rep_cos",
          cosinePre("rep_emb", "p_emb", col("rep_nrm"), col("p_nrm")))
        .orderBy(col("rep_cos").desc, col("cell"))
        .limit(2)
        .select(col("cell"))
      e.join(broadcast(nearCells), col("label") === col("cell"))
        .crossJoin(broadcast(probe))
        .filter(col("vec_id") =!= 0)
        .withColumn("cos_sim",
          cosinePre("embedding", "p_emb", col("nrm"), col("p_nrm")))
        .select(col("vec_id"), col("label"), col("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(10)
    },
    Some(s"""$embCte,
             reps AS (
               SELECT label AS cell, emb_d AS rep_emb
               FROM e JOIN (SELECT label AS l2, min(vec_id) AS rep_id
                            FROM e GROUP BY label) r
                 ON e.vec_id = r.rep_id),
             probe AS (SELECT emb_d AS p_emb FROM e WHERE vec_id = 0),
             near_cells AS (
               SELECT cell FROM reps CROSS JOIN probe
               ORDER BY ${cosSql("rep_emb", "p_emb")} DESC NULLS LAST, cell
               LIMIT 2)
             SELECT vec_id, label, ${cosSql("emb_d", "p_emb")} AS cos_sim
             FROM e
             JOIN near_cells ON e.label = near_cells.cell
             CROSS JOIN probe
             WHERE vec_id != 0
             ORDER BY cos_sim DESC NULLS LAST, vec_id NULLS FIRST
             LIMIT 10"""))

  /** Parameterized multi-band sign-LSH candidate search: `bands`
    * independent `bits`-wide hyperplane keys over disjoint dim slices
    * (bands*bits <= 64); a vector is a candidate iff it collides with
    * the probe on >= 1 band (OR-amplification, the q_dedup_near
    * pattern). `flip` adds 1-bit multi-probe: each band also probes the
    * `bits` Hamming-1 neighbors of the probe key, trading bits-x more
    * (broadcast-sized) probe keys for recall without widening buckets.
    * Bucket width is the scale knob q_sim_ann_lsh lacks: per-band
    * candidate cost is ~n/2^bits per probed key, so a 100 TB corpus
    * with real near-neighbor structure runs few wide bands (2x16 +
    * multi-probe -> O(n/65536) candidates); a weakly-structured corpus
    * runs many narrow bands. Candidates equi-join the broadcast probe
    * keys on (band, bkey) - the corpus is never cross-joined. */
  private[graft] def annMultiband(
      s: SparkSession, d: String, bands: Int, bits: Int, flip: Boolean,
      probeId: Long, k: Int, table: DataFrame = null): DataFrame = {
    require(bands * bits <= 64, "band slices must fit the 64-dim vector")
    val e0 = if (table == null) emb(s, d)
      else table.withColumn("nrm",
        sqrt(expr("float_dot(embedding, embedding)")))
    def bkeySpark(b: Int): String = (1 to bits).map(i =>
      s"(CASE WHEN element_at(embedding, ${bits * b + i}) > 0 " +
        s"THEN ${1 << (i - 1)} ELSE 0 END)").mkString(" + ")
    val bandRows = (0 until bands).map(b =>
      s"CAST($b AS BIGINT), CAST(${bkeySpark(b)} AS BIGINT)")
      .mkString(", ")
    val keyed = e0.select(col("vec_id"),
      expr(s"stack($bands, $bandRows) AS (band, bkey)"))
    val exact = keyed.filter(col("vec_id") === probeId)
      .select(col("band"), col("bkey"))
    val probeKeys =
      if (!flip) exact
      else exact.select(col("band"), explode(expr(
        s"array(bkey, ${(0 until bits)
          .map(j => s"bkey ^ ${1L << j}").mkString(", ")})")).as("bkey"))
    val cand = keyed.filter(col("vec_id") =!= probeId)
      .join(broadcast(probeKeys.distinct()), Seq("band", "bkey"))
      .select(col("vec_id")).distinct()
    val probe = e0.filter(col("vec_id") === probeId)
      .select(col("embedding").as("p_emb"), col("nrm").as("p_nrm"))
    cand
      .join(e0, "vec_id")
      .crossJoin(broadcast(probe))
      .withColumn("cos_sim",
        cosinePre("embedding", "p_emb", col("nrm"), col("p_nrm")))
      .select(col("vec_id"), col("label"), col("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Multi-band OR-amplified ANN (q_sim_ann_multiband): the registered
    * instance runs 16 bands x 4 bits (no flips) - tuned on the fixture,
    * whose quasi-random vectors (best cosine ~0.33) defeat wide buckets:
    * measured per-probe recall@10 vs exact is >= 0.9 on every probe
    * tried and 1.0 on probe 0 (VectorSpec asserts it). The banding is
    * mirrored in the oracle CTE so the driver hash verifies the
    * candidate generation itself, not just the rerank. */
  val qSimAnnMultiband = Q(
    "q_sim_ann_multiband",
    (s, d) => annMultiband(s, d, bands = 16, bits = 4, flip = false,
      probeId = 0L, k = 10),
    Some {
      val bkeySql = (1 to 4).map(i =>
        s"(CASE WHEN embedding[4 * b + $i] > 0 " +
          s"THEN ${1 << (i - 1)} ELSE 0 END)").mkString(" + ")
      s"""$embCte,
             keyed AS (
               SELECT vec_id, b AS band, CAST($bkeySql AS BIGINT) AS bkey
               FROM embeddings
               CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS b) bs),
             pk AS (SELECT band, bkey FROM keyed WHERE vec_id = 0),
             cand AS (
               SELECT DISTINCT k.vec_id
               FROM keyed k JOIN pk
                 ON k.band = pk.band AND k.bkey = pk.bkey
               WHERE k.vec_id != 0),
             probe AS (SELECT emb_d AS p_emb FROM e WHERE vec_id = 0)
             SELECT e.vec_id, label, ${cosSql("emb_d", "p_emb")} AS cos_sim
             FROM cand
             JOIN e ON cand.vec_id = e.vec_id
             CROSS JOIN probe
             ORDER BY cos_sim DESC NULLS LAST, e.vec_id NULLS FIRST
             LIMIT 10"""
    })

  /** Product-quantization ANN (q_sim_ann_pq): the indexing-grade
    * compression a 100 TB vector store runs — 8 subspaces x 8 dims,
    * 16 codes per subspace (deterministic one-iteration k-means:
    * sign-bucket init on the subvector's first 4 dims, centroid =
    * elementwise mean), asymmetric-distance scoring via a broadcast
    * probe lookup table, exact-cosine rerank of the top-20.
    *
    * Arithmetic is exact end to end so the oracle hash verifies the
    * CODEBOOK, not just the rerank: elements quantize to millionths
    * (BIGINT) per row, centroid means round once through a <2^53
    * double division (bit-identical across engines), LUT terms and
    * ADC scores are pure BIGINT sums. Plan shape: the only corpus
    * shuffles are the two training aggregates (codes, centroids);
    * the 1024-row codebook and 128-row LUT broadcast; scoring is a
    * scan-local 8-rows-per-vector join + one aggregate; top-20 is a
    * TakeOrderedAndProject. */
  /** (vec_id, j, xq): 0-based dim, value in exact millionths. */
  private[graft] def pqElems(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
      posexplode(col("embedding")).as(Seq("j", "x")))
      .select(col("vec_id"), col("j"),
        floor(col("x").cast("double") * 1000000 + 0.5)
          .cast("long").as("xq"))

  /** PQ code per (vector, subspace): 4 sign bits of dims 0..3. */
  private[graft] def pqCodes(elems: DataFrame): DataFrame =
    elems
      .groupBy(col("vec_id"), (col("j") / 8).cast("long").as("m"))
      .agg(sum(when(col("j") % 8 < 4 && col("xq") > 0,
        expr("shiftleft(CAST(1 AS BIGINT), CAST(j % 8 AS INT))"))
        .otherwise(0L)).as("code"))

  /** The trained PQ index as shared persisted fixpoints: codes are
    * 8 rows per vector (the compact artifact a vector store actually
    * persists), the LUT 128 rows. THREE registered consumers (PQ,
    * IVF+PQ, and the eval harness replaying both) each re-derived the
    * elems→codes→cent→lut chain before this — the training explode
    * re-entered every reference (10 logical embeddings scans in
    * q_sim_ann_ivfpq alone). */
  private[graft] def pqCodesShared(s: SparkSession, d: String): DataFrame =
    Fixpoints.cacheOnce(s, d, "pqcodes") {
      pqCodes(pqElems(emb(s, d)))
    }

  private[graft] def pqLutShared(s: SparkSession, d: String): DataFrame =
    Fixpoints.cacheOnce(s, d, "pqlut") {
      pqLut(pqElems(emb(s, d)), pqCodesShared(s, d))
    }

  /** Probe (vec 0) asymmetric-distance lookup table over the trained
    * codebook: (lm, lcode, lut) — 128 rows, broadcast by consumers. */
  private[graft] def pqLut(elems: DataFrame, codes: DataFrame): DataFrame = {
    // codebook: elementwise mean per (subspace, code), rounded once
    val cent = elems
      .join(codes, Seq("vec_id"))
      .filter((col("j") / 8).cast("long") === col("m"))
      .groupBy(col("m"), col("code"), (col("j") % 8).as("jj"))
      .agg(floor(sum(col("xq")).cast("double") / count(lit(1)) + 0.5)
        .cast("long").as("cq"))
    val pelems = elems.filter(col("vec_id") === 0)
      .select((col("j") / 8).cast("long").as("pm"),
        (col("j") % 8).as("pjj"), col("xq").as("pxq"))
    cent
      .join(broadcast(pelems),
        col("pm") === col("m") && col("pjj") === col("jj"))
      .groupBy(col("m").as("lm"), col("code").as("lcode"))
      .agg(sum(col("pxq") * col("cq")).as("lut"))
  }

  /** The PQ training CTEs (elems → codes → cent → pelems → lut),
    * shared verbatim by the PQ and IVF+PQ oracles. */
  private val pqCteSql =
    """elems AS (
         SELECT vec_id, j - 1 AS j,
           CAST(floor(CAST(embedding[j] AS DOUBLE) * 1000000 + 0.5)
             AS BIGINT) AS xq
         FROM embeddings
         CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS j) js),
       codes AS (
         SELECT vec_id, j // 8 AS m,
           CAST(sum(CASE WHEN j % 8 < 4 AND xq > 0
             THEN (1 << (j % 8)) ELSE 0 END) AS BIGINT) AS code
         FROM elems GROUP BY vec_id, j // 8),
       cent AS (
         SELECT c.m, c.code, el.j % 8 AS jj,
           CAST(floor(CAST(sum(el.xq) AS DOUBLE) / count(*) + 0.5)
             AS BIGINT) AS cq
         FROM elems el JOIN codes c
           ON el.vec_id = c.vec_id AND el.j // 8 = c.m
         GROUP BY c.m, c.code, el.j % 8),
       pelems AS (
         SELECT j // 8 AS pm, j % 8 AS pjj, xq AS pxq
         FROM elems WHERE vec_id = 0),
       lut AS (
         SELECT m AS lm, code AS lcode,
           CAST(sum(pxq * cq) AS BIGINT) AS lut
         FROM cent JOIN pelems ON pm = m AND pjj = jj
         GROUP BY m, code)"""

  val qSimAnnPq = Q(
    "q_sim_ann_pq",
    (s, d) => {
      val e = emb(s, d)
      val codes = pqCodesShared(s, d)
      val lut = pqLutShared(s, d)
      // ADC score: sum the 8 table entries each vector's codes select
      val scores = codes.filter(col("vec_id") =!= 0)
        .join(broadcast(lut),
          col("m") === col("lm") && col("code") === col("lcode"))
        .groupBy(col("vec_id"))
        .agg(sum(col("lut")).as("score"))
      val cand = scores
        .orderBy(col("score").desc, col("vec_id"))
        .limit(20)
        .select(col("vec_id"))
      val probe = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("p_emb"), col("nrm").as("p_nrm"))
      cand
        .join(e, "vec_id")
        .crossJoin(broadcast(probe))
        .withColumn("cos_sim",
          cosinePre("embedding", "p_emb", col("nrm"), col("p_nrm")))
        .select(col("vec_id"), col("label"), col("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(10)
    },
    Some(s"""$embCte,
             $pqCteSql,
             scores AS (
               SELECT c.vec_id, CAST(sum(l.lut) AS BIGINT) AS score
               FROM codes c JOIN lut l ON c.m = l.lm AND c.code = l.lcode
               WHERE c.vec_id != 0
               GROUP BY c.vec_id),
             cand AS (
               SELECT vec_id FROM scores
               ORDER BY score DESC, vec_id LIMIT 20),
             probe AS (SELECT emb_d AS p_emb FROM e WHERE vec_id = 0)
             SELECT e.vec_id, label, ${cosSql("emb_d", "p_emb")} AS cos_sim
             FROM cand
             JOIN e ON cand.vec_id = e.vec_id
             CROSS JOIN probe
             ORDER BY cos_sim DESC NULLS LAST, e.vec_id NULLS FIRST
             LIMIT 10"""))

  /** IVF+PQ ANN (q_sim_ann_ivfpq): the FAISS-standard index layout —
    * the coarse IVF probe (q_sim_ann_ivf's nprobe=2 cell selection)
    * restricts the scan to the probed cells' members, and within them
    * scoring is PQ asymmetric distance against the broadcast LUT
    * (q_sim_ann_pq's trained codebook), with an exact-cosine rerank of
    * the top-20. This is the composition a 100 TB vector store
    * actually serves: the cell id is the partition key (only nprobe
    * partitions are read), the codebook/LUT are fixed-size broadcasts,
    * and full-precision vectors are touched only for the 20 rerank
    * rows. Arithmetic is the PQ op's exact integer pipeline, so the
    * oracle hash-checks codebook, cell routing, and rerank together. */
  val qSimAnnIvfPq = Q(
    "q_sim_ann_ivfpq",
    (s, d) => {
      val e = emb(s, d)
      // coarse probe: 2 nearest cell representatives
      val repIds = e.groupBy(col("label").as("cell"))
        .agg(min(col("vec_id")).as("rep_id"))
      val reps = e.join(repIds, col("vec_id") === col("rep_id"))
        .select(col("cell"), col("embedding").as("rep_emb"),
          col("nrm").as("rep_nrm"))
      val probe = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("p_emb"), col("nrm").as("p_nrm"))
      val nearCells = reps.crossJoin(broadcast(probe))
        .withColumn("rep_cos",
          cosinePre("rep_emb", "p_emb", col("rep_nrm"), col("p_nrm")))
        .orderBy(col("rep_cos").desc, col("cell"))
        .limit(2)
        .select(col("cell"))
      // PQ codebook + probe LUT: the shared trained index
      val codes = pqCodesShared(s, d)
      val lut = pqLutShared(s, d)
      // ADC scoring ONLY over the probed cells' members
      val members = e
        .join(broadcast(nearCells), col("label") === col("cell"))
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"))
      val scores = codes.join(members, "vec_id")
        .join(broadcast(lut),
          col("m") === col("lm") && col("code") === col("lcode"))
        .groupBy(col("vec_id"))
        .agg(sum(col("lut")).as("score"))
      val cand = scores
        .orderBy(col("score").desc, col("vec_id"))
        .limit(20)
        .select(col("vec_id"))
      cand
        .join(e, "vec_id")
        .crossJoin(broadcast(probe))
        .withColumn("cos_sim",
          cosinePre("embedding", "p_emb", col("nrm"), col("p_nrm")))
        .select(col("vec_id"), col("label"), col("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(10)
    },
    Some(s"""$embCte,
             $pqCteSql,
             reps AS (
               SELECT label AS cell, emb_d AS rep_emb
               FROM e JOIN (SELECT label AS l2, min(vec_id) AS rep_id
                            FROM e GROUP BY label) r
                 ON e.vec_id = r.rep_id),
             probe AS (SELECT emb_d AS p_emb FROM e WHERE vec_id = 0),
             near_cells AS (
               SELECT cell FROM reps CROSS JOIN probe
               ORDER BY ${cosSql("rep_emb", "p_emb")} DESC NULLS LAST, cell
               LIMIT 2),
             members AS (
               SELECT vec_id FROM e
               JOIN near_cells ON e.label = near_cells.cell
               WHERE vec_id != 0),
             scores AS (
               SELECT c.vec_id, CAST(sum(l.lut) AS BIGINT) AS score
               FROM codes c
               JOIN members mm ON c.vec_id = mm.vec_id
               JOIN lut l ON c.m = l.lm AND c.code = l.lcode
               GROUP BY c.vec_id),
             cand AS (
               SELECT vec_id FROM scores
               ORDER BY score DESC, vec_id LIMIT 20)
             SELECT e.vec_id, label, ${cosSql("emb_d", "p_emb")} AS cos_sim
             FROM cand
             JOIN e ON cand.vec_id = e.vec_id
             CROSS JOIN probe
             ORDER BY cos_sim DESC NULLS LAST, e.vec_id NULLS FIRST
             LIMIT 10"""))

  /** Threshold sensitivity curve (q_sim_threshold_curve): how many
    * verified near-dup pairs survive each candidate cosine threshold —
    * the table an operator reads before moving the dedup operating
    * point, because "how much MORE would 0.4 drop than 0.5" is
    * unanswerable from a single-threshold run. Buckets the registered
    * banded pair program's exact cosines at 0.1 width and emits, per
    * bucket, the pair count and the surviving count at-or-above it
    * (the descending cumulative — a running-sum window over the
    * ≤8-row bucket table; the bucket domain is bounded by the cosine
    * range, so the global window is a bounded-grid window, not a
    * corpus sort — r17: the broadcast self-join form consumed the
    * bucket table twice, re-running the WHOLE banded pair program per
    * consumption, 8 embeddings scans where this runs 4). Composes
    * q_sim_pairs verbatim, so the driver hash-checks the curve
    * against the same program production runs. */
  val qSimThresholdCurve = Q(
    "q_sim_threshold_curve",
    (s, d) => {
      val b = qSimPairs.fn(s, d)
        .select(floor(col("cos_sim") * 10).cast("long").as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_pairs"))
      b.withColumn("n_surviving",
          sum(col("n_pairs")).over(Window.orderBy(col("bucket").desc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .orderBy(col("bucket"))
    },
    qSimPairs.oracle.map { pairsSql =>
      val inner = graft.Oracle.stripOrderBy(pairsSql)
      s"""WITH p AS (SELECT cos_sim FROM ($inner) z),
            b AS (
              SELECT CAST(floor(cos_sim * 10) AS BIGINT) AS bucket,
                CAST(count(*) AS BIGINT) AS n_pairs
              FROM p GROUP BY 1)
          SELECT b1.bucket, b1.n_pairs,
            CAST(sum(b2.n_pairs) AS BIGINT) AS n_surviving
          FROM b b1 JOIN b b2 ON b2.bucket >= b1.bucket
          GROUP BY b1.bucket, b1.n_pairs
          ORDER BY b1.bucket NULLS FIRST"""
    })

  /** Multimodal row (q_multimodal): text table joined to the vector
    * table, both modalities carried in one relation. */
  val qMultimodal = Q(
    "q_multimodal",
    (s, d) =>
      Tables.t(s, d, "documents")
        .join(emb(s, d), col("doc_id") === col("vec_id"))
        .select(
          col("doc_id"), col("lang"), col("label"),
          col("n_chars"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"),
          round(col("nrm"), 6).as("emb_norm"))
        .orderBy(col("doc_id")),
    Some(s"""$embCte
             SELECT doc_id, lang, label, n_chars,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               round(sqrt(list_dot_product(emb_d, emb_d)), 6) AS emb_norm
             FROM documents JOIN e ON doc_id = vec_id
             ORDER BY doc_id NULLS FIRST"""))

  /** Int8 embedding quantization (q_sim_quantize): the 4× storage
    * reduction a 100 TB vector store runs before indexing. Quantize to
    * round(x·127), dequantize back to FLOAT, and report reconstruction
    * fidelity (cosine vs original, max abs error). x·127 is exact in
    * double (24-bit × 7-bit mantissas), so both engines round the same
    * values; the FLOAT narrowing is IEEE on both sides. */
  val qSimQuantize = Q(
    "q_sim_quantize",
    (s, d) => {
      val e = emb(s, d).withColumn("deq", expr(
        """transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 127) / 127.0 AS FLOAT))"""))
      e.select(
          col("vec_id"),
          round(dot("embedding", "deq") /
            (col("nrm") * sqrt(dot("deq", "deq"))), 6).as("cos_fidelity"),
          round(expr(
            """aggregate(zip_with(embedding, deq,
                 (x, y) -> abs(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),
               CAST(0 AS DOUBLE), (acc, v) -> greatest(acc, v))"""), 6)
            .as("max_abs_err"))
        .orderBy(col("vec_id"))
    },
    Some("""WITH e AS (
              SELECT vec_id,
                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb_d,
                list_transform(embedding,
                  x -> CAST(CAST(round(CAST(x AS DOUBLE) * 127) / 127.0
                       AS FLOAT) AS DOUBLE)) AS deq_d
              FROM embeddings)
            SELECT vec_id,
              round(list_dot_product(emb_d, deq_d) /
                (sqrt(list_dot_product(emb_d, emb_d)) *
                 sqrt(list_dot_product(deq_d, deq_d))), 6) AS cos_fidelity,
              round(list_max(list_transform(
                list_zip(emb_d, deq_d),
                p -> abs(p[1] - p[2]))), 6) AS max_abs_err
            FROM e
            ORDER BY vec_id NULLS FIRST"""))

  /** k-NN self-join (q_sim_knn_join): every vector's top-3 neighbors by
    * cosine — the whole-corpus ANN join behind embedding-level dedup and
    * retrieval-index bootstrapping, not a single-probe lookup. Candidates
    * come from the same OR-amplified 4×4-bit sign-LSH bands as
    * q_sim_pairs (equi-join per band, both directions since neighbor
    * lists are asymmetric); exact cosine is computed per candidate and a
    * per-source row_number window keeps the 3 best (rounded-cosine desc,
    * neighbor id asc — deterministic on both engines). */
  val qSimKnnJoin = Q(
    "q_sim_knn_join",
    (s, d) => {
      def bkeySpark(b: Int): String = (1 to 4).map(i =>
        s"(CASE WHEN element_at(embedding, ${4 * b + i}) > 0 " +
          s"THEN ${1 << (i - 1)} ELSE 0 END)").mkString(" + ")
      val bandRows = (0 until 4).map(b =>
        s"CAST($b AS BIGINT), CAST(${bkeySpark(b)} AS BIGINT)")
        .mkString(", ")
      val e = emb(s, d)
      val bands = e.select(col("vec_id"), col("label"),
        expr(s"stack(4, $bandRows) AS (band, bkey)"))
      val cand = bands.as("x").join(bands.as("y"),
          col("x.label") === col("y.label") &&
          col("x.band") === col("y.band") &&
          col("x.bkey") === col("y.bkey") &&
          col("x.vec_id") =!= col("y.vec_id"))
        .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"))
        .distinct()
      cand
        .join(e.as("a"), col("a_id") === col("a.vec_id"))
        .join(e.as("b"), col("b_id") === col("b.vec_id"))
        .withColumn("cos_sim",
          cosinePre("a.embedding", "b.embedding", col("a.nrm"), col("b.nrm")))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("a_id"))
            .orderBy(col("cos_sim").desc, col("b_id"))).cast("long"))
        .filter(col("rn") <= 3)
        .select(col("a_id"), col("rn"), col("b_id"), col("cos_sim"))
        .orderBy(col("a_id"), col("rn"))
    },
    Some {
      val bkeySql = (1 to 4).map(i =>
        s"(CASE WHEN embedding[4 * b + $i] > 0 " +
          s"THEN ${1 << (i - 1)} ELSE 0 END)").mkString(" + ")
      s"""$embCte,
             bands AS (
               SELECT vec_id, label, b AS band,
                 CAST($bkeySql AS BIGINT) AS bkey
               FROM embeddings
               CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b) bs),
             cand AS (
               SELECT DISTINCT x.vec_id AS a_id, y.vec_id AS b_id
               FROM bands x JOIN bands y
                 ON x.label = y.label AND x.band = y.band
                AND x.bkey = y.bkey AND x.vec_id != y.vec_id),
             scored AS (
               SELECT a_id, b_id,
                 ${cosSql("a.emb_d", "b.emb_d")} AS cos_sim
               FROM cand
               JOIN e a ON a.vec_id = a_id
               JOIN e b ON b.vec_id = b_id)
             SELECT a_id, rn, b_id, cos_sim FROM (
               SELECT a_id, b_id, cos_sim,
                 CAST(row_number() OVER (PARTITION BY a_id
                   ORDER BY cos_sim DESC, b_id) AS BIGINT) AS rn
               FROM scored)
             WHERE rn <= 3
             ORDER BY a_id NULLS FIRST, rn NULLS FIRST"""
    })

  /** Hard-negative mining (q_sim_hardneg): for every anchor, the two
    * most-similar vectors of a DIFFERENT label — the contrastive-
    * training pairs an embedding-model pipeline mines. Candidates are
    * cross-label sign-LSH bucket collisions (same band key, different
    * class = "similar direction, wrong label" — hard by construction),
    * so the pair space is the bucket equi-join's output, never an
    * all-pairs scan; the per-anchor top-2 is a single rank predicate
    * (partial WindowGroupLimit, map-side prune).
    *
    * Banding is CORPUS-ADAPTIVE (the q_dedup_semantic scheme): the
    * fixed 4-bit band key widens by kx = min(8, log2(n div 500)) extra
    * sign bits with Hamming-≤1 multi-probe on the anchor side, so
    * per-bucket occupancy — and the cross-label pair count — stays
    * ~constant as the corpus grows. The round-12 smoke caught the
    * fixed 64-bucket form at 46× cost for a 10× corpus (cross-label
    * collisions are ~9× denser than knn_join's same-label ones);
    * adaptive banding restores the data-linear path. Rounded-cosine
    * ordering as q_sim_knn_join keeps the top-2 cut
    * engine-independent. */
  val qSimHardneg = Q(
    "q_sim_hardneg",
    (s, d) => {
      def baseKey(b: Int): String = (1 to 4).map(i =>
        s"(CASE WHEN element_at(embedding, ${4 * b + i}) > 0 " +
          s"THEN ${1 << (i - 1)} ELSE 0 END)").mkString(" + ")
      def extraKey(b: Int): String = (1 to 8).map(j =>
        s"(CASE WHEN $j <= kx AND " +
          s"element_at(embedding, ${16 + 8 * b + j}) > 0 " +
          s"THEN ${1 << (j - 1)} ELSE 0 END)").mkString(" + ")
      val e = emb(s, d)
      val kTab = e.agg(count(lit(1)).as("n_vec"))
        .select(least(lit(8), when(expr("n_vec div 500") <= 0, lit(0))
          .otherwise(expr("length(bin(n_vec div 500)) - 1")))
          .cast("int").as("kx"))
      val bandRows = (0 until 4).map(b =>
        s"CAST($b AS BIGINT), CAST(${baseKey(b)} AS BIGINT), " +
          s"CAST(${extraKey(b)} AS BIGINT)").mkString(", ")
      // r18: band/probe construction is the query's heaviest map work
      // (4 band keys + up to 9 multi-probes per vector), and a
      // single-row-group embeddings file serializes it on one core
      // (measured: a 0.5 s single-task job). Fan the narrow scan out
      // (guide §2.5) for the banding side only — the rerank joins stay
      // on the raw scan, whose per-row work is one dot product per
      // candidate. Identity at production row-group counts.
      val eBand = Tables.fanOutNarrow(s,
        e.select(col("vec_id"), col("label"), col("embedding")),
        col("vec_id"))
      val bands = eBand.crossJoin(broadcast(kTab))
        .select(col("vec_id"), col("label"), col("kx"),
          expr(s"stack(4, $bandRows) AS (band, base, extra)"))
      val probed = bands.select(col("vec_id"), col("label"),
        col("band"), col("base"),
        explode(expr(
          """filter(transform(sequence(0, 8), p ->
               CASE WHEN p = 0 THEN extra
                    WHEN p <= kx THEN extra ^ shiftleft(CAST(1 AS BIGINT), p - 1)
               END),
             x -> x IS NOT NULL)""")).as("probe"))
      val cand = probed.as("x").join(bands.as("y"),
          col("x.band") === col("y.band") &&
          col("x.base") === col("y.base") &&
          col("x.probe") === col("y.extra") &&
          col("x.label") =!= col("y.label"))
        .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("neg_id"))
        .distinct()
      cand
        .join(e.as("a"), col("a_id") === col("a.vec_id"))
        .join(e.as("b"), col("neg_id") === col("b.vec_id"))
        .withColumn("cos_sim",
          cosinePre("a.embedding", "b.embedding", col("a.nrm"), col("b.nrm")))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("a_id"))
            .orderBy(col("cos_sim").desc, col("neg_id"))).cast("long"))
        .filter(col("rn") <= 2)
        .select(col("a_id"), col("rn"), col("neg_id"),
          col("b.label").as("neg_label"), col("cos_sim"))
        .orderBy(col("a_id"), col("rn"))
    },
    Some {
      val baseSql = (1 to 4).map(i =>
        s"(CASE WHEN embedding[4 * b + $i] > 0 " +
          s"THEN ${1 << (i - 1)} ELSE 0 END)").mkString(" + ")
      val extraSql = (1 to 8).map(j =>
        s"(CASE WHEN $j <= kk.kx AND embedding[16 + 8 * b + $j] > 0 " +
          s"THEN ${1 << (j - 1)} ELSE 0 END)").mkString(" + ")
      s"""$embCte,
             kk AS (
               SELECT CAST(least(8, CASE WHEN count(*) // 500 = 0 THEN 0
                   ELSE length(bin(CAST(count(*) // 500 AS BIGINT))) - 1
                   END) AS INT) AS kx
               FROM embeddings),
             bands AS (
               SELECT vec_id, label, kk.kx AS kx, b AS band,
                 CAST($baseSql AS BIGINT) AS base,
                 CAST($extraSql AS BIGINT) AS extra
               FROM embeddings
               CROSS JOIN kk
               CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b) bs),
             probes AS (
               SELECT vec_id, label, band, base,
                 CASE WHEN p = 0 THEN extra
                      ELSE xor(extra, CAST(1 << (p - 1) AS BIGINT)) END
                   AS probe
               FROM bands
               CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS p) ps
               WHERE p = 0 OR p <= kx),
             cand AS (
               SELECT DISTINCT x.vec_id AS a_id, y.vec_id AS neg_id
               FROM probes x JOIN bands y
                 ON x.band = y.band AND x.base = y.base
                AND x.probe = y.extra AND x.label != y.label),
             scored AS (
               SELECT a_id, neg_id, b.label AS neg_label,
                 ${cosSql("a.emb_d", "b.emb_d")} AS cos_sim
               FROM cand
               JOIN e a ON a.vec_id = a_id
               JOIN e b ON b.vec_id = neg_id)
             SELECT a_id, rn, neg_id, neg_label, cos_sim FROM (
               SELECT a_id, neg_id, neg_label, cos_sim,
                 CAST(row_number() OVER (PARTITION BY a_id
                   ORDER BY cos_sim DESC, neg_id) AS BIGINT) AS rn
               FROM scored)
             WHERE rn <= 2
             ORDER BY a_id NULLS FIRST, rn NULLS FIRST"""
    })

  /** Per-label centroid distance (q_sim_centroid): mean vector per label
    * (position-wise two-phase avg over a posexplode — one shuffle keyed
    * by (label, pos), never a collect) joined back position-wise to
    * score each member's cosine against its own centroid — the cluster
    * cohesion / outlier signal an embedding-curation pass runs. All
    * arithmetic in DOUBLE on both engines. */
  val qSimCentroid = Q(
    "q_sim_centroid",
    (s, d) => {
      val pos = Tables.t(s, d, "embeddings")
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("pos", "x")))
        .withColumn("x", col("x").cast("double"))
      // centroid components snapped to 6 decimals on BOTH engines: the
      // avg is the one order-sensitive float reduction here, and
      // snapping it makes every downstream product/sum engine-identical
      val cent = pos.groupBy(col("label").as("c_label"), col("pos").as("c_pos"))
        .agg(round(avg(col("x")), 6).as("cx"))
      pos.join(cent,
          col("label") === col("c_label") && col("pos") === col("c_pos"))
        .groupBy(col("vec_id"), col("label"))
        .agg(
          sum(col("x") * col("cx")).as("dot"),
          sum(col("x") * col("x")).as("nv"),
          sum(col("cx") * col("cx")).as("nc"))
        .select(col("vec_id"), col("label"),
          round(col("dot") / (sqrt(col("nv")) * sqrt(col("nc"))), 6)
            .as("cos_to_centroid"))
        .orderBy(col("vec_id"))
    },
    Some("""WITH pos AS (
              SELECT vec_id, label, i - 1 AS pos,
                CAST(embedding[i] AS DOUBLE) AS x
              FROM embeddings
              CROSS JOIN LATERAL (SELECT unnest(generate_series(1,
                len(embedding))) AS i) ix),
            cent AS (
              SELECT label AS c_label, pos AS c_pos,
                round(avg(x), 6) AS cx
              FROM pos GROUP BY label, pos)
            SELECT vec_id, label,
              round(sum(x * cx) /
                (sqrt(sum(x * x)) * sqrt(sum(cx * cx))), 6)
                AS cos_to_centroid
            FROM pos JOIN cent
              ON label = c_label AND pos = c_pos
            GROUP BY vec_id, label
            ORDER BY vec_id NULLS FIRST"""))

  /** ANN quality evaluation (q_sim_recall): recall@10 of the sign-LSH
    * probe against the exact brute-force top-10 — the metric that
    * decides whether a bucketed index is allowed to replace the exact
    * scan in a pipeline. Join of two tiny result sets; both sides reuse
    * the registered operators so the evaluation measures exactly what
    * runs in production. On a corpus with planted duplicates the copy is
    * recalled (VectorSpec); on quasi-random vectors with NO true near
    * neighbors recall is legitimately ~0 — the LSH contract is "find
    * near things", and this gate is how a pipeline learns to route such
    * workloads to the IVF or exact path instead. */
  val qSimRecall = Q(
    "q_sim_recall",
    (s, d) => {
      val exact = qSimTopk.fn(s, d).limit(10).select(col("vec_id"))
      val ann = qSimAnnLsh.fn(s, d).select(col("vec_id").as("a_vid"))
      exact.join(ann, col("vec_id") === col("a_vid"), "left")
        .agg(count(lit(1)).as("k"), count(col("a_vid")).as("n_hit"))
        .select(col("k"), col("n_hit"),
          round(col("n_hit") * lit(1.0) / col("k"), 6).as("recall_at_10"))
    },
    for (exactSql <- qSimTopk.oracle; annSql <- qSimAnnLsh.oracle) yield
      s"""SELECT CAST(count(*) AS BIGINT) AS k,
            CAST(count(a_vid) AS BIGINT) AS n_hit,
            round(count(a_vid) * 1.0e0 / count(*), 6) AS recall_at_10
          FROM (SELECT vec_id FROM ($exactSql)
                ORDER BY cos_sim DESC, vec_id LIMIT 10) e
          LEFT JOIN (SELECT vec_id AS a_vid FROM ($annSql)) a
            ON e.vec_id = a.a_vid""")

  /** ANN evaluation harness (q_sim_ann_eval): recall@10 of every ANN
    * variant against the exact brute-force top-10, one row per variant
    * — the gate a pipeline consults before routing a corpus to an
    * index. Each variant's registered query is reused verbatim (same
    * plan as production) and its oracle SQL composes into this one, so
    * the driver hash-checks the whole evaluation. On the driver's
    * quasi-random fixture multiband wins (OR-amplified narrow bands);
    * on corpora with genuine near-neighbor structure the wide-band /
    * PQ configurations take over — which is exactly the decision this
    * table feeds. */
  val qSimAnnEval = Q(
    "q_sim_ann_eval",
    (s, d) => {
      // 10-row reference set probed by all five variant branches —
      // checkpointed so the exact brute-force pass runs once instead
      // of re-entering each union branch's lineage (37 logical copies
      // of the embeddings scan in the un-cut form)
      val exact = qSimTopk.fn(s, d).limit(10).select(col("vec_id"))
        .localCheckpoint()
      def recallOf(name: String, v: Q) = {
        val ann = v.fn(s, d).select(col("vec_id").as("a_vid"))
        exact.join(ann, col("vec_id") === col("a_vid"), "left")
          .agg(count(lit(1)).as("k"), count(col("a_vid")).as("n_hit"))
          .select(lit(name).as("variant"), col("k"), col("n_hit"),
            round(col("n_hit") * lit(1.0) / col("k"), 6)
              .as("recall_at_10"))
      }
      recallOf("ivf", qSimAnnIvf)
        .unionAll(recallOf("ivfpq", qSimAnnIvfPq))
        .unionAll(recallOf("lsh", qSimAnnLsh))
        .unionAll(recallOf("multiband", qSimAnnMultiband))
        .unionAll(recallOf("pq", qSimAnnPq))
        .orderBy(col("variant"))
    },
    for {
      exactSql <- qSimTopk.oracle
      ivfSql <- qSimAnnIvf.oracle
      ivfpqSql <- qSimAnnIvfPq.oracle
      lshSql <- qSimAnnLsh.oracle
      mbSql <- qSimAnnMultiband.oracle
      pqSql <- qSimAnnPq.oracle
    } yield {
      def one(name: String, annSql: String) =
        s"""SELECT '$name' AS variant, CAST(count(*) AS BIGINT) AS k,
              CAST(count(a_vid) AS BIGINT) AS n_hit,
              round(count(a_vid) * 1.0e0 / count(*), 6) AS recall_at_10
            FROM (SELECT vec_id FROM ($exactSql)
                  ORDER BY cos_sim DESC, vec_id LIMIT 10) e
            LEFT JOIN (SELECT vec_id AS a_vid FROM ($annSql)) a
              ON e.vec_id = a.a_vid"""
      s"""SELECT * FROM (
            ${one("ivf", ivfSql)}
            UNION ALL ${one("ivfpq", ivfpqSql)}
            UNION ALL ${one("lsh", lshSql)}
            UNION ALL ${one("multiband", mbSql)}
            UNION ALL ${one("pq", pqSql)})
          ORDER BY variant NULLS FIRST"""
    })

  /** k-NN classification (q_ml_knn_classify): every 10th vector is a
    * held-out query, classified by majority vote of its 5 nearest
    * sign-LSH bucket-mates among the rest; output is per-label accuracy.
    * The candidate join is the SAME equi-join on the 8-bit hyperplane
    * bucket as q_sim_ann_lsh — test×train pairs exist only inside a
    * bucket (≈ n/256 of the corpus per probe), never all-pairs. Votes
    * are integer counts with tie-break toward the smaller label, so
    * prediction is engine-exact; only the ranking cosine is float, and
    * it is rounded with vec_id tie-break before the cut. */
  val qMlKnnClassify = Q(
    "q_ml_knn_classify",
    (s, d) => {
      val e = emb(s, d).withColumn("bucket", expr(
        """aggregate(sequence(1, 8), CAST(0 AS BIGINT),
             (acc, i) -> acc + CASE WHEN element_at(embedding, i) > 0
               THEN shiftleft(CAST(1 AS BIGINT), i - 1) ELSE 0 END)"""))
      val test = e.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("t_id"), col("label").as("t_label"),
          col("embedding").as("t_emb"), col("nrm").as("t_nrm"),
          col("bucket"))
      val train = e.filter(col("vec_id") % 10 =!= 0)
        .select(col("bucket"), col("vec_id"), col("label"),
          col("embedding"), col("nrm"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("t_id"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
      val cand = test.join(train, "bucket")
        .withColumn("cos_sim",
          cosinePre("embedding", "t_emb", col("nrm"), col("t_nrm")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
      val pred = cand
        .groupBy(col("t_id"), col("t_label"), col("label").as("pl"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("vr", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("t_id"))
            .orderBy(col("cnt").desc, col("pl"))))
        .filter(col("vr") === 1)
      pred
        .groupBy(col("t_label").as("label"))
        .agg(count(lit(1)).as("n_pred"),
          sum(when(col("pl") === col("t_label"), 1L).otherwise(0L))
            .as("n_correct"))
        .select(col("label"), col("n_pred"), col("n_correct"),
          round(col("n_correct").cast("double") / col("n_pred"), 6)
            .as("accuracy"))
        .orderBy(col("label"))
    },
    Some("""WITH e AS (
              SELECT vec_id, label,
                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb_d,
                CAST((CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
                   + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
                   + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
                   + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END)
                   + (CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END)
                   + (CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END)
                   + (CASE WHEN embedding[7] > 0 THEN 64 ELSE 0 END)
                   + (CASE WHEN embedding[8] > 0 THEN 128 ELSE 0 END)
                  AS BIGINT) AS bucket
              FROM embeddings),
            test AS (
              SELECT vec_id AS t_id, label AS t_label, emb_d AS t_emb,
                bucket
              FROM e WHERE vec_id % 10 = 0),
            train AS (
              SELECT bucket, vec_id, label, emb_d
              FROM e WHERE vec_id % 10 <> 0),
            cand AS (
              SELECT t_id, t_label, label AS pl FROM (
                SELECT t.t_id, t.t_label, r.label,
                  row_number() OVER (PARTITION BY t.t_id
                    ORDER BY round(list_dot_product(r.emb_d, t.t_emb) /
                      (sqrt(list_dot_product(r.emb_d, r.emb_d)) *
                       sqrt(list_dot_product(t.t_emb, t.t_emb))), 6)
                      DESC, r.vec_id) AS rk
                FROM test t JOIN train r ON t.bucket = r.bucket)
              WHERE rk <= 5),
            pred AS (
              SELECT t_id, t_label, pl FROM (
                SELECT t_id, t_label, pl, count(*) AS cnt,
                  row_number() OVER (PARTITION BY t_id
                    ORDER BY count(*) DESC, pl) AS vr
                FROM cand GROUP BY t_id, t_label, pl)
              WHERE vr = 1)
            SELECT t_label AS label,
              CAST(count(*) AS BIGINT) AS n_pred,
              CAST(sum(CASE WHEN pl = t_label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
              round(CAST(sum(CASE WHEN pl = t_label THEN 1 ELSE 0 END)
                AS DOUBLE) / count(*), 6) AS accuracy
            FROM pred
            GROUP BY t_label
            ORDER BY t_label NULLS FIRST"""))

  /** Prototype/outlier pruning (q_sim_prune): the cluster-quota data
    * pruning of the "beyond neural scaling laws" recipe — per label
    * cell, drop the k=5 members closest to the centroid (prototypes:
    * redundant, easy examples) and the k=5 furthest (outliers: likely
    * noise), keeping the informative middle. Builds on q_sim_centroid's
    * scored table; the cosine is integer-quantized (millionths) before
    * ranking so the cut is engine-exact. Both per-label ranks ride ONE
    * windowed pass over the scored table (same partition key → one
    * exchange, two sorts), and the union/anti-join of the two drop
    * lists collapses to a row-local CASE: rn_hi ≤ 5 is a prototype
    * drop, else rn_lo ≤ 5 is an outlier drop — r17: the two-branch
    * form consumed the centroid program three times (proto twice via
    * the anti-join), 6 embeddings scans where this runs 2; the window
    * input is (label, vec_id, cos, cq) — four narrow columns, so the
    * one shuffle moves metadata, never embeddings (guide §2.3). The
    * output is the DROP LIST only, never a corpus-sized flagged table.
    * A vector in both lists (tiny cells) counts as a prototype drop. */
  val qSimPrune = Q(
    "q_sim_prune",
    (s, d) => {
      val k = 5
      val scored = qSimCentroid.fn(s, d)
        .withColumn("cq",
          floor(col("cos_to_centroid") * lit(1e6) + lit(0.5)).cast("bigint"))
      val whi = Window.partitionBy(col("label"))
        .orderBy(col("cq").desc, col("vec_id"))
      val wlo = Window.partitionBy(col("label"))
        .orderBy(col("cq").asc, col("vec_id"))
      scored
        .withColumn("rn_hi", row_number().over(whi))
        .withColumn("rn_lo", row_number().over(wlo))
        .withColumn("action",
          when(col("rn_hi") <= k, lit("drop_proto"))
            .when(col("rn_lo") <= k, lit("drop_outlier")))
        .filter(col("action").isNotNull)
        .select(col("label"), col("vec_id"),
          col("cos_to_centroid").as("cos_c"), col("action"))
        .orderBy(col("label"), col("action"), col("vec_id"))
    },
    qSimCentroid.oracle.map(centSql => s"""
        WITH q AS (
          SELECT label, vec_id, cos_to_centroid,
            CAST(floor(cos_to_centroid * 1e6 + 0.5e0) AS BIGINT) AS cq
          FROM ($centSql)),
        proto AS (
          SELECT label, vec_id, cos_to_centroid FROM (
            SELECT *, row_number() OVER (
                PARTITION BY label ORDER BY cq DESC, vec_id) AS rn
            FROM q) x WHERE rn <= 5),
        outl AS (
          SELECT label, vec_id, cos_to_centroid FROM (
            SELECT *, row_number() OVER (
                PARTITION BY label ORDER BY cq ASC, vec_id) AS rn
            FROM q) x WHERE rn <= 5)
        SELECT label, vec_id, cos_to_centroid AS cos_c,
          'drop_proto' AS action
        FROM proto
        UNION ALL
        SELECT label, vec_id, cos_to_centroid AS cos_c,
          'drop_outlier' AS action
        FROM outl
        WHERE vec_id NOT IN (SELECT vec_id FROM proto)
        ORDER BY label NULLS FIRST, action NULLS FIRST,
          vec_id NULLS FIRST"""))

  /** Truncated-dimension recall curve (q_sim_matryoshka): the
    * evaluation a pipeline runs before shipping PREFIX-TRUNCATED
    * embeddings (the Matryoshka representation-learning deployment
    * pattern, Kusupati et al. 2022, public method): for each prefix
    * width k ∈ {8, 16, 32, 64}, rank the corpus by k-dim cosine for a
    * FIXED literal-bounded probe set (vec_id < 20 — the
    * q_dedup_lsh_audit sample discipline, never corpus-wide all-pairs)
    * and report recall@10 against the full-64-dim ranking. Cosines go
    * through the sequential double_dot / list_dot_product pair, so
    * both engines produce bit-identical doubles and the row_number
    * rankings (ties to the smaller vec_id) agree exactly. Cost: one
    * broadcast of 20 probes against the corpus, one bounded window per
    * width — linear in the corpus, probe-bounded, no pair explosion. */
  val qSimMatryoshka = Q(
    "q_sim_matryoshka",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      // r18 (guide §1.2/§2.4): the old form instantiated the ENTIRE
      // corpus × 20-probe pair program FIVE times (full + one per
      // width) — Catalyst has no logical common-subtree reuse, so the
      // plan carried 20 embeddings scans and 5 independent pair/dot
      // passes, each serialized on the single-row-group scan. Now ONE
      // pair pass computes all four prefix cosines in-row (slice-norm
      // columns precomputed per SIDE, so each pair pays 4 dots, never
      // 12), ONE p_id exchange carries four row_number orderings, and
      // recall@10 falls out of a single conditional-sum aggregate:
      // width-k hits are exactly the pairs with rk64 ≤ 10 AND rkk ≤ 10
      // — the same (p_id, vec_id) intersection the old per-width joins
      // computed. Same doubles (identical dot/sqrt/divide order), same
      // tie-breaks, identical output.
      def nrm(src: String, k: Int): Column =
        sqrt(expr(s"double_dot(slice($src, 1, $k), slice($src, 1, $k))"))
      val widths = Seq(8, 16, 32, 64)
      val e = Tables.t(s, d, "embeddings")
        .withColumn("emb_d",
          expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
        .select(Seq(col("vec_id"), col("emb_d")) ++
          widths.map(k => nrm("emb_d", k).as(s"n$k")): _*)
      val probes = e.filter(col("vec_id") < 20)
        .select(Seq(col("vec_id").as("p_id"), col("emb_d").as("p_emb")) ++
          widths.map(k => col(s"n$k").as(s"pn$k")): _*)
      // the 1.2M-pair dot pass is the heavy map stage — fan the narrow
      // corpus scan out so it doesn't serialize on one core (§2.5)
      val pairs = Tables.fanOutNarrow(s, e, col("vec_id"))
        .crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("p_id"))
        .select(Seq(col("p_id"), col("vec_id")) ++ widths.map(k =>
          (expr(s"double_dot(slice(emb_d, 1, $k), slice(p_emb, 1, $k))") /
            (col(s"n$k") * col(s"pn$k"))).as(s"c$k")): _*)
      val ranked = widths.foldLeft(pairs) { (df, k) =>
        df.withColumn(s"rk$k", row_number().over(
          Window.partitionBy(col("p_id"))
            .orderBy(col(s"c$k").desc, col("vec_id"))))
      }
      val hits = ranked.agg(
        count(lit(1)).as("_n"), // keeps the agg non-empty-safe
        widths.map(k => sum(when(col("rk64") <= 10 && col(s"rk$k") <= 10,
          1L).otherwise(0L)).as(s"h$k")): _*)
      val np = probes.agg(count(lit(1)).as("n_probes"))
      np.crossJoin(broadcast(hits))
        .select(col("n_probes"), explode(array(widths.map(k =>
          struct(lit(k.toLong).as("dim"), col(s"h$k").as("n_hit"))): _*))
          .as("w"))
        .select(col("w.dim").as("dim"), col("n_probes"),
          col("w.n_hit").as("n_hit"))
        .withColumn("recall",
          round(col("n_hit") * lit(1.0) / (col("n_probes") * 10), 6))
        .orderBy(col("dim"))
    },
    Some {
      def rk(k: Int): String =
        s"""r$k AS (
              SELECT p_id, vec_id, row_number() OVER (PARTITION BY p_id
                ORDER BY list_dot_product(emb_d[1:$k], p_emb[1:$k])
                  / (sqrt(list_dot_product(emb_d[1:$k], emb_d[1:$k]))
                    * sqrt(list_dot_product(p_emb[1:$k], p_emb[1:$k])))
                  DESC, vec_id) AS rk
              FROM pairs)"""
      def hit(k: Int): String =
        s"""SELECT CAST($k AS BIGINT) AS dim, np.n_probes,
              CAST((SELECT count(*) FROM f
                    JOIN (SELECT p_id, vec_id FROM r$k WHERE rk <= 10) t
                      USING (p_id, vec_id)) AS BIGINT) AS n_hit
            FROM np"""
      s"""WITH e AS (
            SELECT vec_id,
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb_d
            FROM embeddings),
          probes AS (
            SELECT vec_id AS p_id, emb_d AS p_emb FROM e
            WHERE vec_id < 20),
          pairs AS (
            SELECT p.p_id, p.p_emb, e.vec_id, e.emb_d
            FROM e CROSS JOIN probes p WHERE e.vec_id <> p.p_id),
          ${Seq(8, 16, 32, 64).map(rk).mkString(",\n")},
          f AS (SELECT p_id, vec_id FROM r64 WHERE rk <= 10),
          np AS (SELECT CAST(count(*) AS BIGINT) AS n_probes FROM probes)
          SELECT dim, n_probes, n_hit,
            round(n_hit * 1.0e0 / (n_probes * 10), 6) AS recall
          FROM (${Seq(8, 16, 32, 64).map(hit).mkString("\nUNION ALL ")})
          ORDER BY dim NULLS FIRST"""
    })

  /** Rank-weighted ANN quality (q_sim_ndcg): NDCG@10 of the IVF probe
    * against the exact top-10 — recall@10 (q_sim_ann_eval) treats all
    * ten hits equally, NDCG grades WHERE the index puts them.
    * Relevance of an exact-rank-r item is 11−r; the discount uses ln
    * rather than log2 so both engines evaluate the SAME libm function
    * (ln cancels in the DCG/IDCG ratio, NDCG is unchanged). Per-
    * position contributions are micro-quantized BIGINT before summing
    * (floats never cross an aggregate); both lists are ten rows, so
    * everything after the reused production queries is constant work. */
  val qSimNdcg = Q(
    "q_sim_ndcg",
    (s, d) => {
      val wOrd = Window.orderBy(col("cos_sim").desc, col("vec_id"))
      val exact10 = qSimTopk.fn(s, d).limit(10)
        .withColumn("e_rank", row_number().over(wOrd).cast("long"))
        .select(col("vec_id").as("e_vid"), col("e_rank"))
      val ann10 = qSimAnnIvf.fn(s, d)
        .withColumn("a_rank", row_number().over(wOrd).cast("long"))
        .select(col("vec_id").as("a_vid"), col("a_rank"))
      val dcg = ann10
        .join(exact10, col("a_vid") === col("e_vid"), "left")
        .withColumn("rel", coalesce(lit(11L) - col("e_rank"), lit(0L)))
        .agg(sum(expr(
          "CAST(floor(rel * 1e6 / ln(a_rank + 1) + 0.5D) AS BIGINT)"))
          .as("dcg_micro"))
      val idcg = exact10.agg(sum(expr(
        "CAST(floor((11 - e_rank) * 1e6 / ln(e_rank + 1) + 0.5D)" +
          " AS BIGINT)")).as("idcg_micro"))
      dcg.crossJoin(idcg).selectExpr("dcg_micro", "idcg_micro",
        "round(CAST(dcg_micro AS DOUBLE) / idcg_micro, 6) AS ndcg_at_10")
    },
    for {
      exactSql <- qSimTopk.oracle
      ivfSql <- qSimAnnIvf.oracle
    } yield s"""WITH exact10 AS (
        SELECT vec_id AS e_vid,
          CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id)
            AS BIGINT) AS e_rank
        FROM (SELECT * FROM ($exactSql) x
              ORDER BY cos_sim DESC, vec_id LIMIT 10)),
      ann10 AS (
        SELECT vec_id AS a_vid,
          CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id)
            AS BIGINT) AS a_rank
        FROM ($ivfSql)),
      dcg AS (
        SELECT CAST(sum(CAST(floor(
            coalesce(11 - e_rank, 0) * 1e6 / ln(a_rank + 1) + 0.5e0)
          AS BIGINT)) AS BIGINT) AS dcg_micro
        FROM ann10 LEFT JOIN exact10 ON a_vid = e_vid),
      idcg AS (
        SELECT CAST(sum(CAST(floor(
            (11 - e_rank) * 1e6 / ln(e_rank + 1) + 0.5e0)
          AS BIGINT)) AS BIGINT) AS idcg_micro
        FROM exact10)
      SELECT dcg_micro, idcg_micro,
        round(CAST(dcg_micro AS DOUBLE) / idcg_micro, 6) AS ndcg_at_10
      FROM dcg CROSS JOIN idcg""")

  // ---- q_embed_drift ----------------------------------------------------

  /** Embedding snapshot drift (q_embed_drift): split each label's
    * vectors into two halves by vec_id parity — a stand-in for "last
    * month's encoder output vs this month's" — and report the cosine
    * between the half centroids plus their norm ratio, per label. The
    * alarm that catches a silently retrained/renormalized encoder
    * before a kNN index rebuild ships garbage. Per-element values
    * quantize to integer micro-units BEFORE the per-dimension sum
    * (float sums are merge-order-dependent — the house rule), so both
    * engines assemble the centroid dot/norms from identical integers;
    * the divisions and sqrt are IEEE-exact. Shape: one explode +
    * one (label, parity, dim) aggregate — dim-grid bounded joins. */
  val qEmbedDrift = Q(
    "q_embed_drift",
    (s, d) => {
      val pos = Tables.t(s, d, "embeddings")
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("pos", "x")))
        .select(col("label"), (col("vec_id") % 2).as("par"), col("pos"),
          expr("CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5D) AS BIGINT)")
            .as("xm"))
      // The per-(label, parity) counts are per-dimension constants, so
      // the centroid divisors factor OUT of the dimension sums: the
      // cross-dimension accumulation rides exact integer products of
      // the quantized sums (DECIMAL(38,0) — no merge-order-dependent
      // float sum), the n's cancel entirely in the cosine, and the
      // norm ratio applies them once after the sums.
      val sums = pos.groupBy(col("label"), col("par"), col("pos"))
        .agg(sum(col("xm")).as("sm"), count(lit(1)).as("n"))
      val a = sums.filter(col("par") === 0)
        .select(col("label"), col("pos"),
          col("sm").cast("decimal(38,0)").as("sma"), col("n").as("na"))
      val b = sums.filter(col("par") === 1)
        .select(col("label").as("lb"), col("pos").as("pb"),
          col("sm").cast("decimal(38,0)").as("smb"), col("n").as("nb"))
      a.join(b, col("label") === col("lb") && col("pos") === col("pb"))
        .groupBy(col("label"))
        .agg(max(col("na")).as("n_even"), max(col("nb")).as("n_odd"),
          sum(col("sma") * col("smb")).as("dot_i"),
          sum(col("sma") * col("sma")).as("nrm_a_i"),
          sum(col("smb") * col("smb")).as("nrm_b_i"))
        .select(col("label").cast("long").as("label"),
          col("n_even"), col("n_odd"),
          round(col("dot_i").cast("double") /
            (sqrt(col("nrm_a_i").cast("double")) *
              sqrt(col("nrm_b_i").cast("double"))), 6).as("cos_drift"),
          round((sqrt(col("nrm_a_i").cast("double")) * col("n_odd")) /
            (sqrt(col("nrm_b_i").cast("double")) * col("n_even")), 6)
            .as("norm_ratio"))
        .orderBy(col("label"))
    },
    Some("""WITH pos AS (
              SELECT label, vec_id % 2 AS par, i - 1 AS pos,
                CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e6 + 0.5e0)
                  AS BIGINT) AS xm
              FROM embeddings
              CROSS JOIN LATERAL (SELECT unnest(generate_series(1,
                len(embedding))) AS i) ix),
            sums AS (
              SELECT label, par, pos,
                CAST(sum(xm) AS HUGEINT) AS sm,
                CAST(count(*) AS BIGINT) AS n
              FROM pos GROUP BY label, par, pos),
            a AS (SELECT label, pos, sm AS sma, n AS na FROM sums
                  WHERE par = 0),
            b AS (SELECT label AS lb, pos AS pb, sm AS smb, n AS nb
                  FROM sums WHERE par = 1)
            SELECT CAST(label AS BIGINT) AS label,
              CAST(max(na) AS BIGINT) AS n_even,
              CAST(max(nb) AS BIGINT) AS n_odd,
              round(CAST(sum(sma * smb) AS DOUBLE)
                / (sqrt(CAST(sum(sma * sma) AS DOUBLE))
                  * sqrt(CAST(sum(smb * smb) AS DOUBLE))), 6)
                AS cos_drift,
              round((sqrt(CAST(sum(sma * sma) AS DOUBLE)) * max(nb))
                / (sqrt(CAST(sum(smb * smb) AS DOUBLE)) * max(na)), 6)
                AS norm_ratio
            FROM a JOIN b ON label = lb AND pos = pb
            GROUP BY label
            ORDER BY label NULLS FIRST"""))

  // ---- q_embed_centroid_matrix ------------------------------------------

  /** Inter-source centroid cosine matrix (q_embed_centroid_matrix):
    * the mean embedding of every source, then all pairwise cosines —
    * the corpus-geometry overview (which sources occupy the same
    * embedding region) a mixture planner reads next to q_text_jsd's
    * lexical view. Centroids come from ONE (source × dim)-bounded
    * two-phase average with each coordinate 6dp-rounded (the Lloyd
    * recompute discipline, so both engines carry bit-identical
    * vectors), and the 20×20 pair stage is grid-sized — the corpus is
    * touched exactly once. */
  val qEmbedCentroidMatrix = Q(
    "q_embed_centroid_matrix",
    (s, d) => {
      val cents = Tables.t(s, d, "embeddings")
        .join(Tables.t(s, d, "documents")
          .select(col("doc_id").as("vec_id"), col("source")),
          Seq("vec_id"))
        .select(col("source"), posexplode(
          expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
          .as(Seq("pos", "x")))
        .groupBy(col("source"), col("pos"))
        .agg(round(avg(col("x")), 6).as("xr"))
        .groupBy(col("source"))
        .agg(expr(
          "transform(array_sort(collect_list(struct(pos, xr))), t -> t.xr)")
          .as("cent"))
      val a = cents.select(col("source").as("sa"), col("cent").as("ca"))
      val b = cents.select(col("source").as("sb"), col("cent").as("cb"))
      a.join(b, col("sa") < col("sb"))
        .select(col("sa"), col("sb"),
          round(expr(
            """double_dot(ca, cb) / (sqrt(double_dot(ca, ca))
               * sqrt(double_dot(cb, cb)))"""), 6).as("cos_sim"))
        .orderBy(col("sa"), col("sb"))
    },
    Some("""WITH e AS (
              SELECT vec_id,
                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings),
            j AS (
              SELECT dd.source, e.v
              FROM e JOIN documents dd ON e.vec_id = dd.doc_id),
            g AS (
              SELECT source, i, round(avg(v[i]), 6) AS x
              FROM j CROSS JOIN
                (SELECT unnest(generate_series(1, 64)) AS i) dims
              GROUP BY source, i),
            c AS (
              SELECT source, list(x ORDER BY i) AS cent
              FROM g GROUP BY source)
            SELECT a.source AS sa, b.source AS sb,
              round(list_dot_product(a.cent, b.cent)
                / (sqrt(list_dot_product(a.cent, a.cent))
                   * sqrt(list_dot_product(b.cent, b.cent))), 6)
                AS cos_sim
            FROM c a JOIN c b ON a.source < b.source
            ORDER BY sa NULLS FIRST, sb NULLS FIRST"""))

  // ---- q_embed_outliers -------------------------------------------------

  /** Per-label embedding outliers (q_embed_outliers): the 3 vectors
    * farthest from their label centroid — the mislabeled/garbage-encode
    * shortlist an embedding-quality gate reviews before a kNN index
    * build trusts the labels. Centroids come from ONE micro-quantized
    * (label × dim) aggregate (coordinates 6dp-rounded — the Lloyd
    * recompute discipline, identical doubles on both engines); each
    * vector's squared distance assembles from per-dimension terms
    * quantized to pico units BEFORE the per-vector sum (no
    * merge-order-dependent float sum), and the per-label top-3 rides
    * a rank window that Spark plans as a partial WindowGroupLimit —
    * no label's full membership is ever sorted whole. */
  val qEmbedOutliers = Q(
    "q_embed_outliers",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val pos = Tables.t(s, d, "embeddings")
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("pos", "x")))
        .select(col("vec_id"), col("label"), col("pos"),
          col("x").cast("double").as("xd"),
          expr("CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5D) AS BIGINT)")
            .as("xm"))
      val cent = pos.groupBy(col("label").as("cl"), col("pos").as("cp"))
        .agg(sum(col("xm")).as("sm"), count(lit(1)).as("cn"))
        .select(col("cl"), col("cp"),
          round(expr("CAST(sm AS DOUBLE) / cn / 1e6"), 6).as("c"))
      val dist = pos
        .join(cent, col("label") === col("cl") && col("pos") === col("cp"))
        .withColumn("t", expr(
          "CAST(floor((xd - c) * (xd - c) * 1e12 + 0.5D) AS BIGINT)"))
        .groupBy(col("label"), col("vec_id"))
        .agg(sum(col("t")).as("d2p"))
      val w = Window.partitionBy(col("label"))
        .orderBy(col("d2p").desc, col("vec_id"))
      dist.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("label").cast("long").as("label"), col("rk").cast("long").as("rk"),
          col("vec_id"),
          round(expr("CAST(d2p AS DOUBLE) / 1e12"), 6).as("dist_sq"))
        .orderBy(col("label"), col("rk"))
    },
    Some("""WITH pos AS (
              SELECT vec_id, label, i - 1 AS pos,
                CAST(embedding[i] AS DOUBLE) AS xd,
                CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e6 + 0.5e0)
                  AS BIGINT) AS xm
              FROM embeddings
              CROSS JOIN LATERAL (SELECT unnest(generate_series(1,
                len(embedding))) AS i) ix),
            cent AS (
              SELECT label AS cl, pos AS cp,
                round(CAST(CAST(sum(xm) AS BIGINT) AS DOUBLE)
                  / count(*) / 1e6, 6) AS c
              FROM pos GROUP BY label, pos),
            dist AS (
              SELECT label, vec_id,
                CAST(sum(CAST(floor((xd - c) * (xd - c) * 1e12 + 0.5e0)
                  AS BIGINT)) AS BIGINT) AS d2p
              FROM pos JOIN cent ON label = cl AND pos = cp
              GROUP BY label, vec_id),
            ranked AS (
              SELECT label, vec_id, d2p,
                CAST(row_number() OVER (PARTITION BY label
                  ORDER BY d2p DESC, vec_id) AS BIGINT) AS rk
              FROM dist)
            SELECT CAST(label AS BIGINT) AS label, rk, vec_id,
              round(CAST(d2p AS DOUBLE) / 1e12, 6) AS dist_sq
            FROM ranked WHERE rk <= 3
            ORDER BY label NULLS FIRST, rk NULLS FIRST"""))

  // ---- shared label-anchor NN fixpoint ------------------------------------

  /** Ranked 3-NN lists of each ANCHOR vector within its label block —
    * the shared candidate stage of q_embed_intrinsic_dim and
    * q_embed_hubness. The anchor side is capped at the 128 lowest
    * vec_ids per label, so the pair count is 128·|block| per label:
    * LINEAR in the corpus (the uncapped block self-join measured 86×
    * at a 10× blow-up — quadratic in block size — before this cap
    * landed). Each anchor's neighbors are still EXACT: every block
    * member is a candidate; only the anchor sample is bounded, which
    * is the standard Levina-Bickel subsampling. Distances assemble
    * from per-dimension pico-quantized BIGINT terms via the codegen
    * [[graft.functions.FloatL2Q]] expression (exact, order-free);
    * the rank window partitions by (label, anchor)
    * so Spark plans a partial WindowGroupLimit. Memoized + persisted
    * once per (session, dir): ≤ labels × 128 × 3 rows feed both
    * consumers. */
  private[graft] def labelAnchorNn3(s: SparkSession, d: String): DataFrame =
    Fixpoints.memo(s, d, "anchornn3") {
      val e = Tables.t(s, d, "embeddings")
        .select(col("vec_id"), col("label"), col("embedding"))
      val anchors = e
        .withColumn("ar", row_number().over(
          Window.partitionBy(col("label")).orderBy(col("vec_id"))))
        .filter(col("ar") <= 128)
        .drop("ar")
      val pairs = anchors.as("x")
        .join(e.as("y"), col("x.label") === col("y.label") &&
          col("x.vec_id") =!= col("y.vec_id"))
        .select(col("x.label").as("label"), col("x.vec_id").as("a"),
          col("y.vec_id").as("b"),
          // codegen'd per-dimension floor-quantized exact BIGINT sum —
          // identical arithmetic to the lambda fold it replaces
          expr("float_l2q(x.embedding, y.embedding)").as("d2p"))
      val w = Window.partitionBy(col("label"), col("a"))
        .orderBy(col("d2p"), col("b"))
      val nn = pairs.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .persist()
      nn.count()
      Fixpoints.holding(nn, nn)
    }

  /** The anchors + pairs + ranked CTE prefix both consumers' oracles
    * share — the DuckDB mirror of [[labelAnchorNn3]]. */
  private val anchorNnSql = """WITH anchors AS (
              SELECT vec_id, label, embedding
              FROM (SELECT vec_id, label, embedding,
                      row_number() OVER (PARTITION BY label
                        ORDER BY vec_id) AS ar
                    FROM embeddings)
              WHERE ar <= 128),
            pairs AS (
              SELECT x.label AS label, x.vec_id AS a, y.vec_id AS b,
                CAST(list_sum(list_transform(
                  generate_series(1, len(x.embedding)),
                  i -> CAST(floor(
                    (CAST(x.embedding[i] AS DOUBLE)
                     - CAST(y.embedding[i] AS DOUBLE))
                    * (CAST(x.embedding[i] AS DOUBLE)
                       - CAST(y.embedding[i] AS DOUBLE))
                    * 1e12 + 0.5e0) AS BIGINT))) AS BIGINT) AS d2p
              FROM anchors x JOIN embeddings y
                ON x.label = y.label AND x.vec_id <> y.vec_id),
            ranked AS (
              SELECT label, a, b, d2p,
                row_number() OVER (PARTITION BY label, a
                  ORDER BY d2p, b) AS rk
              FROM pairs)"""

  // ---- q_embed_intrinsic_dim ----------------------------------------------

  /** Two-NN intrinsic dimension (q_embed_intrinsic_dim): the
    * Levina-Bickel k=2 MLE m̂ = 2n / Σ ln(r₂²/r₁²) per label — how many
    * effective degrees of freedom the embeddings actually use, the
    * number that says whether a Matryoshka truncation or PQ codebook
    * budget is safe BEFORE building the index. Rides the shared
    * [[labelAnchorNn3]] fixpoint (bounded anchor sample, exact NNs,
    * linear pair count); each anchor's log-ratio term is
    * nano-quantized before the per-label sum so the aggregate is
    * order-free. Zero-distance twins (exact duplicates) are excluded
    * and reported via n_used. */
  val qEmbedIntrinsicDim = Q(
    "q_embed_intrinsic_dim",
    (s, d) => {
      val nn2 = labelAnchorNn3(s, d)
        .filter(col("rk") <= 2)
        .groupBy(col("label"), col("a"))
        .agg(min(col("d2p")).as("d1"), max(col("d2p")).as("d2"))
      nn2
        .withColumn("t", expr(
          """CASE WHEN d1 > 0 AND d2 > d1 THEN
               CAST(floor(ln(CAST(d2 AS DOUBLE) / d1) * 1e9 + 0.5D)
                 AS BIGINT)
             ELSE CAST(NULL AS BIGINT) END"""))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_anchors"),
          count(col("t")).as("n_used"),
          sum(col("t")).as("hsum"))
        .select(col("label").cast("long").as("label"),
          col("n_anchors"), col("n_used"),
          round(expr(
            """CASE WHEN hsum > 0 THEN
                 2.0D * n_used / (CAST(hsum AS DOUBLE) / 1e9)
               ELSE CAST(NULL AS DOUBLE) END"""), 6)
            .as("intrinsic_dim"))
        .orderBy(col("label"))
    },
    Some(anchorNnSql + """,
            nn2 AS (
              SELECT label, a,
                min(d2p) AS d1, max(d2p) AS d2
              FROM ranked WHERE rk <= 2
              GROUP BY label, a),
            terms AS (
              SELECT label, a,
                CASE WHEN d1 > 0 AND d2 > d1 THEN
                  CAST(floor(ln(CAST(d2 AS DOUBLE) / d1) * 1e9 + 0.5e0)
                    AS BIGINT)
                ELSE CAST(NULL AS BIGINT) END AS t
              FROM nn2)
            SELECT CAST(label AS BIGINT) AS label,
              CAST(count(*) AS BIGINT) AS n_anchors,
              CAST(count(t) AS BIGINT) AS n_used,
              round(CASE WHEN CAST(sum(t) AS BIGINT) > 0 THEN
                  2.0e0 * count(t)
                    / (CAST(CAST(sum(t) AS BIGINT) AS DOUBLE) / 1e9)
                ELSE CAST(NULL AS DOUBLE) END, 6) AS intrinsic_dim
            FROM terms
            GROUP BY label
            ORDER BY label NULLS FIRST"""))

  // ---- q_embed_hubness ----------------------------------------------------

  /** Hubness census (q_embed_hubness): how skewed is the k-NN
    * in-degree distribution of each label block — the classic
    * high-dimensional pathology where a few "hub" vectors appear in
    * everyone's neighbor lists and ANN recall quietly collapses
    * (Radovanović et al.'s N_k skewness, the standard pre-index
    * diagnostic). In-degree = how often a vector appears in the shared
    * [[labelAnchorNn3]] 3-NN lists; absent vectors count 0 via a left
    * join from the block roster. Skewness assembles from exact BIGINT
    * moment sums (deg ≤ 128 so deg³ sums stay far inside BIGINT), and
    * the m₂^1.5 denominator is spelled m₂·√m₂ — sqrt is
    * correctly-rounded IEEE on both engines where pow(x, 1.5) need
    * not be. */
  val qEmbedHubness = Q(
    "q_embed_hubness",
    (s, d) => {
      val indeg = labelAnchorNn3(s, d)
        .groupBy(col("label").as("l"), col("b"))
        .agg(count(lit(1)).as("deg"))
      val e = Tables.t(s, d, "embeddings")
        .select(col("vec_id"), col("label"))
      val full = e.join(indeg,
          e("label") === indeg("l") && e("vec_id") === indeg("b"),
          "left")
        .select(e("label").as("label"),
          coalesce(col("deg"), lit(0L)).as("deg"))
      full.groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          max(col("deg")).as("max_indeg"),
          sum((col("deg") === 0).cast("long")).as("n_antihubs"),
          sum(col("deg")).as("s1"),
          sum(expr("deg * deg")).as("s2"),
          sum(expr("deg * deg * deg")).as("s3"))
        .select(col("label").cast("long").as("label"), col("n_vecs"),
          col("max_indeg"), col("n_antihubs"),
          round(expr(hubSkewExpr), 6).as("hub_skew"))
        .orderBy(col("label"))
    },
    Some(anchorNnSql + """,
            indeg AS (
              SELECT label AS l, b, CAST(count(*) AS BIGINT) AS deg
              FROM ranked WHERE rk <= 3 GROUP BY label, b),
            roster AS (
              SELECT e.label AS label,
                COALESCE(i.deg, 0) AS deg
              FROM embeddings e LEFT JOIN indeg i
                ON e.label = i.l AND e.vec_id = i.b),
            st AS (
              SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
                CAST(max(deg) AS BIGINT) AS max_indeg,
                CAST(sum(CASE WHEN deg = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_antihubs,
                CAST(sum(deg) AS BIGINT) AS s1,
                CAST(sum(deg * deg) AS BIGINT) AS s2,
                CAST(sum(deg * deg * deg) AS BIGINT) AS s3
              FROM roster GROUP BY label)
            SELECT CAST(label AS BIGINT) AS label, n_vecs, max_indeg,
              n_antihubs,
              round(CASE WHEN n_vecs * s2 - s1 * s1 > 0 THEN
                  (CAST(s3 AS DOUBLE) / n_vecs
                   - 3.0e0 * (CAST(s1 AS DOUBLE) / n_vecs)
                     * (CAST(s2 AS DOUBLE) / n_vecs)
                   + 2.0e0 * (CAST(s1 AS DOUBLE) / n_vecs)
                     * (CAST(s1 AS DOUBLE) / n_vecs)
                     * (CAST(s1 AS DOUBLE) / n_vecs))
                  / ((CAST(s2 AS DOUBLE) / n_vecs
                      - (CAST(s1 AS DOUBLE) / n_vecs)
                        * (CAST(s1 AS DOUBLE) / n_vecs))
                     * sqrt(CAST(s2 AS DOUBLE) / n_vecs
                       - (CAST(s1 AS DOUBLE) / n_vecs)
                         * (CAST(s1 AS DOUBLE) / n_vecs)))
                ELSE CAST(NULL AS DOUBLE) END, 6) AS hub_skew
            FROM st
            ORDER BY label NULLS FIRST"""))

  /** Central-moment skewness from exact sums; m₂^1.5 spelled
    * m₂ · √m₂ for cross-engine IEEE parity. */
  private val hubSkewExpr =
    """CASE WHEN n_vecs * s2 - s1 * s1 > 0 THEN
         (CAST(s3 AS DOUBLE) / n_vecs
          - 3.0D * (CAST(s1 AS DOUBLE) / n_vecs)
            * (CAST(s2 AS DOUBLE) / n_vecs)
          + 2.0D * (CAST(s1 AS DOUBLE) / n_vecs)
            * (CAST(s1 AS DOUBLE) / n_vecs)
            * (CAST(s1 AS DOUBLE) / n_vecs))
         / ((CAST(s2 AS DOUBLE) / n_vecs
             - (CAST(s1 AS DOUBLE) / n_vecs)
               * (CAST(s1 AS DOUBLE) / n_vecs))
            * sqrt(CAST(s2 AS DOUBLE) / n_vecs
              - (CAST(s1 AS DOUBLE) / n_vecs)
                * (CAST(s1 AS DOUBLE) / n_vecs)))
       ELSE CAST(NULL AS DOUBLE) END"""

  val all: Seq[Q] = Seq(
    qSimTopk, qSimPairs, qSimAnnLsh, qSimAnnIvf, qSimAnnMultiband,
    qSimAnnPq, qSimAnnIvfPq, qSimAnnEval, qSimThresholdCurve,
    qMultimodal, qSimQuantize,
    qSimKnnJoin, qSimCentroid, qSimRecall, qMlKnnClassify, qSimPrune,
    qSimHardneg, qSimMatryoshka, qSimNdcg, qEmbedDrift,
    qEmbedCentroidMatrix, qEmbedOutliers, qEmbedIntrinsicDim,
    qEmbedHubness)
}
