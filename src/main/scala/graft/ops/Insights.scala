package graft.ops

import graft.{Fixpoints, Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-4 continuation: graph structure (triangle census), lexical
  * retrieval index build (posting lists), and linear gap interpolation —
  * three more shapes a 100 TB corpus pipeline runs routinely.
  *
  * Scale discipline: the triangle count uses degree orientation so wedge
  * fan-out per node is bounded by O(sqrt(|E|)) (the MapReduce triangle
  * classic); the posting build caps list length BEFORE any collect so no
  * aggregate buffer exceeds 16 entries; interpolation rides the same
  * per-key grid explode + two window passes as q_resample_ffill. */
object Insights {

  // ---- q_graph_triangles ------------------------------------------------

  /** Triangle census (q_graph_triangles) over the same deterministic
    * derived link graph q_graph_pagerank uses (hub contraction + affine +
    * quadratic maps mod N — deliberately non-affine so the structure is
    * non-trivial). Canonicalize to undirected edges, then orient every
    * edge from the (degree, id)-smaller endpoint upward: each triangle
    * {x,y,z} is then counted exactly ONCE, as the wedge at its smallest
    * vertex closed by the third oriented edge. The orientation bounds any
    * node's oriented out-degree by O(sqrt(|E|)), so the wedge self-join —
    * the step that explodes on skewed graphs — has bounded per-key
    * fan-out regardless of hub size. Both joins are equi-joins (on the
    * wedge apex, then on the closing (v, w) pair); the inequality is a
    * post-filter, never a join strategy. Output: one census row with the
    * global clustering coefficient (3·triangles / wedges-over-UNDIRECTED
    * degrees, the standard definition). */
  /** Raw DIRECTED edge multi-list of the deterministic derived link
    * graph — the ONE definition of the generator formulas (src div 2,
    * (src·31+17) % n, (src²+1) % n); every consumer (undirected view
    * below, q_graph_reciprocity, q_graph_scc_pivot) derives from this
    * so a tweak to the graph cannot desynchronize an op from its
    * oracle. NOT deduplicated — callers add `.distinct()` (or the
    * least/greatest fold) themselves so their plans stay unchanged.
    * Caveat shared with the SQL mirror: src·src wraps silently in
    * Spark past ~3.04e9 where DuckDB raises — doc_ids are dense
    * 0..n−1 so both engines stay far below it at any tested SF. */
  private[graft] def directedLinkEdges(
      s: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val docs = Tables.t(s, d, "documents")
    val n = docs.agg(count(lit(1)).as("n_nodes"))
    docs.select(col("doc_id")).crossJoin(broadcast(n))
      .select(col("doc_id").as("src"), col("n_nodes"))
      .select(col("src"), explode(expr(
        """array(src div 2,
                 (src * 31 + 17) % n_nodes,
                 (src * src + 1) % n_nodes)""")).as("dst"))
      .filter(col("dst") =!= col("src"))
  }

  /** Undirected edge list of the deterministic derived link graph shared
    * by the graph tier (same generator as q_graph_pagerank). Persisted
    * ONCE per (session, dir): every consumer walks it several times. */
  private[graft] def undirectedLinkEdges(
      s: SparkSession, d: String): org.apache.spark.sql.DataFrame =
    Fixpoints.cacheOnce(s, d, "und") {
      directedLinkEdges(s, d)
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct()
    }

  /** Distinct DIRECTED edge list, persisted ONCE per (session, dir) —
    * the directed siblings (PageRank, HITS, PPR, reciprocity, SCC)
    * each reference the edge list several times per iteration, and an
    * un-cut generator lineage re-enters EVERY reference: before this
    * fixpoint q_graph_hits carried 238 logical copies of the documents
    * scan (plan size, not data volume, dominated its cost — Catalyst
    * re-analyzes each copy even though runtime exchange reuse dedups
    * most of the physical work). */
  private[graft] def directedDistinctEdges(
      s: SparkSession, d: String): org.apache.spark.sql.DataFrame =
    Fixpoints.cacheOnce(s, d, "dir") {
      directedLinkEdges(s, d).distinct()
    }

  /** The directed edges annotated with each source's out-degree — the
    * per-iteration probe table of the PageRank/PPR power loops. Shared
    * and persisted so the 3-iteration unroll references one
    * InMemoryRelation instead of re-deriving edges ⋈ outdeg(edges)
    * (two more generator copies) every round. */
  private[graft] def directedEdgesOutdeg(
      s: SparkSession, d: String): org.apache.spark.sql.DataFrame =
    Fixpoints.cacheOnce(s, d, "dirdeg") {
      val e = directedDistinctEdges(s, d)
      e.join(e.groupBy(col("src")).agg(count(lit(1)).as("outdeg")), "src")
    }

  /** Undirected degree table (v, deg) of the shared link graph.
    * Before round 12 six graph ops rebuilt this identical O(V)
    * aggregate (triangles, clustcoef, jaccard, adamic_adar,
    * degree_dist, degree_gini) — one shuffle each over the doubled
    * edge list. Persisted ONCE per (session, dir); at fleet scale a
    * per-node table is the canonical thing to share, never broadcast
    * (it grows with V). */
  private[graft] def linkDegrees(
      s: SparkSession, d: String): org.apache.spark.sql.DataFrame =
    Fixpoints.cacheOnce(s, d, "unddeg") {
      val und = undirectedLinkEdges(s, d)
      und.select(col("a").as("v"))
        .unionAll(und.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    }

  /** (deg, id)-upward oriented edge list (u, v, vdeg) of the shared
    * link graph — each undirected edge exactly once, pointing from its
    * (degree, id)-smaller endpoint. Bounds any node's oriented
    * out-degree by O(sqrt(|E|)), so wedge enumeration has bounded
    * per-key fan-out regardless of hub size. Shared by
    * q_graph_triangles and q_graph_clustcoef. */
  private[graft] def orientedEdges(
      s: SparkSession, d: String): org.apache.spark.sql.DataFrame =
    Fixpoints.cacheOnce(s, d, "oriented") {
      val und = undirectedLinkEdges(s, d)
      val deg = linkDegrees(s, d)
      und
        .join(deg.select(col("v").as("a"), col("deg").as("dega")), "a")
        .join(deg.select(col("v").as("b"), col("deg").as("degb")), "b")
        .select(
          when(col("dega") < col("degb") ||
            (col("dega") === col("degb") && col("a") < col("b")),
            col("a")).otherwise(col("b")).as("u"),
          when(col("dega") < col("degb") ||
            (col("dega") === col("degb") && col("a") < col("b")),
            col("b")).otherwise(col("a")).as("v"),
          when(col("dega") < col("degb") ||
            (col("dega") === col("degb") && col("a") < col("b")),
            col("degb")).otherwise(col("dega")).as("vdeg"))
    }

  /** Closed-triangle corner list (u, v1, v2) — every triangle of the
    * shared link graph exactly once, as the ordered wedge at its
    * (degree, id)-smallest corner closed by the third oriented edge.
    * The triangle LIST (not just its count) is the shared intermediate:
    * q_graph_triangles counts it, q_graph_clustcoef explodes its
    * corners. Both joins are equi-joins; row count = n_triangles. */
  private[graft] def closedTriangles(
      s: SparkSession, d: String): org.apache.spark.sql.DataFrame =
    Fixpoints.cacheOnce(s, d, "tricorners") {
      val oriented = orientedEdges(s, d)
      val e1 = oriented.select(col("u"), col("v").as("v1"),
        col("vdeg").as("vdeg1"))
      val e2 = oriented.select(col("u"), col("v").as("v2"),
        col("vdeg").as("vdeg2"))
      e1.join(e2, "u")
        .filter(col("vdeg1") < col("vdeg2") ||
          (col("vdeg1") === col("vdeg2") && col("v1") < col("v2")))
        .join(oriented.select(col("u").as("v1"), col("v").as("v2")),
          Seq("v1", "v2"))
        .select(col("u"), col("v1"), col("v2"))
    }

  /** Hub-capped wedge pair stats (pa, pb, common, aa) shared by
    * q_graph_jaccard and q_graph_adamic_adar: for every candidate pair
    * generated through a shared neighbor of degree ≤ 64, the common-
    * neighbor count and the Adamic-Adar integer micro-weight sum
    * Σ 1e6/ln(deg(center)). The deg ≥ 2 cut is output-neutral for the
    * pair set (a degree-1 center has a single neighbor, so it can
    * generate no pa < pb pair) and keeps ln(deg) > 0 defined for the
    * micro-weight; jaccard reads only (pa, pb, common), adamic_adar
    * reads the weight sum. The hub cap bounds the Σdeg² candidate cost
    * at fleet scale; all joins stay un-hinted so AQE sizes them. */
  private[graft] def wedgePairStats(
      s: SparkSession, d: String): org.apache.spark.sql.DataFrame =
    Fixpoints.cacheOnce(s, d, "wedgepairs") {
      val und = undirectedLinkEdges(s, d)
      val edges = und.select(col("a").as("node"), col("b").as("nbr"))
        .union(und.select(col("b").as("node"), col("a").as("nbr")))
      val centers = linkDegrees(s, d)
        .filter(col("deg") <= 64 && col("deg") >= 2)
        .withColumn("w_micro", expr(
          "CAST(floor(1e6 / ln(CAST(deg AS DOUBLE)) + 0.5D) AS BIGINT)"))
        .select(col("v").as("dn"), col("w_micro"))
      val wedgeable = edges
        .join(centers, col("nbr") === col("dn"))
        .select(col("node"), col("nbr"), col("w_micro"))
      wedgeable.select(col("node").as("pa"), col("nbr"), col("w_micro"))
        .join(wedgeable.select(col("node").as("pb"),
          col("nbr").as("rnbr")), col("nbr") === col("rnbr") &&
          col("pa") < col("pb"))
        .groupBy(col("pa"), col("pb"))
        .agg(count(lit(1)).as("common"), sum(col("w_micro")).as("aa"))
    }

  /** DuckDB mirror of [[directedLinkEdges]]: s → nodes → directed
    * (NOT deduplicated — mirrors the DataFrame helper exactly). */
  private[graft] val directedLinkEdgesSql: String =
    """s AS (
        SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM documents),
      nodes AS (SELECT doc_id, n_nodes FROM documents, s),
      directed AS (
        SELECT src, dst FROM (
          SELECT doc_id AS src,
            unnest([doc_id // 2,
                    (doc_id * 31 + 17) % n_nodes,
                    (doc_id * doc_id + 1) % n_nodes]) AS dst
          FROM nodes) u
        WHERE dst <> src)"""

  /** The matching DuckDB CTE chain: s → nodes → directed → und. */
  private[graft] val undirectedLinkEdgesSql: String =
    directedLinkEdgesSql + """,
      und AS (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM directed)"""

  val qGraphTriangles = Q(
    "q_graph_triangles",
    (s, d) => {
      // all three inputs are shared persisted fixpoints: the edge list,
      // the degree table, and the closed-triangle list (also consumed
      // corner-wise by q_graph_clustcoef)
      val und = undirectedLinkEdges(s, d)
      val deg = linkDegrees(s, d)
      val triangles = closedTriangles(s, d)
        .agg(count(lit(1)).as("n_triangles"))
      val nEdges = und.agg(count(lit(1)).as("n_edges"))
      // wedges for the clustering coefficient: over UNDIRECTED degrees
      val nWedges = deg
        .agg(sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))
      nEdges.crossJoin(nWedges).crossJoin(triangles)
        .select(col("n_edges"), col("n_wedges"), col("n_triangles"),
          round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6)
            .as("global_cc"))
    },
    Some(s"""WITH $undirectedLinkEdgesSql,
            deg AS (
              SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
                SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und) x
              GROUP BY v),
            oriented AS (
              SELECT
                CASE WHEN (da.deg, und.a) < (db.deg, und.b)
                     THEN und.a ELSE und.b END AS u,
                CASE WHEN (da.deg, und.a) < (db.deg, und.b)
                     THEN und.b ELSE und.a END AS v,
                CASE WHEN (da.deg, und.a) < (db.deg, und.b)
                     THEN db.deg ELSE da.deg END AS vdeg
              FROM und
              JOIN deg da ON und.a = da.v
              JOIN deg db ON und.b = db.v),
            tri AS (
              SELECT CAST(count(*) AS BIGINT) AS n_triangles
              FROM oriented e1
              JOIN oriented e2 ON e1.u = e2.u
                AND ((e1.vdeg, e1.v) < (e2.vdeg, e2.v))
              JOIN oriented e3 ON e3.u = e1.v AND e3.v = e2.v),
            edges AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM und),
            wedges AS (
              SELECT CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
              FROM deg)
            SELECT n_edges, n_wedges, n_triangles,
              round(3.0 * n_triangles / n_wedges, 6) AS global_cc
            FROM edges, wedges, tri"""))

  // ---- q_text_postings --------------------------------------------------

  /** Inverted-index build (q_text_postings): term → document frequency,
    * total term frequency, and the first 16 postings as a `doc:tf` list —
    * the search-engine index-construction shape. The posting cap is
    * applied with a per-term row_number BEFORE the list aggregate, so no
    * collect buffer ever holds more than 16 entries — a stopword with a
    * million postings costs a bounded aggregate, not an OOM. (At real
    * index scale the per-term sort itself is sharded into fixed-size
    * posting BLOCKS keyed (term, block); the cap here is the first
    * block.) Terms with df < 10 are dropped from the dump (the long tail
    * is size, not signal — same bound the oracle applies). */
  val qTextPostings = Q(
    "q_text_postings",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val tf = Tables.t(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy(col("term"), col("doc_id"))
        .agg(count(lit(1)).as("tf"))
      // df/tf_total share the posting cap's per-term WINDOW (same
      // partitioning + ordering, unbounded frame → one sort, one
      // Window exec) instead of a second aggregate joined back — the
      // stats must be computed BEFORE the rn<=16 cut, which windows
      // give for free
      val rn = Window.partitionBy(col("term")).orderBy(col("doc_id"))
      val full = rn.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      tf
        .withColumn("rn", row_number().over(rn))
        .withColumn("df", count(lit(1)).over(full))
        .withColumn("tf_total", sum(col("tf")).over(full))
        .filter(col("rn") <= 16 && col("df") >= 10)
        .groupBy(col("term"))
        .agg(max(col("df")).as("df"), max(col("tf_total")).as("tf_total"),
          array_join(
            transform(array_sort(collect_list(struct(col("doc_id"),
              col("tf")))),
              x => concat(x.getField("doc_id"), lit(":"), x.getField("tf"))),
            ",").as("postings"))
        .select(col("term"), col("df"), col("tf_total"), col("postings"))
        .orderBy(col("term"))
    },
    Some("""WITH tf AS (
              SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS term
                FROM documents) t
              GROUP BY term, doc_id),
            stats AS (
              SELECT term, CAST(count(*) AS BIGINT) AS df,
                CAST(sum(tf) AS BIGINT) AS tf_total
              FROM tf GROUP BY term
              HAVING count(*) >= 10),
            ranked AS (
              SELECT term, doc_id, tf,
                row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
              FROM tf),
            capped AS (
              SELECT term,
                string_agg(doc_id || ':' || tf, ',' ORDER BY doc_id)
                  AS postings
              FROM ranked WHERE rn <= 16 GROUP BY term)
            SELECT s.term, s.df, s.tf_total, c.postings
            FROM stats s JOIN capped c ON s.term = c.term
            ORDER BY s.term NULLS FIRST"""))

  // ---- q_ts_interpolate -------------------------------------------------

  /** Linear gap interpolation (q_ts_interpolate): the sibling of
    * q_resample_ffill — same per-board hourly grid, but empty hours get
    * the LINE between the surrounding observations, not a carried copy.
    * Two window passes over one (user, time) shuffle: last-non-null
    * looking back, first-non-null looking forward; the interpolation
    * itself is scan-local micros arithmetic. The fraction is written
    * identically in both engines (double subtraction → division →
    * multiply-add, same order) so per-row doubles are bit-identical and
    * stay RAW — rounding them is what would break parity (Spark rounds
    * the exact decimal expansion, DuckDB rounds x·10⁶, and the two
    * disagree at half-ulp boundaries). Leading/trailing hours (no
    * observation on one side) stay NULL and are kind-tagged 'edge'. */
  val qTsInterpolate = Q(
    "q_ts_interpolate",
    (sp, dir) => {
      import org.apache.spark.sql.expressions.Window
      val hourly = Tables.t(sp, dir, "events")
        .filter(col("user_id") < 8)
        .groupBy(col("user_id"),
          date_trunc("hour", col("ts")).cast("timestamp_ntz").as("h"))
        .agg(round(avg(col("value")), 6).as("v"))
      val grid = hourly.groupBy(col("user_id"))
        .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
        .select(col("user_id"),
          explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
      val wBack = Window.partitionBy(col("user_id")).orderBy(col("h"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wFwd = Window.partitionBy(col("user_id")).orderBy(col("h"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val marked = grid.join(hourly, Seq("user_id", "h"), "left")
        .select(col("user_id"), col("h"), col("v"),
          last(col("v"), ignoreNulls = true).over(wBack).as("pv"),
          last(when(col("v").isNotNull, col("h")), ignoreNulls = true)
            .over(wBack).as("ph"),
          first(col("v"), ignoreNulls = true).over(wFwd).as("nv"),
          first(when(col("v").isNotNull, col("h")), ignoreNulls = true)
            .over(wFwd).as("nh"))
      marked.select(col("user_id"), col("h"),
        when(col("v").isNotNull, col("v"))
          .when(col("pv").isNotNull && col("nv").isNotNull,
            col("pv") + (col("nv") - col("pv")) *
              ((unix_micros(col("h").cast("timestamp")) -
                unix_micros(col("ph").cast("timestamp"))).cast("double") /
               (unix_micros(col("nh").cast("timestamp")) -
                unix_micros(col("ph").cast("timestamp"))).cast("double")))
          .as("v_lin"),
        when(col("v").isNotNull, lit("obs"))
          .when(col("pv").isNotNull && col("nv").isNotNull, lit("interp"))
          .otherwise(lit("edge")).as("kind"))
        .orderBy(col("user_id"), col("h"))
    },
    Some("""WITH hourly AS (
              SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS h,
                round(avg(value), 6) AS v
              FROM events WHERE user_id < 8
              GROUP BY user_id, h),
            grid AS (
              SELECT user_id, unnest(generate_series(min(h), max(h),
                INTERVAL '1 hour')) AS h
              FROM hourly GROUP BY user_id),
            marked AS (
              SELECT g.user_id, g.h, v,
                last_value(v IGNORE NULLS) OVER (
                  PARTITION BY g.user_id ORDER BY g.h
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
                last_value(CASE WHEN v IS NOT NULL THEN g.h END
                  IGNORE NULLS) OVER (
                  PARTITION BY g.user_id ORDER BY g.h
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
                first_value(v IGNORE NULLS) OVER (
                  PARTITION BY g.user_id ORDER BY g.h
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
                first_value(CASE WHEN v IS NOT NULL THEN g.h END
                  IGNORE NULLS) OVER (
                  PARTITION BY g.user_id ORDER BY g.h
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
              FROM grid g LEFT JOIN hourly USING (user_id, h))
            SELECT user_id, h,
              CASE WHEN v IS NOT NULL THEN v
                   WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                     pv + (nv - pv) *
                       (CAST(epoch_us(h) - epoch_us(ph) AS DOUBLE) /
                        CAST(epoch_us(nh) - epoch_us(ph) AS DOUBLE))
              END AS v_lin,
              CASE WHEN v IS NOT NULL THEN 'obs'
                   WHEN pv IS NOT NULL AND nv IS NOT NULL THEN 'interp'
                   ELSE 'edge' END AS kind
            FROM marked
            ORDER BY user_id NULLS FIRST, h NULLS FIRST"""))

  // ---- q_embed_pca ------------------------------------------------------

  /** Top principal component of the embedding table (q_embed_pca) —
    * the dimensionality probe an embedding-curation pass runs before
    * whitening / compression. Scale shape: ONE corpus pass builds the
    * 64×64 covariance as 4096 EXACT integer sums (each centered
    * product floor-quantized to 1e-9 per row, so addition order cannot
    * move the matrix across engines; BIGINT holds ~9e9 vectors at that
    * quantum), map-side combined down to 4096 keys; the 3-round power
    * iteration then runs as pure scalar array algebra on that ONE
    * constant-size row — zero per-iteration shuffles, zero joins, at
    * any corpus size. (The previous formulation re-shuffled the n·64
    * exploded corpus twice per round: correct, but 8 corpus-wide
    * stages where one suffices — at 100 TB the covariance pass is the
    * only part that may touch the data.) Per-term 1e-6 quantization
    * inside every 64-element sum keeps the iterates bit-identical
    * across engines (the q_sim_kmeans discipline); covariance is
    * normalized by n BEFORE iterating so magnitudes are O(1) at any
    * corpus size. Output: per-dim loading of the unit eigenvector plus
    * the Rayleigh-quotient eigenvalue vᵀCv (variance captured). */
  val qEmbedPca = Q(
    "q_embed_pca",
    (s, d) => {
      val emb = Tables.t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val n1 = emb.agg(count(lit(1)).as("n"))
      // per-dim means, rounded 6dp — 64 rows, broadcast
      val mean = emb
        .select(posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy(col("dim"))
        .agg(round(avg(col("x").cast("double")), 6).as("mu"))
      // centered matrix as codegen'd exploded rows (vec, dim, xd) —
      // the whole outer-product pass stays inside whole-stage codegen
      // (a lambda-built 4096-product array was measured 10× slower)
      def centered = emb
        .select(col("vec_id"), posexplode(col("embedding"))
          .as(Seq("dim", "x")))
        .join(broadcast(mean), "dim")
        .select(col("vec_id"), col("dim"),
          (col("x").cast("double") - col("mu")).as("xd"))
      // one corpus pass: the vec-keyed self-join emits each of the
      // 64×64 centered products exactly once, floor-quantized to 1e-9
      // BEFORE the sum so the 4096 sums are EXACT integers; map-side
      // combine collapses to 4096 keys before the only data shuffle
      val cmat = centered
        .join(centered.select(col("vec_id").as("vid2"),
          col("dim").as("j"), col("xd").as("yd")),
          col("vec_id") === col("vid2"))
        .select((col("dim") * 64 + col("j")).as("ij"),
          floor(col("xd") * col("yd") * lit(1.0e9) + lit(0.5))
            .cast("long").as("q"))
        .groupBy(col("ij"))
        .agg(sum(col("q")).as("qs"))
        .agg(array_sort(collect_list(struct(col("ij"), col("qs"))))
          .as("cs"))
        .select(expr("transform(cs, x -> x.qs)").as("cq"))
      // constant-size state from here on: covariance normalized by n,
      // then three quantized power-iteration rounds as array algebra
      val iterExpr =
        """transform(sequence(0, 63), i -> round(
             (CAST(aggregate(sequence(0, 63), CAST(0 AS BIGINT),
                (acc, j) -> acc + CAST(floor(
                  c[i * 64 + j] * v[j] * 1.0e12 + 0.5D) AS BIGINT))
              AS DOUBLE) / 1.0e12) / nrm, 6))"""
      val nrmExpr =
        """sqrt(CAST(aggregate(sequence(0, 63), CAST(0 AS BIGINT),
             (acc, i) -> acc + CAST(floor(
               vr[i] * vr[i] * 1.0e12 + 0.5D) AS BIGINT))
           AS DOUBLE) / 1.0e12)"""
      val vrExpr =
        """transform(sequence(0, 63), i ->
             CAST(aggregate(sequence(0, 63), CAST(0 AS BIGINT),
               (acc, j) -> acc + CAST(floor(
                 c[i * 64 + j] * v[j] * 1.0e12 + 0.5D) AS BIGINT))
             AS DOUBLE) / 1.0e12)"""
      var st = cmat.crossJoin(broadcast(n1))
        .select(expr(
          "transform(cq, q -> CAST(q AS DOUBLE) / 1.0e9 / CAST(n AS DOUBLE))")
          .as("c"),
          expr("transform(sequence(0, 63), i -> 0.125D)").as("v"))
      // Materialize the 1-row state each round: without the barrier
      // CollapseProject inlines round k's expression into round k+1's
      // lambdas, and interpreted higher-order functions re-evaluate the
      // inlined subtree PER ELEMENT — combinatorial blow-up. Three
      // single-row localCheckpoints are microseconds of data.
      for (_ <- 0 until 3)
        st = st
          .withColumn("vr", expr(vrExpr))
          .withColumn("nrm", expr(nrmExpr))
          .select(col("c"), expr(iterExpr).as("v"))
          .localCheckpoint()
      st
        .withColumn("u", expr(vrExpr))
        .select(col("v"), expr(
          """round(CAST(aggregate(sequence(0, 63), CAST(0 AS BIGINT),
               (acc, i) -> acc + CAST(floor(
                 u[i] * v[i] * 1.0e12 + 0.5D) AS BIGINT))
             AS DOUBLE) / 1.0e12, 4)""").as("eigenvalue"))
        .select(posexplode(col("v")).as(Seq("dim", "loading")),
          col("eigenvalue"))
        .select(col("dim").cast("long").as("dim"), col("loading"),
          col("eigenvalue"))
        .orderBy(col("dim"))
    },
    Some {
      def dotQ(cIdx: String, vec: String): String =
        s"""CAST(list_sum(list_transform(range(64), j ->
              CAST(floor(c[$cIdx * 64 + j + 1] * $vec[j + 1] * 1.0e12
                + 0.5e0) AS BIGINT))) AS DOUBLE) / 1.0e12"""
      def iterCte(i: Int): String =
        s"""vr$i AS (
              SELECT list_transform(range(64), i -> ${dotQ("i", "v")})
                AS vr
              FROM cs, v$i),
            n$i AS (
              SELECT sqrt(CAST(list_sum(list_transform(range(64), i ->
                CAST(floor(vr[i + 1] * vr[i + 1] * 1.0e12 + 0.5e0)
                  AS BIGINT))) AS DOUBLE) / 1.0e12) AS nrm
              FROM vr$i),
            v${i + 1} AS (
              SELECT list_transform(vr, x -> round(x / nrm, 6)) AS v
              FROM vr$i, n$i)"""
      s"""WITH nn AS (SELECT count(*) AS n FROM embeddings),
          mus AS (
            SELECT list(mu ORDER BY dim) AS mus FROM (
              SELECT i - 1 AS dim,
                round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS mu
              FROM embeddings CROSS JOIN range(1, 65) r(i)
              GROUP BY i)),
          cs AS (
            SELECT list(c ORDER BY ij) AS c FROM (
              SELECT (i - 1) * 64 + (j - 1) AS ij,
                CAST(sum(CAST(floor(
                    (CAST(e.embedding[i] AS DOUBLE) - m.mus[i]) *
                    (CAST(e.embedding[j] AS DOUBLE) - m.mus[j]) *
                    1.0e9 + 0.5e0) AS BIGINT)) AS BIGINT)
                  / 1.0e9 / (SELECT CAST(n AS DOUBLE) FROM nn) AS c
              FROM embeddings e, mus m,
                range(1, 65) ri(i), range(1, 65) rj(j)
              GROUP BY ij)),
          v0 AS (SELECT list_transform(range(64), i -> 0.125e0) AS v),
          ${(0 until 3).map(iterCte).mkString(",\n")},
          eig AS (
            SELECT round(CAST(list_sum(list_transform(range(64), i ->
              CAST(floor((${dotQ("i", "v")}) * v[i + 1] * 1.0e12
                + 0.5e0) AS BIGINT))) AS DOUBLE) / 1.0e12, 4)
              AS eigenvalue
            FROM cs, v3)
          SELECT CAST(d AS BIGINT) AS dim, v[d + 1] AS loading,
            eigenvalue
          FROM v3, eig, range(64) rd(d)
          ORDER BY dim NULLS FIRST"""
    })

  // ---- q_text_collocations ----------------------------------------------

  /** PMI collocations (q_text_collocations): adjacent token pairs scored
    * by pointwise mutual information — the phrase-mining signal behind
    * tokenizer/vocab decisions. Three hash aggregates (bigrams,
    * unigrams, totals); the unigram stats are VOCABULARY-sized
    * (unbounded on raw web text), so their joins back onto the bigram
    * table are un-hinted — bigrams hash-partition on each word and AQE
    * broadcasts only by measured size; only the two 1-row totals carry
    * hints. Per-doc pair extraction is scan-local
    * array algebra. log2 runs on exact BIGINT-count ratios cast to
    * double and is rounded to 6dp on both engines. Bigrams seen < 5
    * times are cut before scoring (the long tail is noise), top-30 by
    * (rounded pmi, pair) so the cut is engine-independent. */
  val qTextCollocations = Q(
    "q_text_collocations",
    (s, d) => {
      // two selects: an explode may not reference an alias born in the
      // same select (Spark 4 lateral-alias limitation)
      val toks = Tables.t(s, d, "documents")
        .select(split(col("text"), " ").as("toks"))
      val pairs = toks
        .select(explode(expr(
          """transform(slice(toks, 1, size(toks) - 1),
                       (t, i) -> struct(t AS w1, toks[i + 1] AS w2))"""))
          .as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      val uni = toks.select(explode(col("toks")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("cw"))
      val nUni = uni.agg(sum(col("cw")).as("n_uni"))
      val big = pairs.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("c12"))
        .filter(col("c12") >= 5)
      val nBig = big.agg(sum(col("c12")).as("n_big"))
      big
        .join(uni.select(col("w").as("w1"), col("cw").as("c1")), "w1")
        .join(uni.select(col("w").as("w2"), col("cw").as("c2")), "w2")
        .crossJoin(broadcast(nUni)).crossJoin(broadcast(nBig))
        .select(col("w1"), col("w2"), col("c12"),
          round(log2((col("c12").cast("double") / col("n_big")) /
            ((col("c1").cast("double") / col("n_uni")) *
             (col("c2").cast("double") / col("n_uni")))), 6).as("pmi"))
        .orderBy(col("pmi").desc, col("w1"), col("w2"))
        .limit(30)
    },
    Some("""WITH toks AS (
              SELECT string_split(text, ' ') AS toks FROM documents),
            pairs AS (
              SELECT p.w1 AS w1, p.w2 AS w2 FROM (
                SELECT unnest(list_transform(
                  generate_series(1, len(toks) - 1),
                  i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS p
                FROM toks WHERE len(toks) >= 2) x),
            uni AS (
              SELECT w, CAST(count(*) AS BIGINT) AS cw FROM (
                SELECT unnest(toks) AS w FROM toks) u GROUP BY w),
            n_uni AS (SELECT CAST(sum(cw) AS BIGINT) AS n_uni FROM uni),
            big AS (
              SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
              FROM pairs GROUP BY w1, w2
              HAVING count(*) >= 5),
            n_big AS (SELECT CAST(sum(c12) AS BIGINT) AS n_big FROM big)
            SELECT b.w1, b.w2, b.c12,
              round(log2((CAST(c12 AS DOUBLE) / n_big) /
                ((CAST(u1.cw AS DOUBLE) / n_uni) *
                 (CAST(u2.cw AS DOUBLE) / n_uni))), 6) AS pmi
            FROM big b
            JOIN uni u1 ON b.w1 = u1.w
            JOIN uni u2 ON b.w2 = u2.w
            CROSS JOIN n_uni CROSS JOIN n_big
            ORDER BY pmi DESC, b.w1 NULLS FIRST, b.w2 NULLS FIRST
            LIMIT 30"""))

  // ---- q_ts_anomaly -----------------------------------------------------

  /** Rolling z-score anomaly flags (q_ts_anomaly): each event scored
    * against the mean/stddev of its user's previous 100 events — the
    * monitoring primitive behind rate/quality alerting. ONE keyed
    * window pass (user, time-ordered with event_id tie-break: the tape
    * has duplicate timestamps); the frame is ROWS-based so both engines
    * aggregate the identical row set, and μ/σ are ROUNDED to 6dp before
    * the z computation so their order-noise never crosses engines; z is
    * then identical raw doubles, rounded to 2dp for the dump. Warm-up
    * rows (< 20 prior events) are suppressed — σ of a near-empty frame
    * is noise, exactly like a production alerter's burn-in. */
  val qTsAnomaly = Q(
    "q_ts_anomaly",
    (sp, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(-100, -1)
      Tables.t(sp, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"),
          round(avg(col("value")).over(w), 6).as("mu"),
          round(stddev_samp(col("value")).over(w), 6).as("sigma"),
          count(lit(1)).over(w).as("n_prior"))
        .filter(col("n_prior") >= 20 && col("sigma") > 0)
        .select(col("event_id"), col("user_id"), col("value"),
          round((col("value") - col("mu")) / col("sigma"), 2).as("z"))
        .filter(abs(col("z")) > lit(3.0))
        .orderBy(col("user_id"), col("event_id"))
    },
    Some("""WITH scored AS (
              SELECT event_id, user_id, value,
                round(avg(value) OVER w, 6) AS mu,
                round(stddev_samp(value) OVER w, 6) AS sigma,
                count(*) OVER w AS n_prior
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 100 PRECEDING AND 1 PRECEDING))
            SELECT event_id, user_id, value,
              round((value - mu) / sigma, 2) AS z
            FROM scored
            WHERE n_prior >= 20 AND sigma > 0
              AND abs(round((value - mu) / sigma, 2)) > 3.0
            ORDER BY user_id NULLS FIRST, event_id NULLS FIRST"""))

  // ---- q_corr_matrix ----------------------------------------------------

  /** Feature correlation matrix (q_corr_matrix): Pearson correlation of
    * every embedding-dimension pair — the feature-audit PCA deliberately
    * avoids materializing, HERE as its own operator because d is small
    * and fixed (64): the output is d(d+1)/2 = 2080 cells at ANY corpus
    * size. The shape is the map-side outer product: explode to (vec,
    * dim, x), self-join co-partitioned on vec_id, then a two-phase sum
    * per (i, j) — partial aggregation collapses each partition to ≤2080
    * rows before the only wide shuffle. Per-dim μ/σ are rounded to 6dp
    * and broadcast; the big E[xy] sums feed a 6dp-rounded final corr, so
    * engine order-noise (1e-14 relative) never crosses the rounding
    * grid. */
  val qCorrMatrix = Q(
    "q_corr_matrix",
    (s, d) => {
      val pos = Tables.t(s, d, "embeddings")
        .select(col("vec_id"),
          posexplode(col("embedding")).as(Seq("dim", "x")))
        .select(col("vec_id"), col("dim").cast("long").as("dim"),
          col("x").cast("double").as("x"))
      val stats = pos.groupBy(col("dim"))
        .agg(round(avg(col("x")), 6).as("mu"),
          round(sqrt(greatest(
            avg(col("x") * col("x")) - avg(col("x")) * avg(col("x")),
            lit(0.0))), 6).as("sd"),
          count(lit(1)).as("n"))
      val a = pos.select(col("vec_id"), col("dim").as("i"),
        col("x").as("xi"))
      val b = pos.select(col("vec_id"), col("dim").as("j"),
        col("x").as("xj"))
      val sxy = a.join(b, "vec_id").filter(col("i") <= col("j"))
        .groupBy(col("i"), col("j"))
        .agg(sum(col("xi") * col("xj")).as("sxy"))
      sxy
        .join(broadcast(stats.select(col("dim").as("i"),
          col("mu").as("mui"), col("sd").as("sdi"), col("n"))), "i")
        .join(broadcast(stats.select(col("dim").as("j"),
          col("mu").as("muj"), col("sd").as("sdj"))), "j")
        .select(col("i"), col("j"),
          // clamp: the 6dp-rounded σ can push a perfect correlation a
          // few 1e-6 past ±1; a Pearson output must stay in [-1, 1]
          round(greatest(lit(-1.0), least(lit(1.0),
            (col("sxy") / col("n") - col("mui") * col("muj")) /
              (col("sdi") * col("sdj")))), 6).as("corr"))
        .orderBy(col("i"), col("j"))
    },
    Some("""WITH pos AS (
              SELECT vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
              FROM embeddings
              CROSS JOIN LATERAL (SELECT unnest(generate_series(1,
                len(embedding))) AS i) ix),
            stats AS (
              SELECT dim, round(avg(x), 6) AS mu,
                round(sqrt(greatest(
                  avg(x * x) - avg(x) * avg(x), 0.0)), 6) AS sd,
                CAST(count(*) AS BIGINT) AS n
              FROM pos GROUP BY dim),
            prods AS (
              SELECT a.dim AS i, b.dim AS j, sum(a.x * b.x) AS sxy
              FROM pos a JOIN pos b ON a.vec_id = b.vec_id
              WHERE a.dim <= b.dim
              GROUP BY a.dim, b.dim)
            SELECT i, j,
              round(greatest(CAST(-1.0 AS DOUBLE), least(CAST(1.0 AS DOUBLE),
                (p.sxy / si.n - si.mu * sj.mu) / (si.sd * sj.sd))), 6)
                AS corr
            FROM prods p
            JOIN stats si ON p.i = si.dim
            JOIN stats sj ON p.j = sj.dim
            ORDER BY i NULLS FIRST, j NULLS FIRST"""))

  // ---- q_join_interval --------------------------------------------------

  /** Interval-overlap join (q_join_interval): each user's daily activity
    * interval [first event, last event] against that user's incident
    * windows (±2 h around every value > 99 event) — the
    * "which sessions did an alert fall into" shape. The distributed
    * pattern is BUCKETED overlap: both sides key by (user, UTC-day
    * bucket) — a day interval owns exactly ONE bucket and a ±2 h window
    * at most TWO, so the join is a compound-key EQUI-join with bounded
    * fan-out and the true-overlap predicate is a post-filter, never the
    * join strategy. Because the left side owns a single bucket, a pair
    * can only meet once — no dedup pass needed (the oracle states the
    * same result as a direct theta join, so the binning itself is
    * verified). All arithmetic is exact BIGINT micros. */
  val qJoinInterval = Q(
    "q_join_interval",
    (sp, dir) => {
      val usDay = 86400000000L
      val ev = Tables.t(sp, dir, "events")
        .select(col("user_id"), col("event_id"), col("value"),
          expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"))
      val act = ev
        .groupBy(col("user_id"), expr(s"us div $usDay").as("day"))
        .agg(min(col("us")).as("s_start"), max(col("us")).as("s_end"))
      val inc = ev.filter(col("value") > 99)
        .select(col("user_id"), col("event_id"),
          (col("us") - 7200000000L).as("i_start"),
          (col("us") + 7200000000L).as("i_end"))
        .withColumn("day", explode(expr(
          s"sequence(i_start div $usDay, i_end div $usDay)")))
      act.join(inc, Seq("user_id", "day"))
        .filter(col("s_start") <= col("i_end") &&
          col("i_start") <= col("s_end"))
        .select(col("user_id"), col("day"), col("event_id"),
          (least(col("s_end"), col("i_end")) -
            greatest(col("s_start"), col("i_start"))).as("overlap_us"))
        .orderBy(col("user_id"), col("day"), col("event_id"))
    },
    Some("""WITH ev AS (
              SELECT user_id, event_id, value, epoch_us(ts) AS us
              FROM events),
            act AS (
              SELECT user_id, us // 86400000000 AS day,
                min(us) AS s_start, max(us) AS s_end
              FROM ev GROUP BY user_id, day),
            inc AS (
              SELECT user_id, event_id,
                us - 7200000000 AS i_start, us + 7200000000 AS i_end
              FROM ev WHERE value > 99)
            SELECT a.user_id, a.day, i.event_id,
              least(a.s_end, i.i_end) - greatest(a.s_start, i.i_start)
                AS overlap_us
            FROM act a JOIN inc i
              ON a.user_id = i.user_id
              AND a.s_start <= i.i_end AND i.i_start <= a.s_end
            ORDER BY a.user_id NULLS FIRST, a.day NULLS FIRST,
              i.event_id NULLS FIRST"""))

  // ---- q_graph_degree_dist ----------------------------------------------

  /** Degree distribution (q_graph_degree_dist) of the shared link graph:
    * the structural profile (hubs? heavy tail?) every graph pipeline
    * inspects before choosing a partitioning. Two hash aggregates —
    * degree per node, then node count per degree — output bounded by
    * the distinct-degree count at any graph size. */
  val qGraphDegreeDist = Q(
    "q_graph_degree_dist",
    (s, d) => {
      linkDegrees(s, d)
        .groupBy(col("deg")).agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("deg"))
    },
    Some(s"""WITH $undirectedLinkEdgesSql,
            deg AS (
              SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
                SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und) x
              GROUP BY v)
            SELECT deg, CAST(count(*) AS BIGINT) AS n_nodes
            FROM deg GROUP BY deg
            ORDER BY deg NULLS FIRST"""))

  // ---- q_ml_linreg ------------------------------------------------------

  /** Distributed linear regression by sufficient statistics
    * (q_ml_linreg): fit l_extendedprice ~ l_quantity + l_discount by
    * normal equations — ONE map-side-combined pass over the fact
    * aggregates the 9 Gram/moment sums; the 3×3 system solves in-plan
    * via Cramer's rule on the one-row stats table. This is THE
    * train-on-the-engine shape at 100 TB: the scan cost is the whole
    * cost, the solve is constant work however large the corpus (at
    * d=64 the same pass emits the (d+1)² Gram matrix for a driver
    * solve). Features and target are scaled by FIXED constants first
    * (quantity/100, price/100000 — the standard conditioning step
    * before normal equations), which also keeps every sufficient stat
    * ≤ ~1e6 so the 4dp snap applied on BOTH engines (the
    * kmeans/pagerank state-rounding discipline) is hundreds of ulps
    * wide — order-of-summation noise can never cross it. Coefficients
    * are reported in the scaled units. */
  val qMlLinreg = Q(
    "q_ml_linreg",
    (s, d) => {
      val li = Tables.t(s, d, "lineitem")
        .select((col("l_quantity") / 100.0).as("x1"),
          col("l_discount").as("x2"),
          (col("l_extendedprice") / 100000.0).as("y"))
      val stats = li.agg(
        count(lit(1)).cast("double").as("n"),
        round(sum(col("x1")), 4).as("sx1"),
        round(sum(col("x2")), 4).as("sx2"),
        round(sum(col("y")), 4).as("sy"),
        round(sum(col("x1") * col("x1")), 4).as("sx1x1"),
        round(sum(col("x1") * col("x2")), 4).as("sx1x2"),
        round(sum(col("x2") * col("x2")), 4).as("sx2x2"),
        round(sum(col("x1") * col("y")), 4).as("sx1y"),
        round(sum(col("x2") * col("y")), 4).as("sx2y"),
        round(sum(col("y") * col("y")), 4).as("syy"))
      stats
        .withColumn("det", expr(
          """n*(sx1x1*sx2x2 - sx1x2*sx1x2) - sx1*(sx1*sx2x2 - sx1x2*sx2)
             + sx2*(sx1*sx1x2 - sx1x1*sx2)"""))
        .withColumn("b0", expr(
          """(sy*(sx1x1*sx2x2 - sx1x2*sx1x2) - sx1*(sx1y*sx2x2 - sx1x2*sx2y)
             + sx2*(sx1y*sx1x2 - sx1x1*sx2y)) / det"""))
        .withColumn("b1", expr(
          """(n*(sx1y*sx2x2 - sx2y*sx1x2) - sy*(sx1*sx2x2 - sx1x2*sx2)
             + sx2*(sx1*sx2y - sx1y*sx2)) / det"""))
        .withColumn("b2", expr(
          """(n*(sx1x1*sx2y - sx1x2*sx1y) - sx1*(sx1*sx2y - sx1y*sx2)
             + sy*(sx1*sx1x2 - sx1x1*sx2)) / det"""))
        .withColumn("sse", expr(
          "syy - b0*sy - b1*sx1y - b2*sx2y"))
        .withColumn("sst", expr("syy - sy*sy/n"))
        .select(col("n").cast("long").as("n"),
          round(col("b0"), 6).as("b0"),
          round(col("b1"), 6).as("b1"),
          round(col("b2"), 6).as("b2"),
          round(lit(1.0) - col("sse") / col("sst"), 6).as("r2"))
    },
    Some("""WITH sc AS (
              SELECT l_quantity / 100.0 AS x1, l_discount AS x2,
                l_extendedprice / 100000.0 AS y
              FROM lineitem),
            s AS (
              SELECT CAST(count(*) AS DOUBLE) AS n,
                round(sum(x1), 4) AS sx1,
                round(sum(x2), 4) AS sx2,
                round(sum(y), 4) AS sy,
                round(sum(x1*x1), 4) AS sx1x1,
                round(sum(x1*x2), 4) AS sx1x2,
                round(sum(x2*x2), 4) AS sx2x2,
                round(sum(x1*y), 4) AS sx1y,
                round(sum(x2*y), 4) AS sx2y,
                round(sum(y*y), 4) AS syy
              FROM sc),
            m AS (
              SELECT *,
                n*(sx1x1*sx2x2 - sx1x2*sx1x2) - sx1*(sx1*sx2x2 - sx1x2*sx2)
                  + sx2*(sx1*sx1x2 - sx1x1*sx2) AS det
              FROM s),
            coef AS (
              SELECT *,
                (sy*(sx1x1*sx2x2 - sx1x2*sx1x2)
                  - sx1*(sx1y*sx2x2 - sx1x2*sx2y)
                  + sx2*(sx1y*sx1x2 - sx1x1*sx2y)) / det AS b0,
                (n*(sx1y*sx2x2 - sx2y*sx1x2) - sy*(sx1*sx2x2 - sx1x2*sx2)
                  + sx2*(sx1*sx2y - sx1y*sx2)) / det AS b1,
                (n*(sx1x1*sx2y - sx1x2*sx1y) - sx1*(sx1*sx2y - sx1y*sx2)
                  + sy*(sx1*sx1x2 - sx1x1*sx2)) / det AS b2
              FROM m)
            SELECT CAST(n AS BIGINT) AS n,
              round(b0, 6) AS b0, round(b1, 6) AS b1, round(b2, 6) AS b2,
              round(1.0 - (syy - b0*sy - b1*sx1y - b2*sx2y)
                / (syy - sy*sy/n), 6) AS r2
            FROM coef"""))

  // ---- q_stats_ttest ----------------------------------------------------

  /** Welch two-sample t-statistic per slice (q_stats_ttest): each
    * event_type's value distribution vs the REST of the table — the
    * A/B-style segment-drift test an analytics user runs over every
    * dimension value. One pass computes per-group (n, Σx, Σx²); the
    * rest-of-table stats are DERIVED from the one-row totals by
    * subtraction, so the whole test is two tiny aggregates however
    * wide the fact — never a per-slice rescan. Sums are snapped at 2dp
    * on both engines before the arithmetic (linreg discipline). */
  val qStatsTtest = Q(
    "q_stats_ttest",
    (s, d) => {
      val ev = Tables.t(s, d, "events")
      val g = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).cast("double").as("n"),
          round(sum(col("value")), 2).as("sx"),
          round(sum(col("value") * col("value")), 2).as("qx"))
      val tot = g.agg(sum(col("n")).as("nt"),
        round(sum(col("sx")), 2).as("st"),
        round(sum(col("qx")), 2).as("qt"))
      g.crossJoin(broadcast(tot))
        .withColumn("m", expr("sx / n"))
        .withColumn("v", expr("(qx - sx*sx/n) / (n - 1)"))
        .withColumn("rn", expr("nt - n"))
        .withColumn("rm", expr("(st - sx) / rn"))
        .withColumn("rv", expr(
          "((qt - qx) - (st - sx)*(st - sx)/rn) / (rn - 1)"))
        .select(col("event_type"), col("n").cast("long").as("n"),
          round(col("m"), 6).as("mean"),
          round((col("m") - col("rm")) /
            sqrt(col("v") / col("n") + col("rv") / col("rn")), 6)
            .as("t_stat"))
        .orderBy(col("event_type"))
    },
    Some("""WITH g AS (
              SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
                round(sum(value), 2) AS sx,
                round(sum(value*value), 2) AS qx
              FROM events GROUP BY event_type),
            tot AS (
              SELECT sum(n) AS nt, round(sum(sx), 2) AS st,
                round(sum(qx), 2) AS qt
              FROM g),
            m AS (
              SELECT event_type, n, sx / n AS m,
                (qx - sx*sx/n) / (n - 1) AS v,
                nt - n AS rn,
                (st - sx) / (nt - n) AS rm,
                ((qt - qx) - (st - sx)*(st - sx)/(nt - n)) / (nt - n - 1)
                  AS rv
              FROM g, tot)
            SELECT event_type, CAST(n AS BIGINT) AS n,
              round(m, 6) AS mean,
              round((m - rm) / sqrt(v/n + rv/rn), 6) AS t_stat
            FROM m
            ORDER BY event_type NULLS FIRST"""))

  // ---- q_stats_mannwhitney ----------------------------------------------

  /** Mann-Whitney U rank-sum test (q_stats_mannwhitney): the
    * nonparametric two-sample test a drift monitor reaches for when
    * value distributions are non-normal — purchase vs error event
    * values, tie-corrected normal approximation. All ranking is
    * INTEGER-exact: values snap to the cent grid, ties get the doubled
    * average rank 2·(#below) + count + 1 (a BIGINT), and the rank-sum
    * accumulates in DECIMAL(38,0)/HUGEINT, so both engines reach the
    * identical U before the single double conversion for z. The rank
    * window runs over the DISTINCT cent grid (grid-bounded — the
    * q_agg_equidepth buffer argument), never over raw rows: one scan,
    * one keyed count, one bounded window, a one-row rollup. */
  val qStatsMannwhitney = Q(
    "q_stats_mannwhitney",
    (s, d) => {
      val base = Tables.t(s, d, "events")
        .filter(col("event_type").isin("purchase", "error"))
        .select(floor(col("value") * 100 + 0.5).cast("long").as("c"),
          (col("event_type") === "purchase").as("g1"))
      val vc = base.groupBy(col("c"))
        .agg(count(lit(1)).as("na"),
          sum(when(col("g1"), 1L).otherwise(0L)).as("n1c"))
      val w = Window.orderBy(col("c"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ranked = vc
        .withColumn("cum", sum(col("na")).over(w))
        .withColumn("rank2",
          lit(2) * (col("cum") - col("na")) + col("na") + 1)
      val st = ranked.agg(
        sum(col("n1c")).as("n1"),
        sum(col("na") - col("n1c")).as("n2"),
        sum(col("n1c").cast("decimal(38,0)") * col("rank2")).as("r1_2"),
        sum(col("na") * col("na") * col("na") - col("na")).as("ties"))
      val u1d = (col("r1_2") - col("n1") * (col("n1") + 1))
        .cast("double") / 2
      st.select(col("n1"), col("n2"), u1d.as("u1"),
        round((u1d - col("n1").cast("double") * col("n2") / 2) /
          sqrt(col("n1").cast("double") * col("n2") / lit(12.0) *
            ((col("n1") + col("n2") + 1) -
              col("ties").cast("double") /
                ((col("n1") + col("n2")) *
                  (col("n1") + col("n2") - lit(1.0))))), 6).as("z"))
    },
    Some("""WITH base AS (
              SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
                event_type = 'purchase' AS g1
              FROM events
              WHERE event_type IN ('purchase', 'error')),
            vc AS (
              SELECT c, CAST(count(*) AS BIGINT) AS na,
                CAST(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n1c
              FROM base GROUP BY c),
            ranked AS (
              SELECT c, na, n1c,
                2 * (sum(na) OVER (ORDER BY c
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - na) + na + 1 AS rank2
              FROM vc),
            st AS (
              SELECT CAST(sum(n1c) AS BIGINT) AS n1,
                CAST(sum(na - n1c) AS BIGINT) AS n2,
                sum(CAST(n1c AS HUGEINT) * rank2) AS r1_2,
                CAST(sum(na*na*na - na) AS BIGINT) AS ties
              FROM ranked)
            SELECT n1, n2,
              CAST(r1_2 - CAST(n1 AS HUGEINT) * (n1 + 1) AS DOUBLE) / 2
                AS u1,
              round((CAST(r1_2 - CAST(n1 AS HUGEINT) * (n1 + 1)
                     AS DOUBLE) / 2
                  - CAST(n1 AS DOUBLE) * n2 / 2)
                / sqrt(CAST(n1 AS DOUBLE) * n2 / 12.0
                    * ((n1 + n2 + 1) - CAST(ties AS DOUBLE)
                        / ((n1 + n2) * (n1 + n2 - 1.0)))), 6) AS z
            FROM st"""))

  // ---- q_stats_chisq ----------------------------------------------------

  /** Chi-squared independence test (q_stats_chisq): is document
    * language independent of source? Observed counts per (lang,
    * source) cell, expected from the margins, summed over the FULL
    * R×C grid (zero-observed cells included — the margins-only cross
    * join is R+C rows, broadcast). Everything after the one keyed
    * count aggregate is margin-table algebra: cells, not corpus. */
  val qStatsChisq = Q(
    "q_stats_chisq",
    (s, d) => {
      val o = Tables.t(s, d, "documents")
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).cast("double").as("obs"))
      val r = o.groupBy(col("lang")).agg(sum(col("obs")).as("rl"))
      val c = o.groupBy(col("source")).agg(sum(col("obs")).as("cs"))
      val t = o.agg(sum(col("obs")).as("nn"))
      val grid = r.crossJoin(broadcast(c))
      grid
        .join(o, Seq("lang", "source"), "left")
        .na.fill(Map("obs" -> 0.0))
        .crossJoin(broadcast(t))
        .agg(
          round(sum((col("obs") - col("rl") * col("cs") / col("nn")) *
            (col("obs") - col("rl") * col("cs") / col("nn")) /
            (col("rl") * col("cs") / col("nn"))), 6).as("chi2"),
          count(lit(1)).as("n_cells"))
        .crossJoin(broadcast(
          r.agg(count(lit(1)).as("nr"))))
        .crossJoin(broadcast(
          c.agg(count(lit(1)).as("nc"))))
        .select(col("chi2"), col("n_cells"),
          ((col("nr") - 1) * (col("nc") - 1)).as("df"))
    },
    Some("""WITH o AS (
              SELECT lang, source, CAST(count(*) AS DOUBLE) AS obs
              FROM documents GROUP BY lang, source),
            r AS (SELECT lang, sum(obs) AS rl FROM o GROUP BY lang),
            c AS (SELECT source, sum(obs) AS cs FROM o GROUP BY source),
            t AS (SELECT sum(obs) AS nn FROM o),
            grid AS (SELECT lang, source, rl, cs FROM r CROSS JOIN c),
            fo AS (
              SELECT g.lang, g.source, g.rl, g.cs,
                coalesce(o.obs, 0) AS obs
              FROM grid g LEFT JOIN o
                ON g.lang = o.lang AND g.source = o.source)
            SELECT
              round(sum((obs - rl*cs/nn)*(obs - rl*cs/nn)
                / (rl*cs/nn)), 6) AS chi2,
              CAST(count(*) AS BIGINT) AS n_cells,
              CAST((SELECT count(*) FROM r) - 1 AS BIGINT)
                * CAST((SELECT count(*) FROM c) - 1 AS BIGINT) AS df
            FROM fo CROSS JOIN t"""))

  // ---- q_graph_bfs ------------------------------------------------------

  /** BFS hop distance from node 0 (q_graph_bfs): the reachability /
    * shortest-hops census over the derived link graph — the graph
    * tier's fourth primitive next to components, PageRank and
    * triangles. Min-dist frontier propagation: each round joins the
    * current label table to the (cached) edge list keyed on the source
    * endpoint — one equi-shuffle per round, rounds bounded by the
    * graph diameter (small-world ≈ O(log n)), one Spark action per
    * round (the convergence count materializes the localCheckpoint,
    * the connectedComponents discipline). Loud failure if the
    * diameter exceeds the round budget. Output is the tiny per-level
    * census; the oracle is a recursive CTE computing the same
    * fixpoint. */
  val qGraphBfs = Q(
    "q_graph_bfs",
    (s, d) => {
      val und = undirectedLinkEdges(s, d)
      val edges = und.select(col("a").as("u"), col("b").as("w"))
        .unionAll(und.select(col("b").as("u"), col("a").as("w")))
      // size the per-round shuffles to the (cached, already-counted)
      // edge list, not the session default — same discipline as
      // Dedup.propagationWidth for the components loop
      val saved = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions",
        Dedup.propagationWidth(und.count() * 2, saved.toInt).toString)
      try {
      var labels = s.range(1)
        .select(lit(0L).as("v"), lit(0L).as("dist"))
      // Convergence via the (n, Σdist) fingerprint instead of a
      // per-round anti/left join back to the previous labels: a round
      // can only ADD nodes (n grows) or LOWER a min-dist (Σ shrinks
      // at constant n), so fingerprint-equal ⇔ fixpoint. One cheap
      // aggregate action per round (it also materializes the round's
      // checkpoint) — no join, half the per-round stages. (Fusing TWO
      // expansion steps per action was A/B'd and REJECTED: the block's
      // un-materialized middle adds a third sequential exchange to the
      // job and measured 2.9 s → 4.4 s — the per-round cost here is
      // shuffle latency, not job-launch floor.)
      var fp = (1L, 0L)
      var changed = true
      var iter = 0
      val maxIter = 32
      while (changed && iter < maxIter) {
        val cand = labels.join(edges, col("v") === col("u"))
          .select(col("w").as("v"), (col("dist") + 1).as("dist"))
        val merged = labels.unionAll(cand)
          .groupBy(col("v")).agg(min(col("dist")).as("dist"))
          .localCheckpoint(false)
        val row = merged
          .agg(count(lit(1)).as("n"), sum(col("dist")).as("sd"))
          .head()
        val nfp = (row.getLong(0), row.getLong(1))
        changed = nfp != fp
        fp = nfp
        labels = merged
        iter += 1
      }
      if (changed)
        throw new IllegalStateException(
          s"BFS did not converge after $maxIter rounds — graph " +
            "diameter exceeds the budget; raise maxIter")
      labels.groupBy(col("dist"))
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("dist"))
      } finally s.conf.set("spark.sql.shuffle.partitions", saved)
    },
    Some(s"""WITH RECURSIVE $undirectedLinkEdgesSql,
            edges AS (SELECT a AS u, b AS v FROM und
                      UNION ALL SELECT b, a FROM und),
            bfs(v, dist) AS (
              SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)
              UNION
              SELECT e.v, bfs.dist + 1
              FROM bfs JOIN edges e ON e.u = bfs.v
              WHERE bfs.dist < 32)
            SELECT dist, CAST(count(*) AS BIGINT) AS n_nodes FROM (
              SELECT v, min(dist) AS dist FROM bfs GROUP BY v) x
            GROUP BY dist
            ORDER BY dist NULLS FIRST"""))

  // ---- q_text_heaps -----------------------------------------------------

  /** Heaps-law vocabulary growth (q_text_heaps): cumulative vocabulary
    * size vs cumulative token count at 20 corpus checkpoints — the
    * curve that predicts vocab size at 100× the corpus. Scale shape:
    * docs are bucketed into 20 equal doc-id ranges; per-bucket token
    * sums and FIRST-APPEARANCE term counts (min bucket per term) are
    * two hash aggregates, and the cumulative sums run over the TINY
    * 20-row bucket table — never a global per-doc window (the
    * q_event_count day-sharding lesson applied at design time). */
  val qTextHeaps = Q(
    "q_text_heaps",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.t(s, d, "documents")
      val nb = 20
      val mx = docs.agg((max(col("doc_id")) + 1).as("mx"))
      val bucketed = docs.crossJoin(broadcast(mx))
        .select(expr(s"doc_id * $nb div mx").as("bucket"),
          col("doc_id"), col("text"))
      val toks = bucketed
        .select(col("bucket"), explode(split(col("text"), " ")).as("term"))
      val perBucket = toks.groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_tokens"))
      val firstSeen = toks.groupBy(col("term"))
        .agg(min(col("bucket")).as("first_bucket"))
        .groupBy(col("first_bucket")).agg(count(lit(1)).as("n_new_terms"))
      val w = Window.orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      perBucket
        .join(firstSeen, col("bucket") === col("first_bucket"), "left")
        .select(col("bucket"), col("n_tokens"),
          coalesce(col("n_new_terms"), lit(0L)).as("n_new_terms"))
        .select(col("bucket"),
          sum(col("n_tokens")).over(w).as("tokens_cum"),
          sum(col("n_new_terms")).over(w).as("vocab_cum"))
        .orderBy(col("bucket"))
    },
    Some("""WITH mx AS (
              SELECT CAST(max(doc_id) + 1 AS BIGINT) AS mx FROM documents),
            toks AS (
              SELECT doc_id * 20 // mx AS bucket,
                unnest(string_split(text, ' ')) AS term
              FROM documents, mx),
            per_bucket AS (
              SELECT bucket, CAST(count(*) AS BIGINT) AS n_tokens
              FROM toks GROUP BY bucket),
            first_seen AS (
              SELECT first_bucket, CAST(count(*) AS BIGINT) AS n_new_terms
              FROM (SELECT term, min(bucket) AS first_bucket
                    FROM toks GROUP BY term) f
              GROUP BY first_bucket)
            SELECT p.bucket,
              CAST(sum(p.n_tokens) OVER w AS BIGINT) AS tokens_cum,
              CAST(sum(coalesce(f.n_new_terms, 0)) OVER w AS BIGINT)
                AS vocab_cum
            FROM per_bucket p
            LEFT JOIN first_seen f ON p.bucket = f.first_bucket
            WINDOW w AS (ORDER BY p.bucket
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            ORDER BY p.bucket NULLS FIRST"""))

  // ---- q_stats_ks -------------------------------------------------------

  /** Two-sample Kolmogorov–Smirnov distance between the `click` and
    * `error` value distributions (q_stats_ks) — the drift test a
    * pipeline runs between cohorts. Fully exact: values become integer
    * cents, the two empirical CDFs are cumulative BIGINT counts over
    * the distinct-value axis, and D is maximized as the cross-multiplied
    * integer |ca·n2 − cb·n1| before the single final division. The
    * window is value-domain-sized (bounded, ≤ ~33k distinct cents
    * whatever the row count), so the unpartitioned cumsum is safe. */
  val qStatsKs = Q(
    "q_stats_ks",
    (s, d) => {
      val ev = Tables.t(s, d, "events")
        .filter(col("event_type").isin("click", "error"))
        .select(col("event_type"),
          floor(col("value") * 100 + 0.5).cast("long").as("c"))
      val isA = col("event_type") === "click"
      val counts = ev.groupBy(col("c"))
        .agg(sum(when(isA, 1L).otherwise(0L)).as("na"),
          sum(when(isA, 0L).otherwise(1L)).as("nb"))
      val w = Window.orderBy(col("c"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = ev.agg(
        sum(when(isA, 1L).otherwise(0L)).as("n1"),
        sum(when(isA, 0L).otherwise(1L)).as("n2"))
      counts
        .select(col("c"), sum(col("na")).over(w).as("ca"),
          sum(col("nb")).over(w).as("cb"))
        .crossJoin(broadcast(tot))
        .select(col("c"), col("n1"), col("n2"),
          abs(col("ca") * col("n2") - col("cb") * col("n1")).as("diff"))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("diff").desc, col("c"))))
        .filter(col("rk") === 1)
        .select(col("n1"), col("n2"),
          round(col("diff").cast("double") / (col("n1") * col("n2")), 6)
            .as("d_stat"),
          (col("c") / 100.0).as("ks_at"))
    },
    Some("""WITH ev AS (
              SELECT event_type,
                CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
              FROM events WHERE event_type IN ('click', 'error')),
            counts AS (
              SELECT c,
                CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS na,
                CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS nb
              FROM ev GROUP BY c),
            tot AS (
              SELECT
                CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n1,
                CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n2
              FROM ev),
            cum AS (
              SELECT c,
                CAST(sum(na) OVER w AS BIGINT) AS ca,
                CAST(sum(nb) OVER w AS BIGINT) AS cb
              FROM counts
              WINDOW w AS (ORDER BY c
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
            SELECT n1, n2,
              round(CAST(diff AS DOUBLE) / (n1 * n2), 6) AS d_stat,
              c / 100.0 AS ks_at
            FROM (SELECT c, n1, n2, abs(ca * n2 - cb * n1) AS diff,
                    row_number() OVER (
                      ORDER BY abs(ca * n2 - cb * n1) DESC, c) AS rk
                  FROM cum CROSS JOIN tot)
            WHERE rk = 1"""))

  // ---- q_graph_labelprop ------------------------------------------------

  /** Synchronous label propagation (q_graph_labelprop): 3 fixed rounds
    * of majority-neighbor-label voting over the shared link graph,
    * ties broken toward the smaller label, isolated nodes keep their
    * own label; output is the community-size census. Every round is one
    * equi-shuffle of the edge list against the current label table plus
    * a vote aggregate — the LPA cost model (O(E) per round, rounds
    * fixed), the same shape as q_graph_pagerank's iterations. The
    * all-integer vote → argmax pipeline is engine-exact. */
  /** Final (node, lbl) assignment after the 3 bounded label-propagation
    * rounds — shared by q_graph_labelprop's size census and
    * q_graph_modularity's partition-quality score, so the propagation
    * has ONE definition. */
  private[graft] def labelPropLabels(s: SparkSession, d: String)
      : DataFrame = Fixpoints.cacheOnce(s, d, "lpl") {
    val und = undirectedLinkEdges(s, d)
    val edges = und.select(col("a").as("src"), col("b").as("dst"))
      .union(und.select(col("b").as("src"), col("a").as("dst")))
    var labels = Tables.t(s, d, "documents")
      .select(col("doc_id").as("node"), col("doc_id").as("lbl"))
    for (_ <- 1 to 3) {
      val votes = edges
        .join(labels, col("dst") === col("node"))
        .groupBy(col("src"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
      val winner = votes
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("src"))
            .orderBy(col("cnt").desc, col("lbl"))))
        .filter(col("rk") === 1)
        .select(col("src").as("wnode"), col("lbl").as("wlbl"))
      labels = labels
        .join(winner, col("node") === col("wnode"), "left")
        .select(col("node"),
          coalesce(col("wlbl"), col("lbl")).as("lbl"))
    }
    labels
  }

  /** The matching DuckDB CTE chain (edges → l0 → w1/l1 → w2/l2 → w3/l3);
    * prepend `WITH $undirectedLinkEdgesSql,` at the use site. */
  private[graft] val labelPropCteSql: String =
    """edges AS (
         SELECT a AS src, b AS dst FROM und
         UNION ALL
         SELECT b AS src, a AS dst FROM und),
       l0 AS (SELECT doc_id AS node, doc_id AS lbl FROM documents),
       w1 AS (
         SELECT src AS node, lbl FROM (
           SELECT e.src, l.lbl, count(*) AS cnt, row_number() OVER (
               PARTITION BY e.src
               ORDER BY count(*) DESC, l.lbl) AS rk
           FROM edges e JOIN l0 l ON e.dst = l.node
           GROUP BY e.src, l.lbl)
         WHERE rk = 1),
       l1 AS (
         SELECT l.node, coalesce(w.lbl, l.lbl) AS lbl
         FROM l0 l LEFT JOIN w1 w ON l.node = w.node),
       w2 AS (
         SELECT src AS node, lbl FROM (
           SELECT e.src, l.lbl, count(*) AS cnt, row_number() OVER (
               PARTITION BY e.src
               ORDER BY count(*) DESC, l.lbl) AS rk
           FROM edges e JOIN l1 l ON e.dst = l.node
           GROUP BY e.src, l.lbl)
         WHERE rk = 1),
       l2 AS (
         SELECT l.node, coalesce(w.lbl, l.lbl) AS lbl
         FROM l1 l LEFT JOIN w2 w ON l.node = w.node),
       w3 AS (
         SELECT src AS node, lbl FROM (
           SELECT e.src, l.lbl, count(*) AS cnt, row_number() OVER (
               PARTITION BY e.src
               ORDER BY count(*) DESC, l.lbl) AS rk
           FROM edges e JOIN l2 l ON e.dst = l.node
           GROUP BY e.src, l.lbl)
         WHERE rk = 1),
       l3 AS (
         SELECT l.node, coalesce(w.lbl, l.lbl) AS lbl
         FROM l2 l LEFT JOIN w3 w ON l.node = w.node)"""

  val qGraphLabelprop = Q(
    "q_graph_labelprop",
    (s, d) => {
      labelPropLabels(s, d)
        .groupBy(col("lbl"))
        .agg(count(lit(1)).as("community_size"))
        .groupBy(col("community_size"))
        .agg(count(lit(1)).as("n_communities"))
        .orderBy(col("community_size"))
    },
    Some(s"""WITH $undirectedLinkEdgesSql,
             $labelPropCteSql
             SELECT community_size,
               CAST(count(*) AS BIGINT) AS n_communities
             FROM (SELECT lbl, CAST(count(*) AS BIGINT) AS community_size
                   FROM l3 GROUP BY lbl)
             GROUP BY community_size
             ORDER BY community_size NULLS FIRST"""))

  // ---- q_graph_jaccard --------------------------------------------------

  /** Common-neighbor Jaccard link prediction (q_graph_jaccard): the 20
    * most similar unlinked-or-linked node pairs by |N(a)∩N(b)| /
    * |N(a)∪N(b)|. Candidates come from the wedge equi-join on the
    * shared neighbor — the same shape as q_graph_triangles — with hub
    * centers (degree > 64) excluded from wedge generation, the standard
    * cap that keeps the Σdeg² candidate cost bounded at fleet scale
    * (a celebrity node may not generate |fans|² pairs). Jaccard is an
    * integer ratio, divided once. ALL joins against deg stay un-hinted:
    * the deg ≤ 64 slice bounds DEGREE, not node count — it is nearly
    * all of V and grows with the corpus, so a forced broadcast of it
    * is an executor OOM at fleet scale. AQE picks broadcast from
    * measured size while the relation still fits. */
  val qGraphJaccard = Q(
    "q_graph_jaccard",
    (s, d) => {
      // the wedge self-join + pair aggregate is the shared persisted
      // fixpoint (also consumed weight-wise by q_graph_adamic_adar);
      // only the degree joins and the top-20 are query-local
      val deg = linkDegrees(s, d)
      wedgePairStats(s, d)
        .select(col("pa"), col("pb"), col("common"))
        .join(deg.select(col("v").as("da"), col("deg").as("dega")),
          col("pa") === col("da"))
        .join(deg.select(col("v").as("db"), col("deg").as("degb")),
          col("pb") === col("db"))
        .select(col("pa").as("a"), col("pb").as("b"), col("common"),
          round(col("common").cast("double") /
            (col("dega") + col("degb") - col("common")), 6).as("jaccard"))
        .orderBy(col("jaccard").desc, col("a"), col("b"))
        .limit(20)
    },
    Some(s"""WITH $undirectedLinkEdgesSql,
             edges AS (
               SELECT a AS node, b AS nbr FROM und
               UNION ALL SELECT b AS node, a AS nbr FROM und),
             deg AS (
               SELECT node AS dn, CAST(count(*) AS BIGINT) AS deg
               FROM edges GROUP BY node),
             wedgeable AS (
               SELECT e.node, e.nbr FROM edges e
                 JOIN deg ON e.nbr = deg.dn
               WHERE deg.deg <= 64),
             common AS (
               SELECT l.node AS pa, r.node AS pb,
                 CAST(count(*) AS BIGINT) AS common
               FROM wedgeable l JOIN wedgeable r
                 ON l.nbr = r.nbr AND l.node < r.node
               GROUP BY l.node, r.node)
             SELECT pa AS a, pb AS b, common,
               round(CAST(common AS DOUBLE) /
                 (da.deg + db.deg - common), 6) AS jaccard
             FROM common
               JOIN deg da ON pa = da.dn
               JOIN deg db ON pb = db.dn
             ORDER BY jaccard DESC NULLS LAST, a NULLS FIRST,
               b NULLS FIRST
             LIMIT 20"""))

  // ---- q_ml_ridge -------------------------------------------------------

  /** Ridge regression (q_ml_ridge): the q_ml_linreg normal equations
    * with an L2 penalty λ=0.1 on the slope diagonal (the intercept
    * stays unpenalized, standard practice) — the same one-pass Gram
    * sufficient statistics with the identical 4dp snap, then Cramer's
    * rule on (X'X + λI'). Emitted next to the OLS slopes so the
    * shrinkage is visible in one row; at 100 TB the cost is unchanged:
    * regularization is constant algebra on the one-row stats table. */
  val qMlRidge = Q(
    "q_ml_ridge",
    (s, d) => {
      val li = Tables.t(s, d, "lineitem")
        .select((col("l_quantity") / 100.0).as("x1"),
          col("l_discount").as("x2"),
          (col("l_extendedprice") / 100000.0).as("y"))
      val stats = li.agg(
        count(lit(1)).cast("double").as("n"),
        round(sum(col("x1")), 4).as("sx1"),
        round(sum(col("x2")), 4).as("sx2"),
        round(sum(col("y")), 4).as("sy"),
        round(sum(col("x1") * col("x1")), 4).as("sx1x1"),
        round(sum(col("x1") * col("x2")), 4).as("sx1x2"),
        round(sum(col("x2") * col("x2")), 4).as("sx2x2"),
        round(sum(col("x1") * col("y")), 4).as("sx1y"),
        round(sum(col("x2") * col("y")), 4).as("sx2y"))
      stats
        .withColumn("la", expr("sx1x1 + 0.1D"))
        .withColumn("lb", expr("sx2x2 + 0.1D"))
        .withColumn("det", expr(
          """n*(la*lb - sx1x2*sx1x2) - sx1*(sx1*lb - sx1x2*sx2)
             + sx2*(sx1*sx1x2 - la*sx2)"""))
        .withColumn("b0", expr(
          """(sy*(la*lb - sx1x2*sx1x2) - sx1*(sx1y*lb - sx1x2*sx2y)
             + sx2*(sx1y*sx1x2 - la*sx2y)) / det"""))
        .withColumn("b1", expr(
          """(n*(sx1y*lb - sx2y*sx1x2) - sy*(sx1*lb - sx1x2*sx2)
             + sx2*(sx1*sx2y - sx1y*sx2)) / det"""))
        .withColumn("b2", expr(
          """(n*(la*sx2y - sx1x2*sx1y) - sx1*(sx1*sx2y - sx1y*sx2)
             + sy*(sx1*sx1x2 - la*sx2)) / det"""))
        .withColumn("odet", expr(
          """n*(sx1x1*sx2x2 - sx1x2*sx1x2) - sx1*(sx1*sx2x2 - sx1x2*sx2)
             + sx2*(sx1*sx1x2 - sx1x1*sx2)"""))
        .withColumn("ob1", expr(
          """(n*(sx1y*sx2x2 - sx2y*sx1x2) - sy*(sx1*sx2x2 - sx1x2*sx2)
             + sx2*(sx1*sx2y - sx1y*sx2)) / odet"""))
        .select(col("n").cast("long").as("n"),
          lit(0.1).as("lambda"),
          round(col("b0"), 6).as("b0"),
          round(col("b1"), 6).as("b1"),
          round(col("b2"), 6).as("b2"),
          round(col("ob1"), 6).as("ols_b1"),
          round(col("ob1") - col("b1"), 6).as("shrinkage_b1"))
    },
    Some("""WITH sc AS (
              SELECT l_quantity / 100.0 AS x1, l_discount AS x2,
                l_extendedprice / 100000.0 AS y
              FROM lineitem),
            st AS (
              SELECT CAST(count(*) AS DOUBLE) AS n,
                round(sum(x1), 4) AS sx1,
                round(sum(x2), 4) AS sx2,
                round(sum(y), 4) AS sy,
                round(sum(x1*x1), 4) AS sx1x1,
                round(sum(x1*x2), 4) AS sx1x2,
                round(sum(x2*x2), 4) AS sx2x2,
                round(sum(x1*y), 4) AS sx1y,
                round(sum(x2*y), 4) AS sx2y
              FROM sc),
            lam AS (
              SELECT *, sx1x1 + 0.1e0 AS la, sx2x2 + 0.1e0 AS lb
              FROM st),
            m AS (
              SELECT *,
                n*(la*lb - sx1x2*sx1x2) - sx1*(sx1*lb - sx1x2*sx2)
                  + sx2*(sx1*sx1x2 - la*sx2) AS det,
                n*(sx1x1*sx2x2 - sx1x2*sx1x2)
                  - sx1*(sx1*sx2x2 - sx1x2*sx2)
                  + sx2*(sx1*sx1x2 - sx1x1*sx2) AS odet
              FROM lam)
            SELECT CAST(n AS BIGINT) AS n, 0.1e0 AS lambda,
              round((sy*(la*lb - sx1x2*sx1x2)
                - sx1*(sx1y*lb - sx1x2*sx2y)
                + sx2*(sx1y*sx1x2 - la*sx2y)) / det, 6) AS b0,
              round((n*(sx1y*lb - sx2y*sx1x2)
                - sy*(sx1*lb - sx1x2*sx2)
                + sx2*(sx1*sx2y - sx1y*sx2)) / det, 6) AS b1,
              round((n*(la*sx2y - sx1x2*sx1y)
                - sx1*(sx1*sx2y - sx1y*sx2)
                + sy*(sx1*sx1x2 - la*sx2)) / det, 6) AS b2,
              round((n*(sx1y*sx2x2 - sx2y*sx1x2)
                - sy*(sx1*sx2x2 - sx1x2*sx2)
                + sx2*(sx1*sx2y - sx1y*sx2)) / odet, 6) AS ols_b1,
              round((n*(sx1y*sx2x2 - sx2y*sx1x2)
                - sy*(sx1*sx2x2 - sx1x2*sx2)
                + sx2*(sx1*sx2y - sx1y*sx2)) / odet
                - (n*(sx1y*lb - sx2y*sx1x2)
                - sy*(sx1*lb - sx1x2*sx2)
                + sx2*(sx1*sx2y - sx1y*sx2)) / det, 6) AS shrinkage_b1
            FROM m"""))

  // ---- q_graph_clustcoef ------------------------------------------------

  /** Local clustering-coefficient census (q_graph_clustcoef): per-node
    * cc = 2·T(v) / (deg·(deg−1)) over the shared link graph, reported
    * as one row per degree value (n_nodes, total triangles, mean cc) —
    * the node-level companion to q_graph_triangles' single global
    * number, and the standard small-world diagnostic. Triangles are
    * enumerated ONCE by the same degree-oriented wedge join (each
    * triangle found exactly once, Σdeg² bounded by orientation), then
    * exploded to their three corners for the per-node count. cc is an
    * exact integer ratio — 2e6·T div (deg·(deg−1)) — micro-quantized
    * BEFORE the cross-node mean, so no float crosses an aggregate;
    * zero-triangle nodes enter via the left join with cc = 0. Output
    * is degree-bucketed: O(distinct degrees) rows, not O(V). */
  val qGraphClustcoef = Q(
    "q_graph_clustcoef",
    (s, d) => {
      val deg = linkDegrees(s, d)
      val triCorners = closedTriangles(s, d)
        .select(explode(array(col("u"), col("v1"), col("v2"))).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("tri"))
      deg.filter(col("deg") >= 2)
        .join(triCorners, Seq("v"), "left")
        .withColumn("tri", coalesce(col("tri"), lit(0L)))
        .withColumn("cc_micro",
          expr("(2000000L * tri) div (deg * (deg - 1))"))
        .groupBy(col("deg"))
        .agg(count(lit(1)).as("n_nodes"),
          sum(col("tri")).as("n_triangles"),
          sum(col("cc_micro")).as("ccs"))
        .select(col("deg"), col("n_nodes"),
          col("n_triangles").cast("long").as("n_triangles"),
          round(col("ccs").cast("double") / col("n_nodes") / 1e6, 6)
            .as("mean_cc"))
        .orderBy(col("deg"))
    },
    Some(s"""WITH $undirectedLinkEdgesSql,
            deg AS (
              SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
                SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und) x
              GROUP BY v),
            oriented AS (
              SELECT
                CASE WHEN (da.deg, und.a) < (db.deg, und.b)
                     THEN und.a ELSE und.b END AS u,
                CASE WHEN (da.deg, und.a) < (db.deg, und.b)
                     THEN und.b ELSE und.a END AS v,
                CASE WHEN (da.deg, und.a) < (db.deg, und.b)
                     THEN db.deg ELSE da.deg END AS vdeg
              FROM und
              JOIN deg da ON und.a = da.v
              JOIN deg db ON und.b = db.v),
            tric AS (
              SELECT corner AS v, CAST(count(*) AS BIGINT) AS tri
              FROM (
                SELECT unnest([e1.u, e1.v, e2.v]) AS corner
                FROM oriented e1
                JOIN oriented e2 ON e1.u = e2.u
                  AND ((e1.vdeg, e1.v) < (e2.vdeg, e2.v))
                JOIN oriented e3 ON e3.u = e1.v AND e3.v = e2.v) t
              GROUP BY corner),
            cc AS (
              SELECT deg.deg, coalesce(tric.tri, 0) AS tri,
                (2000000 * coalesce(tric.tri, 0))
                  // (deg.deg * (deg.deg - 1)) AS cc_micro
              FROM deg LEFT JOIN tric ON deg.v = tric.v
              WHERE deg.deg >= 2)
            SELECT deg, CAST(count(*) AS BIGINT) AS n_nodes,
              CAST(sum(tri) AS BIGINT) AS n_triangles,
              round(CAST(sum(cc_micro) AS DOUBLE) / count(*) / 1e6, 6)
                AS mean_cc
            FROM cc
            GROUP BY deg
            ORDER BY deg NULLS FIRST"""))

  // ---- q_graph_adamic_adar ----------------------------------------------

  /** Adamic-Adar link prediction (q_graph_adamic_adar): the 20
    * strongest NOT-yet-linked pairs by Σ_{c ∈ N(a)∩N(b)} 1/ln(deg(c))
    * — the degree-discounted cousin of q_graph_jaccard (a shared rare
    * neighbor says more than a shared hub). Candidates come from the
    * same hub-capped wedge join (center deg ≤ 64 keeps Σdeg² bounded
    * at fleet scale); each center's weight 1e6/ln(deg) is quantized to
    * an integer micro-weight ONCE per node BEFORE the pair aggregate
    * (ln of a small-integer degree is per-row-identical across
    * engines; no double ever crosses the sum), and existing edges are
    * removed by an edge-sized LEFT ANTI join on the canonical (a, b)
    * pair. Top-20 goes through TakeOrderedAndProject — no global
    * sort materializes. */
  val qGraphAdamicAdar = Q(
    "q_graph_adamic_adar",
    (s, d) => {
      val und = undirectedLinkEdges(s, d)
      // candidate pairs + micro-weight sums come from the shared
      // persisted fixpoint (also consumed count-wise by q_graph_jaccard)
      val pairs = wedgePairStats(s, d)
      pairs
        .join(und, pairs("pa") === und("a") && pairs("pb") === und("b"),
          "left_anti")
        .select(col("pa").as("a"), col("pb").as("b"), col("common"),
          col("aa").cast("long").as("aa_micro"))
        .orderBy(col("aa_micro").desc, col("a"), col("b"))
        .limit(20)
    },
    Some(s"""WITH $undirectedLinkEdgesSql,
            edges AS (
              SELECT a AS node, b AS nbr FROM und
              UNION ALL SELECT b AS node, a AS nbr FROM und),
            deg AS (
              SELECT node AS dn, CAST(count(*) AS BIGINT) AS deg
              FROM edges GROUP BY node),
            centers AS (
              SELECT dn,
                CAST(floor(1e6 / ln(CAST(deg AS DOUBLE)) + 0.5) AS BIGINT)
                  AS w_micro
              FROM deg WHERE deg <= 64 AND deg >= 2),
            wedgeable AS (
              SELECT e.node, e.nbr, c.w_micro FROM edges e
                JOIN centers c ON e.nbr = c.dn),
            pairs AS (
              SELECT l.node AS pa, r.node AS pb,
                CAST(count(*) AS BIGINT) AS common,
                CAST(sum(l.w_micro) AS BIGINT) AS aa_micro
              FROM wedgeable l JOIN wedgeable r
                ON l.nbr = r.nbr AND l.node < r.node
              GROUP BY l.node, r.node)
            SELECT pa AS a, pb AS b, common, aa_micro
            FROM pairs
            WHERE NOT EXISTS (
              SELECT 1 FROM und WHERE und.a = pairs.pa AND und.b = pairs.pb)
            ORDER BY aa_micro DESC NULLS LAST, a NULLS FIRST, b NULLS FIRST
            LIMIT 20"""))

  // ---- q_graph_reciprocity ----------------------------------------------

  /** Directed reciprocity (q_graph_reciprocity): of the DIRECTED
    * generator links, what fraction have their reverse edge present?
    * The undirected projection every other graph score rides erases
    * this — reciprocity is the one number that needs the raw directed
    * list, so it rebuilds the (src, dst) edges and closes them with
    * ONE edge-sized self-join on the reversed key (distinct first, so
    * multi-links cannot double-count). Integer ratio, divided once. */
  val qGraphReciprocity = Q(
    "q_graph_reciprocity",
    (s, d) => {
      val directed = directedDistinctEdges(s, d)
      val rec = directed
        .join(directed.select(col("dst").as("rsrc"),
          col("src").as("rdst")),
          col("src") === col("rsrc") && col("dst") === col("rdst"),
          "left_semi")
        .agg(count(lit(1)).as("n_reciprocal"))
      directed.agg(count(lit(1)).as("n_directed"))
        .crossJoin(rec)
        .select(col("n_directed"), col("n_reciprocal"),
          round(col("n_reciprocal").cast("double") / col("n_directed"),
            6).as("reciprocity"))
    },
    Some("""WITH s AS (
              SELECT CAST(count(*) AS BIGINT) AS n_nodes
              FROM documents),
            -- CASE over a k-grid instead of unnest([...]): DuckDB
            -- 1.0's binder hits an INTERNAL error when a CTE built
            -- from an expression-unnest is SELF-joined; the grid form
            -- plans identically and binds fine
            directed0 AS (
              SELECT doc_id AS src,
                CASE k WHEN 0 THEN doc_id // 2
                       WHEN 1 THEN (doc_id * 31 + 17) % n_nodes
                       ELSE (doc_id * doc_id + 1) % n_nodes END AS dst
              FROM documents, s
              CROSS JOIN (SELECT unnest([0, 1, 2]) AS k)),
            directed AS (
              SELECT DISTINCT src, dst FROM directed0 WHERE dst <> src),
            rec AS (
              -- plain join, not EXISTS: directed is DISTINCT and the
              -- reverse key is unique, so the counts coincide
              SELECT CAST(count(*) AS BIGINT) AS n_reciprocal
              FROM directed e JOIN directed r
                ON r.src = e.dst AND r.dst = e.src),
            tot AS (
              SELECT CAST(count(*) AS BIGINT) AS n_directed
              FROM directed)
            SELECT n_directed, n_reciprocal,
              round(CAST(n_reciprocal AS DOUBLE) / n_directed, 6)
                AS reciprocity
            FROM tot, rec"""))

  // ---- q_graph_nmi ------------------------------------------------------

  /** Community/source normalized mutual information (q_graph_nmi):
    * how much do the label-prop communities line up with the corpus
    * SOURCE labels? NMI = 2·I(C;S)/(H(C)+H(S)) over the contingency
    * grid of the shared label-prop partition × document source — the
    * standard external-validation number a clustering pass is graded
    * by. Every entropy/MI term is a per-row double over exact integer
    * counts (cell, margin, total), nano-quantized BEFORE its sum;
    * the grids are (communities × sources)-bounded, so past the
    * cached partition this is three small aggregates. */
  val qGraphNmi = Q(
    "q_graph_nmi",
    (s, d) => {
      // materialized once: every downstream term (margins, total, MI,
      // both entropies) re-reads this ≤(communities × sources)-row
      // grid, and without the checkpoint each of the ~8 small
      // aggregates re-ran the label⋈documents join from the cache —
      // 8 executions of the same grid for one scalar answer
      val cells = labelPropLabels(s, d)
        .join(Tables.t(s, d, "documents")
          .select(col("doc_id").as("node"), col("source")), Seq("node"))
        .groupBy(col("lbl"), col("source"))
        .agg(count(lit(1)).as("nij"))
        .localCheckpoint()
      val ai = cells.groupBy(col("lbl")).agg(sum(col("nij")).as("ai"))
      val bj = cells.groupBy(col("source"))
        .agg(sum(col("nij")).as("bj"))
      val nn = cells.agg(sum(col("nij")).as("nn"))
      val mi = cells
        .join(broadcast(ai), "lbl").join(broadcast(bj), "source")
        .crossJoin(broadcast(nn))
        .withColumn("t", expr(
          """CAST(floor(CAST(nij AS DOUBLE) / nn
               * ln(CAST(nij AS DOUBLE) * nn
                    / (CAST(ai AS DOUBLE) * bj))
               * 1e9 + 0.5D) AS BIGINT)"""))
        .agg(sum(col("t")).as("mi_nano"))
      val hx = ai.crossJoin(broadcast(nn))
        .withColumn("t", expr(
          """CAST(floor(-(CAST(ai AS DOUBLE) / nn)
               * ln(CAST(ai AS DOUBLE) / nn) * 1e9 + 0.5D) AS BIGINT)"""))
        .agg(count(lit(1)).as("n_comm"), sum(col("t")).as("hx_nano"))
      val hy = bj.crossJoin(broadcast(nn))
        .withColumn("t", expr(
          """CAST(floor(-(CAST(bj AS DOUBLE) / nn)
               * ln(CAST(bj AS DOUBLE) / nn) * 1e9 + 0.5D) AS BIGINT)"""))
        .agg(count(lit(1)).as("n_src"), sum(col("t")).as("hy_nano"))
      mi.crossJoin(hx).crossJoin(hy)
        .select(col("n_comm"), col("n_src"),
          round(col("mi_nano").cast("double") / 1e9, 6).as("mi_nats"),
          round(col("hx_nano").cast("double") / 1e9, 6).as("h_comm"),
          round(col("hy_nano").cast("double") / 1e9, 6).as("h_src"),
          round(expr(
            """2.0D * CAST(mi_nano AS DOUBLE)
               / (CAST(hx_nano AS DOUBLE) + hy_nano)"""), 6).as("nmi"))
    },
    Some(s"""WITH $undirectedLinkEdgesSql,
          $labelPropCteSql,
          cells AS (
            SELECT l.lbl, dd.source, CAST(count(*) AS BIGINT) AS nij
            FROM l3 l JOIN documents dd ON l.node = dd.doc_id
            GROUP BY l.lbl, dd.source),
          ai AS (SELECT lbl, CAST(sum(nij) AS BIGINT) AS ai
                 FROM cells GROUP BY lbl),
          bj AS (SELECT source, CAST(sum(nij) AS BIGINT) AS bj
                 FROM cells GROUP BY source),
          nt AS (SELECT CAST(sum(nij) AS BIGINT) AS nn FROM cells),
          mi AS (
            SELECT CAST(sum(CAST(floor(CAST(nij AS DOUBLE) / nn
                * ln(CAST(nij AS DOUBLE) * nn
                     / (CAST(ai.ai AS DOUBLE) * bj.bj))
                * 1e9 + 0.5e0) AS BIGINT)) AS BIGINT) AS mi_nano
            FROM cells
            JOIN ai ON cells.lbl = ai.lbl
            JOIN bj ON cells.source = bj.source
            CROSS JOIN nt),
          hx AS (
            SELECT CAST(count(*) AS BIGINT) AS n_comm,
              CAST(sum(CAST(floor(-(CAST(ai AS DOUBLE) / nn)
                * ln(CAST(ai AS DOUBLE) / nn) * 1e9 + 0.5e0)
                AS BIGINT)) AS BIGINT) AS hx_nano
            FROM ai, nt),
          hy AS (
            SELECT CAST(count(*) AS BIGINT) AS n_src,
              CAST(sum(CAST(floor(-(CAST(bj AS DOUBLE) / nn)
                * ln(CAST(bj AS DOUBLE) / nn) * 1e9 + 0.5e0)
                AS BIGINT)) AS BIGINT) AS hy_nano
            FROM bj, nt)
          SELECT n_comm, n_src,
            round(CAST(mi_nano AS DOUBLE) / 1e9, 6) AS mi_nats,
            round(CAST(hx_nano AS DOUBLE) / 1e9, 6) AS h_comm,
            round(CAST(hy_nano AS DOUBLE) / 1e9, 6) AS h_src,
            round(2.0e0 * CAST(mi_nano AS DOUBLE)
              / (CAST(hx_nano AS DOUBLE) + hy_nano), 6) AS nmi
          FROM mi, hx, hy"""))

  /** Bench-warmup hook: materialize the shared fixpoints the graph
    * tier shares (link edges, label-prop labels) so per-query bench
    * numbers charge the operator, not registry order. */
  private[graft] def warmShared(s: SparkSession, d: String): Unit = {
    undirectedLinkEdges(s, d).count()
    directedEdgesOutdeg(s, d).count() // warms directedDistinctEdges too
    labelPropLabels(s, d).count()
    linkDegrees(s, d).count()
    closedTriangles(s, d).count()
    wedgePairStats(s, d).count()
  }

  // ---- q_graph_degree_gini ----------------------------------------------

  /** Degree inequality (q_graph_degree_gini): the Gini coefficient of
    * the undirected degree distribution — the one-number "how hub-
    * dominated is this link graph" gauge that complements the full
    * q_graph_degree_dist histogram and the rich-club view. Computed
    * entirely on the DEGREE HISTOGRAM (the same bounded grid
    * degree_dist emits, never a vertex-sized sort): for ranks grouped
    * by equal degree, Σᵢ(2i−n−1)xᵢ collapses to Σ_d d·c_d·(2R_d+c_d−n)
    * with R_d the cumulative count below d — exact integer algebra
    * (DECIMAL(38,0) products), one double division at the end. */
  val qGraphDegreeGini = Q(
    "q_graph_degree_gini",
    (s, d) => {
      val hist = linkDegrees(s, d)
        .groupBy(col("deg")).agg(count(lit(1)).as("c"))
      val tot = hist.agg(sum(col("c")).as("n"),
        max(col("deg")).as("mx"),
        sum(expr("CAST(deg AS DECIMAL(38,0)) * c")).as("sd"))
      // degree-histogram-sized window (bounded by max degree)
      val w = Window.orderBy(col("deg"))
      hist
        .withColumn("r0", expr("-c") + sum(col("c")).over(w))
        .crossJoin(broadcast(tot))
        .agg(max(col("n")).as("n_nodes"), max(col("mx")).as("max_deg"),
          sum(expr(
            """CAST(deg AS DECIMAL(38,0)) * c * (2 * r0 + c - n)"""))
            .as("num"),
          max(col("sd")).as("den0"))
        .select(col("n_nodes"), col("max_deg"),
          round(expr(
            """CAST(num AS DOUBLE)
               / (CAST(n_nodes AS DOUBLE) * CAST(den0 AS DOUBLE))"""),
            6).as("gini"))
    },
    Some(s"""WITH $undirectedLinkEdgesSql,
            degs AS (
              SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
                SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und)
                x
              GROUP BY v),
            hist AS (
              SELECT deg, CAST(count(*) AS BIGINT) AS c
              FROM degs GROUP BY deg),
            tot AS (
              SELECT CAST(sum(c) AS BIGINT) AS n,
                CAST(max(deg) AS BIGINT) AS mx,
                sum(CAST(deg AS HUGEINT) * c) AS sd
              FROM hist),
            ranked AS (
              SELECT deg, c,
                CAST(sum(c) OVER (ORDER BY deg) - c AS BIGINT) AS r0
              FROM hist)
            SELECT n AS n_nodes, mx AS max_deg,
              round(CAST(sum(CAST(deg AS HUGEINT) * c
                    * (2 * r0 + c - n)) AS DOUBLE)
                / (CAST(n AS DOUBLE) * CAST(sd AS DOUBLE)), 6) AS gini
            FROM ranked, tot
            GROUP BY n, mx, sd"""))

  val all: Seq[Q] = Seq(qGraphTriangles, qTextPostings, qTsInterpolate,
    qEmbedPca, qTextCollocations, qTsAnomaly, qCorrMatrix, qJoinInterval,
    qGraphDegreeDist, qTextHeaps, qGraphBfs, qMlLinreg, qMlRidge,
    qStatsTtest, qStatsChisq, qStatsKs, qStatsMannwhitney,
    qGraphLabelprop, qGraphJaccard, qGraphClustcoef, qGraphAdamicAdar,
    qGraphNmi, qGraphReciprocity, qGraphDegreeGini)
}
