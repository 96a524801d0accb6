package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale smoke: time the bench's heaviest fixed-cost entries at 1× and
  * at a synthetic 10× blow-up of sf0.1, to check the "cost is fixed /
  * sub-linear, shapes survive scale-up" claims with a measurement
  * instead of an argument.
  *
  * The 10× corpus is constructed so the WORKLOAD scales 10× without
  * changing its statistical shape: each replica's token stream is
  * suffixed with the replica id, so vocabularies are disjoint across
  * replicas — near-dup structure (pairs, clusters, shingle blocks) is
  * exactly 10 independent copies of the original, never a cross-replica
  * pair explosion. Embeddings replicate with shifted ids (k-means/PCA
  * build no pairs, so identical vectors are harmless). All other
  * tables symlink to the originals.
  *
  * Usage: sbt "runMain graft.ScaleSmoke"; prints a markdown table. */
object ScaleSmoke {

  // Only documents/embeddings are blown up, so only queries over those
  // tables belong here. q_text_fuzzy_match is deliberately absent: the
  // replica-suffix construction plants 10 same-first-char lev-1 twins
  // per term, a quadratic artifact real 10x corpora don't have.
  // q_multimodal_phash_pairs is absent for the same reason: the toy
  // BMPs depend only on doc_id mod (3, 2, 256), so the corpus holds
  // ~1536 distinct images and the TRUE Hamming<=2 pair list is
  // Theta(n^2) rows (48M at 10x, measured) whatever the candidate
  // generator does; q_multimodal_phash_audit's bounded-sample row
  // (1.26x at 10x) is the banding's scale evidence.
  private val ids = Seq("q_dedup_components", "q_dedup_ngram",
    "q_sim_kmeans", "q_embed_pca", "q_dedup_incremental",
    "q_graph_bfs", "q_stream_lsh_index", "q_text_bigram_lm",
    "q_graph_labelprop", "q_ml_naive_bayes",
    // round-6 heavy tier: the fixed jaccard (no O(V) broadcast), the
    // order-blocked pair explode, the percentile-cut bucketing, and
    // the two stateful streams (user-disjoint replicas = 10
    // independent copies of each per-user stream)
    "q_graph_jaccard", "q_basket_lift", "q_agg_equidepth",
    "q_stream_join", "q_stream_markov",
    // round-6 embedding tier: PQ training is the corpus-wide explode,
    // semantic dedup the banded pair path, multiband the probe path
    "q_sim_ann_pq", "q_dedup_semantic", "q_sim_ann_multiband",
    // round-6 curation tier: DSIR batch scoring (corpus-linear explode
    // against a bucket-bounded broadcast model) and its streaming twin
    "q_mix_dsir", "q_stream_dsir",
    // round-6 quality tier: the conditional-LM perplexity gate (bigram
    // explode + vocab²-bounded model join), the distilled NB quality
    // classifier (corpus explode against a broadcast 2-class model),
    // the end-to-end streaming funnel, and the quality-argmax cluster
    // keeper (pair graph + per-cluster window)
    "q_text_perplexity", "q_quality_classify", "q_stream_curate",
    "q_dedup_cluster_keep",
    // round-6 eval tier: held-out scoring (train-fold model joins),
    // the bloom-fronted ingest (increment-bounded like incremental),
    // and the composed IVF+PQ probe (fixed-size broadcasts)
    "q_text_heldout_ppl", "q_dedup_bloom_ingest", "q_sim_ann_ivfpq",
    // round-7 broadcast-fix tier: the ex-forced-broadcast sites (tfidf
    // df, logprob model, drift distribution, collocation unigrams, the
    // bloom-fronted stream decontamination) measured before/after the
    // un-hinting — the fix must be invisible at sf0.1 and the growth
    // honest-linear in the model table, never a broadcast rebuild
    "q_text_tfidf", "q_text_logprob", "q_text_drift",
    "q_text_collocations", "q_stream_decontaminate",
    // round-7 remaining >=3s entries + the adaptive-banding audit
    // (its n_cand column is the per-doc candidate-load evidence)
    "q_mix_dsir_sample", "q_stream_reconcile", "q_stream_runlog_enrich",
    "q_dedup_semantic_audit",
    // round-8 document-tier additions: first-occurrence novelty (vocab
    // min-agg + un-hinted join-back), DoReMi (general + per-source
    // model fits and two scorings), the KMV sketch build (partial
    // top-64 per source), the 4-gate ablation (three stage joins, one
    // 13-sum aggregate), and the k-core peel (4 checkpointed rounds
    // over the link graph)
    "q_text_novelty", "q_mix_doremi", "q_agg_kmv", "q_curate_ablation",
    "q_graph_kcore",
    // round-8 closers: the iterated DoReMi (two weighted-mixture
    // refits), the k-center coreset (7 argmax rounds over the corpus),
    // the near-pair split audit (rides the pair cache), language-mix
    // margins, the norm census, and the streaming KMV sketch
    "q_mix_doremi_rounds", "q_sample_coreset", "q_split_leakage",
    "q_text_langmix", "q_embed_norms", "q_stream_kmv",
    // graph scores over the docs-derived link graph
    "q_graph_modularity", "q_graph_assortativity",
    // round-9 additions: the ex-fixed-width image pair banding (now
    // corpus-adaptive; the audit's n_cand column is the candidate-load
    // evidence), the outer stream-stream join (last expensive stream
    // without a 10x row), and the truncated-dim recall harness
    // (probe-bounded — growth must track corpus, never probes²)
    "q_multimodal_phash_audit",
    "q_stream_join_outer", "q_sim_matryoshka",
    // round-9 causal/resampling tier (events are blown up user-disjoint,
    // so the touch windows and per-user attribution state are 10
    // independent copies; the bootstrap's B=100 grid and adaboost's
    // value grids are domain-fixed — growth must be scan-linear)
    "q_events_attribution", "q_stream_attribution", "q_stats_bootstrap",
    "q_ml_adaboost",
    // radius-bounded Brandes over the docs-derived link graph: 2R
    // checkpointed join rounds, cost ∝ k·|E| per round
    "q_graph_betweenness",
    // round-10 smoke of the round-9 tail (verdict item 3): the
    // shared-peel census pair + conductance (all ride the memoized
    // peel / labelprop fixpoints), personalized PageRank (8-seed
    // bounded iterations), ridge (grid-bounded normal equations),
    // containment (shared minhash bands, integer cut), the KM/log-rank
    // survival pair (day-grid bounded), conversion-lag quartiles
    // (user-keyed range join, 168-cell hour grid), the walk-forward
    // EWMA backtest (day-grid window), and the two segmentation
    // passes (fixture-frame bounded)
    "q_graph_conductance", "q_graph_core_members", "q_graph_ppr",
    "q_ml_ridge", "q_dedup_containment", "q_surv_km", "q_surv_logrank",
    "q_events_conversion_lag", "q_ts_backtest", "q_multimodal_scenecut",
    "q_multimodal_silence",
    // round-10 additions (q_audit_ldiv is customer-based — customer is
    // not blown up, so it has no meaningful 10x row): FDR and the DP
    // releases are grid-bounded rollups; kmv_intersect's pair stage
    // grows with sources^2 but stays sketch-bounded (2k rows/pair);
    // keyphrase and the KN LM are corpus-linear explodes against
    // vocab-bounded stat joins; compact_plan is catalog-bounded
    "q_stats_fdr", "q_audit_dp_hist", "q_agg_kmv_intersect",
    "q_text_keyphrase", "q_compact_plan", "q_text_bigram_kn",
    "q_stream_dp_hist",
    // DiD is one corpus aggregate over 4 cells; richclub rides the
    // cached degree table + a 5-value grid; mask planning is
    // scan-local hash arithmetic
    "q_causal_did", "q_graph_richclub", "q_text_mask_plan",
    // CMH/runs are calendar-grid rollups; embed_drift is one explode
    // + a (label, parity, dim)-bounded aggregate
    "q_stats_cmh", "q_stats_runs", "q_embed_drift",
    // the expectations audit is per-table aggregates + one anti-join;
    // the streaming FDR twin is grid-bounded settled stats
    "q_audit_expectations", "q_stream_fdr",
    "q_graph_knn_profile", "q_stream_expectations",
    // 8 unrolled k x k grid joins after the one per-user lag window
    "q_events_markov_pi",
    // levene = two grid-bounded scans; cooccur's self-join fans out
    // by the type grid only
    "q_stats_levene", "q_events_cooccur",
    // day-grid blocks x a 3-value window grid; one corpus rollup
    "q_ts_hurst",
    // clustcoef/adamic-adar ride the oriented-wedge join (Σdeg²
    // bounded by orientation / the 64-degree hub cap); the three
    // ts stats are one daily rollup + calendar-bounded day-grid
    // windows
    "q_graph_clustcoef", "q_graph_adamic_adar", "q_ts_ljungbox",
    "q_ts_dw", "q_ts_varratio",
    // gains/brier are distinct-score-bounded rollups over documents;
    // the streaming twin keeps per-score state only
    // (q_audit_tcloseness is customer-based — not blown up, no row)
    "q_ml_gains", "q_ml_brier", "q_stream_brier",
    // jsd is one vocab-sized self-join (replica-disjoint vocab at
    // 10x = 10 independent pair sets); the periodogram is one corpus
    // rollup + a day x 3-period grid
    "q_text_jsd", "q_ts_periodogram",
    // silhouette re-walks the shared Lloyd program + one extra k-row
    // broadcast pass; pacf is the 3-lag day-grid rollup; friedman /
    // cochran are weekday- / user-grid-bounded aggregates
    "q_sim_silhouette", "q_ts_pacf", "q_stats_friedman",
    "q_stats_cochran_q",
    // holt-winters folds one element per calendar day after the
    // shared daily rollup; interarrival is gap-grid-bounded after
    // one per-type window exchange
    "q_ts_holtwinters", "q_events_interarrival",
    // rouge rides the pair cache with pair-bounded gram joins;
    // budget is a source-grid window after one corpus rollup
    "q_text_rouge", "q_mix_budget",
    // zip walk is scan-local byte algebra (<= 4 x 7 explode/doc);
    // nmi rides the cached partition + (community x source) grids;
    // the budget twin keeps one counter row per source
    "q_multimodal_zip", "q_graph_nmi", "q_stream_budget",
    // reciprocity is one edge-sized self-join on the directed list;
    // jarque-bera one moment aggregate; pr-curve rides the same
    // fence broadcast as gains
    "q_graph_reciprocity", "q_stats_jarque_bera", "q_ml_pr_curve",
    // nullsafe is two bucket-grid aggregates + a 5-row join; fano
    // one (type x day)-grid aggregate
    "q_join_nullsafe", "q_events_fano",
    // grubbs = two corpus aggregates over the shared day grid;
    // hapax one vocab-sized rollup; the centroid matrix touches the
    // corpus once then works on a 20 x 64 grid; the fano twin keeps
    // calendar x type state
    "q_ts_grubbs", "q_text_hapax", "q_embed_centroid_matrix",
    "q_stream_fano",
    // genmeans / welch are one moment aggregate each (+ a 5-row
    // second phase for welch); the trend test rides the day grid
    "q_agg_genmeans", "q_stats_welch", "q_stats_trend_ca",
    // the genmeans twin keeps one quantized-sums row per type
    "q_stream_genmeans",
    // round 11: theta/entropy ride the day grid; cronbach/mcnemar are
    // one moment aggregate each; truss/scc are bounded peel/BFS rounds;
    // boilerplate is one shingle-keyed aggregate; outliers one
    // (label x dim) grid + a WindowGroupLimit top-3
    "q_ts_theta", "q_ts_spectral_entropy", "q_stats_cronbach",
    "q_stats_mcnemar", "q_graph_ktruss", "q_graph_scc_pivot",
    "q_text_boilerplate", "q_embed_outliers",
    // croston rides one daily-count aggregate; cohend one source-grid
    // moment aggregate; intrinsic-dim is label-block-bounded pairs;
    // the two twins keep O(1) counter state
    "q_ts_croston", "q_stats_cohend", "q_embed_intrinsic_dim",
    "q_stream_mcnemar", "q_stream_cronbach",
    // kpss/dickey/haar ride the shared day grid; bartlett/fleiss/qq/
    // mcc/cohend-twin are one moment or cell aggregate each;
    // uniqueness is one (level, key) count; hubness + intrinsic share
    // the anchor-capped NN fixpoint (128·|block| pairs — linear)
    "q_ts_kpss", "q_ts_dickey", "q_ts_haar", "q_stats_bartlett",
    "q_stats_fleiss", "q_stats_qq", "q_ml_mcc_curve",
    "q_audit_uniqueness", "q_embed_hubness", "q_stream_bartlett",
    "q_stream_cohend",
    // simpson rides the vocab rollup; hhi/oddsratio/fleiss-twin one
    // counter row; isotonic is a 20-bin literal grid; degree-gini
    // runs on the bounded degree histogram
    "q_text_simpson", "q_mix_hhi", "q_ml_isotonic",
    "q_stats_oddsratio", "q_graph_degree_gini", "q_stream_fleiss",
    // tost is the third sourceLenMoments consumer; poisson-gof one
    // daily aggregate + 9-bucket literal grid; hhi twin one grid row
    // per source; the luma histogram is pixel-count linear
    "q_stats_tost", "q_stats_poisson_gof", "q_stream_hhi",
    "q_multimodal_histogram",
    // round 12: the DocsConsistencySpec backfill — every id the r11
    // bench showed >1 s at sf0.1 that had no measured 10× row yet
    // (stream ids pay the fixed drain floor; tpch-shaped ids ride
    // blown-up lineitem/events against fixed dims; sql_recursive is
    // grid-bounded). Plus the round-12 scale catch q_sim_hardneg
    // (fixed 64-bucket cross-label banding measured 46× at 10× —
    // now corpus-adaptive multi-probe, 1.25×) and its same-label
    // sibling q_sim_knn_join (1.9×, already bucket-bounded).
    "q_agg_weighted_median", "q_dedup_substring", "q_graph_closeness",
    "q_graph_eff_diameter", "q_graph_hits", "q_graph_triangles",
    "q_join_dpp", "q_join_skew_aqe", "q_mix_curriculum",
    "q_mix_dsir_ess", "q_ml_featimp", "q_ml_kfold",
    "q_quality_calibrate", "q_sim_hardneg", "q_sim_knn_join",
    "q_sim_mmr", "q_sql_recursive", "q_stream_anomaly",
    "q_stream_benford", "q_stream_binary_raw", "q_stream_cdc_apply",
    "q_stream_daq_pipeline", "q_stream_loghist", "q_stream_mix_sample",
    "q_stream_ohlc", "q_stream_perplexity", "q_stream_psi",
    "q_stream_reset_counter", "q_stream_session", "q_stream_topk",
    "q_stream_tws", "q_stream_vshape", "q_stream_watermark",
    "q_text_bpe_train", "q_text_contrast", "q_ts_anomaly",
    "q_ts_cusum", "q_ts_mad",
    // round 13: the r12 driver-bench noise-crossers (scan-local
    // sampling/scan tier + two fixed-floor drains) — kept in the
    // standing list so the SCALE rows stay refreshable even though
    // every one is sub-second warm
    "q_sample_ht", "q_sample_mod", "q_sample_neyman", "q_sample_pps",
    "q_sample_stratified", "q_sample_weighted", "q_scan_corrupt",
    "q_scan_binary_raw", "q_stream_dedup", "q_stream_tumbling")

  /** 100× blow-up (SPARK_GRAFT_SCALE100=1): two orders of magnitude
    * past sf0.1 — embeddings 2 000 → 200 000 vectors (labels kept so
    * blocks grow 100×) AND documents 5 000 → 500 000 (replica-suffixed
    * tokens + replica-suffixed sources, so vocabularies and dedup
    * blocks are disjoint across replicas — the same construction as
    * the 10× corpus). Times:
    *  - the shared anchor-NN fixpoint BUILD (warm step `anchor nn` — the
    *    128-anchor-capped pair stage on the codegen FloatL2Q path) and
    *    its two consumers. The cap claim is pairs = 128·|block| per
    *    label — LINEAR — so the ratio must sit near 100, never the
    *    ~10 000 an uncapped block self-join would show.
    *  - the shared DEDUP fixpoint chain (warm step `dedup fixpoints`: per-doc
    *    minhash sketches, the 4×4-band LSH candidate join + exact
    *    Jaccard verify, pointer-doubled components, simhash, distinct
    *    bigrams) and its two headline consumers. The banding claim is
    *    candidates ∝ corpus (band keys in the shuffle key, fan-out
    *    bounded per bucket) — so the fixpoint must scale ~linearly,
    *    never with the Θ(n²/blocks) an unbanded block self-join
    *    would show. */
  private def run100(spark: SparkSession, src: String): Unit = {
    val out = sys.props("java.io.tmpdir") + "/graft_scale100"
    val dir = new java.io.File(out)
    // _done2: round-13 layout adds 100x events + orders (the sampling
    // and corrupt/raw-scan tiers ride them) — rebuild an older dir
    if (!new java.io.File(out + "/_done2").exists()) {
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
      dir.mkdirs()
      val rep = spark.range(100).select(col("id").as("rep"))
      val emb = spark.read.parquet(s"$src/embeddings.parquet")
      val emx = emb.agg(max(col("vec_id"))).first().getLong(0) + 1
      emb.crossJoin(broadcast(rep))
        .select((col("vec_id") + col("rep") * emx).as("vec_id"),
          col("embedding"), col("label"))
        .repartition(4)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
      val docs = spark.read.parquet(s"$src/documents.parquet")
      val dmx = docs.agg(max(col("doc_id"))).first().getLong(0) + 1
      docs.crossJoin(broadcast(rep))
        .select(
          (col("doc_id") + col("rep") * dmx).as("doc_id"),
          when(col("rep") === 0, col("text"))
            .otherwise(concat_ws(" ",
              transform(split(col("text"), " "),
                t => concat(t, lit("_"), col("rep"))))).as("text"),
          col("lang"),
          concat(col("source"), lit("_"), col("rep")).as("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .repartition(4)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
      // events: 100 user-disjoint replicas (the sampling/scan tier's
      // fact table); ts kept as raw INT64 nanos like the 10x builder
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val ev = spark.read.parquet(s"$src/events.parquet")
      val evMx = ev.agg(max(col("event_id"))).first().getLong(0) + 1
      val evUMx = ev.agg(max(col("user_id"))).first().getLong(0) + 1
      ev.crossJoin(broadcast(rep))
        .select((col("event_id") + col("rep") * evMx).as("event_id"),
          (col("user_id") + col("rep") * evUMx).as("user_id"),
          col("ts"), col("event_type"), col("value"), col("props"))
        .repartition(8)
        .write.mode("overwrite").parquet(s"$out/events.parquet")
      // orders: shifted keys; o_custkey kept (customer is not blown up,
      // and the sampling tier touches only o_orderkey/o_totalprice)
      val or = spark.read.parquet(s"$src/orders.parquet")
      val orMx = or.agg(max(col("o_orderkey"))).first().getLong(0) + 1
      or.crossJoin(broadcast(rep))
        .withColumn("o_orderkey", col("o_orderkey") + col("rep") * orMx)
        .drop("rep")
        .repartition(8)
        .write.mode("overwrite").parquet(s"$out/orders.parquet")
      Seq("region", "nation", "customer", "supplier", "part",
        "lineitem").foreach { t =>
        java.nio.file.Files.createSymbolicLink(
          java.nio.file.Paths.get(s"$out/$t.parquet"),
          java.nio.file.Paths.get(s"$src/$t.parquet"))
      }
      new java.io.File(out + "/_done2").createNewFile()
    }
    spark.range(2000000L).selectExpr("sum(id)").collect()
    def phase(dir: String): Seq[(String, Double)] = {
      def t(label: String)(f: => Unit): (String, Double) = {
        val t0 = System.nanoTime(); f
        label -> (System.nanoTime() - t0) / 1e9
      }
      val steps = Fixpoints.warmSteps.toMap
      def warm(step: String) = t(s"fixpoint:$step")(steps(step)(spark, dir))
      Seq(
        warm("anchor nn"),
        t("q_embed_intrinsic_dim")(
          SparkEntry.queries("q_embed_intrinsic_dim")(spark, dir).count()),
        t("q_embed_hubness")(
          SparkEntry.queries("q_embed_hubness")(spark, dir).count()),
        warm("dedup fixpoints"),
        t("q_dedup_near")(
          SparkEntry.queries("q_dedup_near")(spark, dir).count()),
        t("q_dedup_components")(
          SparkEntry.queries("q_dedup_components")(spark, dir).count()),
        // the bigram LM fixpoint (docBigrams + model + genScore) is the
        // text tier's corpus-width stage: map-side-combined aggregates
        // whose output is vocabulary²-bounded, so the BUILD must track
        // the corpus ~linearly and its consumers stay flat
        warm("bigram models"),
        t("q_text_perplexity")(
          SparkEntry.queries("q_text_perplexity")(spark, dir).count()),
        // the graph tier's shared fixpoints are documents-derived
        // (degree-3 link graph: |E| = 3·|docs|), so they blow up with
        // the 100× corpus. Round counts are structure-bounded — peels
        // fixed at 3, BFS by the diameter (the div-2 tree edge keeps it
        // ~2·log2 n: 38 hops at 500k docs vs 26 at 5k, so expect the
        // edge-linear 100 plus a ~1.5× round-count factor, never the
        // Θ(n²) an unbanded wedge join would show)
        warm("graph fixpoints"),
        warm("graph peels"),
        t("q_graph_ktruss")(
          SparkEntry.queries("q_graph_ktruss")(spark, dir).count()),
        t("q_graph_bfs")(
          SparkEntry.queries("q_graph_bfs")(spark, dir).count())) ++
        // round 13: the sampling + corrupt/raw-scan tier (the r12
        // noise-crossers) at 100x events/orders — every one is a
        // single scan + broadcast scalar / scan-local filter, so the
        // ratio must track the data ~linearly (100), never above
        (Seq("q_sample_ht", "q_sample_mod", "q_sample_neyman",
          "q_sample_pps", "q_sample_stratified", "q_sample_weighted",
          "q_scan_corrupt", "q_scan_binary_raw").map { id =>
          t(id)(SparkEntry.queries(id)(spark, dir).count())
        })
    }
    val t1 = phase(src)
    val t100 = phase(out)
    println("| stage | 1x sec | 100x sec | ratio (linear = 100) |")
    println("|---|---|---|---|")
    t1.zip(t100).foreach { case ((n, a), (_, b)) =>
      println(f"| $n | $a%.2f | $b%.2f | ${b / a}%.1f |")
    }
  }

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    if (sys.env.contains("SPARK_GRAFT_SCALE100")) {
      val spark = Tables.session(cpus)
      spark.sparkContext.setLogLevel("WARN")
      run100(spark, src)
      spark.stop()
      return
    }
    val out = sys.props("java.io.tmpdir") + "/graft_scale10"
    // SPARK_GRAFT_SMOKE_IDS=q_a,q_b runs a targeted subset (e.g. the
    // ids a new round just added) without re-measuring the full list
    val runIds = sys.env.get("SPARK_GRAFT_SMOKE_IDS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(ids)
    val spark = Tables.session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    build10x(spark, src, out)
    // JVM/codegen warmup so 1× doesn't absorb JIT cost
    spark.range(2000000L).selectExpr("sum(id)").collect()
    // Warm the SAME shared fixpoints Bench warms, per dir, timing each
    // step as its own row — so per-query rows measure query-local cost
    // (the bench's accounting) and the fixpoint builds' own 10× growth
    // is measured instead of landing on whichever id ran first.
    def warm(dir: String): Seq[(String, Double)] =
      Fixpoints.warmAll(spark, dir, "smoke").map { case (n, r) =>
        s"fixpoint:$n" -> r.getOrElse(Double.NaN)
      }
    def run(dir: String): Map[String, Double] = runIds.map { id =>
      val t0 = System.nanoTime()
      SparkEntry.queries(id)(spark, dir).count()
      id -> (System.nanoTime() - t0) / 1e9
    }.toMap
    val w1 = warm(src)
    val t1 = run(src)
    val w10 = warm(out)
    val t10 = run(out)
    println("| query | 1x sec | 10x sec | ratio (linear = 10.0) |")
    println("|---|---|---|---|")
    w1.zip(w10).foreach { case ((n, a), (_, b)) =>
      println(f"| $n | $a%.2f | $b%.2f | ${b / a}%.2f |")
    }
    runIds.foreach { id =>
      println(f"| $id | ${t1(id)}%.2f | ${t10(id)}%.2f | " +
        f"${t10(id) / t1(id)}%.2f |")
    }
    spark.stop()
  }

  /** Collapse a Spark-written parquet DIR to a single FILE named like
    * the driver tables — the streaming sources' pathGlobFilter matches
    * leaf file names, so a directory layout would read as empty. */
  private def collapseToFile(path: String): Unit = {
    val dir = new java.io.File(path)
    val part = dir.listFiles().find(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    val tmp = new java.io.File(path + ".tmp")
    java.nio.file.Files.move(part.toPath, tmp.toPath)
    org.apache.commons.io.FileUtils.deleteDirectory(dir)
    java.nio.file.Files.move(tmp.toPath, dir.toPath)
  }

  /** Write the 10× documents/embeddings blow-up; symlink other tables. */
  private def build10x(spark: SparkSession, src: String, out: String): Unit = {
    val dir = new java.io.File(out)
    if (new java.io.File(out + "/_done").exists()) return
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    dir.mkdirs()
    val rep = spark.range(10).select(col("id").as("rep"))
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val dmx = docs.agg(max(col("doc_id"))).first().getLong(0) + 1
    docs.crossJoin(broadcast(rep))
      .select(
        (col("doc_id") + col("rep") * dmx).as("doc_id"),
        when(col("rep") === 0, col("text"))
          .otherwise(concat_ws(" ",
            transform(split(col("text"), " "),
              t => concat(t, lit("_"), col("rep"))))).as("text"),
        col("lang"),
        concat(col("source"), lit("_"), col("rep")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(1)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    collapseToFile(s"$out/documents.parquet")
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val emx = emb.agg(max(col("vec_id"))).first().getLong(0) + 1
    emb.crossJoin(broadcast(rep))
      .select((col("vec_id") + col("rep") * emx).as("vec_id"),
        col("embedding"), col("label"))
      .repartition(1)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    collapseToFile(s"$out/embeddings.parquet")
    // events: 10 user-disjoint replicas (shifted user/event ids), ts
    // kept as raw INT64 nanos — eventsStream and Tables.t both take the
    // long branch, exactly like the driver's TIMESTAMP(NANOS) layout
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = spark.read.parquet(s"$src/events.parquet")
    val evMx = ev.agg(max(col("event_id"))).first().getLong(0) + 1
    val evUMx = ev.agg(max(col("user_id"))).first().getLong(0) + 1
    ev.crossJoin(broadcast(rep))
      .select((col("event_id") + col("rep") * evMx).as("event_id"),
        (col("user_id") + col("rep") * evUMx).as("user_id"),
        col("ts"), col("event_type"), col("value"), col("props"))
      .repartition(1)
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    collapseToFile(s"$out/events.parquet")
    // lineitem: shifted order keys keep orders at ~7 lines each, so the
    // basket pair explode scales 10x, never 100x
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    val liMx = li.agg(max(col("l_orderkey"))).first().getLong(0) + 1
    li.crossJoin(broadcast(rep))
      .withColumn("l_orderkey", col("l_orderkey") + col("rep") * liMx)
      .drop("rep")
      .repartition(1)
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    collapseToFile(s"$out/lineitem.parquet")
    Seq("region", "nation", "customer", "supplier", "part",
      "orders").foreach { t =>
      java.nio.file.Files.createSymbolicLink(
        java.nio.file.Paths.get(s"$out/$t.parquet"),
        java.nio.file.Paths.get(s"$src/$t.parquet"))
    }
    new java.io.File(out + "/_done").createNewFile()
  }
}
