package graft

/** Regenerates PLANS.md: the formatted physical plan of each headline
  * query at sf0.01, the artifact backing the "is this the plan you'd
  * want at 100 TB" audit. Run: `sbt "runMain graft.PlanDump"`. */
object PlanDump {

  /** Round-16 scan-census audit record (r15 verdict #3), amended r17:
    * every allowlisted multi-scan id in the 0.25-1.1 s band was
    * re-examined with the window-derivation lens. This block records
    * WHY the rest keep their second scan — emitted into PLANS.md so
    * the note survives regeneration.
    *
    * ROUND-17 AMENDMENT (optimization round 1): five r16 "survivors"
    * fell to a second look — q_sim_threshold_curve 8→4 (the ≤8-row
    * bucket cumulative was a self-join re-running the whole pairs
    * program per side; now a bounded-grid window),
    * q_sim_prune 6→2 (both per-label ranks fused into one windowed
    * pass over four narrow columns; the anti-join became a row-local
    * CASE), q_audit_expectations lineitem 6→2 / orders 4→2 (all
    * row-predicate rules fused into ONE aggregate per table, unpivoted
    * via stack; the FK rule reuses the fused count),
    * q_sample_neyman 4→1 (scalar totals as windows over the bounded
    * stratum table), q_events_cooccur 4→1 (in-row pair generation from
    * per-user sorted type sets, the q_basket_lift discipline — the r16
    * "irreducible 4th scan" note was wrong). Two timed/floor-bound
    * rejections: q_stats_chisq (all six scans sit ABOVE the one keyed
    * cell aggregate — fact passes already 1, id ~0.02 s above the
    * per-query floor) and q_events_rfm (the percentile-cuts + bucket
    * double consumption is intrinsic without a query-local persist,
    * which the bench honesty boundary bars; the global-window cut
    * alternative serializes the user dimension). Notes below that
    * contradict this amendment are r16 history, kept for the rewrite
    * trail. */
  private val scanAuditNotes: String = """
## Scan-census audit (round 16, amended round 17) — why the remaining second scans are load-bearing

**r17 amendment (see PlanDump.scala header): q_sim_threshold_curve,
q_sim_prune, q_audit_expectations, q_sample_neyman and
q_events_cooccur were rewritten to fewer scans this round; their r16
"deliberately kept" entries below are superseded. q_stats_chisq and
q_events_rfm carry measured rejections instead.**

Rewritten to fewer scans this round (values hash-identical at three
SFs): q_tpch_q21 3→1, q_ts_mad 4→1, q_stats_fdr 8→1, q_funnel 6→3,
q_events_dau_mau 3→1, q_events_entropy_rate 3→1, q_events_interarrival
2→1, q_ts_cusum 2→1, q_tpch_q20 2→1, q_stats_kruskal 3→1,
q_stats_kendall 3→2, q_stats_bootstrap 3→2, q_source_overlap 4→3,
q_events_cooccur 5→4 (paired size-table join-backs → ONE 1-row
bounded-domain map broadcast), q_retention 2→1 (cohort join-back → a
per-user min-window), q_stats_friedman 3→1 (grid scalars as windows,
collect_set standing in for countDistinct), q_stats_permutation 4→2
(a b=99 sentinel draw carries the observed split through the same
per-draw aggregate), q_stats_cochran_q 4→2 (Σ(k·r−r²) separated as
k·Σr − Σr², whole-grid scalars as windows), q_ts_croston 2→1 (n_days
as a global window over the calendar-bounded day grid). The
survivors, examined and deliberately kept:

- **q_setop_all (events=4)**: the four scans ARE the demonstrated
  operators — two INTERSECT ALL / EXCEPT ALL branches over three
  type-filtered projections; folding them into one aggregate would
  delete the set-operator surface this id exists to cover.
- **q_ts_seasonal (events=3)**: the hour-of-day means join back by
  BROADCAST, so the fact is scanned twice but never shuffled; the
  window-derivation alternative shuffles and sorts the whole fact by
  (type, hour) — the same trade measured and rejected on q_tpch_q21's
  window form. Re-scanning is cheaper than re-shuffling at any scale.
- **q_events_cooccur (events=4, was 5)**: the bipartite projection's
  self-join over the distinct (user, type) table is the operator
  itself (2 scans); the per-type counts now ride one 1-row map
  broadcast, and the remaining 4th scan is the distinct-user total —
  a corpus-global count not derivable from the pair output without a
  serializing global window.
- **q_text_collocations (documents=5)**: the two 1-row totals
  (Σ unigrams, Σ bigrams) sit over VOCABULARY-sized aggregates; a
  global window there would push an unbounded vocab through one
  partition, and Spark has no scalar reuse without a materialization
  job that costs more than the re-scan at any tested scale. The
  unigram joins onto the bigram table are the PMI model itself.
- **q_text_langid / q_text_langmix / q_text_langid_eval
  (documents=2)**: model-build + apply — the language profile is a
  corpus-global top-10-per-language table applied to doc-grain rows by
  broadcast. Deriving the profile on the doc-grain frame puts
  corpus-sized per-language partitions under rank windows (a serial
  sort per language); two scans with a broadcast model is the correct
  scale shape. Same pattern: q_text_contamination, q_text_logprob,
  q_text_heldout_ppl, q_text_drift, q_source_overlap, q_mix_sample
  (model/reference built on one pass, applied on the next).
- **q_surv_logrank / q_surv_hazard (orders=2)**: the censoring horizon
  is a global max(o_orderdate) — a 1-row broadcast; windowing it would
  serialize order-grain rows through one partition. The KM/NA grids
  themselves are single-scan.
- **q_stats_bootstrap (events=2, was 3)**: the remaining second scan
  is the point-estimate aggregate over the UNEXPLODED purchase rows —
  disjoint from the 100× resample path, which now feeds both CI
  bounds from one consumption.
- **q_stats_kendall (lineitem=2, was 3)**: the two remaining scans are
  the two sides of the ≤550-cell grid self-join — the pair
  formulation's intrinsic shape.
- **q_funnel (events=3, was 6)**: one type-pruned scan per stage is
  the floor without shuffling the whole fact — the one-scan chained
  window form was implemented, measured, and rejected (it sorts every
  user's full event history where this shape shuffles only the type
  subsets' (user, ts) pairs).
- **q_sim_matryoshka / q_sim_ann_eval / q_sim_threshold_curve /
  q_sim_prune (embeddings=6-20)**: deliberate by-design variants —
  each scan evaluates a different prefix width / threshold / scheme of
  the same operator, and each prunes its read to that variant's
  columns; one fused scan would widen every variant to the union.
- **q_cohort_ltv (events=2)**: the first-seen table joins back by
  broadcast; windowing first-seen over the fact would shuffle and
  sort the whole fact by user (the q_funnel/q21 rejection class).
- **q_stats_cochran_q (events=2, was 4)**: the two survivors are the
  by-type and by-user groupings of the same distinct frame —
  different keys, irreducible without materialization.
- **q_stats_chisq / q_stats_cramer /
  q_events_rfm / q_audit_expectations and the remaining =2-6 ids**:
  union-of-branches or train/score splits where each branch reads a
  different filter/column set — the scans are narrower than any
  fused pass would be.
"""

  // query id → one-line note on what the plan must show
  val headliners: Seq[(String, String)] = Seq(
    "q_tpch_q3" -> ("broadcast dims + single shuffled agg on the fact " +
      "table; filters pushed to every scan"),
    "q_tpch_q5" -> ("six-table star: every dim broadcast, ONE shuffle " +
      "(the final agg); no SortMergeJoin"),
    "q_filter_pred" -> ("PushedFilters + pruned ReadSchema at the " +
      "parquet scan — predicate and projection reach storage"),
    "q_join_bucketed" -> ("co-located bucketed join: zero Exchange " +
      "between scans and join"),
    "q_join_salted" -> ("hot-key join pre-scattered by salt; dim " +
      "exploded once, fact never double-shuffled"),
    "q_join_skew_aqe" -> ("unsalted 90/10 skew left to AQE: final plan " +
      "shows skew=true SMJ + 'coalesced and skewed' AQEShuffleRead"),
    "q_join_dpp" -> ("DynamicPruningExpression in the fact scan's " +
      "PartitionFilters, riding the join broadcast"),
    "q_join_range" -> ("range join pre-binned to an equi-join: no " +
      "CartesianProduct/NestedLoop anywhere"),
    "q_join_asof_native" -> ("custom AsofJoinExec: co-clustered sort-" +
      "merge, O(1) per-partition state, no Window materialization"),
    "q_event_count" -> ("running count sharded by (rb, day); carries " +
      "re-attached via broadcast — no 2-task global sort"),
    "q_dedup_near" -> ("LSH-banded candidates: equi-join on (band, " +
      "band_key), exact verify only on collisions"),
    "q_sim_pairs" -> ("sign-LSH banded all-pairs: equi-join candidates " +
      "+ exact cosine verify; no O(n²) join"),
    "q_mix_sample" -> ("byte-sized rate table broadcast; hash gate " +
      "runs scan-local before the only shuffle (final agg)"),
    "q_doc_chunks" -> ("chunking is pure per-row array exprs inside " +
      "WholeStageCodegen; the only exchange is the output sort"),
    "q_text_rep_scrub" -> ("keep-first trigram scrub as in-row array " +
      "algebra (occurrences − distinct); the only exchange carries " +
      "|sources| rows"),
    "q_text_drift" -> ("corpus vocab table broadcast into the " +
      "per-source join; two keyed counts, no vocab re-shuffle"),
    "q_sim_kmeans" -> ("each Lloyd iteration: k-row centroid " +
      "BroadcastNestedLoopJoin (corpus never reshuffled for " +
      "assignment) + two-phase min(struct)/avg aggregates whose " +
      "output is k×dim rows at any corpus size; double_dot codegen'd"),
    "q_dedup_incremental" -> ("increment-side band keys broadcast " +
      "into the candidate BroadcastHashJoin — per-ingest cost linear " +
      "in the increment, corpus streamed map-side"),
    "q_doc_cdc" -> ("content-defined chunking as scan-local array " +
      "algebra in WholeStageCodegen; no join, no hash exchange, only " +
      "the output sort"),
    "q_graph_pagerank" -> ("per iteration: ranks⋈edges shuffled on " +
      "src, two-phase inflow sum on dst, teleport left-join; 1-row " +
      "N-stats broadcast — no cartesian, no collect"),
    "q_graph_triangles" -> ("degree-oriented wedge join: both joins " +
      "hash-equi (apex, then closing pair), edge tables cached once " +
      "— oriented out-degree bounded O(sqrt(|E|)), no cartesian"),
    "q_embed_pca" -> ("ONE covariance pass: vec-keyed self-join " +
      "emits 64x64 quantized products map-side-combined to 4096 " +
      "exact integer sums; iteration is scalar algebra on that row"),
    "q_text_postings" -> ("posting lists capped by row_number BEFORE " +
      "the collect — every aggregate buffer bounded at 16 entries; " +
      "df/tf stats and capped lists co-partitioned on term"),
    "q_join_interval" -> ("interval overlap as a (user, day-bucket) " +
      "compound-key EQUI-join — overlap predicate is a post-filter, " +
      "never a nested loop; window explode bounded at 2 buckets"),
    "q_tpch_q21" -> ("semi + anti correlation on the SAME fact, both " +
      "equi-keyed on l_orderkey; nation broadcast; " +
      "TakeOrderedAndProject top-k — no cartesian/nested-loop"),
    "q_tpch_q13" -> ("left join keeps unmatched customers (predicate " +
      "ON the join); second agg runs over #distinct-counts rows"),
    "q_domain_cap" -> ("rank filter plans a PARTIAL WindowGroupLimit: " +
      "each map task keeps <= k rows per source BEFORE the shuffle — " +
      "a hot domain ships k*tasks rows, never its crawl"),
    "q_text_bigram_lm" -> ("bigram explode feeds ONE map-side-combined " +
      "count agg; totals + top-1 rank run over the vocab^2 count " +
      "table, never the corpus"),
    "q_tpch_q2" -> ("correlated per-part MIN as a dimension-sized " +
      "aggregate broadcast back; part list + min table both " +
      "BroadcastHashJoin — fact scanned once, no second shuffle"),
    "q_tpch_q17" -> ("correlated per-part AVG broadcast back onto the " +
      "same brand-pruned fact slice; both passes pruned at the scan"),
    "q_tpch_q19" -> ("disjunctive bracket predicate stays a residual " +
      "filter on the part equi-join — hash join, no nested-loop " +
      "fallback"),
    "q_multimodal_phash_pairs" -> ("Hamming<=2 image pairs via 3-band " +
      "pigeonhole split: candidates from an equi-join on (band, value, " +
      "dims), bit_count residual — no all-pairs distance matrix"),
    // q_graph_jaccard left OFF the hash-guard list deliberately: round
    // 11 removed its forced broadcast (the deg<=64 slice is O(V)), so
    // join strategy is now stat-driven by design and the physical plan
    // legitimately varies with cache state. PlanSpec pins the
    // load-bearing shape instead (no hint, no cartesian).
    "q_ml_naive_bayes" -> ("training IS one aggregation; the model " +
      "(term-lang log-likelihoods, priors) broadcasts; scoring is one " +
      "explode + one keyed aggregation — no driver loop"),
    "q_basket_lift" -> ("pair explode bounded by order size: pairs " +
      "come in-row from each order's sorted collect_set basket (one " +
      "exchange, no self-join); brand counts broadcast back"),
    "q_events_rfm" -> ("quintile cuts from ONE percentile aggregate " +
      "broadcast back; users bucket scan-locally — NO Window operator " +
      "anywhere (the old triple global ntile was a single-partition " +
      "sort of a grow-with-data table)"),
    "q_agg_gini" -> ("exact global rank SHARDED: rows bucket against " +
      "31 broadcast percentile cuts, the only Window partitions by " +
      "bkt, prefix offsets re-attach via BroadcastHashJoin"),
    "q_text_zipf" -> ("vocab top-100 is TakeOrderedAndProject (map-" +
      "side k); rank = broadcast predecessor count over the 100 " +
      "survivors — no window, no vocab-sized single-partition sort"),
    "q_sim_ann_multiband" -> ("OR-amplified multi-band sign-LSH: " +
      "candidates equi-join the broadcast probe keys on (band, bkey); " +
      "exact-cosine rerank only on collisions"),
    "q_sim_ann_pq" -> ("product quantization: codebook (1024 rows) " +
      "and probe LUT (128 rows) broadcast; ADC scoring scan-local + " +
      "one aggregate; top-20 TakeOrderedAndProject, exact rerank on " +
      "20 rows"),
    "q_dedup_semantic" -> ("SemDeDup: 64-cell centroid table " +
      "broadcast back for priorities; candidates equi-join on (cell, " +
      "band, base, extra) where the extra key widens with the corpus " +
      "(kx from one count aggregate, broadcast as a 1-row frame) and " +
      "Hamming-1 probes recover split pairs — never within-cell " +
      "all-pairs, never a fixed bucket space; drop rule scan-local " +
      "per verified pair"),
    "q_dedup_semantic_audit" -> ("adaptive-banding audit: three " +
      "schemes share one scan lineage; every candidate set is a band " +
      "equi-join (no CartesianProduct); count/recall rows assembled " +
      "from 1-row broadcast aggregates"),
    "q_text_tfidf" -> ("tf-idf in ONE corpus explode: df is a count " +
      "window over the tf table (partition by token — the same " +
      "hash distribution the old df join shuffled to), zero joins, " +
      "no forced BroadcastExchange of a Heaps-law table"),
    "q_text_logprob" -> ("unigram logprob scoring: model join keyed " +
      "on the token, un-hinted; the only forced broadcast is the " +
      "1-row total"),
    "q_text_collocations" -> ("PMI collocations: bigram and unigram " +
      "tables co-partition on the word keys, joins un-hinted; " +
      "top-30 is a TakeOrderedAndProject"),
    "q_mix_epochs" -> ("epoch/repeat plan: source-sized aggregate + " +
      "one-row normalizer broadcast; ceil-division scan-local — " +
      "dimension-sized end to end, no fact-table shuffle after the " +
      "first aggregate"),
    "q_mix_dsir" -> ("DSIR importance weights: both bag-of-ngrams " +
      "models come from ONE bucket-keyed aggregate (<=4096 rows, " +
      "map-side combined); the log-ratio table broadcasts for " +
      "scoring; the per-doc score is one corpus-linear aggregate"),
    "q_sim_prune" -> ("prototype pruning: DROP-LIST output only; " +
      "each rank filter is a single row_number predicate so both " +
      "branches plan a partial WindowGroupLimit (map tasks keep <=5 " +
      "rows per cell); centroid table is label-x-dim bounded"),
    "q_dedup_trim" -> ("repeated-span cut: the span dictionary is " +
      "duplicate-mass-bounded and meets positions in a hash " +
      "equi-join; coverage is a x5 span explode + per-doc distinct " +
      "count - every shuffle keyed by hash or doc_id, corpus-linear"),
    "q_sim_hardneg" -> ("hard negatives: cross-label bucket " +
      "collisions only (band equi-join, never all-pairs); per-anchor " +
      "top-2 is a single rank predicate -> partial WindowGroupLimit"),
    "q_curate_v2" -> ("staged funnel reusing four verified ops: " +
      "three hash equi-joins against dedup/DSIR stage tables, flags " +
      "scan-local, ONE source-keyed aggregate - no window, no " +
      "all-pairs anything"),
    "q_text_perplexity" -> ("conditional-LM gate: the corpus bigram " +
      "rows (zipped slices, no lambda) join the vocab²-bounded model " +
      "WITHOUT broadcast hints (stats pick) and sum per doc in ONE " +
      "aggregate, with no per-doc bigram multiset; the tertile cuts " +
      "read that aggregate's exchange again (ReusedExchange) and " +
      "broadcast back — docs bucket scan-local, no Window operator " +
      "anywhere"),
    "q_quality_classify" -> ("distilled NB quality filter, served " +
      "from its fixpoint (the plan is that checkpoint's scan). The " +
      "build reads the corpus twice: the train fold's per-term class " +
      "count grid, then every doc's tokens in ONE left join to the " +
      "signed per-term delta (a projection of the grid) and ONE " +
      "per-doc aggregate — no class cross join, no window"),
    "q_mix_dsir_sample" -> ("Gumbel-top-k resampling: the 64-survivor " +
      "draw is TakeOrderedAndProject (map-side k, no global sort); " +
      "the integer rank is a broadcast predecessor count over 64 rows"),
    "q_dedup_cluster_keep" -> ("quality-argmax canonicalization: the " +
      "only window partitions by cluster id (cluster-bounded); " +
      "quality joins membership by doc_id equi-join — duplicate-mass " +
      "sized, never corpus-wide"),
    "q_dedup_bloom_ingest" -> ("bloom-fronted ingest: the increment's " +
      "~KB band-key sketch inlines into the corpus scan's predicate " +
      "(might_contain BEFORE any join) — non-colliding signatures die " +
      "at the scan; exact verify removes the false positives"),
    "q_sim_ann_ivfpq" -> ("FAISS-standard IVF+PQ: 2-row cell table, " +
      "128-row LUT and 1-row probe broadcast; ADC is scan-local + one " +
      "aggregate; both top-k cuts are TakeOrderedAndProject; " +
      "full-precision vectors touched only for the 20 rerank rows"),
    "q_agg_kmv" -> ("KMV sketch build: per-source top-64 as a partial " +
      "WindowGroupLimit (map-side keeps 64 rows per source); the pair " +
      "stage joins only ≤128-row sketches"),
    "q_agg_spearman" -> ("rank transform WITHOUT ranking rows — or " +
      "re-scanning them: ONE fact aggregate to the literal-bounded " +
      "(flag, qty, cent) count grid; both tie-aware rank transforms " +
      "are RANGE windows on the grid and the Pearson sums are " +
      "cnt-weighted DECIMAL aggregates of it (old form: 3 fact scans)"),
    "q_mix_doremi" -> ("DoReMi reweight: vocab²-sized cnt/tot model " +
      "tables join UN-hinted (AQE sizes them); only one-row-per-domain " +
      "vocab sizes and the 1-row normalizer broadcast"),
    "q_text_novelty" -> ("first-occurrence ownership: one bigram " +
      "explode, one (w1,w2)-keyed min aggregate, un-hinted vocab-keyed " +
      "join-back, two bounded rollups — no windows"),
    "q_graph_kcore" -> ("4-round degree peel: per-round lazy " +
      "checkpoints cut the plan pyramid; each round is two semi-joins " +
      "+ one edge-count-sized aggregate"),
    "q_sample_coreset" -> ("greedy k-center: per round ONE broadcast " +
      "1-row-center crossJoin updates the running min-distance; argmax " +
      "is TakeOrderedAndProject on micro-quantized distances"),
    "q_split_leakage" -> ("split labels are per-row hash arithmetic " +
      "over the cached near-pair table — no corpus rejoin; one " +
      "3x3-bounded aggregate"),
    "q_mix_doremi_rounds" -> ("weighted mixture refits: integer " +
      "micro-weight joins keep the model sums exact BIGINT; vocab2 " +
      "tables un-hinted, only 1-row-per-domain frames broadcast"),
    "q_events_attribution" -> ("touch-purchase range join keyed on " +
      "user_id (per-user-bounded state); credit windows partition by " +
      "purchase; output is the 3-row channel grid"),
    "q_surv_km" -> ("per-customer lead() window is the only " +
      "corpus-wide exchange; the KM product runs over the bounded " +
      "day grid with the global max date broadcast"))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Tables.session(8)
    spark.sparkContext.setLogLevel("ERROR")
    // Warm the shared fixpoint stores first (Bench's list): a store
    // consumer's plan is an InMemoryTableScan once the store exists,
    // and the fresh-pipeline form it would show before any consumer
    // ran is a state PLANS.md should not document — headliner ORDER
    // must not decide which form lands in the file.
    Fixpoints.warmAll(spark, sfDir, "plandump")
    val sb = new StringBuilder
    sb.append("# PLANS — headline physical plans (generated)\n\n")
    sb.append("Regenerate: `sbt \"runMain graft.PlanDump\"` ")
    sb.append(s"(sf dir: `$sfDir`).\n")
    sb.append("Each entry: what the plan MUST show for the 100 TB ")
    sb.append("story, then `explain(\"formatted\")` output. Plans with ")
    sb.append("runtime (AQE) shapes are materialized first so the ")
    sb.append("final adaptive plan is shown.\n")
    sb.append(scanAuditNotes)
    headliners.foreach { case (name, note) =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      // materialize so AQE/DPP plans are final, then print the
      // executed plan (the formatted initial plan hides runtime reads)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      sb.append(s"\n## $name\n\n$note\n\n```\n")
      sb.append(plan.linesIterator.take(60).mkString("\n"))
      if (plan.linesIterator.size > 60) sb.append("\n… (truncated)")
      sb.append("\n```\n")
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("PLANS.md"), sb.toString)
    println(s"[plandump] wrote PLANS.md (${headliners.size} queries)")
    spark.stop()
  }
}
