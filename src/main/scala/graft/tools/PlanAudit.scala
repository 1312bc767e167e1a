package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev utility: sweep every registered query's executed plan for scale
  * red flags — cartesian products, unexpected nested-loop joins, and
  * exchange counts. Usage: runMain graft.tools.PlanAudit [sfDir]
  */
object PlanAudit {

  // ops where a nested-loop broadcast join is the intended shape:
  // range_join (non-equi band table), ann_topk_exact +
  // ann_quantized_topk (tiny broadcast probe set × corpus is the
  // brute-force scan tier by design), ann_ivf_assign +
  // dedup_embedding_xcell (corpus × broadcast centroid table),
  // text_tfidf_topk + pipe_mixture_sample + text_bigram_lm (1-row
  // global-total broadcast), ann_hard_negatives (broadcast probe set ×
  // corpus with the label inequality as the join condition)
  private val nestedLoopAllowed =
    Set("range_join", "ann_topk_exact", "ann_quantized_topk", "ann_ivf_assign",
      "dedup_embedding_xcell", "ann_ivf_topk", "text_tfidf_topk",
      "pipe_mixture_sample", "text_bigram_lm", "ann_hard_negatives",
      // tier 1 is the same broadcast-probe × corpus int8 scan as
      // ann_quantized_topk; tier 2 is equi-joins only
      "ann_refine_rerank",
      // 1-row broadcasts: the collapsed PQ codebook (×3: two build
      // rounds + encode) and the collapsed probe distance tables
      "ann_pq_topk",
      // 1-row broadcasts again: benford's grand total, pmi's bigram
      // total, gap_fill's (d0, d1) calendar bounds
      "etl_benford", "text_pmi_collocations", "ev_gap_fill",
      // 1-row broadcasts: stratified_alloc's Σ N_h·S_h total,
      // ev_rfm's and ev_survival's global observation-end anchor,
      // ev_ab_ttest's and etl_capture_recapture's 1-row moment/count
      // relations
      "etl_stratified_alloc", "ev_rfm", "ev_survival",
      "ev_ab_ttest", "etl_capture_recapture",
      // 1-row u-agreement-rate broadcast
      "etl_linkage_weights",
      // 1-row broadcasts: ks_test's (na, nb) totals; psi's 15-day cut
      // and the reference (vmin, vmax) range; dau_stickiness's
      // (d0, d1) calendar bounds (×2 — one per rolling horizon)
      "etl_ks_test", "etl_psi", "ev_dau_stickiness",
      // 1-row broadcast: dsir's (ns, nt) corpus/target token totals
      // crossed onto the 4096-row bucket-LLR table
      "pipe_dsir_weights",
      // 1-row broadcast: cuped's window-midpoint anchor
      "ev_cuped",
      // the shared IVF build's 1-row collapsed-centroid broadcasts
      // (same subtree as ann_ivf_assign)
      "ann_knn_graph",
      // rides ann_knn_graph's subtree (the same IVF collapsed-centroid
      // broadcasts); LOF's own joins are all id-keyed equi
      "embedding_lof",
      // vocab × broadcast-vocab distance table (64 distinct names):
      // the distinct-name levenshtein collapse — never corpus-scale
      "etl_record_linkage",
      // 1-row broadcast: the (n, nr, nc) contingency-total anchor
      "etl_chisq_independence",
      // inherits ann_topk_exact's NPROBES-row probe broadcast
      "ann_recall_eval",
      // same inheritance, twice (one sweep arm per probe count)
      "ann_nprobe_sweep",
      // broadcast-probe × corpus scan on both filter arms
      "ann_filtered_topk",
      // 1-row broadcast: the Heaps-fit moment anchor
      "text_vocab_growth",
      // 2-row broadcast: the {1, 7} lag list
      "ev_autocorrelation",
      // 1-row broadcasts: kruskal's tie-sum anchor; sample_weights' /
      // epoch_plan's token total and √p normalizer;
      // seasonal_decompose's 12-month factor normalizer
      "etl_kruskal_wallis", "pipe_sample_weights", "pipe_epoch_plan",
      "etl_seasonal_decompose",
      // the broadcast-probe × corpus scan of ann_topk_exact with the
      // L2 primitive — the probe set is the same fixed-size workload
      "ann_l2_topk",
      // same broadcast-probe × corpus scan with the raw-dot primitive
      "ann_mips_topk",
      // |sources|²/2-row broadcast: the source-pair table the vocab
      // relation expands against row-locally (a constant, never corpus)
      "text_js_divergence",
      // 1-row broadcast: the total-directed-edge-count anchor every
      // per-community contribution divides by
      "graph_modularity",
      // 1-row broadcasts: the ratio-median anchor and the
      // (lo_bound, hi_bound) anchor of the HB edit
      "etl_hb_outliers",
      // inherits ann_topk_exact's broadcast-probe × corpus scan
      "ann_knn_classify",
      // the ev_ab_ttest shape: a crossJoin of two 1-row arm aggregates
      "ev_power_analysis",
      // 1-row broadcast: the full-sample (n, Σx) moment anchor
      "etl_bootstrap_ci",
      // 1-row broadcast: the population-average reference anchor
      "ev_bot_score",
      // 1-row broadcast: the stationary-mass normalizer anchor
      "ev_markov_steady_state",
      // 1-row broadcast: the corrupt-line count anchor
      "src_json_malformed", "src_csv_malformed",
      // 1-row broadcast: the register-truth count anchor
      "etl_linkage_eval",
      // 1-row broadcast: the holdout-cut calendar anchor
      "ev_forecast_eval",
      // 1-row broadcast: the calendar-midpoint split anchor
      "ev_diff_in_diff",
      // 1-row broadcast: the (t0, t1) total-change anchor the brand
      // shares divide by
      "etl_contribution",
      // 13-row literal Henderson-weights relation × the monthly
      // bookkeeping series — a constant, never corpus
      "etl_henderson_trend",
      // the shared IVF build's collapsed-centroid broadcasts (the
      // ann_ivf_assign subtree this screen rides)
      "embedding_outlier_score",
      // 1-row broadcasts: the Cochran-Armitage (N, R, Σtn, Σt²n, ΣtR)
      // stat anchor; the ROC (pos, neg) totals + trapezoid-AUC anchor;
      // the seasonal-strength 12-month factor normalizer (the
      // etl_seasonal_decompose subtree) — all bounded, never corpus
      "etl_cochran_armitage", "etl_roc_curve", "etl_seasonal_strength",
      // broadcast-probe × corpus scan with the ≠ predicate — the
      // ann_topk_exact shape minus the ranking (threshold filter only)
      "ann_range_search",
      // 1-row crossJoins: AMS median-of-means × exact-F₂ anchors;
      // Bloom (n_keys, bits_set) anchors
      "sketch_ams_f2", "sketch_bloom_fpr",
      // 1-row broadcast: the PPS (X, n_universe) total anchor
      "etl_pps_sample",
      // 1-row broadcast: the observation-end anchor (ev_survival's)
      "ev_nelson_aalen",
      // 6-row / 3-row lag-list broadcasts (the ev_autocorrelation
      // argument)
      "ev_ljung_box", "ev_pacf",
      // 1-row broadcast: the observation-end anchor (ev_survival's)
      "ev_survival_ci",
      // 1-row broadcasts: the (m, sdir, spsi) stat anchor, the
      // (s2v, m) Prasad-Rao variance anchor, the (sw, syw) GLS anchor
      "etl_fay_herriot",
      // 1-row broadcast: the (hit, nall) overall-accuracy anchor over
      // the |langs|²-bounded confusion-cell relation
      "text_langid_eval",
      // 8-row frequency-list broadcast (the ev_autocorrelation
      // lag-list argument)
      "ev_dft_spectrum",
      // 12-month factor normalizer (the etl_seasonal_decompose
      // argument) + the 13-row literal Henderson-weights relation
      // (the etl_henderson_trend argument)
      "etl_x11_adjust",
      // 1-row broadcast: the (n_months, Σcents) series-mean normalizer
      // anchor the z-scores divide by
      "etl_stl_decompose",
      // 25-row literal (θ, Θ) grid × the 5-row per-type daily-count
      // array relation — a constant, never corpus
      "ev_airline_sarima",
      // 1-row broadcasts: the row-sum, column-sum and grand-moment
      // anchors of the balanced two-way SI panel ANOVA
      "etl_x11_m7",
      // 1-row broadcasts: the (mn, mid) calendar anchor (the
      // ev_diff_in_diff argument) and the 1-row base-week contrast
      "ev_event_study",
      // 1-row broadcasts: the (nd, Σc, Σv) normalizer anchor and the
      // 1-row OLS (den, βnum, αnum) coefficient anchor
      "ev_engle_granger",
      // 1-row broadcast: the (nd, Σc, Σv) normalizer anchor (the
      // ev_engle_granger argument; the lags/moments need no join)
      "ev_var1_stability",
      // 1-row broadcast: the (Σn, nd) adopter-total normalizer anchor
      "ev_bass_diffusion",
      // 1-row broadcast: the (min, width) cent-range binning anchor
      "etl_dalenius_hodges",
      // 1-row broadcast: the (α, β) beta-binomial prior anchor over
      // the ≤|nations| cell relation
      "etl_eb_shrinkage",
      // 1-row broadcasts: the total-transition anchor and the 1-row
      // entropy-rate anchor over the ≤|types| state relation
      "ev_markov_entropy",
      // the day² pair join broadcasts the CALENDAR-BOUNDED daily
      // relation under a < inequality + the 1-row n_days anchor
      "ev_kendall_tau",
      // the k²/2 group-pair join broadcasts the ≤|priorities| moment
      // relation under a < inequality + the 1-row MSE anchor
      "etl_tukey_hsd",
      // 1-row broadcasts: the calendar-midpoint anchor and the 1-row
      // split-SSR anchor
      "etl_chow_test",
      // the shared IVF build's collapsed-centroid broadcasts (the
      // ann_ivf_assign subtree) + the 1-row member-total anchor
      "ann_ivf_quality",
      // the shared periodogram's 8-row frequency-list broadcast (the
      // ev_dft_spectrum argument)
      "ev_spectral_entropy",
      // k-row broadcast: the per-flag group-median anchors the
      // |2q−med2| deviations expand against over the bounded value
      // domain + the 1-row between/within ANOVA-term anchor
      "etl_levene_test",
      // 1-row broadcasts: the per-scale R/S mean anchors and the
      // closed-form OLS moment anchor over ≤3 log-log points
      "ev_hurst",
      // 1-row broadcast: the global (n, Σx, Σy, Σx², Σy²) moment
      // anchor; the 8-lag shifted join itself is an equi hash join
      "ev_cross_correlation",
      // 1-row broadcast: the order-count anchor; the other broadcast
      // is the 20-row top-pair relation, and the support joins are
      // equi
      "ev_market_basket",
      // 4-row pct-target dim × the ≤50-value bounded quantity domain
      // — a constant, never corpus
      "q42_percentile_cont",
      // 1-row broadcast: the corpus doc-count anchor the zero-
      // inclusive moments divide by
      "text_burstiness",
      // 1-row broadcast: the (n_en, n_other) subcorpus-total anchor
      // the vocab-keyed G² expectations divide by
      "text_keyness_loglr",
      // 1-row crossJoins: the margin/correction/power-sum anchors the
      // fixed-point SS identities combine (all ≤6-cell-bounded)
      "etl_two_way_anova",
      // 1-row crossJoins: the per-half-step normalization totals of
      // the renormalized-integer HITS power iteration (the
      // graph_eigencentrality argument)
      "graph_hits",
      // tier 1 is ann_quantized_topk's broadcast-probe × corpus int8
      // scan; the pool's join back to the codes is equi on the
      // neighbor id (a broadcast of the ≤MMR_CAND×NPROBES tier-1
      // rows), and the greedy steps run inside each probe's row
      "ann_mmr_rerank", "ann_diversity_eval",
      // 1-row crossJoin: the (center, sig2) pooled-limit anchor the
      // ≤|months| subgroup relation expands against
      "etl_control_chart",
      // 1-row crossJoin: the pooled (means, covariance) anchor (the
      // etl_control_chart argument, 2-D)
      "etl_hotelling_t2",
      // 1-row crossJoin: the pooled (x-bar-bar, sigma-hat) anchor the
      // zone z-scores standardize against (the etl_control_chart
      // argument)
      "etl_we_rules",
      // 1-row crossJoin: the pooled-p̄ anchor (the etl_control_chart
      // argument for the attribute chart)
      "etl_p_chart",
      // 1-row crossJoins: the k / Σ(2R)² / tie anchors the χ²
      // assembles from (all ≤|flags|-bounded aggregates)
      "etl_friedman_test",
      // bounded crossJoins: the 1-row global-horizon anchor and the
      // 2-row per-arm totals the hour-domain risk grid expands against
      "ev_logrank_test",
      // 1-row crossJoin: the global calendar-midpoint anchor the
      // per-type half-split moments divide against
      "etl_benjamini_hochberg",
      // the shared IVF build's collapsed-centroid broadcasts (the
      // ann_ivf_assign subtree both ops ride)
      "dedup_semdedup",
      // the IVF subtree + its own 1-row anchors (n, k/W, B, ΣDB) the
      // final 1-row assembly crossJoins — all aggregate-bounded
      "embedding_cluster_eval",
      // 1-row broadcast: the train-side vocab anchor (the
      // text_bigram_lm argument, train/held-out split variant)
      "text_perplexity",
      // 1-row broadcast: the (n, nr, nc) contingency-total anchor
      // (the etl_chisq_independence argument)
      "etl_g_test",
      // 1-row broadcast: the (k, W, weighted-mean) Welch anchor the
      // ≤|types| group-moment relation expands against
      "ev_welch_anova",
      // 1-row broadcast: the (n, Σx) demeaning anchor the ≤|days|
      // daily relation expands against
      "ev_newey_west")

  // dedup_embedding_xcell / ann_ivf_topk legitimately stack the IVF
  // build (2 tiny keyed aggs + a per-vector window), the cell
  // candidate join and two payload joins — 9-10 exchanges, of which
  // only the last three touch corpus-scale data (the build exchanges
  // carry 64×n_labels rows).
  // pipe_clean_corpus composes three verified operators (exact-dup
  // window + banded-minhash candidate join + quality) plus two verdict
  // joins — 7 exchanges, each belonging to an individually-audited
  // stage.
  // q28_median_exact's distributed selection runs one corpus-scale
  // exchange (the per-(flag, bucket) counts agg) + one hot-bucket-only
  // window; the other six exchanges (offset window, target/hot-bucket
  // distincts, final 3-row agg) all carry ≤ 5×200 bookkeeping rows.
  // graph_pagerank chains 6 Pregel rounds lazily in ONE plan (no
  // per-round lineage cut locally), so the audit sees every round's
  // rank-vector join + per-dst message agg + the edge/node builds:
  // ~3-4 exchanges per round is the intended iterative shape, each
  // bounded by O(E) messages — not a fan-out bug.
  // graph_triangles stacks the individually-audited LSH candidate
  // stage (~6 exchanges, all bucket-capped) plus the triangle plan
  // proper: degree agg, two degree joins, the wedge self-join and the
  // closure join — each keyed on node ids whose oriented out-degree
  // the orientation bounds at O(√E). pairs/o are persisted so each
  // stage runs once.
  // ev_peak_concurrency's distributed prefix sum runs two corpus-scale
  // exchanges (per-instant delta agg, bucket-local cumsum window); the
  // rest (bucket-offset agg + window, peak agg, peak join, final 5-row
  // agg) move ≤ types×64 bookkeeping rows. The printed count varies
  // 7-10 with cache state (a warm InMemoryRelation hides upstream
  // exchanges; a cold one re-prints them per reference).
  // etl_chain_index runs ONE corpus-scale exchange (the part-year agg,
  // persisted) + 3 links × (pivot agg + brand join/agg) over
  // part-cardinality bookkeeping rows — 8 printed, 1 corpus-scale.
  // ev_rfm chains THREE distributed-rank passes (one per RFM metric)
  // over the per-user relation: each pass prints a bucket-count agg
  // (map-side combined), a ≤200-row offset window and the bucket-local
  // rank window — only the rank window moves user-scale rows, and the
  // unpersisted chain re-prints upstream exchanges per branch, so the
  // printed count (≈18) is ~3× the executed corpus-scale moves (4:
  // the user agg + one rank repartition per metric).
  private val exchangeAllowance =
    // the k-means IVF build chains LLOYD+1 centroid aggregations, each
    // = groupBy(cell,pos) + groupBy(cell) + 1-row collapse — every one
    // a k×d-row bookkeeping move after map-side combine, never a
    // corpus-scale shuffle; consumers (topk/xcell) stack their own
    // candidate-join + top-k aggregate exchanges on top
    Map("dedup_embedding_xcell" -> 12, "ann_ivf_topk" -> 6,
      "ann_ivf_assign" -> 9,
      // PQ chains two codebook builds (each groupBy(sub,cell,pos) +
      // groupBy(sub,cell) + 1-row collapse over m×codes×dsub
      // bookkeeping rows), the per-vec code collapse, the probe-table
      // collapse, the ADC top-k aggregate and the rerank joins — every
      // exchange is either bookkeeping-bounded or the single
      // corpus-linear code shuffle
      "ann_pq_topk" -> 11,
      "pipe_clean_corpus" -> 8, "q28_median_exact" -> 8,
      "graph_pagerank" -> 26, "graph_triangles" -> 14,
      "ev_peak_concurrency" -> 12, "etl_chain_index" -> 9,
      // chained Fisher/Törnqvist: 2 corpus-keyed exchanges (part×year
      // agg + the shared 4-year part pivot), then per link a brand
      // totals agg + a brand Törnqvist-term agg over the persisted
      // part-level basket (≤|part| rows, map-side combined to ≤|brand|)
      // — 3 links × 2 + the final brand-keyed assembly, all
      // dimension-bounded bookkeeping moves
      "etl_chained_index" -> 11,
      // Lowe/Young: 2 corpus-keyed exchanges (part×year agg + the
      // 4-year part pivot), then per current period a brand
      // Lowe-totals agg + a brand Young-term agg over the persisted
      // part-level basket — 2 periods × 2 brand-bounded bookkeeping
      // moves + the broadcast assemblies
      "etl_lowe_young" -> 8,
      "ev_rfm" -> 18,
      // bipartite projection: two exchanges, measured — the
      // per-customer collect_set of parts (keyed on the customer) and
      // the per-part top-partners aggregate (keyed on part_a, each row
      // one serialized count map); the orders side of the edge join
      // broadcasts. No pair ever moves as a row of its own.
      "graph_bipartite_projection" -> 2,
      // q38 is q28's selection plan with 3 target ranks instead of 2 —
      // same budget: one corpus-scale exchange (per-(flag, bucket)
      // counts), the rest ≤5×200-row bookkeeping moves
      "q38_group_quartiles" -> 8,
      // pettitt runs ONE corpus-scale exchange (the type×day count
      // agg); the midrank build, the rank join, the U-walk window, the
      // interior-max agg and the argmax join all move calendar-bounded
      // bookkeeping rows (10 total measured in the full-suite sweep)
      "ev_pettitt" -> 10,
      // seasonal MK: one corpus-scale exchange (type×day×weekday count
      // agg), then the weekday-blocked pair agg, the per-weekday nw /
      // tie aggs, their join-agg and the final join — all
      // calendar-bounded bookkeeping moves
      "ev_seasonal_mann_kendall" -> 7,
      // BFS stacks the individually-audited LSH candidate stage (~6,
      // bucket-capped) + the decontaminate seed build (2) + the final
      // round's frontier join + min-agg (earlier rounds execute eagerly
      // behind localCheckpoint cuts and print opaquely) — per-round
      // moves are frontier-bounded, the edges shuffle once total
      "graph_contamination_bfs" -> 14,
      // common_neighbors stacks the embedding pair join (2 exchanges),
      // degree agg, wedge self-join sides and the adjacency anti-join —
      // all keyed on node ids, wedge side bounded by the deg ≤ 64 cap
      "graph_common_neighbors" -> 10,
      // dau_stickiness runs THREE count-distinct aggs over the deduped
      // (user, day) relation (dau + two rolling horizons, each a
      // 2-exchange distinct agg after the ≤28× explode) + the day-grain
      // joins — day-keyed bookkeeping moves except the shared distinct
      "ev_dau_stickiness" -> 8,
      // knn_graph stacks the IVF build (ann_ivf_assign's bookkeeping
      // exchanges), the cell-mate candidate join, two embedding payload
      // joins and the top-k aggregate — same budget class as
      // ann_ivf_topk
      "ann_knn_graph" -> 11,
      // LOF stacks the full knn_graph pipeline (11) + the kdist agg,
      // reach/lrd joins and the final assembly — every added exchange
      // moves the 3-per-src kNN relation or the per-node kd/lrd rows,
      // never the corpus. The COUNT is audit-order-sensitive: when the
      // shared IVF-build/knn persists are already materialized by an
      // earlier-audited consumer, InMemoryRelation collapses their
      // subtrees (15 measured then); audited first — registry growth
      // reshuffles the HashMap order — the build's own k×d bookkeeping
      // aggregation exchanges stay visible (19 measured in the r13
      // sweep). Re-derived r16 after the r15 ann_knn_graph rewrite
      // (merge-hinted home⋈embeddings join + TopKByKey): the audit-
      // order sweep now prints 24 distinct exchange LINES — the +5 are
      // the rewrite's vec_id exchanges (both sides of the merge join)
      // and the TopKByKey src_id agg, printed once per IMR-captured
      // reference of the PERSISTED knn base (truly cold, fresh-session
      // count: 20, measured r16 with the since-deleted ExchangeProbe).
      // All new exchanges ride (id, cell)
      // or the 3-per-src kNN relation; the knn base executes ONCE per
      // run (persisted at Similarity.scala's embedding_lof), so the
      // string-count growth is print duplication, not recomputation.
      "embedding_lof" -> 24,
      // recall eval stacks the full ann_ivf_topk pipeline (6) on the
      // exact ranking (1) plus the K×NPROBES-row compare joins — every
      // added exchange rides the two top-K outputs, never the corpus
      "ann_recall_eval" -> 9,
      // one top-k aggregate exchange per filter arm; the label and
      // compare joins move top-K outputs, never the corpus (2
      // measured at sf0.001)
      "ann_filtered_topk" -> 2,
      // the sweep runs the recall-eval shape TWICE (nprobe 1 and 2)
      // against ONE shared IVF build and ONE exact ranking — the
      // second arm re-prints the persisted build's exchanges; each
      // arm's own moves are candidate-thin compare joins
      "ann_nprobe_sweep" -> 11,
      // estimator eval stacks the candidate build (bands + cap, the
      // dedup_ngram_jaccard budget) + the signature agg + the doc-id
      // keyed compare joins — all candidate-thin after the one
      // shingle-explode agg
      "dedup_minhash_est_jaccard" -> 9,
      // one corpus-scale (type, day) agg, then totals/deviation/
      // denominator/lag-join/numerator moves on the type×day
      // bookkeeping relation — the count varies ±1 with session state
      // (cache/broadcast planning), every variant bookkeeping-thin
      "ev_autocorrelation" -> 8,
      // spearman chains TWO avgRank2 passes (the ev_rfm pattern: each =
      // one map-side-combined (f, value) count + a ≤|f|×200-row offset
      // window + the per-(f, bucket) local cumulative window over
      // distinct VALUES) and then the (f, value)-keyed join of ranks
      // back to rows + the final 5-sum agg — corpus-scale moves are the
      // two count aggs, the price-side rank join and the final agg; the
      // rest are bucket/bookkeeping-bounded
      "etl_spearman_corr" -> 12,
      // MAD chains TWO full rankSelectByKey selection passes (each the
      // q28 budget: bucket-count agg + offset window + hot-bucket local
      // rank + target joins), the second over a relation that embeds
      // the first's median join — the printed count is ~2× q28's plus
      // reprints of the persisted offs relation; corpus-scale moves
      // are the two bucket-count aggs and the two hot-bucket ranks.
      // Re-derived r17 after the one-anchor fold PERSISTS the 4-column
      // lineitem projection: the cached build's exchanges reprint per
      // InMemoryRelation reference (5 references across the two
      // passes), pushing the printed count 20→30 (r17, since-deleted
      // ExchangeProbe: total=100 distinct=30, every line l_returnflag-keyed
      // bookkeeping); the executed corpus-scale moves are unchanged
      "etl_mad_robust" -> 30,
      // gap lag (user-keyed, 1 corpus move) + one rankSelectByKey pass
      // + the exact-mean agg; bookkeeping reprints inflate the rest
      "ev_interarrival_stats" -> 12,
      // modularity stacks the individually-audited LSH candidate stage
      // (~6, bucket-capped; the final LPA round executes eagerly behind
      // localCheckpoint cuts and prints opaquely) + the degree agg, the
      // two label-endpoint joins, the two community-keyed aggs and the
      // community join — every added exchange keyed on node/community
      // ids, bounded by O(E) label rows, never the corpus
      "graph_modularity" -> 13,
      // HB chains TWO full rankSelectByKey selection passes (each the
      // q28 budget: bucket-count agg + offset window + hot-bucket
      // local rank + target joins) over the per-customer ratio and
      // effect relations, plus the year agg — corpus-scale moves are
      // the year agg, the two bucket-count aggs and the two
      // hot-bucket ranks; persisted-relation reprints inflate the rest
      "etl_hb_outliers" -> 24,
      // the funnel stacks the individually-audited LSH candidate stage
      // (~6, bucket-capped) + the two md5-keyed dedup windows, the
      // survivor semijoin and the per-source rollup — each added
      // exchange keyed on doc ids or the |sources|-bounded rollup key
      "pipe_dedup_funnel" -> 10,
      // rides the full ann_ivf_assign budget (9) + its own per-cell
      // moment agg and the ≤|cells| stats broadcast-join back
      "embedding_outlier_score" -> 11,
      // the graph_triangles budget (LSH candidate stage + degree agg +
      // two degree joins + wedge self-join + closure join) + the
      // triangle-node explode agg and the coefficient join — all keyed
      // on node ids with the orientation's O(√E) out-degree bound
      "graph_clustering_coeff" -> 16,
      // unchanged plan, but it now shares the persisted pairs/deg
      // subtrees with graph_clustering_coeff — the cached-relation
      // reprint adds a line to the printed count (the
      // ev_peak_concurrency cache-state argument)
      "graph_degree_stats" -> 8,
      // the graph_common_neighbors budget (embedding near-dup pair
      // build + degree agg + wedge self-join + pair agg + adjacency
      // anti-join) + TWO endpoint-degree joins for the Jaccard
      // denominator — every added exchange keyed on pair/node ids
      // with the deg ≤ 64 wedge cap bounding row counts
      "graph_link_jaccard" -> 11,
      // the ev_autocorrelation shape + the per-type r_fp join and the
      // (event_type, nd) Q-statistic agg — all keyed on the ≤|types|
      // bookkeeping relation after the one corpus collapse
      "ev_ljung_box" -> 8,
      // same shape, one exchange fewer (the lag pivot replaces the
      // second stats join)
      "ev_pacf" -> 7,
      // one corpus-scale (type, day) agg; the dense day-index window,
      // the per-(type, k) trig sums and the power/peak rollup all move
      // type×day / 8·|types| bookkeeping rows — the persisted power
      // relation's cold reprints push the printed count past the
      // executed ~6 (the ev_peak_concurrency cache-state argument)
      "ev_dft_spectrum" -> 9,
      // one corpus-scale per-user lead window + the |types|² transition
      // agg; the persisted ≤|types| per-state entropy relation feeds
      // the total, the rate anchor AND the output row set — three
      // branches that each reprint the upstream prints when cold
      "ev_markov_entropy" -> 12,
      // one corpus-scale (type, value) agg, then 3 lazily-chained IRLS
      // rounds (each a ≤|types|-row broadcast join + a domain-bounded
      // keyed agg over the persisted 2-dp relation) + the m0/n/output
      // joins — the graph_pagerank lazily-unrolled-iteration argument:
      // every exchange after the first moves value-domain bookkeeping
      "etl_huber_mean" -> 14,
      // graft_textrank_top3 builds each document's graph from its
      // collected token lists and runs the whole 4-round recurrence, so
      // the plan is ONE doc_id-keyed exchange (the collect_list
      // aggregate) + explode; nothing is persisted, so no cache-state
      // reprint can add a printed exchange
      "text_textrank" -> 1,
      // rides the full ann_ivf_assign budget (9) + its own ≤KCELLS-row
      // member agg and the 1-row total anchor
      "ann_ivf_quality" -> 11,
      // rides the shared periodogram (the ev_dft_spectrum budget of 9:
      // one corpus (type, day) agg + bookkeeping) + its own per-type
      // total and entropy aggs on the 8·|types|-row relation
      "ev_spectral_entropy" -> 9,
      // tier 1's top-k aggregate exchange + the one probe_id exchange
      // that gathers each probe's ≤MMR_CAND-entry pool; the greedy
      // steps and both C(5,2) pair sums run inside that row
      "ann_diversity_eval" -> 2,
      // ONE corpus scan to the |months|×|flags| relation; the k /
      // complete-block / within-block-rank self-join / rank-sum / tie
      // aggregates stack ~13 further exchanges, all ≤|months|×|flags|
      // bookkeeping moves
      "etl_friedman_test" -> 14,
      // one corpus-scale per-user agg + the conversion agg; the
      // hour-domain grid, prefix-sum risk sets, arm join and term
      // aggregates are calendar-bounded bookkeeping moves
      "ev_logrank_test" -> 12,
      // rides the full ann_ivf_assign budget (9) + the embedding
      // payload join and the cell-bounded pair/keep aggregates
      "dedup_semdedup" -> 12,
      // rides the full ann_ivf_assign budget (9) + the snap join, then
      // the d2/wc/bt/m2/si/dbt chain — every exchange after the two
      // corpus-scale moves (the point-snap join and the per-point d2
      // agg) carries k×d = 1024 or k² = 256 bookkeeping rows
      "embedding_cluster_eval" -> 30,
      // the graph_degree_stats budget (LSH candidate stage, all
      // bucket-capped) + the degree agg, two endpoint-degree joins and
      // the two 3-literal k-arm aggs — everything after the shared
      // pair build moves node/edge-keyed bookkeeping rows
      // 11 not 10: one of the shared LSH-candidate subtrees prints its
      // exchange with fresh expr-ids when the suite runs solo (cache
      // registration order), +1 over the full-suite print
      "graph_rich_club" -> 11,
      // the graph_closeness layout (embedding pair build + per-round
      // frontier join/σ-agg behind localCheckpoint cuts, printing
      // opaquely) + the hub-seed top-8 agg and the three backward
      // pred-edge join/δ-agg rounds — per-round moves are frontier- or
      // pred-edge-bounded, the mirrored edges shuffle once
      "graph_betweenness" -> 12,
      // ONE corpus-scale agg (orders → monthly, ≤|months| rows); the
      // 7 exchanges after it move the SI panel through the MA window,
      // the complete-year filter join, and the four bookkeeping
      // row/column/moment aggregates
      "etl_x11_m7" -> 7,
      // ONE corpus-scale agg (events → type×day, ≤150 rows at any SF);
      // every exchange after it moves that calendar-bounded relation
      // through the loess windows ((type, dow) and (type) partitions
      // can't share a partitioning), the two median rank windows and
      // the anchor/median/MAD aggregate-join pairs. 14 not 13: the
      // persisted daily relation prints one exchange with fresh
      // expr-ids when another suite's cache registered it first (the
      // graph_rich_club print-variance class)
      "ev_stl_anomaly" -> 14)
      .withDefaultValue(6)

  /** Count distinct hash exchanges in an executed-plan string.
    *
    * A subtree referenced from several places (a persisted relation,
    * both sides of a self-join) prints its exchange once PER
    * REFERENCE, but executes once (reused exchange / cached relation).
    * Expr ids make identical lines ⇔ the same physical exchange; strip
    * only the tree-art prefix.
    */
  def distinctExchanges(plan: String): Int = plan.linesIterator
    .filter(_.contains("Exchange hashpartitioning"))
    .map(_.dropWhile(c => !c.isLetter))
    .toSet.size

  // Corpus-scale inputs (the brief's 100 TB tables). customer/part/
  // supplier are dims in this schema's ratios (see GraftSession) and
  // may broadcast; nation/region are constants.
  private val factFiles = Seq("lineitem.parquet", "orders.parquet",
    "events.parquet", "documents.parquet", "embeddings.parquet")

  // nodes that bound a broadcast payload regardless of input size
  private val boundingNodes = Seq("HashAggregate", "SortAggregate",
    "ObjectHashAggregate", "GlobalLimit", "CollectLimit",
    "TakeOrderedAndProject")

  // ops allowed to broadcast a filter-bounded fact subset by intent
  // (populated from the audited plans; each must carry a justification):
  // the broadcast is the PROBE SET (filter(vec_id < NPROBES) over the
  // embeddings scan or the cached int8 corpus — a fixed-size query
  // workload, not a corpus fraction), which the aggregate-detection
  // cannot see because a filter is not a bounding node. ann_mmr_rerank
  // and ann_diversity_eval also broadcast the ≤MMR_CAND×NPROBES tier-1
  // survivors to fetch their codes; ann_range_search filters by a
  // range instead of ranking.
  private val factBroadcastAllowed: Set[String] =
    Set("ann_topk_exact", "ann_l2_topk", "ann_mips_topk",
      "ann_recall_eval", "ann_nprobe_sweep", "ann_filtered_topk",
      "ann_lsh", "ann_quantized_topk", "ann_refine_rerank",
      "ann_hard_negatives", "ann_knn_classify", "ann_range_search",
      "ann_mmr_rerank", "ann_diversity_eval")

  /** True when a BroadcastExchange subtree in `plan` scans one of the
    * corpus-scale tables with NO aggregate/limit between the exchange
    * and the scan. Run with autoBroadcastJoinThreshold=-1 so the only
    * broadcasts left are ones an operator explicitly requested — an
    * explicit broadcast of an unbounded fact is never scale-safe
    * (the q16 stats-flip lesson, SURVEY §6).
    */
  def unboundedFactBroadcast(plan: String): Boolean = {
    val lines = plan.linesIterator.toArray
    def depth(l: String): Int = {
      val i = l.indexOf("+- "); val j = l.indexOf(":- ")
      if (i < 0) j else if (j < 0) i else math.min(i, j)
    }
    lines.indices.exists { idx =>
      lines(idx).contains("BroadcastExchange") && {
        val d = depth(lines(idx))
        val subtree = lines.drop(idx + 1).takeWhile(depth(_) > d)
        subtree.exists(l => factFiles.exists(l.contains)) &&
          !subtree.exists(l => boundingNodes.exists(l.contains))
      }
    }
  }

  /** Scale red flags for one query's executed plan. Empty = clean. */
  def flagsFor(name: String, plan: String): Seq[String] = {
    val cartesian = plan.contains("CartesianProduct")
    val nestedLoop = plan.contains("BroadcastNestedLoopJoin") &&
      !nestedLoopAllowed(name)
    val nExchange = distinctExchanges(plan)
    Seq(
      if (cartesian) Some("CARTESIAN") else None,
      if (nestedLoop) Some("NESTED_LOOP") else None,
      if (nExchange > exchangeAllowance(name)) Some(s"EXCHANGES=$nExchange") else None).flatten
  }

  /** Audit every registered query at `dir`; returns (name, flags) for
    * each query whose plan raised a flag or failed to build.
    *
    * Two passes: the standard checks under normal conf, then the
    * unbounded-fact-broadcast check with stats broadcasts disabled
    * (threshold -1) so only operator-requested broadcasts remain. The
    * cache is cleared before each pass-2 build: a relation cached in
    * pass 1 would print the plan it captured under the normal
    * threshold, stats broadcasts included.
    */
  def auditAll(spark: SparkSession, dir: String,
      report: String => Unit = _ => ()): Seq[(String, Seq[String])] = {
    val base = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val plan = fn(spark, dir).queryExecution.executedPlan.toString
        val flags = flagsFor(name, plan)
        if (flags.nonEmpty) { report(s"[audit] $name: ${flags.mkString(", ")}"); Some(name -> flags) }
        else { report(s"[audit] $name: ok (exchanges=${distinctExchanges(plan)})"); None }
      } catch {
        case e: Throwable =>
          report(s"[audit] $name: PLAN ERROR ${e.getMessage.take(100)}")
          Some(name -> Seq(s"PLAN ERROR ${e.getMessage.take(100)}"))
      }
    }
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(thresholdKey)
    spark.conf.set(thresholdKey, "-1")
    val factBc =
      try {
        graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
          if (factBroadcastAllowed(name)) None
          else try {
            spark.catalog.clearCache()
            val plan = fn(spark, dir).queryExecution.executedPlan.toString
            if (unboundedFactBroadcast(plan)) {
              report(s"[audit] $name: FACT_BROADCAST"); Some(name -> Seq("FACT_BROADCAST"))
            } else None
          } catch { case _: Throwable => None } // pass 1 already reported
        }
      } finally spark.conf.set(thresholdKey, prev)
    base ++ factBc
  }

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = graft.GraftSession.local()
    val flagged = auditAll(spark, dir, println)
    println(s"[audit] flagged: ${flagged.size}")
    spark.stop()
  }
}
