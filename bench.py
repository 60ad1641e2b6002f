"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default: the sf0.1 fixture) on the session factory's master
(local[$SPARK_GRAFT_CPUS], all cores by default) and prints ONE JSON
line: {"metric", "value", "unit", "queries", "sf", ...}.

Each query is forced via the noop sink (full computation, no driver
collect cost) after a warm-up of the parquet footer reads.
``warm_session`` and ``time_query`` are the timing loop of
tools/profile_query.py and tools/scale_check.py as well.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from sparkit_learn_spark.catalog import load_table
from sparkit_learn_spark.registry import all_queries
from sparkit_learn_spark.session import get_session, release_query_state

#: Headline set — one representative per operator family.
HEADLINE = [
    "q_agg_q1",          # scan + filter + partial/final agg (flagship)
    "q_scan_pruned",     # pushdown + column pruning
    "q_join_shuffle",    # large equi join
    "q_join_multiway",   # 6-table TPC-H Q5-style chain
    "q_join_asof",       # union-style as-of join (window)
    "q_agg_cube",        # grouping-set expansion
    "q_win_running",     # running-frame window
    "q_topk",            # TakeOrderedAndProject
    "q_stream_session",  # session windows (batch mode)
    "q_stream_neardup_dedup",  # r7: ingest near-dup dedup (batch form)
    "q_udf_pandas",      # Arrow-vectorized Python path
    "q_ml_tfidf",        # explode + double agg + broadcast join
    "q_llm_exact_dedup", # sha2 hash dedup
    "q_llm_cosine_topk", # O(N²) vector math (2k×2k at sf0.1)
    "q_llm_cosine_topk_sharded",  # exact brute force, no driver collect
    "q_llm_minhash_dedup",  # banded MinHash + exact-Jaccard verify (default)
    "q_llm_simhash_dedup",  # 64-bit sketch + band join
    "q_llm_ngram_jaccard",  # exact Jaccard via inverted shingle index
    "q_llm_lang_id",        # NB language-ID (profile + score + argmax)
    "q_llm_ann_ivf",        # IVF approximate neighbors
    "q_llm_bm25_topk",      # BM25 retrieval scoring + top-k
    "q_llm_decontaminate",  # train-vs-benchmark shingle overlap (broadcast)
    "q_llm_dedup_clusters", # pairs -> connected components -> canonical docs
    "q_llm_pack_sequences", # distributed prefix sum -> sequence packing
    # families that had never rotated through a driver sample: one
    # representative each, so the official record stops undersampling
    "q_win_topk_group",     # dense_rank window + per-group top-k
    "q_set_intersect",      # INTERSECT (shuffle-dedup both sides)
    "q_str_funcs",          # string expression battery (codegen)
    "q_date_funcs",         # date/time extraction + arithmetic
    "q_json_funcs",         # JSON path extraction over props
    "q_stream_tumbling",    # tumbling window agg (batch twin of stream)
    "q_ml_vocab",           # corpus vocabulary (explode + distinct agg)
    # round-5 rotation: families that had never appeared in a bench
    "q_tpch_q3",            # TPC-H Q3 (3-way join + agg + top-k)
    "q_sub_correlated_agg", # correlated aggregate subquery
    "q_mm_decode",          # binary synth + header struct-parse (Arrow)
    # round-5 additions (this session)
    "q_tpch_q6",            # pure scan-filter-agg (bandwidth-bound)
    "q_tpch_q8",            # 8-table double-role-nation market share
    "q_llm_embed_outliers", # per-label centroid cosine outliers
    "q_evt_funnel",         # event-analytics family representative
    # round-6 additions: one representative per new family
    "q_join_skew_salted",   # salted skew join (x8 spread, oracled == unsalted)
    "q_snapshot_diff",      # single-scan CDC snapshot classification
    "q_json_variant",       # VARIANT parse-once / typed-extract path
    "q_llm_reservoir_sample",  # frozen per-stratum bottom-k sample
    "q_tpch_q9",            # TPC-H wave-3 representative (profit rollup)
    "q_evt_rfm",            # analytics wave-2 (per-user aggregate + ntiles)
    "q_sql_lateral",        # SQL-text LATERAL top-k-per-group
    "q_join_bloom_prune",   # broadcast Bloom bitset prune + exact verify
    "q_win_rolling_median", # order-statistic frame (collect_list middle)
    "q_llm_mmr",            # MMR diversity re-rank over ANN candidates
    "q_mm_phash_neardup",   # dHash banding — image near-dup twin of simhash
    "q_graph_triangles",    # edge-edge triangle join over near-dup graph
    "q_evt_rolling_active", # windowed-distinct via bounded range join
    "q_llm_countmin_freq",  # Count-Min sketch build + probe
    "q_ml_roc_auc",         # distributed rank-sum AUC (fit + rank)
    "q_ts_interpolate",     # calendar-spine linear interpolation
    "q_graph_degree",       # near-dup graph degree (pair pipeline + explode)
    "q_dq_checks",          # data-quality constraint report
    # round-6 closing rotation: stats / basket / classical-analytics
    "q_stat_welch_ttest",   # classical-stats battery representative
    "q_ml_basket_rules",    # association rules (bounded self-join)
    "q_agg_weighted_median",  # histogram-grain cumulative-weight window
    "q_stat_ols2",          # closed-form OLS from integer moments
    "q_llm_setjoin_prefix", # PPJoin prefix-filtered set-similarity join
    "q_sort_zorder",        # Morton-code layout + TakeOrdered top-100
    "q_evt_burst_detection",  # value-range sliding frame per user
    "q_evt_pit_features",   # leakage-safe cumulative feature windows
    # round-6 final rotation: spatial / rank-stats / retrieval-eval
    "q_join_spatial_knn",   # adaptive two-phase cell-grid kNN join
    "q_stat_spearman",      # rank windows + exact decimal moments
    "q_llm_retrieval_metrics",  # MRR/NDCG panel eval (quantized DCG)
    "q_llm_rrf_fusion",     # hybrid-search reciprocal-rank fusion
    "q_stat_mutual_info",   # categorical MI/NMI/Cramér's V profile
    "q_llm_phrase_search",  # positional inverted-index adjacency join
    "q_sketch_hll_portable",  # cross-engine-verified HLL build+estimate
    # round-6 closing waves 69-78: one representative per new family
    "q_stat_bootstrap_ci",  # deterministic Poisson bootstrap (users x 32)
    "q_join_backoff_cascade",  # COALESCE fallback over broadcast benchmarks
    "q_maint_compaction_plan",  # manifest-grain bin packing (OPTIMIZE plan)
    "q_fin_fifo_allocation",   # keyed cumulative-interval allocation join
    "q_evt_shapley_attribution",  # user-mask x 16-subset coalition game
    "q_ml_gbm_stumps",      # two-round histogram-split boosting
    "q_ml_isotonic_decile", # PAV-free max-min isotonic calibration
    "q_ml_uplift_qini",     # treatment split x score deciles + Qini
    "q_evt_latency_hdr",    # LENGTH(BIN()) power-of-two latency buckets
    "q_stat_meta_analysis", # per-nation effects pooled inverse-variance
    # round-6 closing waves 79-98: one representative per new family
    "q_ts_granger",         # lagged-regression F-test (day-grain moments)
    "q_evt_propensity_att", # stratified propensity ATT estimate
    "q_graph_ppr",          # personalized PageRank (iterative, seeded)
    "q_fin_price_volume_mix",  # price-volume-mix revenue bridge
    "q_sql_qualify_rewrite",   # QUALIFY-style window filter rewrite
    "q_stat_eb_shrinkage",  # empirical-Bayes rate shrinkage
    "q_dq_key_discovery",   # candidate-key/FD discovery profile
    "q_ml_kmeanspp_init",   # farthest-first k-means seeding rounds
    "q_stat_kruskal_wallis",   # histogram-rank k-sample test
    "q_ml_dbscan_grid",     # grid-density clustering + bounded union-find
    "q_graph_harmonic",     # 3-hop harmonic centrality (integer 6/dist)
    "q_ts_matrix_profile",  # all-pairs z-normalized motif/discord mining
    "q_llm_stem_tokens",    # S-stemmer vocabulary conflation
    "q_llm_lsh_bucket_stats",  # LSH band-bucket skew/cost audit
    "q_stream_window_topk", # tumbling-window leaderboard (rank in window)
    "q_ml_chi2_features",   # chi-square token feature selection
    "q_ts_savitzky_golay",  # literal-kernel convolution smoothing
    "q_evt_time_to_second", # repeat-purchase latency order statistics
    "q_ml_psi",             # population-stability drift monitor
    # round-6 closing waves 99-120: one representative per new family
    "q_stat_gumbel_maxima", # block-maxima EVT fit + return levels
    "q_llm_distinct_n",     # distinct-1/2/3 diversity metric
    "q_ts_rsi",             # bounded momentum oscillator (frame sums)
    "q_stat_logrank",       # censored survival comparison (risk sets)
    "q_join_asof_nearest",  # tolerance-bounded nearest as-of join
    "q_udf_pandas_iter",    # SCALAR_ITER Arrow UDF (amortized init)
    "q_stat_anova2",        # two-way ANOVA cell-means decomposition
    "q_ts_periodogram",     # literal-root multi-period spectral scan
    "q_ts_kpss",            # stationarity via exact partial sums
    "q_fin_segment_migration",  # 4x4 quartile transition matrix
    "q_llm_watermark_detect",   # green-list z-score screening
    "q_sketch_logbucket_quantile",  # DDSketch-style mergeable quantile
    "q_ml_somers_d",        # histogram-rank ordinal association
    "q_evt_kitagawa",       # rate-change mix decomposition
    "q_llm_cluster_purity", # dedup clusters vs source labels
    "q_evt_bounce_rate",    # sessionized single-event share
    "q_stat_wilcoxon_signed",  # paired signed-rank (mid-rank histogram)
    "q_ml_rec_coverage",    # recommender catalog coverage + Gini
    "q_llm_weighted_jaccard",  # IDF-weighted near-dup scoring
    "q_dq_hash_uniformity", # exact-KS portable hash fairness audit
    # --- r8 rotations: new wave + the rewritten LSH path ---
    "q_llm_substring_dedup",   # sliding-window exact-substring dedup
    "q_llm_substring_savings", # per-source repeated-span accounting
    "q_ml_kmeans_minibatch",   # incremental KMeans partial_fit chain
    "q_llm_ann_lsh",           # capped bucket-BLAS LSH (r8 rewrite)
    # --- r8 waves 133-137 ---
    "q_llm_dsir_weights",      # DSIR hashed-bigram importance weights
    "q_llm_dsir_select",       # DSIR top-quantile selection audit
    "q_graph_label_prop",      # integer-exact LPA communities
    "q_graph_hits",            # bipartite hubs/authorities
    "q_stream_outer_join",     # left-outer stream-stream interval join
    "q_stream_chained_agg",    # chained time-window aggregations
    "q_llm_substring_spans",   # maximal repeated-span merging
    "q_maint_zorder_pruning",  # zone-map pruning, arrival vs z-order
    "q_ivm_retract",           # aggregate maintenance with deletes
    "q_ml_als",                # MLlib ALS recommendations
    "q_llm_pipeline_funnel",   # end-to-end corpus-prep funnel
    "q_ts_holt_winters",       # sequential triple smoothing, exact oracle
    "q_agg_salted_hot_keys",   # two-phase salted aggregation proof
    "q_agg_aqp_estimate",      # hash-sample AQP with error accounting
    "q_dq_t_closeness",        # EMD privacy audit, integer cumsums
    "q_evt_event_study",       # DiD leads/lags with pre-period norm
    # --- r9 rotations ---
    "q_llm_embed_cosine_dedup",  # r9 rewrite: distinct-vector pre-group
    "q_llm_pipeline_funnel_incremental",  # ingest-time funnel (wave147)
    # q_llm_ann_persisted / q_llm_ann_index_coverage /
    # q_llm_funnel_persisted (r10) are deliberately NOT benched:
    # their first call per fixture builds persisted state (amortized
    # away on every later call — the funnel even returns its run
    # ledger), so their wall time measures warehouse cache state, not
    # query cost.
]


def warm_session(app: str, *sf_dirs: str):
    """The session every harness times on, with the parquet footers of
    each of ``sf_dirs`` read once so JVM/codegen/footer costs land
    here, not on the first timed query."""
    spark = get_session(app, extra_confs={"spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    for sf_dir in sf_dirs:
        load_table(spark, sf_dir, "lineitem").count()
        load_table(spark, sf_dir, "orders").count()
    return spark


def time_query(spark, fn, sf_dir: str, runs: int) -> list[tuple[float, float]]:
    """Per-run ``(build_s, exec_s)`` of ``fn(spark, sf_dir)``.

    build is the query function's own wall: some operators do real
    work during plan construction (eager localCheckpoint pipelines,
    ann_ivf's k-means fit) and a 64-expression plan like simhash costs
    >1 s of driver-side construction. exec is a noop-sink save. Nothing
    is released between runs, so run 2 may reuse run 1's cache."""
    out = []
    for _ in range(runs):
        tb = time.perf_counter()
        df = fn(spark, sf_dir)
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        out.append((t0 - tb, time.perf_counter() - t0))
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = warm_session("sparkit-bench", sf_dir)
    queries = all_queries()
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))
    timings: dict[str, float] = {}
    build_times: dict[str, float] = {}
    first_run_times: dict[str, float] = {}
    for name in (n for n in HEADLINE if n in queries):
        runs = time_query(spark, queries[name], sf_dir, n_runs)
        # best-of-N exec: the first run pays codegen/broadcast warm-up
        # that is not a property of the plan
        timings[name] = round(min(e for _, e in runs), 3)
        build_times[name] = round(min(b for b, _ in runs), 3)
        # run 1 pays any persist materialization that run 2 reuses
        first_run_times[name] = round(runs[0][1], 3)
        release_query_state(spark)
        # Python-side gc so dead broadcast handles release their JVM
        # weak refs for ContextCleaner. A forced System.gc() here was
        # tried (r11) and reverted: it clears Spark's soft-referenced
        # codegen cache, so every later query re-compiled its
        # WholeStageCodegen (total 77.3 s -> 88.4 s).
        gc.collect()

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    print(json.dumps({
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf else None,
        "build_s": build_times,
        "build_total": round(sum(build_times.values()), 3),
        "timing_method": "exec; build recorded separately",
        "first_run_s": first_run_times,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
