"""Whole-registry plan-hygiene ratchet (SURVEY.md §6): build every
registered query's physical plan once and assert the scale-killing
node types appear nowhere — or only in the pinned places where they
are the intended plan. A new query (or a Catalyst strategy change)
that introduces an unpinned CartesianProduct / nested-loop join /
row-Python eval fails here by name instead of surfacing as an OOM at
1000× the data.
"""

from __future__ import annotations

import pytest

from openlmis_distributions_etl_spark import registry

SF0001 = "/root/testdata/sf0.001"

# BroadcastNestedLoopJoin is the CORRECT plan when the broadcast side
# is O(1)..O(k) rows: scalar-subquery thresholds (q11, q22, set ops),
# a broadcast query vector / centroid table / corpus-stats singleton
# (the kNN + text-stats family), the non-equi broadcast band dim
# (range_join), and the documented all-pairs eval harness
# (near_dup_recall). Anything OUTSIDE this set is a regression: at
# scale an unintended BNLJ replays the whole stream side per
# partition.
BNLJ_ALLOWED = {
    "bloom_prefilter_dedup",
    "bm25_scores",
    "doc_oov_rate",
    "doc_tfidf_top_terms",
    "hybrid_search_rrf",
    "ivf_cluster_stats",
    "ivf_cluster_purity",      # broadcast centroid-array row (assign)
    "kmeans_centroids",
    "knn_batch",
    "knn_bruteforce",
    "knn_ivf",
    "knn_filtered",
    "knn_ivf_trained",
    "knn_lsh",
    "psi_value_drift",         # broadcast fence rows (ECDF + deciles)
    "psi_windowed",            # broadcast fence row + 10-row baseline
    "ks_windowed",             # broadcast fence row + 64-row base grid
    "ann_range_search",        # broadcast single query row (radius query)
    "tfidf_cosine_pairs",      # broadcast corpus-size (N) singleton row
    "token_pmi_pairs",         # broadcast vocab array + N singleton rows
    "source_lang_kl",          # broadcast corpus-total singleton row
    "part_affinity_pairs",     # broadcast order-count singleton row
    "part_triple_affinity",    # broadcast order-count singleton row
    "ks_by_source",            # broadcast fence row + 64-row base grid
    # (pagerank_dup_graph's per-iteration broadcast dangling scalar
    # sits behind localCheckpoint leaves, so it never shows here)
    "knn_lsh_recall",
    "knn_ivf_recall",          # composes two pinned broadcast-query paths
    "knn_pq_adc",
    "matryoshka_prefix_eval",  # broadcast query row per prefix width
    "join_key_skew_audit",     # broadcast corpus-totals row
    "hll_event_overlap",       # broadcast 3-estimate singleton row
    "knn_int8_rerank",         # broadcast range row + query row
    "knn_int8_recall",         # composes two pinned broadcast paths
    "knn_pq_refine",
    "knn_ivf_pq",
    "pq_codebook_trained",
    "pq_codes_trained",
    "rq_codes",
    "language_mixture_weights",
    "near_dup_recall",
    "orders_backlog_aging",    # broadcast as-of anchor-date row
    "pq_balanced_perm",   # broadcast perm row + broadcast codebook row
    "pq_codes",
    "q11_important_parts",
    "q22_dormant_high_balance",
    "range_join_value_buckets",
    "revenue_changepoint",    # broadcast (n, Σx) totals singleton row
    "rfm_segments",
    "session_type_affinity",  # broadcast session-total singleton row
    "set_ops_customers",
    "token_countmin_topk",
    "centroid_distance_matrix",  # label-enumeration (L x L) pair join
                                 # on an inequality — broadcast tiny
    "daily_revenue_control_chart",  # broadcast moments singleton row
    "decayed_user_value",     # broadcast max-date anchor row
    "knn_lsh_ndcg",           # broadcast query-vector row (via knn_lsh)
    "beam_graph_edges",       # broadcast 8-row bit-flip dim
    "knn_beam_ndcg",          # composes pinned broadcast paths
    "embedding_outliers_diag",  # broadcast per-dim stats singleton row
    "late_delivery_root_cause",  # broadcast global-rate singleton row
    "customer_spend_decile_profile",  # broadcast corpus-total row
    "pq_code_utilization",    # broadcast PQ codebook row (via pq_codes)
    "user_lifecycle_stages",  # broadcast frontier-anchor singleton row
    # (knn_beam's broadcast query/frontier joins sit behind
    # localCheckpoint leaves, so they never show in the final plan)
    "knn_beam_recall",        # composes two pinned broadcast paths
    "knn_beam_batch_recall",  # broadcast 5-row query set on the
                              # exact side (the knn_batch pattern)
    "ivf_probe_sweep",        # broadcast query-vector + probe-prefix rows
    "opq_rotation_mse",       # broadcast PQ codebook row (×2 encodes)
    "user_retention_curve",   # broadcast cohort-size singleton row
    "vocab_growth_curve",     # broadcast whole-corpus totals row
    "token_zipf_table",       # broadcast corpus-total singleton row
    # round-7 wave 1/2 pinned broadcast singletons / bounded clouds
    "unigram_logprob_quality",   # broadcast corpus-total singleton row
    "theil_sen_daily_trend",     # calendar-bounded broadcast pair cloud
    "mann_kendall_trend",        # calendar-bounded broadcast pair cloud
    "intra_inter_cosine_gap",    # broadcast n_total singleton row
    # (mmr_diversified_topk selects on the coordinator since round 9
    # and returns a LocalRelation, so its pool joins never show)
    "poisson_bootstrap_ci",      # broadcast 1-row CI frame
    "dsir_importance_weights",   # broadcast corpus-totals singleton row
    "welch_ttest_values",        # broadcast 1-row group-B moments
    "purchase_gap_survival",     # broadcast 1-row censoring frontier
    # round-7 wave 6/7 pinned broadcast singletons
    "kruskal_wallis_values",     # broadcast tie-sum + H singleton rows
    "segment_pvalues_fdr",       # broadcast corpus-moments singleton row
    "knn_bq_hamming",            # broadcast mean-row + 5-row query set
    "knn_bq_rerank",             # broadcast mean-row + 5-row query set
    "knn_bq_recall",             # composes two pinned broadcast paths
    "token_js_drift",            # broadcast corpus-total singleton row
    "ols_daily_trend",           # broadcast min-date anchor row
    "daily_revenue_periodogram",  # broadcast anchor + moments rows
    "jl_projection_distortion",  # sample-bounded broadcast pair cloud
    "join_cardinality_estimate",  # broadcast 1-row marginals (×2)
    "anova_f_values",            # broadcast 1-row global-stats frame
    "brown_forsythe_variance_test",  # broadcast 1-row global-stats
    "lm_heldout_perplexity",     # broadcast train-vocab singleton row
    "heaps_law_fit",             # broadcast doc-id anchor rows (via
                                 # vocab_growth_curve)
    # round-8 pinned broadcast singletons / bounded clouds
    "bq_cand_sweep",             # broadcast mean-row + query set +
                                 # code-scan-bytes singleton row
    "anisotropic_pq_loss",       # broadcast PQ codebook row
    "store_lifecycle",           # broadcast frontier-anchor singleton
                                 # row (the user_lifecycle_stages
                                 # pattern served from the store)
    "ewma_control_chart",        # broadcast global-stats singleton row
                                 # (same 1×1 crossJoin(F.broadcast(gs))
                                 # pattern as daily_revenue_control_chart)
    # round-9 wave 1 pinned broadcast singletons
    "cusum_daily_revenue",       # broadcast gridded mu/sd/k/h row
    "grubbs_daily_outlier",      # broadcast gridded mu/sd row into the
                                 # calendar-bounded deviation scan
    "ljung_box_daily",           # broadcast global-moments singleton
                                 # row into the 7-lag frame
    "type_hour_mutual_info",     # broadcast corpus-total singleton row
                                 # into the bounded contingency grid
    "lm_dirichlet_scores",       # broadcast collection-total singleton
                                 # row (the unigram_logprob pattern)
    "pacf_daily_revenue",        # broadcast global-moments singleton
                                 # row into the 7-lag frame (the
                                 # ljung_box_daily pattern)
    "pettitt_changepoint",       # calendar-bounded broadcast pair
                                 # cloud + fence-anchor singleton row
    "logrank_purchase_gap",      # broadcast 1-row censoring frontier
                                 # (the purchase_gap_survival pattern)
}

# The only operators allowed to leave the JVM: the declared Arrow
# lanes (mapInPandas / applyInPandas / mapInArrow escape hatches).
PYTHON_EVAL_ALLOWED = {
    "multimodal_features",
    "multimodal_frame_sample",
    "multimodal_byte_stats_arrow",
    "user_value_histogram_pandas",
}

_PY_NODES = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas",
             "MapInArrow", "PythonMapInArrow")


@pytest.fixture(scope="module")
def plans(spark) -> dict[str, str]:
    out = {}
    for name, fn in sorted(registry.queries().items()):
        df = fn(spark, SF0001)
        out[name] = df._jdf.queryExecution().executedPlan().toString()
    return out


def test_no_cartesian_product_anywhere(plans):
    bad = [n for n, p in plans.items() if "CartesianProduct" in p]
    assert not bad, f"unbroadcast cross joins: {bad}"


def test_bnlj_only_where_pinned(plans):
    got = {n for n, p in plans.items() if "BroadcastNestedLoopJoin" in p}
    new = got - BNLJ_ALLOWED
    assert not new, (
        f"new BroadcastNestedLoopJoin in {sorted(new)} — broadcast-"
        "singleton pattern? pin it here with a reason, else fix the join")
    gone = BNLJ_ALLOWED - got
    assert not gone, (
        f"{sorted(gone)} no longer use BNLJ — ratchet down: remove "
        "them from BNLJ_ALLOWED")


def test_no_row_python_anywhere(plans):
    bad = [n for n, p in plans.items() if "BatchEvalPython" in p]
    assert not bad, f"row-at-a-time Python UDFs in: {bad}"


def test_arrow_python_only_in_declared_lanes(plans):
    got = {n for n, p in plans.items()
           if any(node in p for node in _PY_NODES)}
    new = got - PYTHON_EVAL_ALLOWED
    assert not new, f"undeclared Python eval lanes in {sorted(new)}"


def _compiles(spark) -> int:
    """Classes Spark has compiled in this JVM: the codegen compile-time
    histogram is updated only on a generated-class cache miss."""
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME().getCount()


def test_query_classes_survive_a_session_working_set(spark):
    """A session cycling through more distinct plans than Spark's default
    codegen cache holds (100 classes) must not evict a query's classes:
    rerunning the query compiles nothing."""
    def q1():
        registry.queries()["q1_pricing_summary"](spark, SF0001) \
            .write.format("noop").mode("overwrite").save()

    q1()
    before = _compiles(spark)
    for i in range(150):
        # a distinct inlined literal per plan: one new class each
        spark.range(4).selectExpr(f"id + {i + 1000}").collect()
    after = _compiles(spark)
    assert after - before >= 100, f"only {after - before} classes compiled"
    q1()
    assert _compiles(spark) == after, (
        f"q1_pricing_summary compiled {_compiles(spark) - after} classes "
        "again: its generated classes were evicted")
