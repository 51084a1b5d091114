"""Plan-shape assertions (SURVEY.md §5.3): the physical plans the
engine would need at 100 TB — pushdown into the scan, pruned read
schemas, broadcast dimension joins, no Python in relational paths."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from openlmis_distributions_etl_spark import registry
from openlmis_distributions_etl_spark.functions.skew import salted_agg, with_salt
from openlmis_distributions_etl_spark.sources import load_table

SF0001 = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _q(spark, name):
    return registry.queries()[name](spark, SF0001)


def test_q6_filters_pushed_to_scan(spark):
    plan = _plan(_q(spark, "q6_forecast_revenue"))
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "l_shipdate" in pushed and "l_discount" in pushed


def test_q6_reads_only_needed_columns(spark):
    plan = _plan(_q(spark, "q6_forecast_revenue"))
    schema = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "l_extendedprice" in schema and "l_discount" in schema
    assert "l_returnflag" not in schema and "l_partkey" not in schema


def test_star_joins_broadcast_dims(spark):
    plan = _plan(_q(spark, "star_denormalize"))
    assert plan.count("BroadcastHashJoin") >= 4
    # the one allowed shuffle join: lineitem ⋈ orders on orderkey
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1


def test_q5_single_wide_shuffle_join(spark):
    plan = _plan(_q(spark, "q5_regional_volume"))
    assert plan.count("BroadcastHashJoin") >= 2
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1


def test_relational_plans_have_no_python(spark):
    for name in ("q1_pricing_summary", "q3_shipping_priority",
                 "star_denormalize", "sessionize_events",
                 "exact_dedup", "minhash_lsh_pairs", "knn_bruteforce"):
        plan = _plan(_q(spark, name))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, \
            f"{name} fell back to Python"


def test_q1_whole_stage_codegen(spark):
    # AQE wraps the plan pre-execution; disable it to see codegen spans
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = _plan(_q(spark, "q1_pricing_summary"))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    # "*(n)" prefixes mark whole-stage-codegen spans in plan toString
    assert "*(" in plan, f"no codegen spans:\n{plan[:500]}"
    # and the aggregate is map-side combined before the shuffle
    assert "partial_sum" in plan


def test_multimodal_is_arrow_not_row_python(spark):
    plan = _plan(_q(spark, "multimodal_features"))
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan  # never row-at-a-time


def test_salted_agg_matches_plain(spark):
    ev = load_table(spark, SF0001, "events")
    plain = (ev.groupBy("event_type")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.min("value").alias("mn"), F.max("value").alias("mx"))
             .collect())
    salted = salted_agg(
        ev, ["event_type"],
        {"n": ("count", F.lit(1)), "mn": ("min", "value"),
         "mx": ("max", "value")},
        n_salts=8).collect()
    key = lambda rows: sorted((r["event_type"], r["n"], r["mn"], r["mx"])
                              for r in rows)
    assert key(plain) == key(salted)


def test_with_salt_is_deterministic(spark):
    ev = load_table(spark, SF0001, "events")
    a = with_salt(ev, 16).select("event_id", "_salt").collect()
    b = with_salt(ev, 16).select("event_id", "_salt").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert all(0 <= r["_salt"] < 16 for r in a)


def test_salted_agg_rejects_non_algebraic(spark):
    ev = load_table(spark, SF0001, "events")
    with pytest.raises(ValueError):
        salted_agg(ev, ["event_type"], {"a": ("avg", "value")}).collect()


def test_salted_event_type_stats_two_phase(spark):
    """The registered skew query must actually run the salted
    two-phase plan: a partial aggregate keyed on (event_type, _salt)
    before the final aggregate on event_type."""
    plan = _plan(_q(spark, "salted_event_type_stats"))
    assert "_salt" in plan                       # salt key in the plan
    assert plan.count("HashAggregate") >= 4      # 2 phases x partial+final


def test_approx_distinct_events_envelope(spark):
    out = {r["event_type"]: r for r in
           _q(spark, "approx_distinct_events").collect()}
    ev = load_table(spark, SF0001, "events")
    exact = {r["event_type"]: r["n"] for r in
             ev.groupBy("event_type")
             .agg(F.count_distinct("user_id").alias("n")).collect()}
    assert set(out) == set(exact)
    for etype, row in out.items():
        assert row["exact_users"] == exact[etype]
        # the HLL sketch must land inside its published envelope
        assert row["approx_ok"] == 1
        assert row["n_events"] > 0


def test_salted_agg_rejects_distinct(spark):
    ev = load_table(spark, SF0001, "events")
    with pytest.raises(ValueError, match="salt-combinable"):
        salted_agg(ev, ["event_type"],
                   {"n": ("count_distinct", "user_id")}).collect()


def test_q17_broadcasts_part_dim(spark):
    plan = _plan(_q(spark, "q17_small_quantity_revenue"))
    assert "BroadcastHashJoin" in plan
    # lineitem never sort-merge-joins against the brand dim
    assert "SortMergeJoin" not in plan


def test_range_join_is_broadcast_probe(spark):
    # the band dim must broadcast: the fact side is never shuffled
    plan = _plan(_q(spark, "range_join_value_buckets"))
    assert "BroadcastNestedLoopJoin" in plan


def test_knn_batch_broadcasts_queries(spark):
    plan = _plan(_q(spark, "knn_batch"))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_new_relational_plans_have_no_python(spark):
    for name in ("q13_customer_order_counts", "q15_top_supplier",
                 "q18_large_volume_customers", "q19_disjunctive_revenue",
                 "q22_dormant_high_balance", "cohort_retention",
                 "event_transitions", "daily_active_users",
                 "token_freq_topk", "doc_tfidf_top_terms",
                 "deterministic_sample", "doc_quality_filters",
                 "label_centroids"):
        plan = _plan(_q(spark, name))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, \
            f"{name} fell back to Python"


def test_simhash_plan_is_shuffle_free(spark):
    plan = _plan(_q(spark, "simhash64"))
    # zero-shuffle formulation: only the spread() round-robin exchange
    # may appear, never a hash-partitioned one (no join/groupBy)
    assert "hashpartitioning" not in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_knn_lsh_probe_sides_broadcast(spark):
    plan = _plan(_q(spark, "knn_lsh"))
    # probe list + query vector both ride broadcasts; the store is
    # never shuffled for the search
    assert plan.count("BroadcastExchange") >= 2
    assert "SortMergeJoin" not in plan


def test_ivf_assign_is_shuffle_free(spark):
    """The argmax-over-broadcast-centroids fold must never hash-shuffle
    the vector stream (the round-2 row_number window shuffled an
    8×-expanded copy of the store)."""
    from openlmis_distributions_etl_spark.operators.similarity import (
        ivf_assign)
    from openlmis_distributions_etl_spark.sources import load_tables
    plan = _plan(ivf_assign(load_tables(spark, SF0001)))
    assert "hashpartitioning" not in plan   # big side never shuffles
    assert "Window" not in plan             # no row_number argmax
    # the centroid array rides one broadcast into a nested-loop cross
    # with exactly one row on the build side
    assert "BroadcastExchange" in plan


def test_near_dup_pairs_is_bucket_local(spark):
    """The pair join must be keyed on LSH bands — never a nested-loop
    enumeration of the full store (the round-2 all-pairs plan)."""
    plan = _plan(_q(spark, "embedding_near_dup_pairs"))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # candidate generation + verify are equi-joins on band/vec keys
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan)


def test_knn_ivf_probe_join_broadcast(spark):
    plan = _plan(_q(spark, "knn_ivf"))
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan


def test_curation_pipeline_single_shuffle(spark):
    plan = _plan(_q(spark, "curation_pipeline"))
    # exactly one wide shuffle — the dedup window on the content hash
    assert plan.count("hashpartitioning") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_incremental_dedup_no_python_and_hash_join(spark):
    plan = _plan(_q(spark, "incremental_dedup"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


@pytest.mark.parametrize("name", [
    "minhash_lsh_pairs", "minhash_jaccard_estimate",
    "bbit_minhash_estimate", "simhash_hamming_pairs",
    "payload_simhash_pairs", "embedding_near_dup_pairs",
])
def test_lsh_pair_paths_are_distinct_free(spark, name):
    """First-matching-band dedup: every banded pair query emits each
    pair exactly once at the join, so the plan has EXACTLY one join
    (keyed on the band bucket) and ZERO aggregates — no distinct pass
    over the candidate stream, no join-backs to recover payloads."""
    import re
    plan = _plan(_q(spark, name))
    joins = re.findall(
        r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"
        r"|BroadcastNestedLoopJoin|CartesianProduct", plan)
    assert len(joins) == 1, f"{name}: expected 1 join, saw {joins}"
    assert "NestedLoop" not in joins[0] and "Cartesian" not in joins[0]
    assert "HashAggregate" not in plan and "SortAggregate" not in plan, \
        f"{name}: candidate stream passed through an aggregate (distinct?)"


def test_pii_redaction_is_shuffle_free(spark):
    # pure per-row regex projection: no exchange of any kind beyond
    # the spread() round-robin, no joins, no Python
    plan = _plan(_q(spark, "pii_redaction"))
    assert "hashpartitioning" not in plan
    assert "Join" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan


def test_hashed_classifier_is_shuffle_free(spark):
    # the hash-trick weight table is a function, not data: scoring is
    # a per-row higher-order fold with zero shuffles and no join
    plan = _plan(_q(spark, "hashed_classifier_score"))
    assert "hashpartitioning" not in plan
    assert "Join" not in plan
    assert "Python" not in plan


def test_doc_oov_rate_vocab_broadcast(spark):
    # the top-K vocab collapses to one array row and rides a broadcast
    # into the per-doc fold; the corpus side never shuffles for it
    plan = _plan(_q(spark, "doc_oov_rate"))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_sliding_window_single_agg_shuffle(spark):
    # one hash-agg exchange on the (window, type) key with map-side
    # partial aggregation before it
    plan = _plan(_q(spark, "sliding_window_event_counts"))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial" in plan.lower()


def test_ngram_jaccard_no_candidate_redistribution(spark):
    """Pair dedup is the first-shared-prefix predicate inside the
    self-join — the candidate stream must never be re-shuffled through
    a pair-key distinct or array join-backs (the round-3 plan did all
    three)."""
    plan = _plan(_q(spark, "ngram_jaccard_pairs"))
    assert "Exchange hashpartitioning(doc_a" not in plan
    assert "Exchange hashpartitioning(doc_b" not in plan
    for line in plan.splitlines():
        if "Aggregate" in line:
            assert "doc_a" not in line and "doc_b" not in line, \
                f"candidate-stream aggregate survived: {line.strip()}"


def test_pq_encoding_zero_shuffle(spark):
    """PQ encoding must be scan + broadcast codebook + in-row argmin
    folds — no hash exchange, no Python."""
    plan = _plan(_q(spark, "pq_codes"))
    assert "Exchange hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_source_quota_two_phase_shuffle_count(spark):
    """The skew-proof quota's whole point: exactly TWO exchanges (the
    (source, sub) sub-split phase and the per-source exact phase) — a
    third would mean the prefilter stopped reusing its partitioning."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = _plan(_q(spark, "source_quota_sample"))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert plan.count("Exchange") == 2, plan


def test_deterministic_shuffle_single_exchange(spark):
    """Training-order shuffle: ONE exchange on shard_id, per-shard
    sort inside it — no global sort node."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = _plan(_q(spark, "deterministic_shuffle"))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert plan.count("Exchange") == 1, plan
    assert "rangepartitioning" not in plan.lower()


def test_doc_chunks_is_zero_exchange(spark):
    # chunking is a pure narrow plan: tokenize → sequence → explode —
    # any Exchange here would be a scale regression
    plan = _plan(_q(spark, "doc_chunks"))
    assert plan.count("Exchange") == 0, plan[:800]
    assert "Generate" in plan  # the explode


def test_bpe_merge_pairs_topk_never_global_sort(spark):
    # global top-50 must plan as TakeOrderedAndProject (per-partition
    # heaps), not a full Sort over the aggregated pair table
    plan = _plan(_q(spark, "bpe_merge_pairs"))
    assert "TakeOrderedAndProject" in plan
    # two aggregation shuffles: word counts, pair sums
    assert plan.count("Exchange") <= 3


def test_dup_span_stats_single_hash_shuffle_no_join(spark):
    # corpus-wide duplication via count OVER (PARTITION BY h): the
    # plan must contain zero joins (no join-back of dup hashes)
    plan = _plan(_q(spark, "dup_span_stats"))
    for node in ("SortMergeJoin", "ShuffledHashJoin",
                 "BroadcastHashJoin", "BroadcastNestedLoopJoin"):
        assert node not in plan, f"unexpected {node}"


def test_ks_drift_no_global_orderby_window(spark):
    # the ECDF must come from the bucket-decomposed prefix sum; a
    # global ORDER BY window (empty partition spec over the full value
    # axis) would funnel every distinct value through one task. The
    # only permissible unpartitioned window is the constant-size
    # bucket-offset frame over ≤16 rows — identified by its input
    # being the bucket aggregate (bkt grouping), never raw values.
    import re
    plan = _plan(_q(spark, "ks_drift_value"))
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    value_specs = [s for s in specs if "value#" in s]
    assert value_specs, "expected in-bucket cumulative windows"
    # every window ordering over the value axis must be partitioned
    # (first spec component = bkt), never a bare global ORDER BY value
    for s in value_specs:
        assert s.split(",")[0].strip().startswith("bkt#"), s
