"""Operator unit tests on hand-built frames (SURVEY.md §5.2):
empty inputs, single groups, ties, nulls, boundary gaps."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from tests.conftest import SF0001

from openlmis_distributions_etl_spark.operators import (dedup, similarity,
                                                        text, windows)

TS = dt.datetime(2024, 1, 1, 0, 0, 0)


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")


def test_sessionize_empty_input(spark):
    t = {"events": _events(spark, [])}
    assert windows.sessionize_events(t).count() == 0


def test_sessionize_gap_boundary(spark):
    gap = windows.SESSION_GAP_US
    rows = [
        (1, TS, 7, "view", 1.0, "{}"),
        # exactly at the gap → same session (strictly greater splits)
        (2, TS + dt.timedelta(microseconds=gap), 7, "view", 1.0, "{}"),
        # one microsecond past the gap → new session
        (3, TS + dt.timedelta(microseconds=2 * gap + 1), 7, "view", 1.0, "{}"),
    ]
    out = {r["event_id"]: r["session_id"]
           for r in windows.sessionize_events(
               {"events": _events(spark, rows)}).collect()}
    assert out[1] == 1 and out[2] == 1 and out[3] == 2


def test_sessionize_single_event_user(spark):
    rows = [(1, TS, 1, "view", 1.0, "{}"), (2, TS, 2, "view", 1.0, "{}")]
    out = windows.sessionize_events({"events": _events(spark, rows)}).collect()
    assert all(r["session_id"] == 1 for r in out)


def test_latest_event_tie_breaks_on_event_id(spark):
    rows = [(1, TS, 5, "a", 1.0, "{}"), (2, TS, 5, "b", 2.0, "{}")]
    out = windows.latest_event_per_user(
        {"events": _events(spark, rows)}).collect()
    assert len(out) == 1 and out[0]["event_id"] == 2


def test_funnel_purchase_before_signup_not_converted(spark):
    rows = [(1, TS, 9, "purchase", 5.0, "{}"),
            (2, TS + dt.timedelta(hours=1), 9, "signup", 0.0, "{}")]
    out = windows.funnel_signup_purchase(
        {"events": _events(spark, rows)}).collect()[0]
    assert out["converted"] == 0
    assert out["first_purchase_after_us"] is None


def test_funnel_no_signup_user(spark):
    rows = [(1, TS, 3, "purchase", 5.0, "{}")]
    out = windows.funnel_signup_purchase(
        {"events": _events(spark, rows)}).collect()[0]
    assert out["first_signup_us"] is None and out["converted"] == 0


def test_exact_dedup_finds_clusters(spark):
    rows = [(1, "same text here", "en", "s", 14),
            (2, "same text here", "en", "s", 14),
            (3, "different text", "en", "s", 14)]
    out = {r["canonical_doc_id"]: r["n_copies"]
           for r in dedup.exact_dedup({"documents": _docs(spark, rows)}).collect()}
    assert out == {1: 2, 3: 1}


def test_shingles_short_doc_excluded(spark):
    rows = [(1, "two words", "en", "s", 9),
            (2, "now three tokens here", "en", "s", 21)]
    sigs = dedup.minhash_signatures(
        {"documents": _docs(spark, rows)}).collect()
    assert [r["doc_id"] for r in sigs] == [2]


def test_shingles_short_doc_excluded_oracle_agrees():
    """Both engines must EXCLUDE sub-shingle docs — not emit a NULL
    signature row on one side only (advisor round-2 concern). The
    Spark side is pinned above; this pins the DuckDB twin on the same
    corpus shape."""
    import duckdb

    from openlmis_distributions_etl_spark.oracles import ORACLES

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents(doc_id BIGINT, text VARCHAR, lang VARCHAR,"
        " source VARCHAR, n_chars BIGINT)")
    con.execute("INSERT INTO documents VALUES"
                " (1, 'two words', 'en', 's', 9),"
                " (2, 'now three tokens here', 'en', 's', 21),"
                " (3, '', 'en', 's', 0)")
    out = con.sql(ORACLES["minhash_signatures"]).fetchall()
    assert [r[0] for r in out] == [2]
    assert all(v is not None for v in out[0])


def test_identical_docs_are_lsh_candidates(spark):
    body = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(1, body, "en", "s", 1), (2, body, "en", "s", 1),
            (3, "completely unrelated content with many extra words inside",
             "en", "s", 1)]
    pairs = {(r["doc_a"], r["doc_b"])
             for r in dedup.minhash_lsh_pairs(
                 {"documents": _docs(spark, rows)}).collect()}
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_jaccard_identical_is_one(spark):
    body = "alpha beta gamma delta epsilon zeta"
    rows = [(1, body, "en", "s", 1), (2, body, "en", "s", 1)]
    out = dedup.ngram_jaccard_pairs(
        {"documents": _docs(spark, rows)}).collect()
    assert len(out) == 1 and out[0]["jaccard"] == 1.0


def test_simhash_identical_docs_equal_hash(spark):
    body = "one two three four five six seven"
    rows = [(1, body, "en", "s", 1), (2, body, "en", "s", 1),
            (3, "other words entirely disjoint vocabulary set", "en", "s", 1)]
    out = {r["doc_id"]: r["simhash"]
           for r in dedup.simhash64({"documents": _docs(spark, rows)}).collect()}
    assert out[1] == out[2]
    assert out[1] != out[3]
    assert all(0 <= v < (1 << 60) for v in out.values())


def test_knn_self_similarity(spark):
    e = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(i == j) for j in range(4)], label=i)
         for i in range(4)] + [Row(vec_id=4, embedding=[1.0, 0.0, 0.0, 0.0],
                                   label=4)])
    out = similarity.knn_bruteforce({"embeddings": e}, k=1).collect()
    # vec 4 duplicates vec 0 (the query) → cosine exactly 1.0
    assert out[0]["vec_id"] == 4 and out[0]["cos_sim"] == 1.0


def test_langid_marker_tokens(spark):
    rows = [(1, "der und das something", "de", "s", 1),
            (2, "xyzzy plugh nothing", "zz", "s", 1),
            (3, "the cat and the hat", "en", "s", 1)]
    out = {r["doc_id"]: r["pred_lang"]
           for r in text.doc_langid({"documents": _docs(spark, rows)}).collect()}
    assert out == {1: "de", 2: "unk", 3: "en"}


def test_quality_score_bounds(spark):
    rows = [(1, "a a a a a a a a", "en", "s", 1),
            (2, "all unique tokens right here now", "en", "s", 1)]
    out = {r["doc_id"]: r for r in text.doc_quality_score(
        {"documents": _docs(spark, rows)}).collect()}
    assert out[1]["uniq_ratio"] == 1 / 8
    assert out[1]["stop_ratio"] == 1.0
    assert out[2]["stop_ratio"] == 0.0
    assert 0.0 <= out[2]["quality_score"] <= 1.0


def test_connected_components_clusters_transitively(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "src long, dst long")
    nodes = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 5, 6]], "node long")
    out = {r["node"]: r["component"]
           for r in dedup.connected_components(edges, nodes).collect()}
    # 1-2-3 chain folds to min label 1 (transitive, not just direct)
    assert out[1] == out[2] == out[3] == 1
    assert out[4] == 4          # isolated node is its own component
    assert out[5] == out[6] == 5


def test_dedup_components_groups_identical_docs(spark):
    body = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(1, body, "en", "s", 1), (2, body, "en", "s", 1),
            (3, body, "en", "s", 1),
            (4, "entirely different content with other words in here too",
             "en", "s", 1)]
    out = {r["doc_id"]: r["component"]
           for r in dedup.dedup_components(
               {"documents": _docs(spark, rows)}).collect()}
    assert out[1] == out[2] == out[3] == 1
    assert out[4] == 4


def test_asof_join_is_strictly_backward(spark):
    from openlmis_distributions_etl_spark.operators import asof
    rows = [
        (1, TS, 7, "click", 0.0, "{}"),
        (2, TS, 7, "purchase", 1.0, "{}"),                            # same ts as click → no match
        (3, TS + dt.timedelta(minutes=1), 7, "purchase", 1.0, "{}"),  # strictly after click → match
        (4, TS, 8, "purchase", 1.0, "{}"),                            # user with no clicks at all
    ]
    out = {r["event_id"]: r for r in asof.asof_purchase_attribution(
        {"events": _events(spark, rows)}).collect()}
    assert out[2]["last_click_ts_us"] is None
    assert out[3]["last_click_ts_us"] is not None
    assert out[3]["gap_us"] == 60_000_000
    assert out[4]["last_click_ts_us"] is None


def test_bm25_ranks_term_frequency(spark):
    rows = [(1, "spark spark spark query join extra words here", "en", "s", 1),
            (2, "spark appears once in this much longer document with many "
                "many extra filler words diluting it", "en", "s", 1),
            (3, "no relevant terms at all in here", "en", "s", 1)]
    out = {r["doc_id"]: r["bm25"] for r in text.bm25_scores(
        {"documents": _docs(spark, rows)}).collect()}
    assert 3 not in out            # no query terms → no score row
    assert out[1] > out[2] > 0     # tf and length normalization order


def test_asof_join_tie_on_right_ts_is_deterministic(spark):
    from openlmis_distributions_etl_spark.operators.asof import (
        asof_join_backward)
    left = spark.createDataFrame([(7, 100)], "k long, lt long")
    # two right rows share (key, right_ts): winner must be the greatest
    # value under the tiebreak ordering, every run
    right = spark.createDataFrame(
        [(7, 50, "a"), (7, 50, "b")], "k long, rt long, v string")
    for _ in range(3):
        out = asof_join_backward(left, right, key="k",
                                 left_ts="lt", right_ts="rt",
                                 value_cols=["v"]).collect()
        assert len(out) == 1 and out[0]["asof_v"] == "b"


def test_asof_join_rejects_bad_tiebreak(spark):
    from openlmis_distributions_etl_spark.operators.asof import (
        asof_join_backward)
    left = spark.createDataFrame([(7, 100)], "k long, lt long")
    right = spark.createDataFrame([(7, 50, "a")], "k long, rt long, v string")
    with pytest.raises(ValueError, match="tiebreak"):
        asof_join_backward(left, right, key="k", left_ts="lt",
                           right_ts="rt", value_cols=["v"],
                           tiebreak=["nope"])


def test_retained_caches_released_between_queries(spark):
    from openlmis_distributions_etl_spark.functions import cache
    from openlmis_distributions_etl_spark.registry import queries
    qs = queries()
    qs["minhash_lsh_pairs"](spark, SF0001).collect()
    assert len(cache._RETAINED) > 0          # bands cache retained
    qs["exact_dedup"](spark, SF0001).collect()
    assert len(cache._RETAINED) == 0         # released at next build


def test_deterministic_sample_is_stable_and_bounded(spark):
    from openlmis_distributions_etl_spark.operators.text import (
        deterministic_sample)
    docs = _docs(spark, [(i, f"doc {i}", "en", "s", 5) for i in range(200)])
    a = sorted(r["doc_id"] for r in
               deterministic_sample({"documents": docs}).collect())
    b = sorted(r["doc_id"] for r in
               deterministic_sample({"documents": docs}).collect())
    assert a == b                      # reproducible
    assert 0 < len(a) < 200            # a real subset
    full = deterministic_sample({"documents": docs}, pct=100).collect()
    assert len(full) == 200            # pct=100 keeps everything


def test_doc_quality_filters_flags(spark):
    from openlmis_distributions_etl_spark.operators.text import (
        doc_quality_filters)
    rows = [
        (1, "the " + " ".join(f"w{i}" for i in range(40)),
         "en", "s", 5),                                 # passes all
        (2, "short text the", "en", "s", 5),            # too few tokens
        (3, " ".join(["same"] * 40), "en", "s", 5),     # no stopword, low uniq
    ]
    out = {r["doc_id"]: r for r in
           doc_quality_filters({"documents": _docs(spark, rows)}).collect()}
    assert out[1]["keep"] == 1
    assert out[2]["has_min_tokens"] == 0 and out[2]["keep"] == 0
    assert out[3]["has_stopword"] == 0 and out[3]["uniq_ok"] == 0


def test_event_transitions_counts(spark):
    from openlmis_distributions_etl_spark.operators.windows import (
        event_transitions)
    rows = [
        (1, TS, 7, "signup", 0.0, "{}"),
        (2, TS + dt.timedelta(minutes=1), 7, "click", 0.0, "{}"),
        (3, TS + dt.timedelta(minutes=2), 7, "click", 0.0, "{}"),
        (4, TS, 8, "click", 0.0, "{}"),   # single event → no transition
    ]
    out = {(r["prev_type"], r["next_type"]): r["n_transitions"]
           for r in event_transitions(
               {"events": _events(spark, rows)}).collect()}
    assert out == {("signup", "click"): 1, ("click", "click"): 1}


def test_near_dup_banded_lsh_finds_identical_vectors(spark):
    """Identical vectors share every band (candidate with certainty)
    and verify at cos=1.0; an orthogonal vector must not pair with
    them at a high threshold."""
    e1 = [1.0, 2.0] + [0.5] * 62
    e3 = [-x for x in e1]                      # cos = -1 vs e1/e2
    emb = spark.createDataFrame(
        [(1, e1, 0), (2, list(e1), 0), (3, e3, 1)],
        "vec_id long, embedding array<float>, label long")
    out = similarity.embedding_near_dup_pairs(
        {"embeddings": emb}, threshold=0.99).collect()
    assert [(r["vec_a"], r["vec_b"]) for r in out] == [(1, 2)]
    assert out[0]["cos_sim"] == pytest.approx(1.0)


def test_band_pairs_first_equal_band_matches_any_key_reference(spark):
    """The banded pair join emits every pair sharing >=1 band key
    exactly once, at its FIRST equal band, with the other columns of
    both rows riding along — equal to a naive any-key cross join."""
    from openlmis_distributions_etl_spark.functions.bands import band_pairs

    schema = "id long, k0 long, k1 long, k2 long, k3 long, tag string"

    def keys(p):
        return [F.col(f"{p}k{j}") for j in range(4)]

    df = spark.createDataFrame([
        (1, 1, 2, 3, 4, "a1"),
        (2, 9, 2, 8, 4, "a2"),   # = row 1 on bands 1 and 3
        (3, 5, 6, 7, 0, "a3"),   # no band equal to rows 1 or 2
        (4, 5, 0, 0, 9, "a4"),   # = row 3 on band 0 only
        (5, 5, 6, 7, 0, "a5"),   # = row 3 everywhere, row 4 on band 0
    ], schema)
    got = [(r["a_id"], r["b_id"], r["band_id"], r["a_tag"], r["b_tag"])
           for r in band_pairs(df, "id", keys).select(
               F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"),
               F.col("a.band_id").alias("band_id"),
               F.col("a.tag").alias("a_tag"),
               F.col("b.tag").alias("b_tag")).collect()]
    pairs = {(a, b): (band, ta, tb) for a, b, band, ta, tb in got}
    assert len(pairs) == len(got)      # each pair once
    assert pairs[(1, 2)] == (1, "a1", "a2")
    assert pairs[(3, 4)][0] == pairs[(3, 5)][0] == pairs[(4, 5)][0] == 0
    assert (1, 3) not in pairs and (2, 3) not in pairs
    a, b = df.alias("a"), df.alias("b")
    any_eq = (F.col("a.k0") == F.col("b.k0"))
    for j in range(1, 4):
        any_eq = any_eq | (F.col(f"a.k{j}") == F.col(f"b.k{j}"))
    ref = {(r["x"], r["y"]) for r in a.crossJoin(b)
           .where((F.col("a.id") < F.col("b.id")) & any_eq)
           .select(F.col("a.id").alias("x"), F.col("b.id").alias("y"))
           .collect()}
    assert set(pairs) == ref
    empty = spark.createDataFrame([], schema)
    assert band_pairs(empty, "id", keys).count() == 0


def test_near_dup_recall_bounds(spark):
    e1 = [1.0, 2.0] + [0.5] * 62
    emb = spark.createDataFrame(
        [(1, e1, 0), (2, list(e1), 0), (3, [-x for x in e1], 1)],
        "vec_id long, embedding array<float>, label long")
    out = similarity.near_dup_recall(
        {"embeddings": emb}, threshold=0.99).collect()[0]
    # the only true pair is the identical one, and banding finds it
    assert out["n_true"] == 1 and out["n_found"] == 1
    assert out["recall"] == 1.0


def test_label_centroids_multi_block_fold(spark):
    """600 vectors span 3 fold blocks (MEAN_BLOCK=256); the two-level
    fold must still produce the exact mean."""
    emb = spark.createDataFrame(
        [(i, [float(i)], 0) for i in range(600)],
        "vec_id long, embedding array<float>, label long")
    out = similarity.label_centroids({"embeddings": emb}).collect()
    assert len(out) == 1
    assert out[0]["n"] == 600
    assert out[0]["centroid"] == sum(range(600)) / 600   # 299.5 exact


def test_label_centroids_mean_of_known_vectors(spark):
    from openlmis_distributions_etl_spark.operators.similarity import (
        label_centroids)
    emb = spark.createDataFrame(
        [(1, [1.0] * 64, 0), (2, [3.0] * 64, 0), (3, [5.0] * 64, 1)],
        "vec_id long, embedding array<float>, label long")
    out = label_centroids({"embeddings": emb}).collect()
    assert len(out) == 128
    for r in out:
        assert r["centroid"] == (2.0 if r["label"] == 0 else 5.0)
        assert r["n"] == (2 if r["label"] == 0 else 1)


def test_winnowing_shared_substring_guarantee(spark):
    """Winnowing's theorem: two docs sharing a substring of length
    >= k + w - 1 (= 11 here) must share at least one fingerprint hash,
    wherever that substring sits in each doc."""
    shared = "abcdefghijklmno"          # 15 chars > 11
    rows = [(1, "xxxx " + shared, "en", "s", 20),
            (2, shared + " yyyy zz", "en", "s", 23),
            (3, "completely different text here", "en", "s", 30)]
    out = text.winnowing_fingerprints({"documents": _docs(spark, rows)})
    fps = {}
    for r in out.collect():
        fps.setdefault(r["doc_id"], set()).add(r["fp"])
    assert fps[1] & fps[2], "shared substring produced no shared fingerprint"
    assert not (fps[1] & fps[2]) & fps[3]


def test_winnowing_short_doc_excluded(spark):
    rows = [(1, "0123456789", "en", "s", 10),       # 10 < k + w - 1
            (2, "0123456789a", "en", "s", 11)]      # exactly the bound
    out = text.winnowing_fingerprints({"documents": _docs(spark, rows)})
    ids = {r["doc_id"] for r in out.collect()}
    assert ids == {2}


def test_source_quota_two_phase_equals_single_window(spark):
    """The sub-split prefilter must be a pure superset: the two-phase
    plan's survivors are EXACTLY the plain per-source top-quota by
    (key, doc_id). Pinned on a skewed corpus (one hot source)."""
    rows = ([(i, f"doc text {i}", "en", "hot", 10) for i in range(300)]
            + [(1000 + i, f"other {i}", "en", "cold", 8) for i in range(5)])
    t = {"documents": _docs(spark, rows)}
    got = {(r["doc_id"], r["rk"])
           for r in text.source_quota_sample(t, quota=7).collect()}

    from pyspark.sql import Window

    d = t["documents"].select(
        "doc_id", "source", text._md5_key("quota|").alias("key"))
    w = Window.partitionBy("source").orderBy("key", "doc_id")
    want = {(r["doc_id"], r["rk"])
            for r in d.select("doc_id",
                              F.row_number().over(w).alias("rk"))
                      .where(F.col("rk") <= 7).collect()}
    assert got == want
    assert len([1 for _, rk in got if True]) == 7 + 5


def test_deterministic_shuffle_positions_dense(spark):
    """Every shard's positions are 1..n_shard with no gaps — the
    contract a sharded data loader reads against."""
    rows = [(i, f"doc {i}", "en", "s", 6) for i in range(64)]
    out = text.deterministic_shuffle(
        {"documents": _docs(spark, rows)}).collect()
    by_shard: dict[int, list[int]] = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    assert sum(len(v) for v in by_shard.values()) == 64
    for shard, ps in by_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1)), shard


def test_bloom_prefilter_no_false_negatives(spark):
    """Every true duplicate must be a Bloom positive (is_dup=1 ⇒
    bloom_hit=1), and a Bloom negative is guaranteed fresh — the
    invariant that makes the prefilter safe to run before the exact
    join. Batch docs 0/5/10 duplicate snapshot content; 15 is fresh."""
    rows = [(1, "alpha beta gamma", "en", "s", 16),
            (2, "delta epsilon zeta", "en", "s", 18),
            (3, "eta theta iota", "en", "s", 14),
            (4, "kappa lambda mu", "en", "s", 15),
            (0, "alpha beta gamma", "en", "s", 16),     # dup of 1
            (5, "delta epsilon zeta", "en", "s", 18),   # dup of 2
            (10, "eta theta iota", "en", "s", 14),      # dup of 3
            (15, "totally novel content", "en", "s", 21)]
    out = {r["doc_id"]: (r["bloom_hit"], r["is_dup"])
           for r in dedup.bloom_prefilter_dedup(
               {"documents": _docs(spark, rows)}).collect()}
    assert set(out) == {0, 5, 10, 15}
    assert out[0] == (1, 1) and out[5] == (1, 1) and out[10] == (1, 1)
    hit, is_dup = out[15]
    assert is_dup == 0          # novel content is never a dup
    for h, d in out.values():   # is_dup=1 ⇒ bloom_hit=1, always
        assert not (d == 1 and h == 0)


def test_bloom_prefilter_filters_most_fresh_docs(spark):
    """The point of the filter: with a fresh-heavy batch, the Bloom
    positive set (what reaches the exact join) stays close to the true
    dup count — false-positive tail < 10% at 200 snapshot keys in a
    64 Kbit / 4-hash filter (theoretical fp ~ (1-e^(-4*200/65536))^4
    ≈ 2e-8; 10% allows huge margin)."""
    rows = ([(i, f"snapshot doc {i}", "en", "s", 12)
             for i in range(1, 1002) if i % 5 != 0]
            + [(i, f"fresh doc {i}", "en", "s", 11)
               for i in range(0, 1000, 5)])
    out = dedup.bloom_prefilter_dedup(
        {"documents": _docs(spark, rows)}).collect()
    n_batch = len(out)
    n_pos = sum(r["bloom_hit"] for r in out)
    n_dup = sum(r["is_dup"] for r in out)
    assert n_dup == 0                    # all batch docs are fresh
    assert n_pos <= 0.1 * n_batch, (n_pos, n_batch)


def test_daily_value_ffill_fills_gaps(spark):
    """A 3-day gap carries the last observation forward with
    is_observed=0; a multi-event day keeps its LAST value by ts."""
    d = dt.datetime
    rows = [
        (1, d(2024, 1, 1, 9), 7, "view", 10.0, "{}"),
        (2, d(2024, 1, 1, 18), 7, "view", 20.0, "{}"),   # day-1 last
        (3, d(2024, 1, 5, 12), 7, "view", 50.0, "{}"),   # after a gap
        (4, d(2024, 1, 2, 1), 8, "view", 1.5, "{}"),     # other user
    ]
    out = {(r["user_id"], r["day"]): (r["value_ffill"], r["is_observed"])
           for r in windows.daily_value_ffill(
               {"events": _events(spark, rows)}).collect()}
    assert out[(7, "2024-01-01")] == (20.0, 1)
    assert out[(7, "2024-01-02")] == (20.0, 0)
    assert out[(7, "2024-01-03")] == (20.0, 0)
    assert out[(7, "2024-01-04")] == (20.0, 0)
    assert out[(7, "2024-01-05")] == (50.0, 1)
    assert out[(8, "2024-01-02")] == (1.5, 1)
    assert len(out) == 6


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """With a checkpoint dir configured (cluster mode), CC must use
    RELIABLE checkpoints — files appear under the dir — and produce
    the same components as the local-mode path."""
    rows = [(i, "near dup shared text body here okay", "en", "s", 30)
            for i in range(6)] + [(10, "completely different", "en", "s", 20)]
    t = {"documents": _docs(spark, rows)}
    want = sorted(map(tuple, dedup.dedup_components(t).collect()))
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    ckdir = str(tmp_path / "ck")
    sc.setCheckpointDir(ckdir)
    try:
        got = sorted(map(tuple, dedup.dedup_components(t).collect()))
        import os
        n_files = sum(len(fs) for _, _, fs in os.walk(ckdir))
        assert n_files > 0, "no reliable checkpoint files written"
    finally:
        # restore local-mode behavior for the rest of the session
        # (Spark's setCheckpointDir(null) clears it)
        sc._jsc.sc().setCheckpointDir(None)
    assert sc.getCheckpointDir() is None
    assert got == want


def test_pq_training_reduces_quantization_error(spark):
    """Lloyd iterations must not worsen the objective: total L2²
    quantization error under the trained codebook <= under the seed
    codebook (on the real sf0.001 embeddings)."""
    from openlmis_distributions_etl_spark.operators import similarity as S
    from openlmis_distributions_etl_spark.sources import load_tables
    from tests.conftest import SF0001

    t = load_tables(spark, SF0001, "embeddings")
    sub = S._pq_subrows(t)

    def total_err(book):
        a = S._pq_assign_sub(sub, S._pq_book_row(book))
        joined = a.join(book, ["m", "code"])
        d2 = F.aggregate(
            F.zip_with(F.col("sub"), F.col("cv"),
                       lambda x, y: (x - y) * (x - y)),
            F.lit(0.0), lambda acc, x: acc + x)
        return joined.agg(F.sum(d2)).collect()[0][0]

    seed_book = (sub.where(F.col("vec_id") < S.PQ_K)
                 .select("m", F.col("vec_id").alias("code"),
                         F.col("sub").alias("cv")))
    trained_book = S._means_to_book(S.pq_codebook_trained(t))
    e_seed, e_trained = total_err(seed_book), total_err(trained_book)
    assert e_trained <= e_seed, (e_trained, e_seed)
    # and it should actually improve on real data, not just not-worsen
    assert e_trained < 0.95 * e_seed, (e_trained, e_seed)


def test_rq_second_stage_reduces_error(spark):
    """The point of residual quantization: the two-stage reconstruction
    error must undercut single-stage VQ (= distance to the stage-1
    centroid alone). The zero 'no correction' codeword guarantees
    per-row non-increase; real data makes the aggregate strictly
    better."""
    from openlmis_distributions_etl_spark.operators import similarity as S
    from openlmis_distributions_etl_spark.sources import load_tables
    from tests.conftest import SF0001

    t = load_tables(spark, SF0001, "embeddings")
    out = S.rq_codes(t)
    e = t["embeddings"].select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"))
    # stage-1-only error: distance to the assigned first-stage centroid
    d2 = lambda a, b: F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, x: acc + x)
    c1 = (e.where(F.col("vec_id") < S.RQ_K)
          .select(F.col("vec_id").alias("c1"), F.col("v").alias("cv")))
    joined = out.join(e, "vec_id").join(c1, "c1")
    stage1_err = joined.agg(F.sum(d2(F.col("v"), F.col("cv")))).collect()[0][0]
    total_err = out.agg(F.sum("err")).collect()[0][0]
    assert total_err < stage1_err, (total_err, stage1_err)


def test_asof_forward_strictly_after(spark):
    """A purchase at the SAME microsecond as the click must not match
    (strictly-after semantics); the earliest later one wins."""
    from openlmis_distributions_etl_spark.operators import asof

    d = dt.datetime
    rows = [
        (1, d(2024, 1, 1, 10, 0, 0), 7, "click", 0.0, "{}"),
        (2, d(2024, 1, 1, 10, 0, 0), 7, "purchase", 1.0, "{}"),  # same ts
        (3, d(2024, 1, 1, 11, 0, 0), 7, "purchase", 1.0, "{}"),  # next
        (4, d(2024, 1, 1, 12, 0, 0), 7, "purchase", 1.0, "{}"),
        (5, d(2024, 1, 1, 9, 0, 0), 8, "click", 0.0, "{}"),      # no purch
    ]
    out = {r["event_id"]: r for r in asof.asof_time_to_purchase(
        {"events": _events(spark, rows)}).collect()}
    assert out[1]["gap_us"] == 3_600_000_000      # 11:00, not 10:00
    assert out[5]["next_purchase_ts_us"] is None


def test_overlap_pairs_catch_contained_quote(spark):
    """A short doc fully contained in a long one: high containment,
    low Jaccard — the subset case the overlap join exists for."""
    quote = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    long_doc = quote + (" lambda mu nu xi omicron pi rho sigma tau"
                        " upsilon phi chi psi omega one two three four"
                        " five six seven eight nine ten")
    rows = [(1, quote, "en", "s", len(quote)),
            (2, long_doc, "en", "s", len(long_doc)),
            (3, "entirely different words everywhere in this one doc"
                " with nothing shared at all", "en", "s", 80)]
    t = {"documents": _docs(spark, rows)}
    out = {(r["doc_a"], r["doc_b"]): r
           for r in dedup.shingle_overlap_pairs(t).collect()}
    assert (1, 2) in out and len(out) == 1
    r = out[(1, 2)]
    assert r["containment_a"] == 1.0          # quote fully contained
    assert r["containment_b"] < 0.3
    # and Jaccard would have missed it at tau=0.5
    jac = dedup.ngram_jaccard_pairs(t).collect()
    assert not jac


# ---- round-4 wave 4: Simpson diversity, lead-time gaps, balanced PQ ----


def test_simpson_diversity_extremes(spark):
    rows = [
        (1, "a a a a", "en", "s", 7),          # one word: inv = 1.0
        (2, "a b c d", "en", "s", 7),          # all distinct: inv = N
        (3, "a a b b", "en", "s", 7),          # two runs of 2: 16/8
        (4, "", "en", "s", 0),                 # empty: filtered out
    ]
    out = {r["doc_id"]: r for r in text.doc_simpson_diversity(
        {"documents": _docs(spark, rows)}).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1]["simpson_num"] == 16 and out[1]["inv_simpson"] == 1.0
    assert out[2]["simpson_num"] == 4 and out[2]["inv_simpson"] == 4.0
    assert out[3]["simpson_num"] == 8 and out[3]["inv_simpson"] == 2.0


def test_simpson_unsorted_runs_counted_per_token(spark):
    # interleaved tokens must still count per-token (the sort step):
    # a b a b → counts {a:2, b:2} → Σc² = 8, not 4 runs of 1
    rows = [(1, "a b a b", "en", "s", 7)]
    row = text.doc_simpson_diversity(
        {"documents": _docs(spark, rows)}).collect()[0]
    assert row["simpson_num"] == 8


def test_lead_time_gap_single_shipment_null_stats(spark):
    from openlmis_distributions_etl_spark.operators import relational
    li = spark.createDataFrame(
        [(1, 10, 100, 1, dt.date(2024, 1, 1)),
         (2, 10, 200, 1, dt.date(2024, 1, 11)),
         (3, 10, 200, 2, dt.date(2024, 1, 11)),
         (4, 20, 300, 1, dt.date(2024, 3, 1))],
        "l_orderkey long, l_suppkey long, l_partkey long, "
        "l_linenumber int, l_shipdate date")
    sup = spark.createDataFrame(
        [(10, "alpha"), (20, "solo")], "s_suppkey long, s_name string")
    out = {r["suppkey"]: r for r in relational.supplier_lead_time_gaps(
        {"lineitem": li, "supplier": sup}).collect()}
    # supplier 10: gaps 10 and 0 (same-day tie ordered by orderkey)
    assert out[10]["n_shipments"] == 3
    assert out[10]["avg_gap_days"] == 5.0
    assert out[10]["max_gap_days"] == 10
    # single shipment: no gaps → null average and max
    assert out[20]["n_shipments"] == 1
    assert out[20]["avg_gap_days"] is None
    assert out[20]["max_gap_days"] is None


def test_balanced_perm_is_bijection_with_balanced_subspaces(spark):
    from openlmis_distributions_etl_spark.operators.similarity import (
        PQ_M, PQ_SUBDIM, _balanced_perm)
    from openlmis_distributions_etl_spark.sources import load_tables
    t = load_tables(spark, SF0001)
    perm = _balanced_perm(t).collect()[0]["perm"]
    # a permutation of 0..63: every dim exactly once
    assert sorted(perm) == list(range(PQ_M * PQ_SUBDIM))
    # snake deal: each subspace's slice holds one dim per variance
    # round — rounds are contiguous rank octiles, so each slice must
    # contain 8 distinct rounds (checked via the rank structure being
    # spread: no two dims of one subspace share a deal round)
    sub = [perm[m * PQ_SUBDIM:(m + 1) * PQ_SUBDIM] for m in range(PQ_M)]
    assert all(len(s) == PQ_SUBDIM for s in sub)


def test_pq_balanced_perm_codes_shape(spark):
    from openlmis_distributions_etl_spark.operators.similarity import (
        PQ_K, PQ_M, pq_balanced_perm)
    from openlmis_distributions_etl_spark.sources import load_tables
    t = load_tables(spark, SF0001)
    out = pq_balanced_perm(t)
    n_vecs = t["embeddings"].count()
    rows = out.collect()
    assert len(rows) == n_vecs * PQ_M
    assert all(0 <= r["code"] < PQ_K for r in rows)


def test_matryoshka_full_width_prefix_is_exact(spark):
    from openlmis_distributions_etl_spark.operators.similarity import (
        matryoshka_prefix_eval)
    from openlmis_distributions_etl_spark.sources import load_tables
    t = load_tables(spark, SF0001)
    row = matryoshka_prefix_eval(t, dims=(64,)).collect()[0]
    assert row["prefix_dim"] == 64
    assert row["n_hits"] == row["k"] and row["recall_at_k"] == 1.0


def test_ann_eval_harness_shapes(spark):
    """The recall@k harness keeps every row its shape promises when
    nothing hits, and nDCG@k reads 1.0 for a perfect ranking and
    (ideal − 1)/ideal for a miss at rank 1 only."""
    k = similarity.TOP_K
    ids = lambda xs: spark.createDataFrame(  # noqa: E731
        [(x,) for x in xs], "vec_id long")
    exact, miss = ids(range(1, k + 1)), ids(range(100, 100 + k))

    row, = similarity._recall_at_k(exact, miss, k).collect()
    assert (row["k"], row["n_hits"], row["recall_at_k"]) == (k, 0, 0.0)

    # per query: query 2 has exact neighbours but no approximate hit
    q_exact = spark.createDataFrame([(1, 5), (1, 6), (2, 7)],
                                    "qid long, vec_id long")
    q_approx = spark.createDataFrame([(1, 5), (1, 9), (2, 8)],
                                     "qid long, vec_id long")
    got = {r["qid"]: (r["n_hits"], r["recall_at_k"]) for r in
           similarity._recall_at_k(q_exact, q_approx, 2).collect()}
    assert got == {1: (1, 0.5), 2: (0, 0.0)}

    # per lane: lane 3 has no approximate row at all
    lanes = spark.createDataFrame([(1,), (2,), (3,)], "lane int")
    l_approx = spark.createDataFrame([(1, 5), (2, 5), (2, 7)],
                                     "lane int, vec_id long")
    got = {r["lane"]: r["n_hits"] for r in similarity._recall_at_k(
        ids([5, 7]), l_approx, 2, lanes).collect()}
    assert got == {1: 1, 2: 2, 3: 0}

    def ndcg(approx_ids):
        ranked = spark.createDataFrame(
            [(v, 1.0 - i / 100) for i, v in enumerate(approx_ids)],
            "vec_id long, cos_sim double")
        return similarity._ndcg_at_k(exact, ranked, k).collect()[0]["ndcg"]

    assert ndcg(range(1, k + 1)) == 1.0
    ideal = similarity.NDCG_IDEAL
    assert ndcg([100, *range(2, k + 1)]) == (ideal - 1.0) / ideal


def test_semantic_dup_lang_matrix_covers_all_pairs(spark):
    from openlmis_distributions_etl_spark.operators.dedup import (
        semantic_dup_lang_matrix)
    from openlmis_distributions_etl_spark.operators.similarity import (
        embedding_near_dup_pairs)
    from openlmis_distributions_etl_spark.sources import load_tables
    t = load_tables(spark, SF0001)
    cells = semantic_dup_lang_matrix(t).collect()
    n_pairs = embedding_near_dup_pairs(t).count()
    assert sum(r["n_pairs"] for r in cells) == n_pairs > 0
    assert all(r["lang_lo"] <= r["lang_hi"] for r in cells)


def test_join_key_skew_audit_ranks_and_shares(spark):
    from openlmis_distributions_etl_spark.operators.analytics import (
        join_key_skew_audit)
    from openlmis_distributions_etl_spark.sources import load_tables
    t = load_tables(spark, SF0001)
    rows = sorted(join_key_skew_audit(t).collect(),
                  key=lambda r: r["rank"])
    assert [r["rank"] for r in rows] == list(range(1, 21))
    # counts non-increasing in rank; shares consistent with totals
    cnts = [r["cnt"] for r in rows]
    assert cnts == sorted(cnts, reverse=True)
    total = rows[0]["total"]
    li_rows = t["lineitem"].count()
    assert total == li_rows
    assert abs(sum(r["share"] for r in rows)
               - sum(cnts) / total) < 1e-12


def test_abc_classification_prefix_decomposition_exact(spark):
    from openlmis_distributions_etl_spark.operators.analytics import (
        abc_classification)
    from openlmis_distributions_etl_spark.sources import load_tables
    t = load_tables(spark, SF0001)
    rows = sorted(abc_classification(t).collect(),
                  key=lambda r: (-r["revenue"], r["partkey"]))
    # cumulative is strictly increasing and ends at the grand total
    cums = [r["cum_revenue"] for r in rows]
    assert all(b > a for a, b in zip(cums, cums[1:]))
    assert abs(cums[-1] - sum(r["revenue"] for r in rows)) < 1e-6
    assert abs(rows[-1]["share_cum"] - 1.0) < 1e-12
    # classes partition the ranked sequence in order A..B..C
    classes = "".join(r["abc_class"] for r in rows)
    assert classes == ("A" * classes.count("A") + "B" * classes.count("B")
                       + "C" * classes.count("C"))
    assert set(classes) == {"A", "B", "C"}


def test_minhash_pair_precision_bounds(spark):
    from openlmis_distributions_etl_spark.operators.dedup import (
        minhash_lsh_pairs, minhash_pair_precision)
    from openlmis_distributions_etl_spark.sources import load_tables
    t = load_tables(spark, SF0001)
    row = minhash_pair_precision(t).collect()[0]
    assert row["n_candidates"] == minhash_lsh_pairs(t).count() > 0
    assert 0 <= row["n_true"] <= row["n_candidates"]
    assert abs(row["precision"]
               - row["n_true"] / row["n_candidates"]) < 1e-15


def test_ks_drift_matches_pure_python(spark):
    from openlmis_distributions_etl_spark.operators.analytics import (
        ks_drift_value)
    from openlmis_distributions_etl_spark.sources import load_tables
    t = load_tables(spark, SF0001)
    row = ks_drift_value(t).collect()[0]
    ev = [(r["event_type"], r["value"])
          for r in t["events"].select("event_type", "value").collect()]
    a = sorted(v for g, v in ev if g == "click")
    b = sorted(v for g, v in ev if g == "purchase")
    na, nb = len(a), len(b)
    assert (row["na"], row["nb"]) == (na, nb)
    import bisect
    best = -1
    best_at = None
    for x in sorted(set(a) | set(b)):
        fa = bisect.bisect_right(a, x)
        fb = bisect.bisect_right(b, x)
        d = abs(fa * nb - fb * na)
        if d > best:
            best, best_at = d, x
    assert row["d_num"] == float(best)
    assert row["at_value"] == best_at
    assert abs(row["ks_stat"] - best / (na * nb)) < 1e-15
    assert 0.0 <= row["ks_stat"] <= 1.0


def test_chi2_cells_marginals_consistent(spark):
    from openlmis_distributions_etl_spark.operators.analytics import (
        chi2_event_segments)
    from openlmis_distributions_etl_spark.sources import load_tables
    t = load_tables(spark, SF0001)
    rows = chi2_event_segments(t).collect()
    n_events = t["events"].count()
    assert sum(r["n_obs"] for r in rows) == n_events
    # expected counts reproduce the observed marginals exactly
    from collections import defaultdict
    obs_by_type, exp_by_type = defaultdict(int), defaultdict(float)
    for r in rows:
        obs_by_type[r["event_type"]] += r["n_obs"]
        exp_by_type[r["event_type"]] += r["n_exp"]
    for k in obs_by_type:
        assert abs(exp_by_type[k] - obs_by_type[k]) < 1e-6
    assert all(r["chi2_cell"] >= 0.0 for r in rows)


def test_bpe_merge_pairs_matches_counter(spark):
    from collections import Counter
    from openlmis_distributions_etl_spark.operators.text import (
        bpe_merge_pairs)
    from openlmis_distributions_etl_spark.sources import load_tables
    t = load_tables(spark, SF0001)
    got = [(r["pair"], r["cnt"]) for r in bpe_merge_pairs(t).collect()]
    c = Counter()
    for r in t["documents"].select("text").collect():
        for w in r["text"].split(" "):
            if len(w) >= 2:
                for i in range(len(w) - 1):
                    c[w[i:i + 2]] += 1
    exp = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    assert got == exp


def test_doc_chunks_cover_and_overlap(spark):
    from openlmis_distributions_etl_spark.operators.text import (
        CHUNK_STRIDE, CHUNK_TOKENS, doc_chunks)
    from openlmis_distributions_etl_spark.sources import load_tables
    t = load_tables(spark, SF0001)
    rows = doc_chunks(t).collect()
    n_toks = {r["doc_id"]: r["n"] for r in t["documents"].selectExpr(
        "doc_id", "size(filter(split(text, ' '), x -> x != '')) AS n")
        .collect()}
    from collections import defaultdict
    per_doc = defaultdict(list)
    for r in rows:
        per_doc[r["doc_id"]].append(r)
    for doc_id, chunks in per_doc.items():
        n = n_toks[doc_id]
        chunks.sort(key=lambda r: r["start"])
        for i, r in enumerate(chunks):
            assert r["chunk_id"] == i
            assert r["start"] == i * CHUNK_STRIDE
            assert r["n_chunk_tokens"] == min(CHUNK_TOKENS, n - r["start"])
        # windows cover every token: last start within stride of the end
        assert chunks[-1]["start"] + chunks[-1]["n_chunk_tokens"] == n
        assert len(chunks) == (max(n - 1, 0)) // CHUNK_STRIDE + 1
    assert set(per_doc) == {d for d, n in n_toks.items() if n > 0}


def test_dup_span_stats_matches_pure_python(spark):
    from openlmis_distributions_etl_spark.operators.dedup import (
        DUP_SPAN_W, dup_span_stats)
    from openlmis_distributions_etl_spark.sources import load_tables
    from collections import Counter, defaultdict
    t = load_tables(spark, SF0001)
    got = {r["doc_id"]: r for r in dup_span_stats(t).collect()}
    w = DUP_SPAN_W
    docs = {r["doc_id"]: [x for x in r["text"].split(" ") if x]
            for r in t["documents"].select("doc_id", "text").collect()}
    cnt = Counter()
    for toks in docs.values():
        for p in range(len(toks) - w + 1):
            cnt[" ".join(toks[p:p + w])] += 1
    exp = {}
    for doc_id, toks in docs.items():
        marked = [p for p in range(len(toks) - w + 1)
                  if cnt[" ".join(toks[p:p + w])] >= 2]
        if not marked:
            continue
        covered = set()
        for p in marked:
            covered.update(range(p, p + w))
        exp[doc_id] = (len(toks), len(covered), len(marked))
    assert set(got) == set(exp)
    for doc_id, (n, n_dup, n_win) in exp.items():
        r = got[doc_id]
        assert (r["n_tokens"], r["n_dup_tokens"],
                r["n_dup_windows"]) == (n, n_dup, n_win)
        assert abs(r["dup_fraction"] - n_dup / n) < 1e-15


def test_psi_buckets_partition_baseline_evenly(spark):
    from openlmis_distributions_etl_spark.operators.analytics import (
        PSI_BUCKETS, psi_value_drift)
    from openlmis_distributions_etl_spark.sources import load_tables
    import math
    t = load_tables(spark, SF0001)
    rows = sorted(psi_value_drift(t).collect(), key=lambda r: r["bucket"])
    assert [r["bucket"] for r in rows] == list(range(PSI_BUCKETS))
    na = sum(r["n_base"] for r in rows)
    nb = sum(r["n_cur"] for r in rows)
    ev = t["events"].groupBy("event_type").count().collect()
    by_type = {r["event_type"]: r["count"] for r in ev}
    assert na == by_type["click"] and nb == by_type["purchase"]
    # discrete-decile fences: every bucket's baseline share within one
    # value's worth of 1/10 (values are near-distinct in the corpus)
    for r in rows:
        assert abs(r["p_base"] - 1 / PSI_BUCKETS) < 0.02
        if r["psi_term"] is not None:
            raw = ((r["p_base"] - r["p_cur"])
                   * math.log(r["p_base"] / r["p_cur"]))
            ref = math.floor(raw * 1e9 + 0.5) / 1e9
            assert abs(r["psi_term"] - ref) <= 1e-9
            assert r["psi_term"] >= 0.0


def test_doc_novelty_rate_first_doc_fully_novel(spark):
    from openlmis_distributions_etl_spark.operators.dedup import (
        doc_novelty_rate)
    from openlmis_distributions_etl_spark.sources import load_tables
    t = load_tables(spark, SF0001)
    rows = {r["doc_id"]: r for r in doc_novelty_rate(t).collect()}
    # the smallest doc_id owns every one of its shingles by definition
    first = min(rows)
    assert rows[first]["novelty_rate"] == 1.0
    for r in rows.values():
        assert 0.0 <= r["novelty_rate"] <= 1.0
        assert r["n_novel"] <= r["n_shingles"]


def test_pagerank_matches_pure_python_power_iteration(spark):
    from openlmis_distributions_etl_spark.operators.dedup import (
        PAGERANK_DAMPING, PAGERANK_ITERS, minhash_lsh_pairs,
        pagerank_dup_graph)
    from openlmis_distributions_etl_spark.sources import load_tables
    from collections import defaultdict
    t = load_tables(spark, SF0001)
    got = {r["doc_id"]: r for r in pagerank_dup_graph(t).collect()}
    pairs = [(r["doc_a"], r["doc_b"])
             for r in minhash_lsh_pairs(t).collect()]
    nodes = [r["doc_id"] for r in t["documents"]
             .select("doc_id").collect()]
    nbrs = defaultdict(set)
    for a, b in pairs:
        nbrs[a].add(b)
        nbrs[b].add(a)
    n, d = len(nodes), PAGERANK_DAMPING
    pr = {v: 1.0 / n for v in nodes}
    for _ in range(PAGERANK_ITERS):
        dangling = sum(pr[v] for v in nodes if not nbrs[v])
        contrib = defaultdict(float)
        for v in nodes:
            if nbrs[v]:
                share = pr[v] / len(nbrs[v])
                for u in nbrs[v]:
                    contrib[u] += share
        pr = {v: (1.0 - d) / n + d * (contrib[v] + dangling / n)
              for v in nodes}
    assert set(got) == set(nodes)
    assert abs(sum(r["pagerank"] for r in got.values()) - 1.0) < 1e-9
    for v in nodes:
        assert abs(got[v]["pagerank"] - pr[v]) < 1e-12
        assert got[v]["n_neighbors"] == len(nbrs[v])


def test_edit_distance_pairs_reference(spark):
    from openlmis_distributions_etl_spark.operators.dedup import (
        EDIT_SKEL_LEN, edit_distance_pairs)
    from openlmis_distributions_etl_spark.sources import load_tables
    import re
    t = load_tables(spark, SF0001)
    rows = edit_distance_pairs(t).collect()
    texts = {r["doc_id"]: r["text"]
             for r in t["documents"].select("doc_id", "text").collect()}

    def skel(s):
        return re.sub(r"[^a-z0-9 ]", "", s.lower())[:EDIT_SKEL_LEN]

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    assert rows, "expected at least one LSH candidate pair"
    for r in rows:
        sa, sb = skel(texts[r["doc_a"]]), skel(texts[r["doc_b"]])
        assert r["edit_distance"] == lev(sa, sb)
        assert r["max_skel_len"] == max(len(sa), len(sb))
        assert (r["rel_distance"]
                == r["edit_distance"] / max(r["max_skel_len"], 1))


def test_dup_span_removal_consistent_with_stats(spark):
    from openlmis_distributions_etl_spark.operators.dedup import (
        dup_span_removal, dup_span_stats)
    from openlmis_distributions_etl_spark.sources import load_tables
    t = load_tables(spark, SF0001)
    removed = {r["doc_id"]: r for r in dup_span_removal(t).collect()}
    stats = {r["doc_id"]: r for r in dup_span_stats(t).collect()}
    n_docs = t["documents"].count()
    assert len(removed) == n_docs
    for doc_id, r in removed.items():
        s = stats.get(doc_id)
        if s is None:
            assert r["n_kept"] == r["n_tokens"]
            assert r["kept_fraction"] == 1.0
        else:
            # the transform cuts exactly the tokens the report counted
            assert r["n_kept"] == r["n_tokens"] - s["n_dup_tokens"]


def test_exact_median_selection_matches_sorted(spark):
    from openlmis_distributions_etl_spark.operators.analytics import (
        exact_median_value)
    from openlmis_distributions_etl_spark.sources import load_tables
    t = load_tables(spark, SF0001)
    row = exact_median_value(t).collect()[0]
    vals = sorted(r["value"] for r in t["events"]
                  .where("event_type = 'click' AND value IS NOT NULL")
                  .select("value").collect())
    n = len(vals)
    k = (n + 1) // 2
    assert (row["n"], row["k"]) == (n, k)
    assert row["median"] == vals[k - 1]


def test_phrase_search_matches_scan(spark):
    from collections import Counter
    from openlmis_distributions_etl_spark.operators.text import (
        phrase_search)
    from openlmis_distributions_etl_spark.sources import load_tables
    t = load_tables(spark, SF0001)
    rows = phrase_search(t).collect()
    assert rows
    w1, w2 = rows[0]["w1"], rows[0]["w2"]
    docs = {r["doc_id"]: [x for x in r["text"].split(" ") if x]
            for r in t["documents"].select("doc_id", "text").collect()}
    bigrams = Counter()
    for toks in docs.values():
        for a, b in zip(toks, toks[1:]):
            bigrams[(a, b)] += 1
    top = sorted(bigrams.items(), key=lambda kv: (-kv[1], kv[0]))[0]
    assert (w1, w2) == top[0]
    exp = {}
    for doc_id, toks in docs.items():
        pos = [i + 1 for i, (a, b) in enumerate(zip(toks, toks[1:]))
               if (a, b) == (w1, w2)]
        if pos:
            exp[doc_id] = (len(pos), pos[0])
    got = {r["doc_id"]: (r["n_matches"], r["first_pos"]) for r in rows}
    assert got == exp
    assert all(r["corpus_count"] == top[1] for r in rows)


def test_global_row_index_is_a_permutation(spark):
    from openlmis_distributions_etl_spark.operators.analytics import (
        global_row_index)
    from openlmis_distributions_etl_spark.sources import load_tables
    t = load_tables(spark, SF0001)
    rows = sorted(global_row_index(t).collect(),
                  key=lambda r: r["row_index"])
    n = t["documents"].count()
    assert [r["row_index"] for r in rows] == list(range(n))
    keys = [(-r["n_chars"], r["doc_id"]) for r in rows]
    assert keys == sorted(keys)


def test_triangle_counts_match_brute_force(spark):
    from itertools import combinations
    from openlmis_distributions_etl_spark.operators.dedup import (
        minhash_lsh_pairs, triangle_counts)
    from openlmis_distributions_etl_spark.sources import load_tables
    from collections import Counter
    t = load_tables(spark, SF0001)
    got = {r["doc_id"]: r["n_triangles"]
           for r in triangle_counts(t).collect()}
    edges = {(r["doc_a"], r["doc_b"])
             for r in minhash_lsh_pairs(t).collect()}
    nodes = sorted({v for e in edges for v in e})
    exp = Counter()
    for x, y, z in combinations(nodes, 3):
        if ({(x, y), (x, z), (y, z)} <= edges):
            exp[x] += 1
            exp[y] += 1
            exp[z] += 1
    assert got == dict(exp)
    assert sum(got.values()) % 3 == 0


def test_select_kth_above_finish_threshold_with_min_ties(spark):
    """Regression for the round-4 bisection bug: rows tied with the
    MINIMUM were never counted into cnt_le_lo, selecting a value above
    the true order statistic — but only in the > MEDIAN_FINISH_ROWS
    regime the operator exists for. Exercise the histogram loop on
    200k rows with a fat tie-block at the min and assert the exact
    k-th smallest for boundary and interior ranks, in ≤3 rounds."""
    from openlmis_distributions_etl_spark.operators.analytics import (
        MEDIAN_FINISH_ROWS, _select_kth)
    n = 200_000
    assert n > MEDIAN_FINISH_ROWS
    sample = spark.range(n).select(
        F.when(F.col("id") % 7 == 0, F.lit(-5.0))
        .otherwise(((F.col("id") * 2654435761) % 1000003)
                   .cast("double") / 97.0).alias("value"))
    sample.persist()
    vals = sorted(r["value"] for r in sample.collect())
    lo, hi = vals[0], vals[-1]
    c_min = sum(1 for v in vals if v == lo)
    assert c_min > 1000  # the tie block the old loop dropped
    row = {"n": n, "lo": lo, "hi": hi, "c_min": c_min}
    for k in (1, c_min, c_min + 1, n // 2, (n + 1) // 2,
              (99 * n + 99) // 100, n):
        sel, rounds = _select_kth(sample, n, k, row)
        assert rounds <= 3, f"k={k}: {rounds} histogram rounds"
        assert sel.collect()[0]["value"] == vals[k - 1], f"k={k}"
    sample.unpersist()


def test_rank_buckets_data_proportional_and_two_level(spark, monkeypatch):
    """The prefix-sum bucket count must GROW with input (the round-4
    fixed 16-bucket ceiling capped window parallelism at scale), ties
    must never straddle buckets, and the two-level recursion past
    PREFIX_MAX_FENCES (and the re-sketch past PROBE_FENCES) must
    produce the same monotone bucketing — ungrouped and per group."""
    from openlmis_distributions_etl_spark.functions import prefix as P
    df = spark.range(5000).select(
        ((F.col("id") * 37) % 991).cast("double").alias("_k"),
        (F.col("id") % 2).cast("string").alias("g"))
    # (target rows, max fences, partition_by): 5000 rows at target 100
    # → nb = 50 ungrouped, 25 per group; at target 50 → nb = 100
    for target, max_fences, pb, label in (
            (100, 1024, (), "single"), (100, 8, (), "two-level"),
            (50, 1024, (), "re-sketch"), (100, 1024, ("g",), "grouped"),
            (100, 8, ("g",), "grouped two-level")):
        monkeypatch.setattr(P, "PREFIX_TARGET_ROWS", target)
        monkeypatch.setattr(P, "PREFIX_MAX_FENCES", max_fences)
        b, n = P.buckets(df, F.col("_k"), pb)
        assert n == 5000, label
        groups = {}
        for r in b.collect():
            groups.setdefault(r["g"] if pb else None, []).append(r)
        for out in groups.values():
            per = {}
            for r in out:
                per.setdefault(r["bkt"], set()).add(r["_k"])
            assert len(per) > 16, f"{label}: bucket count stuck at old ceiling"
            # monotone in _k: bucket ranges must not interleave
            spans = sorted((min(v), max(v), b) for b, v in per.items())
            for (lo1, hi1, b1), (lo2, hi2, b2) in zip(spans, spans[1:]):
                assert hi1 <= lo2 and b1 < b2, f"{label}: interleaved buckets"
            # ties share a bucket
            owner = {}
            for r in out:
                assert owner.setdefault(r["_k"], r["bkt"]) == r["bkt"], label
            # balance: no bucket hoards the axis
            sizes = [len([r for r in out if r["bkt"] == b]) for b in per]
            assert max(sizes) <= 1000, f"{label}: unbalanced {max(sizes)}"


def test_global_row_index_exact_under_two_level_buckets(spark, monkeypatch):
    """End-to-end pin: the two-level recursion path still assigns the
    EXACT contiguous ids (fence placement only affects balance)."""
    from openlmis_distributions_etl_spark.functions import prefix as P
    from openlmis_distributions_etl_spark.operators import analytics as A
    from openlmis_distributions_etl_spark.sources import load_tables
    monkeypatch.setattr(P, "PREFIX_TARGET_ROWS", 20)
    monkeypatch.setattr(P, "PREFIX_MAX_FENCES", 5)
    t = load_tables(spark, SF0001)
    got = {r["doc_id"]: r["row_index"]
           for r in A.global_row_index(t).collect()}
    want = sorted(((-r["n_chars"], r["doc_id"]) for r in
                   t["documents"].select("doc_id", "n_chars").collect()))
    assert got == {doc: i for i, (_, doc) in enumerate(want)}


def test_grouped_rank_min_two_level_exact(spark, monkeypatch):
    """The GROUPED prefix-sum ECDF must recurse past PREFIX_MAX_FENCES
    like the ungrouped split: one giant group no longer collapses onto
    the per-group fence ceiling, and rank selection stays EXACT under
    the two-level split (fence placement only affects balance). The
    primitive itself must match a single-Window reference for weight
    sums, ranks and dense ranks, ungrouped and grouped (a NULL group
    drops out, as it gets no statistic), and on empty input."""
    from pyspark.sql import Window
    from openlmis_distributions_etl_spark.functions import prefix as P
    from openlmis_distributions_etl_spark.operators import analytics as A
    rows, vals = [], {}
    # group a: 900 distinct values; group b: 400 values over 97
    # distinct (exercises the c > 1 multiplicity path); the NULL
    # group gets no statistic
    for g, (n, mul, mod) in {"a": (900, 37, 997), "b": (400, 91, 97),
                             None: (50, 13, 17)}.items():
        vs = [((i * mul) % mod) * 1.0 for i in range(n)]
        if g is not None:
            vals[g] = sorted(vs)
        rows += [(g, v) for v in vs]
    raw = spark.createDataFrame(rows, "event_type string, _k double")
    pts = raw.groupBy("event_type", "_k").agg(F.count(F.lit(1)).alias("c"))
    targets = {"med": "(n + 1) DIV 2", "p90": "(9 * n + 9) DIV 10"}
    # weight sum, rank (constant-1 weight under a total order) and
    # dense rank (first-of-key flag) against one Window per group
    df = raw.select(F.monotonically_increasing_id().alias("id"), "*",
                    (F.length(F.coalesce("event_type", F.lit("")))
                     + F.col("_k") % 7).cast("long").alias("w"))
    order = [F.asc("_k"), F.asc("id")]
    for target_rows, max_fences, label in (
            (1_000_000, 1024, "single"), (25, 6, "two-level")):
        monkeypatch.setattr(P, "PREFIX_TARGET_ROWS", target_rows)
        monkeypatch.setattr(P, "PREFIX_MAX_FENCES", max_fences)
        got = {r["event_type"]: r for r in
               A._grouped_rank_min(pts, targets).collect()}
        assert set(got) == set(vals), label
        for g, vs in vals.items():
            n = len(vs)
            assert got[g]["n_rows"] == n, label
            assert got[g]["med"] == vs[(n + 1) // 2 - 1], label
            assert got[g]["p90"] == vs[(9 * n + 9) // 10 - 1], label
        for pb in ((), ("event_type",)):
            ref = Window.partitionBy(*pb).orderBy(*order)
            kept = df.where(F.col("event_type").isNotNull()) if pb else df
            want = {r["id"]: tuple(r[1:]) for r in kept.select(
                "id", F.sum("w").over(ref), F.row_number().over(ref),
                F.dense_rank().over(Window.partitionBy(*pb)
                                    .orderBy("_k")),
                F.sum("w").over(Window.partitionBy(*pb))).collect()}
            b, _ = P.buckets(df, F.col("_k"), pb)
            prev = F.lag("_k").over(
                Window.partitionBy(*pb, "bkt").orderBy(*order))
            b = b.select("*", F.lit(1).alias("one"),
                         (~prev.eqNullSafe(F.col("_k"))).cast("int")
                         .alias("new"))
            out = P.prefix_sums(b, order, ["w", "one", "new"], pb)
            assert {r["id"]: (r["cum_w"], r["cum_one"], r["cum_new"],
                              r["tot_w"]) for r in out.collect()} \
                == want, f"{label} {pb}"
    b, n = P.buckets(df.limit(0), F.col("_k"), ("event_type",))
    assert n == 0
    assert P.prefix_sums(b, order, ["w"], ("event_type",)).count() == 0
    assert A._grouped_rank_min(pts.where(F.col("event_type").isNull()),
                               targets).count() == 0


def test_value_deciles_two_level_matches_single(spark, monkeypatch):
    """End-to-end pin: value_deciles_by_type (now on the shared
    grouped helper) returns identical deciles under the two-level
    fence split as under the parity-pinned single-level path."""
    from openlmis_distributions_etl_spark.functions import prefix as P
    from openlmis_distributions_etl_spark.operators import analytics as A
    from openlmis_distributions_etl_spark.sources import load_tables
    t = load_tables(spark, SF0001)
    want = sorted(tuple(r) for r in A.value_deciles_by_type(t).collect())
    monkeypatch.setattr(P, "PREFIX_TARGET_ROWS", 50)
    monkeypatch.setattr(P, "PREFIX_MAX_FENCES", 7)
    got = sorted(tuple(r) for r in A.value_deciles_by_type(t).collect())
    assert got == want


def test_chi2_segments_pmod_matches_oracle_on_negative_ids(spark):
    """Spark pmod vs DuckDB % diverge on negative dividends; the
    oracle now uses ((x % 3) + 3) % 3. Pin equality on a frame that
    actually contains negative user_ids (the shipped tables don't)."""
    import duckdb
    import pandas as pd
    from openlmis_distributions_etl_spark.operators.analytics import (
        chi2_event_segments)
    from openlmis_distributions_etl_spark.oracles import ORACLES
    pdf = pd.DataFrame({
        "user_id": [-7, -6, -5, -1, 0, 1, 2, 5, -2, 4] * 3,
        "event_type": (["click"] * 10 + ["view"] * 10 + ["buy"] * 10),
    })
    ev = spark.createDataFrame(pdf)
    got = sorted(tuple(r) for r in
                 chi2_event_segments({"events": ev}).collect())
    con = duckdb.connect()
    con.register("events", pdf)
    want = sorted(tuple(r) for r in
                  con.execute(ORACLES["chi2_event_segments"]).fetchall())
    assert got == want


def test_bpe_vocab_matches_python_reference(spark, monkeypatch):
    """Three-way pin: the distributed merge loop must reproduce a
    pure-Python greedy BPE trainer (count pairs over the weighted
    vocabulary, merge left-to-right non-overlapping) step for step,
    including tie-breaks and overlapping-candidate words (aaa, abab)."""
    import openlmis_distributions_etl_spark.operators.text as T
    S = "\x1f"
    texts = ["aba abab low lower lowest ab",
             "newer new newest wide wider widest aba",
             "aaa aa a banana bandana low low low"]
    docs = spark.createDataFrame(
        [(i, s) for i, s in enumerate(texts)], "doc_id long, text string")
    words: dict[str, int] = {}
    for s in texts:
        for w in s.split(" "):
            if w:
                words[w] = words.get(w, 0) + 1
    vocab = {w: "".join(S + c + S for c in w) for w in words}
    ref = []
    for step in range(1, 13):
        counts: dict[tuple[str, str], int] = {}
        for w, rep in vocab.items():
            syms = rep.strip(S).split(S + S)
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + words[w]
        (s1, s2), cnt = min(counts.items(),
                            key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        ref.append((step, s1, s2, cnt))
        vocab = {w: rep.replace(S + s1 + S + S + s2 + S, S + s1 + s2 + S)
                 for w, rep in vocab.items()}
    monkeypatch.setattr(T, "BPE_MERGES", 12)
    got = [tuple(r) for r in T.bpe_vocab_32({"documents": docs}).collect()]
    assert got == ref


def test_pca_project8_matches_numpy_reference(spark):
    """The distributed projection must reproduce a pure-numpy PCA on
    the same quantized data to <=1e-9, with decreasing component
    variances (the rows-only entry's semantic pin, like PageRank's)."""
    import numpy as np
    from openlmis_distributions_etl_spark.operators.similarity import (
        PCA_K, pca_project8)
    from openlmis_distributions_etl_spark.operators.analytics import (
        COV_QUANT)
    from openlmis_distributions_etl_spark.sources import load_tables
    t = load_tables(spark, SF0001)
    got = {r["vec_id"]: [r[f"pc{k}"] for k in range(PCA_K)]
           for r in pca_project8(t).collect()}
    raw = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
           for r in t["embeddings"].select("vec_id", "embedding").collect()}
    X = np.floor(np.stack([raw[i] for i in sorted(raw)]) * COV_QUANT
                 + 0.5) / COV_QUANT
    mu = X.mean(axis=0)
    C = (X - mu).T @ (X - mu) / len(X)
    w, v = np.linalg.eigh(C)
    order = np.argsort(w)[::-1][:PCA_K]
    comps = []
    for idx in order:
        vec = v[:, idx]
        piv = int(np.argmax(np.abs(vec)))
        comps.append(-vec if vec[piv] < 0 else vec)
    P = np.stack(comps, axis=1)
    ids = sorted(raw)
    want = (X - mu) @ P
    got_m = np.array([got[i] for i in ids])
    # covariance reaches eigh via two float paths (exact-integer sums
    # vs centered matmul) differing ~1e-10; eigenvector perturbation
    # scales that to ~1e-6 in the projection
    assert np.abs(got_m - want).max() < 1e-5
    # variance decreases along components
    var = got_m.var(axis=0)
    assert all(a >= b - 1e-12 for a, b in zip(var, var[1:]))


def test_opq_rotation_mse_matches_numpy_reference(spark):
    """The rows-only OPQ entry's semantic pin: a pure-numpy replay of
    the eigen-allocation rotation + first-16-codebook PQ must
    reproduce both MSEs to ~1e-6, and the rotated path must beat raw
    PQ on this corpus (the reason the operator exists)."""
    import math

    import numpy as np

    from openlmis_distributions_etl_spark.operators.analytics import (
        COV_QUANT)
    from openlmis_distributions_etl_spark.operators.similarity import (
        PQ_K, PQ_M, PQ_SUBDIM, opq_rotation_mse)
    from openlmis_distributions_etl_spark.sources import load_tables

    t = load_tables(spark, SF0001)
    row = opq_rotation_mse(t).collect()[0]

    raw = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
           for r in t["embeddings"].select("vec_id", "embedding")
           .collect()}
    ids = sorted(raw)
    X = np.stack([raw[i] for i in ids])
    Q = np.floor(X * COV_QUANT + 0.5) / COV_QUANT
    mu = Q.mean(axis=0)
    C = (Q - mu).T @ (Q - mu) / len(Q)
    w, v = np.linalg.eigh(C)
    order = np.argsort(w)[::-1]
    comps, eig = [], []
    for idx in order:
        vec = v[:, idx]
        piv = int(np.argmax(np.abs(vec)))
        comps.append(-vec if vec[piv] < 0 else vec)
        eig.append(max(float(w[idx]), 1e-12))
    buckets = [[] for _ in range(PQ_M)]
    load = [0.0] * PQ_M
    base_log = math.log(eig[-1])
    for i in range(len(comps)):
        cands = [b for b in range(PQ_M) if len(buckets[b]) < PQ_SUBDIM]
        b = min(cands, key=lambda j: (load[j], j))
        buckets[b].append(i)
        load[b] += math.log(eig[i]) - base_log
    perm = [i for b in buckets for i in b]
    R = np.stack([comps[i] for i in perm], axis=1)

    def mean_pq_mse(V: np.ndarray) -> float:
        book = V[:PQ_K]
        tot = 0.0
        for m in range(PQ_M):
            sub = V[:, m * PQ_SUBDIM:(m + 1) * PQ_SUBDIM]
            cb = book[:, m * PQ_SUBDIM:(m + 1) * PQ_SUBDIM]
            d2 = ((sub[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
            tot += d2.min(axis=1).sum()
        return tot / len(V)

    want_raw = mean_pq_mse(X)
    want_rot = mean_pq_mse((X - mu) @ R)
    assert abs(row["mse_raw"] - want_raw) < 1e-6
    assert abs(row["mse_rotated"] - want_rot) < 1e-5
    assert row["mse_rotated"] < row["mse_raw"]


def test_pca_explained_variance_matches_numpy(spark):
    """The spectrum report must reproduce numpy eigvalsh on the same
    exact covariance: sum(eigenvalues) == trace to 1e-9, descending
    order, shares sum to 1, participation ratio consistent."""
    import numpy as np

    from openlmis_distributions_etl_spark.operators.analytics_bridge import \
        covariance_matrix
    from openlmis_distributions_etl_spark.operators.similarity import \
        pca_explained_variance

    from openlmis_distributions_etl_spark.sources import load_tables
    t = load_tables(spark, SF0001, "embeddings")
    rows = sorted(pca_explained_variance(t).collect(),
                  key=lambda r: r["component"])
    cov, _ = covariance_matrix(t)
    w = np.linalg.eigvalsh(cov)[::-1]
    got = np.array([r["eigenvalue"] for r in rows])
    assert np.max(np.abs(got - w)) <= 1e-9 * max(1.0, abs(w[0]))
    assert abs(got.sum() - np.trace(cov)) <= 1e-9 * abs(np.trace(cov))
    assert all(got[i] >= got[i + 1] - 1e-12 for i in range(len(got) - 1))
    assert abs(rows[-1]["cum_var_share"] - 1.0) <= 1e-9
    pr = w.sum() ** 2 / (w ** 2).sum()
    assert abs(rows[0]["participation_ratio"] - pr) <= 1e-9 * pr


def test_leakage_safe_split_has_zero_cross_split_pairs(spark):
    """The whole point of component-keyed splitting: no LSH near-dup
    pair may straddle train/test."""
    from openlmis_distributions_etl_spark.operators.dedup import \
        split_leakage_audit
    from openlmis_distributions_etl_spark.sources import load_tables

    t = load_tables(spark, SF0001, "documents")
    cells = {(r["split_x"], r["split_y"]): r["n_pairs"]
             for r in split_leakage_audit(t).collect()}
    assert cells.get(("test", "train"), 0) == 0
    assert sum(cells.values()) > 0    # the graph isn't trivially empty


def test_orders_skyline_ties_and_dominance(spark):
    """Two identical maxima on one date both survive; equal price on
    a strictly later date dominates the earlier one; a cheap recent
    order survives only if nothing later is >= it."""
    from openlmis_distributions_etl_spark.operators.relational import (
        orders_skyline_2d)
    rows = [
        (1, "2024-01-01", 100.0),  # dominated by 3 (later, higher)
        (2, "2024-01-02", 100.0),  # dominated by 3
        (3, "2024-01-03", 100.0),  # skyline (latest of the 100s)
        (4, "2024-01-03", 100.0),  # tie with 3 on BOTH axes: kept
        (5, "2024-01-02", 150.0),  # skyline (highest price)
        (6, "2024-01-04", 50.0),   # skyline (latest date)
        (7, "2024-01-04", 40.0),   # dominated by 6 (same date, less)
    ]
    df = spark.createDataFrame(
        [(k, dt.date.fromisoformat(d), v) for k, d, v in rows],
        "o_orderkey long, o_orderdate date, o_totalprice double")
    got = sorted(r["o_orderkey"] for r in
                 orders_skyline_2d({"orders": df}).collect())
    assert got == [3, 4, 5, 6]


def test_user_lifecycle_precedence_new_wins(spark):
    """A user first seen within 30 days is `new` even if also active;
    the churn fence needs >60 days of silence; buckets partition."""
    from openlmis_distributions_etl_spark.operators.windows import (
        user_lifecycle_stages)
    base = dt.datetime(2024, 6, 1)
    day = dt.timedelta(days=1)
    rows = [
        # anchor user: active now, first seen long ago -> active
        (1, 10, base - 200 * day), (2, 10, base),
        # new: first seen 5 days before the frontier
        (3, 20, base - 5 * day),
        # dormant: last seen 40 days ago, first seen long ago
        (4, 30, base - 300 * day), (5, 30, base - 40 * day),
        # churned: last seen 90 days ago
        (6, 40, base - 400 * day), (7, 40, base - 90 * day),
    ]
    df = spark.createDataFrame(
        [(i, ts, u, "view", 1.0, "{}") for i, u, ts in rows],
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string")
    got = {r["stage"]: r["n_users"] for r in
           user_lifecycle_stages({"events": df}).collect()}
    assert got == {"active": 1, "new": 1, "dormant": 1, "churned": 1}


def test_user_active_day_streaks_islands(spark):
    """Days 1,2,3 + 5 + 7,8 -> max streak 3, three islands, six
    active days (duplicate events on one day count once)."""
    from openlmis_distributions_etl_spark.operators.windows import (
        user_active_day_streaks)
    base = dt.datetime(2024, 6, 1)
    days = [1, 2, 2, 3, 5, 7, 8]
    df = spark.createDataFrame(
        [(i, base + dt.timedelta(days=d), 1, "view", 1.0, "{}")
         for i, d in enumerate(days)],
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string")
    r = user_active_day_streaks({"events": df}).collect()[0]
    assert (r["max_streak_days"], r["n_streaks"],
            r["n_active_days"]) == (3, 3, 6)


def test_audience_bitmap_matches_set_arithmetic(spark):
    """Cross-block user ids (incl. multiples of the 62-bit lane) must
    reproduce exact set intersection/union counts."""
    from openlmis_distributions_etl_spark.operators.analytics import (
        audience_bitmap_intersection)
    base = dt.datetime(2024, 6, 1)
    clicks = [0, 1, 61, 62, 124, 500]
    purch = [1, 61, 63, 124, 999]
    rows = ([(u, "click") for u in clicks]
            + [(u, "purchase") for u in purch]
            + [(0, "click")])           # duplicate event, same user
    df = spark.createDataFrame(
        [(i, base, u, ty, 1.0, "{}")
         for i, (u, ty) in enumerate(rows)],
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string")
    r = audience_bitmap_intersection({"events": df}).collect()[0]
    a, b = set(clicks), set(purch)
    assert (r["n_click"], r["n_purchase"], r["n_both"], r["n_either"]) \
        == (len(a), len(b), len(a & b), len(a | b))


# -- round-7 wave 1 -----------------------------------------------------


def _orders_rev(spark, rows):
    return spark.createDataFrame(
        rows, "o_orderkey long, o_orderdate date, o_totalprice double")


def test_theil_sen_resists_outlier(spark):
    """A perfectly linear daily series (+2 cents/day) with ONE
    blown-out day still reports the clean slope: the outlier bends
    only n-1 of the ~n^2/2 pairwise slopes, and the median ignores
    them."""
    from openlmis_distributions_etl_spark.operators.analytics import (
        theil_sen_daily_trend)
    rows = [(i, dt.date(2024, 1, 1 + i), 1.00 + 0.02 * i)
            for i in range(9)]
    rows.append((99, dt.date(2024, 1, 15), 1000.0))  # promo-day spike
    out = theil_sen_daily_trend({"orders": _orders_rev(spark, rows)})
    r = out.collect()[0]
    assert r["n_days"] == 10
    assert r["n_pairs"] == 45
    assert r["ts_slope"] == 2.0   # cents/day


def test_mann_kendall_strictly_increasing(spark):
    from openlmis_distributions_etl_spark.operators.analytics import (
        mann_kendall_trend)
    rows = [(i, dt.date(2024, 1, 1 + i), 1.0 + i) for i in range(6)]
    out = mann_kendall_trend({"orders": _orders_rev(spark, rows)})
    r = out.collect()[0]
    assert r["n_days"] == 6 and r["n_pairs"] == 15
    assert r["s_stat"] == 15 and r["n_discordant"] == 0
    assert r["tau"] == 1.0
    assert r["z_score"] > 2.0   # significant upward trend


def test_mann_kendall_all_tied_is_zero(spark):
    from openlmis_distributions_etl_spark.operators.analytics import (
        mann_kendall_trend)
    rows = [(i, dt.date(2024, 1, 1 + i), 5.0) for i in range(4)]
    r = mann_kendall_trend({"orders": _orders_rev(spark, rows)}).collect()[0]
    assert r["s_stat"] == 0 and r["n_tied"] == 6
    assert r["tau"] == 0.0 and r["z_score"] == 0.0


def test_gopher_rules_crafted_docs(spark):
    """One doc per failure mode, one clean doc: the per-source pass
    counters attribute each rule exactly."""
    long_ok = " ".join(["the", "and"] + ["word"] * 60)
    short = "the and tiny"                          # fails word count
    no_stop = " ".join(["word"] * 60)               # fails stopwords
    rows = [
        (1, long_ok, "en", "web", len(long_ok)),
        (2, short, "en", "web", len(short)),
        (3, no_stop, "en", "web", len(no_stop)),
    ]
    out = text.gopher_quality_rules({"documents": _docs(spark, rows)})
    r = out.collect()[0]
    assert r["n_docs"] == 3
    assert r["pass_words"] == 2       # doc 2 too short
    assert r["pass_stopwords"] == 2   # doc 3 has none
    assert r["pass_alpha"] == 3
    assert r["pass_all"] == 1 and r["pass_rate"] == pytest.approx(1 / 3)


def test_gopher_ngram_top2_fraction(spark):
    """'a b a b a b': top 2-gram 'a b' occurs 3x (len 3), doc is 11
    chars -> top2_frac = 9/11; no 5-gram repeats -> dup5_frac = 0."""
    txt = "a b a b a b"
    out = text.gopher_ngram_fractions(
        {"documents": _docs(spark, [(1, txt, "en", "web", len(txt))])})
    r = out.collect()[0]
    assert r["top2_frac"] == pytest.approx(9 / 11)
    assert r["dup5_frac"] == 0.0


def test_gopher_ngram_tie_breaks_by_char_length(spark):
    """Two 2-grams tied on count: the CHAR-LONGER one defines the
    fraction (deterministic tie-break)."""
    txt = "aa bb cc aa bb cc"   # 'aa bb' x2, 'bb cc' x2, 'cc aa' x1
    out = text.gopher_ngram_fractions(
        {"documents": _docs(spark, [(1, txt, "en", "web", len(txt))])})
    r = out.collect()[0]
    # tied grams are both 5 chars -> mass 10 over 17 chars
    assert r["top2_frac"] == pytest.approx(10 / 17)


def test_unigram_logprob_rare_token_scores_higher(spark):
    from openlmis_distributions_etl_spark.operators.text import (
        unigram_logprob_quality)
    common = " ".join(["the"] * 10)
    rare = " ".join(["the"] * 9 + ["xylophone"])
    rows = [(1, common, "en", "web", len(common)),
            (2, rare, "en", "web", len(rare))]
    out = {r["doc_id"]: r for r in unigram_logprob_quality(
        {"documents": _docs(spark, rows)}).collect()}
    assert out[2]["mean_nll"] > out[1]["mean_nll"]
    # doc 1 is all corpus-common tokens: nll = ln(20/19) per token
    import math
    unit = math.floor(math.log(20 / 19) * 1_000_000 + 0.5)
    assert out[1]["nll_units"] == 10 * unit


def test_hapax_share_counts(spark):
    rows = [(1, "aa aa bb", "en", "s1", 8),
            (2, "bb cc", "en", "s1", 5),
            (3, "dd", "en", "s2", 2)]
    out = {r["source"]: r for r in text.hapax_share_by_source(
        {"documents": _docs(spark, rows)}).collect()}
    s1 = out["s1"]
    assert s1["vocab_size"] == 3            # aa bb cc
    assert s1["hapax_count"] == 1           # cc (aa x2, bb x2)
    assert s1["token_mass"] == 5
    assert s1["hapax_share"] == pytest.approx(1 / 3)
    assert out["s2"]["hapax_share"] == 1.0


def test_cosine_gap_matches_numpy_pairwise(spark):
    """The ||sum||^2 identity reproduces the brute-force average of
    pairwise quantized-unit dot products, exactly."""
    import numpy as np
    from openlmis_distributions_etl_spark.operators.similarity import (
        COS_GRID, intra_inter_cosine_gap)
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(9, 16)).astype("float32")
    labels = [0, 0, 0, 1, 1, 1, 2, 2, 2]
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]], labels[i]) for i in range(9)],
        "vec_id long, embedding array<float>, label int")
    out = {r["label"]: r for r in
           intra_inter_cosine_gap({"embeddings": df}).collect()}
    # numpy reference on the SAME quantization
    q = np.empty((9, 16), dtype=np.int64)
    for i in range(9):
        v = vecs[i].astype(np.float64)
        n = np.sqrt(np.sum(v * v))
        q[i] = np.floor(v / n * COS_GRID + 0.5).astype(np.int64)
    lab = np.array(labels)
    for l in (0, 1, 2):
        own = q[lab == l]
        other = q[lab != l]
        intra = sum(float(own[i] @ own[j])
                    for i in range(3) for j in range(3) if i != j)
        intra /= 3 * 2 * float(COS_GRID) ** 2
        inter = sum(float(a @ b) for a in own for b in other)
        inter /= 3 * 6 * float(COS_GRID) ** 2
        assert out[l]["intra_avg_cos"] == pytest.approx(intra, abs=1e-12)
        assert out[l]["inter_avg_cos"] == pytest.approx(inter, abs=1e-12)
        assert out[l]["cos_gap"] == pytest.approx(intra - inter, abs=1e-12)


# -- round-7 wave 2 -----------------------------------------------------


def test_mmr_prefers_diverse_over_clone(spark):
    """Pool = {a, a-clone, c-orthogonal}: plain top-2 would return the
    clone at rank 2; MMR must rank the diverse vector second (the
    clone's max-sim-to-selected penalty ~1.0 crushes its score)."""
    import numpy as np
    from openlmis_distributions_etl_spark.operators.similarity import (
        MMR_LAMBDA, MMR_MU, mmr_diversified_topk)
    dim = 8

    def unit(v):
        v = np.asarray(v, dtype=np.float64)
        return (v / np.sqrt((v * v).sum())).astype(np.float32)

    q = unit([1, 0, 0, 0, 0, 0, 0, 0])
    a = unit([0.98, 0.2, 0, 0, 0, 0, 0, 0])       # rel ~.980
    ac = unit([0.979, 0.204, 0, 0, 0, 0, 0, 0])   # near-clone of a
    c = unit([0.93, -0.367, 0, 0, 0, 0, 0, 0])    # rel ~.930, diverse
    df = spark.createDataFrame(
        [(0, [float(x) for x in q], 0),
         (1, [float(x) for x in a], 1),
         (2, [float(x) for x in ac], 1),
         (3, [float(x) for x in c], 2)],
        "vec_id long, embedding array<float>, label int")
    out = {r["rank"]: r for r in
           mmr_diversified_topk({"embeddings": df}).collect()}
    assert out[1]["vec_id"] == 1          # best relevance first
    assert out[2]["vec_id"] == 3          # diversity beats the clone
    assert out[3]["vec_id"] == 2
    # score formula pinned against numpy for the rank-2 pick
    qa, qc = q.astype(np.float64), c.astype(np.float64)
    rel_c = float(qa @ qc / (np.linalg.norm(qa) * np.linalg.norm(qc)))
    aa = a.astype(np.float64)
    sim_ca = float(aa @ qc / (np.linalg.norm(aa) * np.linalg.norm(qc)))
    want = MMR_LAMBDA * rel_c - MMR_MU * sim_ca
    assert out[2]["mmr_score"] == pytest.approx(want, abs=1e-12)


def test_poisson_bootstrap_matches_python_replication(spark):
    """The whole chain (md5 uniforms, CDF-threshold weights, replicate
    means, order-statistic CI) replicated in pure python on a tiny
    frame — equality is exact, not approximate."""
    import hashlib

    from openlmis_distributions_etl_spark.operators.analytics import (
        PB_CDF_PPM, PB_GRID, PB_REPS, PB_VGRID, poisson_bootstrap_ci)
    rows = [(i, TS, 1, "view", 1.0 + 0.37 * i, "{}") for i in range(40)]
    out = poisson_bootstrap_ci({"events": _events(spark, rows)}).collect()[0]
    vus = {i: int((1.0 + 0.37 * i) * PB_VGRID + 0.5) for i in range(40)}
    means = []
    for b in range(PB_REPS):
        g, seg = b // 4, b % 4
        swv = sw = 0
        for i, vu in vus.items():
            h = hashlib.md5(f"pb|{g}|{i}".encode()).hexdigest()
            u = int(h[8 * seg:8 * seg + 8], 16) % PB_GRID
            w = sum(u >= c for c in PB_CDF_PPM)
            swv += w * vu
            sw += w
        means.append(swv / PB_VGRID / sw)
    srt = sorted(means)
    assert out["n_rows"] == 40 and out["n_reps"] == PB_REPS
    assert out["mean_value"] == sum(vus.values()) / PB_VGRID / 40
    assert out["ci_lo"] == srt[1]    # rank 2 of 64 (lower 2.5%)
    assert out["ci_hi"] == srt[62]   # rank 63 of 64 (upper 97.5%)
    assert out["ci_lo"] <= out["mean_value"] <= out["ci_hi"]


def test_dsir_weights_separate_target_from_offtarget(spark):
    """Docs built from the target slice's bigram inventory must score
    a higher log importance weight than docs built from off-target
    bigrams."""
    from openlmis_distributions_etl_spark.operators.text import (
        dsir_importance_weights)
    en = "alpha beta gamma delta alpha beta gamma delta"
    de = "eins zwei drei vier eins zwei drei vier"
    rows = [(1, en, "en", "web", len(en)),
            (2, en, "en", "web", len(en)),
            (3, de, "de", "web", len(de)),
            (4, en, "de", "web", len(en)),   # en-like text, raw-only lang
            (5, de, "en", "web", len(de))]   # de-like text inside target
    out = {r["doc_id"]: r for r in dsir_importance_weights(
        {"documents": _docs(spark, rows)}).collect()}
    # doc 4's text matches the target bigram profile -> higher weight
    # than doc 3's pure off-target text
    assert out[4]["log_importance_weight"] > out[3]["log_importance_weight"]
    assert out[1]["log_importance_weight"] > out[3]["log_importance_weight"]


# -- round-7 wave 3 -----------------------------------------------------


def test_welch_ttest_matches_textbook_formula(spark):
    """Hand-computed Welch t and df on two tiny samples (quantized to
    the operator's 1e-4 grid, gridded to 1e-9 like the operator)."""
    import math
    a_vals = [10.0, 12.0, 11.0, 13.0, 9.0]
    b_vals = [8.0, 7.5, 9.5, 8.5]
    rows = ([(i, TS, 1, "purchase", v, "{}")
             for i, v in enumerate(a_vals)]
            + [(100 + i, TS, 1, "view", v, "{}")
               for i, v in enumerate(b_vals)])
    from openlmis_distributions_etl_spark.operators.analytics import (
        welch_ttest_values)
    r = welch_ttest_values({"events": _events(spark, rows)}).collect()[0]

    def stats(vs):
        q = [int(v * 10000 + 0.5) / 10000 for v in vs]
        n = len(q)
        m = sum(q) / n
        var = sum((x - m) ** 2 for x in q) / (n - 1)
        return n, m, var

    na, ma, va = stats(a_vals)
    nb, mb, vb = stats(b_vals)
    qa, qb = va / na, vb / nb
    t = (ma - mb) / math.sqrt(qa + qb)
    df = (qa + qb) ** 2 / (qa * qa / (na - 1) + qb * qb / (nb - 1))
    assert (r["na"], r["nb"]) == (5, 4)
    assert r["t_stat"] == pytest.approx(t, abs=2e-9)
    assert r["welch_df"] == pytest.approx(df, abs=2e-9)
    assert r["t_stat"] > 2.0     # clearly separated samples


def test_km_survival_textbook_curve(spark):
    """Classic KM hand example: users with observed gaps {2, 2, 5}
    and one censored-at-3 user. Risk sets: t=2 -> n=4, d=2 ->
    S=0.5; t=5 -> n=1, d=1 -> S=0."""
    import datetime as dt
    day = dt.timedelta(days=1)
    rows = [
        # user 1: purchases at d0, d2 -> observed gap 2, then censored
        (1, TS, 1, "purchase", 1.0, "{}"),
        (2, TS + 2 * day, 1, "purchase", 1.0, "{}"),
        # user 2: d0, d2 (gap 2), second censored
        (3, TS, 2, "purchase", 1.0, "{}"),
        (4, TS + 2 * day, 2, "purchase", 1.0, "{}"),
        # user 3: d0, d5 (gap 5) - frontier is d5, so censored gap 0
        (5, TS, 3, "purchase", 1.0, "{}"),
        (6, TS + 5 * day, 3, "purchase", 1.0, "{}"),
        # user 4: single purchase at d2 -> censored gap 3
        (7, TS + 2 * day, 4, "purchase", 1.0, "{}"),
    ]
    from openlmis_distributions_etl_spark.operators.analytics import (
        purchase_gap_survival)
    got = {r["gd"]: r for r in purchase_gap_survival(
        {"events": _events(spark, rows)}).collect()}
    # observed gaps: 2 (x2), 5; censored: u1@3, u2@3, u3@0, u4@3
    # risk at 2 = gaps >= 2 -> {2,2,5,3,3,3} = 6; S(2) = 1 - 2/6
    assert got[2]["n_risk"] == 6 and got[2]["d"] == 2
    assert got[2]["survival"] == pytest.approx(2 / 3, abs=1e-12)
    # risk at 5 = {5} -> 1; S(5) = (1 - 2/6)(1 - 1/1) = 0
    assert got[5]["n_risk"] == 1 and got[5]["d"] == 1
    assert got[5]["survival"] == pytest.approx(0.0, abs=1e-12)
    assert set(got) == {2, 5}


def test_weighted_sample_matches_python_replication(spark):
    """A-ES keys replicated in python (md5 uniforms, ln(u)/w,
    1e-12-unit quantization): identical membership and order."""
    import hashlib
    import math
    rows = [(i, "x " * (10 + 7 * (i % 13)), "en", "web",
             10 + 7 * (i % 13)) for i in range(200)]
    from openlmis_distributions_etl_spark.operators.text import (
        weighted_sample_docs)
    got = [(r["doc_id"], r["key_units"]) for r in weighted_sample_docs(
        {"documents": _docs(spark, rows)}, k=20).collect()]

    def key(doc_id, w):
        u = int(hashlib.md5(f"aes|{doc_id}".encode())
                .hexdigest()[:8], 16) % 1_000_000 + 1
        return math.floor(math.log(u / 1_000_000) / w * 1e12 + 0.5)

    want = sorted(((i, key(i, 10 + 7 * (i % 13))) for i in range(200)),
                  key=lambda kv: (-kv[1], kv[0]))[:20]
    assert got == want


# -- round-7 wave 4 -----------------------------------------------------


def test_cdc_overlap_identical_payloads_full_containment(spark):
    """Identical payloads share every CDC chunk (content-defined
    boundaries are a pure function of the bytes), so the pair scores
    containment 1.0 both ways and jaccard 1.0; an unrelated doc pairs
    with nothing."""
    from openlmis_distributions_etl_spark.operators.multimodal import (
        payload_chunk_overlap_pairs)
    base = "the quick brown fox jumps over the lazy dog " * 20
    other = "completely different bytes with no shared runs " * 20
    rows = [(1, base, "en", "web", len(base)),
            (2, base, "en", "web", len(base)),
            (3, other, "en", "web", len(other))]
    got = payload_chunk_overlap_pairs(
        {"documents": _docs(spark, rows)}).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["doc_a"], r["doc_b"]) == (1, 2)
    assert r["containment_a"] == 1.0 and r["containment_b"] == 1.0
    assert r["chunk_jaccard"] == 1.0


def test_fd_audit_g3_on_crafted_frame(spark):
    """customer frame where c_nationkey 1 maps to two segments (3 rows
    'A', 1 row 'B') and nationkey 2 is clean: g3 = 1 - (3+2)/6."""
    from openlmis_distributions_etl_spark.operators.analytics import (
        functional_dependency_audit)
    cust = spark.createDataFrame(
        [(1, 1, "A"), (2, 1, "A"), (3, 1, "A"), (4, 1, "B"),
         (5, 2, "C"), (6, 2, "C")],
        "c_custkey long, c_nationkey long, c_mktsegment string")
    orders = spark.createDataFrame(
        [(1, 1, "1-URGENT")],
        "o_orderkey long, o_custkey long, o_orderpriority string")
    li = spark.createDataFrame(
        [(1, 1, 1, "O")],
        "l_orderkey long, l_partkey long, l_suppkey long, "
        "l_linestatus string")
    out = {r["fd"]: r for r in functional_dependency_audit(
        {"customer": cust, "orders": orders, "lineitem": li}).collect()}
    r = out["customer_nation_to_segment"]
    assert r["n_rows"] == 6 and r["n_groups"] == 2
    assert r["violating_groups"] == 1
    assert r["g3_error"] == pytest.approx(1 - 5 / 6, abs=1e-15)
    assert out["orders_cust_to_priority"]["g3_error"] == 0.0


# -- round-7 wave 5 -----------------------------------------------------


def test_ushape_attribution_40_20_40(spark):
    """5 clicks then a 100.00 purchase: last and first touch get
    40.00 each, the three middles split 20.00 (6.67/6.66/6.67 with
    the integer remainder on the most recent middle)."""
    from openlmis_distributions_etl_spark.operators.windows import (
        ushape_attribution)
    mins = dt.timedelta(minutes=1)
    rows = [(i, TS + i * mins, 1, "click", 1.0, "{}") for i in range(5)]
    rows.append((9, TS + 10 * mins, 1, "purchase", 100.0, "{}"))
    out = ushape_attribution({"events": _events(spark, rows)}).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_credited_clicks"] == 5 and r["n_purchases"] == 1
    assert r["credited_cents"] == 10000          # cents never leak
    # reconstruct per-touch credits: ends 4000 each, pool 2000 over 3
    # middles = 666 each + remainder 2 on the most recent middle
    assert 2 * 4000 + 666 * 3 + 2 == 10000


def test_ushape_single_and_double_touch(spark):
    from openlmis_distributions_etl_spark.operators.windows import (
        ushape_attribution)
    mins = dt.timedelta(minutes=1)
    rows = [
        (1, TS, 1, "click", 1.0, "{}"),
        (2, TS + mins, 1, "purchase", 99.99, "{}"),     # 1 touch: all
        (3, TS, 2, "click", 1.0, "{}"),
        (4, TS + mins, 2, "click", 1.0, "{}"),
        (5, TS + 2 * mins, 2, "purchase", 0.03, "{}"),  # 2: 1 + 2 cents
    ]
    out = ushape_attribution({"events": _events(spark, rows)}).collect()
    total = sum(r["credited_cents"] for r in out)
    assert total == 9999 + 3                    # exact conservation


def test_conformal_intervals_match_python(spark):
    """Full python replication: md5 split, per-type mean (gridded),
    rank-exact 90% residual quantile, interval endpoints."""
    import hashlib
    import math

    from openlmis_distributions_etl_spark.operators.analytics import (
        conformal_value_intervals)
    rows = [(i, TS, 1, "view", 10.0 + (i % 23) * 0.5, "{}")
            for i in range(120)]
    out = {r["event_type"]: r for r in conformal_value_intervals(
        {"events": _events(spark, rows)}).collect()}
    tr, ca = [], []
    for i in range(120):
        v = int((10.0 + (i % 23) * 0.5) * 10000 + 0.5)
        b = int(hashlib.md5(f"conf|{i}".encode()).hexdigest()[:8],
                16) % 2
        (tr if b == 0 else ca).append(v)
    mean = math.floor(sum(tr) / 10000.0 / len(tr) * 1e9 + 0.5) / 1e9
    resid = sorted(abs(v / 10000.0 - mean) for v in ca)
    k = (9 * (len(ca) + 1) + 9) // 10
    q = resid[k - 1]
    r = out["view"]
    assert r["n_train"] == len(tr) and r["n_calib"] == len(ca)
    assert r["mean_pred"] == mean
    assert r["q_resid"] == q
    assert r["lo"] == mean - q and r["hi"] == mean + q
    # empirical coverage sanity: >= ~90% of calibration inside
    inside = sum(mean - q <= v / 10000.0 <= mean + q for v in ca)
    assert inside / len(ca) >= 0.88


# -- round-7 wave 7: binary quantization --------------------------------

def _embs(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v], i % 3) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>, label int")


def test_bq_words_pack_matches_python(spark):
    """Packed words vs a python reference: bit i = (x_i > mean_i),
    MSB-first within each 32-dim half-word."""
    import random
    rng = random.Random(7)
    vecs = [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(12)]
    got = {r["vec_id"]: (r["w0"], r["w1"])
           for r in similarity._bq_words(
               {"embeddings": _embs(spark, vecs)}).collect()}
    # the engine quantizes to micro-units and compares xu*n > sum(xu)
    q = [[int(__import__("math").floor(float(__import__("numpy")
          .float32(x)) * 1_000_000 + 0.5)) for x in v] for v in vecs]
    n = len(q)
    su = [sum(q[r][d] for r in range(n)) for d in range(64)]
    for r in range(n):
        w0 = w1 = 0
        for d in range(64):
            bit = 1 if q[r][d] * n > su[d] else 0
            if d < 32:
                w0 = w0 * 2 + bit
            else:
                w1 = w1 * 2 + bit
        assert got[r] == (w0, w1), f"vec {r}"


def test_bq_hamming_self_is_zero_and_bounded(spark):
    """A vector's Hamming distance to itself is 0; all distances are
    in [0, 64]; top-k ranks are dense 1..k per query."""
    import random
    rng = random.Random(11)
    vecs = [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(30)]
    out = similarity.knn_bq_hamming(
        {"embeddings": _embs(spark, vecs)}, k=5).collect()
    by_q = {}
    for r in out:
        assert 0 <= r["hamming"] <= 64
        assert r["vec_id"] != r["qid"]
        by_q.setdefault(r["qid"], []).append(r["rnk"])
    for qid, rnks in by_q.items():
        assert sorted(rnks) == [1, 2, 3, 4, 5]


def test_bq_recall_is_one_when_candidates_cover_corpus(spark):
    """With the candidate budget >= corpus size the cascade is exact:
    recall@k must be 1.0 for every query."""
    import random
    rng = random.Random(13)
    vecs = [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(40)]
    t = {"embeddings": _embs(spark, vecs)}
    approx = similarity.knn_bq_rerank(t, k=5, cand=100)
    exact = similarity.knn_batch(t, n_queries=similarity.BQ_QUERIES, k=5)
    a = {(r["qid"], r["vec_id"]) for r in approx.collect()}
    e = {(r["qid"], r["vec_id"]) for r in exact.collect()}
    assert a == e


# -- round-7 wave 8: CCNet buckets / JS drift / weighted median ----------

def test_token_js_drift_matches_full_python_jsd(spark):
    """The operator's OOV-collapse identity vs a python reference that
    computes the FULL JSD sum over the whole vocabulary — proves the
    shortcut is exact, not an approximation (up to the pico-nat grid
    + 1e-9 output grid)."""
    import math
    docs = [
        (0, "a a b c", "en", "s0", 7),
        (1, "a b b d", "en", "s0", 7),
        (2, "c c d e e", "en", "s1", 9),
        (3, "a e", "en", "s1", 3),
    ]
    out = {r["source"]: r for r in text.token_js_drift(
        {"documents": _docs(spark, docs)}).collect()}
    toks = {}
    for _, txt, _, src, _ in docs:
        for w in txt.split():
            toks.setdefault(src, {}).setdefault(w, 0)
            toks[src][w] += 1
    corpus: dict[str, int] = {}
    for d in toks.values():
        for w, c in d.items():
            corpus[w] = corpus.get(w, 0) + c
    n_tot = sum(corpus.values())
    for src, d in toks.items():
        n_s = sum(d.values())
        jsd = 0.0
        for w, ct in corpus.items():
            p = d.get(w, 0) / n_s
            q = ct / n_tot
            m = (p + q) / 2.0
            if p > 0:
                jsd += p / 2.0 * math.log(p / m)
            if q > 0:
                jsd += q / 2.0 * math.log(q / m)
        got = out[src]
        assert got["n_tokens"] == n_s
        assert got["vocab_overlap"] == len(d)
        assert abs(got["jsd_nats"] - jsd) < 1e-6
        assert 0.0 <= got["jsd_nats"] <= math.log(2.0) + 1e-9


def test_ccnet_buckets_are_tertiles(spark):
    """Bucket populations per lang are ⌈n/3⌉-balanced (up to fence
    ties) and ordered: every head score >= every middle >= every
    tail."""
    import random
    rng = random.Random(5)
    words = ["w%d" % i for i in range(30)]
    docs = []
    for i in range(30):
        txt = " ".join(rng.choice(words) for _ in range(12))
        docs.append((i, txt, "en" if i % 2 else "de", "s0", len(txt)))
    out = text.ccnet_perplexity_buckets(
        {"documents": _docs(spark, docs)}).collect()
    by_lang: dict[str, dict[str, tuple]] = {}
    for r in out:
        by_lang.setdefault(r["lang"], {})[r["bucket"]] = (
            r["n_docs"], r["min_score"], r["max_score"])
    for lang, b in by_lang.items():
        n = sum(v[0] for v in b.values())
        assert n == 15
        order = [x for x in ("tail", "middle", "head") if x in b]
        for lo, hi in zip(order, order[1:]):
            assert b[lo][2] <= b[hi][1], (lang, b)


def test_weighted_median_matches_python(spark):
    rows = [
        # flag, price, qty
        ("A", 1.00, 1.0), ("A", 2.00, 10.0), ("A", 3.00, 1.0),
        ("N", 5.00, 1.0), ("N", 6.00, 1.0), ("N", 7.00, 1.0),
        ("N", 8.00, 1.0),
    ]
    df = spark.createDataFrame(
        [(i, i, i, i, q, p, 0.0, 0.0, f, "O", TS)
         for i, (f, p, q) in enumerate(rows)],
        "l_orderkey long, l_partkey long, l_suppkey long, "
        "l_linenumber int, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, l_shipdate timestamp")
    from openlmis_distributions_etl_spark.operators.analytics import (
        weighted_price_median_by_flag)
    out = {r["l_returnflag"]: r
           for r in weighted_price_median_by_flag(
               {"lineitem": df}).collect()}
    # A: weights 1,10,1 → total 12, target (12+1)//2=6 → cum at 2.00
    # is 11 >= 6 → weighted median 2.00; row median of 3 rows → 2.00
    assert out["A"]["total_qty"] == 12
    assert out["A"]["weighted_median_price"] == 2.00
    assert out["A"]["row_median_price"] == 2.00
    # N: uniform weights → both medians the 2nd of 4 = 6.00
    assert out["N"]["weighted_median_price"] == 6.00
    assert out["N"]["row_median_price"] == 6.00


# -- round-7 wave 11: JL distortion / join-size estimate ----------------

def test_jl_distortion_concentrates_near_one(spark):
    """E[ratio] = 1 for ±1 sign projections: the sampled mean must sit
    near 1 and every ratio must be positive."""
    import random
    rng = random.Random(3)
    vecs = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(40)]
    r = similarity.jl_projection_distortion(
        {"embeddings": _embs(spark, vecs)}).collect()[0]
    assert r["n_pairs"] == 40 * 39 // 2
    assert 0 < r["min_ratio"] <= r["mean_ratio"] <= r["max_ratio"]
    assert 0.5 < r["mean_ratio"] < 1.5
    assert r["share_within_30pct"] > 0.5


def test_join_cardinality_exact_matches_python(spark):
    """Exact join rows and the textbook estimate on a hand-built skewed
    key distribution."""
    from openlmis_distributions_etl_spark.operators.analytics import (
        join_cardinality_estimate)
    orders = spark.createDataFrame(
        [(k,) for k in [1, 1, 1, 2, 3]], "o_orderkey long")
    lineitem = spark.createDataFrame(
        [(k,) for k in [1, 1, 2, 4]], "l_orderkey long")
    r = join_cardinality_estimate(
        {"orders": orders, "lineitem": lineitem}).collect()[0]
    # exact: k=1 -> 3*2=6, k=2 -> 1*1=1 => 7
    assert r["exact_join_rows"] == 7
    assert (r["n_left"], r["n_right"]) == (5, 4)
    assert (r["v_left"], r["v_right"]) == (3, 3)
    # estimate: 5*4/max(3,3) = 6.67 -> 7 rounded
    assert r["estimate_rows"] == 7


# -- round-7 wave 18: time-decay attribution -----------------------------

def test_time_decay_attribution_conserves_and_orders(spark):
    """Credit conservation is exact (sum of day credits = purchase
    cents) and more recent touches earn strictly more credit when
    gaps differ."""
    import datetime as _dt
    base = _dt.datetime(2024, 1, 10, 12, 0, 0)
    rows = [
        # three clicks 3d/2d/1h before one 100.00 purchase
        (1, base - _dt.timedelta(days=3), 7, "click", 1.0, "{}"),
        (2, base - _dt.timedelta(days=2), 7, "click", 1.0, "{}"),
        (3, base - _dt.timedelta(hours=1), 7, "click", 1.0, "{}"),
        (4, base, 7, "purchase", 100.00, "{}"),
    ]
    from openlmis_distributions_etl_spark.operators.windows import (
        time_decay_attribution)
    out = time_decay_attribution(
        {"events": _events(spark, rows)}).collect()
    assert sum(r["credited_cents"] for r in out) == 10_000
    by_day = {r["day"]: r["credited_cents"] for r in out}
    days = sorted(by_day)        # older day first
    assert by_day[days[0]] < by_day[days[1]] < by_day[days[2]]
    # half-life sanity: the 3d-out click earns about half the 2d-out
    assert 0.4 < by_day[days[0]] / by_day[days[1]] < 0.6


def test_ccnet_sampling_plan_accounts_for_unscored_docs(spark):
    """ADVICE r7: docs with <2 tokens have no scored bigram; the plan
    must surface them under 'unscored_short' so the decision table
    accounts for EVERY document and token_mass sums to the corpus
    total."""
    from openlmis_distributions_etl_spark.operators.text import (
        ccnet_sampling_plan)

    rows = [
        (1, "alpha beta gamma alpha beta", "en", "web", 27),
        (2, "alpha beta alpha beta alpha", "en", "web", 27),
        (3, "gamma gamma gamma beta alpha", "en", "web", 28),
        (4, "solo", "en", "web", 4),          # 1 token -> unscored
        (5, "", "en", "web", 0),              # 0 tokens -> unscored
    ]
    out = ccnet_sampling_plan({"documents": _docs(spark, rows)}) \
        .collect()
    by_dec = {}
    for r in out:
        by_dec.setdefault(r["decision"], [0, 0])
        by_dec[r["decision"]][0] += r["n_docs"]
        by_dec[r["decision"]][1] += r["token_mass"]
    assert by_dec.get("unscored_short", [0, 0])[0] == 2
    assert by_dec["unscored_short"][1] == 1  # 'solo' only
    assert sum(v[0] for v in by_dec.values()) == len(rows)
    total_tokens = sum(len(t.split()) for _, t, *_ in rows)
    assert sum(v[1] for v in by_dec.values()) == total_tokens


def test_daily_trend_pair_ops_fence_day_span(spark, monkeypatch):
    """VERDICT r7 task 9: past TS_PAIR_DAY_BOUND distinct days the
    O(n^2) slope/sign pair cloud stops being calendar-small — both
    pair ops must raise loudly instead of scheduling it. Under the
    bound they run normally."""
    import datetime as dt

    import pytest as _pytest
    from openlmis_distributions_etl_spark.operators import analytics

    def orders(n_days):
        rows = [(i, i % 7, "O", 100.0 + i,
                 dt.date(2024, 1, 1) + dt.timedelta(days=i), "1-URGENT")
                for i in range(n_days)]
        return spark.createDataFrame(
            rows, "o_orderkey long, o_custkey long, o_orderstatus "
                  "string, o_totalprice double, o_orderdate date, "
                  "o_orderpriority string")

    monkeypatch.setattr(analytics, "TS_PAIR_DAY_BOUND", 5)
    ok = analytics.theil_sen_daily_trend({"orders": orders(4)}).collect()
    assert ok[0]["n_days"] == 4
    with _pytest.raises(Exception, match="pair-cloud bound"):
        analytics.theil_sen_daily_trend({"orders": orders(10)}).collect()
    with _pytest.raises(Exception, match="pair-cloud bound"):
        analytics.mann_kendall_trend({"orders": orders(10)}).collect()


def test_beam_index_memo_drops_dead_session_entries(spark):
    """ADVICE r8: the beam serving memo is keyed by (SparkSession,
    semanticHash); entries bound to another (dead) session are dropped
    on sight instead of serving persisted frames whose blocks died
    with that session, and the adjacency page cache resets past its
    bound instead of growing forever."""
    from openlmis_distributions_etl_spark.operators import similarity

    class _DeadSession:                     # stands in for a stopped
        pass                                # SparkSession object

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0, 0.5], i % 2) for i in range(30)],
        "vec_id long, embedding array<float>, label int")
    dead = _DeadSession()
    similarity._BEAM_INDEX_MEMO.clear()
    similarity._BEAM_INDEX_MEMO[(dead, 12345)] = ("stale", "stale", {})
    edges, probe, adj = similarity._beam_serving_index(
        {"embeddings": emb})
    keys = list(similarity._BEAM_INDEX_MEMO)
    assert all(k[0] is not dead for k in keys), \
        "dead-session entry must be evicted"
    assert len(keys) == 1 and keys[0][0] is spark
    # same session + same store -> memo hit (identity, not a rebuild)
    edges2, probe2, adj2 = similarity._beam_serving_index(
        {"embeddings": emb})
    assert edges2 is edges and probe2 is probe and adj2 is adj
    # adjacency page cache resets past the bound
    adj.clear()
    adj.update({i: [] for i in
                range(similarity._BEAM_ADJ_CACHE_MAX + 1)})
    got = similarity._beam_adjacency(edges, adj, [0])
    assert set(got) == {0}
    assert len(adj) <= similarity._BEAM_ADJ_CACHE_MAX
    edges.unpersist()
    probe.unpersist()
    similarity._BEAM_INDEX_MEMO.clear()
