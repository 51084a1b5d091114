"""Streaming jobs vs their batch twins (availableNow over the events
parquet → memory sink → exact comparison)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF0001

from openlmis_distributions_etl_spark.functions.bands import explode_bands
from openlmis_distributions_etl_spark.operators import windows
from openlmis_distributions_etl_spark.sources import load_tables
from openlmis_distributions_etl_spark.streaming import jobs


def _run_available_now(df, name: str, spark, output_mode: str):
    q = (df.writeStream.format("memory").queryName(name)
         .outputMode(output_mode)
         .trigger(availableNow=True)
         .start())
    assert q.awaitTermination(120), "stream did not finish in time"
    return spark.table(name).toPandas()


def _sorted(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def test_windowed_counts_stream_matches_batch(spark):
    events = jobs.read_events_stream(spark, SF0001)
    got = _run_available_now(
        jobs.windowed_event_counts_stream(events), "win_counts", spark,
        "complete")
    want = windows.windowed_event_counts(
        load_tables(spark, SF0001, "events")).toPandas()
    pd.testing.assert_frame_equal(_sorted(got), _sorted(want))


def test_sessionize_stream_matches_batch(spark):
    events = jobs.read_events_stream(spark, SF0001)
    got = _run_available_now(
        jobs.sessionize_stream(events), "sess_stream", spark, "append")
    want = windows.sessionize_events(
        load_tables(spark, SF0001, "events")).toPandas()
    pd.testing.assert_frame_equal(
        _sorted(got), _sorted(want), check_dtype=False)


def test_stream_to_parquet_sink(spark, tmp_path):
    events = jobs.read_events_stream(spark, SF0001)
    # complete-mode aggregates can't feed the append-only file sink;
    # write the raw enriched stream instead
    q = jobs.stream_to_parquet(
        events.selectExpr("event_id", "user_id", "event_type"),
        str(tmp_path / "out"), str(tmp_path / "ck"))
    assert q.awaitTermination(120), "stream did not finish in time"
    back = spark.read.parquet(str(tmp_path / "out"))
    assert back.count() == 1000


def test_stream_upsert_latest_matches_batch(spark, tmp_path):
    events = jobs.read_events_stream(spark, SF0001)
    q = jobs.stream_upsert_latest(events, str(tmp_path / "snap"),
                                  str(tmp_path / "ck"))
    assert q.awaitTermination(120), "stream did not finish in time"
    got = jobs.read_latest_snapshot(spark, str(tmp_path / "snap")) \
        .select("user_id", "event_id").toPandas()
    want = windows.latest_event_per_user(
        load_tables(spark, SF0001, "events")) \
        .select("user_id", "event_id").toPandas()
    pd.testing.assert_frame_equal(_sorted(got), _sorted(want))


def test_dedup_events_stream_removes_duplicates(spark, tmp_path):
    # duplicate the source file so every event arrives twice
    import shutil
    src = tmp_path / "dup_src"
    src.mkdir()
    shutil.copy(f"{SF0001}/events.parquet", src / "events.parquet")
    shutil.copy(f"{SF0001}/events.parquet", src / "events_copy.parquet")
    events = jobs.read_events_stream(spark, str(src), glob="*.parquet")
    deduped = jobs.dedup_events_stream(events)
    q = (deduped.writeStream.format("memory").queryName("dedup_stream")
         .outputMode("append").trigger(availableNow=True).start())
    assert q.awaitTermination(120), "stream did not finish in time"
    assert spark.table("dedup_stream").count() == 1000  # not 2000


def test_stream_static_snapshot_dedup_matches_batch(spark):
    from openlmis_distributions_etl_spark.operators import dedup

    t = load_tables(spark, SF0001, "documents")
    snapshot = t["documents"].where(F.pmod("doc_id", F.lit(5)) != 0)
    stream = (jobs.read_documents_stream(spark, SF0001)
              .where(F.pmod("doc_id", F.lit(5)) == 0))
    got = _run_available_now(
        jobs.dedup_docs_against_snapshot(stream, snapshot),
        "snap_dedup", spark, "append")
    want = {r["doc_id"] for r in dedup.incremental_dedup(t).collect()
            if r["is_dup"] == 0}
    assert set(got["doc_id"]) == want and len(got) == len(want)


def test_read_documents_stream_directory_layout(spark, tmp_path):
    """The writer layout (documents.parquet as a DIRECTORY of part
    files) must stream every row — the round-2 leaf-glob formulation
    silently matched nothing on this layout."""
    src = tmp_path / "corpus"
    (spark.read.parquet(f"{SF0001}/documents.parquet")
     .repartition(3)
     .write.parquet(str(src / "documents.parquet")))
    got = _run_available_now(
        jobs.read_documents_stream(spark, str(src)).select("doc_id"),
        "docs_dir_stream", spark, "append")
    assert len(got) == spark.read.parquet(
        f"{SF0001}/documents.parquet").count()


def test_sliding_window_stream_matches_batch(spark):
    events = jobs.read_events_stream(spark, SF0001)
    got = _run_available_now(
        jobs.sliding_window_counts_stream(events), "slide_counts", spark,
        "complete")
    want = windows.sliding_window_event_counts(
        load_tables(spark, SF0001, "events")).toPandas()
    pd.testing.assert_frame_equal(_sorted(got), _sorted(want))


def test_stream_stream_join_matches_batch(spark):
    events = jobs.read_events_stream(spark, SF0001)
    got = _run_available_now(
        jobs.signup_purchase_join_stream(events), "ss_join", spark,
        "append")
    ev = load_tables(spark, SF0001, "events")["events"]
    s = (ev.where(F.col("event_type") == "signup")
         .select(F.col("user_id").alias("s_user"),
                 F.col("ts").alias("s_ts"),
                 F.col("event_id").alias("s_event")))
    p = (ev.where(F.col("event_type") == "purchase")
         .select(F.col("user_id").alias("p_user"),
                 F.col("ts").alias("p_ts"),
                 F.col("event_id").alias("p_event"),
                 F.col("value").alias("p_value")))
    want = (s.join(p, (F.col("s_user") == F.col("p_user"))
                   & (F.col("p_ts") >= F.col("s_ts"))
                   & (F.col("p_ts") <= F.col("s_ts")
                      + F.expr("INTERVAL 30 MINUTES")))
            .select(F.col("s_user").alias("user_id"), "s_event", "p_event",
                    F.unix_micros("s_ts").alias("s_ts_us"),
                    F.unix_micros("p_ts").alias("p_ts_us"), "p_value")
            ).toPandas()
    assert len(want) > 0, "batch twin matched no signup->purchase pairs"
    pd.testing.assert_frame_equal(_sorted(got), _sorted(want))


def test_quality_filter_stream_matches_batch(spark):
    from openlmis_distributions_etl_spark.operators import text

    got = _run_available_now(
        jobs.quality_filter_stream(jobs.read_documents_stream(spark, SF0001)),
        "qual_stream", spark, "append")
    t = load_tables(spark, SF0001, "documents")
    want = (text.doc_quality_filters(t, passthrough=("lang", "source"))
            .where(F.col("keep") == 1)
            .select("doc_id", "lang", "source", "n_tokens")).toPandas()
    assert len(want) > 0
    pd.testing.assert_frame_equal(_sorted(got), _sorted(want))


def test_daily_active_users_stream_matches_batch(spark):
    got = _run_available_now(
        jobs.daily_active_users_stream(jobs.read_events_stream(spark, SF0001)),
        "dau_stream", spark, "complete")
    want = (windows.daily_active_users(load_tables(spark, SF0001, "events"))
            .select("day", "dau")).toPandas()
    pd.testing.assert_frame_equal(_sorted(got), _sorted(want))


def test_stream_append_versioned_exactly_once(spark, tmp_path):
    from openlmis_distributions_etl_spark.sources.versioned import (
        read_versioned, versions, write_versioned)

    events = jobs.read_events_stream(spark, SF0001)
    tbl = str(tmp_path / "vtab")
    ck = str(tmp_path / "ck")
    q = jobs.stream_append_versioned(
        events.select("event_id", "user_id"), tbl, ck)
    assert q.awaitTermination(120)
    n_versions = len(versions(tbl))
    assert read_versioned(spark, tbl).count() == 1000
    # replaying the same batch id must be a no-op (checkpoint-recovery
    # double delivery)
    v = write_versioned(spark.range(5).toDF("event_id"), tbl,
                        mode="append", txn="stream-0")
    assert v in versions(tbl) and len(versions(tbl)) == n_versions
    assert read_versioned(spark, tbl).count() == 1000
    # a NEW txn does append
    write_versioned(read_versioned(spark, tbl).limit(7), tbl,
                    mode="append", txn="backfill-1")
    assert read_versioned(spark, tbl).count() == 1007


def test_session_window_stream_matches_batch(spark):
    got = _run_available_now(
        jobs.session_window_stats_stream(jobs.read_events_stream(spark, SF0001)),
        "sess_win_stream", spark, "complete")
    want = windows.session_window_stats(
        load_tables(spark, SF0001, "events")).toPandas()
    assert len(want) > 0
    pd.testing.assert_frame_equal(_sorted(got), _sorted(want))


def test_bloom_gate_stream_matches_batch(spark):
    """Bloom-gated streaming dedup must equal the plain stream-static
    answer (no-false-negative invariant end-to-end): same fresh set as
    incremental_dedup's is_dup=0."""
    from openlmis_distributions_etl_spark.operators import dedup

    t = load_tables(spark, SF0001, "documents")
    snapshot = t["documents"].where(F.pmod("doc_id", F.lit(5)) != 0)
    stream = (jobs.read_documents_stream(spark, SF0001)
              .where(F.pmod("doc_id", F.lit(5)) == 0))
    got = _run_available_now(
        jobs.bloom_gate_stream(stream, snapshot),
        "bloom_gate", spark, "append")
    want = {r["doc_id"] for r in dedup.incremental_dedup(t).collect()
            if r["is_dup"] == 0}
    assert set(got["doc_id"]) == want and len(got) == len(want)


def test_bloom_gate_stream_catches_planted_dups(spark, tmp_path):
    """Positive-branch end-to-end: a stream carrying true duplicates
    of snapshot content must drop exactly those docs (Bloom positive →
    exact verify), while fresh docs pass through either branch."""
    snapshot = spark.createDataFrame(
        [(i, f"snapshot doc number {i}", "en", "s", 20)
         for i in range(1, 40)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long")
    incoming = spark.createDataFrame(
        [(100, "snapshot doc number 7", "en", "s", 21),   # dup
         (101, "snapshot doc number 23", "en", "s", 22),  # dup
         (102, "genuinely new content a", "en", "s", 23),
         (103, "genuinely new content b", "en", "s", 23)],
        snapshot.schema)
    src = tmp_path / "incoming"
    incoming.write.parquet(str(src / "documents.parquet"))
    stream = jobs.read_documents_stream(spark, str(src))
    got = _run_available_now(
        jobs.bloom_gate_stream(stream, snapshot),
        "bloom_gate_planted", spark, "append")
    assert set(got["doc_id"]) == {102, 103}


def test_countmin_stream_cells_match_batch(spark):
    """The streamed sketch must equal the batch sketch at the cut:
    estimates rebuilt from the streamed cells match token_countmin_topk
    for every exact-top-k token."""
    from openlmis_distributions_etl_spark.operators import text

    stream = jobs.read_documents_stream(spark, SF0001)
    got = _run_available_now(
        jobs.countmin_cells_stream(stream), "cm_stream", spark, "complete")
    cm = {int(r["idx"]): int(r["cnt"]) for _, r in got.iterrows()}
    t = load_tables(spark, SF0001, "documents")
    for r in text.token_countmin_topk(t).collect():
        est = min(cm.get(j * text.CM_WIDTH + _cm_idx(r["token"], j), 0)
                  for j in range(text.CM_ROWS))
        assert est == r["n_est"], r["token"]


def _cm_idx(token: str, j: int) -> int:
    import hashlib
    h = hashlib.md5(f"cm{j}|{token}".encode()).hexdigest()[:8]
    return int(h, 16) % 64


def test_zscore_gate_stream_matches_batch(spark):
    """The streamed alert set must equal the batch z-score outliers
    when history = the same corpus the stream replays (stats from
    identical exact moments → identical flags)."""
    from openlmis_distributions_etl_spark.operators import analytics

    t = load_tables(spark, SF0001, "events")
    stream = jobs.read_events_stream(spark, SF0001)
    got = _run_available_now(
        jobs.zscore_gate_stream(stream, t["events"]),
        "z_gate", spark, "append")
    want = {r["event_id"]
            for r in analytics.event_value_zscores(t).collect()}
    assert set(got["event_id"]) == want and len(got) == len(want)


def test_sample_gate_stream_matches_batch(spark):
    from openlmis_distributions_etl_spark.operators import text

    got = _run_available_now(
        jobs.sample_gate_stream(jobs.read_documents_stream(spark, SF0001)),
        "sample_gate_stream", spark, "append")
    want = text.deterministic_sample(
        load_tables(spark, SF0001, "documents")).toPandas()
    assert 0 < len(want) < 500  # the gate actually filters
    pd.testing.assert_frame_equal(_sorted(got), _sorted(want))


def test_stream_maintain_rollup_matches_batch(spark, tmp_path):
    from openlmis_distributions_etl_spark.plans.star import (
        month_segment_rollup as _month_segment_rollup)
    from openlmis_distributions_etl_spark.sources.versioned import (
        read_versioned)

    t = load_tables(spark, SF0001)
    orders, customer = t["orders"], t["customer"]
    src = str(tmp_path / "src")
    # two source files → two micro-batches under maxFilesPerTrigger=1
    orders.where(F.col("o_orderkey") % 2 == 0).coalesce(1) \
        .write.parquet(src)
    orders.where(F.col("o_orderkey") % 2 == 1).coalesce(1) \
        .write.mode("append").parquet(src)
    stream = (spark.readStream.schema(orders.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = jobs.stream_maintain_rollup(
        stream, str(tmp_path / "fact"), str(tmp_path / "rollup"),
        customer, str(tmp_path / "ck"))
    q.awaitTermination(180)

    got = read_versioned(spark, str(tmp_path / "rollup")).toPandas()
    want = _month_segment_rollup(orders, customer).toPandas()
    pd.testing.assert_frame_equal(_sorted(got), _sorted(want))
    # the fact holds exactly the streamed rows
    assert read_versioned(spark, str(tmp_path / "fact")).count() \
        == orders.count()


def test_psi_bucket_counts_stream_matches_batch(spark):
    """The streamed per-(hour, bucket) counts and baseline shares must
    equal the batch psi_windowed projection when history = the corpus
    the stream replays."""
    from openlmis_distributions_etl_spark.operators import analytics

    t = load_tables(spark, SF0001, "events")
    stream = jobs.read_events_stream(spark, SF0001)
    got = _run_available_now(
        jobs.psi_bucket_counts_stream(stream, t["events"]),
        "psi_counts", spark, "complete")
    want = (analytics.psi_windowed(t)
            .select("hour", "bucket", "n_cur", "n_base", "p_base")
            .toPandas())
    pd.testing.assert_frame_equal(_sorted(got), _sorted(want))


def test_psi_stream_empty_baseline_raises(spark):
    """An empty baseline (no click events in history) must fail loudly
    at setup — NULL decile fences would silently bucket everything to
    0 (the batch CASE semantics) with n_base undefined."""
    from openlmis_distributions_etl_spark.sources import load_tables
    t = load_tables(spark, SF0001, "events")
    empty_hist = t["events"].where(F.lit(False))
    stream = jobs.read_events_stream(spark, SF0001)
    with pytest.raises(ValueError, match="no baseline"):
        jobs.psi_bucket_counts_stream(stream, empty_hist)


def test_ks_bucket_gap_stream_matches_batch(spark):
    """Streamed per-(hour, bucket) counts, finished with the shared
    _ksw_finish transform, must equal the batch ks_windowed report
    when history = the corpus the stream replays."""
    from openlmis_distributions_etl_spark.operators import analytics

    t = load_tables(spark, SF0001, "events")
    stream = jobs.read_events_stream(spark, SF0001)
    got_counts = _run_available_now(
        jobs.ks_bucket_gap_stream(stream, t["events"]),
        "ks_counts", spark, "complete")
    # rebuild the baseline grid from the same history and apply the
    # exact finishing transform the batch query uses
    _, bgrid = analytics._ksw_base_grid(t)
    counts_df = spark.createDataFrame(
        got_counts[["hour", "bucket", "n_cur"]])
    got = analytics._ksw_finish(counts_df, bgrid).toPandas()
    want = analytics.ks_windowed(t).toPandas()
    pd.testing.assert_frame_equal(_sorted(got), _sorted(want))
    # the streamed ba/na literals equal the grid's values
    grid = {r["bucket"]: (r["ba"], r["na"]) for r in bgrid.collect()}
    for _, row in got_counts.iterrows():
        assert grid[row["bucket"]] == (row["ba"], row["na"])


def test_stream_maintain_components_matches_batch(spark, tmp_path):
    """Streaming star-edge-compacted CC over two micro-batches must
    converge to the same labels as batch connected components on the
    full edge set — including singleton nodes from the static
    universe."""
    from openlmis_distributions_etl_spark.operators import dedup
    from openlmis_distributions_etl_spark.sources.versioned import (
        read_versioned)

    t = load_tables(spark, SF0001, "documents")
    pairs = dedup.minhash_lsh_pairs(t).selectExpr(
        "doc_a AS src", "doc_b AS dst")
    src_dir = tmp_path / "edges"
    # two source files → two micro-batches under maxFilesPerTrigger=1
    pairs.where(F.col("src") % 2 == 0).coalesce(1) \
        .write.parquet(str(src_dir))
    pairs.where(F.col("src") % 2 == 1).coalesce(1) \
        .write.mode("append").parquet(str(src_dir))
    nodes = t["documents"].selectExpr("doc_id AS node")
    stream = (spark.readStream.schema("src long, dst long")
              .option("maxFilesPerTrigger", 1).parquet(str(src_dir)))
    q = jobs.stream_maintain_components(
        stream, str(tmp_path / "labels"), str(tmp_path / "ck"),
        nodes=nodes)
    assert q.awaitTermination(240), "stream did not finish in time"

    got = sorted(map(tuple, read_versioned(
        spark, str(tmp_path / "labels")).collect()))
    want = sorted(map(tuple, dedup.connected_components(
        pairs, nodes).collect()))
    assert got == want and len(got) == nodes.count()


def test_first_seen_store_matches_batch(spark, tmp_path):
    events = jobs.read_events_stream(spark, SF0001)
    store = str(tmp_path / "first_seen")
    ck = str(tmp_path / "ck_fs")
    q = jobs.stream_maintain_first_seen(events, store, ck)
    assert q.awaitTermination(120)
    snap = jobs.read_latest_snapshot(spark, store)
    got = (snap.groupBy("day")
           .agg(F.count(F.lit(1)).alias("new_users"))
           .toPandas())
    want = (windows.cumulative_distinct_users(
        load_tables(spark, SF0001, "events"))
        .select("day", "new_users").toPandas())
    pd.testing.assert_frame_equal(_sorted(got), _sorted(want))
    # replaying into the same store converges (min-of-mins idempotent)
    ck2 = str(tmp_path / "ck_fs2")
    q2 = jobs.stream_maintain_first_seen(
        jobs.read_events_stream(spark, SF0001), store, ck2)
    assert q2.awaitTermination(120)
    again = (jobs.read_latest_snapshot(spark, store)
             .groupBy("day").agg(F.count(F.lit(1)).alias("new_users"))
             .toPandas())
    pd.testing.assert_frame_equal(_sorted(again), _sorted(got))


def test_chi2_cells_stream_matches_batch(spark):
    """Streamed per-(hour, type, segment) counts, finished with
    chi2_cells_finish, must equal the same finish applied to a batch
    groupBy of the corpus the stream replays — and within any single
    hour the cell math must match the global chi2_event_segments
    formula shape (same expressions, hour-partitioned)."""
    from openlmis_distributions_etl_spark.operators.analytics import \
        CHI2_SEGMENTS

    t = load_tables(spark, SF0001, "events")
    stream = jobs.read_events_stream(spark, SF0001)
    # the finish is window functions → not allowed on a streaming DF;
    # it runs on the SINK output (the documented consumer contract)
    _run_available_now(jobs.chi2_cells_stream(stream),
                       "chi2_cells", spark, "complete")
    got = jobs.chi2_cells_finish(spark.table("chi2_cells")).toPandas()
    batch_cells = (t["events"]
                   .groupBy(F.date_format(F.date_trunc("hour", "ts"),
                                          "yyyy-MM-dd HH:00")
                            .alias("hour"),
                            F.col("event_type"),
                            F.pmod("user_id", F.lit(CHI2_SEGMENTS))
                            .cast("int").alias("segment"))
                   .agg(F.count(F.lit(1)).alias("n_obs")))
    want = jobs.chi2_cells_finish(batch_cells).toPandas()
    pd.testing.assert_frame_equal(_sorted(got), _sorted(want))


def test_stream_maintain_join_view_matches_batch(spark, tmp_path):
    """Two micro-batches of orders, with an out-of-band customer SCD
    update between them, must leave the view equal to the full
    recompute against the final snapshots — the dimension delta folds
    in through the customer cursor on the SECOND batch."""
    from openlmis_distributions_etl_spark.plans.incremental import (
        _order_customer_view)
    from openlmis_distributions_etl_spark.sources.versioned import (
        merge_upsert_versioned, read_versioned, write_versioned)

    t = load_tables(spark, SF0001)
    orders, customer = t["orders"], t["customer"]
    cp = str(tmp_path / "customer")
    write_versioned(customer, cp)
    src = str(tmp_path / "src")
    orders.where(F.col("o_orderkey") % 2 == 0).coalesce(1) \
        .write.parquet(src)
    stream = (spark.readStream.schema(orders.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = jobs.stream_maintain_join_view(
        stream, str(tmp_path / "fact"), cp, str(tmp_path / "view"),
        str(tmp_path / "ck"))
    q.awaitTermination(180)

    # out-of-band SCD update + a second ingest file, then resume
    flipped = (customer.where(F.col("c_custkey") % 7 == 0)
               .withColumn("c_mktsegment", F.lit("FLIPPED")))
    merge_upsert_versioned(spark, cp, flipped, ["c_custkey"])
    orders.where(F.col("o_orderkey") % 2 == 1).coalesce(1) \
        .write.mode("append").parquet(src)
    stream2 = (spark.readStream.schema(orders.schema)
               .option("maxFilesPerTrigger", 1).parquet(src))
    q2 = jobs.stream_maintain_join_view(
        stream2, str(tmp_path / "fact"), cp, str(tmp_path / "view"),
        str(tmp_path / "ck"))
    q2.awaitTermination(180)

    got = read_versioned(spark, str(tmp_path / "view")).toPandas()
    want = _order_customer_view(
        read_versioned(spark, str(tmp_path / "fact")),
        read_versioned(spark, cp)).toPandas()
    assert (got["c_mktsegment"] == "FLIPPED").any()
    pd.testing.assert_frame_equal(_sorted(got), _sorted(want))


def test_bounce_stream_matches_batch(spark):
    """Streamed per-session counts, rolled up with bounce_rate_finish,
    must equal the batch session_bounce_rate (gap sessionizer and
    native session_window define the same 30-minute sessions)."""
    t = load_tables(spark, SF0001, "events")
    stream = jobs.read_events_stream(spark, SF0001)
    _run_available_now(jobs.bounce_sessions_stream(stream),
                       "bounce_sessions", spark, "complete")
    got = jobs.bounce_rate_finish(
        spark.table("bounce_sessions")).toPandas()
    want = windows.session_bounce_rate(t).toPandas()
    pd.testing.assert_frame_equal(_sorted(got), _sorted(want))


def test_benford_stream_matches_batch(spark):
    """Streamed hourly digit counts, finished post-sink, must equal
    the same digit/window math computed in batch."""
    t = load_tables(spark, SF0001, "events")
    stream = jobs.read_events_stream(spark, SF0001)
    _run_available_now(jobs.benford_counts_stream(stream),
                       "benford_counts", spark, "complete")
    got = jobs.benford_finish(spark.table("benford_counts")).toPandas()
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    batch = (t["events"]
             .where(F.col("value").isNotNull() & (F.col("value") > 0))
             .groupBy(F.date_format(F.date_trunc("hour", "ts"),
                                    "yyyy-MM-dd HH:00").alias("hour"),
                      F.substring(cents.cast("string"), 1, 1)
                      .cast("int").alias("digit"))
             .agg(F.count(F.lit(1)).alias("n")))
    want = jobs.benford_finish(batch).toPandas()
    pd.testing.assert_frame_equal(_sorted(got), _sorted(want))


def test_stream_gate_expectations_quarantines_bad_batch(spark, tmp_path):
    """A micro-batch with a planted violation must divert whole to
    quarantine (with the failing rule named); the clean batch must
    land in the versioned table."""
    from openlmis_distributions_etl_spark.sources.versioned import (
        read_versioned)

    t = load_tables(spark, SF0001)
    orders = t["orders"]
    good = orders.where(F.col("o_orderkey") % 2 == 0)
    bad = (orders.where(F.col("o_orderkey") % 2 == 1)
           .withColumn("o_totalprice",
                       F.when(F.col("o_orderkey") % 101 == 1,
                              F.lit(-1.0))
                       .otherwise(F.col("o_totalprice"))))
    src = str(tmp_path / "src")
    good.coalesce(1).write.parquet(src)
    bad.coalesce(1).write.mode("append").parquet(src)
    stream = (spark.readStream.schema(orders.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    rules = [("not_null", "o_orderkey"),
             ("range", "o_totalprice", 0.0, 1e9)]
    q = jobs.stream_gate_expectations(
        stream, rules, str(tmp_path / "table"),
        str(tmp_path / "quarantine"), str(tmp_path / "ck"))
    q.awaitTermination(180)

    landed = read_versioned(spark, str(tmp_path / "table"))
    assert landed.count() == good.count()
    quar = spark.read.parquet(str(tmp_path / "quarantine"))
    assert quar.count() == bad.count()
    assert quar.select("_failed_rules").distinct().collect()[0][0] \
        == "range:o_totalprice"


def test_stream_user_sketches_match_batch(spark, tmp_path):
    """Streamed sketch maintenance must leave per-day (and rolled-up
    monthly) estimates identical to batch-building the sketches over
    all events — HLL union is lossless."""
    from openlmis_distributions_etl_spark.plans.incremental import (
        build_daily_user_sketches, monthly_distinct_from_sketches)
    from openlmis_distributions_etl_spark.sources.versioned import (
        read_versioned)

    t = load_tables(spark, SF0001, "events")
    stream = jobs.read_events_stream(spark, SF0001)
    q = jobs.stream_maintain_user_sketches(
        stream, str(tmp_path / "sketches"), str(tmp_path / "ck"))
    q.awaitTermination(180)

    stored = read_versioned(spark, str(tmp_path / "sketches"))
    got = {r["month"]: (r["dau_est"], r["n_events"]) for r in
           monthly_distinct_from_sketches(stored).collect()}
    want = {r["month"]: (r["dau_est"], r["n_events"]) for r in
            monthly_distinct_from_sketches(
                build_daily_user_sketches(t["events"])).collect()}
    assert got == want


def test_rate_spike_stream_matches_batch(spark):
    """Streamed hourly spike flags with history = the replayed corpus
    must equal the batch detector (same thresholds, same counts) —
    modulo the threshold shipping as a literal (python float ** 0.5
    == sqrt; both correctly rounded)."""
    t = load_tables(spark, SF0001, "events")
    stream = jobs.read_events_stream(spark, SF0001)
    got = _run_available_now(
        jobs.rate_spike_stream(stream, t["events"]),
        "rate_spikes", spark, "complete")
    want = windows.event_rate_spikes(t).toPandas()
    pd.testing.assert_frame_equal(_sorted(got), _sorted(want))


def test_lsh_band_gate_stream_matches_batch(spark):
    """The streaming LSH band gate must flag exactly the docs that
    share a full MinHash band with the snapshot (the batch candidate
    criterion across the new×old frontier), and pass the rest as
    guaranteed-fresh. Deterministic end-to-end, so set equality."""
    from openlmis_distributions_etl_spark.operators import dedup

    t = load_tables(spark, SF0001, "documents")
    snapshot = t["documents"].where(F.pmod("doc_id", F.lit(5)) != 0)
    incoming = t["documents"].where(F.pmod("doc_id", F.lit(5)) == 0)
    stream = (jobs.read_documents_stream(spark, SF0001)
              .where(F.pmod("doc_id", F.lit(5)) == 0))
    got = _run_available_now(
        jobs.lsh_band_gate_stream(stream, snapshot),
        "lsh_band_gate", spark, "append")
    # batch twin: incoming docs sharing any (band_id, band_val)
    keys = dedup.minhash_keys()
    bn = (explode_bands(dedup.minhash_signatures({"documents": incoming}),
                        keys)
          .select("doc_id", "band_id", "band_val"))
    bo = (explode_bands(dedup.minhash_signatures({"documents": snapshot}),
                        keys)
          .select("band_id", "band_val").distinct())
    want_flagged = {r["doc_id"] for r in
                    bn.join(bo, ["band_id", "band_val"], "left_semi")
                    .select("doc_id").distinct().collect()}
    all_ids = {r["doc_id"] for r in incoming.select("doc_id").collect()}
    got_flagged = set(got[got["is_near_dup_candidate"]]["doc_id"])
    assert set(got["doc_id"]) == all_ids
    assert got_flagged == want_flagged
    assert 0 < len(want_flagged) < len(all_ids)


def test_ivf_assign_stream_matches_batch(spark):
    """Streaming IVF routing must assign every vector to the same
    centroid as the batch argmax (literal-folded centroids are
    round-trip-exact doubles, same fold, same tie-break)."""
    from openlmis_distributions_etl_spark.operators import similarity

    t = load_tables(spark, SF0001, "embeddings")
    m = similarity.kmeans_centroids(t)
    cents = m.groupBy("centroid_id").agg(F.expr(
        "transform(array_sort(collect_list(struct(dim, centroid))), "
        "p -> p.centroid)").alias("cvec"))
    stream = jobs.read_embeddings_stream(spark, SF0001)
    got = _run_available_now(
        jobs.ivf_assign_stream(stream, cents), "ivf_assign", spark,
        "append")
    want = (similarity._argmax_assign(
        t["embeddings"].select("vec_id", "label", "embedding"), cents)
        .select("vec_id", "label", "centroid_id").toPandas())
    pd.testing.assert_frame_equal(_sorted(got), _sorted(want))


def test_rolling_7d_active_users_stream_matches_batch(spark):
    """On the observed-day spine the streaming trailing-7d count must
    equal the batch operator exactly (same in-row coverage explode,
    watermark-bounded dedup state)."""
    events = jobs.read_events_stream(spark, SF0001)
    got = _run_available_now(
        jobs.rolling_7d_active_users_stream(events), "rolling_wau",
        spark, "complete")
    want = (windows.rolling_7d_active_users(
        load_tables(spark, SF0001, "events"))
        .select("day", "rolling_7d_users").toPandas())
    got = got[got["day"].isin(set(want["day"]))].reset_index(drop=True)
    pd.testing.assert_frame_equal(_sorted(got), _sorted(want))


def test_band_index_store_matches_batch(spark, tmp_path):
    """The incrementally-maintained band index must equal the batch
    band-key set of the replayed corpus, and replaying into the same
    store must be a no-op (union-distinct idempotent)."""
    from openlmis_distributions_etl_spark.operators import dedup

    docs = jobs.read_documents_stream(spark, SF0001)
    store = str(tmp_path / "band_index")
    ck = str(tmp_path / "ck_bi")
    q = jobs.stream_maintain_band_index(docs, store, ck)
    assert q.awaitTermination(120)
    got = sorted(map(tuple, jobs.read_latest_snapshot(
        spark, store).collect()))
    t = load_tables(spark, SF0001, "documents")
    want = sorted(map(tuple, (
        explode_bands(dedup.minhash_signatures(t), dedup.minhash_keys())
        .select("band_id", "band_val").distinct().collect())))
    assert got == want
    q2 = jobs.stream_maintain_band_index(
        jobs.read_documents_stream(spark, SF0001), store,
        str(tmp_path / "ck_bi2"))
    assert q2.awaitTermination(120)
    again = sorted(map(tuple, jobs.read_latest_snapshot(
        spark, store).collect()))
    assert again == got


def test_token_count_store_matches_batch(spark, tmp_path):
    """The incrementally-maintained token counts must equal the batch
    vocabulary counts of the replayed corpus."""
    from openlmis_distributions_etl_spark.operators.text import tokens

    docs = jobs.read_documents_stream(spark, SF0001)
    store = str(tmp_path / "tok_counts")
    q = jobs.stream_maintain_token_counts(
        docs, store, str(tmp_path / "ck_tc"))
    assert q.awaitTermination(120)
    got = sorted(map(tuple, jobs.read_latest_snapshot(
        spark, store).collect()))
    t = load_tables(spark, SF0001, "documents")
    want = sorted(map(tuple, (
        t["documents"].select(F.explode(tokens()).alias("token"))
        .groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
        .collect())))
    assert got == want


def test_token_count_store_replay_is_exactly_once(spark, tmp_path):
    """Replaying the LAST batch (the crash-between-publish-and-
    checkpoint window) must rebuild the same snapshot, not double-
    count; a fresh-checkpoint batch-0 restart against the store must
    fail loudly."""
    import pytest as _pytest

    docs = jobs.read_documents_stream(spark, SF0001)
    store = str(tmp_path / "tok_counts_r")
    q = jobs.stream_maintain_token_counts(
        docs, store, str(tmp_path / "ck_tcr"))
    assert q.awaitTermination(120)
    before = sorted(map(tuple, jobs.read_latest_snapshot(
        spark, store).collect()))
    # replay the last committed batch directly (same batch_id)
    from pathlib import Path
    last = max(int(p.name[1:]) for p in Path(store).glob("v*")
               if p.is_dir())
    t = load_tables(spark, SF0001, "documents")
    jobs._merge_token_counts(t["documents"], last, store)
    after = sorted(map(tuple, jobs.read_latest_snapshot(
        spark, store).collect()))
    assert after == before
    # fresh checkpoint restarting BEHIND the store head: refuse
    jobs._merge_token_counts(t["documents"], last + 1, store)
    with _pytest.raises(RuntimeError, match="refusing"):
        jobs._merge_token_counts(t["documents"], last, store)


def test_stream_linear_attribution_matches_batch(spark, tmp_path):
    """Under in-order ingestion the streamed credits day-rollup must
    equal the batch linear_touch_attribution exactly (same integer
    cents split, same recency remainder)."""
    events = jobs.read_events_stream(spark, SF0001)
    store = str(tmp_path / "attr")
    q = jobs.stream_linear_attribution(
        events, store, str(tmp_path / "ck_attr"))
    assert q.awaitTermination(120)
    got = jobs.read_attribution_credits(spark, store).toPandas()
    want = (windows.linear_touch_attribution(
        load_tables(spark, SF0001, "events")).toPandas())
    pd.testing.assert_frame_equal(_sorted(got), _sorted(want))


def test_token_count_store_refuses_foreign_lineage(spark, tmp_path):
    """A stream with a DIFFERENT checkpoint may not merge into an
    existing store — even at equal version head (the silent-reset
    hole a head-only guard leaves open)."""
    docs = jobs.read_documents_stream(spark, SF0001)
    store = str(tmp_path / "tok_counts_l")
    q = jobs.stream_maintain_token_counts(
        docs, store, str(tmp_path / "ck_a"))
    assert q.awaitTermination(120)
    before = sorted(map(tuple, jobs.read_latest_snapshot(
        spark, store).collect()))
    q2 = jobs.stream_maintain_token_counts(
        jobs.read_documents_stream(spark, SF0001), store,
        str(tmp_path / "ck_b"))
    import pyspark.errors
    try:
        finished = q2.awaitTermination(120)
        # the batch must have failed, not silently merged
        assert not finished or q2.exception() is not None
    except pyspark.errors.exceptions.captured.StreamingQueryException:
        pass
    after = sorted(map(tuple, jobs.read_latest_snapshot(
        spark, store).collect()))
    assert after == before


def test_attribution_store_refuses_foreign_lineage(spark, tmp_path):
    """The attribution store shares the lineage stamp: a stream with
    a different checkpoint must refuse, leaving credits unchanged."""
    events = jobs.read_events_stream(spark, SF0001)
    store = str(tmp_path / "attr_l")
    q = jobs.stream_linear_attribution(
        events, store, str(tmp_path / "ck_a1"))
    assert q.awaitTermination(120)
    before = _sorted(jobs.read_attribution_credits(
        spark, store).toPandas())
    q2 = jobs.stream_linear_attribution(
        jobs.read_events_stream(spark, SF0001), store,
        str(tmp_path / "ck_a2"))
    import pyspark.errors
    try:
        finished = q2.awaitTermination(120)
        assert not finished or q2.exception() is not None
    except pyspark.errors.exceptions.captured.StreamingQueryException:
        pass
    after = _sorted(jobs.read_attribution_credits(
        spark, store).toPandas())
    pd.testing.assert_frame_equal(after, before)


def _feed_events(df, src_dir, name: str) -> None:
    """Land a normalized events slice as a new BARE-FILE file-source
    input (the file stream source does not recurse into directory
    layouts under its basePath)."""
    import shutil
    from pathlib import Path

    stage = Path(src_dir) / f"_stage_{name}"
    df.coalesce(1).write.parquet(str(stage))
    part = next(stage.glob("part-*.parquet"))
    shutil.move(str(part), f"{src_dir}/{name}")
    shutil.rmtree(stage)


def test_drift_monitor_self_updating_psi_refreshes_fences(spark, tmp_path):
    """The self-updating PSI monitor must (a) bucket each batch with
    the fences of the baseline store's CURRENT head, (b) rebuild the
    literals when the store advances between batches, and (c) pin
    each generation's output equal to a fresh batch baseline built
    from that snapshot — the staleness gap the frozen-fence stream
    documents."""
    from openlmis_distributions_etl_spark.sources.versioned import (
        read_versioned, write_versioned)

    ev = load_tables(spark, SF0001, "events")["events"]
    hist1 = ev.where(F.pmod("event_id", F.lit(2)) == 0)
    hist2 = ev.where(F.pmod("event_id", F.lit(2)) == 1)
    base_path = str(tmp_path / "baseline")
    write_versioned(hist1, base_path)

    src = tmp_path / "stream_src"
    src.mkdir()
    part_a = ev.where(F.pmod("event_id", F.lit(4)) == 1)
    part_b = ev.where(F.pmod("event_id", F.lit(4)) == 3)
    _feed_events(part_a, src, "events.parquet")

    out = str(tmp_path / "monitor")
    ck = str(tmp_path / "ck_drift")
    q = jobs.stream_drift_monitor_self_updating(
        jobs.read_events_stream(spark, str(src), glob="*.parquet"),
        base_path, out, ck, kind="psi")
    assert q.awaitTermination(120)

    # baseline advances between batches; only part_b is new input
    write_versioned(hist2, base_path, mode="append")
    _feed_events(part_b, src, "events_b.parquet")
    q2 = jobs.stream_drift_monitor_self_updating(
        jobs.read_events_stream(spark, str(src), glob="*.parquet"),
        base_path, out, ck, kind="psi")
    assert q2.awaitTermination(120)

    got = jobs.read_drift_monitor(spark, out).toPandas()
    vers = sorted(got["baseline_version"].unique())
    assert len(vers) == 2, f"expected two fence generations, got {vers}"

    # the refresh must be non-vacuous: the two snapshots' decile
    # fences differ
    fences1, _, _ = jobs._psi_setup(hist1)
    full = read_versioned(spark, base_path)
    fences2, _, _ = jobs._psi_setup(full)
    assert fences1 != fences2

    def want_grid(cur, hist):
        _, bucket_expr, annotate = jobs._psi_setup(hist)
        grid = (cur.where((F.col("event_type") == "purchase")
                          & F.col("value").isNotNull())
                .groupBy(F.date_format(F.date_trunc("hour", "ts"),
                                       "yyyy-MM-dd HH:00").alias("hour"),
                         bucket_expr.alias("bucket"))
                .agg(F.count(F.lit(1)).alias("n_cur")))
        return annotate(grid).toPandas()

    got_v1 = got[got["baseline_version"] == vers[0]] \
        .drop(columns=["baseline_version"])
    got_v2 = got[got["baseline_version"] == vers[1]] \
        .drop(columns=["baseline_version"])
    pd.testing.assert_frame_equal(
        _sorted(got_v1), _sorted(want_grid(part_a, hist1)))
    pd.testing.assert_frame_equal(
        _sorted(got_v2), _sorted(want_grid(part_b, full)))

    # the finished report carries one PSI term per (hour, generation)
    fin = jobs.psi_monitor_finish(
        jobs.read_drift_monitor(spark, out)).toPandas()
    assert set(fin.columns) >= {"hour", "baseline_version", "bucket",
                                "psi_term"}


def test_drift_monitor_self_updating_zscore_refreshes_moments(
        spark, tmp_path):
    """The zscore kind must flag each batch against the CURRENT
    baseline's per-type moments — rows processed after a baseline
    append are scored by the grown history, equal to a fresh batch
    gate on that snapshot."""
    from openlmis_distributions_etl_spark.sources.versioned import (
        read_versioned, write_versioned)

    ev = load_tables(spark, SF0001, "events")["events"]
    hist1 = ev.where(F.pmod("event_id", F.lit(2)) == 0)
    hist2 = ev.where(F.pmod("event_id", F.lit(2)) == 1)
    base_path = str(tmp_path / "baseline_z")
    write_versioned(hist1, base_path)

    src = tmp_path / "zsrc"
    src.mkdir()
    part_a = ev.where(F.pmod("event_id", F.lit(4)) == 1)
    part_b = ev.where(F.pmod("event_id", F.lit(4)) == 3)
    _feed_events(part_a, src, "events.parquet")

    out = str(tmp_path / "zmon")
    ck = str(tmp_path / "ck_z")
    z = 2.0
    q = jobs.stream_drift_monitor_self_updating(
        jobs.read_events_stream(spark, str(src), glob="*.parquet"),
        base_path, out, ck, kind="zscore", z=z)
    assert q.awaitTermination(120)
    write_versioned(hist2, base_path, mode="append")
    _feed_events(part_b, src, "events_b.parquet")
    q2 = jobs.stream_drift_monitor_self_updating(
        jobs.read_events_stream(spark, str(src), glob="*.parquet"),
        base_path, out, ck, kind="zscore", z=z)
    assert q2.awaitTermination(120)

    got = jobs.read_drift_monitor(spark, out).toPandas()
    vers = sorted(got["baseline_version"].unique())
    assert len(vers) == 2
    full = read_versioned(spark, base_path)
    _, apply1 = jobs._zscore_setup(hist1, z)
    _, apply2 = jobs._zscore_setup(full, z)
    want_a = apply1(part_a).toPandas()
    want_b = apply2(part_b).toPandas()
    got_v1 = got[got["baseline_version"] == vers[0]] \
        .drop(columns=["baseline_version"])
    got_v2 = got[got["baseline_version"] == vers[1]] \
        .drop(columns=["baseline_version"])
    pd.testing.assert_frame_equal(_sorted(got_v1), _sorted(want_a))
    pd.testing.assert_frame_equal(_sorted(got_v2), _sorted(want_b))


def test_stream_linear_attribution_out_of_order_clicks(spark, tmp_path):
    """Clicks delivered a BATCH AFTER their purchases (but within the
    disorder bound) must trigger credit rebases that net the delta
    ledger to the exact batch answer — the late-data contract the
    in-order-only formulation could not honor."""
    ev = load_tables(spark, SF0001, "events")["events"]
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    mid = lo + (hi - lo) / 2
    half_window_us = (7 * 86_400 * 1_000_000) // 2
    late = ((F.col("event_type") == "click")
            & (F.unix_micros("ts") >= F.unix_micros(F.lit(mid))
               - half_window_us)
            & (F.col("ts") < F.lit(mid)))
    batch1 = ev.where((F.col("ts") < F.lit(mid)) & ~late)
    batch2 = ev.where((F.col("ts") >= F.lit(mid)) | late)

    src = tmp_path / "ooo_src"
    src.mkdir()
    store = str(tmp_path / "attr_ooo")
    ck = str(tmp_path / "ck_ooo")
    _feed_events(batch1, src, "events.parquet")
    q = jobs.stream_linear_attribution(
        jobs.read_events_stream(spark, str(src), glob="*.parquet"),
        store, ck)
    assert q.awaitTermination(120)
    _feed_events(batch2, src, "events_b.parquet")
    q2 = jobs.stream_linear_attribution(
        jobs.read_events_stream(spark, str(src), glob="*.parquet"),
        store, ck)
    assert q2.awaitTermination(120)

    got = jobs.read_attribution_credits(spark, store).toPandas()
    want = windows.linear_touch_attribution(
        load_tables(spark, SF0001, "events")).toPandas()
    pd.testing.assert_frame_equal(_sorted(got), _sorted(want))
    # non-vacuous: the late slice really holds clicks that credit
    # already-processed purchases (at least one rebase happened)
    cred = spark.read.parquet(f"{store}/credits/v*")
    assert cred.where(F.col("mult") == -1).count() > 0


def test_stream_ivf_health_monitor_matches_batch_audit(spark, tmp_path):
    """The streaming detector half of the IVF serving loop: cell
    counts sum-merged across micro-batches must yield EXACTLY the
    batch `ivf_health` report on the full snapshot, clean data fires
    no triggers, and a drift batch that collapses vectors onto one
    cell fires a version-stamped jumbo trigger."""
    from openlmis_distributions_etl_spark.operators import similarity
    from openlmis_distributions_etl_spark.plans import ivf

    t = load_tables(spark, SF0001, "embeddings")
    emb = t["embeddings"]
    m = similarity.kmeans_centroids(t)
    cents = m.groupBy("centroid_id").agg(F.expr(
        "transform(array_sort(collect_list(struct(dim, centroid))), "
        "p -> p.centroid)").alias("cvec"))

    src = tmp_path / "emb_src"
    src.mkdir()
    store = str(tmp_path / "ivf_health")
    ck = str(tmp_path / "ck_ivf_health")
    half_a = emb.where(F.col("vec_id") % 2 == 0)
    half_b = emb.where(F.col("vec_id") % 2 == 1)
    _feed_events(half_a, src, "embeddings.parquet")
    q = jobs.stream_ivf_health_monitor(
        jobs.read_embeddings_stream(spark, str(src), glob="*.parquet"),
        cents, store, ck)
    assert q.awaitTermination(120)
    _feed_events(half_b, src, "embeddings_b.parquet")
    q2 = jobs.stream_ivf_health_monitor(
        jobs.read_embeddings_stream(spark, str(src), glob="*.parquet"),
        cents, store, ck)
    assert q2.awaitTermination(120)

    got = jobs.read_ivf_health(spark, store, cents).toPandas()
    want = ivf.ivf_health(emb, cents).toPandas()
    pd.testing.assert_frame_equal(_sorted(got), _sorted(want))
    assert jobs.read_ivf_triggers(spark, store).count() == 0

    # drift: a third batch collapses 200 copies onto vector 0's
    # embedding — the absorbing cell breaches the jumbo fence
    v0 = emb.orderBy("vec_id").limit(1).collect()[0]["embedding"]
    drift = (spark.range(10_000, 10_200)
             .select(F.col("id").alias("vec_id"),
                     F.array(*[F.lit(float(x)) for x in v0])
                     .cast("array<float>").alias("embedding"),
                     F.lit(0).cast("int").alias("label")))
    _feed_events(drift, src, "embeddings_c.parquet")
    q3 = jobs.stream_ivf_health_monitor(
        jobs.read_embeddings_stream(spark, str(src), glob="*.parquet"),
        cents, store, ck)
    assert q3.awaitTermination(120)
    trig = jobs.read_ivf_triggers(spark, store).toPandas()
    assert "jumbo_cell" in set(trig["reason"])
    assert set(trig["version"]) == {2}


def test_stream_maintain_skyline_matches_batch(spark, tmp_path):
    """The streamed frontier after two micro-batches must equal the
    batch orders_skyline_2d over the full fact (the skyline merge
    law: sk(A∪B) = sk(sk(A) ∪ sk(B))), and a replayed batch must
    rebuild the same head (rebase + idempotent merge)."""
    from openlmis_distributions_etl_spark.operators.relational import (
        orders_skyline_2d)

    t = load_tables(spark, SF0001)
    orders = t["orders"]
    src = str(tmp_path / "sk_src")
    orders.where(F.col("o_orderkey") % 2 == 0).coalesce(1) \
        .write.parquet(src)
    orders.where(F.col("o_orderkey") % 2 == 1).coalesce(1) \
        .write.mode("append").parquet(src)
    stream = (spark.readStream.schema(orders.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    store = str(tmp_path / "sk_store")
    q = jobs.stream_maintain_skyline(stream, store,
                                     str(tmp_path / "sk_ck"))
    q.awaitTermination(180)

    got = jobs.read_skyline(spark, store).toPandas()
    want = orders_skyline_2d(t).toPandas()
    pd.testing.assert_frame_equal(_sorted(got), _sorted(want))

    # crash-replay: re-running the LAST batch id against the store
    # rebuilds the same head from the pre-batch base
    head_before = sorted(map(tuple, got.itertuples(index=False)))
    jobs._merge_skyline(
        orders.where(F.col("o_orderkey") % 2 == 1)
        .select("o_orderkey", "o_orderdate", "o_totalprice"), 1,
        store)
    again = jobs.read_skyline(spark, store).toPandas()
    assert sorted(map(tuple, again.itertuples(index=False))) \
        == head_before


def test_stream_lifecycle_store_matches_batch(spark, tmp_path):
    """Min/max-merged lifecycle store across OUT-OF-ORDER micro-
    batches must finish to exactly the batch user_lifecycle_stages
    report (idempotent merge: re-running the last batch leaves the
    head unchanged)."""
    from openlmis_distributions_etl_spark.operators.windows import (
        user_lifecycle_stages)

    t = load_tables(spark, SF0001, "events")
    ev = t["events"]
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    mid = lo + (hi - lo) / 2
    src = tmp_path / "lc_src"
    src.mkdir()
    store = str(tmp_path / "lc_store")
    ck = str(tmp_path / "lc_ck")
    # LATE half first: the store's frontier moves backwards-safe
    _feed_events(ev.where(F.col("ts") >= F.lit(mid)), src,
                 "events.parquet")
    q = jobs.stream_maintain_lifecycle(
        jobs.read_events_stream(spark, str(src), glob="*.parquet"),
        store, ck)
    assert q.awaitTermination(120)
    _feed_events(ev.where(F.col("ts") < F.lit(mid)), src,
                 "events_b.parquet")
    q2 = jobs.stream_maintain_lifecycle(
        jobs.read_events_stream(spark, str(src), glob="*.parquet"),
        store, ck)
    assert q2.awaitTermination(120)

    got = jobs.read_lifecycle_stages(spark, store).toPandas()
    want = user_lifecycle_stages(t).toPandas()
    pd.testing.assert_frame_equal(_sorted(got), _sorted(want))


def test_lifecycle_replay_of_head_batch_keeps_the_head(spark, tmp_path):
    """Replaying the batch whose version is the committed head reads
    that version while committing the merge; the commit must not
    overwrite it (without adaptive execution the overwrite deletes
    the head before the scan runs and leaves _CURRENT naming a
    deleted directory)."""
    ev = load_tables(spark, SF0001, "events")["events"]
    store = str(tmp_path / "lc_replay")
    b0 = ev.where(F.col("user_id") % 2 == 0)
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        jobs._merge_lifecycle(b0, 0, store)
        jobs._merge_lifecycle(b0, 0, store)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    jobs._merge_lifecycle(ev.where(F.col("user_id") % 2 == 1), 1, store)
    us = F.unix_micros("ts")
    want = ev.groupBy("user_id").agg(F.min(us).alias("first_us"),
                                     F.max(us).alias("last_us"))
    got = jobs.read_latest_snapshot(spark, store)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.select(*got.columns).collect()))


def test_stream_audience_bitmaps_match_batch(spark, tmp_path):
    """bit_or-merged audience bitmaps across out-of-order micro-
    batches finish to exactly the batch intersection report, and a
    replayed batch leaves the head unchanged (idempotent merge)."""
    from openlmis_distributions_etl_spark.operators.analytics import (
        audience_bitmap_intersection)

    t = load_tables(spark, SF0001, "events")
    ev = t["events"]
    src = tmp_path / "bm_src"
    src.mkdir()
    store = str(tmp_path / "bm_store")
    ck = str(tmp_path / "bm_ck")
    _feed_events(ev.where(F.col("user_id") % 2 == 1), src,
                 "events.parquet")
    q = jobs.stream_maintain_audience_bitmaps(
        jobs.read_events_stream(spark, str(src), glob="*.parquet"),
        store, ck)
    assert q.awaitTermination(120)
    _feed_events(ev.where(F.col("user_id") % 2 == 0), src,
                 "events_b.parquet")
    q2 = jobs.stream_maintain_audience_bitmaps(
        jobs.read_events_stream(spark, str(src), glob="*.parquet"),
        store, ck)
    assert q2.awaitTermination(120)

    got = jobs.read_audience_overlap(spark, store).toPandas()
    want = audience_bitmap_intersection(t).toPandas()
    pd.testing.assert_frame_equal(_sorted(got), _sorted(want))

    # keyed MERGE, not snapshot rewrite: the second batch's version
    # dir holds ONLY the blocks that batch touched (a delta), not
    # the folded |users|/62-word state
    import os
    with open(f"{store}/_CURRENT", encoding="utf-8") as f:
        parts = f.read().split()
    assert len(parts) == 2, parts
    delta2 = spark.read.parquet(f"{store}/{parts[1]}")
    from openlmis_distributions_etl_spark.operators.analytics import (
        BITMAP_LANE)
    touched2 = (ev.where((F.col("user_id") % 2 == 0)
                         & F.col("event_type").isin(
                             "click", "purchase"))
                .select("event_type",
                        F.expr(f"user_id DIV {BITMAP_LANE}")
                        .alias("blk")).distinct().count())
    assert delta2.count() == touched2
    head = sorted(map(tuple, jobs._read_bitmap_state(
        spark, store, parts).collect()))

    # replay (fresh checkpoint, same files): deltas re-OR the same
    # bits and the manifest stays duplicate-free - head unchanged
    q3 = jobs.stream_maintain_audience_bitmaps(
        jobs.read_events_stream(spark, str(src), glob="*.parquet"),
        store, str(tmp_path / "bm_ck_replay"))
    assert q3.awaitTermination(120)
    with open(f"{store}/_CURRENT", encoding="utf-8") as f:
        parts2 = f.read().split()
    assert len(parts2) == len(set(parts2))
    head2 = sorted(map(tuple, jobs._read_bitmap_state(
        spark, store, parts2).collect()))
    assert head2 == head
    got2 = jobs.read_audience_overlap(spark, store).toPandas()
    pd.testing.assert_frame_equal(_sorted(got2), _sorted(want))


def test_stream_audience_bitmaps_compaction(spark, tmp_path,
                                            monkeypatch):
    """Once the delta chain reaches BITMAP_COMPACT_EVERY the store
    folds into one full snapshot and the head is unchanged."""
    from openlmis_distributions_etl_spark.operators.analytics import (
        audience_bitmap_intersection)

    monkeypatch.setattr(jobs, "BITMAP_COMPACT_EVERY", 2)
    t = load_tables(spark, SF0001, "events")
    ev = t["events"]
    src = tmp_path / "bmc_src"
    src.mkdir()
    store = str(tmp_path / "bmc_store")
    ck = str(tmp_path / "bmc_ck")
    # the stream source probes {src}/events.parquet for its schema,
    # so the first feed must carry that exact name
    for i, fname in enumerate(["events.parquet", "events_b.parquet",
                               "events_c.parquet"]):
        _feed_events(ev.where(F.col("user_id") % 3 == i), src, fname)
        q = jobs.stream_maintain_audience_bitmaps(
            jobs.read_events_stream(spark, str(src),
                                    glob="*.parquet"),
            store, ck)
        assert q.awaitTermination(120)
    with open(f"{store}/_CURRENT", encoding="utf-8") as f:
        parts = f.read().split()
    # batch 0 + batch 1 deltas hit the chain cap, batch 2 compacted
    assert len(parts) == 1, parts
    got = jobs.read_audience_overlap(spark, store).toPandas()
    want = audience_bitmap_intersection(t).toPandas()
    pd.testing.assert_frame_equal(_sorted(got), _sorted(want))

    # replaying the compacting batch (crash between publish and
    # checkpoint commit) must add its delta on top of the folded
    # snapshot, not overwrite it with the batch's own words
    def merge(i: int, batch_id: int) -> None:
        jobs._merge_audience_bitmaps(
            ev.where(F.col("user_id") % 3 == i), batch_id, store)
        got = jobs.read_audience_overlap(spark, store).toPandas()
        pd.testing.assert_frame_equal(_sorted(got), _sorted(want))

    merge(2, 2)
    # batch 3 compacts again, batch 4 adds a delta; replaying batch 3
    # then finds a full chain whose base is its own compaction, which
    # it must not overwrite while folding it (without adaptive
    # execution the overwrite deletes the base before the scan runs)
    merge(0, 3)
    merge(1, 4)
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        merge(0, 3)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)


def test_dsir_gate_stream_matches_batch(spark):
    """Streaming DSIR gate (λ profile trained on the same corpus it
    then scores) passes exactly the docs whose BATCH importance
    weight clears the threshold, with bit-identical scores — the
    in-row array-literal fold equals the batch broadcast-join sum."""
    from openlmis_distributions_etl_spark.operators import text

    t = load_tables(spark, SF0001, "documents")
    batch = text.dsir_importance_weights(t)
    # synthetic langs share one vocabulary, so absolute weights sit
    # below 0 here; gate at the batch median to guarantee a real
    # split either side of the threshold
    thr = batch.approxQuantile("log_importance_weight", [0.5], 0.0)[0]
    got = _run_available_now(
        jobs.dsir_gate_stream(jobs.read_documents_stream(spark, SF0001),
                              t["documents"], threshold=thr),
        "dsir_gate", spark, "append")
    want = (batch
            .where(F.col("log_importance_weight") >= thr)
            .select("doc_id", "lang", "n_bigrams", "liw_units",
                    "log_importance_weight")).toPandas()
    n_all = batch.count()
    assert 0 < len(want) < n_all, "median threshold must split the corpus"
    pd.testing.assert_frame_equal(_sorted(got), _sorted(want))


def test_conformal_gate_stream_matches_batch(spark):
    """The streaming conformal anomaly gate flags exactly the events
    whose value sits outside the batch-computed per-type interval."""
    from openlmis_distributions_etl_spark.operators.analytics import (
        conformal_value_intervals)

    t = load_tables(spark, SF0001, "events")
    got = _run_available_now(
        jobs.conformal_gate_stream(jobs.read_events_stream(spark, SF0001),
                                   t["events"]),
        "conf_gate", spark, "append")
    iv = {r["event_type"]: (r["lo"], r["hi"])
          for r in conformal_value_intervals(t).collect()}
    ev = t["events"].select("event_id", "event_type", "value",
                            F.unix_micros("ts").alias("ts_us")).collect()
    want_rows = []
    for r in ev:
        b = iv.get(r["event_type"])
        if b and r["value"] is not None and not b[0] <= r["value"] <= b[1]:
            want_rows.append((r["event_id"], r["event_type"], r["value"],
                              r["ts_us"], b[0], b[1]))
    import pandas as pd_  # noqa: F401
    want = pd.DataFrame(want_rows, columns=[
        "event_id", "event_type", "value", "ts_us", "lo", "hi"])
    assert 0 < len(want) < len(ev), "gate must flag a strict subset"
    got2 = got.copy()
    pd.testing.assert_frame_equal(_sorted(got2), _sorted(want))


# -- round-7 wave 10: Misra-Gries heavy-hitter summary store -----------


def test_heavy_hitter_store_guarantees(spark, tmp_path):
    """The k-counter summary must satisfy the Misra-Gries contract
    against the exact batch counts of the replayed corpus: for every
    summary token cnt <= true <= cnt + dec_total, every token with
    true > dec_total is PRESENT, and the summary never exceeds k
    rows. k is set low to force compaction on this corpus."""
    from openlmis_distributions_etl_spark.operators.text import tokens

    k = 16
    docs = jobs.read_documents_stream(spark, SF0001)
    store = str(tmp_path / "hh")
    q = jobs.stream_maintain_heavy_hitters(
        docs, store, str(tmp_path / "ck_hh"), k=k)
    assert q.awaitTermination(120)
    got = {r["token"]: (r["cnt"], r["dec_total"])
           for r in jobs.read_heavy_hitters(spark, store).collect()}
    assert 0 < len(got) <= k
    decs = {d for _, d in got.values()}
    assert len(decs) == 1
    dec_total = decs.pop()
    t = load_tables(spark, SF0001, "documents")
    true = {r["token"]: r["cnt"] for r in (
        t["documents"].select(F.explode(tokens()).alias("token"))
        .groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
        .collect())}
    for tok, (cnt, _) in got.items():
        assert cnt <= true[tok] <= cnt + dec_total, tok
    for tok, tc in true.items():
        if tc > dec_total:
            assert tok in got, (tok, tc, dec_total)


def test_heavy_hitter_store_replay_is_exactly_once(spark, tmp_path):
    """Replaying the last committed batch rebuilds the same snapshot
    (rebasing, not double-merge); a fresh-checkpoint restart behind
    the store head refuses loudly."""
    import pytest as _pytest
    from pathlib import Path

    docs = jobs.read_documents_stream(spark, SF0001)
    store = str(tmp_path / "hh_r")
    q = jobs.stream_maintain_heavy_hitters(
        docs, store, str(tmp_path / "ck_hhr"), k=16)
    assert q.awaitTermination(120)
    before = sorted(map(tuple, jobs.read_heavy_hitters(
        spark, store).collect()))
    last = max(int(p.name[1:]) for p in Path(store).glob("v*")
               if p.is_dir())
    t = load_tables(spark, SF0001, "documents")
    jobs._merge_heavy_hitters(t["documents"], last, store, k=16)
    after = sorted(map(tuple, jobs.read_heavy_hitters(
        spark, store).collect()))
    assert after == before
    jobs._merge_heavy_hitters(t["documents"], last + 1, store, k=16)
    with _pytest.raises(RuntimeError, match="refusing"):
        jobs._merge_heavy_hitters(t["documents"], last, store, k=16)


def test_heavy_hitter_store_empty_snapshot_keeps_dec_total(
        spark, tmp_path):
    """An all-compacted snapshot (k+1 tokens tied at the decrement ->
    ZERO kept rows) must still carry dec_total forward: the sidecar,
    not the rows, is the authority, so the cnt <= true <= cnt +
    dec_total bound survives later merges instead of silently
    resetting to 0."""
    from pathlib import Path

    k = 3
    store = str(tmp_path / "hh_e")
    # batch 1: k+1 = 4 tokens, each appearing twice -> the (k+1)-th
    # largest count equals every count, all rows compact away,
    # dec_total = 2
    b1 = spark.createDataFrame(
        [("a b c d a b c d",)], "text string")
    jobs._merge_heavy_hitters(b1, 1, store, k=k,
                              lineage=str(tmp_path / "ck_e"))
    snap = spark.read.parquet(str(Path(store) / ("v" + "1".zfill(20))))
    assert snap.count() == 0
    assert (Path(store) / ("v" + "1".zfill(20) + ".dec")
            ).read_text() == "2"
    # batch 2: one dominant token; dec accumulates on top of the 2
    b2 = spark.createDataFrame([("x x x x x y z",)], "text string")
    jobs._merge_heavy_hitters(b2, 2, store, k=k,
                              lineage=str(tmp_path / "ck_e"))
    got = {r["token"]: (r["cnt"], r["dec_total"])
           for r in jobs.read_heavy_hitters(spark, store).collect()}
    # batch-2 counts alone: x=5 y=1 z=1 over k=3 counters -> dec 0
    # this merge, but dec_total must still include batch 1's 2
    assert got["x"][1] >= 2, got
    # the bound must hold against TRUE totals across both batches
    true = {"a": 2, "b": 2, "c": 2, "d": 2, "x": 5, "y": 1, "z": 1}
    for tok, (cnt, dec_total) in got.items():
        assert cnt <= true[tok] <= cnt + dec_total, (tok, got)


# -- round-7 wave 15: streaming exact value-histogram store -------------


def test_value_histogram_store_matches_batch(spark, tmp_path):
    """The incrementally-maintained histogram equals the batch
    per-(type, quantized value) counts, and the quantile reader's
    answers equal rank-exact batch quantiles on the same grid."""
    import math

    events = jobs.read_events_stream(spark, SF0001)
    store = str(tmp_path / "vh")
    q = jobs.stream_maintain_value_histogram(
        events, store, str(tmp_path / "ck_vh"))
    assert q.awaitTermination(120)
    got = sorted(map(tuple, jobs.read_latest_snapshot(
        spark, store).collect()))
    t = load_tables(spark, SF0001, "events")
    want = sorted(map(tuple, (
        t["events"].where(F.col("value").isNotNull())
        .select("event_type",
                F.floor(F.col("value") * 10_000 + F.lit(0.5))
                .cast("long").alias("vu"))
        .groupBy("event_type", "vu")
        .agg(F.count(F.lit(1)).alias("cnt")).collect())))
    assert got == want
    # quantile reader vs python reference
    rows = (t["events"].where(F.col("value").isNotNull())
            .select("event_type",
                    F.floor(F.col("value") * 10_000 + F.lit(0.5))
                    .cast("long").alias("vu")).collect())
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r["vu"])
    qr = {r["event_type"]: r for r in jobs.read_value_quantiles(
        spark, store).collect()}
    for et, vals in by_type.items():
        vals.sort()
        for qq, col in ((0.5, "q0_5"), (0.9, "q0_9"), (0.99, "q0_99")):
            want_v = vals[math.ceil(qq * len(vals)) - 1] / 10_000.0
            assert qr[et][col] == want_v, (et, col)


def test_value_histogram_store_replay_is_exactly_once(spark, tmp_path):
    import pytest as _pytest
    from pathlib import Path

    events = jobs.read_events_stream(spark, SF0001)
    store = str(tmp_path / "vh_r")
    q = jobs.stream_maintain_value_histogram(
        events, store, str(tmp_path / "ck_vhr"))
    assert q.awaitTermination(120)
    before = sorted(map(tuple, jobs.read_latest_snapshot(
        spark, store).collect()))
    last = max(int(p.name[1:]) for p in Path(store).glob("v*")
               if p.is_dir())
    t = load_tables(spark, SF0001, "events")
    jobs._merge_value_histogram(t["events"], last, store)
    after = sorted(map(tuple, jobs.read_latest_snapshot(
        spark, store).collect()))
    assert after == before
    jobs._merge_value_histogram(t["events"], last + 1, store)
    with _pytest.raises(RuntimeError, match="refusing"):
        jobs._merge_value_histogram(t["events"], last, store)


def test_value_histogram_store_refuses_heavy_tail(spark, tmp_path):
    """ADVICE/VERDICT r7: an effectively-continuous value domain must
    hit the distinct-cell fence LOUDLY instead of growing the "range-
    bounded" store with the data. A refused merge leaves the prior
    snapshot as _CURRENT."""
    import datetime as dt

    import pytest as _pytest
    from pathlib import Path

    base = dt.datetime(2024, 1, 1)
    mk = lambda lo, n: spark.createDataFrame(  # noqa: E731
        [(i, base + dt.timedelta(seconds=i), i % 3, "view",
          lo + i * 0.0001, "{}") for i in range(n)],
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string")

    store = str(tmp_path / "vh_ht")
    # batch 1: 8 distinct cells, under the 10-cell fence -> publishes
    jobs._merge_value_histogram(mk(0.0, 8), 1, store, max_cells=10)
    assert (Path(store) / "_CURRENT").read_text().endswith("1".zfill(20))
    # batch 2: 30 more distinct values -> 38 cells > 10 -> refused,
    # _CURRENT still points at v1
    with _pytest.raises(RuntimeError, match="heavy-tailed"):
        jobs._merge_value_histogram(mk(1.0, 30), 2, store,
                                    max_cells=10)
    assert (Path(store) / "_CURRENT").read_text().endswith("1".zfill(20))
    got = sorted(map(tuple, jobs.read_latest_snapshot(
        spark, store).collect()))
    assert len(got) == 8
