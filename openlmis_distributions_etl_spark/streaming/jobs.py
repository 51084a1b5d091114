"""Structured Streaming jobs (SURVEY.md §2.D).

The batch twins live in operators/windows.py with identical logical
plans — bounded vs unbounded input is the only difference, which is
exactly how Spark unifies the two. Watermarks bound state for late
data; sessionization keeps per-user state in applyInPandasWithState.

At scale: the windowed aggregate shuffles on (window, event_type) with
partial aggregation upstream of the shuffle; session state partitions
by user_id across executors, with the watermark evicting state for
users idle past the lateness bound.

The foreachBatch snapshot stores (upsert-latest, first-seen, band
index, token counts, attribution, IVF health, skyline, lifecycle,
audience bitmaps, heavy hitters, value histogram) differ only in their
merge algebra; each commits through streaming/snapshots.py, which
holds the on-disk format and the two exactly-once rules. Idempotent
merges fold into the committed head (`snapshots.head_base`), so a
fresh-checkpoint replay converges; non-idempotent merges REBASE onto
the newest version below the batch (`snapshots.rebase_base`), so a
replay rebuilds the same version and a batch behind the head is
refused.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (DoubleType, LongType, StringType,
                               StructField, StructType)

from ..functions import dec
from . import snapshots
from .snapshots import read_latest_snapshot, run_batches

SESSION_GAP_US = 30 * 60 * 1_000_000

def _events_schema(ts_type) -> StructType:
    return StructType([
        StructField("event_id", LongType()),
        StructField("ts", ts_type),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ])


def read_events_stream(spark: SparkSession, sf_dir: str,
                       glob: str = "events.parquet") -> DataFrame:
    """File-source stream over the events table.

    A file stream needs an explicit schema, but the physical timestamp
    layout of ``ts`` varies by provider (int64 nanos / micros-NTZ /
    UTC micros), so probe the static footer first, declare ``ts`` as
    its actual read type, and normalize to session-tz TIMESTAMP with
    the same rules as the batch source layer (sources.tables.normalize_ts).
    """
    from pyspark.sql.types import TimestampNTZType, TimestampType

    from ..sources.tables import normalize_ts

    # footer-only probe; the conf lets a TIMESTAMP(NANOS) footer read
    # as bigint instead of erroring (no effect on micros layouts)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    probe = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_dtype = dict(probe.dtypes)["ts"]
    ts_type = {"bigint": LongType(),
               "timestamp_ntz": TimestampNTZType(),
               "timestamp": TimestampType()}.get(ts_dtype)
    if ts_type is None:
        raise TypeError(
            f"events.ts: expected a timestamp-like type, got {ts_dtype!r}")
    raw = (spark.readStream
           .schema(_events_schema(ts_type))
           .option("pathGlobFilter", glob)
           .parquet(sf_dir))
    return normalize_ts(raw, "ts", table="events")


def windowed_event_counts_stream(events: DataFrame,
                                 watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of operators.windows.windowed_event_counts:
    tumbling 1h windows with a late-data watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(dec("value")).cast("decimal(38,6)").cast("double")
             .alias("sum_value"))
        .select(F.date_format(F.col("window.start"), "yyyy-MM-dd HH:00")
                .alias("hour"),
                "event_type", "n_events", "sum_value")
    )


SESSION_OUT_SCHEMA = ("event_id long, user_id long, ts_us long, "
                      "session_id long")
SESSION_STATE_SCHEMA = "last_ts_us long, next_session long"


def _sessionize_group(key: tuple[Any, ...],
                      pdfs: Iterator[pd.DataFrame],
                      state: GroupState) -> Iterator[pd.DataFrame]:
    """Per-user stateful sessionization: state carries (last event
    time, next session number) across micro-batches."""
    if state.exists:
        last_ts, next_sid = state.get
    else:
        last_ts, next_sid = None, 1

    user_id = key[0]
    # a group arrives as multiple Arrow chunks in shuffle order, not
    # time order — buffer and sort globally before assigning sessions
    pdf = pd.concat(list(pdfs), ignore_index=True)
    pdf = pdf.sort_values(["ts_us", "event_id"], kind="mergesort")
    sids = []
    for ts in pdf["ts_us"]:
        if last_ts is None or ts - last_ts > SESSION_GAP_US:
            sid = next_sid
            next_sid += 1
        else:
            sid = next_sid - 1
        last_ts = ts
        sids.append(sid)
    yield pd.DataFrame({
        "event_id": pdf["event_id"].to_numpy(),
        "user_id": user_id,
        "ts_us": pdf["ts_us"].to_numpy(),
        "session_id": pd.Series(sids, dtype="int64"),
    })

    state.update((int(last_ts) if last_ts is not None else -1, int(next_sid)))


def sessionize_stream(events: DataFrame) -> DataFrame:
    """Streaming gap-based sessionization (batch twin:
    operators.windows.sessionize_events). State partitions by user_id;
    each micro-batch extends or opens sessions per user."""
    with_us = events.select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us"))
    return (
        with_us.groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_group,
            outputStructType=SESSION_OUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def session_window_stats_stream(events: DataFrame,
                                gap: str = "30 minutes",
                                watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of operators.windows.session_window_stats: the
    NATIVE session_window aggregate under readStream — Spark's own
    gap-session state machine (merge-on-overlap, watermark-evicted),
    complementing the applyInPandasWithState custom sessionizer
    (sessionize_stream) which exists for session logic the native
    operator can't express. Identical logical plan to the batch twin."""
    return (events.withWatermark("ts", watermark)
            .groupBy(F.session_window("ts", gap), F.col("user_id"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(dec("value")).cast("decimal(38,6)").cast("double")
                 .alias("sum_value"))
            .select("user_id",
                    F.unix_micros(F.col("session_window.start"))
                    .alias("start_us"),
                    F.unix_micros(F.col("session_window.end"))
                    .alias("end_us"),
                    "n_events", "sum_value"))


def stream_to_parquet(df: DataFrame, out_dir: str, checkpoint_dir: str,
                      available_now: bool = True):
    """Stream → partitioned parquet files with exactly-once file-sink
    semantics (checkpointed offsets + transactional file commit log)."""
    w = (df.writeStream.format("parquet")
         .option("path", out_dir)
         .option("checkpointLocation", checkpoint_dir)
         .outputMode("append"))
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def stream_upsert_latest(events: DataFrame, out_dir: str,
                         checkpoint_dir: str):
    """foreachBatch incremental upsert: each micro-batch folds its
    latest-event-per-user view into a new versioned snapshot (a
    head merge: latest-wins is idempotent) — the MERGE-into-snapshot
    pattern a Delta/Iceberg table replaces at scale. Readers go
    through read_latest_snapshot and never observe a partial write."""
    from pyspark.sql import Window

    def upsert(batch: DataFrame, batch_id: int) -> None:
        w = Window.partitionBy("user_id").orderBy(
            F.desc("ts"), F.desc("event_id"))
        latest = (batch.withColumn("rn", F.row_number().over(w))
                  .where(F.col("rn") == 1)
                  .select("user_id", "event_id",
                          F.unix_micros("ts").alias("ts_us"), "event_type"))
        current = snapshots.head_base(batch.sparkSession, out_dir,
                                      "snapshot", "upsert history")
        merged = latest if current is None else (
            current.unionByName(latest)
            .withColumn("rn", F.row_number().over(
                Window.partitionBy("user_id")
                .orderBy(F.desc("ts_us"), F.desc("event_id"))))
            .where(F.col("rn") == 1).drop("rn"))
        snapshots.commit(merged, out_dir, batch_id)

    return run_batches(events, upsert, checkpoint_dir)


def stream_append_versioned(df: DataFrame, table_path: str,
                            checkpoint_dir: str):
    """Stream into the versioned table format with exactly-once
    commits: each micro-batch appends one table version carrying a
    (query-scoped) transaction id, so a checkpoint-recovery replay of
    the last batch hits the txn ledger and becomes a no-op instead of
    a double append — end-to-end exactly-once from the source offsets
    (checkpoint) through the table log (txn dedup), the Delta-sink
    contract rebuilt on sources.versioned."""
    from ..sources.versioned import write_versioned

    def commit(batch: DataFrame, batch_id: int) -> None:
        write_versioned(batch, table_path, mode="append",
                        txn=f"stream-{batch_id}")

    return run_batches(df, commit, checkpoint_dir)


def dedup_events_stream(events: DataFrame,
                        watermark: str = "1 hour") -> DataFrame:
    """Streaming exact deduplication on event_id with bounded state:
    dropDuplicatesWithinWatermark keeps only the keys seen inside the
    watermark horizon, so state size tracks the lateness bound instead
    of the whole stream history (the 100 TB-per-day requirement)."""
    return (events
            .withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(["event_id"]))


DOCS_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("text", StringType()),
    StructField("lang", StringType()),
    StructField("source", StringType()),
    StructField("n_chars", LongType()),
])


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents table (the continuous
    corpus-ingest shape).

    Layout-robust: the production layout is a DIRECTORY of part files
    (what this repo's own writers emit) and the stream points at it
    directly; Spark's file stream source requires a directory basePath,
    so only when the table is a single bare file (the driver's testdata
    layout) does the reader fall back to a leaf-name glob on the parent
    — never globbing when parts exist, so a split table can't silently
    stream zero rows."""
    import os

    path = f"{sf_dir}/documents.parquet"
    reader = spark.readStream.schema(DOCS_SCHEMA)
    if os.path.isdir(path):
        return reader.parquet(path)
    return (reader.option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir))


def daily_active_users_stream(events: DataFrame,
                              watermark: str = "1 day") -> DataFrame:
    """Streaming DAU: watermark-bounded per-(day, user) dedup chained
    into a 1-day tumbling-window count — the chained-stateful-operator
    shape (dedup state + window state, both evicted as the watermark
    passes, so state is O(active users per day), never history).
    Batch twin: operators.windows.daily_active_users' dau column."""
    return (events
            .withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
            .withWatermark("ts", watermark)
            .dropDuplicates(["day", "user_id"])
            .groupBy(F.window("ts", "1 day").alias("w"))
            .agg(F.count(F.lit(1)).alias("dau"))
            .select(F.date_format("w.start", "yyyy-MM-dd").alias("day"),
                    "dau"))


def quality_filter_stream(docs: DataFrame) -> DataFrame:
    """Streaming corpus-ingest quality gate: the EXACT per-row filter
    battery of operators.text.doc_quality_filters applied to the
    document stream, passing only `keep` docs — the shape where a
    continuous crawl feeds curation and rejects never hit storage.

    Stateless (pure projection + filter), so no watermark and no state
    store: at 100 TB/day this is embarrassingly parallel map work.
    Reusing the batch operator's plan verbatim is the
    batch/stream-unification point — the test asserts output equality
    against the batch twin."""
    from ..operators.text import doc_quality_filters

    flags = doc_quality_filters({"documents": docs},
                                passthrough=("lang", "source"))
    return (flags.where(F.col("keep") == 1)
            .select("doc_id", "lang", "source", "n_tokens"))


def dedup_docs_against_snapshot(new_docs: DataFrame,
                                snapshot: DataFrame) -> DataFrame:
    """Streaming twin of operators.dedup.incremental_dedup: the
    incoming doc stream probes the static snapshot's content-hash set
    (stream-static left_anti join) and only unseen content passes.

    Scale shape: the static side re-reads per micro-batch — a pruned
    parquet scan of the 16-byte hash column, broadcast when the
    snapshot index is small — and NO streaming state accumulates (the
    within-stream variant with bounded state is
    ``dedup_events_stream``'s dropDuplicatesWithinWatermark)."""
    snap_hashes = (snapshot
                   .select(F.md5(F.col("text").cast("binary"))
                           .alias("text_hash"))
                   .distinct())
    return (new_docs
            .withColumn("text_hash", F.md5(F.col("text").cast("binary")))
            .join(snap_hashes, "text_hash", "left_anti")
            .select("doc_id", "lang", "source"))


def sliding_window_counts_stream(events: DataFrame,
                                 watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of operators.windows.sliding_window_event_counts
    (10-minute windows sliding every 5): each event updates exactly two
    overlapping windows; the watermark closes a window once event time
    passes end + lateness, bounding state to the overlap horizon."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"),
                 F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(dec("value")).cast("decimal(38,6)").cast("double")
             .alias("sum_value"))
        .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss")
                .alias("window_start"),
                F.date_format("w.end", "yyyy-MM-dd HH:mm:ss")
                .alias("window_end"),
                "event_type", "n_events", "sum_value")
    )


def signup_purchase_join_stream(events: DataFrame,
                                horizon_minutes: int = 30) -> DataFrame:
    """Stream-stream interval join: purchases join the signup of the
    same user that happened within the preceding ``horizon_minutes``.
    Both sides carry watermarks and the join condition bounds event
    time on both sides, so Spark evicts buffered rows once the
    watermark passes the interval — state is O(horizon × rate), never
    the full history. Batch twin checked in tests (plain join with the
    same interval predicate)."""
    signups = (events.where(F.col("event_type") == "signup")
               .select(F.col("user_id").alias("s_user"),
                       F.col("ts").alias("s_ts"),
                       F.col("event_id").alias("s_event"))
               .withWatermark("s_ts", "1 hour"))
    purchases = (events.where(F.col("event_type") == "purchase")
                 .select(F.col("user_id").alias("p_user"),
                         F.col("ts").alias("p_ts"),
                         F.col("event_id").alias("p_event"),
                         F.col("value").alias("p_value"))
                 .withWatermark("p_ts", "1 hour"))
    cond = ((F.col("s_user") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("s_ts"))
            & (F.col("p_ts") <= F.col("s_ts")
               + F.expr(f"INTERVAL {horizon_minutes} MINUTES")))
    return (signups.join(purchases, cond)
            .select(F.col("s_user").alias("user_id"), "s_event", "p_event",
                    F.unix_micros("s_ts").alias("s_ts_us"),
                    F.unix_micros("p_ts").alias("p_ts_us"), "p_value"))


def bloom_gate_stream(new_docs: DataFrame,
                      snapshot: DataFrame) -> DataFrame:
    """Bloom-gated streaming ingest dedup — the 100 TB/day variant of
    `dedup_docs_against_snapshot`: the static snapshot's content
    hashes fold ONCE (at stream setup) into an 8 KB Bloom bit array
    that ships to executors as a literal, so every micro-batch tests 4
    bits in-row and the guaranteed-fresh Bloom negatives pass WITHOUT
    any join or static-side re-scan. Only the positive tail (true dups
    + ~2e-8 false positives) pays the stream-static anti-join, whose
    static side re-reads per batch but now verifies a trickle, not the
    firehose.

    Union of two branches: negatives pass directly, positives pass iff
    the exact anti-join clears them — output equals the plain
    stream-static dedup by the Bloom no-false-negative invariant
    (tested batch-equal)."""
    from ..operators.dedup import bloom_bitmap, bloom_hit_sql

    snap_hashes = (snapshot
                   .select(F.md5(F.col("text").cast("binary"))
                           .alias("text_hash"))
                   .distinct())
    # one 8 KB collect at stream setup — the broadcast-variable
    # pattern; literal array → zero per-batch build cost
    bits = bloom_bitmap(snap_hashes).first()["bitmap"]
    hashed = (new_docs
              .withColumn("text_hash", F.md5(F.col("text").cast("binary")))
              .withColumn("bitmap", F.expr(
                  "array(" + ",".join(f"{b}L" for b in bits) + ")")))
    hit = F.expr(bloom_hit_sql())
    negatives = (hashed.where(~hit)
                 .select("doc_id", "lang", "source"))
    positives = (hashed.where(hit)
                 .join(snap_hashes, "text_hash", "left_anti")
                 .select("doc_id", "lang", "source"))
    return negatives.unionByName(positives)


def countmin_cells_stream(docs: DataFrame) -> DataFrame:
    """Streaming count-min sketch maintenance over the token stream:
    the sketch's additive cells are a streaming aggregate whose state
    is CM_ROWS × CM_WIDTH rows (256) REGARDLESS of stream size — the
    property that lets a sketch monitor an unbounded token firehose
    where an exact token dictionary's state would grow without bound.
    Cell indices are the same md5-seeded hashes as the batch sketch
    (`token_countmin_topk`), so the maintained cells equal the batch
    cells at any cut point (tested: estimates derived from the
    streamed cells match the batch operator's exactly). Run in
    complete/update output mode; downstream, a consumer answers
    frequency queries with 4 array lookups."""
    from ..operators.text import CM_ROWS, CM_WIDTH, cm_cell, tokens

    tok = docs.select(F.explode(tokens()).alias("tok"))
    cells = tok.select(F.explode(F.array(*[
        (F.lit(j * CM_WIDTH) + cm_cell(j)).alias(f"c{j}")
        for j in range(CM_ROWS)])).alias("idx"))
    return cells.groupBy("idx").agg(F.count(F.lit(1)).alias("cnt"))


def _zscore_setup(history: DataFrame, z: float = 3.0):
    """Build the per-type mean/std literal map from a static history
    snapshot (exact decimal moment sums — the same stats as the batch
    `event_value_zscores`) and return a stateless flagging projection:
    apply(frame) passes through only |z| > threshold rows. The shared
    body behind the setup-time-literal gate and the self-updating
    foreachBatch monitor."""
    from ..functions import dec
    ev = history.select("event_type", dec("value").alias("x"))
    m = (ev.groupBy("event_type")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("x").cast("decimal(38,6)").cast("double").alias("sx"),
              F.sum(F.col("x") * F.col("x")).cast("decimal(38,6)")
              .cast("double").alias("sxx")))
    n = F.col("n").cast("double")
    mean = F.col("sx") / n
    std = F.sqrt(F.col("sxx") / n - mean * mean)
    rows = (m.select("event_type", mean.alias("mu"), std.alias("sd"))
            .collect())
    mu = F.create_map(*[F.lit(x) for r in rows
                        for x in (r["event_type"], r["mu"])])
    sd = F.create_map(*[F.lit(x) for r in rows
                        for x in (r["event_type"], r["sd"])])
    zcol = (F.col("value") - mu[F.col("event_type")]) \
        / sd[F.col("event_type")]

    def apply(frame: DataFrame) -> DataFrame:
        return (frame
                .select("event_id", "event_type", "value", "ts",
                        zcol.alias("zscore"))
                .where(F.abs(F.col("zscore")) > z))

    return rows, apply


def zscore_gate_stream(events: DataFrame, history: DataFrame,
                       z: float = 3.0) -> DataFrame:
    """Streaming anomaly gate: incoming events test their value
    against per-type mean/std derived ONCE (at stream setup) from the
    static history's exact decimal moment sums (`_zscore_setup`),
    shipped to executors as a tiny literal map, so flagging is a
    stateless per-row projection (no join, no state store; at
    100 TB/day this is map-only work). Passes through only |z| >
    threshold rows — the alert stream. For a long-lived stream whose
    baseline itself is maintained, use
    stream_drift_monitor_self_updating."""
    _, apply = _zscore_setup(history, z)
    return apply(events)


def sample_gate_stream(docs: DataFrame, pct: int = 10,
                       salt: str = "split|") -> DataFrame:
    """Streaming twin of operators.text.deterministic_sample: the
    md5-bucket training-split gate applied at INGEST, so only the
    sampled slice ever reaches storage (the down-sampling shape for
    over-represented feeds). Deterministic per doc_id — replays and
    micro-batch re-planning cannot change membership, which makes the
    gate exactly-once-safe with no state store: stateless projection +
    filter, no watermark, embarrassingly parallel at any rate."""
    from ..operators.text import deterministic_sample

    return deterministic_sample({"documents": docs}, pct=pct, salt=salt)


def stream_maintain_rollup(orders: DataFrame, fact_path: str,
                           rollup_path: str, customer: DataFrame,
                           checkpoint_dir: str):
    """Streaming ingest + incremental aggregate maintenance: each
    micro-batch (a) lands in the versioned fact exactly-once (txn
    ledger absorbs checkpoint-recovery replays) and (b) folds ONLY the
    months it touched into the month × segment rollup via
    plans.incremental — the continuous version of the nightly
    maintain-don't-recompute pattern, so the serving rollup lags
    ingest by one micro-batch, not one batch window.

    Idempotent in VALUE under replay: the fact append is a txn no-op
    and the rollup update recomputes affected months from the fact
    (converging to the same rows; it may commit an extra rollup
    version, which snapshot isolation makes harmless). The first
    batch initializes the rollup with a full build."""
    from ..plans.incremental import (incremental_rollup_update,
                                     init_rollup)
    from ..sources.versioned import versions, write_versioned

    def commit(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        existing = versions(fact_path)
        base = existing[-1] if existing else None
        write_versioned(batch, fact_path, mode="append",
                        txn=f"rollup-maint-{batch_id}")
        if base is None or not versions(rollup_path):
            init_rollup(spark, fact_path, rollup_path, customer)
        else:
            incremental_rollup_update(spark, fact_path, rollup_path,
                                      customer, since_version=base)

    return run_batches(orders, commit, checkpoint_dir)


def _psi_setup(history: DataFrame):
    """Build the PSI baseline literals from a static history snapshot:
    rank-exact decile fences + per-bucket baseline counts via the
    shared distributed-ECDF core (one tiny setup-time collect).
    Returns (fences, bucket_expr, annotate) where `bucket_expr` is the
    literal-folded decile projection for a value column and
    `annotate(grid)` attaches the (n_base, p_base) baseline-share
    literals to any (hour, bucket, n_cur) grid — the shared body
    behind the setup-time-literal stream and the self-updating
    foreachBatch monitor."""
    from ..operators.analytics import (KS_GROUP_A, PSI_BUCKETS,
                                       _psi_fences, _value_ecdf)
    cum = _value_ecdf({"events": history})
    fen = _psi_fences(cum)
    frow = fen.collect()[0]
    fences = [frow[f"f{k}"] for k in range(1, PSI_BUCKETS)]
    if any(f is None for f in fences):
        # fences are NULL iff the baseline sample is empty (na = 0):
        # with na ≥ 1 every rank threshold ceil(k·na/10) is reached
        raise ValueError(
            "psi baseline: history contains no baseline "
            f"'{KS_GROUP_A}' events with non-null value — decile "
            "fences are undefined; provide a non-empty baseline")
    b = F.lit(0)
    for fk in fences:
        b = b + (F.col("value") > F.lit(fk)).cast("int")
    base = (cum.select("ca", "na",
                       sum((F.col("value") > F.lit(fk)).cast("int")
                           for fk in fences).alias("bucket"))
            .groupBy("bucket")
            .agg(F.sum("ca").alias("n_base"), F.max("na").alias("na"))
            .collect())
    n_base = F.create_map(*[F.lit(x) for r in base
                            for x in (r["bucket"], r["n_base"])])
    na = float(base[0]["na"])

    def annotate(grid: DataFrame) -> DataFrame:
        return grid.select(
            "hour", "bucket", "n_cur",
            n_base[F.col("bucket")].cast("long").alias("n_base"),
            (n_base[F.col("bucket")].cast("double")
             / F.lit(na)).alias("p_base"))

    return fences, b, annotate


def psi_bucket_counts_stream(events: DataFrame,
                             history: DataFrame) -> DataFrame:
    """Streaming drift monitor: bucket incoming current-sample events
    against baseline decile fences derived ONCE (at stream setup)
    from the static history, and count per (hour window, bucket) with
    a watermark — the live half of the PSI dashboard whose batch twin
    is operators.analytics.psi_windowed.

    The fences and per-bucket baseline counts are rank-exact decile
    statistics from the shared distributed-ECDF core (`_psi_setup`);
    they ship to executors as literals (the zscore-gate pattern: tiny
    setup-time collect, then the hot path is a stateless projection +
    one windowed count — no stream-side join, no extra state beyond
    the windowed aggregate). Emits (hour, bucket, n_cur, n_base,
    p_base); per-window totals and the PSI term are one window
    function away in the consumer (a streaming agg cannot nest a
    second agg). For a LONG-LIVED stream whose baseline itself is
    maintained, use stream_drift_monitor_self_updating — this shape
    keeps its fences frozen for the stream's lifetime."""
    from ..operators.analytics import KS_GROUP_B
    _, bucket_expr, annotate = _psi_setup(history)
    grid = (events
            .where((F.col("event_type") == KS_GROUP_B)
                   & F.col("value").isNotNull())
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("win"),
                     bucket_expr.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n_cur"))
            .select(F.date_format(F.col("win.start"),
                                  "yyyy-MM-dd HH:00").alias("hour"),
                    "bucket", "n_cur"))
    return annotate(grid)


def _ks_setup(history: DataFrame):
    """Build the windowed-KS baseline literals from a static history
    snapshot: the 63 rank-exact 1/64-quantile fences plus the
    per-bucket cumulative baseline counts (a 64-row grid) via the
    shared _ksw_base_grid core. Returns (fences, bucket_expr,
    annotate) with annotate(grid) attaching the (ba, na) literals —
    the shared body behind the setup-time-literal stream and the
    self-updating foreachBatch monitor."""
    from ..operators.analytics import KSW_BUCKETS, _ksw_base_grid
    fen, bgrid = _ksw_base_grid({"events": history})
    frow = fen.collect()[0]
    fences = [frow[f"f{k}"] for k in range(1, KSW_BUCKETS)]
    if any(f is None for f in fences):
        raise ValueError(
            "ks baseline: history contains no baseline "
            "events with non-null value — fences are undefined; "
            "provide a non-empty baseline")
    grows = bgrid.collect()
    ba_map = F.create_map(*[F.lit(x) for r in grows
                            for x in (r["bucket"], r["ba"])])
    na = int(grows[0]["na"])
    b = F.lit(0)
    for fk in fences:
        b = b + (F.col("value") > F.lit(fk)).cast("int")

    def annotate(grid: DataFrame) -> DataFrame:
        return grid.select(
            "hour", "bucket", "n_cur",
            ba_map[F.col("bucket")].cast("long").alias("ba"),
            F.lit(na).cast("long").alias("na"))

    return fences, b, annotate


def ks_bucket_gap_stream(events: DataFrame,
                         history: DataFrame) -> DataFrame:
    """Streaming KS drift monitor — the live half of the windowed-KS
    dashboard whose batch twin is operators.analytics.ks_windowed,
    built the same way psi_bucket_counts_stream mirrors psi_windowed.

    At stream setup the static history yields the baseline's 63
    rank-exact 1/64-quantile fences and the per-bucket cumulative
    baseline counts (a 64-row grid) via the shared `_ks_setup` core;
    both ship to executors as literals, so the hot path is a
    stateless bucket projection + ONE watermarked windowed count —
    no stream-side join, no state beyond the windowed aggregate.
    Emits (hour, bucket, n_cur, ba, na); the per-hour grid fill,
    cumulative counts and sup-gap are one _ksw_finish call away in
    the consumer (a streaming agg cannot nest the second window).
    For a long-lived stream whose baseline itself is maintained, use
    stream_drift_monitor_self_updating."""
    from ..operators.analytics import KS_GROUP_B
    _, bucket_expr, annotate = _ks_setup(history)
    grid = (events
            .where((F.col("event_type") == KS_GROUP_B)
                   & F.col("value").isNotNull())
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("win"),
                     bucket_expr.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n_cur"))
            .select(F.date_format(F.col("win.start"),
                                  "yyyy-MM-dd HH:00").alias("hour"),
                    "bucket", "n_cur"))
    return annotate(grid)


def stream_drift_monitor_self_updating(events: DataFrame,
                                       baseline_path: str,
                                       out_dir: str,
                                       checkpoint_dir: str,
                                       kind: str = "psi",
                                       z: float = 3.0):
    """Drift monitor whose baseline REFRESHES from a maintained
    versioned store instead of freezing at stream setup — the
    long-lived-stream form of psi_bucket_counts_stream /
    ks_bucket_gap_stream / zscore_gate_stream, which fold their
    fences as setup-time literals and therefore keep serving STALE
    fences after the baseline store advances (e.g. a nightly history
    append) unless the stream is torn down and rebuilt.

    foreachBatch discipline: each micro-batch reads the baseline
    store's HEAD VERSION (an O(1) directory listing of the txn log,
    no data scan); when the head has advanced past the cached
    version, the fence/moment literals are rebuilt from the new
    snapshot via the shared `_psi_setup` / `_ks_setup` /
    `_zscore_setup` cores — so a baseline refresh costs one ECDF
    pass per ADVANCE, not per batch, and the hot path stays the
    same literal-folded stateless projection as the frozen-fence
    streams. Output rows land in a versioned store (txn ledger
    absorbs checkpoint-recovery replays) tagged with the
    `baseline_version` that bucketed them, so a dashboard can tell
    which fence generation produced each window's counts and a
    replayed batch keeps its ORIGINAL generation (the txn no-op
    preserves first-commit rows even if the baseline advanced
    between failure and recovery).

    kinds — "psi": per-(hour, bucket) current counts + baseline
    shares (finish with psi_monitor_finish); "ks": per-(hour,
    bucket) counts + cumulative baseline grid (finish with
    analytics._ksw_finish per generation); "zscore": the flagged
    |z|>threshold alert rows."""
    from ..operators.analytics import KS_GROUP_B
    from ..sources.versioned import (read_versioned, versions,
                                     write_versioned)
    if kind not in ("psi", "ks", "zscore"):
        raise ValueError(f"unknown drift monitor kind {kind!r}")
    cache: dict = {"version": None, "apply": None}

    def _rebuild(spark, head: int) -> None:
        hist = read_versioned(spark, baseline_path)
        if kind == "zscore":
            _, apply = _zscore_setup(hist, z)
        else:
            setup = _psi_setup if kind == "psi" else _ks_setup
            _, bucket_expr, annotate = setup(hist)

            def apply(frame: DataFrame,
                      _b=bucket_expr, _a=annotate) -> DataFrame:
                grid = (frame
                        .where((F.col("event_type") == KS_GROUP_B)
                               & F.col("value").isNotNull())
                        .groupBy(F.date_format(
                            F.date_trunc("hour", "ts"),
                            "yyyy-MM-dd HH:00").alias("hour"),
                            _b.alias("bucket"))
                        .agg(F.count(F.lit(1)).alias("n_cur")))
                return _a(grid)
        cache["version"] = head
        cache["apply"] = apply

    def commit(batch: DataFrame, batch_id: int) -> None:
        snapshots.check_lineage(out_dir, checkpoint_dir)
        spark = batch.sparkSession
        heads = versions(baseline_path)
        if not heads:
            raise ValueError(
                f"drift monitor baseline store {baseline_path} is "
                "empty — seed it (write_versioned) before starting")
        if cache["version"] != heads[-1]:
            _rebuild(spark, heads[-1])
        out = (cache["apply"](batch)
               .withColumn("baseline_version",
                           F.lit(cache["version"]).cast("int")))
        write_versioned(out, out_dir, mode="append",
                        txn=f"drift-{kind}-{batch_id}")

    return run_batches(events, commit, checkpoint_dir)


def read_drift_monitor(spark: SparkSession, out_dir: str) -> DataFrame:
    """All appended monitor rows (every batch, every baseline
    generation) from the versioned output store."""
    from ..sources.versioned import read_versioned
    return read_versioned(spark, out_dir)


def psi_monitor_finish(counts: DataFrame) -> DataFrame:
    """Fold the appended per-batch PSI monitor partials into the
    per-(hour, baseline generation) drift report: sum the per-batch
    (hour, bucket) current counts (a window may span micro-batches),
    then attach per-window totals and the same quantized PSI term as
    the batch psi_windowed — per generation, because counts bucketed
    under different fences are not mergeable."""
    from pyspark.sql import Window

    from ..operators.analytics import _psi_quantized_term
    agg = (counts.groupBy("hour", "baseline_version", "bucket")
           .agg(F.sum("n_cur").alias("n_cur"),
                F.max("n_base").alias("n_base"),
                F.max("p_base").alias("p_base")))
    win = agg.withColumn(
        "nb_win", F.sum("n_cur").over(
            Window.partitionBy("hour", "baseline_version")))
    pb = F.col("n_cur").cast("double") / F.col("nb_win").cast("double")
    pa = F.col("p_base")
    return win.select(
        "hour", "baseline_version", "bucket", "n_cur", "nb_win",
        "n_base", "p_base", pb.alias("p_cur"),
        _psi_quantized_term(pa, pb).alias("psi_term"))


def stream_maintain_components(edges: DataFrame, labels_path: str,
                               checkpoint_dir: str,
                               nodes: DataFrame | None = None):
    """Streaming incremental connected-components maintenance: as
    near-dup edges arrive, keep a versioned (node, component) label
    table current — the continuous form of the nightly dedup-cluster
    rebuild, so cluster collapse decisions lag ingest by one
    micro-batch instead of one batch window.

    The trick that makes each micro-batch cheap is STAR-EDGE
    COMPACTION: the previous labels ARE a connectivity-preserving
    edge set (every node → its component root), so batch N's input is
    new-edges ∪ prior-star-edges — never the full history of raw
    edges — and the O(log n)-round alternating-star CC re-converges
    in a couple of rounds because the prior graph is already a star
    forest. Labels commit to the versioned table with overwrite
    semantics + a txn id, so checkpoint-recovery replays are no-ops
    and readers get snapshot isolation.

    ``edges``: streaming (src, dst). ``nodes``: optional static
    universe frame (node); when given, isolated nodes keep singleton
    labels in every version."""
    from ..operators.dedup import connected_components
    from ..sources.versioned import read_versioned, versions, \
        write_versioned

    def commit(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        new_edges = batch.selectExpr("src", "dst")
        if versions(labels_path):
            prior = read_versioned(spark, labels_path)
            prior_edges = (prior.where(F.col("node") != F.col("component"))
                           .selectExpr("node AS src", "component AS dst"))
            edge_set = new_edges.union(prior_edges)
            seen = prior.select("node")
        else:
            edge_set = new_edges
            seen = spark.createDataFrame([], "node long")
        universe = (nodes if nodes is not None else
                    seen.union(edge_set.selectExpr("src AS node"))
                    .union(edge_set.selectExpr("dst AS node"))
                    .distinct())
        labels = connected_components(edge_set, universe)
        write_versioned(labels, labels_path, mode="overwrite",
                        txn=f"cc-maint-{batch_id}")

    return run_batches(edges, commit, checkpoint_dir)


def stream_maintain_first_seen(events: DataFrame, out_dir: str,
                               checkpoint_dir: str):
    """foreachBatch maintenance of a FIRST-SEEN store (user_id →
    earliest calendar day), the streaming half of
    operators.windows.cumulative_distinct_users: each micro-batch
    folds its per-user min(day) into the snapshot with min-of-mins —
    idempotent and commutative, so checkpoint-recovery replays and
    out-of-order batches both converge to the batch answer. The
    corpus-growth report (daily new users, cumulative uniques) is a
    days-bounded aggregate over this store.

    State is the store itself (one row per distinct user ever seen —
    the exact-semantics floor for this metric), not executor memory:
    no unbounded stream-side state store, and the merge is one
    aggregate + one co-grouped min per batch."""

    def merge(batch: DataFrame, batch_id: int) -> None:
        seen = (batch
                .groupBy("user_id")
                .agg(F.min(F.date_format("ts", "yyyy-MM-dd"))
                     .alias("day")))
        current = snapshots.head_base(batch.sparkSession, out_dir,
                                      "first-seen store")
        merged = seen if current is None else (
            current.unionByName(seen)
            .groupBy("user_id").agg(F.min("day").alias("day")))
        snapshots.commit(merged, out_dir, batch_id)

    return run_batches(events, merge, checkpoint_dir)


def chi2_cells_stream(events: DataFrame) -> DataFrame:
    """Streaming contingency-cell monitor: per (hour window,
    event_type, user-segment) observed counts with a watermark — the
    live half of an hourly independence dashboard (did one cohort's
    event mix shift THIS hour?). Stateless projection + one windowed
    count; no stream-side join and no setup-time collect.

    A streaming agg cannot nest the totals pass, so expected counts
    and the per-cell chi² term come from `chi2_cells_finish` applied
    to the emitted counts (the psi_bucket_counts_stream contract:
    stream emits exact counts, the consumer finishes)."""
    from ..operators.analytics import CHI2_SEGMENTS
    return (events
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("win"),
                     F.col("event_type"),
                     F.pmod("user_id", F.lit(CHI2_SEGMENTS))
                     .cast("int").alias("segment"))
            .agg(F.count(F.lit(1)).alias("n_obs"))
            .select(F.date_format("win.start", "yyyy-MM-dd HH:00")
                    .alias("hour"),
                    "event_type", "segment", "n_obs"))


def chi2_cells_finish(cells: DataFrame) -> DataFrame:
    """Finish the streamed contingency counts into per-cell expected
    counts and chi² contributions WITHIN each hour: three constant-
    size window totals over the (hour × type × segment) aggregate —
    the same per-cell double expressions as the batch
    chi2_event_segments, partitioned by hour."""
    from pyspark.sql import Window
    wr = Window.partitionBy("hour", "event_type")
    wc = Window.partitionBy("hour", "segment")
    wa = Window.partitionBy("hour")
    c = cells.select(
        "hour", "event_type", "segment", "n_obs",
        F.sum("n_obs").over(wr).alias("row_tot"),
        F.sum("n_obs").over(wc).alias("col_tot"),
        F.sum("n_obs").over(wa).alias("grand"))
    n_exp = ((F.col("row_tot").cast("double")
              * F.col("col_tot").cast("double"))
             / F.col("grand").cast("double"))
    return c.select(
        "hour", "event_type", "segment", "n_obs",
        n_exp.alias("n_exp"),
        ((F.col("n_obs").cast("double") - n_exp) ** 2 / n_exp)
        .alias("chi2_cell"))


def stream_maintain_join_view(orders: DataFrame, orders_path: str,
                              customer_path: str, view_path: str,
                              checkpoint_dir: str):
    """Streaming ingest + incremental JOIN-VIEW maintenance: each
    micro-batch of orders (a) lands in the versioned fact
    exactly-once (txn ledger absorbs replays) and (b) folds through
    the delta-join algebra (plans.incremental.
    incremental_join_view_update) so the denormalized orders⋈customer
    view lags ingest by one micro-batch — the streaming face of
    maintain-don't-recompute for JOINS, complementing
    stream_maintain_rollup's aggregate case. Dimension-side SCD
    updates land out of band (merge into the customer table); the
    next micro-batch's update folds them in through the same code
    path because it probes BOTH change feeds.

    Idempotent in VALUE under replay: the fact append is a txn no-op
    and affected rows recompute against current snapshots before a
    keyed MERGE."""
    import json
    import os

    from ..plans.incremental import (incremental_join_view_update,
                                     init_join_view)
    from ..sources.versioned import versions, write_versioned

    # dimension-feed cursor: the customer version already folded into
    # the view, in a marker next to the checkpoint. Losing it only
    # re-folds history (the update is idempotent), never loses data.
    marker = os.path.join(checkpoint_dir, "customer_cursor.json")

    def _cursor() -> int:
        try:
            with open(marker) as f:
                return json.load(f)["customer_version"]
        except (OSError, ValueError, KeyError):
            return 0

    def commit(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        existing = versions(orders_path)
        base = existing[-1] if existing else None
        write_versioned(batch, orders_path, mode="append",
                        txn=f"join-view-{batch_id}")
        cust_now = versions(customer_path)[-1]
        if base is None or not versions(view_path):
            init_join_view(spark, orders_path, customer_path, view_path)
        else:
            incremental_join_view_update(
                spark, orders_path, customer_path, view_path,
                since_orders=base, since_customer=_cursor())
        os.makedirs(checkpoint_dir, exist_ok=True)
        with open(marker, "w") as f:
            json.dump({"customer_version": cust_now}, f)

    return run_batches(orders, commit, checkpoint_dir)


def bounce_sessions_stream(events: DataFrame, gap: str = "30 minutes",
                           watermark: str = "1 hour") -> DataFrame:
    """Streaming half of the daily bounce-rate dashboard: per-session
    event counts from the NATIVE session_window state machine
    (watermark-evicted), emitted as (user_id, start_us, n_events).
    A streaming agg can't nest the daily rollup — `bounce_rate_finish`
    runs on the sink output (the chi2_cells contract); batch-equal
    test pins it against operators.windows.session_bounce_rate, whose
    gap sessionizer defines identical session boundaries."""
    return (events.withWatermark("ts", watermark)
            .groupBy(F.session_window("ts", gap), F.col("user_id"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select("user_id",
                    F.unix_micros(F.col("session_window.start"))
                    .alias("start_us"),
                    "n_events"))


def bounce_rate_finish(sessions: DataFrame) -> DataFrame:
    """Daily rollup of streamed per-session counts — the identical
    day key and rate expressions as the batch session_bounce_rate."""
    day = F.date_format(
        F.date_add(F.lit("1970-01-01").cast("date"),
                   F.expr("CAST(start_us DIV 86400000000 AS INT)")),
        "yyyy-MM-dd")
    g = (sessions
         .select(day.alias("day"),
                 (F.col("n_events") == 1).cast("long").alias("is_bounce"))
         .groupBy("day")
         .agg(F.count(F.lit(1)).alias("n_sessions"),
              F.sum("is_bounce").alias("n_bounces")))
    return g.select(
        "day", "n_sessions", "n_bounces",
        (F.col("n_bounces").cast("double") / F.col("n_sessions"))
        .alias("bounce_rate"))


def benford_counts_stream(events: DataFrame) -> DataFrame:
    """Streaming Benford monitor: per (hour window, first significant
    digit of `value`) counts, watermarked — the live fraud/ingest-bug
    tripwire (a feed whose digit mix jumps away from Benford this
    hour gets flagged before it lands). Digit extraction is the same
    integer BIGINT-cents chain as the batch benford_first_digit;
    stateless projection + one windowed count. Expected-share
    comparison is one broadcast of nine literals in the consumer
    (`benford_finish`)."""
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    return (events
            .where(F.col("value").isNotNull() & (F.col("value") > 0))
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("win"),
                     digit.alias("digit"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.date_format("win.start", "yyyy-MM-dd HH:00")
                    .alias("hour"),
                    "digit", "n"))


def benford_finish(counts: DataFrame) -> DataFrame:
    """Per-hour shares and obs/expected ratios from the streamed
    digit counts (the post-sink finish contract); expectations are
    the same shortest-round-trip literals as the batch operator."""
    from pyspark.sql import Window

    from ..operators.analytics import BENFORD_EXPECTED
    wh = Window.partitionBy("hour")
    exp_share = F.element_at(
        F.array(*[F.lit(BENFORD_EXPECTED[d]) for d in range(1, 10)]),
        F.col("digit"))
    share = F.col("n").cast("double") / F.sum("n").over(wh)
    return counts.select(
        "hour", "digit", "n",
        share.alias("share"),
        exp_share.alias("benford_share"),
        (share / exp_share).alias("obs_over_expected"))


def stream_gate_expectations(orders: DataFrame, rules, table_path: str,
                             quarantine_path: str, checkpoint_dir: str,
                             dims: dict | None = None):
    """Streaming load gate: every micro-batch runs the declarative
    expectation suite (plans.expectations — one scan-bounded pass);
    a batch with ANY failing rule diverts WHOLE to a quarantine
    parquet (with batch_id and the failing rules for forensics)
    instead of landing — the all-or-nothing promotion contract a
    warehouse ingest uses so a poisoned feed never contaminates the
    serving table. Clean batches append to the versioned table
    exactly-once (txn ledger)."""
    from ..plans.expectations import run_expectations
    from ..sources.versioned import write_versioned

    def commit(batch: DataFrame, batch_id: int) -> None:
        report = run_expectations(batch, rules, dims or {})
        failing = [f"{r['rule']}:{r['column']}"
                   for r in report.collect() if not r["passed"]]
        if failing:
            (batch.withColumn("_batch_id", F.lit(batch_id))
             .withColumn("_failed_rules", F.lit(",".join(failing)))
             .write.mode("append").parquet(quarantine_path))
        else:
            write_versioned(batch, table_path, mode="append",
                            txn=f"exp-gate-{batch_id}")

    return run_batches(orders, commit, checkpoint_dir)


def stream_maintain_user_sketches(events: DataFrame, sketch_path: str,
                                  checkpoint_dir: str):
    """Streaming maintenance of the daily user-HLL sketch table: each
    micro-batch sketches ITS rows per day and union-merges into the
    stored sketches (read-modify-write keyed MERGE on the versioned
    table) — the truly incremental distinct-count path: no raw-event
    rescan, state per day is one tiny binary register set, and any
    date-range distinct query reads only sketches
    (plans.incremental.monthly_distinct_from_sketches). Estimates are
    register-identical to batch-building the sketches from all rows
    (HLL union is lossless; the batch-equal test pins it)."""
    from ..plans.incremental import build_daily_user_sketches
    from ..sources.versioned import (merge_upsert_versioned,
                                     read_versioned, versions,
                                     write_versioned)

    def commit(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        delta = build_daily_user_sketches(batch)
        if not versions(sketch_path):
            write_versioned(delta, sketch_path,
                            txn=f"sketch-{batch_id}")
            return
        cur = read_versioned(spark, sketch_path)
        merged = (delta.alias("d")
                  .join(cur.alias("c"), "day", "left")
                  .select(
                      "day",
                      F.when(F.col("c.user_sketch").isNull(),
                             F.col("d.user_sketch"))
                      .otherwise(F.hll_union("d.user_sketch",
                                             "c.user_sketch"))
                      .alias("user_sketch"),
                      (F.col("d.n_events")
                       + F.coalesce("c.n_events", F.lit(0)))
                      .alias("n_events")))
        merge_upsert_versioned(spark, sketch_path, merged, ["day"])

    return run_batches(events, commit, checkpoint_dir)


def rate_spike_stream(events: DataFrame, history: DataFrame) -> DataFrame:
    """Streaming twin of operators.windows.event_rate_spikes: per-type
    Poisson thresholds (μ + 3·√μ) derive ONCE at setup from the
    static history (tiny bounded-key collect, the PSI-fences pattern)
    and ship as a literal map; the hot path is a stateless projection
    + one watermarked windowed count with a per-row threshold
    comparison — no stream-side join, no extra state."""
    from ..operators.windows import event_rate_spikes
    stats = (event_rate_spikes({"events": history})
             .groupBy("event_type").agg(F.max("mu").alias("mu"))
             .collect())
    if not stats:
        raise ValueError("rate_spike_stream: empty history — "
                         "per-type Poisson baselines are undefined")
    thr = F.create_map(*[F.lit(x) for r in stats
                         for x in (r["event_type"],
                                   r["mu"] + 3 * (r["mu"] ** 0.5))])
    mu = F.create_map(*[F.lit(x) for r in stats
                        for x in (r["event_type"], r["mu"])])
    return (events
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("win"),
                     "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.date_format("win.start", "yyyy-MM-dd HH:00")
                    .alias("hour"),
                    "event_type", "n",
                    F.element_at(mu, F.col("event_type")).alias("mu"),
                    (F.col("n") > F.element_at(
                        thr, F.col("event_type"))).cast("int")
                    .alias("is_spike")))


def lsh_band_gate_stream(new_docs: DataFrame,
                         snapshot: DataFrame) -> DataFrame:
    """Streaming NEAR-dup candidate gate — the MinHash-LSH twin of
    `bloom_gate_stream` (which gates EXACT content dups): the static
    snapshot's LSH band keys fold ONCE at stream setup into the 8 KB
    Bloom literal, and every incoming doc computes its 16-hash
    MinHash signature IN-ROW (the same universal-hash arithmetic as
    `minhash_signatures` — whole-stage codegen, no UDF) and probes
    its 4 band keys against the bitmap. Zero joins, zero streaming
    state, plain append mode.

    A flagged doc shares (modulo Bloom's ~2e-8 FP rate) a full band
    with some snapshot doc — exactly `minhash_lsh_pairs`' candidate
    criterion across the new×old frontier; an unflagged doc is
    GUARANTEED fresh (banding and Bloom are both one-sided, so no
    false negatives). Downstream only the flagged trickle pays the
    exact pair verify; the firehose passes untouched. Docs too short
    to shingle can't band-match and gate through unflagged."""
    from ..functions import pin
    from ..functions.bands import explode_bands
    from ..operators.dedup import (MINHASH_AB, MINHASH_P, SHINGLE,
                                   _shingles, bloom_bitmap,
                                   bloom_hit_sql, minhash_keys,
                                   minhash_signatures, tokens)

    # --- static side, once at setup: snapshot band keys → Bloom ---
    snap_sig = minhash_signatures({"documents": snapshot})
    snap_bands = (explode_bands(snap_sig, minhash_keys())
                  .select(F.md5(F.concat(
                      F.col("band_id").cast("string"), F.lit("|"),
                      F.col("band_val")).cast("binary"))
                      .alias("text_hash"))
                  .distinct())
    bits = bloom_bitmap(snap_bands).first()["bitmap"]
    bitmap_lit = "array(" + ",".join(f"{b}L" for b in bits) + ")"

    # --- stream side: in-row signature + band-key Bloom probes ---
    d = (new_docs
         .select("doc_id", "lang", "source", tokens().alias("toks"))
         .withColumn("shingles",
                     F.when(F.size("toks") >= SHINGLE,
                            _shingles(F.col("toks")))
                     .otherwise(F.expr("CAST(array() AS array<string>)"))))
    xs = F.expr(
        "transform(array_distinct(shingles), "
        "s -> CAST(conv(substring(md5(CAST(s AS BINARY)), 1, 7), "
        "16, 10) AS BIGINT))")
    pinned = pin(d.select("doc_id", "lang", "source", "shingles"),
                 xs=xs)
    sigs = [
        f"array_min(transform(xs, x -> pmod({a} * x + {b}, "
        f"{MINHASH_P}))) AS h{j}"
        for j, (a, b) in enumerate(MINHASH_AB)]
    sig = pinned.selectExpr("doc_id", "lang", "source",
                            "size(shingles) AS n_shingles", *sigs)
    withbands = sig
    hits = []
    for j, val in enumerate(minhash_keys()("")):
        withbands = withbands.withColumn(
            f"_bh{j}",
            F.md5(F.concat(F.lit(f"{j}|"), val).cast("binary")))
        hits.append(f"({bloom_hit_sql(f'_bh{j}')})")
    probe = withbands.withColumn("bitmap", F.expr(bitmap_lit))
    flag = F.expr(" OR ".join(hits)) & (F.col("n_shingles") > 0)
    return (probe
            .select("doc_id", "lang", "source",
                    flag.alias("is_near_dup_candidate")))


def read_embeddings_stream(spark: SparkSession, sf_dir: str,
                           glob: str | None = None) -> DataFrame:
    """File-source stream over the embeddings table (continuous
    vector-ingest shape). Same layout-robust directory/bare-file
    handling as `read_documents_stream`; pass ``glob`` (e.g.
    "*.parquet") for multi-file ingest directories."""
    import os

    from pyspark.sql.types import (ArrayType, FloatType, IntegerType,
                                   StructField, StructType)

    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", IntegerType()),
    ])
    path = f"{sf_dir}/embeddings.parquet"
    reader = spark.readStream.schema(schema)
    if glob is None and os.path.isdir(path):
        return reader.parquet(path)
    return (reader.option("pathGlobFilter",
                          glob or "embeddings.parquet")
            .parquet(sf_dir))


def ivf_assign_stream(embeddings: DataFrame,
                      centroids: DataFrame) -> DataFrame:
    """Streaming IVF cell routing — the ingest half of the ANN
    serving stack: every arriving vector is assigned to its
    max-cosine centroid so it can be appended to the right posting
    list without rebuilding the index.

    The trained centroid table folds ONCE at stream setup into an
    in-row SQL literal (K structs of (id, vec, norm), centroid_id
    order — double literals round-trip exactly, so scores are
    bit-identical to the batch `ivf_assign` argmax fold and the
    first-strict-max tie-break matches). The stream side is a pure
    stateless projection: zero joins, zero state, append mode — the
    same per-row codegen'd argmax whatever the micro-batch size.
    Batch twin: operators.similarity.ivf_assign (tested equal)."""
    from ..functions import pin
    from ..operators.similarity import _centroid_array, dot, l2_norm

    row = _centroid_array(centroids).first()["cents"]
    parts = []
    for s in row:
        vec = ",".join(f"CAST({float(x)!r} AS DOUBLE)"
                       for x in s["cvec"])
        parts.append(
            f"named_struct('centroid_id', CAST({s['centroid_id']} "
            f"AS BIGINT), 'cvec', array({vec}), "
            f"'cn', CAST({float(s['cn'])!r} AS DOUBLE))")
    cents = F.expr("array(" + ",".join(parts) + ")")
    scored = F.transform(
        cents,
        lambda c: F.struct(
            (dot(F.col("embedding"), c["cvec"])
             / (F.col("en") * c["cn"])).alias("s"),
            c["centroid_id"].alias("cid")))
    best = F.aggregate(
        scored,
        F.struct(F.lit(-2.0).cast("double").alias("s"),
                 F.lit(-1).cast("long").alias("cid")),
        lambda acc, x: F.when(x["s"] > acc["s"], x).otherwise(acc))
    return (pin(embeddings, en=l2_norm(F.col("embedding")))
            .select("vec_id", "label",
                    best["cid"].alias("centroid_id")))


def rolling_7d_active_users_stream(events: DataFrame,
                                   watermark: str = "8 days") -> DataFrame:
    """Streaming EXACT trailing-7-day actives — the WAU/stickiness
    denominator maintained continuously: each event explodes IN-ROW
    to the ≤7 target days it covers (the batch
    `rolling_7d_active_users` decomposition — bounded 7× fan-out, no
    per-user ordering), the covered (user, target-day) pairs dedup
    against watermark-bounded state, and a 1-day tumbling window
    counts them.

    The watermark rides the TARGET-day timestamp (up to 6 days ahead
    of the event's own time), so the default delay is 8 days: 7 days
    of forward coverage + a day of event lateness — and the dedup
    KEYS include that watermarked timestamp (tts is 1:1 with the
    target day), which is what lets Spark EVICT dedup state as the
    watermark passes: state is O(7 · daily actives), never history.
    A target day only finalizes
    once the watermark passes it, i.e. once every event that could
    cover it has arrived. Batch twin:
    operators.windows.rolling_7d_active_users (tested equal on the
    observed-day spine)."""
    ud = events.select(
        "user_id",
        F.expr("datediff(CAST(ts AS DATE), DATE '1970-01-01')")
        .alias("eday"))
    cov = (ud.select(
        "user_id",
        F.explode(F.sequence(F.col("eday"), F.col("eday") + 6))
        .alias("tday"))
        .withColumn(
            "tts",
            F.expr("CAST(date_add(DATE '1970-01-01', CAST(tday AS "
                   "INT)) AS TIMESTAMP)")))
    return (cov
            .withWatermark("tts", watermark)
            .dropDuplicates(["user_id", "tts"])
            .groupBy(F.window("tts", "1 day").alias("w"))
            .agg(F.count(F.lit(1)).alias("rolling_7d_users"))
            .select(F.date_format("w.start", "yyyy-MM-dd").alias("day"),
                    "rolling_7d_users"))


def stream_maintain_band_index(docs: DataFrame, out_dir: str,
                               checkpoint_dir: str):
    """foreachBatch maintenance of the LSH BAND INDEX — the
    incremental half of the near-dup stack: each micro-batch of
    documents contributes its distinct MinHash (band_id, band_val)
    keys, folded into a versioned snapshot by union-distinct
    (idempotent and commutative, so checkpoint replay and
    out-of-order batches converge — the first-seen-store contract).
    `lsh_band_gate_stream` rebuilds its Bloom literal from this store
    instead of re-scanning the whole historical corpus at every
    stream (re)start: setup cost becomes O(distinct band keys), and
    the store is exactly the index a batch backfill would build.

    State lives in the store (one row per distinct band key — the
    exact-semantics floor), never in executor memory; the per-batch
    merge is one distinct + one union-distinct."""
    from ..functions.bands import explode_bands
    from ..operators.dedup import minhash_keys, minhash_signatures

    def merge(batch: DataFrame, batch_id: int) -> None:
        bands = (explode_bands(minhash_signatures({"documents": batch}),
                               minhash_keys())
                 .select("band_id", "band_val").distinct())
        current = snapshots.head_base(batch.sparkSession, out_dir,
                                      "band-index store", "the index")
        merged = bands if current is None else (
            current.unionByName(bands).distinct())
        snapshots.commit(merged, out_dir, batch_id)

    return run_batches(docs, merge, checkpoint_dir)


def _merge_token_counts(batch: DataFrame, batch_id: int,
                        out_dir: str,
                        lineage: str | None = None) -> None:
    """One exactly-once sum-merge commit of a micro-batch into the
    token-count store. Module-level so the replay test can invoke it
    directly; see stream_maintain_token_counts for the contract."""
    from ..operators.text import tokens

    base = snapshots.rebase_base(out_dir, batch_id, lineage,
                                 "token-count store")
    cnt = (batch.select(F.explode(tokens()).alias("token"))
           .groupBy("token").agg(F.count(F.lit(1)).alias("cnt")))
    merged = cnt if base is None else (
        batch.sparkSession.read.parquet(f"{out_dir}/{base}")
        .unionByName(cnt)
        .groupBy("token").agg(F.sum("cnt").alias("cnt")))
    snapshots.commit(merged, out_dir, batch_id)


def stream_maintain_token_counts(docs: DataFrame, out_dir: str,
                                 checkpoint_dir: str):
    """foreachBatch maintenance of the exact TOKEN-COUNT store — the
    streaming producer behind `token_freq_topk` / `token_zipf_table`:
    each micro-batch aggregates its token counts (vocab-bounded) and
    folds them into the snapshot by sum-merge.

    Addition is commutative/associative but NOT idempotent (unlike
    the first-seen store's min-merge), so exactly-once comes from the
    rebase rule of streaming/snapshots.py: a replayed batch rebuilds
    the same version instead of double-counting, and a restart from a
    FRESH checkpoint against an existing store fails loudly rather
    than silently resetting. State is the vocabulary itself — the
    exact-semantics floor for exact counts — never executor memory."""
    return run_batches(
        docs, lambda batch, batch_id: _merge_token_counts(
            batch, batch_id, out_dir, lineage=checkpoint_dir),
        checkpoint_dir)


ATTR_WINDOW_US = 7 * 86_400 * 1_000_000


def stream_linear_attribution(events: DataFrame, out_dir: str,
                              checkpoint_dir: str):
    """foreachBatch streaming twin of `linear_touch_attribution`,
    LATE-DATA-CORRECT: each micro-batch credits purchases against a
    maintained click-history store using the same integer-cents DIV
    split (remainder pinned to the most recent click), and when a
    click ARRIVES AFTER the micro-batch that processed its purchase,
    the purchase's credit split is REBASED — the old rows are
    retracted (mult = -1 delta rows) and the recomputed split is
    re-emitted, so the summed credit ledger converges to the batch
    operator under out-of-order delivery (no in-order contract).

    Stores, all rebased per batch for exactly-once (a replayed batch
    rebuilds its own version from the pre-batch base):
      clicks/v{b}     trailing 2×WINDOW of clicks (a purchase may
                      itself arrive WINDOW late and still need its
                      full look-back of clicks)
      purchases/v{b}  trailing WINDOW of purchases (only these can
                      still gain late clicks)
      cur/v{b}        the CURRENT credit rows of retained purchases
                      (what a rebase must retract)
      credits/v{b}    append-only signed delta ledger (mult = +1 new
                      credit row, -1 retraction); the day rollup
                      nets per (day, p_id, c_id) pair

    State is O(window volume), never history. Disorder contract: an
    event arriving more than WINDOW of EVENT TIME behind the
    ingestion frontier may find its counterpart expired (the usual
    watermark bound); within the bound the ledger nets to the batch
    answer regardless of arrival order (tested: clicks delivered a
    batch after their purchases)."""
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)

    cur_schema = StructType([
        StructField("day", StringType()),
        StructField("p_id", LongType()),
        StructField("c_id", LongType()),
        StructField("credit", LongType()),
    ])
    pur_schema = StructType([
        StructField("user_id", LongType()),
        StructField("p_id", LongType()),
        StructField("p_us", LongType()),
        StructField("cents", LongType()),
    ])

    def merge(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        clicks_new = (batch.where(F.col("event_type") == "click")
                      .select("user_id",
                              F.col("event_id").alias("c_id"),
                              F.unix_micros("ts").alias("c_us"),
                              F.date_format("ts", "yyyy-MM-dd")
                              .alias("day")))
        base = snapshots.rebase_base(
            out_dir, batch_id, checkpoint_dir, "attribution store",
            " — refusing to reset or double-credit", sub="clicks")

        def _load(sub: str, schema) -> DataFrame:
            if base:
                return spark.read.parquet(f"{out_dir}/{sub}/{base}")
            return spark.createDataFrame([], schema)

        clicks = _load("clicks", clicks_new.schema) \
            .unionByName(clicks_new)
        pur_new = (batch.where((F.col("event_type") == "purchase")
                               & F.col("value").isNotNull())
                   .select("user_id", F.col("event_id").alias("p_id"),
                           F.unix_micros("ts").alias("p_us"),
                           F.floor(F.col("value") * 100 + F.lit(0.5))
                           .cast("long").alias("cents")))
        pur_base = _load("purchases", pur_schema)
        cur_base = _load("cur", cur_schema)

        # affected = this batch's purchases + stored purchases that
        # gain at least one NEW click (the late-arrival rebase set)
        gained = (pur_base.join(
            clicks_new.select("user_id", "c_us"), "user_id")
            .where((F.col("c_us") < F.col("p_us"))
                   & (F.col("c_us") >= F.col("p_us")
                      - ATTR_WINDOW_US))
            .select("user_id", "p_id", "p_us", "cents").distinct())
        affected = pur_new.unionByName(gained)

        j = (affected.join(clicks, "user_id")
             .where((F.col("c_us") < F.col("p_us"))
                    & (F.col("c_us") >= F.col("p_us")
                       - ATTR_WINDOW_US)))
        from pyspark.sql import Window as W
        wn = W.partitionBy("p_id")
        wr = W.partitionBy("p_id").orderBy(F.desc("c_us"),
                                           F.asc("c_id"))
        new_rows = (j.withColumn("n_touch", F.count(F.lit(1)).over(wn))
                    .withColumn("rk", F.row_number().over(wr))
                    .withColumn(
                        "credit",
                        F.expr("cents DIV n_touch")
                        + F.when(F.col("rk") == 1,
                                 F.expr("cents % n_touch"))
                        .otherwise(F.lit(0).cast("long")))
                    .select("day", "p_id", "c_id", "credit"))
        # rows the rebase supersedes: current credit rows of affected
        # purchases (batch-new purchases have none by construction)
        old_rows = cur_base.join(
            affected.select("p_id").distinct(), "p_id", "semi")
        delta = (new_rows.withColumn("mult", F.lit(1))
                 .unionByName(old_rows
                              .withColumn("credit", -F.col("credit"))
                              .withColumn("mult", F.lit(-1))))
        snapshots.write_snapshot(delta, out_dir, batch_id, "credits")

        # retention fences off the ingestion frontier (max event time
        # seen across both stores and this batch)
        hi = max(
            clicks.agg(F.max("c_us")).collect()[0][0] or 0,
            pur_new.agg(F.max("p_us")).collect()[0][0] or 0,
            pur_base.agg(F.max("p_us")).collect()[0][0] or 0)
        snapshots.write_snapshot(
            clicks.where(F.col("c_us") >= hi - 2 * ATTR_WINDOW_US),
            out_dir, batch_id, "clicks")
        pur_keep = (pur_base.unionByName(pur_new)
                    .where(F.col("p_us") > hi - ATTR_WINDOW_US))
        snapshots.write_snapshot(pur_keep, out_dir, batch_id,
                                 "purchases")
        cur_next = (cur_base
                    .join(affected.select("p_id").distinct(),
                          "p_id", "anti")
                    .unionByName(new_rows)
                    .join(pur_keep.select("p_id"), "p_id", "semi"))
        snapshots.publish(out_dir, snapshots.write_snapshot(
            cur_next, out_dir, batch_id, "cur"))

    return run_batches(events, merge, checkpoint_dir)


def read_attribution_credits(spark: SparkSession,
                             out_dir: str) -> DataFrame:
    """Day-rollup view over the signed delta ledger — nets each
    (day, p_id, c_id) pair first (a rebased pair carries a +1 and a
    -1 row whose credits cancel), then rolls up per day into the
    same shape as the batch `linear_touch_attribution` output."""
    cred = spark.read.parquet(f"{out_dir}/credits/v*")
    net = (cred.groupBy("day", "p_id", "c_id")
           .agg(F.sum("mult").alias("m"),
                F.sum("credit").alias("credit"))
           .where(F.col("m") > 0))
    return (net.groupBy("day")
            .agg(F.count(F.lit(1)).alias("n_credited_clicks"),
                 F.count_distinct("p_id").alias("n_purchases"),
                 F.sum("credit").alias("credited_cents"))
            .select("day", "n_credited_clicks", "n_purchases",
                    "credited_cents",
                    (F.col("credited_cents").cast("double") / 100.0)
                    .alias("credited_value")))


def stream_ivf_health_monitor(embeddings: DataFrame,
                              centroids: DataFrame, out_dir: str,
                              checkpoint_dir: str):
    """foreachBatch maintenance of the IVF index-health store — the
    streaming detector half of the plans/ivf.py serving loop (the
    batch `maintain_ivf` is the actor that retrains from the full
    snapshot; a stream can detect drift but doesn't retain vectors
    to retrain from). Each arriving vector routes through the
    zero-state `ivf_assign_stream` literal-centroid argmax; the
    micro-batch's (centroid_id, label) counts sum-merge into the
    cells store under the rebase rule of streaming/snapshots.py
    (non-idempotent sum: replays rebuild, fresh checkpoints against
    an existing store fail loudly), and each commit also writes
    triggers/v{b}: the cells breaching the jumbo-share / purity /
    empty fences AS OF that batch, version-stamped so the maintenance
    actor knows which snapshot fired. State is (k × labels) counters
    — never vectors."""
    return run_batches(
        ivf_assign_stream(embeddings, centroids),
        lambda batch, batch_id: _merge_ivf_cells(
            batch, batch_id, out_dir, centroids,
            lineage=checkpoint_dir),
        checkpoint_dir)


def _merge_ivf_cells(batch: DataFrame, batch_id: int, out_dir: str,
                     centroids: DataFrame,
                     lineage: str | None = None) -> None:
    """One exactly-once sum-merge commit of a micro-batch's assigned
    cells + the fence evaluation over the merged store. Module-level
    so the replay test can invoke it directly."""
    from ..plans.ivf import IVF_MAX_SHARE, IVF_MIN_PURITY

    spark = batch.sparkSession
    base = snapshots.rebase_base(
        out_dir, batch_id, lineage, "ivf-health store",
        " — refusing to reset or double-count", sub="cells")
    cnt = (batch.groupBy("centroid_id", "label")
           .agg(F.count(F.lit(1)).alias("c")))
    merged = cnt if base is None else (
        spark.read.parquet(f"{out_dir}/cells/{base}")
        .unionByName(cnt)
        .groupBy("centroid_id", "label").agg(F.sum("c").alias("c")))
    version = snapshots.write_snapshot(merged, out_dir, batch_id, "cells")
    health = _ivf_health_from_cells(
        spark.read.parquet(f"{out_dir}/cells/{version}"), centroids)
    trig = health.select(
        "centroid_id",
        F.when(F.col("n_vectors") == 0, "empty_cell")
        .when(F.col("share") > IVF_MAX_SHARE, "jumbo_cell")
        .when(F.col("purity") < IVF_MIN_PURITY, "impure_cell")
        .alias("reason")).where(F.col("reason").isNotNull())
    snapshots.write_snapshot(
        trig.withColumn("version", F.lit(batch_id).cast("long")),
        out_dir, batch_id, "triggers")
    snapshots.publish(out_dir, version)


def _ivf_health_from_cells(cells: DataFrame,
                           centroids: DataFrame) -> DataFrame:
    """(centroid_id, label, c) counts -> the plans/ivf.ivf_health
    report shape (centroid_id, n_vectors, share, majority_count,
    purity) including empty cells — so store-derived health is
    directly comparable to the batch audit."""
    from pyspark.sql import Window

    g = (cells.groupBy("centroid_id")
         .agg(F.sum("c").alias("n_vectors"),
              F.max("c").alias("majority_count")))
    out = (centroids.select("centroid_id").distinct()
           .join(g, "centroid_id", "left")
           .select("centroid_id",
                   F.coalesce("n_vectors", F.lit(0).cast("long"))
                   .alias("n_vectors"),
                   F.coalesce("majority_count",
                              F.lit(0).cast("long"))
                   .alias("majority_count")))
    w = F.sum("n_vectors").over(Window.partitionBy())
    return out.select(
        "centroid_id", "n_vectors",
        (F.col("n_vectors") / w).alias("share"),
        "majority_count",
        F.when(F.col("n_vectors") > 0,
               F.col("majority_count").cast("double")
               / F.col("n_vectors")).alias("purity"))


def read_ivf_health(spark: SparkSession, out_dir: str,
                    centroids: DataFrame) -> DataFrame:
    """Health report from the committed store head (the _CURRENT
    pointer) — same shape as plans/ivf.ivf_health on the full
    snapshot (tested equal)."""
    return _ivf_health_from_cells(
        read_latest_snapshot(spark, out_dir, "cells"), centroids)


def read_ivf_triggers(spark: SparkSession, out_dir: str) -> DataFrame:
    """Fence breaches as of the committed head: (centroid_id,
    reason, version)."""
    return read_latest_snapshot(spark, out_dir, "triggers")


def stream_maintain_skyline(orders: DataFrame, out_dir: str,
                            checkpoint_dir: str):
    """foreachBatch maintenance of the 2D order SKYLINE frontier —
    the streaming face of `orders_skyline_2d`, exploiting the
    skyline's merge law: skyline(A ∪ B) = skyline(skyline(A) ∪
    skyline(B)), so each micro-batch reduces to its own (tiny)
    frontier and re-skylines against the stored one. State is the
    frontier itself — at most one order per distinct date with
    strictly decreasing prices, so date-bounded — never order
    history. Rebased per batch for exactly-once (replay rebuilds the
    same version from the pre-batch base; the merge is idempotent on
    top of that since skylining is)."""
    return run_batches(
        orders, lambda batch, batch_id: _merge_skyline(
            batch, batch_id, out_dir, lineage=checkpoint_dir),
        checkpoint_dir)


def _merge_skyline(batch: DataFrame, batch_id: int, out_dir: str,
                   lineage: str | None = None) -> None:
    """One exactly-once frontier-merge commit. Module-level so the
    replay test can invoke it directly."""
    from ..operators.relational import _skyline_2d

    base = snapshots.rebase_base(out_dir, batch_id, lineage,
                                 "skyline store", " — refusing to reset")
    cols = ["o_orderkey", "o_orderdate", "o_totalprice"]
    cand = _skyline_2d(batch.select(*cols))
    merged = cand if base is None else _skyline_2d(
        batch.sparkSession.read.parquet(f"{out_dir}/{base}")
        .unionByName(cand))
    snapshots.commit(merged, out_dir, batch_id)


def read_skyline(spark: SparkSession, out_dir: str) -> DataFrame:
    """The committed frontier, in the batch `orders_skyline_2d`
    output shape (orderdate formatted)."""
    cur = read_latest_snapshot(spark, out_dir)
    return cur.select("o_orderkey",
                      F.date_format("o_orderdate", "yyyy-MM-dd")
                      .alias("orderdate"),
                      "o_totalprice")


def stream_maintain_lifecycle(events: DataFrame, out_dir: str,
                              checkpoint_dir: str):
    """foreachBatch maintenance of the USER-LIFECYCLE store
    (user_id → first_us, last_us) — the streaming half of
    `user_lifecycle_stages`: each micro-batch folds its per-user
    min/max event time into the snapshot with min-of-mins /
    max-of-maxes — IDEMPOTENT and commutative (the first-seen-store
    discipline: replays and out-of-order batches converge), so no
    rebase ledger is needed. `read_lifecycle_stages` finishes the
    store into the batch report shape against the store's own
    frontier. State is one row per distinct user — the exact floor
    for this metric."""
    return run_batches(
        events, lambda batch, batch_id: _merge_lifecycle(
            batch, batch_id, out_dir),
        checkpoint_dir)


def _merge_lifecycle(batch: DataFrame, batch_id: int,
                     out_dir: str) -> None:
    """One idempotent min/max merge commit of a micro-batch into the
    lifecycle store (see stream_maintain_lifecycle for the contract).
    Module-level so replay tests and composed store queries can
    invoke it directly."""
    seen = (batch.select("user_id", F.unix_micros("ts").alias("us"))
            .groupBy("user_id")
            .agg(F.min("us").alias("first_us"),
                 F.max("us").alias("last_us")))
    current = snapshots.head_base(batch.sparkSession, out_dir,
                                  "lifecycle store")
    merged = seen if current is None else (
        current.unionByName(seen)
        .groupBy("user_id")
        .agg(F.min("first_us").alias("first_us"),
             F.max("last_us").alias("last_us")))
    snapshots.commit(merged, out_dir, batch_id)


def read_lifecycle_stages(spark: SparkSession,
                          out_dir: str) -> DataFrame:
    """Finish the lifecycle store into the batch
    `user_lifecycle_stages` report (stage, n_users) against the
    store's own ingestion frontier — same fences, same precedence."""
    from ..operators.windows import (LIFECYCLE_CHURN_DAYS,
                                     LIFECYCLE_DORMANT_DAYS)
    per = read_latest_snapshot(spark, out_dir)
    anchor = per.agg(F.max("last_us").alias("hi"))
    day_us = 86_400 * 1_000_000
    stage = (
        F.when(F.col("first_us")
               >= F.col("hi") - LIFECYCLE_DORMANT_DAYS * day_us,
               "new")
        .when(F.col("last_us")
              < F.col("hi") - LIFECYCLE_CHURN_DAYS * day_us,
              "churned")
        .when(F.col("last_us")
              < F.col("hi") - LIFECYCLE_DORMANT_DAYS * day_us,
              "dormant")
        .otherwise("active"))
    return (per.crossJoin(F.broadcast(anchor))
            .select(stage.alias("stage"))
            .groupBy("stage")
            .agg(F.count(F.lit(1)).alias("n_users")))


# delta chain length at which the bitmap store folds itself into a
# fresh full snapshot (amortizes compaction to 1/K of batches while
# the head read stays a K-way union of key-disjoint-ish small files)
BITMAP_COMPACT_EVERY = 8


def _read_bitmap_state(spark: SparkSession, out_dir: str,
                       parts: list[str]) -> DataFrame:
    """Fold a bitmap-store manifest (base snapshot + delta chain)
    into the head state. Sound for ANY interleaving because bit_or
    is idempotent, commutative and associative — a delta is just the
    batch's own words, never a read-modify-write image."""
    return (spark.read.parquet(*[f"{out_dir}/{p}" for p in parts])
            .groupBy("event_type", "blk")
            .agg(F.expr("bit_or(w)").alias("w")))


def stream_maintain_audience_bitmaps(events: DataFrame, out_dir: str,
                                     checkpoint_dir: str):
    """foreachBatch maintenance of the AUDIENCE BITMAP store — the
    streaming half of `audience_bitmap_intersection`, as a KEYED
    MERGE: because bit_or is idempotent/commutative/associative,
    each micro-batch appends ONLY its own touched
    (event_type, user-block) 62-bit words as a DELTA version — per-
    batch write volume is proportional to the blocks the batch
    touched, not the |users|/62-word snapshot — and the head is the
    bit_or fold of the manifest (base + delta chain), compacted into
    a fresh full snapshot every BITMAP_COMPACT_EVERY batches.
    Replays rewrite the same delta (same batch_id) and re-OR the
    same bits; out-of-order batches commute — no rebase ledger."""
    return run_batches(
        events, lambda batch, batch_id: _merge_audience_bitmaps(
            batch, batch_id, out_dir),
        checkpoint_dir)


def _merge_audience_bitmaps(batch: DataFrame, batch_id: int,
                            out_dir: str) -> None:
    """One keyed-MERGE delta commit of a micro-batch into the bitmap
    store (see stream_maintain_audience_bitmaps for the contract).
    Module-level so replay tests and composed store queries can
    invoke it directly."""
    from ..operators.analytics import BITMAP_LANE

    spark = batch.sparkSession
    words = (batch
             .where(F.col("event_type").isin("click", "purchase"))
             .select("event_type",
                     F.expr(f"user_id DIV {BITMAP_LANE}")
                     .alias("blk"),
                     F.expr(f"shiftleft(CAST(1 AS BIGINT), "
                            f"int(user_id % {BITMAP_LANE}))")
                     .alias("bit"))
             .groupBy("event_type", "blk")
             .agg(F.expr("bit_or(bit)").alias("w")))
    version = snapshots.version(batch_id)
    # the folded snapshot lives under base/, a name no delta takes: a
    # replay of the compacting batch rewrites delta v{b} on top of it
    # instead of overwriting the whole store with the batch's words
    compacted = f"base/{version}"
    try:
        parts = snapshots.read_head(out_dir)
    except FileNotFoundError:
        parts = []
    # a replayed batch_id must not duplicate its manifest entry
    # (the delta itself is overwritten in place; bit_or would
    # absorb a duplicate anyway, this keeps the chain honest)
    parts = [p for p in parts if p != version]
    # a base this batch compacted already holds its words, and
    # overwriting a path the fold reads can delete it before the scan
    # runs: replay as a delta
    if len(parts) >= BITMAP_COMPACT_EVERY and compacted not in parts:
        merged = (_read_bitmap_state(spark, out_dir, parts)
                  .unionByName(words)
                  .groupBy("event_type", "blk")
                  .agg(F.expr("bit_or(w)").alias("w")))
        snapshots.write_snapshot(merged, out_dir, batch_id, "base")
        parts = [compacted]
    else:
        parts = parts + [snapshots.write_snapshot(words, out_dir,
                                                  batch_id)]
    snapshots.publish(out_dir, *parts)


def read_audience_overlap(spark: SparkSession,
                          out_dir: str) -> DataFrame:
    """Finish the bitmap store head into the batch
    `audience_bitmap_intersection` report shape (folding the base +
    delta manifest; a legacy single-version pointer reads the
    same)."""
    words = _read_bitmap_state(spark, out_dir,
                               snapshots.read_head(out_dir))
    a = (words.where(F.col("event_type") == "click")
         .select("blk", F.col("w").alias("wa")))
    b = (words.where(F.col("event_type") == "purchase")
         .select("blk", F.col("w").alias("wb")))
    j = a.join(b, "blk", "full")
    za = F.coalesce(F.col("wa"), F.lit(0).cast("long"))
    zb = F.coalesce(F.col("wb"), F.lit(0).cast("long"))
    agg = j.agg(
        F.sum(F.bit_count(za)).alias("n_click"),
        F.sum(F.bit_count(zb)).alias("n_purchase"),
        F.sum(F.bit_count(za.bitwiseAND(zb))).alias("n_both"),
        F.sum(F.bit_count(za.bitwiseOR(zb))).alias("n_either"))
    return agg.select(
        "n_click", "n_purchase", "n_both", "n_either",
        (F.col("n_both").cast("double") / F.col("n_either"))
        .alias("jaccard"))


def _dsir_profile(history: DataFrame) -> list[int]:
    """Train the DSIR hashed-bigram log-ratio profile from a static
    history snapshot: the same smoothed λ(bucket) table the batch
    `dsir_importance_weights` builds (micro-nat-quantized integers),
    densified to a DSIR_BUCKETS-long python list where buckets the
    history never produced get the cr=ct=0 smoothed default — the
    value the add-one model assigns any unseen bucket, so the stream
    can score bigrams the training corpus never hashed."""
    import math

    from ..operators.text import (DSIR_BG_EXPR, DSIR_BUCKETS,
                                  DSIR_TARGET_LANG, LOGPROB_GRID, tokens)
    from ..functions import pin
    d = (history.select("lang", tokens().alias("toks"))
         .where(F.size("toks") >= 2))
    pairs = (pin(pin(d, bgs=F.expr(DSIR_BG_EXPR)),
                 pr=F.expr("transform(array_distinct(bgs), x -> "
                           "struct(x AS bkt, size(filter(bgs, y -> y = x))"
                           " AS c))"))
             .select("lang", F.explode("pr").alias("p"))
             .select("lang", F.col("p.bkt").alias("bkt"),
                     F.col("p.c").alias("c")))
    prof = (pairs.groupBy("bkt")
            .agg(F.sum("c").cast("long").alias("cr"),
                 F.sum(F.when(F.col("lang") == DSIR_TARGET_LANG,
                              F.col("c")).otherwise(0))
                 .cast("long").alias("ct"))
            .collect())
    nr = sum(r["cr"] for r in prof)
    nt = sum(r["ct"] for r in prof)

    def lam(cr: int, ct: int) -> int:
        return math.floor(
            (math.log((ct + 1) / (nt + DSIR_BUCKETS))
             - math.log((cr + 1) / (nr + DSIR_BUCKETS)))
            * LOGPROB_GRID + 0.5)

    arr = [lam(0, 0)] * DSIR_BUCKETS
    for r in prof:
        arr[int(r["bkt"])] = lam(int(r["cr"]), int(r["ct"]))
    return arr


def dsir_gate_stream(docs: DataFrame, history: DataFrame,
                     threshold: float = 0.0) -> DataFrame:
    """Streaming DSIR admission gate: score every incoming document's
    log importance weight (target-vs-raw hashed-bigram model, Xie et
    al. 2023) against a profile trained ONCE from the static history
    snapshot, and pass only docs at or above the threshold — the
    "keep what looks like the reference corpus" ingest filter.

    The λ table ships as ONE dense array literal (DSIR_BUCKETS
    integers, ~80 KB inside the serialized plan), so scoring is a
    fully STATELESS in-row fold: hash bigrams (the exact expression
    the batch scorer uses), sum element_at(λ, bucket) — no join, no
    explode, no state store, no watermark; replay-safe and map-only
    at any ingest rate. Scores equal the batch operator's on the same
    profile corpus bit-for-bit (integer micro-nat sums)."""
    from ..operators.text import DSIR_BG_EXPR, LOGPROB_GRID, tokens
    from ..functions import pin
    lam = F.lit(_dsir_profile(history))
    d = pin(docs.select("doc_id", "lang", tokens().alias("toks"))
            .where(F.size("toks") >= 2),
            bgs=F.expr(DSIR_BG_EXPR))
    units = F.aggregate(
        F.col("bgs"), F.lit(0).cast("long"),
        lambda acc, b: acc + F.element_at(lam, (b + 1).cast("int")))
    scored = d.select(
        "doc_id", "lang",
        F.size("bgs").cast("long").alias("n_bigrams"),
        units.alias("liw_units"))
    return (scored
            .select("*", (F.col("liw_units") / F.lit(float(LOGPROB_GRID)))
                    .alias("log_importance_weight"))
            .where(F.col("log_importance_weight") >= threshold))


def conformal_gate_stream(events: DataFrame,
                          history: DataFrame) -> DataFrame:
    """Streaming DISTRIBUTION-FREE anomaly gate: incoming events pass
    through only when their value falls OUTSIDE the split-conformal
    90% interval trained once from the static history (the
    `conformal_value_intervals` machinery) — the alert stream a team
    runs when the z-score gate's normality assumption is the thing
    being doubted.

    Like the z-score gate, the per-type (lo, hi) bounds ship as tiny
    literal maps (event-type key space is enumeration-bounded), so
    flagging is a stateless per-row projection: no join, no state
    store, map-only at any rate. Types whose calibration set was too
    small for the target rank have no bounds and pass nothing
    (explicitly absent from the maps)."""
    from ..operators.analytics import conformal_value_intervals
    rows = conformal_value_intervals({"events": history}).collect()
    lo = F.create_map(*[F.lit(x) for r in rows
                        for x in (r["event_type"], r["lo"])])
    hi = F.create_map(*[F.lit(x) for r in rows
                        for x in (r["event_type"], r["hi"])])
    lo_c, hi_c = lo[F.col("event_type")], hi[F.col("event_type")]
    return (events
            .select("event_id", "event_type", "value",
                    F.unix_micros("ts").alias("ts_us"),
                    lo_c.alias("lo"), hi_c.alias("hi"))
            .where(F.col("lo").isNotNull()
                   & ((F.col("value") < F.col("lo"))
                      | (F.col("value") > F.col("hi")))))


# round-7 wave 10: Misra-Gries heavy-hitter summary store

MG_K = 64     # counter budget: the summary never holds more tokens


def _merge_heavy_hitters(batch: DataFrame, batch_id: int,
                         out_dir: str, k: int = MG_K,
                         lineage: str | None = None) -> None:
    """One exactly-once Misra-Gries merge commit (Agarwal et al.,
    "Mergeable Summaries" SIGMOD'12): the batch's exact token counts
    reduce to an MG_k summary (subtract the (k+1)-th largest count,
    keep positives), sum-merge with the base summary on the token
    union (≤ k + batch-vocab rows), and reduce to k again. The
    accumulated decrement total rides every row as `dec_total`:
    for any token, cnt ≤ true-count ≤ cnt + dec_total, and every
    token whose true count exceeds dec_total is PRESENT — the
    deterministic heavy-hitter guarantee that needs k counters of
    state where exact counts need the vocabulary.

    Exactly-once by the rebase rule of streaming/snapshots.py: a
    replayed batch rebuilds the same version; a fresh checkpoint
    behind the store head fails loudly."""
    from ..operators.text import tokens

    spark = batch.sparkSession

    def reduce_to_k(counts: DataFrame, dec_prior: int):
        # (k+1)-th largest count = the MG decrement (0 when the
        # summary already fits); TakeOrdered on a ≤ k + vocab frame
        c = counts.orderBy(F.desc("cnt"), F.asc("token")) \
                  .limit(k + 1).collect()
        dec = int(c[k]["cnt"]) if len(c) > k else 0
        dec_total = dec_prior + dec
        kept = (counts.where(F.col("cnt") > dec)
                .select("token", (F.col("cnt") - dec).alias("cnt")))
        return (kept.withColumn(
            "dec_total", F.lit(dec_total).cast("long")), dec_total)

    base = snapshots.rebase_base(out_dir, batch_id, lineage,
                                 "heavy-hitter store")
    cnt = (batch.select(F.explode(tokens()).alias("token"))
           .groupBy("token").agg(F.count(F.lit(1)).alias("cnt")))
    if base:
        # dec_total lives in a sidecar, NOT only in the kept rows: a
        # snapshot can legally compact to ZERO rows (k+1 tokens tied
        # at the decrement), and max() over an empty frame would
        # silently reset the accumulated decrement — voiding the
        # cnt ≤ true ≤ cnt + dec_total bound for every later
        # snapshot.
        with open(f"{out_dir}/{base}.dec", encoding="utf-8") as f:
            dec_prior = int(f.read())
        summed = (spark.read.parquet(f"{out_dir}/{base}")
                  .select("token", "cnt")
                  .unionByName(cnt)
                  .groupBy("token").agg(F.sum("cnt").alias("cnt")))
    else:
        dec_prior = 0
        summed = cnt
    merged, dec_total = reduce_to_k(summed, dec_prior)
    version = snapshots.write_snapshot(merged, out_dir, batch_id)
    snapshots.write_atomic(f"{out_dir}/{version}.dec", str(dec_total))
    snapshots.publish(out_dir, version)


def stream_maintain_heavy_hitters(docs: DataFrame, out_dir: str,
                                  checkpoint_dir: str, k: int = MG_K):
    """foreachBatch maintenance of the Misra-Gries HEAVY-HITTER
    summary — the bounded-state alternative to
    `stream_maintain_token_counts` when the vocabulary itself is too
    big to be state (the 100 TB regime: exact counts need the vocab,
    MG needs k rows and answers "which tokens exceed N/(k+1)" with a
    per-token error bound carried in the snapshot).

    Each snapshot is ≤ k rows of (token, cnt, dec_total) with the
    guarantee cnt ≤ true ≤ cnt + dec_total and every token with
    true > dec_total present. Same rebase rule as the token-count
    store (replay rebuilds, fresh-checkpoint restarts refuse)."""
    return run_batches(
        docs, lambda batch, batch_id: _merge_heavy_hitters(
            batch, batch_id, out_dir, k=k, lineage=checkpoint_dir),
        checkpoint_dir)


def read_heavy_hitters(spark: SparkSession, out_dir: str) -> DataFrame:
    """Latest heavy-hitter summary, largest first, with the error
    bound: true count ∈ [cnt, cnt + dec_total] for every row."""
    return (read_latest_snapshot(spark, out_dir)
            .orderBy(F.desc("cnt"), F.asc("token")))


# round-7 wave 15: streaming exact value-histogram store

VH_VGRID = 10_000     # value quantization (1e-4 units)
VH_MAX_CELLS = 2_000_000   # fence: max (event_type, vu) cells a
                           # snapshot may hold. The store's state
                           # bound is VALUE-RANGE × type cardinality;
                           # a heavy-tailed or effectively-continuous
                           # domain (e.g. values spanning 1e9 distinct
                           # grid points) silently turns "bounded
                           # state" into corpus-sized state — the
                           # fence refuses loudly instead


def _merge_value_histogram(batch: DataFrame, batch_id: int,
                           out_dir: str,
                           lineage: str | None = None,
                           max_cells: int = VH_MAX_CELLS) -> None:
    """One exactly-once sum-merge of a micro-batch's per-(event_type,
    quantized value) counts into the histogram store — the rebase
    rule of streaming/snapshots.py on the numeric axis. Module-level
    so the replay test can invoke it directly.

    Before publishing, a distinct-cell census fences the quantized
    key space at ``max_cells``: exceeding it means the value domain
    is too heavy-tailed for an exact grid (state would grow with the
    data, not the range) and the merge REFUSES — coarsen VH_VGRID or
    switch to a bounded-error summary (the Misra-Gries store is the
    vocabulary-sized analogue) rather than let the store degrade into
    an unbounded table. The refused batch does not advance _CURRENT,
    so the prior snapshot stays serveable."""
    base = snapshots.rebase_base(out_dir, batch_id, lineage,
                                 "value-histogram store")
    cnt = (batch.where(F.col("value").isNotNull())
           .select("event_type",
                   F.floor(F.col("value") * VH_VGRID + F.lit(0.5))
                   .cast("long").alias("vu"))
           .groupBy("event_type", "vu")
           .agg(F.count(F.lit(1)).alias("cnt")))
    merged = cnt if base is None else (
        batch.sparkSession.read.parquet(f"{out_dir}/{base}")
        .unionByName(cnt)
        .groupBy("event_type", "vu").agg(F.sum("cnt").alias("cnt")))
    n_cells = merged.count()
    if n_cells > max_cells:
        raise RuntimeError(
            f"value-histogram store {out_dir}: merged snapshot would "
            f"hold {n_cells} (event_type, value) cells > the "
            f"{max_cells}-cell fence — the value domain is too "
            f"heavy-tailed for an exact 1/{VH_VGRID} grid (state "
            f"would track the data, not the range). Coarsen "
            f"VH_VGRID, raise max_cells deliberately, or use a "
            f"bounded-error summary store; refusing to publish "
            f"(prior snapshot left as _CURRENT)")
    snapshots.commit(merged, out_dir, batch_id)


def stream_maintain_value_histogram(events: DataFrame, out_dir: str,
                                    checkpoint_dir: str,
                                    max_cells: int = VH_MAX_CELLS):
    """foreachBatch maintenance of the EXACT per-type value histogram
    — the streaming producer behind exact percentile serving: state is
    the (event_type, distinct quantized value) count table, which is
    VALUE-RANGE-bounded (never corpus-bounded — a 100 TB event stream
    still folds onto the same 1e-4 grid), so exact quantiles stay
    queryable offline at any stream length where a sketch would have
    locked in its error. Same rebase rule as the token-count store."""
    return run_batches(
        events, lambda batch, batch_id: _merge_value_histogram(
            batch, batch_id, out_dir, lineage=checkpoint_dir,
            max_cells=max_cells),
        checkpoint_dir)


def read_value_quantiles(spark: SparkSession, out_dir: str,
                         qs: tuple = (0.5, 0.9, 0.99)) -> DataFrame:
    """Exact per-type quantiles from the histogram head: cumulative
    counts over the value-bounded grid, rank-exact ceil(q·n)
    selection — the serving query the store exists for."""
    from pyspark.sql import Window
    h = read_latest_snapshot(spark, out_dir)
    w = (Window.partitionBy("event_type").orderBy(F.asc("vu"))
         .rowsBetween(Window.unboundedPreceding, 0))
    wt = Window.partitionBy("event_type")
    cum = h.select("event_type", "vu",
                   F.sum("cnt").over(w).alias("cf"),
                   F.sum("cnt").over(wt).alias("n"))
    sels = [F.min(F.when(
        F.col("cf") >= F.expr(f"CAST(ceil({q} * n) AS BIGINT)"),
        F.col("vu"))).alias(f"q{str(q).replace('.', '_')}")
        for q in qs]
    out = cum.groupBy("event_type").agg(F.max("n").alias("n"), *sels)
    for q in qs:
        c = f"q{str(q).replace('.', '_')}"
        out = out.withColumn(c, F.col(c) / float(VH_VGRID))
    return out
