"""Window / ordered analytics (SURVEY.md §2.C).

All window specs partition by a key (user/nation) so at scale the work
distributes across executors with one shuffle on the partition key; no
global ordering is ever required.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import dec, dsum, ts_us

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min


def topk_customers_per_nation(t: dict[str, DataFrame], k: int = 3) -> DataFrame:
    """dense_rank top-k customers by account balance per nation."""
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .withColumn("rnk", F.dense_rank().over(w))
        .where(F.col("rnk") <= k)
        .select("n_name", "c_custkey", "c_name", "c_acctbal", "rnk")
    )


def latest_event_per_user(t: dict[str, DataFrame]) -> DataFrame:
    """Latest-record-per-key via row_number (the change-capture
    'current state' pattern; one shuffle on user_id)."""
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        t["events"]
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", ts_us("ts").alias("ts_us"),
                "event_type", "value")
    )


def running_total_per_user(t: dict[str, DataFrame]) -> DataFrame:
    """Cumulative per-user spend over time (exact decimal running sum —
    order-independent parity even though the scan order isn't)."""
    w = (Window.partitionBy("user_id")
         .orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        t["events"]
        .select("event_id", "user_id", ts_us("ts").alias("ts_us"),
                F.sum(dec("value")).over(w).cast("decimal(38,6)").cast("double").alias("cum_value"))
    )


def sessionize_events(t: dict[str, DataFrame],
                      gap_us: int = SESSION_GAP_US) -> DataFrame:
    """Gap-based sessionization: new session when the inter-event gap
    exceeds ``gap_us``. lag + running count of session starts — two
    window passes over one user_id shuffle."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = t["events"].withColumn("ts_us", ts_us("ts"))
    flagged = ev.withColumn(
        "new_session",
        F.when(F.col("ts_us") - F.lag("ts_us").over(w) > gap_us, 1)
        .when(F.lag("ts_us").over(w).isNull(), 1)
        .otherwise(0))
    return (flagged
            .withColumn("session_id", F.sum("new_session").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
            .select("event_id", "user_id", "ts_us", "session_id"))


def session_stats(t: dict[str, DataFrame],
                  gap_us: int = SESSION_GAP_US) -> DataFrame:
    """Per-session aggregates on top of sessionize_events (reuses the
    same user_id partitioning — no extra wide shuffle)."""
    sessions = sessionize_events(t, gap_us)
    values = t["events"].select("event_id", "value")
    return (
        sessions.join(values, "event_id")
        .groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.min("ts_us").alias("start_us"),
             F.max("ts_us").alias("end_us"),
             (F.max("ts_us") - F.min("ts_us")).alias("duration_us"),
             F.sum(dec("value")).cast("decimal(38,6)").cast("double").alias("sum_value"))
    )


def funnel_signup_purchase(t: dict[str, DataFrame]) -> DataFrame:
    """Ordered funnel: first signup, then first purchase after it.
    Conditional aggregation — single shuffle, no self-join."""
    ev = t["events"].withColumn("ts_us", ts_us("ts"))
    first_signup = F.min(F.when(F.col("event_type") == "signup",
                                F.col("ts_us")))
    agg = (ev.groupBy("user_id")
           .agg(first_signup.alias("first_signup_us"),
                F.collect_list(F.when(F.col("event_type") == "purchase",
                                      F.col("ts_us"))).alias("purchases")))
    first_purchase_after = F.array_min(F.filter(
        "purchases", lambda x: x > F.col("first_signup_us")))
    return (agg.select(
        "user_id", "first_signup_us",
        first_purchase_after.alias("first_purchase_after_us"))
        .withColumn("converted",
                    (F.col("first_signup_us").isNotNull()
                     & F.col("first_purchase_after_us").isNotNull()).cast("int")))


def windowed_event_counts(t: dict[str, DataFrame]) -> DataFrame:
    """Tumbling 1-hour window counts — batch twin of the streaming job
    in streaming/jobs.py (same logical plan, bounded input)."""
    ev = t["events"]
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00").alias("hour"),
            "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(dec("value")).cast("decimal(38,6)").cast("double").alias("sum_value"))
    )


def session_window_stats(t: dict[str, DataFrame],
                         gap: str = "30 minutes") -> DataFrame:
    """Native Spark session_window aggregation (the built-in
    counterpart of sessionize_events; also valid under readStream).
    Note the boundary difference vs the hand-rolled version: an event
    at exactly prev_ts + gap starts a NEW session here (extension
    requires ts < session_end), vs same-session in sessionize_events.
    """
    ev = t["events"]
    return (ev.groupBy(F.session_window("ts", gap), F.col("user_id"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(dec("value")).cast("decimal(38,6)").cast("double")
                 .alias("sum_value"))
            .select("user_id",
                    F.unix_micros(F.col("session_window.start"))
                    .alias("start_us"),
                    F.unix_micros(F.col("session_window.end"))
                    .alias("end_us"),
                    "n_events", "sum_value"))


def cohort_retention(t: dict[str, DataFrame]) -> DataFrame:
    """Cohort retention matrix: users bucketed by first-active day,
    counted on every day they return (day granularity because the
    testdata spans one month). Two shuffles (user_id, then the small
    day-pair key); the distinct pair set partial-aggregates map-side
    before either shuffle."""
    ev = t["events"].select(
        "user_id", F.date_format("ts", "yyyy-MM-dd").alias("active_day"))
    cohort = (ev.groupBy("user_id")
              .agg(F.min("active_day").alias("cohort_day")))
    active = ev.distinct()
    return (active.join(cohort, "user_id")
            .groupBy("cohort_day", "active_day")
            .agg(F.count(F.lit(1)).alias("n_users")))


def event_transitions(t: dict[str, DataFrame]) -> DataFrame:
    """First-order event-type transition counts (Markov bigrams) per
    user stream: lag over (ts, event_id) — deterministic because the
    ordering key is unique — then one count aggregate on the tiny
    (prev, next) key space."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (t["events"]
            .select("user_id", "ts", "event_id", "event_type",
                    F.lag("event_type").over(w).alias("prev_type"))
            .where(F.col("prev_type").isNotNull())
            .groupBy("prev_type", F.col("event_type").alias("next_type"))
            .agg(F.count(F.lit(1)).alias("n_transitions")))


def daily_active_users(t: dict[str, DataFrame]) -> DataFrame:
    """Daily activity rollup: exact distinct users + event count +
    exact-decimal value sum per calendar day."""
    return (t["events"]
            .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
            .agg(F.count_distinct("user_id").alias("dau"),
                 F.count(F.lit(1)).alias("n_events"),
                 dsum("value").alias("total_value")))


def sliding_window_event_counts(t: dict[str, DataFrame]) -> DataFrame:
    """Sliding-window counts (10-minute window, 5-minute slide): every
    event lands in exactly two overlapping windows. Batch twin of the
    watermarked streaming job (streaming/jobs.py
    sliding_window_counts_stream) — same logical plan under
    readStream. One hash-agg shuffle on a (window, type) key space
    bounded by time x cardinality, with map-side partial aggregation;
    the built-in window() generator is a narrow projection."""
    ev = t["events"]
    win = F.window("ts", "10 minutes", "5 minutes")
    return (
        ev.groupBy(win.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(dec("value")).cast("decimal(38,6)").cast("double")
             .alias("sum_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss")
            .alias("window_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss")
            .alias("window_end"),
            "event_type", "n_events", "sum_value"))


FUNNEL_HORIZON_US = 24 * 3600 * 1_000_000   # per-stage conversion window


def funnel_three_step(t: dict[str, DataFrame],
                      horizon_us: int = FUNNEL_HORIZON_US) -> DataFrame:
    """Three-stage ordered funnel (signup → first click within 24 h →
    first purchase within 24 h of that click), collapsed to
    corpus-level conversion counts. ONE data shuffle: per-user
    conditional collects in a single aggregate, stage times via in-row
    filtered argmins (the funnel_signup_purchase pattern extended a
    stage), then a global count — no per-stage self-joins, which at
    100 TB would each re-shuffle the events table."""
    ev = t["events"].withColumn("ts_us", ts_us("ts"))
    per = (ev.groupBy("user_id")
           .agg(F.min(F.when(F.col("event_type") == "signup",
                             F.col("ts_us"))).alias("s1"),
                F.collect_list(F.when(F.col("event_type") == "click",
                                      F.col("ts_us"))).alias("clicks"),
                F.collect_list(F.when(F.col("event_type") == "purchase",
                                      F.col("ts_us"))).alias("purch")))
    st = per.select(
        "user_id", "s1", "purch",
        F.array_min(F.filter(
            "clicks", lambda x: (x > F.col("s1"))
            & (x <= F.col("s1") + horizon_us))).alias("s2"))
    st2 = st.select(
        "user_id", "s1", "s2",
        F.array_min(F.filter(
            "purch", lambda x: (x > F.col("s2"))
            & (x <= F.col("s2") + horizon_us))).alias("s3"))
    n1, n2, n3 = F.count("s1"), F.count("s2"), F.count("s3")
    return st2.agg(
        n1.alias("n_signup"),
        n2.alias("n_click_after"),
        n3.alias("n_purchase_after"),
        (n2.cast("double") / n1).alias("click_rate"),
        (n3.cast("double") / n1).alias("purchase_rate"))


def event_value_outliers(t: dict[str, DataFrame]) -> DataFrame:
    """Per-event-type Tukey boxplot outliers (value outside
    [q1 − 1.5·IQR, q3 + 1.5·IQR]) — the monitoring query that feeds an
    anomaly dashboard. Exact interpolated percentiles rounded to 6
    decimals on both engines (the percentile_order_value convention:
    Spark `percentile` and DuckDB `quantile_cont` interpolate
    equivalently but not bit-identically); fences derive from the
    rounded quantiles with the same expression tree, so flags are
    engine-exact. One tiny per-type aggregate broadcast against the
    events scan — no wide shuffle."""
    ev = t["events"]
    p = lambda q: F.round(F.expr(f"percentile(value, {q})"), 6)
    fences = (ev.groupBy("event_type")
              .agg(p(0.25).alias("q1"), p(0.75).alias("q3")))
    lo = F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))
    hi = F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
    return (ev.join(F.broadcast(fences), "event_type")
            .select("event_id", "event_type", "value",
                    lo.alias("lo_fence"), hi.alias("hi_fence"))
            .where((F.col("value") < F.col("lo_fence"))
                   | (F.col("value") > F.col("hi_fence"))))


def daily_value_ffill(t: dict[str, DataFrame]) -> DataFrame:
    """Calendar resample with forward fill — the gap-filling step every
    reporting mart needs: one row per user per calendar day of their
    active span, carrying the day's LAST observed value, with gap days
    forward-filled from the most recent observation.

    Shape: per-(user, day) last-record (one shuffle; ts + event_id
    tie-break makes it total), a per-user date spine exploded from ONE
    tiny min/max aggregate (spine rows = Σ user spans — days, not
    events), then a per-user ordered window for the fill. No global
    sort; the fill value is carried, never recomputed, so doubles pass
    through bit-exact."""
    e = t["events"].select(
        "user_id", F.to_date("ts").alias("d"), "ts", "event_id", "value")
    w_last = Window.partitionBy("user_id", "d").orderBy(
        F.desc("ts"), F.desc("event_id"))
    daily = (e.withColumn("rn", F.row_number().over(w_last))
             .where(F.col("rn") == 1)
             .select("user_id", "d", F.col("value").alias("obs_value")))
    spine = (e.groupBy("user_id")
             .agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
             .select("user_id", F.explode(F.expr(
                 "sequence(lo, hi, interval 1 day)")).alias("d")))
    w_fill = (Window.partitionBy("user_id").orderBy("d")
              .rowsBetween(Window.unboundedPreceding, 0))
    return (spine.join(daily, ["user_id", "d"], "left")
            .select("user_id",
                    F.date_format("d", "yyyy-MM-dd").alias("day"),
                    F.last("obs_value", ignorenulls=True).over(w_fill)
                    .alias("value_ffill"),
                    F.col("obs_value").isNotNull().cast("int")
                    .alias("is_observed")))


def cumulative_distinct_users(t: dict[str, DataFrame]) -> DataFrame:
    """Exact cumulative distinct users per calendar day — the corpus
    growth curve ("how many unique contributors have we ever seen as
    of day D") a training-data dashboard tracks.

    COUNT(DISTINCT) under a cumulative window is quadratic; the
    distributed shape is the first-seen trick: one groupBy(user_id)
    min(day) shuffle (map-side combinable), then daily new-user
    counts, then one running sum over the days-bounded frame. The
    only window runs over ≤ O(days) rows — constant-size regardless
    of event volume, so the plan is two aggregates at any scale."""
    first = (t["events"]
             .groupBy("user_id")
             .agg(F.min(F.date_format("ts", "yyyy-MM-dd")).alias("day")))
    daily = first.groupBy("day").agg(
        F.count(F.lit(1)).alias("new_users"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day", "new_users",
        F.sum("new_users").over(w).alias("cum_users"))


def twap_user_value(t: dict[str, DataFrame]) -> DataFrame:
    """Per-user time-weighted average value (TWAP): each observation
    is held until the user's next event and weighted by that holding
    time in whole seconds — the fair "average exposure" metric where
    a plain AVG over-counts burst periods.

    One shuffle total: the lead() window partitions on user_id and the
    follow-up aggregate groups on the same key, so Catalyst reuses the
    window's hash distribution (no second exchange). Weighted sums run
    in exact decimal (value decimal(18,4) x gap-seconds decimal(18,0))
    — order-independent across partitions, bit-stable vs the oracle;
    only the final TWAP division is IEEE double."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = (t["events"]
           .select("user_id", "ts", "event_id", "value")
           .withColumn(
               "w_secs",
               (ts_us(F.lead("ts").over(w)) - ts_us(F.col("ts")))
               / F.lit(1000000))
           .withColumn("w_secs", F.floor("w_secs"))
           .where(F.col("w_secs").isNotNull()))
    agg = (seg.groupBy("user_id")
           .agg(F.count(F.lit(1)).alias("n_segments"),
                F.sum("w_secs").alias("total_secs"),
                F.sum(dec("value")
                      * F.col("w_secs").cast("decimal(18,0)"))
                .cast("decimal(38,4)").cast("double").alias("wsum")))
    return (agg.where(F.col("total_secs") > 0)
            .select("user_id", "n_segments", "total_secs",
                    (F.col("wsum") / F.col("total_secs")
                     .cast("double")).alias("twap_value")))


def daily_value_trend(t: dict[str, DataFrame]) -> DataFrame:
    """Daily value total with a centered 7-day moving-average trend
    and the day's ratio to trend — the seasonality-normalized volume
    chart an ingest dashboard renders (ratio ≈ 1 means on-trend;
    systematic weekday dips show as a stable weekly ratio pattern).

    The fact scan collapses to one daily decimal-exact aggregate;
    every window after that runs over the days-bounded frame (the
    trend is sum/count over a ±3-row frame of EXACT decimals, so the
    moving average is one IEEE division — no float accumulation
    across rows). Edge days average over their available neighbors
    (count over the same frame)."""
    daily = (t["events"]
             .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
             .agg(F.count(F.lit(1)).alias("n_events"),
                  F.sum(dec("value")).cast("decimal(38,6)")
                  .alias("tot_d")))
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    trend = (F.sum("tot_d").over(w7).cast("decimal(38,6)")
             .cast("double")
             / F.count(F.lit(1)).over(w7))
    return (daily.select(
        "day", "n_events",
        F.col("tot_d").cast("double").alias("total_value"),
        trend.alias("trend7"))
        .withColumn("ratio_to_trend",
                    F.col("total_value") / F.col("trend7")))


SESSION_PATH_LEN = 3
SESSION_PATH_TOPK = 20


def session_top_paths(t: dict[str, DataFrame],
                      gap_us: int = SESSION_GAP_US) -> DataFrame:
    """Top-20 session entry paths: the first 3 event types of every
    session joined with '>' — the navigation-pattern report behind
    "how do users start a session". Same gap sessionization as
    sessionize_events with event_type carried through (no join-back),
    the path built by an in-row ordered fold over the per-session
    collect, and a distributed top-k (count DESC, path ASC) — the
    only global stage is TakeOrdered over the tiny path key space."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = t["events"].withColumn("ts_us", ts_us("ts"))
    flagged = ev.withColumn(
        "new_session",
        F.when(F.col("ts_us") - F.lag("ts_us").over(w) > gap_us, 1)
        .when(F.lag("ts_us").over(w).isNull(), 1)
        .otherwise(0))
    sess = flagged.withColumn(
        "session_id", F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    paths = (sess.groupBy("user_id", "session_id")
             .agg(F.array_join(F.slice(F.transform(
                 F.array_sort(F.collect_list(F.struct(
                     "ts_us", "event_id", "event_type"))),
                 lambda p: p["event_type"]), 1, SESSION_PATH_LEN), ">")
                 .alias("path")))
    return (paths.groupBy("path")
            .agg(F.count(F.lit(1)).alias("n_sessions"))
            .orderBy(F.desc("n_sessions"), F.asc("path"))
            .limit(SESSION_PATH_TOPK))


def revenue_cohorts(t: dict[str, DataFrame]) -> DataFrame:
    """Acquisition-cohort revenue matrix: customers grouped by their
    FIRST order month, each cohort's active-customer count and
    decimal-exact revenue per subsequent calendar month, with integer
    month offsets — the retention-revenue triangle a growth report
    renders.

    Shapes: one customer-keyed aggregate for the cohort month, one
    same-key join back onto orders (no extra wide shuffle beyond the
    fact's customer key), one (cohort, month) rollup whose key space
    is months² — tiny at any scale."""
    o = t["orders"].select(
        "o_custkey", "o_totalprice",
        F.date_format("o_orderdate", "yyyy-MM").alias("om"),
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .alias("mnum"))
    cohort = (o.groupBy("o_custkey")
              .agg(F.min("om").alias("cohort_month"),
                   F.min("mnum").alias("cnum")))
    return (o.join(cohort, "o_custkey")
            .groupBy("cohort_month",
                     F.col("om").alias("order_month"),
                     (F.col("mnum") - F.col("cnum"))
                     .alias("months_since"))
            .agg(F.count_distinct("o_custkey").alias("n_customers"),
                 F.count(F.lit(1)).alias("n_orders"),
                 dsum("o_totalprice").alias("revenue")))


def peak_hour_by_type(t: dict[str, DataFrame]) -> DataFrame:
    """Peak activity hour per event type: the hour-of-day with the
    most events (smallest hour on ties), its count, and its share of
    the type's traffic — the load-shaping report behind batch-window
    scheduling. One (type, hour) count shuffle (≤ types×24 keys),
    then ONE struct-max aggregate finds the max and its deterministic
    arg (no second pass); the share divides exact counts."""
    th = (t["events"]
          .groupBy("event_type", F.hour("ts").alias("hour"))
          .agg(F.count(F.lit(1)).alias("n")))
    best = (th.groupBy("event_type")
            .agg(F.max(F.struct(F.col("n").alias("n"),
                                (-F.col("hour")).alias("nh")))
                 .alias("m"),
                 F.sum("n").alias("total")))
    return best.select(
        "event_type",
        (-F.col("m.nh")).alias("peak_hour"),
        F.col("m.n").alias("peak_events"),
        (F.col("m.n").cast("double") / F.col("total"))
        .alias("peak_share"))


def event_type_share_trend(t: dict[str, DataFrame]) -> DataFrame:
    """Daily event-type mix: per (day, type) counts plus the type's
    share of that day's traffic — the composition chart that catches
    a feed silently changing shape. One (day, type) count shuffle;
    the share window runs over the types-bounded day partition."""
    dt = (t["events"]
          .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"),
                   "event_type")
          .agg(F.count(F.lit(1)).alias("n_events")))
    wd = Window.partitionBy("day")
    return dt.select(
        "day", "event_type", "n_events",
        (F.col("n_events").cast("double")
         / F.sum("n_events").over(wd)).alias("day_share"))


RETENTION_OFFSETS = (1, 7, 14, 30)


def user_retention_curve(t: dict[str, DataFrame]) -> DataFrame:
    """Day-N retention curve: share of ALL users active again exactly
    N days after their first activity (N ∈ {1, 7, 14, 30}) — the
    classic growth-accounting curve. One (user, day) distinct + one
    user-keyed min aggregate (SAME user hash reused by the join-back),
    offsets filtered to the 4 reported values before the tiny rollup;
    the zero-filled spine keeps every offset present."""
    ud = (t["events"]
          .select("user_id", F.to_date("ts").alias("d"))
          .distinct())
    first = ud.groupBy("user_id").agg(F.min("d").alias("d0"))
    act = (ud.join(first, "user_id")
           .select("user_id",
                   F.datediff("d", "d0").alias("day_offset"))
           .where(F.col("day_offset").isin(*RETENTION_OFFSETS))
           .groupBy("day_offset")
           .agg(F.count_distinct("user_id").alias("n_active")))
    cohort = first.agg(F.count(F.lit(1)).alias("n_users"))
    spine = (t["events"].sparkSession
             .createDataFrame([(o,) for o in RETENTION_OFFSETS],
                              "day_offset INT"))
    return (spine.join(F.broadcast(act), "day_offset", "left")
            .crossJoin(F.broadcast(cohort))
            .select("day_offset",
                    F.coalesce("n_active", F.lit(0)).alias("n_active"),
                    "n_users",
                    (F.coalesce("n_active", F.lit(0)).cast("double")
                     / F.col("n_users")).alias("retention")))


def user_interarrival_stats(t: dict[str, DataFrame]) -> DataFrame:
    """Per-user inter-arrival gap profile: count, mean, min, and max
    seconds between consecutive events — the activity-cadence table
    that feeds churn models and session-gap calibration.

    One shuffle on user_id; the lag window orders by (ts, event_id)
    so timestamp ties break deterministically. Gaps accumulate as
    exact integer microseconds (BIGINT sums — no float accumulation
    order), with one IEEE division per output column at the end; the
    mean divides sum/n/1e6 in the same written order as the oracle."""
    w = Window.partitionBy("user_id").orderBy(
        F.asc("ts"), F.asc("event_id"))
    us = ts_us("ts")
    gaps = (t["events"]
            .select("user_id", "ts", "event_id", us.alias("us"))
            .select("user_id",
                    (F.col("us") - F.lag("us").over(w)).alias("gap_us"))
            .where(F.col("gap_us").isNotNull()))
    g = (gaps.groupBy("user_id")
         .agg(F.count(F.lit(1)).alias("n_gaps"),
              F.sum("gap_us").alias("sum_us"),
              F.min("gap_us").alias("min_us"),
              F.max("gap_us").alias("max_us")))
    return g.select(
        "user_id", "n_gaps",
        (F.col("sum_us").cast("double") / F.col("n_gaps") / 1e6)
        .alias("avg_gap_s"),
        (F.col("min_us").cast("double") / 1e6).alias("min_gap_s"),
        (F.col("max_us").cast("double") / 1e6).alias("max_gap_s"))


# half-life weights 0.5^k in integer milli-units for k = 0..10 weeks;
# older events weigh 0 — an 11-literal lookup, no engine pow() on data
DECAY_MILLI = (1000, 500, 250, 125, 63, 31, 16, 8, 4, 2, 1)


def decayed_user_value(t: dict[str, DataFrame]) -> DataFrame:
    """Per-user exponentially time-decayed value score (7-day
    half-life, 10-week horizon) next to the raw sum — the recency-
    weighted engagement feature a ranking model consumes.

    Integer-exact at any scale: values quantize to cents, weights are
    the 11 baked milli-unit literals above (element_at on the age-week
    index — no float pow in the plan), so the per-user aggregate sums
    BIGINTs (order-independent); the only IEEE op is the final /1e5.
    The corpus max-date anchor is a broadcast singleton row (pinned
    BNLJ); one user-keyed aggregate does the rest."""
    anchor = t["events"].agg(
        F.max(F.col("ts").cast("date")).alias("d_max"))
    weeks = F.floor(
        F.datediff(F.col("d_max"), F.col("ts").cast("date")) / 7)
    w = F.when(weeks >= len(DECAY_MILLI), F.lit(0)).otherwise(
        F.element_at(F.array(*[F.lit(x) for x in DECAY_MILLI]),
                     (weeks + 1).cast("int")))
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    g = (t["events"]
         .where(F.col("value").isNotNull())
         .crossJoin(F.broadcast(anchor))
         .select("user_id", (cents * w).alias("dm"), cents.alias("c"))
         .groupBy("user_id")
         .agg(F.count(F.lit(1)).alias("n_events"),
              F.sum("dm").alias("dsum"),
              F.sum("c").alias("rsum")))
    return g.select(
        "user_id", "n_events",
        (F.col("dsum").cast("double") / 1e5).alias("decayed_value"),
        (F.col("rsum").cast("double") / 100.0).alias("raw_value"))


def session_bounce_rate(t: dict[str, DataFrame]) -> DataFrame:
    """Daily bounce rate: share of sessions containing exactly one
    event, by session-start day — the engagement-quality trend next
    to DAU. Reuses the gap sessionizer (same single user_id shuffle),
    rolls (user, session) up to first-event day with an integer
    epoch-day key (start_us DIV 86400000000 — no timezone parsing),
    and finishes with one calendar-bounded aggregate."""
    sess = (sessionize_events(t)
            .groupBy("user_id", "session_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.min("ts_us").alias("start_us")))
    day = F.date_format(
        F.date_add(F.lit("1970-01-01").cast("date"),
                   F.expr("CAST(start_us DIV 86400000000 AS INT)")),
        "yyyy-MM-dd")
    g = (sess.select(day.alias("day"),
                     (F.col("n_events") == 1).cast("long")
                     .alias("is_bounce"))
         .groupBy("day")
         .agg(F.count(F.lit(1)).alias("n_sessions"),
              F.sum("is_bounce").alias("n_bounces")))
    return g.select(
        "day", "n_sessions", "n_bounces",
        (F.col("n_bounces").cast("double") / F.col("n_sessions"))
        .alias("bounce_rate"))


def session_type_affinity(t: dict[str, DataFrame]) -> DataFrame:
    """Market-basket affinity between event types WITHIN a session:
    for every unordered type pair, how many sessions contain both,
    the support, and the lift against independence — "users who
    search in a session also purchase in it" quantified.

    Session baskets are distinct (session, type) rows off the shared
    gap sessionizer (one user shuffle); the pair join is a self-join
    on the session key, where a basket is bounded by the event-type
    enumeration (≤ types rows) — never a blow-up. Counts are exact
    integers; support and lift are single double chains written
    identically in the oracle, with the session total folded in as a
    broadcast singleton (pinned BNLJ)."""
    from ..functions.cache import retain
    sess = sessionize_events(t)
    # retained: the basket feeds the session total, both per-type
    # counts, and BOTH sides of the pair self-join — uncached, the
    # sessionize + distinct pipeline runs four times
    basket = retain(sess
                    .join(t["events"].select("event_id", "event_type"),
                          "event_id")
                    .select("user_id", "session_id", "event_type")
                    .distinct())
    tot = basket.select("user_id", "session_id").distinct().agg(
        F.count(F.lit(1)).alias("n_sessions"))
    na = (basket.groupBy("event_type")
          .agg(F.count(F.lit(1)).alias("n_type")))
    b2 = basket.selectExpr("user_id", "session_id",
                           "event_type AS type_b")
    pairs = (basket.selectExpr("user_id", "session_id",
                               "event_type AS type_a")
             .join(b2, ["user_id", "session_id"])
             .where(F.col("type_a") < F.col("type_b"))
             .groupBy("type_a", "type_b")
             .agg(F.count(F.lit(1)).alias("n_both")))
    j = (pairs
         .join(F.broadcast(na.selectExpr("event_type AS type_a",
                                         "n_type AS n_a")), "type_a")
         .join(F.broadcast(na.selectExpr("event_type AS type_b",
                                         "n_type AS n_b")), "type_b")
         .crossJoin(F.broadcast(tot)))
    return j.select(
        "type_a", "type_b", "n_both", "n_a", "n_b", "n_sessions",
        (F.col("n_both").cast("double") / F.col("n_sessions"))
        .alias("support"),
        (F.col("n_both").cast("double") * F.col("n_sessions")
         / (F.col("n_a").cast("double") * F.col("n_b")))
        .alias("lift"))


def peak_concurrent_sessions(t: dict[str, DataFrame]) -> DataFrame:
    """Max CONCURRENT sessions per day — the capacity-planning number
    (licenses, connection pools) — via the classic sweep line: +1 at
    each session start, −1 just after its end, running sum, max.

    Sessions that span midnight contribute a carry-in to the next
    day: carried = sessions with start before the day that are still
    open at day start, ONE broadcast-joinable day-keyed aggregate —
    so the per-day sweep is exact without a cross-day global order.
    Intervals are inclusive: the −1 sits at end+1 µs and, on an exact
    tie, applies BEFORE a +1 at the same microsecond (a session
    starting at another's end+1 is not concurrent with it) — the
    (us asc, delta asc) sort key, identical in the oracle. The in-day window partitions on the calendar day;
    at extreme per-day volumes the bucket decomposition of
    `functions/prefix.py` applies (documented, not needed at gate
    scale)."""
    sess = (sessionize_events(t)
            .groupBy("user_id", "session_id")
            .agg(F.min("ts_us").alias("start_us"),
                 F.max("ts_us").alias("end_us")))
    day_of = lambda c: F.expr(f"CAST({c} DIV 86400000000 AS BIGINT)")
    bounds = sess.select(
        day_of("start_us").alias("sd"), "start_us",
        day_of("end_us").alias("ed"), "end_us")
    starts = bounds.select(F.col("sd").alias("day"),
                           F.col("start_us").alias("us"),
                           F.lit(1).alias("delta"))
    ends = bounds.select(F.col("ed").alias("day"),
                        (F.col("end_us") + 1).alias("us"),
                        F.lit(-1).alias("delta"))
    # carry-in for day d: sessions that started on an earlier day and
    # are still open at d's first microsecond; a session spanning k
    # days contributes to each of those days' carry (explode over its
    # day range — bounded by session duration / 1 day)
    carry = (bounds.where(F.col("ed") > F.col("sd"))
             .select(F.explode(F.sequence(F.col("sd") + 1,
                                          F.col("ed"))).alias("day"))
             .groupBy("day")
             .agg(F.count(F.lit(1)).alias("carry_in")))
    ev = starts.unionByName(ends)
    w = (Window.partitionBy("day")
         .orderBy(F.asc("us"), F.asc("delta"))
         .rowsBetween(Window.unboundedPreceding, 0))
    run = ev.select("day", F.sum("delta").over(w).alias("c"))
    peak = run.groupBy("day").agg(F.max("c").alias("peak_in_day"))
    j = (peak.join(F.broadcast(carry), "day", "left")
         .select("day",
                 F.coalesce("carry_in", F.lit(0)).alias("carry_in"),
                 "peak_in_day"))
    return j.select(
        F.date_format(F.date_add(F.lit("1970-01-01").cast("date"),
                                 F.col("day").cast("int")),
                      "yyyy-MM-dd").alias("day"),
        "carry_in",
        (F.col("peak_in_day") + F.col("carry_in"))
        .alias("peak_concurrent"))


def funnel_convert_time_quantiles(t: dict[str, DataFrame]) -> DataFrame:
    """Rank-exact p25/p50/p75/p90 of signup→purchase conversion time
    (whole seconds) — the funnel-latency report where "median time to
    convert" must be an order statistic, not a sketch.

    Composes the signup→purchase funnel (per-user min aggregates, one
    user shuffle) with the grouped prefix-sum ECDF selection
    (`_grouped_rank_min` with no group — the machinery keeps every
    in-bucket window bounded even for one group, which is exactly the
    100 TB case a single global sort would lose).
    Conversion time is exact integer microseconds floored to whole
    seconds before selection."""
    from ..operators.analytics import _grouped_rank_min
    conv = (funnel_signup_purchase(t)
            .where(F.col("converted") == 1)
            .select(F.expr("(first_purchase_after_us"
                           " - first_signup_us) DIV 1000000")
                    .alias("secs")))
    pts = (conv.groupBy(F.col("secs").cast("double").alias("_k"))
           .agg(F.count(F.lit(1)).alias("c")))
    qs = _grouped_rank_min(pts, {
        "p25_s": "(n + 3) DIV 4",
        "p50_s": "(n + 1) DIV 2",
        "p75_s": "(3 * n + 3) DIV 4",
        "p90_s": "(9 * n + 9) DIV 10"}, None)
    return qs.select(
        F.col("n_rows").alias("n_converted"),
        F.col("p25_s").cast("bigint").alias("p25_s"),
        F.col("p50_s").cast("bigint").alias("p50_s"),
        F.col("p75_s").cast("bigint").alias("p75_s"),
        F.col("p90_s").cast("bigint").alias("p90_s"))


ENTROPY_GRID_UB = 1_000_000   # micro-nat quantization (text.py pattern)


def user_behavior_entropy(t: dict[str, DataFrame]) -> DataFrame:
    """Per-user Shannon entropy of the event-type mix — the
    behavioral-diversity feature (0 = single-action bots, high =
    broad engagement) churn and abuse models consume.

    One (user, type) count shuffle; per-user totals ride a window
    over the bounded type space. Each c·ln(n/c) term quantizes to
    integer micro-nats BEFORE summing (the doc_token_entropy
    pattern), so the per-user sum is order-independent integer
    arithmetic and H = units/1e6/n is one deterministic double."""
    c = (t["events"]
         .groupBy("user_id", "event_type")
         .agg(F.count(F.lit(1)).alias("c")))
    wu = Window.partitionBy("user_id")
    withn = c.select(
        "user_id", "c",
        F.sum("c").over(wu).alias("n"),
        F.count(F.lit(1)).over(wu).alias("n_types"))
    units = F.floor(F.col("c")
                    * F.log(F.col("n") / F.col("c").cast("double"))
                    * ENTROPY_GRID_UB + F.lit(0.5)).cast("long")
    g = (withn.select("user_id", "n", "n_types", units.alias("u"))
         .groupBy("user_id")
         .agg(F.max("n").alias("n_events"),
              F.max("n_types").alias("n_types"),
              F.sum("u").alias("units")))
    return g.select(
        "user_id", "n_events", "n_types",
        (F.col("units").cast("double") / ENTROPY_GRID_UB
         / F.col("n_events")).alias("entropy"))


def event_rate_spikes(t: dict[str, DataFrame]) -> DataFrame:
    """Hourly event-RATE spike detection per type under a Poisson
    null: flag hours whose count exceeds mean + 3·√mean of that
    type's hourly history — the volume-anomaly tripwire (retry
    storms, scraper bursts, dead feeds flag on the rate before any
    value statistic moves).

    Counts and their per-type sums stay exact integers; the mean is
    a single rational (sum/hours) and the threshold one sqrt — the
    flag compares count (exact) against that one deterministic
    double. Two bounded-key aggregates (hour × type, then type);
    the spike test is flag = n > μ + 3√μ written identically in the
    oracle."""
    hours = (t["events"]
             .groupBy(F.date_format(F.date_trunc("hour", "ts"),
                                    "yyyy-MM-dd HH:00").alias("hour"),
                      "event_type")
             .agg(F.count(F.lit(1)).alias("n")))
    wt = Window.partitionBy("event_type")
    stats = hours.select(
        "hour", "event_type", "n",
        (F.sum("n").over(wt).cast("double")
         / F.count(F.lit(1)).over(wt)).alias("mu"))
    return stats.select(
        "hour", "event_type", "n", "mu",
        (F.col("n") > F.col("mu") + 3 * F.sqrt(F.col("mu")))
        .cast("int").alias("is_spike"))


# α·(1−α)^lag at α = 0.2 over a 31-day kernel, in integer micro-units
# — baked literals, so both engines multiply the SAME integers and no
# float pow ever enters a plan
EWMA_MICRO = tuple(int(round(0.2 * 0.8 ** lag * 1e6))
                   for lag in range(31))


def ewma_daily_revenue(t: dict[str, DataFrame]) -> DataFrame:
    """Daily order revenue with its exponentially-weighted trailing
    average (α = 0.2, 31-day truncated kernel) — the smoothed demand
    trend a forecast monitor plots against raw dailies. Calendar gaps
    contribute zero (lag is calendar days, not row offsets), so the
    smoothing is well-defined over sparse order histories.

    Integer-exact: revenues quantize to cents, kernel weights are the
    31 baked micro-unit literals above, and each day's weighted sum
    accumulates DECIMAL(38,0) products (cents × micro-weight — bigint
    would overflow at 100 TB daily volumes); the only IEEE ops are
    the two final divisions. Shape: one calendar-bounded daily
    rollup, an in-row 31-way kernel explode (≤31× a ~thousands-row
    frame — nothing scales with the fact table past the rollup), one
    target-day re-aggregate, one same-key join."""
    from ..functions.cache import retain
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)) \
        .cast("long")
    eday = F.datediff(F.col("o_orderdate").cast("date"),
                      F.lit("1970-01-01").cast("date")).cast("bigint")
    # retained: the daily frame feeds the kernel explode AND the
    # final join — uncached the orders rollup runs twice
    daily = retain(t["orders"]
                   .select(eday.alias("eday"), cents.alias("rc"))
                   .groupBy("eday").agg(F.sum("rc").alias("rc")))
    lw = F.explode(F.array(*[
        F.struct(F.lit(lag).cast("bigint").alias("lag"),
                 F.lit(w).cast("bigint").alias("wt"))
        for lag, w in enumerate(EWMA_MICRO)])).alias("lw")
    # operand precisions chosen so the product width (26 + 7 = 33)
    # stays under both engines' 38-digit decimal ceiling — DuckDB
    # REJECTS a multiply whose result width would exceed 38, so a
    # blanket decimal(38,0) cast is not portable
    contrib = (daily.select("eday", "rc", lw)
               .select((F.col("eday") + F.col("lw.lag")).alias("tday"),
                       (F.col("rc").cast("decimal(26,0)")
                        * F.col("lw.wt").cast("decimal(7,0)"))
                       .alias("x")))
    g = (contrib.groupBy("tday")
         .agg(F.sum("x").cast("decimal(38,0)").alias("wsum")))
    day = F.date_format(
        F.date_add(F.lit("1970-01-01").cast("date"),
                   F.col("eday").cast("int")), "yyyy-MM-dd")
    return (daily.join(g, daily["eday"] == g["tday"])
            .select(day.alias("day"),
                    (F.col("rc").cast("double") / 100.0)
                    .alias("revenue"),
                    (F.col("wsum").cast("double") / 100000000.0)
                    .alias("ewma")))


ATTR_WINDOW_US = 7 * 86_400 * 1_000_000   # 7-day lookback


def linear_touch_attribution(t: dict[str, DataFrame]) -> DataFrame:
    """Multi-touch LINEAR attribution: every purchase's revenue is
    split equally across that user's clicks in the preceding 7 days,
    rolled up per click-day — the marketing-credit complement to
    `asof_purchase_attribution` (which gives the LAST touch 100%).

    Credit is integer-exact: purchase cents DIV n_touches per click,
    with the remainder assigned to the MOST RECENT click (ts DESC,
    event_id ASC — deterministic), so credited cents sum exactly to
    attributed revenue in any partition order and the oracle is pure
    integer arithmetic.

    Scale shape: one equi-join on user_id (per-user purchase×click
    fanout, bounded by the 7-day window — never a cross join), one
    window keyed on the purchase id for (n_touches, recency rank),
    one final day rollup. All shuffles are keyed; the fact is
    filtered to two event types at the scan."""
    ev = t["events"]
    pur = (ev.where((F.col("event_type") == "purchase")
                    & F.col("value").isNotNull())
           .select("user_id", F.col("event_id").alias("p_id"),
                   ts_us("ts").alias("p_us"),
                   F.floor(F.col("value") * 100 + F.lit(0.5))
                   .cast("long").alias("cents")))
    clk = (ev.where(F.col("event_type") == "click")
           .select("user_id", F.col("event_id").alias("c_id"),
                   ts_us("ts").alias("c_us"),
                   F.date_format("ts", "yyyy-MM-dd").alias("day")))
    j = (pur.join(clk, "user_id")
         .where((F.col("c_us") < F.col("p_us"))
                & (F.col("c_us") >= F.col("p_us") - ATTR_WINDOW_US)))
    wn = Window.partitionBy("p_id")
    wr = Window.partitionBy("p_id").orderBy(F.desc("c_us"),
                                            F.asc("c_id"))
    cred = (j.withColumn("n_touch", F.count(F.lit(1)).over(wn))
            .withColumn("rk", F.row_number().over(wr))
            .withColumn(
                "credit",
                F.expr("cents DIV n_touch")
                + F.when(F.col("rk") == 1, F.expr("cents % n_touch"))
                .otherwise(F.lit(0).cast("long"))))
    return (cred.groupBy("day")
            .agg(F.count(F.lit(1)).alias("n_credited_clicks"),
                 F.count_distinct("p_id").alias("n_purchases"),
                 F.sum("credit").alias("credited_cents"))
            .select("day", "n_credited_clicks", "n_purchases",
                    "credited_cents",
                    (F.col("credited_cents").cast("double") / 100.0)
                    .alias("credited_value")))


ROLLING_DAU_DAYS = 7


def rolling_7d_active_users(t: dict[str, DataFrame]) -> DataFrame:
    """EXACT trailing-7-day active users for every observed day —
    the stickiness denominator (DAU/WAU) `daily_active_users` can't
    produce, computed WITHOUT a window-distinct (which no engine can
    do partially): each distinct (user, day) pair explodes IN-ROW to
    the ≤7 target days it covers, so the plan is one bounded 7×
    fan-out + one day-keyed distinct count — linear, shuffle keyed
    on day, no per-user ordering anywhere. Same-day DAU rides the
    same aggregate as a conditional distinct."""
    ud = (t["events"]
          .select("user_id",
                  F.expr("datediff(CAST(ts AS DATE), DATE '1970-01-01')")
                  .alias("eday"))
          .distinct())
    spine = ud.select(F.col("eday").alias("tday")).distinct()
    covered = ud.select(
        "user_id", "eday",
        F.explode(F.sequence(
            F.col("eday"),
            F.col("eday") + (ROLLING_DAU_DAYS - 1))).alias("tday"))
    return (covered.join(spine, "tday", "left_semi")
            .groupBy("tday")
            .agg(F.count_distinct("user_id").alias("rolling_7d_users"),
                 F.count_distinct(
                     F.when(F.col("eday") == F.col("tday"),
                            F.col("user_id"))).alias("dau"))
            .select(F.date_format(
                F.expr("date_add(DATE '1970-01-01', CAST(tday AS INT))"),
                "yyyy-MM-dd").alias("day"),
                "rolling_7d_users", "dau"))


def events_hourly_heatmap(t: dict[str, DataFrame]) -> DataFrame:
    """Weekday × hour activity heatmap over the event stream (the
    traffic-shape matrix behind capacity planning and anomaly
    eyeballing): event count, exact-cents value, and distinct users
    per cell. Weekday is pure epoch-day arithmetic ((date −
    1970-01-05) % 7, 0 = Monday — no locale day names); one
    map-side-combinable aggregate onto a ≤168-key space."""
    ev = t["events"]
    dow = ((F.datediff(F.col("ts").cast("date"),
                       F.lit("1970-01-05").cast("date")) % 7)
           .alias("weekday"))
    hour = F.hour("ts").alias("hour")
    return (ev.select(dow, hour, "user_id",
                      F.coalesce(
                          F.floor(F.col("value") * 100 + F.lit(0.5))
                          .cast("long"), F.lit(0).cast("long"))
                      .alias("cents"))
            .groupBy("weekday", "hour")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.count_distinct("user_id").alias("n_users"),
                 F.sum("cents").alias("value_cents")))


def cohort_ltv_curve(t: dict[str, DataFrame]) -> DataFrame:
    """Cumulative lifetime value per signup cohort: for each
    (cohort day, days-since-first-seen) cell, purchase revenue that
    age contributed and the cohort's running cumulative cents — the
    payback-period curve marketing reads next to `cohort_retention`.

    One user-keyed aggregate pins each user's first-seen day, the
    purchase attach reuses the SAME user hash (co-partitioned), the
    (cohort, age) rollup is calendar²-bounded, and the running sum
    windows over one cohort's ≤calendar-length row set — exact
    BIGINT cents end-to-end, one division for the per-user value."""
    ev = t["events"].select(
        "user_id",
        F.expr("datediff(CAST(ts AS DATE), DATE '1970-01-01')")
        .alias("eday"),
        "event_type", "value")
    first = (ev.groupBy("user_id")
             .agg(F.min("eday").alias("cday")))
    pur = (ev.where((F.col("event_type") == "purchase")
                    & F.col("value").isNotNull())
           .select("user_id", "eday",
                   F.floor(F.col("value") * 100 + F.lit(0.5))
                   .cast("long").alias("cents")))
    cohort_sizes = first.groupBy("cday").agg(
        F.count(F.lit(1)).alias("cohort_users"))
    cells = (pur.join(first, "user_id")
             .groupBy("cday", (F.col("eday") - F.col("cday"))
                      .alias("age_days"))
             .agg(F.sum("cents").alias("cents"),
                  F.count(F.lit(1)).alias("n_purchases")))
    w = (Window.partitionBy("cday").orderBy("age_days")
         .rowsBetween(Window.unboundedPreceding, 0))
    return (cells
            .join(F.broadcast(cohort_sizes), "cday")
            .select(
                F.expr("date_add(DATE '1970-01-01', "
                       "CAST(cday AS INT))").cast("string")
                .alias("cohort_day"),
                "age_days", "n_purchases", "cents",
                F.sum("cents").over(w).alias("cum_cents"),
                (F.sum("cents").over(w).cast("double") / 100.0
                 / F.col("cohort_users")).alias("cum_value_per_user")))


LIFECYCLE_DORMANT_DAYS = 30
LIFECYCLE_CHURN_DAYS = 60


def user_lifecycle_stages(t: dict[str, DataFrame]) -> DataFrame:
    """Lifecycle census over the event stream: every user classified
    against the INGESTION FRONTIER (max event time — the anchor a
    pipeline without wall-clock access must use) as `new` (first
    seen within 30 days), else `churned` (silent for 60+), else
    `dormant` (silent for 30+), else `active` — the four-bucket
    health report behind retention dashboards. One user-keyed
    min/max aggregate + a broadcast single-row anchor + a ≤4-key
    count; precedence is explicit (new wins, then churned, then
    dormant) so the buckets partition the user base exactly."""
    ev = t["events"].select("user_id", ts_us("ts").alias("us"))
    anchor = ev.agg(F.max("us").alias("hi"))
    per = ev.groupBy("user_id").agg(F.min("us").alias("first_us"),
                                    F.max("us").alias("last_us"))
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


def time_to_third_purchase(t: dict[str, DataFrame]) -> DataFrame:
    """Purchase-cadence depth signal: for every user with >= 3
    purchases, the exact microsecond timestamps of the first and
    third and the whole days between them — the "how fast do buyers
    become repeat buyers" curve feeding LTV models. One user-keyed
    window (rn over purchases, event_id tie-break), conditional
    min/max collapse, integer microsecond arithmetic end to end."""
    p = (t["events"].where(F.col("event_type") == "purchase")
         .select("user_id", ts_us("ts").alias("us"), "event_id"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    r = p.withColumn("rn", F.row_number().over(w))
    return (r.where(F.col("rn") <= 3)
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("np"),
                 F.min(F.when(F.col("rn") == 1, F.col("us")))
                 .alias("first_purchase_us"),
                 F.min(F.when(F.col("rn") == 3, F.col("us")))
                 .alias("third_purchase_us"))
            .where(F.col("np") >= 3)
            .select("user_id", "first_purchase_us",
                    "third_purchase_us",
                    F.expr("(third_purchase_us - first_purchase_us) "
                           "DIV 86400000000").alias("days_to_third")))


ANOMALY_Z = 1.4


def events_anomaly_days(t: dict[str, DataFrame]) -> DataFrame:
    """SEASONALITY-AWARE anomaly days: days whose event count sits
    beyond the z fence against their OWN day-of-week baseline
    (1.4σ here — the synthetic corpus is near-uniform with |z| ≤
    ~1.8, so a production 3σ fence would make the gate vacuous;
    the fence is a declared parameter, the MACHINERY is the test) (a quiet Sunday
    is normal; a Sunday with Tuesday traffic is the incident) — the
    calendar-shaped complement to `event_rate_spikes`' hourly
    Poisson fences. Per-day counts are exact integers, per-weekday
    moments are exact integer sums (n, Σc, Σc²) over a ≤7-row
    baseline frame broadcast back to the date-bounded day spine; z
    is the single float at the end. Weekday is pure epoch-day
    arithmetic ((eday − 4) % 7, 0 = Monday) — no locale names."""
    daily = (t["events"]
             .select(F.expr("datediff(CAST(ts AS DATE), "
                            "DATE '1970-01-01')").alias("eday"))
             .groupBy("eday")
             .agg(F.count(F.lit(1)).alias("n_events")))
    daily = daily.withColumn(
        "weekday", F.pmod(F.col("eday") - 4, F.lit(7)).cast("int"))
    base = (daily.groupBy("weekday")
            .agg(F.count(F.lit(1)).alias("n_days"),
                 F.sum("n_events").alias("s1"),
                 F.sum(F.col("n_events") * F.col("n_events"))
                 .alias("s2")))
    mu = F.col("s1").cast("double") / F.col("n_days")
    var = (F.col("s2").cast("double") / F.col("n_days") - mu * mu)
    fences = base.select("weekday", mu.alias("mu"),
                         F.sqrt(var).alias("sd"))
    z = (F.col("n_events").cast("double") - F.col("mu")) / F.col("sd")
    return (daily.join(F.broadcast(fences), "weekday")
            .where(F.col("sd") > 0)
            .where(F.abs(z) > ANOMALY_Z)
            .select(F.date_format(
                F.expr("date_add(DATE '1970-01-01', "
                       "CAST(eday AS INT))"), "yyyy-MM-dd")
                .alias("day"),
                "weekday", "n_events", "mu",
                z.alias("z_score")))


def user_active_day_streaks(t: dict[str, DataFrame]) -> DataFrame:
    """Longest CONSECUTIVE-DAY activity streak per user (plus total
    active days and streak count) — the engagement-habit metric
    behind retention scoring. Classic gaps-and-islands on the
    distinct (user, epoch-day) grid: island id = eday − row_number
    (consecutive days share it), one user-keyed shuffle, per-user
    rollup; all integer arithmetic."""
    ud = (t["events"]
          .select("user_id",
                  F.expr("datediff(CAST(ts AS DATE), "
                         "DATE '1970-01-01')").alias("eday"))
          .distinct())
    w = Window.partitionBy("user_id").orderBy("eday")
    isl = ud.withColumn(
        "grp", F.col("eday") - F.row_number().over(w))
    streaks = (isl.groupBy("user_id", "grp")
               .agg(F.count(F.lit(1)).alias("len")))
    return (streaks.groupBy("user_id")
            .agg(F.max("len").alias("max_streak_days"),
                 F.count(F.lit(1)).alias("n_streaks"),
                 F.sum("len").alias("n_active_days")))


def ushape_attribution(t: dict[str, DataFrame]) -> DataFrame:
    """Position-based (U-shaped / 40-20-40) multi-touch attribution —
    the industry-standard credit curve between last-touch
    (asof_purchase_attribution) and linear (linear_touch_attribution):
    the FIRST and LAST click before each purchase earn 40% each, the
    middle touches split the remaining 20%.

    Integer-exact credit (cents never leak): for n ≥ 3 touches,
    first = last = cents·2 DIV 5 and the middle pool is the exact
    remainder cents − first − last, split DIV (n−2) with ITS
    remainder on the most recent middle; n = 2 → DIV 2 with the
    remainder on the last touch; n = 1 → everything. Same one
    user-keyed join + one purchase-keyed window + day rollup shape as
    the linear op."""
    ev = t["events"]
    pur = (ev.where((F.col("event_type") == "purchase")
                    & F.col("value").isNotNull())
           .select("user_id", F.col("event_id").alias("p_id"),
                   ts_us("ts").alias("p_us"),
                   F.floor(F.col("value") * 100 + F.lit(0.5))
                   .cast("long").alias("cents")))
    clk = (ev.where(F.col("event_type") == "click")
           .select("user_id", F.col("event_id").alias("c_id"),
                   ts_us("ts").alias("c_us"),
                   F.date_format("ts", "yyyy-MM-dd").alias("day")))
    j = (pur.join(clk, "user_id")
         .where((F.col("c_us") < F.col("p_us"))
                & (F.col("c_us") >= F.col("p_us") - ATTR_WINDOW_US)))
    wn = Window.partitionBy("p_id")
    wr = Window.partitionBy("p_id").orderBy(F.desc("c_us"),
                                            F.asc("c_id"))
    r = (j.withColumn("n_touch", F.count(F.lit(1)).over(wn))
         .withColumn("rk", F.row_number().over(wr)))
    # rk = 1 is the LAST touch (most recent), rk = n_touch the FIRST
    end_credit = F.expr("cents * 2 DIV 5")
    mid_pool = F.col("cents") - 2 * end_credit
    mid_each = F.expr("(cents - 2 * (cents * 2 DIV 5)) "
                      "DIV (n_touch - 2)")
    mid_rem = mid_pool - mid_each * (F.col("n_touch") - 2)
    credit = (
        F.when(F.col("n_touch") == 1, F.col("cents"))
        .when(F.col("n_touch") == 2,
              F.expr("cents DIV 2")
              + F.when(F.col("rk") == 1, F.expr("cents % 2"))
              .otherwise(F.lit(0).cast("long")))
        .when(F.col("rk") == 1, end_credit)
        .when(F.col("rk") == F.col("n_touch"), end_credit)
        .otherwise(mid_each
                   + F.when(F.col("rk") == 2, mid_rem)
                   .otherwise(F.lit(0).cast("long")))).cast("long")
    cred = r.withColumn("credit", credit)
    return (cred.groupBy("day")
            .agg(F.count(F.lit(1)).alias("n_credited_clicks"),
                 F.count_distinct("p_id").alias("n_purchases"),
                 F.sum("credit").alias("credited_cents"))
            .select("day", "n_credited_clicks", "n_purchases",
                    "credited_cents",
                    (F.col("credited_cents").cast("double") / 100.0)
                    .alias("credited_value")))


TDECAY_HALF_US = 86_400 * 1_000_000   # half-life: 1 day
TDECAY_WGRID = 1_000_000              # weight quantization (ppm)


def time_decay_attribution(t: dict[str, DataFrame]) -> DataFrame:
    """Time-decay multi-touch attribution — the fourth classic credit
    curve (after last-touch, linear, and U-shaped): each click before
    a purchase earns weight 2^(−Δt/half-life) with a 1-day half-life,
    so yesterday's touch gets twice the credit of the day before.

    Integer-exact cents: weights quantize to ppm (one pow per touch,
    floor-gridded — the only float, identical chain in DuckDB; the
    grid removes order dependence, not a JVM-vs-libm pow ulp, so twin
    parity also relies on both engines' pow agreeing at these
    magnitudes),
    credit_i = cents·w_i DIV Σw over the purchase window, and the
    DIV-truncation remainder lands on the most recent touch — credit
    conservation is exact by construction (pinned in units). Same
    one user-keyed join + purchase-keyed windows + day rollup shape
    as the linear/U-shaped ops."""
    ev = t["events"]
    pur = (ev.where((F.col("event_type") == "purchase")
                    & F.col("value").isNotNull())
           .select("user_id", F.col("event_id").alias("p_id"),
                   ts_us("ts").alias("p_us"),
                   F.floor(F.col("value") * 100 + F.lit(0.5))
                   .cast("long").alias("cents")))
    clk = (ev.where(F.col("event_type") == "click")
           .select("user_id", F.col("event_id").alias("c_id"),
                   ts_us("ts").alias("c_us"),
                   F.date_format("ts", "yyyy-MM-dd").alias("day")))
    j = (pur.join(clk, "user_id")
         .where((F.col("c_us") < F.col("p_us"))
                & (F.col("c_us") >= F.col("p_us") - ATTR_WINDOW_US)))
    w_ppm = F.floor(
        F.pow(F.lit(2.0),
              -((F.col("p_us") - F.col("c_us")).cast("double")
                / F.lit(float(TDECAY_HALF_US))))
        * TDECAY_WGRID + F.lit(0.5)).cast("long")
    wn = Window.partitionBy("p_id")
    wr = Window.partitionBy("p_id").orderBy(F.desc("c_us"),
                                            F.asc("c_id"))
    r = (j.withColumn("w", w_ppm)
         .withColumn("wsum", F.sum("w").over(wn))
         .withColumn("rk", F.row_number().over(wr))
         .withColumn("alloc", F.expr("cents * w DIV wsum")))
    rem = F.col("cents") - F.sum("alloc").over(wn)
    cred = r.withColumn(
        "credit",
        F.col("alloc") + F.when(F.col("rk") == 1, rem)
        .otherwise(F.lit(0).cast("long")))
    return (cred.groupBy("day")
            .agg(F.count(F.lit(1)).alias("n_credited_clicks"),
                 F.count_distinct("p_id").alias("n_purchases"),
                 F.sum("credit").alias("credited_cents"))
            .select("day", "n_credited_clicks", "n_purchases",
                    "credited_cents",
                    (F.col("credited_cents").cast("double") / 100.0)
                    .alias("credited_value")))
