"""Second-wave relational coverage (SURVEY.md §2.A continued):
set operations, correlated subqueries through the SQL front-end,
CUBE grouping, RANGE window frames, SCD2 interval builds, distinct
counts, string/date function batteries.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import dec, dsum, ts_us
from ..functions.prefix import buckets, prefix_sums


def distinct_counts(t: dict[str, DataFrame]) -> DataFrame:
    """Exact COUNT(DISTINCT) per group — expands to a two-phase
    distinct-then-count under AQE; partial distinct runs map-side."""
    return (t["lineitem"]
            .groupBy("l_returnflag")
            .agg(F.count_distinct("l_partkey").alias("n_parts"),
                 F.count_distinct("l_suppkey").alias("n_suppliers"),
                 F.count(F.lit(1)).alias("n_lines")))


def set_ops_customers(t: dict[str, DataFrame]) -> DataFrame:
    """INTERSECT / EXCEPT / UNION over yearly active-customer sets."""
    o = t["orders"]

    def active(year: int) -> DataFrame:
        return (o.where((F.col("o_orderdate") >= f"{year}-01-01")
                        & (F.col("o_orderdate") < f"{year + 1}-01-01"))
                .select("o_custkey").distinct())

    y96, y97 = active(1996), active(1997)
    both = y96.intersect(y97).agg(F.count(F.lit(1)).alias("n_both"))
    only96 = y96.exceptAll(y97).agg(F.count(F.lit(1)).alias("n_only_1996"))
    union = y96.union(y97).distinct().agg(F.count(F.lit(1)).alias("n_union"))
    return both.crossJoin(only96).crossJoin(union)


def correlated_subquery_max_order(t: dict[str, DataFrame]) -> DataFrame:
    """Correlated scalar subquery through the SQL front-end — the same
    Catalyst planner decorrelates it into an aggregate + join."""
    spark = t["orders"].sparkSession
    t["customer"].createOrReplaceTempView("v_customer")
    t["orders"].createOrReplaceTempView("v_orders")
    return spark.sql("""
        SELECT c_custkey, c_name,
               (SELECT MAX(o_totalprice) FROM v_orders
                WHERE o_custkey = c_custkey) AS max_order_value
        FROM v_customer
        WHERE EXISTS (SELECT 1 FROM v_orders WHERE o_custkey = c_custkey)
    """)


def cube_status_priority(t: dict[str, DataFrame]) -> DataFrame:
    """CUBE grouping sets (all 4 combinations), sentinel-coalesced."""
    return (t["orders"]
            .cube("o_orderstatus", "o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 dsum("o_totalprice").alias("total_value"))
            .select(F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
                    F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
                    "n_orders", "total_value"))


def window_range_frame(t: dict[str, DataFrame]) -> DataFrame:
    """Trailing 30-day RANGE frame per customer: order count and value
    sum over a value-based (not row-based) window."""
    o = t["orders"].select(
        "o_orderkey", "o_custkey", "o_totalprice",
        F.unix_date(F.to_date("o_orderdate")).alias("epoch_day"))
    w = (Window.partitionBy("o_custkey").orderBy("epoch_day")
         .rangeBetween(-30, 0))
    return o.select(
        "o_orderkey", "o_custkey", "epoch_day",
        F.count(F.lit(1)).over(w).alias("n_orders_30d"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).over(w)
        .cast("decimal(38,6)").cast("double").alias("value_30d"))


def first_last_order_value(t: dict[str, DataFrame]) -> DataFrame:
    """First and most recent order value per customer (full-frame
    first_value/last_value with deterministic tie-breaks)."""
    w = (Window.partitionBy("o_custkey")
         .orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    o = t["orders"].select(
        "o_custkey",
        F.first_value("o_totalprice").over(w).alias("first_value_"),
        F.last_value("o_totalprice").over(w).alias("last_value_"))
    return (o.groupBy("o_custkey")
            .agg(F.max("first_value_").alias("first_order_value"),
                 F.max("last_value_").alias("last_order_value"),
                 F.count(F.lit(1)).alias("n_orders")))


def scd2_user_state(t: dict[str, DataFrame]) -> DataFrame:
    """SCD2 validity intervals from the event stream: each event opens
    a state valid until the user's next event (NULL = current). The
    dimension-history build every warehouse load needs."""
    ev = t["events"].select("user_id", "event_id", "event_type",
                            ts_us("ts").alias("valid_from_us"))
    return ev.withColumn(
        "valid_to_us",
        F.lead("valid_from_us").over(
            Window.partitionBy("user_id").orderBy("valid_from_us", "event_id")))


def conditional_agg_returns(t: dict[str, DataFrame]) -> DataFrame:
    """Return-rate per nation: conditional counts + IEEE division."""
    li = t["lineitem"].select("l_orderkey", "l_returnflag")
    o = t["orders"].select("o_orderkey", "o_custkey")
    c = t["customer"].select("c_custkey", "c_nationkey")
    n = t["nation"].select("n_nationkey", "n_name")
    joined = (li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
              .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
              .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")))
    returned = F.count(F.when(F.col("l_returnflag") == "R", 1))
    total = F.count(F.lit(1))
    return (joined.groupBy("n_name")
            .agg(returned.alias("n_returned"), total.alias("n_lines"))
            .withColumn("return_rate",
                        F.col("n_returned") / F.col("n_lines")))


def string_functions_report(t: dict[str, DataFrame]) -> DataFrame:
    """String-function battery over customer names (the conform step of
    any dimension load): case, pad, substring, replace, regex
    extraction."""
    return t["customer"].select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.regexp_extract("c_name", "([0-9]+)", 1).alias("name_digits"),
        F.replace(F.col("c_name"), F.lit("Customer"), F.lit("Cust"))
        .alias("name_short"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("key_padded"),
        F.length("c_name").alias("name_len"))


def date_arithmetic_report(t: dict[str, DataFrame]) -> DataFrame:
    """Date/time battery over orders: parts, offsets, deltas."""
    o = t["orders"]
    d = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).alias("order_year"),
        F.quarter(d).alias("order_quarter"),
        F.month(d).alias("order_month"),
        F.dayofmonth(d).alias("order_day"),
        F.weekday(d).alias("order_weekday"),
        F.date_format(F.date_add(d, 30), "yyyy-MM-dd").alias("due_date"),
        F.datediff(d, F.lit("1995-01-01")).alias("days_since_epoch_start"))


def approx_distinct_events(t: dict[str, DataFrame]) -> DataFrame:
    """HyperLogLog++ distinct-user estimates per event type — the scale
    path when exact COUNT(DISTINCT) over billions of keys is too
    expensive.

    Value-verifiable formulation: the raw sketch estimate is
    engine-specific (Spark HLL++ ≠ DuckDB HLL), so the output carries
    the exact count plus `approx_ok` — whether THIS engine's estimate
    landed within 5% of exact (2.5× the rsd=0.02 bound, so both
    engines' flags agree deterministically). The oracle checks the
    exact column bit-for-bit and that DuckDB's own sketch satisfies
    the same envelope — the sketch's accuracy contract is what's
    being verified, not its internal register values."""
    g = (t["events"]
         .groupBy("event_type")
         .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("hll"),
              F.count_distinct("user_id").alias("exact_users"),
              F.count(F.lit(1)).alias("n_events")))
    ok = (F.abs(F.col("hll") - F.col("exact_users"))
          <= 0.05 * F.col("exact_users"))
    return g.select("event_type", "n_events", "exact_users",
                    ok.cast("int").alias("approx_ok"))


def salted_event_type_stats(t: dict[str, DataFrame]) -> DataFrame:
    """Per-event-type rollup routed through the two-phase SALTED
    aggregate (functions/skew.salted_agg) — the skew shape AQE cannot
    split: 5 group keys over the whole events fact means every key is
    a hot key, and a plain groupBy funnels 20% of the fact through one
    reducer each. The salted plan partial-aggregates on
    (event_type, _salt) first, dividing each hot key's shuffle traffic
    by n_salts, then combines the 16 partials per key.

    Results are identical to the plain aggregate (counts are
    integers; the value sum is exact decimal, so combining partials
    is order-independent) — which is exactly what the oracle checks
    with a plain GROUP BY."""
    from ..functions.skew import salted_agg

    out = salted_agg(
        t["events"], ["event_type"],
        {"n_events": ("count", F.lit(1)),
         "sum_value": ("sum", dec("value"))})
    return out.select(
        "event_type", "n_events",
        F.col("sum_value").cast("decimal(38,6)").cast("double")
        .alias("sum_value"))


def unpivot_priority_metrics(t: dict[str, DataFrame]) -> DataFrame:
    """Wide→long unpivot (melt) of per-priority metrics."""
    wide = (t["orders"].groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).cast("double").alias("n_orders"),
                 dsum("o_totalprice").alias("total_value")))
    return wide.unpivot(
        ids=["o_orderpriority"],
        values=["n_orders", "total_value"],
        variableColumnName="metric",
        valueColumnName="value")


def token_positions(t: dict[str, DataFrame], max_doc: int = 100) -> DataFrame:
    """posexplode: token stream with ordinal positions (the shape a
    sequence-labeling / n-gram pipeline consumes)."""
    from .text import tokens
    d = (t["documents"].where(F.col("doc_id") < max_doc)
         .select("doc_id", tokens().alias("toks")))
    return d.select(
        "doc_id", F.posexplode("toks").alias("pos", "token"))


def stats_correlation(t: dict[str, DataFrame]) -> DataFrame:
    """Pearson correlation per event type between value and the JSON
    payload field k — computed from exact decimal moment sums (sx, sy,
    sxy, sxx, syy) so both engines derive the identical double from
    identical exact moments. The scale-safe way to do distributed
    statistics: one map-side-combinable aggregate, no second pass."""
    ev = t["events"].select(
        "event_type",
        dec("value").alias("x"),
        F.get_json_object("props", "$.k").cast("long").alias("k"))
    ev = ev.where(F.col("k").isNotNull()).withColumn(
        "y", F.col("k").cast("decimal(18,4)"))
    m = (ev.groupBy("event_type")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("x").cast("decimal(38,6)").cast("double").alias("sx"),
              F.sum("y").cast("decimal(38,6)").cast("double").alias("sy"),
              # scale 6 (not the products' natural 8): keeps the
              # scaled integer under 2^53 with 100x headroom so both
              # engines' decimal->double casts stay correctly rounded
              # (see functions.dsum_of); both engines round the exact
              # scale-8 sum to scale 6 identically for positives
              F.sum(F.col("x") * F.col("y")).cast("decimal(38,6)")
              .cast("double").alias("sxy"),
              F.sum(F.col("x") * F.col("x")).cast("decimal(38,6)")
              .cast("double").alias("sxx"),
              F.sum(F.col("y") * F.col("y")).cast("decimal(38,6)")
              .cast("double").alias("syy")))
    n = F.col("n").cast("double")
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / n
    vx = F.col("sxx") - F.col("sx") * F.col("sx") / n
    vy = F.col("syy") - F.col("sy") * F.col("sy") / n
    return m.select(
        "event_type", "n",
        (cov / F.sqrt(vx * vy)).alias("corr_value_k"))


# static value-range dimension for the range join: (bucket, lo, hi)
VALUE_BUCKETS = [("small", 0.0, 50.0), ("mid", 50.0, 100.0),
                 ("large", 100.0, 200.0), ("xlarge", 200.0, 500.0)]


def range_join_value_buckets(t: dict[str, DataFrame]) -> DataFrame:
    """Non-equi range join: events land in [lo, hi) value buckets.
    The bucket dim is tiny and broadcast, so the 'join' is a map-side
    interval probe — no shuffle of the fact at any scale (the classic
    banding pattern; an interval tree is overkill for O(10) bands)."""
    spark = t["events"].sparkSession
    buckets = spark.createDataFrame(
        VALUE_BUCKETS, "bucket string, lo double, hi double")
    ev = t["events"].select("value")
    return (ev.join(F.broadcast(buckets),
                    (F.col("value") >= F.col("lo"))
                    & (F.col("value") < F.col("hi")))
            .groupBy("bucket", "lo", "hi")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 dsum("value").alias("total_value")))


def fk_integrity_audit(t: dict[str, DataFrame]) -> DataFrame:
    """Referential-integrity audit — the load-gate every ETL runs
    before publishing a mart: orphan counts across the star's foreign
    keys. Each check is one left-anti join that shuffles only the key
    column; a clean load reports zeros."""
    def orphans(fk: str, child: DataFrame, ckey: str,
                parent: DataFrame, pkey: str) -> DataFrame:
        return (child.select(F.col(ckey).alias("k"))
                .join(parent.select(F.col(pkey).alias("k")), "k",
                      "left_anti")
                .agg(F.lit(fk).alias("fk"),
                     F.count(F.lit(1)).alias("n_orphans")))

    checks = [
        orphans("lineitem.orderkey->orders", t["lineitem"], "l_orderkey",
                t["orders"], "o_orderkey"),
        orphans("orders.custkey->customer", t["orders"], "o_custkey",
                t["customer"], "c_custkey"),
        orphans("lineitem.partkey->part", t["lineitem"], "l_partkey",
                t["part"], "p_partkey"),
        orphans("lineitem.suppkey->supplier", t["lineitem"], "l_suppkey",
                t["supplier"], "s_suppkey"),
        orphans("customer.nationkey->nation", t["customer"], "c_nationkey",
                t["nation"], "n_nationkey"),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionAll(c)
    return out


def numeric_profile(t: dict[str, DataFrame]) -> DataFrame:
    """Per-measure profiling of the lineitem fact (n, nulls, min, max,
    exact-decimal sum) — the column-statistics pass a load pipeline
    publishes next to each mart. One scan, all measures aggregated
    map-side; the long format comes from a tiny post-agg unpivot, not
    from re-scanning per column."""
    cols = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    li = t["lineitem"]
    wide = li.agg(*(
        [F.count(F.lit(1)).alias("n")]
        + [F.count(c).alias(f"nn_{c}") for c in cols]
        + [F.min(c).alias(f"mn_{c}") for c in cols]
        + [F.max(c).alias(f"mx_{c}") for c in cols]
        + [dsum(c, "decimal(18,4)" if c in ("l_quantity", "l_extendedprice")
                else "decimal(8,4)").alias(f"sm_{c}") for c in cols]))
    parts = [
        wide.select(F.lit(c).alias("column"), "n",
                    (F.col("n") - F.col(f"nn_{c}")).alias("n_null"),
                    F.col(f"mn_{c}").alias("min_val"),
                    F.col(f"mx_{c}").alias("max_val"),
                    F.col(f"sm_{c}").alias("sum_val"))
        for c in cols]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def approx_value_percentiles(t: dict[str, DataFrame]) -> DataFrame:
    """Quantile-sketch audit per event type — completes the sketch
    suite (HLL distinct, count-min frequency, and here rank/quantile):
    at 100 TB an exact per-group percentile needs a full sort or
    collect, while the mergeable quantile sketch is one pass.

    Same value-verified formulation as approx_distinct_events: the raw
    sketch value is engine-specific (Spark approx_percentile ≠ DuckDB
    approx_quantile), so the output carries the EXACT interpolated
    percentiles (rounded 6, bit-checked) plus ok flags — whether THIS
    engine's sketch landed inside the exact [q−0.05, q+0.05] rank
    envelope, a bound both sketches meet by contract — so the flags
    agree deterministically."""
    ev = t["events"]
    p = lambda q: F.round(F.expr(f"percentile(value, {q})"), 6)
    raw = lambda q: F.expr(f"percentile(value, {q})")
    ap = lambda q: F.expr(f"approx_percentile(value, {q}, 1000)")
    ok = lambda q: ((ap(q) >= raw(q - 0.05)) & (ap(q) <= raw(q + 0.05)))
    return (ev.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 p(0.5).alias("p50_exact"),
                 p(0.9).alias("p90_exact"),
                 ok(0.5).cast("int").alias("ok50"),
                 ok(0.9).cast("int").alias("ok90")))


def rfm_segments(t: dict[str, DataFrame]) -> DataFrame:
    """RFM customer segmentation (recency / frequency / monetary
    quintile scores) — the classic marketing-mart rollup. Scale-first
    scoring: quintile FENCES come from one tiny exact-percentile
    aggregate broadcast to every row (a global ntile() window would
    funnel the whole customer table through one task); each customer
    then buckets itself with four comparisons per dimension.

    Engine-exactness: the percentile fences are rounded to 6 decimals
    (the percentile_order_value convention — Spark `percentile` and
    DuckDB `quantile_cont` interpolate equivalently but not
    bit-identically) and scores derive from the rounded fences with
    the same expression tree, so every score matches exactly.
    Recency inverts (most recent = 5); rfm = r·100 + f·10 + m."""
    from ..functions import dsum

    o = t["orders"]
    per = (o.groupBy(F.col("o_custkey").alias("c_custkey"))
           .agg(F.max("o_orderdate").alias("last_order"),
                F.count(F.lit(1)).alias("frequency"),
                dsum("o_totalprice").alias("monetary")))
    ref = per.agg(F.max("last_order").alias("maxd"))
    per = (per.crossJoin(F.broadcast(ref))
           .withColumn("recency_days",
                       F.datediff(F.col("maxd"), F.col("last_order"))))
    dims = ("recency_days", "frequency", "monetary")
    fences = per.agg(*[
        F.round(F.expr(f"percentile({c}, {q})"), 6).alias(f"{c}_{int(q * 100)}")
        for c in dims for q in (0.2, 0.4, 0.6, 0.8)])
    j = per.crossJoin(F.broadcast(fences))

    def bucket(c: str) -> Column:
        raw = F.lit(1)
        for q in (20, 40, 60, 80):
            raw = raw + (F.col(c) > F.col(f"{c}_{q}")).cast("int")
        return raw

    r = (F.lit(6) - bucket("recency_days")).cast("int")
    f_ = bucket("frequency").cast("int")
    m = bucket("monetary").cast("int")
    return j.select("c_custkey", "recency_days", "frequency", "monetary",
                    r.alias("r"), f_.alias("f"), m.alias("m"),
                    (r * 100 + f_ * 10 + m).cast("int").alias("rfm"))


def monthly_revenue_growth(t: dict[str, DataFrame]) -> DataFrame:
    """Month-over-month revenue growth — the trend line on every
    revenue dashboard: monthly decimal-exact revenue, previous month
    via lag over the (tiny) month series, growth = (cur − prev)/prev.
    One hash-agg shuffle on ~tens of month keys; the lag window runs
    on the aggregated series, not the fact table. Growth division is
    IEEE on identical exact-decimal-sourced doubles — engine-exact."""
    from pyspark.sql import Window

    from ..functions import dsum

    monthly = (t["orders"]
               .groupBy(F.date_format("o_orderdate", "yyyy-MM")
                        .alias("month"))
               .agg(dsum("o_totalprice").alias("revenue"),
                    F.count(F.lit(1)).alias("n_orders")))
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "month", "revenue", "n_orders",
        prev.alias("prev_revenue"),
        ((F.col("revenue") - prev) / prev).alias("growth"))


def window_rank_report(t: dict[str, DataFrame]) -> DataFrame:
    """Ranking-function battery per nation over customer balances:
    rank / dense_rank / percent_rank / cume_dist / ntile(4) / nth
    value — the remaining ordered-analytics surface in one report.
    Window partitioned by nation (distributes on the partition key;
    no global window). Ties break on c_custkey so every function is
    deterministic; percent_rank/cume_dist are exact rationals of row
    counts, identical IEEE divisions in both engines."""
    from pyspark.sql import Window

    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey"))
    return (t["customer"]
            .select("c_nationkey", "c_custkey", "c_acctbal",
                    F.rank().over(w).alias("rnk"),
                    F.dense_rank().over(w).alias("drnk"),
                    F.percent_rank().over(w).alias("prnk"),
                    F.cume_dist().over(w).alias("cume"),
                    F.ntile(4).over(w).alias("quartile"),
                    F.nth_value("c_acctbal", 2).over(
                        w.rowsBetween(Window.unboundedPreceding,
                                      Window.unboundedFollowing))
                    .alias("second_balance")))


def date_dim(t: dict[str, DataFrame]) -> DataFrame:
    """Calendar date dimension spanning the fact table's date range —
    the conformance table every mart joins for year/quarter/weekend
    rollups. Generated from ONE tiny min/max aggregate + an exploded
    day sequence (calendar dims are thousands of rows at any data
    scale, so the single-task generate is fine by nature).
    day_of_week is Spark convention (1=Sunday..7=Saturday); the oracle
    maps DuckDB's 0-based dayofweek accordingly."""
    span = (t["orders"]
            .agg(F.to_date(F.min("o_orderdate")).alias("lo"),
                 F.to_date(F.max("o_orderdate")).alias("hi")))
    days = span.select(F.explode(F.expr(
        "sequence(lo, hi, interval 1 day)")).alias("d"))
    dow = F.dayofweek("d")
    return days.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.year("d").alias("year"),
        F.quarter("d").alias("quarter"),
        F.month("d").alias("month"),
        F.dayofmonth("d").alias("day_of_month"),
        dow.alias("day_of_week"),
        dow.isin(1, 7).cast("int").alias("is_weekend"))


def event_value_zscores(t: dict[str, DataFrame],
                        z: float = 3.0) -> DataFrame:
    """Per-type z-score outliers: mean/std from exact decimal moment
    sums (the stats_correlation convention — identical moments on both
    engines make the derived doubles and therefore the |z|>threshold
    flags engine-exact), broadcast back over the scan. The streaming-
    friendly one-pass alternative to the Tukey-fence variant
    (event_value_outliers)."""
    from ..functions import dec

    ev = t["events"].select("event_id", "event_type", "value",
                            dec("value").alias("x"))
    m = (ev.groupBy("event_type")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("x").cast("decimal(38,6)").cast("double").alias("sx"),
              F.sum(F.col("x") * F.col("x")).cast("decimal(38,6)")
              .cast("double").alias("sxx")))
    n = F.col("n").cast("double")
    mean = F.col("sx") / n
    std = F.sqrt(F.col("sxx") / n - mean * mean)
    stats = m.select("event_type", mean.alias("mean_value"),
                     std.alias("std_value"))
    zcol = (F.col("value") - F.col("mean_value")) / F.col("std_value")
    return (ev.select("event_id", "event_type", "value")
            .join(F.broadcast(stats), "event_type")
            .select("event_id", "event_type", "value",
                    zcol.alias("zscore"))
            .where(F.abs(F.col("zscore")) > z))


def hll_partitioned_union(t: dict[str, DataFrame]) -> DataFrame:
    """Re-aggregatable distinct counting: per-(type, day) HLL sketches
    (DataSketches, `hll_sketch_agg`) MERGED across days per type with
    `hll_union_agg` — the 100 TB pattern where daily sketch columns
    are stored once and any rollup window is a sketch union, never a
    raw re-scan. Verified the approx_distinct_events way: the exact
    distinct count is checked bit-for-bit, and each engine's own
    estimate must land inside the 5% envelope (sketch internals are
    not cross-engine portable; their accuracy contract is)."""
    ev = t["events"].select(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "user_id")
    daily = (ev.groupBy("event_type", "day")
             .agg(F.hll_sketch_agg("user_id").alias("sk")))
    merged = (daily.groupBy("event_type")
              .agg(F.hll_sketch_estimate(F.hll_union_agg("sk"))
                   .alias("est")))
    exact = (ev.groupBy("event_type")
             .agg(F.count_distinct("user_id").alias("n_exact")))
    return (exact.join(merged, "event_type")
            .select("event_type", "n_exact",
                    (F.abs(F.col("est") - F.col("n_exact"))
                     <= 0.05 * F.col("n_exact")).cast("int")
                    .alias("ok_est")))


def grouping_sets_report(t: dict[str, DataFrame]) -> DataFrame:
    """Explicit GROUPING SETS through the SQL front-end — the mixed
    shape ROLLUP/CUBE can't express: a detailed (status, priority)
    breakdown plus a standalone priority margin plus the grand total,
    in ONE scan. Catalyst expands the sets into a single Expand +
    hash aggregate, so the fact still shuffles once (same plan family
    as rollup_priority_status; completes the grouping-sets trio)."""
    spark = t["orders"].sparkSession
    t["orders"].createOrReplaceTempView("v_orders_gs")
    return spark.sql("""
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               COUNT(*) AS n_orders,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                    AS DECIMAL(38,6)) AS DOUBLE) AS total_value
        FROM v_orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderpriority), ())
    """)


SKEW_TOPN = 20
SKEW_SPLITS = 32


def join_key_skew_audit(t: dict[str, DataFrame],
                        topn: int = SKEW_TOPN) -> DataFrame:
    """Join-key heavy-hitter audit over lineitem.l_partkey: the top-N
    hottest keys with their row share — the measurement that decides
    whether a planned join needs salting / AQE skew handling BEFORE it
    runs at 100 TB (a key holding >1% of a fact is a straggler task
    waiting to happen).

    Scale shape: one map-side-combinable count per key, then the
    skew-proof two-phase global top-N over the AGGREGATED key counts
    (rank within (key mod SKEW_SPLITS) sub-splits first — any global
    top-N key is in its own split's top-N, so phase 2 ranks ≤32·N
    rows exactly; the same superset-prefilter argument as
    source_quota_sample, here protecting against KEY-COUNT cardinality
    rather than row skew). Corpus totals ride in on one broadcast
    row; the share is an IEEE division of exact counts."""
    from pyspark.sql.functions import broadcast

    counts = (t["lineitem"].groupBy("l_partkey")
              .agg(F.count(F.lit(1)).alias("cnt")))
    total = counts.agg(F.sum("cnt").alias("total"),
                       F.count(F.lit(1)).alias("n_keys"))
    sub = counts.withColumn(
        "sub", F.pmod("l_partkey", F.lit(SKEW_SPLITS)).cast("int"))
    w1 = Window.partitionBy("sub").orderBy(F.desc("cnt"),
                                           F.asc("l_partkey"))
    surv = (sub.withColumn("rk1", F.row_number().over(w1))
            .where(F.col("rk1") <= topn))
    w2 = Window.orderBy(F.desc("cnt"), F.asc("l_partkey"))
    top = (surv.select("l_partkey", "cnt",
                       F.row_number().over(w2).alias("rank"))
           .where(F.col("rank") <= topn))
    return (top.crossJoin(broadcast(total))
            .select("rank", F.col("l_partkey").alias("key"), "cnt",
                    (F.col("cnt") / F.col("total")).alias("share"),
                    "total", "n_keys"))


def abc_classification(t: dict[str, DataFrame]) -> DataFrame:
    """ABC inventory classification: parts ranked by revenue with the
    cumulative revenue share — class A holds the first 80% of revenue,
    B the next 15%, C the tail (the Pareto cut every warehouse uses to
    set stocking policy).

    The cumulative sum is the shared DISTRIBUTED PREFIX SUM
    (`functions/prefix.py`) instead of a single ORDER BY window that
    funnels every part through one task: revenue per part (one
    map-side-combinable shuffle), range buckets on the negated double
    revenue (descending order; decimal→double is monotone, so ties
    never straddle buckets), and in-bucket running sums plus
    broadcast bucket offsets.

    Exactness: every cumulation is DECIMAL (order-independent), so the
    decomposed prefix equals the oracle's single-window prefix
    bit-for-bit; the A/B/C cut compares decimals scaled by 100/80/95
    (pure integer-decimal arithmetic), and only the cosmetic
    share_cum column divides through doubles."""
    from ..functions import disc_price
    from ..functions.cache import retain

    rev = retain(t["lineitem"]
                 .groupBy(F.col("l_partkey").alias("partkey"))
                 .agg(F.sum(disc_price()).cast("decimal(38,6)")
                      .alias("rev")))
    b, _ = buckets(rev, -F.col("rev").cast("double"))
    cum, tot = F.col("cum_rev"), F.col("tot_rev")
    return (prefix_sums(b, [F.desc("rev"), F.asc("partkey")], ["rev"])
            .select("partkey",
                    F.col("rev").cast("double").alias("revenue"),
                    cum.cast("double").alias("cum_revenue"),
                    (cum.cast("double") / tot.cast("double"))
                    .alias("share_cum"),
                    F.when(cum * 100 <= tot * 80, "A")
                    .when(cum * 100 <= tot * 95, "B")
                    .otherwise("C").alias("abc_class")))


KS_GROUP_A = "click"
KS_GROUP_B = "purchase"


def _value_ecdf(t: dict[str, DataFrame]) -> DataFrame:
    """Shared distributed-ECDF core for the drift statistics: exact
    cumulative counts of two event-type samples over the `value`
    axis, one row per DISTINCT value with (value, ca, cb, na, nb,
    fa, fb).

    Per-distinct-value counts for both groups (one map-side-
    combinable shuffle, cardinality = distinct values, not rows) feed
    the shared distributed prefix sum (`functions/prefix.py`): no
    single-task ORDER BY window ever sees the full value axis."""
    ev = (t["events"]
          .where(F.col("event_type").isin(KS_GROUP_A, KS_GROUP_B)
                 & F.col("value").isNotNull())
          .select("event_type", "value"))
    from ..functions.cache import retain
    pts = retain(ev.groupBy("value").agg(
        F.sum(F.when(F.col("event_type") == KS_GROUP_A, 1)
              .otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("event_type") == KS_GROUP_B, 1)
              .otherwise(0)).alias("cb")))
    b, _ = buckets(pts, F.col("value"))
    return prefix_sums(b, [F.asc("value")], ["ca", "cb"]).select(
        "value", "ca", "cb", F.col("tot_ca").alias("na"),
        F.col("tot_cb").alias("nb"), F.col("cum_ca").alias("fa"),
        F.col("cum_cb").alias("fb"))


def ks_drift_value(t: dict[str, DataFrame]) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift statistic between the
    `value` distributions of two event types — the detector a data
    pipeline runs between yesterday's corpus and today's before
    letting a feed into training. ECDFs come from the shared
    distributed prefix-sum core (`_value_ecdf`).

    Exactness: fa, fb, na, nb are integers; the KS numerator
    |fa·nb − fb·na| is computed in DECIMAL(38,0) (na·nb overflows
    bigint at 100 TB row counts), so the max and its arg are exact —
    only the final ks_stat division goes through doubles. at_value is
    the smallest value attaining the max (deterministic tie-break)."""
    cum = _value_ecdf(t)
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    d = cum.select(
        "value", "na", "nb",
        F.abs(dec("fa") * dec("nb") - dec("fb") * dec("na"))
        .alias("dnum"))
    # ONE aggregate finds the max AND its deterministic arg: struct
    # comparison is lexicographic, so max((dnum, -value)) is the
    # largest gap with the smallest value as tie-break — no second
    # pass / broadcast-join round for the argmax
    best = (d.groupBy("na", "nb")
            .agg(F.max(F.struct(F.col("dnum").alias("dn"),
                                (-F.col("value")).alias("nv")))
                 .alias("m")))
    return best.select(
        "na", "nb",
        (-F.col("m.nv")).alias("at_value"),
        F.col("m.dn").cast("double").alias("d_num"),
        (F.col("m.dn").cast("double")
         / (F.col("na").cast("double")
            * F.col("nb").cast("double"))).alias("ks_stat"))


PSI_BUCKETS = 10


def _psi_fences(cum: DataFrame) -> DataFrame:
    """One-row frame of the baseline's exact DISCRETE decile fences,
    by integer rank arithmetic over the distributed ECDF (fence_k =
    min value whose cumulative baseline count reaches ceil(k·na/10)).
    No float percentile interpolation — both engines pick identical
    fences."""
    return cum.agg(*[
        F.min(F.when(
            F.col("fa") >= F.expr(f"({k} * na + {PSI_BUCKETS - 1}) "
                                  f"DIV {PSI_BUCKETS}"),
            F.col("value"))).alias(f"f{k}")
        for k in range(1, PSI_BUCKETS)])


def _psi_bucket(value_col: str = "value") -> Column:
    """Bucket id 0..9 given the fence columns f1..f9 in scope.
    Each comparison coalesces to 0 so a NULL fence (empty baseline →
    all fences NULL) yields bucket 0, matching the oracle's
    CASE WHEN value > fk THEN 1 ELSE 0 END semantics instead of
    propagating a NULL bucket id."""
    b = F.lit(0)
    for k in range(1, PSI_BUCKETS):
        b = b + F.coalesce(
            (F.col(value_col) > F.col(f"f{k}")).cast("int"), F.lit(0))
    return b


def _psi_quantized_term(pa, pb):
    """(pa−pb)·ln(pa/pb) quantized to 1e-9 via floor(x·1e9+0.5)/1e9 —
    JVM Math.log and libm ln can disagree by one ulp, and the explicit
    quantization chain is the same three exact IEEE ops in both
    engines (unlike round(), whose half-mode differs)."""
    raw = (pa - pb) * F.log(pa / pb)
    return F.floor(raw * F.lit(1e9) + F.lit(0.5)) / F.lit(1e9)


def psi_value_drift(t: dict[str, DataFrame]) -> DataFrame:
    """Population Stability Index between the two event-type value
    distributions, per decile bucket of the BASELINE sample — the
    binned drift metric production scoring pipelines alarm on
    (PSI > 0.25 = retrain).

    Bucket fences are the baseline's exact DISCRETE deciles, derived
    from the shared distributed ECDF by pure rank arithmetic: fence_k
    = min value whose cumulative baseline count reaches
    ceil(k·na/10) — no float percentile interpolation, so both
    engines pick identical fences and every bucket count is exact.
    All nine conditional mins ride in ONE aggregate over the ECDF;
    the PSI term (pa−pb)·ln(pa/pb) is a single double expression per
    output row (NULL when a side's bucket is empty, the caller's
    signal to fall back to a smoothed variant), quantized to 1e-9 via
    floor(x·1e9 + 0.5)/1e9 — JVM Math.log and libm ln can disagree by
    one ulp, and the explicit quantization chain is the same three
    exact IEEE ops in both engines (unlike round(), whose half-mode
    differs)."""
    from ..functions.cache import register
    cum = _value_ecdf(t)
    cum.persist()
    register(cum)
    fen = _psi_fences(cum)
    bucketed = (cum.crossJoin(F.broadcast(fen))
                .select("value", "ca", "cb", "na", "nb",
                        _psi_bucket().alias("bucket")))
    agg = (bucketed.groupBy("bucket")
           .agg(F.sum("ca").alias("n_base"), F.sum("cb").alias("n_cur"),
                F.max("na").alias("na"), F.max("nb").alias("nb")))
    pa = F.col("n_base").cast("double") / F.col("na").cast("double")
    pb = F.col("n_cur").cast("double") / F.col("nb").cast("double")
    return agg.select(
        "bucket", "n_base", "n_cur",
        pa.alias("p_base"), pb.alias("p_cur"),
        F.when((F.col("n_base") > 0) & (F.col("n_cur") > 0),
               _psi_quantized_term(pa, pb)).alias("psi_term"))


def psi_windowed(t: dict[str, DataFrame]) -> DataFrame:
    """Hourly PSI drift report: the current sample's hourly value
    distribution vs the full-corpus baseline deciles — the batch twin
    of streaming/jobs.psi_bucket_counts_stream and the report a drift
    dashboard renders per ingestion window.

    Baseline fences + per-bucket baseline counts come from the shared
    distributed-ECDF core (rank-exact deciles, one broadcast row +
    one ≤10-row broadcast); the hourly side is ONE (hour, bucket)
    count shuffle over the current event type, with per-window totals
    on a window partition over the aggregate. Every count exact; the
    per-row PSI term is the same quantized expression as
    psi_value_drift."""
    from ..functions.cache import register
    cum = _value_ecdf(t)
    cum.persist()
    register(cum)
    fen = _psi_fences(cum)
    base = (cum.crossJoin(F.broadcast(fen))
            .select("ca", "na", _psi_bucket().alias("bucket"))
            .groupBy("bucket")
            .agg(F.sum("ca").alias("n_base"), F.max("na").alias("na")))
    cur = (t["events"]
           .where((F.col("event_type") == KS_GROUP_B)
                  & F.col("value").isNotNull())
           .select(F.date_format(F.date_trunc("hour", "ts"),
                                 "yyyy-MM-dd HH:00").alias("hour"),
                   "value")
           .crossJoin(F.broadcast(fen))
           .select("hour", _psi_bucket().alias("bucket"))
           .groupBy("hour", "bucket")
           .agg(F.count(F.lit(1)).alias("n_cur")))
    win = cur.withColumn(
        "nb_win", F.sum("n_cur").over(Window.partitionBy("hour")))
    pa = F.col("n_base").cast("double") / F.col("na").cast("double")
    pb = F.col("n_cur").cast("double") / F.col("nb_win").cast("double")
    return (win.join(F.broadcast(base), "bucket")
            .select("hour", "bucket", "n_cur", "nb_win", "n_base",
                    pa.alias("p_base"), pb.alias("p_cur"),
                    _psi_quantized_term(pa, pb).alias("psi_term")))


KSW_BUCKETS = 64


def _ksw_base_grid(t: dict[str, DataFrame]) -> tuple[DataFrame, DataFrame]:
    """Shared setup for the windowed-KS pair (batch query + streaming
    monitor): (fences, bgrid). ``fences`` is a one-row frame f1..f63
    of the BASELINE sample's rank-exact 1/64-quantile fences (min
    value whose cumulative baseline count reaches ceil(k·na/64) — the
    same integer rank arithmetic as the PSI deciles, so both engines
    pick identical fences). ``bgrid`` is the full 64-row bucket grid
    with the baseline's exact CUMULATIVE count ba at each bucket
    boundary and the total na — broadcast-sized regardless of input."""
    from ..functions.cache import register
    cum = _value_ecdf(t)
    cum.persist()
    register(cum)
    return _ks_fence_grid(cum, t["events"].sparkSession)


def _ks_fence_grid(cum: DataFrame, spark) -> tuple[DataFrame, DataFrame]:
    """Fence row + cumulative baseline grid from ANY ECDF frame with
    columns (value, ca, na, fa) — shared by the hourly events monitor
    and the per-source corpus-shape report."""
    fen = cum.agg(*[
        F.min(F.when(
            F.col("fa") >= F.expr(f"({k} * na + {KSW_BUCKETS - 1}) "
                                  f"DIV {KSW_BUCKETS}"),
            F.col("value"))).alias(f"f{k}")
        for k in range(1, KSW_BUCKETS)])
    b = F.lit(0)
    for k in range(1, KSW_BUCKETS):
        b = b + F.coalesce(
            (F.col("value") > F.col(f"f{k}")).cast("int"), F.lit(0))
    base = (cum.crossJoin(F.broadcast(fen))
            .select("ca", "na", b.alias("bucket"))
            .groupBy("bucket")
            .agg(F.sum("ca").alias("n_base"), F.max("na").alias("na")))
    grid = (spark.range(KSW_BUCKETS)
            .select(F.col("id").cast("int").alias("bucket")))
    wc = (Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, 0))
    wa = Window.partitionBy()
    bgrid = (grid.join(base, "bucket", "left")
             .select("bucket",
                     F.sum(F.coalesce("n_base", F.lit(0)))
                     .over(wc).alias("ba"),
                     F.max("na").over(wa).alias("na")))
    return fen, bgrid


def _ksw_finish(cur_counts: DataFrame, bgrid: DataFrame,
                key: str = "hour") -> DataFrame:
    """Finishing transform shared by the batch query and the streaming
    monitor's sink: the per-hour sup gap |ba·nb − cu·na| in
    DECIMAL(38,0) (na·nb overflows bigint at 100 TB counts) with the
    smallest bucket as deterministic arg-max tie-break.
    ``cur_counts``: (hour, bucket, n_cur).

    ONE (hour) shuffle: each hour's sparse bucket counts collapse to
    a ≤64-entry map, the baseline grid rides in as a broadcast map
    literal, and the cumulative counts + sup gap are a single
    row-local `aggregate` fold over the 64 bucket ids — no per-hour
    grid cross join, no window over the grid, no second pass over the
    counts (the previous formulation consumed the counts twice and
    ran three window/join stages over an hours×64 frame)."""
    bas = bgrid.agg(
        F.map_from_entries(F.collect_list(F.struct("bucket", "ba")))
        .alias("bam"),
        F.max("na").alias("na"))
    per_hour = (cur_counts.groupBy(key)
                .agg(F.map_from_entries(
                    F.collect_list(F.struct("bucket", "n_cur")))
                    .alias("m"),
                     F.sum("n_cur").alias("nb")))
    cu2 = ("acc.cu + coalesce(element_at(m, b), CAST(0 AS BIGINT))")
    dnum = (f"abs(CAST(element_at(bam, b) AS DECIMAL(38,0)) "
            f"* CAST(nb AS DECIMAL(38,0)) "
            f"- CAST({cu2} AS DECIMAL(38,0)) "
            f"* CAST(na AS DECIMAL(38,0)))")
    fold = F.expr(f"""
        aggregate(
          sequence(0, {KSW_BUCKETS - 1}),
          struct(CAST(0 AS BIGINT) AS cu,
                 CAST(-1 AS DECIMAL(38,0)) AS best,
                 -1 AS arg),
          (acc, b) -> CASE WHEN {dnum} > acc.best
            THEN struct({cu2} AS cu, {dnum} AS best, b AS arg)
            ELSE struct({cu2} AS cu, acc.best AS best, acc.arg AS arg)
          END)""")
    return (per_hour.crossJoin(F.broadcast(bas))
            .select(key, "na", "nb", fold.alias("r"))
            .select(key, "na", "nb",
                    F.col("r.arg").cast("int").alias("at_bucket"),
                    F.col("r.best").cast("double").alias("d_num"),
                    (F.col("r.best").cast("double")
                     / (F.col("na").cast("double")
                        * F.col("nb").cast("double"))).alias("ks_stat")))


def ks_windowed(t: dict[str, DataFrame]) -> DataFrame:
    """Hourly two-sample KS drift report: each hour's current
    (purchase) value distribution vs the full-corpus baseline (click)
    ECDF, compared at 64 rank-exact fence boundaries — the windowed
    twin of `ks_drift_value` and the batch twin of
    streaming/jobs.ks_bucket_gap_stream (same shape PSI has with
    psi_windowed / psi_bucket_counts_stream).

    The sup over fence boundaries is the KS statistic at 1/64
    granularity: exact integers throughout (bucket counts, cumulative
    sums, DECIMAL(38,0) cross products), with only the final division
    in doubles — deterministic and oracle-matched. One (hour, bucket)
    count shuffle on the current side; the baseline grid is a 64-row
    broadcast; per-hour windows run over 64-row partitions."""
    fen, bgrid = _ksw_base_grid(t)
    b = F.lit(0)
    for k in range(1, KSW_BUCKETS):
        b = b + F.coalesce(
            (F.col("value") > F.col(f"f{k}")).cast("int"), F.lit(0))
    cur = (t["events"]
           .where((F.col("event_type") == KS_GROUP_B)
                  & F.col("value").isNotNull())
           .select(F.date_format(F.date_trunc("hour", "ts"),
                                 "yyyy-MM-dd HH:00").alias("hour"),
                   "value")
           .crossJoin(F.broadcast(fen))
           .select("hour", b.alias("bucket"))
           .groupBy("hour", "bucket")
           .agg(F.count(F.lit(1)).alias("n_cur")))
    return _ksw_finish(cur, bgrid)


CHI2_SEGMENTS = 3


def chi2_event_segments(t: dict[str, DataFrame]) -> DataFrame:
    """Per-cell chi-squared contingency analysis of event_type versus
    a user segment (user_id mod 3) — the independence check a
    curation pipeline runs to spot a feed whose event mix shifted for
    one cohort only.

    Emits one row per (event_type, segment) cell with the observed
    count, expected count, and the cell's chi-squared contribution —
    per-cell rather than a single summed statistic so each double is
    ONE deterministic expression (a cross-engine sum of 15 doubles
    would be ordering-dependent; the per-cell residuals are also the
    actionable output). One count shuffle on a 15-key space; row and
    column totals ride on constant-size windows over the aggregate."""
    obs = (t["events"]
           .select("event_type",
                   F.pmod("user_id", F.lit(CHI2_SEGMENTS))
                   .cast("int").alias("segment"))
           .groupBy("event_type", "segment")
           .agg(F.count(F.lit(1)).alias("n_obs")))
    wr = Window.partitionBy("event_type")
    wc = Window.partitionBy("segment")
    wa = Window.partitionBy()
    cells = obs.select(
        "event_type", "segment", "n_obs",
        F.sum("n_obs").over(wr).alias("row_tot"),
        F.sum("n_obs").over(wc).alias("col_tot"),
        F.sum("n_obs").over(wa).alias("grand"))
    n_exp = ((F.col("row_tot").cast("double")
              * F.col("col_tot").cast("double"))
             / F.col("grand").cast("double"))
    return cells.select(
        "event_type", "segment", "n_obs",
        n_exp.alias("n_exp"),
        ((F.col("n_obs").cast("double") - n_exp) ** 2 / n_exp)
        .alias("chi2_cell"))


MEDIAN_FINISH_ROWS = 65536
SELECT_HIST_FENCES = 255     # interior fences per histogram round
SELECT_MAX_ROUNDS = 16       # 256^16 = 2^128 range reduction ≫ double


def _select_kth(sample: DataFrame, n: int, k: int,
                init_row) -> tuple[DataFrame, int]:
    """EXACT k-th smallest of cached column `value` by distributed
    multi-fence histogram selection. Per round ONE aggregate counts
    the candidate window into ≤256 equal-width sub-intervals (the
    fence literals are driver doubles, and the bucket test is the
    same `value > fence` comparison the next round's window predicate
    uses, so interval bookkeeping is float-exact); the driver walks
    the ≤256 counts to pick the sub-interval holding rank k. Rounds
    are O(log_256(range)) — ≤2 in practice — versus ~10 for
    one-pivot bisection, and only fence doubles and bucket counts
    ever reach the driver.

    Invariants maintained exactly across rounds (the round-4 bisection
    lost the first one for ties on the minimum):
      cnt_le_lo == count(value <= lo)
      in_range  == count(lo < value <= hi)
      cnt_le_lo < k <= cnt_le_lo + in_range
    ``init_row`` must carry n/lo/hi/c_min from one initial aggregate.
    Returns (one-row DataFrame with double column `value`, rounds)."""
    lo, hi, c_min = init_row["lo"], init_row["hi"], init_row["c_min"]
    if k <= c_min:       # the k-th smallest IS the minimum
        return (sample.sparkSession.range(1)
                .select(F.lit(float(lo)).alias("value")), 0)
    cnt_le_lo, in_range = c_min, n - c_min
    rounds = 0
    while in_range > MEDIAN_FINISH_ROWS and rounds < SELECT_MAX_ROUNDS:
        m = SELECT_HIST_FENCES + 1
        fences = sorted({p for i in range(1, m)
                         if lo < (p := lo + (hi - lo) * i / m) < hi})
        if not fences:   # interval is ≤ a few ulps wide
            break
        arr = F.array(*[F.lit(p) for p in fences])
        bkt = F.size(F.filter(arr, lambda x: F.col("value") > x))
        counts = dict(
            sample.where((F.col("value") > lo) & (F.col("value") <= hi))
            .groupBy(bkt.alias("b"))
            .agg(F.count(F.lit(1)).alias("c"))
            .collect())
        rounds += 1
        bounds = [lo] + fences + [hi]
        cum = cnt_le_lo
        for j in range(len(bounds) - 1):
            c = counts.get(j, 0)
            if cum + c >= k:
                lo, hi = bounds[j], bounds[j + 1]
                cnt_le_lo, in_range = cum, c
                break
            cum += c
    window = sample.where((F.col("value") > lo) & (F.col("value") <= hi))
    j = k - cnt_le_lo
    if in_range <= MEDIAN_FINISH_ROWS:
        # distributed top-j (TakeOrdered per-partition heaps) inside
        # the ≤64k-row window; max of the top-j = the j-th smallest
        return (window.orderBy(F.asc("value")).limit(j)
                .agg(F.max("value").alias("value")), rounds)
    # fence precision exhausted with a big window: the interval spans
    # ≤ SELECT_HIST_FENCES ulps, so its DISTINCT values are few — one
    # value-count aggregate, walk the cumulative on the driver
    pts = sorted(window.groupBy("value")
                 .agg(F.count(F.lit(1)).alias("c")).collect())
    cum = cnt_le_lo
    for v, c in pts:
        cum += c
        if cum >= k:
            return (sample.sparkSession.range(1)
                    .select(F.lit(float(v)).alias("value")), rounds)
    raise AssertionError("rank invariant violated in _select_kth")


def _quantile_sample(t: dict[str, DataFrame]) -> tuple[DataFrame, dict]:
    """Cached click-value column + its one-pass boundary stats
    (n, min, max, multiplicity of the min — the tie count the
    round-4 bisection forgot to seed cnt_le_lo with)."""
    from ..functions.cache import retain
    sample = retain(t["events"]
                    .where((F.col("event_type") == KS_GROUP_A)
                           & F.col("value").isNotNull())
                    .select("value"))
    row = sample.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi")).collect()[0]
    c_min = (0 if row["n"] == 0 else
             sample.where(F.col("value") == row["lo"]).count())
    return sample, {"n": row["n"], "lo": row["lo"], "hi": row["hi"],
                    "c_min": c_min}


def exact_median_value(t: dict[str, DataFrame]) -> DataFrame:
    """EXACT median of a value column by distributed selection — the
    answer `percentile()` gives on one node, computed the way a
    1000-executor cluster has to: multi-fence histogram selection
    (`_select_kth` — one 256-bucket count aggregate per round, ≤2
    rounds in practice) narrows to a window of ≤64k rows, then a
    distributed top-k (TakeOrdered — per-partition heaps) selects the
    k-th smallest inside it. No global sort, no single-task
    percentile over the full column.

    Deterministic for ANY fence sequence (fences only steer the
    search; the final selection is exact), so the oracle is plain
    ORDER BY ... OFFSET. Returns (n, k, median) with k = (n+1)//2 —
    the lower median, matching the discrete-quantile oracle."""
    sample, row = _quantile_sample(t)
    n = row["n"]
    k = (n + 1) // 2
    if n == 0:
        med = sample.sparkSession.range(1).select(
            F.lit(None).cast("double").alias("value"))
    else:
        med, _ = _select_kth(sample, n, k, row)
    return med.select(F.lit(n).alias("n"), F.lit(k).alias("k"),
                      F.col("value").alias("median"))


QUANTILE_PCTS = (50, 90, 99)


def exact_quantiles_value(t: dict[str, DataFrame]) -> DataFrame:
    """EXACT p50/p90/p99 of the click value column — the latency-style
    tail quantiles a drift dashboard reports, computed by the same
    distributed multi-fence selection as `exact_median_value` (k_p =
    ceil(p·n/100) in integer arithmetic, so both engines pick the
    identical order statistic; each quantile costs ≤2 histogram
    rounds + one bounded top-k over the shared cached column)."""
    sample, row = _quantile_sample(t)
    n = row["n"]
    if n == 0:
        return (sample.sparkSession.range(0)
                .select(F.lit("").alias("q"), F.lit(0).alias("n"),
                        F.lit(0).alias("k"),
                        F.lit(None).cast("double").alias("value")))
    parts = []
    for pct in QUANTILE_PCTS:
        k = (pct * n + 99) // 100
        sel, _ = _select_kth(sample, n, k, row)
        parts.append(sel.select(
            F.lit(f"p{pct}").alias("q"), F.lit(n).alias("n"),
            F.lit(k).alias("k"), "value"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def global_row_index(t: dict[str, DataFrame]) -> DataFrame:
    """Contiguous global row ids 0..n−1 in (n_chars DESC, doc_id ASC)
    order — the distributed zipWithIndex every training-data export
    needs (assign example ids in curriculum order) — WITHOUT the
    single-task global ORDER BY window: the index is the distributed
    prefix sum (`functions/prefix.py`) of a constant 1 under that
    total order. The DESCENDING order key rides through the
    ascending bucketer negated: bucket 0 holds the LARGEST n_chars."""
    from ..functions.cache import retain
    d = retain(t["documents"].select("doc_id", "n_chars"))
    b, _ = buckets(d, -F.col("n_chars").cast("double"))
    ranked = prefix_sums(b.withColumn("one", F.lit(1)),
                         [F.desc("n_chars"), F.asc("doc_id")], ["one"])
    return ranked.select("doc_id", "n_chars",
                         (F.col("cum_one") - 1).alias("row_index"))


def exact_median_by_type(t: dict[str, DataFrame]) -> DataFrame:
    """EXACT per-group median of `value` for every event type — the
    grouped order statistic a monitoring pipeline reports per feed.
    Reuses the multi-fence `_select_kth` selection per group over one
    shared cached column: the group key space (event types) is
    enumeration-bounded, so the driver loop runs a handful of
    ≤2-round histogram selections — each group's selection is fully
    distributed, and no per-group window ever sees the group's whole
    value axis (the single-window formulation would put ~n/|groups|
    rows in one task at 100 TB)."""
    from ..functions.cache import retain
    sample = retain(t["events"]
                    .where(F.col("value").isNotNull())
                    .select("event_type", "value"))
    stats = (sample.groupBy("event_type")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.min("value").alias("lo"),
                  F.max("value").alias("hi"))
             .collect())
    parts = []
    for s in sorted(stats, key=lambda r: r["event_type"]):
        grp = sample.where(F.col("event_type") == s["event_type"])
        c_min = grp.where(F.col("value") == s["lo"]).count()
        n = s["n"]
        k = (n + 1) // 2
        sel, _ = _select_kth(
            grp.select("value"), n, k,
            {"lo": s["lo"], "hi": s["hi"], "c_min": c_min})
        parts.append(sel.select(
            F.lit(s["event_type"]).alias("event_type"),
            F.lit(n).alias("n"), F.lit(k).alias("k"),
            F.col("value").alias("median")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


COV_QUANT = 1_000_000   # 1e-6 embedding quantization grid


def embedding_covariance(t: dict[str, DataFrame]) -> DataFrame:
    """Exact empirical covariance matrix of the embedding columns
    (upper triangle, j ≥ i) — the statistic PCA/whitening for ANN
    serving starts from. Components are quantized to a declared 1e-6
    grid FIRST (floor(x·1e6 + 0.5), the same engine-portable
    quantization the PSI term uses), so every cross-product and sum
    is exact INTEGER arithmetic — order-independent across any
    partitioning, no float-sum drift at any scale. One explode emits
    the d(d+1)/2 per-row products (map-side combined into d(d+1)/2
    cells); covariance is a single deterministic double expression
    over the exact sums.

    At gate scales all sums sit far below 2^53, so the
    decimal→double presentation casts round identically in both
    engines."""
    from ..functions import pin
    q = F.expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) "
        f"* {COV_QUANT}.0 + 0.5) AS BIGINT))")
    # pin(): the pair lambda references q at three sites per (i, j) —
    # CollapseProject would re-inline the 64-element quantize
    # transform into each one (d² re-evaluations per row); behind a
    # Generate node q is a materialized row value
    cells = (pin(t["embeddings"].select("embedding"), q=q)
             .select("q")
             .select(F.explode(F.expr(
                 "flatten(transform(sequence(0, size(q) - 1), i -> "
                 "transform(sequence(i, size(q) - 1), j -> "
                 "struct(i, j, q[i] * q[j] AS xy, "
                 "q[i] AS x, q[j] AS y))))")).alias("p"))
             .groupBy(F.col("p.i").alias("i"), F.col("p.j").alias("j"))
             .agg(F.sum("p.xy").cast("decimal(38,0)").alias("sxy"),
                  F.sum("p.x").cast("decimal(38,0)").alias("sx"),
                  F.sum("p.y").cast("decimal(38,0)").alias("sy"),
                  F.count(F.lit(1)).alias("n")))
    nd = F.col("n").cast("double")
    scale = float(COV_QUANT) * float(COV_QUANT)
    return cells.select(
        "i", "j", "n",
        ((F.col("sxy").cast("double") / nd
          - (F.col("sx").cast("double") / nd)
          * (F.col("sy").cast("double") / nd)) / F.lit(scale))
        .alias("cov"))


def user_activity_gini(t: dict[str, DataFrame]) -> DataFrame:
    """Gini coefficient of per-user event counts — the inequality
    number a sampling pipeline checks before user-level quotas (a few
    hyperactive users dominating a corpus skews training). Exact:
    per-user counts (one shuffle), a contiguous rank in ascending
    (count, user_id) order assigned by the SAME data-proportional
    prefix sum as global_row_index (`functions/prefix.py` — no
    single-task ORDER BY window over the user table), then
    G = (2·Σ rank·count)/(n·Σ count) − (n+1)/n from exact
    DECIMAL(38,0) sums in one deterministic double expression."""
    from ..functions.cache import retain
    counts = retain(t["events"]
                    .groupBy("user_id")
                    .agg(F.count(F.lit(1)).alias("c")))
    b, _ = buckets(counts, F.col("c"))
    ranked = prefix_sums(b.withColumn("one", F.lit(1)),
                         [F.asc("c"), F.asc("user_id")], ["one"]) \
        .select(F.col("cum_one").alias("rank"), "c")
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(F.col("rank")) * dec(F.col("c"))).cast("decimal(38,0)")
        .alias("src"),
        F.sum("c").cast("decimal(38,0)").alias("tot"))
    nd = F.col("n").cast("double")
    return agg.select(
        "n", F.col("tot").cast("bigint").alias("n_events"),
        (F.lit(2.0) * F.col("src").cast("double")
         / (nd * F.col("tot").cast("double"))
         - (nd + F.lit(1.0)) / nd).alias("gini"))


def _doc_len_ecdf(t: dict[str, DataFrame]) -> DataFrame:
    """Corpus-wide ECDF of document lengths (value, ca, na, fa) —
    same distributed prefix-sum shape as `_value_ecdf`, single
    sample, data-proportional buckets."""
    from ..functions.cache import retain
    pts = retain(t["documents"]
                 .where(F.col("n_chars").isNotNull())
                 .select(F.col("n_chars").cast("double").alias("value"))
                 .groupBy("value")
                 .agg(F.count(F.lit(1)).alias("ca")))
    b, _ = buckets(pts, F.col("value"))
    return prefix_sums(b, [F.asc("value")], ["ca"]).select(
        "value", "ca", F.col("tot_ca").alias("na"),
        F.col("cum_ca").alias("fa"))


def ks_by_source(t: dict[str, DataFrame]) -> DataFrame:
    """Per-SOURCE corpus-shape drift: each source's document-length
    distribution vs the whole corpus, as a sup gap over 64 rank-exact
    length fences — the curation check that flags a feed whose length
    profile deviates (truncated scrapes, boilerplate floods) before
    it skews the training mix. Same grid/fold machinery as
    `ks_windowed` (shared `_ks_fence_grid` + `_ksw_finish`), keyed by
    source instead of hour; exact integers throughout."""
    from ..functions.cache import register
    cum = _doc_len_ecdf(t)
    cum.persist()
    register(cum)
    fen, bgrid = _ks_fence_grid(cum, t["documents"].sparkSession)
    b = F.lit(0)
    for k in range(1, KSW_BUCKETS):
        b = b + F.coalesce(
            (F.col("value") > F.col(f"f{k}")).cast("int"), F.lit(0))
    cur = (t["documents"]
           .where(F.col("n_chars").isNotNull())
           .select("source", F.col("n_chars").cast("double").alias("value"))
           .crossJoin(F.broadcast(fen))
           .select("source", b.alias("bucket"))
           .groupBy("source", "bucket")
           .agg(F.count(F.lit(1)).alias("n_cur")))
    return _ksw_finish(cur, bgrid, key="source")


DECILE_KS = tuple(range(1, 10))


def value_deciles_by_type(t: dict[str, DataFrame]) -> DataFrame:
    """Exact discrete decile table (d1..d9) of `value` for EVERY
    event type in one pass — the grouped quantile report a feed
    monitor publishes, with rank-exact integer arithmetic (d_k = min
    value whose cumulative count reaches ceil(k·n/10)) instead of
    sketches.

    This is the GROUPED form of the distributed prefix-sum ECDF,
    delegated to the shared `_grouped_rank_min` helper: a
    single-window-per-group formulation would funnel each group's
    whole value axis (≈ rows/|groups| for continuous doubles) through
    one task at 100 TB; the helper's data-proportional per-type
    buckets keep every in-bucket window bounded, and the nine
    conditional mins ride one final per-type aggregate."""
    pts = (t["events"]
           .where(F.col("value").isNotNull())
           .groupBy("event_type",
                    F.col("value").cast("double").alias("_k"))
           .agg(F.count(F.lit(1)).alias("c")))
    return _grouped_rank_min(
        pts, {f"d{k}": f"({k} * n + 9) DIV 10" for k in DECILE_KS})


LORENZ_BUCKETS = 10


def customer_revenue_lorenz(t: dict[str, DataFrame]) -> DataFrame:
    """Revenue-concentration (Lorenz) table: customers ranked by
    total order revenue ascending, cut into deciles, with each
    decile's exact revenue and the cumulative revenue share — the
    "top 10% of customers carry X% of revenue" concentration report.

    Contiguous ranks are the distributed prefix sum
    (`functions/prefix.py`) of a constant 1 — no single-task global
    ORDER BY over the customer table. Deciles are integer rank
    arithmetic (floor(rank·10/n)); revenue stays exact decimal until
    the two final IEEE divisions (share, cum share)."""
    from ..functions.cache import retain
    rev = retain(t["orders"]
                 .groupBy("o_custkey")
                 .agg(F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
                      .cast("decimal(38,6)").alias("rev_d")))
    b, n = buckets(rev, F.col("rev_d").cast("double"))
    ranked = prefix_sums(b.withColumn("one", F.lit(1)),
                         [F.asc("rev_d"), F.asc("o_custkey")], ["one"]) \
        .select("rev_d", (F.col("cum_one") - 1).alias("rank"))
    # integer DIV, not cast-of-double: DuckDB CAST(double AS INT)
    # rounds half-away while Spark truncates — floor division is the
    # same operation in both engines
    dec10 = (ranked
             .groupBy(F.expr(f"(rank * {LORENZ_BUCKETS}) DIV {n}")
                      .cast("int").alias("decile"))
             .agg(F.count(F.lit(1)).alias("n_customers"),
                  F.sum("rev_d").cast("decimal(38,6)").alias("drev")))
    wc = (Window.orderBy("decile")
          .rowsBetween(Window.unboundedPreceding, 0))
    wt = Window.partitionBy()
    return dec10.select(
        "decile", "n_customers",
        F.col("drev").cast("double").alias("revenue"),
        (F.col("drev").cast("double")
         / F.sum("drev").over(wt).cast("decimal(38,6)").cast("double"))
        .alias("rev_share"),
        (F.sum("drev").over(wc).cast("decimal(38,6)").cast("double")
         / F.sum("drev").over(wt).cast("decimal(38,6)").cast("double"))
        .alias("cum_share"))


# Benford expected first-digit shares log10(1 + 1/d), baked as shortest
# round-trip literals so Spark and DuckDB parse the SAME double (no
# engine log10 in the plan — JVM Math vs libm differ by 1 ulp)
BENFORD_EXPECTED = {
    1: 0.3010299956639812, 2: 0.17609125905568124,
    3: 0.12493873660829992, 4: 0.09691001300805642,
    5: 0.07918124604762482, 6: 0.06694678963061322,
    7: 0.05799194697768673, 8: 0.05115252244738129,
    9: 0.04575749056067514,
}


def benford_first_digit(t: dict[str, DataFrame]) -> DataFrame:
    """First-significant-digit distribution of order totals vs the
    Benford expectation — the classic fabricated-data / upstream-bug
    audit on a financial fact column.

    The digit is integer arithmetic end to end: totals quantize to
    cents (floor(x·100 + 0.5), the engine-portable chain), and the
    leading digit is the first character of the BIGINT's decimal
    rendering — no log10 on data. One map-side-combinable aggregate
    onto a 9-key space; expected shares join from a 9-row literal
    table (BroadcastNLJ on a singleton-scale frame). Observed share
    and the obs/exp ratio are single IEEE divisions."""
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    g = (t["orders"]
         .where(F.col("o_totalprice") > 0)
         .select(digit.alias("digit"))
         .groupBy("digit")
         .agg(F.count(F.lit(1)).alias("n")))
    wall = Window.partitionBy()
    exp_share = F.element_at(
        F.array(*[F.lit(BENFORD_EXPECTED[d]) for d in range(1, 10)]),
        F.col("digit"))
    share = F.col("n").cast("double") / F.sum("n").over(wall)
    return g.select(
        "digit", "n",
        share.alias("share"),
        exp_share.alias("benford_share"),
        (share / exp_share).alias("obs_over_expected"))


AUTOCORR_MAX_LAG = 7


def daily_revenue_autocorr(t: dict[str, DataFrame]) -> DataFrame:
    """Autocorrelation of the daily order-revenue series at calendar
    lags 1..7 — the seasonality detector a forecasting pipeline runs
    before picking model features (lag-7 high = weekly cycle).

    Exactness at scale: revenue quantizes to cents (BIGINT) so the
    daily series is integer-exact; all correlation moments (Σx, Σy,
    Σxy, Σx², Σy², n) accumulate in DECIMAL(38,0) — order-independent
    exact integer sums, immune to float partial-aggregation
    reordering — and only the final Pearson expression (two sqrt, one
    divide) is IEEE double, an identical op chain in DuckDB. Shape:
    one map-side-combinable groupBy onto the calendar-day key space
    (bounded by the date range at ANY data scale), then a 7-way
    explode + self-join of that tiny frame (broadcast)."""
    from ..functions.cache import retain
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    daily = retain(t["orders"]
                   .groupBy(F.col("o_orderdate").cast("date").alias("d"))
                   .agg(F.sum(cents).alias("rev")))
    lags = daily.select(
        "d", "rev",
        F.explode(F.array(*[F.lit(k) for k in
                            range(1, AUTOCORR_MAX_LAG + 1)])).alias("lag"))
    prior = daily.select(F.col("d").alias("d0"),
                         F.col("rev").alias("rev0"))
    # equi-join on a LEFT-side expression (date_sub(d, lag) == d0) so
    # Catalyst hash-joins; a mixed-side condition would force a BNLJ
    pairs = (lags.withColumn("d0", F.expr("date_sub(d, lag)"))
             .join(F.broadcast(prior), "d0"))
    d38 = "decimal(38,0)"
    m = (pairs.groupBy("lag")
         .agg(F.count(F.lit(1)).alias("n_pairs"),
              F.sum(F.col("rev").cast(d38)).alias("sx"),
              F.sum(F.col("rev0").cast(d38)).alias("sy"),
              F.sum((F.col("rev").cast(d38)
                     * F.col("rev0").cast(d38)).cast(d38)).alias("sxy"),
              F.sum((F.col("rev").cast(d38)
                     * F.col("rev").cast(d38)).cast(d38)).alias("sxx"),
              F.sum((F.col("rev0").cast(d38)
                     * F.col("rev0").cast(d38)).cast(d38)).alias("syy")))
    n = F.col("n_pairs").cast(d38)
    cov = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast(d38)
    vx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast(d38)
    vy = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast(d38)
    raw = (cov.cast("double")
           / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))))
    # moments exceed 2^53, and DECIMAL→double conversion rounding is
    # not identical across engines there — quantize the final ratio to
    # the declared 1e-9 grid (the repo's standard 1-ulp defense)
    return m.select(
        "lag", "n_pairs",
        (F.floor(raw * 1e9 + F.lit(0.5)) / 1e9).alias("autocorr"))


def _grouped_rank_min(pts: DataFrame, targets: dict[str, str],
                      group: str | None = "event_type") -> DataFrame:
    """Per-group order statistics over per-(``group``, _k) counts `c`
    via the grouped distributed prefix sum (`functions/prefix.py`).

    ``targets`` maps output column name → SQL expression over ``n``
    (the group row count) giving the 1-based target rank; the result
    has one row per non-NULL ``group`` value (a single row when
    ``group`` is None) with ``n_rows`` plus, per target, the MIN
    ``_k`` whose cumulative count reaches that rank."""
    return _grouped_rank_min_multi(pts, {"c": targets}, group) \
        .withColumnRenamed("n_c", "n_rows")


def _grouped_rank_min_multi(pts: DataFrame,
                            weights: dict[str, dict[str, str]],
                            group: str | None = "event_type") \
        -> DataFrame:
    """Multi-weight core of `_grouped_rank_min`: ONE bucket pipeline
    carries any number of weight columns, so order statistics under
    two weightings (a quantity-weighted median AND the row median)
    pay one scan, not one pipeline per weighting.

    ``weights`` maps weight column → {output name → SQL rank
    expression over ``n``}, where ``n`` inside each expression binds
    to THAT weight's group total. Returns one row per group with
    ``n_<w>`` per weight plus every requested MIN ``_k``."""
    import re

    from ..functions.cache import retain
    pb = [group] if group else []
    # retained: the points frame feeds the bucket probe AND the
    # bucket pipeline
    b, _ = buckets(retain(pts), F.col("_k"), pb)
    cum = prefix_sums(b, [F.asc("_k")], list(weights), pb)
    sels = []
    for w, targets in weights.items():
        for name, expr in targets.items():
            bound = re.sub(r"\bn\b", f"tot_{w}", expr)
            sels.append(F.min(F.when(F.col(f"cum_{w}")
                                     >= F.expr(bound),
                                     F.col("_k"))).alias(name))
    # retained: the result is one tiny row per group, but consumers
    # reference it several times (a median feeds the deviation pass,
    # the broadcast stats join, AND the final report), and every
    # uncached reference re-inlines — and re-executes — the whole
    # bucket pipeline above it
    return retain(cum.groupBy(*pb)
                  .agg(*[F.max(f"tot_{w}").alias(f"n_{w}")
                         for w in weights], *sels))


MAD_K = 4.4478   # 3 · 1.4826 as ONE literal: both engines parse the
                 # same double; a computed 3.0*1.4826 can differ 1 ulp


def event_value_mad_outliers(t: dict[str, DataFrame]) -> DataFrame:
    """Robust per-type outlier report on `value`: median, MAD
    (median absolute deviation), and the count/rate of rows beyond
    3·1.4826·MAD — the outlier monitor that survives the heavy tails
    that wreck a stddev z-score.

    Two passes of the grouped prefix-sum ECDF (`_grouped_rank_min`):
    lower median of value, then lower median of |value − med| (the
    residual is one exact IEEE subtraction — identical in DuckDB).
    Both medians are rank-exact (min value with cumulative count ≥
    ⌈(n+1)/2⌉), never interpolated, so no float percentile semantics
    leak in. The per-type stats frame is enumeration-bounded →
    broadcast back for the final outlier count.

    EVERYTHING after the first aggregate runs in DISTINCT-VALUE
    space: the raw events frame is scanned exactly once (into the
    per-(type, value) count points), and the residual points, the
    MAD pass, and the final outlier count all derive from those
    counts — |v − med| is a function of the value alone, so mapping
    the POINTS through it (merging counts that collide) is row-for-
    row equivalent to mapping every event, at a fraction of the
    width whenever values repeat (always, once values land on a
    finite grid — the 100 TB case)."""
    from ..functions.cache import retain
    pts1 = retain(t["events"]
                  .where(F.col("value").isNotNull())
                  .select("event_type",
                          F.col("value").cast("double").alias("_k"))
                  .groupBy("event_type", "_k")
                  .agg(F.count(F.lit(1)).alias("c")))
    med = _grouped_rank_min(pts1, {"med": "(n + 1) DIV 2"})
    pts2 = (pts1.join(F.broadcast(med.select("event_type", "med")),
                      "event_type")
            .select("event_type",
                    F.abs(F.col("_k") - F.col("med")).alias("_k"), "c")
            .groupBy("event_type", "_k")
            .agg(F.sum("c").alias("c")))
    mad = (_grouped_rank_min(pts2, {"mad": "(n + 1) DIV 2"})
           .select("event_type", "mad"))
    stats = med.join(mad, "event_type")
    flagged = (pts1.join(F.broadcast(stats), "event_type")
               .groupBy("event_type")
               .agg(F.max("n_rows").alias("n"),
                    F.max("med").alias("median"),
                    F.max("mad").alias("mad"),
                    F.sum(F.when(
                        F.abs(F.col("_k") - F.col("med"))
                        > F.lit(MAD_K) * F.col("mad"), F.col("c"))
                        .otherwise(F.lit(0).cast("long")))
                    .alias("n_outliers")))
    return flagged.select(
        "event_type", "n", "median", "mad", "n_outliers",
        (F.col("n_outliers").cast("double") / F.col("n"))
        .alias("outlier_rate"))


WINSOR_LO_RANK = "(n + 19) DIV 20"        # ceil(0.05·n)
WINSOR_HI_RANK = "(19 * n + 19) DIV 20"   # ceil(0.95·n)


def winsorized_value_stats(t: dict[str, DataFrame]) -> DataFrame:
    """Per-type winsorized mean of `value`: clip at the rank-exact
    p5/p95 fences, then average — the robust central-tendency report
    a feed monitor publishes next to the raw mean.

    One grouped prefix-sum ECDF pass gives both fences; clipping and
    the mean run integer-exact (values quantize to cents BIGINT via
    the portable floor(x·100 + 0.5) chain, summed exactly — no float
    accumulation order anywhere), with single IEEE divisions at the
    end. The fence frame is enumeration-bounded → broadcast.

    Like `event_value_mad_outliers`, everything after the first
    aggregate runs in DISTINCT-VALUE space (the clipped-cents sum is
    count-weighted per point — term-for-term equal to summing every
    event); the raw events frame is scanned exactly once."""
    from ..functions.cache import retain
    pts = retain(t["events"]
                 .where(F.col("value").isNotNull())
                 .select("event_type",
                         F.col("value").cast("double").alias("_k"))
                 .groupBy("event_type", "_k")
                 .agg(F.count(F.lit(1)).alias("c")))
    fences = _grouped_rank_min(
        pts, {"p05": WINSOR_LO_RANK, "p95": WINSOR_HI_RANK})
    j = (pts.withColumnRenamed("_k", "v")
         .join(F.broadcast(fences), "event_type"))
    clipped = F.least(F.greatest(F.col("v"), F.col("p05")),
                      F.col("p95"))
    cents = F.floor(clipped * 100 + F.lit(0.5)).cast("long")
    raw_cents = F.floor(F.col("v") * 100 + F.lit(0.5)).cast("long")
    zero = F.lit(0).cast("long")
    g = (j.groupBy("event_type")
         .agg(F.max("n_rows").alias("n"),
              F.max("p05").alias("p05"),
              F.max("p95").alias("p95"),
              F.sum(F.when(F.col("v") < F.col("p05"), F.col("c"))
                    .otherwise(zero)).alias("n_clipped_low"),
              F.sum(F.when(F.col("v") > F.col("p95"), F.col("c"))
                    .otherwise(zero)).alias("n_clipped_high"),
              F.sum(cents * F.col("c")).alias("wsum"),
              F.sum(raw_cents * F.col("c")).alias("rsum")))
    return g.select(
        "event_type", "n", "p05", "p95",
        "n_clipped_low", "n_clipped_high",
        (F.col("wsum").cast("double") / 100.0 / F.col("n"))
        .alias("winsorized_mean"),
        (F.col("rsum").cast("double") / 100.0 / F.col("n"))
        .alias("raw_mean"))


CONTROL_SIGMA = 2.0


def daily_revenue_control_chart(t: dict[str, DataFrame]) -> DataFrame:
    """Shewhart-style control chart on daily order revenue: every day
    with its z-score against the whole-series mean/σ and a ±2σ
    outlier flag — the ops monitor that catches demand shocks and
    ingest gaps by number.

    Exactness: the daily series is BIGINT cents; mean/variance come
    from exact DECIMAL(38,0) moments (n·Σx² − (Σx)², order-
    independent), so σ is one sqrt over an exactly-agreed value. The
    moments exceed 2^53, where DECIMAL→double conversion rounding is
    engine-specific — the z-score therefore quantizes to the declared
    1e-9 grid (the repo's standard 1-ulp defense) and the flag tests
    the QUANTIZED value, keeping the flag set identical in both
    engines except on a measure-zero boundary. Shape: one calendar-
    bounded aggregate + a broadcast singleton stats row (pinned
    BNLJ)."""
    from ..functions.cache import retain
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    daily = retain(t["orders"]
                   .groupBy(F.col("o_orderdate").cast("date").alias("d"))
                   .agg(F.sum(cents).alias("rev")))
    d38 = "decimal(38,0)"
    stats = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("rev").cast(d38)).alias("s1"),
        F.sum((F.col("rev").cast(d38) * F.col("rev").cast(d38))
              .cast(d38)).alias("s2"))
    n = F.col("n").cast(d38)
    mean = F.col("s1").cast("double") / F.col("n")
    var = ((n * F.col("s2") - F.col("s1") * F.col("s1")).cast(d38)
           .cast("double")
           / (F.col("n").cast("double") * (F.col("n") - 1)))
    z_raw = ((F.col("rev").cast("double") - mean) / F.sqrt(var))
    z = F.floor(z_raw * 1e9 + F.lit(0.5)) / 1e9
    return (daily.crossJoin(F.broadcast(stats))
            .select(F.date_format("d", "yyyy-MM-dd").alias("d"),
                    (F.col("rev").cast("double") / 100.0)
                    .alias("revenue"),
                    z.alias("zscore"),
                    (F.abs(z) > CONTROL_SIGMA).cast("int")
                    .alias("is_outlier")))


QQ_GRID = tuple(range(1, 20))   # 5%..95% in 5% steps


def value_qq_table(t: dict[str, DataFrame]) -> DataFrame:
    """QQ table between the click and purchase value distributions:
    rank-exact quantiles of both samples at the 5%-step grid, side by
    side with their gap — the distribution-comparison plot behind the
    KS statistic, as data.

    One grouped prefix-sum ECDF pass (`_grouped_rank_min`) computes
    all 19 order statistics for BOTH groups; the reshape to long form
    explodes a 2×19 frame (constant size at any corpus scale) and the
    final A-vs-B join is broadcast-trivial."""
    from ..functions.cache import retain
    ev = retain(t["events"]
                .where(F.col("value").isNotNull()
                       & F.col("event_type").isin(KS_GROUP_A,
                                                  KS_GROUP_B))
                .select("event_type",
                        F.col("value").cast("double").alias("v")))
    pts = (ev.groupBy("event_type", F.col("v").alias("_k"))
           .agg(F.count(F.lit(1)).alias("c")))
    # retained: the ≤|types|-row quantile frame feeds both the click
    # and purchase branches — uncached, the whole grouped-ECDF
    # pipeline runs twice
    qs = retain(_grouped_rank_min(
        pts, {f"q{k}": f"({k} * n + 19) DIV 20" for k in QQ_GRID}))
    long = qs.select(
        "event_type",
        F.explode(F.array(*[
            F.struct(F.lit(5 * k).alias("pct"),
                     F.col(f"q{k}").alias("q"))
            for k in QQ_GRID])).alias("s")
    ).select("event_type", "s.pct", "s.q")
    a = (long.where(F.col("event_type") == KS_GROUP_A)
         .select("pct", F.col("q").alias("q_click")))
    b = (long.where(F.col("event_type") == KS_GROUP_B)
         .select("pct", F.col("q").alias("q_purchase")))
    return (a.join(b, "pct")
            .select("pct", "q_click", "q_purchase",
                    (F.col("q_purchase") - F.col("q_click"))
                    .alias("gap")))


def revenue_changepoint(t: dict[str, DataFrame]) -> DataFrame:
    """CUSUM changepoint scan over daily order revenue: the day T
    maximizing |Σ_{i≤T}(x_i − μ)| — the classic "when did the level
    shift" detector behind demand-shock and ingest-gap triage.

    Integer-exact argmax: the centered cumulative sum scales by n
    (C_T = n·Σ_{i≤T}x_i − T·Σx, DECIMAL(38,0)) so μ never becomes a
    float; the winner is a lexicographic struct-max (|C| desc,
    earliest day on ties) decided entirely in exact arithmetic, and
    only the reported statistic converts to double (<2^53 at gate
    scales — exact; the 1e-9 defense applies beyond). The daily frame
    is calendar-bounded, so its ordered window is scale-free; one
    aggregate ends the plan."""
    from ..functions.cache import retain
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    daily = retain(t["orders"]
                   .groupBy(F.col("o_orderdate").cast("date").alias("d"))
                   .agg(F.sum(cents).alias("rev")))
    d38 = "decimal(38,0)"
    tot = daily.agg(F.count(F.lit(1)).alias("n"),
                    F.sum(F.col("rev").cast(d38)).alias("s1"))
    w = (Window.orderBy(F.asc("d"))
         .rowsBetween(Window.unboundedPreceding, 0))
    cum = (daily
           .select("d",
                   F.sum(F.col("rev").cast(d38)).over(w).alias("cs"),
                   F.row_number().over(Window.orderBy(F.asc("d")))
                   .alias("t"))
           .crossJoin(F.broadcast(tot))
           .select("d", "n",
                   (F.col("n").cast(d38) * F.col("cs")
                    - F.col("t").cast(d38) * F.col("s1")).cast(d38)
                   .alias("c")))
    epoch_day = F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
    best = cum.agg(
        F.max("n").alias("n_days"),
        F.max(F.struct(F.abs(F.col("c")).alias("a"),
                       (-epoch_day).alias("negday"),
                       F.col("c").alias("c"))).alias("b"))
    return best.select(
        F.date_format(F.date_add(F.lit("1970-01-01").cast("date"),
                                 (-F.col("b.negday")).cast("int")),
                      "yyyy-MM-dd").alias("changepoint_day"),
        "n_days",
        (F.col("b.c").cast("double")
         / F.col("n_days") / 100.0).alias("cusum_dollars"))


def benford_chi2_by_priority(t: dict[str, DataFrame]) -> DataFrame:
    """Benford deviation PER ORDER PRIORITY: the chi-squared distance
    of each priority band's first-digit mix from the Benford
    expectation — localizing WHICH feed segment drifted, where the
    corpus-level audit only says "something did".

    Counts shuffle once onto the (priority × 9) key space; the
    chi-squared sum folds its nine per-digit terms IN DIGIT ORDER
    over a sorted in-row array (cross-engine float sums need a pinned
    order), with expectations the same shortest-round-trip literals
    as benford_first_digit."""
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    g = (t["orders"]
         .where(F.col("o_totalprice") > 0)
         .groupBy("o_orderpriority", digit.alias("digit"))
         .agg(F.count(F.lit(1)).alias("n")))
    wall = Window.partitionBy("o_orderpriority")
    exp_share = F.element_at(
        F.array(*[F.lit(BENFORD_EXPECTED[d]) for d in range(1, 10)]),
        F.col("digit"))
    cells = g.select(
        "o_orderpriority", "digit", "n",
        F.sum("n").over(wall).alias("total"),
        exp_share.alias("e"))
    dev = F.col("n") - F.col("e") * F.col("total")
    # dev * dev, NOT dev ** 2: Column.__pow__ compiles to POWER()
    # (Math.pow), which is not the correctly-rounded multiply
    term = dev * dev / (F.col("e") * F.col("total"))
    folded = (cells
              .select("o_orderpriority", "total",
                      F.struct("digit", term.alias("t")).alias("s"))
              .groupBy("o_orderpriority")
              .agg(F.max("total").alias("n_orders"),
                   F.array_sort(F.collect_list("s")).alias("ts")))
    chi2 = F.aggregate(F.col("ts"), F.lit(0.0),
                       lambda acc, s: acc + s["t"])
    return folded.select(
        F.col("o_orderpriority").alias("priority"),
        "n_orders",
        chi2.alias("benford_chi2"))


KMV_K = 512
KMV_HEX_DIGITS = 13          # 52 bits — every value an exact BIGINT
KMV_SPACE = 1 << (4 * KMV_HEX_DIGITS)


def _hex_prefix_value(col: str) -> str:
    """Portable SQL text (same in Spark and DuckDB) turning the first
    KMV_HEX_DIGITS chars of a lowercase md5 hex string into its
    integer value: instr over the digit alphabet, scaled by exact
    powers of 16. 13 digits = 52 bits, so the value is a clean BIGINT
    in both engines with no unsigned/overflow edge."""
    # every multiplier casts to BIGINT explicitly: small powers of 16
    # parse as INT literals and (digit · 16^7) overflows 32-bit under
    # Spark's ANSI arithmetic
    terms = [
        f"(instr('0123456789abcdef', substr({col}, {i + 1}, 1)) - 1)"
        f" * CAST({16 ** (KMV_HEX_DIGITS - 1 - i)} AS BIGINT)"
        for i in range(KMV_HEX_DIGITS)
    ]
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def kmv_distinct_users(t: dict[str, DataFrame]) -> DataFrame:
    """KMV (k-minimum-values) distinct-user sketch: the K smallest
    distinct salted-md5 values over user_id, and the classic
    (K−1)/F(h_K) cardinality estimate — the third mergeable distinct
    sketch next to HLL (hll_partitioned_union) and exact distinct:
    two KMV states merge by 'union, keep K smallest', so per-shard /
    per-day sketches of K rows each roll up losslessly, the property
    a 1000-executor nightly union needs.

    Plan shape: the salted hash collapses to distinct via one
    map-side-combinable aggregate (cardinality = users, not events),
    then TakeOrderedAndProject keeps K rows per partition and merges
    once — no global sort. The only doubles are the final estimate's
    multiply/divide, written identically in the oracle; ties at the
    K boundary break on the full hex string."""
    h = F.md5(F.concat(F.lit("kmv|"), F.col("user_id").cast("string"))
              .cast("binary"))
    hx = t["events"].select(h.alias("hx")).distinct()
    v = hx.select("hx", F.expr(_hex_prefix_value("hx")).alias("v"))
    bottom = v.orderBy(F.asc("v"), F.asc("hx")).limit(KMV_K)
    agg = bottom.agg(F.count(F.lit(1)).alias("n_seen"),
                     F.max("v").alias("vk"))
    return agg.select(
        F.lit(KMV_K).cast("int").alias("k"),
        "n_seen", "vk",
        F.when(F.col("n_seen") < KMV_K,
               F.col("n_seen").cast("double"))
        .otherwise(F.lit(float(KMV_K - 1)) * F.lit(float(KMV_SPACE))
                   / F.col("vk"))
        .alias("est_distinct"))


TRIM_LO_RANK = "n DIV 10 + 1"       # first kept rank (k = n DIV 10)
TRIM_HI_RANK = "n - n DIV 10"       # last kept rank


def trimmed_mean_by_type(t: dict[str, DataFrame]) -> DataFrame:
    """Per-type 10% TRIMMED mean of `value`: drop the k = ⌊n/10⌋
    lowest- and highest-RANKED rows, average the middle n−2k — the
    companion to `winsorized_value_stats` (which CLIPS those tails
    instead of dropping them); together they bracket how much of the
    raw mean is tail-driven.

    Rank-exact without any per-row global rank: one grouped
    prefix-sum ECDF pass (`_grouped_rank_min`) yields the fence
    values at ranks k+1 and n−k, then ONE conditional aggregate
    reconstructs the trimmed sum from distinct-value arithmetic —
    interior values sum fully, and the two fence values contribute
    exactly (cf(lo)−k) and (n−k−cnt_lt(hi)) copies, the tie-exact
    rank intersection. Sums run in cents BIGINT (the portable
    floor(x·100+0.5) grid — no float accumulation order), single
    IEEE division at the end; the degenerate lo==hi fence (whole
    middle is one value) takes the closed form (n−2k)·lo. Fences are
    enumeration-bounded per type → broadcast."""
    from ..functions.cache import retain
    # distinct-value space throughout: events scanned once into the
    # per-(type, value) count points; the fence pass AND the trimmed-
    # sum reconstruction both run over the points (each value's cents
    # contribution weighted by its count — term-for-term equal to
    # summing every event)
    pts = retain(t["events"]
                 .where(F.col("value").isNotNull())
                 .select("event_type",
                         F.col("value").cast("double").alias("_k"))
                 .groupBy("event_type", "_k")
                 .agg(F.count(F.lit(1)).alias("c")))
    fences = _grouped_rank_min(
        pts, {"lo": TRIM_LO_RANK, "hi": TRIM_HI_RANK})
    j = (pts.withColumnRenamed("_k", "v")
         .join(F.broadcast(fences), "event_type"))
    cents = F.floor(F.col("v") * 100 + F.lit(0.5)).cast("long")
    zero = F.lit(0).cast("long")
    g = (j.groupBy("event_type")
         .agg(F.max("n_rows").alias("n"),
              F.max("lo").alias("lo"),
              F.max("hi").alias("hi"),
              F.sum(F.when((F.col("v") > F.col("lo"))
                           & (F.col("v") < F.col("hi")),
                           cents * F.col("c"))
                    .otherwise(zero)).alias("mid"),
              F.sum(F.when(F.col("v") <= F.col("lo"), F.col("c"))
                    .otherwise(zero)).alias("cf_lo"),
              F.sum(F.when(F.col("v") < F.col("hi"), F.col("c"))
                    .otherwise(zero)).alias("lt_hi")))
    kk = F.expr("n DIV 10")
    c_lo = F.floor(F.col("lo") * 100 + F.lit(0.5)).cast("long")
    c_hi = F.floor(F.col("hi") * 100 + F.lit(0.5)).cast("long")
    kept = F.col("n") - 2 * kk
    tsum = F.when(
        F.col("lo") < F.col("hi"),
        F.col("mid") + (F.col("cf_lo") - kk) * c_lo
        + (F.col("n") - kk - F.col("lt_hi")) * c_hi
    ).otherwise(kept * c_lo)
    return g.select(
        "event_type", "n", kk.alias("k_trim"), "lo", "hi",
        (tsum.cast("double") / 100.0 / kept).alias("trimmed_mean"))


def customer_spend_gini(t: dict[str, DataFrame]) -> DataFrame:
    """Gini coefficient of customer lifetime spend — the standard
    revenue-concentration summary ("what share of revenue rides on
    the whale accounts") via the rank formulation
    G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) with x ascending.

    The global rank is the distributed prefix sum
    (`functions/prefix.py`) of a constant 1: per-customer cents spend
    is range-bucketed on its double image (monotone, so cents TIES
    never straddle buckets) — no single ORDER BY window ever sees
    the full customer set.

    Exactness: Σ i·xᵢ is invariant to tie ordering (a tie block
    contributes x·Σranks whatever the permutation), so the oracle's
    single ROW_NUMBER window agrees with the decomposition
    bit-for-bit; both sums accumulate in DECIMAL(38,0) (order-free),
    and the Gini itself is ONE double expression over exact
    integers, written identically in the oracle."""
    from ..functions.cache import retain
    spend = retain(
        t["orders"]
        .groupBy(F.col("o_custkey").alias("unit_id"))
        .agg(F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                   .cast("long")).alias("w")))
    return _gini_from_weights(spend).select(
        F.col("n_units").alias("n_customers"),
        F.col("total_w").alias("total_cents"), "gini")


def _gini_from_weights(units: DataFrame) -> DataFrame:
    """THE rank-formulation Gini over a (unit_id, w) frame — the
    distributed decomposition customer_spend_gini documents, shared
    so the spend and engagement variants cannot drift. Emits one row
    (n_units, total_w, gini); gini is NULL on an all-zero total."""
    from ..functions.cache import retain
    b, _ = buckets(retain(units), F.col("w"))
    ranked = prefix_sums(b.withColumn("one", F.lit(1)),
                         [F.asc("w"), F.asc("unit_id")], ["one"]) \
        .withColumnRenamed("cum_one", "rnk")
    g = ranked.agg(
        F.count(F.lit(1)).alias("n_units"),
        F.sum(F.col("w").cast("decimal(38,0)")).alias("tot"),
        F.sum((F.col("rnk").cast("decimal(19,0)") * F.col("w"))
              .cast("decimal(38,0)")).alias("rs"))
    num = (F.lit(2).cast("decimal(38,0)") * F.col("rs")
           - (F.col("n_units") + F.lit(1)).cast("decimal(38,0)")
           * F.col("tot"))
    return g.select(
        "n_units",
        F.col("tot").cast("long").alias("total_w"),
        # NULL for the degenerate all-zero-weight input (the oracle's
        # x/0 would be engine-defined; neither side should emit it)
        F.when(F.col("tot") != 0,
               num.cast("double")
               / (F.col("n_units").cast("double")
                  * F.col("tot").cast("double"))).alias("gini"))


def hll_event_overlap(t: dict[str, DataFrame]) -> DataFrame:
    """Sketch-algebra distinct OVERLAP: distinct users who both
    clicked AND purchased, estimated by inclusion–exclusion over HLL
    sketches (|A∩B| ≈ est(A) + est(B) − est(A∪B)) next to the exact
    intersection — the re-aggregatable audience-overlap pattern where
    per-segment sketches are stored once and any pairwise overlap is
    three estimates, never a raw re-scan.

    Verified the `hll_partitioned_union` way: the exact count is
    checked bit-for-bit and each engine's own estimate must land
    inside the envelope (sketch internals aren't cross-engine
    portable; the accuracy contract is — inclusion–exclusion
    compounds three sketch errors, hence the wider 15%+5 band)."""
    a, b = "click", "purchase"
    ev = t["events"].where(F.col("event_type").isin(a, b)).select(
        "event_type", "user_id")
    ua = ev.where(F.col("event_type") == a).select("user_id")
    ub = ev.where(F.col("event_type") == b).select("user_id")
    exact = (ua.distinct().join(ub.distinct(), "user_id", "left_semi")
             .agg(F.count(F.lit(1)).alias("n_exact_overlap")))
    ests = ev.agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg(F.when(F.col("event_type") == a,
                                    F.col("user_id")))).alias("ea"),
        F.hll_sketch_estimate(
            F.hll_sketch_agg(F.when(F.col("event_type") == b,
                                    F.col("user_id")))).alias("eb"),
        F.hll_sketch_estimate(
            F.hll_sketch_agg("user_id")).alias("eu"))
    return (exact.crossJoin(F.broadcast(ests))
            .select(
                "n_exact_overlap",
                ((F.abs(F.col("ea") + F.col("eb") - F.col("eu")
                        - F.col("n_exact_overlap")))
                 <= (F.lit(5.0)
                     + 0.15 * F.col("n_exact_overlap").cast("double")))
                .cast("int").alias("ok_est")))


def mann_whitney_value_drift(t: dict[str, DataFrame]) -> DataFrame:
    """Mann-Whitney U / rank-sum drift test between the click and
    purchase `value` samples — the NONPARAMETRIC companion to
    `ks_drift_value` (KS looks at the max ECDF gap; U integrates the
    whole ordering: auc = P(click value > purchase value) with ties
    counted half). Exactness: tie-averaged ranks come DOUBLED so
    every intermediate is an integer — for a tied group of size g
    after `prior` smaller observations, 2·avgrank = 2·prior + g + 1
    — summed in DECIMAL(38,0) (rank sums reach n² at 100 TB, past
    bigint), and the final U/auc divisions are the only floats.
    Rides the shared `_value_ecdf` distributed prefix sum: per-
    distinct-value counts, bounded-bucket cumulatives, no global
    sort."""
    ecdf = _value_ecdf(t)
    prior = (F.col("fa") - F.col("ca") + F.col("fb") - F.col("cb"))
    grp = F.col("ca") + F.col("cb")
    r2 = (F.col("ca").cast("decimal(38,0)")
          * (2 * prior + grp + 1).cast("decimal(38,0)"))
    agg = ecdf.agg(F.sum(r2).alias("r2"),
                   F.max("na").alias("na"), F.max("nb").alias("nb"))
    u2 = (F.col("r2").cast("double")
          - (F.col("na").cast("decimal(38,0)")
             * (F.col("na") + 1).cast("decimal(38,0)")).cast("double"))
    return agg.select(
        F.col("na").alias("n_click"), F.col("nb").alias("n_purchase"),
        (u2 * 0.5).alias("u_click"),
        (u2 * 0.5 / (F.col("na").cast("double")
                     * F.col("nb").cast("double"))).alias("auc"))


def spearman_daily_rank_corr(t: dict[str, DataFrame]) -> DataFrame:
    """Spearman rank correlation between the DAILY order count and
    daily revenue series — the monotone-association audit (Pearson
    on values is hostage to heavy tails; ranks aren't). Ranks are
    tie-averaged and DOUBLED (2·avgrank = 2·rank_min + cnt − 1) so
    every sum in the Pearson-on-ranks formula is an exact bigint
    (Spearman is affine-invariant, so the doubling cancels); the
    single sqrt/division at the end is the only float. The ranked
    frame is DATE-BOUNDED (one row per order date, ~2.5k for a
    7-year fact at any corpus scale), so the unpartitioned rank
    windows are the date_dim family's documented bounded-frame
    pattern, not a data-sized global sort."""
    from ..functions import dsum
    d = (t["orders"].groupBy("o_orderdate")
         .agg(F.count(F.lit(1)).alias("x"),
              dsum("o_totalprice").alias("rev")))

    def r2(col: str) -> F.Column:
        wr = Window.orderBy(F.asc(col))
        wc = Window.partitionBy(col)
        return (2 * F.rank().over(wr)
                + F.count(F.lit(1)).over(wc) - 1).cast("long")

    ranked = d.select(r2("x").alias("rx"), r2("rev").alias("ry"))
    a = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rx").alias("sx"), F.sum("ry").alias("sy"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"))
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
    den = F.sqrt((F.col("n") * F.col("sxx")
                  - F.col("sx") * F.col("sx")).cast("double")
                 * (F.col("n") * F.col("syy")
                    - F.col("sy") * F.col("sy")).cast("double"))
    return a.select(F.col("n").alias("n_days"),
                    (num.cast("double") / den).alias("spearman_rho"))


def customer_spend_decile_profile(t: dict[str, DataFrame]) -> DataFrame:
    """Customer-value DECILE profile: customers ranked by exact
    lifetime spend (orders fact), cut into 10 equal-population bands
    (band = idx·10 DIV n on the distributed row index — the
    `functions/prefix.py` prefix sum, NO single-task global sort),
    then per decile the population, exact decimal spend, its corpus
    share, and the mean — the table behind "the top decile
    is 40% of revenue" slides. Ties break (spend DESC, custkey ASC)
    so the cut is deterministic."""
    from ..functions import dec
    from ..functions.cache import retain
    cust = retain(t["orders"]
                  .groupBy("o_custkey")
                  .agg(F.sum(dec("o_totalprice")).alias("spend")))
    # n (the probe's row count) is reused in the decile cut
    b, n = buckets(cust, -F.col("spend").cast("double"))
    ranked = prefix_sums(b.withColumn("one", F.lit(1)),
                         [F.desc("spend"), F.asc("o_custkey")], ["one"]) \
        .select("o_custkey", "spend", (F.col("cum_one") - 1).alias("idx"))
    dec10 = F.expr(f"idx * 10 DIV {n}").cast("int")
    tot = ranked.agg(
        F.sum("spend").cast("decimal(38,6)").alias("tot"))
    return (ranked.select(dec10.alias("decile"), "spend")
            .groupBy("decile")
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 F.sum("spend").cast("decimal(38,6)").alias("d_spend"))
            .crossJoin(F.broadcast(tot))
            .select("decile", "n_customers",
                    F.col("d_spend").cast("double").alias("total_spend"),
                    (F.col("d_spend").cast("double")
                     / F.col("tot").cast("double")).alias("spend_share"),
                    (F.col("d_spend").cast("double")
                     / F.col("n_customers")).alias("avg_spend")))


CUME_PROBES = (0.0, 25.0, 50.0, 75.0, 100.0, 150.0, 200.0)


def cume_dist_value_probes(t: dict[str, DataFrame]) -> DataFrame:
    """Exact cumulative distribution of event `value` at a FIXED
    probe grid, per event type — the calibration-curve table
    (P(value <= p)) monitoring compares release-over-release, as a
    pure conditional-count aggregate: one map-side-combinable pass,
    (types × probes)-bounded output, no windows, no sort, exact
    integer counts with one final division."""
    ev = (t["events"].where(F.col("value").isNotNull())
          .select("event_type", "value"))
    aggs = [F.count(F.lit(1)).alias("n")]
    for i, p in enumerate(CUME_PROBES):
        aggs.append(F.sum((F.col("value") <= F.lit(p)).cast("long"))
                    .alias(f"c{i}"))
    g = ev.groupBy("event_type").agg(*aggs)
    rows = []
    for i, p in enumerate(CUME_PROBES):
        rows.append(F.struct(
            F.lit(p).alias("probe"),
            F.col(f"c{i}").alias("n_le"),
            (F.col(f"c{i}").cast("double") / F.col("n"))
            .alias("cume_dist")))
    return (g.select("event_type", "n",
                     F.explode(F.array(*rows)).alias("s"))
            .select("event_type", F.col("s.probe").alias("probe"),
                    F.col("s.n_le").alias("n_le"), "n",
                    F.col("s.cume_dist").alias("cume_dist")))


BITMAP_LANE = 62   # bits per word: DuckDB's 1<<63 overflows signed


def audience_bitmap_intersection(t: dict[str, DataFrame]) -> DataFrame:
    """Audience overlap via a BITMAP INDEX: each audience (click
    users, purchase users) compresses to one 62-bit word per
    user-id block (bit_or of shifted bits — the roaring-bitmap idea
    in its dense form), and intersection / union / Jaccard are then
    bit_count folds over a full-outer word join — the audience-
    overlap engine ad/analytics stacks use where re-shuffling raw
    user ids per question would dominate. Exact integers end to end;
    state per audience is |users| / 62 words. The exact-distinct
    cross-check (n_both vs a COUNT(DISTINCT) intersection) is pinned
    by the oracle."""
    ev = (t["events"]
          .where(F.col("event_type").isin("click", "purchase"))
          .select("event_type", "user_id").distinct())
    words = (ev.select(
        "event_type",
        F.expr(f"user_id DIV {BITMAP_LANE}").alias("blk"),
        F.expr(f"shiftleft(CAST(1 AS BIGINT), "
               f"int(user_id % {BITMAP_LANE}))").alias("bit"))
        .groupBy("event_type", "blk")
        .agg(F.expr("bit_or(bit)").alias("w")))
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


# round-7 wave 1: robust trend estimation over the daily revenue series


def _daily_rev_cents(t: dict[str, DataFrame]) -> DataFrame:
    """Daily order revenue in integer cents: quantize BEFORE the sum
    (the daily_revenue_autocorr convention) so the per-day series is
    exact integer arithmetic at any partitioning. The frame is
    calendar-bounded — a 100 TB orders table still folds onto a few
    thousand day keys via map-side combine."""
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    return (t["orders"]
            .groupBy(F.col("o_orderdate").cast("date").alias("d"))
            .agg(F.sum(cents).alias("rev")))


TS_PAIR_DAY_BOUND = 50_000   # pair-cloud fence for the daily-trend
                             # pair ops: ~50k distinct days (a 137-
                             # year daily series) is ~1.25e9 pairs —
                             # past that the quadratic cloud stops
                             # being "calendar-bounded small" and the
                             # op must be re-keyed (coarser buckets
                             # or a sampled slope cloud), so the
                             # fence refuses loudly instead


def _day_span_fence(n_days: Column, op: str) -> Column:
    """n_days routed through the pair-cloud bound: past
    TS_PAIR_DAY_BOUND distinct days the O(n²) pair build would no
    longer be calendar-bounded small, so the query raises instead of
    silently scheduling ~n²/2 rows. Defense-in-depth layer: the
    schedule-free guarantee comes from `_day_span_precheck`, which
    raises in Python BEFORE the pair cloud is even constructed — this
    declarative fence remains on the n_days output column so any
    composition that bypasses the precheck still fails loudly."""
    from .analytics import TS_PAIR_DAY_BOUND as lim
    return (F.when(n_days <= F.lit(lim), n_days)
            .otherwise(F.raise_error(F.format_string(
                op + ": %s distinct days exceeds the "
                + str(lim) + "-day pair-cloud bound (~n^2/2 pair "
                "rows) - aggregate to coarser buckets or sample "
                "the slope cloud", n_days)).cast("long")))


def _day_span_precheck(daily: DataFrame, op: str) -> None:
    """Eager pair-cloud fence (ADVICE r8): count the retained daily
    frame NOW and raise in Python before the quadratic pair cloud is
    built, so Spark can never schedule the O(n²) stages concurrently
    with a broadcast-side failure. The count is one tiny job over the
    already-persisted calendar-bounded rollup — it doubles as the
    cache materialization the pair build reuses."""
    n = daily.agg(F.count(F.lit(1)).alias("n")).collect()[0]["n"]
    if n > TS_PAIR_DAY_BOUND:
        raise RuntimeError(
            f"{op}: {n} distinct days exceeds the {TS_PAIR_DAY_BOUND}"
            "-day pair-cloud bound (~n^2/2 pair rows) - aggregate to "
            "coarser buckets or sample the slope cloud")


def theil_sen_daily_trend(t: dict[str, DataFrame]) -> DataFrame:
    """Theil–Sen robust trend of daily revenue: the MEDIAN of all
    pairwise slopes (rev_j − rev_i)/(day_j − day_i), i < j — the
    slope estimator with a 29% breakdown point that one promo-day
    outlier can't bend (public: Sen 1968, JASA 63).

    Scale shape: the slope cloud is quadratic only in the CALENDAR
    span (a few thousand days regardless of data volume), built by a
    broadcast self-join of the tiny daily frame; each slope is ONE
    IEEE division of exact integers (cents Δ / day Δ) so both engines
    produce bit-identical doubles. The median over the ~n²/2 slope
    points runs through the distributed grouped-ECDF selector
    (`_grouped_rank_min`) — rank-exact lower median, no
    interpolation, no global sort. Day-span bound: past
    TS_PAIR_DAY_BOUND (~50k) distinct days the quadratic cloud stops
    being calendar-small, and the `_day_span_fence` guard raises
    instead of scheduling it."""
    from ..functions.cache import retain
    daily = retain(_daily_rev_cents(t))
    _day_span_precheck(daily, "theil_sen_daily_trend")
    later = daily.select(F.col("d").alias("d2"), F.col("rev").alias("rev2"))
    slopes = (daily.join(F.broadcast(later), F.col("d2") > F.col("d"))
              .select(((F.col("rev2") - F.col("rev")).cast("double")
                       / F.datediff("d2", "d").cast("double"))
                      .alias("_k")))
    pts = (slopes.groupBy("_k").agg(F.count(F.lit(1)).alias("c"))
           .select(F.lit("all").alias("event_type"), "_k", "c"))
    med = _grouped_rank_min(pts, {"ts_slope": "(n + 1) DIV 2"})
    meta = daily.agg(F.count(F.lit(1)).alias("n_days")).select(
        _day_span_fence(F.col("n_days"), "theil_sen_daily_trend")
        .alias("n_days"))
    return (med.select(F.col("n_rows").alias("n_pairs"), "ts_slope")
            .crossJoin(F.broadcast(meta))
            .select("n_days", "n_pairs", "ts_slope"))


def mann_kendall_trend(t: dict[str, DataFrame]) -> DataFrame:
    """Mann–Kendall monotonic-trend test on daily revenue: S =
    Σ_{i<j} sign(rev_j − rev_i), Kendall's tau-a, and the
    normal-approximation z-score (tie-free variance formula; the
    tied-pair count is reported so a reader can see when the
    correction would matter) — the nonparametric "is revenue actually
    trending" gate that needs no distribution assumption.

    Same calendar-bounded broadcast pair cloud as Theil–Sen (and the
    same TS_PAIR_DAY_BOUND day-span fence); the
    entire statistic is integer counting until the final tau/z
    expression, which is floor-gridded to 1e-9 in BOTH engines (the
    daily_revenue_autocorr convention) so the one sqrt/divide chain
    compares exactly."""
    from ..functions.cache import retain
    daily = retain(_daily_rev_cents(t))
    _day_span_precheck(daily, "mann_kendall_trend")
    later = daily.select(F.col("d").alias("d2"), F.col("rev").alias("rev2"))
    sgn = F.signum((F.col("rev2") - F.col("rev")).cast("double"))
    pairs = (daily.join(F.broadcast(later), F.col("d2") > F.col("d"))
             .select(sgn.alias("sgn")))
    agg = pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum((F.col("sgn") > 0).cast("long")).alias("n_concordant"),
        F.sum((F.col("sgn") < 0).cast("long")).alias("n_discordant"),
        F.sum((F.col("sgn") == 0).cast("long")).alias("n_tied"))
    meta = daily.agg(F.count(F.lit(1)).alias("n_days")).select(
        _day_span_fence(F.col("n_days"), "mann_kendall_trend")
        .alias("n_days"))
    g = agg.crossJoin(F.broadcast(meta))
    s = F.col("n_concordant") - F.col("n_discordant")
    n = F.col("n_days").cast("double")
    grid = lambda c: F.floor(c * 1e9 + F.lit(0.5)) / 1e9  # noqa: E731
    var0 = n * (n - 1) * (2 * n + 5) / F.lit(18.0)
    z = (F.when(s > 0, (s.cast("double") - 1) / F.sqrt(var0))
         .when(s < 0, (s.cast("double") + 1) / F.sqrt(var0))
         .otherwise(F.lit(0.0)))
    return g.select(
        "n_days", "n_pairs", s.alias("s_stat"),
        "n_concordant", "n_discordant", "n_tied",
        grid(s.cast("double") / (n * (n - 1) / F.lit(2.0))).alias("tau"),
        grid(z).alias("z_score"))


# round-7 wave 2: distributed uncertainty via the Poisson bootstrap

PB_REPS = 64                    # bootstrap replicates
PB_GRID = 1_000_000             # md5-uniform resolution (ppm)
PB_VGRID = 10_000               # value quantization (1e-4 units)
# P(Poisson(1) <= k) in ppm, k = 0..6 — fixed literals in BOTH
# engines, so the replicate weights are pure integer comparisons
PB_CDF_PPM = (367879, 735759, 919699, 981012, 996340, 999406, 999917)


def poisson_bootstrap_ci(t: dict[str, DataFrame]) -> DataFrame:
    """95% bootstrap confidence interval for the mean event value via
    the POISSON bootstrap (Chamandy et al. 2012, the resampling scheme
    built for map-reduce: per-row independent Poisson(1) weights need
    no global n and stream in one pass). One row out: the full-sample
    mean and the exact 2.5%/97.5% order statistics of PB_REPS
    replicate means.

    Determinism/exactness: the per-(row, replicate) uniform is an
    md5-derived integer in [0, 1e6) — one md5 per (row, group-of-4)
    whose 32 hex chars split into four 8-hex uniforms, replicate
    b = 4·group + segment — weights are integer comparisons against
    fixed Poisson-CDF literals, values quantize to 1e-4 units BEFORE
    summing (integer partial aggregation — partition-order free), and
    each replicate mean is one double expression over exact integers.
    Scale: the explode is a bounded ×PB_REPS map (no shuffle until
    the PB_REPS-key aggregate, which map-side combines to nothing)."""
    from ..functions import spread
    # the md5-per-(row, group) explode below is the heaviest map in
    # the stats family: spread the narrow (event_id, vu) projection so
    # it runs on every core when the scan cannot split (guide §2.5 at
    # the point of heavy per-row work, not at the loader)
    ev = spread(t["events"]
                .where(F.col("value").isNotNull())
                .select("event_id",
                        F.floor(F.col("value") * PB_VGRID + F.lit(0.5))
                        .cast("long").alias("vu")))
    # ONE md5 feeds FOUR replicates: its 32 hex chars split into four
    # 8-hex uniforms (md5's avalanche makes the segments independent),
    # so the hot path hashes PB_REPS/4 times per row, not PB_REPS
    groups = (ev.select(
        "event_id", "vu",
        F.explode(F.array(*[F.lit(g) for g in range(PB_REPS // 4)]))
        .alias("g"))
        .select("vu", "g", F.md5(F.concat(
            F.lit("pb|"), F.col("g").cast("string"),
            F.lit("|"), F.col("event_id").cast("string"))
            .cast("binary")).alias("h")))
    u = (F.conv(F.expr("substring(h, s * 8 + 1, 8)"), 16, 10)
         .cast("long") % PB_GRID)
    w = sum((u >= F.lit(c)).cast("int") for c in PB_CDF_PPM)
    reps = (groups.select(
        "vu", "g", "h",
        F.explode(F.array(*[F.lit(s) for s in range(4)])).alias("s"))
        .select((F.col("g") * 4 + F.col("s")).alias("b"), "vu",
                w.cast("long").alias("w")))
    means = (reps.groupBy("b")
             .agg(F.sum(F.col("w") * F.col("vu")).alias("swv"),
                  F.sum("w").alias("sw"))
             .select("b", (F.col("swv") / F.lit(float(PB_VGRID))
                           / F.col("sw")).alias("m")))
    k_lo = max(1, -(-25 * PB_REPS // 1000))        # ceil(0.025·B)
    k_hi = -(-975 * PB_REPS // 1000)               # ceil(0.975·B)
    wm = Window.orderBy(F.asc("m"), F.asc("b"))
    ranked = means.select("m", F.row_number().over(wm).alias("rk"))
    ci = (ranked.agg(
        F.max(F.when(F.col("rk") == k_lo, F.col("m"))).alias("ci_lo"),
        F.max(F.when(F.col("rk") == k_hi, F.col("m"))).alias("ci_hi"),
        F.count(F.lit(1)).alias("n_reps")))
    full = ev.agg(F.count(F.lit(1)).alias("n_rows"),
                  (F.sum("vu") / F.lit(float(PB_VGRID))
                   / F.count(F.lit(1))).alias("mean_value"))
    return (full.crossJoin(F.broadcast(ci))
            .select("n_rows", "mean_value", "n_reps", "ci_lo", "ci_hi"))


# round-7 wave 3: parametric A/B testing + survival analysis

WELCH_A = "purchase"
WELCH_B = "view"
WELCH_VGRID = 10_000


def welch_ttest_values(t: dict[str, DataFrame]) -> DataFrame:
    """Welch's unequal-variance t-test between two event types' value
    distributions (the parametric complement to
    mann_whitney_value_drift): t statistic and Welch–Satterthwaite
    degrees of freedom from per-group moments.

    Exactness: values quantize to 1e-4 units, all moments accumulate
    as integer/decimal sums (partition-order free), and t/df are one
    deterministic double chain over those exact integers, floor-
    gridded to 1e-9 in both engines. One map-side-combinable
    2-key aggregate — no shuffle pressure at any scale."""
    d38 = "decimal(38,0)"
    vu = F.floor(F.col("value") * WELCH_VGRID + F.lit(0.5)).cast("long")
    g = (t["events"]
         .where(F.col("value").isNotNull()
                & F.col("event_type").isin(WELCH_A, WELCH_B))
         .select("event_type", vu.alias("vu"))
         .groupBy("event_type")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("vu").cast(d38).alias("s"),
              F.sum((F.col("vu").cast(d38) * F.col("vu")).cast(d38))
              .alias("sxx")))
    a = g.where(F.col("event_type") == WELCH_A).select(
        F.col("n").alias("na"), F.col("s").alias("sa"),
        F.col("sxx").alias("sxxa"))
    b = g.where(F.col("event_type") == WELCH_B).select(
        F.col("n").alias("nb"), F.col("s").alias("sb"),
        F.col("sxx").alias("sxxb"))
    j = a.crossJoin(F.broadcast(b))
    grid = lambda c: F.floor(c * 1e9 + F.lit(0.5)) / 1e9  # noqa: E731
    gg = float(WELCH_VGRID)

    def mean(s, n):
        return s.cast("double") / gg / n.cast("double")

    def var(sxx, s, n):
        nd = n.cast("double")
        m = mean(s, n)
        return (sxx.cast("double") / (gg * gg) - nd * m * m) / (nd - 1)

    ma, mb = mean(F.col("sa"), F.col("na")), mean(F.col("sb"), F.col("nb"))
    va = var(F.col("sxxa"), F.col("sa"), F.col("na"))
    vb = var(F.col("sxxb"), F.col("sb"), F.col("nb"))
    qa = va / F.col("na").cast("double")
    qb = vb / F.col("nb").cast("double")
    tstat = (ma - mb) / F.sqrt(qa + qb)
    df = ((qa + qb) * (qa + qb)
          / (qa * qa / (F.col("na").cast("double") - 1)
             + qb * qb / (F.col("nb").cast("double") - 1)))
    return j.select(
        "na", "nb", grid(ma).alias("mean_a"), grid(mb).alias("mean_b"),
        grid(tstat).alias("t_stat"), grid(df).alias("welch_df"))


SURV_EVENT = "purchase"


def purchase_gap_survival(t: dict[str, DataFrame]) -> DataFrame:
    """Kaplan–Meier survival curve of the DAYS-to-next-purchase gap:
    per user, consecutive purchase gaps are observed events; each
    user's time from last purchase to the corpus frontier is a
    right-CENSORED observation. Output one row per distinct event
    time (whole days): at-risk count, event count, and the KM
    survival estimate S(t) = Π_{t_i ≤ t} (1 − d_i/n_i) — the
    repeat-purchase retention curve read the way clinicians read
    time-to-relapse.

    Scale shape: gaps come from one user-keyed window; the KM grid is
    CALENDAR-BOUNDED (distinct whole-day gaps), so the risk table is
    a tiny frame and the cumulative product folds IN-ROW over the
    day-sorted struct array — a sequential left fold evaluated
    identically by DuckDB (list ordering fixed by array_sort), no
    cross-row float accumulation anywhere."""
    us = 86_400_000_000
    p = (t["events"]
         .where(F.col("event_type") == SURV_EVENT)
         .select("user_id", F.unix_micros("ts").alias("ts_us")))
    frontier = p.agg(F.max("ts_us").alias("fr"))
    w = Window.partitionBy("user_id").orderBy("ts_us")
    gaps = (p.select("user_id", "ts_us",
                     F.lead("ts_us").over(w).alias("nxt"))
            .crossJoin(F.broadcast(frontier))
            .select(
                # integer DIV, never a double divide: a float quotient
                # landing epsilon under a whole day would truncate
                # differently across engines
                (F.coalesce(F.col("nxt"), F.col("fr"))
                 - F.col("ts_us")).alias("du"),
                F.col("nxt").isNotNull().cast("int").alias("observed"))
            .select(F.expr(f"du DIV {us}").alias("gd"), "observed"))
    risk = (gaps.groupBy("gd")
            .agg(F.sum("observed").alias("d"),
                 F.count(F.lit(1)).alias("c")))
    # at-risk at time gd = all observations with gap >= gd: suffix sum
    # over the calendar-bounded grid (single bounded window)
    wg = Window.orderBy(F.desc("gd")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    tbl = (risk.select("gd", "d", F.sum("c").over(wg).alias("n_risk"))
           .where(F.col("d") > 0))
    folded = tbl.agg(F.array_sort(
        F.collect_list(F.struct("gd", "d", "n_risk"))).alias("rows"))
    surv = folded.select(F.explode(F.expr(
        """
        transform(rows, (r, i) ->
          struct(r.gd AS gd, r.n_risk AS n_risk, r.d AS d,
                 aggregate(slice(rows, 1, i + 1), CAST(1.0 AS DOUBLE),
                   (acc, x) -> acc * (CAST(1.0 AS DOUBLE)
                                      - CAST(x.d AS DOUBLE)
                                      / CAST(x.n_risk AS DOUBLE)))
                 AS survival))
        """)).alias("s"))
    return surv.select("s.gd", "s.n_risk", "s.d", "s.survival")


# round-7 wave 4: approximate functional-dependency profiling

FD_CANDIDATES = (
    # (name, table, lhs, rhs)
    ("orders_cust_to_priority", "orders", "o_custkey", "o_orderpriority"),
    ("lineitem_order_to_status", "lineitem", "l_orderkey", "l_linestatus"),
    ("lineitem_part_to_supp", "lineitem", "l_partkey", "l_suppkey"),
    ("customer_nation_to_segment", "customer",
     "c_nationkey", "c_mktsegment"),
)


def functional_dependency_audit(t: dict[str, DataFrame]) -> DataFrame:
    """Approximate functional-dependency profiling (the
    Metanome/data-profiling g3 measure, public: Kivinen & Mannila
    1995): for each candidate FD lhs → rhs, the share of rows that
    would have to be DELETED for the dependency to hold exactly —
    g3 = 1 − Σ_groups max-single-rhs-count / n. The schema-discovery
    audit a pipeline runs before trusting a column as a join key or
    a slowly-changing attribute.

    Scale shape per FD: one (lhs, rhs) count aggregate (map-side
    combinable), one lhs-keyed rollup, one global fold — all counts,
    no row survives past the first aggregate. The FD lanes union into
    a single frame; each is independent so Spark schedules them as
    parallel stages."""
    outs = []
    for name, table, lhs, rhs in FD_CANDIDATES:
        pairs = (t[table]
                 .groupBy(F.col(lhs).alias("k"), F.col(rhs).alias("v"))
                 .agg(F.count(F.lit(1)).alias("c")))
        grp = (pairs.groupBy("k")
               .agg(F.sum("c").alias("tot"),
                    F.max("c").alias("keep"),
                    F.count(F.lit(1)).alias("n_rhs")))
        outs.append(grp.agg(
            F.lit(name).alias("fd"),
            F.sum("tot").alias("n_rows"),
            F.count(F.lit(1)).alias("n_groups"),
            F.sum((F.col("n_rhs") > 1).cast("long"))
            .alias("violating_groups"),
            (F.lit(1.0) - F.sum("keep").cast("double") / F.sum("tot"))
            .alias("g3_error")))
    from functools import reduce
    return reduce(DataFrame.unionByName, outs)


# round-7 wave 5: split-conformal prediction intervals

CONF_VGRID = 10_000


def conformal_value_intervals(t: dict[str, DataFrame]) -> DataFrame:
    """Split-conformal 90% prediction intervals for event value by
    type (Vovk et al., distribution-free): a deterministic md5
    half-split trains a per-type mean predictor, the other half
    calibrates |residual|, and the interval is mean ± the
    ceil(0.9·(n+1))-th smallest calibration residual — finite-sample
    coverage with NO distributional assumption, the interval
    machinery modern ML serving attaches to point predictions.

    Exactness: the split is the md5-bucket convention, the mean is a
    1e-9-gridded double over quantized integer sums, residuals are
    one |IEEE subtract| of identical doubles, and the calibration
    quantile is RANK-EXACT via the grouped-ECDF selector (min
    residual with cumulative count ≥ target) — no percentile
    interpolation. Scale: one 2-key aggregate for the predictor, one
    distinct-value grouped selection for the quantile; nothing
    corpus-sized survives the first aggregates."""
    from ..functions.cache import retain
    bucket = (F.conv(F.substring(
        F.md5(F.concat(F.lit("conf|"), F.col("event_id").cast("string"))
              .cast("binary")), 1, 8), 16, 10)
        .cast("long") % 2)
    ev = retain(
        t["events"]
        .where(F.col("value").isNotNull())
        .select("event_type",
                F.floor(F.col("value") * CONF_VGRID + F.lit(0.5))
                .cast("long").alias("vu"),
                bucket.alias("split")))
    grid = lambda c: F.floor(c * 1e9 + F.lit(0.5)) / 1e9  # noqa: E731
    train = (ev.where(F.col("split") == 0)
             .groupBy("event_type")
             .agg(F.count(F.lit(1)).alias("n_train"),
                  F.sum("vu").alias("su"))
             .select("event_type", "n_train",
                     grid(F.col("su").cast("double")
                          / float(CONF_VGRID)
                          / F.col("n_train").cast("double"))
                     .alias("mean_pred")))
    calib = (ev.where(F.col("split") == 1)
             .join(F.broadcast(train), "event_type")
             .select("event_type",
                     F.abs(F.col("vu").cast("double")
                           / float(CONF_VGRID) - F.col("mean_pred"))
                     .alias("_k")))
    pts = (calib.groupBy("event_type", "_k")
           .agg(F.count(F.lit(1)).alias("c")))
    q = _grouped_rank_min(pts, {"q_resid": "(9 * (n + 1) + 9) DIV 10"})
    # a type whose calibration set is too small for the target rank
    # (n_calib < 9 at 90%) has no valid quantile: drop it, matching
    # the oracle's rank-filter semantics
    q = q.where(F.col("q_resid").isNotNull())
    return (train.join(q.select("event_type",
                                F.col("n_rows").alias("n_calib"),
                                "q_resid"), "event_type")
            .select("event_type", "n_train", "n_calib", "mean_pred",
                    "q_resid",
                    (F.col("mean_pred") - F.col("q_resid")).alias("lo"),
                    (F.col("mean_pred") + F.col("q_resid")).alias("hi")))


# round-7 wave 6: k-sample rank ANOVA, multiple-testing control,
# and categorical-association profiling

KW_VGRID = 10_000               # value quantization (1e-4 units)


def kruskal_wallis_values(t: dict[str, DataFrame]) -> DataFrame:
    """Kruskal–Wallis H test across ALL event types' `value`
    distributions — the k-sample generalization of
    `mann_whitney_value_drift` (one omnibus "do any of the k segments
    differ" gate instead of k·(k−1)/2 pairwise U tests).

    Exactness: values quantize to 1e-4 units; tie-averaged ranks come
    DOUBLED (2·avgrank = 2·prior + cnt + 1 — integers throughout, the
    mann_whitney convention), per-group rank sums accumulate in
    DECIMAL(38,0) (rank sums reach n² at 100 TB), and the tie
    correction Σ(t³−t) is an exact decimal sum over the distinct-value
    grid. H folds IN-ROW over the k-group struct array (sorted by
    event_type — the KM-curve sequential-fold convention, k ≤ |event
    types| so the array is tiny), then floor-grids to 1e-9 in both
    engines.

    Scale shape: one (type, value) count shuffle (cardinality =
    distinct cells, not rows), the global cumulative rides the shared
    distributed prefix sum (`functions/prefix.py`) over the DISTINCT
    value grid (value-range-bounded, never a data-sized global sort),
    and everything after the per-type rollup is a k-row frame."""
    from ..functions.cache import retain
    d38 = "decimal(38,0)"
    vu = F.floor(F.col("value") * KW_VGRID + F.lit(0.5)).cast("long")
    cell = retain(t["events"]
                  .where(F.col("value").isNotNull())
                  .select("event_type", vu.alias("vu"))
                  .groupBy("event_type", "vu")
                  .agg(F.count(F.lit(1)).alias("c_gv")))
    vals = retain(cell.groupBy("vu").agg(F.sum("c_gv").alias("cnt")))
    b, _ = buckets(vals, F.col("vu"))
    # cum - cnt: the count strictly below vu
    ranked = prefix_sums(b, [F.asc("vu")], ["cnt"]).select(
        "vu", (2 * (F.col("cum_cnt") - F.col("cnt"))
               + F.col("cnt") + 1).alias("avg2"))
    per = retain(cell.join(ranked.select("vu", "avg2"), "vu")
                 .groupBy("event_type")
                 .agg(F.sum("c_gv").alias("n"),
                      F.sum(F.col("c_gv").cast(d38)
                            * F.col("avg2").cast(d38)).alias("r2")))
    ties = vals.agg(
        F.sum(F.col("cnt").cast(d38) * F.col("cnt") * F.col("cnt")
              - F.col("cnt")).alias("tsum"))
    g = (per.agg(F.array_sort(F.collect_list(F.struct(
            F.col("event_type").alias("et"),
            F.col("n").alias("gn"),
            F.col("r2").cast("double").alias("r2d")))).alias("gs"),
         F.sum("n").alias("n_total"),
         F.count(F.lit(1)).alias("k_groups"))
         .crossJoin(F.broadcast(ties)))
    nd = F.col("n_total").cast("double")
    s = F.aggregate(
        "gs", F.lit(0.0),
        lambda acc, x: acc + x["r2d"] * x["r2d"] / F.lit(4.0)
        / x["gn"].cast("double"))
    h = (F.lit(12.0) / (nd * (nd + F.lit(1.0))) * s
         - F.lit(3.0) * (nd + F.lit(1.0)))
    # Degenerate-input guards (NULL-on-undefined, the cramers_v_audit
    # convention): n_total = 1 makes the tie-correction denominator 0
    # (corr := 0), and a corpus where EVERY value is identical makes
    # corr exactly 0 — h/corr would be 0/0 = NaN feeding floor(), so
    # h_adj is NULL there instead.
    cden = nd * nd * nd - nd
    corr = F.when(cden > F.lit(0.0),
                  F.lit(1.0) - F.col("tsum").cast("double") / cden
                  ).otherwise(F.lit(0.0))
    grid = lambda c: F.floor(c * 1e9 + F.lit(0.5)) / 1e9  # noqa: E731
    glob = retain(g.select(
        "n_total", "k_groups", (F.col("k_groups") - 1).alias("df"),
        grid(h).alias("h_stat"),
        F.when(corr > F.lit(0.0), grid(h / corr))
         .otherwise(F.lit(None).cast("double")).alias("h_adj")))
    return (per.crossJoin(F.broadcast(glob))
            .select("event_type", "n",
                    grid(F.col("r2").cast("double")
                         / (F.lit(2.0) * F.col("n").cast("double")))
                    .alias("mean_rank"),
                    "n_total", "k_groups", "df", "h_stat", "h_adj"))


FDR_ALPHA = 0.05                # BH target false-discovery rate
FDR_VGRID = 10_000              # value quantization (1e-4 units)


def segment_pvalues_fdr(t: dict[str, DataFrame]) -> DataFrame:
    """Benjamini–Hochberg FDR control over per-event-type mean-shift
    screens — the multiple-testing discipline every segment dashboard
    needs once it tests k segments at once (k uncorrected α=.05 tests
    fire spuriously ~k/20 times).

    Per type: a DISTRIBUTION-FREE Chebyshev p-value for "this type's
    mean differs from the corpus mean" — z² = (m_g − m)²·n_g/v (v =
    corpus sample variance), p = min(1, 1/z²), which Chebyshev
    guarantees is a valid (conservative) two-sided p-value with NO
    normality assumption. z² floor-grids to integer ppb FIRST, so the
    BH sort key is an exact bigint (never a float comparison) and p
    derives from the gridded value identically in both engines.

    BH step-up on the k-row frame: rank ascending by p (type
    tie-break), k* = max rank with p ≤ α·rank/k, reject rank ≤ k*;
    q-values are the running min of p·k/rank from the worst rank down,
    capped at 1. All moments are exact integer/decimal sums; the
    windows ride a k-row frame (|event types|, bounded)."""
    from ..functions.cache import retain
    d38 = "decimal(38,0)"
    vu = F.floor(F.col("value") * FDR_VGRID + F.lit(0.5)).cast("long")
    per = retain(t["events"]
                 .where(F.col("value").isNotNull())
                 .select("event_type", vu.alias("vu"))
                 .groupBy("event_type")
                 .agg(F.count(F.lit(1)).alias("n"),
                      F.sum("vu").cast(d38).alias("s"),
                      F.sum((F.col("vu").cast(d38) * F.col("vu"))
                            .cast(d38)).alias("sxx")))
    tot = per.agg(F.sum("n").alias("nt"),
                  F.sum("s").alias("st"),
                  F.sum("sxx").alias("sxxt"),
                  F.count(F.lit(1)).alias("k"))
    gg = float(FDR_VGRID)
    ntd = F.col("nt").cast("double")
    mu = F.col("st").cast("double") / gg / ntd
    var = ((F.col("sxxt").cast("double") / (gg * gg) - ntd * mu * mu)
           / (ntd - F.lit(1.0)))
    ngd = F.col("n").cast("double")
    mg = F.col("s").cast("double") / gg / ngd
    z2 = (mg - mu) * (mg - mu) * ngd / var
    zu = F.when(var <= 0, F.lit(0)).otherwise(
        F.floor(z2 * 1e9 + F.lit(0.5))).cast("long")
    scored = (per.crossJoin(F.broadcast(tot))
              .select("event_type", "n", "k",
                      (F.floor(mg * 1e9 + F.lit(0.5)) / 1e9)
                      .alias("mean_value"),
                      zu.alias("z2_ppb")))
    p = F.when(F.col("z2_ppb") <= F.lit(1_000_000_000), F.lit(1.0)) \
         .otherwise(F.lit(1e9) / F.col("z2_ppb").cast("double"))
    wr = Window.orderBy(F.desc("z2_ppb"), F.asc("event_type"))
    ranked = retain(scored
                    .select("event_type", "n", "k", "mean_value",
                            "z2_ppb", p.alias("p_cheb"))
                    .withColumn("bh_rank", F.row_number().over(wr)))
    kd = F.col("k").cast("double")
    rd = F.col("bh_rank").cast("double")
    thr = F.lit(FDR_ALPHA) * rd / kd
    wq = (Window.orderBy(F.desc("bh_rank"))
          .rowsBetween(Window.unboundedPreceding, 0))
    wall = (Window.orderBy(F.desc("bh_rank"))
            .rowsBetween(Window.unboundedPreceding,
                         Window.unboundedFollowing))
    grid = lambda c: F.floor(c * 1e9 + F.lit(0.5)) / 1e9  # noqa: E731
    kstar = F.max(F.when(F.col("p_cheb") <= thr, F.col("bh_rank"))) \
             .over(wall)
    return (ranked
            .select("event_type", "n", "mean_value", "bh_rank",
                    grid(F.col("z2_ppb").cast("double") / 1e9)
                    .alias("z_sq"),
                    grid(F.col("p_cheb")).alias("p_cheb"),
                    grid(thr).alias("bh_threshold"),
                    grid(F.min(F.least(F.lit(1.0),
                                       F.col("p_cheb") * kd / rd))
                         .over(wq)).alias("q_value"),
                    (F.col("bh_rank") <= F.coalesce(kstar, F.lit(0)))
                    .cast("int").alias("rejected")))


def cramers_v_audit(t: dict[str, DataFrame]) -> DataFrame:
    """Cramér's V association audit over the fact tables' categorical
    column pairs — the schema-profiling companion to
    `functional_dependency_audit` (an FD is V = 1; independence is
    V = 0; the in-between is what a feature-selection pass reads).

    Per pair: the contingency table is one (a, b) count shuffle
    (cardinality = level product, bounded by the categorical domains,
    NOT data-sized); row/col marginals broadcast back; χ² folds
    IN-ROW over the (a, b)-sorted cell array (the KM-curve
    deterministic-fold convention — cells ≤ ~50, so the array is
    tiny) and V = sqrt(χ²/(n·(min(r,c)−1))) is one double chain,
    floor-gridded to 1e-9 in both engines."""

    def pair(df: DataFrame, a: str, b: str, name: str) -> DataFrame:
        cells = (df.groupBy(F.col(a).alias("ka"), F.col(b).alias("kb"))
                 .agg(F.count(F.lit(1)).alias("o")))
        rt = cells.groupBy("ka").agg(F.sum("o").alias("rt"))
        ct = cells.groupBy("kb").agg(F.sum("o").alias("ct"))
        j = (cells.join(F.broadcast(rt), "ka")
             .join(F.broadcast(ct), "kb"))
        g = j.agg(
            F.array_sort(F.collect_list(F.struct(
                "ka", "kb",
                F.col("o").cast("double").alias("od"),
                F.col("rt").cast("double").alias("rtd"),
                F.col("ct").cast("double").alias("ctd"))))
            .alias("cells"),
            F.sum("o").alias("n"),
            F.count_distinct("ka").alias("r_levels"),
            F.count_distinct("kb").alias("c_levels"))
        nd = F.col("n").cast("double")
        chi2 = F.aggregate(
            "cells", F.lit(0.0),
            lambda acc, x: acc
            + (x["od"] - x["rtd"] * x["ctd"] / nd)
            * (x["od"] - x["rtd"] * x["ctd"] / nd)
            / (x["rtd"] * x["ctd"] / nd))
        mind = (F.least("r_levels", "c_levels").cast("double")
                - F.lit(1.0))
        grid = lambda c: F.floor(c * 1e9 + F.lit(0.5)) / 1e9  # noqa: E731
        return g.select(
            F.lit(name).alias("pair"), "n", "r_levels", "c_levels",
            grid(chi2).alias("chi2"),
            # a single-level dimension has no association to measure:
            # V is NULL, never a divide-by-zero (ANSI mode is eager)
            F.when(mind > 0, grid(F.sqrt(chi2 / (nd * mind))))
            .alias("cramers_v"))

    ev_hour = t["events"].select(
        "event_type", F.hour("ts").cast("string").alias("hour"))
    return (pair(t["orders"], "o_orderpriority", "o_orderstatus",
                 "orders:priority_x_status")
            .unionByName(pair(t["lineitem"], "l_returnflag",
                              "l_linestatus",
                              "lineitem:returnflag_x_linestatus"))
            .unionByName(pair(ev_hour, "event_type", "hour",
                              "events:type_x_hour")))


def weighted_price_median_by_flag(t: dict[str, DataFrame]) -> DataFrame:
    """QUANTITY-weighted median of the line-item unit burden: per
    return flag, the extended price at which half the shipped
    QUANTITY sits below — the "median dollar" (not median row) every
    pricing review actually wants once line sizes vary.

    Weights and values both quantize to exact integers (quantity to
    units, price to cents), the per-(flag, cents) weight rollup feeds
    the shared `_grouped_rank_min` distributed-prefix selector at
    target rank (W + 1) DIV 2 over cumulative WEIGHT — the lower
    weighted median, rank-exact, no per-flag global sort. Also
    reports the unweighted row median at (n + 1) DIV 2 for contrast
    via a second selector target on a weight-1 rollup."""
    li = (t["lineitem"]
          .select("l_returnflag",
                  F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
                  .cast("long").cast("double").alias("_k"),
                  F.floor(F.col("l_quantity") + F.lit(0.5))
                  .cast("long").alias("qty")))
    pts = (li.groupBy("l_returnflag", "_k")
           .agg(F.sum("qty").alias("qty"),
                F.count(F.lit(1)).alias("ones")))
    # BOTH weightings ride ONE selector pipeline (the multi-weight
    # core): one probe, one in-bucket window pass — the two-call
    # formulation paid the whole pipeline twice
    sel = _grouped_rank_min_multi(
        pts, {"qty": {"wm": "(n + 1) DIV 2"},
              "ones": {"rm": "(n + 1) DIV 2"}}, "l_returnflag")
    return sel.select(
        "l_returnflag",
        F.col("n_qty").alias("total_qty"),
        (F.col("wm") / 100.0).alias("weighted_median_price"),
        F.col("n_ones").alias("n_rows"),
        (F.col("rm") / 100.0).alias("row_median_price"))


# round-7 wave 9: parametric trend + fixed-period harmonic scan

PGRAM_PERIODS = (7, 30, 91)     # weekly / monthly / quarterly cycles
PGRAM_GRID = 1_000_000          # micro-unit term quantization
TAU = 6.283185307179586         # 2π as ONE literal in both engines


def ols_daily_trend(t: dict[str, DataFrame]) -> DataFrame:
    """Ordinary-least-squares daily-revenue trend — the parametric
    companion to `theil_sen_daily_trend` (same series, same day-index
    x-axis; OLS gives slope + intercept + R², Theil–Sen gives the
    outlier-proof slope; a gap between them IS the outlier alarm).

    x = days since the first order date (exact integer via one
    broadcast min-date row), y = daily cents. All five regression
    moments accumulate in DECIMAL(38,0) over the calendar-bounded
    day frame; slope/intercept/R² are one deterministic double chain
    over those exact integers, floor-gridded to 1e-9."""
    from ..functions.cache import retain
    d38 = "decimal(38,0)"
    daily = retain(_daily_rev_cents(t))
    d0 = daily.agg(F.min("d").alias("d0"))
    xy = (daily.crossJoin(F.broadcast(d0))
          .select(F.datediff("d", "d0").cast("long").alias("x"),
                  F.col("rev").alias("y")))
    m = xy.agg(F.count(F.lit(1)).alias("n"),
               F.sum("x").cast(d38).alias("sx"),
               F.sum("y").cast(d38).alias("sy"),
               F.sum((F.col("x").cast(d38) * F.col("x")).cast(d38))
               .alias("sxx"),
               F.sum((F.col("x").cast(d38) * F.col("y")).cast(d38))
               .alias("sxy"),
               F.sum((F.col("y").cast(d38) * F.col("y")).cast(d38))
               .alias("syy"))
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, sxy = F.col("sxx").cast("double"), F.col("sxy").cast("double")
    syy = F.col("syy").cast("double")
    vx = nd * sxx - sx * sx
    vy = nd * syy - sy * sy
    cov = nd * sxy - sx * sy
    slope = cov / vx
    grid = lambda c: F.floor(c * 1e9 + F.lit(0.5)) / 1e9  # noqa: E731
    return m.select(
        F.col("n").alias("n_days"),
        grid(slope / F.lit(100.0)).alias("slope_per_day"),
        grid((sy - slope * sx) / nd / F.lit(100.0)).alias("intercept"),
        grid(cov * cov / (vx * vy)).alias("r_squared"))


def daily_revenue_periodogram(t: dict[str, DataFrame]) -> DataFrame:
    """Harmonic power of the daily revenue series at the calendar
    periods that matter (weekly / monthly / quarterly) — the
    seasonality-strength scan a forecaster runs after
    `daily_revenue_autocorr` says "something cyclic is here": which
    cycle, and how much variance it explains.

    Per period P: A = Σ r·cos(2πd/P), B = Σ r·sin(2πd/P) with d =
    days since the series start. Each per-day trig term quantizes to
    integer micro-units BEFORE the sum (the PSI/KL discipline; n_days
    is calendar-bounded at any corpus scale). Precision note: the
    pre-sum grid removes ORDER dependence of the accumulation — it
    does not erase engine ulp divergence in cos/sin themselves; the
    twin-engine hash parity additionally relies on JVM StrictMath and
    libm agreeing at these input magnitudes, and a 1-ulp wobble that
    lands a scaled term exactly on a floor(x+0.5) boundary would flip
    one micro-unit (not observed at tested SFs). Mean-correction is exact algebra:
    Σ(r−m)cos = Σ r·cos − m·Σcos, all assembled in ONE double chain
    over the integer sums. Output: per period the harmonic amplitude
    (in dollars) and the share of the series variance it explains."""
    from ..functions.cache import retain
    d38 = "decimal(38,0)"
    daily = retain(_daily_rev_cents(t))
    d0 = daily.agg(F.min("d").alias("d0"))
    base = retain(
        daily.crossJoin(F.broadcast(d0))
        .select(F.datediff("d", "d0").cast("double").alias("x"),
                F.col("rev").alias("y")))
    mom = base.agg(F.count(F.lit(1)).alias("n"),
                   F.sum("y").cast(d38).alias("sy"),
                   F.sum((F.col("y").cast(d38) * F.col("y"))
                         .cast(d38)).alias("syy"))
    outs = []
    for p in PGRAM_PERIODS:
        ang = F.col("x") * F.lit(TAU) / F.lit(float(p))
        gu = lambda c: F.floor(c * PGRAM_GRID + F.lit(0.5)) \
            .cast("long")  # noqa: E731
        yd = F.col("y").cast("double")
        s = base.agg(
            F.sum(gu(yd * F.cos(ang))).alias("ac"),
            F.sum(gu(yd * F.sin(ang))).alias("bs"),
            F.sum(gu(F.cos(ang))).alias("cc"),
            F.sum(gu(F.sin(ang))).alias("ss"))
        outs.append(s.crossJoin(F.broadcast(mom))
                    .select(F.lit(p).alias("period"), "n", "sy", "syy",
                            "ac", "bs", "cc", "ss"))
    u = outs[0]
    for o in outs[1:]:
        u = u.unionByName(o)
    g = float(PGRAM_GRID)
    nd = F.col("n").cast("double")
    mean = F.col("sy").cast("double") / nd
    a = F.col("ac").cast("double") / g - mean * \
        (F.col("cc").cast("double") / g)
    b = F.col("bs").cast("double") / g - mean * \
        (F.col("ss").cast("double") / g)
    sst = F.col("syy").cast("double") - nd * mean * mean
    grid = lambda c: F.floor(c * 1e9 + F.lit(0.5)) / 1e9  # noqa: E731
    return u.select(
        "period", F.col("n").alias("n_days"),
        grid(F.sqrt(a * a + b * b) * F.lit(2.0) / nd / F.lit(100.0))
        .alias("amplitude"),
        grid((a * a + b * b) * F.lit(2.0) / (nd * sst))
        .alias("var_share"))


def join_cardinality_estimate(t: dict[str, DataFrame]) -> DataFrame:
    """Join-size estimation audit for orders ⋈ lineitem on orderkey:
    the EXACT join cardinality Σ_k c_R(k)·c_S(k) (per-key count join,
    DECIMAL(38,0) products) next to the textbook uniform-frequency
    estimate |R|·|S| / max(V_R, V_S) every cost-based optimizer uses —
    the measured answer to "how wrong is the planner's estimate on
    THIS key distribution" (ratio 1 = uniform keys; skew pushes it
    up). One row out; both sides are exact integers until the final
    ratio chain, floor-gridded to 1e-9."""
    d38 = "decimal(38,0)"
    ro = (t["orders"].groupBy(F.col("o_orderkey").alias("k"))
          .agg(F.count(F.lit(1)).alias("cr")))
    rl = (t["lineitem"].groupBy(F.col("l_orderkey").alias("k"))
          .agg(F.count(F.lit(1)).alias("cs")))
    j = (ro.join(rl, "k")
         .agg(F.sum((F.col("cr").cast(d38) * F.col("cs")).cast(d38))
              .alias("exact_rows")))
    mo = ro.agg(F.sum("cr").alias("n_left"),
                F.count(F.lit(1)).alias("v_left"))
    ml = rl.agg(F.sum("cs").alias("n_right"),
                F.count(F.lit(1)).alias("v_right"))
    g = j.crossJoin(F.broadcast(mo)).crossJoin(F.broadcast(ml))
    est = (F.col("n_left").cast("double")
           * F.col("n_right").cast("double")
           / F.greatest(F.col("v_left"), F.col("v_right"))
           .cast("double"))
    grid = lambda c: F.floor(c * 1e9 + F.lit(0.5)) / 1e9  # noqa: E731
    return g.select(
        "n_left", "n_right", "v_left", "v_right",
        F.col("exact_rows").cast("long").alias("exact_join_rows"),
        F.floor(est + F.lit(0.5)).cast("long").alias("estimate_rows"),
        grid(est / F.col("exact_rows").cast("double"))
        .alias("est_over_exact"))


# round-7 wave 13: classical one-way ANOVA + robust variance test

ANOVA_VGRID = 10_000            # value quantization (1e-4 units)


def anova_f_values(t: dict[str, DataFrame]) -> DataFrame:
    """Classical one-way ANOVA F test across ALL event types' values —
    the parametric omnibus companion to `kruskal_wallis_values` (same
    question, mean-based instead of rank-based; a big gap between the
    two verdicts flags heavy tails doing the work).

    Entirely moment-based: per-group n/Σx/Σx² accumulate as exact
    integer/decimal sums (1e-4 quantization), SSB = Σ n_g·(m_g − m)²
    and SSW = Σ (Σx²_g − n_g·m_g²) fold IN-ROW over the k-group
    sorted struct array (the Kruskal/KM deterministic-fold
    convention), and F = (SSB/(k−1)) / (SSW/(N−k)) is one gridded
    double chain. One map-side-combinable aggregate — no shuffle
    pressure at any scale."""
    from ..functions.cache import retain
    d38 = "decimal(38,0)"
    vu = F.floor(F.col("value") * ANOVA_VGRID + F.lit(0.5)).cast("long")
    per = retain(t["events"]
                 .where(F.col("value").isNotNull())
                 .select("event_type", vu.alias("vu"))
                 .groupBy("event_type")
                 .agg(F.count(F.lit(1)).alias("n"),
                      F.sum("vu").cast(d38).alias("s"),
                      F.sum((F.col("vu").cast(d38) * F.col("vu"))
                            .cast(d38)).alias("sxx")))
    g = per.agg(
        F.array_sort(F.collect_list(F.struct(
            F.col("event_type").alias("et"),
            F.col("n").alias("gn"),
            F.col("s").cast("double").alias("sd"),
            F.col("sxx").cast("double").alias("sxxd")))).alias("gs"),
        F.sum("n").alias("n_total"),
        F.sum("s").alias("st"),
        F.count(F.lit(1)).alias("k_groups"))
    gg = float(ANOVA_VGRID)
    nd = F.col("n_total").cast("double")
    mu = F.col("st").cast("double") / gg / nd
    ssb = F.aggregate(
        "gs", F.lit(0.0),
        lambda acc, x: acc + x["gn"].cast("double")
        * (x["sd"] / gg / x["gn"].cast("double") - mu)
        * (x["sd"] / gg / x["gn"].cast("double") - mu))
    ssw = F.aggregate(
        "gs", F.lit(0.0),
        lambda acc, x: acc + (x["sxxd"] / (gg * gg)
                              - x["gn"].cast("double")
                              * (x["sd"] / gg / x["gn"].cast("double"))
                              * (x["sd"] / gg
                                 / x["gn"].cast("double"))))
    kd = F.col("k_groups").cast("double")
    fstat = (ssb / (kd - F.lit(1.0))) / (ssw / (nd - kd))
    # NULL-on-undefined (the cramers_v_audit convention): a corpus
    # where every value is identical gives SSW = 0 -> F = Inf, a
    # single group gives df_between = 0, and n = k (one row per
    # group) gives df_within = 0 — all emit NULL, not Inf/NaN.
    fdef = ((ssw > F.lit(0.0)) & (kd > F.lit(1.0))
            & (nd > kd))
    grid = lambda c: F.floor(c * 1e9 + F.lit(0.5)) / 1e9  # noqa: E731
    glob = g.select(
        "n_total", "k_groups",
        (F.col("k_groups") - 1).alias("df_between"),
        (F.col("n_total") - F.col("k_groups")).alias("df_within"),
        grid(ssb).alias("ss_between"), grid(ssw).alias("ss_within"),
        F.when(fdef, grid(fstat))
         .otherwise(F.lit(None).cast("double")).alias("f_stat"))
    return (per.select("event_type", "n",
                       grid(F.col("s").cast("double") / gg
                            / F.col("n").cast("double"))
                       .alias("mean_value"))
            .crossJoin(F.broadcast(glob)))


def brown_forsythe_variance_test(t: dict[str, DataFrame]) -> DataFrame:
    """Brown–Forsythe variance-homogeneity test across event types:
    one-way ANOVA on |x − median_g| — the robust Levene variant every
    ANOVA should run first (the F test's equal-variance assumption,
    checked with a median center that heavy tails can't drag).

    Per-group medians are rank-exact via the shared grouped-ECDF
    selector; the deviation re-aggregate reuses the ANOVA in-row fold
    (integer |x−med| units; medians land on the same 1e-4 grid, so
    deviations are exact integers too). Two sequential passes —
    selector, then one moment aggregate."""
    from ..functions.cache import retain
    d38 = "decimal(38,0)"
    vu = F.floor(F.col("value") * ANOVA_VGRID + F.lit(0.5)).cast("long")
    ev = retain(t["events"]
                .where(F.col("value").isNotNull())
                .select("event_type", vu.alias("vu")))
    pts = (ev.groupBy("event_type",
                      F.col("vu").cast("double").alias("_k"))
           .agg(F.count(F.lit(1)).alias("c")))
    med = _grouped_rank_min(pts, {"med": "(n + 1) DIV 2"}) \
        .select("event_type", F.col("med").cast("long").alias("med"))
    dev = (ev.join(F.broadcast(med), "event_type")
           .select("event_type",
                   F.abs(F.col("vu") - F.col("med")).alias("du")))
    per = retain(dev.groupBy("event_type")
                 .agg(F.count(F.lit(1)).alias("n"),
                      F.sum("du").cast(d38).alias("s"),
                      F.sum((F.col("du").cast(d38) * F.col("du"))
                            .cast(d38)).alias("sxx")))
    g = per.agg(
        F.array_sort(F.collect_list(F.struct(
            F.col("event_type").alias("et"),
            F.col("n").alias("gn"),
            F.col("s").cast("double").alias("sd"),
            F.col("sxx").cast("double").alias("sxxd")))).alias("gs"),
        F.sum("n").alias("n_total"),
        F.sum("s").alias("st"),
        F.count(F.lit(1)).alias("k_groups"))
    gg = float(ANOVA_VGRID)
    nd = F.col("n_total").cast("double")
    mu = F.col("st").cast("double") / gg / nd
    ssb = F.aggregate(
        "gs", F.lit(0.0),
        lambda acc, x: acc + x["gn"].cast("double")
        * (x["sd"] / gg / x["gn"].cast("double") - mu)
        * (x["sd"] / gg / x["gn"].cast("double") - mu))
    ssw = F.aggregate(
        "gs", F.lit(0.0),
        lambda acc, x: acc + (x["sxxd"] / (gg * gg)
                              - x["gn"].cast("double")
                              * (x["sd"] / gg / x["gn"].cast("double"))
                              * (x["sd"] / gg
                                 / x["gn"].cast("double"))))
    kd = F.col("k_groups").cast("double")
    fstat = (ssb / (kd - F.lit(1.0))) / (ssw / (nd - kd))
    # same NULL-on-undefined guard as anova_f_values: identical
    # deviations (SSW = 0), one group, or n = k -> NULL, not Inf/NaN
    fdef = ((ssw > F.lit(0.0)) & (kd > F.lit(1.0))
            & (nd > kd))
    grid = lambda c: F.floor(c * 1e9 + F.lit(0.5)) / 1e9  # noqa: E731
    glob = g.select(
        "n_total", "k_groups",
        (F.col("k_groups") - 1).alias("df_between"),
        (F.col("n_total") - F.col("k_groups")).alias("df_within"),
        F.when(fdef, grid(fstat))
         .otherwise(F.lit(None).cast("double")).alias("bf_stat"))
    return (per.select("event_type", "n",
                       grid(F.col("s").cast("double") / gg
                            / F.col("n").cast("double"))
                       .alias("mean_abs_dev"))
            .crossJoin(F.broadcast(glob)))


# round-8 wave 1: classical forecasting + sequential drift detection
# over the calendar-bounded daily series — the in-row sequential-fold
# family (the KM-curve/kruskal convention: the series collects into
# ONE sorted array row, the recurrence runs as a deterministic
# left-fold, identical double chain in both engines)

HW_SEASON = 7          # weekly additive season


def holt_winters_daily_forecast(t: dict[str, DataFrame]) -> DataFrame:
    """Additive Holt-Winters (triple exponential smoothing, Winters
    1960) over daily revenue: level/trend/weekly-seasonal states fold
    left-to-right through the day-ordered series (alpha=0.2,
    beta=0.1, gamma=0.3 — written as baked literals 0.8/0.9/0.7 for
    the complements so both engines run the same constants), then
    forecast horizons h = 1..7 from the final state — the classical
    seasonal forecaster `ewma_daily_revenue` graduates into once a
    weekly cycle matters.

    Determinism: the recurrence is an in-row fold over the ONE
    collected day-sorted array (calendar-bounded — a 100 TB orders
    table still rolls to a few thousand days), so the float chain is
    a fixed left-assoc sequence replayed exactly by the DuckDB
    list_reduce twin; outputs floor-grid to 1e-9. Cold-start
    convention: states init to zero and the fold runs from the first
    day (the burn-in bias is part of the definition, as the
    docstringed demo estimator; one-step-ahead SSE accumulates over
    the whole series the same way in both engines and reports as
    RMSE — sqrt keeps the 1e-9 grid inside F.floor's LONG range,
    which raw SSE at corpus revenue magnitudes would overflow). Calendar gaps
    are treated as consecutive observations (the irregular-series
    convention of the daily family).

    Scale shape: ONE map-side-combinable daily rollup, one
    single-row fold, a 7-row explode. Nothing after the rollup
    scales with the fact table."""
    daily = _daily_rev_cents(t)
    xs = daily.agg(F.array_sort(F.collect_list(F.struct(
        F.col("d").alias("d"),
        (F.col("rev").cast("double") / F.lit(100.0)).alias("x"))))
        .alias("dx"),
        F.count(F.lit(1)).alias("n_days"))
    st = F.expr("""
        aggregate(
          transform(dx, p -> p.x),
          named_struct('lv', 0.0D, 'tr', 0.0D,
                       'sea', array_repeat(0.0D, 7),
                       'sse', 0.0D),
          (acc, x) -> named_struct(
            'lv', 0.2D * (x - element_at(acc.sea, 1))
                  + 0.8D * (acc.lv + acc.tr),
            'tr', 0.1D * ((0.2D * (x - element_at(acc.sea, 1))
                           + 0.8D * (acc.lv + acc.tr)) - acc.lv)
                  + 0.9D * acc.tr,
            'sea', concat(slice(acc.sea, 2, 6),
                          array(0.3D * (x - (0.2D
                            * (x - element_at(acc.sea, 1))
                            + 0.8D * (acc.lv + acc.tr)))
                            + 0.7D * element_at(acc.sea, 1))),
            'sse', acc.sse + (acc.lv + acc.tr
                              + element_at(acc.sea, 1) - x)
                           * (acc.lv + acc.tr
                              + element_at(acc.sea, 1) - x)))
    """)
    g = xs.select("n_days", st.alias("st"))
    grid = lambda c: F.floor(c * 1e9 + F.lit(0.5)) / 1e9  # noqa: E731
    h = F.explode(F.sequence(F.lit(1), F.lit(HW_SEASON))).alias("h")
    fc = (F.col("st.lv")
          + F.col("h").cast("double") * F.col("st.tr")
          + F.element_at("st.sea",
                         ((F.col("h") - 1) % HW_SEASON + 1)
                         .cast("int")))
    return (g.select("n_days", "st", h)
            .select(F.col("h").cast("int").alias("h"),
                    grid(fc).alias("forecast_revenue"),
                    "n_days",
                    grid(F.sqrt(F.col("st.sse")
                                / F.col("n_days").cast("double")))
                    .alias("rmse")))


PH_DELTA = 0.0        # PH tolerance (dollars) — 0: any upward drift
PH_LAMBDA = 10000.0   # PH alarm threshold (cumulative dollars)


def page_hinkley_drift(t: dict[str, DataFrame]) -> DataFrame:
    """Page-Hinkley upward-drift test over daily revenue (Page 1954
    Biometrika CUSUM; Hinkley 1971): m_t accumulates (x − running
    mean − δ), M_t tracks its minimum, and the first day where
    m_t − M_t exceeds λ is the detected change point — the online
    mean-shift detector the streaming literature benchmarks against,
    here as a batch audit of the same statistic.

    Same sequential-fold contract as `holt_winters_daily_forecast`:
    ONE day-sorted in-row array (calendar-bounded), a deterministic
    left-fold whose running mean is recomputed as (s+x)/(n+1) at
    every step in BOTH engines (fixed literal δ = 0, λ = 10000
    dollars), outputs floor-gridded to 1e-9. Reports the final and
    maximal PH statistic, whether λ was ever crossed, and the first
    crossing day (NULL when none)."""
    daily = _daily_rev_cents(t)
    xs = daily.agg(F.array_sort(F.collect_list(F.struct(
        F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
        .cast("double").alias("ed"),
        (F.col("rev").cast("double") / F.lit(100.0)).alias("x"))))
        .alias("dx"),
        F.count(F.lit(1)).alias("n_days"))
    mt = (f"acc.mt + e.x - (acc.s + e.x) / (acc.n + 1.0D)"
          f" - {PH_DELTA:.1f}D")
    st = F.expr(f"""
        aggregate(dx,
          named_struct('n', 0.0D, 's', 0.0D, 'mt', 0.0D,
                       'mn', 0.0D, 'al', -1.0D, 'mx', 0.0D),
          (acc, e) -> named_struct(
            'n', acc.n + 1.0D,
            's', acc.s + e.x,
            'mt', {mt},
            'mn', least(acc.mn, {mt}),
            'al', CASE WHEN acc.al >= 0.0D THEN acc.al
                       WHEN ({mt}) - least(acc.mn, {mt})
                            > {PH_LAMBDA:.1f}D
                       THEN e.ed ELSE -1.0D END,
            'mx', greatest(acc.mx,
                           ({mt}) - least(acc.mn, {mt}))))
    """)
    g = xs.select("n_days", st.alias("st"))
    grid = lambda c: F.floor(c * 1e9 + F.lit(0.5)) / 1e9  # noqa: E731
    return g.select(
        "n_days",
        grid(F.col("st.mt") - F.col("st.mn")).alias("ph_stat"),
        grid(F.col("st.mx")).alias("max_deviation"),
        (F.col("st.al") >= 0).alias("drift_detected"),
        F.when(F.col("st.al") >= 0,
               F.date_format(
                   F.date_add(F.lit("1970-01-01").cast("date"),
                              F.col("st.al").cast("int")),
                   "yyyy-MM-dd"))
        .alias("detect_day"))


HILL_K = 100   # order-statistic budget for the tail-index estimate


def hill_tail_index(t: dict[str, DataFrame]) -> DataFrame:
    """Hill estimator of the Pareto tail index of order values (Hill
    1975, Ann. Statist. 3): over the k = 100 largest order totals,
    H = (1/k) Σ ln(x_(i) / x_(k+1)) and alpha = 1/H — the
    heavy-tail-or-not number that decides whether revenue
    concentration metrics (Gini, top-N shares) are even stable, and
    the direct companion to `customer_spend_gini` /
    `abc_classification`.

    Exactness: prices quantize to cents FIRST, the k+1 largest cents
    values come from one TakeOrdered (a multiset — boundary ties
    cannot change it), each ln(x_i) quantizes to integer nano-units
    BEFORE the sum (the PSI/KL discipline; ln is evaluated per
    element identically in both engines), and H assembles from the
    two integer sums in one gridded double chain. NULL-on-undefined:
    fewer than k+1 orders, or a non-positive x_(k+1), yields NULL
    alpha rather than a junk estimate.

    Scale shape: ONE TakeOrdered(k+1) over the scan (Spark's
    sort-limit is a per-partition top-k + driver merge — no global
    sort), then a single-row in-row fold. Nothing else scales with
    the table."""
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)) \
        .cast("long")
    top = (t["orders"].select(cents.alias("c"))
           .orderBy(F.desc("c")).limit(HILL_K + 1))
    g = top.agg(F.array_sort(F.collect_list("c")).alias("cs"))
    # cs ascending: cs[0] = x_(k+1), cs[1..k] = the top k
    lnu = ("CAST(floor(ln(CAST({x} AS DOUBLE) / 100.0) * 1e9 + 0.5) "
           "AS BIGINT)")
    su = F.expr(
        f"aggregate(slice(cs, 2, {HILL_K}), CAST(0 AS BIGINT), "
        f"(acc, x) -> acc + {lnu.format(x='x')})")
    base = F.expr(lnu.format(x="element_at(cs, 1)"))
    hn = (su - F.lit(HILL_K) * base).cast("double") / F.lit(1e9 * HILL_K)
    grid = lambda c: F.floor(c * 1e9 + F.lit(0.5)) / 1e9  # noqa: E731
    ok = ((F.size("cs") == HILL_K + 1)
          & (F.element_at("cs", 1) > 0))
    return g.select(
        F.lit(HILL_K).alias("k"),
        F.when(ok, (F.element_at("cs", 1).cast("double") / 100.0))
         .alias("x_k1"),
        F.when(ok, grid(hn)).alias("hill_h"),
        F.when(ok & (hn > 0), grid(F.lit(1.0) / hn))
         .alias("tail_alpha"))


def seasonal_decompose_daily(t: dict[str, DataFrame]) -> DataFrame:
    """Classical additive seasonal decomposition of daily revenue
    (the moving-average method behind R's decompose(); Kendall &
    Stuart): trend = centered 7-day moving average (defined only
    where all 7 calendar days exist), seasonal = per-ISO-weekday
    mean of the detrended series — the weekly-shape table that says
    HOW MUCH of revenue variation is \"it's Saturday\", and the
    model-free companion to `holt_winters_daily_forecast` (whose
    gamma-smoothed seasonal states should track these means).

    Exactness: daily revenue is exact cents; the 7-day trend is ONE
    integer window sum over the calendar-keyed range (RANGE BETWEEN
    3 PRECEDING AND 3 FOLLOWING on the epoch-day key — identical in
    both engines) divided once; each day's detrended value
    floor-grids to integer micro-units BEFORE the weekday mean (the
    PSI discipline — order-free sums), and the means are gridded
    double chains. The un-partitioned range window runs over the
    calendar-bounded daily frame (a few thousand rows at ANY corpus
    scale), so the single-task window is a non-issue by
    construction."""
    from ..functions.cache import retain
    d38 = "decimal(38,0)"
    daily = retain(
        _daily_rev_cents(t)
        .select("d", "rev",
                F.datediff(F.col("d"),
                           F.lit("1970-01-01").cast("date"))
                .cast("long").alias("ed")))
    w = Window.orderBy("ed").rangeBetween(-3, 3)
    base = daily.select(
        "d", "rev",
        F.count(F.lit(1)).over(w).alias("n7"),
        F.sum("rev").over(w).alias("s7"))
    x = F.col("rev").cast("double") / F.lit(100.0)
    tr = F.col("s7").cast("double") / F.lit(700.0)
    det = (base.where(F.col("n7") == 7)
           .select((F.expr("weekday(d)") + 1).cast("int").alias("dow"),
                   F.floor((x - tr) * F.lit(1e6) + F.lit(0.5))
                   .cast("long").alias("du")))
    grid = lambda c: F.floor(c * 1e9 + F.lit(0.5)) / 1e9  # noqa: E731
    return (det.groupBy("dow")
            .agg(F.count(F.lit(1)).alias("n_days"),
                 F.sum(F.col("du").cast(d38)).alias("su"))
            .select("dow", "n_days",
                    grid(F.col("su").cast("double") / 1e6
                         / F.col("n_days").cast("double"))
                    .alias("seasonal_mean")))


EWMA_CC_LAMBDA = 0.2    # EWMA weight (Lucas-Saccucci table value)
EWMA_CC_L = 3.0         # control-limit width in sigma_z units


def ewma_control_chart(t: dict[str, DataFrame]) -> DataFrame:
    """EWMA control chart on daily revenue (Lucas & Saccucci 1990,
    Technometrics 32): z_t = λ·x_t + (1−λ)·z_{t−1} with z_0 = μ and
    TIME-VARYING limits μ ± L·σ·sqrt(λ/(2−λ)·(1−(1−λ)^{2t})) — the
    SPC chart that catches small sustained mean shifts a Shewhart
    chart (`daily_revenue_control_chart`, ±2σ on single days) misses,
    and the monitoring twin of `ewma_daily_revenue`'s smoother.

    Determinism: μ and σ derive from exact DECIMAL(38,0) moments and
    are floor-gridded to 1e-9 BEFORE entering the recursion (the
    moments exceed 2^53 where decimal→double conversion is
    engine-specific; gridding first keeps the whole z chain running
    on bit-identical constants), the recursion is the standard
    sequential in-row fold (list accumulator, appended z per step —
    flat DOUBLE[] in the DuckDB twin), per-day limits use one pow per
    row (identical chains; the house grid caveat applies), and the
    out-of-control flag compares GRIDDED values so the flag set is
    engine-identical off the measure-zero boundary. One calendar-
    bounded rollup + a single-row fold + a 7-column explode."""
    from ..functions.cache import retain
    d38 = "decimal(38,0)"
    lam = EWMA_CC_LAMBDA
    daily = retain(_daily_rev_cents(t))
    grid = lambda c: F.floor(c * 1e9 + F.lit(0.5)) / 1e9  # noqa: E731
    stats = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("rev").cast(d38)).alias("s1"),
        F.sum((F.col("rev").cast(d38) * F.col("rev").cast(d38))
              .cast(d38)).alias("s2"))
    n38 = F.col("n").cast(d38)
    mu = grid(F.col("s1").cast("double") / F.col("n") / F.lit(100.0))
    sd = grid(F.sqrt(
        (n38 * F.col("s2") - F.col("s1") * F.col("s1")).cast(d38)
        .cast("double")
        / (F.col("n").cast("double") * (F.col("n") - 1)))
        / F.lit(100.0))
    gs = stats.select(mu.alias("mu"), sd.alias("sd"))
    seq = daily.agg(F.array_sort(F.collect_list(
        F.struct("d", "rev"))).alias("dx"))
    g = seq.crossJoin(F.broadcast(gs))
    zs = F.expr(f"""
        aggregate(transform(dx, p -> CAST(p.rev AS DOUBLE) / 100.0D),
                  array(mu),
                  (acc, x) -> array_append(acc,
                      {lam}D * x
                      + {1.0 - lam}D * element_at(acc, -1)))
    """)
    per = F.expr("""
        transform(sequence(1, size(dx)), i -> struct(
            element_at(dx, i).d AS d,
            element_at(dx, i).rev AS rev,
            element_at(zs, i + 1) AS z,
            CAST(i AS INT) AS t))
    """)
    hw = (F.lit(EWMA_CC_L) * F.col("sd")
          * F.sqrt(F.lit(lam / (2.0 - lam))
                   * (F.lit(1.0)
                      - F.pow(F.lit(1.0 - lam),
                              2.0 * F.col("p.t").cast("double")))))
    zq = grid(F.col("p.z"))
    ucl = grid(F.col("mu") + hw)
    lcl = grid(F.col("mu") - hw)
    return (g.withColumn("zs", zs)
            .select("mu", "sd", F.explode(per).alias("p"))
            .select(F.date_format("p.d", "yyyy-MM-dd").alias("day"),
                    (F.col("p.rev").cast("double") / 100.0)
                    .alias("revenue"),
                    zq.alias("ewma"),
                    ucl.alias("ucl"), lcl.alias("lcl"),
                    ((zq > ucl) | (zq < lcl)).cast("int")
                    .alias("out_of_control")))


# round-9 wave 1: classical SPC / normality / autocorrelation tests
# over the same calendar-bounded daily rollup and quantized value
# machinery the round-8 statistics wave established


CUSUM_K_SIGMA = 0.5   # slack, in sigma units (Montgomery's k = delta/2)
CUSUM_H_SIGMA = 4.0   # decision interval, in sigma units (h)


def cusum_daily_revenue(t: dict[str, DataFrame]) -> DataFrame:
    """Two-sided tabular CUSUM on daily revenue (Page 1954 Biometrika;
    the tabular form in Montgomery's SPC ch. 9): C+_t = max(0, C+_{t-1}
    + x_t - mu0 - K) and C-_t = max(0, C-_{t-1} + mu0 - K - x_t) with
    K = 0.5 sigma and decision interval H = 4 sigma — the mean-shift
    accumulator that complements `page_hinkley_drift` (self-exciting
    running-mean form) and `ewma_control_chart` (weighted form) in the
    classical SPC triple.

    Determinism (the ewma_control_chart contract): mu0 and sigma come
    from exact DECIMAL(38,0) moments and are floor-gridded to 1e-9
    BEFORE entering the recursion, as are K and H, so the whole fold
    runs on bit-identical constants in both engines; the fold itself
    is one day-sorted in-row array pass (flat DOUBLE[] accumulator in
    the DuckDB twin). One calendar-bounded rollup + a single-row fold
    — nothing downstream scales with the fact table."""
    from ..functions.cache import retain
    d38 = "decimal(38,0)"
    daily = retain(_daily_rev_cents(t))
    grid = lambda c: F.floor(c * 1e9 + F.lit(0.5)) / 1e9  # noqa: E731
    stats = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("rev").cast(d38)).alias("s1"),
        F.sum((F.col("rev").cast(d38) * F.col("rev").cast(d38))
              .cast(d38)).alias("s2"))
    n38 = F.col("n").cast(d38)
    mu = grid(F.col("s1").cast("double") / F.col("n") / F.lit(100.0))
    sd = grid(F.sqrt(
        (n38 * F.col("s2") - F.col("s1") * F.col("s1")).cast(d38)
        .cast("double")
        / (F.col("n").cast("double") * (F.col("n") - 1)))
        / F.lit(100.0))
    gs = stats.select(
        F.col("n").alias("n_days"), mu.alias("mu"), sd.alias("sd"),
        grid(F.lit(CUSUM_K_SIGMA) * sd).alias("kk"),
        grid(F.lit(CUSUM_H_SIGMA) * sd).alias("hh"))
    seq = daily.agg(F.array_sort(F.collect_list(F.struct(
        F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
        .cast("double").alias("ed"),
        (F.col("rev").cast("double") / F.lit(100.0)).alias("x"))))
        .alias("dx"))
    g = seq.crossJoin(F.broadcast(gs))
    cp = "greatest(0.0D, acc.cp + e.x - mu - kk)"
    cm = "greatest(0.0D, acc.cm + mu - kk - e.x)"
    alarm = f"(({cp}) > hh OR ({cm}) > hh)"
    st = F.expr(f"""
        aggregate(dx,
          named_struct('cp', 0.0D, 'cm', 0.0D, 'mp', 0.0D,
                       'mm', 0.0D, 'al', 0.0D, 'fd', -1.0D),
          (acc, e) -> named_struct(
            'cp', {cp},
            'cm', {cm},
            'mp', greatest(acc.mp, {cp}),
            'mm', greatest(acc.mm, {cm}),
            'al', acc.al + CASE WHEN {alarm} THEN 1.0D ELSE 0.0D END,
            'fd', CASE WHEN acc.fd >= 0.0D THEN acc.fd
                       WHEN {alarm} THEN e.ed ELSE -1.0D END))
    """)
    out = g.select("n_days", "mu", "sd", "kk", "hh", st.alias("st"))
    grid2 = lambda c: F.floor(c * 1e9 + F.lit(0.5)) / 1e9  # noqa: E731
    return out.select(
        "n_days", "mu", "sd",
        F.col("kk").alias("slack_k"), F.col("hh").alias("limit_h"),
        grid2(F.col("st.cp")).alias("cusum_pos"),
        grid2(F.col("st.cm")).alias("cusum_neg"),
        grid2(F.col("st.mp")).alias("max_pos"),
        grid2(F.col("st.mm")).alias("max_neg"),
        F.col("st.al").cast("long").alias("n_alarm_days"),
        F.when(F.col("st.fd") >= 0,
               F.date_format(
                   F.date_add(F.lit("1970-01-01").cast("date"),
                              F.col("st.fd").cast("int")),
                   "yyyy-MM-dd"))
        .alias("first_alarm_day"))


def runs_test_daily(t: dict[str, DataFrame]) -> DataFrame:
    """Wald–Wolfowitz runs test for randomness of daily revenue about
    its median (Wald & Wolfowitz 1940, Ann. Math. Stat. 11): days
    above the (lower) median are '+', below are '-', exact-median days
    drop out (the standard treatment); R counts the maximal runs, and
    z = (R - mu_R)/sigma_R with mu_R = 2 n1 n2/(n1+n2) + 1 — the
    distribution-free "is this series actually random" gate that
    trend tests assume has already been asked.

    Everything through R is INTEGER arithmetic on the day-sorted
    in-row array (calendar-bounded); the median is the rank-exact
    lower median of the same array (the house selection convention,
    no interpolation); only the final z expression is IEEE double,
    floor-gridded to 1e-9 and evaluated by the identical chain in
    DuckDB. NULL z when either side is empty or the variance
    degenerates."""
    from ..functions.cache import retain
    daily = retain(_daily_rev_cents(t))
    agg = daily.agg(
        F.array_sort(F.collect_list(F.struct("d", "rev"))).alias("dx"),
        F.array_sort(F.collect_list("rev")).alias("vs"),
        F.count(F.lit(1)).alias("n_days"))
    # explicit floor: Spark's double->int cast truncates but DuckDB's
    # rounds half-even, so the index expression floors on BOTH sides
    md = F.element_at(
        F.col("vs"), F.floor((F.col("n_days") + 1) / 2).cast("int"))
    g = agg.select("dx", "n_days", md.alias("md"))
    sgn = ("CASE WHEN e.rev > md THEN 1.0D "
           "WHEN e.rev < md THEN -1.0D ELSE 0.0D END")
    st = F.expr(f"""
        aggregate(dx,
          named_struct('r', 0.0D, 'pv', 0.0D, 'a', 0.0D, 'b', 0.0D),
          (acc, e) -> named_struct(
            'r', acc.r + CASE WHEN ({sgn}) = 0.0D THEN 0.0D
                              WHEN ({sgn}) = acc.pv THEN 0.0D
                              ELSE 1.0D END,
            'pv', CASE WHEN ({sgn}) = 0.0D THEN acc.pv
                       ELSE ({sgn}) END,
            'a', acc.a + CASE WHEN ({sgn}) > 0.0D
                              THEN 1.0D ELSE 0.0D END,
            'b', acc.b + CASE WHEN ({sgn}) < 0.0D
                              THEN 1.0D ELSE 0.0D END))
    """)
    out = g.select(
        "n_days",
        (F.col("md").cast("double") / F.lit(100.0)).alias("median_rev"),
        st.alias("st"))
    n1, n2, r = F.col("st.a"), F.col("st.b"), F.col("st.r")
    mu_r = F.lit(2.0) * n1 * n2 / (n1 + n2) + F.lit(1.0)
    var_r = (mu_r - 1) * (mu_r - 2) / (n1 + n2 - 1)
    grid = lambda c: F.floor(c * 1e9 + F.lit(0.5)) / 1e9  # noqa: E731
    z = F.when((n1 > 0) & (n2 > 0) & (var_r > 0),
               grid((r - mu_r) / F.sqrt(var_r)))
    return out.select(
        "n_days", "median_rev",
        n1.cast("long").alias("n_above"),
        n2.cast("long").alias("n_below"),
        r.cast("long").alias("n_runs"),
        grid(mu_r).alias("expected_runs"),
        z.alias("z_runs"))


def grubbs_daily_outlier(t: dict[str, DataFrame]) -> DataFrame:
    """Grubbs' extreme-studentized-deviate statistic on daily revenue
    (Grubbs 1950, Ann. Math. Stat. 21): G = max |x - mean| / sd, with
    the day attaining it — the classical single-outlier test a
    reporting pipeline runs before trusting a daily total, and the
    argmax twin of `daily_revenue_control_chart`'s banded flags.

    mu and sigma derive from exact DECIMAL(38,0) moments and are
    floor-gridded to 1e-9 BEFORE the deviation scan (the
    ewma_control_chart convention), the per-day deviation is gridded
    before the argmax so the winner (ties -> earliest day) is
    engine-identical, and the argmax itself is a distributed
    TakeOrdered over the calendar-bounded daily frame — no global
    sort."""
    from ..functions.cache import retain
    d38 = "decimal(38,0)"
    daily = retain(_daily_rev_cents(t))
    grid = lambda c: F.floor(c * 1e9 + F.lit(0.5)) / 1e9  # noqa: E731
    stats = daily.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(F.col("rev").cast(d38)).alias("s1"),
        F.sum((F.col("rev").cast(d38) * F.col("rev").cast(d38))
              .cast(d38)).alias("s2"))
    n38 = F.col("n_days").cast(d38)
    mu = grid(F.col("s1").cast("double") / F.col("n_days")
              / F.lit(100.0))
    sd = grid(F.sqrt(
        (n38 * F.col("s2") - F.col("s1") * F.col("s1")).cast(d38)
        .cast("double")
        / (F.col("n_days").cast("double") * (F.col("n_days") - 1)))
        / F.lit(100.0))
    gs = stats.select("n_days", mu.alias("mu"), sd.alias("sd"))
    dev = grid(F.abs(F.col("rev").cast("double") / F.lit(100.0)
                     - F.col("mu")))
    return (daily.crossJoin(F.broadcast(gs))
            .select("n_days", "mu", "sd", "d", "rev",
                    dev.alias("dev"))
            .orderBy(F.desc("dev"), F.asc("d"))
            .limit(1)
            .select(
                "n_days", "mu", "sd",
                F.date_format("d", "yyyy-MM-dd").alias("outlier_day"),
                (F.col("rev").cast("double") / F.lit(100.0))
                .alias("outlier_revenue"),
                grid(F.col("dev") / F.col("sd")).alias("g_stat")))


LB_MAX_LAG = 7   # Ljung-Box lag budget (one weekly cycle)


def ljung_box_daily(t: dict[str, DataFrame]) -> DataFrame:
    """Ljung–Box portmanteau test on daily revenue (Ljung & Box 1978,
    Biometrika 65): global-mean ACF rho_k at lags 1..7 and the
    cumulative Q_m = n(n+2) sum_{k<=m} rho_k^2/(n-k) — the "is there
    ANY autocorrelation left" gate run on forecast residuals, and the
    portmanteau companion to `daily_revenue_autocorr`'s per-lag
    Pearson variant (which uses per-window means; Ljung-Box uses the
    one global mean, the textbook ACF).

    All lag sums (Sxy, Sx, Sy, n_k) and the global moments accumulate
    in DECIMAL(38,0) — exact, order-independent; rho_k assembles from
    their double conversions in one fixed chain and grids to 1e-9,
    and the cumulative Q folds over the GRIDDED rho_k in lag order
    (in-row array fold), gridded to 1e-6 — coarser on purpose: Q
    carries an n(n+2) ~ 1e7 amplification of any conversion ulp, and
    the coarser grid keeps a 1-ulp input wobble well inside half a
    grid step (the SURVEY §5 grid-magnitude convention). Shape: one
    calendar-bounded rollup, a 7-way explode + broadcast self-join of
    the tiny daily frame, one single-row fold."""
    from ..functions.cache import retain
    d38 = "decimal(38,0)"
    daily = retain(_daily_rev_cents(t))
    grid = lambda c: F.floor(c * 1e9 + F.lit(0.5)) / 1e9  # noqa: E731
    gstats = daily.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(F.col("rev").cast(d38)).alias("s1"),
        F.sum((F.col("rev").cast(d38) * F.col("rev").cast(d38))
              .cast(d38)).alias("s2"))
    lags = daily.select(
        "d", "rev",
        F.explode(F.array(*[F.lit(k) for k in
                            range(1, LB_MAX_LAG + 1)])).alias("lag"))
    prior = daily.select(F.col("d").alias("d0"),
                         F.col("rev").alias("rev0"))
    pairs = (lags.withColumn("d0", F.expr("date_sub(d, lag)"))
             .join(F.broadcast(prior), "d0"))
    m = (pairs.groupBy("lag")
         .agg(F.count(F.lit(1)).alias("n_k"),
              F.sum(F.col("rev").cast(d38)).alias("sx"),
              F.sum(F.col("rev0").cast(d38)).alias("sy"),
              F.sum((F.col("rev").cast(d38)
                     * F.col("rev0").cast(d38)).cast(d38))
              .alias("sxy")))
    g = m.crossJoin(F.broadcast(gstats))
    xbar = F.col("s1").cast("double") / F.col("n_days")
    den = (F.col("s2").cast("double")
           - F.col("s1").cast("double") * xbar)
    num = (F.col("sxy").cast("double")
           - xbar * (F.col("sx").cast("double")
                     + F.col("sy").cast("double"))
           + F.col("n_k").cast("double") * xbar * xbar)
    rows = g.select("lag", "n_k", "n_days",
                    grid(num / den).alias("rho"))
    one = rows.groupBy("n_days").agg(
        F.array_sort(F.collect_list(F.struct("lag", "n_k", "rho")))
        .alias("ls"))
    # cumulative Q in lag order: running sum of rho^2/(n-k), scaled by
    # n(n+2) — an in-row fold that appends each prefix
    qs = F.expr("""
        aggregate(ls, array(0.0D),
          (acc, e) -> array_append(acc,
            element_at(acc, -1)
            + e.rho * e.rho
              / (CAST(n_days AS DOUBLE) - CAST(e.lag AS DOUBLE))))
    """)
    per = F.expr("""
        transform(sequence(1, size(ls)), i -> struct(
            element_at(ls, i).lag AS lag,
            element_at(ls, i).n_k AS n_k,
            element_at(ls, i).rho AS rho,
            element_at(qs, i + 1) AS qraw))
    """)
    nn = F.col("n_days").cast("double")
    grid6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return (one.withColumn("qs", qs)
            .select("n_days", F.explode(per).alias("p"))
            .select("n_days",
                    F.col("p.lag").alias("lag"),
                    F.col("p.n_k").alias("n_pairs"),
                    F.col("p.rho").alias("rho"),
                    grid6(nn * (nn + 2) * F.col("p.qraw"))
                    .alias("q_stat"),
                    F.col("p.lag").cast("long").alias("df")))


JB_UNIT_GRID = 10_000       # value quantization for moment sums
                            # (1e-4 units, the PB_VGRID convention)
JB_SUM_FENCE = 9e36         # loud ceiling for n * max|vu|^4: past it
                            # the DECIMAL(38,0) fourth-moment sum
                            # could overflow (Spark's non-ANSI
                            # decimal overflow is a silent NULL)


def jarque_bera_value(t: dict[str, DataFrame]) -> DataFrame:
    """Jarque–Bera normality test of event values per event type
    (Jarque & Bera 1980, Economics Letters 6): sample skewness b1 and
    kurtosis b2 from the first four moments, JB = n/6 (b1^2 +
    (b2-3)^2/4) — the moments-only normality gate that needs no
    sorting, binning, or quantiles, which is exactly what makes it
    the 100 TB-friendly member of the normality family (one map-side-
    combinable aggregation, period).

    Exactness: values quantize to integer 1e-4 units BEFORE the
    moment sums; all four power sums accumulate in DECIMAL(38,0)
    (order-independent exact integers), and a loud fence raises when
    n * max|vu|^4 approaches the decimal ceiling instead of letting
    the sum overflow to NULL. Skew/kurtosis are scale-invariant, so
    the unit change drops out; their double chains grid to 1e-9 and
    JB assembles FROM the gridded pair (n/6 amplifies conversion
    wobble ~n-fold; building on gridded inputs makes the JB chain
    bit-identical by construction), gridded to 1e-6."""
    d38 = "decimal(38,0)"
    vu = F.floor(F.col("value") * JB_UNIT_GRID + F.lit(0.5)).cast("long")
    e = t["events"].select("event_type", vu.alias("vu"))
    v38 = F.col("vu").cast(d38)
    v2 = (v38 * v38).cast(d38)
    m = (e.groupBy("event_type")
         .agg(F.count(F.lit(1)).alias("n"),
              F.max(F.abs(F.col("vu"))).alias("mx"),
              F.sum(v38).alias("s1"),
              F.sum(v2).alias("s2"),
              F.sum((v2 * v38).cast(d38)).alias("s3"),
              F.sum((v2 * v2).cast(d38)).alias("s4")))
    fence = (F.when(F.col("n").cast("double")
                    * F.pow(F.col("mx").cast("double"), 4.0)
                    < F.lit(JB_SUM_FENCE), F.col("n"))
             .otherwise(F.raise_error(F.format_string(
                 "jarque_bera_value: n * max|vu|^4 for type %s nears "
                 "the DECIMAL(38,0) ceiling - coarsen JB_UNIT_GRID",
                 F.col("event_type"))).cast("long")))
    nd = F.col("n").cast("double")
    s1d, s2d = F.col("s1").cast("double"), F.col("s2").cast("double")
    s3d, s4d = F.col("s3").cast("double"), F.col("s4").cast("double")
    m1 = s1d / nd
    m2 = s2d / nd - m1 * m1
    m3 = s3d / nd - 3 * m1 * s2d / nd + 2 * m1 * m1 * m1
    m4 = (s4d / nd - 4 * m1 * s3d / nd
          + 6 * m1 * m1 * s2d / nd - 3 * m1 * m1 * m1 * m1)
    grid = lambda c: F.floor(c * 1e9 + F.lit(0.5)) / 1e9  # noqa: E731
    grid6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    out = m.select("event_type", fence.alias("n_events"),
                   grid(m3 / F.pow(m2, 1.5)).alias("skewness"),
                   grid(m4 / (m2 * m2)).alias("kurtosis"))
    jb = (F.col("n_events").cast("double") / 6.0
          * (F.col("skewness") * F.col("skewness")
             + (F.col("kurtosis") - 3.0)
             * (F.col("kurtosis") - 3.0) / 4.0))
    return out.select("event_type", "n_events", "skewness", "kurtosis",
                      grid6(jb).alias("jarque_bera"))


def bartlett_variance_test(t: dict[str, DataFrame]) -> DataFrame:
    """Bartlett's test of variance homogeneity across event types
    (Bartlett 1937, Proc. R. Soc. A 160): chi2 = [(N-k) ln s_p^2 -
    sum (n_i-1) ln s_i^2] / C with the standard small-sample
    correction C — the parametric counterpart of the repo's
    `brown_forsythe_variance_test` (which is robust to
    non-normality; Bartlett is the more powerful test WHEN
    `jarque_bera_value` says normality holds, which is why the pair
    belongs together).

    Per-group variances come from exact DECIMAL(38,0) moment combos
    of 1e-4-unit integer values (one map-side-combinable groupBy);
    the k-group assembly folds over the type-name-sorted in-row array
    (k <= handful, one row), every ln and divide in one fixed chain
    mirrored by DuckDB. chi2 grids to 1e-6 (the coarser SPC-family
    grid: (N-k) ~ corpus-sized amplification of ln-argument
    conversion wobble). Variances are reported in dollars^2 (exact
    /1e8 of the unit variance, same op both engines)."""
    d38 = "decimal(38,0)"
    vu = F.floor(F.col("value") * JB_UNIT_GRID + F.lit(0.5)).cast("long")
    e = t["events"].select("event_type", vu.alias("vu"))
    v38 = F.col("vu").cast(d38)
    m = (e.groupBy("event_type")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum(v38).alias("s1"),
              F.sum((v38 * v38).cast(d38)).alias("s2")))
    n38 = F.col("n").cast(d38)
    vard = ((n38 * F.col("s2") - F.col("s1") * F.col("s1")).cast(d38)
            .cast("double")
            / (F.col("n").cast("double")
               * (F.col("n").cast("double") - 1)))
    per = m.select("event_type", "n", vard.alias("v"))
    one = per.agg(
        F.array_sort(F.collect_list(F.struct(
            "event_type", F.col("n").cast("double").alias("nd"),
            "v"))).alias("gs"),
        F.sum("n").alias("n_total"),
        F.count(F.lit(1)).alias("k_groups"))
    fold = lambda expr: F.expr(  # noqa: E731
        f"aggregate(gs, 0.0D, (acc, e) -> acc + ({expr}))")
    nk = (F.col("n_total").cast("double")
          - F.col("k_groups").cast("double"))
    pooled = fold("(e.nd - 1.0D) * e.v") / nk
    t1 = fold("(e.nd - 1.0D) * ln(e.v)")
    cinv = fold("1.0D / (e.nd - 1.0D)")
    c = (F.lit(1.0) + (cinv - F.lit(1.0) / nk)
         / (3.0 * (F.col("k_groups").cast("double") - 1)))
    chi2 = (nk * F.log(pooled) - t1) / c
    grid = lambda c_: F.floor(c_ * 1e9 + F.lit(0.5)) / 1e9  # noqa: E731
    grid6 = lambda c_: F.floor(c_ * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return one.select(
        "k_groups", "n_total",
        grid(pooled / F.lit(1e8)).alias("pooled_var"),
        grid6(chi2).alias("bartlett_chi2"),
        (F.col("k_groups") - 1).cast("long").alias("df"))


# round-9 wave 2: robust location (IRLS), intermittent-demand
# forecasting, survey sampling design, and an information audit


HUBER_K = 1.345     # Huber's 95%-efficiency tuning constant
HUBER_ITERS = 5     # fixed IRLS iterations (SQL-unrollable)


def huber_mean_value(t: dict[str, DataFrame]) -> DataFrame:
    """Huber M-estimator of location for event values per event type
    (Huber 1964, Ann. Math. Stat. 35), via HUBER_ITERS fixed IRLS
    steps started at the median and scaled by the normalized MAD —
    the robust mean a metrics pipeline reports when `jarque_bera_value`
    says the tails are too heavy to trust the plain average.

    100 TB shape: values quantize to 1e-4 units and collapse onto the
    per-(type, unit) COUNT GRID first (value-domain-bounded, far
    smaller than the fact table) — every IRLS iteration is then one
    broadcast join of the per-type location row + one grouped
    aggregate over the retained grid, never a corpus rescan. Median
    and MAD are rank-exact via the grouped prefix-sum ECDF selector
    (no interpolation, no global sort). Exactness: weights quantize
    to integer ppb, so each iteration's numerator/denominator are
    exact DECIMAL(38,0) integer sums (order-independent); the per-
    iteration location grids to 1e-9 units before the next step, so
    both engines run the recursion on bit-identical constants. With
    MADN = 0 the weights degenerate to the indicator of the median
    cell and the iteration is a fixpoint there — no special case."""
    from ..functions.cache import retain
    d38 = "decimal(38,0)"
    grid = lambda c: F.floor(c * 1e9 + F.lit(0.5)) / 1e9  # noqa: E731
    vu = F.floor(F.col("value") * JB_UNIT_GRID + F.lit(0.5)).cast("long")
    g = retain(t["events"]
               .select("event_type", vu.alias("_k"))
               .groupBy("event_type", "_k")
               .agg(F.count(F.lit(1)).alias("c")))
    med = _grouped_rank_min(g, {"med": "(n + 1) DIV 2"}) \
        .select("event_type", F.col("n_rows").alias("n_events"), "med")
    dev = (g.join(F.broadcast(med), "event_type")
           .select("event_type", F.abs(F.col("_k") - F.col("med"))
                   .alias("_k"), "c"))
    mad = _grouped_rank_min(dev, {"mad": "(n + 1) DIV 2"}) \
        .select("event_type", "mad")
    base = (med.join(F.broadcast(mad), "event_type")
            .select("event_type", "n_events", "med", "mad",
                    grid(F.lit(1.4826) * F.col("mad")).alias("s"),
                    grid(F.lit(HUBER_K) * F.lit(1.4826) * F.col("mad"))
                    .alias("ks"),
                    F.col("med").cast("double").alias("mu")))
    cur = base
    for _ in range(HUBER_ITERS):
        j = g.join(F.broadcast(cur), "event_type")
        dv = F.abs(F.col("_k").cast("double") - F.col("mu"))
        wq = (F.when(dv <= F.col("ks"), F.lit(1_000_000_000).cast("long"))
              .otherwise(F.floor(F.col("ks") / dv * 1e9 + F.lit(0.5))
                         .cast("long")))
        agg = (j.select("event_type", "n_events", "med", "mad", "s",
                        "ks", "c", "_k", wq.alias("wq"))
               .groupBy("event_type", "n_events", "med", "mad", "s",
                        "ks")
               .agg(F.sum((F.col("c").cast(d38) * F.col("wq").cast(d38)
                           * F.col("_k").cast(d38)).cast(d38))
                    .alias("num"),
                    F.sum((F.col("c").cast(d38)
                           * F.col("wq").cast(d38)).cast(d38))
                    .alias("den")))
        cur = agg.select(
            "event_type", "n_events", "med", "mad", "s", "ks",
            grid(F.col("num").cast("double")
                 / F.col("den").cast("double")).alias("mu"))
    return cur.select(
        "event_type", "n_events",
        (F.col("med").cast("double") / F.lit(10000.0))
        .alias("median_value"),
        grid(F.col("s") / F.lit(10000.0)).alias("madn"),
        grid(F.col("mu") / F.lit(10000.0)).alias("huber_mean"))


CROSTON_ALPHA = 0.1   # smoothing weight for both size and interval


def croston_part_demand(t: dict[str, DataFrame]) -> DataFrame:
    """Croston's method for intermittent demand per part brand
    (Croston 1972, Oper. Res. Q. 23): exponential smoothing of demand
    SIZE z and demand INTERVAL p updated only on demand occurrences,
    forecast = z/p — the standard forecaster for sparse spare-parts
    series, where ordinary smoothing chases zeros. Initialization
    convention (documented, fixed): z starts at the first demand
    size, p at 1.0; the first occurrence sets state, updates begin at
    the second.

    Shape: one broadcast dim join (part -> brand), one map-side-
    combinable (brand, day) rollup with per-row integer-quantized
    quantities, then a day-sorted in-row fold per brand — the frame
    entering the fold is (brands x demand days), calendar-bounded.
    The recursion multiplies fixed literals by exact integer demand
    sizes, both engines fold the identical chain; outputs grid to
    1e-9."""
    daily = (t["lineitem"]
             .join(F.broadcast(t["part"].select("p_partkey", "p_brand")),
                   t["lineitem"].l_partkey == F.col("p_partkey"))
             .groupBy(F.col("p_brand").alias("brand"),
                      F.col("l_shipdate").cast("date").alias("d"))
             .agg(F.sum(F.floor(F.col("l_quantity") + F.lit(0.5))
                        .cast("long")).alias("q")))
    seq = (daily.groupBy("brand")
           .agg(F.array_sort(F.collect_list(F.struct(
               F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
               .cast("double").alias("ed"),
               F.col("q").cast("double").alias("q")))).alias("dx"),
               F.count(F.lit(1)).alias("n_demand_days")))
    a = CROSTON_ALPHA
    # 'init' is an explicit seen-first-demand flag: overloading pe's
    # sign as the sentinel breaks on pre-epoch dates (ed < 0 would
    # re-initialize state on every such row).
    st = F.expr(f"""
        aggregate(dx,
          named_struct('z', 0.0D, 'p', 0.0D, 'pe', 0.0D,
                       'init', 0.0D),
          (acc, e) -> CASE WHEN acc.init < 0.5D THEN named_struct(
              'z', e.q, 'p', 1.0D, 'pe', e.ed, 'init', 1.0D)
            ELSE named_struct(
              'z', acc.z + {a}D * (e.q - acc.z),
              'p', acc.p + {a}D * ((e.ed - acc.pe) - acc.p),
              'pe', e.ed, 'init', 1.0D) END)
    """)
    grid = lambda c: F.floor(c * 1e9 + F.lit(0.5)) / 1e9  # noqa: E731
    out = seq.select("brand", "n_demand_days", st.alias("st"))
    return out.select(
        "brand", "n_demand_days",
        grid(F.col("st.z")).alias("smoothed_size"),
        grid(F.col("st.p")).alias("smoothed_interval"),
        grid(F.col("st.z") / F.col("st.p")).alias("demand_per_day"))


NEYMAN_BUDGET = 10_000   # total sample budget to allocate


def neyman_allocation_plan(t: dict[str, DataFrame]) -> DataFrame:
    """Neyman optimal allocation of a fixed sample budget across
    event-type strata (Neyman 1934, JRSS 97): n_h proportional to
    N_h * S_h — the survey-sampling design that minimizes the
    variance of the stratified mean, and the principled version of
    the `training_corpus_plan` quota style for metric sampling.

    Per-stratum S_h comes from exact DECIMAL(38,0) moment combos of
    1e-4-unit integer values (one groupBy); the total weight folds
    over the type-name-sorted in-row array (deterministic assembly,
    k tiny), shares grid to 1e-9, and the allocated counts are floors
    of the gridded shares — integers both engines agree on exactly."""
    d38 = "decimal(38,0)"
    grid = lambda c: F.floor(c * 1e9 + F.lit(0.5)) / 1e9  # noqa: E731
    vu = F.floor(F.col("value") * JB_UNIT_GRID + F.lit(0.5)).cast("long")
    e = t["events"].select("event_type", vu.alias("vu"))
    v38 = F.col("vu").cast(d38)
    m = (e.groupBy("event_type")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum(v38).alias("s1"),
              F.sum((v38 * v38).cast(d38)).alias("s2")))
    n38 = F.col("n").cast(d38)
    sd = grid(F.sqrt(
        (n38 * F.col("s2") - F.col("s1") * F.col("s1")).cast(d38)
        .cast("double")
        / (F.col("n").cast("double")
           * (F.col("n").cast("double") - 1))) / F.lit(10000.0))
    # a single-event stratum has no variance estimate (n*(n-1)=0):
    # its NULL sd would NULL-poison the w_total fold and silently
    # blank every share, so degenerate strata are excluded up front
    # (mirrored in the DuckDB twin).
    per = (m.filter(F.col("n") >= 2)
           .select("event_type", "n", sd.alias("sd"),
                   (F.col("n").cast("double") * sd).alias("w")))
    one = per.agg(F.array_sort(F.collect_list(F.struct(
        "event_type", F.col("n").alias("nh"), "sd", "w"))).alias("gs"))
    tot = F.expr("aggregate(gs, 0.0D, (acc, e) -> acc + e.w)")
    rows = (one.select(tot.alias("w_total"),
                       F.explode("gs").alias("p"))
            .select("w_total", F.col("p.event_type").alias("event_type"),
                    F.col("p.nh").alias("n_events"),
                    F.col("p.sd").alias("stratum_sd"),
                    grid(F.col("p.w") / F.col("w_total"))
                    .alias("neyman_share")))
    return rows.select(
        "event_type", "n_events", "stratum_sd", "neyman_share",
        F.floor(F.col("neyman_share") * NEYMAN_BUDGET).cast("long")
        .alias("alloc_budget"))


MI_GRID = 1_000_000_000_000   # pico-nat quantization of ln terms


def type_hour_mutual_info(t: dict[str, DataFrame]) -> DataFrame:
    """Mutual information (and entropies) between event type and
    hour-of-day — MI = sum p_xy ln(p_xy N / (n_x n_y)) over the
    (type x hour) contingency grid, the information-theoretic
    complement of the repo's `cramers_v_audit` / `chi2_event_segments`
    association family (MI sees any dependence, not just linear-in-
    counts deviation).

    Every ln term quantizes to integer PICO-NATS per contingency CELL
    (the doc_token_entropy convention) and rides exact DECIMAL(38,0)
    c-weighted sums — order-independent, and the cell grid is bounded
    (types x 24) at any data scale; marginals ride broadcast joins.
    Outputs: MI, H(type), H(hour), and the normalized MI / min(H)
    (all gridded 1e-9)."""
    from ..functions.cache import retain
    d38 = "decimal(38,0)"
    grid = lambda c: F.floor(c * 1e9 + F.lit(0.5)) / 1e9  # noqa: E731
    cells = retain(t["events"]
                   .select("event_type", F.hour("ts").alias("hr"))
                   .groupBy("event_type", "hr")
                   .agg(F.count(F.lit(1)).alias("c")))
    mx = cells.groupBy("event_type").agg(F.sum("c").alias("nx"))
    my = cells.groupBy("hr").agg(F.sum("c").alias("ny"))
    tot = cells.agg(F.sum("c").alias("nn"),
                    F.count(F.lit(1)).alias("n_cells"))
    q = lambda expr: F.floor(F.log(expr) * MI_GRID + F.lit(0.5)) \
        .cast("long")  # noqa: E731
    j = (cells.join(F.broadcast(mx), "event_type")
         .join(F.broadcast(my), "hr")
         .crossJoin(F.broadcast(tot)))
    mi_units = F.sum((F.col("c").cast(d38) * q(
        F.col("c").cast("double") * F.col("nn").cast("double")
        / (F.col("nx").cast("double") * F.col("ny").cast("double")))
        .cast(d38)).cast(d38))
    hx_units = F.sum((F.col("nx").cast(d38) * q(
        F.col("nn").cast("double") / F.col("nx").cast("double"))
        .cast(d38)).cast(d38))
    hy_units = F.sum((F.col("ny").cast(d38) * q(
        F.col("nn").cast("double") / F.col("ny").cast("double"))
        .cast(d38)).cast(d38))
    gx = (mx.crossJoin(F.broadcast(tot))
          .agg(hx_units.alias("hxu")))
    gy = (my.crossJoin(F.broadcast(tot))
          .agg(hy_units.alias("hyu")))
    gm = j.agg(mi_units.alias("miu"), F.max("nn").alias("nn"),
               F.max("n_cells").alias("n_cells"))
    out = gm.crossJoin(F.broadcast(gx)).crossJoin(F.broadcast(gy))
    unit = F.lit(float(MI_GRID))
    nn = F.col("nn").cast("double")
    mi = F.col("miu").cast("double") / unit / nn
    hx = F.col("hxu").cast("double") / unit / nn
    hy = F.col("hyu").cast("double") / unit / nn
    return out.select(
        F.col("nn").alias("n_events"), "n_cells",
        grid(mi).alias("mi_nats"),
        grid(hx).alias("h_type"),
        grid(hy).alias("h_hour"),
        grid(mi / F.least(hx, hy)).alias("normalized_mi"))


# round-9 wave 4: PACF, rank-based changepoint, turning-point test


def pacf_daily_revenue(t: dict[str, DataFrame]) -> DataFrame:
    """Partial autocorrelation of daily revenue at lags 1..7 via the
    Durbin–Levinson recursion (Durbin 1960, Rev. Inst. Int. Stat. 28)
    on the same global-mean ACF `ljung_box_daily` computes — the AR
    order-selection table (PACF cuts off at the true AR order) that
    completes the repo's ACF family.

    The recursion runs as ONE in-row fold over the lag axis: the
    accumulator carries the previous AR coefficient row phi_{k-1,.}
    (a ≤7-element array rebuilt per step — bounded by the lag budget,
    never by data), each step computes phi_kk from the GRIDDED rho
    values and appends the updated row. Every arithmetic step is a
    fixed double chain on gridded inputs, mirrored term-for-term by
    the DuckDB twin's flat nested-list fold; outputs grid to 1e-9.
    Corpus work is identical to `ljung_box_daily` (one calendar-
    bounded rollup + the 7-lag broadcast self-join)."""
    from ..functions.cache import retain
    d38 = "decimal(38,0)"
    daily = retain(_daily_rev_cents(t))
    grid = lambda c: F.floor(c * 1e9 + F.lit(0.5)) / 1e9  # noqa: E731
    gstats = daily.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(F.col("rev").cast(d38)).alias("s1"),
        F.sum((F.col("rev").cast(d38) * F.col("rev").cast(d38))
              .cast(d38)).alias("s2"))
    lags = daily.select(
        "d", "rev",
        F.explode(F.array(*[F.lit(k) for k in
                            range(1, LB_MAX_LAG + 1)])).alias("lag"))
    prior = daily.select(F.col("d").alias("d0"),
                         F.col("rev").alias("rev0"))
    pairs = (lags.withColumn("d0", F.expr("date_sub(d, lag)"))
             .join(F.broadcast(prior), "d0"))
    m = (pairs.groupBy("lag")
         .agg(F.count(F.lit(1)).alias("n_k"),
              F.sum(F.col("rev").cast(d38)).alias("sx"),
              F.sum(F.col("rev0").cast(d38)).alias("sy"),
              F.sum((F.col("rev").cast(d38)
                     * F.col("rev0").cast(d38)).cast(d38))
              .alias("sxy")))
    g = m.crossJoin(F.broadcast(gstats))
    xbar = F.col("s1").cast("double") / F.col("n_days")
    den = (F.col("s2").cast("double")
           - F.col("s1").cast("double") * xbar)
    num = (F.col("sxy").cast("double")
           - xbar * (F.col("sx").cast("double")
                     + F.col("sy").cast("double"))
           + F.col("n_k").cast("double") * xbar * xbar)
    rows = g.select("lag", "n_days", grid(num / den).alias("rho"))
    one = rows.groupBy("n_days").agg(
        F.expr("transform(array_sort(collect_list(struct(lag, rho))), "
               "p -> p.rho)").alias("rhos"))
    # Durbin-Levinson: acc is the phi row of the previous order; each
    # step computes phi_kk = (rho_k - sum phi_j * rho_{k-j}) /
    # (1 - sum phi_j * rho_j) then rebuilds the row. The PACF value at
    # lag k is phi_kk at step k, so the fold runs once per lag PREFIX
    # — 7 prefixes x <=7 steps of scalar arithmetic, all in one row.
    # the size(acc) = 0 guard matters twice over: Spark's
    # sequence(1, 0) is DESCENDING (not empty), and phi_11 = rho_1
    # exactly (rho/1.0 is the identity in IEEE, so array(rho_1) is
    # the same double the general expression would produce)
    per = F.expr("""
        transform(sequence(1, size(rhos)), k -> struct(
            k AS lag,
            element_at(rhos, k) AS rho,
            element_at(aggregate(sequence(1, k),
              CAST(array() AS ARRAY<DOUBLE>),
              (acc, k2) -> CASE WHEN size(acc) = 0
                THEN array(element_at(rhos, k2))
                ELSE concat(
                transform(sequence(1, size(acc)), j ->
                  element_at(acc, j)
                  - ((element_at(rhos, k2)
                      - aggregate(sequence(1, size(acc)), 0.0D,
                          (a, j2) -> a + element_at(acc, j2)
                                     * element_at(rhos, k2 - j2)))
                     / (1.0D - aggregate(sequence(1, size(acc)), 0.0D,
                          (a, j2) -> a + element_at(acc, j2)
                                     * element_at(rhos, j2))))
                    * element_at(acc, size(acc) + 1 - j)),
                array((element_at(rhos, k2)
                       - aggregate(sequence(1, size(acc)), 0.0D,
                           (a, j2) -> a + element_at(acc, j2)
                                      * element_at(rhos, k2 - j2)))
                      / (1.0D - aggregate(sequence(1, size(acc)),
                           0.0D,
                           (a, j2) -> a + element_at(acc, j2)
                                      * element_at(rhos, j2))))) END),
              -1) AS pacf))
    """)
    return (one.select("n_days", F.explode(per).alias("p"))
            .select("n_days", F.col("p.lag").alias("lag"),
                    F.col("p.rho").alias("rho"),
                    grid(F.col("p.pacf")).alias("pacf")))


def pettitt_changepoint(t: dict[str, DataFrame]) -> DataFrame:
    """Pettitt rank-based changepoint test on daily revenue (Pettitt
    1979, Appl. Stat. 28): U_t = sum_{i<=t, j>t} sign(x_j - x_i), K =
    max_t |U_t|, with the closed-form significance 2 exp(-6K^2 /
    (n^3 + n^2)) — the nonparametric single-changepoint locator that
    complements `revenue_changepoint`'s mean-split formulation (no
    distribution assumption, robust to outliers).

    Shape: the calendar-bounded broadcast pair cloud (the Theil–Sen
    machinery, same `_day_span_precheck` fence), then a RANGE-UPDATE
    decomposition instead of per-t rescans: each pair (i < j)
    contributes its sign to every t in [i, j) — grouping signs by
    LEFT day (+) and RIGHT day (−) gives a per-day delta whose
    running prefix sum IS U_t, one in-row fold. Everything through K
    is exact integer arithmetic; only the significance expression is
    IEEE double, gridded 1e-6 (exp of a corpus-amplified argument —
    the §5 grid-magnitude convention)."""
    from ..functions.cache import retain
    daily = retain(_daily_rev_cents(t))
    _day_span_precheck(daily, "pettitt_changepoint")
    later = daily.select(F.col("d").alias("d2"),
                         F.col("rev").alias("rev2"))
    sgn = F.signum((F.col("rev2") - F.col("rev")).cast("double")) \
        .cast("long")
    # retained: the +side and −side groupBys both read the pair cloud;
    # uncached, the broadcast pair join runs twice
    pairs = retain(
        daily.join(F.broadcast(later), F.col("d2") > F.col("d"))
        .select("d", "d2", sgn.alias("s")))
    add = pairs.groupBy("d").agg(F.sum("s").alias("delta"))
    sub = (pairs.groupBy(F.col("d2").alias("d"))
           .agg((-F.sum("s")).alias("delta")))
    deltas = (add.unionByName(sub)
              .groupBy("d").agg(F.sum("delta").alias("delta")))
    meta = daily.agg(F.count(F.lit(1)).alias("n_days")).select(
        _day_span_fence(F.col("n_days"), "pettitt_changepoint")
        .alias("n_days"))
    one = (deltas.groupBy()
           .agg(F.array_sort(F.collect_list(F.struct("d", "delta")))
                .alias("dx"))
           .crossJoin(F.broadcast(meta)))
    us = F.expr("""
        aggregate(dx, array(0L),
          (acc, e) -> array_append(acc,
              element_at(acc, -1) + e.delta))
    """)
    per = F.expr("""
        transform(sequence(1, size(dx)), i -> struct(
            element_at(dx, i).d AS d,
            abs(element_at(us, i + 1)) AS absu))
    """)
    best = F.expr("""
        aggregate(per, named_struct('k', -1L, 'ed', CAST(NULL AS DATE)),
          (acc, e) -> CASE WHEN e.absu > acc.k
                           THEN named_struct('k', e.absu, 'ed', e.d)
                           ELSE acc END)
    """)
    nn = F.col("n_days").cast("double")
    k = F.col("b.k").cast("double")
    grid6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    # pin() both array columns: CollapseProject would otherwise inline
    # the O(n) `us` prefix fold into EVERY element_at of `per` and the
    # whole `per` build into every step of `best` — O(n³) with array
    # copies (measured 209 s at sf0.1 before the pin, 0.9 s after)
    from ..functions import pin
    g = pin(pin(one, us=us), per=per)
    return (g.select("n_days", best.alias("b"))
            .select("n_days",
                    F.col("b.k").alias("k_stat"),
                    F.date_format("b.ed", "yyyy-MM-dd")
                    .alias("change_day"),
                    grid6(F.lit(2.0) * F.exp(
                        F.lit(-6.0) * k * k
                        / (nn * nn * nn + nn * nn)))
                    .alias("p_value")))


def turning_point_test(t: dict[str, DataFrame]) -> DataFrame:
    """Turning-point test for randomness of daily revenue (Bienaymé
    1874; the modern form in Kendall's Time Series §3): count interior
    days that are strict local maxima or minima; under randomness T ~
    N(2(n-2)/3, (16n-29)/90) — the cheapest IID check, reading only
    consecutive triples, run beside `runs_test_daily` (which sees
    level structure, while turning points see local oscillation).

    One day-sorted in-row integer fold (count strict sign changes of
    consecutive differences; plateau days break ties conservatively —
    equal neighbors yield no turning point, the standard strict
    treatment); one gridded z expression at the end."""
    from ..functions.cache import retain
    daily = retain(_daily_rev_cents(t))
    one = daily.agg(
        F.array_sort(F.collect_list(F.struct("d", "rev"))).alias("dx"),
        F.count(F.lit(1)).alias("n_days"))
    # the size guard matters: Spark's sequence(2, 1) is DESCENDING,
    # not empty, so a <3-day series must short-circuit explicitly
    tp = F.expr("""
        CASE WHEN size(dx) < 3 THEN 0L ELSE
        aggregate(sequence(2, size(dx) - 1), 0L,
          (acc, i) -> acc + CASE
            WHEN element_at(dx, i).rev > element_at(dx, i - 1).rev
             AND element_at(dx, i).rev > element_at(dx, i + 1).rev
            THEN 1L
            WHEN element_at(dx, i).rev < element_at(dx, i - 1).rev
             AND element_at(dx, i).rev < element_at(dx, i + 1).rev
            THEN 1L ELSE 0L END) END
    """)
    g = one.select("n_days", tp.alias("n_turning"))
    nn = F.col("n_days").cast("double")
    mu = F.lit(2.0) * (nn - 2) / F.lit(3.0)
    var = (F.lit(16.0) * nn - 29) / F.lit(90.0)
    grid = lambda c: F.floor(c * 1e9 + F.lit(0.5)) / 1e9  # noqa: E731
    return g.select(
        "n_days", "n_turning",
        grid(mu).alias("expected_turning"),
        F.when(var > 0,
               grid((F.col("n_turning").cast("double") - mu)
                    / F.sqrt(var))).alias("z_turning"))


# round-9 wave 6: A/B proportions, survival comparison, confusion
# metrics, extreme-value block maxima


def ab_conversion_ztest(t: dict[str, DataFrame]) -> DataFrame:
    """Two-proportion z-test of PURCHASE SHARE (purchases over all
    events) between the even/odd user cohorts — the standard
    pooled-variance A/B proportion test (user-id parity is the repo's
    deterministic synthetic assignment, as in leakage-safe
    splitting). Event-level shares, not user-level conversion: this
    testdata's every user purchases, so the user-level proportion is
    degenerate by construction — the activity-mix share is the
    non-trivial cohort metric.

    Counts are two exact map-side-combinable aggregates; the pooled z
    is one fixed double chain over four integers, gridded 1e-9. NULL
    z when the pooled variance degenerates. One row out."""
    e = t["events"].select(
        F.pmod("user_id", F.lit(2)).cast("int").alias("arm"),
        (F.col("event_type") == "purchase").cast("int").alias("isp"))
    per = (e.groupBy("arm")
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.sum("isp").cast("long").alias("n_conv")))
    one = per.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n_events")))
        .alias("n0"),
        F.max(F.when(F.col("arm") == 0, F.col("n_conv"))).alias("c0"),
        F.max(F.when(F.col("arm") == 1, F.col("n_events")))
        .alias("n1"),
        F.max(F.when(F.col("arm") == 1, F.col("n_conv"))).alias("c1"))
    grid = lambda c: F.floor(c * 1e9 + F.lit(0.5)) / 1e9  # noqa: E731
    n0, c0 = F.col("n0").cast("double"), F.col("c0").cast("double")
    n1, c1 = F.col("n1").cast("double"), F.col("c1").cast("double")
    p0, p1 = c0 / n0, c1 / n1
    pp = (c0 + c1) / (n0 + n1)
    se = F.sqrt(pp * (1.0 - pp) * (1.0 / n0 + 1.0 / n1))
    return one.select(
        "n0", "c0", "n1", "c1",
        grid(p0).alias("conv_rate_0"),
        grid(p1).alias("conv_rate_1"),
        grid(pp).alias("pooled_rate"),
        F.when(se > 0, grid((p0 - p1) / se)).alias("z_score"))


def logrank_purchase_gap(t: dict[str, DataFrame]) -> DataFrame:
    """Log-rank test (Mantel 1966; Peto & Peto 1972) comparing the
    repeat-purchase gap survival of the even/odd user cohorts — the
    standard two-sample censored-survival comparison on top of the
    `purchase_gap_survival` Kaplan–Meier machinery: at each distinct
    event time, observed group-0 events vs the hypergeometric
    expectation d_t n0_t / n_t, variance d_t (n0_t/n_t)(1 − n0_t/n_t)
    (n_t − d_t)/(n_t − 1), chi2 = (O − E)² / V on 1 df.

    The per-group risk table is the same calendar-bounded suffix-sum
    grid with two count columns; E and V accumulate by an IN-ROW fold
    over the time-sorted array (deterministic order — float sums
    never cross rows), each term a fixed double chain of exact
    integers; outputs grid 1e-9 (E, z) / 1e-6 (chi2, the squared
    amplification)."""
    us = 86_400_000_000
    p = (t["events"]
         .where(F.col("event_type") == SURV_EVENT)
         .select("user_id", F.unix_micros("ts").alias("ts_us"),
                 F.pmod("user_id", F.lit(2)).cast("int").alias("arm")))
    frontier = p.agg(F.max("ts_us").alias("fr"))
    w = Window.partitionBy("user_id").orderBy("ts_us")
    gaps = (p.select("user_id", "arm", "ts_us",
                     F.lead("ts_us").over(w).alias("nxt"))
            .crossJoin(F.broadcast(frontier))
            .select("arm",
                    (F.coalesce(F.col("nxt"), F.col("fr"))
                     - F.col("ts_us")).alias("du"),
                    F.col("nxt").isNotNull().cast("int")
                    .alias("observed"))
            .select("arm", F.expr(f"du DIV {us}").alias("gd"),
                    "observed"))
    risk = (gaps.groupBy("gd")
            .agg(F.sum("observed").alias("d"),
                 F.sum(F.when(F.col("arm") == 0, F.col("observed"))
                       .otherwise(F.lit(0))).alias("d0"),
                 F.count(F.lit(1)).alias("c"),
                 F.sum((F.col("arm") == 0).cast("long")).alias("c0")))
    wg = Window.orderBy(F.desc("gd")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    tbl = (risk.select("gd", "d", "d0",
                       F.sum("c").over(wg).alias("nr"),
                       F.sum("c0").over(wg).alias("nr0"))
           .where(F.col("d") > 0))
    folded = tbl.agg(
        F.array_sort(F.collect_list(
            F.struct("gd", "d", "d0", "nr", "nr0"))).alias("rows"),
        F.sum("d").alias("n_events"),
        F.sum("d0").alias("o0"))
    term_e = ("CAST(x.d AS DOUBLE) * CAST(x.nr0 AS DOUBLE)"
              " / CAST(x.nr AS DOUBLE)")
    term_v = ("CASE WHEN x.nr > 1 THEN CAST(x.d AS DOUBLE)"
              " * (CAST(x.nr0 AS DOUBLE) / CAST(x.nr AS DOUBLE))"
              " * (1.0D - CAST(x.nr0 AS DOUBLE) / CAST(x.nr AS DOUBLE))"
              " * (CAST(x.nr AS DOUBLE) - CAST(x.d AS DOUBLE))"
              " / (CAST(x.nr AS DOUBLE) - 1.0D) ELSE 0.0D END")
    ev = folded.select(
        "n_events", "o0",
        F.expr(f"aggregate(rows, 0.0D, (acc, x) -> acc + {term_e})")
        .alias("e0"),
        F.expr(f"aggregate(rows, 0.0D, (acc, x) -> acc + {term_v})")
        .alias("v0"))
    grid = lambda c: F.floor(c * 1e9 + F.lit(0.5)) / 1e9  # noqa: E731
    grid6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    o0 = F.col("o0").cast("double")
    return ev.select(
        "n_events", "o0",
        grid(F.col("e0")).alias("expected_0"),
        grid(F.col("v0")).alias("variance_0"),
        F.when(F.col("v0") > 0,
               grid((o0 - F.col("e0")) / F.sqrt(F.col("v0"))))
        .alias("z_score"),
        F.when(F.col("v0") > 0,
               grid6((o0 - F.col("e0")) * (o0 - F.col("e0"))
                     / F.col("v0"))).alias("logrank_chi2"))


GUMBEL_GAMMA = 0.5772156649015329   # Euler-Mascheroni (double literal)


def gumbel_block_maxima(t: dict[str, DataFrame]) -> DataFrame:
    """Gumbel extreme-value fit of MONTHLY block maxima of daily
    revenue by the method of moments (Gumbel 1958; the EVT-I
    complement to `hill_tail_index`'s heavy-tail exponent): beta =
    s sqrt(6)/pi, mu = m − gamma beta, plus the 100-block return
    level mu − beta ln(−ln(1 − 1/100)) — "what daily revenue should
    we provision for once per ~8 years of months".

    Shape: daily rollup → per-month integer max (both calendar-
    bounded), DECIMAL(38,0) moment sums over the block-maxima frame,
    one fixed double chain with literal constants (gridded 1e-9).
    One row out; nothing scales with the fact table."""
    d38 = "decimal(38,0)"
    daily = _daily_rev_cents(t)
    blocks = (daily.groupBy(F.date_format("d", "yyyy-MM").alias("m"))
              .agg(F.max("rev").alias("mx")))
    stats = blocks.agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum(F.col("mx").cast(d38)).alias("s1"),
        F.sum((F.col("mx").cast(d38) * F.col("mx").cast(d38))
              .cast(d38)).alias("s2"))
    grid = lambda c: F.floor(c * 1e9 + F.lit(0.5)) / 1e9  # noqa: E731
    n38 = F.col("n_blocks").cast(d38)
    nd = F.col("n_blocks").cast("double")
    mean = grid(F.col("s1").cast("double") / nd / F.lit(100.0))
    sd = grid(F.sqrt(
        (n38 * F.col("s2") - F.col("s1") * F.col("s1")).cast(d38)
        .cast("double") / (nd * (nd - 1))) / F.lit(100.0))
    g = stats.select("n_blocks", mean.alias("block_mean"),
                     sd.alias("block_sd"))
    import math
    beta = (F.col("block_sd") * F.lit(math.sqrt(6.0))
            / F.lit(math.pi))
    mu = F.col("block_mean") - F.lit(GUMBEL_GAMMA) * beta
    rl = mu - beta * F.lit(math.log(-math.log(1.0 - 1.0 / 100.0)))
    return g.select(
        "n_blocks", "block_mean", "block_sd",
        grid(mu).alias("gumbel_mu"),
        grid(beta).alias("gumbel_beta"),
        grid(rl).alias("return_level_100"))
