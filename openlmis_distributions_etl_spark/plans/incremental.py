"""Incremental aggregate maintenance over the versioned table format
(SURVEY.md §2.B).

The 100 TB reporting pattern: a month × segment rollup is far cheaper
to MAINTAIN than to recompute — when a day's ingest lands, only the
months its rows touch can have changed, so the update recomputes those
months from the fact and MERGEs them into the rollup table, leaving
every other month's rows untouched. The change feed (read_changes)
bounds the "which months moved" probe to the delta files only; the
recompute reads the fact filtered to the affected months (on a
month-partitioned production fact that filter is partition pruning —
here it is a predicate, documented trade), and the merge is the
versioned format's keyed upsert, so a concurrent writer conflicts
loudly instead of losing the update.

Correct under arbitrary appends including LATE data: recomputing an
affected month from the full fact (not just the delta) makes the
update idempotent and order-insensitive — re-running it after any
interleaving of appends converges to the full-recompute answer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..functions import month_key
from ..sources.versioned import (changed_rows, merge_upsert_versioned,
                                 read_changes, read_versioned, versions,
                                 write_versioned)
from .star import month_segment_rollup


def init_rollup(spark: SparkSession, fact_path: str, rollup_path: str,
                customer: DataFrame) -> int:
    """Materialize the rollup table from the fact's current version."""
    orders = read_versioned(spark, fact_path)
    return write_versioned(month_segment_rollup(orders, customer),
                           rollup_path, mode="overwrite")


def incremental_rollup_update(spark: SparkSession, fact_path: str,
                              rollup_path: str, customer: DataFrame,
                              since_version: int) -> int:
    """Fold every fact version after ``since_version`` into the
    rollup: probe the delta for touched months (a distinct over the
    delta only — rows proportional to the ingest, never the table),
    recompute those months from the full fact, keyed-merge into the
    rollup. Returns the rollup's new version (or its current one when
    the delta is empty).

    The touched-month list is collected to the driver: it is bounded
    by the calendar (a 100-year fact has ~1200 months), not by data
    volume — the same cardinality argument that makes month a sane
    partition key."""
    delta = read_changes(spark, fact_path, since_version)
    months = [r["month"] for r in
              delta.select(month_key("o_orderdate").alias("month"))
              .distinct().collect()]
    if not months:
        return versions(rollup_path)[-1]
    fact = read_versioned(spark, fact_path)
    affected = fact.where(month_key("o_orderdate").isin(months))
    updated = month_segment_rollup(affected, customer)
    return merge_upsert_versioned(spark, rollup_path, updated,
                                  ["month", "c_mktsegment"])


def _order_customer_view(orders: DataFrame,
                         customer: DataFrame) -> DataFrame:
    """The maintained denormalized join view: one row per order with
    its customer's segment and nation (N:1 join, key = o_orderkey)."""
    return (orders
            .select("o_orderkey", "o_custkey", "o_orderdate",
                    "o_totalprice")
            .join(broadcast(customer.select(
                "c_custkey", "c_mktsegment", "c_nationkey")),
                F.col("o_custkey") == F.col("c_custkey"))
            .drop("c_custkey"))


def init_join_view(spark: SparkSession, orders_path: str,
                   customer_path: str, view_path: str) -> int:
    """Materialize the orders⋈customer view from both tables'
    current versions."""
    return write_versioned(
        _order_customer_view(read_versioned(spark, orders_path),
                             read_versioned(spark, customer_path)),
        view_path, mode="overwrite")


def incremental_join_view_update(spark: SparkSession, orders_path: str,
                                 customer_path: str, view_path: str,
                                 since_orders: int,
                                 since_customer: int) -> int:
    """Incremental MAINTENANCE of the materialized join view — the
    delta-join algebra a 100 TB warehouse uses instead of recomputing
    a denormalization: rows needing refresh are (a) orders appended
    since the last sync and (b) orders owned by customers whose rows
    changed (the SCD case — a segment update must rewrite that
    customer's existing view rows). Both probes read ONLY the change
    feeds; the dimension-side fan-out resolves through one LEFT SEMI
    join of the fact against the delta's distinct keys (never a
    collect — the changed-customer set is data-sized, not
    calendar-bounded). Affected rows recompute against the CURRENT
    dimension snapshot and keyed-MERGE by o_orderkey, so the update
    is idempotent and append-order-insensitive; re-running after any
    interleaving converges to the full recompute (pytest pins this).
    Deletes are out of scope (append/upsert feeds only).

    Every appended order is touched, so the emptiness probe (a Spark
    job) runs only when the orders feed's footers count zero rows."""
    v_orders = versions(orders_path)[-1]
    d_orders = read_changes(spark, orders_path, since_orders, v_orders)
    d_cust = read_changes(spark, customer_path, since_customer)
    orders = read_versioned(spark, orders_path, version=v_orders)
    customer = read_versioned(spark, customer_path)
    changed_keys = d_cust.select("c_custkey").distinct()
    touched = (orders
               .join(changed_keys,
                     F.col("o_custkey") == F.col("c_custkey"),
                     "leftsemi")
               .unionByName(d_orders.select(*orders.columns))
               .dropDuplicates(["o_orderkey"]))
    if (changed_rows(orders_path, since_orders, v_orders) == 0
            and touched.isEmpty()):
        return versions(view_path)[-1]
    updated = _order_customer_view(touched, customer)
    return merge_upsert_versioned(spark, view_path, updated,
                                  ["o_orderkey"])


def build_daily_user_sketches(events: DataFrame) -> DataFrame:
    """Per-day HLL sketches of the active-user set, as a BINARY
    column — the re-aggregatable form of COUNT(DISTINCT): a 100 TB
    pipeline stores these tiny sketches once and answers distinct
    users over ANY date range by merging them, never rescanning raw
    events. One map-side-combinable aggregate (Datasketches HLL,
    Spark 3.5+ built-ins — JVM-side, no Python)."""
    return (events
            .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
            .agg(F.hll_sketch_agg("user_id").alias("user_sketch"),
                 F.count(F.lit(1)).alias("n_events")))


def monthly_distinct_from_sketches(daily: DataFrame) -> DataFrame:
    """Roll daily sketches to months by LOSSLESS union-merge
    (identical registers to sketching the month directly — pinned by
    test) and estimate distinct users per month; the merge reads the
    sketch table, not the events."""
    return (daily
            .groupBy(F.substring("day", 1, 7).alias("month"))
            .agg(F.hll_sketch_estimate(
                     F.hll_union_agg("user_sketch")).alias("dau_est"),
                 F.sum("n_events").alias("n_events")))
