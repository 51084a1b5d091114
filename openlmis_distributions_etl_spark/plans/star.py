"""Denormalization / ETL plans (SURVEY.md §2.B).

The distributions-ETL core: conform dimensions around the line-level
fact and emit analytics-ready flat tables. The big fact shuffles once
(lineitem ⋈ orders on orderkey); every dimension side is broadcast, so
at 100 TB the plan is one shuffle + N map-side hash joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..functions import disc_price, dsum, month_key, spread


def star_denormalize(t: dict[str, DataFrame]) -> DataFrame:
    """lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region ⋈ supplier ⋈ part
    → flat fact with conformed dimension attributes."""
    cust_geo = (
        t["customer"]
        .join(broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey", "c_name", "c_mktsegment",
                F.col("n_name").alias("cust_nation"),
                F.col("r_name").alias("cust_region"))
    )
    # spread: the wide-row projection + broadcast probes are CPU-bound;
    # a single-row-group local file otherwise serializes them on the
    # one scan task (no-op at scale where the scan has real splits)
    return (
        spread(t["lineitem"])
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(broadcast(cust_geo), F.col("o_custkey") == F.col("c_custkey"))
        .join(broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "l_orderkey", "l_linenumber",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority", "o_orderstatus",
            "c_custkey", "c_name", "c_mktsegment", "cust_nation", "cust_region",
            F.col("s_name").alias("supplier_name"),
            F.col("p_name").alias("part_name"), "p_brand",
            "l_quantity",
            disc_price().cast("double").alias("net_revenue"),
        )
    )


def month_segment_rollup(orders: DataFrame,
                         customer: DataFrame) -> DataFrame:
    """Month × market-segment sales rollup of ``orders`` (any snapshot
    or filter of the fact; the incremental rollup recomputes affected
    months with it)."""
    return (
        orders
        .join(broadcast(customer.select("c_custkey", "c_mktsegment")),
              F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(month_key("o_orderdate").alias("month"), "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             dsum("o_totalprice").alias("total_value"))
    )


def monthly_sales_rollup(t: dict[str, DataFrame]) -> DataFrame:
    """Month × market-segment sales rollup fact (the reference's
    periodic distribution report shape)."""
    return month_segment_rollup(t["orders"], t["customer"])
