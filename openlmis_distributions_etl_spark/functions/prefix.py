"""Distributed prefix sums: one bucket helper and one prefix-sum
primitive behind every cumulative share, rank, ECDF and order
statistic in the engine.

A single ORDER BY window funnels the whole input through one task.
Instead the order axis is cut into DATA-PROPORTIONAL range buckets:

- `buckets` tags each row with ``bkt``, monotone in a double key.
  Fences are approx_percentile cut points of the key itself and the
  test is ``key > fence``, so equal keys always share a bucket and
  the sketch only decides BALANCE, never a result.
- `prefix_sums` adds per-bucket totals, turned into exclusive offsets
  over the small bucket frame, to an in-bucket running sum: the exact
  global cumulative, with no task seeing more than one bucket.

Callers derive the variants: a rank is the running sum of a
constant-1 weight under a total order, a dense rank the running sum
of a first-of-key flag, an exclusive cumulative ``cum - w``.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

PREFIX_TARGET_ROWS = 4_000_000   # cap on rows one in-bucket window task sees
PREFIX_MAX_FENCES = 1024         # per-level fence ceiling (per-row test cost)
PROBE_FENCES = 64                # probe sketch resolution: covers nb <= 64
                                 # (256M rows per group at the 4M target)
                                 # in the probe job; larger inputs pay one
                                 # more sketch at the resolution they need


def _sketch(df: DataFrame, keys: list[str], m: int, *extra: Column) \
        -> DataFrame:
    """Per-group (m-1)-point percentile sketch of ``_bk`` as ``_fa``."""
    pcts = ",".join(str(i / m) for i in range(1, m))
    return df.groupBy(*keys).agg(*extra, F.expr(
        f"approx_percentile(_bk, array({pcts}), {max(10000, m * 64)})")
        .alias("_fa"))


def _subsample(fa, m: int) -> list[float]:
    """m-1 monotone cut points from a finer sketch (index round-down
    of i/m onto its grid). Any monotone subsample is a valid fence
    set, so m need not divide the sketch resolution."""
    vals = [float(x) for x in (fa or []) if x is not None]
    return [vals[max(0, (i * (len(vals) + 1)) // m - 1)]
            for i in range(1, m)] if vals else []


def _count_above(m: int) -> Column:
    """How many of the m-1 fences in ``_fa`` the key ``_bk`` exceeds.

    Unrolled comparisons, not a ``size(filter(...))`` fold: a
    lambda-bearing column used as both a grouping key and a join key
    (the offsets join in `prefix_sums`) trips Catalyst attribute
    binding, INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND once the fold is
    inlined across the self-join. Literal fences constant-fold to
    ``_bk > 1.5``-style tests. ``get`` is NULL past a short or NULL
    fence array, so such rows (and NULL keys) count nothing."""
    b = F.lit(0)
    for i in range(m - 1):
        b = b + F.coalesce((F.col("_bk") > F.get("_fa", i)).cast("int"),
                           F.lit(0))
    return b


def buckets(df: DataFrame, key: Column,
            partition_by: Sequence[str] = ()) -> tuple[DataFrame, int]:
    """Range-bucket ``df`` on the double ``key`` within each
    ``partition_by`` group. Returns (``df`` + int ``bkt``, row count).

    ``bkt`` is monotone in ``key`` and ties never straddle buckets.
    The bucket count is ceil(rows of the largest group /
    PREFIX_TARGET_ROWS), floor 16. ONE probe job collects every
    group's row count with a PROBE_FENCES sketch; its cut points
    become a literal map group -> fence array, so the main pass joins
    nothing. Past PREFIX_MAX_FENCES the split RECURSES one level:
    ~sqrt(nb) coarse buckets, each refined by a distributed grouped
    sketch broadcast back, keeping the per-row cost at ~1k tests.
    NULL keys land in the first bucket, so they must sort first in
    the caller's order. ``df`` should be retained: the probe is its
    first action and the bucket pipeline re-reads it."""
    pb = list(partition_by)
    k = df.withColumn("_bk", key.cast("double"))
    probe = _sketch(k, pb, PROBE_FENCES,
                    F.count(F.lit(1)).alias("_n")).collect()
    n = sum(r["_n"] for r in probe)
    nb = max(16, math.ceil(max((r["_n"] for r in probe), default=0)
                           / PREFIX_TARGET_ROWS))
    m = nb if nb <= PREFIX_MAX_FENCES else min(
        PREFIX_MAX_FENCES, math.ceil(math.sqrt(nb)))
    if m <= PROBE_FENCES:
        fences = [(r, _subsample(r["_fa"], m)) for r in probe]
    else:
        fences = [(r, [float(x) for x in r["_fa"] or []])
                  for r in _sketch(k, pb, m).collect()]
    # struct keys: one lookup for any number of group columns (zero
    # folds to a constant)
    entries: list[Column] = []
    for r, fa in fences:
        entries += [F.struct(*[F.lit(r[c]).cast(k.schema[c].dataType)
                               .alias(c) for c in pb]),
                    F.array(*map(F.lit, fa)).cast("array<double>")]
    fmap = (F.element_at(F.create_map(*entries), F.struct(*pb))
            if entries else F.lit(None).cast("array<double>"))
    lvl = (k.withColumn("_fa", fmap)
           .withColumn("bkt", _count_above(m)).drop("_fa"))
    if nb <= PREFIX_MAX_FENCES:
        return lvl.drop("_bk"), n
    nb2 = math.ceil(nb / m)
    keys = pb + ["_b1"]
    lvl = lvl.withColumnRenamed("bkt", "_b1")
    return (lvl.join(F.broadcast(_sketch(lvl, keys, nb2)), keys, "left")
            .withColumn("bkt", F.col("_b1") * nb2 + _count_above(nb2))
            .drop("_fa", "_b1", "_bk")), n


def prefix_sums(bucketed: DataFrame, order: Sequence[Column],
                sums: Sequence[str],
                partition_by: Sequence[str] = ()) -> DataFrame:
    """Exact per-group running sums over a `buckets` output. Adds, per
    weight column ``w`` in ``sums``, ``cum_<w>`` (w summed over every
    row of the group ordered at or before this one, peers included)
    and ``tot_<w>`` (the group total).

    ``order`` must sort consistently with the bucket key. Per-(group,
    bucket) totals become exclusive offsets over that small frame,
    broadcast back by an equi-join (so rows of a NULL group drop
    out), and the in-bucket RANGE running sum plus the offset is the
    global cumulative."""
    pb = list(partition_by)
    keys = pb + ["bkt"]
    bt = bucketed.groupBy(*keys).agg(
        *[F.sum(w).alias(f"_bt_{w}") for w in sums])
    before = (Window.partitionBy(*pb).orderBy("bkt")
              .rowsBetween(Window.unboundedPreceding, -1))
    offs = bt.select(
        *keys,
        *[F.coalesce(F.sum(f"_bt_{w}").over(before), F.lit(0))
          .alias(f"_off_{w}") for w in sums],
        *[F.sum(f"_bt_{w}").over(Window.partitionBy(*pb))
          .alias(f"tot_{w}") for w in sums])
    run = (Window.partitionBy(*keys).orderBy(*order)
           .rangeBetween(Window.unboundedPreceding, Window.currentRow))
    return (bucketed.join(F.broadcast(offs), keys)
            .select(*bucketed.columns,
                    *[(F.sum(w).over(run) + F.col(f"_off_{w}"))
                      .alias(f"cum_{w}") for w in sums],
                    *[f"tot_{w}" for w in sums]))
