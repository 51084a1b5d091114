"""Banded LSH pair join: one primitive behind every near-duplicate
candidate generator in the engine (MinHash, SimHash, sign-LSH).

A hash is cut into B band keys; two rows are candidates iff they agree
on at least one whole band. By pigeonhole that recall argument holds
for any hash feeding the bands, so each family only states its keys,
once, as ``keys(prefix) -> list[Column]``: the B key columns built
from columns named ``prefix + name``. The same function then builds
the exploded band values (``keys("")``), the first-equal-band test
across a self-join (``keys("a.")`` vs ``keys("b.")``) and any
single-row probe (``keys("q.")`` against a struct column ``q``).

- `explode_bands` fans the B keys out in ONE Generate pass, not a
  B-branch union: a union re-reads its input B times (B× the map tasks
  feeding the band-join exchange, B copies of the subtree in the plan).
- `band_pairs` self-joins on (band_id, band_val) and keeps a pair only
  at its FIRST equal band: a pair matching k bands would surface k
  times, and the static test dedupes it per matched row instead of
  shuffling the candidate stream through a distinct.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

Keys = Callable[[str], list[Column]]


def explode_bands(df: DataFrame, keys: Keys) -> DataFrame:
    """``df`` + int ``band_id`` + ``band_val``: one row per band."""
    arr = F.array(*[
        F.struct(F.lit(b).alias("band_id"), k.alias("band_val"))
        for b, k in enumerate(keys(""))])
    return (df.select("*", F.explode(arr).alias("_bb"))
            .select(*df.columns, "_bb.band_id", "_bb.band_val"))


def _first_band(keys: Keys) -> Column:
    """Index of the first band on which the joined a/b rows agree.

    An unrolled ``when`` chain, no lambda; the last band is the
    ``otherwise`` because the band join already proves one band
    equal."""
    a, b = keys("a."), keys("b.")
    c = F.when(a[0] == b[0], F.lit(0))
    for j in range(1, len(a) - 1):
        c = c.when(a[j] == b[j], F.lit(j))
    return c.otherwise(F.lit(len(a) - 1))


def band_pairs(df: DataFrame, id: str, keys: Keys) -> DataFrame:
    """Every unordered pair of ``df`` rows sharing a band, once, with
    ``a.<id> < b.<id>``. All columns of ``df`` (and the band columns)
    ride along on both sides under the aliases ``a`` and ``b``."""
    banded = explode_bands(df, keys)
    a, b = banded.alias("a"), banded.alias("b")
    return a.join(
        b, (F.col("a.band_id") == F.col("b.band_id"))
        & (F.col("a.band_val") == F.col("b.band_val"))
        & (F.col(f"a.{id}") < F.col(f"b.{id}"))
        & (F.col("a.band_id") == _first_band(keys)))
