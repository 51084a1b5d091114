"""Parquet source layer for the canonical table set.

Reads are plain ``spark.read.parquet`` so Catalyst keeps predicate
pushdown / column pruning / partition pruning available — operators
downstream select only the columns they need and the scan node prunes
(`ReadSchema` in .explain shows the narrow projection).
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# NOTE on scan parallelism for unsplittable inputs: when a table is
# one parquet file with one row group, the scan is ONE task no matter
# what maxPartitionBytes says. Round 10 compensated with a loader-
# level round-robin repartition of every fact table; that charged a
# full-table shuffle (plus its sort-before-repartition) to EVERY
# consumer — ~0.5-1 s per query at the bench scale, a measured net
# regression (~100 queries >10% slower). The remedy lives at the
# point of use instead: per-row-heavy operators call
# functions.spread() right where the heavy map work happens (after
# projecting to the columns they need, so the exchange carries fewer
# bytes), and spread() is a no-op whenever the scan already splits —
# the 100 TB layout. Light consumers pay nothing.


# Columns that must surface as session-tz TIMESTAMP regardless of the
# physical parquet layout. A real lake mixes layouts — TIMESTAMP(NANOS)
# (Spark reads as bigint under the legacy nanosAsLong conf),
# TIMESTAMP(MICROS) without isAdjustedToUTC (Spark reads TIMESTAMP_NTZ),
# and UTC-adjusted micros (plain TIMESTAMP) — so the loader normalizes
# whatever it finds instead of hard-coding one historical layout.
TS_COLS = {"events": ("ts",)}

# Columns every provider layout must supply (names only — physical
# types are normalized or validated separately; widths are allowed to
# vary so a re-provision can't hard-fail the whole engine over an
# int32/int64 difference the operators don't care about).
REQUIRED_COLUMNS = {
    "region": ("r_regionkey", "r_name"),
    "nation": ("n_nationkey", "n_name", "n_regionkey"),
    "customer": ("c_custkey", "c_name", "c_nationkey", "c_acctbal",
                 "c_mktsegment"),
    "supplier": ("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
    "part": ("p_partkey", "p_name", "p_type", "p_size"),
    "orders": ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                 "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                 "l_returnflag", "l_linestatus", "l_shipdate"),
    "events": ("event_id", "ts", "user_id", "event_type", "value", "props"),
    "documents": ("doc_id", "text", "lang", "source", "n_chars"),
    "embeddings": ("vec_id", "embedding", "label"),
}


def normalize_ts(df: DataFrame, column: str, *, table: str = "?") -> DataFrame:
    """Coerce ``column`` to session-tz TIMESTAMP whatever physical type
    the parquet carried.

    - ``bigint``        → raw nanos (legacy ``nanosAsLong`` read);
      floor-divide to micros — the same truncation DuckDB applies when
      casting ns→TIMESTAMP, so both engines see identical values.
    - ``timestamp_ntz`` → cast to TIMESTAMP. The session timezone is
      pinned UTC (session.py), so the cast is value-preserving.
    - ``timestamp``     → already normalized.

    Anything else is a data contract violation and fails loudly with
    the table/column/got-type named, instead of surfacing later as a
    cryptic DATATYPE_MISMATCH inside some downstream operator.
    """
    dtype = dict(df.dtypes).get(column)
    if dtype == "bigint":
        return df.withColumn(column, F.expr(f"timestamp_micros({column} div 1000)"))
    if dtype == "timestamp_ntz":
        return df.withColumn(column, F.col(column).cast("timestamp"))
    if dtype == "timestamp":
        return df
    raise TypeError(
        f"table {table!r} column {column!r}: expected a timestamp-like "
        f"type (timestamp, timestamp_ntz, or bigint nanos), got {dtype!r}"
    )


# The similarity suite (hyperplane LSH, PQ subspaces, unrolled
# per-dim SQL) and its DuckDB oracles bake this width into their
# expressions; a re-provisioned corpus with a different width must
# fail AT LOAD with a named contract error, not as silently-truncated
# zip_with folds downstream (the timestamp-layout lesson, applied to
# the other driver-owned physical detail).
EXPECTED_EMB_DIM = 64


def _assert_embedding_dim(df: DataFrame, *, table: str) -> None:
    # one-row probe; runs once per (session, sf_dir) because the
    # loaded handle is memoized below
    row = df.select(F.size("embedding").alias("d")).first()
    if row is not None and row["d"] != EXPECTED_EMB_DIM:
        raise TypeError(
            f"table {table!r} column 'embedding': expected "
            f"array<float>[{EXPECTED_EMB_DIM}], got width {row['d']} — "
            "the similarity operators and oracles are built for "
            f"{EXPECTED_EMB_DIM}-dim vectors")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Memoize the DataFrame handle per (session, path): a repeated
    # load otherwise re-reads the parquet footer and rebuilds the scan
    # relation over py4j on every query construction — pure
    # driver-side latency. The cache lives on the session object, so
    # it dies with the session and never leaks across restarts.
    try:
        cache = spark._openlmis_table_cache
    except AttributeError:
        cache = spark._openlmis_table_cache = {}
    key = (sf_dir, name)
    if key in cache:
        return cache[key]
    if name in TS_COLS:
        # lets a TIMESTAMP(NANOS) footer read as bigint instead of erroring;
        # no effect on micros layouts
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    missing = [c for c in REQUIRED_COLUMNS.get(name, ())
               if c not in df.columns]
    if missing:
        raise ValueError(
            f"table {name!r} at {sf_dir} is missing required column(s) "
            f"{missing}; found {df.columns}")
    for c in TS_COLS.get(name, ()):
        df = normalize_ts(df, c, table=name)
    if name == "embeddings":
        _assert_embedding_dim(df, table=name)
    cache[key] = df
    return df


class LazyTables(Mapping):
    """Mapping table-name → DataFrame that defers the parquet footer
    read until a table is actually used — operators receive the full
    catalog but only touch their inputs (a query over one table costs
    one footer read, not ten)."""

    def __init__(self, spark: SparkSession, sf_dir: str,
                 names: tuple[str, ...]):
        self._spark = spark
        self._sf_dir = sf_dir
        self._names = names

    def __getitem__(self, name: str) -> DataFrame:
        # load_table memoizes the frame on the session
        if name not in self._names:
            raise KeyError(name)
        return load_table(self._spark, self._sf_dir, name)

    # Mapping's default would load the table just to test membership
    def __contains__(self, name: object) -> bool:
        return name in self._names

    def __iter__(self):
        return iter(self._names)

    def __len__(self) -> int:
        return len(self._names)


def load_tables(spark: SparkSession, sf_dir: str,
                *names: str) -> Mapping[str, DataFrame]:
    use = names or TABLES
    return LazyTables(spark, sf_dir, use)


def register_views(spark: SparkSession, sf_dir: str,
                   *names: str) -> list[str]:
    """SQL front-end: register every table (or the named subset) as a
    temp view — after this, `spark.sql("SELECT ... FROM orders JOIN
    customer ...")` works against the contract-checked, timestamp-
    normalized source layer (NOT a raw parquet read, which would trip
    the TIMESTAMP(NANOS) layout). Returns the registered names."""
    t = load_tables(spark, sf_dir, *names)
    for name, df in t.items():
        df.createOrReplaceTempView(name)
    return sorted(t)
