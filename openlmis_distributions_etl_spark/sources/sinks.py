"""Load-side connectors (SURVEY.md §2.B): partitioned/bucketed Parquet
and JDBC.

Scale notes: partition columns choose the directory fan-out (date /
region — low cardinality, prune-friendly); bucketing pre-shuffles on
the join key once at write time so downstream joins between tables
bucketed on the same key skip their shuffle entirely. maxRecordsPerFile
caps file sizes so a skewed partition can't produce one giant file.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def write_partitioned_parquet(df: DataFrame, path: str,
                              partition_by: Sequence[str] = (),
                              mode: str = "overwrite",
                              max_records_per_file: int = 5_000_000) -> None:
    writer = (df.write.mode(mode)
              .option("maxRecordsPerFile", max_records_per_file))
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_jdbc(df: DataFrame, url: str, table: str,
               mode: str = "append", batchsize: int = 10_000,
               num_partitions: int | None = None,
               properties: dict[str, str] | None = None) -> None:
    """JDBC sink (warehouse load): batched writes, bounded parallelism
    so the database isn't hammered by 1000 executors at once.
    Round-trip-tested against embedded Derby (on Spark's classpath);
    external-warehouse drivers (postgres, etc.) must be added to
    spark.jars as usual."""
    writer = df
    if num_partitions is not None:
        writer = df.coalesce(num_partitions)
    (writer.write.mode(mode)
     .option("batchsize", batchsize)
     .jdbc(url, table, properties=properties or {}))


def read_jdbc(spark: SparkSession, url: str, table: str,
              partition_column: str | None = None,
              lower_bound: int | None = None, upper_bound: int | None = None,
              num_partitions: int = 8,
              properties: dict[str, str] | None = None) -> DataFrame:
    """JDBC source with range-partitioned parallel reads (the only way
    a JDBC extract scales: N concurrent range queries, not one
    cursor)."""
    reader = (spark.read.format("jdbc")
              .option("url", url)
              .option("dbtable", table))
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError(
                "partition_column requires explicit lower_bound and "
                "upper_bound (Spark cannot infer JDBC ranges)")
        reader = (reader
                  .option("partitionColumn", partition_column)
                  .option("lowerBound", str(lower_bound))
                  .option("upperBound", str(upper_bound))
                  .option("numPartitions", str(num_partitions)))
    return reader.load()


def write_partitioned_orc(df: DataFrame, path: str,
                          partition_by: Sequence[str] = (),
                          mode: str = "overwrite",
                          max_records_per_file: int = 5_000_000) -> None:
    """ORC sink, same partitioning contract as the parquet writer."""
    writer = (df.write.mode(mode)
              .option("maxRecordsPerFile", max_records_per_file))
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def write_sorted_parquet(df: DataFrame, path: str, sort_cols: Sequence[str],
                         num_files: int | None = None,
                         mode: str = "overwrite") -> None:
    """Globally-sorted export: repartitionByRange samples the sort key
    to build balanced range boundaries (one pass), then sorts within
    each range partition — file i's keys all precede file i+1's, the
    total-order contract downstream consumers (merge readers, binary
    searches, time-ordered training shards) rely on. A plain
    orderBy-write would funnel through the same range exchange but
    defaults to spark.sql.shuffle.partitions files; num_files sizes
    the output explicitly."""
    parts = df.repartitionByRange(num_files, *sort_cols) if num_files \
        else df.repartitionByRange(*sort_cols)
    (parts.sortWithinPartitions(*sort_cols)
     .write.mode(mode).parquet(path))


def compact_parquet(spark: SparkSession, path: str, out_path: str,
                    target_mb: int = 512) -> int:
    """Small-file compaction — the periodic maintenance job every
    streaming/incremental sink needs (each micro-batch commit leaves
    small files; scans over millions of them bottleneck on task
    scheduling and footer reads, not IO). Rewrites the dataset into
    ceil(bytes / target_mb) files and returns that file count.

    Sizing reads the source byte size from the filesystem (driver-side
    metadata only, no data pass); coalesce avoids a shuffle when
    shrinking the file count — partition boundaries just concatenate."""
    import math

    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    total_bytes = fs.getContentSummary(p).getLength()
    n = max(1, math.ceil(total_bytes / (target_mb * 1024 * 1024)))
    (spark.read.parquet(path)
     .coalesce(n)
     .write.mode("overwrite").parquet(out_path))
    return n


def write_bucketed_table(df: DataFrame, table: str, keys: list[str],
                         n_buckets: int) -> None:
    """Persist ``df`` as a BUCKETED parquet table (hash-bucketed and
    sorted within buckets on ``keys``) — the co-located-join layout:
    two tables bucketed the same way join with ZERO exchange (and
    zero sort), because every bucket pair is already partitioned and
    ordered on the key. At 100 TB this is THE way to amortize the
    shuffle of a recurring big-big join into the write path once,
    instead of paying it per query; pick n_buckets ≈ table size /
    target partition size. The plan-shape test pins the no-Exchange
    claim."""
    (df.write
     .bucketBy(n_buckets, *keys)
     .sortBy(*keys)
     .mode("overwrite")
     .format("parquet")
     .saveAsTable(table))


def read_table(spark: SparkSession, table: str) -> DataFrame:
    """Catalog read of a saved (possibly bucketed) table; bucket
    metadata flows into the planner from the catalog entry."""
    return spark.table(table)
