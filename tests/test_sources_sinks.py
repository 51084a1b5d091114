"""File sources + sinks: roundtrips, partition pruning, bucketed join
shuffle elimination, corrupt-record capture, JDBC gating."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import (IntegerType, LongType, StringType,
                               StructField, StructType)

from openlmis_distributions_etl_spark.sources import load_table, load_tables
from openlmis_distributions_etl_spark.sources.files import read_csv, read_json
from openlmis_distributions_etl_spark.sources.sinks import (
    write_bucketed_table, write_jdbc, write_partitioned_parquet)

SF0001 = "/root/testdata/sf0.001"

SCHEMA = StructType([
    StructField("id", LongType()),
    StructField("name", StringType()),
    StructField("qty", IntegerType()),
])


def test_csv_roundtrip_and_corrupt_capture(spark, tmp_path):
    p = tmp_path / "in.csv"
    p.write_text("id,name,qty\n1,widget,10\n2,gadget,oops\n3,doohickey,7\n")
    df = read_csv(spark, str(p), SCHEMA)
    rows = {r["id"]: r for r in df.collect()}
    assert rows[1]["qty"] == 10
    assert rows[2]["qty"] is None  # bad int captured, row not dropped
    assert rows[2]["_corrupt_record"] is not None
    assert rows[3]["name"] == "doohickey"


def test_json_roundtrip(spark, tmp_path):
    p = tmp_path / "in.json"
    p.write_text('{"id": 1, "name": "w", "qty": 2}\n'
                 '{"id": 2, "name": "g", "qty": "bad"}\n')
    df = read_json(spark, str(p), SCHEMA)
    rows = {r["id"]: r for r in df.collect() if r["id"] is not None}
    assert rows[1]["qty"] == 2
    assert 2 not in rows or rows[2]["qty"] is None


def test_partitioned_parquet_prunes(spark, tmp_path):
    orders = load_table(spark, SF0001, "orders").withColumn(
        "status", F.col("o_orderstatus"))
    out = str(tmp_path / "orders_part")
    write_partitioned_parquet(orders, out, partition_by=["status"])
    back = spark.read.parquet(out)
    assert back.count() == orders.count()
    pruned = back.where(F.col("status") == "F")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # partition filter must reach the scan, not a post-scan Filter
    assert "PartitionFilters" in plan and "status" in plan.split(
        "PartitionFilters", 1)[1][:200]


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    import shutil
    spark.sql("DROP TABLE IF EXISTS o_b")
    spark.sql("DROP TABLE IF EXISTS l_b")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for tbl in ("o_b", "l_b"):  # dropped tables can leave orphan dirs
        shutil.rmtree(f"{wh}/{tbl}", ignore_errors=True)
    t = load_tables(spark, SF0001, "orders", "lineitem")
    write_bucketed_table(t["orders"], "o_b", ["o_orderkey"], n_buckets=4)
    write_bucketed_table(t["lineitem"], "l_b", ["l_orderkey"], n_buckets=4)
    joined = (spark.table("l_b").hint("merge")
              .join(spark.table("o_b"),
                    F.col("l_orderkey") == F.col("o_orderkey")))
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
    assert joined.count() == t["lineitem"].count()


def test_jdbc_gated_without_driver(spark):
    df = load_table(spark, SF0001, "region")
    with pytest.raises(Exception) as ei:
        write_jdbc(df, "jdbc:postgresql://localhost:5432/nope", "t",
                   properties={"driver": "org.postgresql.Driver"})
    assert "postgresql" in str(ei.value).lower() or "driver" in str(
        ei.value).lower()


def test_jdbc_roundtrip_embedded_derby(spark, tmp_path):
    """Real JDBC extract/load end-to-end against embedded Derby (the
    JDBC database that ships on Spark's classpath): batched write,
    then a range-partitioned parallel read — N concurrent range
    queries, the only JDBC read shape that scales."""
    from openlmis_distributions_etl_spark.sources.sinks import read_jdbc

    url = f"jdbc:derby:{tmp_path}/warehouse_db;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    src = load_table(spark, SF0001, "nation")
    write_jdbc(src, url, "nation_mart", mode="overwrite",
               properties=props)
    back = read_jdbc(spark, url, "nation_mart",
                     partition_column="n_nationkey",
                     lower_bound=0, upper_bound=25,
                     num_partitions=4, properties=props)
    assert back.rdd.getNumPartitions() == 4          # parallel ranges
    got = sorted(map(tuple, back.collect()))
    want = sorted(map(tuple, src.collect()))
    assert got == want


def test_multi_row_group_scan_restores_parallelism(spark, tmp_path):
    """SURVEY §6's claim, proven instead of asserted: local testdata's
    single-row-group files cap scan parallelism at 1 task, but a table
    written with bounded file sizes (what this repo's writers do, and
    what any 100 TB table has) scans with many tasks — and spread()
    is then a NO-OP, so its exchange exists only for the degenerate
    single-split case."""
    from openlmis_distributions_etl_spark.functions import spread

    li = load_table(spark, SF0001, "lineitem")
    write_partitioned_parquet(li, str(tmp_path / "li"),
                              max_records_per_file=500)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes",
                       str(512 * 1024))
        reread = spark.read.parquet(str(tmp_path / "li"))
        n_parts = reread.rdd.getNumPartitions()
        assert n_parts >= 8, f"expected a split scan, got {n_parts}"
        assert spread(reread) is reread              # no-op on splits
        assert reread.count() == li.count()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_orc_roundtrip_partitioned_and_pruned(spark, tmp_path):
    from openlmis_distributions_etl_spark.sources.files import read_orc
    from openlmis_distributions_etl_spark.sources.sinks import (
        write_partitioned_orc)

    orders = load_table(spark, SF0001, "orders").withColumn(
        "status", F.col("o_orderstatus"))
    out = str(tmp_path / "orders_orc")
    write_partitioned_orc(orders, out, partition_by=["status"])
    back = read_orc(spark, out)
    assert back.count() == orders.count()
    # partition pruning: only the selected directory is scanned
    pruned = back.where(F.col("status") == "F")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert pruned.count() == orders.where(F.col("o_orderstatus") == "F").count()
    assert "PartitionFilters" in plan
    # values identical through the ORC roundtrip
    a = sorted(orders.select("o_orderkey", "o_totalprice").collect())
    b = sorted(back.select("o_orderkey", "o_totalprice").collect())
    assert a == b


def test_text_reader_lines(spark, tmp_path):
    from openlmis_distributions_etl_spark.sources.files import read_text

    p = tmp_path / "corpus.txt"
    p.write_text("first line\nsecond line\n")
    df = read_text(spark, str(p))
    assert sorted(r["value"] for r in df.collect()) == [
        "first line", "second line"]


def test_write_sorted_parquet_total_order(spark, tmp_path):
    """Range-partitioned export: every file internally sorted AND file
    ranges non-overlapping (global total order across files)."""
    import pyarrow.parquet as pq
    from openlmis_distributions_etl_spark.sources.sinks import (
        write_sorted_parquet)

    t = load_tables(spark, SF0001, "orders")
    out = str(tmp_path / "sorted")
    write_sorted_parquet(t["orders"].select("o_orderkey", "o_totalprice"),
                         out, ["o_orderkey"], num_files=4)
    files = sorted((tmp_path / "sorted").glob("part-*.parquet"))
    assert len(files) == 4
    ranges = []
    for f in files:
        keys = pq.read_table(f, columns=["o_orderkey"])["o_orderkey"] \
            .to_pylist()
        assert keys == sorted(keys), "file not internally sorted"
        ranges.append((keys[0], keys[-1]))
    ranges.sort()
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi <= lo, "file key ranges overlap — not a total order"
    back = spark.read.parquet(out)
    assert back.count() == t["orders"].count()


def test_compact_parquet_reduces_files(spark, tmp_path):
    from openlmis_distributions_etl_spark.sources.sinks import compact_parquet

    src = str(tmp_path / "fragmented")
    t = load_tables(spark, SF0001, "events")
    t["events"].select("event_id", "user_id").repartition(64) \
        .write.parquet(src)
    assert len(list((tmp_path / "fragmented").glob("part-*"))) == 64
    out = str(tmp_path / "compacted")
    n = compact_parquet(spark, src, out, target_mb=512)
    assert n == 1
    assert len(list((tmp_path / "compacted").glob("part-*"))) == 1
    assert spark.read.parquet(out).count() == 1000


def test_versioned_table_time_travel(spark, tmp_path):
    from openlmis_distributions_etl_spark.sources.versioned import (
        read_versioned, versions, write_versioned)

    t = load_tables(spark, SF0001, "events")
    base = t["events"].select("event_id", "user_id")
    tbl = str(tmp_path / "vtab")
    v0 = write_versioned(base.where("event_id < 600"), tbl, mode="overwrite")
    v1 = write_versioned(base.where("event_id >= 600"), tbl, mode="append")
    assert (v0, v1) == (0, 1) and versions(tbl) == [0, 1]
    assert read_versioned(spark, tbl).count() == 1000          # latest
    assert read_versioned(spark, tbl, version=0).count() == 600  # time travel
    v2 = write_versioned(base.limit(10), tbl, mode="overwrite")
    assert read_versioned(spark, tbl).count() == 10
    assert read_versioned(spark, tbl, version=1).count() == 1000
    assert versions(tbl) == [0, 1, 2] and v2 == 2


def test_versioned_table_commit_conflict(spark, tmp_path):
    from openlmis_distributions_etl_spark.sources.versioned import (
        VersionConflictError, delete_versioned, write_versioned,
        zorder_rewrite)
    import pytest

    t = load_tables(spark, SF0001, "events")
    base = t["events"].select("event_id").limit(5)
    tbl = str(tmp_path / "vtab2")
    write_versioned(base, tbl, mode="overwrite")
    # both writers derived from version 0; the other one publishes
    # version 1 first — this writer's O_EXCL manifest create must lose
    (tmp_path / "vtab2" / "_log" / "v00000001.json").write_text(
        '{"version": 1, "mode": "append", "files": []}')
    with pytest.raises(VersionConflictError):
        write_versioned(base, tbl, mode="append", base_version=0)
    # DELETE and Z-order rewrite publish through the same O_EXCL create
    with pytest.raises(VersionConflictError):
        delete_versioned(spark, tbl, "event_id >= 0", base_version=0)
    with pytest.raises(VersionConflictError):
        zorder_rewrite(spark, tbl, ["event_id"], target_files=1,
                       base_version=0)


def test_versioned_table_vacuum(spark, tmp_path):
    from openlmis_distributions_etl_spark.sources.versioned import (
        read_versioned, vacuum_versioned, versions, write_versioned)
    import pytest

    t = load_tables(spark, SF0001, "events")
    base = t["events"].select("event_id")
    tbl = str(tmp_path / "vtab3")
    write_versioned(base.where("event_id < 300"), tbl, mode="overwrite")
    write_versioned(base.where("event_id >= 300"), tbl, mode="append")
    write_versioned(base.limit(50), tbl, mode="overwrite")
    n_before = len(list((tmp_path / "vtab3" / "data").rglob("*.parquet")))
    stats = vacuum_versioned(tbl, keep_versions=1)
    assert stats["kept_versions"] == [2]
    assert stats["removed_manifests"] == 2
    assert stats["removed_files"] > 0
    assert versions(tbl) == [2]
    assert read_versioned(spark, tbl).count() == 50  # survivor intact
    with pytest.raises(ValueError):
        read_versioned(spark, tbl, version=0)        # history gone
    n_after = len(list((tmp_path / "vtab3" / "data").rglob("*.parquet")))
    assert n_after < n_before


def test_versioned_data_skipping(spark, tmp_path):
    from openlmis_distributions_etl_spark.sources import versioned as V

    t = load_tables(spark, SF0001, "orders")
    base = t["orders"].select("o_orderkey", "o_totalprice")
    tbl = str(tmp_path / "vskip")
    # 4 files, each a disjoint orderkey range (repartitionByRange +
    # one file per partition) so min/max stats are selective
    ranged = base.repartitionByRange(4, "o_orderkey") \
        .sortWithinPartitions("o_orderkey")
    V.write_versioned(ranged, tbl, mode="overwrite")
    V.collect_stats(tbl, stat_cols=("o_orderkey",))
    m = V._read_manifest(tbl, 0)
    assert len(m["files"]) == 4 and all(
        "o_orderkey" in s for s in m["stats"].values())
    lo = base.agg(F.min("o_orderkey")).collect()[0][0]
    pruned = V.read_versioned_pruned(spark, tbl, "o_orderkey", lo, lo + 5)
    # only ONE of the four range files can contain the lowest keys
    assert len(pruned.inputFiles()) == 1
    want = base.where(F.col("o_orderkey").between(lo, lo + 5)).count()
    assert pruned.where(F.col("o_orderkey").between(lo, lo + 5)).count() == want
    # disjoint predicate prunes everything but stays schema-valid
    none = V.read_versioned_pruned(spark, tbl, "o_orderkey", -50, -10)
    assert none.count() == 0 and "o_totalprice" in none.columns


def test_versioned_change_feed(spark, tmp_path):
    from openlmis_distributions_etl_spark.sources import versioned as V

    t = load_tables(spark, SF0001, "events")
    base = t["events"].select("event_id")
    tbl = str(tmp_path / "vcdc")
    V.write_versioned(base.where("event_id < 400"), tbl, mode="overwrite")
    V.write_versioned(base.where("event_id >= 400 AND event_id < 700"),
                      tbl, mode="append")
    V.write_versioned(base.where("event_id >= 700"), tbl, mode="append")
    assert V.read_changes(spark, tbl, since_version=0).count() == 600
    assert V.read_changes(spark, tbl, 0, to_version=1).count() == 300
    assert V.read_changes(spark, tbl, since_version=2).count() == 0


def test_versioned_merge_upsert(spark, tmp_path):
    from openlmis_distributions_etl_spark.sources import versioned as V
    import pytest

    tbl = str(tmp_path / "vmerge")
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id long, name string, val double")
    V.write_versioned(base, tbl, mode="overwrite")
    updates = spark.createDataFrame(
        [(2, "b2", 21.0), (4, "d", 40.0)],
        "id long, name string, val double")
    v = V.merge_upsert_versioned(spark, tbl, updates, ["id"])
    got = {r["id"]: (r["name"], r["val"])
           for r in V.read_versioned(spark, tbl).collect()}
    assert v == 1
    assert got == {1: ("a", 10.0), 2: ("b2", 21.0),
                   3: ("c", 30.0), 4: ("d", 40.0)}
    # lost-update protection: merging against a stale base conflicts
    with pytest.raises(V.VersionConflictError):
        V.merge_upsert_versioned(spark, tbl, updates, ["id"],
                                 base_version=0)


def test_versioned_schema_evolution(spark, tmp_path):
    from openlmis_distributions_etl_spark.sources import versioned as V

    tbl = str(tmp_path / "vevolve")
    V.write_versioned(
        spark.createDataFrame([(1, "a")], "id long, name string"),
        tbl, mode="overwrite")
    V.write_versioned(
        spark.createDataFrame([(2, "b", 9.5)],
                              "id long, name string, score double"),
        tbl, mode="append")
    latest = V.read_versioned(spark, tbl)
    assert set(latest.columns) == {"id", "name", "score"}
    rows = {r["id"]: r["score"] for r in latest.collect()}
    assert rows == {1: None, 2: 9.5}        # old files null-fill
    v0 = V.read_versioned(spark, tbl, version=0)
    assert set(v0.columns) == {"id", "name"}  # time travel keeps old schema


def test_versioned_zorder_prunes_on_both_columns(spark, tmp_path):
    from openlmis_distributions_etl_spark.sources import versioned as V

    t = load_tables(spark, SF0001, "orders")
    base = t["orders"].select("o_orderkey", "o_totalprice")
    n_rows = base.count()

    # linear layout: ranged+sorted on orderkey only — the second
    # dimension's stats are full-range in every file, so a price
    # predicate prunes NOTHING
    lin = str(tmp_path / "linear")
    V.write_versioned(
        base.repartitionByRange(8, "o_orderkey")
            .sortWithinPartitions("o_orderkey"),
        lin, mode="overwrite")
    V.collect_stats(lin, stat_cols=("o_orderkey", "o_totalprice"))

    zt = str(tmp_path / "zordered")
    V.write_versioned(base, zt, mode="overwrite")
    v = V.zorder_rewrite(spark, zt, ["o_orderkey", "o_totalprice"],
                         target_files=8)
    assert v == 1
    m = V._read_manifest(zt, v)
    assert len(m["files"]) == 8

    # rewrite preserves content exactly
    got = sorted(map(tuple, V.read_versioned(spark, zt).collect()))
    want = sorted(map(tuple, base.collect()))
    assert got == want and len(got) == n_rows

    lo_k = base.agg(F.min("o_orderkey")).collect()[0][0]
    key_win = (lo_k, lo_k + 50)
    # MID-range window (~10% of the price span): at the extremes even
    # a random layout prunes by min/max luck; mid-range, a layout not
    # clustered on price has every file spanning the window
    price_win = (200_000.0, 250_000.0)

    def n_files(tbl, col, win):
        df = V.read_versioned_pruned(spark, tbl, col, *win)
        return len(df.inputFiles())

    # linear layout: perfect on its sort key, useless on price
    assert n_files(lin, "o_orderkey", key_win) == 1
    assert n_files(lin, "o_totalprice", price_win) == 8
    # z-order: BOTH dimensions prune (the multi-dim clustering payoff);
    # neither is as tight as a dedicated single-column sort, but no
    # dimension degrades to a full scan
    zk = n_files(zt, "o_orderkey", key_win)
    zp = n_files(zt, "o_totalprice", price_win)
    assert zk < 8 and zp < 8, (zk, zp)
    # and pruned reads return exactly the matching rows
    pruned = V.read_versioned_pruned(spark, zt, "o_totalprice", *price_win)
    want_n = base.where(F.col("o_totalprice").between(*price_win)).count()
    assert pruned.where(
        F.col("o_totalprice").between(*price_win)).count() == want_n


def test_embedding_dim_contract(spark, tmp_path):
    """A re-provisioned embeddings table with a different vector width
    must fail at load with the table/column/width named (the
    timestamp-layout lesson applied to the other driver-owned physical
    detail), and the real testdata must pass the same gate."""
    import pytest as _pytest

    bad = spark.createDataFrame(
        [(1, [0.1] * 8, "a")], "vec_id long, embedding array<float>, "
                               "label string")
    bad.write.parquet(str(tmp_path / "embeddings.parquet"))
    with _pytest.raises(TypeError, match="embedding.*width 8"):
        load_table(spark, str(tmp_path), "embeddings")
    ok = load_table(spark, SF0001, "embeddings")
    assert ok.select(F.size("embedding")).first()[0] == 64


def test_versioned_shallow_clone(spark, tmp_path):
    from openlmis_distributions_etl_spark.sources import versioned as V

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    base = load_tables(spark, SF0001, "nation")["nation"]
    V.write_versioned(base, src, mode="overwrite")
    v = V.clone_versioned(src, dst)
    assert v == 0
    # zero-copy: the clone's data dir does not exist yet
    import os
    assert not os.path.isdir(f"{dst}/data")
    got = sorted(map(tuple, V.read_versioned(spark, dst).collect()))
    want = sorted(map(tuple, base.collect()))
    assert got == want
    # the clone evolves independently; the source is untouched
    extra = base.limit(3)
    V.write_versioned(extra, dst, mode="append")
    assert V.read_versioned(spark, dst).count() == len(want) + 3
    assert V.read_versioned(spark, src).count() == len(want)
    # re-cloning onto an existing table refuses loudly
    import pytest as _pytest
    with _pytest.raises(V.VersionConflictError):
        V.clone_versioned(src, dst)


def test_binary_file_source_reads_blobs(spark, tmp_path):
    from openlmis_distributions_etl_spark.sources.files import (
        read_binary_files)

    blobs = {"a.bin": b"\x89PNG\r\n" + bytes(range(64)),
             "b.bin": b"RIFF" + b"\x00" * 32,
             "skip.txt": b"not a blob"}
    for name, payload in blobs.items():
        (tmp_path / name).write_bytes(payload)
    df = read_binary_files(spark, str(tmp_path), glob="*.bin")
    rows = {r["path"].rsplit("/", 1)[-1]: r for r in df.collect()}
    assert set(rows) == {"a.bin", "b.bin"}
    assert bytes(rows["a.bin"]["content"]) == blobs["a.bin"]
    assert rows["b.bin"]["length"] == len(blobs["b.bin"])
    # metadata-only projection never deserializes content
    meta = read_binary_files(spark, str(tmp_path), glob="*.bin") \
        .select("path", "length")
    assert meta.count() == 2


def test_read_evolved_merges_versions_and_widens(spark, tmp_path):
    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType)
    from openlmis_distributions_etl_spark.sources.files import read_evolved
    p = str(tmp_path / "evolved")
    # v1: (k int, v float), before the metric column existed
    spark.createDataFrame([(1, 1.5), (2, 2.5)], "k int, v float") \
        .write.parquet(p + "/batch=1")
    # v2: k widened to bigint, v to double, new metric column
    spark.createDataFrame([(3_000_000_000, 3.5, "m3")],
                          "k bigint, v double, metric string") \
        .write.parquet(p + "/batch=2")
    target = StructType([
        StructField("k", LongType()),
        StructField("v", DoubleType()),
        StructField("metric", StringType()),
    ])
    rows = sorted(
        (r["k"], r["v"], r["metric"])
        for r in read_evolved(spark, [p + "/batch=1", p + "/batch=2"],
                              target).collect())
    assert rows == [(1, 1.5, None), (2, 2.5, None),
                    (3_000_000_000, 3.5, "m3")]


def test_read_evolved_rejects_narrowing(spark, tmp_path):
    import pytest
    from pyspark.sql.types import IntegerType, StructField, StructType
    from openlmis_distributions_etl_spark.sources.files import read_evolved
    p = str(tmp_path / "narrow")
    spark.createDataFrame([(3_000_000_000,)], "k bigint").write.parquet(p)
    with pytest.raises(TypeError, match="safe widening"):
        read_evolved(spark, p, StructType([StructField("k", IntegerType())]))


def test_versioned_row_delete_prunes_files(spark, tmp_path):
    """DELETE rewrites only the files containing matching rows; the
    rest carry over by reference (same path in the new manifest)."""
    from openlmis_distributions_etl_spark.sources.versioned import (
        _read_manifest, delete_versioned, read_versioned,
        write_versioned)

    t = load_tables(spark, SF0001, "events")
    base = t["events"].select("event_id", "user_id")
    tbl = str(tmp_path / "vdel")
    write_versioned(base.where("event_id < 500").repartition(2),
                    tbl, mode="overwrite")
    write_versioned(base.where("event_id >= 500").repartition(2),
                    tbl, mode="append")
    before = _read_manifest(tbl, 1)["files"]
    # every matching row lives in the second commit's files
    res = delete_versioned(spark, tbl, "event_id >= 900")
    assert res["version"] == 2
    assert res["rewritten_files"] == 2 and res["carried_files"] == 2
    after = _read_manifest(tbl, 2)["files"]
    carried = [f for f in after if f in before]
    assert len(carried) == 2           # v0's files untouched
    got = read_versioned(spark, tbl)
    assert got.count() == 900
    assert got.where("event_id >= 900").count() == 0
    # time travel still sees the pre-delete snapshot
    assert read_versioned(spark, tbl, version=1).count() == 1000
    # no-op delete publishes nothing
    res2 = delete_versioned(spark, tbl, "event_id >= 900")
    assert res2["version"] == 2 and res2["rewritten_files"] == 0


def test_versioned_delete_keeps_null_predicate_rows(spark, tmp_path):
    """SQL DELETE semantics: rows where the predicate is NULL stay."""
    from openlmis_distributions_etl_spark.sources.versioned import (
        delete_versioned, read_versioned, write_versioned)

    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 99.0)], "id INT, v DOUBLE")
    tbl = str(tmp_path / "vdelnull")
    write_versioned(df, tbl, mode="overwrite")
    delete_versioned(spark, tbl, "v > 50")
    left = {r["id"] for r in read_versioned(spark, tbl).collect()}
    assert left == {1, 2}


def test_versioned_bloom_point_lookup(spark, tmp_path):
    """The per-file Bloom index prunes files for a point lookup (no
    false negatives: the probe always finds its row)."""
    from openlmis_distributions_etl_spark.sources.versioned import (
        collect_bloom, read_versioned_point, write_versioned)

    t = load_tables(spark, SF0001, "events")
    base = t["events"].select("event_id", "user_id")
    tbl = str(tmp_path / "vbloom")
    # 4 commits of 250 ids each -> disjoint files
    for lo in range(0, 1000, 250):
        write_versioned(
            base.where(f"event_id >= {lo} AND event_id < {lo + 250}")
            .coalesce(1),
            tbl, mode="overwrite" if lo == 0 else "append")
    collect_bloom(spark, tbl, "event_id")
    hit = read_versioned_point(spark, tbl, "event_id", 7)
    rows = hit.collect()
    assert len(rows) == 1 and rows[0]["event_id"] == 7
    # pruning really happened: the planned scan reads fewer files
    # than the table holds (bloom admits ~1 of 4 + fp tail)
    n_files = len(hit.inputFiles())
    assert n_files < 4
    # absent key: usually prunes everything, never errors
    assert read_versioned_point(spark, tbl, "event_id", 10**9) \
        .count() == 0


def test_versioned_commits_keep_carried_file_metadata(spark, tmp_path):
    """An append, a DELETE and a RESTORE carry every untouched file's
    min/max stats and Bloom filter into the new manifest, so pruned
    and point reads still skip those files; new files have none and
    are read."""
    from openlmis_distributions_etl_spark.sources import versioned as V

    tbl = str(tmp_path / "vcarry")
    # 4 files of even ids (0..798), one disjoint range each
    V.write_versioned(spark.range(0, 800, 2).repartitionByRange(4, "id"),
                      tbl, mode="overwrite")
    V.collect_stats(tbl, stat_cols=("id",))
    V.collect_bloom(spark, tbl, "id")

    def opened():
        # [0, 5] lies in the first file's range; 9 does too, but no
        # file holds it, so only its Bloom filter can skip that file
        return (len(V.read_versioned_pruned(spark, tbl, "id", 0, 5)
                    .inputFiles()),
                len(V.read_versioned_point(spark, tbl, "id", 9)
                    .inputFiles()))

    assert opened() == (1, 0)
    V.write_versioned(spark.range(1000, 1010).coalesce(1), tbl,
                      mode="append")
    assert opened() == (2, 1)      # + the appended file
    assert V.delete_versioned(spark, tbl, "id = 798")["version"] == 2
    assert opened() == (3, 2)      # + the rewritten file
    assert V.restore_versioned(tbl, 0) == 3
    assert opened() == (1, 0)
    m = V._read_manifest(tbl, 3)
    assert set(m["bloom"]["id"]) == set(m["stats"]) == set(m["files"])


def test_versioned_entry_points_share_one_error_rule(spark, tmp_path):
    """Every public reader and writer that takes a table path or a
    version raises FileNotFoundError on a path with no versions and
    ValueError on a version that was never committed. (``versions``,
    ``table_history`` and ``vacuum_versioned`` list a missing table as
    empty.)"""
    from openlmis_distributions_etl_spark.sources import versioned as V

    df = spark.createDataFrame([(1, 1.0)], "id long, v double")
    tbl = str(tmp_path / "tbl")
    V.write_versioned(df, tbl, mode="overwrite")
    # name -> (call, kind): "latest" takes an optional version (None
    # is the latest), "pinned" a required one, None no version at all.
    # write_versioned is "pinned": without base_version it creates
    cases = {
        "write_versioned": (lambda p, v: V.write_versioned(
            df, p, base_version=v), "pinned"),
        "read_versioned": (lambda p, v: V.read_versioned(spark, p, v),
                           "latest"),
        "collect_stats": (lambda p, v: V.collect_stats(p, v, ("id",)),
                          "latest"),
        "read_versioned_pruned": (lambda p, v: V.read_versioned_pruned(
            spark, p, "id", 0, 1, version=v), "latest"),
        "changed_files(since)": (lambda p, v: V.changed_files(p, v),
                                 "pinned"),
        "changed_files(to)": (lambda p, v: V.changed_files(p, 0, v),
                              "latest"),
        "changed_rows": (lambda p, v: V.changed_rows(p, v), "pinned"),
        "read_changes(since)": (lambda p, v: V.read_changes(spark, p, v),
                                "pinned"),
        "read_changes(to)": (lambda p, v: V.read_changes(spark, p, 0, v),
                             "latest"),
        "merge_upsert_versioned": (lambda p, v: V.merge_upsert_versioned(
            spark, p, df, ["id"], base_version=v), "latest"),
        "zorder_rewrite": (lambda p, v: V.zorder_rewrite(
            spark, p, ["id"], base_version=v), "latest"),
        "delete_versioned": (lambda p, v: V.delete_versioned(
            spark, p, "id = 1", base_version=v), "latest"),
        "collect_bloom": (lambda p, v: V.collect_bloom(spark, p, "id", v),
                          "latest"),
        "read_versioned_point": (lambda p, v: V.read_versioned_point(
            spark, p, "id", 1, version=v), "latest"),
        "diff_versions(from)": (lambda p, v: V.diff_versions(
            spark, p, v, 0, ["id"]), "pinned"),
        "diff_versions(to)": (lambda p, v: V.diff_versions(
            spark, p, 0, v, ["id"]), "pinned"),
        "restore_versioned": (lambda p, v: V.restore_versioned(p, v),
                              "pinned"),
        "clone_versioned": (lambda p, v: V.clone_versioned(
            p, str(tmp_path / "clone")), None),
        "optimize_versioned": (lambda p, v: V.optimize_versioned(spark, p),
                               None),
    }
    missing = str(tmp_path / "missing")
    pinned = [(missing, 0, FileNotFoundError), (tbl, 7, ValueError)]
    probes = {None: [(missing, None, FileNotFoundError)],
              "pinned": pinned,
              "latest": [(missing, None, FileNotFoundError)] + pinned}
    wrong = []
    for name, (call, kind) in cases.items():
        for path, version, want in probes[kind]:
            try:
                call(path, version)
                wrong.append((name, version, want.__name__, "no error"))
            except Exception as e:       # noqa: BLE001 — the type is checked
                if type(e) is not want:
                    wrong.append((name, version, want.__name__, repr(e)))
    assert wrong == []
    assert V.versions(tbl) == [0]      # no probe committed anything


def test_lazy_tables_load_on_first_use(spark, tmp_path):
    """``load_tables`` is a read-only mapping over the whole catalog
    that reads a table's footer only when the table is looked up."""
    from openlmis_distributions_etl_spark.sources.tables import TABLES

    (tmp_path / "region.parquet").symlink_to(f"{SF0001}/region.parquet")
    sf = str(tmp_path)

    def loaded():
        return sorted(n for d, n in getattr(
            spark, "_openlmis_table_cache", {}) if d == sf)

    t = load_tables(spark, sf)
    assert list(t) == list(TABLES) and len(t) == len(TABLES)
    assert "region" in t and "nope" not in t and t.get("nope") is None
    with pytest.raises(KeyError):
        t["nope"]
    assert loaded() == []
    assert t["region"].count() == 5 and t["region"] is t["region"]
    assert loaded() == ["region"]


def test_csv_quarantine_ingest(spark, tmp_path):
    """Malformed CSV rows land in the quarantine parquet with their
    raw line; clean rows come back typed with the audit column
    dropped — nothing silently lost or silently poured in."""
    from pyspark.sql.types import (IntegerType, StringType, StructField,
                                   StructType)

    from openlmis_distributions_etl_spark.sources.files import (
        ingest_csv_with_quarantine)

    src = tmp_path / "in.csv"
    src.write_text(
        "id,name,qty\n"
        "1,ok,10\n"
        "2,bad,notanumber\n"
        "3,ok,30\n"
        "4,alsobad,12,EXTRA\n")
    schema = StructType([
        StructField("id", IntegerType()),
        StructField("name", StringType()),
        StructField("qty", IntegerType())])
    qdir = str(tmp_path / "quarantine")
    clean = ingest_csv_with_quarantine(
        spark, str(src), schema, qdir)
    got = sorted(r["id"] for r in clean.collect())
    assert got == [1, 3]
    assert "_corrupt_record" not in clean.columns
    bad = spark.read.parquet(qdir)
    lines = sorted(r["_corrupt_record"] for r in bad.collect())
    assert lines == ["2,bad,notanumber", "4,alsobad,12,EXTRA"]


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed the same way must hash-join (sort-merge)
    with ZERO Exchange and zero extra Sort on the probe side — the
    co-located-join layout the bucketed writer exists for."""
    from openlmis_distributions_etl_spark.sources import load_tables
    from openlmis_distributions_etl_spark.sources.sinks import (
        read_table, write_bucketed_table)

    t = load_tables(spark, "/root/testdata/sf0.001")
    write_bucketed_table(
        t["orders"].select("o_orderkey", "o_custkey", "o_totalprice"),
        "bkt_orders", ["o_custkey"], 8)
    write_bucketed_table(
        t["customer"].select("c_custkey", "c_mktsegment"),
        "bkt_customer", ["c_custkey"], 8)
    try:
        o = read_table(spark, "bkt_orders")
        c = read_table(spark, "bkt_customer")
        with_smj = {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.enabled": "false",
        }
        saved = {k: spark.conf.get(k) for k in with_smj}
        for k, v in with_smj.items():
            spark.conf.set(k, v)
        try:
            j = o.join(c, o["o_custkey"] == c["c_custkey"])
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan, plan
            assert j.count() == t["orders"].count()
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_orders")
        spark.sql("DROP TABLE IF EXISTS bkt_customer")


def test_table_history_tracks_commits(spark, tmp_path):
    from openlmis_distributions_etl_spark.sources import load_tables
    from openlmis_distributions_etl_spark.sources.versioned import (
        merge_upsert_versioned, table_history, write_versioned)

    t = load_tables(spark, "/root/testdata/sf0.001")
    p = str(tmp_path / "tbl")
    write_versioned(t["region"], p, txn="load-1")
    write_versioned(t["region"], p, mode="append", txn="load-2")
    merge_upsert_versioned(spark, p, t["region"], ["r_regionkey"])
    h = table_history(p)
    assert [x["version"] for x in h] == [0, 1, 2]
    assert h[0]["txn"] == "load-1" and h[0]["mode"] == "append"
    assert h[1]["n_files"] > h[0]["n_files"]          # append grows
    assert h[1]["n_files_added"] == h[1]["n_files"] - h[0]["n_files"]
    assert h[2]["mode"] == "overwrite"                 # merge rewrites


def test_versioned_schema_evolution_contract(spark, tmp_path):
    """Appending with an ADDED column widens (old rows read as typed
    NULLs); appending with a CHANGED column type fails loudly."""
    import pytest

    from openlmis_distributions_etl_spark.sources.versioned import (
        read_versioned, write_versioned)

    p = str(tmp_path / "tbl")
    a = spark.createDataFrame([(1, "x")], "id long, name string")
    write_versioned(a, p)
    b = spark.createDataFrame([(2, "y", 9.5)],
                              "id long, name string, score double")
    write_versioned(b, p, mode="append")
    got = read_versioned(spark, p)
    assert set(got.columns) == {"id", "name", "score"}
    rows = {r["id"]: r["score"] for r in got.collect()}
    assert rows == {1: None, 2: 9.5}

    bad = spark.createDataFrame([(3, 7)], "id long, name long")
    with pytest.raises(TypeError, match="changes type"):
        write_versioned(bad, p, mode="append")


def test_versioned_delete_and_clone_keep_schema_contract(spark, tmp_path):
    """A DELETE commit and a shallow clone's v0 carry their base's
    table schema, so a later append that changes a column's type is
    still refused."""
    from openlmis_distributions_etl_spark.sources.versioned import (
        clone_versioned, delete_versioned, write_versioned)

    def delete(p):
        assert delete_versioned(spark, p, "id = 2")["version"] == 1
        return p

    def clone(p):
        clone_versioned(p, p + "-clone")
        return p + "-clone"

    for op in (delete, clone):
        p = str(tmp_path / op.__name__)
        write_versioned(spark.createDataFrame(
            [(1, "x"), (2, "y")], "id long, name string"), p)
        bad = spark.createDataFrame([(3, 7)], "id long, name long")
        with pytest.raises(TypeError, match="changes type"):
            write_versioned(bad, op(p), mode="append")


def _evolved_table(spark, p: str) -> None:
    """v0: an overwrite (one non-nullable column); v1: an append that
    adds a column."""
    from openlmis_distributions_etl_spark.sources.versioned import (
        write_versioned)

    write_versioned(spark.createDataFrame(
        [(1, "x")], "id long not null, name string"), p, mode="overwrite")
    write_versioned(spark.createDataFrame(
        [(2, "y", 9.5)], "id long, name string, score double"), p,
        mode="append")


def test_versioned_reads_match_merged_footer_schema(spark, tmp_path):
    """Reads take the manifest's table schema; it must be the schema a
    mergeSchema footer read of the same files gives (names, order,
    types, nullability), at every version and for the change feed —
    also after an append that omits a column the table has."""
    from openlmis_distributions_etl_spark.sources.versioned import (
        _read_manifest, changed_files, read_changes, read_versioned,
        write_versioned)

    p = str(tmp_path / "tbl")
    _evolved_table(spark, p)
    write_versioned(spark.createDataFrame(
        [(3, "z")], "id long, name string"), p, mode="append")

    def cols(schema):
        return [(f.name, f.dataType, f.nullable) for f in schema.fields]

    def merged(files):
        return cols(spark.read.option("mergeSchema", "true")
                    .parquet(*[f"{p}/{f}" for f in files]).schema)

    for v in (2, 1, 0):
        assert (cols(read_versioned(spark, p, version=v).schema)
                == merged(_read_manifest(p, v)["files"])), v
    assert (cols(read_versioned(spark, p).schema)
            == merged(_read_manifest(p, 2)["files"]))
    assert [c[0] for c in cols(read_versioned(spark, p).schema)] == [
        "id", "name", "score"]
    assert (cols(read_changes(spark, p, 0).schema)
            == merged(changed_files(p, 0)))


def test_versioned_legacy_manifest_reads_merged_footer_schema(spark,
                                                               tmp_path):
    """A manifest written before manifests recorded the table schema
    holds only its last commit's ``schema``. Reads take the table
    schema from the files' footers, so a column the last append left
    out survives; the append type check covers that column too; and
    the next append records the table schema."""
    import json

    from openlmis_distributions_etl_spark.sources.versioned import (
        _read_manifest, read_changes, read_versioned, write_versioned)

    p = str(tmp_path / "tbl")
    commits = [("id long, name string", (1, "x"), "overwrite"),
               ("id long, name string, score double", (2, "y", 9.5),
                "append"),
               ("id long, name string", (3, "z"), "append")]
    for v, (ddl, row, mode) in enumerate(commits):
        write_versioned(spark.createDataFrame([row], ddl), p, mode=mode)
        log = tmp_path / "tbl" / "_log" / f"v{v:08d}.json"
        m = json.loads(log.read_text())
        del m["table_schema"]
        m["schema"] = spark.createDataFrame([], ddl).schema.json()
        log.write_text(json.dumps(m))

    merged = (spark.read.option("mergeSchema", "true")
              .parquet(*[f"{p}/{f}" for f in _read_manifest(p, 2)["files"]])
              .schema)
    got = read_versioned(spark, p)
    assert got.schema == merged
    assert got.columns == ["id", "name", "score"]
    assert sorted(tuple(r) for r in got.collect()) == [
        (1, "x", None), (2, "y", 9.5), (3, "z", None)]
    assert read_changes(spark, p, 1).schema == merged
    with pytest.raises(TypeError, match="changes type"):
        write_versioned(spark.createDataFrame(
            [(4, "w")], "id long, score string"), p, mode="append")
    v = write_versioned(spark.createDataFrame(
        [(4, "w")], "id long, name string"), p, mode="append")
    assert StructType.fromJson(json.loads(
        _read_manifest(p, v)["table_schema"])) == merged


def test_versioned_reads_start_no_job(spark, tmp_path):
    """Planning a versioned read opens no footer: read_versioned,
    read_changes and an empty-feed read_changes start no Spark job."""
    from openlmis_distributions_etl_spark.sources.versioned import (
        read_changes, read_versioned)

    p = str(tmp_path / "tbl")
    _evolved_table(spark, p)
    sc = spark.sparkContext
    group = f"versioned-reads-{tmp_path.name}"
    sc.setJobGroup(group, "versioned reads")
    try:
        frames = [read_versioned(spark, p), read_changes(spark, p, 0),
                  read_changes(spark, p, 1)]
        assert [len(df.schema) for df in frames] == [3, 3, 3]
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        # the tracker sees this group's jobs once an action runs
        assert [df.count() for df in frames] == [2, 1, 0]
        assert sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_sql_frontend_views_and_functions(spark):
    """register_views + register_sql_functions make ad-hoc spark.sql
    work against the normalized source layer with the engine's vector
    helpers inline; cosine_sim must agree with the DataFrame-side
    cosine fold bit-for-bit."""
    from openlmis_distributions_etl_spark.functions import (
        register_sql_functions)
    from openlmis_distributions_etl_spark.operators.similarity import (
        cosine)
    from openlmis_distributions_etl_spark.sources import load_tables
    from openlmis_distributions_etl_spark.sources.tables import (
        register_views)

    assert "events" in register_views(spark, "/root/testdata/sf0.001")
    assert register_sql_functions(spark) == [
        "cosine_sim", "l2_norm_sql", "stable_bucket"]
    # ad-hoc SQL over a normalized view (ts readable as timestamp)
    n = spark.sql(
        "SELECT COUNT(*) AS n FROM events "
        "WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'").collect()[0]["n"]
    assert n > 0
    got = spark.sql(
        "SELECT e.vec_id, cosine_sim(e.embedding, q.embedding) AS cs "
        "FROM embeddings e, (SELECT embedding FROM embeddings "
        "WHERE vec_id = 0) q WHERE e.vec_id = 7").collect()[0]["cs"]
    t = load_tables(spark, "/root/testdata/sf0.001", "embeddings")
    e = t["embeddings"]
    q = e.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q"))
    want = (e.where(F.col("vec_id") == 7).crossJoin(q)
            .select(cosine(F.col("embedding"), F.col("q")).alias("cs"))
            .collect()[0]["cs"])
    assert got == want


def test_optimize_versioned_compacts_and_vacuums(spark, tmp_path):
    """OPTIMIZE: many-file table → target_files files in one new
    version; expired versions' orphan files removed; data identical."""
    from openlmis_distributions_etl_spark.sources import load_tables
    from openlmis_distributions_etl_spark.sources.versioned import (
        optimize_versioned, read_versioned, table_history,
        write_versioned)

    t = load_tables(spark, "/root/testdata/sf0.001")
    p = str(tmp_path / "tbl")
    # 5 fragmented appends
    for i in range(5):
        write_versioned(
            t["orders"].where(F.col("o_orderkey") % 5 == i)
            .repartition(4), p, mode="append")
    want = read_versioned(spark, p).count()
    res = optimize_versioned(spark, p, zorder_cols=None,
                             target_files=2, keep_versions=1)
    assert res["n_files_before"] >= 20
    assert res["n_files_after"] == 2
    assert res["removed_files"] > 0
    assert read_versioned(spark, p).count() == want
    assert [h["version"] for h in table_history(p)] == [res["version"]]


def test_diff_versions_gdpr_erasure_story(spark, tmp_path):
    """Snapshot diff across a user-erasure delete: only the erased
    user's rows appear (as 'deleted'), files shared by both manifests
    are never scanned, and time travel still serves the pre-erasure
    snapshot until vacuum."""
    from openlmis_distributions_etl_spark.sources.versioned import (
        delete_versioned, diff_versions, read_versioned,
        write_versioned)

    t = load_tables(spark, SF0001, "events")
    base = t["events"].select("event_id", "user_id", "value")
    tbl = str(tmp_path / "vgdpr")
    write_versioned(base.where("event_id < 500").repartition(2),
                    tbl, mode="overwrite")
    write_versioned(base.where("event_id >= 500").repartition(2),
                    tbl, mode="append")
    victim = base.where("event_id >= 500").select("user_id").first()[0]
    n_victim = base.where(f"user_id = {victim}").count()
    res = delete_versioned(spark, tbl, f"user_id = {victim}")
    assert res["version"] == 2

    d = diff_versions(spark, tbl, 1, 2, keys=["event_id"])
    rows = d.collect()
    assert all(r["change_type"] == "deleted" for r in rows)
    assert len(rows) == n_victim
    erased_ids = {r["event_id"] for r in rows}
    want_ids = {r["event_id"] for r in
                base.where(f"user_id = {victim}").collect()}
    assert erased_ids == want_ids
    # time travel: pre-erasure snapshot still has the user
    old = read_versioned(spark, tbl, version=1)
    assert old.where(f"user_id = {victim}").count() == n_victim
    assert (read_versioned(spark, tbl)
            .where(f"user_id = {victim}").count()) == 0


def test_diff_versions_update_and_insert(spark, tmp_path):
    """Upserts surface as 'updated' (key in both, payload changed)
    and 'inserted'; copy-on-write rows that moved files unchanged
    cancel out of the diff."""
    from openlmis_distributions_etl_spark.sources.versioned import (
        diff_versions, merge_upsert_versioned, write_versioned)

    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0)], "id INT, v DOUBLE")
    tbl = str(tmp_path / "vdiffup")
    write_versioned(df.repartition(1), tbl, mode="overwrite")
    upd = spark.createDataFrame([(2, 99.0), (9, 90.0)], "id INT, v DOUBLE")
    merge_upsert_versioned(spark, tbl, upd, key_cols=["id"])
    d = {r["id"]: r["change_type"]
         for r in diff_versions(spark, tbl, 0, 1, keys=["id"]).collect()}
    assert d == {2: "updated", 9: "inserted"}


def test_restore_versioned_rolls_back_metadata_only(spark, tmp_path):
    """RESTORE publishes a new version referencing the old files —
    the bad version stays time-travelable, nothing is copied, and a
    restore to a vacuumed version fails loudly."""
    from openlmis_distributions_etl_spark.sources.versioned import (
        _read_manifest, read_versioned, restore_versioned,
        vacuum_versioned, write_versioned)

    df = spark.createDataFrame([(i, float(i)) for i in range(100)],
                               "id INT, v DOUBLE")
    tbl = str(tmp_path / "vrestore")
    write_versioned(df.repartition(1), tbl, mode="overwrite")
    bad = spark.createDataFrame([(999, -1.0)], "id INT, v DOUBLE")
    write_versioned(bad.repartition(1), tbl, mode="append")
    assert read_versioned(spark, tbl).count() == 101
    new_v = restore_versioned(tbl, 0)
    assert new_v == 2
    assert read_versioned(spark, tbl).count() == 100
    # metadata-only: restored manifest references v0's files
    assert (_read_manifest(tbl, 2)["files"]
            == _read_manifest(tbl, 0)["files"])
    # the bad version remains for forensics
    assert read_versioned(spark, tbl, version=1).count() == 101
    # vacuum keeps only the live version's files; restore to the
    # now-dangling v1 must refuse
    vacuum_versioned(tbl, keep_versions=1)
    import pytest as _pytest
    with _pytest.raises((FileNotFoundError, Exception)):
        restore_versioned(tbl, 1)


def _avro_schema():
    from pyspark.sql.types import (BinaryType, BooleanType, DoubleType,
                                   StructField, StructType)
    return StructType([
        StructField("id", LongType(), False),
        StructField("name", StringType(), True),
        StructField("score", DoubleType(), True),
        StructField("flag", BooleanType(), True),
        StructField("payload", BinaryType(), True),
        StructField("small", IntegerType(), True),
    ])


def _norm(rows):
    return sorted(
        tuple(bytes(x) if isinstance(x, (bytes, bytearray)) else x
              for x in r) for r in rows)


@pytest.mark.parametrize("codec", ["null", "deflate", "snappy"])
def test_avro_roundtrip_no_jar(spark, tmp_path, codec):
    """The spec-derived no-jar Avro lane: nullable unions, unicode,
    binary, int/long/double/boolean survive a write->read round-trip
    under both supported codecs; a declared-subset read prunes."""
    from openlmis_distributions_etl_spark.sources import avro as A
    schema = _avro_schema()
    rows = [(1, "alice", 1.5, True, bytearray(b"\x00\x01"), 7),
            (2, None, -2.25, False, None, None),
            (3, "böb", None, None, bytearray(b""), -42),
            (4, "d", 0.0, True, bytearray(b"xyz"), 2**31 - 1)]
    df = spark.createDataFrame(rows, schema).repartition(2)
    out = str(tmp_path / codec)
    A.write_avro_files(df, out, codec=codec)
    back = A.read_avro(spark, out, schema)
    assert _norm(back.collect()) == _norm(df.collect())
    sub = A.read_avro(spark, out, StructType(
        [StructField("id", LongType()), StructField("name",
                                                    StringType())]))
    assert sorted(map(tuple, sub.collect())) == [
        (1, "alice"), (2, None), (3, "böb"), (4, "d")]


def test_avro_reads_hand_assembled_spec_bytes(spark, tmp_path):
    """Interop pin INDEPENDENT of our writer: a container file
    hand-assembled byte-by-byte from the public Avro spec (magic,
    metadata map, sync-framed null-codec block, zigzag varints,
    length-prefixed utf8) decodes to exactly the spec'd records."""
    from openlmis_distributions_etl_spark.sources import avro as A
    schema_json = (b'{"type":"record","name":"r","fields":'
                   b'[{"name":"a","type":"long"},'
                   b'{"name":"b","type":"string"}]}')
    sync = b"0123456789abcdef"

    def zz(v: int) -> bytes:  # zigzag varint, spec-side
        u = (v << 1) ^ (v >> 63) if v >= 0 else ((-v - 1) << 1 | 1)
        out = bytearray()
        while True:
            b, u = u & 0x7F, u >> 7
            out.append(b | 0x80 if u else b)
            if not u:
                return bytes(out)

    payload = zz(1) + zz(1) + b"x" + zz(-2) + zz(2) + b"yz"
    blob = (b"Obj\x01" + zz(2)
            + zz(11) + b"avro.schema" + zz(len(schema_json))
            + schema_json
            + zz(10) + b"avro.codec" + zz(4) + b"null"
            + zz(0) + sync
            + zz(2) + zz(len(payload)) + payload + sync)
    p = tmp_path / "hand"
    p.mkdir()
    (p / "f.avro").write_bytes(blob)
    got = A.read_avro(spark, str(p), StructType(
        [StructField("a", LongType()), StructField("b", StringType())]))
    assert sorted(map(tuple, got.collect())) == [(-2, "yz"), (1, "x")]


def test_avro_rejects_bad_magic_and_missing_column(spark, tmp_path):
    from openlmis_distributions_etl_spark.sources import avro as A
    p = tmp_path / "bad"
    p.mkdir()
    (p / "f.avro").write_bytes(b"PAR1not-avro")
    with pytest.raises(Exception, match="bad magic"):
        A.read_avro(spark, str(p), StructType(
            [StructField("a", LongType())])).collect()
    df = spark.createDataFrame([(1,)], "a long")
    out = str(tmp_path / "ok")
    A.write_avro_files(df, out)
    with pytest.raises(Exception, match="not in avro writer schema"):
        A.read_avro(spark, out, StructType(
            [StructField("zz", LongType())])).collect()


def test_snappy_codec_pure_python_units():
    """The pure-python snappy pair: the literal-only encoder round-
    trips through the full decoder, and the decoder replays REAL
    compressor output — hand-assembled tag streams with 1-byte and
    2-byte-offset copies, including the overlapping RLE copy
    (offset < length) the spec calls out."""
    from openlmis_distributions_etl_spark.sources.avro import (
        _snappy_compress_literals, _snappy_decompress)

    for data in [b"", b"x", b"hello world" * 50, bytes(range(256)) * 300]:
        assert _snappy_decompress(_snappy_compress_literals(data)) == data

    # varint(11), literal(5) "abcde", copy-1byte(len 5, off 5),
    # literal(1) "!" -> "abcdeabcde!"
    hand = bytes([11, (5 - 1) << 2]) + b"abcde" \
        + bytes([((5 - 4) << 2) | 1 | (0 << 5), 5]) + bytes([0]) + b"!"
    assert _snappy_decompress(hand) == b"abcdeabcde!"

    # overlapping copy: literal "ab", then len-6 copy at offset 2 ->
    # "ab" + "ababab" (RLE semantics); 2-byte-offset form (tag&3==2)
    hand2 = bytes([8, (2 - 1) << 2]) + b"ab" \
        + bytes([((6 - 1) << 2) | 2]) + (2).to_bytes(2, "little")
    assert _snappy_decompress(hand2) == b"abababab"

    import pytest as _pytest
    with _pytest.raises(ValueError, match="bad copy offset"):
        _snappy_decompress(bytes([4, ((4 - 4) << 2) | 1, 9]))


def test_avro_roundtrip_logical_and_nested(spark, tmp_path):
    """Round 7 scope: date / timestamp-micros / decimal logical
    types and nested array / map / struct survive write->read under
    the snappy codec (UTC session tz pins the instant semantics)."""
    import datetime as dt
    from decimal import Decimal

    from pyspark.sql.types import (ArrayType, DateType, DecimalType,
                                   MapType, StructField, StructType,
                                   TimestampType)

    from openlmis_distributions_etl_spark.sources import avro as A

    schema = StructType([
        StructField("id", LongType(), False),
        StructField("d", DateType(), True),
        StructField("ts", TimestampType(), True),
        StructField("amt", DecimalType(12, 2), True),
        StructField("xs", ArrayType(LongType(), True), True),
        StructField("kv", MapType(StringType(), LongType(), True),
                    True),
        StructField("st", StructType([
            StructField("a", LongType(), True),
            StructField("b", StringType(), True)]), True),
    ])
    rows = [
        (1, dt.date(2024, 2, 29), dt.datetime(2024, 1, 2, 3, 4, 5,
                                              123456),
         Decimal("12345.67"), [1, 2, None], {"k1": 7, "k2": None},
         (10, "deep")),
        (2, None, None, Decimal("-0.01"), [], {}, (None, None)),
        (3, dt.date(1969, 12, 31), dt.datetime(1969, 12, 31, 23, 59,
                                               59, 999999),
         None, None, None, None),
    ]
    saved = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        df = spark.createDataFrame(rows, schema).repartition(2)
        out = str(tmp_path / "logical")
        A.write_avro_files(df, out, codec="snappy")
        back = A.read_avro(spark, out, schema)
        got = sorted(map(tuple, back.collect()))
        want = sorted(map(tuple, df.collect()))
        assert got == want
    finally:
        spark.conf.set("spark.sql.session.timeZone", saved)


def test_avro_hand_assembled_logical_nested_snappy(spark, tmp_path):
    """Interop pin INDEPENDENT of our writer, round-7 scope: a
    snappy-coded container with date + timestamp-micros + decimal +
    array<long> + map<string,long> + nested record + enum + fixed,
    every byte hand-assembled from the public spec (block-encoded
    collections use a NEGATIVE count + byte size, the skippable
    form real writers emit)."""
    import datetime as dt
    import json
    import zlib
    from decimal import Decimal

    from pyspark.sql.types import (ArrayType, DateType, DecimalType,
                                   MapType, StructField, StructType,
                                   TimestampType)

    from openlmis_distributions_etl_spark.sources import avro as A
    from openlmis_distributions_etl_spark.sources.avro import (
        _snappy_compress_literals)

    schema_json = json.dumps({
        "type": "record", "name": "r", "fields": [
            {"name": "d", "type": {"type": "int",
                                   "logicalType": "date"}},
            {"name": "ts", "type": {"type": "long",
                                    "logicalType":
                                        "timestamp-micros"}},
            {"name": "amt", "type": {"type": "bytes",
                                     "logicalType": "decimal",
                                     "precision": 9, "scale": 2}},
            {"name": "xs", "type": {"type": "array",
                                    "items": "long"}},
            {"name": "kv", "type": {"type": "map",
                                    "values": "long"}},
            {"name": "st", "type": {"type": "record", "name": "s",
                                    "fields": [
                                        {"name": "a",
                                         "type": "long"}]}},
            {"name": "en", "type": {"type": "enum", "name": "e",
                                    "symbols": ["RED", "BLUE"]}},
            {"name": "fx", "type": {"type": "fixed", "name": "f",
                                    "size": 3}},
        ]}).encode()
    sync = b"fedcba9876543210"

    def zz(v: int) -> bytes:
        u = (v << 1) ^ (v >> 63) if v >= 0 else ((-v - 1) << 1 | 1)
        out = bytearray()
        while True:
            b, u = u & 0x7F, u >> 7
            out.append(b | 0x80 if u else b)
            if not u:
                return bytes(out)

    # one record: d=19723 days (2024-01-01), ts=1704153600000000us,
    # amt=bytes of 1234 (12.34), xs=[5,-6] via NEGATIVE block count
    # -2 + byte size, kv={"a":1}, st={a:9}, en=BLUE(1), fx=b"XYZ"
    xs_items = zz(5) + zz(-6)
    kv_items = zz(1) + b"a" + zz(1)
    payload = (zz(19723) + zz(1704153600000000)
               + zz(2) + (1234).to_bytes(2, "big")
               + zz(-2) + zz(len(xs_items)) + xs_items + zz(0)
               + zz(1) + kv_items + zz(0)
               + zz(9)
               + zz(1)
               + b"XYZ")
    comp = (_snappy_compress_literals(payload)
            + (zlib.crc32(payload) & 0xFFFFFFFF).to_bytes(4, "big"))
    blob = (b"Obj\x01" + zz(2)
            + zz(11) + b"avro.schema" + zz(len(schema_json))
            + schema_json
            + zz(10) + b"avro.codec" + zz(6) + b"snappy"
            + zz(0) + sync
            + zz(1) + zz(len(comp)) + comp + sync)
    p = tmp_path / "hand7"
    p.mkdir()
    (p / "f.avro").write_bytes(blob)

    spark_schema = StructType([
        StructField("d", DateType()),
        StructField("ts", TimestampType()),
        StructField("amt", DecimalType(9, 2)),
        StructField("xs", ArrayType(LongType())),
        StructField("kv", MapType(StringType(), LongType())),
        StructField("st", StructType([StructField("a", LongType())])),
        StructField("en", StringType()),
        StructField("fx", StringType()),
    ])
    saved = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        got = A.read_avro(
            spark, str(p), spark_schema,
        ).selectExpr("d", "ts", "amt", "xs", "kv", "st", "en",
                     "CAST(fx AS STRING) AS fx").collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", saved)
    assert len(got) == 1
    r = got[0]
    assert r["d"] == dt.date(2024, 1, 1)
    assert r["ts"] == dt.datetime(2024, 1, 2, 0, 0, 0)
    assert r["amt"] == Decimal("12.34")
    assert r["xs"] == [5, -6]
    assert r["kv"] == {"a": 1}
    assert r["st"]["a"] == 9
    assert r["en"] == "BLUE"
    assert r["fx"] == "XYZ"


def test_avro_snappy_crc_mismatch_is_loud(spark, tmp_path):
    from openlmis_distributions_etl_spark.sources import avro as A
    df = spark.createDataFrame([(1,), (2,)], "a long")
    out = str(tmp_path / "crc")
    A.write_avro_files(df.repartition(1), out, codec="snappy")
    import pathlib
    f = next(pathlib.Path(out).glob("*.avro"))
    raw = bytearray(f.read_bytes())
    raw[-18] ^= 0xFF     # flip a CRC byte (last 4 before 16B sync)
    f.write_bytes(bytes(raw))
    with pytest.raises(Exception, match="CRC mismatch"):
        A.read_avro(spark, out, StructType(
            [StructField("a", LongType())])).collect()
