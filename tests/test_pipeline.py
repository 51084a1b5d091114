"""End-to-end ETL pipeline: extract → conform → load → read back."""

from __future__ import annotations

from pyspark.sql import functions as F

from openlmis_distributions_etl_spark.plans.pipeline import run_etl
from openlmis_distributions_etl_spark.sources import load_table

SF0001 = "/root/testdata/sf0.001"


def test_run_etl_builds_readable_marts(spark, tmp_path):
    marts = run_etl(spark, SF0001, str(tmp_path))
    flat = spark.read.parquet(marts["fact_lineitem_flat"])
    li = load_table(spark, SF0001, "lineitem")
    assert flat.count() == li.count()
    # partition pruning on the year key reaches the scan
    plan = (flat.where(F.col("order_year") == "1996")
            ._jdf.queryExecution().executedPlan().toString())
    assert "PartitionFilters" in plan

    monthly = spark.read.parquet(marts["mart_monthly_sales"])
    assert monthly.count() > 0
    assert set(monthly.columns) == {"month", "c_mktsegment", "n_orders",
                                    "total_value"}


def test_run_curation_writes_pruned_partitions(spark, tmp_path):
    from openlmis_distributions_etl_spark.plans.curation import (
        curation_pipeline, run_curation)
    from openlmis_distributions_etl_spark.sources import load_tables

    outs = run_curation(spark, SF0001, str(tmp_path))
    back = spark.read.parquet(outs["curated_documents"])
    expected = curation_pipeline(load_tables(spark, SF0001)).count()
    assert back.count() == expected > 0
    assert set(back.columns) == {"doc_id", "source", "n_tokens",
                                 "lang", "split"}
    # (lang, split) partition pruning reaches the scan
    plan = (back.where((F.col("lang") == "en") & (F.col("split") == "train"))
            ._jdf.queryExecution().executedPlan().toString())
    assert "PartitionFilters" in plan


def test_cli_curate_and_list(spark, tmp_path, capsys):
    from openlmis_distributions_etl_spark.__main__ import main

    assert main(["list"]) == 0
    names = capsys.readouterr().out.split()
    assert "curation_pipeline" in names and len(names) >= 100


def test_curation_pipeline_to_versioned_table(spark, tmp_path):
    """End-to-end: the curation pipeline's output committed to the
    versioned table format and read back — the corpus-release shape
    (curate → publish version N → consumers time-travel / diff)."""
    from openlmis_distributions_etl_spark import registry
    from openlmis_distributions_etl_spark.sources import versioned as V

    curated = registry.queries()["curation_pipeline"](
        spark, "/root/testdata/sf0.001")
    tbl = str(tmp_path / "corpus_release")
    v0 = V.write_versioned(curated, tbl, mode="overwrite")
    n0 = V.read_versioned(spark, tbl).count()
    assert v0 == 0 and n0 == curated.count() and n0 > 0
    # next release: re-curate (same corpus here) and publish v1;
    # consumers diff releases via the change feed
    V.write_versioned(curated, tbl, mode="overwrite")
    assert len(V.changed_files(tbl, since_version=0)) > 0
    assert V.read_versioned(spark, tbl, version=0).count() == n0


def test_run_etl_observed_metrics(spark, tmp_path):
    """Load metrics come from Observation riding the load job itself —
    no second pass — and match the actual mart row counts."""
    from openlmis_distributions_etl_spark.plans.pipeline import run_etl

    metrics: dict[str, dict] = {}
    marts = run_etl(spark, SF0001, str(tmp_path / "marts"), metrics=metrics)
    assert set(metrics) == set(marts)
    for name, path in marts.items():
        assert metrics[name]["rows_loaded"] == spark.read.parquet(path).count()
        assert metrics[name]["rows_loaded"] > 0


def test_export_training_shards_layout(spark, tmp_path):
    """The materialized layout must BE the shuffle order: every shard
    directory's rows, in file storage order, carry pos 1..n_shard with
    no gaps, and the union covers the corpus exactly once."""
    import pyarrow.parquet as pq
    from pathlib import Path

    from openlmis_distributions_etl_spark.plans.shards import (
        export_training_shards)

    out = str(tmp_path / "shards")
    res = export_training_shards(spark, SF0001, out, n_shards=4)
    n_docs = spark.read.parquet(f"{SF0001}/documents.parquet").count()
    assert res == {"n_shards": 4, "n_docs": n_docs}
    shard_dirs = sorted(Path(out).glob("shard=*"))
    assert len(shard_dirs) == 4
    seen = 0
    for d in shard_dirs:
        tables = [pq.read_table(str(f))
                  for f in sorted(d.glob("*.parquet"))]
        pos = [p for t_ in tables for p in t_.column("pos").to_pylist()]
        # storage order IS position order, dense from 1
        assert pos == list(range(1, len(pos) + 1)), d.name
        seen += len(pos)
    assert seen == n_docs


def test_incremental_rollup_matches_full_recompute(spark, tmp_path):
    from openlmis_distributions_etl_spark.plans.incremental import (
        incremental_rollup_update, init_rollup)
    from openlmis_distributions_etl_spark.plans.star import (
        month_segment_rollup as _month_segment_rollup)
    from openlmis_distributions_etl_spark.sources import load_tables
    from openlmis_distributions_etl_spark.sources.versioned import (
        read_versioned, versions, write_versioned)

    t = load_tables(spark, "/root/testdata/sf0.001")
    orders, customer = t["orders"], t["customer"]
    fact = str(tmp_path / "fact")
    rollup = str(tmp_path / "rollup")

    # v0: the first half of the fact; rollup initialized from it
    write_versioned(orders.where(F.col("o_orderkey") % 2 == 0), fact)
    base_fact_version = versions(fact)[-1]
    init_rollup(spark, fact, rollup, customer)

    # append the second half — includes LATE rows for months already
    # present in v0, the case a delta-only rollup would get wrong
    write_versioned(orders.where(F.col("o_orderkey") % 2 == 1), fact,
                    mode="append")
    incremental_rollup_update(spark, fact, rollup, customer,
                              since_version=base_fact_version)

    got = read_versioned(spark, rollup).toPandas() \
        .sort_values(["month", "c_mktsegment"]).reset_index(drop=True)
    want = _month_segment_rollup(orders, customer).toPandas() \
        .sort_values(["month", "c_mktsegment"]).reset_index(drop=True)
    import pandas as pd
    pd.testing.assert_frame_equal(got[sorted(got.columns)],
                                  want[sorted(want.columns)])

    # empty delta → no new rollup version
    v_before = versions(rollup)[-1]
    assert incremental_rollup_update(
        spark, fact, rollup, customer,
        since_version=versions(fact)[-1]) == v_before
    assert versions(rollup)[-1] == v_before


def test_incremental_join_view_matches_full_recompute(spark, tmp_path):
    """Delta-join maintenance must converge to the full recompute
    under (1) fact appends, (2) dimension updates (the SCD case:
    changed customer rows must rewrite that customer's EXISTING view
    rows), and (3) an empty delta (no new version)."""
    import pandas as pd

    from openlmis_distributions_etl_spark.plans.incremental import (
        _order_customer_view, incremental_join_view_update,
        init_join_view)
    from openlmis_distributions_etl_spark.sources import load_tables
    from openlmis_distributions_etl_spark.sources.versioned import (
        merge_upsert_versioned, read_versioned, versions,
        write_versioned)

    t = load_tables(spark, "/root/testdata/sf0.001")
    orders, customer = t["orders"], t["customer"]
    op = str(tmp_path / "orders")
    cp = str(tmp_path / "customer")
    vp = str(tmp_path / "view")

    write_versioned(orders.where(F.col("o_orderkey") % 2 == 0), op)
    write_versioned(customer, cp)
    v_o, v_c = versions(op)[-1], versions(cp)[-1]
    init_join_view(spark, op, cp, vp)

    # fact append + SCD update on a slice of customers
    write_versioned(orders.where(F.col("o_orderkey") % 2 == 1), op,
                    mode="append")
    flipped = (customer.where(F.col("c_custkey") % 5 == 0)
               .withColumn("c_mktsegment", F.lit("FLIPPED")))
    merge_upsert_versioned(spark, cp, flipped, ["c_custkey"])
    incremental_join_view_update(spark, op, cp, vp, v_o, v_c)

    got = (read_versioned(spark, vp).toPandas()
           .sort_values("o_orderkey").reset_index(drop=True))
    want = (_order_customer_view(read_versioned(spark, op),
                                 read_versioned(spark, cp)).toPandas()
            .sort_values("o_orderkey").reset_index(drop=True))
    pd.testing.assert_frame_equal(got[sorted(got.columns)],
                                  want[sorted(want.columns)])
    assert (got["c_mktsegment"] == "FLIPPED").any()

    # empty delta → no new view version
    v_before = versions(vp)[-1]
    assert incremental_join_view_update(
        spark, op, cp, vp, versions(op)[-1], versions(cp)[-1]) \
        == v_before
    assert versions(vp)[-1] == v_before


def test_export_jsonl_shards(spark, tmp_path):
    """JSONL export: every doc appears exactly once, shard dirs are
    dense, lines are valid JSON carrying the payload columns, and
    maxRecordsPerFile caps file sizes."""
    import json
    from pathlib import Path

    from openlmis_distributions_etl_spark.plans.shards import (
        export_jsonl_shards)

    out = str(tmp_path / "jsonl")
    res = export_jsonl_shards(spark, "/root/testdata/sf0.001", out,
                              n_shards=4, max_records_per_file=20)
    n_docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").count()
    assert res == {"n_shards": 4, "n_docs": n_docs}
    shard_dirs = sorted(Path(out).glob("shard=*"))
    assert [d.name for d in shard_dirs] == [f"shard={k}" for k in range(4)]
    seen = set()
    for d in shard_dirs:
        for f in d.glob("part-*.json"):
            lines = f.read_text().splitlines()
            assert len(lines) <= 20
            for line in lines:
                row = json.loads(line)
                assert {"doc_id", "text", "lang",
                        "source", "pos"} <= set(row)
                seen.add(row["doc_id"])
    assert len(seen) == n_docs


def test_expectations_catch_planted_violations(spark):
    """Each rule kind must count its planted violations exactly."""
    from openlmis_distributions_etl_spark.plans.expectations import (
        run_expectations)

    df = spark.createDataFrame(
        [(1, 10.0, "F"), (1, -5.0, "X"), (2, None, "O"), (None, 3.0, "F")],
        "k long, price double, status string")
    dim = spark.createDataFrame([(1,)], "id long")
    rules = [
        ("not_null", "k"),
        ("unique", "k"),
        ("range", "price", 0.0, 100.0),
        ("in_set", "status", ("F", "O")),
        ("fk", "k", "dim", "id"),
    ]
    got = {(r["rule"], r["column"]): r["n_violations"]
           for r in run_expectations(df, rules, {"dim": dim}).collect()}
    assert got[("not_null", "k")] == 1
    assert got[("unique", "k")] == 1       # second row with k=1
    assert got[("range", "price")] == 2    # -5.0 and NULL
    assert got[("in_set", "status")] == 1  # 'X'
    assert got[("fk", "k")] == 1           # k=2 absent from dim


def test_sketch_rollup_is_lossless_and_accurate(spark):
    """Merging daily HLL sketches to months must give EXACTLY the
    estimate of sketching each month directly (union-merge is
    lossless), and land within 5% of the exact distinct count."""
    from openlmis_distributions_etl_spark.plans.incremental import (
        build_daily_user_sketches, monthly_distinct_from_sketches)
    from openlmis_distributions_etl_spark.sources import load_tables

    t = load_tables(spark, "/root/testdata/sf0.01", "events")
    ev = t["events"]
    daily = build_daily_user_sketches(ev)
    got = {r["month"]: r["dau_est"]
           for r in monthly_distinct_from_sketches(daily).collect()}
    direct = {r["month"]: r["est"] for r in
              ev.groupBy(F.date_format("ts", "yyyy-MM").alias("month"))
              .agg(F.hll_sketch_estimate(
                  F.hll_sketch_agg("user_id")).alias("est"))
              .collect()}
    assert got == direct          # lossless merge: identical registers
    exact = {r["month"]: r["n"] for r in
             ev.groupBy(F.date_format("ts", "yyyy-MM").alias("month"))
             .agg(F.count_distinct("user_id").alias("n")).collect()}
    for m, n in exact.items():
        assert abs(got[m] - n) <= max(1, 0.05 * n), (m, got[m], n)


def test_ivf_maintenance_triggers_and_pins_retrain(spark, tmp_path):
    """The IVF serving loop: publish Lloyd centroids versioned, audit
    health against the live snapshot, retrain ONLY when a fence
    breaks — and when it does, the republished centroids and the
    assignments under them are EXACTLY a from-scratch retrain on the
    perturbed snapshot (the deterministic-trainer contract)."""
    from openlmis_distributions_etl_spark.functions import spread
    from openlmis_distributions_etl_spark.operators.similarity import (
        _argmax_assign, kmeans_centroids)
    from openlmis_distributions_etl_spark.plans import ivf
    from openlmis_distributions_etl_spark.sources import load_tables
    from openlmis_distributions_etl_spark.sources.versioned import (
        read_versioned, versions)

    emb = load_tables(spark, SF0001, "embeddings")["embeddings"]
    store = str(tmp_path / "ivf_store")
    ivf.train_and_publish(spark, emb, store)

    # clean snapshot: all fences hold, no retrain, version unchanged
    n_v0 = len(versions(store))
    r = ivf.maintain_ivf(spark, emb, store)
    assert r["retrained"] is False and r["reasons"] == []
    assert len(versions(store)) == n_v0

    # drift: 40% of vectors collapse onto vector 0's embedding — the
    # cell that absorbs them breaches the 25% jumbo fence
    v0 = emb.orderBy("vec_id").limit(1).collect()[0]["embedding"]
    pert = emb.withColumn(
        "embedding",
        F.when(F.col("vec_id") % 5 < 2,
               F.array(*[F.lit(float(x)) for x in v0]))
        .otherwise(F.col("embedding")))
    r2 = ivf.maintain_ivf(spark, pert, store)
    assert r2["retrained"] is True
    assert "jumbo_cell" in r2["reasons"]
    assert len(versions(store)) > n_v0

    # pinned equality with a from-scratch retrain on the snapshot
    pub = sorted(
        tuple(x) for x in read_versioned(spark, store).collect())
    scratch = sorted(
        tuple(x) for x in kmeans_centroids({"embeddings": pert})
        .select("centroid_id", "dim", "centroid", "n").collect())
    assert pub == scratch

    a_pub = _argmax_assign(
        spread(pert).select("vec_id", "embedding"),
        ivf._centroid_arrays(read_versioned(spark, store)))
    a_scr = _argmax_assign(
        spread(pert).select("vec_id", "embedding"),
        ivf._centroid_arrays(
            kmeans_centroids({"embeddings": pert})
            .select("centroid_id", "dim", "centroid", "n")))
    assert (sorted(map(tuple, a_pub.select("vec_id", "centroid_id")
                       .collect()))
            == sorted(map(tuple, a_scr.select("vec_id", "centroid_id")
                          .collect())))


def test_export_wds_shards_streams_shuffle_order(spark, tmp_path):
    """WebDataset export: every doc lands exactly once as a
    (.txt, .json) member pair, member order inside each tar replays
    the deterministic-shuffle position order, and a second export
    produces BYTE-IDENTICAL tars (fixed headers, stable keys)."""
    import hashlib
    import json
    import tarfile

    from openlmis_distributions_etl_spark.operators.text import (
        deterministic_shuffle)
    from openlmis_distributions_etl_spark.plans.shards import (
        export_wds_shards)
    from openlmis_distributions_etl_spark.sources import load_tables

    out = str(tmp_path / "wds")
    res = export_wds_shards(spark, SF0001, out, n_shards=4)
    assert res["n_files"] == 4

    t = load_tables(spark, SF0001, "documents")
    want = {r["doc_id"]: r for r in t["documents"].collect()}
    order = {(r["shard"], r["doc_id"]): r["pos"]
             for r in deterministic_shuffle(t, n_shards=4).collect()}
    seen = set()
    import pathlib
    for p in sorted(pathlib.Path(out).glob("*.tar")):
        shard = int(p.stem.split("-")[1])
        positions = []
        with tarfile.open(p) as tf:
            members = tf.getmembers()
            assert len(members) % 2 == 0
            for m in members:
                assert (m.mtime, m.uid, m.gid) == (0, 0, 0)
            for i in range(0, len(members), 2):
                m_txt, m_json = members[i], members[i + 1]
                key = int(m_txt.name.split(".")[0])
                assert m_txt.name == f"{key:012d}.txt"
                meta = json.loads(
                    tf.extractfile(m_json).read().decode())
                assert meta["doc_id"] == key
                body = tf.extractfile(m_txt).read().decode()
                assert body == want[key]["text"]
                assert meta["lang"] == want[key]["lang"]
                positions.append(order[(shard, key)])
                seen.add(key)
        assert positions == sorted(positions)
    assert seen == set(want)

    out2 = str(tmp_path / "wds2")
    export_wds_shards(spark, SF0001, out2, n_shards=4)
    for p in sorted(pathlib.Path(out).glob("*.tar")):
        h1 = hashlib.sha256(p.read_bytes()).hexdigest()
        h2 = hashlib.sha256(
            (pathlib.Path(out2) / p.name).read_bytes()).hexdigest()
        assert h1 == h2
