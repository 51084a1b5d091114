"""The benchmark's workloads.

Each workload is driven by one closed-loop client (this process) that
issues one operation at a time. ``warm`` runs one untimed pass and
keeps what the correctness check needs; ``run_pass`` is one timed pass;
``check`` compares the program's outputs with an independent answer
(DuckDB over the same generated files) using the exact-equality rules
of ``tests/oracle.py`` and records every mismatch with ``fail``.
"""

from __future__ import annotations

import importlib.util
import json
import random
import time
from pathlib import Path

import pyarrow.parquet as pq

import gen

# op -> module that implements it (the build.s.<module> grouping);
# run_etl's build is plans.star's frames
REPORTING_OPS = {
    "q1_pricing_summary": "relational",
    "q3_shipping_priority": "relational",
    "q5_regional_volume": "relational",
    "q6_forecast_revenue": "relational",
    "q9_profit_by_nation_year": "relational",
    "q18_large_volume_customers": "relational",
    "q21_sole_late_supplier": "relational",
    "star_denormalize": "star",
    "monthly_sales_rollup": "star",
    "rollup_priority_status": "relational",
    "cube_status_priority": "analytics",
    "topk_customers_per_nation": "windows",
    "latest_event_per_user": "windows",
    "sessionize_events": "windows",
    "windowed_event_counts": "windows",
    "funnel_three_step": "windows",
    "cohort_retention": "windows",
    "asof_purchase_attribution": "asof",
    "scd2_user_state": "analytics",
    "exact_median_value": "analytics",
    "customer_spend_gini": "analytics",
    "abc_classification": "analytics",
}
BUILD_MODULES = ("relational", "windows", "analytics", "asof", "dedup",
                 "similarity", "text", "suffix", "star")
JOIN_VIEW_SQL = """
    SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice,
           c_mktsegment, c_nationkey
    FROM orders JOIN customer ON o_custkey = c_custkey
"""


def load_oracle_module(root: Path):
    """``tests/oracle.py`` of the checkout: the exact-equality rules the
    parity tests use."""
    spec = importlib.util.spec_from_file_location("parity_oracle",
                                                  root / "tests" / "oracle.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def compare(oracle, got, want, name: str) -> None:
    """``oracle.compare`` on two pandas frames: the same canonical form
    and the same exact rules (floats bit-for-bit, NaN equal to NaN and
    None), vectorized over numeric and datetime columns so the
    100k-row marts check in seconds."""
    got, want = oracle._canon(got), oracle._canon(want)
    assert list(got.columns) == list(want.columns), (
        f"{name}: columns {list(got.columns)} != {list(want.columns)}")
    assert len(got) == len(want), f"{name}: rows {len(got)} != {len(want)}"
    for col in got.columns:
        g, w = got[col], want[col]
        assert str(g.dtype) == str(w.dtype), (
            f"{name}: column {col}: dtype {g.dtype} (spark) != {w.dtype} (oracle)")
        if g.dtype.kind in "biufM":
            bad = int((~((g.values == w.values)
                         | (g.isna().values & w.isna().values))).sum())
        else:
            bad = sum(not oracle._eq(a, b) for a, b in zip(g.tolist(), w.tolist()))
        assert not bad, f"{name}: column {col}: {bad} mismatches"


def dir_stats(path: Path) -> tuple[int, int]:
    """(bytes, data files) of the parquet files under ``path``."""
    files = [p for p in path.rglob("*.parquet") if p.is_file()]
    return sum(p.stat().st_size for p in files), len(files)


class Workload:
    name = ""
    copies = 1                      # sf0.01 replicas in the generated input
    min_passes = 1                  # timed passes a run makes at least
    tables: tuple[str, ...] = ()    # tables one pass reads
    fact_tables: tuple[str, ...] = ()

    def __init__(self, run, data_dir: Path, work: Path, seed: int, sizes: dict):
        from openlmis_distributions_etl_spark import registry
        self.run, self.data_dir, self.work, self.seed = run, data_dir, work, seed
        self.spark = run.spark
        self.sizes = sizes
        self.queries = registry.queries()
        self.oracles = registry.oracle_sql()
        self.failed_ops: dict[str, str] = {}

    def input_bytes(self) -> int:
        """Bytes of the generated input one pass reads."""
        return sum(self.sizes[t]["bytes"] for t in self.tables)

    def fact_rows(self) -> int:
        """Fact rows one pass scans or loads (the rows_per_s numerator)."""
        return sum(self.sizes[t]["rows"] for t in self.fact_tables)

    def fail(self, op: str, reason: str) -> None:
        self.failed_ops.setdefault(op, reason)


class ReportingQueries(Workload):
    """Registry queries, built and run one at a time with the noop sink,
    in a seed-drawn order. The warm pass collects each result for the
    DuckDB check."""

    name = "reporting_queries"
    tables = ("lineitem", "orders", "customer", "nation", "region",
              "supplier", "part", "events")
    fact_tables = ("lineitem", "orders", "events")
    # one pass is one sample per query; two halve the per-query noise
    # in op_p50_s and give op_tail_s 44 samples
    min_passes = 2

    def __init__(self, *a):
        super().__init__(*a)
        self.ops = list(REPORTING_OPS)
        random.Random(self.seed).shuffle(self.ops)
        self.outputs = {}

    def run_op(self, op: str) -> None:
        run = self.run
        with run.span("build", op, module=REPORTING_OPS[op]):
            df = self.queries[op](self.spark, str(self.data_dir))
        with run.span("exec", op):
            df.write.format("noop").mode("overwrite").save()

    def warm(self) -> None:
        for op in self.ops:
            with self.run.span("warm", op):
                try:
                    df = self.queries[op](self.spark, str(self.data_dir))
                    self.outputs[op] = df.toPandas()
                except Exception as e:  # noqa: BLE001 - reported as a failed op
                    self.fail(op, f"raised {type(e).__name__}: {e}")

    def run_pass(self) -> None:
        t0 = time.perf_counter()
        for op in self.ops:
            self.run.timed_op(op, lambda op=op: self.run_op(op))
        self.run.pass_done(time.perf_counter() - t0)

    def self_check_ops(self) -> list[str]:
        return self.ops[:2]

    def check(self, oracle) -> None:
        con = oracle.duck_connection(str(self.data_dir))
        try:
            for op, pdf in self.outputs.items():
                try:
                    compare(oracle, pdf, con.execute(self.oracles[op]).df(), op)
                except AssertionError as e:
                    self.fail(op, str(e))
        finally:
            con.close()


class EtlLoad(Workload):
    """Each pass loads the marts with ``plans.pipeline.run_etl`` into a
    fresh directory, then rebuilds versioned ``orders`` / ``customer``
    tables with their maintained rollup and join view and folds the
    seed's small ingest batches into them, one batch per operation."""

    name = "etl_load"
    copies = 2
    tables = ("lineitem", "orders", "customer", "nation", "region",
              "supplier", "part")
    fact_tables = ("lineitem",)
    MARTS = ("fact_lineitem_flat", "mart_monthly_sales")
    BATCHES = 1
    ORDERS_PER_BATCH = 200
    CHANGES_PER_BATCH = 20

    def __init__(self, *a):
        super().__init__(*a)
        from openlmis_distributions_etl_spark.plans import incremental, pipeline
        from openlmis_distributions_etl_spark.sources import versioned
        self.pipeline, self.inc, self.ver = pipeline, incremental, versioned
        self.n_pass = 0
        self.last_out: Path | None = None
        self.last_metrics: dict = {}
        self._install_sink_probe()
        batches = gen.make_batches(
            self.seed, pq.read_table(self.data_dir / "orders.parquet"),
            pq.read_table(self.data_dir / "customer.parquet"), self.BATCHES,
            self.ORDERS_PER_BATCH, self.CHANGES_PER_BATCH)
        self.batch_dirs = [self.work / "batches" / f"b{i}"
                           for i in range(self.BATCHES)]
        self.batch_bytes = sum(
            s["bytes"] for b, d in zip(batches, self.batch_dirs)
            for s in gen.write_tables(b, d).values())

    def _install_sink_probe(self) -> None:
        """Time every mart write ``run_etl`` makes and tag its jobs.
        ``pipeline`` calls the sink through its module global, so the
        wrapper sees each call without any change to the program."""
        write = self.pipeline.write_partitioned_parquet
        run = self.run

        def timed_write(df, path, *args, **kwargs):
            mart = Path(path).name

            def op():
                with run.span("sinks.write", mart):
                    write(df, path, *args, **kwargs)
            run.timed_op(mart, op)

        self.pipeline.write_partitioned_parquet = timed_write

    def input_bytes(self) -> int:
        return super().input_bytes() + self.batch_bytes

    def fact_rows(self) -> int:
        return super().fact_rows() + self.BATCHES * self.ORDERS_PER_BATCH

    # -- bulk half ------------------------------------------------------

    def _run_etl(self) -> Path:
        out = self.work / f"etl_out{self.n_pass}"
        metrics: dict = {}
        with self.run.span("build", "run_etl", module="star"):
            self.pipeline.run_etl(self.spark, str(self.data_dir), str(out),
                                  metrics=metrics)
        self.last_out, self.last_metrics = out, metrics
        return out

    # -- upsert half ----------------------------------------------------

    def _init(self) -> None:
        from openlmis_distributions_etl_spark.sources import load_table
        self.root = self.work / f"tables{self.n_pass}"
        self.paths = {k: str(self.root / k) for k in
                      ("orders", "customer", "rollup", "view")}
        self.customer0 = load_table(self.spark, str(self.data_dir), "customer")
        orders = load_table(self.spark, str(self.data_dir), "orders")
        p = self.paths
        with self.run.span("incremental.init", "init"):
            self.ver.write_versioned(orders, p["orders"], mode="overwrite")
            self.ver.write_versioned(self.customer0, p["customer"], mode="overwrite")
            self.inc.init_rollup(self.spark, p["orders"], p["rollup"], self.customer0)
            self.inc.init_join_view(self.spark, p["orders"], p["customer"], p["view"])

    def _batch(self, i: int) -> None:
        from openlmis_distributions_etl_spark.sources import load_table
        p, run, spark = self.paths, self.run, self.spark
        v_o = self.ver.versions(p["orders"])[-1]
        v_c = self.ver.versions(p["customer"])[-1]
        d = str(self.batch_dirs[i])
        with run.span("versioned.append", "append"):
            self.ver.write_versioned(load_table(spark, d, "orders"), p["orders"],
                                     mode="append")
        before = {k: self._files(k) for k in ("customer", "rollup", "view")}
        with run.span("versioned.merge", "merge"):
            self.ver.merge_upsert_versioned(spark, p["customer"],
                                            load_table(spark, d, "customer"),
                                            ["c_custkey"])
        with run.span("incremental.rollup_update", "rollup_update"):
            self.inc.incremental_rollup_update(spark, p["orders"], p["rollup"],
                                               self.customer0, since_version=v_o)
        with run.span("incremental.join_view_update", "join_view_update"):
            self.inc.incremental_join_view_update(spark, p["orders"], p["customer"],
                                                  p["view"], v_o, v_c)
        run.add_window("versioned.bytes_rewritten", sum(
            Path(p[k], f).stat().st_size
            for k, old in before.items() for f in self._files(k) - old))

    def _files(self, table: str) -> set[str]:
        """Data files of the table's latest version (its manifest)."""
        path = self.paths[table]
        log = Path(path, "_log", f"v{self.ver.versions(path)[-1]:08d}.json")
        return set(json.loads(log.read_text())["files"])

    # -- passes ---------------------------------------------------------

    def _pass(self) -> None:
        run = self.run
        out = self._run_etl()
        run.timed_op("init", self._init)
        for i in range(self.BATCHES):
            run.timed_op("batch", lambda i=i: self._batch(i))
        self.n_pass += 1
        nbytes, nfiles = dir_stats(out)
        run.add_window("sinks.bytes_written", nbytes)
        run.add_window("sinks.files_written", nfiles)
        run.add_window("sinks.rows_written", sum(
            int(m.get("rows_loaded", 0)) for m in self.last_metrics.values()))
        run.add_window("versioned.live_files",
                       sum(len(self._files(k)) for k in self.paths))
        run.add_window("write_bytes", nbytes + dir_stats(self.root)[0])

    def warm(self) -> None:
        try:
            self._pass()
        except Exception as e:  # noqa: BLE001 - reported as a failed op
            self.fail("warm", f"raised {type(e).__name__}: {e}")

    def run_pass(self) -> None:
        t0 = time.perf_counter()
        self._pass()
        self.run.pass_done(time.perf_counter() - t0)

    def self_check_ops(self) -> list[str]:
        return list(self.MARTS)

    def check(self, oracle) -> None:
        self._check_marts(oracle)
        self._check_views(oracle)

    def _check_marts(self, oracle) -> None:
        from pyspark.sql import functions as F

        oracles = self.oracles
        con = oracle.duck_connection(str(self.data_dir))
        try:
            for mart, query in zip(self.MARTS, ("star_denormalize",
                                                "monthly_sales_rollup")):
                try:
                    df = self.spark.read.parquet(str(self.last_out / mart))
                    if mart == "fact_lineitem_flat":
                        bad = df.where(F.substring("orderdate", 1, 4).cast("int")
                                       != F.col("order_year")).count()
                        assert bad == 0, f"{mart}: {bad} rows in the wrong order_year"
                        df = df.drop("order_year")
                    want = con.execute(oracles[query]).df()
                    compare(oracle, df.toPandas(), want, mart)
                    rows = self.last_metrics.get(mart, {}).get("rows_loaded")
                    assert rows == len(want), f"{mart}: rows_loaded {rows} != {len(want)}"
                except AssertionError as e:
                    self.fail(mart, str(e))
        finally:
            con.close()

    def _check_views(self, oracle) -> None:
        """The maintained rollup and join view equal a full recompute
        from the final snapshots."""
        import duckdb

        p, spark = self.paths, self.spark
        read = self.ver.read_versioned
        con = duckdb.connect()
        try:
            con.register("orders", read(spark, p["orders"]).toPandas())
            for name, customer, sql, table in (
                    ("rollup", self.customer0.toPandas(),
                     self.oracles["monthly_sales_rollup"], "rollup"),
                    ("join_view", read(spark, p["customer"]).toPandas(),
                     JOIN_VIEW_SQL, "view")):
                con.register("customer", customer)
                try:
                    compare(oracle, read(spark, p[table]).toPandas(),
                            con.execute(sql).df(), name)
                except AssertionError as e:
                    self.fail("batch", f"{name}: {e}")
                con.unregister("customer")
        finally:
            con.close()


WORKLOADS = {w.name: w for w in (ReportingQueries, EtlLoad)}
