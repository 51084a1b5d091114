#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload reporting_queries --seed 1 --trace 0

Runs from the root of a checkout of this repository. It derives the
seed's inputs from ``perfbench/base`` under ``.perfbench_work/`` in the
checkout, starts one ``local[<cores>]`` session through
``session.get_spark``, runs one untimed warm pass, then timed passes
until ``--seconds`` (default: ``run_seconds`` of ``BENCHMARK.json``)
have elapsed and the workload's ``min_passes`` are done, one operation
at a time (a closed loop with a single client), checks the outputs
against DuckDB, and prints one JSON object as the last line of stdout.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on the
Spark event log (from outside the package, through the submit
arguments) and reports the per-layer metrics instead.
``perfbench/overhead.py`` runs both for one seed and reports the
difference.

Exits non-zero, without a result line, when the program under test
cannot be imported or a metric cannot be produced.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time
from collections import Counter, defaultdict
from contextlib import contextmanager, suppress
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUP_REPS = 3


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _configure_env(work: Path, trace: bool) -> Path | None:
    """Keep Spark's and the JVM's temporary files inside the checkout;
    enable the uncompressed, non-rolling event log for traced runs."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    args = [f"--driver-java-options -Djava.io.tmpdir={tmp}"]
    log_dir = None
    if trace:
        log_dir = work / "eventlog"
        log_dir.mkdir()
        args += ["--conf spark.eventLog.enabled=true",
                 f"--conf spark.eventLog.dir=file://{log_dir}",
                 "--conf spark.eventLog.compress=false",
                 "--conf spark.eventLog.rolling.enabled=false"]
    os.environ.update({
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "PYSPARK_SUBMIT_ARGS": " ".join(args + ["pyspark-shell"]),
        "SPARK_GRAFT_CPUS": str(_cores()),
        "SPARK_DRIVER_MEM": "2g",
        "SPARK_WAREHOUSE_DIR": str(work / "warehouse"),
    })
    return log_dir


def layer_unit(name: str) -> str:
    if name.endswith(("_s", ".s")) or name.startswith("build.s."):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_ms"):
        return "ms"
    if name in ("exec.utilization", "exec.task_skew", "write_amp", "fail_ratio"):
        return "ratio"
    return "count"


def op_latency(samples: list[tuple[str, float]]) -> tuple[float, float, float]:
    """``(p50, tail, tail percentile)`` of per-op latencies.

    p50 is the median over op kinds of each kind's median latency, so a
    workload with several kinds of op does not flip between them. The
    tail is the highest sample with at least ten samples above it; a
    run with fewer than eleven samples reports its slowest sample (the
    100th percentile) instead."""
    by_op: dict[str, list[float]] = defaultdict(list)
    for op, s in samples:
        by_op[op].append(s)
    p50 = statistics.median(statistics.median(v) for v in by_op.values())
    lat = sorted(s for _, s in samples)
    n = len(lat)
    if n < 11:
        return p50, lat[-1], 100.0
    return p50, lat[n - 11], 100.0 * (n - 10) / n


class Run:
    """Spans, counters and op samples of one benchmark run.

    A span times one call into a layer from the benchmark's code and
    tags the Spark jobs it causes with ``<workload>:<op>:<phase>``
    (outside the timed window the phase is the run's mode: setup, warm
    or check). Nested spans record self time."""

    def __init__(self, spark, workload: str, probe_cache: bool):
        self.spark, self.sc = spark, spark.sparkContext
        self.wl = workload
        self.mode = "setup"
        self.probe_cache = probe_cache
        self.layer_s: dict[str, float] = defaultdict(float)
        self.module_s: dict[str, float] = defaultdict(float)
        self.op_module: dict[str, str] = {}
        self.window: dict[str, float] = defaultdict(float)
        self.op_s: list[tuple[str, float]] = []
        self.pass_s: list[float] = []
        self.attempts: Counter = Counter()
        self.cache_rdds = 0
        self.cache_bytes = 0
        self._stack: list[list] = []
        self.workload = None

    def _tag(self, op: str, phase: str) -> None:
        tag = phase if self.mode == "timed" else self.mode
        self.sc.setJobGroup(f"{self.wl}:{op}:{tag}", tag)

    @contextmanager
    def span(self, layer: str, op: str, module: str | None = None):
        phase = "build" if layer == "build" else "exec"
        if module:
            self.op_module[op] = module
        self._tag(op, phase)
        frame = [op, phase, 0.0]
        self._stack.append(frame)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            self._stack.pop()
            if self.mode == "timed":
                self.layer_s[layer] += dt - frame[2]
                if module:
                    self.module_s[module] += dt - frame[2]
            if self._stack:
                parent = self._stack[-1]
                parent[2] += dt
                self._tag(parent[0], parent[1])
            else:
                self.sc.setJobGroup(f"{self.wl}:-:idle", "idle")

    def timed_op(self, op: str, fn) -> None:
        """One client operation. In the timed window its latency is a
        sample and an exception marks the op failed; elsewhere it just
        runs."""
        if self.mode != "timed":
            fn()
            return
        self.attempts[op] += 1
        t0 = time.perf_counter()
        try:
            fn()
        except Exception as e:  # noqa: BLE001 - counted in fail_ratio
            self.workload.fail(op, f"raised {type(e).__name__}: {e}")
        self.op_s.append((op, time.perf_counter() - t0))
        if self.probe_cache:
            self._sample_cache()

    def _sample_cache(self) -> None:
        jsc = self.sc._jsc
        self.cache_rdds = max(self.cache_rdds, jsc.getPersistentRDDs().size())
        infos = jsc.sc().getRDDStorageInfo()
        self.cache_bytes = max(self.cache_bytes, sum(
            i.memSize() + i.diskSize() for i in infos))

    def pass_done(self, wall: float) -> None:
        if self.mode == "timed":
            self.pass_s.append(wall)

    def add_window(self, key: str, value: float) -> None:
        if self.mode == "timed":
            self.window[key] += value


def _peak_rss_mb(spark) -> float:
    """Peak resident memory of the Spark JVM plus this process."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


# layer span -> per-layer metric: its self time per timed pass (zero
# where a workload never calls the layer)
SPAN_LAYERS = {
    "sinks.write": "sinks.write_s",
    "incremental.init": "incremental.init_s",
    "versioned.append": "versioned.append_s",
    "versioned.merge": "versioned.merge_s",
    "incremental.rollup_update": "incremental.rollup_update_s",
    "incremental.join_view_update": "incremental.join_view_update_s",
}
EXEC_COUNTERS = ("jobs", "stages", "tasks", "scheduler_delay_ms", "run_ms",
                 "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes",
                 "spill_bytes", "input_records", "output_records")
WINDOW_COUNTERS = ("sinks.bytes_written", "sinks.files_written",
                   "sinks.rows_written", "versioned.bytes_rewritten",
                   "versioned.live_files")


def _common(run: Run, wl, setup: dict) -> dict:
    """Metrics both kinds of run print beside the result line."""
    passes = len(run.pass_s)
    attempted = sum(run.attempts.values())
    return {
        "fail_ratio": sum(run.attempts[op] for op in wl.failed_ops) / attempted,
        "write_amp": run.window["write_bytes"] / passes / wl.input_bytes(),
        "peak_rss_mb": setup["rss_mb"],
    }


def _per_layer(run: Run, folded: dict, setup: dict, wl, selfcheck: dict) -> dict:
    import eventlog
    from workloads import BUILD_MODULES

    passes = len(run.pass_s)
    wall = sum(run.pass_s)
    prefix = f"{run.wl}:"

    def groups(phase, module=None):
        def match(g):
            parts = g.split(":")
            return (g.startswith(prefix) and len(parts) == 3 and parts[2] == phase
                    and (module is None or run.op_module.get(parts[1]) == module))
        return eventlog.total(folded, match)

    build, exec_ = groups("build"), groups("exec")
    m = {
        "session.start_s": setup["session_s"],
        "sources.load_s": setup["load_s"],
        "sources.load_calls": setup["load_calls"],
        "setup.warm_s": setup["warm_s"],
        "build.s": run.layer_s["build"] / passes,
        "build.jobs": build["jobs"] / passes,
        "build.tasks": build["tasks"] / passes,
        "build.run_ms": build["run_ms"] / passes,
    }
    for mod in BUILD_MODULES:
        m[f"build.s.{mod}"] = run.module_s[mod] / passes
        m[f"build.jobs.{mod}"] = groups("build", mod)["jobs"] / passes
    # every action after the plan is built: noop writes, mart writes,
    # versioned commits and view maintenance
    m["exec.s"] = sum(t for k, t in run.layer_s.items() if k != "build") / passes
    for k in EXEC_COUNTERS:
        m[f"exec.{k}"] = exec_[k] / passes
    m["exec.task_skew"] = exec_["task_skew"]
    m["exec.utilization"] = ((build["run_ms"] + exec_["run_ms"])
                             / (wall * 1000.0 * _cores()))
    for layer, name in SPAN_LAYERS.items():
        m[name] = run.layer_s[layer] / passes
    for k in WINDOW_COUNTERS:
        m[k] = run.window[k] / passes
    m["cache.persisted_rdds"] = run.cache_rdds
    m["cache.persisted_bytes"] = run.cache_bytes
    m.update(_common(run, wl, setup))
    m["trace.wall_s"] = statistics.median(run.pass_s)
    # the status tracker's job count per group must equal the event log's
    m["trace.selfcheck_jobs"] = sum(selfcheck.values())
    m["trace.selfcheck_mismatch"] = sum(
        abs(n - folded.get(group, {}).get("jobs", 0))
        for group, n in selfcheck.items())
    m["op.samples"] = len(run.op_s)
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    if not (ROOT / "openlmis_distributions_etl_spark" / "__init__.py").is_file():
        print("perfbench: the openlmis_distributions_etl_spark package is not "
              f"in {ROOT}; run from a checkout of the repository",
              file=sys.stderr)
        return 2
    if a.seconds is None:
        a.seconds = json.loads((ROOT / "BENCHMARK.json").read_text())["run_seconds"]
    sys.path[:0] = [str(HERE), str(ROOT)]
    from workloads import WORKLOADS
    if a.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    log_dir = _configure_env(work, bool(a.trace))
    try:
        return _bench(a, WORKLOADS[a.workload], work, log_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with suppress(OSError):
            work.parent.rmdir()  # only when no other run is using it


def _bench(a, cls, work: Path, log_dir) -> int:
    import gen
    from workloads import load_oracle_module

    t0 = time.perf_counter()
    from openlmis_distributions_etl_spark.session import get_spark
    from openlmis_distributions_etl_spark.sources import load_tables
    spark = get_spark("perfbench", cpus=_cores())
    session_s = time.perf_counter() - t0
    run = Run(spark, a.workload, probe_cache=bool(a.trace))
    try:
        # set-up, SETUP_REPS times: derive the seed's inputs into a fresh
        # directory and open them through the source layer (which
        # memoizes per path); setup_s is the session start plus the
        # median of these
        prep_s, load_s = [], []
        for rep in range(SETUP_REPS):
            data_dir = work / f"inputs{rep}"
            t = time.perf_counter()
            sizes = gen.derive(a.seed, cls.copies, data_dir)
            t1 = time.perf_counter()
            opened = load_tables(spark, str(data_dir))
            for name in cls.tables:
                opened[name].schema  # noqa: B018 - resolves the scan relation
            load_s.append(time.perf_counter() - t1)
            prep_s.append(time.perf_counter() - t)
        wl = cls(run, data_dir, work, a.seed, sizes)
        run.workload = wl
        print(json.dumps({"workload": a.workload, "seed": a.seed,
                          "copies": cls.copies, "inputs": sizes}), flush=True)

        run.mode = "warm"
        t = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t

        run.mode = "timed"
        end = time.perf_counter() + a.seconds
        while True:
            wl.run_pass()
            if len(run.pass_s) >= cls.min_passes and time.perf_counter() >= end:
                break

        selfcheck = {}
        if a.trace:
            tracker = spark.sparkContext.statusTracker()
            for op in wl.self_check_ops():
                for phase in ("build", "exec"):
                    group = f"{a.workload}:{op}:{phase}"
                    selfcheck[group] = len(tracker.getJobIdsForGroup(group))

        run.mode = "check"
        wl.check(load_oracle_module(ROOT))
        rss_mb = _peak_rss_mb(spark)
    finally:
        _stop_spark(spark)

    attempted = sum(run.attempts.values())
    failed = sum(run.attempts[op] for op in wl.failed_ops)
    for op, why in wl.failed_ops.items():
        print(f"perfbench: FAILED {op}: {why[:500]}", file=sys.stderr)
    setup = {"session_s": session_s, "load_s": statistics.median(load_s),
             "load_calls": len(cls.tables), "warm_s": warm_s, "rss_mb": rss_mb}
    if a.trace:
        import eventlog
        folded = eventlog.fold(eventlog.find_log(log_dir))
        metrics = _per_layer(run, folded, setup, wl, selfcheck)
        units = {k: layer_unit(k) for k in metrics}
    else:
        wall = statistics.median(run.pass_s)
        p50, tail, pct = op_latency(run.op_s)
        print(json.dumps({"passes": run.pass_s, "op_s": run.op_s,
                          "op_samples": len(run.op_s),
                          "op_tail_pct": pct, "session_start_s": session_s,
                          "setup_prep_s": prep_s, "warm_s": warm_s,
                          **_common(run, wl, setup)}), flush=True)
        metrics = {
            "wall_s": wall,
            "op_p50_s": p50,
            "op_tail_s": tail,
            "rows_per_s": wl.fact_rows() / wall,
            "setup_s": session_s + statistics.median(prep_s),
        }
        units = {"wall_s": "s", "op_p50_s": "s", "op_tail_s": "s",
                 "rows_per_s": "rows/s", "setup_s": "s"}
    print(json.dumps({
        "correct": not wl.failed_ops,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
