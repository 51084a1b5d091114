#!/usr/bin/env python
"""Solo-probe one or more queries: time with the noop sink (warmup +
min-of-N, the bench methodology), count the jobs, stages, tasks and
generated-class compiles per timed run, and optionally dump the
formatted physical plan to DIR/<query>.txt.

Usage: python tools/probe.py [--plan DIR] [--runs N] [--sf DIR] q1 q2 ...
"""

from __future__ import annotations

import argparse
import io
import os
import sys
import time
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--plan", default=None, type=Path,
                    help="dump explain('formatted') to DIR/<q>.txt")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", type=int, default=int(os.environ.get(
        "SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--conf", action="append", default=[],
                    help="extra k=v session conf (repeatable)")
    args = ap.parse_args()

    from openlmis_distributions_etl_spark import registry
    from openlmis_distributions_etl_spark.session import get_spark
    spark = get_spark("probe", cpus=args.cpus)
    for kv in args.conf:
        k, v = kv.split("=", 1)
        spark.conf.set(k, v)
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    # updated only when a generated class misses Spark's codegen cache
    compile_count = spark._jvm.org.apache.spark.metrics.source \
        .CodegenMetrics.METRIC_COMPILATION_TIME()
    if args.plan:
        args.plan.mkdir(parents=True, exist_ok=True)
    for name in args.queries:
        fn = qs[name]
        if args.plan:
            buf = io.StringIO()
            with redirect_stdout(buf):
                fn(spark, args.sf).explain("formatted")
            (args.plan / f"{name}.txt").write_text(buf.getvalue())
        if args.runs <= 0:
            print(f"{name}: plan dumped", flush=True)
            continue
        spark.sparkContext.setJobDescription(f"warmup {name}")
        fn(spark, args.sf).write.format("noop").mode("overwrite").save()
        runs = []
        tracker = spark.sparkContext.statusTracker()
        jobs0 = set(tracker.getJobIdsForGroup(None) or [])
        compiles0 = compile_count.getCount()
        for i in range(args.runs):
            spark.sparkContext.setJobDescription(f"{name} run {i}")
            t0 = time.perf_counter()
            fn(spark, args.sf).write.format("noop") \
                .mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        jobs1 = set(tracker.getJobIdsForGroup(None) or [])
        compiles = compile_count.getCount() - compiles0
        new_jobs = sorted(jobs1 - jobs0)
        n_stages = n_tasks = 0
        for j in new_jobs:
            ji = tracker.getJobInfo(j)
            if ji is None:
                continue
            for s in ji.stageIds:
                si = tracker.getStageInfo(s)
                if si is not None:
                    n_stages += 1
                    n_tasks += si.numTasks
        per = max(args.runs, 1)
        print(f"{name}: min={min(runs):.3f}s "
              f"runs={[round(r, 3) for r in runs]} "
              f"jobs={len(new_jobs) / per:.1f} "
              f"stages={n_stages / per:.1f} tasks={n_tasks / per:.0f} "
              f"compiles={compiles / per:.1f}"
              " (per run)", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
