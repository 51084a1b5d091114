#!/usr/bin/env python3
"""Tracing overhead of one workload and seed.

    python3 perfbench/overhead.py --workload etl_load --seed 1

Runs ``perfbench/run.py`` untraced and then traced, back to back with
the same arguments, and prints one JSON object: both runs' ``wall_s``
(the traced run reports it as ``trace.wall_s``) and their difference,
``trace_overhead_s``. Exits non-zero if either run fails.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"


def wall_s(workload: str, seed: int, trace: int) -> float:
    out = subprocess.run(
        [sys.executable, str(RUN), "--workload", workload, "--seed", str(seed),
         "--trace", str(trace)],
        check=True, stdout=subprocess.PIPE, text=True).stdout
    metrics = json.loads(out.strip().splitlines()[-1])["metrics"]
    return metrics["trace.wall_s" if trace else "wall_s"]["value"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    untraced = wall_s(a.workload, a.seed, 0)
    traced = wall_s(a.workload, a.seed, 1)
    print(json.dumps({"workload": a.workload, "seed": a.seed,
                      "untraced_wall_s": untraced, "traced_wall_s": traced,
                      "trace_overhead_s": traced - untraced}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
