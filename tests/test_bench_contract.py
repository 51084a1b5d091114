"""bench.py driver contract: exactly one JSON line on stdout with the
required keys (run at the smallest scale factor to keep it fast)."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
HEADLINE_PREFIX = 62


def test_bench_emits_one_json_line(tmp_path):
    # the full artifact goes to a pytest tmp path — the committed
    # bench_out.json is the sf0.1 round artifact and a full suite run
    # must never overwrite it with this sf0.001 contract map (r8)
    bench_out = tmp_path / "bench_out.json"
    env = dict(os.environ,
               SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
               SPARK_GRAFT_CPUS="4",
               SPARK_GRAFT_BENCH_OUT=str(bench_out),
               # single timed pass, no warmup: the contract under test
               # is the output shape, not steady-state timing
               SPARK_GRAFT_BENCH_RUNS="1",
               SPARK_GRAFT_BENCH_WARMUP="0")
    # the first HEADLINE_PREFIX headline queries: the shortest prefix
    # whose full stdout map overflows the 1700-char budget even at
    # 3-char timings ("0.1"), so the truncation path stays covered
    out = subprocess.run(
        [sys.executable, "-c",
         "import bench; bench.HEADLINE[:] = bench.HEADLINE[:"
         f"{HEADLINE_PREFIX}]; bench.main()"],
        capture_output=True, text=True, env=env, timeout=480, cwd=REPO)
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    assert len(lines) == 1, f"stdout must be exactly one line: {lines}"
    # the driver records only the last ~2000 stdout chars; the line
    # must fit that window or the parsed record is lost (BENCH_r06)
    assert len(lines[0]) <= 2000, f"stdout line too long: {len(lines[0])}"
    payload = json.loads(lines[0])
    assert payload["unit"] == "sec"
    assert payload["sf"] == 0.001
    assert isinstance(payload["value"], (int, float))
    assert payload["queries"] and all(
        isinstance(v, (int, float)) for v in payload["queries"].values())
    # full per-query fidelity lives in the artifact file; the stdout
    # map is the slowest-first subset of it that fits the byte budget
    full = json.loads(bench_out.read_text())
    assert abs(sum(full["queries"].values()) - payload["value"]) < 0.1
    assert payload["n_queries"] == len(full["queries"])
    assert payload["queries_omitted"] == (
        len(full["queries"]) - len(payload["queries"]))
    assert payload["queries_omitted"] > 0
    for name, sec in payload["queries"].items():
        assert full["queries"][name] == sec
    # burst adjudication fields (round-9 convention): every raw run is
    # in the artifact; stdout carries the flagged count only
    assert set(full["runs_sec"]) == set(full["queries"])
    for name, runs in full["runs_sec"].items():
        assert min(runs) == full["queries"][name]
    assert isinstance(full["burst_flagged"], list)
    assert payload["n_burst_flagged"] == len(full["burst_flagged"])
    assert "runs_sec" not in payload
