"""Fold an uncompressed, non-rolling Spark event log into per-job-group
totals, using only the standard library.

The benchmark tags every Spark job it causes with a job group of the
form ``<workload>:<op>:<phase>`` (``sc.setJobGroup``); this module reads
``SparkListenerJobStart`` (job -> group, job -> stages),
``SparkListenerStageCompleted`` and ``SparkListenerTaskEnd`` records and
sums jobs, stages, tasks, executor run time, GC, shuffle bytes, spill,
records and scheduler delay per group. Skew is the worst stage's
slowest-task / median-task duration.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from pathlib import Path

COUNTERS = ("jobs", "stages", "tasks", "run_ms", "gc_ms", "scheduler_delay_ms",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
            "input_records", "output_records")


def find_log(log_dir: Path) -> Path:
    """The single finished application log under ``log_dir``."""
    logs = [p for p in log_dir.iterdir()
            if p.is_file() and not p.name.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, "
                           f"found {sorted(p.name for p in log_dir.iterdir())}")
    return logs[0]


def fold(path: Path) -> dict[str, dict[str, float]]:
    """``{job_group: {counter: total, ..., "task_skew": worst}}``."""
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    task_ms: dict[int, list[int]] = defaultdict(list)
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "untagged"
                job_group[ev["Job ID"]] = group
                out[group]["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                out[stage_group.get(sid, "untagged")]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                g = out[stage_group.get(sid, "untagged")]
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                dur = info["Finish Time"] - info["Launch Time"]
                run = m.get("Executor Run Time", 0)
                g["tasks"] += 1
                g["run_ms"] += run
                g["gc_ms"] += m.get("JVM GC Time", 0)
                g["scheduler_delay_ms"] += max(
                    0, dur - run - m.get("Executor Deserialize Time", 0)
                    - m.get("Result Serialization Time", 0))
                sr = m.get("Shuffle Read Metrics") or {}
                g["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                            + sr.get("Local Bytes Read", 0))
                sw = m.get("Shuffle Write Metrics") or {}
                g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                g["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                     + m.get("Disk Bytes Spilled", 0))
                g["input_records"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
                g["output_records"] += (m.get("Output Metrics") or {}).get("Records Written", 0)
                task_ms[sid].append(dur)
    for sid, durs in task_ms.items():
        med = statistics.median(durs)
        skew = max(durs) / med if med > 0 else 1.0
        g = out[stage_group.get(sid, "untagged")]
        g["task_skew"] = max(g.get("task_skew", 1.0), skew)
    return dict(out)


def total(folded: dict[str, dict[str, float]], match) -> dict[str, float]:
    """Sum the counters of every group for which ``match(group)`` holds;
    ``task_skew`` takes the worst."""
    acc = dict.fromkeys(COUNTERS, 0)
    acc["task_skew"] = 1.0
    for group, g in folded.items():
        if match(group):
            for k in COUNTERS:
                acc[k] += g[k]
            acc["task_skew"] = max(acc["task_skew"], g.get("task_skew", 1.0))
    return acc
