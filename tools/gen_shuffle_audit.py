#!/usr/bin/env python
"""Regenerate docs/SHUFFLES.md — a per-query physical-plan audit
(exchange count, join strategies, Python lanes) for every registered
query at sf0.001 with AQE off. The numeric companion to
tests/test_plan_hygiene.py: the ratchet asserts the invariants, this
table shows the actual shape of each plan so a reviewer can spot a
shuffle regression by diff. Run from the repo root:
python tools/gen_shuffle_audit.py
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

NODES = {
    "exchanges": r"Exchange",
    "bcast_join": r"BroadcastHashJoin",
    "smj": r"SortMergeJoin",
    "shj": r"ShuffledHashJoin",
    "bnlj": r"BroadcastNestedLoopJoin",
    "py": r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas|MapInArrow",
}


def main() -> None:
    from openlmis_distributions_etl_spark import registry
    from openlmis_distributions_etl_spark.session import get_spark

    spark = get_spark("shuffle-audit", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sf = "/root/testdata/sf0.001"
    rows = []
    for name, fn in sorted(registry.queries().items()):
        plan = fn(spark, sf)._jdf.queryExecution().executedPlan().toString()
        rows.append((name, *[len(re.findall(p, plan))
                             for p in NODES.values()]))
    out = Path(__file__).resolve().parent.parent / "docs" / "SHUFFLES.md"
    with open(out, "w", encoding="utf-8") as f:
        f.write("# Per-query physical-plan audit (generated)\n\n"
                "Counts of plan nodes per registered query at sf0.001, "
                "AQE off.\nRegenerate: `python tools/gen_shuffle_audit.py`"
                ".\n`bnlj` > 0 only in the broadcast-singleton patterns "
                "pinned in\n`tests/test_plan_hygiene.py`; `py` > 0 only "
                "in the declared Arrow lanes.\n\n"
                "Caveat (ADVICE r8): `knn_beam` / `knn_beam_batch` "
                "(one beam walk,\n`_beam_walk`) / `mmr_diversified_topk`"
                " / `kcenter_greedy_coreset` run\ntheir search at "
                "DataFrame-CONSTRUCTION time (the coordinator-held\n"
                "loop issues bounded constant-size probe jobs "
                "immediately) and return a\nLocalRelation, so their "
                "all-zero rows below describe the final serving\nframe, "
                "not the probe jobs; building these queries without "
                "executing them\nstill pays the full search.\n"
                "Their correctness is pinned by the oracle-parity gate "
                "and the partition-\ninvariance battery; the per-hop "
                "probe cost model is documented at\n"
                "`operators/similarity.py::_beam_walk`.\n\n")
        f.write("| query | exchanges | bcast_join | smj | shj | bnlj "
                "| py |\n|---|---|---|---|---|---|---|\n")
        for r in rows:
            f.write("| " + " | ".join(str(x) for x in r) + " |\n")
    print(f"wrote {len(rows)} rows to {out}")


if __name__ == "__main__":
    main()
