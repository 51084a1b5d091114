"""Replay the driver's correctness gate: every queries() entry vs its
DuckDB oracle, exact-match, at sf0.001 and sf0.01.

Tiering (round-10 lesson: the full both-SF replay outgrew the
driver's pytest budget — VERIFY_r10 cut off at ~80% with zero
failures): the DEFAULT run replays every query at sf0.001 and at
sf0.01 two fixed ~1-in-7 representative slices (see
SF001_DEFAULT_SLICE); set SPARK_GRAFT_SLOW_TESTS=1 for the full
both-SF matrix (what the pre-round and pre-commit gates run
locally)."""

from __future__ import annotations

import os

import pytest

from tests.conftest import SF0001, SF001
from tests.oracle import compare, duck_connection

import __spark_entry__ as entry_mod

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()

SLOW_TESTS = os.environ.get("SPARK_GRAFT_SLOW_TESTS") == "1"
# representative slices for the default sf0.01 leg, every 7th name of
# the sorted registry (~56 queries spanning all families) at offsets 0
# and 4. Both offsets are fixed: a slice rotated by commit sha changed
# which ~56 test names ran from one commit to the next, so comparing
# the passing tests of two commits showed names gone missing
SF001_DEFAULT_SLICE = frozenset(sorted(QUERIES)[0::7]) | frozenset(
    sorted(QUERIES)[4::7])


def test_every_query_has_an_oracle_or_is_declared():
    missing = set(QUERIES) - set(ORACLES)
    # rows-only entries (non-SQL-expressible) must be explicitly listed;
    # round 3 retired the last two (rational-idf BM25, exact+envelope HLL);
    # round 4 added one back: iterative float PageRank (power method —
    # semantics pinned by a pure-Python reference in test_operator_units)
    allowed_rows_only: set[str] = {"pagerank_dup_graph", "pca_project8",
                                   "opq_rotation_mse",
                                   "pca_explained_variance"}
    assert missing <= allowed_rows_only, f"queries without oracle: {missing}"
    dangling = set(ORACLES) - set(QUERIES)
    assert not dangling, f"oracles without query: {dangling}"


@pytest.fixture(scope="module")
def cons():
    c1, c2 = duck_connection(SF0001), duck_connection(SF001)
    yield {SF0001: c1, SF001: c2}
    c1.close()
    c2.close()


@pytest.mark.parametrize("name", sorted(QUERIES))
@pytest.mark.parametrize("sf_dir", [SF0001, SF001])
def test_oracle_parity(spark, cons, name, sf_dir):
    if name not in ORACLES:
        pytest.skip("rows-only query")
    if (sf_dir == SF001 and not SLOW_TESTS
            and name not in SF001_DEFAULT_SLICE):
        pytest.skip("sf0.01 full replay is the slow tier "
                    "(SPARK_GRAFT_SLOW_TESTS=1)")
    df = QUERIES[name](spark, sf_dir)
    compare(df, cons[sf_dir], ORACLES[name], name=f"{name}@{sf_dir}")


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
