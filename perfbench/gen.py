"""Seeded benchmark inputs, derived from the repository's sf0.01 test
tables (a byte-for-byte copy is kept in ``perfbench/base``, so the
benchmark reads nothing outside its checkout).

``derive(seed, copies, out_dir)`` writes the ten tables the source layer
reads. Dimension tables are copied with their rows in a seeded order.
Fact tables are ``copies`` key-offset replicas, the way
``tools/scale_smoke.py`` scales the sf0.1 corpus: replica ``i`` keeps a
seeded 90% of the orders (with their lineitems), of the event users
(with their events) and of the documents (with their embeddings),
shifts its keys past replica ``i - 1`` so every foreign key still
resolves, and scales its money columns by ``1 + i/100`` so replicas do
not tie in ranking queries. The same seed always gives the same files.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE = Path(__file__).resolve().parent / "base"
DIMENSIONS = ("region", "nation", "customer", "supplier", "part")
KEEP = 0.9


def _read(name: str) -> pa.Table:
    return pq.read_table(BASE / f"{name}.parquet").replace_schema_metadata()


def _span(table: pa.Table, col: str) -> int:
    return pc.max(table[col]).as_py() + 1


def _set(table: pa.Table, col: str, values) -> pa.Table:
    i = table.schema.get_field_index(col)
    return table.set_column(i, table.schema.field(i), pa.array(
        values, type=table.schema.field(i).type))


def _replica(table: pa.Table, keep, i: int, offsets: dict[str, int],
             money: tuple[str, ...] = ()) -> pa.Table:
    """Rows where ``keep`` holds, keys shifted by ``i * offset``, money
    columns scaled by ``1 + i/100``."""
    t = table.filter(pa.array(keep))
    for col, span in offsets.items():
        t = _set(t, col, t[col].to_numpy() + i * span)
    if i:
        for col in money:
            t = _set(t, col, np.round(t[col].to_numpy() * (1 + i / 100), 2))
    return t


def derive(seed: int, copies: int, out_dir: Path) -> dict:
    """Write the seed's tables under ``out_dir``; returns
    ``{table: {"rows": n, "bytes": size}}``."""
    rng = np.random.default_rng(seed)
    out = {}
    for name in DIMENSIONS:
        t = _read(name)
        out[name] = t.take(pa.array(rng.permutation(t.num_rows)))
    orders, lineitem = _read("orders"), _read("lineitem")
    events, docs, emb = _read("events"), _read("documents"), _read("embeddings")
    o_span, e_span = _span(orders, "o_orderkey"), _span(events, "event_id")
    u_span, d_span = _span(events, "user_id"), _span(docs, "doc_id")
    facts: dict[str, list[pa.Table]] = {k: [] for k in (
        "orders", "lineitem", "events", "documents", "embeddings")}
    for i in range(copies):
        kept = rng.random(o_span) < KEEP
        facts["orders"].append(_replica(
            orders, kept[orders["o_orderkey"].to_numpy()], i,
            {"o_orderkey": o_span}, ("o_totalprice",)))
        facts["lineitem"].append(_replica(
            lineitem, kept[lineitem["l_orderkey"].to_numpy()], i,
            {"l_orderkey": o_span}, ("l_extendedprice",)))
        users = rng.random(u_span) < KEEP
        facts["events"].append(_replica(
            events, users[events["user_id"].to_numpy()], i,
            {"event_id": e_span, "user_id": u_span}, ("value",)))
        kept = rng.random(d_span) < KEEP
        d = _replica(docs, kept[docs["doc_id"].to_numpy()], i, {"doc_id": d_span})
        if i:
            d = _set(d, "text", pc.binary_join_element_wise(
                d["text"], pa.scalar(f"variant{i}"), " "))
        facts["documents"].append(d)
        facts["embeddings"].append(_replica(
            emb, kept[emb["vec_id"].to_numpy()], i, {"vec_id": d_span}))
    out.update({k: pa.concat_tables(v) for k, v in facts.items()})
    return write_tables(out, out_dir)


def make_batches(seed: int, orders: pa.Table, customer: pa.Table,
                 n_batches: int, orders_per_batch: int,
                 changes_per_batch: int) -> list[dict[str, pa.Table]]:
    """Ingest batches for the upsert half of the load workload. Batch
    ``i`` holds ``orders_per_batch`` new orders copied from seeded
    existing ones under fresh keys (half keep their original date, so
    they land in old months; half are re-dated into the last 60 days
    of the history) and ``changes_per_batch`` customers whose market
    segment moves to the next segment in the data."""
    rng = np.random.default_rng([seed, 1])
    next_key = _span(orders, "o_orderkey")
    dates = orders["o_orderdate"].to_numpy()
    last = dates.max()
    segments = sorted(set(customer["c_mktsegment"].to_pylist()))
    current = customer["c_mktsegment"].to_pylist()
    batches = []
    for _ in range(n_batches):
        n = orders_per_batch
        new = orders.take(pa.array(rng.choice(orders.num_rows, n, replace=False)))
        recent = last - rng.integers(0, 61, n).astype("timedelta64[D]")
        new = _set(new, "o_orderkey", np.arange(next_key, next_key + n))
        new = _set(new, "o_orderdate", np.where(
            rng.random(n) < 0.5, new["o_orderdate"].to_numpy(), recent))
        next_key += n
        rows = np.sort(rng.choice(customer.num_rows, changes_per_batch,
                                  replace=False))
        for r in rows:
            current[r] = segments[(segments.index(current[r]) + 1) % len(segments)]
        changed = _set(customer.take(pa.array(rows)), "c_mktsegment",
                       [current[r] for r in rows])
        batches.append({"orders": new, "customer": changed})
    return batches


def write_tables(tables: dict[str, pa.Table], out_dir: Path) -> dict:
    """Write each table as ``<out_dir>/<name>.parquet`` (one row group);
    returns ``{name: {"rows": n, "bytes": size}}``."""
    out_dir.mkdir(parents=True, exist_ok=True)
    sizes = {}
    for name, table in tables.items():
        path = out_dir / f"{name}.parquet"
        pq.write_table(table, path, row_group_size=max(table.num_rows, 1))
        sizes[name] = {"rows": table.num_rows, "bytes": path.stat().st_size}
    return sizes
