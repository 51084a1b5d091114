"""The snapshot-store commit protocol: the one module that knows the
on-disk layout of the foreachBatch stores in streaming/jobs.py.

A store directory holds
  v{batch_id:020d}/  the parquet snapshot a micro-batch committed (a
                     store keeping several frames per batch puts each
                     under its own subdirectory: cells/, clicks/, ...;
                     a head merge replaying its head's batch writes
                     v{batch_id:020d}.replay/, see commit);
  _CURRENT           the pointer naming the committed head, written to
                     _CURRENT.tmp and swapped in with os.replace, so a
                     reader sees the old head or the new one, never a
                     partial write;
  _LINEAGE           the checkpoint that owns a rebasing store.

A store's merge algebra picks its base, and with it its exactly-once
rule:
  head_base    idempotent merges (min/max, union-distinct, latest
               wins) fold into the committed head; a replayed batch or
               a fresh checkpoint replaying history converges to the
               same head.
  rebase_base  non-idempotent merges (sums, decrement totals, credit
               ledgers) fold into the newest version below the batch,
               so a replayed batch b rebuilds the same v{b} instead of
               double-counting; a batch behind the head (a fresh
               checkpoint against an existing store) or from another
               checkpoint lineage is refused.
"""

from __future__ import annotations

import os
from pathlib import Path
from urllib.parse import urlparse

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

_FRESH_CHECKPOINT = (" (fresh checkpoint against an existing store?) — "
                     "refusing to reset or double-count; use a new "
                     "store or keep the original checkpoint")


def version(batch_id: int) -> str:
    return f"v{batch_id:020d}"


def read_head(out_dir: str) -> list[str]:
    """The parts _CURRENT names: one version for most stores, a base +
    delta manifest for the audience-bitmap store. Raises
    FileNotFoundError before the first commit."""
    with open(f"{out_dir}/_CURRENT", encoding="utf-8") as f:
        return f.read().split()


def read_latest_snapshot(spark: SparkSession, out_dir: str,
                         sub: str = "") -> DataFrame:
    """Read the committed head snapshot (its ``sub`` frame for stores
    that keep several frames per version)."""
    head, = read_head(out_dir)
    return spark.read.parquet(os.path.join(out_dir, sub, head))


def head_base(spark: SparkSession, out_dir: str, store: str,
              state: str = "history") -> DataFrame | None:
    """The head-merge base: the committed head, or None before the
    first commit. A pointer whose snapshot cannot be read fails the
    batch, so the checkpoint retries it, instead of resetting the
    store's ``state``."""
    try:
        return read_latest_snapshot(spark, out_dir)
    except FileNotFoundError:
        return None
    except AnalysisException as e:
        raise RuntimeError(
            f"{store} under {out_dir} unreadable; refusing to reset "
            f"{state}") from e


def check_lineage(out_dir: str, lineage: str | None) -> None:
    """Refuse to merge into a store owned by a DIFFERENT checkpoint
    lineage: non-idempotent merges (sum, credit) would double-count
    or silently reset if a fresh checkpoint replayed history into an
    existing store. First writer stamps _LINEAGE; later merges must
    match. Direct calls (tests, backfills) pass lineage=None and are
    governed by the version-head guard alone."""
    if lineage is None:
        return
    lp = Path(out_dir) / "_LINEAGE"
    if lp.exists():
        if lp.read_text(encoding="utf-8") != lineage:
            raise RuntimeError(
                f"store {out_dir} belongs to checkpoint lineage "
                f"{lp.read_text(encoding='utf-8')!r}, not {lineage!r} "
                f"— a fresh checkpoint replaying history would "
                f"double-count or reset; use a new store")
    else:
        lp.parent.mkdir(parents=True, exist_ok=True)
        lp.write_text(lineage, encoding="utf-8")


def rebase_base(out_dir: str, batch_id: int, lineage: str | None,
                store: str, refusal: str = _FRESH_CHECKPOINT,
                sub: str = "") -> str | None:
    """The rebase base: the newest version below ``batch_id`` (listed
    under ``sub``), or None for the first batch. Refuses a foreign
    lineage, and a batch behind the head with ``refusal`` as the
    message tail."""
    check_lineage(out_dir, lineage)
    existing = sorted(
        int(p.name[1:]) for p in Path(out_dir, sub).glob("v*")
        if p.is_dir() and p.name[1:].isdigit())
    if existing and existing[-1] > batch_id:
        raise RuntimeError(
            f"{store} {out_dir} already holds version v{existing[-1]} "
            f"> incoming batch {batch_id}{refusal}")
    prior = [v for v in existing if v < batch_id]
    return version(prior[-1]) if prior else None


def write_snapshot(frame: DataFrame, out_dir: str, batch_id: int,
                   sub: str = "") -> str:
    """Write ``frame`` as the batch's version (a replay overwrites its
    own earlier attempt) and return the version name; head readers see
    it only once it is published."""
    name = version(batch_id)
    frame.write.mode("overwrite").parquet(os.path.join(out_dir, sub, name))
    return name


def write_atomic(path: str, text: str) -> None:
    """Replace ``path`` with ``text`` all at once (tmp + os.replace)."""
    tmp = f"{path}.tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(text)
    os.replace(tmp, path)


def publish(out_dir: str, *parts: str) -> None:
    """Commit: repoint _CURRENT at ``parts``."""
    write_atomic(f"{out_dir}/_CURRENT", "\n".join(parts))


def commit(frame: DataFrame, out_dir: str, batch_id: int) -> None:
    """Write and publish a single-frame store's next snapshot.

    A head merge replaying the batch that wrote the committed head
    reads v{b} while rewriting it, and overwriting a directory a frame
    still scans can delete it before the scan runs (it does without
    adaptive execution). Such a commit writes v{b}.replay, a name the
    read does not use, and publishes that; the next replay reads
    v{b}.replay and writes v{b} again."""
    name = version(batch_id)
    head = Path(os.path.abspath(os.path.join(out_dir, name)))
    if any(head in Path(urlparse(f).path).parents
           for f in frame.inputFiles()):
        name += ".replay"
    frame.write.mode("overwrite").parquet(os.path.join(out_dir, name))
    publish(out_dir, name)


def run_batches(df: DataFrame, merge, checkpoint_dir: str):
    """Start ``merge(batch, batch_id)`` over every micro-batch of
    ``df`` available now, with offsets checkpointed under
    ``checkpoint_dir``; returns the started query."""
    return (df.writeStream.foreachBatch(merge)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())
