"""Minimal versioned table format (Delta/Iceberg-lite).

A table directory holds immutable parquet data files plus a JSON
manifest log. The commit protocol (the Delta commit in miniature):

1. ``_manifest`` resolves the base snapshot: the latest version, or a
   pinned one. A table with no versions raises FileNotFoundError; a
   version that was never committed raises ValueError. Every public
   reader and writer resolves its versions here.
2. ``_write_files`` writes the commit's new data under a fresh
   ``data/v{n}-{uuid}`` directory that no manifest names yet, so a
   crash before step 3 leaves garbage, never a half-visible version.
3. ``_publish`` creates manifest ``n`` with O_EXCL. It lists the
   COMPLETE file set of the new version (snapshot isolation: readers
   of version N never see a partial commit or later files), and two
   writers racing to the same version number cannot both win: the
   loser gets a VersionConflictError and retries against the new
   latest (optimistic concurrency).

Every manifest records the TABLE schema under ``table_schema`` (the
union of its files' columns, in the order a footer merge gives), so a
read is planned from the manifest alone: ``_scan`` hands that schema
to the reader and no schema-inference job runs until the action.
Files that lack a column null-fill it. A manifest written before
manifests recorded the table schema (it holds only the last commit's
``schema``) takes it from a mergeSchema read of its files' footers;
the next append, DELETE or MERGE onto such a table records it.

Per-file min/max stats and Bloom filters are derived metadata that
``collect_stats`` / ``collect_bloom`` attach to a committed manifest.

What this deliberately does NOT do (and a production format adds):
compaction of the manifest log and schema evolution beyond adding
columns. The streaming snapshot stores (streaming/snapshots.py) are
the streaming producer of the same pattern.

Layout:
    <table>/_log/v00000042.json  # {"version", "files", "mode", "table_schema"}
    <table>/data/v00000042-<uuid>/part-*.parquet
"""

from __future__ import annotations

import json
import os
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_LOG = "_log"
_DATA = "data"


class VersionConflictError(RuntimeError):
    """Another writer committed this version first; re-read and retry."""


def _log_dir(path: str) -> Path:
    return Path(path) / _LOG


def versions(path: str) -> list[int]:
    """Committed versions, ascending; [] for a nonexistent table."""
    d = _log_dir(path)
    if not d.is_dir():
        return []
    return sorted(int(p.stem[1:]) for p in d.glob("v*.json"))


def _read_manifest(path: str, version: int) -> dict:
    with open(_log_dir(path) / f"v{version:08d}.json", encoding="utf-8") as f:
        return json.load(f)


def _manifest(path: str, version: int | None = None) -> dict:
    """The manifest of ``version`` (default: latest); its ``"version"``
    is the resolved number."""
    vs = versions(path)
    if not vs:
        raise FileNotFoundError(f"no committed versions under {path}")
    if version is None:
        version = vs[-1]
    elif version not in vs:
        raise ValueError(f"version {version} of {path} not in {vs}")
    m = _read_manifest(path, version)
    m["version"] = version
    return m


def _write_files(df: DataFrame, path: str, version: int) -> list[str]:
    """Write ``df`` under a fresh data directory for ``version``;
    returns its part files relative to ``path``, sorted."""
    commit_dir = f"{_DATA}/v{version:08d}-{uuid.uuid4().hex[:8]}"
    df.write.mode("errorifexists").parquet(f"{path}/{commit_dir}")
    return sorted(f"{commit_dir}/{p.name}"
                  for p in (Path(path) / commit_dir).glob("part-*.parquet"))


def _publish(path: str, version: int, mode: str, files: list[str],
             table_schema: str | None, base: dict | None = None,
             **extra) -> int:
    """Create manifest ``version`` with O_EXCL (exactly one writer per
    version) listing ``files``; returns ``version``. ``extra`` adds
    manifest keys (``txn``, ``predicate``, ...).

    Every file carried over from the ``base`` manifest keeps its
    ``stats`` and ``bloom`` entries, so data skipping and point
    lookups still prune it; new files get none and are read
    conservatively until the next ``collect_stats`` / ``collect_bloom``."""
    manifest = {"version": version, "mode": mode, "files": files,
                "txn": None, "table_schema": table_schema, **extra}
    if base is not None:
        keep = set(files)
        stats = {f: s for f, s in base.get("stats", {}).items() if f in keep}
        bloom = {c: kept for c, per in base.get("bloom", {}).items()
                 if (kept := {f: b for f, b in per.items() if f in keep})}
        if stats:
            manifest["stats"] = stats
        if bloom:
            manifest["bloom"] = bloom
    _log_dir(path).mkdir(parents=True, exist_ok=True)
    try:
        with open(_log_dir(path) / f"v{version:08d}.json", "x",
                  encoding="utf-8") as f:
            json.dump(manifest, f)
    except FileExistsError as e:
        raise VersionConflictError(
            f"version {version} of {path} was committed concurrently; "
            f"re-read the table and retry") from e
    return version


def _rewrite_manifest(path: str, version: int, manifest: dict) -> None:
    """Replace a committed manifest in place (tmp + os.replace) to
    attach derived metadata such as stats or Bloom filters."""
    tmp = _log_dir(path) / f".v{version:08d}.json.tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(manifest, f)
    os.replace(tmp, _log_dir(path) / f"v{version:08d}.json")


def _table_schema(spark: SparkSession, path: str,
                  manifest: dict) -> StructType:
    """The table schema ``manifest`` records. A manifest without
    ``table_schema`` (written before manifests recorded it) gets it
    from a mergeSchema read of all its files' footers (one Spark
    job)."""
    recorded = manifest.get("table_schema")
    if recorded is not None:
        return StructType.fromJson(json.loads(recorded))
    return (spark.read.option("mergeSchema", "true")
            .parquet(*[f"{path}/{f}" for f in manifest["files"]]).schema)


def _scan(spark: SparkSession, path: str, manifest: dict,
          files: list[str]) -> DataFrame:
    """Read ``files`` (relative to ``path``) with ``manifest``'s table
    schema: no footer is opened to plan the read, files missing a
    column read it as typed NULLs, and no files give a zero-row frame
    with the table's columns."""
    return (spark.read.schema(_table_schema(spark, path, manifest))
            .parquet(*[f"{path}/{f}" for f in files]))


def write_versioned(df: DataFrame, path: str, mode: str = "append",
                    base_version: int | None = None,
                    txn: str | None = None) -> int:
    """Commit ``df`` as a new version; returns the version number.

    ``overwrite`` replaces the visible file set; ``append`` extends
    it, and the files it carries keep their stats and Bloom entries.

    ``base_version`` pins the snapshot this commit was derived from
    (the optimistic-concurrency protocol: a transactional writer reads
    version N, transforms, and commits N+1). If another writer
    published N+1 first, the O_EXCL manifest create loses and raises
    VersionConflictError — re-read and retry. When omitted, the
    current latest at call time is the base (last-writer-wins for
    independent appends).

    ``txn`` is an idempotence token: if any committed manifest already
    records it, the write is a no-op returning that version — this is
    how a replayed streaming micro-batch (checkpoint recovery re-runs
    the last batch) avoids double-appending.
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    existing = versions(path)
    if txn is not None:
        for v in existing:
            if _read_manifest(path, v).get("txn") == txn:
                return v
    base = (_manifest(path, base_version)
            if existing or base_version is not None else None)
    # schema evolution contract: an append may ADD columns (appended
    # at the end of the table schema; older files read them as typed
    # NULLs) but may not CHANGE the type of any column the table has
    # — that would silently corrupt every existing file's reads, so it
    # fails loudly here
    schema, carried = df.schema, []
    if mode == "append" and base is not None:
        carried = base["files"]
        fields = list(_table_schema(df.sparkSession, path, base))
        prev_types = {f.name: f.dataType for f in fields}
        for f in df.schema.fields:
            if f.name not in prev_types:
                fields.append(f)
            elif f.dataType != prev_types[f.name]:
                raise TypeError(
                    f"schema evolution: column {f.name!r} changes type "
                    f"{prev_types[f.name].simpleString()!r} -> "
                    f"{f.dataType.simpleString()!r}; only ADDING columns "
                    "is a safe widening")
        schema = StructType(fields)
    version = 0 if base is None else base["version"] + 1
    files = carried + _write_files(df, path, version)
    return _publish(path, version, mode, files, schema.json(), base=base,
                    txn=txn)


def read_versioned(spark: SparkSession, path: str,
                   version: int | None = None) -> DataFrame:
    """Read the table at ``version`` (default: latest) — time travel
    is just resolving an older manifest's file list."""
    m = _manifest(path, version)
    return _scan(spark, path, m, m["files"])


def vacuum_versioned(path: str, keep_versions: int = 1) -> dict:
    """Retention maintenance: keep the newest ``keep_versions``
    manifests, delete older manifests and every data file no kept
    version references. Time travel shortens to the retention window;
    storage stops growing with history — the periodic job every
    log-structured table needs (Delta VACUUM).

    Pure driver-side filesystem metadata work: no Spark job, no data
    read. Returns {"kept_versions", "removed_manifests",
    "removed_files"}.
    """
    if keep_versions < 1:
        raise ValueError("keep_versions must be >= 1")
    vs = versions(path)
    keep = vs[-keep_versions:]
    drop = [v for v in vs if v not in keep]
    referenced = {f for v in keep for f in _read_manifest(path, v)["files"]}
    removed_files = 0
    data_root = Path(path) / _DATA
    if data_root.is_dir():
        for p in sorted(data_root.rglob("*.parquet")):
            rel = str(p.relative_to(Path(path)))
            if rel not in referenced:
                p.unlink()
                removed_files += 1
        for d in sorted(data_root.iterdir()):
            if d.is_dir() and not any(d.iterdir()):
                d.rmdir()
    for v in drop:
        (_log_dir(path) / f"v{v:08d}.json").unlink()
    return {"kept_versions": keep, "removed_manifests": len(drop),
            "removed_files": removed_files}


def table_history(path: str) -> list[dict]:
    """DESCRIBE HISTORY: one dict per committed version, ascending —
    (version, mode, txn, n_files, n_files_added vs the previous
    manifest) — the audit view every table format exposes; pure
    manifest reads, no data files touched."""
    out = []
    prev: set[str] = set()
    for v in versions(path):
        m = _read_manifest(path, v)
        cur = set(m["files"])
        out.append({"version": v, "mode": m.get("mode"),
                    "txn": m.get("txn"),
                    "n_files": len(cur),
                    "n_files_added": len(cur - prev)})
        prev = cur
    return out


def _file_stats(table_path: str, rel_file: str,
                stat_cols: tuple[str, ...]) -> dict:
    """Per-file min/max from the parquet footer (driver-side metadata
    read — no data pages touched)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(str(Path(table_path) / rel_file)).metadata
    idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    out = {}
    for c in stat_cols:
        if c not in idx:
            continue
        lo = hi = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx[c]).statistics
            if st is None or not st.has_min_max:
                lo = hi = None
                break
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        if lo is not None:
            out[c] = [lo, hi]
    return out


def collect_stats(path: str, version: int | None = None,
                  stat_cols: tuple[str, ...] = ()) -> None:
    """Attach per-file min/max stats for ``stat_cols`` to a committed
    manifest (rewrites the manifest in place — stats are derived
    metadata, not part of the commit protocol). Run after write, or
    periodically like vacuum."""
    m = _manifest(path, version)
    m["stats"] = {f: _file_stats(path, f, stat_cols) for f in m["files"]}
    _rewrite_manifest(path, m["version"], m)


def read_versioned_pruned(spark: SparkSession, path: str, column: str,
                          lo, hi, version: int | None = None) -> DataFrame:
    """Manifest-level data skipping: read only the files whose
    [min, max] range for ``column`` intersects [lo, hi] — pruning
    happens BEFORE Spark lists or opens anything, the Iceberg/Delta
    scan-planning step that makes a selective query on a 100 TB table
    touch 100 GB. Files without stats are conservatively read.
    Returns an empty-but-typed frame when every file prunes away."""
    m = _manifest(path, version)
    stats = m.get("stats", {})
    keep = []
    for f in m["files"]:
        rng = stats.get(f, {}).get(column)
        if rng is None or (rng[0] <= hi and lo <= rng[1]):
            keep.append(f)
    return _scan(spark, path, m, keep)


def changed_files(path: str, since_version: int,
                  to_version: int | None = None) -> list[str]:
    """Change feed: data files ADDED after ``since_version`` up to
    ``to_version`` (default latest) — the incremental-consumer
    primitive (backfills, downstream syncs) that reads only the delta,
    never the whole table. Overwrites start a new lineage, so their
    files appear as additions."""
    base = set(_manifest(path, since_version)["files"])
    now = _manifest(path, to_version)["files"]
    return [f for f in now if f not in base]


def changed_rows(path: str, since_version: int,
                 to_version: int | None = None) -> int:
    """Row count of the change feed after ``since_version`` up to
    ``to_version`` (default latest), summed from the parquet footers
    on the driver (no Spark job, no data page read)."""
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(str(Path(path) / f)).num_rows
               for f in changed_files(path, since_version, to_version))


def read_changes(spark: SparkSession, path: str, since_version: int,
                 to_version: int | None = None) -> DataFrame:
    """Read only the rows added after ``since_version`` (see
    changed_files), with the table schema of ``to_version``."""
    m = _manifest(path, to_version)
    return _scan(spark, path, m,
                 changed_files(path, since_version, m["version"]))


def merge_upsert_versioned(spark: SparkSession, path: str,
                           updates: DataFrame, key_cols: list[str],
                           base_version: int | None = None) -> int:
    """MERGE: upsert ``updates`` into the table by key — matched rows
    replaced, new keys inserted — committed as one new version derived
    from ``base_version`` (default latest), so a concurrent commit in
    between raises VersionConflictError instead of silently losing
    either write (the lost-update anomaly OCC exists to prevent).

    Shape: one left_anti join of current rows against update keys
    (update keys broadcast when small) + a union — the copy-on-write
    MERGE a production format executes per touched file; here the
    whole snapshot rewrites, which is the documented simplification."""
    from pyspark.sql import functions as F

    m = _manifest(path, base_version)
    keys = updates.select(*key_cols).distinct()
    survivors = (_scan(spark, path, m, m["files"])
                 .join(F.broadcast(keys), key_cols, "left_anti"))
    merged = survivors.unionByName(updates)
    return write_versioned(merged, path, mode="overwrite",
                           base_version=m["version"])


ZORDER_BITS = 8


def zorder_rewrite(spark: SparkSession, path: str, cols: list[str],
                   target_files: int = 4, bits: int = ZORDER_BITS,
                   base_version: int | None = None) -> int:
    """OPTIMIZE ... ZORDER BY: rewrite the current snapshot clustered
    on the Z-value (bit-interleaved bucket ids) of ``cols``, then
    refresh file stats — so `read_versioned_pruned` skips files for
    selective predicates on ANY of the clustered columns, not just the
    first one a linear sort favors. This is the Delta/Iceberg
    multi-dimensional clustering maintenance pass; at 100 TB it is what
    keeps two different dashboards (one filtering user, one filtering
    value) both reading ~1/target_files of the table.

    Each column is linearly bucketed to 2^bits cells between its
    min/max (one tiny agg job for the ranges; NULLs cluster at cell 0),
    and the Z-value interleaves the cells' bits. The rewrite itself is
    ONE range shuffle on the Z-value + per-partition sort — the same
    plan shape as `write_sorted_parquet`, no global sort.

    Committed as an overwrite version derived from ``base_version``
    (default latest) under the usual OCC protocol; returns the new
    version number.
    """
    from pyspark.sql import functions as F

    m = _manifest(path, base_version)
    df = _scan(spark, path, m, m["files"])
    aggs = []
    for c in cols:
        aggs += [F.min(F.col(c).cast("double")).alias(f"lo_{c}"),
                 F.max(F.col(c).cast("double")).alias(f"hi_{c}")]
    rng = df.agg(*aggs).collect()[0]
    n, cells = len(cols), 1 << bits
    buckets = []
    for c in cols:
        lo, hi = rng[f"lo_{c}"], rng[f"hi_{c}"]
        span = (hi - lo) if (hi is not None and hi > lo) else 1.0
        cell = F.floor((F.col(c).cast("double") - F.lit(lo))
                       / F.lit(span) * cells).cast("long")
        buckets.append(F.coalesce(
            F.greatest(F.lit(0), F.least(F.lit(cells - 1), cell)),
            F.lit(0)))
    z = F.lit(0).cast("long")
    for j in range(bits):
        for i, bk in enumerate(buckets):
            z = z + F.shiftleft(
                F.shiftright(bk, j).bitwiseAND(F.lit(1)), j * n + i)
    clustered = (df.withColumn("__z", z)
                 .repartitionByRange(target_files, "__z")
                 .sortWithinPartitions("__z")
                 .drop("__z"))
    version = write_versioned(clustered, path, mode="overwrite",
                              base_version=m["version"])
    collect_stats(path, version=version, stat_cols=tuple(cols))
    return version


def clone_versioned(src: str, dst: str) -> int:
    """Shallow (zero-copy) clone: ``dst`` becomes a new table whose
    v0 manifest references ``src``'s current data files by relative
    path — no data copied, no Spark job, pure manifest metadata (the
    Delta SHALLOW CLONE primitive: instant dev/test copies of a
    100 TB table). The clone then evolves independently — appends and
    overwrites land under ``dst``'s own data directory.

    Hazard (same as Delta's): VACUUM on the SOURCE can delete files
    the clone still references; clones are for short-lived forks, or
    pair them with source retention that outlives them. ``dst``'s own
    vacuum never touches files outside its directory.
    """
    m = _manifest(src)
    files = [os.path.relpath(str(Path(src) / f), dst) for f in m["files"]]
    return _publish(dst, 0, "overwrite", files, m.get("table_schema"),
                    cloned_from={"table": str(src),
                                 "version": m["version"]})


def delete_versioned(spark: SparkSession, path: str, predicate: str,
                     base_version: int | None = None) -> dict:
    """Row-level DELETE with FILE-PRUNED copy-on-write — the Delta
    DELETE execution shape: (1) one scan with the predicate pushed
    down finds WHICH files contain matching rows (driver sees only
    distinct file names, ≤ |files|); (2) only those files are
    rewritten without the matching rows; every untouched file is
    carried into the new manifest BY REFERENCE — at 100 TB a
    selective delete rewrites the few files it touches, not the
    table. Rows where the predicate is NULL are kept (SQL DELETE
    semantics). Untouched files keep their stats and Bloom metadata.

    Returns {"version", "rewritten_files", "carried_files"};
    version is the base when no file matched (no-op, no commit)."""
    from pyspark.sql import functions as F

    m = _manifest(path, base_version)
    files = m["files"]
    df = _scan(spark, path, m, files)
    hit_rows = (df.where(F.expr(predicate))
                .select(F.input_file_name().alias("f"))
                .distinct().collect())
    hit = {r["f"] for r in hit_rows}
    touched = [f for f in files if any(h.endswith(f) for h in hit)]
    if not touched:
        return {"version": m["version"], "rewritten_files": 0,
                "carried_files": len(files)}
    new_version = m["version"] + 1
    keep = ~F.coalesce(F.expr(predicate), F.lit(False))
    new_files = _write_files(_scan(spark, path, m, touched).where(keep),
                             path, new_version)
    carried = [f for f in files if f not in touched]
    _publish(path, new_version, "delete", carried + new_files,
             df.schema.json(), base=m, predicate=predicate)
    return {"version": new_version, "rewritten_files": len(touched),
            "carried_files": len(carried)}


# -- per-file Bloom index for point lookups ---------------------------

BLOOM_IDX_BITS = 1 << 16      # 8 KB per file
BLOOM_IDX_WORDS = BLOOM_IDX_BITS // 64
BLOOM_IDX_K = 4


def _bloom_idx_pos(col, j: int):
    """Bit position j for a key value: md5-derived (engine-portable;
    the driver-side probe recomputes it with hashlib)."""
    from pyspark.sql import functions as F

    return (F.conv(F.substring(
        F.md5(F.concat(F.lit(f"bl{j}|"), col).cast("binary")), 1, 8),
        16, 10).cast("long") % BLOOM_IDX_BITS)


def _bloom_idx_pos_py(value, j: int) -> int:
    import hashlib

    h = hashlib.md5(f"bl{j}|{value}".encode()).hexdigest()[:8]
    return int(h, 16) % BLOOM_IDX_BITS


def collect_bloom(spark: SparkSession, path: str, column: str,
                  version: int | None = None) -> None:
    """Attach a per-file Bloom filter over ``column`` to a committed
    manifest — the point-lookup index (Delta's BLOOM FILTER INDEX /
    Parquet bloom in spirit, stored at the manifest level so pruning
    needs no file opens at all). ONE Spark job builds every file's
    8 KB filter: per-(file, word) bit_or partial-aggregates map-side,
    so the shuffle is ≤ |files|·1024 rows regardless of row count."""
    from pyspark.sql import functions as F

    m = _manifest(path, version)
    df = (_scan(spark, path, m, m["files"])
          .select(F.input_file_name().alias("f"),
                  F.col(column).cast("string").alias("v"))
          .where(F.col("v").isNotNull()))
    pos = df.select("f", F.explode(F.array(
        *[_bloom_idx_pos(F.col("v"), j)
          for j in range(BLOOM_IDX_K)])).alias("pos"))
    words = (pos.groupBy("f", (F.col("pos") / 64).cast("long").alias("w"))
             .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), "
                         "CAST(pos % 64 AS INT)))").alias("bits")))
    dense = (words.groupBy("f")
             .agg(F.map_from_entries(
                 F.collect_list(F.struct("w", "bits"))).alias("wm"))
             .select("f", F.expr(
                 f"transform(sequence(0, {BLOOM_IDX_WORDS - 1}), "
                 "i -> coalesce(wm[CAST(i AS BIGINT)], "
                 "CAST(0 AS BIGINT)))").alias("bitmap")))
    per_file: dict[str, list[int]] = {}
    for r in dense.collect():
        rel = next((f for f in m["files"] if r["f"].endswith(f)), None)
        if rel is not None:
            per_file[rel] = list(r["bitmap"])
    m.setdefault("bloom", {})[column] = per_file
    _rewrite_manifest(path, m["version"], m)


def read_versioned_point(spark: SparkSession, path: str, column: str,
                         value, version: int | None = None) -> DataFrame:
    """Point lookup through the manifest indexes: a file is read only
    if (a) its Bloom filter for ``column`` has all K bits of the
    probe value (no false negatives — a file without a filter is
    conservatively read), and (b) its min/max stats admit the value.
    Pruning is pure driver-side manifest metadata — a needle query on
    a 100 TB table opens the handful of files that can contain the
    key, with the final exact predicate pushed into the scan."""
    from pyspark.sql import functions as F

    m = _manifest(path, version)
    bloom = m.get("bloom", {}).get(column, {})
    stats = m.get("stats", {})
    probe = [_bloom_idx_pos_py(value, j) for j in range(BLOOM_IDX_K)]
    keep = []
    for f in m["files"]:
        arr = bloom.get(f)
        if arr is not None and not all(
                (arr[p // 64] >> (p % 64)) & 1 for p in probe):
            continue
        rng = stats.get(f, {}).get(column)
        if rng is not None and not (rng[0] <= value <= rng[1]):
            continue
        keep.append(f)
    return (_scan(spark, path, m, keep)
            .where(F.col(column) == F.lit(value)))


def optimize_versioned(spark: SparkSession, path: str,
                       zorder_cols: list[str] | None = None,
                       target_files: int = 4,
                       keep_versions: int = 2) -> dict:
    """One-call table maintenance (the nightly OPTIMIZE job): rewrite
    the current snapshot into ``target_files`` files — Z-order
    clustered when ``zorder_cols`` is given, plain coalesce otherwise
    — then VACUUM history down to ``keep_versions``. Compaction and
    clustering are the same rewrite (both publish one new version),
    so small-file cleanup is free whenever clustering runs. Returns
    {"version", "n_files_before", "n_files_after", plus the vacuum
    counters}."""
    before = len(_manifest(path)["files"])
    if zorder_cols:
        v = zorder_rewrite(spark, path, zorder_cols,
                           target_files=target_files)
    else:
        df = read_versioned(spark, path).coalesce(target_files)
        v = write_versioned(df, path, mode="overwrite")
    after = len(_read_manifest(path, v)["files"])
    out = vacuum_versioned(path, keep_versions=keep_versions)
    out.update({"version": v, "n_files_before": before,
                "n_files_after": after})
    return out


def diff_versions(spark: SparkSession, path: str, v_from: int,
                  v_to: int, keys: list[str]) -> DataFrame:
    """Row-level semantic diff between two snapshots of a versioned
    table: one row per changed key with change_type ∈ {'inserted',
    'deleted', 'updated'} — the audit view behind "what did last
    night's pipeline actually change" and the input to downstream
    incremental consumers that predate the change feed.

    MANIFEST-PRUNED: a data file carried by reference between the two
    manifests contributes byte-identical rows to both sides, so only
    files present in exactly ONE manifest are scanned — at 100 TB a
    diff across a selective delete/upsert reads the few rewritten
    files, never the table. Within the scanned slice, rows that moved
    files unchanged (copy-on-write rewrites) cancel via an xxhash64
    row fingerprint over the non-key columns (column order pinned by
    name sort, both sides same engine). ``keys`` must be unique per
    snapshot (the table's logical primary key).

    Shape: two pruned scans → one full-outer equi-join on the key
    (hash-partitioned on the same key both sides) → one projection.
    No window, no driver data."""
    from pyspark.sql import functions as F

    ma, mb = _manifest(path, v_from), _manifest(path, v_to)
    fa, fb = set(ma["files"]), set(mb["files"])
    only_a, only_b = sorted(fa - fb), sorted(fb - fa)

    def side(files: list[str], manifest: dict) -> DataFrame:
        base = _scan(spark, path, manifest, files)
        non_key = sorted(c for c in base.columns if c not in keys)
        return base.select(
            *keys,
            F.xxhash64(*[F.col(c) for c in non_key]).alias("_h"))

    a = side(only_a, ma).withColumnsRenamed({"_h": "_ha"})
    b = side(only_b, mb).withColumnsRenamed({"_h": "_hb"})
    j = a.join(b, keys, "full_outer")
    ct = (F.when(F.col("_ha").isNull(), F.lit("inserted"))
          .when(F.col("_hb").isNull(), F.lit("deleted"))
          .when(F.col("_ha") != F.col("_hb"), F.lit("updated")))
    return (j.select(*keys, ct.alias("change_type"))
            .where(F.col("change_type").isNotNull()))


def restore_versioned(path: str, version: int) -> int:
    """RESTORE (Delta-style rollback): publish a NEW version whose
    file list is exactly the target version's — history is preserved
    (the bad versions stay time-travelable for forensics) and the
    operation is metadata-only: no data files move, the new manifest
    references the old files. Returns the new version number.
    Fails loudly if the target's files have been vacuumed away."""
    m = _manifest(path, version)
    for f in m["files"]:
        if not (Path(path) / f).exists():
            raise FileNotFoundError(
                f"cannot restore to v{version}: data file {f} was "
                f"vacuumed; restore targets must be within the "
                f"retention window")
    return _publish(path, versions(path)[-1] + 1, "restore", m["files"],
                    m.get("table_schema"), base=m, restored_from=version)
