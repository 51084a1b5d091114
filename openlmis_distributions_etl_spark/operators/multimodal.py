"""Multimodal column plumbing (SURVEY.md §2.H).

Images/audio/video are opaque ``binary`` columns with typed metadata.
The Spark-side plumbing — schema, Arrow batch shape, mapInPandas
signature, partitioning — is real and tested; the actual media decode
is STUBBED (no image/audio libs in this container): ``decode_image``
raises NotImplementedError, and the feature extractor derives
deterministic fake features from the bytes so the pipeline is
end-to-end testable and oracle-checkable.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import spread

FEATURE_SCHEMA = ("doc_id long, byte_len long, first_byte int, "
                  "content_md5 string, fake_width int, fake_height int")


def decode_image(payload: bytes) -> "object":
    """STUB: real deployments plug Pillow/libvips here."""
    raise NotImplementedError(
        "media decode is stubbed in this environment; "
        "use extract_features' deterministic fake path")


def _extract_batch(batch: pd.DataFrame) -> pd.DataFrame:
    """Per-Arrow-batch feature extraction (vectorized pandas; the shape
    a real decoder would use — bytes in, fixed-width features out)."""
    import hashlib

    payloads = batch["payload"]
    byte_len = payloads.map(len)
    # empty payload → 0, matching the oracle's ascii('') = 0
    first_byte = payloads.map(lambda b: b[0] if len(b) else 0)
    md5 = payloads.map(lambda b: hashlib.md5(b).hexdigest())
    return pd.DataFrame({
        "doc_id": batch["doc_id"],
        "byte_len": byte_len.astype("int64"),
        "first_byte": first_byte.astype("int32"),
        "content_md5": md5,
        # deterministic fake of a decoded width/height
        "fake_width": (first_byte % 64 + 1).astype("int32"),
        "fake_height": (byte_len % 64 + 1).astype("int32"),
    })


def extract_features(binary_df: DataFrame) -> DataFrame:
    """mapInPandas over (doc_id, payload:binary) — Arrow-batched, no
    per-row Python. Partitioning is preserved (narrow op), so at scale
    this runs wherever the binary shards already live."""
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            yield _extract_batch(batch)

    return binary_df.mapInPandas(gen, schema=FEATURE_SCHEMA)


def multimodal_features(t: dict[str, DataFrame]) -> DataFrame:
    """Documents' text re-encoded as a binary payload column, run
    through the Arrow feature-extraction path. The oracle recomputes
    the same features in SQL (octet_length / ascii / md5)."""
    payloads = spread(t["documents"]).select(
        "doc_id", F.encode("text", "UTF-8").alias("payload"))
    return extract_features(payloads)


HIST_SCHEMA = ("user_id long, b0 long, b1 long, b2 long, b3 long, "
               "b4 long, n long")
_BINS = (0.0, 50.0, 100.0, 150.0, 200.0)


def _histogram_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Fixed-bin value histogram per user — integer outputs, so the
    grouped-map Python path is exactly oracle-checkable."""
    v = pdf["value"]
    counts = [int(((v >= lo) & (v < hi)).sum())
              for lo, hi in zip(_BINS, _BINS[1:])]
    counts.append(int((v >= _BINS[-1]).sum()))
    return pd.DataFrame([{
        "user_id": pdf["user_id"].iloc[0],
        **{f"b{i}": c for i, c in enumerate(counts)},
        "n": len(pdf),
    }])


def user_value_histogram(t: dict[str, DataFrame]) -> DataFrame:
    """Per-user spend histogram via built-in conditional aggregates —
    one map-side-combinable user_id shuffle, fully JVM codegen. A
    fixed-bin histogram IS expressible with built-ins, so the Python
    path is the wrong tool here (the grouped-map variant below costs
    one Arrow round-trip per user group: measured ~8× slower at
    sf0.1). ``user_value_histogram_pandas`` keeps the applyInPandas
    escape hatch demonstrated + unit-tested for the operators that
    genuinely need per-group imperative logic."""
    ev = t["events"].select("user_id", "value")
    aggs = [
        F.count(F.when((F.col("value") >= lo) & (F.col("value") < hi),
                       1)).alias(f"b{i}")
        for i, (lo, hi) in enumerate(zip(_BINS, _BINS[1:]))]
    aggs.append(F.count(F.when(F.col("value") >= _BINS[-1], 1))
                .alias(f"b{len(_BINS) - 1}"))
    aggs.append(F.count(F.lit(1)).alias("n"))
    return ev.groupBy("user_id").agg(*aggs)


def user_value_histogram_pandas(t: dict[str, DataFrame]) -> DataFrame:
    """applyInPandas grouped-map twin of ``user_value_histogram`` (one
    Arrow batch per user group, partitioned by the groupBy key) — kept
    as the tested template for custom per-group operators Spark's
    built-ins can't express."""
    return (spread(t["events"])
            .select("user_id", "value")
            .groupBy("user_id")
            .applyInPandas(_histogram_group, schema=HIST_SCHEMA))


FRAME_SIZE = 256        # bytes per fake "frame"
FRAME_STRIDE = 4        # sample every 4th frame

FRAME_SCHEMA = ("doc_id long, frame_idx int, frame_len int, "
                "frame_md5 string")


def _frame_sample_batch(batch: pd.DataFrame) -> pd.DataFrame:
    """Vectorized-enough frame sampling: fixed-size byte windows stand
    in for decoded video frames (a real decoder plugs in here); every
    FRAME_STRIDE-th window is emitted with its md5."""
    import hashlib

    out_doc, out_idx, out_len, out_md5 = [], [], [], []
    for doc_id, payload in zip(batch["doc_id"], batch["payload"]):
        n_frames = (len(payload) + FRAME_SIZE - 1) // FRAME_SIZE
        for idx in range(0, n_frames, FRAME_STRIDE):
            chunk = payload[idx * FRAME_SIZE:(idx + 1) * FRAME_SIZE]
            out_doc.append(doc_id)
            out_idx.append(idx)
            out_len.append(len(chunk))
            out_md5.append(hashlib.md5(chunk).hexdigest())
    return pd.DataFrame({"doc_id": out_doc,
                         "frame_idx": pd.array(out_idx, dtype="int32"),
                         "frame_len": pd.array(out_len, dtype="int32"),
                         "frame_md5": out_md5})


def frame_sample(binary_df: DataFrame) -> DataFrame:
    """mapInPandas frame sampler over (doc_id, payload:binary): narrow
    (no shuffle), Arrow-batched, output fan-out = frames/stride per
    row. At 100 TB the binary shards stay where they live and each
    task emits its own sampled frames."""
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            yield _frame_sample_batch(batch)

    return binary_df.mapInPandas(gen, schema=FRAME_SCHEMA)


def multimodal_frame_sample(t: dict[str, DataFrame]) -> DataFrame:
    """Documents' text re-encoded as a binary payload, run through the
    frame sampler (video frame-sampling plumbing with a byte-window
    stand-in for the decoder)."""
    payloads = spread(t["documents"]).select(
        "doc_id", F.encode("text", "UTF-8").alias("payload"))
    return frame_sample(payloads)


SHARD_TARGET_BYTES = 4096   # tiny target so the gate corpus spans shards;
                            # production uses ~1 GB tar shards


def multimodal_shard_plan(t: dict[str, DataFrame],
                          target_bytes: int = SHARD_TARGET_BYTES) -> DataFrame:
    """Training-shard layout (the WebDataset/tar-sharding step): pack
    each source's payloads, in doc_id order, into shards of
    ~``target_bytes`` via a running byte total — shard_id is the
    running total BEFORE this payload divided by the target, so a
    shard closes once it crosses the budget (the standard greedy
    binning; a shard may overrun by one payload, never undershoot).

    Scale shape: one window partitioned by source (the shuffle key a
    sharded export would partition by anyway) with an ordered running
    sum — no global ordering, no driver state. Output is the plan
    (doc_id → shard, start byte) a writer job consumes. All integer
    arithmetic (DIV, not double division) — float→int casts round
    differently across engines; floor-div on non-negative ints
    doesn't."""
    from pyspark.sql import Window

    ev = t["documents"].select(
        "doc_id", "source",
        F.length(F.col("text").cast("binary")).alias("byte_len"))
    w = (Window.partitionBy("source").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = F.sum("byte_len").over(w)
    return (ev.select("doc_id", "source", "byte_len",
                      (cum - F.col("byte_len")).alias("start_byte"))
            .selectExpr("doc_id", "source", "byte_len", "start_byte",
                        f"start_byte DIV {target_bytes} AS shard_id"))


ARROW_STATS_SCHEMA = ("doc_id long, byte_len long, checksum32 long")


def multimodal_byte_stats_arrow(t: dict[str, DataFrame]) -> DataFrame:
    """The mapInArrow variant of the binary path: raw
    ``pyarrow.RecordBatch`` in and out — no pandas materialization, the
    zero-copy lane for bulk binary work (a real decoder would hand the
    Arrow buffers straight to native code). Computes byte length and a
    deterministic additive 32-bit checksum (sum of bytes mod 2³²) per
    payload; integer outputs keep the Python path exactly
    oracle-checkable (the oracle folds ascii codes over the same ASCII
    corpus the frame-sample oracle already enforces)."""
    import pyarrow as pa

    def gen(batches):
        for batch in batches:
            doc_id = batch.column("doc_id")
            payloads = batch.column("payload")
            lens, sums = [], []
            for v in payloads:
                b = v.as_py() or b""
                lens.append(len(b))
                sums.append(sum(b) % (1 << 32))
            yield pa.RecordBatch.from_arrays(
                [doc_id, pa.array(lens, pa.int64()),
                 pa.array(sums, pa.int64())],
                names=["doc_id", "byte_len", "checksum32"])

    payloads = spread(t["documents"]).select(
        "doc_id", F.encode("text", "UTF-8").alias("payload"))
    return payloads.mapInArrow(gen, schema=ARROW_STATS_SCHEMA)


def multimodal_content_dedup(t: dict[str, DataFrame]) -> DataFrame:
    """Exact content-hash dedup over the BINARY payload lane: sha256
    the raw bytes (never decode), keep the smallest doc_id per digest
    as canonical, report every group with its size — the first pass
    any image/audio corpus runs, where byte-identical re-uploads
    dwarf perceptual dups.

    JVM-side end to end (sha2 over binary is codegen'd — the Arrow
    lane is NOT needed for hashing); one digest-keyed shuffle, group
    stats and the canonical pick ride the same aggregate."""
    payloads = spread(t["documents"]).select(
        "doc_id", F.encode("text", "UTF-8").alias("payload"))
    g = (payloads
         .select("doc_id", F.sha2("payload", 256).alias("sha256"),
                 F.length("payload").alias("nbytes"))
         .groupBy("sha256")
         .agg(F.min("doc_id").alias("canonical_doc_id"),
              F.count(F.lit(1)).alias("n_copies"),
              F.max("nbytes").alias("payload_bytes")))
    return g.select("sha256", "canonical_doc_id", "n_copies",
                    "payload_bytes",
                    (F.col("n_copies") > 1).cast("int").alias("is_dup"))


def payload_simhash(t: dict[str, DataFrame]) -> DataFrame:
    """Byte-level 60-bit SimHash over the BINARY payload lane: hash
    every overlapping 4-byte shingle (via the hex rendering — one
    byte = two hex chars, never decoded), majority-vote the bits —
    the cheap near-dup tier for blobs where exact sha256 misses
    files that differ by a few metadata bytes.

    Reuses the zero-shuffle lane-fold machinery of the text simhash
    (dedup._simhash_from_masks): the shingle masks stay as an in-row
    array, 15 packed HOF folds, overflow-guarded — one
    embarrassingly-parallel map over payloads, no Arrow lane (hex/md5
    are codegen'd)."""
    from pyspark.sql import functions as F

    from ..functions import pin, spread
    from .dedup import _simhash_from_masks
    # sequence() errors on stop < start with a positive step, so the
    # short-payload (<4 bytes) case returns a typed empty array; the
    # shared machinery then drops those docs like the oracle's range
    masks_sql = (
        "IF(length(hex(payload)) >= 8, "
        "transform(sequence(1, length(hex(payload)) - 7, 2), "
        "i -> CAST(conv(substring(md5(substring(hex(payload), i, 8)), "
        "1, 15), 16, 10) AS BIGINT)), "
        "CAST(array() AS ARRAY<BIGINT>))")
    payloads = spread(t["documents"]).select(
        "doc_id", F.encode("text", "UTF-8").alias("payload"))
    d = pin(payloads, masks=F.expr(masks_sql))
    return _simhash_from_masks(d, "payload_simhash", "payload_simhash")


def payload_simhash_pairs(t: dict[str, DataFrame],
                          max_dist: int = 3) -> DataFrame:
    """Near-duplicate BINARY payloads by byte-SimHash Hamming
    distance ≤ ``max_dist`` — the blob-dedup tier between exact
    content hashing (misses single-byte metadata edits) and decode-
    level comparison (needs the decode stub): same pigeonhole banding
    as the text `simhash_hamming_pairs` (any two 60-bit hashes within
    distance 3 share one of 4 disjoint 15-bit bands — perfect recall,
    bucket-local compare), on the payload lane's simhash. One hash
    pass (retained) into the shared `dedup.simhash_pairs` body: one
    (band, value)-keyed self-join, first-matching-band emission,
    exact bit_count(xor) verify. Never
    all-pairs; the oracle's naive join IS the banded result by
    pigeonhole."""
    from ..functions.cache import retain
    from .dedup import simhash_pairs

    return simhash_pairs(retain(payload_simhash(t)), "payload_simhash",
                         max_dist)


def payload_magic_types(t: dict[str, DataFrame]) -> DataFrame:
    """Magic-byte census over the BINARY payload lane: group blobs by
    their leading two bytes (hex) — the container-format inventory
    (JPEG FF D8, PNG 89 50, RIFF 52 49, ...) a multimodal ingest
    runs BEFORE routing payloads to decoders, entirely JVM-side (hex
    + substring over binary are codegen'd; no decode, no Arrow
    lane). One map-side-combinable aggregate onto a <=65k-key
    space."""
    payloads = spread(t["documents"]).select(
        "doc_id", F.encode("text", "UTF-8").alias("payload"))
    return (payloads
            .select(F.upper(F.hex(F.expr("substring(payload, 1, 2)")))
                    .alias("magic_hex"),
                    F.length("payload").alias("nbytes"))
            .groupBy("magic_hex")
            .agg(F.count(F.lit(1)).alias("n_payloads"),
                 F.sum("nbytes").alias("total_bytes")))


CDC_W = 8        # rolling-hash window (bytes)
CDC_MASK = 63    # boundary when h % 64 == 0 -> ~64-byte avg chunks
CDC_BASE = 257
CDC_MOD = 1_000_000_007
# outgoing-byte weight BASE^(W-1) mod MOD: the term subtracted when
# the window slides one byte right (keeps the scan O(len), not
# O(len*W))
CDC_BW1 = pow(CDC_BASE, CDC_W - 1, CDC_MOD)


def _cdc_chunks(t: dict[str, DataFrame]) -> DataFrame:
    """Per-document content-defined chunks: (doc_id, clen, ch) with
    ch = md5 of the chunk's hex rendering — the shared front half of
    the CDC family (see payload_cdc_dedup_stats for the boundary
    recurrence)."""
    from ..functions import pin, spread
    p = (spread(t["documents"])
         .select("doc_id", F.encode("text", "UTF-8").alias("payload"))
         .where(F.length("payload") >= CDC_W))
    p = pin(p, hx=F.hex("payload"))
    p = pin(p.select("doc_id", "hx"), codes=F.expr(
        "transform(sequence(1, length(hx) DIV 2), i -> "
        "CAST(conv(substring(hx, 2*i - 1, 2), 16, 10) AS BIGINT))"))
    _step = (f"pmod((acc.h - IF(i > {CDC_W}, "
             f"codes[i - {CDC_W + 1}] * {CDC_BW1}L, 0L)) "
             f"* {CDC_BASE} + codes[i - 1], {CDC_MOD})")
    p = pin(p, bnd=F.expr(
        f"aggregate(sequence(1, size(codes)), "
        f"struct(CAST(0 AS BIGINT) AS h, "
        f"CAST(array() AS ARRAY<INT>) AS b), "
        f"(acc, i) -> struct({_step} AS h, "
        f"IF(i >= {CDC_W} AND {_step} % {CDC_MASK + 1} = 0, "
        f"concat(acc.b, array(i)), acc.b) AS b), "
        f"acc -> acc.b)"))
    p = pin(p, ends=F.expr(
        "array_distinct(concat(bnd, array(size(codes))))"))
    return (p.select("doc_id", "hx", F.expr(
        "transform(ends, (e, j) -> struct("
        "IF(j = 0, 0, ends[j - 1]) AS lo, e AS hi))").alias("spans"))
        .select("doc_id", "hx", F.explode("spans").alias("s"))
        .select("doc_id",
                (F.col("s.hi") - F.col("s.lo")).alias("clen"),
                F.md5(F.expr(
                    "substring(hx, 2*s.lo + 1, 2*(s.hi - s.lo))"))
                .alias("ch")))


def payload_cdc_dedup_stats(t: dict[str, DataFrame]) -> DataFrame:
    """Content-defined-chunking dedup audit over the BINARY payload
    lane (the rsync/LBFS/backup-storage technique): a Karp-Rabin
    rolling hash over each payload's bytes places chunk boundaries
    wherever h % 64 == 0, so INSERTIONS only reshuffle the chunks
    they touch (fixed-size blocks would shift every later block —
    the reason storage dedup is content-defined). Chunks are hashed
    and counted corpus-wide: the report is total vs distinct chunk
    bytes and the dedup ratio a chunk store would achieve.

    All chunking is in-row HOF work over the hex rendering (the
    winnowing machinery's discipline — exact bigint rolling hash,
    pin()ned arrays so Catalyst evaluates each stage once); the only
    shuffle is the chunk-hash count, k duplicate chunks cost k
    rows. The boundary recurrence: the rolling hash at byte i
    (1-based, i >= W) is the fold of the last W bytes; a boundary
    lands AFTER byte i where h % (MASK+1) == 0. ONE aggregate pass
    maintains the window hash incrementally — sliding right drops
    codes[i-W] (weight BASE^(W-1), precomputed) and folds codes[i]
    in; pmod renormalizes after the subtraction. O(len) expression
    work per payload; the recurrence reproduces the canonical
    per-step-mod fold bit-for-bit. Chunk spans are the boundaries
    plus the payload end (dedup'd in case the last byte is itself a
    boundary)."""
    chunks = _cdc_chunks(t)
    g = (chunks.groupBy("ch")
         .agg(F.count(F.lit(1)).alias("n"),
              F.max("clen").alias("clen")))
    return g.agg(
        F.sum("n").alias("n_chunks"),
        F.count(F.lit(1)).alias("n_distinct_chunks"),
        F.sum(F.col("n") * F.col("clen")).alias("total_bytes"),
        F.sum(F.col("clen")).alias("distinct_bytes"),
        (F.lit(1.0) - F.sum(F.col("clen")).cast("double")
         / F.sum(F.col("n") * F.col("clen"))).alias("dedup_ratio"))


CDC_PAIR_MIN_COMMON = 2
CDC_STOP_GROUP = 64     # chunks held by more docs carry no signal


def payload_chunk_overlap_pairs(t: dict[str, DataFrame]) -> DataFrame:
    """Binary near-dup PAIRS by shared content-defined chunks — the
    storage-dedup complement to payload_simhash_pairs: two payloads
    sharing ≥ CDC_PAIR_MIN_COMMON distinct CDC chunks are flagged
    with byte-level containment each way (a payload embedded inside
    a larger one scores high containment, low Jaccard — the
    quote/attachment case hash-distance misses).

    Scale shape: the self-join runs on DISTINCT (doc, chunk) rows
    keyed by chunk hash — output-driven like the LSH band join; k
    docs sharing a chunk cost k² pair rows ONLY for that chunk, and
    stop-chunks (> CDC_STOP_GROUP holders, e.g. a common header
    block) are dropped BEFORE the join (the winnowing hot-group cap:
    they cannot distinguish pairs but cost quadratically). Distinct
    byte totals per doc ride one map-side-combinable aggregate."""
    from ..functions.cache import retain
    chunks = retain(_cdc_chunks(t)
                    .groupBy("doc_id", "ch")
                    .agg(F.max("clen").alias("clen")))
    totals = (chunks.groupBy("doc_id")
              .agg(F.sum("clen").alias("bytes_total"),
                   F.count(F.lit(1)).alias("n_chunks")))
    grp = (chunks.groupBy("ch")
           .agg(F.count(F.lit(1)).alias("holders")))
    keyed = (chunks.join(
        grp.where(F.col("holders") <= CDC_STOP_GROUP).select("ch"), "ch"))
    a = keyed.select(F.col("ch").alias("ch"),
                     F.col("doc_id").alias("doc_a"),
                     F.col("clen").alias("clen"))
    b = keyed.select(F.col("ch").alias("ch"),
                     F.col("doc_id").alias("doc_b"))
    pairs = (a.join(b, "ch")
             .where(F.col("doc_a") < F.col("doc_b"))
             .groupBy("doc_a", "doc_b")
             .agg(F.count(F.lit(1)).alias("n_common"),
                  F.sum("clen").alias("bytes_common"))
             .where(F.col("n_common") >= CDC_PAIR_MIN_COMMON))
    ta = totals.select(F.col("doc_id").alias("doc_a"),
                       F.col("bytes_total").alias("bytes_a"),
                       F.col("n_chunks").alias("chunks_a"))
    tb = totals.select(F.col("doc_id").alias("doc_b"),
                       F.col("bytes_total").alias("bytes_b"),
                       F.col("n_chunks").alias("chunks_b"))
    return (pairs.join(ta, "doc_a").join(tb, "doc_b")
            .select("doc_a", "doc_b", "n_common", "bytes_common",
                    (F.col("bytes_common") / F.col("bytes_a"))
                    .alias("containment_a"),
                    (F.col("bytes_common") / F.col("bytes_b"))
                    .alias("containment_b"),
                    (F.col("n_common")
                     / (F.col("chunks_a") + F.col("chunks_b")
                        - F.col("n_common")).cast("double"))
                    .alias("chunk_jaccard")))


def payload_dedup_components(t: dict[str, DataFrame]) -> DataFrame:
    """Storage-dedup CLUSTERS for the binary lane: connected
    components over the `payload_chunk_overlap_pairs` edge set (two
    payloads sharing ≥ 2 content-defined chunks are linked) — the
    grouping step that turns pairwise chunk overlap into "these k
    attachments are one logical blob", with every payload-free of
    near-dups its own singleton.

    Same alternating large-star/small-star CC as the text lane
    (O(log n) rounds regardless of cluster diameter); output one row
    per doc with its component and the component population — the
    dedup_components contract plus the size a storage planner bins
    by. Cites the text twin at operators/dedup.py:451."""
    from .dedup import connected_components
    pairs = payload_chunk_overlap_pairs(t).select("doc_a", "doc_b")
    edges = pairs.selectExpr("doc_a AS src", "doc_b AS dst")
    nodes = (t["documents"]
             .select(F.col("doc_id").alias("node")).distinct())
    cc = connected_components(edges, nodes)
    comp = cc.select(F.col("node").alias("doc_id"), "component")
    # component count is corpus-proportional: a plain same-key join
    # (AQE picks the strategy), never a forced broadcast
    sizes = (comp.groupBy("component")
             .agg(F.count(F.lit(1)).alias("n_members")))
    return comp.join(sizes, "component") \
        .select("doc_id", "component", "n_members")
