"""Similarity search over the embeddings table (SURVEY.md §2.F).

Vector math is pure higher-order-function DataFrame code (zip_with +
aggregate fold) — JVM-side, no Python. Floats are cast to double
element-wise *before* multiplication and accumulated left-to-right, the
same order DuckDB's list_sum uses, so cosine scores match bit-for-bit
(no tolerance needed in the oracle gate).

Scale: brute-force kNN is one broadcast (the query vector) + a map-side
score + a top-k; IVF prunes to the probed clusters — the 100 TB path
where each cluster is a parquet partition and probes touch 1/K of data.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..functions import pin, spread
from ..functions.bands import band_pairs
from ..functions.cache import retain

DIM = 64
QUERY_VEC_ID = 0
N_CENTROIDS = 8
NPROBE = 2
TOP_K = 10


def _dbl(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Left-fold dot product over double-cast elements (accumulation
    order matches DuckDB list_sum for exact parity)."""
    return F.aggregate(
        F.zip_with(_dbl(a), _dbl(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def embedding_norms(t: dict[str, DataFrame]) -> DataFrame:
    """L2-norm audit of the embedding store."""
    e = t["embeddings"]
    norm = l2_norm(F.col("embedding"))
    return e.select(
        "vec_id", "label",
        norm.alias("l2_norm"),
        (F.abs(norm - 1.0) < 0.01).cast("int").alias("is_normalized"))


def _query_vector(t: dict[str, DataFrame]) -> DataFrame:
    return (t["embeddings"]
            .where(F.col("vec_id") == QUERY_VEC_ID)
            .select(F.col("embedding").alias("q")))


def _top_k(scored: DataFrame, k: int, by: tuple[str, ...] = (),
           id_col: str = "vec_id") -> DataFrame:
    """Top-k of ``scored`` in the (cos_sim DESC, id ASC) total order
    every oracle twin replays. Without ``by``: one global top-k, a sort
    + limit (Spark's distributed partial top-k, no full sort
    materialized). With ``by`` (a query id, a source node, a sweep
    lane): a top-k per group through one row_number window, the rank
    kept as ``rnk``."""
    order = (F.desc("cos_sim"), F.asc(id_col))
    if not by:
        return scored.orderBy(*order).limit(k)
    w = Window.partitionBy(*by).orderBy(*order)
    return (scored.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= k))


def _query_knn(cands: DataFrame, q: DataFrame, k: int) -> DataFrame:
    """Exact top-k cosine neighbors of the query row ``q`` (column
    ``q``) among ``cands`` (vec_id, label, embedding), the query vector
    itself excluded: broadcast the single query row, score map-side,
    global top-k."""
    return _top_k(
        cands.crossJoin(broadcast(q))
        .where(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", "label",
                cosine(F.col("embedding"), F.col("q")).alias("cos_sim")),
        k)


def _probe_list(cent: DataFrame, q: DataFrame, nprobe: int) -> DataFrame:
    """The ``nprobe`` centroids (centroid_id, cvec) nearest the query
    row ``q``, ties to the smallest centroid_id."""
    return _top_k(
        cent.crossJoin(broadcast(q))
        .select("centroid_id",
                cosine(F.col("cvec"), F.col("q")).alias("cos_sim")),
        nprobe, id_col="centroid_id").select("centroid_id")


def knn_bruteforce(t: dict[str, DataFrame], k: int = TOP_K) -> DataFrame:
    """Exact top-k cosine neighbors of the query vector over the whole
    store (`_query_knn`)."""
    return _query_knn(spread(t["embeddings"]), _query_vector(t), k)


def _recall_at_k(exact: DataFrame, approx: DataFrame, k: int,
                 lanes: DataFrame | None = None) -> DataFrame:
    """Recall@k of an approximate search against the exact answer —
    the evaluation harness every approximate tier ships with. A hit is
    an ``approx`` row that matches an ``exact`` row on all of exact's
    columns: vec_id, plus qid for a query set. Both sides are
    k-row-sized, so the cost is the searches themselves. Three shapes,
    each ending in (…, k, n_hits, recall_at_k):

    - scalar (exact is (vec_id)): ONE row, also when nothing hits;
    - per query (exact is (qid, vec_id)): one row per query of
      ``exact``, a query without a hit reading n_hits 0;
    - per lane (``lanes`` given: a small spine of sweep lanes, maybe
      crossed with the queries): one row per ``lanes`` row, its
      columns first, a lane without a hit reading 0."""
    keys = [c for c in exact.columns if c != "vec_id"]
    by = lanes.columns if lanes is not None else keys
    hits = (approx.join(exact, exact.columns)
            .groupBy(*by)
            .agg(F.count(F.lit(1)).cast("int").alias("n_hits")))
    if lanes is not None:
        # a literal lane spine shares no partitioning with the hits
        hits = lanes.join(broadcast(hits), by, "left")
    elif keys:
        # the query keys and the hits both come out hash-partitioned
        # on the query key: a plain join adds no exchange
        hits = exact.select(*keys).distinct().join(hits, keys, "left")
    n = F.coalesce(F.col("n_hits"), F.lit(0))
    return hits.select(*by, F.lit(k).alias("k"), n.alias("n_hits"),
                       (n.cast("double") / k).alias("recall_at_k"))


# 1/log2(i+1) gain weights for ranks 1..10 and their sum (ideal DCG),
# baked as shortest-round-trip literals — no engine log2 in any plan
NDCG_WEIGHTS = (1.0, 0.6309297535714575, 0.5, 0.43067655807339306,
                0.38685280723454163, 0.3562071871080222,
                0.3333333333333333, 0.31546487678572877,
                0.3010299956639812, 0.2890648263178879)
NDCG_IDEAL = 4.543559338088346


def _ndcg_at_k(exact: DataFrame, approx: DataFrame, k: int) -> DataFrame:
    """nDCG@k of a ranked approximate top-k (vec_id, cos_sim) against
    the exact top-k ids — the rank-aware companion to `_recall_at_k`
    (recall treats rank 1 and rank k alike; nDCG charges misses near
    the top more). One row (k, dcg, ideal_dcg, ndcg).

    Relevance is binary membership in the exact top-k; gains are the
    baked 1/log2(rank+1) literals above, folded in rank order over a
    sorted ≤k-element array (both engines fold lists in order — no
    float accumulation reordering), and the ideal DCG is the same
    baked constant in the oracle."""
    ranked = approx.select(
        "vec_id",
        F.row_number().over(Window.orderBy(F.desc("cos_sim"),
                                           F.asc("vec_id")))
        .alias("rank"))
    rel = exact.select("vec_id", F.lit(1).alias("rel"))
    gains = F.array(*[F.lit(w) for w in NDCG_WEIGHTS[:k]])
    scored = (ranked.join(broadcast(rel), "vec_id", "left")
              .select("rank", F.coalesce("rel", F.lit(0)).alias("rel")))
    g = scored.agg(F.array_sort(F.collect_list(
        F.struct("rank", "rel"))).alias("rr"))
    dcg = F.aggregate(
        F.col("rr"), F.lit(0.0),
        lambda acc, s: acc + s["rel"] * F.element_at(gains, s["rank"]))
    return g.select(
        F.lit(k).alias("k"),
        dcg.alias("dcg"),
        F.lit(NDCG_IDEAL).alias("ideal_dcg"),
        (dcg / F.lit(NDCG_IDEAL)).alias("ndcg"))


def _centroids(t: dict[str, DataFrame]) -> DataFrame:
    """Deterministic seed centroids: the first N_CENTROIDS vectors (a
    stand-in for k-means||; the assignment/probe plumbing is what the
    operator exercises)."""
    return (t["embeddings"]
            .where(F.col("vec_id") < N_CENTROIDS)
            .select(F.col("vec_id").alias("centroid_id"),
                    F.col("embedding").alias("cvec")))


def _centroid_array(cent: DataFrame) -> DataFrame:
    """A centroid table (centroid_id, cvec) as ONE row: an array of
    (centroid_id, cvec, norm) structs sorted by centroid_id — the
    broadcast payload the per-row argmax folds over."""
    return (cent
            .agg(F.array_sort(
                F.collect_list(F.struct(
                    "centroid_id", F.col("cvec").cast("array<double>")
                    .alias("cvec"),
                    l2_norm(F.col("cvec")).alias("cn"))))
                .alias("cents")))


def ivf_assign(t: dict[str, DataFrame]) -> DataFrame:
    """Assign every vector to its nearest centroid (max cosine,
    centroid_id tie-break) with ZERO shuffle: the K centroids broadcast
    as one array row and each vector folds an argmax over it in place.

    The round-2 formulation expanded every vector K× and hash-shuffled
    the expansion through a row_number window just to pick a max of K —
    at 100 TB that shuffle IS the job. Here the expansion never leaves
    the row: `transform` scores the K centroids and `aggregate` keeps
    the first strict maximum — centroids are scanned in centroid_id
    order, so ties resolve to the smallest id exactly like the oracle's
    ROW_NUMBER ... ORDER BY cos DESC, centroid_id ASC.

    Score values stay bit-identical to the oracle's cosine: the dot is
    the same left fold, and both norms are the same sqrt folds — just
    computed ONCE each (the vector's via ``pin``, the centroid's
    stored in the broadcast array) instead of once per (vector,
    centroid) pair, which changes flop count, not values."""
    return _argmax_assign(
        spread(t["embeddings"]).select("vec_id", "label", "embedding"),
        _centroids(t))


def _argmax_assign(vectors: DataFrame, cent: DataFrame) -> DataFrame:
    """Zero-shuffle nearest-centroid assignment: broadcast the whole
    centroid table as one array row; each vector folds an argmax over
    it in place (see ivf_assign for the scale rationale). ``vectors``
    must carry ``embedding``; all its columns pass through plus
    ``centroid_id``."""
    scored = F.transform(
        F.col("cents"),
        lambda c: F.struct(
            (dot(F.col("embedding"), c["cvec"])
             / (F.col("en") * c["cn"])).alias("s"),
            c["centroid_id"].alias("cid")))
    best = F.aggregate(
        scored,
        F.struct(F.lit(-2.0).cast("double").alias("s"),
                 F.lit(-1).cast("long").alias("cid")),
        lambda acc, x: F.when(x["s"] > acc["s"], x).otherwise(acc))
    cols = vectors.columns
    return (pin(vectors, en=l2_norm(F.col("embedding")))
            .crossJoin(broadcast(_centroid_array(cent)))
            .select(*cols, best["cid"].alias("centroid_id")))


def knn_ivf(t: dict[str, DataFrame], k: int = TOP_K,
            nprobe: int = NPROBE) -> DataFrame:
    """IVF search: rank centroids for the query, scan only the nprobe
    nearest clusters, top-k within them. Same output shape as
    knn_bruteforce (approximate: may miss neighbors outside probed
    clusters)."""
    q = _query_vector(t)
    probe = _probe_list(_centroids(t), q, nprobe)
    return _query_knn(ivf_assign(t).join(broadcast(probe), "centroid_id"),
                      q, k)


EVAL_MAX_VECTORS = 100_000   # cap for the O(n²) recall harnesses
N_PAIR_BANDS = 4
PAIR_BAND_BITS = 4      # 16-plane code → 4 bands × 4 bits (16 buckets)


def _normed_buckets(t: dict[str, DataFrame]) -> DataFrame:
    """(vec_id, nv, bucket): unit-normalized vector + 16-plane sign-LSH
    code from ONE scan, retained — feeds the band explode and both
    sides of the pair verify (three consumers, one computation)."""
    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    d = pin(spread(t["embeddings"]).select("vec_id", "embedding"), v=vec)
    d = d.selectExpr("vec_id", "v",
                     f"{_bucket_sql(N_HYPERPLANES)} AS bucket")
    d = pin(d, nrm=F.sqrt(F.aggregate(
        F.zip_with(F.col("v"), F.col("v"), lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x)))
    return retain(d.select(
        "vec_id",
        F.transform(F.col("v"), lambda x: x / F.col("nrm")).alias("nv"),
        "bucket"))


def _nibble_keys(p: str) -> list[Column]:
    """N_PAIR_BANDS disjoint PAIR_BAND_BITS-bit band keys of the
    16-plane sign code ``<p>bucket``."""
    mask = (1 << PAIR_BAND_BITS) - 1
    return [F.shiftright(F.col(p + "bucket"), PAIR_BAND_BITS * b)
            .bitwiseAND(F.lit(mask)) for b in range(N_PAIR_BANDS)]


def _banded_pairs(base: DataFrame, threshold: float) -> DataFrame:
    """Candidate pairs from the banded pair join (`functions/bands.py`:
    each pair once, at its first equal nibble band — no distinct and
    no vector join-backs, measured 2.7× faster at sf0.1), verified by
    the exact cosine of the carried normalized vectors."""
    cand = (band_pairs(base, "vec_id", _nibble_keys)
            .select(F.col("a.vec_id").alias("vec_a"),
                    F.col("b.vec_id").alias("vec_b"),
                    F.col("a.nv").alias("na"),
                    F.col("b.nv").alias("nb")))
    dot_ab = F.aggregate(
        F.zip_with(F.col("na"), F.col("nb"), lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x)
    return (pin(cand, cos_sim=dot_ab)
            .where(F.col("cos_sim") >= threshold)
            .select("vec_a", "vec_b", "cos_sim"))


def embedding_near_dup_pairs(t: dict[str, DataFrame],
                             threshold: float = 0.3) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via banded sign-LSH
    candidate generation + exact cosine verification — bucket-local,
    never all-pairs.

    The 16-plane hyperplane code splits into 4 disjoint 4-bit bands
    (the MinHash banding construction applied to cosine LSH); two
    vectors are candidates iff they agree on at least one whole band,
    so the self-join shuffles on (band_id, band_val) with bounded
    bucket fan-out, and the exact dot product runs only on candidates
    (23% of all pairs on the test corpus, a shrinking fraction as
    buckets spread at scale). Approximate by construction, like
    ``knn_lsh``: a true pair whose code disagrees in every band is
    missed. Recall by the banding formula 1−(1−p⁴)⁴ with
    p = 1 − θ/π: ≥ 0.95 for cos ≥ 0.9 (the near-dup regime this
    operator exists for), lower for weakly-similar pairs —
    ``near_dup_recall`` measures it against exact brute force.

    Normalization + code assignment happen once per vector in one
    retained scan; each candidate pair then costs a single dot
    product. Norm/score folds are ``pin``ned behind Generate nodes so
    Catalyst can't clone them into join conditions or per-element
    lambdas."""
    return _banded_pairs(_normed_buckets(t), threshold)


def near_dup_recall(t: dict[str, DataFrame],
                    threshold: float = 0.3) -> DataFrame:
    """Recall of the banded-LSH near-dup search against exact
    all-pairs — the eval harness run before trusting the prefilter on
    a new corpus (the ANN-suite pattern: ``knn_bruteforce`` is to
    ``knn_lsh`` what the all-pairs side here is to
    ``embedding_near_dup_pairs``). The brute-force pair join lives
    ONLY in this harness; the production operator never runs it.

    On the driver corpus recall ≈ 0.46 at τ=0.3 — honestly low,
    because those pairs sit at cos 0.3–0.5 (weak correlations, not
    near-dups, where sign-LSH has little signal); the same banding
    exceeds 0.95 recall at the cos ≥ 0.9 similarity real duplicate
    pairs have.

    Guarded: the harness refuses corpora above EVAL_MAX_VECTORS so the
    O(n²) side can never be scheduled on a production store by
    accident — recall evaluation belongs on a sample."""
    n = t["embeddings"].count()
    if n > EVAL_MAX_VECTORS:
        raise ValueError(
            f"near_dup_recall is an O(n²) eval harness; corpus has {n} "
            f"vectors > {EVAL_MAX_VECTORS}. Evaluate recall on a sample "
            f"(e.g. embeddings.sample(...)) instead.")
    base = _normed_buckets(t)
    found = _banded_pairs(base, threshold)
    all_pairs = (
        base.select(F.col("vec_id").alias("vec_a"),
                    F.col("nv").alias("na"))
        .join(base.select(F.col("vec_id").alias("vec_b"),
                          F.col("nv").alias("nb")),
              F.col("vec_a") < F.col("vec_b")))
    dot_ab = F.aggregate(
        F.zip_with(F.col("na"), F.col("nb"), lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x)
    exact = (pin(all_pairs, cos_sim=dot_ab)
             .where(F.col("cos_sim") >= threshold))
    nt = exact.agg(F.count(F.lit(1)).cast("int").alias("n_true"))
    nf = found.agg(F.count(F.lit(1)).cast("int").alias("n_found"))
    return (nt.crossJoin(nf)
            .select("n_true", "n_found",
                    (F.col("n_found") / F.col("n_true")).alias("recall")))


MEAN_BLOCK = 256    # rows per level-1 fold block (vec_id DIV block);
                    # 256 exercises the two-level path even on the
                    # 500-vector gate corpus — at production n pick
                    # B ≈ √n (e.g. 2^20 for 10^12 rows) so both fold
                    # levels stay a few MB


def _block_sums(e: DataFrame, keys: list[str]) -> DataFrame:
    """Level-1 of the two-level order-canonical fold: per
    (keys…, vec_id DIV MEAN_BLOCK) block, left-fold the values sorted
    by vec_id into an exact partial sum. No collected array ever
    exceeds MEAN_BLOCK entries."""
    blk = (e.groupBy(*keys, F.expr(f"vec_id DIV {MEAN_BLOCK}")
                     .alias("blk"))
           .agg(F.array_sort(F.collect_list(F.struct("vec_id", "x")))
                .alias("vs"),
                F.count(F.lit(1)).alias("nb")))
    bsum = F.aggregate(F.col("vs"), F.lit(0.0),
                       lambda acc, s: acc + s["x"].cast("double"))
    return blk.select(*keys, "blk", bsum.alias("bsum"), "nb")


def _fold_blocks(col: str = "bs") -> Column:
    """Level-2 fold: block partial sums in block order."""
    return F.aggregate(F.col(col), F.lit(0.0),
                       lambda acc, s: acc + s["bsum"])


def label_centroids(t: dict[str, DataFrame]) -> DataFrame:
    """Per-label centroid, long format (label, dim, centroid, n).

    Exactness design: a plain double SUM over group members is
    partition-order dependent, so the mean is a deterministic
    two-level fold instead — level 1 folds each fixed vec_id block
    (≤ MEAN_BLOCK values, sorted by vec_id), level 2 folds the block
    partial sums in block order. The grouping order is canonical at
    both levels, so the result is bit-identical to the DuckDB oracle
    running the same two-level plan — and unlike a whole-group
    collect_list, state per aggregation node is bounded by the block
    size, not the label's membership (the 100 TB requirement)."""
    e = (spread(t["embeddings"])
         .select("label", "vec_id",
                 F.posexplode(F.col("embedding")).alias("dim", "x")))
    lvl1 = _block_sums(e, ["label", "dim"])
    g = (lvl1.groupBy("label", "dim")
         .agg(F.array_sort(F.collect_list(F.struct("blk", "bsum")))
              .alias("bs"),
              F.sum("nb").alias("n")))
    return g.select("label", "dim",
                    (_fold_blocks() / F.col("n")).alias("centroid"), "n")


def _assigned_means(e: DataFrame, cent: DataFrame) -> DataFrame:
    """One Lloyd step: assign every vector to its max-cosine centroid
    (zero-shuffle broadcast argmax), then the per-(cluster, dim) mean
    via the two-level order-canonical fold (bit-exact across engines,
    bounded aggregation state — see label_centroids)."""
    assigned = _argmax_assign(e, cent)
    ex = assigned.select("centroid_id", "vec_id",
                         F.posexplode(F.col("embedding")).alias("dim", "x"))
    lvl1 = _block_sums(ex, ["centroid_id", "dim"])
    g = (lvl1.groupBy("centroid_id", "dim")
         .agg(F.array_sort(F.collect_list(F.struct("blk", "bsum")))
              .alias("bs"),
              F.sum("nb").alias("n")))
    return g.select("centroid_id", "dim",
                    (_fold_blocks() / F.col("n")).alias("centroid"), "n")


def kmeans_centroids(t: dict[str, DataFrame], iters: int = 2) -> DataFrame:
    """Distributed Lloyd k-means over the embedding store (replaces the
    seed-centroid stand-in the IVF index trained from in rounds 1-3).

    Per iteration: one embeddings scan + in-row broadcast argmax
    assignment (NO shuffle — the round-2 expand-K×-and-window shape is
    exactly what this avoids) + one bounded-state aggregation to the
    k×dim means + a k-row collect into the next broadcast array. At
    100 TB each iteration is a single scan-plus-tiny-agg job; driver
    state is k centroids, never data.

    Determinism: seeds are the first k vectors (centroid_id = vec_id),
    assignment ties break to the smallest centroid_id, and means use
    the two-level canonical fold — so a fixed iteration count unrolls
    into plain SQL and the DuckDB oracle reproduces every centroid
    bit-for-bit. A cluster that loses all members simply drops out
    (both engines agree); output is the final Lloyd step's means in
    long format (centroid_id, dim, centroid, n)."""
    e = spread(t["embeddings"]).select("vec_id", "embedding")
    cent = _centroids(t)
    for _ in range(iters - 1):
        m = _assigned_means(e, cent)
        cent = (m.groupBy("centroid_id")
                .agg(F.expr(
                    "transform(array_sort(collect_list(struct(dim, centroid))), "
                    "p -> p.centroid)").alias("cvec")))
    return _assigned_means(e, cent)


def knn_ivf_trained(t: dict[str, DataFrame], k: int = TOP_K,
                    nprobe: int = NPROBE) -> DataFrame:
    """IVF search over the Lloyd-TRAINED centroids (kmeans_centroids)
    instead of the raw seeds knn_ivf probes — the full train-then-serve
    path: 2 Lloyd iterations → rank trained centroids for the query →
    scan only the nprobe nearest clusters → exact top-k within them.
    Same plan skeleton as knn_ivf (broadcast centroid array, in-row
    argmax assignment, probe-pruned scan); the training cost amortizes
    over every query served from the index."""
    m = kmeans_centroids(t)
    cent = (m.groupBy("centroid_id")
            .agg(F.expr(
                "transform(array_sort(collect_list(struct(dim, centroid))), "
                "p -> p.centroid)").alias("cvec")))
    cent = retain(cent)
    q = _query_vector(t)
    probe = _probe_list(cent, q, nprobe)
    assigned = _argmax_assign(
        spread(t["embeddings"]).select("vec_id", "label", "embedding"), cent)
    return _query_knn(assigned.join(broadcast(probe), "centroid_id"), q, k)


def knn_batch(t: dict[str, DataFrame], n_queries: int = 5,
              k: int = 3) -> DataFrame:
    """Batch top-k neighbors for a query set (vec_id < n_queries):
    broadcast the queries, score map-side, per-query window top-k.
    The per-query row_number shuffles once on qid — the batch-serving
    shape where queries ≪ corpus."""
    q = (t["embeddings"].where(F.col("vec_id") < n_queries)
         .select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qv")))
    scored = (spread(t["embeddings"]).crossJoin(broadcast(q))
              .where(F.col("vec_id") != F.col("qid"))
              .select("qid", "vec_id", "label",
                      cosine(F.col("embedding"), F.col("qv"))
                      .alias("cos_sim")))
    return (_top_k(scored, k, by=("qid",))
            .select("qid", "vec_id", "label", "cos_sim", "rnk"))


def embedding_quantize_int8(t: dict[str, DataFrame]) -> DataFrame:
    """Per-dimension int8 quantization of the embedding store — the
    compression step before an ANN index ships to serving. Global
    per-dim min/max (one tiny broadcast aggregate), then
    floor-arithmetic codes: floor is exact in IEEE doubles, so codes
    are bit-identical across engines (no round-half mode drift).
    Output long format (vec_id, dim, code)."""
    e = (spread(t["embeddings"])
         .select("vec_id",
                 F.posexplode(F.col("embedding")).alias("dim", "x"))
         .select("vec_id", "dim", F.col("x").cast("double").alias("x")))
    rng = (e.groupBy("dim")
           .agg(F.min("x").alias("lo"), F.max("x").alias("hi")))
    code = F.when(
        F.col("hi") == F.col("lo"), F.lit(0)
    ).otherwise(
        F.least(F.lit(255.0), F.floor(
            (F.col("x") - F.col("lo")) * 255.0
            / (F.col("hi") - F.col("lo")))) - 128)
    return (e.join(F.broadcast(rng), "dim")
            .select("vec_id", "dim", code.cast("int").alias("code")))


N_HYPERPLANES = 16


def _hyperplane_signs(k: int, dim: int = DIM) -> list[float]:
    """Deterministic ±1 hyperplane entries from md5('hp|k|i') — the
    published random-hyperplane construction with a portable seed, so
    any engine (or the SQL oracle) re-derives the identical planes."""
    import hashlib

    return [
        1.0 if int(hashlib.md5(f"hp|{k}|{i}".encode()).hexdigest()[0], 16) >= 8
        else -1.0
        for i in range(dim)
    ]


HYPERPLANES = [_hyperplane_signs(k) for k in range(N_HYPERPLANES)]


def _bucket_sql(n_planes: int) -> str:
    """SQL text for the n-plane sign-LSH bucket id over the pinned
    double array `v` — one JVM parse instead of ~64×n_planes py4j
    Column calls (~1 s of driver latency for the 16-plane code)."""
    terms = []
    for k, signs in enumerate(HYPERPLANES[:n_planes]):
        plane = ", ".join(f"{s}D" for s in signs)
        dot = (f"aggregate(zip_with(v, array({plane}), "
               f"(x, y) -> x * y), 0.0D, (acc, x) -> acc + x)")
        terms.append(f"IF({dot} >= 0.0D, {1 << k}, 0)")
    return "CAST(" + " + ".join(terms) + " AS INT)"


def hyperplane_lsh_buckets(t: dict[str, DataFrame]) -> DataFrame:
    """Random-hyperplane (sign) LSH bucket per embedding: bit k of the
    bucket id is the sign of ⟨v, h_k⟩ against 16 deterministic ±1
    hyperplanes — the classic cosine-LSH prefilter that turns the
    all-pairs near-dup join into a bucket-local one.

    Pure per-row projection (broadcast-free: the planes are literals
    compiled into the plan), so the operator is scan-bound at any
    scale; the 16 fold products reuse one double-cast of the vector."""
    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    d = pin(spread(t["embeddings"]).select("vec_id", "embedding"),
            v=vec)
    return d.selectExpr(
        "vec_id", f"{_bucket_sql(N_HYPERPLANES)} AS bucket")


N_SEARCH_PLANES = 8   # coarser code for search: 256 buckets, so each
                      # holds enough vectors for a top-k probe to hit


def _with_buckets(t: dict[str, DataFrame],
                  n_planes: int = N_HYPERPLANES) -> DataFrame:
    """(vec_id, label, embedding, bucket) — hyperplane bucket assignment
    with the vector carried along for in-bucket scoring."""
    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    d = pin(spread(t["embeddings"])
            .select("vec_id", "label", "embedding"), v=vec)
    return d.selectExpr("vec_id", "label", "embedding",
                        f"{_bucket_sql(n_planes)} AS bucket")


def knn_lsh(t: dict[str, DataFrame], k: int = TOP_K) -> DataFrame:
    """Approximate top-k via hyperplane LSH with Hamming-1 multiprobe:
    score only vectors whose bucket matches the query's bucket or
    differs in exactly one of the 8 search-code sign bits (9 probe
    buckets). The search code is deliberately coarser than
    ``hyperplane_lsh_buckets``'s 16-bit id: code length trades recall
    against candidate count, and 2^8 buckets keeps posting lists
    non-empty at this corpus size.

    The 100 TB shape: the bucket id is a partition/cluster key, the
    probe list is a small broadcast, and the exact cosine runs only
    inside probed buckets — ~9/256 of the store for well-spread
    buckets, with recall controlled by the probe radius. Same output
    schema as knn_bruteforce; approximate by construction."""
    # retained cache: the assignment feeds the query row, the probe
    # list AND the probe-side join — uncached it recomputes the
    # 8-plane fold over the whole store three times
    assigned = retain(_with_buckets(t, N_SEARCH_PLANES))
    qrow = assigned.where(F.col("vec_id") == QUERY_VEC_ID)
    probes = (qrow
              .select(F.explode(F.array(
                  F.col("bucket"),
                  *[F.col("bucket").bitwiseXOR(F.lit(1 << i))
                    for i in range(N_SEARCH_PLANES)])).alias("bucket")))
    q = qrow.select(F.col("embedding").alias("q"))
    return _query_knn(assigned.join(broadcast(probes), "bucket"), q, k)


def ivf_cluster_stats(t: dict[str, DataFrame]) -> DataFrame:
    """IVF index-build audit: posting-list size per centroid — the
    balance check run before trusting an IVF index (empty or jumbo
    clusters mean bad centroids). One argmax assignment (broadcast
    centroids) + a count aggregate on the tiny centroid key."""
    return (ivf_assign(t)
            .groupBy("centroid_id")
            .agg(F.count(F.lit(1)).alias("n_vectors"),
                 F.countDistinct("label").alias("n_labels")))


def knn_lsh_recall(t: dict[str, DataFrame], k: int = TOP_K) -> DataFrame:
    """Recall@k of the LSH multiprobe ANN against exact brute force —
    the evaluation harness run before trusting an approximate index."""
    return _recall_at_k(knn_bruteforce(t, k).select("vec_id"),
                        knn_lsh(t, k).select("vec_id"), k)


def embedding_dim_stats(t: dict[str, DataFrame]) -> DataFrame:
    """Per-dimension distribution audit (n, mean, min, max) — the
    normalization / dead-dimension check run before index builds or
    training. posexplode shuffles on the 64-value dim key; min/max of
    identical floats are engine-exact, and the mean reuses the
    two-level block fold (see label_centroids) so the double sum is
    bit-identical to the oracle's with per-node state bounded by the
    block size, not the corpus."""
    e = (spread(t["embeddings"])
         .select("vec_id",
                 F.posexplode(F.col("embedding")).alias("dim", "x")))
    blk = (e.groupBy("dim", F.expr(f"vec_id DIV {MEAN_BLOCK}")
                     .alias("blk"))
           .agg(F.array_sort(F.collect_list(F.struct("vec_id", "x")))
                .alias("vs"),
                F.count(F.lit(1)).alias("nb"),
                F.min(F.col("x").cast("double")).alias("mn"),
                F.max(F.col("x").cast("double")).alias("mx")))
    bsum = F.aggregate(F.col("vs"), F.lit(0.0),
                       lambda acc, s: acc + s["x"].cast("double"))
    lvl1 = blk.select("dim", "blk", bsum.alias("bsum"), "nb", "mn", "mx")
    g = (lvl1.groupBy("dim")
         .agg(F.array_sort(F.collect_list(F.struct("blk", "bsum")))
              .alias("bs"),
              F.sum("nb").alias("n"),
              F.min("mn").alias("min_val"),
              F.max("mx").alias("max_val")))
    return g.select("dim", "n", (_fold_blocks() / F.col("n"))
                    .alias("mean_val"), "min_val", "max_val")


PQ_M = 8            # subspaces (64 dims → 8 × 8)
PQ_SUBDIM = DIM // PQ_M
PQ_K = 16           # codes per subspace codebook


def _pq_codebook(t: dict[str, DataFrame]) -> DataFrame:
    """Deterministic PQ codebook as ONE broadcastable row: for each of
    the PQ_M subspaces, PQ_K code vectors taken from the sub-vectors of
    the first PQ_K embeddings (the same seeded-training stand-in as the
    IVF seeds; kmeans_centroids is the trained path). Layout is a flat
    array of (m, code, cv) structs sorted by (m, code), so consumers
    address cell (m, code) at index m·PQ_K + code + 1 by arithmetic."""
    cells = (t["embeddings"].where(F.col("vec_id") < PQ_K)
             .select(F.col("vec_id").alias("code"),
                     F.explode(F.expr(
                         f"transform(sequence(0, {PQ_M - 1}), m -> struct("
                         f"m AS m, transform(slice(embedding, "
                         f"m * {PQ_SUBDIM} + 1, {PQ_SUBDIM}), "
                         f"x -> CAST(x AS DOUBLE)) AS cv))")).alias("cell")))
    return (cells
            .select(F.col("cell.m").alias("m"), "code",
                    F.col("cell.cv").alias("cv"))
            .agg(F.array_sort(F.collect_list(F.struct("m", "code", "cv")))
                 .alias("book")))


def _sub_d2(vec: Column, m: int, cv: Column) -> Column:
    """Squared L2 between subspace ``m`` of ``vec`` and code vector
    ``cv``: left fold over (x−y)², double-exact in both engines."""
    sub = F.slice(vec, m * PQ_SUBDIM + 1, PQ_SUBDIM)
    return F.aggregate(
        F.zip_with(_dbl(sub), cv, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, x: acc + x)


def _pq_code_array() -> Column:
    """Per-row PQ encoding: array of PQ_M best codes. Expects columns
    ``embedding`` and the broadcast ``book``; each subspace runs an
    argmin fold in place (first strict minimum in code order =
    smallest-code tie-break, mirroring the oracle's ROW_NUMBER)."""
    def best_code(m: int) -> Column:
        scored = F.transform(
            F.slice(F.col("book"), m * PQ_K + 1, PQ_K),
            lambda c: F.struct(
                _sub_d2(F.col("embedding"), m, c["cv"]).alias("d"),
                c["code"].alias("code")))
        return F.aggregate(
            scored,
            F.struct(F.lit(float("inf")).alias("d"),
                     F.lit(-1).cast("long").alias("code")),
            lambda acc, x: F.when(x["d"] < acc["d"], x).otherwise(acc)
        )["code"]

    return F.array(*[best_code(m) for m in range(PQ_M)])


def pq_codes(t: dict[str, DataFrame]) -> DataFrame:
    """Product-quantization encoding (Jégou et al., TPAMI'11): each
    64-float embedding compresses to PQ_M codes from a 16-entry
    codebook per subspace — the 32× memory cut applied before an ANN
    index ships to serving.

    Zero shuffle: the codebook broadcasts as one row and every vector
    encodes itself with in-row argmin folds. Output long format
    (vec_id, m, code)."""
    return (spread(t["embeddings"]).select("vec_id", "embedding")
            .crossJoin(broadcast(_pq_codebook(t)))
            .select("vec_id", F.posexplode(_pq_code_array())
                    .alias("m", "code")))


def _pq_lut(t: dict[str, DataFrame], book: DataFrame) -> DataFrame:
    """The query's ADC lookup table as ONE broadcastable row: per-cell
    d²(query subspace, code vector), flat-indexed like the book."""
    q = (t["embeddings"].where(F.col("vec_id") == QUERY_VEC_ID)
         .select(F.col("embedding").alias("qv")))
    lut_col = F.transform(
        F.col("book"),
        lambda c: F.aggregate(
            F.zip_with(
                _dbl(F.slice(F.col("qv"),
                             c["m"] * PQ_SUBDIM + 1, PQ_SUBDIM)),
                c["cv"], lambda x, y: (x - y) * (x - y)),
            F.lit(0.0), lambda acc, x: acc + x))
    return q.crossJoin(broadcast(book)).select(lut_col.alias("lut"))


def _adc_sum() -> Column:
    """ADC distance from the broadcast ``lut`` and a row's ``codes``:
    PQ_M table lookups summed in subspace order (matches the oracle's
    list_sum(list(d ORDER BY m)))."""
    adc: Column | None = None
    for m in range(PQ_M):
        term = F.element_at(
            F.col("lut"),
            (F.lit(m * PQ_K) + F.col("codes")[m] + 1).cast("int"))
        adc = term if adc is None else adc + term
    return adc


def knn_pq_adc(t: dict[str, DataFrame], k: int = TOP_K) -> DataFrame:
    """Approximate kNN by asymmetric distance computation (ADC) over
    PQ codes: the query precomputes its 8×16 lookup table of subspace
    distances once (broadcast), and each vector's distance is 8 table
    lookups summed in subspace order — the serving-path scan where
    codes are hot and the full floats stay cold. Codes are produced in
    the same pass here for self-containment; a production index stores
    pq_codes' output and joins it instead."""
    book = _pq_codebook(t)
    lut = _pq_lut(t, book)
    encoded = (spread(t["embeddings"])
               .select("vec_id", "label", "embedding")
               .crossJoin(broadcast(book))
               .select("vec_id", "label", _pq_code_array().alias("codes")))
    adc = _adc_sum()
    return (encoded.crossJoin(broadcast(lut))
            .where(F.col("vec_id") != QUERY_VEC_ID)
            .select("vec_id", "label", adc.alias("adc_dist"))
            .orderBy(F.asc("adc_dist"), F.asc("vec_id"))
            .limit(k))


PQ_SHORTLIST = 50


def knn_pq_refine(t: dict[str, DataFrame], k: int = TOP_K,
                  shortlist: int = PQ_SHORTLIST) -> DataFrame:
    """Two-stage ANN serving (the FAISS coarse-scan + refine shape):
    stage 1 scans the 32×-compressed PQ codes with ADC to produce a
    `shortlist`-sized candidate set; stage 2 re-ranks ONLY those
    candidates with exact cosine over the full floats. At scale the
    full-precision vectors are touched for 50 rows instead of the
    corpus — the quantized scan pays for the whole query.

    The shortlist membership is engine-exact because knn_pq_adc's ADC
    distances and tie-breaks are; the refine join is an id-keyed
    broadcast semi-join."""
    short = knn_pq_adc(t, k=shortlist).select("vec_id")
    return _query_knn(
        t["embeddings"].join(broadcast(short), "vec_id", "left_semi"),
        _query_vector(t), k)


def knn_ivf_pq(t: dict[str, DataFrame], k: int = TOP_K,
               nprobe: int = NPROBE,
               shortlist: int = PQ_SHORTLIST) -> DataFrame:
    """The full FAISS IndexIVFPQ serve shape, composed from the suite's
    pieces: (1) the coarse IVF probe prunes the scan to nprobe
    clusters (1/K of the corpus each), (2) ADC over the 32×-compressed
    PQ codes ranks ONLY the probed vectors into a shortlist, (3) exact
    cosine over the full floats re-ranks only the shortlist. At 100 TB
    the full-precision vectors are read for `shortlist` rows, the code
    scan touches nprobe/K of the corpus, and everything broadcast
    (centroids, codebook, LUT, probe list, shortlist) is KB-sized.
    Approximate like any IVF: recall bounded by the probe set."""
    q = _query_vector(t)
    probe = _probe_list(_centroids(t), q, nprobe)
    cands = (ivf_assign(t).join(broadcast(probe), "centroid_id")
             .where(F.col("vec_id") != QUERY_VEC_ID)
             .select("vec_id", "embedding"))
    book = _pq_codebook(t)
    encoded = (cands.crossJoin(broadcast(book))
               .select("vec_id", _pq_code_array().alias("codes")))
    short = (encoded.crossJoin(broadcast(_pq_lut(t, book)))
             .select("vec_id", _adc_sum().alias("adc_dist"))
             .orderBy(F.asc("adc_dist"), F.asc("vec_id"))
             .limit(shortlist)
             .select("vec_id"))
    return _query_knn(
        t["embeddings"].join(broadcast(short), "vec_id", "left_semi"),
        q, k)


def _pq_subrows(t: dict[str, DataFrame]) -> DataFrame:
    """Every vector exploded into its PQ subvectors: (vec_id, m,
    sub[PQ_SUBDIM] double). The batching trick that trains all PQ_M
    subspace codebooks in ONE distributed job instead of PQ_M
    sequential mini-k-means runs."""
    return (spread(t["embeddings"]).select("vec_id", "embedding")
            .select("vec_id", F.explode(F.expr(
                f"transform(sequence(0, {PQ_M - 1}), m -> struct(m AS m, "
                f"transform(slice(embedding, m * {PQ_SUBDIM} + 1, "
                f"{PQ_SUBDIM}), x -> CAST(x AS DOUBLE)) AS sub))"))
                .alias("s"))
            .select("vec_id", F.col("s.m").alias("m"),
                    F.col("s.sub").alias("sub")))


def _pq_book_row(book: DataFrame) -> DataFrame:
    """A long codebook (m, code, cv) as ONE broadcastable row, flat
    array sorted by (m, code)."""
    return book.agg(F.array_sort(
        F.collect_list(F.struct("m", "code", "cv"))).alias("book"))


def _pq_assign_sub(sub: DataFrame, book_row: DataFrame) -> DataFrame:
    """Zero-shuffle subspace assignment: each (vec, m) row filters the
    broadcast book to its own subspace's surviving codes (filter, not
    slice — a code that lost all members drops out without misaligning
    anything) and folds an argmin of exact L2²; first strict minimum
    in code order = smallest-code tie-break, like the oracle's
    ROW_NUMBER ... d ASC, code ASC."""
    cand = F.filter(F.col("book"), lambda c: c["m"] == F.col("m"))
    scored = F.transform(cand, lambda c: F.struct(
        F.aggregate(F.zip_with(F.col("sub"), c["cv"],
                               lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0), lambda a, x: a + x).alias("d"),
        c["code"].alias("code")))
    best = F.aggregate(
        scored,
        F.struct(F.lit(float("inf")).alias("d"),
                 F.lit(-1).cast("long").alias("code")),
        lambda acc, x: F.when(x["d"] < acc["d"], x).otherwise(acc))["code"]
    return (sub.crossJoin(broadcast(book_row))
            .select("vec_id", "m", "sub", best.alias("code")))


def _pq_means(assigned: DataFrame) -> DataFrame:
    """Per-(subspace, code, dim) mean via the two-level
    order-canonical fold (bit-exact, bounded state — label_centroids
    machinery keyed on (m, code, dim))."""
    ex = assigned.select("m", "code", "vec_id",
                         F.posexplode("sub").alias("dim", "x"))
    lvl1 = _block_sums(ex, ["m", "code", "dim"])
    g = (lvl1.groupBy("m", "code", "dim")
         .agg(F.array_sort(F.collect_list(F.struct("blk", "bsum")))
              .alias("bs"),
              F.sum("nb").alias("n")))
    return g.select("m", "code", "dim",
                    (_fold_blocks() / F.col("n")).alias("centroid"), "n")


def _means_to_book(means: DataFrame) -> DataFrame:
    return (means.groupBy("m", "code")
            .agg(F.expr(
                "transform(array_sort(collect_list(struct(dim, centroid))), "
                "p -> p.centroid)").alias("cv")))


def pq_codebook_trained(t: dict[str, DataFrame],
                        iters: int = 2) -> DataFrame:
    """Lloyd-trained PQ codebooks (replacing pq_codes' seed-codebook
    stand-in): per subspace, PQ_K code vectors refined by k-means on
    the subvectors. All PQ_M subspaces train SIMULTANEOUSLY — the
    subvector explode keys rows by (vec, m), assignment is an in-row
    argmin over the broadcast book, and one bounded-state aggregation
    per iteration updates every (m, code, dim) mean. At 100 TB each
    iteration is one scan + one tiny agg, exactly like
    kmeans_centroids. Output long format (m, code, dim, centroid, n);
    bit-exact relational DuckDB oracle (canonical list_sum folds)."""
    sub = retain(_pq_subrows(t))
    book = (sub.where(F.col("vec_id") < PQ_K)
            .select("m", F.col("vec_id").alias("code"),
                    F.col("sub").alias("cv")))
    for _ in range(iters - 1):
        means = _pq_means(_pq_assign_sub(sub, _pq_book_row(book)))
        book = _means_to_book(means)
    return _pq_means(_pq_assign_sub(sub, _pq_book_row(book)))


def pq_codes_trained(t: dict[str, DataFrame]) -> DataFrame:
    """Encode the corpus against the TRAINED codebooks (the production
    pq_codes path once training replaces seeds): train (2 Lloyd
    iterations), rebuild the book from the final means, one more
    zero-shuffle assignment pass. Output (vec_id, m, code)."""
    book = _means_to_book(pq_codebook_trained(t))
    return (_pq_assign_sub(_pq_subrows(t), _pq_book_row(book))
            .select("vec_id", "m", "code"))


RQ_K = 16


def rq_codes(t: dict[str, DataFrame]) -> DataFrame:
    """Residual (two-stage additive) quantization: stage 1 quantizes
    the vector against a K-centroid codebook, stage 2 quantizes the
    RESIDUAL v − C1[c1] against a second codebook — reconstruction
    C1[c1] + C2[c2] halves the error of one-stage VQ at the same code
    budget (the additive-quantizer family PQ's subspace split
    approximates). Seed codebooks: C1 = the first K vectors, C2 = the
    residuals of vectors K..2K−1 (NOT 0..K−1 — those have residual
    exactly 0 under their own centroid, a degenerate stage-2 book).

    Zero shuffle end to end: both codebooks broadcast as one-row
    sorted arrays, both assignments are in-row argmin L2² folds
    (first-strict-min = smallest-code tie-break), the residual is an
    in-row zip_with. Output (vec_id, c1, c2, err) with err the exact
    stage-2 quantization error — bit-portable, relational oracle."""
    e = spread(t["embeddings"]).select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"))

    def cents_row(src: DataFrame, vcol: str, off: int) -> DataFrame:
        return (src.where((F.col("vec_id") >= off)
                          & (F.col("vec_id") < off + RQ_K))
                .select((F.col("vec_id") - off).alias("code"),
                        F.col(vcol).alias("cv"))
                .agg(F.array_sort(F.collect_list(F.struct("code", "cv")))
                     .alias("cents")))

    def argmin(vcol: str) -> Column:
        scored = F.transform(F.col("cents"), lambda c: F.struct(
            F.aggregate(F.zip_with(F.col(vcol), c["cv"],
                                   lambda x, y: (x - y) * (x - y)),
                        F.lit(0.0), lambda a, x: a + x).alias("d"),
            c["code"].alias("code")))
        return F.aggregate(
            scored,
            F.struct(F.lit(float("inf")).alias("d"),
                     F.lit(-1).cast("long").alias("code")),
            lambda acc, x: F.when(x["d"] < acc["d"], x).otherwise(acc))

    best1 = argmin("v")
    a1 = (e.crossJoin(broadcast(cents_row(e, "v", 0)))
          .select("vec_id", "v", best1["code"].alias("c1"),
                  F.zip_with(
                      F.col("v"),
                      F.element_at("cents", (best1["code"] + 1).cast("int"))
                      ["cv"],
                      lambda x, y: x - y).alias("r")))
    a1 = retain(a1)
    # stage-2 book: code 0 is the ZERO "no correction" codeword —
    # without it, seed residuals are near-orthogonal to other rows'
    # residuals in high dim and stage 2 would INCREASE error on
    # average; with it, err <= stage-1 error per row by construction
    zero = (a1.where(F.col("vec_id") == 0)
            .select(F.lit(0).cast("long").alias("code"),
                    F.expr("transform(r, x -> CAST(0 AS DOUBLE))")
                    .alias("cv")))
    seeds = (a1.where((F.col("vec_id") >= RQ_K)
                      & (F.col("vec_id") < 2 * RQ_K - 1))
             .select((F.col("vec_id") - (RQ_K - 1)).alias("code"),
                     F.col("r").alias("cv")))
    c2row = (zero.unionByName(seeds)
             .agg(F.array_sort(F.collect_list(F.struct("code", "cv")))
                  .alias("cents")))
    best2 = argmin("r")
    return (a1.crossJoin(broadcast(c2row))
            .select("vec_id", "c1", best2["code"].alias("c2"),
                    best2["d"].alias("err")))


def knn_filtered(t: dict[str, DataFrame], label: int = 1,
                 k: int = TOP_K) -> DataFrame:
    """Metadata-filtered vector search (the "filtered ANN" serving
    shape): top-k cosine neighbors among vectors with a given label.
    PRE-filter strategy: the predicate reaches the parquet scan
    (PushedFilters), so the similarity scan touches only the matching
    partition slice — at 100 TB with label-partitioned storage this is
    partition pruning, not a post-scan filter; the top-k then runs on
    the filtered stream. (Post-filtering an unfiltered ANN shortlist
    under-returns when the filter is selective — the classic filtered-
    search failure this shape avoids.)"""
    e = spread(t["embeddings"]).where(F.col("label") == label)
    return _query_knn(e, _query_vector(t), k)


def _dim_variances(t: dict[str, DataFrame]) -> DataFrame:
    """Per-dimension variance (dim, var) via the two-level
    order-canonical fold (see label_centroids): level 1 folds each
    vec_id block's x and x² sorted by vec_id, level 2 folds block
    partials in block order — exact the same double sequence DuckDB's
    list_sum(... ORDER BY) runs, so the variance RANKING (all the
    permutation below consumes) is engine-identical."""
    e = (spread(t["embeddings"])
         .select("vec_id", F.posexplode(F.col("embedding"))
                 .alias("dim", "x")))
    blk = (e.groupBy("dim", F.expr(f"vec_id DIV {MEAN_BLOCK}")
                     .alias("blk"))
           .agg(F.array_sort(F.collect_list(F.struct("vec_id", "x")))
                .alias("vs"),
                F.count(F.lit(1)).alias("nb")))
    bsum = F.aggregate(F.col("vs"), F.lit(0.0),
                       lambda acc, s: acc + s["x"].cast("double"))
    bsq = F.aggregate(F.col("vs"), F.lit(0.0),
                      lambda acc, s: acc + s["x"].cast("double")
                      * s["x"].cast("double"))
    lvl1 = blk.select("dim", "blk", bsum.alias("bsum"),
                      bsq.alias("bsq"), "nb")
    g = (lvl1.groupBy("dim")
         .agg(F.array_sort(F.collect_list(
             F.struct("blk", "bsum", "bsq"))).alias("bs"),
              F.sum("nb").alias("n")))
    s = F.aggregate(F.col("bs"), F.lit(0.0),
                    lambda acc, x: acc + x["bsum"])
    sq = F.aggregate(F.col("bs"), F.lit(0.0),
                     lambda acc, x: acc + x["bsq"])
    n = F.col("n").cast("double")
    return g.select("dim", (sq / n - (s / n) * (s / n)).alias("var"))


def _balanced_perm(t: dict[str, DataFrame]) -> DataFrame:
    """The OPQ-lite dimension permutation as ONE broadcastable row:
    dims ranked by variance (desc, dim tie-break) and dealt to the
    PQ_M subspaces in snake order — round r of the deal places its
    dims left-to-right when r is even, right-to-left when odd, so
    every subspace receives one dim from each variance octile. This
    is the parametric-free slice of OPQ (Ge et al., CVPR'13): balance
    the per-subspace variance so no codebook wastes its 16 codes on
    near-constant dims while another starves.

    The rank window is a single 64-row partition — constant-size
    whatever the corpus, so the 'global window' is a non-issue."""
    v = _dim_variances(t)
    w = Window.orderBy(F.desc("var"), F.asc("dim"))
    r = F.row_number().over(w) - 1
    ranked = v.select("dim", r.alias("r"))
    m = F.when((F.col("r").cast("long") % (2 * PQ_M)) < PQ_M,
               F.col("r") % PQ_M) \
         .otherwise(PQ_M - 1 - (F.col("r") % PQ_M))
    pos = F.expr(f"r DIV {PQ_M}")
    cells = ranked.select(m.cast("int").alias("m"),
                          pos.cast("int").alias("pos"), "dim")
    return (cells.agg(F.array_sort(F.collect_list(
        F.struct("m", "pos", "dim"))).alias("cells"))
        .select(F.transform(F.col("cells"), lambda c: c["dim"])
                .alias("perm")))


def pq_balanced_perm(t: dict[str, DataFrame]) -> DataFrame:
    """Product quantization over variance-balanced permuted
    dimensions (OPQ's free first step): permute dims so each of the
    PQ_M subspaces gets an equal spread of high- and low-variance
    dims, then encode exactly like pq_codes. Output (vec_id, m, code)
    against the PERMUTED subspaces.

    Scale shape: the permutation is learned from one embeddings scan
    (two-level fold → 64 tiny rows → one 64-element broadcast array);
    encoding stays the zero-shuffle in-row argmin fold. Nothing new
    shuffles versus plain pq_codes."""
    # the perm row feeds both the codebook build and the encoding
    # scan; retained so the full-corpus variance fold runs ONCE, not
    # once per consumer (plan-tree duplication has no auto-reuse)
    perm = retain(_balanced_perm(t))
    permuted = (spread(t["embeddings"])
                .crossJoin(broadcast(perm))
                .select("vec_id",
                        F.transform(F.col("perm"),
                                    lambda d: F.element_at(
                                        F.col("embedding"),
                                        d.cast("int") + 1))
                        .alias("embedding")))
    book = _pq_codebook({"embeddings": permuted})
    return (permuted.crossJoin(broadcast(book))
            .select("vec_id", F.posexplode(_pq_code_array())
                    .alias("m", "code")))


MRL_PREFIX_DIMS = (8, 16, 32)


def matryoshka_prefix_eval(t: dict[str, DataFrame], k: int = TOP_K,
                           dims: tuple[int, ...] = MRL_PREFIX_DIMS,
                           ) -> DataFrame:
    """Matryoshka (prefix-truncation) retrieval audit: recall@k of
    cosine search over only the FIRST d dimensions against the
    full-dim exact top-k, for each candidate truncation width — the
    measurement that decides how far MRL-style embeddings can be cut
    before the index quality drops (truncating to d is an 8×/4×/2×
    scan-bytes saving at serving time).

    Every width searches in ONE exploded lane pass (the
    `ivf_probe_sweep` shape): each candidate row fans out to one lane
    per width, its cosine folded over the first d dims only, and one
    per-lane window takes each width's top-k. Everything stays
    engine-exact — same fold order, same (cos DESC, vec_id) tie-break
    as knn_bruteforce."""
    exact = knn_bruteforce(t, k).select("vec_id")
    widths = F.array(*[F.lit(int(d)) for d in dims])
    d = F.col("prefix_dim")
    lanes = (spread(t["embeddings"]).crossJoin(broadcast(_query_vector(t)))
             .where(F.col("vec_id") != QUERY_VEC_ID)
             .select("vec_id", "embedding", "q",
                     F.explode(widths).alias("prefix_dim"))
             .select("prefix_dim", "vec_id",
                     cosine(F.slice(F.col("embedding"), 1, d),
                            F.slice(F.col("q"), 1, d)).alias("cos_sim")))
    approx = _top_k(lanes, k, by=("prefix_dim",)).select("prefix_dim",
                                                         "vec_id")
    spine = exact.sparkSession.range(1).select(
        F.explode(widths).alias("prefix_dim"))
    return _recall_at_k(exact, approx, k, spine)


RANGE_TAU = 0.15


def ann_range_search(t: dict[str, DataFrame],
                     threshold: float = RANGE_TAU) -> DataFrame:
    """RANGE similarity query (radius search): every vector with
    cosine ≥ τ to the query — the other fundamental ANN query type
    next to top-k, used when the caller needs ALL sufficiently-close
    items (dedup sweep around a new document, policy screening)
    rather than a fixed k.

    Same banded sign-LSH prefilter as `embedding_near_dup_pairs`, but
    with a SINGLE query the bands never explode: the query row
    broadcasts as one struct ``q`` and the ≥1-shared-band test
    compares the same nibble keys (`_nibble_keys("")` against
    `_nibble_keys("q.")`) per corpus row — a stateless filter
    ahead of the exact normalized dot product, no join fan-out at
    all. Approximate by the same banding recall formula; the oracle
    replicates the band test, so parity is exact."""
    base = _normed_buckets(t)
    q = base.where(F.col("vec_id") == 0).select(
        F.struct("nv", "bucket").alias("q"))
    band_hit = reduce(operator.or_, [
        c == qc for c, qc in zip(_nibble_keys(""), _nibble_keys("q."))])
    cand = (base.where(F.col("vec_id") != 0)
            .crossJoin(F.broadcast(q))
            .where(band_hit))
    dot = F.aggregate(
        F.zip_with(F.col("nv"), F.col("q.nv"), lambda a, b: a * b),
        F.lit(0.0), lambda acc, v: acc + v)
    return (pin(cand, cos_sim=dot)
            .where(F.col("cos_sim") >= threshold)
            .select("vec_id", "cos_sim"))


PCA_K = 8


def pca_project8(t: dict[str, DataFrame]) -> DataFrame:
    """PCA projection onto the top-8 principal components — the
    dimensionality reduction an ANN serving tier runs before building
    coarse indexes (smaller codes, decorrelated axes). The covariance
    matrix comes from `embedding_covariance` (exact integer-quantized
    sums, so the driver-side eigendecomposition sees IDENTICAL input
    on every run/partitioning); numpy's 64×64 `eigh` runs on the
    driver (microseconds — the only non-distributed step, on a
    d×d matrix independent of corpus size), and the projection
    matrix ships back as literals: per vector, 8 JVM dot products
    over the mean-centered embedding, zero shuffles.

    Sign convention: each eigenvector is flipped so its
    largest-|component| entry is positive (lowest index on ties) —
    eigenvectors are sign-ambiguous and this pins one deterministic
    choice. Registered rows-only (eigendecomposition is not
    SQL-expressible); semantics pinned by a pure-numpy reference test
    asserting the projection reproduces to ≤1e-5 and that component
    variances decrease."""
    import numpy as np

    from .analytics_bridge import covariance_matrix
    cov, means = covariance_matrix(t)
    w, v = np.linalg.eigh(cov)           # ascending eigenvalues
    order = np.argsort(w)[::-1][:PCA_K]
    comps = []
    for idx in order:
        vec = v[:, idx]
        pivot = int(np.argmax(np.abs(vec)))
        if vec[pivot] < 0:
            vec = -vec
        comps.append(vec)
    d = len(means)
    mean_arr = F.array(*[F.lit(float(m)) for m in means])
    centered = F.zip_with(
        F.transform(F.col("embedding"), lambda x: x.cast("double")),
        mean_arr, lambda x, m: x - m)
    base = pin(t["embeddings"].select("vec_id", "embedding"),
               c=centered)
    cols = []
    for k, vec in enumerate(comps):
        arr = F.array(*[F.lit(float(vec[i])) for i in range(d)])
        cols.append(F.aggregate(
            F.zip_with(F.col("c"), arr, lambda x, y: x * y),
            F.lit(0.0), lambda acc, x: acc + x).alias(f"pc{k}"))
    return base.select("vec_id", *cols)


def knn_ivf_recall(t: dict[str, DataFrame], k: int = TOP_K) -> DataFrame:
    """Recall@k of the TRAINED-IVF probe search against exact brute
    force — completes the eval-harness pair (LSH already has one):
    the number an index owner checks before narrowing nprobe."""
    return _recall_at_k(knn_bruteforce(t, k).select("vec_id"),
                        knn_ivf_trained(t, k=k).select("vec_id"), k)


KNN_GRAPH_K = 3


def knn_graph(t: dict[str, DataFrame], k: int = KNN_GRAPH_K,
              assigned: DataFrame | None = None) -> DataFrame:
    """Approximate k-NN GRAPH: for every vector, its top-k cosine
    neighbors among vectors sharing its 8-plane LSH bucket — the
    all-nodes neighbor edge list that feeds graph clustering /
    semantic-dedup blocking, built WITHOUT the O(n²) all-pairs join.

    Shape at 100 TB: one bucket self-join (candidates = Σ per-bucket
    sizes², controlled by code length — lengthen the code to tighten
    buckets as the corpus grows) and a per-node top-k window
    partitioned on the source node — never a global sort. Bucket-local
    only (no multiprobe): recall trades against candidate volume;
    `knn_lsh_recall` is the harness that measures the same code's
    quality. Cosine is the engine-portable in-row fold; ties break on
    neighbor id, so edges are deterministic. Callers that already
    hold the bucket assignment (beam_graph_edges) pass it in so the
    LSH projection is computed once, not twice."""
    if assigned is None:
        assigned = retain(_with_buckets(t, N_SEARCH_PLANES))
    a = assigned.select("bucket", F.col("vec_id").alias("src"),
                        F.col("embedding").alias("ea"))
    b = assigned.select("bucket", F.col("vec_id").alias("dst"),
                        F.col("label").alias("dst_label"),
                        F.col("embedding").alias("eb"))
    scored = (a.join(b, "bucket")
              .where(F.col("src") != F.col("dst"))
              .select("src", "dst", "dst_label",
                      cosine(F.col("ea"), F.col("eb")).alias("cos_sim")))
    return (_top_k(scored, k, by=("src",), id_col="dst")
            .select("src", "dst", "dst_label", "cos_sim",
                    F.col("rnk").alias("rank")))


def centroid_drift(t: dict[str, DataFrame]) -> DataFrame:
    """Per-label centroid displacement between the two vec_id-parity
    halves of the corpus — the embedding-drift check run between a
    baseline batch and a refreshed batch before swapping an ANN
    index (here the halves stand in for the two snapshots).

    Exactness: each half's centroid uses the same two-level
    order-canonical fold as label_centroids (bounded aggregation
    state, bit-identical across engines); the L2 shift folds the 64
    per-dim squared diffs IN DIM ORDER in-row, so every double is a
    deterministic sequential chain. Shapes: one (half,label,dim)
    block aggregate, a labels×dims join, a labels-bounded rollup."""
    e = (spread(t["embeddings"])
         .select(F.pmod("vec_id", F.lit(2)).cast("int").alias("half"),
                 "label", "vec_id",
                 F.posexplode(F.col("embedding")).alias("dim", "x")))
    lvl1 = _block_sums(e, ["half", "label", "dim"])
    cent = (lvl1.groupBy("half", "label", "dim")
            .agg(F.array_sort(F.collect_list(F.struct("blk", "bsum")))
                 .alias("bs"),
                 F.sum("nb").alias("n"))
            .select("half", "label", "dim",
                    (_fold_blocks() / F.col("n")).alias("c"), "n"))
    a = cent.where(F.col("half") == 0) \
            .select("label", "dim", F.col("c").alias("c0"),
                    F.col("n").alias("n0"))
    b = cent.where(F.col("half") == 1) \
            .select("label", "dim", F.col("c").alias("c1"),
                    F.col("n").alias("n1"))
    j = a.join(b, ["label", "dim"]).select(
        "label", "dim", "n0", "n1",
        ((F.col("c0") - F.col("c1"))
         * (F.col("c0") - F.col("c1"))).alias("d2"),
        F.abs(F.col("c0") - F.col("c1")).alias("ad"))
    g = (j.groupBy("label")
         .agg(F.max("n0").alias("n0"), F.max("n1").alias("n1"),
              F.array_sort(F.collect_list(F.struct("dim", "d2")))
              .alias("ds"),
              F.max("ad").alias("max_dim_shift")))
    l2 = F.sqrt(F.aggregate(F.col("ds"), F.lit(0.0),
                            lambda acc, s: acc + s["d2"]))
    return g.select("label", "n0", "n1", l2.alias("l2_shift"),
                    "max_dim_shift")


def label_knn_purity(t: dict[str, DataFrame]) -> DataFrame:
    """Embedding-quality eval: per label, how often a vector's
    (approximate) nearest neighbor shares its label — the k-NN
    purity score that catches a bad embedding refresh before it
    poisons semantic dedup. Rides the same LSH-bucketed k-NN graph
    as `knn_graph` (no all-pairs join); the src label arrives by a
    co-partitioned vec_id join; purity is a ratio of exact counts."""
    g = knn_graph(t)
    src_lab = t["embeddings"].select(F.col("vec_id").alias("src"),
                                     F.col("label").alias("src_label"))
    e = g.join(src_lab, "src")
    hit = (F.col("dst_label") == F.col("src_label")).cast("int")
    return (e.groupBy(F.col("src_label").alias("label"))
            .agg(F.count_distinct("src").alias("n_nodes"),
                 F.sum(F.when(F.col("rank") == 1, hit)).alias("top1_hits"),
                 F.sum(F.when(F.col("rank") == 1, 1)).alias("top1_n"),
                 F.sum(hit).alias("knn_hits"),
                 F.count(F.lit(1)).alias("knn_n"))
            .select("label", "n_nodes",
                    (F.col("top1_hits").cast("double")
                     / F.col("top1_n")).alias("purity_top1"),
                    (F.col("knn_hits").cast("double")
                     / F.col("knn_n")).alias("purity_knn")))


COS_HIST_BINS = 10   # bin width 0.1 over [-1, 1] → bins -10..9


def random_pair_cos_histogram(t: dict[str, DataFrame]) -> DataFrame:
    """Cosine-similarity histogram over one deterministic pseudo-
    random partner per vector — the NULL MODEL behind near-dup and
    ANN threshold choices ("what does cosine look like between
    UNRELATED vectors?").

    Fully distributed with zero windows and zero self-broadcast: each
    vector derives its partner id arithmetically from its own md5
    stream — partner = (vec_id + 1 + h mod (n−1)) mod n, guaranteed
    ≠ vec_id for the contiguous id space the load contract pins — and
    the pair forms through ONE hash equi-join on partner id. n is a
    bounded setup-time scalar fetch (the repo's allowed pattern).
    Cosine folds in-order (exact DuckDB parity); bins are
    floor(cos·10) integer arithmetic."""
    e = t["embeddings"].select("vec_id", "embedding")
    n = e.count()
    h = F.conv(F.substring(
        F.md5(F.concat(F.lit("cospair:"),
                       F.col("vec_id").cast("string"))), 1, 15),
        16, 10).cast("long")
    left = e.select(
        "vec_id", F.col("embedding").alias("a"),
        ((F.col("vec_id") + 1 + F.pmod(h, F.lit(n - 1)))
         % F.lit(n)).alias("partner"))
    right = e.select(F.col("vec_id").alias("partner"),
                     F.col("embedding").alias("b"))
    pairs = left.join(right, "partner")
    cos = cosine(F.col("a"), F.col("b"))
    g = (pairs.select(F.floor(cos * COS_HIST_BINS)
                      .cast("int").alias("bin"))
         .groupBy("bin")
         .agg(F.count(F.lit(1)).alias("n_pairs")))
    wall = Window.partitionBy()
    return g.select(
        "bin", "n_pairs",
        (F.col("n_pairs").cast("double")
         / F.sum("n_pairs").over(wall)).alias("share"))


def knn_lsh_ndcg(t: dict[str, DataFrame], k: int = TOP_K) -> DataFrame:
    """nDCG@k of the LSH multiprobe ANN against the exact top-k
    (`_ndcg_at_k`)."""
    return _ndcg_at_k(knn_bruteforce(t, k).select("vec_id"),
                      knn_lsh(t, k), k)


def label_centroid_silhouette(t: dict[str, DataFrame]) -> DataFrame:
    """Centroid-variant silhouette per label: s = (b − a)/max(a, b)
    with a = distance to the OWN label centroid and b = the nearest
    OTHER centroid, averaged per label — the clustering-quality score
    that says whether labels are geometrically separable before
    anyone trains on them (full silhouette is O(n²); the centroid
    variant is the standard scalable proxy).

    Scale shape: centroids come from the exact two-level fold
    (`label_centroids`, bit-identical across engines) and ship as
    per-label literal arrays — the label space is enumeration-bounded,
    so this is a bounded setup-time fetch, and every per-point
    distance/least/ratio is then an IN-ROW fold chain (zero joins on
    the hot path). The per-label mean reuses the order-canonical
    block fold, so no double ever accumulates in partition order."""
    cent = label_centroids(t).collect()
    by_label: dict[int, dict[int, float]] = {}
    for r in cent:
        by_label.setdefault(r["label"], {})[r["dim"]] = r["centroid"]
    labels = sorted(by_label)
    dims = max(len(v) for v in by_label.values())

    def dist_to(lab: int) -> Column:
        arr = F.array(*[F.lit(by_label[lab][d]) for d in range(dims)])
        d2 = F.aggregate(
            F.zip_with(_dbl(F.col("embedding")), arr,
                       lambda x, y: (x - y) * (x - y)),
            F.lit(0.0), lambda acc, x: acc + x)
        return F.sqrt(d2)

    named = (spread(t["embeddings"])
             .select("vec_id", "label",
                     *[dist_to(lab).alias(f"d{lab}") for lab in labels]))
    a = F.lit(None).cast("double")
    for lab in labels:
        a = F.when(F.col("label") == lab, F.col(f"d{lab}")).otherwise(a)
    b = F.lit(None).cast("double")
    for lab in labels:
        others = [F.col(f"d{m}") for m in labels if m != lab]
        b = F.when(F.col("label") == lab, F.least(*others)).otherwise(b)
    s = F.when(F.greatest(a, b) == 0, F.lit(0.0)).otherwise(
        (b - a) / F.greatest(a, b))
    pts = named.select("label", "vec_id", s.alias("x"))
    lvl1 = _block_sums(pts, ["label"])
    g = (lvl1.groupBy("label")
         .agg(F.array_sort(F.collect_list(F.struct("blk", "bsum")))
              .alias("bs"),
              F.sum("nb").alias("n")))
    return g.select("label", "n",
                    (_fold_blocks() / F.col("n"))
                    .alias("mean_silhouette"))


PROBE_SWEEP = (1, 2, 4, 8)


def ivf_probe_sweep(t: dict[str, DataFrame], k: int = TOP_K) -> DataFrame:
    """Recall@k vs nprobe curve for the IVF index — the tuning table
    that picks the probe budget (recall rises toward 1.0 as nprobe
    approaches the full centroid count; at nprobe = K it IS brute
    force, the built-in sanity anchor).

    One row per probe budget; every side is a k-row frame so the
    intersection joins are broadcast no-ops — the cost is the probed
    scans, which is precisely what the curve is for."""
    exact = knn_bruteforce(t, k).select("vec_id")
    # assignment and query-to-centroid ranks compute ONCE; each probe
    # budget is then a prefix of the same ranked centroid list —
    # uncached, the full argmax-assignment scan reruns per budget
    q = _query_vector(t)
    ranked = (_centroids(t).crossJoin(broadcast(q))
              .select("centroid_id",
                      cosine(F.col("cvec"), F.col("q")).alias("qc"))
              .orderBy(F.desc("qc"), F.asc("centroid_id"))
              .limit(max(PROBE_SWEEP))
              .select("centroid_id",
                      F.row_number().over(
                          Window.orderBy(F.desc("qc"),
                                         F.asc("centroid_id")))
                      .alias("rank")))
    assigned = retain(ivf_assign(t))
    # ONE exploded pass instead of a union of per-budget subtrees: the
    # budgets are nested prefixes of the same centroid ranking, so each
    # candidate row (scored once) fans out to every budget that covers
    # its centroid's rank, and one per-budget window takes every
    # budget's top-k at once — bit-identical rows for a quarter of the
    # jobs (guide §2.3: aggregate once, don't replan per arm).
    arms = F.array(*[F.lit(int(np_)) for np_ in PROBE_SWEEP])
    cand = (assigned.join(broadcast(ranked), "centroid_id")
            .crossJoin(broadcast(q))
            .where(F.col("vec_id") != QUERY_VEC_ID)
            .select("vec_id",
                    cosine(F.col("embedding"), F.col("q"))
                    .alias("cos_sim"),
                    F.explode(F.filter(
                        arms, lambda a: a >= F.col("rank")))
                    .alias("nprobe")))
    topk = _top_k(cand, k, by=("nprobe",)).select("nprobe", "vec_id")
    spine = assigned.sparkSession.range(1).select(
        F.explode(arms).alias("nprobe"))
    return _recall_at_k(exact, topk, k, spine).drop("k")


def _best_sub_d2(m: int) -> Column:
    """Min over the PQ_K codes of subspace ``m``'s squared distance —
    the per-subspace reconstruction error of the ARGMIN encoding
    (same fold as `_pq_code_array`, keeping the distance instead of
    the code)."""
    scored = F.transform(
        F.slice(F.col("book"), m * PQ_K + 1, PQ_K),
        lambda c: _sub_d2(F.col("embedding"), m, c["cv"]))
    return F.aggregate(scored, F.lit(float("inf")),
                       lambda acc, d: F.least(acc, d))


def opq_rotation_mse(t: dict[str, DataFrame]) -> DataFrame:
    """OPQ-style rotation ahead of product quantization (Ge et al.,
    CVPR'13, the eigen-allocation variant): rotate every embedding
    into the PCA eigenbasis (decorrelated axes), PQ-encode the
    rotated vectors, and report mean reconstruction error against
    plain PQ on raw vectors — the measurement that justifies shipping
    a rotation matrix with the index.

    The rotation comes from numpy `eigh` on the EXACT integer-
    quantized covariance (identical input on every run/partitioning;
    d×d, driver-side microseconds) with the sign-pinned eigenvector
    convention of `pca_project8`, and ships as ~4k baked literals in
    ONE generated SQL expression (a Column-API build of 64 dot folds
    costs seconds of py4j round-trips). Everything per-vector is
    in-row (rotation matvec, two argmin encodes); the corpus means
    use the order-canonical block fold. Registered rows-only
    (eigendecomposition is not SQL-expressible); semantics pinned by
    a pure-numpy reference test."""
    import numpy as np

    from .analytics_bridge import covariance_matrix
    cov, means = covariance_matrix(t)
    w, v = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1]
    comps, eig = [], []
    for idx in order:
        vec = v[:, idx]
        pivot = int(np.argmax(np.abs(vec)))
        if vec[pivot] < 0:
            vec = -vec
        comps.append(vec)
        eig.append(max(float(w[idx]), 1e-12))
    d = len(means)
    # eigen-allocation (the OPQ non-parametric variant): deal the
    # eigen-directions, largest variance first, to the subspace with
    # the smallest current log-variance product (and free capacity) —
    # balanced subspace information instead of variance piling into
    # subspace 0 where a PQ_K-entry codebook saturates
    import math
    buckets: list[list[int]] = [[] for _ in range(PQ_M)]
    load = [0.0] * PQ_M
    # addends shift to ≥ 0 (log λ − log λmin): every bucket ends with
    # exactly PQ_SUBDIM dims, so the constant shift cancels and the
    # min-load greedy balances Σ log λ (negative raw logs would
    # invert the greedy into a runaway)
    base_log = math.log(eig[-1])
    for i in range(d):
        cands = [b for b in range(PQ_M) if len(buckets[b]) < PQ_SUBDIM]
        b = min(cands, key=lambda j: (load[j], j))
        buckets[b].append(i)
        load[b] += math.log(eig[i]) - base_log
    perm = [i for b in buckets for i in b]
    comps = [comps[i] for i in perm]

    def arr_sql(xs) -> str:
        return "array(" + ",".join(f"{float(x)!r}D" for x in xs) + ")"

    centered_sql = (f"zip_with(transform(embedding, x -> CAST(x AS "
                    f"DOUBLE)), {arr_sql(means)}, (x, m) -> x - m)")
    rot_sql = "array(" + ",".join(
        f"aggregate(zip_with(c, {arr_sql(comps[k])}, (x, y) -> x * y), "
        f"0.0D, (acc, x) -> acc + x)" for k in range(d)) + ")"
    base = pin(t["embeddings"].select("vec_id", "embedding"),
               c=F.expr(centered_sql))
    rotated = base.select("vec_id", F.expr(rot_sql).alias("embedding"))

    def mean_recon_d2(vecs: DataFrame, label: str) -> DataFrame:
        book = _pq_codebook({"embeddings": vecs})
        per_vec = (vecs.crossJoin(broadcast(book))
                   .select("vec_id",
                           sum((_best_sub_d2(m) for m in range(PQ_M)),
                               F.lit(0.0)).alias("x")))
        lvl1 = _block_sums(per_vec.select(
            F.lit("all").alias("grp"), "vec_id", "x"), ["grp"])
        g = (lvl1.groupBy("grp")
             .agg(F.array_sort(F.collect_list(F.struct("blk", "bsum")))
                  .alias("bs"),
                  F.sum("nb").alias("n")))
        return g.select(F.col("n").alias("n_vectors"),
                        (_fold_blocks() / F.col("n")).alias(label))
    raw = mean_recon_d2(t["embeddings"]
                        .select("vec_id", "embedding"), "mse_raw")
    rot = mean_recon_d2(rotated, "mse_rotated")
    return (raw.join(rot, "n_vectors")
            .select("n_vectors", "mse_raw", "mse_rotated",
                    (F.col("mse_raw") / F.col("mse_rotated"))
                    .alias("gain")))


def centroid_distance_matrix(t: dict[str, DataFrame]) -> DataFrame:
    """Pairwise Euclidean distances between label centroids (upper
    triangle, a < b) — the confusion-geometry map: close centroids
    predict which labels a classifier will mix up, and which merges a
    taxonomy cleanup should consider.

    Centroids come from the exact two-level fold (bit-identical
    across engines); the L×L pair space is enumeration-bounded, so
    the self-join is broadcast-trivial, and each distance is one
    in-row fold over the two centroid arrays in dim order."""
    cent = retain(label_centroids(t)
                  .groupBy("label")
                  .agg(F.expr("transform(array_sort("
                              "collect_list(struct(dim, centroid))), "
                              "p -> p.centroid)").alias("cv"),
                       F.max("n").alias("n")))
    a = cent.select(F.col("label").alias("label_a"),
                    F.col("cv").alias("ca"),
                    F.col("n").alias("n_a"))
    b = cent.select(F.col("label").alias("label_b"),
                    F.col("cv").alias("cb"),
                    F.col("n").alias("n_b"))
    pairs = a.join(broadcast(b),
                   F.col("label_a") < F.col("label_b"))
    d2 = F.aggregate(
        F.zip_with(F.col("ca"), F.col("cb"),
                   lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, x: acc + x)
    return pairs.select("label_a", "label_b", "n_a", "n_b",
                        F.sqrt(d2).alias("dist"))


def pca_explained_variance(t: dict[str, DataFrame]) -> DataFrame:
    """Spectral audit of the embedding space: the full eigenvalue
    spectrum of the covariance matrix as an explained-variance table
    (per-component share, cumulative share) plus the participation
    ratio (Σλ)²/Σλ² — the effective dimensionality number that tells
    you whether 64 nominal dims are really 9 (anisotropy /
    representation-collapse check, and the "how many PCA dims does
    the coarse index need" planning input).

    The DATA pass is `embedding_covariance` (distributed,
    integer-quantized exact cells — bit-identical across runs and
    partitionings); the eigendecomposition runs driver-side on the
    d×d matrix (constant size, independent of corpus scale — the
    pca_project8 contract). Registered rows-only (eigensolvers are
    not SQL-expressible); semantics pinned by a numpy property test
    (Σλ = trace to 1e-9, reconstruction ‖C − VΛVᵀ‖∞ ≤ 1e-9,
    spectrum descending)."""
    import numpy as np

    from .analytics_bridge import covariance_matrix
    cov, _ = covariance_matrix(t)
    w = np.linalg.eigvalsh(cov)[::-1]          # descending
    tot = float(w.sum())
    pr = float(w.sum() ** 2 / (w ** 2).sum())
    spark = t["embeddings"].sparkSession
    cum = 0.0
    rows = []
    for i, lam in enumerate(w):
        cum += float(lam)
        rows.append((i, float(lam), float(lam) / tot, cum / tot, pr))
    return spark.createDataFrame(
        rows, "component INT, eigenvalue DOUBLE, var_share DOUBLE, "
              "cum_var_share DOUBLE, participation_ratio DOUBLE")


INT8_CAND = 50


def knn_int8_rerank(t: dict[str, DataFrame], k: int = TOP_K,
                    cand: int = INT8_CAND) -> DataFrame:
    """Two-stage CASCADE serving: int8 coarse scoring prefilters the
    corpus to `cand` candidates, exact float cosine reranks the
    survivors to top-k — the memory-bandwidth pattern every
    production ANN tier runs (scan 1-byte codes, touch full floats
    only for the shortlist).

    The per-dim [lo, hi] ranges reduce in one tiny aggregate and
    broadcast as ONE sorted array row; both the corpus vectors and
    the query quantize IN-ROW with the `embedding_quantize_int8`
    formula (floor arithmetic — exact in doubles, so codes are
    bit-identical across engines). The coarse score is an exact
    BIGINT integer dot over codes (no float order hazard), the
    shortlist is TakeOrdered on (score desc, vec_id), and only the
    `cand` survivors pay the exact double cosine. Candidate-boundary
    ties are pinned by vec_id on both engines."""
    e = retain(spread(t["embeddings"])
               .select("vec_id", "label", "embedding"))
    ex = (e.select(F.posexplode("embedding").alias("dim", "x"))
          .select("dim", F.col("x").cast("double").alias("x")))
    rng = (ex.groupBy("dim")
           .agg(F.min("x").alias("lo"), F.max("x").alias("hi")))
    rh = rng.agg(F.array_sort(
        F.collect_list(F.struct("dim", "lo", "hi"))).alias("rh"))
    code = (
        "transform({col}, (x, i) -> CASE WHEN element_at(rh, i + 1).hi"
        " = element_at(rh, i + 1).lo THEN 0 ELSE CAST(least(255.0D, "
        "floor((CAST(x AS DOUBLE) - element_at(rh, i + 1).lo) * 255.0D"
        " / (element_at(rh, i + 1).hi - element_at(rh, i + 1).lo))) "
        "- 128 AS INT) END)")
    q = (e.where(F.col("vec_id") == QUERY_VEC_ID)
         .select(F.col("embedding").alias("qv")))
    coarse = (e.where(F.col("vec_id") != QUERY_VEC_ID)
              .crossJoin(broadcast(rh))
              .crossJoin(broadcast(q))
              .withColumn("vc", F.expr(code.format(col="embedding")))
              .withColumn("qc", F.expr(code.format(col="qv")))
              .withColumn("cs", F.aggregate(
                  F.zip_with("vc", "qc",
                             lambda a, b: a.cast("long") * b),
                  F.lit(0).cast("long"), lambda acc, x: acc + x))
              .select("vec_id", "label", "embedding", "qv", "cs"))
    shortlist = (coarse
                 .orderBy(F.desc("cs"), F.asc("vec_id"))
                 .limit(cand))
    return _top_k(shortlist.select(
        "vec_id", "label",
        cosine(F.col("embedding"), F.col("qv")).alias("cos_sim")), k)


def knn_int8_recall(t: dict[str, DataFrame],
                    k: int = TOP_K) -> DataFrame:
    """Recall@k of the int8 cascade against exact brute force — the
    eval harness run before trusting the cascade's candidate budget
    (the `knn_lsh_recall` contract, for the quantized path)."""
    return _recall_at_k(knn_bruteforce(t, k).select("vec_id"),
                        knn_int8_rerank(t, k).select("vec_id"), k)


def ivf_cluster_purity(t: dict[str, DataFrame]) -> DataFrame:
    """Clustering-quality audit against the labels: per-IVF-cell
    PURITY (share of the cell's majority label) — the external
    validation run next to `ivf_cluster_stats`' balance check before
    trusting the coarse quantizer (a low-purity cell mixes semantic
    neighborhoods, so probes leak irrelevant vectors). Exact integer
    counts end-to-end; the majority is a struct-max with a label
    tie-break; one division per cell at the end."""
    a = ivf_assign(t).select("centroid_id", "label")
    cells = (a.groupBy("centroid_id", "label")
             .agg(F.count(F.lit(1)).alias("c")))
    g = (cells.groupBy("centroid_id")
         .agg(F.sum("c").alias("n_vectors"),
              F.max(F.struct(F.col("c").alias("c"),
                             (-F.col("label")).alias("nl")))
              .alias("mx")))
    return g.select(
        "centroid_id", "n_vectors",
        (-F.col("mx.nl")).cast("int").alias("majority_label"),
        F.col("mx.c").alias("majority_count"),
        (F.col("mx.c").cast("double") / F.col("n_vectors"))
        .alias("purity"))


BEAM_WIDTH = 32    # ef: beam = top-ef of everything scored so far
                   # (32 after the round-7 recall sweep: ef 16 -> 32
                   # alone lifted recall@10 0.2-0.4 -> 0.5)
BEAM_HOPS = 8      # FIXED hop count: SQL-unrollable, no data-
                   # dependent stopping (a converged beam just stops
                   # finding new candidates and later hops no-op)
BEAM_ENTRIES = 4   # deterministic entry nodes: vec_ids 1..4
BEAM_REPS = 3      # long-range fan: edges reach the 3 lowest-vec_id
                   # representatives of each Hamming-1 bucket (1 rep
                   # forced every walk through a single gateway node;
                   # 3 reps triple the in-bucket landing points for
                   # +0.3-0.4 recall at ~2x average degree)


_BEAM_INDEX_MEMO: dict[tuple, tuple] = {}

# Adjacency page-cache bound per store: one search visits ~hops × ef
# × degree ≈ 4k ids, so 64k pages is ~16 searches of working set —
# past that the cache resets rather than growing without bound in a
# long-lived driver (ADVICE r8).
_BEAM_ADJ_CACHE_MAX = 65_536


def _beam_adjacency(edges: DataFrame, adj: dict, srcs) -> dict:
    """Adjacency rows for `srcs`, served from the memoized driver-side
    cache and fetched from the distributed edge table only for ids no
    search has touched yet — the page-in pattern of a graph-ANN
    server. Cache size is bounded by what searches actually visit
    (hops × ef × degree per query), never the edge table, and hard-
    capped at `_BEAM_ADJ_CACHE_MAX` pages (reset on overflow) so a
    long-lived driver serving many stores can't grow it without
    bound; missing ids are pinned to () so dead-ends aren't
    re-fetched."""
    if len(adj) > _BEAM_ADJ_CACHE_MAX:
        adj.clear()
    need = [s for s in srcs if s not in adj]
    if need:
        for s in need:
            adj[s] = []
        for r in (edges.where(F.col("src").isin(*need))
                  .select("src", "dst").collect()):
            adj[r["src"]].append(r["dst"])
    return {s: adj[s] for s in srcs}


def _beam_serving_index(t: dict[str, DataFrame]) -> tuple:
    """Memoized (edge table, embedding probe frame) for the beam
    family: an ANN graph index is built ONCE and served by many
    searches, so `knn_beam` / `knn_beam_batch` and their recall/nDCG
    harnesses share one persisted index per embedding store instead
    of rebuilding it per query — exactly how a graph-ANN service
    amortizes its build. Keyed by (SparkSession, semantic hash): the
    semantic hash identifies the PLAN (same source plan => same
    deterministic index), and the session guard keeps a process that
    stops and recreates its SparkSession from being served persisted
    frames bound to the dead session (ADVICE r8 — entries from other
    sessions are dropped on sight, since their persisted blocks died
    with the session). LRU-bounded at 4 stores, evictees unpersisted.
    Persisted OUTSIDE the per-query retain registry on purpose: the
    whole point is surviving the between-queries cache release.

    Known residual (documented, not fixed): same session + same path
    REWRITTEN with different data keeps the same semantic hash and
    would serve the stale index — acceptable here because the
    testdata stores are immutable snapshots by contract."""
    from pyspark.storagelevel import StorageLevel
    sess = t["embeddings"].sparkSession
    for k in [k for k in _BEAM_INDEX_MEMO if k[0] is not sess]:
        _BEAM_INDEX_MEMO.pop(k, None)  # frames died with their session
    key = (sess, t["embeddings"].semanticHash())
    hit = _BEAM_INDEX_MEMO.pop(key, None)
    if hit is None:
        edges = _build_beam_edges(t)
        edges.persist(StorageLevel.MEMORY_AND_DISK_DESER)
        probe = t["embeddings"].select("vec_id", "label", "embedding")
        probe.persist(StorageLevel.MEMORY_AND_DISK_DESER)
        hit = (edges, probe, {})
    _BEAM_INDEX_MEMO[key] = hit
    while len(_BEAM_INDEX_MEMO) > 4:
        evict = next(iter(_BEAM_INDEX_MEMO))
        edges_old, probe_old, _ = _BEAM_INDEX_MEMO.pop(evict)
        edges_old.unpersist()
        probe_old.unpersist()
    return hit


def beam_graph_edges(t: dict[str, DataFrame]) -> DataFrame:
    """The navigable beam index, served from the shared memo (see
    `_beam_serving_index`); `_build_beam_edges` documents the build."""
    edges, _, _ = _beam_serving_index(t)
    return edges


def _build_beam_edges(t: dict[str, DataFrame]) -> DataFrame:
    """The NAVIGABLE graph index the beam search walks: per-node
    LOCAL edges (top-3 cosine neighbors within the node's LSH
    bucket, `knn_graph`, kept BIDIRECTIONAL - HNSW links are
    undirected, and the reverse edges let the walk back out of a
    dead-end node) plus per-node LONG-RANGE edges to the BEAM_REPS
    lowest-vec_id representatives of each Hamming-1 neighboring
    bucket — the small-world ingredient HNSW gets from its layer
    hierarchy, realized here from structure the LSH code already
    provides. Local edges exploit, long edges explore: from any
    bucket the walker can flip one code bit per hop toward the
    query's region, then the local edges refine inside it. The
    round-7 sweep chose (3 reps, bidirectional, ef 32) — avg degree
    ~16 — over a Hamming-2 layer (avg degree ~64 for the same
    recall): recall@10 0.8-0.9 on the synthetic corpus vs 0.4 for
    the round-6 single-rep directed build.

    Shape: long edges are one n×8 explode + a broadcast join against
    the (≤ 3 × 2^8 row) representative table; local edges are the
    bucket self-join `knn_graph` already bounds, plus their swap.
    Distinct-unioned, (src, dst) sorted columns, fully deterministic
    — the index build is a plain SQL expression and the oracle
    replays it exactly."""
    assigned = retain(_with_buckets(t, N_SEARCH_PLANES))
    wrep = Window.partitionBy("bucket").orderBy(F.asc("vec_id"))
    reps = (assigned.select("bucket", "vec_id")
            .withColumn("rn", F.row_number().over(wrep))
            .where(F.col("rn") <= BEAM_REPS)
            .select("bucket", F.col("vec_id").alias("rep")))
    flips = (t["embeddings"].sparkSession
             .range(N_SEARCH_PLANES)
             .select(F.col("id").cast("int").alias("bit")))
    long_e = (assigned.select("vec_id", "bucket")
              .crossJoin(broadcast(flips))
              .select(F.col("vec_id").alias("src"),
                      F.expr("int(bucket ^ shiftleft(1, bit))")
                      .alias("nb"))
              .join(broadcast(reps.withColumnRenamed("bucket", "nb")),
                    "nb")
              .select("src", F.col("rep").alias("dst"))
              .where(F.col("src") != F.col("dst")))
    local_e = knn_graph(t, k=3, assigned=assigned).select("src", "dst")
    rev_e = local_e.select(F.col("dst").alias("src"),
                           F.col("src").alias("dst"))
    return local_e.unionByName(rev_e).unionByName(long_e).distinct()


def _beam_walk(t: dict[str, DataFrame], entries: dict[int, list[int]],
               k: int, beam_width: int, hops: int) -> DataFrame:
    """HNSW-style BEAM SEARCH over the navigable `beam_graph_edges`
    index for a set of queries walking it together — the graph-index
    ANN family (the one mainstream family IVF/PQ/LSH don't cover), in
    the serving shape real graph-ANN engines use: beam STATE (the ≤ ef
    scored ids per query, keyed by (qid, vec_id) — O(queries × ef),
    corpus-independent) lives on the coordinator, while every
    data-sized step stays distributed — edge expansion probes the
    cached edge table and candidate scoring probes the cached
    embedding frame with the shared JVM-side cosine fold. Total score
    work is queries × hops × ef × degree cosine evaluations, never a
    corpus-wide score scan (that would be brute-force cost wearing a
    graph-index costume), and one hop costs at most TWO tiny jobs for
    the whole query set (adjacency page-in, candidate score).

    ``entries`` maps each query vec_id to its entry nodes. Semantics
    are the ef-search formulation: beam_i = top-ef of VISITED_i
    (monotone — re-selecting from everything scored so far), which
    the DuckDB oracle replays as a fixed-hop CTE unroll bit-for-bit:
    cosine is computed by the SAME Spark fold here (the coordinator
    only ever sorts/dedups ids on already-computed doubles, so no
    float divergence is possible), and the early exit fires exactly
    at the frontier fixpoint of the whole set, where remaining
    unrolled hops are provably identical. Each query node is excluded
    from its own hops and results, so the search has to NAVIGATE to
    the neighborhood rather than read it off the query's own
    adjacency. Deterministic: fixed entries, fixed hop count,
    (score DESC, vec_id ASC) tie-breaks everywhere. Output (qid,
    vec_id, label, cos_sim, rnk ≤ k).

    At 100 TB: edge table bucketed by src and embedding table by
    vec_id turn each id-list probe into partition-pruned point
    lookups; the coordinator state stays O(ef + frontier) rows per
    query no matter the corpus size — the same bound an HNSW server
    keeps in RAM per in-flight query."""
    # shared memoized serving state: the index, the probe frame and
    # the touched-adjacency page cache are built once per embedding
    # store and reused by the whole beam family
    edges, e, adj = _beam_serving_index(t)
    # the query vectors are O(queries × dim) constant state: collected
    # ONCE and inlined as a literal qid -> vector map, so hop jobs
    # carry no query-side broadcast build (float->double widening is
    # exact; cosine double-casts both sides — bit-identical to the
    # join chain the oracle replays)
    qrows = (t["embeddings"].where(F.col("vec_id").isin(*entries))
             .select(F.col("vec_id").alias("qid"), "embedding")
             .collect())
    qmap = F.map_from_arrays(
        F.array(*[F.lit(r["qid"]) for r in qrows]),
        F.array(*[F.array(*[F.lit(float(x)) for x in r["embedding"]])
                  for r in qrows]))

    def score(pairs):
        # cosine over ONLY the given (qid, vec_id) pairs, JVM-side: an
        # id-list probe of the cached embedding frame fans each id out
        # to the queries that asked for it through a literal
        # vec_id -> qids map — one job, no broadcast build, never a
        # (corpus × queries) expansion
        asked: dict[int, list[int]] = {}
        for qid, v in pairs:
            asked.setdefault(v, []).append(qid)
        ids = ", ".join(f"{v}L" for v in asked)
        fan = ", ".join("array(" + ", ".join(f"{q}L" for q in qs) + ")"
                        for qs in asked.values())
        return (e.where(f"vec_id IN ({ids})")
                .select("vec_id", "label", "embedding", F.explode(F.expr(
                    f"map_from_arrays(array({ids}), array({fan}))"
                    "[vec_id]")).alias("qid"))
                .select("qid", "vec_id", "label",
                        cosine(F.col("embedding"),
                               F.element_at(qmap, F.col("qid")))
                        .alias("qs")).collect())

    visited: dict[int, dict[int, tuple]] = {}
    for r in score([(qid, v) for qid, vs in entries.items() for v in vs]):
        visited.setdefault(r["qid"], {})[r["vec_id"]] = \
            (r["qs"], r["label"])
    for _ in range(hops):
        beams = {qid: [i for i, _ in sorted(
            vs.items(), key=lambda kv: (-kv[1][0], kv[0]))
            [:beam_width]] for qid, vs in visited.items()}
        # (1) ONE adjacency page-in serves every query's never-touched
        # beam ids (free once the cache is warm), (2) cosine over ONLY
        # the never-visited (qid, vec_id) pairs
        a = _beam_adjacency(edges, adj,
                            sorted({s for ids in beams.values()
                                    for s in ids}))
        new = sorted({
            (qid, dst) for qid, ids in beams.items()
            for src in ids for dst in a.get(src, ())
            if dst != qid and dst not in visited[qid]})
        if not new:
            # frontier fixpoint: every remaining unrolled hop would
            # re-derive the identical visited sets — exit is bit-equal
            # to the oracle's full fixed-hop replay
            break
        for r in score(new):
            visited[r["qid"]][r["vec_id"]] = (r["qs"], r["label"])
    rows = []
    for qid in sorted(visited):
        top = sorted(visited[qid].items(),
                     key=lambda kv: (-kv[1][0], kv[0]))[:k]
        rows += [(qid, i, lab, qs, rnk + 1)
                 for rnk, (i, (qs, lab)) in enumerate(top)]
    return e.sparkSession.createDataFrame(
        rows, "qid long, vec_id long, label int, cos_sim double, "
              "rnk int")


def knn_beam(t: dict[str, DataFrame], k: int = TOP_K,
             beam_width: int = BEAM_WIDTH,
             hops: int = BEAM_HOPS) -> DataFrame:
    """Graph beam search (`_beam_walk`) for the single query
    QUERY_VEC_ID from the fixed entry nodes 1..BEAM_ENTRIES. On this
    synthetic (unclustered) corpus the harness reports 0.8-0.9
    recall@10 with the round-7 index (3 bucket reps, bidirectional
    local edges, ef 32) where the LSH multiprobe tier reports 0.0 —
    the navigability is doing real work."""
    entries = {QUERY_VEC_ID: list(range(1, BEAM_ENTRIES + 1))}
    return (_beam_walk(t, entries, k, beam_width, hops)
            .select("vec_id", "label", "cos_sim"))


def knn_beam_recall(t: dict[str, DataFrame],
                    k: int = TOP_K) -> DataFrame:
    """Recall@k of the graph beam search against exact brute force —
    the eval harness every approximate tier here ships with (LSH,
    IVF, PQ, int8 all have one)."""
    return _recall_at_k(knn_bruteforce(t, k).select("vec_id"),
                        knn_beam(t, k).select("vec_id"), k)


def knn_beam_ndcg(t: dict[str, DataFrame], k: int = TOP_K) -> DataFrame:
    """nDCG@k of the graph beam search against the exact top-k
    (`_ndcg_at_k`, the `knn_lsh_ndcg` contract)."""
    return _ndcg_at_k(knn_bruteforce(t, k).select("vec_id"),
                      knn_beam(t, k), k)


BEAM_BATCH_QUERIES = 5   # query set: vec_id < 5 (knn_batch's set)
BEAM_ENTRY_POOL = 5      # per-query entries: vec_ids 1..5 minus the
                         # query itself (4 or 5 entries, always
                         # disjoint from the query node)


def knn_beam_batch(t: dict[str, DataFrame],
                   n_queries: int = BEAM_BATCH_QUERIES,
                   k: int = 3,
                   beam_width: int = BEAM_WIDTH,
                   hops: int = BEAM_HOPS) -> DataFrame:
    """BATCH beam search — the serving shape `knn_batch` gives brute
    force, for the graph tier: every query in the set (vec_id <
    n_queries, knn_batch's contract) walks the SAME navigable index
    simultaneously (`_beam_walk`), from the fixed entry pool vec_ids
    1..BEAM_ENTRY_POOL minus the query itself. One hop costs the same
    jobs whatever the batch size — the batching amortization that
    makes graph ANN a bulk operator rather than n_queries sequential
    walks. Output mirrors knn_batch: (qid, vec_id, label, cos_sim,
    rnk ≤ k)."""
    entries = {qid: [v for v in range(1, BEAM_ENTRY_POOL + 1) if v != qid]
               for qid in range(n_queries)}
    return _beam_walk(t, entries, k, beam_width, hops)


def knn_beam_batch_recall(t: dict[str, DataFrame],
                          k: int = 3) -> DataFrame:
    """Per-query recall@k of the batch beam search against per-query
    exact brute force — one row per query, the harness proving the
    batch tier searches as well as the single-query tier."""
    exact = knn_batch(t, k=k).select("qid", "vec_id")
    return _recall_at_k(exact, knn_beam_batch(t, k=k).select("qid", "vec_id"),
                        k)


OUTLIER_TOP_K = 20


def embedding_outliers_diag(t: dict[str, DataFrame],
                            k: int = OUTLIER_TOP_K) -> DataFrame:
    """Embedding OUTLIERS by diagonal Mahalanobis distance: quantize
    components to the covariance grid (exact integer per-dim n, Σq,
    Σq² — order-free at any partitioning), derive per-dim mean/std
    once, then score every vector with Σ((q_i − μ_i)/σ_i)² where
    each dim's term is quantized to integer micro-units BEFORE the
    sum (the PSI/entropy discipline: float work happens per (vector,
    dim) identically in both engines, the SUM is integers). Top-k by
    (score DESC, vec_id ASC) — the corpus-quality gate that catches
    corrupt/degenerate vectors before they poison centroids or PQ
    codebooks. One stats scan + one broadcast-stats scoring scan +
    TakeOrdered."""
    from .analytics import COV_QUANT
    q = F.expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) "
        f"* {COV_QUANT}.0 + 0.5) AS BIGINT))")
    e = pin(spread(t["embeddings"]).select("vec_id", "embedding"),
            q=q)
    dims = (e.select(F.explode(F.expr(
        "transform(sequence(0, size(q) - 1), "
        "i -> struct(i AS i, q[i] AS qi))")).alias("p"))
        .groupBy(F.col("p.i").alias("i"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum("p.qi").cast("decimal(38,0)").alias("sx"),
             F.sum(F.expr("p.qi * p.qi")).cast("decimal(38,0)")
             .alias("sxx")))
    nd = F.col("n").cast("double")
    mu = F.col("sx").cast("double") / nd
    var = F.col("sxx").cast("double") / nd - mu * mu
    stats = (dims.select("i", mu.alias("mu"),
                         F.sqrt(var).alias("sd"))
             .agg(F.array_sort(F.collect_list(
                 F.struct("i", "mu", "sd"))).alias("ms")))
    units = F.expr(
        "aggregate(sequence(0, size(q) - 1), CAST(0 AS BIGINT), "
        "(acc, i) -> acc + CASE WHEN ms[i].sd > 0 THEN "
        "CAST(floor(((CAST(q[i] AS DOUBLE) - ms[i].mu) / ms[i].sd) "
        "* ((CAST(q[i] AS DOUBLE) - ms[i].mu) / ms[i].sd) "
        f"* {COV_QUANT}.0 + 0.5) AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END)")
    scored = (e.crossJoin(broadcast(stats))
              .select("vec_id", units.alias("score_units")))
    return (scored
            .orderBy(F.desc("score_units"), F.asc("vec_id"))
            .limit(k)
            .select("vec_id", "score_units",
                    (F.col("score_units").cast("double")
                     / COV_QUANT).alias("maha_diag_sq")))


def pq_code_utilization(t: dict[str, DataFrame]) -> DataFrame:
    """PQ codebook HEALTH audit: per subquantizer, how many of its 16
    codes are actually used, the population of the hottest code, and
    the assignment entropy (micro-nat-quantized integer terms — the
    engine-portable discipline) — dead or collapsed codes mean the
    codebook wastes bits and ADC distances lose resolution (the PQ
    analogue of ivf_cluster_stats' balance check). One (m, code)
    count on top of the zero-shuffle encoder; the finish is a
    PQ_M-bounded rollup."""
    counts = (pq_codes(t)
              .groupBy("m", "code")
              .agg(F.count(F.lit(1)).alias("c")))
    w = Window.partitionBy("m")
    per = counts.select(
        "m", "c",
        F.sum("c").over(w).alias("n"),
        F.max("c").over(w).alias("top"))
    units = F.floor(
        F.col("c") * F.log(F.col("n").cast("double")
                           / F.col("c").cast("double"))
        * 1_000_000 + F.lit(0.5)).cast("long")
    return (per.withColumn("u", units)
            .groupBy("m")
            .agg(F.count(F.lit(1)).cast("int").alias("n_codes_used"),
                 F.max("top").alias("top_code_count"),
                 F.max("n").alias("n_vectors"),
                 F.sum("u").alias("h_units"))
            .select("m", "n_codes_used", "top_code_count",
                    "n_vectors",
                    (F.col("h_units").cast("double") / 1_000_000
                     / F.col("n_vectors")).alias("code_entropy_nats")))


# round-7 wave 1: single-pass intra/inter label cohesion audit

COS_GRID = 1_000_000   # unit-vector component quantization


def intra_inter_cosine_gap(t: dict[str, DataFrame]) -> DataFrame:
    """Per-label embedding cohesion WITHOUT a pairwise join: average
    intra-label pairwise cosine vs average cosine to every vector
    OUTSIDE the label, from label-level unit-vector sums — the
    ‖Σu‖² identity (Σ_{i≠j} u_i·u_j = ‖Σu‖² − Σ‖u_i‖²) turns an
    O(N²·d) pair cloud into ONE O(N·d) pass plus label-count-sized
    arithmetic. This is the audit that tells a curation run whether
    its labels are semantically tight enough to drive semantic dedup.

    Exactness: each unit vector quantizes to integer micro-units
    per component (floor(x/‖x‖·1e6 + 0.5), row-local IEEE chain, both
    engines identical), so every cross-row sum is exact integer
    arithmetic — the (label, dim) sums, the per-row self-dots, and
    the DECIMAL(38,0) squares — and the final cosines are single
    double expressions over exact integers. The reported cosines are
    those of the QUANTIZED units (≤1e-4 from the float value, stated
    in the column names' _q suffix-free contract here)."""
    rows = pin(spread(t["embeddings"])
               .select("label", "vec_id", "embedding"),
               nrm=l2_norm(F.col("embedding")))
    q = F.transform(
        _dbl(F.col("embedding")),
        lambda x: F.floor(x / F.col("nrm")
                          * COS_GRID + F.lit(0.5)).cast("long"))
    pinned = pin(rows.select("label", "vec_id", q.alias("qv")),
                 qq=F.expr("aggregate(qv, 0L, (a, v) -> a + v * v)"))
    per_label = retain(
        pinned.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum("qq").alias("qq")))
    dims = (pinned
            .select("label", F.posexplode("qv").alias("dim", "x"))
            .groupBy("label", "dim")
            .agg(F.sum("x").alias("s")))
    dims = retain(dims)
    d38 = "decimal(38,0)"
    own = (dims.groupBy("label")
           .agg(F.sum((F.col("s").cast(d38) * F.col("s")).cast(d38))
                .alias("own_ss")))
    glob = (dims.groupBy("dim")
            .agg(F.sum("s").alias("gs")))
    cross = (dims.join(broadcast(glob), "dim")
             .groupBy("label")
             .agg(F.sum((F.col("s").cast(d38)
                         * (F.col("gs") - F.col("s"))).cast(d38))
                  .alias("cross_ss")))
    tot = per_label.agg(F.sum("n").alias("n_total"))
    g = (per_label.join(own, "label").join(cross, "label")
         .crossJoin(broadcast(tot)))
    nd = F.col("n").cast("double")
    grid2 = float(COS_GRID) * float(COS_GRID)
    intra = F.when(
        F.col("n") > 1,
        (F.col("own_ss") - F.col("qq")).cast("double")
        / (nd * (nd - 1)) / grid2)
    inter = F.when(
        F.col("n") < F.col("n_total"),
        F.col("cross_ss").cast("double")
        / (nd * (F.col("n_total") - F.col("n")).cast("double")) / grid2)
    return g.select(
        "label", F.col("n").alias("n_vecs"),
        intra.alias("intra_avg_cos"),
        inter.alias("inter_avg_cos"),
        (intra - inter).alias("cos_gap"))


# round-7 wave 2: diversified serving (maximal marginal relevance)

MMR_LAMBDA = 0.7
MMR_MU = 0.3    # explicit literal: 1.0 - 0.7 is NOT the double 0.3
MMR_POOL = 20
MMR_K = 5


def mmr_diversified_topk(t: dict[str, DataFrame]) -> DataFrame:
    """Maximal-marginal-relevance rerank (Carbonell & Goldstein 1998):
    greedy-select MMR_K results from the exact top-MMR_POOL cosine
    pool, each step picking argmax of λ·rel(q, d) − (1−λ)·max
    similarity to the already-selected set — the serving-side
    diversifier that stops near-duplicate neighbors from filling the
    result page.

    Scale shape (round-9, the beam-family serving pattern): the only
    corpus-sized work is the brute-force pool top-k (map-side score +
    distributed TakeOrdered); ONE more constant-size job computes all
    pairwise cosines inside the ≤ MMR_POOL-row pool, and the greedy
    argmax loop itself runs on the COORDINATOR over those
    already-computed doubles — K−1 selections over ≤ pool²/2 floats is
    O(1) state, exactly where a serving reranker holds it. The prior
    shape ran each greedy step as its own localCheckpoint job; at a
    ~0.25 s/job local floor that was 5 sequential jobs of pure
    latency for 20 rows of data (solo 1.13 → 2.2 s by round 8).
    Every cosine (rel and pairwise) comes from the repo's JVM-side
    left-fold dot chain — the coordinator only combines them with the
    fixed double expression 0.7·rel − 0.3·max_sim, the identical IEEE
    ops DuckDB's twin evaluates, so no float divergence is possible.
    Ties break (score desc, vec_id asc) — deterministic."""
    e = spread(t["embeddings"])
    pool = retain(
        e.crossJoin(broadcast(_query_vector(t)))
        .where(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", "label", "embedding",
                cosine(F.col("embedding"), F.col("q")).alias("rel"))
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(MMR_POOL))
    # one constant-size job: all unordered pairwise cosines within the
    # pool (≤ pool·(pool−1)/2 rows) + the per-candidate (rel, label)
    pa = pool.select(F.col("vec_id").alias("ia"),
                     F.col("embedding").alias("ea"))
    pb = pool.select(F.col("vec_id").alias("ib"),
                     F.col("embedding").alias("eb"))
    sim_rows = (pa.crossJoin(broadcast(pb))
                .where(F.col("ia") < F.col("ib"))
                .select("ia", "ib",
                        cosine(F.col("ea"), F.col("eb")).alias("sim"))
                .collect())
    sims = {(r["ia"], r["ib"]): r["sim"] for r in sim_rows}
    cand = sorted(((r["vec_id"], r["label"], r["rel"])
                   for r in pool.select("vec_id", "label", "rel")
                   .collect()),
                  key=lambda c: (-c[2], c[0]))
    out, selected = [], []
    for rank in range(1, MMR_K + 1):
        best = None
        for vid, label, rel in cand:
            if vid in selected:
                continue
            if not selected:
                score = rel
            else:
                max_sim = max(sims[(vid, s)] if vid < s
                              else sims[(s, vid)] for s in selected)
                score = MMR_LAMBDA * rel - MMR_MU * max_sim
            if best is None or (-score, vid) < (-best[4], best[1]):
                best = (rank, vid, label, rel, score)
        if best is None:        # pool exhausted before MMR_K picks
            break
        selected.append(best[1])
        out.append(best)
    return pool.sparkSession.createDataFrame(
        out, "rank int, vec_id long, label int, rel double, "
             "mmr_score double")


# round-7 wave 7: 1-bit binary quantization (the 32x-compression
# serving tier every vector store now ships: sign bits vs the per-dim
# mean, Hamming distance over packed words, optional exact rerank)

BQ_QUERIES = 5    # the knn_batch query-set contract (vec_id < 5)


BQ_XGRID = 1_000_000      # component quantization (micro-units)


def _bq_words(t: dict[str, DataFrame]) -> DataFrame:
    """Binary-quantize the embedding store: bit i = (x_i > mean_i),
    centered on the per-dim corpus mean, packed MSB-first into two
    32-bit words held as BIGINTs (w0 = dims 0-31, w1 = dims 32-63 —
    two half-words, never a sign-bit-63 hazard in either engine).

    The mean threshold is FLOAT-SUM-FREE: components quantize to
    integer micro-units, the per-dim Σxu/n mean is never divided —
    the bit test is xu·n > Σxu, pure bigint comparison (the
    mann_whitney integer-rank discipline applied to centering), so
    codes are bit-identical across engines regardless of partition
    order. One tiny per-dim aggregate broadcasts back as ONE sorted
    array row; the packing fold is acc·2 + bit over the dim slice.
    Codes are 256 B/vector of floats → 8 B of words (a 100 TB float
    corpus scans as ~3 TB of codes)."""
    e = retain(spread(t["embeddings"])
               .select("vec_id", "label", "embedding"))
    xu = F.floor(F.col("x").cast("double") * BQ_XGRID + F.lit(0.5)) \
          .cast("long")
    ex = (e.select(F.posexplode("embedding").alias("dim", "x"))
          .select("dim", xu.alias("xu"))
          .groupBy("dim")
          .agg(F.sum("xu").alias("su"), F.count(F.lit(1)).alias("n")))
    mh = ex.agg(F.array_sort(
        F.collect_list(F.struct("dim", "su", "n"))).alias("mh"))
    bits = ("transform({col}, (x, i) -> CASE WHEN "
            f"CAST(floor(CAST(x AS DOUBLE) * {BQ_XGRID}.0D + 0.5D) "
            "AS BIGINT) * element_at(mh, i + 1).n "
            "> element_at(mh, i + 1).su THEN 1L ELSE 0L END)")
    pack = ("aggregate(slice(bt, {off}, 32), 0L,"
            " (acc, b) -> acc * 2L + b)")
    return (e.crossJoin(broadcast(mh))
            .withColumn("bt", F.expr(bits.format(col="embedding")))
            .select("vec_id", "label", "embedding",
                    F.expr(pack.format(off=1)).alias("w0"),
                    F.expr(pack.format(off=33)).alias("w1")))


def _bq_hamming() -> Column:
    return (F.bit_count(F.expr("w0 ^ qw0"))
            + F.bit_count(F.expr("w1 ^ qw1"))).cast("int")


def knn_bq_hamming(t: dict[str, DataFrame], k: int = TOP_K) -> DataFrame:
    """Batch top-k by BINARY-quantized Hamming distance for the
    query set (vec_id < BQ_QUERIES, the knn_batch contract): the
    corpus scans as two packed words per vector, each query costs two
    XOR+popcounts per candidate — the cheapest serving tier there is
    (and the first stage of the rerank cascade). Per-query row_number
    on (hamming asc, vec_id asc); ties are exact-integer, so the
    cutoff is engine-stable."""
    w = retain(_bq_words(t))
    q = (w.where(F.col("vec_id") < BQ_QUERIES)
         .select(F.col("vec_id").alias("qid"),
                 F.col("w0").alias("qw0"), F.col("w1").alias("qw1")))
    scored = (w.crossJoin(broadcast(q))
              .where(F.col("vec_id") != F.col("qid"))
              .select("qid", "vec_id", "label",
                      _bq_hamming().alias("hamming")))
    win = Window.partitionBy("qid").orderBy(F.asc("hamming"),
                                            F.asc("vec_id"))
    return (scored.withColumn("rnk", F.row_number().over(win))
            .where(F.col("rnk") <= k)
            .select("qid", "vec_id", "label", "hamming", "rnk"))


BQ_CAND = 200     # rerank candidate budget (the INT8_CAND contract).
                  # Chosen by `bq_cand_sweep`: 50 floors at 0.3-0.4
                  # per-query recall@10 and 100 at 0.4-0.8 on the
                  # synthetic corpus — 200 is the smallest swept
                  # budget whose per-query FLOOR clears the 0.5
                  # serving bar (1.0 at both gate SFs)


def knn_bq_rerank(t: dict[str, DataFrame], k: int = TOP_K,
                  cand: int = BQ_CAND) -> DataFrame:
    """Two-stage BQ cascade for the query set: Hamming shortlists
    `cand` candidates per query (1-bit codes — the stage that reads
    8 bytes/vector), exact float cosine reranks the survivors to
    top-k. The shortlist boundary is integer-tied on (hamming,
    vec_id), so both engines cut the same candidate set; only
    cand × queries rows ever touch the full floats."""
    w = retain(_bq_words(t))
    q = (w.where(F.col("vec_id") < BQ_QUERIES)
         .select(F.col("vec_id").alias("qid"),
                 F.col("w0").alias("qw0"), F.col("w1").alias("qw1"),
                 F.col("embedding").alias("qv")))
    coarse = (w.crossJoin(broadcast(q))
              .where(F.col("vec_id") != F.col("qid"))
              .select("qid", "vec_id", "label", "embedding", "qv",
                      _bq_hamming().alias("hamming")))
    wc = Window.partitionBy("qid").orderBy(F.asc("hamming"),
                                           F.asc("vec_id"))
    short = (coarse.withColumn("crk", F.row_number().over(wc))
             .where(F.col("crk") <= cand))
    scored = short.select("qid", "vec_id", "label",
                          cosine(F.col("embedding"), F.col("qv"))
                          .alias("cos_sim"))
    return (_top_k(scored, k, by=("qid",))
            .select("qid", "vec_id", "label", "cos_sim", "rnk"))


def knn_bq_recall(t: dict[str, DataFrame], k: int = TOP_K) -> DataFrame:
    """Per-query recall@k of the BQ rerank cascade against exact
    brute force (the knn_beam_batch_recall contract) — the harness
    that prices the 32x compression in recall before serving trusts
    it."""
    exact = knn_batch(t, n_queries=BQ_QUERIES, k=k) \
        .select("qid", "vec_id")
    return _recall_at_k(exact, knn_bq_rerank(t, k).select("qid", "vec_id"),
                        k)


BQ_CAND_SWEEP = (50, 100, 200)   # candidate-depth budgets swept


def bq_cand_sweep(t: dict[str, DataFrame], k: int = TOP_K) -> DataFrame:
    """Recall / scan-bytes curve over the BQ cascade's candidate
    depth — the `ivf_probe_sweep` contract applied to the 1-bit
    tier: Hamming ranks compute ONCE, each cand budget is a prefix
    of the same integer-tied shortlist, float cosine reranks the
    prefix, and per-query recall@k scores it against exact brute
    force. One row per budget with the per-query recall FLOOR (min
    across queries) next to the bytes each stage reads — the table
    that picks BQ_CAND: the smallest budget whose floor clears the
    0.5 serving bar (on the synthetic corpus cand=50 floors at
    0.3-0.4, cand=100 at 0.4-0.8 across the gate SFs; cand=200
    floors at 1.0 — so the default is 200).

    Cost shape: ONE code scan + ONE per-query rank window shared by
    every budget (the sweep adds only prefix filters), rerank floats
    touch cand × queries rows per budget, and every recall join is
    a k-row broadcast no-op. code_scan_bytes = corpus × 8 B (two
    packed words per vector); rerank_scan_bytes = cand × 64 dims ×
    4 B floats per query."""
    w = retain(_bq_words(t))
    q = (w.where(F.col("vec_id") < BQ_QUERIES)
         .select(F.col("vec_id").alias("qid"),
                 F.col("w0").alias("qw0"), F.col("w1").alias("qw1"),
                 F.col("embedding").alias("qv")))
    wc = Window.partitionBy("qid").orderBy(F.asc("hamming"),
                                           F.asc("vec_id"))
    coarse = retain(
        w.crossJoin(broadcast(q))
        .where(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", "embedding", "qv",
                _bq_hamming().alias("hamming"))
        .withColumn("crk", F.row_number().over(wc))
        .where(F.col("crk") <= max(BQ_CAND_SWEEP)))
    exact = retain(knn_batch(t, n_queries=BQ_QUERIES, k=k)
                   .select("qid", "vec_id"))
    scan = w.agg((F.count(F.lit(1)) * 8).alias("code_scan_bytes"))
    # ONE exploded pass over the shared coarse shortlist instead of a
    # union of per-budget subtrees (guide §2.3): budgets are nested
    # prefixes of the same Hamming ranking, so each candidate (its
    # float cosine computed once) fans out to every budget covering
    # its coarse rank, one (cand, qid) window reproduces each budget's
    # top-k rerank over the identical ordering, and a (cand × qid)
    # spine keeps the zero-hit rows. Bit-identical rows, ~1/3 the jobs.
    arms = F.array(*[F.lit(int(c)) for c in BQ_CAND_SWEEP])
    scored = (coarse.select(
        "qid", "vec_id",
        cosine(F.col("embedding"), F.col("qv")).alias("cos_sim"),
        F.explode(F.filter(arms, lambda a: a >= F.col("crk")))
        .alias("cand")))
    topk = (_top_k(scored, k, by=("cand", "qid"))
            .select("cand", "qid", "vec_id"))
    spine = (exact.sparkSession.range(1)
             .select(F.explode(arms).alias("cand"))
             .crossJoin(exact.select("qid").distinct()))
    per = _recall_at_k(exact, topk, k, spine)
    return (per.groupBy("cand")
            .agg(F.lit(k).alias("k"),
                 F.count(F.lit(1)).cast("int").alias("n_queries"),
                 F.sum("n_hits").cast("int").alias("total_hits"),
                 (F.min("n_hits").cast("double") / k)
                 .alias("min_recall_at_k"),
                 (F.sum("n_hits").cast("double")
                  / (k * BQ_QUERIES)).alias("mean_recall_at_k"))
            .withColumn("rerank_scan_bytes", F.col("cand") * DIM * 4)
            .crossJoin(broadcast(scan)))


# round-7 wave 11: Johnson-Lindenstrauss projection distortion audit

JL_K = 16          # target dimensionality (64 -> 16)
JL_SEED_BASE = 100  # sign-plane namespace (disjoint from the LSH set)
JL_PAIR_IDS = 64   # pair sample: all pairs among vec_id < 64


def _jl_signs() -> list[list[float]]:
    return [_hyperplane_signs(JL_SEED_BASE + j) for j in range(JL_K)]


def _jl_proj_sql() -> str:
    """SQL text for the K-dim ±1 sign projection of the pinned double
    array `v` — literal planes compiled into the plan (the
    `_bucket_sql` idiom: one JVM parse, broadcast-free)."""
    dots = []
    for signs in _jl_signs():
        plane = ", ".join(f"{s}D" for s in signs)
        dots.append(f"aggregate(zip_with(v, array({plane}), "
                    f"(x, y) -> x * y), 0.0D, (acc, x) -> acc + x)")
    return "array(" + ", ".join(dots) + ")"


def jl_projection_distortion(t: dict[str, DataFrame]) -> DataFrame:
    """Johnson–Lindenstrauss distortion audit of a 64→16 ±1 sign
    projection (Achlioptas 2003: database-friendly random
    projections): for every pair in the deterministic sample
    (vec_id < 64), the ratio ‖Sx − Sy‖²/K over ‖x − y‖² — the
    measured answer to "can the ANN tier pre-filter in 16 dims"
    (E[ratio] = 1; the report is its observed min/mean/max and the
    share within ±30%).

    The pair cloud is SAMPLE-bounded (64·63/2 pairs at any corpus
    scale, a broadcast self-join); each pair's ratio floor-grids to
    integer ppb BEFORE the aggregate, so min/max/mean/share are
    integer-exact in any order."""
    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = pin(spread(t["embeddings"])
               .where(F.col("vec_id") < JL_PAIR_IDS)
               .select("vec_id", "embedding"), v=vec)
    proj = base.selectExpr("vec_id", "v",
                           f"{_jl_proj_sql()} AS p")
    a = proj.select(F.col("vec_id").alias("ida"),
                    F.col("v").alias("va"), F.col("p").alias("pa"))
    b = proj.select(F.col("vec_id").alias("idb"),
                    F.col("v").alias("vb"), F.col("p").alias("pb"))

    def d2(x: Column, y: Column) -> Column:
        return F.aggregate(
            F.zip_with(x, y, lambda u, w: (u - w) * (u - w)),
            F.lit(0.0), lambda acc, z: acc + z)

    pairs = (a.join(broadcast(b), F.col("ida") < F.col("idb"))
             .select(d2(F.col("va"), F.col("vb")).alias("dd"),
                     d2(F.col("pa"), F.col("pb")).alias("pp"))
             .where(F.col("dd") > 0)
             .select(F.floor(F.col("pp") / F.lit(float(JL_K))
                             / F.col("dd") * 1e9 + F.lit(0.5))
                     .cast("long").alias("r_ppb")))
    g = pairs.agg(F.count(F.lit(1)).alias("n_pairs"),
                  F.min("r_ppb").alias("mn"),
                  F.max("r_ppb").alias("mx"),
                  F.sum("r_ppb").alias("s"),
                  F.sum(((F.col("r_ppb") >= 700_000_000)
                         & (F.col("r_ppb") <= 1_300_000_000))
                        .cast("long")).alias("w"))
    grid = lambda c: F.floor(c * 1e9 + F.lit(0.5)) / 1e9  # noqa: E731
    return g.select(
        "n_pairs",
        (F.col("mn").cast("double") / 1e9).alias("min_ratio"),
        (F.col("mx").cast("double") / 1e9).alias("max_ratio"),
        grid(F.col("s").cast("double") / F.col("n_pairs").cast("double")
             / 1e9).alias("mean_ratio"),
        grid(F.col("w").cast("double") / F.col("n_pairs").cast("double"))
        .alias("share_within_30pct"))


# round-7 wave 16: per-dimension embedding drift (PSI)

PSI_DIM_BUCKETS = 16


def embedding_dim_psi(t: dict[str, DataFrame]) -> DataFrame:
    """Per-DIMENSION Population Stability Index between two halves of
    the embedding store (vec_id parity as the stand-in for "old model
    vs new model" / "last week vs this week") — the drift audit run
    before trusting a re-embedded corpus against a serving index
    built on the old vectors: a dimension whose PSI spikes moved its
    distribution, and every centroid/fence derived from it is stale.

    Each dimension's axis splits into 16 equal-width buckets of the
    GLOBAL per-dim [lo, hi] range (the int8-quantizer range row,
    broadcast back); bucket counts per half are exact integers, and
    each bucket's (pa−pb)·ln(pa/pb) term floor-grids to integer ppb
    BEFORE the per-dim sum (the PSI convention — the grid removes
    ORDER dependence of the sum; it does NOT erase a JVM-vs-libm ln
    ulp difference, which could still flip one ppb unit if the scaled
    term lands exactly on a rounding boundary — not observed at
    tested SFs). One-sided buckets are
    COUNTED rather than folded (the NULL-signal convention) so psi is
    over both-populated buckets only."""
    ex = retain(spread(t["embeddings"])
                .select(F.pmod("vec_id", F.lit(2)).alias("half"),
                        F.posexplode("embedding").alias("dim", "x"))
                .select("half", "dim",
                        F.col("x").cast("double").alias("x")))
    rng = (ex.groupBy("dim")
           .agg(F.min("x").alias("lo"), F.max("x").alias("hi")))
    b = F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
        F.least(F.lit(PSI_DIM_BUCKETS - 1),
                F.floor((F.col("x") - F.col("lo"))
                        * F.lit(float(PSI_DIM_BUCKETS))
                        / (F.col("hi") - F.col("lo")))
                .cast("int")))
    cells = (ex.join(F.broadcast(rng), "dim")
             .select("dim", b.alias("bucket"), "half")
             .groupBy("dim", "bucket")
             .agg(F.sum((F.col("half") == 0).cast("long")).alias("ca"),
                  F.sum((F.col("half") == 1).cast("long")).alias("cb")))
    tot = (cells.groupBy("dim")
           .agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb")))
    j = cells.join(F.broadcast(tot), "dim")
    pa = F.col("ca").cast("double") / F.col("na").cast("double")
    pb = F.col("cb").cast("double") / F.col("nb").cast("double")
    term = F.when(
        (F.col("ca") > 0) & (F.col("cb") > 0),
        F.floor((pa - pb) * F.log(pa / pb) * 1e9 + F.lit(0.5))
        .cast("long"))
    g = (j.select("dim", "na", "nb", term.alias("u"),
                  ((F.col("ca") > 0) & (F.col("cb") > 0))
                  .cast("long").alias("both"),
                  (((F.col("ca") > 0) & (F.col("cb") == 0))
                   | ((F.col("ca") == 0) & (F.col("cb") > 0)))
                  .cast("long").alias("oneside"))
         .groupBy("dim")
         .agg(F.max("na").alias("n_a"), F.max("nb").alias("n_b"),
              F.sum("both").alias("n_buckets_both"),
              F.sum("oneside").alias("n_buckets_oneside"),
              F.sum("u").alias("su")))
    return g.select(
        "dim", "n_a", "n_b", "n_buckets_both", "n_buckets_oneside",
        (F.col("su").cast("double") / 1e9).alias("psi"))


def anisotropic_pq_loss(t: dict[str, DataFrame]) -> DataFrame:
    """Anisotropic quantization-loss audit of the PQ codebook (Guo et
    al., "Accelerating Large-Scale Inference with Anisotropic Vector
    Quantization", ICML 2020): decompose the per-vector PQ
    reconstruction residual r = x − x̂ into the component PARALLEL to
    x (‖r_par‖² = ⟨r,x⟩²/⟨x,x⟩) and the ORTHOGONAL remainder — the
    ScaNN insight is that parallel error is what corrupts
    inner-product rankings, so a codebook with high parallel share
    hurts MIPS recall more than its raw MSE suggests. Reports corpus
    means of both losses and the parallel share — the number that
    decides whether score-aware (re-weighted) codebook training is
    worth shipping.

    Exactness: per-vector ⟨r,x⟩ / ‖r‖² / ⟨x,x⟩ assemble from
    per-subspace left folds summed in subspace order (the ADC
    convention — identical chains in both engines), each vector's
    parallel/orthogonal loss floor-grids to integer nano-units
    BEFORE the corpus sums (PSI discipline), sums ride DECIMAL(38,0)
    (1e12 vectors × 1e9 units would overflow bigint), and the final
    means/share are gridded double chains. Zero-norm vectors are
    excluded (undefined decomposition) in both engines.

    Scale shape: one broadcast codebook row + a single zero-shuffle
    encode-and-score scan, then one map-side-combinable aggregate."""
    d38 = "decimal(38,0)"
    book = _pq_codebook(t)
    enc = (spread(t["embeddings"]).select("vec_id", "embedding")
           .crossJoin(broadcast(book))
           .withColumn("codes", _pq_code_array()))

    def sub_term(m: int, kind: str) -> Column:
        cv = F.element_at(
            F.col("book"),
            (F.lit(m * PQ_K) + F.col("codes")[m] + 1).cast("int"))["cv"]
        sub = _dbl(F.slice(F.col("embedding"),
                           m * PQ_SUBDIM + 1, PQ_SUBDIM))
        if kind == "rx":
            z = F.zip_with(sub, cv, lambda x, y: (x - y) * x)
        elif kind == "rr":
            z = F.zip_with(sub, cv, lambda x, y: (x - y) * (x - y))
        else:
            z = F.transform(sub, lambda x: x * x)
        return F.aggregate(z, F.lit(0.0), lambda a, x: a + x)

    def total(kind: str) -> Column:
        c = None
        for m in range(PQ_M):
            term = sub_term(m, kind)
            c = term if c is None else c + term
        return c

    per = enc.select(total("rx").alias("rx"),
                     total("rr").alias("rr"),
                     total("xx").alias("xx"))
    lpar = F.col("rx") * F.col("rx") / F.col("xx")
    lorth = F.col("rr") - lpar
    qp = F.floor(lpar * F.lit(1e9) + F.lit(0.5)).cast("long")
    qo = F.floor(lorth * F.lit(1e9) + F.lit(0.5)).cast("long")
    g = (per.where(F.col("xx") > 0)
         .agg(F.count(F.lit(1)).alias("n_vecs"),
              F.sum(qp.cast(d38)).alias("sp"),
              F.sum(qo.cast(d38)).alias("so")))
    grid = lambda c: F.floor(c * 1e9 + F.lit(0.5)) / 1e9  # noqa: E731
    nd = F.col("n_vecs").cast("double")
    tot = F.col("sp").cast("double") + F.col("so").cast("double")
    return g.select(
        "n_vecs",
        grid(F.col("sp").cast("double") / 1e9 / nd)
        .alias("mean_parallel_loss"),
        grid(F.col("so").cast("double") / 1e9 / nd)
        .alias("mean_orth_loss"),
        F.when(tot > 0, grid(F.col("sp").cast("double") / tot))
         .alias("parallel_share"))


# round-9: greedy k-center coreset selection (data-subset curation)

KCENTER_K = 8   # centers to select (fixed, SQL-unrollable)


def kcenter_greedy_coreset(t: dict[str, DataFrame],
                           k: int = KCENTER_K) -> DataFrame:
    """Greedy k-center (farthest-point) coreset over the embedding
    store (Gonzalez 1985, Theor. Comput. Sci. 38 — the 2-approximation
    for the k-center cover, and the selection rule behind coreset
    active learning, Sener & Savarese ICLR 2018): start from the
    lowest vec_id, then repeatedly take the point FARTHEST (cosine
    distance, 1 − cos) from everything selected so far. Each selected
    row reports `sel_dist` — its min-distance at selection time,
    which IS the coverage radius of the preceding center set, so the
    output doubles as the k-center coverage curve a curation pipeline
    reads to pick its coreset size.

    Serving shape (the kmeans literal-centroid hot path, driven to
    completion like the beam/MMR family): each of the k−1 steps is
    ONE distributed corpus scan — per-row min over ≤ k−1 broadcast
    literal centers (in-row `least`, no join) feeding a 1-row
    TakeOrdered argmax; coordinator state is k center vectors, never
    data. Per-(row, center) distances floor-grid to 1e-9 BEFORE the
    min/argmax so the winner (ties → lowest vec_id) is
    engine-identical; the DuckDB twin unrolls the same k stages with
    cross-joined singleton center rows. Returns a LocalRelation (the
    search runs at construction time — see the docs/SHUFFLES.md
    caveat)."""
    # retained: the k−1 argmax scans and the seed lookup all re-read
    # this frame — uncached, every rank re-paid the parquet scan plus
    # the spread() exchange (measured: the dominant cost of the query,
    # k−1 scan+shuffle round-trips for a store that never changes
    # between ranks). Bounded: the projected store, released at the
    # next query build.
    e = retain(spread(t["embeddings"])
               .select("vec_id", "label", "embedding"))
    grid = lambda c: F.floor(c * 1e9 + F.lit(0.5)) / 1e9  # noqa: E731
    first = (e.orderBy(F.asc("vec_id")).limit(1)
             .select("vec_id", "label", "embedding").collect()[0])
    out = [(1, first["vec_id"], first["label"], None)]
    centers = [first["embedding"]]
    # already-selected ids are anti-filtered from every argmax scan:
    # without it, a duplicate-saturated store (max dmin = 0) would
    # re-select an existing center via the lowest-vec_id tie-break
    # and emit the same vec_id at multiple ranks.  A store smaller
    # than k simply stops early (the filtered scan comes back empty).
    selected = [first["vec_id"]]
    for rank in range(2, k + 1):
        lits = [F.array(*[F.lit(float(x)) for x in c]) for c in centers]
        dmin = F.least(*[grid(F.lit(1.0) - cosine(F.col("embedding"), c))
                         for c in lits]) if len(lits) > 1 else \
            grid(F.lit(1.0) - cosine(F.col("embedding"), lits[0]))
        hit = (e.filter(~F.col("vec_id").isin(selected))
               .select("vec_id", "label", "embedding",
                       dmin.alias("dmin"))
               .orderBy(F.desc("dmin"), F.asc("vec_id"))
               .limit(1).collect())
        if not hit:
            break
        sel = hit[0]
        out.append((rank, sel["vec_id"], sel["label"], sel["dmin"]))
        centers.append(sel["embedding"])
        selected.append(sel["vec_id"])
    return e.sparkSession.createDataFrame(
        out, "rank int, vec_id long, label int, sel_dist double")
