"""Deduplication suite over the documents table (SURVEY.md §2.E).

Scale design: every technique avoids the O(n²) all-pairs comparison —
exact dedup is one hash aggregate; MinHash/LSH compares only within
band buckets (shuffle keyed on (band, signature-slice), bounded
fan-out); n-gram Jaccard prefix-filters candidates (PPJoin). All
hashing is md5 (JVM codegen, engine-portable lowercase hex) so the
DuckDB oracles reproduce signatures bit-for-bit.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions import pin, spread
from ..functions.bands import Keys, band_pairs
from ..functions.cache import retain
from .text import tokens

N_HASHES = 16          # minhash permutations
BANDS = 4              # LSH bands × 4 rows each
SHINGLE = 3            # token shingle width


def _text_hash() -> Column:
    return F.md5(F.col("text").cast("binary"))


def exact_dedup(t: dict[str, DataFrame]) -> DataFrame:
    """Exact duplicate clusters: md5(text) → canonical (min) doc_id.
    One hash aggregate; at 100 TB this shuffles only (hash, id)."""
    return (
        t["documents"]
        .select(_text_hash().alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("canonical_doc_id"),
             F.count(F.lit(1)).alias("n_copies"))
    )


def exact_dedup_stats(t: dict[str, DataFrame]) -> DataFrame:
    """Duplicate-cluster size histogram (n_copies → how many clusters)."""
    return (exact_dedup(t)
            .groupBy("n_copies")
            .agg(F.count(F.lit(1)).alias("n_clusters")))


def _shingles(toks: Column) -> Column:
    """Overlapping token 3-gram shingles (0-based Spark array
    indexing); caller must pre-filter to size ≥ SHINGLE."""
    return F.expr(
        "transform(sequence(0, size(toks) - 3), "
        "i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))")


def _with_shingles(t: dict[str, DataFrame]) -> DataFrame:
    # Filter on token count BEFORE building shingles: a post-hoc
    # size(shingles) > 0 filter gets pushed beneath the projections and
    # re-inlines the whole tokenize pipeline into every per-element
    # lambda reference (O(tokens²) splits per doc).
    return (spread(t["documents"])
            .select("doc_id", tokens().alias("toks"))
            .where(F.size("toks") >= SHINGLE)
            .select("doc_id", _shingles(F.col("toks")).alias("shingles")))


MINHASH_P = (1 << 31) - 1   # Mersenne prime hash range


def _minhash_ab(j: int) -> tuple[int, int]:
    """Deterministic affine coefficients for permutation j, derived
    from md5 so they need no RNG state; a ∈ [1, 2^28), b ∈ [0, 2^28)
    keep every intermediate product under 2^56 (exact in a signed
    long in BOTH engines — no 128-bit widening to diverge on)."""
    a = int(hashlib.md5(f"minhash-a-{j}".encode()).hexdigest()[:7], 16) or 1
    b = int(hashlib.md5(f"minhash-b-{j}".encode()).hexdigest()[:7], 16)
    return a, b


MINHASH_AB = tuple(_minhash_ab(j) for j in range(N_HASHES))


def minhash_signatures(t: dict[str, DataFrame]) -> DataFrame:
    """k=16 MinHash signature per doc via universal hashing: one md5
    per DISTINCT shingle yields a 28-bit key x (first 7 hex chars),
    then h_j = min over shingles of (a_j·x + b_j) mod 2^31−1.

    The seeded-md5-per-permutation formulation costs
    16 × occurrences md5 evaluations; this one costs
    |distinct shingles| md5s plus 16 integer affine passes — the
    hashing drops ~16× and the per-row work is whole-stage-codegen
    arithmetic. ``pin`` materializes the x array behind a Generate
    node so the 16 array_min folds share ONE md5 pass instead of
    Catalyst re-inlining the hash transform per permutation. All
    arithmetic is signed-64-exact, so the DuckDB oracle reproduces
    signatures bit-for-bit.
    """
    d = _with_shingles(t)
    # SQL-text expressions (one JVM parse each) rather than Column-op
    # trees: the 16 affine folds cost ~0.5 s of py4j round-trips per
    # plan construction when built operator-by-operator
    xs = F.expr(
        "transform(array_distinct(shingles), "
        "s -> CAST(conv(substring(md5(CAST(s AS BINARY)), 1, 7), "
        "16, 10) AS BIGINT))")
    pinned = pin(d.select("doc_id", "shingles"), xs=xs)

    def sig(j: int) -> str:
        a, b = MINHASH_AB[j]
        return (f"array_min(transform(xs, "
                f"x -> pmod({a} * x + {b}, {MINHASH_P}))) AS h{j}")

    return pinned.selectExpr("doc_id", *[sig(j) for j in range(N_HASHES)])


def minhash_keys(bands: int = BANDS,
                 rows: int = N_HASHES // BANDS) -> Keys:
    """Band keys of the 16-hash signature: band b is the ``|``-joined
    slots h[b·rows, (b+1)·rows). Equal keys ⟺ equal slots (integer
    slots, never NULL past the SHINGLE pre-filter)."""
    def keys(p: str) -> list[Column]:
        return [F.concat_ws("|", *[F.col(f"{p}h{b * rows + r}")
                                   for r in range(rows)])
                for b in range(bands)]
    return keys


def minhash_lsh_pairs(t: dict[str, DataFrame]) -> DataFrame:
    """LSH candidate pairs: docs sharing any full band. The self-join
    shuffles on (band_id, band_val) — bucket-local comparison, never
    all-pairs — and dedupes by first-matching-band instead of a
    distinct over the candidate stream (`functions/bands.py`)."""
    # retained cache: the self-join would otherwise recompute the
    # 16-seed md5 signature pipeline for both sides (2× the dominant
    # cost); released when the next query starts building
    sig = retain(minhash_signatures(t))
    return (band_pairs(sig, "doc_id", minhash_keys())
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b")))


def ngram_jaccard_pairs(t: dict[str, DataFrame],
                        threshold: float = 0.5) -> DataFrame:
    """Exact Jaccard ≥ τ over distinct 3-gram shingle sets, with
    prefix-filtered candidate generation (AllPairs/PPJoin, Bayardo et
    al. WWW'07): order every doc's shingles by global rarity and index
    only the first |s| − ⌈τ·|s|⌉ + 1 of them — two sets with J ≥ τ
    MUST collide inside those prefixes, so the inverted-index
    self-join never materializes the frequent-shingle buckets that
    make the naive join quadratic (a stop-shingle shared by f docs
    costs f² candidate rows; under the filter, hot shingles sort out
    of every prefix). On sf0.1's benign near-uniform shingle
    distribution the filter's extra stages (df count, per-doc rank)
    cost ~40% over the naive join — the price of bounding the
    Zipfian worst case any real corpus has, where the naive join's
    top stop-shingle alone generates more candidates than every
    prefix combined.

    Distribution shape follows Vernica et al. (SIGMOD'10, "Efficient
    Parallel Set-Similarity Joins Using MapReduce"): each prefix row
    carries its doc's full shingle set through the prefix-token
    self-join, Jaccard is verified INLINE, and a pair that collides on
    several prefix shingles is emitted exactly once — at its
    globally-rarest shared prefix shingle (the first-matching-band
    trick of `functions/bands.py`) — so there is no `.distinct()`
    over the candidate stream and no join-back of the shingle arrays
    (the round-3 plan shuffled the candidate stream three more times:
    a pair-key distinct plus two array-payload join-backs). The price
    is the Vernica record-duplication trade: the join shuffle moves
    ~prefix_len copies of each set, bounded by the prefix filter
    itself. Output is identical to the naive join's."""
    # pin the distinct-shingle array behind a Generate BEFORE exploding:
    # otherwise Catalyst inlines the tokenize→shingle→distinct pipeline
    # into the explode and re-evaluates it per OUTPUT ROW (measured
    # 4.4 s vs 0.7 s for the explode alone at sf0.1)
    # retained: the set table feeds BOTH the df-count aggregate and the
    # rarity-ranked re-assembly — one tokenize pass, two cheap readers
    d = retain(pin(_with_shingles(t),
                   sh=F.array_distinct(F.col("shingles")))
               .select("doc_id", "sh"))
    ex = d.select("doc_id", F.explode("sh").alias("shingle"))
    freq = ex.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    # re-assemble each doc's set ordered by global rarity (df, then
    # shingle — a total order, so both join sides agree on it), then
    # keep the first n − ⌈τ·n⌉ + 1 as the indexed prefix
    pre = retain(
        ex.join(freq, "shingle")
        .groupBy("doc_id")
        .agg(F.expr("transform(array_sort(collect_list(struct(df, shingle))), "
                    "p -> p.shingle)").alias("sh"))
        .selectExpr(
            "doc_id", "sh", "size(sh) AS n_sh",
            f"slice(sh, 1, CAST(size(sh) - ceil({threshold} * size(sh)) + 1 "
            f"AS INT)) AS pref"))
    rows = pre.select("doc_id", "n_sh", "sh", "pref",
                      F.explode("pref").alias("shingle"))
    # the exploded prefix rows carry the full set arrays — force the
    # self-join to SHUFFLE on the shingle key instead of broadcasting
    # a side whose array payload is ~prefix_len × the corpus (Catalyst
    # undersizes the cached relation and would pick a broadcast that
    # is pathological at sf0.1 and fatal at scale)
    rows = rows.hint("shuffle_hash")
    a, b = rows.alias("a"), rows.alias("b")
    # array_intersect preserves the first array's order, and pref is
    # sorted by the shared global rarity order → element 1 is the
    # globally-rarest shared prefix shingle on both sides
    first_shared = F.element_at(
        F.array_intersect(F.col("a.pref"), F.col("b.pref")), 1)
    cand = (a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                   & (F.col("a.doc_id") < F.col("b.doc_id"))
                   & (F.col("a.shingle") == first_shared))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                    F.col("a.sh").alias("sh_a"), F.col("b.sh").alias("sh_b"),
                    F.col("a.n_sh").alias("n_a"), F.col("b.n_sh").alias("n_b")))
    # pin the full-set intersect BEHIND a Generate: without it Catalyst
    # pushes the τ-filter (and its O(|A|·|B|) intersect) into the join
    # condition, re-evaluating it per MATCHED ROW instead of once per
    # deduped pair (measured 3× slower at sf0.1)
    pinned = pin(cand, n_common=F.size(F.array_intersect("sh_a", "sh_b"))
                 .cast("long"))
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b")
                               - F.col("n_common"))
    return (pinned.select("doc_a", "doc_b", jac.alias("jaccard"))
            .where(F.col("jaccard") >= threshold))


LANE_BITS = 16                     # counter width per simhash bit
LANES_PER_LONG = 64 // LANE_BITS   # 4 bit-counters packed per long
# Overflow bound: the top lane rides at bit 48, so a signed-long sum
# stays exact only while count < 2^(63-48) = 2^15 — tighter than the
# 2^16 lane width itself. Beyond it either ANSI mode aborts the sum
# (long overflow) or the post-agg guard below raises; silent lane
# bleed is impossible under the 2^15 bound.
MAX_DOC_TOKENS = 1 << (63 - LANE_BITS * (LANES_PER_LONG - 1))


def simhash64(t: dict[str, DataFrame]) -> DataFrame:
    """60-bit SimHash from token md5 nibbles (60 not 64 so the value
    fits a signed bigint identically in both engines).

    Zero-shuffle formulation: each doc's token masks stay as an array
    in the row (no explode), and the 60 per-bit ±1 counters fall out
    of 15 lane-packed HOF folds over that array — the whole operator
    is one embarrassingly-parallel map over documents. The alternative
    token-dictionary design (md5 once per DISTINCT token, join back on
    an exploded occurrence stream) trades less hashing for a
    corpus-wide distinct shuffle plus a join: measured 5× slower at
    sf0.1, and worse at 100 TB where per-row md5 scales linearly with
    the scan while any corpus-wide shuffle is the bottleneck.

    The fold/reconstruction expressions are generated as SQL text and
    parsed JVM-side in one ``expr`` call each: building the same trees
    with Column operators costs ~1.4 s of py4j round-trips per plan
    construction — driver-side latency that would stall a cluster of
    any size. ``pin`` materializes the mask array behind a Generate
    node so the 15 lane folds share ONE tokenize+md5 pass.

    Per-doc bit counting is lane-packed: the 60 per-bit occurrence
    counters ride in 15 longs of four 16-bit lanes each. Lanes bound
    per-doc token count at 2^15 (see MAX_DOC_TOKENS); a longer doc
    raises (ANSI overflow or the ``raise_error`` guard) rather than
    silently corrupting adjacent lanes — switch to LANE_BITS=32
    (30 buffers) for such corpora."""
    # conv(first 15 hex chars) puts md5 nibble i at mask bits
    # [4*(14-i), 4*(14-i)+3], so simhash bit j (= bit 3-j%4 of nibble
    # j//4) is mask bit 4*(14 - j//4) + (3 - j%4)
    masks_sql = ("transform(filter(split(text, ' '), x -> x != ''), "
                 "tok -> CAST(conv(substring(md5(CAST(tok AS BINARY)), "
                 "1, 15), 16, 10) AS BIGINT))")
    d = pin(spread(t["documents"]).select("doc_id", "text"),
            masks=F.expr(masks_sql))
    return _simhash_from_masks(d, "simhash", "simhash64")


def _simhash_from_masks(d: DataFrame, out_col: str,
                        guard_name: str) -> DataFrame:
    """Shared 60-bit sign-sum machinery over a pinned ``masks``
    (array<bigint> of 60-bit md5 masks) column: 15 lane-packed HOF
    folds, per-bit majority, overflow guard — see simhash64 for the
    derivation. Returns (doc_id, <out_col>)."""
    def mask_bit(j: int) -> str:
        shift = 4 * (14 - j // 4) + (3 - j % 4)
        return f"(shiftright(m, {shift}) & 1)"

    def lane_fold(g: int) -> str:
        inc = " + ".join(
            f"shiftleft({mask_bit(LANES_PER_LONG * g + k)}, {LANE_BITS * k})"
            for k in range(LANES_PER_LONG))
        return (f"aggregate(masks, CAST(0 AS BIGINT), "
                f"(acc, m) -> acc + ({inc})) AS L{g}")

    n_lanes = 60 // LANES_PER_LONG
    # docs with >=1 token only, matching the exploded formulation (and
    # the oracle's unnest); the filter tests a pinned attribute, so it
    # stays above the Generate instead of re-inlining the hash pass
    summed = (d.where(F.size("masks") > 0)
              .selectExpr("doc_id", "size(masks) AS n",
                          *[lane_fold(g) for g in range(n_lanes)]))

    # s_j = sum(±1) > 0  ⟺  2 * ones_j > n_occurrences
    terms = []
    for g in range(n_lanes):
        for k in range(LANES_PER_LONG):
            j = LANES_PER_LONG * g + k
            cnt = (f"(shiftright(L{g}, {LANE_BITS * k}) "
                   f"& {(1 << LANE_BITS) - 1})")
            terms.append(f"IF(2 * {cnt} > n, "
                         f"CAST({1 << j} AS BIGINT), CAST(0 AS BIGINT))")
    simhash = " + ".join(terms)
    guard_msg = (f"{guard_name}: document exceeds {MAX_DOC_TOKENS - 1} "
                 "tokens; lane counters would overflow — raise "
                 "LANE_BITS")
    guarded = (f"CASE WHEN n < {MAX_DOC_TOKENS} THEN ({simhash}) "
               f"ELSE raise_error('{guard_msg}') END AS {out_col}")
    return summed.selectExpr("doc_id", guarded)


def _truncate_lineage(df: DataFrame) -> DataFrame:
    """Cut a DataFrame's lineage for iterative reuse: RELIABLE
    checkpoint when the session has a checkpoint dir configured
    (cluster mode — survives executor loss), localCheckpoint otherwise
    (local/test mode — executor-storage blocks, fine on one machine).
    Lazy either way; materialized on first action."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=False)
    return df.localCheckpoint(eager=False)


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star step: every node attaches its STRICTLY LARGER
    neighbors to the minimum of its closed neighborhood. Input/output
    edges normalized as (hi, lo), hi > lo.

    No terminal ``distinct()``: output volume is bounded by |sym| =
    2|e| regardless, duplicate (hi, lo) rows change neither
    small-star's per-group min nor its join fan-out semantics, and
    the round's single terminal distinct (small-star's) restores the
    normalized edge SET — so the extra exchange + double
    HashAggregate this used to pay per round bought nothing."""
    sym = e.union(e.select(F.col("lo").alias("hi"),
                           F.col("hi").alias("lo")))
    m = (sym.groupBy(F.col("hi").alias("ctr"))
         .agg(F.min("lo").alias("nbr_min")))
    m = m.select("ctr", F.least("nbr_min", "ctr").alias("m"))
    return (sym.join(m, sym["hi"] == m["ctr"])
            .where(F.col("lo") > F.col("hi"))   # strictly larger nbrs
            .select(F.col("lo").alias("hi"), F.col("m").alias("lo")))


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star step: every node attaches its smaller-or-equal
    neighbors AND itself to the minimum among them. Input/output
    edges normalized as (hi, lo), hi > lo."""
    m = (e.groupBy(F.col("hi").alias("ctr"))
         .agg(F.min("lo").alias("m")))
    kids = (e.join(m, e["hi"] == m["ctr"])
            .select(F.col("lo").alias("hi"), F.col("m").alias("lo")))
    ctrs = m.select(F.col("ctr").alias("hi"), F.col("m").alias("lo"))
    return (kids.union(ctrs)
            .where(F.col("hi") > F.col("lo"))
            .distinct())


def connected_components(edges: DataFrame, nodes: DataFrame,
                         max_iter: int = 30) -> DataFrame:
    """Connected components by ALTERNATING large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the clustering step that turns near-dup PAIRS into
    dedup GROUPS.

    Each round rewires the edge set toward a star forest rooted at
    each component's minimum node: large-star hangs every node's
    larger neighbors off its local minimum (halving long chains),
    small-star flattens the smaller neighbors onto it. Convergence is
    O(log n) ROUNDS REGARDLESS OF DIAMETER — the round-4 min-label
    propagation needed O(diameter) shuffle barriers, which a
    chain-shaped dup cluster at 100 TB turns into dozens; a 1000-node
    path now converges in ~10 rounds (property-tested). Per round:
    two groupBy-min + self-join passes over the edge frame, driver
    sees only a convergence count.

    ``edges``: (src, dst) undirected; ``nodes``: (node) all vertices.
    Returns (node, component) with component = min node id reachable.

    Every round's edge frame is lineage-truncated (localCheckpoint /
    reliable checkpoint when a dir is configured): the iteration
    re-embeds the previous round's PLAN otherwise, and an expensive
    pair-generation lineage (the embedding-LSH tree behind
    semantic_dedup_components) would multiply by the round count and
    blow up Catalyst long before data size matters."""
    e = _truncate_lineage(
        edges.selectExpr("greatest(src, dst) AS hi",
                         "least(src, dst) AS lo")
        .where(F.col("hi") > F.col("lo"))
        .distinct())
    n_e: int | None = None   # |e|, carried across rounds: the input
    # frame was counted when IT was the round output, so re-counting
    # it every round was one redundant job per round
    for _ in range(max_iter):
        # the large-star output feeds BOTH small-star branches (the
        # per-center min aggregate and the kid join-back); uncached,
        # Catalyst inlines the whole large-star subtree twice and the
        # round pays its shuffles double (11 exchanges / 4 SMJ per
        # round measured; ~6 / 2 with the cache). Bounded: <= 2|e|
        # rows, released right after the round materializes.
        ls = _large_star(e).persist(StorageLevel.MEMORY_AND_DISK_DESER)
        new = _truncate_lineage(_small_star(ls))
        # fixed point iff the normalized edge SET is unchanged: both
        # frames are distinct, so equal counts + empty difference
        # decide it. The count and the difference probe ride ONE
        # job/aggregate (a left join with a membership marker) instead
        # of a count action plus a separate anti-join action — one
        # scheduler round-trip per round, and the join doubles as the
        # checkpoint materialization of ``new``.
        if n_e is None:
            n_e = e.count()
        probe = (new.join(e.withColumn("_old", F.lit(1)),
                          ["hi", "lo"], "left")
                 .agg(F.count(F.lit(1)).alias("n"),
                      F.count(F.when(F.col("_old").isNull(), 1))
                      .alias("fresh"))
                 .collect()[0])
        n_new = int(probe["n"])
        changed = n_new != n_e or int(probe["fresh"]) > 0
        ls.unpersist()
        n_e = n_new
        e = new
        if not changed:
            roots = e.groupBy(F.col("hi").alias("node")) \
                     .agg(F.min("lo").alias("root"))
            return (nodes.join(roots, "node", "left")
                    .select("node", F.coalesce("root", "node")
                            .alias("component")))
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} "
        f"alternating rounds; raise max_iter")


def dedup_components(t: dict[str, DataFrame]) -> DataFrame:
    """Near-dup cluster assignment: LSH candidate pairs → connected
    components → (doc_id, component). Docs with no near-dups are their
    own singleton component."""
    pairs = minhash_lsh_pairs(t)
    edges = pairs.selectExpr("doc_a AS src", "doc_b AS dst")
    nodes = t["documents"].select(F.col("doc_id").alias("node")).distinct()
    cc = connected_components(edges, nodes)
    return cc.select(F.col("node").alias("doc_id"), "component")


def dedup_ngram_coverage(t: dict[str, DataFrame]) -> DataFrame:
    """Per-document duplicate n-gram coverage: the fraction of a doc's
    distinct 3-gram shingles that also appear in at least one other
    document — the near-verbatim-memorization risk metric used when
    curating training corpora (span-level dedup à la suffix-array
    dedup, approximated at shingle granularity).

    Shape: one explode, one shingle-frequency aggregate (map-side
    combined), one join back keyed on the shingle, one per-doc
    aggregate — never all-pairs."""
    d = (_with_shingles(t)
         .select("doc_id",
                 F.explode(F.array_distinct("shingles")).alias("shingle")))
    sdf = d.groupBy("shingle").agg(F.count(F.lit(1)).alias("sdf"))
    return (d.join(sdf, "shingle")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_shingles"),
                 F.sum(F.when(F.col("sdf") > 1, 1).otherwise(0))
                 .alias("n_shared"))
            .select("doc_id", "n_shingles", "n_shared",
                    (F.col("n_shared") / F.col("n_shingles"))
                    .alias("dup_coverage")))


SIMHASH_BANDS = 4          # 15-bit bands over the 60-bit simhash
SIMHASH_MAX_DIST = 3       # pigeonhole: d ≤ bands-1 ⇒ ≥1 band equal


def simhash_hamming_pairs(t: dict[str, DataFrame],
                          max_dist: int = SIMHASH_MAX_DIST) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance ≤ ``max_dist``,
    found with banded bucketing instead of all-pairs: the 60-bit hash
    splits into 4 disjoint 15-bit bands, and any two hashes within
    Hamming distance 3 must agree on at least one whole band
    (pigeonhole), so the band-bucket self-join has perfect recall while
    only comparing within buckets. The exact distance then filters the
    candidates with one codegen'd ``bit_count(xor)``.

    One simhash computation (persisted — both self-join sides read
    it), a self-join shuffled on (band_id, band_val), no O(n²) stage.
    """
    return simhash_pairs(retain(simhash64(t)), "simhash", max_dist)


def simhash_pairs(sh: DataFrame, col: str, max_dist: int) -> DataFrame:
    """(doc_a, doc_b, hamming ≤ ``max_dist``) over the 60-bit hash in
    ``sh.<col>``: SIMHASH_BANDS disjoint 15-bit band keys through the
    banded pair join, then one codegen'd ``bit_count(xor)`` verify."""
    width = 60 // SIMHASH_BANDS
    mask = (1 << width) - 1

    def keys(p: str) -> list[Column]:
        return [F.shiftright(F.col(p + col), width * b)
                .bitwiseAND(F.lit(mask)) for b in range(SIMHASH_BANDS)]

    return (band_pairs(sh, "doc_id", keys)
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                    F.bit_count(F.col(f"a.{col}").bitwiseXOR(
                        F.col(f"b.{col}"))).alias("hamming"))
            .where(F.col("hamming") <= max_dist))


def minhash_jaccard_estimate(t: dict[str, DataFrame]) -> DataFrame:
    """Estimated Jaccard similarity for the LSH candidate pairs: the
    fraction of the 16 MinHash slots on which the two docs agree — the
    cheap similarity score used to rank/threshold candidates before
    (or instead of) exact shingle-set verification.

    The signature table is computed once (persisted) and the banded
    self-join carries both signatures, so slot agreement — a flat
    16-term integer sum (codegen, no arrays) — is computed inline on
    the matched row: no distinct over the candidate stream, no
    signature join-backs."""
    sig = retain(minhash_signatures(t))
    n_agree = None
    for j in range(N_HASHES):
        term = F.when(F.col(f"a.h{j}") == F.col(f"b.h{j}"), 1).otherwise(0)
        n_agree = term if n_agree is None else n_agree + term
    return (band_pairs(sig, "doc_id", minhash_keys())
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                    n_agree.cast("int").alias("n_agree"))
            .withColumn("jaccard_est", F.col("n_agree") / F.lit(N_HASHES)))


def incremental_dedup(t: dict[str, DataFrame]) -> DataFrame:
    """New-batch dedup against the existing corpus snapshot — the
    shape every periodic ingest runs: hash the incoming batch, probe
    the snapshot's hash set, keep only unseen content. Here the
    snapshot is the deterministic 80% of doc_ids (pmod(doc_id,5)<>0)
    standing in for yesterday's table; in production both sides are
    real tables and the probe is ONE shuffle join on the 16-byte hash
    (broadcast when the daily batch is small, never all-pairs)."""
    hashed = t["documents"].select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("text_hash"))
    snapshot = (hashed.where(F.pmod("doc_id", F.lit(5)) != 0)
                .select("text_hash").distinct())
    batch = hashed.where(F.pmod("doc_id", F.lit(5)) == 0)
    seen = (batch.join(snapshot, "text_hash", "left_semi")
            .select("doc_id", F.lit(1).alias("is_dup")))
    fresh = (batch.join(snapshot, "text_hash", "left_anti")
             .select("doc_id", F.lit(0).alias("is_dup")))
    return seen.unionAll(fresh).select(
        "doc_id", F.col("is_dup").cast("int").alias("is_dup"))


def doc_dup_rate_by_source(t: dict[str, DataFrame]) -> DataFrame:
    """Per-source duplicate rate — the curation-dashboard metric that
    decides which ingestion feeds need upstream dedup. One shuffle on
    the content hash (window min = canonical copy), then a tiny
    per-source aggregate."""
    from pyspark.sql import Window

    hashed = t["documents"].select(
        "doc_id", "source", _text_hash().alias("text_hash"))
    w = Window.partitionBy("text_hash")
    flagged = hashed.select(
        "source",
        (F.col("doc_id") > F.min("doc_id").over(w)).cast("int")
        .alias("is_dup"))
    return (flagged.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("is_dup").alias("n_dups"),
                 (F.sum("is_dup") / F.count(F.lit(1))).alias("dup_rate")))


def semantic_dedup_pairs(t: dict[str, DataFrame],
                         threshold: float = 0.3) -> DataFrame:
    """Semantic (embedding-space) dedup: banded sign-LSH near-dup
    candidate pairs (similarity.embedding_near_dup_pairs) joined back
    to the documents' exact content hashes. Pairs with same_text = 0
    are the ones ONLY embedding dedup can find — paraphrases and
    re-renderings that exact/MinHash dedup misses — which is why a
    curation pipeline runs semantic dedup as its last dedup stage.

    Scale shape: the pair stream joins a (doc_id, 16-byte md5) lookup
    per side — id-keyed joins with fixed-width payload, nothing like
    the array join-backs this repo avoids elsewhere; the LSH stage
    itself stays bucket-local (never all-pairs)."""
    from .similarity import embedding_near_dup_pairs

    pairs = embedding_near_dup_pairs(t, threshold)
    hashes = t["documents"].select("doc_id", _text_hash().alias("h"))
    ha = hashes.select(F.col("doc_id").alias("vec_a"),
                       F.col("h").alias("ha"))
    hb = hashes.select(F.col("doc_id").alias("vec_b"),
                       F.col("h").alias("hb"))
    return (pairs.join(ha, "vec_a").join(hb, "vec_b")
            .select(F.col("vec_a").alias("doc_a"),
                    F.col("vec_b").alias("doc_b"), "cos_sim",
                    (F.col("ha") == F.col("hb")).cast("int")
                    .alias("same_text")))


def semantic_dedup_components(t: dict[str, DataFrame]) -> DataFrame:
    """Semantic near-dup CLUSTERS: connected components over the
    embedding near-dup pair graph — the cluster-collapse step after
    pair generation (keep one doc per semantic cluster). Same
    distributed min-label propagation as dedup_components; only the
    edge source differs (cosine-LSH pairs instead of MinHash pairs),
    which is the point — the CC machinery is operator-agnostic."""
    from .similarity import embedding_near_dup_pairs

    pairs = embedding_near_dup_pairs(t)
    edges = pairs.selectExpr("vec_a AS src", "vec_b AS dst")
    nodes = t["documents"].select(F.col("doc_id").alias("node")).distinct()
    cc = connected_components(edges, nodes)
    return cc.select(F.col("node").alias("doc_id"), "component")


# -- round-4: Bloom-filter prefiltered incremental dedup ---------------

BLOOM_BITS = 1 << 16          # m: 64 Kbit filter = 1024 longs = 8 KB
BLOOM_WORDS = BLOOM_BITS // 64
BLOOM_K = 4                   # hash functions


def _bloom_pos(col: Column, j: int) -> Column:
    """Bit position j for a content hash: md5-derived 32-bit int mod m
    (deterministic, engine-portable — the same 4 positions on Spark
    and the DuckDB oracle)."""
    return (F.conv(F.substring(
        F.md5(F.concat(F.lit(f"bl{j}|"), col).cast("binary")), 1, 8),
        16, 10).cast("long") % BLOOM_BITS)


def bloom_bitmap(hashes: DataFrame) -> DataFrame:
    """Fold a `text_hash` column into the dense long[BLOOM_WORDS]
    Bloom bit array — ONE aggregation whose output is the constant
    m/8 bytes regardless of input size. Returns a single-row frame
    with column `bitmap` (crossJoin-broadcast it, or collect the 8 KB
    once for a streaming literal)."""
    pos = hashes.select(F.explode(F.array(
        *[_bloom_pos(F.col("text_hash"), j)
          for j in range(BLOOM_K)])).alias("pos"))
    words = (pos.groupBy((F.col("pos") / 64).cast("long").alias("w"))
             .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), "
                         "CAST(pos % 64 AS INT)))").alias("bits")))
    word_map = words.agg(F.map_from_entries(
        F.collect_list(F.struct("w", "bits"))).alias("wm"))
    return word_map.select(F.expr(
        f"transform(sequence(0, {BLOOM_WORDS - 1}), "
        "i -> coalesce(wm[CAST(i AS BIGINT)], CAST(0 AS BIGINT)))")
        .alias("bitmap"))


def bloom_hit_sql(col: str = "text_hash") -> str:
    """SQL predicate testing a row's ``col`` hash column against the
    `bitmap` column: all BLOOM_K bits set."""
    def pos_sql(j: int) -> str:
        return (f"(CAST(conv(substring(md5(CAST(concat('bl{j}|', "
                f"{col}) AS BINARY)), 1, 8), 16, 10) AS BIGINT) "
                f"% {BLOOM_BITS})")
    return " AND ".join(
        f"((element_at(bitmap, CAST({pos_sql(j)} DIV 64 AS INT) + 1) "
        f">> CAST({pos_sql(j)} % 64 AS INT)) & 1) = 1"
        for j in range(BLOOM_K))


def bloom_prefilter_dedup(t: dict[str, DataFrame]) -> DataFrame:
    """Incremental dedup with a Bloom prefilter — the 100 TB variant
    of `incremental_dedup`: the snapshot's content-hash set is folded
    into a fixed 8 KB bit array, BROADCAST to every probe task, and the
    incoming batch tests 4 bits per doc in-row. Only the Bloom
    POSITIVES (true dups + the small false-positive tail) reach the
    exact semi-join; Bloom negatives are guaranteed-fresh without
    shuffling a byte — so the join input shrinks from |batch| to
    ~|dups|, and the filter build is one aggregation whose result size
    is the CONSTANT m/8 bytes regardless of snapshot size.

    No false negatives by construction (every snapshot member set its
    4 bits), which the output makes checkable: is_dup=1 ⇒ bloom_hit=1.
    Emits every batch doc with (bloom_hit, is_dup).

    Build shape: snapshot hashes → 4 positions each → groupBy(word)
    bit_or partial-aggregates map-side, ≤1024 rows out — then one row:
    the dense long[1024] bitmap (missing words zero-filled). The probe
    crossJoins that singleton (broadcast nested loop over ONE row,
    the pinned BNLJ pattern)."""
    hashed = t["documents"].select(
        "doc_id", _text_hash().alias("text_hash"))
    snapshot = (hashed.where(F.pmod("doc_id", F.lit(5)) != 0)
                .select("text_hash").distinct())
    batch = hashed.where(F.pmod("doc_id", F.lit(5)) == 0)

    bitmap = bloom_bitmap(snapshot)

    # SQL-text bit tests: shiftright's Python API takes only literal
    # shift counts; the SQL form takes expressions
    hit_sql = " AND ".join(
        f"((element_at(bitmap, CAST(p{j} DIV 64 AS INT) + 1) "
        f">> CAST(p{j} % 64 AS INT)) & 1) = 1"
        for j in range(BLOOM_K))
    probed = (batch.crossJoin(F.broadcast(bitmap))
              .select("doc_id", "text_hash", "bitmap",
                      *[_bloom_pos(F.col("text_hash"), j).alias(f"p{j}")
                        for j in range(BLOOM_K)])
              .select("doc_id", "text_hash",
                      F.expr(hit_sql).cast("int").alias("bloom_hit")))
    positives = probed.where(F.col("bloom_hit") == 1)
    dups = (positives.join(snapshot, "text_hash", "left_semi")
            .select("doc_id", F.lit(1).alias("dup")))
    return (probed.join(dups, "doc_id", "left")
            .select("doc_id", "bloom_hit",
                    F.coalesce(F.col("dup"), F.lit(0)).cast("int")
                    .alias("is_dup")))


def dedup_keep_best(t: dict[str, DataFrame]) -> DataFrame:
    """Quality-aware canonical selection: within each near-dup cluster
    (the LSH connected components), keep the HIGHEST-quality copy
    instead of an arbitrary min-id — the curation policy that
    preserves the cleanest duplicate of boilerplate-mangled web text.
    Composes three suite pieces (components ⋈ quality score → per-
    cluster argmax); the quality ordering is engine-exact because
    doc_quality_score is bit-portable, and ties break on doc_id.

    Scale: one id-keyed join + one window on the component key; the
    iterative CC cost is shared machinery, everything after it is
    cluster-count-sized."""
    return _keep_best(dedup_components(t), t)


def _keep_best(comp: DataFrame, t: dict[str, DataFrame]) -> DataFrame:
    """THE canonical-selection policy (highest doc_quality_score,
    doc_id tie-break) over any (doc_id, component) frame — shared by
    the MinHash and semantic paths so the policy cannot diverge."""
    from pyspark.sql import Window

    from .text import doc_quality_score

    q = doc_quality_score(t).select("doc_id", "quality_score")
    j = comp.join(q, "doc_id")
    wp = Window.partitionBy("component")
    wo = wp.orderBy(F.desc("quality_score"), F.asc("doc_id"))
    return (j.select("component", "doc_id", "quality_score",
                     F.row_number().over(wo).alias("rn"),
                     F.count(F.lit(1)).over(wp).alias("n_members"))
            .where(F.col("rn") == 1)
            .select("component", F.col("doc_id").alias("best_doc_id"),
                    F.col("quality_score").alias("best_quality"),
                    "n_members"))


MIN_OVERLAP = 8


def shingle_overlap_pairs(t: dict[str, DataFrame],
                          min_overlap: int = MIN_OVERLAP) -> DataFrame:
    """Absolute shingle-overlap pair join (|A∩B| ≥ K) with derived
    containment scores — the quote/subset detector Jaccard misses: a
    short doc fully contained in a long one has HIGH containment but
    LOW Jaccard, so the τ-Jaccard prefix filter never surfaces it.
    The absolute-overlap prefix bound is exact (SSJoin): under a
    common total order, two sets sharing ≥ K elements must each carry
    a shared element within their first n − K + 1 — so docs with
    n < K index nothing and the inverted-index self-join stays
    prefix-bounded, never quadratic.

    Same Vernica single-pass shape as ngram_jaccard_pairs: prefix rows
    carry the full set, the overlap verifies inline, and each pair is
    emitted exactly once at its rarest shared-prefix shingle. Output:
    (doc_a, doc_b, n_common, containment_a, containment_b) where
    containment_x = |A∩B| / |x's set|."""
    # hash shingles to 60-bit longs BEFORE anything ships: overlap
    # prefixes are nearly whole sets, so the join moves ~n copies of
    # each set — 8-byte lanes instead of ~40-byte strings is the
    # difference between a 4.8 GB and a ~1 GB sort at 10x corpus.
    # Both engines hash identically, so parity is exact; the counted
    # sets are the hashed sets (collisions ~n²/2^60, and BOTH engines
    # see the same ones).
    d = retain(pin(_with_shingles(t), sh=F.expr(
        "array_distinct(transform(shingles, "
        "s -> CAST(conv(substring(md5(CAST(s AS BINARY)), 1, 15), "
        "16, 10) AS BIGINT)))"))
        .select("doc_id", "sh"))
    ex = d.select("doc_id", F.explode("sh").alias("shingle"))
    freq = ex.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    pre = retain(
        ex.join(freq, "shingle")
        .groupBy("doc_id")
        .agg(F.expr("transform(array_sort(collect_list(struct(df, shingle))), "
                    "p -> p.shingle)").alias("sh"))
        .selectExpr(
            "doc_id", "sh", "size(sh) AS n_sh",
            f"slice(sh, 1, GREATEST(size(sh) - {min_overlap} + 1, 0)) "
            "AS pref"))
    # merge (sort) join, NOT shuffle_hash: overlap prefixes are nearly
    # the whole set (n - K + 1), so each task's build side would be
    # ~n copies of every n-element array — the hash map OOMs at 10x
    # corpus (caught by tools/scale_smoke.py). A sort-merge join
    # SPILLS its sorted runs instead of holding a hash map.
    rows = (pre.select("doc_id", "n_sh", "sh", "pref",
                       F.explode("pref").alias("shingle"))
            .hint("merge"))
    a, b = rows.alias("a"), rows.alias("b")
    first_shared = F.element_at(
        F.array_intersect(F.col("a.pref"), F.col("b.pref")), 1)
    cand = (a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                   & (F.col("a.doc_id") < F.col("b.doc_id"))
                   & (F.col("a.shingle") == first_shared))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                    F.col("a.sh").alias("sh_a"), F.col("b.sh").alias("sh_b"),
                    F.col("a.n_sh").alias("n_a"), F.col("b.n_sh").alias("n_b")))
    pinned = pin(cand, n_common=F.size(F.array_intersect("sh_a", "sh_b"))
                 .cast("long"))
    return (pinned
            .where(F.col("n_common") >= min_overlap)
            .select("doc_a", "doc_b", "n_common",
                    (F.col("n_common") / F.col("n_a"))
                    .alias("containment_a"),
                    (F.col("n_common") / F.col("n_b"))
                    .alias("containment_b")))


def semantic_dup_lang_matrix(t: dict[str, DataFrame],
                             threshold: float = 0.3) -> DataFrame:
    """Cross-language semantic-duplication matrix: the embedding
    near-dup pairs bucketed by unordered language pair — off-diagonal
    cells are translations/paraphrases ACROSS languages, the
    duplication no text-hash or shingle method can see, and the
    signal that decides whether multilingual corpora need
    cross-lingual dedup before training.

    Scale shape: the pair stream (bucket-local LSH, never all-pairs)
    joins a (doc_id, lang) lookup per side — id-keyed fixed-width
    joins — then one tiny aggregate on the ≤|langs|² key space."""
    from .similarity import embedding_near_dup_pairs

    pairs = embedding_near_dup_pairs(t, threshold)
    langs = t["documents"].select("doc_id", "lang")
    la = langs.select(F.col("doc_id").alias("vec_a"),
                      F.col("lang").alias("lang_a"))
    lb = langs.select(F.col("doc_id").alias("vec_b"),
                      F.col("lang").alias("lang_b"))
    return (pairs.join(la, "vec_a").join(lb, "vec_b")
            .select(F.least("lang_a", "lang_b").alias("lang_lo"),
                    F.greatest("lang_a", "lang_b").alias("lang_hi"))
            .groupBy("lang_lo", "lang_hi")
            .agg(F.count(F.lit(1)).alias("n_pairs")))


def minhash_pair_precision(t: dict[str, DataFrame],
                           threshold: float = 0.5) -> DataFrame:
    """Precision of the MinHash-LSH candidate pairs against exact
    3-gram Jaccard ≥ τ — the companion to the recall harnesses
    (`knn_lsh_recall`, `near_dup_recall`): recall says what the index
    misses, precision says how much verify work the candidate stream
    wastes, and together they justify a band configuration before it
    ships.

    The shingle-set join-back runs over the CANDIDATE stream only
    (LSH output, bucket-bounded) — the eval-harness context where an
    array-payload join is the right tool; the corpus itself is never
    pair-joined. The τ test is exact integer arithmetic
    (2·|A∩B| ≥ |A∪B| for τ = ½), so the flag is engine-exact and the
    only float is the final precision division."""
    pairs = minhash_lsh_pairs(t)
    sets_ = retain(pin(_with_shingles(t),
                       sh=F.array_distinct(F.col("shingles")))
                   .select("doc_id", "sh"))
    a = sets_.select(F.col("doc_id").alias("doc_a"),
                     F.col("sh").alias("sh_a"))
    b = sets_.select(F.col("doc_id").alias("doc_b"),
                     F.col("sh").alias("sh_b"))
    j = pairs.join(a, "doc_a").join(b, "doc_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    true_pair = (inter * 2 >= union).cast("long")
    return (j.select(true_pair.alias("tp"))
            .agg(F.count(F.lit(1)).alias("n_candidates"),
                 F.sum("tp").alias("n_true"))
            .select("n_candidates", "n_true",
                    (F.col("n_true") / F.col("n_candidates"))
                    .alias("precision")))


DUP_SPAN_W = 16


def _all_docs_tokenized(t: dict[str, DataFrame]) -> DataFrame:
    """(doc_id, toks, n) for every document, token array pin()ned so
    the split runs once per doc however many downstream references."""
    return (pin(spread(t["documents"].select("doc_id", "text")),
                toks=tokens())
            .select("doc_id", "toks", F.size("toks").alias("n")))


def _dup_spans(t: dict[str, DataFrame]) -> DataFrame:
    """Maximal duplicated spans per doc: (doc_id, n, island, mn, mx,
    nw) where [mn, mx + W − 1] is a merged run of ≥2×-occurring
    W-token windows. Shared by dup_span_stats (report) and
    dup_span_removal (transform)."""
    w = DUP_SPAN_W
    d = _all_docs_tokenized(t).where(F.col("n") >= w)
    wh = d.select(
        "doc_id", "n",
        F.explode(F.expr(
            f"transform(sequence(1, n - {w} + 1), "
            f"p -> struct(p AS p, md5(array_join(slice(toks, p, {w}), "
            f"' ')) AS h))")).alias("ph"))
    wh = wh.select("doc_id", "n", F.col("ph.p").alias("p"),
                   F.col("ph.h").alias("h"))
    dup = (wh.withColumn("c", F.count(F.lit(1))
                         .over(Window.partitionBy("h")))
           .where(F.col("c") >= 2))
    prev_max = (Window.partitionBy("doc_id").orderBy("p")
                .rowsBetween(Window.unboundedPreceding, -1))
    isl = dup.select(
        "doc_id", "n", "p",
        F.when(F.col("p") > F.coalesce(F.max("p").over(prev_max),
                                       F.lit(-w)) + w, 1)
        .otherwise(0).alias("ni"))
    run = (Window.partitionBy("doc_id").orderBy("p")
           .rowsBetween(Window.unboundedPreceding, 0))
    isl = isl.withColumn("island", F.sum("ni").over(run))
    return (isl.groupBy("doc_id", "n", "island")
            .agg(F.min("p").alias("mn"), F.max("p").alias("mx"),
                 F.count(F.lit(1)).alias("nw")))


def dup_span_stats(t: dict[str, DataFrame]) -> DataFrame:
    """Exact duplicate-SPAN detection (the ExactSubstr dedup of
    "Deduplicating Training Data Makes Language Models Better",
    re-expressed relationally): every 16-token window that appears
    ≥2 times corpus-wide marks its positions; per doc, marked windows
    merge into maximal spans (gaps-and-islands) and the output reports
    the duplicated-token fraction — the signal used to cut boilerplate
    and templated text out of a training corpus.

    Scale shape: (1) window hashes are generated per doc with ONE
    higher-order transform over a pin()ned token array (no per-window
    re-tokenize), (2) corpus-wide duplication = count(*) OVER
    (PARTITION BY hash) — one shuffle on the 16-byte hash, no join-
    back, (3) span merging is two windows over (doc_id, position) —
    one more shuffle bounded per doc. Everything is exact integer
    arithmetic except the final fraction division; no pair
    enumeration anywhere (a window duplicated k times costs k rows,
    never k² pairs)."""
    spans = _dup_spans(t)
    w = DUP_SPAN_W
    return (spans.groupBy("doc_id", "n")
            .agg(F.sum(F.col("mx") + w - F.col("mn"))
                 .alias("n_dup_tokens"),
                 F.sum("nw").alias("n_dup_windows"),
                 F.count(F.lit(1)).alias("n_spans"))
            .select("doc_id", F.col("n").alias("n_tokens"),
                    "n_dup_tokens", "n_dup_windows", "n_spans",
                    (F.col("n_dup_tokens").cast("double")
                     / F.col("n").cast("double")).alias("dup_fraction")))


def doc_novelty_rate(t: dict[str, DataFrame]) -> DataFrame:
    """Per-document novelty: the fraction of a doc's distinct 3-gram
    shingles whose corpus-wide FIRST occurrence (minimum doc_id in
    ingestion order) is this document — the "how much does this doc
    add" signal used to rank late-arriving feeds and to drop
    recombinations of already-seen text that per-pair dedup misses.

    Scale shape: distinct (doc, shingle) pairs from the shared
    shingle pipeline; first-owner = min(doc_id) OVER (PARTITION BY
    shingle) — one shuffle on the shingle hash, no self-join; then
    one groupBy(doc) for the rate. A shingle occurring k times costs
    k rows, never pairs. Shingles ship as md5 longs-equivalent hex
    (16 bytes) rather than raw 3-gram strings — the Vernica-payload
    lesson from the Jaccard op applied here."""
    pairs = (_with_shingles(t)
             .select("doc_id",
                     F.explode(F.array_distinct("shingles")).alias("sh"))
             .select("doc_id", F.md5("sh").alias("h")))
    first = F.min("doc_id").over(Window.partitionBy("h"))
    flagged = pairs.select(
        "doc_id", (F.col("doc_id") == first).cast("int").alias("novel"))
    return (flagged.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_shingles"),
                 F.sum("novel").alias("n_novel"))
            .select("doc_id", "n_shingles", "n_novel",
                    (F.col("n_novel").cast("double")
                     / F.col("n_shingles").cast("double"))
                    .alias("novelty_rate")))


PAGERANK_ITERS = 8
PAGERANK_DAMPING = 0.85


def pagerank_dup_graph(t: dict[str, DataFrame]) -> DataFrame:
    """PageRank over the undirected near-dup similarity graph (LSH
    candidate pairs as edges): centrality identifies the TEMPLATE
    documents — the hubs a whole family of near-duplicates derives
    from — which a curation pipeline keeps as canonical while
    dropping their satellites.

    Iterative power method, 8 fixed iterations, damping 0.85,
    dangling mass redistributed uniformly (ranks always sum to 1).
    Per iteration: one join-aggregate shuffle for the contributions
    plus a broadcast scalar for the dangling mass; ranks stay
    distributed — nothing but the one-row dangling aggregate ever
    leaves the executors, and the lineage is truncated per round
    (the connected-components lesson: the rank frame appears twice
    per iteration, so an un-truncated plan doubles per round).

    Rows-only correctness check (iterative float algorithm — not
    SQL-expressible for the DuckDB oracle); semantics pinned instead
    by tests/test_operator_units.py against a pure-Python power
    iteration."""
    edges = minhash_lsh_pairs(t).selectExpr("doc_a AS src",
                                            "doc_b AS dst")
    sym = _truncate_lineage(
        edges.union(edges.selectExpr("dst AS src", "src AS dst"))
        .distinct())
    nodes = t["documents"].select(F.col("doc_id").alias("node"))
    n = nodes.count()
    outdeg = (sym.groupBy(F.col("src").alias("node"))
              .agg(F.count(F.lit(1)).alias("outdeg")))
    deg = _truncate_lineage(
        nodes.join(outdeg, "node", "left")
        .select("node", F.coalesce("outdeg", F.lit(0)).alias("outdeg")))
    d = PAGERANK_DAMPING
    ranks = deg.select("node", "outdeg",
                       F.lit(1.0 / n).alias("rank"))
    for _ in range(PAGERANK_ITERS):
        dangling = (ranks.where(F.col("outdeg") == 0)
                    .agg(F.coalesce(F.sum("rank"), F.lit(0.0))
                         .alias("dm")))
        contrib = (sym.join(ranks.where(F.col("outdeg") > 0),
                            sym["src"] == ranks["node"])
                   .select(F.col("dst").alias("node"),
                           (F.col("rank") / F.col("outdeg")).alias("c"))
                   .groupBy("node").agg(F.sum("c").alias("contrib")))
        ranks = (deg.join(contrib, "node", "left")
                 .crossJoin(F.broadcast(dangling))
                 .select("node", "outdeg",
                         (F.lit((1.0 - d) / n)
                          + d * (F.coalesce("contrib", F.lit(0.0))
                                 + F.col("dm") / F.lit(float(n))))
                         .alias("rank")))
        ranks = _truncate_lineage(ranks)
    return ranks.select(F.col("node").alias("doc_id"),
                        F.col("outdeg").alias("n_neighbors"),
                        F.col("rank").alias("pagerank"))


EDIT_SKEL_LEN = 64


def edit_distance_pairs(t: dict[str, DataFrame]) -> DataFrame:
    """Fuzzy record linkage: exact Levenshtein distance over the LSH
    candidate pairs — the verify step of a blocked fuzzy join (block
    with MinHash bands, verify with edit distance), the shape entity-
    resolution pipelines use instead of an O(n²) similarity join.

    The distance runs on a lowercased ASCII skeleton prefix
    (64 chars): Spark's levenshtein counts codepoints while DuckDB's
    counts bytes, so the portable contract restricts the measure to
    the byte==codepoint subset — and at 100 TB you'd want the bounded
    prefix anyway (O(len²) DP per pair). Candidates come from the
    banded self-join (never all-pairs); the two doc_id joins that
    fetch the skeletons are plain key joins the planner handles."""
    pairs = minhash_lsh_pairs(t)
    skel = F.substring(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
        1, EDIT_SKEL_LEN)
    docs = t["documents"].select("doc_id", skel.alias("skel"))
    a = docs.select(F.col("doc_id").alias("doc_a"),
                    F.col("skel").alias("skel_a"))
    b = docs.select(F.col("doc_id").alias("doc_b"),
                    F.col("skel").alias("skel_b"))
    j = (pairs.join(a, "doc_a").join(b, "doc_b")
         .select("doc_a", "doc_b",
                 F.levenshtein("skel_a", "skel_b").alias("edit_distance"),
                 F.greatest(F.length("skel_a"), F.length("skel_b"))
                 .alias("max_skel_len")))
    return j.select(
        "doc_a", "doc_b", "edit_distance", "max_skel_len",
        (F.col("edit_distance").cast("double")
         / F.greatest(F.col("max_skel_len"), F.lit(1)).cast("double"))
        .alias("rel_distance"))


def dup_span_removal(t: dict[str, DataFrame]) -> DataFrame:
    """ACT on the duplicate-span signal: emit each document with its
    duplicated spans cut out — the transform half of ExactSubstr
    dedup (dup_span_stats is the report half). Returns per-doc token
    counts before/after and a content hash of the cleaned text, so a
    downstream pipeline can verify or materialize the cut corpus.

    Scale shape: the span list per doc is collected into a bounded
    per-doc array (spans are merged maximal runs — their count is
    ≤ n/W per doc), broadcast nothing; the cut itself is one
    higher-order filter over the pin()ned token array, index-tested
    against the doc's own intervals. One extra groupBy(doc) over the
    span frame beyond the stats plan; docs with no duplicated spans
    pass through via the left join with an empty interval list."""
    w = DUP_SPAN_W
    ivs = (_dup_spans(t)
           .groupBy("doc_id")
           .agg(F.collect_list(
               F.array(F.col("mn"),
                       F.col("mx") + F.lit(w - 1))).alias("ivs")))
    d = _all_docs_tokenized(t)
    joined = (d.join(ivs, "doc_id", "left")
              .select("doc_id", "toks", "n",
                      F.coalesce("ivs", F.expr("array()")).alias("ivs")))
    # Spark HOF lambda index is 0-based → token position = i + 1;
    # intervals are [mn, mx + W - 1] in 1-based token positions
    kept = F.expr(
        "filter(toks, (x, i) -> size(filter(ivs, "
        "iv -> i + 1 >= iv[0] AND i + 1 <= iv[1])) == 0)")
    return (joined
            .select("doc_id", F.col("n").alias("n_tokens"),
                    F.size(kept).alias("n_kept"),
                    F.md5(F.array_join(kept, " ")).alias("cleaned_hash"))
            .withColumn("kept_fraction",
                        F.when(F.col("n_tokens") > 0,
                               F.col("n_kept").cast("double")
                               / F.col("n_tokens").cast("double"))))


def triangle_counts(t: dict[str, DataFrame]) -> DataFrame:
    """Per-node triangle counts over the near-dup graph — the local
    clustering signal that separates tight template families (dense
    triangles) from chains of borderline matches, used to pick which
    dup clusters are safe to collapse aggressively.

    Scale shape: the DEGREE-ORIENTED wedge join (orient every edge
    from the lower (degree, id) endpoint to the higher; every
    triangle then has exactly ONE vertex whose two out-edges span it,
    so each is found once and wedge generation per node is bounded by
    its OUT-degree — the classic arboricity bound that makes triangle
    listing feasible on power-law graphs where a naive wedge join
    explodes on hubs). The closing-edge check is one semi-join
    against the normalized edge set. The output (how many triangles
    touch each node) is orientation-independent, so the DuckDB oracle
    uses the naive ordered 3-join."""
    edges = retain(minhash_lsh_pairs(t)
                   .selectExpr("doc_a AS a", "doc_b AS b"))
    sym, deg = _dup_sym_degrees(edges)
    return _per_node_triangles(edges, sym, deg)


def _dup_sym_degrees(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Symmetrized edge list + per-node degree of the dup graph."""
    sym = (edges.selectExpr("a AS u", "b AS v")
           .union(edges.selectExpr("b AS u", "a AS v")))
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("deg"))
    return sym, deg


def _per_node_triangles(edges: DataFrame, sym: DataFrame,
                        deg: DataFrame) -> DataFrame:
    """Degree-oriented wedge-join triangle listing (see
    triangle_counts docstring for the arboricity argument)."""
    d1 = deg.selectExpr("node AS u", "deg AS deg_u")
    d2 = deg.selectExpr("node AS v", "deg AS deg_v")
    # retained: the wedge self-join reads the oriented edge list on
    # BOTH sides — uncached, the 3-shuffle orientation pipeline runs
    # twice
    oriented = retain(sym.join(d1, "u").join(d2, "v")
                      .where((F.col("deg_u") < F.col("deg_v"))
                             | ((F.col("deg_u") == F.col("deg_v"))
                                & (F.col("u") < F.col("v"))))
                      .select("u", "v"))
    w1 = oriented.selectExpr("u AS c0", "v AS w1")
    w2 = oriented.selectExpr("u AS c0", "v AS w2")
    wedges = w1.join(w2, "c0").where(F.col("w1") < F.col("w2"))
    closing = wedges.join(
        edges,
        (F.least("w1", "w2") == F.col("a"))
        & (F.greatest("w1", "w2") == F.col("b")),
        "leftsemi")
    members = closing.select(
        F.explode(F.array("c0", "w1", "w2")).alias("doc_id"))
    return (members.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_triangles")))


def dup_cluster_stats(t: dict[str, DataFrame]) -> DataFrame:
    """Near-dup CLUSTER-SIZE histogram: how many clusters of each size
    the MinHash-LSH dup graph contains and what share of the corpus
    they hold — the report that decides a dedup pass's payoff (mass
    in big clusters = high dedup win) before running the collapse.
    Composition: connected components → per-component size → size
    histogram; two small aggregates on top of the O(log n)-round CC,
    with the corpus total folded in as a window over the ≤|sizes|-row
    histogram frame (no second corpus scan)."""
    comp = dedup_components(t)
    sizes = (comp.groupBy("component")
             .agg(F.count(F.lit(1)).alias("cluster_size")))
    hist = (sizes.groupBy("cluster_size")
            .agg(F.count(F.lit(1)).alias("n_clusters")))
    wa = Window.partitionBy()
    return (hist
            .select("cluster_size", "n_clusters",
                    (F.col("cluster_size") * F.col("n_clusters"))
                    .alias("n_docs"))
            .select("cluster_size", "n_clusters", "n_docs",
                    (F.col("n_docs").cast("double")
                     / F.sum("n_docs").over(wa).cast("double"))
                    .alias("doc_share")))


TFIDF_DF_MAX = 64        # df prefix-prune: shared-term join skips
                         # shingles in more than this many docs
TFIDF_IDF_GRID = 1000    # idf quantization grid (milli-nats)
TFIDF_COS_MIN = 0.6


def tfidf_cosine_pairs(t: dict[str, DataFrame]) -> DataFrame:
    """Sparse TF-IDF cosine-similarity pairs over shingle vectors —
    the classic IR near-dup detector that, unlike Jaccard, weighs
    RARE shared phrasing above boilerplate.

    Exactness: idf is quantized to an integer milli-nat grid
    (floor(ln(N/df)·1000 + 0.5)), so every weight tf·idf, every dot
    product, and every norm² is a BIGINT — order-independent sums,
    magnitudes ≤ ~5e13 (exact through both engines' double casts);
    only the final cosine (dot / sqrt·sqrt, all-IEEE on identical
    operands) is float.

    Scale: candidate pairs come ONLY from shingles in ≤ TFIDF_DF_MAX
    docs (Σ df² bounded by DF_MAX·Σdf — the standard df-prune that
    keeps a boilerplate shingle from fanning out n²); norms cover the
    FULL vector, so the reported cosine is a lower bound that equals
    the true cosine whenever all shared mass is in rare shingles.
    Shapes: one (doc, shingle) tf aggregate, one df aggregate + join
    back on the same shingle key, a df-pruned self-join, and a
    per-pair sum — no all-pairs stage anywhere."""
    # explode_OUTER on purpose (arrays are non-empty by the size>=3
    # pre-filter): plain explode makes InferFiltersFromGenerate add a
    # size(shingles)>0 filter that pushdown re-inlines below the
    # exchange with every toks[i] substituted by a full re-split —
    # O(tokens²) per doc on the pre-shuffle task (measured 3× the
    # whole query at sf0.1)
    # shingles travel as a 64-bit hashed LANE (xxhash64) from the
    # first aggregate on: every downstream shuffle/join keys on a
    # fixed-width bigint instead of a ~20-byte string — the same
    # hashed-lane design shingle_overlap_pairs documents (collision
    # odds ~|shingles|²/2⁶⁴, deterministic, far below any other
    # error source at 100 TB)
    tf = retain(
        _with_shingles(t)
        .select("doc_id", F.explode_outer("shingles").alias("sh"))
        .groupBy("doc_id", F.xxhash64("sh").alias("sh64"))
        .agg(F.count(F.lit(1)).alias("tf")))
    n_docs = tf.select(F.count_distinct("doc_id").alias("nd"))
    df_ = tf.groupBy("sh64").agg(F.count(F.lit(1)).alias("df"))
    w = retain(
        tf.join(df_, "sh64")
        .crossJoin(F.broadcast(n_docs))
        .select("doc_id", "sh64", "df",
                (F.col("tf") * F.floor(
                    F.log(F.col("nd") / F.col("df").cast("double"))
                    * TFIDF_IDF_GRID + 0.5).cast("bigint")).alias("w")))
    norms = w.groupBy("doc_id").agg(
        F.sum(F.col("w") * F.col("w")).alias("n2"))
    idx = w.where(F.col("df") <= TFIDF_DF_MAX)
    a, b = idx.alias("a"), idx.alias("b")
    dots = (a.join(b, (F.col("a.sh64") == F.col("b.sh64"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"))
            .agg(F.sum(F.col("a.w") * F.col("b.w")).alias("dot")))
    na = norms.select(F.col("doc_id").alias("doc_a"),
                      F.col("n2").alias("na2"))
    nb = norms.select(F.col("doc_id").alias("doc_b"),
                      F.col("n2").alias("nb2"))
    cos = (F.col("dot").cast("double")
           / (F.sqrt(F.col("na2").cast("double"))
              * F.sqrt(F.col("nb2").cast("double"))))
    return (dots.join(na, "doc_a").join(nb, "doc_b")
            .select("doc_a", "doc_b", "dot", cos.alias("cosine"))
            .where(F.col("cosine") >= TFIDF_COS_MIN))


def cross_source_dup_matrix(t: dict[str, DataFrame]) -> DataFrame:
    """Cross-feed duplication matrix: MinHash-LSH near-dup pairs
    bucketed by unordered source pair — the report that tells a
    curation team WHICH feeds mirror each other (off-diagonal mass =
    syndicated/scraped copies crossing sources), and so which feed
    pairs need joint dedup before mixing. Same scale shape as
    `semantic_dup_lang_matrix`: bucket-local LSH pair stream,
    id-keyed source lookups per side, final rollup on the ≤|sources|²
    key space."""
    pairs = minhash_lsh_pairs(t)
    src = t["documents"].select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("doc_a"),
                    F.col("source").alias("src_a"))
    sb = src.select(F.col("doc_id").alias("doc_b"),
                    F.col("source").alias("src_b"))
    return (pairs.join(sa, "doc_a").join(sb, "doc_b")
            .select(F.least("src_a", "src_b").alias("source_lo"),
                    F.greatest("src_a", "src_b").alias("source_hi"))
            .groupBy("source_lo", "source_hi")
            .agg(F.count(F.lit(1)).alias("n_pairs")))


IDF_MILLI_CAP = 1_000_000_000   # weight ceiling (milli-units) so the
                                # per-doc signed sums stay far from 2^63
                                # even at 1e9-doc corpora × 2^15 tokens


def simhash_idf(t: dict[str, DataFrame]) -> DataFrame:
    """IDF-weighted 60-bit SimHash: rare terms dominate the
    fingerprint instead of stopwords — the variant production near-dup
    systems run so boilerplate doesn't collapse distinct documents
    onto one hash.

    Integer-exact end to end: the weight is floor(1000·N/df) milli-
    units (capped, monotone in idf — no engine ln()), each simhash bit
    accumulates the SIGNED sum Σ w·tf·(2·bit−1) as a BIGINT (order-
    independent), and the final hash packs 60 sign tests. Distributed
    shape: one (doc, token) tf shuffle; the token dictionary (df,
    weight, 60-bit md5 mask — hashed once per DISTINCT token) joins
    back on the token key; one per-doc aggregate carries all 60 lane
    sums map-side-combinably. Contrast simhash64's zero-shuffle
    unweighted form (dedup.py:277): idf needs corpus df, so one
    dictionary shuffle is the price of weighting."""
    from ..functions.cache import retain
    tf = retain(t["documents"]
                .select("doc_id",
                        F.explode(F.filter(F.split("text", " "),
                                           lambda x: x != "")).alias("tok"))
                .groupBy("doc_id", "tok")
                .agg(F.count(F.lit(1)).alias("tf")))
    n_docs = t["documents"].count()
    mask = F.conv(F.substring(F.md5(F.col("tok").cast("binary")), 1, 15),
                  16, 10).cast("long")
    dict_ = (tf.groupBy("tok")
             .agg(F.count(F.lit(1)).alias("df"))
             .select("tok", mask.alias("m"),
                     F.least(F.expr(f"(1000 * CAST({n_docs} AS BIGINT))"
                                    " DIV df"),
                             F.lit(IDF_MILLI_CAP)).alias("w")))
    j_ = tf.join(dict_, "tok")

    def mask_bit(j: int) -> str:
        shift = 4 * (14 - j // 4) + (3 - j % 4)
        return f"(shiftright(m, {shift}) & 1)"

    sums = [F.expr(f"sum((2 * {mask_bit(j)} - 1) * tf * w) AS s{j}")
            for j in range(60)]
    agg = j_.groupBy("doc_id").agg(*sums)
    pack = " + ".join(
        f"shiftleft(CAST(s{j} > 0 AS BIGINT), {j})" for j in range(60))
    return agg.select(
        "doc_id", F.expr(f"CAST({pack} AS BIGINT)").alias("simhash_idf"))


def dup_graph_clustering_coef(t: dict[str, DataFrame]) -> DataFrame:
    """Per-node local clustering coefficient of the near-dup graph —
    2·T/(deg·(deg−1)) — separating tight template families (cc → 1)
    from chains of borderline matches (cc → 0), the signal behind
    "collapse this cluster aggressively vs review it".

    Composition of the shared degree-oriented triangle machinery
    (`_per_node_triangles`, arboricity-bounded wedges — survives
    power-law hubs) with the symmetrized degree count; nodes with
    deg ≥ 2 and no triangles appear with cc = 0 via the left join.
    The coefficient is ONE double expression (2.0·T/(deg·(deg−1)))
    written identically in the oracle."""
    edges = retain(minhash_lsh_pairs(t)
                   .selectExpr("doc_a AS a", "doc_b AS b"))
    sym, deg = _dup_sym_degrees(edges)
    # retained: the degree frame feeds both wedge orientation sides
    # AND the coefficient base — uncached, the sym aggregate reruns
    deg = retain(deg)
    tri = _per_node_triangles(edges, sym, deg)
    base = (deg.where(F.col("deg") >= 2)
            .selectExpr("node AS doc_id", "deg AS degree"))
    j = (base.join(tri, "doc_id", "left")
         .select("doc_id", "degree",
                 F.coalesce("n_triangles", F.lit(0))
                 .alias("n_triangles")))
    return j.select(
        "doc_id", "degree", "n_triangles",
        (F.lit(2.0) * F.col("n_triangles")
         / (F.col("degree") * (F.col("degree") - 1)))
        .alias("clustering_coef"))


KCORE_KS = (2, 3)      # cores reported (k=2 drops pendant chains,
                       # k=3 keeps only densely-matched families)
KCORE_ROUNDS = 8       # fixed peeling rounds — the query's SEMANTICS


def kcore_dup_graph(t: dict[str, DataFrame]) -> DataFrame:
    """K-core summary of the near-dup graph: for each k in KCORE_KS,
    the node/edge counts surviving KCORE_ROUNDS rounds of degree
    peeling (drop nodes with degree < k, recompute, repeat) — the
    standard "is this cluster a dense template family or a fragile
    chain of borderline matches" density report; the 2-core strips
    pendant chains, the 3-core keeps only mutually-corroborated dups.

    Semantics are DEFINED as exactly KCORE_ROUNDS peeling rounds (the
    DuckDB oracle unrolls the identical rounds), which makes the
    result deterministic without a data-dependent convergence probe;
    on dup graphs the peel stabilizes in a handful of rounds because
    clusters are dense, and extra rounds past the fixpoint are no-ops.

    Scale shape: each round is two semi-joins of the symmetrized edge
    list against the surviving-node set (broadcast — the set only
    shrinks) plus one map-side-combinable degree count; lineage is
    cut per round (`_truncate_lineage`, the CC lesson) so the plan
    stays flat at any round count. No all-pairs anything — the edge
    list is the LSH candidate set, linear in true duplicates.

    Rounds EXIT EARLY at the fixpoint, and ALL k-lanes peel in ONE
    loop: the alive set is lane-tagged (k, node), each round is one
    lane-keyed double semi-join + degree count for every k at once
    (sequential barriers = max rounds over lanes, not the sum), and
    since a lane's alive set only shrinks (a node must be alive to
    receive a degree), unchanged per-lane COUNTS prove unchanged
    SETS — every remaining fixed-semantics round is a no-op, so the
    result is bit-identical to the full KCORE_ROUNDS unroll the
    oracle runs. On dup graphs the peel stabilizes in 2-3 rounds,
    cutting the barrier count (the real cost at any scale) ~5×; the
    per-round lane-count action doubles as the checkpoint
    materialization."""
    edges = retain(minhash_lsh_pairs(t)
                   .selectExpr("doc_a AS a", "doc_b AS b"))
    sym, _ = _dup_sym_degrees(edges)
    # one explode of the literal lane array fans out every k-lane
    lane = F.explode(F.array(*[F.lit(k) for k in KCORE_KS])).alias("k")
    symk = retain(sym.select(lane, "u", "v"))
    alive = symk.select("k", F.col("u").alias("node")).distinct()
    prev: dict[int, int] = {}
    for _ in range(KCORE_ROUNDS):
        # semi-join filters commute; filtering v FIRST leaves the last
        # exchange keyed on (k, u), which the degree groupBy reuses —
        # one fewer exchange per round (guide §2.4) whenever the
        # semi-joins run as shuffle joins
        deg = (symk
               .join(alive.selectExpr("k", "node AS v"),
                     ["k", "v"], "left_semi")
               .join(alive.selectExpr("k", "node AS u"),
                     ["k", "u"], "left_semi")
               .groupBy("k", "u").agg(F.count(F.lit(1)).alias("d")))
        alive = _truncate_lineage(
            deg.where(F.col("d") >= F.col("k"))
            .select("k", F.col("u").alias("node")))
        cur = {int(r["k"]): r["c"] for r in
               alive.groupBy("k").agg(F.count(F.lit(1)).alias("c"))
               .collect()}
        if all(cur.get(k, 0) == prev.get(k, 0) for k in KCORE_KS):
            break
        prev = cur
    ne = (edges.select(lane, "a", "b")
          .join(alive.selectExpr("k", "node AS a"), ["k", "a"],
                "left_semi")
          .join(alive.selectExpr("k", "node AS b"), ["k", "b"],
                "left_semi")
          .groupBy("k").agg(F.count(F.lit(1)).alias("n_core_edges")))
    nn = alive.groupBy("k").agg(F.count(F.lit(1)).alias("n_core_nodes"))
    return (sym.sparkSession.range(1).select(lane)
            .join(F.broadcast(nn), "k", "left")
            .join(F.broadcast(ne), "k", "left")
            .select("k",
                    F.coalesce("n_core_nodes", F.lit(0).cast("long"))
                    .alias("n_core_nodes"),
                    F.coalesce("n_core_edges", F.lit(0).cast("long"))
                    .alias("n_core_edges")))


TOP_SPANS_K = 20


def top_repeated_spans(t: dict[str, DataFrame]) -> DataFrame:
    """The most-duplicated 16-token windows corpus-wide, with their
    TEXT — the template/boilerplate detection report read before
    deciding what `dup_span_removal` should cut (a hash count says
    "something repeats"; this says WHAT).

    Scale shape: the shared per-doc window-hash generation
    (`_dup_spans`' transform — one pass, no per-window re-tokenize),
    ONE count aggregate on the 16-byte hash that also keeps the
    lexicographically-first (doc, position) exemplar as a struct-min
    (no join-back, no second shuffle), TakeOrdered top-K on
    (count desc, hash) — never a global sort — and the 20-row
    exemplar frame broadcast-joins back to the tokenized docs to
    slice the actual span text."""
    w = DUP_SPAN_W
    d = retain(_all_docs_tokenized(t).where(F.col("n") >= w))
    wh = (d.select(
        "doc_id",
        F.explode(F.expr(
            f"transform(sequence(1, n - {w} + 1), "
            f"p -> struct(p AS p, md5(array_join(slice(toks, p, {w}), "
            f"' ')) AS h))")).alias("ph"))
        .select("doc_id", F.col("ph.p").alias("p"),
                F.col("ph.h").alias("h")))
    top = (wh.groupBy("h")
           .agg(F.count(F.lit(1)).alias("n_occurrences"),
                F.count_distinct("doc_id").alias("n_docs"),
                F.min(F.struct("doc_id", "p")).alias("ex"))
           .where(F.col("n_occurrences") >= 2)
           .orderBy(F.desc("n_occurrences"), F.asc("h"))
           .limit(TOP_SPANS_K)
           .select("h", "n_occurrences", "n_docs",
                   F.col("ex.doc_id").alias("example_doc"),
                   F.col("ex.p").alias("example_pos")))
    return (F.broadcast(top)
            .join(d, top["example_doc"] == d["doc_id"])
            .select("h", "n_occurrences", "n_docs", "example_doc",
                    "example_pos",
                    F.expr(f"array_join(slice(toks, example_pos, {w}),"
                           f" ' ')").alias("span_text")))


def source_cross_dup_matrix(t: dict[str, DataFrame]) -> DataFrame:
    """Near-duplication flow BETWEEN sources: for every unordered
    source pair, how many LSH near-dup pairs straddle it — the
    "feed B is mostly re-posts of feed A" matrix that decides which
    source the canonical copy should keep (same shape as
    `semantic_dup_lang_matrix`, on the MinHash graph and the source
    axis).

    One pair frame (the shared banded LSH join — never all-pairs),
    two doc_id-keyed equi-joins to attach sources, sources sorted
    in-row to collapse direction, one count shuffle on the
    sources²-bounded key."""
    pairs = minhash_lsh_pairs(t)
    src = t["documents"].select("doc_id", "source")
    j = (pairs
         .join(src.selectExpr("doc_id AS doc_a", "source AS sa"),
               "doc_a")
         .join(src.selectExpr("doc_id AS doc_b", "source AS sb"),
               "doc_b"))
    return (j.select(F.least("sa", "sb").alias("source_x"),
                     F.greatest("sa", "sb").alias("source_y"))
            .groupBy("source_x", "source_y")
            .agg(F.count(F.lit(1)).alias("n_dup_pairs")))


SPLIT_TEST_PCT = 20


def component_split(col: str = "component"):
    """(bucket, split) expressions for the leakage-safe rule: md5
    bucket of the dup-graph COMPONENT id, bucket < SPLIT_TEST_PCT →
    test. THE single definition — leakage_safe_split, the audit, and
    the training-corpus build sheet all call this, so the rule cannot
    drift between the manifest and its consumers."""
    bucket = (F.conv(F.substring(
        F.md5(F.concat(F.lit("ccsplit|"), F.col(col).cast("string"))
              .cast("binary")), 1, 8), 16, 10)
        .cast("long") % 100).cast("int")
    split = (F.when(bucket < SPLIT_TEST_PCT, F.lit("test"))
             .otherwise(F.lit("train")))
    return bucket, split


def leakage_safe_split(t: dict[str, DataFrame]) -> DataFrame:
    """Train/test split WITHOUT near-dup leakage: the split unit is
    the connected COMPONENT of the near-dup graph, not the document —
    a doc and its near-duplicates always land on the same side, so
    the test set can't be memorized via a training-set twin (the
    eval-contamination failure mode `contamination_overlap` audits
    after the fact; this prevents it by construction).

    Assignment is the md5-bucket primitive on the COMPONENT id
    (deterministic_sample's portable hash — stable across runs,
    engines, cluster sizes): bucket < SPLIT_TEST_PCT → test. Output
    is one row per document with its component, bucket, and split —
    the split manifest a training job joins against. Costs the CC
    labels (log-round star contraction) + one in-row hash; no
    additional shuffle."""
    comp = dedup_components(t)
    bucket, split = component_split()
    return comp.select("doc_id", "component", bucket.alias("bucket"),
                       split.alias("split"))


def split_leakage_audit(t: dict[str, DataFrame]) -> DataFrame:
    """The proof obligation for `leakage_safe_split`: count near-dup
    pairs by (split_a, split_b) cell — the cross-split cells MUST be
    zero (every LSH pair lives inside one component, and components
    never straddle splits). Run after any split-rule change; a
    doc-hash split (the naive rule) shows non-zero off-diagonals on
    the same corpus. One pair frame + two id-keyed attaches + a
    3-key count."""
    split = leakage_safe_split(t).select("doc_id", "split")
    pairs = minhash_lsh_pairs(t)
    j = (pairs
         .join(split.selectExpr("doc_id AS doc_a", "split AS sp_a"),
               "doc_a")
         .join(split.selectExpr("doc_id AS doc_b", "split AS sp_b"),
               "doc_b"))
    return (j.select(F.least("sp_a", "sp_b").alias("split_x"),
                     F.greatest("sp_a", "sp_b").alias("split_y"))
            .groupBy("split_x", "split_y")
            .agg(F.count(F.lit(1)).alias("n_pairs")))


def semantic_dedup_keep_best(t: dict[str, DataFrame]) -> DataFrame:
    """Quality-aware canonical selection for SEMANTIC clusters: the
    `dedup_keep_best` policy (highest `doc_quality_score`, doc_id
    tie-break) applied to the embedding near-dup components instead
    of the MinHash ones — the curation step that keeps the cleanest
    member of each paraphrase/translation family, where text-hash
    dedup sees nothing to collapse. Same scale shape (the shared
    `_keep_best` body): one id-keyed quality join + one window on
    the component key; the CC machinery is shared."""
    return _keep_best(semantic_dedup_components(t), t)


LSH_SWEEP_CONFIGS = ((2, 8), (4, 4), (8, 2))


def lsh_band_sweep(t: dict[str, DataFrame]) -> DataFrame:
    """Empirical LSH S-curve sweep: the SAME 16-hash signatures
    re-banded as (2 bands × 8 rows), (4×4), (8×2), with per-config
    candidate-pair volume and the mean estimated Jaccard over those
    candidates — the measurement behind choosing a banding (more
    bands ⇒ higher recall, lower precision; the sweep shows the
    tradeoff on YOUR corpus instead of the textbook curve).

    One signature computation (retained) feeds all three configs;
    each config is the standard banded self-join with the pair
    emitted at its FIRST matching band (no distinct over the
    candidate stream — the minhash_lsh_pairs discipline); per-pair
    signature-slot agreement gives the Jaccard estimate in-row; a
    3-key aggregate finishes. Never all-pairs at any config."""
    sig = retain(minhash_signatures(t))
    matches = sum((F.col(f"a.h{j}") == F.col(f"b.h{j}")).cast("int")
                  for j in range(N_HASHES))
    out = None
    for bands, rows in LSH_SWEEP_CONFIGS:
        pairs = (band_pairs(sig, "doc_id", minhash_keys(bands, rows))
                 .select((matches.cast("double") / N_HASHES)
                         .alias("est_jaccard")))
        row = pairs.agg(
            F.lit(bands).cast("int").alias("n_bands"),
            F.lit(rows).cast("int").alias("rows_per_band"),
            F.count(F.lit(1)).alias("n_candidate_pairs"),
            F.coalesce(
                F.sum(F.floor(F.col("est_jaccard") * 10000
                              + F.lit(0.5)).cast("long")),
                F.lit(0).cast("long")).alias("est_jaccard_bp_sum"))
        out = row if out is None else out.unionByName(row)
    return out


def dup_graph_degree_hist(t: dict[str, DataFrame]) -> DataFrame:
    """Degree distribution of the near-dup graph — the first chart
    read off any graph (power-law hubs here mean template families;
    a long degree-1 tail means pair noise), completing the
    graph-stats battery next to triangles / clustering coefficient /
    k-core / PageRank. Isolated docs count as degree 0 via one
    anti-joined corpus count. Two map-side-combinable aggregates
    over the shared symmetric edge frame; output bounded by the max
    degree."""
    edges = minhash_lsh_pairs(t).selectExpr("doc_a AS a", "doc_b AS b")
    _, deg = _dup_sym_degrees(edges)
    hist = (deg.groupBy("deg")
            .agg(F.count(F.lit(1)).alias("n_nodes")))
    iso = (t["documents"].select(F.col("doc_id").alias("node"))
           .join(deg.select("node"), "node", "left_anti")
           .agg(F.lit(0).cast("long").alias("deg"),
                F.count(F.lit(1)).alias("n_nodes")))
    return (hist.unionByName(iso)
            .where(F.col("n_nodes") > 0)
            .select(F.col("deg").cast("long").alias("degree"),
                    "n_nodes"))


# round-7 wave 14: b-bit minhash compression audit

BBIT_B = 2          # stored bits per slot: 16 slots × 2 bits = 4 B
                    # (vs 64 B for the full int signature)


def bbit_minhash_estimate(t: dict[str, DataFrame]) -> DataFrame:
    """b-bit MinHash (Li & König, CACM 2011) next to the full-width
    estimate on the SAME LSH candidate pairs — the storage audit for
    "keep 2 bits of each slot, not 31": agreement over the lowest
    b = 2 bits, corrected for the 2^-b base collision rate with the
    exact integer rational Ĵ_b = (n_agree_b − 16/4)/(16·(1 − 1/4))
    = (n_agree_b − 4)/12.

    The candidate stream, signatures, and the flat 16-term agreement
    sums are the `minhash_jaccard_estimate` machinery verbatim (one
    persisted signature pass, banded join, no join-backs); the b-bit
    columns just add a pmod before the compare. Output per pair: both
    estimates and their gap — the number that decides whether the
    16× smaller sketch is worth its variance."""
    sig = retain(minhash_signatures(t))
    full = None
    bbit = None
    m = 1 << BBIT_B
    for j in range(N_HASHES):
        eq = F.when(F.col(f"a.h{j}") == F.col(f"b.h{j}"), 1).otherwise(0)
        eqb = F.when(F.pmod(F.col(f"a.h{j}"), F.lit(m))
                     == F.pmod(F.col(f"b.h{j}"), F.lit(m)),
                     1).otherwise(0)
        full = eq if full is None else full + eq
        bbit = eqb if bbit is None else bbit + eqb
    est_full = full.cast("double") / F.lit(N_HASHES)
    est_b = ((bbit.cast("double") - F.lit(float(N_HASHES)) / m)
             / (F.lit(float(N_HASHES))
                * (F.lit(1.0) - F.lit(1.0) / m)))
    return (band_pairs(sig, "doc_id", minhash_keys())
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                    full.cast("int").alias("n_agree_full"),
                    bbit.cast("int").alias("n_agree_b2"),
                    est_full.alias("jaccard_full"),
                    est_b.alias("jaccard_b2"),
                    (est_b - est_full).alias("b2_minus_full")))
