"""Text analysis operators over the documents table (SURVEY.md §2.G).

Everything stays JVM-side (split / higher-order array functions / md5
— all whole-stage-codegen built-ins); no Python UDFs. Tokenization is
single-space split with empty-token filtering, mirrored exactly by the
DuckDB oracles (string_split + list_filter).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import spread
from ..functions.cache import retain
from ..functions.prefix import buckets, prefix_sums

STOPWORDS_EN = ("the", "a", "of", "and", "to", "in")
# marker-token profiles for the stopword language-ID heuristic
LANG_MARKERS = {
    "en": ("the", "a", "of", "and"),
    "de": ("der", "die", "das", "und"),
    "es": ("el", "la", "los", "y"),
    "fr": ("le", "la", "les", "et"),
    "zh": ("的", "是", "了", "在"),
}


def tokens(col: str = "text") -> Column:
    """Non-empty single-space tokens (codegen'd, no UDF)."""
    return F.filter(F.split(F.col(col), " "), lambda x: x != "")


def _count_in(toks: Column, words: tuple[str, ...]) -> Column:
    """Count of tokens in a word set (multiset count, like SQL
    list_filter + IN)."""
    return F.size(F.filter(toks, lambda x: x.isin(*words)))


def doc_token_count(t: dict[str, DataFrame]) -> DataFrame:
    toks = tokens()
    return t["documents"].select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.length("text").alias("n_chars_calc"),
    )


def doc_quality_score(t: dict[str, DataFrame]) -> DataFrame:
    """Heuristic quality score: token-uniqueness, stopword ratio, and
    a length factor. All-double IEEE arithmetic with the expression
    tree mirrored in the oracle, so results match bit-for-bit."""
    toks = tokens()
    d = t["documents"].select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        _count_in(toks, STOPWORDS_EN).alias("n_stop"),
    )
    uniq_ratio = F.col("n_distinct") / F.col("n_tokens")
    stop_ratio = F.col("n_stop") / F.col("n_tokens")
    len_factor = F.least(F.col("n_tokens") / F.lit(100.0), F.lit(1.0))
    return d.select(
        "doc_id", "n_tokens",
        uniq_ratio.alias("uniq_ratio"),
        stop_ratio.alias("stop_ratio"),
        (uniq_ratio * 0.4 + (1.0 - stop_ratio) * 0.4 + len_factor * 0.2)
        .alias("quality_score"),
    )


def doc_langid(t: dict[str, DataFrame]) -> DataFrame:
    """Stopword-profile language ID: count marker tokens per language,
    predict the best-scoring language (ties → lexicographic first),
    'unk' when nothing matches."""
    toks = tokens()
    d = t["documents"].select("doc_id", "lang", toks.alias("toks"))
    scored = d.select(
        "doc_id", "lang",
        *[_count_in(F.col("toks"), m).alias(f"score_{lang}")
          for lang, m in sorted(LANG_MARKERS.items())],
    )
    # argmax over the score columns, deterministic tie-break on lang name
    best = F.greatest(*[F.col(f"score_{lang}") for lang in sorted(LANG_MARKERS)])
    pred = F.lit("unk")
    for lang in sorted(LANG_MARKERS, reverse=True):
        pred = F.when((best > 0) & (F.col(f"score_{lang}") == best),
                      F.lit(lang)).otherwise(pred)
    return scored.select(
        "doc_id", "lang", pred.alias("pred_lang"),
        *[f"score_{lang}" for lang in sorted(LANG_MARKERS)])


def doc_fingerprint(t: dict[str, DataFrame]) -> DataFrame:
    """Content fingerprint: md5 of the full text plus a 2-hex-char
    shard bucket (the partition key a 100 TB dedup store would shard
    on) and a 60-bit integer prefix for compact joins."""
    fp = F.md5(F.col("text").cast("binary"))
    return t["documents"].select(
        "doc_id",
        fp.alias("fingerprint"),
        F.substring(fp, 1, 2).alias("shard_bucket"),
        F.conv(F.substring(fp, 1, 15), 16, 10).cast("long").alias("fp60"),
    )


def bm25_scores(t: dict[str, DataFrame], query_terms: tuple[str, ...] =
                ("spark", "query", "join"), k1: float = 1.2,
                b: float = 0.75) -> DataFrame:
    """BM25 relevance of each document for a fixed term set, with the
    rational (ln-free) Robertson idf variant
    idf = (N − df + 0.5)/(df + 0.5): every score is then a fixed
    chain of IEEE double ops on exact integer inputs, evaluated
    identically by DuckDB, so the oracle checks values bit-for-bit
    (the ``doc_tfidf_top_terms`` linear-idf pattern — classic ln()
    idf is not bit-portable across engines). The per-doc sum folds
    term scores in sorted term order for the same reason.

    Distributed shape: doc-term frequencies (one groupBy), corpus
    document frequencies for the query terms (tiny broadcast), one
    join, one per-doc fold.
    """
    toks = tokens()
    # retained cache: corpus stats and term frequencies both scan this
    # and tokenization is the dominant per-row cost; released when the
    # next query starts building
    docs = retain(t["documents"].select("doc_id", toks.alias("toks"),
                                        F.size(toks).alias("dl")))
    corpus = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"))
    tf = (docs.select("doc_id", "dl", F.explode("toks").alias("term"))
          .where(F.col("term").isin(*query_terms))
          .groupBy("doc_id", "dl", "term")
          .agg(F.count(F.lit(1)).alias("tf")))
    df_ = (tf.groupBy("term")
           .agg(F.count_distinct("doc_id").alias("df")))
    scored = (tf.join(F.broadcast(df_), "term")
              .crossJoin(F.broadcast(corpus)))
    idf = (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    tf_norm = (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
    per_term = scored.select("doc_id", "term",
                             (idf * tf_norm).alias("term_score"))
    g = (per_term.groupBy("doc_id")
         .agg(F.array_sort(F.collect_list(F.struct("term", "term_score")))
              .alias("ts")))
    fold = F.aggregate(F.col("ts"), F.lit(0.0),
                       lambda acc, s: acc + s["term_score"])
    return g.select("doc_id", fold.alias("bm25"))


BPE_ISH_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def doc_bpe_token_count(t: dict[str, DataFrame]) -> DataFrame:
    """Regex ('BPE-ish') tokenization counts: letter runs, digit runs,
    and single symbols as separate tokens — the pre-tokenizer shape
    subword tokenizers consume. Pattern uses only literal char classes
    so Java and RE2 regex semantics coincide."""
    toks = F.regexp_extract_all(F.col("text"), F.lit(BPE_ISH_PATTERN), 0)
    return t["documents"].select(
        "doc_id",
        F.size(toks).alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_bpe"))


def doc_rolling_hash(t: dict[str, DataFrame],
                     base: int = 256, mod: int = 1_000_000_007) -> DataFrame:
    """Karp–Rabin polynomial rolling hash of the full text (exact
    bigint fold, engine-portable: fold-from-zero equals DuckDB's
    list_reduce fold-from-first for base-polynomial hashing). The
    content-defined-chunking primitive for shift-tolerant dedup."""
    codes = F.transform(F.split(F.col("text"), ""),
                        lambda c: F.ascii(c).cast("long"))
    rhash = F.aggregate(
        codes, F.lit(0).cast("long"),
        lambda acc, x: (acc * base + x) % mod)
    return (t["documents"]
            .where(F.length("text") > 0)
            .select("doc_id", rhash.alias("rolling_hash"),
                    F.length("text").alias("n_chars_hashed")))


def token_freq_topk(t: dict[str, DataFrame], k: int = 20) -> DataFrame:
    """Corpus top-k token frequencies (the word-count classic): one
    explode, one count aggregate with map-side combine, distributed
    partial top-k via sort+limit."""
    return (t["documents"]
            .select(F.explode(tokens()).alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("n_occurrences"))
            .orderBy(F.desc("n_occurrences"), F.asc("token"))
            .limit(k))


def doc_tfidf_top_terms(t: dict[str, DataFrame], k: int = 3) -> DataFrame:
    """Per-document top-k TF-IDF terms (linear idf = N/df, no log, so
    scores are exact rationals evaluated identically in both engines).
    Shuffles: (doc, term) count, term df, then the per-doc window."""
    tf = (t["documents"]
          .select("doc_id", F.explode(tokens()).alias("term"))
          .groupBy("doc_id", "term")
          .agg(F.count(F.lit(1)).alias("tf")))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = t["documents"].agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("term"))
    return (tf.join(F.broadcast(df_), "term")
            .join(F.broadcast(n_docs))
            .select("doc_id", "term", "tf", "df",
                    (F.col("tf") * (F.col("n_docs") / F.col("df")))
                    .alias("score"))
            .withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= k)
            .select("doc_id", "term", "tf", "df", "score", "rnk"))


def deterministic_sample(t: dict[str, DataFrame], pct: int = 10,
                         salt: str = "split|") -> DataFrame:
    """Reproducible pct% sample of documents via md5 bucketing — the
    training-split primitive: stable across runs, cluster sizes, and
    engines (no rand()), and stratified-uniform in doc_id."""
    bucket = (F.conv(F.substring(
        F.md5(F.concat(F.lit(salt), F.col("doc_id").cast("string"))
              .cast("binary")), 1, 8), 16, 10)
        .cast("long") % 100).cast("int")
    return (t["documents"]
            .select("doc_id", "lang", "source", bucket.alias("bucket"))
            .where(F.col("bucket") < pct))


def doc_quality_filters(t: dict[str, DataFrame],
                        passthrough: tuple[str, ...] = ()) -> DataFrame:
    """C4-style quality filter battery: every flag is integer/rational
    arithmetic (exact in both engines); `keep` is the conjunction.
    Pure per-row projection — no shuffle at any scale. ``passthrough``
    columns ride along unchanged (the streaming quality gate keeps
    lang/source without a same-source self-join)."""
    toks = tokens()
    d = t["documents"].select(
        "doc_id", *passthrough,
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        _count_in(toks, STOPWORDS_EN).alias("n_stop"),
        F.aggregate(toks, F.lit(0),
                    lambda acc, x: acc + F.length(x)).alias("sum_tok_len"),
    )
    has_min_tokens = (F.col("n_tokens") >= 30).cast("int")
    mean_len_ok = (F.col("sum_tok_len") <= 8 * F.col("n_tokens")).cast("int")
    has_stopword = (F.col("n_stop") > 0).cast("int")
    uniq_ok = (10 * F.col("n_distinct") >= F.col("n_tokens")).cast("int")
    return d.select(
        "doc_id", *passthrough, "n_tokens",
        has_min_tokens.alias("has_min_tokens"),
        mean_len_ok.alias("mean_len_ok"),
        has_stopword.alias("has_stopword"),
        uniq_ok.alias("uniq_ok"),
        (has_min_tokens.cast("boolean") & mean_len_ok.cast("boolean")
         & has_stopword.cast("boolean") & uniq_ok.cast("boolean"))
        .cast("int").alias("keep"))


def doc_repetition_ratio(t: dict[str, DataFrame]) -> DataFrame:
    """Intra-document repetition (Gopher-style quality signal): the
    fraction of word bigrams that are repeats of an earlier bigram in
    the same doc. Pure per-row array arithmetic — size and
    distinct-size of the bigram list — so there is no shuffle at any
    scale; the ratio is an exact bigint division in IEEE doubles."""
    toks = tokens()
    bigrams = F.expr(
        "transform(sequence(0, size(toks) - 2), "
        "i -> concat(toks[i], ' ', toks[i+1]))")
    d = (t["documents"]
         .select("doc_id", toks.alias("toks"))
         .where(F.size("toks") >= 2)
         .select("doc_id", bigrams.alias("bg")))
    return d.select(
        "doc_id",
        F.size("bg").alias("n_bigrams"),
        F.size(F.array_distinct("bg")).alias("n_distinct_bigrams"),
        (F.lit(1.0) - F.size(F.array_distinct("bg")) / F.size("bg"))
        .alias("repetition_ratio"))


def bigram_lm_top_successor(t: dict[str, DataFrame]) -> DataFrame:
    """Corpus bigram language model, most-likely successor per token:
    c(w1,w2) / c(w1·) with the conditional probability as an exact
    bigint ratio. Two map-side-combinable aggregates on the exploded
    bigram stream (vocab-sized outputs), one broadcast join — the
    100 TB cost is the explode scan, not the model table."""
    toks = tokens()
    bigrams = F.expr(
        "transform(sequence(0, size(toks) - 2), "
        "i -> struct(toks[i] AS w1, toks[i+1] AS w2))")
    bg = (t["documents"]
          .select(toks.alias("toks"))
          .where(F.size("toks") >= 2)
          .select(F.explode(bigrams).alias("b"))
          .select("b.w1", "b.w2"))
    pair_cnt = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    uni_cnt = (bg.groupBy(F.col("w1").alias("u_w1"))
               .agg(F.count(F.lit(1)).alias("c1")))
    w = Window.partitionBy("w1").orderBy(F.desc("c12"), F.asc("w2"))
    return (pair_cnt
            .join(uni_cnt, F.col("w1") == F.col("u_w1"))
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("w1", F.col("w2").alias("top_successor"),
                    "c12", "c1",
                    (F.col("c12") / F.col("c1")).alias("cond_prob")))


def contamination_overlap(t: dict[str, DataFrame]) -> DataFrame:
    """Train/test contamination audit across corpus splits: for every
    document, the fraction of its distinct 3-gram shingles that also
    occur in ANY document of a different ``source`` — the overlap
    check run before holding a source out as an eval set.

    Shape mirrors span-dedup: explode distinct shingles once, build a
    per-shingle source-count dictionary (shingle, n_sources,
    one_source), join back, aggregate per doc. Never all-pairs; the
    dictionary is vocabulary-sized and the two wide shuffles are both
    keyed on the shingle."""
    toks = tokens()
    shingles = F.expr(
        "transform(sequence(0, size(toks) - 3), "
        "i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))")
    d = (t["documents"]
         .select("doc_id", "source", toks.alias("toks"))
         .where(F.size("toks") >= 3)
         .select("doc_id", "source",
                 F.explode(F.array_distinct(shingles)).alias("shingle")))
    # a shingle is "foreign-shared" for source s if it occurs in some
    # other source: n_sources > 1, or the single source isn't s
    sdict = (d.groupBy("shingle")
             .agg(F.countDistinct("source").alias("n_sources"),
                  F.min("source").alias("only_source")))
    shared = (F.col("n_sources") > 1) | (F.col("only_source") != F.col("source"))
    return (d.join(sdict, "shingle")
            .groupBy("doc_id", "source")
            .agg(F.count(F.lit(1)).alias("n_shingles"),
                 F.sum(F.when(shared, 1).otherwise(0))
                 .alias("n_contaminated"))
            .select("doc_id", "source", "n_shingles", "n_contaminated",
                    (F.col("n_contaminated") / F.col("n_shingles"))
                    .alias("contamination")))


STRATA_RATES = {"en": 30, "de": 60, "es": 60, "fr": 60, "zh": 90}


def stratified_sample(t: dict[str, DataFrame],
                      salt: str = "strat|") -> DataFrame:
    """Per-language stratified sampling with deterministic md5 buckets
    — downsample the over-represented stratum (en) harder, keep rare
    strata: the mixture-balancing step of corpus curation. The rate
    table is a literal broadcast map; selection stays a pure per-row
    projection (no shuffle, no rand()), so the same doc survives on
    every engine, run, and cluster size."""
    rate = F.coalesce(
        *[F.when(F.col("lang") == lng, F.lit(r))
          for lng, r in STRATA_RATES.items()],
        F.lit(0))
    bucket = (F.conv(F.substring(
        F.md5(F.concat(F.lit(salt), F.col("doc_id").cast("string"))
              .cast("binary")), 1, 8), 16, 10)
        .cast("long") % 100).cast("int")
    return (t["documents"]
            .select("doc_id", "lang", bucket.alias("bucket"),
                    rate.alias("keep_pct"))
            .where(F.col("bucket") < F.col("keep_pct")))


# -- round-3 wave: redaction / vocab / packing / classifier ------------

BLOCKLIST = ("spark", "dup")
_BLOCK_RE = r"\b(" + "|".join(BLOCKLIST) + r")\b"
# simple RFC-ish shapes shared verbatim by Java regex and RE2 (DuckDB):
# no lookarounds, no backrefs, so both engines agree on every corpus
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def pii_redaction(t: dict[str, DataFrame]) -> DataFrame:
    """PII / blocklist scrubbing pass: count email / IPv4 shapes and
    blocklisted terms, emit the md5 of the term-redacted text so the
    rewrite itself is value-verified (not just the counts). Pure
    per-row regex projection in whole-stage codegen — zero shuffle at
    any scale; the regex dialect is restricted to the Java∩RE2 subset
    so the DuckDB oracle replays it verbatim."""
    redacted = F.regexp_replace(F.col("text"), _BLOCK_RE, "[REDACTED]")
    return t["documents"].select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(_EMAIL_RE)).alias("n_emails"),
        F.regexp_count(F.col("text"), F.lit(_IPV4_RE)).alias("n_ipv4"),
        F.regexp_count(F.col("text"), F.lit(_BLOCK_RE)).alias("n_blocked"),
        F.md5(redacted.cast("binary")).alias("redacted_md5"),
        F.length(redacted).alias("redacted_len"),
    )


def doc_oov_rate(t: dict[str, DataFrame], vocab_k: int = 16) -> DataFrame:
    """Out-of-vocabulary rate against a corpus-derived top-K vocabulary
    (count desc, token asc — fully deterministic). The tokenizer-fit
    step of corpus prep: one token-count aggregate builds the vocab
    (tiny — K rows), which is collapsed to a single array row and
    broadcast, so the per-doc OOV fold is a zero-shuffle projection.
    At 100 TB the vocab agg is the only wide stage and its key space
    is the token vocabulary, not the corpus."""
    toks = tokens()
    vocab = (t["documents"]
             .select(F.explode(toks).alias("token"))
             .groupBy("token").agg(F.count(F.lit(1)).alias("c"))
             .orderBy(F.desc("c"), F.asc("token"))
             .limit(vocab_k)
             .agg(F.sort_array(F.collect_list("token")).alias("vocab")))
    d = t["documents"].select("doc_id", toks.alias("toks"))
    return (d.crossJoin(F.broadcast(vocab))
            .select(
                "doc_id",
                F.size("toks").alias("n_tokens"),
                F.size(F.filter(
                    "toks",
                    lambda x: ~F.array_contains(F.col("vocab"), x)))
                .alias("n_oov"))
            .withColumn("oov_rate",
                        F.col("n_oov") / F.col("n_tokens")))


def sequence_packing(t: dict[str, DataFrame],
                     seq_len: int = 256) -> DataFrame:
    """Concat-then-chunk sequence packing audit: within each language
    stream (deterministic doc_id order), documents are concatenated
    and cut into fixed ``seq_len``-token training sequences; a doc
    lands in the pack where its first token falls. Output is per-pack
    occupancy — the packing-efficiency report a training-data job
    emits. One shuffle on lang (the window partition), reused by the
    per-pack aggregate; packing never materializes token arrays."""
    d = spread(t["documents"].select("doc_id", "lang", "text")).select(
        "doc_id", "lang", F.size(tokens()).alias("n_tokens"))
    w = (Window.partitionBy("lang").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    packed = d.select(
        "doc_id", "lang", "n_tokens",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        .alias("cum_before"))
    return (packed
            .groupBy("lang",
                     (F.col("cum_before") / seq_len).cast("long")
                     .alias("pack_id"))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("pack_tokens"),
                 F.min("doc_id").alias("first_doc"),
                 F.max("doc_id").alias("last_doc")))


def hashed_classifier_score(t: dict[str, DataFrame],
                            buckets: int = 1024) -> DataFrame:
    """Hash-trick linear classifier scoring (the fastText-style
    quality-model inference pass): each token hashes to one of
    ``buckets`` weight slots, the weight table is a deterministic
    pseudo-random function of the slot (Knuth multiplicative hash), and
    the doc score is the exact BIGINT sum of token weights (order-free,
    so bit-identical in any engine) scaled once to double. Per-row
    higher-order fold — zero shuffle, no weight table materialized."""
    def w_int(x: Column) -> Column:
        slot = (F.conv(F.substring(F.md5(x.cast("binary")), 1, 8), 16, 10)
                .cast("long") % buckets)
        return (slot * F.lit(2654435761)) % buckets - buckets // 2
    toks = tokens()
    d = spread(t["documents"].select("doc_id", "text")).select(
        "doc_id", F.size(toks).alias("n_tokens"),
        F.aggregate(toks, F.lit(0).cast("long"),
                    lambda acc, x: acc + w_int(x)).alias("w_sum"))
    return d.select(
        "doc_id", "n_tokens", "w_sum",
        (F.col("w_sum") / F.lit(float(buckets // 4))).alias("score"),
        (F.col("w_sum") > 0).cast("int").alias("pred_positive"))


WINNOW_K = 8       # character k-gram width
WINNOW_W = 4       # winnowing window (k-grams per window)
WINNOW_BASE = 256
WINNOW_MOD = 1_000_000_007


def winnowing_fingerprints(t: dict[str, DataFrame],
                           k: int = WINNOW_K, w: int = WINNOW_W,
                           base: int = WINNOW_BASE,
                           mod: int = WINNOW_MOD) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken —
    SIGMOD'03): Karp–Rabin hash every character k-gram, then from each
    window of ``w`` consecutive k-gram hashes select the minimum
    (rightmost on ties) and emit the per-doc distinct (position, hash)
    selections. Guarantees any shared substring of length ≥ k + w − 1
    produces a shared fingerprint — the shift-tolerant local-dedup /
    plagiarism primitive that whole-text hashing can't provide.

    Zero shuffle: codes → k-gram hashes → window minima are three
    in-row HOF passes (each ``pin``-ed so Catalyst evaluates it once,
    not once per downstream lambda reference); dedup of adjacent
    windows choosing the same gram is an in-row array_distinct. All
    arithmetic is exact bigint (acc·base + code mod p), so the DuckDB
    oracle reproduces every fingerprint bit-for-bit."""
    from ..functions import pin, spread

    d = (spread(t["documents"])
         .where(F.length("text") >= k + w - 1)
         .select("doc_id", "text"))
    d = pin(d, codes=F.expr(
        "transform(split(text, ''), c -> CAST(ascii(c) AS BIGINT))"))
    d = pin(d.select("doc_id", "codes"), kh=F.expr(
        f"transform(sequence(0, size(codes) - {k}), i -> "
        f"aggregate(slice(codes, i + 1, {k}), CAST(0 AS BIGINT), "
        f"(acc, x) -> (acc * {base} + x) % {mod}))"))
    sel = F.expr(
        f"array_distinct(transform(sequence(0, size(kh) - {w}), j -> "
        f"aggregate(sequence(j, j + {w} - 1), "
        f"struct(CAST({mod} + 1 AS BIGINT) AS h, CAST(-1 AS INT) AS p), "
        f"(acc, idx) -> CASE WHEN kh[idx] <= acc.h "
        f"THEN struct(kh[idx] AS h, CAST(idx AS INT) AS p) "
        f"ELSE acc END)))")
    return (d.select("doc_id", F.explode(sel).alias("s"))
            .select("doc_id", F.col("s.p").alias("pos"),
                    F.col("s.h").alias("fp")))


CM_ROWS = 4       # count-min hash rows
CM_WIDTH = 64     # counters per row


def cm_cell(j: int, ref: str = "tok") -> Column:
    """Count-min cell index for hash row j (md5-seeded, deterministic
    — shared by the batch sketch, its DuckDB oracle, and the streaming
    maintenance job)."""
    return F.expr(
        f"CAST(pmod(CAST(conv(substring(md5(CAST(concat('cm{j}|', {ref})"
        f" AS BINARY)), 1, 8), 16, 10) AS BIGINT), {CM_WIDTH}) AS INT)")


def token_countmin_topk(t: dict[str, DataFrame], k: int = 20) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan, J.Alg'05) over the
    token stream, evaluated against exact counts: d=4 md5-seeded hash
    rows × w=64 counters, merged across partitions by the count
    aggregate itself (cell counts are additive — the property that
    makes the sketch distributable). Output: the exact top-k tokens
    with their exact count and the sketch estimate (always ≥ exact;
    equality iff no cell collision).

    Scale shape: one explode + a 256-key aggregate with map-side
    combine builds the sketch — constant memory however large the
    corpus; the estimate probe is a broadcast of the 256-cell array.
    Deterministic seeds make the sketch itself engine-portable, so the
    DuckDB oracle reproduces estimates exactly."""
    tok = t["documents"].select(F.explode(tokens()).alias("tok"))
    tok = retain(tok)
    cell = cm_cell
    cells = tok.select(F.explode(F.array(*[
        (F.lit(j * CM_WIDTH) + cell(j)).alias(f"c{j}")
        for j in range(CM_ROWS)])).alias("idx"))
    sketch = (cells.groupBy("idx").agg(F.count(F.lit(1)).alias("cnt"))
              .agg(F.map_from_entries(
                  F.collect_list(F.struct("idx", "cnt"))).alias("mp"))
              .select(F.expr(
                  f"transform(sequence(0, {CM_ROWS * CM_WIDTH - 1}), "
                  f"i -> coalesce(mp[i], CAST(0 AS BIGINT)))").alias("cm")))
    exact = (tok.groupBy("tok")
             .agg(F.count(F.lit(1)).alias("n_exact"))
             .orderBy(F.desc("n_exact"), F.asc("tok"))
             .limit(k))
    est = F.least(*[
        F.element_at(F.col("cm"), F.lit(j * CM_WIDTH) + cell(j) + 1)
        for j in range(CM_ROWS)])
    from pyspark.sql.functions import broadcast
    return (exact.crossJoin(broadcast(sketch))
            .select(F.col("tok").alias("token"), "n_exact",
                    est.alias("n_est")))


def language_mixture_weights(t: dict[str, DataFrame]) -> DataFrame:
    """Temperature-resampling mixture weights per language (the
    multilingual data-mixing step: upsample the tail so the head
    doesn't dominate training): weight_l ∝ p_l^α with α = 1/2, i.e.
    sqrt — chosen because IEEE sqrt is correctly-rounded in BOTH
    engines, unlike pow(x, 0.7), so the oracle checks values
    bit-for-bit. Normalization folds the per-language terms in sorted
    lang order for the same reason.

    One 5-key aggregate + one single-row broadcast — nothing here
    grows with corpus size."""
    counts = (t["documents"].groupBy("lang")
              .agg(F.count(F.lit(1)).alias("n_docs")))
    totals = (counts.agg(
        F.sum("n_docs").alias("total"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("lang", "n_docs"))),
            F.lit(0.0),
            lambda acc, s: acc + F.sqrt(s["n_docs"].cast("double")))
        .alias("norm_raw")))
    # norm = Σ_l sqrt(n_l); weight_l = sqrt(n_l)/norm  (the 1/sqrt(N)
    # factors of p^α cancel in the ratio, so N never enters the float
    # math)
    w = F.sqrt(F.col("n_docs").cast("double")) / F.col("norm_raw")
    return (counts.crossJoin(F.broadcast(totals))
            .select("lang", "n_docs",
                    (F.col("n_docs").cast("double") / F.col("total"))
                    .alias("p_raw"),
                    w.alias("weight"),
                    (w * F.col("total").cast("double"))
                    .alias("expected_docs")))


RRF_K = 60       # the standard reciprocal-rank-fusion constant
HYBRID_TOP_K = 10


def hybrid_search_rrf(t: dict[str, DataFrame],
                      k: int = HYBRID_TOP_K) -> DataFrame:
    """Hybrid retrieval: lexical BM25 and embedding-cosine rankings
    fused with reciprocal rank fusion (Cormack et al., SIGIR'09):
    score(d) = Σ_lists 1/(60 + rank_d). Ranks are integers with
    deterministic tie-breaks and the fusion arithmetic is a fixed
    chain of IEEE ops on them, so — unlike fusing raw scores — the
    result is bit-portable across engines even though BM25 and cosine
    live on incomparable scales (the reason RRF is the standard fusion
    in production search).

    Scale shape: each side is a TRUNCATED top list (the standard RRF
    depth; full-corpus rankings would funnel a global rank window onto
    one task) selected by distributed sort+limit, so the rank windows
    run on ≤depth rows. BM25's candidate set is the sparse posting
    intersection; the vector side is ANN at scale (exact here). The
    fusion is an outer join of two id→rank lists; missing ranks
    contribute 0."""
    from .similarity_bridge import RRF_DEPTH, doc_cosine_ranks

    bm = bm25_scores(t)
    bm_head = bm.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(RRF_DEPTH)
    w_bm = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    bm_ranked = bm_head.select(
        "doc_id", F.row_number().over(w_bm).alias("r_bm"))
    vec_ranked = doc_cosine_ranks(t)
    fused = (bm_ranked.join(vec_ranked, "doc_id", "full_outer")
             .select("doc_id",
                     (F.when(F.col("r_bm").isNotNull(),
                             1.0 / (RRF_K + F.col("r_bm"))).otherwise(0.0)
                      + F.when(F.col("r_vec").isNotNull(),
                               1.0 / (RRF_K + F.col("r_vec"))).otherwise(0.0)
                      ).alias("rrf_score"),
                     "r_bm", "r_vec"))
    return (fused.orderBy(F.desc("rrf_score"), F.asc("doc_id"))
            .limit(k))


# -- round-4 wave: training-order shuffle + per-source quotas ----------

def _md5_key(salt: str, id_col: str = "doc_id") -> Column:
    """Deterministic 32-bit shuffle key: first 8 hex chars of
    md5(salt||id) as a long. No rand() — the same doc lands in the
    same place on every engine, run, and cluster size."""
    return (F.conv(F.substring(
        F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))
              .cast("binary")), 1, 8), 16, 10).cast("long"))


SHUFFLE_SHARDS = 8


def deterministic_shuffle(t: dict[str, DataFrame],
                          n_shards: int = SHUFFLE_SHARDS,
                          salt: str = "shuf|") -> DataFrame:
    """Global training-order shuffle: the step that turns a curated
    corpus into the randomized read order a training job consumes.
    Each doc gets an md5 shuffle key; shard = key mod n_shards, and
    the position within the shard is the rank of the key (doc_id
    tie-break makes the order total even under 32-bit key
    collisions).

    Scale shape: ONE shuffle on shard_id, then each shard sorts
    independently — no global sort, no single-task rank window. At
    100 TB, n_shards scales with the cluster and each task writes one
    sorted shard file; this is exactly the physical layout
    `write_sorted_parquet` + `multimodal_shard_plan` feed a data
    loader."""
    w = Window.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    return (t["documents"]
            .select("doc_id",
                    _md5_key(salt).alias("shuffle_key"))
            .withColumn("shard",
                        (F.col("shuffle_key") % n_shards).cast("int"))
            .select("doc_id", "shard", "shuffle_key",
                    F.row_number().over(w).alias("pos")))


# below the 25-docs-per-source the gate corpus carries at every sf, so
# the cap actually filters in the driver's correctness sample
QUOTA_PER_SOURCE = 15
QUOTA_SPLITS = 32


def source_quota_sample(t: dict[str, DataFrame],
                        quota: int = QUOTA_PER_SOURCE,
                        salt: str = "quota|") -> DataFrame:
    """Per-source document quota: cap every ingestion feed (domain,
    crawl host, dump shard) at `quota` docs, chosen by deterministic
    md5 rank — the domain-cap step of web-corpus curation (keeps one
    giant domain from dominating the mixture).

    Skew is the whole problem here: ONE hot source can hold most of
    the corpus, and a single per-source rank window would funnel it
    through one task. Two-phase selection instead: phase 1 ranks
    within (source, key mod 32) — the hot source splits across 32
    hash sub-splits, each keeping ≤quota survivors — and phase 2
    ranks the ≤32·quota survivors per source exactly. Phase 1 is a
    pure superset prefilter (any doc in the true top-quota is in the
    top-quota of its own sub-split), so the result is identical to
    the single-window answer while the per-task row bound is
    O(corpus/32 + 32·quota)."""
    d = (t["documents"]
         .select("doc_id", "source", _md5_key(salt).alias("key"))
         .withColumn("sub", (F.col("key") % QUOTA_SPLITS).cast("int")))
    w1 = Window.partitionBy("source", "sub").orderBy("key", "doc_id")
    survivors = (d.withColumn("rk1", F.row_number().over(w1))
                 .where(F.col("rk1") <= quota))
    w2 = Window.partitionBy("source").orderBy("key", "doc_id")
    return (survivors
            .select("doc_id", "source", "key",
                    F.row_number().over(w2).alias("rk"))
            .where(F.col("rk") <= quota))


def doc_bigram_lm_score(t: dict[str, DataFrame]) -> DataFrame:
    """Per-doc fluency score under the corpus bigram LM (the CCNet /
    Gopher "perplexity filter" shape): every bigram's conditional
    probability c(w1,w2)/c(w1·), aggregated per doc. Low average =
    improbable transitions = boilerplate/garbled text.

    Portability by construction: each term is quantized to an INTEGER
    ppm (10⁶·c12 div c1), so per-doc sums/mins are exact bigint
    arithmetic in any aggregation order on any engine — no float fold
    ordering to pin. The only float op is ONE final division.

    Scale shape: the exploded bigram stream is retained and scanned
    three times (two vocab-bounded model aggregates + the per-doc
    stream); the model joins shuffle on w1[,w2] (AQE broadcasts them
    when the vocab is small), the scoring agg shuffles on doc_id.
    Model size is vocab-bounded, never corpus-bounded."""
    toks = tokens()
    bigrams = F.expr(
        "transform(sequence(0, size(toks) - 2), "
        "i -> struct(toks[i] AS w1, toks[i+1] AS w2))")
    bg = retain(
        spread(t["documents"].select("doc_id", "text"))
        .select("doc_id", toks.alias("toks"))
        .where(F.size("toks") >= 2)
        .select("doc_id", F.explode(bigrams).alias("b"))
        .select("doc_id", "b.w1", "b.w2"))
    pair_cnt = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    uni_cnt = (bg.groupBy(F.col("w1").alias("u_w1"))
               .agg(F.count(F.lit(1)).alias("c1")))
    terms = (bg.join(pair_cnt, ["w1", "w2"])
             .join(uni_cnt, F.col("w1") == F.col("u_w1"))
             .select("doc_id", F.expr(
                 "CAST(1000000 AS BIGINT) * c12 DIV c1").alias("ppm")))
    return (terms.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.min("ppm").alias("min_ppm"),
                 F.sum("ppm").alias("sum_ppm"))
            .select("doc_id", "n_bigrams", "min_ppm", "sum_ppm",
                    (F.col("sum_ppm")
                     / (F.col("n_bigrams") * F.lit(1000000)))
                    .alias("avg_prob")))


def langid_confusion(t: dict[str, DataFrame]) -> DataFrame:
    """Language-ID evaluation: the (actual, predicted) confusion
    matrix with per-cell counts and per-actual-language recall — the
    model-eval artifact that turns doc_langid from a score column into
    a measured classifier. Tiny two-key aggregate over the langid
    projection; the recall division is IEEE on exact counts."""
    from pyspark.sql import Window

    pred = doc_langid(t).select("lang", "pred_lang")
    cells = (pred.groupBy("lang", "pred_lang")
             .agg(F.count(F.lit(1)).alias("n")))
    w = Window.partitionBy("lang")
    return (cells
            .withColumn("n_actual", F.sum("n").over(w))
            .select("lang", "pred_lang", "n", "n_actual",
                    (F.col("n") / F.col("n_actual")).alias("frac"),
                    ((F.col("lang") == F.col("pred_lang"))
                     .cast("int")).alias("is_correct")))


def doc_simpson_diversity(t: dict[str, DataFrame]) -> DataFrame:
    """Lexical-diversity quality signal: per-doc Simpson concentration
    Σ c_i² over token counts and its inverse N²/Σc_i² — the
    "effective vocabulary size" (a doc repeating one word scores 1.0,
    an all-distinct doc scores N). The entropy-family diversity
    measure that stays ENGINE-EXACT: unlike Shannon entropy (p·ln p is
    not bit-portable), Simpson's index is pure integer arithmetic
    until one final IEEE division of two exactly-representable
    bigints.

    Zero shuffle: token counts never materialize as rows — the sorted
    token array folds in-row with a (prev, run_length, acc) state,
    adding run² at each run boundary (the run-length-encoding trick).
    State is 3 scalars per row whatever the doc length."""
    toks = tokens()
    init = F.struct(F.lit("").alias("prev"),
                    F.lit(0).cast("long").alias("run"),
                    F.lit(0).cast("long").alias("acc"))

    def step(acc, x):
        return F.when(
            x == acc["prev"],
            F.struct(x.alias("prev"),
                     (acc["run"] + F.lit(1)).alias("run"),
                     acc["acc"].alias("acc")),
        ).otherwise(
            F.struct(x.alias("prev"),
                     F.lit(1).cast("long").alias("run"),
                     (acc["acc"] + acc["run"] * acc["run"]).alias("acc")))

    simpson = F.aggregate(F.array_sort(toks), init, step,
                          lambda acc: acc["acc"] + acc["run"] * acc["run"])
    d = spread(t["documents"].select("doc_id", "text")).select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        simpson.alias("simpson_num"))
    return (d.where(F.col("n_tokens") > 0)
            .select("doc_id", "n_tokens", "simpson_num",
                    ((F.col("n_tokens") * F.col("n_tokens")).cast("double")
                     / F.col("simpson_num").cast("double"))
                    .alias("inv_simpson")))


BPE_TOPK = 50


def bpe_merge_pairs(t: dict[str, DataFrame]) -> DataFrame:
    """First iteration of BPE tokenizer training: corpus-wide counts
    of adjacent character pairs, weighted by word frequency — the
    merge-candidate table a byte-pair-encoding trainer ranks each
    round.

    Scale shape: pairs are generated from the DISTINCT-WORD dictionary
    (one word-count shuffle collapses the Zipf-heavy corpus to its
    vocabulary), so the per-character explode runs over |vocab| rows,
    not |corpus| tokens — the standard BPE trick, here as one
    aggregate + one higher-order-function explode + one pair-sum
    shuffle, all JVM codegen. Global top-50 plans as
    TakeOrderedAndProject (per-partition heap, no full sort)."""
    words = (t["documents"]
             .select(F.explode(tokens()).alias("w"))
             .groupBy("w").agg(F.count(F.lit(1)).alias("wc")))
    pairs = (words
             .where(F.length("w") >= 2)
             .select(F.explode(F.expr(
                 "transform(sequence(1, length(w)-1), "
                 "i -> substring(w, i, 2))")).alias("pair"),
                 "wc"))
    return (pairs.groupBy("pair").agg(F.sum("wc").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("pair"))
            .limit(BPE_TOPK))


CHUNK_TOKENS = 64
CHUNK_STRIDE = 48


def doc_chunks(t: dict[str, DataFrame]) -> DataFrame:
    """Overlapping fixed-size token chunking (64-token windows, stride
    48) — the retrieval-corpus build step that turns documents into
    embeddable passages with provenance.

    Pure narrow plan: tokenize, generate chunk starts with
    sequence(), slice per start, explode — zero shuffles, chunk count
    scales with token volume. The token array is pin()ned so the
    split runs once per DOCUMENT, not re-inlined per chunk row by
    CollapseProject. chunk_id = start/stride is derivable (no
    positional explode index that an engine could order differently);
    the md5 over the space-joined slice gives each passage a content
    address for downstream dedup."""
    from ..functions import pin
    d = (pin(t["documents"].select("doc_id", "text"), toks=tokens())
         .select("doc_id", "toks", F.size("toks").alias("n"))
         .where(F.col("n") > 0))
    c = CHUNK_TOKENS
    s = CHUNK_STRIDE
    chunks = d.select(
        "doc_id", "toks",
        F.explode(F.expr(f"sequence(0, n - 1, {s})")).alias("start"))
    chunk = F.slice("toks", F.col("start") + 1, c)
    return (chunks
            .select(
                "doc_id",
                F.expr(f"start DIV {s}").alias("chunk_id"),
                "start",
                F.size(chunk).alias("n_chunk_tokens"),
                F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash")))


def phrase_search(t: dict[str, DataFrame]) -> DataFrame:
    """Exact phrase search through a POSITIONAL INVERTED INDEX — the
    search-engine primitive: find every occurrence of the corpus's
    most frequent bigram by joining the two terms' posting lists on
    (doc, adjacent positions), never rescanning documents.

    The query phrase is derived in-plan (top bigram by count,
    deterministic tie-break) so the operator is self-contained; the
    posting table is built once (posexplode, retained) and each term's
    postings are filtered BEFORE the position join — at 100 TB the
    join touches two posting lists, not the corpus. One (doc, pos)
    shuffle for the adjacency join; TakeOrderedAndProject for the
    top-1 phrase."""
    from ..functions.cache import retain
    d = (t["documents"]
         .select("doc_id", tokens().alias("toks"))
         .where(F.size("toks") >= 2))
    postings = retain(
        d.select("doc_id", F.posexplode("toks").alias("pos", "tok"))
        .select("doc_id", (F.col("pos") + 1).alias("pos"), "tok"))
    bigrams = d.select(F.explode(F.expr(
        "transform(sequence(1, size(toks) - 1), "
        "i -> struct(toks[i-1] AS w1, toks[i] AS w2))")).alias("b"))
    top = (bigrams.groupBy("b.w1", "b.w2")
           .agg(F.count(F.lit(1)).alias("cnt"))
           .orderBy(F.desc("cnt"), F.asc("w1"), F.asc("w2"))
           .limit(1))
    p1 = (postings.join(F.broadcast(top), F.col("tok") == F.col("w1"))
          .select("doc_id", "pos", "w1", "w2", "cnt"))
    p2 = postings.select(F.col("doc_id").alias("doc2"),
                         F.col("pos").alias("pos2"), "tok")
    hits = p1.join(p2, (F.col("doc_id") == F.col("doc2"))
                   & (F.col("pos2") == F.col("pos") + 1)
                   & (F.col("tok") == F.col("w2")))
    return (hits.groupBy("doc_id", "w1", "w2", "cnt")
            .agg(F.count(F.lit(1)).alias("n_matches"),
                 F.min("pos").alias("first_pos"))
            .select("doc_id", "w1", "w2",
                    F.col("cnt").alias("corpus_count"),
                    "n_matches", "first_pos"))


BPE_MERGES = 32
_BPE_SEP = "\x1f"   # unit separator: never appears in space-split tokens


def bpe_vocab_32(t: dict[str, DataFrame]) -> DataFrame:
    """FULL BPE tokenizer-training loop: 32 greedy merges over the
    corpus, returning the learned merge table (step, s1, s2, cnt) —
    what `bpe_merge_pairs` (one iteration's candidate counts)
    becomes when the trainer actually runs.

    Scale shape: the corpus collapses ONCE to its distinct-word
    vocabulary with frequencies (the standard BPE trick), so every
    iteration is vocabulary-sized regardless of corpus size: one
    pair-count aggregate (explode adjacent symbol pairs, weighted by
    word count, map-side combined) + a TakeOrdered top-1, then one
    JVM `replace` projection applies the merge. Word shapes are kept
    as separator-framed strings (`␟s1␟␟s2␟…`), so applying a merge is
    a single non-overlapping left-to-right `replace` — the exact
    greedy application order BPE specifies, with byte-identical
    semantics in Spark and DuckDB (verified for overlapping-candidate
    cases like `aaa` and `abab`). Every round's vocabulary frame is
    lineage-TRUNCATED (localCheckpoint / reliable checkpoint): 32
    chained cached projections under AQE nest each round's executed
    query stages inside the next round's plan, and Spark's own plan
    handling overflows the stack before any data moves — the same
    hazard the connected-components loop documents. Only the 32
    winning pairs ever reach the driver.

    Deterministic: ties break on (count DESC, s1 ASC, s2 ASC) under
    binary collation in both engines. The oracle unrolls the same 32
    steps as MATERIALIZED CTEs."""
    merges, _ = _bpe_train(t)
    return t["documents"].sparkSession.createDataFrame(
        merges, "step int, s1 string, s2 string, cnt bigint")


def _word_pair_counts(frame: DataFrame, weight) -> DataFrame:
    """Weighted adjacent-symbol pair counts (s1, s2, cnt) of the
    separator-framed `rep` column — the BPE candidate table. Weight
    is a Column (negative for the retract side of a delta)."""
    syms = F.split(F.expr("btrim(rep, chr(31))"),
                   _BPE_SEP + _BPE_SEP, -1)
    return (frame.select(weight.alias("wt"), syms.alias("syms"))
            .where(F.size("syms") >= 2)
            .select("wt", F.explode(F.expr(
                "transform(sequence(1, size(syms) - 1), "
                "i -> struct(syms[i-1] AS s1, syms[i] AS s2))"))
                .alias("p"))
            .groupBy("p.s1", "p.s2")
            .agg(F.sum("wt").alias("cnt")))


def _bpe_train(t: dict[str, DataFrame]
               ) -> tuple[list[tuple], DataFrame]:
    """Shared BPE training core: returns (merge list, final vocabulary
    frame (w, wc, rep)) after BPE_MERGES greedy rounds. See
    `bpe_vocab_32` for the scale/lineage design notes.

    DELTA-RECOUNT rounds: the candidate pair-count table is
    MAINTAINED, not rebuilt — between rounds only pairs adjacent to
    the merged symbol change, so each round recounts just the words
    that CONTAIN the winning pattern (retract their old pairs at
    −wc, add the rewritten word's pairs at +wc) and folds the signed
    delta into the standing table, dropping zeroed rows. Round cost
    is |affected-word symbols| + |pair vocabulary|, not |all word
    symbols| — at web-scale vocab the tail merges touch a vanishing
    corpus fraction (measured at sf0.1: 50 word recounts across all
    32 rounds vs 992 for the full rebuild; the affected set shrinks
    to 1 word/round by step 16). Counts stay exact integers (both sides of a
    delta are recounted from the actual strings, so overlapping
    patterns like `aaa` under an `a·a` merge net correctly), and the
    (cnt DESC, s1, s2) top-1 tie-break sees the same table the full
    rebuild would — the merge list is bit-identical (pinned by the
    unrolled-CTE oracle at both SFs and by the pure-python trainer
    property test, test_bpe_train_matches_python_reference)."""
    from .dedup import _truncate_lineage
    words = (t["documents"]
             .select(F.explode(tokens()).alias("w"))
             .groupBy("w").agg(F.count(F.lit(1)).alias("wc")))
    prev = _truncate_lineage(words.select(
        "w", "wc",
        F.regexp_replace("w", "(.)", _BPE_SEP + "$1" + _BPE_SEP)
        .alias("rep")))
    pc = _truncate_lineage(_word_pair_counts(prev, F.col("wc")))
    out_rows: list[tuple] = []
    for step in range(1, BPE_MERGES + 1):
        top = (pc.orderBy(F.desc("cnt"), F.asc("s1"), F.asc("s2"))
               .limit(1).collect())
        if not top:
            break
        s1, s2, cnt = top[0]["s1"], top[0]["s2"], top[0]["cnt"]
        out_rows.append((step, s1, s2, cnt))
        pat = _BPE_SEP + s1 + _BPE_SEP + _BPE_SEP + s2 + _BPE_SEP
        new = _BPE_SEP + s1 + s2 + _BPE_SEP
        aff = prev.where(F.col("rep").contains(pat))
        # one scan of the affected words emits BOTH delta sides as
        # signed rows (old pairs at -wc, rewritten pairs at +wc);
        # the fold into the standing table is then a single groupBy
        empty = ("CAST(array() AS "
                 "array<struct<s1:string,s2:string,cnt:bigint>>)")
        sp = (aff.select(
            "wc",
            F.split(F.btrim("rep", F.lit(_BPE_SEP)),
                    _BPE_SEP + _BPE_SEP, -1).alias("so"),
            F.split(F.btrim(F.replace("rep", F.lit(pat), F.lit(new)),
                            F.lit(_BPE_SEP)),
                    _BPE_SEP + _BPE_SEP, -1).alias("sn"))
            .select(F.explode(F.expr(
                "concat("
                "CASE WHEN size(so) >= 2 THEN"
                " transform(sequence(1, size(so) - 1),"
                "  i -> struct(so[i-1] AS s1, so[i] AS s2,"
                "              -wc AS cnt))"
                f" ELSE {empty} END, "
                "CASE WHEN size(sn) >= 2 THEN"
                " transform(sequence(1, size(sn) - 1),"
                "  i -> struct(sn[i-1] AS s1, sn[i] AS s2,"
                "              wc AS cnt))"
                f" ELSE {empty} END)")).alias("p"))
            .select("p.s1", "p.s2", "p.cnt"))
        pc = _truncate_lineage(
            pc.unionByName(sp).groupBy("s1", "s2")
            .agg(F.sum("cnt").alias("cnt"))
            .where(F.col("cnt") != 0))
        prev = _truncate_lineage(prev.select(
            "w", "wc",
            F.replace("rep", F.lit(pat), F.lit(new)).alias("rep")))
    return out_rows, prev


def bpe_apply_doc_tokens(t: dict[str, DataFrame]) -> DataFrame:
    """Apply the TRAINED tokenizer to the corpus: per document, the
    whitespace word count versus the BPE symbol count after the 32
    learned merges, plus the compression ratio — the number a
    tokenizer-training pipeline reports to judge merge quality before
    shipping the vocab.

    Scale shape: training is vocabulary-sized (`_bpe_train`); applying
    it is a word → symbol-count lookup — one join of the exploded
    corpus words against the |vocab|-row symbol table and a per-doc
    sum, never re-running merges over raw text. Every word is in the
    vocabulary by construction (same corpus), so the join is inner
    and lossless."""
    _, vocab = _bpe_train(t)
    syms = F.split(F.expr("btrim(rep, chr(31))"),
                   _BPE_SEP + _BPE_SEP, -1)
    wsym = vocab.select("w", F.size(syms).alias("n_sym"))
    docw = (t["documents"]
            .select("doc_id", F.explode(tokens()).alias("w")))
    return (docw.join(wsym, "w")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_words"),
                 F.sum("n_sym").alias("n_bpe_tokens"))
            .select("doc_id", "n_words", "n_bpe_tokens",
                    (F.col("n_bpe_tokens").cast("double")
                     / F.col("n_words").cast("double"))
                    .alias("symbols_per_word")))


RZ_SHARDS = 8


def rendezvous_shards(t: dict[str, DataFrame]) -> DataFrame:
    """Rendezvous (highest-random-weight) shard assignment audit —
    the consistent-hashing routing a live ingest tier uses so that
    GROWING the shard count moves only ~1/(n+1) of the keys (modulo
    hashing moves nearly all of them). Per shard: doc count under
    RZ_SHARDS shards, how many of those docs would move when one
    shard is ADDED, and the moved fraction (expect ≈ 1/(n+1)).

    Zero shuffle until the final ≤n_shards-row aggregate: each doc's
    winning shard is a row-local array_max over md5 weights (struct
    max = lexicographic, deterministic in both engines), evaluated
    for n and n+1 shards in one projection."""
    def shard(n: int):
        return F.expr(
            f"array_max(transform(sequence(0, {n - 1}), "
            "s -> struct(md5(CAST(concat('rz|', CAST(s AS STRING), "
            "'|', CAST(doc_id AS STRING)) AS BINARY)) AS w, s))).s")
    d = t["documents"].select(
        shard(RZ_SHARDS).alias("shard"),
        shard(RZ_SHARDS + 1).alias("shard_next"))
    return (d.groupBy("shard")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum((F.col("shard") != F.col("shard_next"))
                       .cast("long")).alias("n_moved"))
            .select("shard", "n_docs", "n_moved",
                    (F.col("n_moved").cast("double")
                     / F.col("n_docs").cast("double"))
                    .alias("moved_frac")))


def doc_length_histogram(t: dict[str, DataFrame]) -> DataFrame:
    """Log₂-bucketed corpus length distribution — the first chart a
    curation run looks at (truncation cliffs, boilerplate spikes).
    The bucket is the INTEGER bit length of n_chars (length(bin(x)) −
    1 = floor(log₂ x)) so both engines bucket by exact integer
    arithmetic — no float log at bucket edges. One count shuffle over
    ≤64 buckets; corpus share per bucket rides a window over the tiny
    histogram frame."""
    d = (t["documents"]
         .where(F.col("n_chars") > 0)
         .select((F.length(F.bin("n_chars")) - 1).alias("log2_bucket"),
                 "n_chars"))
    hist = (d.groupBy("log2_bucket")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min("n_chars").alias("min_chars"),
                 F.max("n_chars").alias("max_chars")))
    wa = Window.partitionBy()
    return hist.select(
        F.col("log2_bucket").cast("int").alias("log2_bucket"),
        "n_docs", "min_chars", "max_chars",
        (F.col("n_docs").cast("double")
         / F.sum("n_docs").over(wa).cast("double")).alias("doc_share"))


ENTROPY_GRID = 1_000_000   # per-term quantization: micro-nat units


def doc_token_entropy(t: dict[str, DataFrame]) -> DataFrame:
    """Per-document Shannon entropy of the token distribution — the
    repetition/diversity quality signal (low entropy = spammy or
    template text) filter pipelines cut on.

    ZERO exchanges: token counts come from in-row array ops
    (distinct tokens → per-token multiplicity), and the entropy sum
    runs as a row-local fold. Exactness: each term c·ln(n/c) is
    quantized to integer micro-nats BEFORE the sum (floor(x·1e6+0.5)
    as BIGINT), so the per-doc sum is integer arithmetic —
    order-independent and engine-exact; H = units/1e6/n is then one
    deterministic double expression. The ``pin`` keeps the counts
    array a real row value so the fold doesn't re-inline the
    distinct+filter scan per element."""
    from ..functions import pin
    d = (t["documents"]
         .select("doc_id", tokens().alias("toks"))
         .where(F.size("toks") > 0))
    pinned = pin(d, cs=F.expr(
        "transform(array_distinct(toks), "
        "x -> size(filter(toks, y -> y = x)))"))
    units = F.expr(
        "aggregate(cs, CAST(0 AS BIGINT), (acc, c) -> acc + "
        f"CAST(floor(c * ln(size(toks) / CAST(c AS DOUBLE)) "
        f"* {ENTROPY_GRID} + 0.5) AS BIGINT))")
    withu = pin(pinned, h_units=units)
    return withu.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.size("cs").alias("n_distinct_tokens"),
        "h_units",
        (F.col("h_units").cast("double") / ENTROPY_GRID
         / F.size("toks")).alias("entropy_nats"))


PMI_VOCAB_K = 32
PMI_MIN_PAIRS = 5
PMI_GRID = 1_000_000


def token_pmi_pairs(t: dict[str, DataFrame]) -> DataFrame:
    """Pointwise mutual information of token co-occurrence within
    documents, restricted to the corpus's top-32 vocabulary — the
    collocation statistic ("which words travel together") corpus
    analysis and phrase-mining pipelines start from.

    The vocabulary restriction is the scale bound: per-doc candidate
    pairs are ≤ C(32,2) regardless of document length or corpus size
    (unrestricted co-occurrence is quadratic in per-doc distinct
    tokens). Vocab is one token-count aggregate (key space = the
    vocabulary) collapsed to a broadcast array; the in-doc pair
    explosion is an in-row array comprehension; pair counts are one
    (x, y) aggregate. PMI = ln(N·c_xy / (c_x·c_y)) is quantized to
    integer micro-nats (identical operands both engines — counts are
    exact integers, so the ratio is the same double)."""
    from ..functions.cache import retain
    toks = tokens()
    vocab = (t["documents"]
             .select(F.explode(toks).alias("token"))
             .groupBy("token").agg(F.count(F.lit(1)).alias("c"))
             .orderBy(F.desc("c"), F.asc("token"))
             .limit(PMI_VOCAB_K)
             .agg(F.sort_array(F.collect_list("token")).alias("vocab")))
    d = retain(
        t["documents"]
        .select("doc_id", toks.alias("toks"))
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", F.sort_array(F.array_intersect(
            F.array_distinct(F.col("toks")), F.col("vocab")))
            .alias("vt"))
        .where(F.size("vt") > 0))
    n_docs = d.agg(F.count(F.lit(1)).alias("nd"))
    cx = (d.select(F.explode("vt").alias("x"))
          .groupBy("x").agg(F.count(F.lit(1)).alias("cx")))
    pairs = (d.select(F.explode(F.expr(
        "flatten(transform(vt, (x, i) -> "
        "transform(slice(vt, i + 2, size(vt)), y -> struct(x, y))))"))
        .alias("p"))
        .select(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
        .groupBy("x", "y").agg(F.count(F.lit(1)).alias("cxy"))
        .where(F.col("cxy") >= PMI_MIN_PAIRS))
    cy = cx.select(F.col("x").alias("y"), F.col("cx").alias("cy"))
    ratio = (F.col("nd").cast("double") * F.col("cxy")
             / (F.col("cx").cast("double") * F.col("cy")))
    return (pairs.join(F.broadcast(cx), "x")
            .join(F.broadcast(cy), "y")
            .crossJoin(F.broadcast(n_docs))
            .select("x", "y", "cxy", "cx", "cy",
                    F.floor(F.log(ratio) * PMI_GRID + 0.5)
                    .cast("bigint").alias("pmi_units")))


BOTTOMK_SAMPLE_K = 64


def bottomk_hash_sample(t: dict[str, DataFrame],
                        k: int = BOTTOMK_SAMPLE_K,
                        salt: str = "bk|") -> DataFrame:
    """Exact-size deterministic uniform k-sample: the k documents with
    the SMALLEST md5(salt|doc_id) — the bottom-k sketch that gives a
    reproducible fixed-size sample (unlike pct-bucket sampling, whose
    size drifts with corpus size) and composes under union (bottom-k
    of a union = bottom-k of the parts' bottom-ks — each shard sends
    only k rows to the coordinator).

    Plan: TakeOrderedAndProject — per-partition k-row heaps, one
    k-row merge at the driver side of the exchange; no global sort at
    any scale."""
    key = F.md5(F.concat(F.lit(salt), F.col("doc_id").cast("string"))
                .cast("binary"))
    return (t["documents"]
            .select("doc_id", "lang", "source",
                    key.alias("sample_key"))
            .orderBy(F.asc("sample_key"), F.asc("doc_id"))
            .limit(k))


KL_GRID = 1_000_000


def source_lang_kl(t: dict[str, DataFrame]) -> DataFrame:
    """Per-source KL divergence between the source's language mix and
    the corpus-wide language mix — the feed-composition drift score
    that flags a source suddenly shipping the wrong language blend
    into the training mixture.

    Every probability is a ratio of exact counts, and each language's
    contribution c_sl·ln((c_sl·N)/(n_s·c_l)) is quantized to integer
    micro-nats BEFORE the per-source sum (≤ |langs| bigints —
    order-independent, engine-exact); KL = units/1e6/n_s is one
    deterministic double expression. Shapes: one (source, lang)
    count shuffle, two tiny rollups (langs / corpus total) broadcast,
    a same-key source join — nothing scales past the source × lang
    key space."""
    sl = retain(t["documents"]
                .groupBy("source", "lang")
                .agg(F.count(F.lit(1)).alias("c_sl")))
    ns = sl.groupBy("source").agg(F.sum("c_sl").alias("n_s"))
    cl = sl.groupBy("lang").agg(F.sum("c_sl").alias("c_l"))
    tot = sl.agg(F.sum("c_sl").alias("n_tot"))
    ratio = (F.col("c_sl").cast("double") * F.col("n_tot")
             / (F.col("n_s").cast("double") * F.col("c_l")))
    units = (F.floor(F.col("c_sl") * F.log(ratio) * KL_GRID + 0.5)
             .cast("bigint"))
    return (sl.join(F.broadcast(cl), "lang")
            .join(ns, "source")
            .crossJoin(F.broadcast(tot))
            .select("source", "n_s", units.alias("u"))
            .groupBy("source")
            .agg(F.max("n_s").alias("n_docs"),
                 F.sum("u").alias("kl_units"))
            .withColumn("kl_nats",
                        F.col("kl_units").cast("double") / KL_GRID
                        / F.col("n_docs")))


TEMP_ALPHA = 0.7
TEMP_GRID = 1_000_000          # micro-units for p^alpha quantization
TEMP_TOKEN_BUDGET = 10_000_000


def source_temperature_weights(t: dict[str, DataFrame]) -> DataFrame:
    """Temperature-based source mixing weights — the sampling math an
    LLM data pipeline runs to decide how much of each source to draw:
    w_s ∝ p_s^α (α=0.7) where p_s is the source's token share, plus
    the implied epochs-over-the-source at a nominal token budget
    (epochs > 1 ⇒ the mixture up-samples / repeats that source).

    Exactness: p_s is a ratio of exact integer token counts; p_s^α is
    ONE pow() call quantized to integer micro-units BEFORE the
    normalizing sum (≤ |sources| bigints — order-independent), so the
    weights are engine-exact. Shapes: one map-side-combinable source
    aggregate over in-row token counts; every window runs on the
    sources-bounded frame."""
    per = (t["documents"]
           .groupBy("source")
           .agg(F.sum(F.size(tokens())).alias("n_tokens"),
                F.count(F.lit(1)).alias("n_docs")))
    wt = Window.partitionBy()
    p = F.col("n_tokens").cast("double") / F.sum("n_tokens").over(wt)
    q = F.floor(F.pow(p, F.lit(TEMP_ALPHA)) * TEMP_GRID + 0.5) \
         .cast("bigint")
    withq = per.select("source", "n_docs", "n_tokens",
                       p.alias("token_share"), q.alias("q"))
    w = F.col("q").cast("double") / F.sum("q").over(wt)
    return withq.select(
        "source", "n_docs", "n_tokens", "token_share",
        w.alias("weight"),
        (w * F.lit(float(TEMP_TOKEN_BUDGET))
         / F.col("n_tokens").cast("double")).alias("epochs"))


VOCAB_CURVE_POINTS = 10


def vocab_growth_curve(t: dict[str, DataFrame]) -> DataFrame:
    """Heaps-law vocabulary growth curve: distinct-vocabulary size and
    token volume after each tenth of the corpus (by doc_id position) —
    the diminishing-returns chart behind "how much new data does new
    data buy". The cumulative COUNT(DISTINCT) that would be quadratic
    is the first-seen trick: one word-keyed min(doc_id) aggregate,
    words and docs bucketed into the 10 checkpoint intervals by pure
    integer arithmetic on the broadcast (min,max) doc_id anchor, then
    running sums over the constant 10-row frame."""
    d = retain(t["documents"]
               .select("doc_id", F.size(tokens()).alias("n_toks"),
                       tokens().alias("toks")))
    anchor = d.agg(F.min("doc_id").alias("lo"),
                   F.max("doc_id").alias("hi"))
    # checkpoint k (1..10) covers doc_id <= lo + (hi-lo)*k DIV 10;
    # bucket = smallest such k = ceil(offs*10/span), INTEGER-exact
    # (bigint DIV, never a double division that could mis-bucket on
    # a ULP at large doc_id magnitudes)
    def bucket(col: str) -> Column:
        return F.greatest(F.lit(1), F.least(
            F.lit(VOCAB_CURVE_POINTS),
            F.when(F.col("hi") == F.col("lo"), F.lit(1)).otherwise(
                F.expr(f"CAST((({col} - lo) * {VOCAB_CURVE_POINTS}"
                       f" + (hi - lo) - 1) DIV (hi - lo) AS INT)"))))
    first = (d.select(F.explode("toks").alias("w"), "doc_id")
             .groupBy("w").agg(F.min("doc_id").alias("fd"))
             .crossJoin(F.broadcast(anchor))
             .groupBy(bucket("fd").alias("k"))
             .agg(F.count(F.lit(1)).alias("new_words")))
    toks = (d.crossJoin(F.broadcast(anchor))
            .groupBy(bucket("doc_id").alias("k"))
            .agg(F.sum("n_toks").alias("toks_in"),
                 F.count(F.lit(1)).alias("docs_in")))
    spine = (t["documents"].sparkSession
             .range(1, VOCAB_CURVE_POINTS + 1)
             .select(F.col("id").cast("int").alias("k")))
    wk = (Window.orderBy("k")
          .rowsBetween(Window.unboundedPreceding, 0))
    return (spine
            .join(F.broadcast(first), "k", "left")
            .join(F.broadcast(toks), "k", "left")
            .select("k",
                    F.sum(F.coalesce("docs_in", F.lit(0)))
                    .over(wk).alias("docs"),
                    F.sum(F.coalesce("toks_in", F.lit(0)))
                    .over(wk).alias("tokens"),
                    F.sum(F.coalesce("new_words", F.lit(0)))
                    .over(wk).alias("vocab")))


def doc_ttr_profile(t: dict[str, DataFrame]) -> DataFrame:
    """Per-document lexical profile: token count, distinct tokens,
    type-token ratio, average/max word length — the cheap lexical-
    diversity features a quality classifier consumes. Entirely in-row
    higher-order array expressions (zero shuffle, zero UDF); the only
    doubles are single divisions of exact integers."""
    toks = tokens()
    lens = F.transform(toks, lambda x: F.length(x))
    n = F.size(toks)
    return (t["documents"]
            .select("doc_id",
                    n.alias("n_tokens"),
                    F.size(F.array_distinct(toks))
                    .alias("n_distinct"),
                    (F.size(F.array_distinct(toks)).cast("double")
                     / n).alias("ttr"),
                    (F.aggregate(lens, F.lit(0).cast("bigint"),
                                 lambda a, x: a + x).cast("double")
                     / n).alias("avg_word_len"),
                    F.array_max(lens).alias("max_word_len"))
            .where(n > 0))


ZIPF_TOPK = 1000
ZIPF_GRID = 1_000_000


def zipf_slope_topk(t: dict[str, DataFrame]) -> DataFrame:
    """Zipf-fit report over the top-1000 corpus terms: least-squares
    slope/intercept of ln(freq) on ln(rank) — the corpus-health
    number that flags template spam (slope far from ≈ −1). One
    map-side-combinable term count, a distributed top-k (TakeOrdered,
    freq DESC / term ASC), ranks + regression sums over the constant
    1000-row frame. ln(rank) and ln(freq) are quantized to integer
    micro-units per term BEFORE summation (DECIMAL(38,0) — exact and
    order-independent), so slope/intercept are single deterministic
    double expressions over exact sums."""
    tf = (t["documents"]
          .select(F.explode(tokens()).alias("w"))
          .groupBy("w").agg(F.count(F.lit(1)).alias("c"))
          .orderBy(F.desc("c"), F.asc("w")).limit(ZIPF_TOPK))
    wr = Window.orderBy(F.desc("c"), F.asc("w"))
    ranked = tf.select(
        "c", F.row_number().over(wr).alias("r"))
    xq = F.floor(F.log(F.col("r").cast("double")) * ZIPF_GRID + 0.5) \
          .cast("bigint")
    yq = F.floor(F.log(F.col("c").cast("double")) * ZIPF_GRID + 0.5) \
          .cast("bigint")
    s = (ranked.select(xq.alias("x"), yq.alias("y"))
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("x").alias("sx"), F.sum("y").alias("sy"),
              F.sum(F.col("x") * F.col("y")).alias("sxy"),
              F.sum(F.col("x") * F.col("x")).alias("sxx")))
    n = F.col("n").cast("double")
    g = float(ZIPF_GRID)
    sx = F.col("sx").cast("double") / g
    sy = F.col("sy").cast("double") / g
    sxy = F.col("sxy").cast("double") / (g * g)
    sxx = F.col("sxx").cast("double") / (g * g)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        F.col("n").cast("bigint").alias("n_terms"),
        slope.alias("slope"),
        ((sy / n) - slope * (sx / n)).alias("intercept"))


BOOL_SEARCH_TERMS = 3


def boolean_and_search(t: dict[str, DataFrame]) -> DataFrame:
    """Conjunctive (AND) boolean retrieval through the inverted
    index: documents containing ALL of the corpus's top-3 tokens,
    ranked by summed term frequency — the other half of the search
    primitive next to `phrase_search`'s positional lookup.

    Self-contained like phrase_search: the query terms are derived
    in-plan (top-3 tokens by corpus count, count-desc/token-asc
    deterministic tie-break, TakeOrderedAndProject). The term-
    frequency table builds once (one doc-token shuffle); each term's
    postings filter through the broadcast 3-row term list BEFORE the
    per-doc conjunction, so at 100 TB the AND touches three posting
    lists, not the corpus. The conjunction is one groupBy(doc)
    HAVING count(*) = 3 — integer-exact scoring, no floats."""
    tf = retain(t["documents"]
                .select("doc_id", F.explode(tokens()).alias("tok"))
                .groupBy("doc_id", "tok")
                .agg(F.count(F.lit(1)).alias("tf")))
    top = (tf.groupBy("tok")
           .agg(F.sum("tf").alias("cnt"))
           .orderBy(F.desc("cnt"), F.asc("tok"))
           .limit(BOOL_SEARCH_TERMS)
           .select("tok"))
    hits = tf.join(F.broadcast(top), "tok")
    return (hits.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_terms"),
                 F.sum("tf").alias("total_tf"))
            .where(F.col("n_terms") == BOOL_SEARCH_TERMS)
            .select("doc_id", "total_tf"))


CALIB_BIN_WIDTH = 64      # w_sum units per calibration bin


def classifier_score_calibration(t: dict[str, DataFrame]) -> DataFrame:
    """Calibration table for the hash-trick quality classifier: bin
    documents by raw classifier weight-sum and report, per bin, how
    often the independent C4-style filter battery agrees (`keep`
    rate) — the reliability diagram that says whether the cheap
    model's score is monotone in actual quality before it gates a
    corpus.

    Both inputs are zero-shuffle per-row projections over the same
    scan; the bin is integer floor-division of the exact BIGINT
    weight sum (no float binning), and the only shuffle is the final
    bounded-key bin aggregate. Rates and means are single IEEE
    divisions over exact integer sums."""
    score = hashed_classifier_score(t).select("doc_id", "w_sum")
    keep = doc_quality_filters(t).select("doc_id", "keep")
    j = score.join(keep, "doc_id")
    g = (j.groupBy((F.col("w_sum") - F.pmod("w_sum",
                                            F.lit(CALIB_BIN_WIDTH)))
                   .alias("bin_lo"))
         .agg(F.count(F.lit(1)).alias("n_docs"),
              F.sum("keep").alias("n_keep"),
              F.sum("w_sum").alias("sw")))
    return g.select(
        "bin_lo", "n_docs",
        (F.col("n_keep").cast("double") / F.col("n_docs"))
        .alias("keep_rate"),
        (F.col("sw").cast("double") / F.col("n_docs"))
        .alias("mean_w_sum"))


def dup_rate_by_length(t: dict[str, DataFrame]) -> DataFrame:
    """Exact-duplicate rate by document-length bucket — the audit
    that shows whether duplication concentrates in short boilerplate
    or long mirrored pages, deciding where a dedup pass pays.

    One md5 shuffle; duplicate membership is `count OVER (PARTITION
    BY hash) > 1` (the dup_span pattern — no join-back), the length
    bucket is integer floor-division of n_chars, and the final
    aggregate runs on the bounded bucket key."""
    w = Window.partitionBy("h")
    d = (t["documents"]
         .select("n_chars", F.md5("text").alias("h"))
         .select((F.col("n_chars") - F.pmod("n_chars", F.lit(256)))
                 .alias("len_bin"),
                 (F.count(F.lit(1)).over(w) > 1).cast("long")
                 .alias("is_dup")))
    g = (d.groupBy("len_bin")
         .agg(F.count(F.lit(1)).alias("n_docs"),
              F.sum("is_dup").alias("n_dup_docs")))
    return g.select(
        "len_bin", "n_docs", "n_dup_docs",
        (F.col("n_dup_docs").cast("double") / F.col("n_docs"))
        .alias("dup_rate"))


def decontaminated_corpus_stats(t: dict[str, DataFrame]) -> DataFrame:
    """Decontamination pass report: per source, how many documents
    (and whitespace tokens) survive dropping everything whose
    cross-source 3-gram contamination exceeds 50% — the before/after
    accounting a team reviews before cutting an eval split.

    Composes the shingle-dictionary contamination audit (two
    shingle-keyed shuffles, never all-pairs) with one per-source
    aggregate; the keep test is exact integer arithmetic
    (2·n_contaminated ≤ n_shingles — no float threshold)."""
    overlap = contamination_overlap(t)
    toks_n = (t["documents"]
              .select("doc_id", F.size(tokens()).alias("n_tokens")))
    j = overlap.join(toks_n, "doc_id")
    keep_i = ((F.lit(2) * F.col("n_contaminated"))
              <= F.col("n_shingles")).cast("long")
    g = (j.groupBy("source")
         .agg(F.count(F.lit(1)).alias("n_docs"),
              F.sum(keep_i).alias("n_kept"),
              F.sum("n_tokens").alias("n_tokens"),
              F.sum(keep_i * F.col("n_tokens")).alias("n_kept_tokens")))
    return g.select(
        "source", "n_docs", "n_kept", "n_tokens", "n_kept_tokens",
        (F.col("n_kept").cast("double") / F.col("n_docs"))
        .alias("doc_keep_rate"),
        (F.col("n_kept_tokens").cast("double") / F.col("n_tokens"))
        .alias("token_keep_rate"))


SKIPGRAM_MIN_COUNT = 3
SKIPGRAM_TOP_K = 100


def skipgram_pairs(t: dict[str, DataFrame]) -> DataFrame:
    """Positional skip-gram co-occurrence: ordered token pairs at gap
    1 and 2 (the word2vec-style context window a tokenizer/embedding
    pipeline counts), with corpus counts, pruned to pairs seen ≥
    SKIPGRAM_MIN_COUNT times and the TOP_K strongest — the positional
    complement to token_pmi_pairs' doc-level co-occurrence.

    Pair generation is IN-ROW (one transform over a 1..len−gap index
    sequence per gap — no posexplode self-join, so the shuffle
    carries pairs, linear in corpus tokens, not positions²); one
    (x, y, gap) count aggregate map-side combines, and the final
    TOP_K is TakeOrderedAndProject on the unique (cnt desc, x, y,
    gap) key — deterministic at the rank boundary, no global sort."""
    d = (spread(t["documents"].select("text"))
         .select(tokens().alias("tk"))
         .where(F.size("tk") >= 2))
    gap_arrays = [F.expr(
        f"CASE WHEN size(tk) > {g} THEN "
        f"transform(sequence(1, size(tk) - {g}), "
        f"i -> named_struct('x', element_at(tk, i), "
        f"'y', element_at(tk, i + {g}), 'gap', {g})) "
        f"ELSE array() END") for g in (1, 2)]
    pairs = (d.select(F.explode(F.concat(*gap_arrays)).alias("p"))
             .select("p.x", "p.y", F.col("p.gap").cast("int").alias("gap")))
    c = (pairs.groupBy("x", "y", "gap")
         .agg(F.count(F.lit(1)).alias("cnt"))
         .where(F.col("cnt") >= SKIPGRAM_MIN_COUNT))
    return (c.orderBy(F.desc("cnt"), F.asc("x"), F.asc("y"),
                      F.asc("gap"))
            .limit(SKIPGRAM_TOP_K))


TRUNC_CTXS = (128, 512, 2048)


def doc_truncation_loss(t: dict[str, DataFrame]) -> DataFrame:
    """Context-length truncation report: for each candidate training
    context length L, how many documents overflow and what share of
    corpus tokens a hard truncate-at-L would throw away — the number
    that decides between truncating, chunking (`doc_chunks`), and
    packing (`sequence_packing`).

    ONE map-side-combinable aggregate computes every per-L
    conditional sum (kept = Σ min(tok, L), lost = Σ max(tok − L, 0),
    overflow doc count) in a single pass over per-doc token counts;
    the per-L rows then unstack IN-ROW from that singleton via
    `stack` — no second scan, no shuffle beyond the one aggregate.
    All counts exact BIGINTs; loss_share is one double division."""
    toks = tokens()
    d = t["documents"].select(F.size(toks).cast("long").alias("nt"))
    aggs = [F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").alias("tok_total")]
    for L in TRUNC_CTXS:
        aggs += [
            F.sum((F.col("nt") > L).cast("long")).alias(f"over_{L}"),
            F.sum(F.greatest(F.col("nt") - L, F.lit(0).cast("long")))
            .alias(f"lost_{L}")]
    g = d.agg(*aggs)
    stack = ", ".join(
        f"{L}, over_{L}, lost_{L}" for L in TRUNC_CTXS)
    return (g.selectExpr(
        "n_docs", "tok_total",
        f"stack({len(TRUNC_CTXS)}, {stack}) AS (ctx_len, "
        "n_docs_truncated, tokens_lost)")
        .select(F.col("ctx_len").cast("int").alias("ctx_len"),
                "n_docs", "n_docs_truncated", "tok_total",
                "tokens_lost",
                (F.col("tok_total") - F.col("tokens_lost"))
                .alias("tokens_kept"),
                (F.col("tokens_lost").cast("double")
                 / F.col("tok_total").cast("double"))
                .alias("loss_share")))


VOCAB_COVERAGE_KS = (100, 1_000, 10_000)


def vocab_coverage_curve(t: dict[str, DataFrame]) -> DataFrame:
    """Vocabulary coverage curve: the share of all corpus tokens
    covered by the top-k most frequent words, k ∈ {100, 1k, 10k} —
    the tokenizer-budget planning number (how big a word-level vocab
    must be before <unk> mass is negligible).

    The global frequency rank is the distributed prefix sum
    (`functions/prefix.py`) of a constant 1 under (count desc, token
    asc — the oracle's exact tie-break), bucketed on the NEGATED
    count so count TIES never straddle buckets — no single ORDER BY
    window over the (at web scale, billions-row) vocabulary. Each
    k's covered-token mass is a conditional sum in ONE final
    aggregate; rank·count sums are exact BIGINTs and coverage is a
    single double division."""
    vocab = retain(
        t["documents"]
        .select(F.explode(tokens()).alias("token"))
        .groupBy("token").agg(F.count(F.lit(1)).alias("cnt")))
    b, _ = buckets(vocab, -F.col("cnt").cast("double"))
    ranked = prefix_sums(b.withColumn("one", F.lit(1)),
                         [F.desc("cnt"), F.asc("token")], ["one"]) \
        .withColumnRenamed("cum_one", "rnk")
    aggs = [F.count(F.lit(1)).alias("vocab_size"),
            F.sum("cnt").alias("tok_total")]
    for k in VOCAB_COVERAGE_KS:
        aggs.append(F.sum(F.when(F.col("rnk") <= k, F.col("cnt"))
                          .otherwise(F.lit(0).cast("long")))
                    .alias(f"cov_{k}"))
    g = ranked.agg(*aggs)
    stack = ", ".join(f"{k}, cov_{k}" for k in VOCAB_COVERAGE_KS)
    return (g.selectExpr(
        "vocab_size", "tok_total",
        f"stack({len(VOCAB_COVERAGE_KS)}, {stack}) "
        "AS (k, covered_tokens)")
        .select(F.col("k").cast("int").alias("k"),
                "vocab_size", "tok_total", "covered_tokens",
                (F.col("covered_tokens").cast("double")
                 / F.col("tok_total").cast("double"))
                .alias("coverage")))


ZIPF_TOP = 50


def token_zipf_table(t: dict[str, DataFrame]) -> DataFrame:
    """Zipf's-law audit WITHOUT logs: the top-50 tokens with rank,
    count, and the rank·count product — for natural text the product
    is roughly constant (Zipf exponent ≈ 1), and a flat or bimodal
    product column is the corpus-health smell (template spam, OCR
    noise, wrong tokenization) caught before training. Integer-exact
    everywhere (no cross-engine log/float hazard); the share divides
    two exact integers once.

    Scale shape: one vocab-bounded count aggregate, top-50 via
    TakeOrdered on (count desc, token asc) — no global sort, no
    vocab-wide window; the rank window runs over the 50 collected
    survivors only."""
    vocab = (t["documents"]
             .select(F.explode(tokens()).alias("token"))
             .groupBy("token").agg(F.count(F.lit(1)).alias("cnt")))
    tot = vocab.agg(F.sum("cnt").alias("tok_total"))
    top = (vocab.orderBy(F.desc("cnt"), F.asc("token"))
           .limit(ZIPF_TOP))
    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    return (top.crossJoin(F.broadcast(tot))
            .withColumn("rank", F.row_number().over(w))
            .select("rank", "token", "cnt",
                    (F.col("rank") * F.col("cnt")).alias("rank_x_cnt"),
                    (F.col("cnt").cast("double")
                     / F.col("tok_total").cast("double"))
                    .alias("share")))


PACK_CTXS = (128, 512, 2048)


def packing_efficiency_by_ctx(t: dict[str, DataFrame]) -> DataFrame:
    """Concat-then-chunk packing efficiency per candidate context
    length: for each (lang stream, L), how many training sequences
    the stream fills and what padding share the FINAL partial
    sequence wastes — the ctx-length planning table read next to
    `doc_truncation_loss` (truncate) and `sequence_packing` (the
    per-pack audit at one L). n_seq = ⌈T/L⌉ and padding = n_seq·L − T
    are pure integer arithmetic over one per-lang token-total
    aggregate; per-L rows unstack in-row."""
    d = (t["documents"]
         .select("lang", F.size(tokens()).cast("long").alias("nt"))
         .groupBy("lang").agg(F.sum("nt").alias("tok")))
    exprs = []
    for L in PACK_CTXS:
        exprs.append(f"{L}, (tok + {L} - 1) DIV {L}, "
                     f"((tok + {L} - 1) DIV {L}) * {L} - tok")
    return (d.selectExpr(
        "lang", "tok",
        f"stack({len(PACK_CTXS)}, {', '.join(exprs)}) "
        "AS (ctx_len, n_sequences, pad_tokens)")
        .select("lang", F.col("ctx_len").cast("int").alias("ctx_len"),
                F.col("tok").alias("stream_tokens"),
                "n_sequences", "pad_tokens",
                (F.col("tok").cast("double")
                 / (F.col("n_sequences") * F.col("ctx_len"))
                 .cast("double")).alias("efficiency")))


def langid_margin_hist(t: dict[str, DataFrame]) -> DataFrame:
    """Language-ID confidence histogram: per (score margin, correct?)
    cell, how many documents — margin = best marker score minus
    second-best (integer, from `doc_langid`'s stopword profile), the
    triage number that says whether low-confidence predictions are
    the ones going wrong. In-row sorted score array gives the margin
    (scores are small ints — exact); one ≤(margins × 2)-key
    aggregate."""
    toks = tokens()
    d = t["documents"].select("doc_id", "lang", toks.alias("toks"))
    scored = d.select(
        "doc_id", "lang",
        *[_count_in(F.col("toks"), m).alias(f"score_{lang}")
          for lang, m in sorted(LANG_MARKERS.items())])
    arr = F.array_sort(F.array(
        *[F.col(f"score_{lang}") for lang in sorted(LANG_MARKERS)]))
    n = len(LANG_MARKERS)
    best = F.greatest(*[F.col(f"score_{lang}")
                        for lang in sorted(LANG_MARKERS)])
    pred = F.lit("unk")
    for lang in sorted(LANG_MARKERS, reverse=True):
        pred = F.when((best > 0) & (F.col(f"score_{lang}") == best),
                      F.lit(lang)).otherwise(pred)
    m = scored.select(
        (F.element_at(arr, n) - F.element_at(arr, n - 1))
        .alias("margin"),
        (pred == F.col("lang")).alias("is_correct"))
    return (m.groupBy("margin", "is_correct")
            .agg(F.count(F.lit(1)).alias("n_docs")))


def doc_sentence_stats(t: dict[str, DataFrame]) -> DataFrame:
    """Per-document sentence statistics (count, mean tokens per
    sentence, longest sentence) on a [.!?]+ splitter — the
    readability/boilerplate signal next to `doc_quality_score`
    (machine-generated text shows degenerate sentence-length
    distributions). Pure per-row projection: one regex split, one
    in-row transform over the sentence array, integer-exact counts
    with a single final division."""
    sents = F.expr(
        "filter(transform(split(text, '[.!?]+'), "
        "s -> size(filter(split(s, ' '), x -> x != ''))), n -> n > 0)")
    d = spread(t["documents"].select("doc_id", "text")) \
        .select("doc_id", sents.alias("sl"))
    return d.select(
        "doc_id",
        F.size("sl").alias("n_sentences"),
        F.expr("aggregate(sl, 0, (a, x) -> a + x)")
        .alias("sent_tokens"),
        F.coalesce(F.array_max("sl"), F.lit(0)).alias("max_sentence"),
        F.when(F.size("sl") > 0,
               F.expr("aggregate(sl, 0, (a, x) -> a + x)")
               .cast("double") / F.size("sl"))
        .alias("mean_sentence_tokens"))


SYSTEMATIC_TICKS = 100


def token_budget_sample(t: dict[str, DataFrame]) -> DataFrame:
    """Deterministic SYSTEMATIC sampling proportional to size: lay
    the corpus out on its cumulative token axis (doc_id order) and
    keep every document whose token interval contains a multiple of
    T = ⌊total/100⌋ — the RNG-free probability-proportional-to-size
    draw (longer docs proportionally likelier, ~100 docs out at any
    corpus size) used to build calibration/eval subsets that match
    the corpus's TOKEN mass, where uniform doc sampling skews short.

    The cumulative axis is the distributed prefix sum
    (`functions/prefix.py`) of token counts in doc_id order, and
    tick-crossing is pure integer arithmetic (cum_before DIV T <
    cum_after DIV T), identical in the oracle."""
    d = retain(t["documents"]
               .select("doc_id", "lang", "source",
                       F.size(tokens()).cast("long").alias("nt")))
    b, _ = buckets(d, F.col("doc_id").cast("double"))
    j = (prefix_sums(b, [F.asc("doc_id")], ["nt"])
         .withColumnRenamed("cum_nt", "cum_after")
         .withColumn("cum_before", F.col("cum_after") - F.col("nt"))
         .withColumn("tick", F.greatest(
             F.lit(1).cast("long"),
             F.expr(f"tot_nt DIV {SYSTEMATIC_TICKS}"))))
    return (j.where(F.expr("cum_before DIV tick")
                    < F.expr("cum_after DIV tick"))
            .select("doc_id", "lang", "source", "nt",
                    "cum_before", "cum_after"))


def tokenizer_fertility_by_lang(t: dict[str, DataFrame]) -> DataFrame:
    """Tokenizer FERTILITY by language — BPE symbols per whitespace
    word for each lang after the 32 learned merges — the fairness
    number multilingual-tokenizer reports lead with (a vocab trained
    on the dominant language fragments the others; fertility is the
    per-lang cost multiplier). Training is the shared delta-recount
    loop (`_bpe_train`, vocabulary-sized); applying it is one
    |vocab|-row symbol-count join against the exploded corpus and a
    languages-bounded aggregate."""
    _, vocab = _bpe_train(t)
    syms = F.split(F.expr("btrim(rep, chr(31))"),
                   _BPE_SEP + _BPE_SEP, -1)
    wsym = vocab.select("w", F.size(syms).alias("n_sym"))
    docw = t["documents"].select("lang", F.explode(tokens()).alias("w"))
    return (docw.join(wsym, "w")
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_words"),
                 F.sum("n_sym").alias("n_bpe_tokens"))
            .select("lang", "n_words", "n_bpe_tokens",
                    (F.col("n_bpe_tokens").cast("double")
                     / F.col("n_words").cast("double"))
                    .alias("symbols_per_word")))


def winnowing_pair_candidates(t: dict[str, DataFrame],
                              min_shared: int = 2,
                              max_group: int = 50) -> DataFrame:
    """Shift-tolerant near-dup CANDIDATE PAIRS from the winnowing
    fingerprints: docs sharing >= 2 selected (k-gram-hash) prints —
    the plagiarism/local-overlap blocking step `winnowing_fingerprints`
    exists to feed (guarantee: any shared substring of length
    >= k + w - 1 produces a shared print, so true local overlaps
    can't be missed at the blocking stage — unless the print is
    boilerplate, see the cap). One print-keyed self-join on DISTINCT
    (doc, fp), the LSH band-join shape — and like every blocking
    join it needs a HOT-GROUP CAP: a print shared by thousands of
    docs is a stop-gram (tiny-vocab corpora and boilerplate headers
    produce them), carries no discriminative signal, and would emit
    k² pair rows. Prints held by more than ``max_group`` docs are
    dropped BEFORE the join (one count pass), bounding pair output
    at prints × max_group² — the 10× scale smoke is what caught the
    uncapped quadratic. The n_shared >= 2 gate then drops
    singleton-collision noise."""
    fp = (winnowing_fingerprints(t)
          .select("doc_id", "fp").distinct())
    w = Window.partitionBy("fp")
    fp = (fp.withColumn("_g", F.count(F.lit(1)).over(w))
          .where((F.col("_g") >= 2) & (F.col("_g") <= max_group))
          .drop("_g"))
    a = fp.select(F.col("doc_id").alias("doc_a"), "fp")
    b = fp.select(F.col("doc_id").alias("doc_b"), "fp")
    return (a.join(b, "fp")
            .where(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .where(F.col("n_shared") >= min_shared))


def doc_char_entropy(t: dict[str, DataFrame]) -> DataFrame:
    """Per-document Shannon entropy of the CHARACTER distribution —
    the gibberish/binary-spill detector that token entropy can't see
    (a doc of unique made-up words has high token entropy but normal
    char entropy; base64 blobs and keyboard mash invert that).
    Same machinery as `doc_token_entropy`: in-row distinct+count
    arrays, per-term c·ln(n/c) quantized to integer micro-nats
    BEFORE the sum (order-free, engine-exact), one deterministic
    double at the end. ZERO exchanges."""
    from ..functions import pin
    d = (spread(t["documents"].select("doc_id", "text"))
         .select("doc_id", F.split("text", "").alias("cs0"))
         .where(F.size("cs0") > 0))
    pinned = pin(d, cnts=F.expr(
        "transform(array_distinct(cs0), "
        "x -> size(filter(cs0, y -> y = x)))"))
    units = F.expr(
        "aggregate(cnts, CAST(0 AS BIGINT), (acc, c) -> acc + "
        f"CAST(floor(c * ln(size(cs0) / CAST(c AS DOUBLE)) "
        f"* {ENTROPY_GRID} + 0.5) AS BIGINT))")
    withu = pin(pinned, h_units=units)
    return withu.select(
        "doc_id",
        F.size("cs0").alias("n_chars"),
        F.size("cnts").alias("n_distinct_chars"),
        "h_units",
        (F.col("h_units").cast("double") / ENTROPY_GRID
         / F.size("cs0")).alias("entropy_nats"))


def doc_script_mix(t: dict[str, DataFrame]) -> DataFrame:
    """Per-document SCRIPT census: counts of ascii letters, digits,
    CJK ideographs, and whitespace, plus the mixed-script flag — the
    routing signal multilingual curation branches on (a "latin" doc
    full of CJK is mislabeled; heavy digit share is tables/logs).
    Four codegen'd regexp_replace length-diffs per row, zero
    exchanges, byte-identical classes in both engines (literal
    character ranges, no locale classes)."""
    def n_of(pattern: str) -> F.Column:
        # count = length kept by the keep-class (no lower(): case
        # folding is engine-specific for exotic code points; the
        # classes are explicit literal ranges instead)
        return F.length(F.regexp_replace(F.col("text"), pattern, ""))

    d = t["documents"].select(
        "doc_id",
        F.length("text").alias("n_chars"),
        (F.length("text") - n_of("[^a-zA-Z]")).alias("n_latin"),
        (F.length("text") - n_of("[^0-9]")).alias("n_digit"),
        (F.length("text") - n_of("[^一-鿿]")).alias("n_cjk"),
        (F.length("text") - n_of("[^ ]")).alias("n_space"))
    return d.select(
        "*",
        ((F.col("n_latin") > 0) & (F.col("n_cjk") > 0))
        .cast("int").alias("is_mixed_script"))


TEMPLATE_PREFIX_TOKENS = 8


def template_prefix_groups(t: dict[str, DataFrame]) -> DataFrame:
    """Boilerplate-template detection by SHARED PREFIX: documents
    opening with the same first 8 tokens (headers, scraped nav
    bars, licence stubs) grouped with counts and a canonical
    exemplar — the cheap complement to `dup_span_stats` (which
    requires 16-token repeats ANYWHERE, this pins position 0 where
    templates live). One prefix-keyed shuffle; k docs sharing a
    prefix cost k rows."""
    w = TEMPLATE_PREFIX_TOKENS
    d = (t["documents"]
         .select("doc_id", tokens().alias("toks"))
         .where(F.size("toks") >= w)
         .select("doc_id",
                 F.array_join(F.slice("toks", 1, w), " ")
                 .alias("prefix")))
    return (d.groupBy("prefix")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min("doc_id").alias("exemplar_doc_id"))
            .where(F.col("n_docs") >= 2))


# round-7 wave 1: corpus-LM quality scoring + the Gopher repetition /
# quality rule battery (Rae et al. 2021 §A1.1, public arXiv:2112.11446)

LOGPROB_GRID = 1_000_000   # per-token quantization: micro-nat units


def unigram_logprob_quality(t: dict[str, DataFrame]) -> DataFrame:
    """CCNet-style quality proxy: per-document mean negative
    log-likelihood under the CORPUS unigram LM (low mean-NLL = made
    of common tokens = typical text; high = rare-token noise).

    Two passes, both shuffle-light: per-doc (token, count) pairs come
    from IN-ROW array ops (distinct tokens only — the frame is
    vocab-per-doc sized, far smaller than the exploded token stream),
    the corpus frequency table is one map-side-combinable groupBy on
    the token key, and the total-token scalar rides a broadcast
    1-row frame (never a driver collect). Each token type's NLL
    ln(total/tf) quantizes to integer micro-nats BEFORE the per-doc
    sum (the doc_token_entropy convention), so the sum is exact
    integer arithmetic — partial-aggregation order can't perturb it —
    and engines match bit-for-bit. At 100 TB the frequency table is
    vocab-bounded (≪ corpus), so the pairs→freq join broadcasts."""
    from ..functions import pin
    from ..functions.cache import retain
    d = (spread(t["documents"].select("doc_id", "text"))
         .select("doc_id", tokens().alias("toks"))
         .where(F.size("toks") > 0))
    pairs = retain(
        pin(d, pr=F.expr(
            "transform(array_distinct(toks), x -> "
            "struct(x AS tok, size(filter(toks, y -> y = x)) AS c))"))
        .select("doc_id", F.size("toks").alias("n_tokens"),
                F.explode("pr").alias("p"))
        .select("doc_id", "n_tokens",
                F.col("p.tok").alias("tok"), F.col("p.c").alias("c")))
    freq = retain(pairs.groupBy("tok")
                  .agg(F.sum("c").cast("long").alias("tf")))
    total = freq.agg(F.sum("tf").cast("long").alias("total"))
    scored = (pairs
              .join(F.broadcast(freq), "tok")
              .crossJoin(F.broadcast(total))
              .select(
                  "doc_id", "n_tokens",
                  (F.col("c").cast("long")
                   * F.floor(F.log(F.col("total").cast("double")
                                   / F.col("tf").cast("double"))
                             * LOGPROB_GRID + F.lit(0.5)).cast("long"))
                  .alias("u")))
    return (scored.groupBy("doc_id", "n_tokens")
            .agg(F.sum("u").alias("nll_units"))
            .select("doc_id", "n_tokens", "nll_units",
                    (F.col("nll_units") / F.lit(float(LOGPROB_GRID))
                     / F.col("n_tokens")).alias("mean_nll")))


def gopher_ngram_fractions(t: dict[str, DataFrame]) -> DataFrame:
    """The Gopher repetition-rule signals per document: the char
    fraction covered by the single most-frequent word 2-gram and
    3-gram, and the char mass of all DUPLICATED word 5-grams
    (count ≥ 2) over the doc length — the filters that catch
    boilerplate loops and spam keyword stuffing.

    ZERO exchanges: n-grams, their counts, and the maxima are all
    in-row array folds over the token list (the doc_token_entropy
    shape), so the op is a pure map at any scale. Tie-break for "the
    most frequent n-gram" is deterministic: max count first, then
    max char length among the tied grams (array_max over a
    (count, len) struct orders lexicographically by field). The
    dup-5-gram mass is the simple per-occurrence sum (the public
    Gopher appendix's overlap-aware variant needs positional
    interval union; the sum is its documented upper bound)."""
    from ..functions import pin

    def grams(n: int) -> str:
        joined = ", ".join(f"toks[i + {j}]" for j in range(n))
        return (f"transform(sequence(0, size(toks) - {n}), "
                f"i -> concat_ws(' ', {joined}))")

    def top_mass(col: str) -> F.Column:
        # max (count, char-len) over distinct grams -> count * len
        best = F.expr(
            f"array_max(transform(array_distinct({col}), g -> "
            f"struct(size(filter({col}, x -> x = g)) AS c, "
            f"length(g) AS l)))")
        return (best["c"] * best["l"]).cast("long")

    def dup_mass(col: str) -> F.Column:
        return F.expr(
            f"aggregate(transform(array_distinct({col}), g -> "
            f"struct(size(filter({col}, x -> x = g)) AS c, "
            f"length(g) AS l)), 0L, (acc, s) -> "
            f"acc + IF(s.c >= 2, CAST(s.c AS BIGINT) * s.l, 0L))")

    d = (spread(t["documents"].select("doc_id", "text"))
         .select("doc_id", F.length("text").alias("n_chars"),
                 tokens().alias("toks"))
         .where(F.size("toks") >= 5))
    pinned = pin(d,
                 g2=F.expr(grams(2)), g3=F.expr(grams(3)),
                 g5=F.expr(grams(5)))
    return pinned.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        (top_mass("g2") / F.col("n_chars")).alias("top2_frac"),
        (top_mass("g3") / F.col("n_chars")).alias("top3_frac"),
        (dup_mass("g5") / F.col("n_chars")).alias("dup5_frac"))


GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_LEN = 3.0
GOPHER_MAX_MEAN_LEN = 10.0
GOPHER_MIN_STOPWORDS = 2      # distinct stopword types present
GOPHER_MIN_ALPHA_RATIO = 0.8  # tokens containing >= 1 alpha char


def gopher_quality_rules(t: dict[str, DataFrame]) -> DataFrame:
    """Per-SOURCE pass rates for the Gopher document-quality rules:
    word-count bounds, mean-word-length bounds, minimum distinct
    stopwords, and minimum alphabetic-token ratio — the gate table a
    curation run reads to decide which crawl sources need manual
    review before training.

    One in-row rule evaluation (pure map) + one map-side-combinable
    groupBy on the enumeration-bounded source key. Mean word length
    uses the exact integer pair (char mass, token count) and compares
    via cross-multiplication — no division, no float threshold
    wobble."""
    toks = tokens()
    d = spread(t["documents"].select("source", "text")).select(
        "source",
        F.size(toks).alias("n_tok"),
        F.expr("aggregate(filter(split(text, ' '), x -> x != ''), "
               "0L, (a, x) -> a + length(x))").alias("char_mass"),
        F.size(F.array_distinct(
            F.filter(toks, lambda x: x.isin(*STOPWORDS_EN))))
        .alias("n_stop_types"),
        F.size(F.filter(toks, lambda x: x.rlike("[a-zA-Z]")))
        .alias("n_alpha"))
    rules = d.select(
        "source",
        ((F.col("n_tok") >= GOPHER_MIN_WORDS)
         & (F.col("n_tok") <= GOPHER_MAX_WORDS))
        .cast("int").alias("p_words"),
        ((F.col("char_mass") >= GOPHER_MIN_MEAN_LEN * F.col("n_tok"))
         & (F.col("char_mass") <= GOPHER_MAX_MEAN_LEN * F.col("n_tok")))
        .cast("int").alias("p_meanlen"),
        (F.col("n_stop_types") >= GOPHER_MIN_STOPWORDS)
        .cast("int").alias("p_stop"),
        (F.col("n_alpha") * 10 >= F.col("n_tok") * 8)
        .cast("int").alias("p_alpha"))
    agg = rules.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("p_words").alias("pass_words"),
        F.sum("p_meanlen").alias("pass_meanlen"),
        F.sum("p_stop").alias("pass_stopwords"),
        F.sum("p_alpha").alias("pass_alpha"),
        F.sum(F.col("p_words") * F.col("p_meanlen")
              * F.col("p_stop") * F.col("p_alpha")).alias("pass_all"))
    return agg.select(
        "*", (F.col("pass_all") / F.col("n_docs")).alias("pass_rate"))


def hapax_share_by_source(t: dict[str, DataFrame]) -> DataFrame:
    """Per-source hapax-legomena profile: vocabulary size, the count
    of tokens seen exactly once in that source, their share of the
    vocabulary, and the total token mass — the lexical-diversity
    fingerprint that separates organic text (hapax-heavy) from
    template spam (hapax-poor) when deciding source weights.

    Same two-stage shape as unigram_logprob_quality: in-row per-doc
    (token, count) pairs (distinct-token sized), then ONE grouped
    aggregate onto the (source, token) key — fully map-side
    combinable, no skew (vocab keys are near-uniform)."""
    from ..functions import pin
    d = (t["documents"]
         .select("source", tokens().alias("toks"))
         .where(F.size("toks") > 0))
    pairs = (pin(d, pr=F.expr(
        "transform(array_distinct(toks), x -> "
        "struct(x AS tok, size(filter(toks, y -> y = x)) AS c))"))
        .select("source", F.explode("pr").alias("p"))
        .select("source", F.col("p.tok").alias("tok"),
                F.col("p.c").alias("c")))
    tf = (pairs.groupBy("source", "tok")
          .agg(F.sum("c").cast("long").alias("tf")))
    return (tf.groupBy("source")
            .agg(F.count(F.lit(1)).alias("vocab_size"),
                 F.sum((F.col("tf") == 1).cast("long"))
                 .alias("hapax_count"),
                 F.sum("tf").alias("token_mass"))
            .select("source", "vocab_size", "hapax_count", "token_mass",
                    (F.col("hapax_count") / F.col("vocab_size"))
                    .alias("hapax_share")))


# round-7 wave 2: DSIR importance weights (Xie et al. 2023,
# arXiv:2302.03169 - hashed n-gram importance resampling)

DSIR_BUCKETS = 10_000
DSIR_TARGET_LANG = "en"
# hashed-bigram bucket ids for a `toks` array column (shared by the
# batch scorer and the streaming gate so both lanes hash identically)
DSIR_BG_EXPR = ("transform(sequence(0, size(toks) - 2), i -> "
                "pmod(cast(conv(substring(md5(cast(concat('dsir|', "
                "toks[i], ' ', toks[i + 1]) AS binary)), 1, 8), 16, 10) "
                f"AS bigint), {DSIR_BUCKETS}))")


def dsir_importance_weights(t: dict[str, DataFrame]) -> DataFrame:
    """Data Selection via Importance Resampling: per-document log
    importance weight log(p_target(x)/p_raw(x)) under hashed-BIGRAM
    unigram-bag models of a target slice (lang = 'en' here, standing
    in for 'looks like the high-quality reference corpus') vs the raw
    corpus — the public DSIR recipe for choosing pretraining data
    that matches a target distribution.

    Model: bigrams hash into DSIR_BUCKETS buckets (md5-derived, the
    deterministic_sample convention); both bucket distributions get
    add-one smoothing. Per-bucket log-ratio terms quantize to integer
    micro-nats BEFORE the per-doc sum (the doc_token_entropy
    discipline), so cross-row arithmetic is exact integers.

    Scale: per-doc (bucket, count) pairs come from IN-ROW array ops;
    both frequency tables aggregate onto the BOUNDED bucket key space
    (map-side combine collapses everything to ≤ DSIR_BUCKETS rows)
    and broadcast back — no corpus-sized shuffle anywhere."""
    from ..functions import pin
    from ..functions.cache import retain
    bg = DSIR_BG_EXPR
    d = (spread(t["documents"].select("doc_id", "lang", "text"))
         .select("doc_id", "lang", tokens().alias("toks"))
         .where(F.size("toks") >= 2))
    pairs = retain(
        pin(pin(d, bgs=F.expr(bg)),
            pr=F.expr("transform(array_distinct(bgs), x -> "
                      "struct(x AS bkt, size(filter(bgs, y -> y = x)) "
                      "AS c))"))
        .select("doc_id", "lang", F.explode("pr").alias("p"))
        .select("doc_id", "lang", F.col("p.bkt").alias("bkt"),
                F.col("p.c").alias("c")))
    raw = (pairs.groupBy("bkt")
           .agg(F.sum("c").cast("long").alias("cr")))
    tgt = (pairs.where(F.col("lang") == DSIR_TARGET_LANG)
           .groupBy("bkt").agg(F.sum("c").cast("long").alias("ct")))
    # smoothed per-bucket log-ratio table: bounded by DSIR_BUCKETS
    # rows, built once, broadcast to the per-doc sum
    prof = retain(
        raw.join(tgt, "bkt", "left")
        .select("bkt", "cr", F.coalesce("ct", F.lit(0)).alias("ct")))
    tot = prof.agg(F.sum("cr").alias("nr"), F.sum("ct").alias("nt"))
    lam = (prof.crossJoin(F.broadcast(tot))
           .select("bkt", F.floor(
               (F.log((F.col("ct") + 1).cast("double")
                      / (F.col("nt") + DSIR_BUCKETS).cast("double"))
                - F.log((F.col("cr") + 1).cast("double")
                        / (F.col("nr") + DSIR_BUCKETS).cast("double")))
               * LOGPROB_GRID + F.lit(0.5)).cast("long").alias("lam")))
    scored = (pairs.join(F.broadcast(lam), "bkt")
              .groupBy("doc_id", "lang")
              .agg(F.sum("c").cast("long").alias("n_bigrams"),
                   F.sum(F.col("c").cast("long") * F.col("lam"))
                   .alias("liw_units")))
    return scored.select(
        "doc_id", "lang", "n_bigrams", "liw_units",
        (F.col("liw_units") / F.lit(float(LOGPROB_GRID)))
        .alias("log_importance_weight"))


# round-7 wave 3: weighted reservoir sampling (Efraimidis-Spirakis)

AES_K = 50
AES_GRID = 1_000_000          # md5-uniform resolution
AES_KEY_GRID = 1e12           # ln(u)/w quantization


def weighted_sample_docs(t: dict[str, DataFrame],
                         k: int = AES_K) -> DataFrame:
    """Weight-proportional sample WITHOUT replacement via the
    Efraimidis–Spirakis A-ES keys (2006): each doc draws a
    deterministic md5 uniform u and keeps key = ln(u)/w (equivalent
    to u^(1/w)); the global top-k keys are the sample — longer
    documents (w = n_chars) proportionally likelier, reproducible
    across runs/engines/cluster sizes, and mergeable (top-k of keys
    distributes as a TakeOrdered, the one-pass distributed weighted
    reservoir).

    Keys quantize to integer 1e-12 units before the ordering (the
    micro-nat discipline: both engines' ln agree to well under a
    quantum, and the tie-break (key desc, doc_id asc) is total), so
    membership is engine-exact."""
    u_ppm = (F.conv(F.substring(
        F.md5(F.concat(F.lit("aes|"), F.col("doc_id").cast("string"))
              .cast("binary")), 1, 8), 16, 10)
        .cast("long") % AES_GRID) + 1      # (0, 1e6] - never ln(0)
    key = F.floor(
        F.log(u_ppm.cast("double") / AES_GRID)
        / F.col("n_chars").cast("double") * AES_KEY_GRID
        + F.lit(0.5)).cast("long")
    return (t["documents"]
            .select("doc_id", "source", "n_chars",
                    u_ppm.alias("u_ppm"), key.alias("key_units"))
            .orderBy(F.desc("key_units"), F.asc("doc_id"))
            .limit(k))


# round-7 wave 8: CCNet perplexity buckets + distribution drift

JS_GRID = 1_000_000_000_000      # pico-nat term quantization


def ccnet_perplexity_buckets(t: dict[str, DataFrame]) -> DataFrame:
    """CCNet-style quality partitioning (Wenzek et al. 2020): per
    language, docs split into head/middle/tail TERTILES of the corpus
    bigram-LM fluency score — the bucketing CCNet uses to keep the
    head, sample the middle, and drop the tail of a crawl.

    The per-doc score is `doc_bigram_lm_score`'s integer rational,
    collapsed to one bigint (10⁶·Σppm DIV n_bigrams) so ordering
    never compares floats. Tertile fences are RANK-EXACT order
    statistics — value at rank ⌈n/3⌉ / ⌈2n/3⌉ per lang — via the
    shared `_grouped_rank_min` distributed-prefix selector (NO
    per-lang global sort; ties share a bucket by construction since
    bucket = how many fences the score exceeds). Per (lang, bucket):
    population and exact min/max/mean of the score."""
    from .analytics import _grouped_rank_min
    lm = doc_bigram_lm_score(t).select(
        "doc_id", F.expr("CAST(1000000 AS BIGINT) * sum_ppm "
                         "DIV n_bigrams").alias("score"))
    d = retain(t["documents"].select("doc_id", "lang")
               .join(lm, "doc_id")
               .select("lang", "score"))
    pts = (d.groupBy("lang", F.col("score").cast("double").alias("_k"))
           .agg(F.count(F.lit(1)).alias("c")))
    fences = _grouped_rank_min(
        pts, {"f1": "(n + 2) DIV 3", "f2": "(2 * n + 2) DIV 3"},
        "lang").select("lang", "f1", "f2")
    sd = F.col("score").cast("double")
    bucketed = (d.join(F.broadcast(fences), "lang")
                .select("lang", "score",
                        ((sd > F.col("f1")).cast("int")
                         + (sd > F.col("f2")).cast("int"))
                        .alias("b")))
    return (bucketed.groupBy("lang", "b")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min("score").alias("min_score"),
                 F.max("score").alias("max_score"),
                 F.sum("score").alias("ssum"))
            .select("lang",
                    # ascending score = ascending fluency: bucket 2 is
                    # the HEAD (most fluent), 0 the tail
                    F.element_at(F.array(F.lit("tail"), F.lit("middle"),
                                         F.lit("head")),
                                 F.col("b") + 1).alias("bucket"),
                    "n_docs", "min_score", "max_score",
                    # ONE IEEE division of exact integers (the
                    # avg_prob convention) — the 1e9 grid would push
                    # the ~1e10-unit score scale past long floor range
                    (F.col("ssum").cast("double")
                     / F.col("n_docs").cast("double"))
                    .alias("avg_score")))


def token_js_drift(t: dict[str, DataFrame]) -> DataFrame:
    """Per-source Jensen–Shannon divergence between the source's token
    unigram distribution and the corpus-wide one — the symmetric,
    bounded ([0, ln 2]) drift score for "is this feed's vocabulary
    composition shifting" (KL's blowup on unseen tokens makes it the
    wrong tool at token granularity; JSD is finite by construction).

    The out-of-vocabulary mass needs NO source×vocab expansion: for
    tokens absent from the source, the q-side term collapses to
    (ln 2 / 2)·q_t, so JSD = Σ_{t∈S} [p/2·ln(p/m) + q/2·ln(q/m)]
    + (ln 2 / 2)·(1 − Q_S) with Q_S = Σ_{t∈S} c_t / n_tot — exact
    integer counts outside the per-term float. Each in-vocab term is
    quantized to integer pico-nats BEFORE the per-source sum (the
    source_lang_kl discipline: order-independent bigint adds — note
    the grid removes order dependence, not engine ulp divergence in
    ln itself; twin parity also relies on JVM/libm ln agreement at
    these magnitudes); the final assembly is one deterministic double
    chain, floor-gridded to 1e-9 in both engines."""
    tk = retain(t["documents"]
                .select("source", F.explode(tokens()).alias("tok")))
    st = retain(tk.groupBy("source", "tok")
                .agg(F.count(F.lit(1)).alias("c_st")))
    ct = st.groupBy("tok").agg(F.sum("c_st").alias("c_t"))
    ns = st.groupBy("source").agg(F.sum("c_st").alias("n_s"))
    tot = ct.agg(F.sum("c_t").alias("n_tot"))
    j = (st.join(ct, "tok").join(ns, "source")
         .crossJoin(F.broadcast(tot)))
    pd = F.col("c_st").cast("double") / F.col("n_s").cast("double")
    qd = F.col("c_t").cast("double") / F.col("n_tot").cast("double")
    md = (pd + qd) / F.lit(2.0)
    term = (pd / F.lit(2.0) * F.log(pd / md)
            + qd / F.lit(2.0) * F.log(qd / md))
    u = F.floor(term * JS_GRID + F.lit(0.5)).cast("long")
    per = (j.select("source", "n_s", "c_t", u.alias("u"))
           .groupBy("source")
           .agg(F.max("n_s").alias("n_tokens"),
                F.count(F.lit(1)).alias("vocab_overlap"),
                F.sum("u").alias("su"),
                F.sum("c_t").alias("cs"))
           .crossJoin(F.broadcast(tot)))
    grid = lambda c: F.floor(c * 1e9 + F.lit(0.5)) / 1e9  # noqa: E731
    qs = F.col("cs").cast("double") / F.col("n_tot").cast("double")
    return per.select(
        "source", "n_tokens", "vocab_overlap",
        grid(qs).alias("q_mass_overlap"),
        grid(F.col("su").cast("double") / JS_GRID
             + F.log(F.lit(2.0)) / F.lit(2.0) * (F.lit(1.0) - qs))
        .alias("jsd_nats"))


# round-7 wave 13: held-out LM perplexity (the overfit audit)

LMHO_GRID = 1_000_000          # micro-nat NLL quantization


def lm_heldout_perplexity(t: dict[str, DataFrame]) -> DataFrame:
    """HELD-OUT bigram-LM perplexity per language: train the corpus
    bigram model on an md5-keyed half-split, score the other half
    with add-one smoothing — the generalization audit
    `doc_bigram_lm_score` can't give (scoring the training corpus
    with its own LM under-reports perplexity; the held-out number is
    the one a curation pipeline should threshold on).

    P(w2|w1) = (c12 + 1)/(c1 + V) with train-side counts and V =
    train successor vocabulary; unseen bigrams/contexts coalesce to
    0 exactly. Each bigram's NLL quantizes to integer micro-nats
    BEFORE the per-lang sum (the KL/JSD discipline); outputs per
    lang: held-out bigram mass, OOV-bigram share, average NLL, and
    perplexity = e^(avg NLL) as one gridded chain."""
    from ..functions.cache import retain
    split = (F.conv(F.substring(
        F.md5(F.concat(F.lit("lmho|"), F.col("doc_id").cast("string"))
              .cast("binary")), 1, 8), 16, 10).cast("long") % 2)
    toks = tokens()
    bigrams = F.expr(
        "transform(sequence(0, size(toks) - 2), "
        "i -> struct(toks[i] AS w1, toks[i+1] AS w2))")
    bg = retain(
        t["documents"]
        .select("doc_id", "lang", toks.alias("toks"),
                split.alias("split"))
        .where(F.size("toks") >= 2)
        .select("lang", "split", F.explode(bigrams).alias("b"))
        .select("lang", "split", "b.w1", "b.w2"))
    train = bg.where(F.col("split") == 0)
    pair = train.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    uni = (train.groupBy(F.col("w1").alias("u_w1"))
           .agg(F.count(F.lit(1)).alias("c1")))
    voc = train.agg(F.count_distinct("w2").alias("v"))
    held = (bg.where(F.col("split") == 1)
            .join(pair, ["w1", "w2"], "left")
            .join(uni, F.col("w1") == F.col("u_w1"), "left")
            .crossJoin(F.broadcast(voc)))
    c12d = F.coalesce(F.col("c12"), F.lit(0)).cast("double")
    c1d = F.coalesce(F.col("c1"), F.lit(0)).cast("double")
    vd = F.col("v").cast("double")
    u = F.floor(F.log((c1d + vd) / (c12d + F.lit(1.0)))
                * LMHO_GRID + F.lit(0.5)).cast("long")
    g = (held.select("lang", u.alias("u"),
                     F.col("c12").isNull().cast("long").alias("oov"))
         .groupBy("lang")
         .agg(F.count(F.lit(1)).alias("n_bigrams"),
              F.sum("oov").alias("n_oov"),
              F.sum("u").alias("su")))
    grid = lambda c: F.floor(c * 1e9 + F.lit(0.5)) / 1e9  # noqa: E731
    avg = (F.col("su").cast("double") / F.lit(float(LMHO_GRID))
           / F.col("n_bigrams").cast("double"))
    return g.select(
        "lang", "n_bigrams",
        grid(F.col("n_oov").cast("double")
             / F.col("n_bigrams").cast("double")).alias("oov_share"),
        grid(avg).alias("avg_nll_nats"),
        grid(F.exp(avg)).alias("perplexity"))


def heaps_law_fit(t: dict[str, DataFrame]) -> DataFrame:
    """Heaps'-law fit over the vocabulary growth curve: OLS of
    ln(vocab) on ln(tokens) across the 10 corpus checkpoints gives
    V ≈ k·N^β — the exponent that prices "how much new vocabulary the
    next 10 TB buys" (β ≈ 0.4-0.6 for natural text; β near 0 means
    the corpus vocabulary has saturated, near 1 means ID-like churn).

    Rides `vocab_growth_curve` unchanged; the 10-point frame folds
    IN-ROW over the k-sorted struct array (the KM sequential-fold
    convention — the only floats are ln of exact integers, combined
    in a fixed order identical to DuckDB's list_reduce), and the
    slope/intercept/R² chain floor-grids to 1e-9."""
    curve = (vocab_growth_curve(t)
             .where((F.col("tokens") > 0) & (F.col("vocab") > 0)))
    g = curve.agg(F.array_sort(F.collect_list(F.struct(
        "k",
        F.log(F.col("tokens").cast("double")).alias("x"),
        F.log(F.col("vocab").cast("double")).alias("y")))).alias("pts"))

    def fold(expr) -> Column:
        return F.aggregate("pts", F.lit(0.0), expr)

    n = F.size("pts").cast("double")
    sx = fold(lambda acc, p: acc + p["x"])
    sy = fold(lambda acc, p: acc + p["y"])
    sxy = fold(lambda acc, p: acc + p["x"] * p["y"])
    sxx = fold(lambda acc, p: acc + p["x"] * p["x"])
    syy = fold(lambda acc, p: acc + p["y"] * p["y"])
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    cov = n * sxy - sx * sy
    beta = cov / vx
    grid = lambda c: F.floor(c * 1e9 + F.lit(0.5)) / 1e9  # noqa: E731
    return g.select(
        F.size("pts").alias("n_points"),
        grid(beta).alias("heaps_beta"),
        grid(F.exp((sy - beta * sx) / n)).alias("heaps_k"),
        grid(cov * cov / (vx * vy)).alias("r_squared"))


CCNET_MID_KEEP_PCT = 50      # middle-bucket sampling rate (md5-keyed)


def ccnet_sampling_plan(t: dict[str, DataFrame]) -> DataFrame:
    """The CCNet curation DECISION (Wenzek et al. 2020 §4.4) on top of
    `ccnet_perplexity_buckets`: KEEP the head tertile, SAMPLE the
    middle at 50% (content-free md5 coin on doc_id — reproducible,
    join-free), DROP the tail; documents with NO scored bigram
    (fewer than 2 tokens) surface under an explicit 'unscored_short'
    decision instead of silently dropping out. Output one row per
    (lang, decision) with populations and token mass — the
    before/after table a curation review signs off on, accounting
    for EVERY document (token_mass sums to the corpus total).

    Same fences/bucket machinery as the bucket report (rank-exact
    selector, no per-lang sort); the sampling coin is the
    deterministic-sample convention (md5 hex → integer % 100)."""
    from .analytics import _grouped_rank_min
    lm = doc_bigram_lm_score(t).select(
        "doc_id", F.expr("CAST(1000000 AS BIGINT) * sum_ppm "
                         "DIV n_bigrams").alias("score"))
    # LEFT join: docs with no scored bigram (fewer than 2 tokens)
    # must still appear in the decision table — they land in an
    # explicit 'unscored_short' bucket rather than silently vanishing
    # from the token-mass totals (ADVICE r7).
    d = retain(t["documents"]
               .select("doc_id", "lang", F.size(tokens()).alias("n_toks"))
               .join(lm, "doc_id", "left"))
    pts = (d.where(F.col("score").isNotNull())
           .groupBy("lang", F.col("score").cast("double").alias("_k"))
           .agg(F.count(F.lit(1)).alias("c")))
    fences = _grouped_rank_min(
        pts, {"f1": "(n + 2) DIV 3", "f2": "(2 * n + 2) DIV 3"},
        "lang").select("lang", "f1", "f2")
    sd = F.col("score").cast("double")
    coin = (F.conv(F.substring(
        F.md5(F.concat(F.lit("ccnet|"), F.col("doc_id").cast("string"))
              .cast("binary")), 1, 8), 16, 10).cast("long") % 100)
    b = ((sd > F.col("f1")).cast("int")
         + (sd > F.col("f2")).cast("int"))
    decision = (F.when(F.col("score").isNull(),
                       F.lit("unscored_short"))
                .when(b == 2, F.lit("keep_head"))
                .when((b == 1) & (coin < CCNET_MID_KEEP_PCT),
                      F.lit("sample_middle_kept"))
                .when(b == 1, F.lit("sample_middle_dropped"))
                .otherwise(F.lit("drop_tail")))
    return (d.join(F.broadcast(fences), "lang", "left")
            .select("lang", decision.alias("decision"), "n_toks")
            .groupBy("lang", "decision")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_toks").alias("token_mass")))


# round-9 wave 3: readability scoring and Dirichlet query likelihood


def doc_readability(t: dict[str, DataFrame]) -> DataFrame:
    """Flesch reading ease and Flesch–Kincaid grade per document
    (Flesch 1948, J. Appl. Psych. 32; Kincaid et al. 1975) with the
    deterministic VOWEL-GROUP syllable heuristic (maximal [aeiouy]+
    runs per lowered token, floor 1) — the classical readability
    member of the `doc_quality_score` battery, and a standard
    curation feature for training-data quality buckets.

    Pure per-row projection (the `doc_sentence_stats` shape): one
    token split, one sentence split on [.!?]+ (non-empty-token
    sentences count, same convention), one in-row syllable fold —
    integer-exact until the two final ratio chains, which grid to
    1e-9. The char-class-only regexes carry identical semantics in
    Java and RE2. NULL scores when a document has no sentences or no
    tokens."""
    toks = tokens()
    syl = F.expr(
        "aggregate(transform("
        "filter(split(text, ' '), x -> x != ''), "
        "tok -> greatest(1, size(regexp_extract_all(lower(tok), "
        "'[aeiouy]+', 0)))), 0L, (a, x) -> a + x)")
    sents = F.expr(
        "size(filter(transform(split(text, '[.!?]+'), "
        "s -> size(filter(split(s, ' '), x -> x != ''))), n -> n > 0))")
    d = spread(t["documents"].select("doc_id", "text")).select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        sents.alias("n_sentences"),
        syl.alias("n_syllables"))
    grid = lambda c: F.floor(c * 1e9 + F.lit(0.5)) / 1e9  # noqa: E731
    wps = F.col("n_tokens").cast("double") / F.col("n_sentences")
    spw = F.col("n_syllables").cast("double") / F.col("n_tokens")
    ok = (F.col("n_sentences") > 0) & (F.col("n_tokens") > 0)
    return d.select(
        "doc_id", "n_tokens", "n_sentences", "n_syllables",
        F.when(ok, grid(F.lit(206.835) - F.lit(1.015) * wps
                        - F.lit(84.6) * spw))
        .alias("flesch_reading_ease"),
        F.when(ok, grid(F.lit(0.39) * wps + F.lit(11.8) * spw
                        - F.lit(15.59)))
        .alias("fk_grade"))


QL_MU = 2000.0              # Dirichlet prior mass (Zhai-Lafferty's
                            # robust default)
QL_GRID = 1_000_000_000_000  # pico-nat quantization of ln terms


def lm_dirichlet_scores(t: dict[str, DataFrame], query_terms:
                        tuple[str, ...] = ("spark", "query", "join")) \
        -> DataFrame:
    """Dirichlet-smoothed query-likelihood retrieval scores (Zhai &
    Lafferty 2001, SIGIR): score(q, d) = sum_t ln((tf + mu p(t|C)) /
    (|d| + mu)) — the language-modeling ranker beside `bm25_scores`
    (same fixed term set, so the two rankings can be compared
    directly); every document scores, including zero-match ones (the
    smoothing assigns background mass — the property that
    distinguishes QL from BM25's matched-terms-only sum).

    Exactness: each per-(doc, term) ln term quantizes to integer
    pico-nats (the `unigram_logprob_quality` convention) and the
    per-doc score is their exact integer sum — order-free, so no
    sorted-term fold is needed. Shape: per-doc term frequencies (one
    groupBy), corpus term frequencies for the query terms (tiny
    broadcast), collection-total singleton row (broadcast), one
    3-way explode of the docs frame."""
    from ..functions.cache import retain
    toks = tokens()
    docs = retain(t["documents"].select(
        "doc_id", toks.alias("toks"), F.size(toks).alias("dl")))
    tf = (docs.select("doc_id", F.explode("toks").alias("term"))
          .where(F.col("term").isin(*query_terms))
          .groupBy("doc_id", "term")
          .agg(F.count(F.lit(1)).alias("tf")))
    cf = (docs.select(F.explode("toks").alias("term"))
          .where(F.col("term").isin(*query_terms))
          .groupBy("term")
          .agg(F.count(F.lit(1)).alias("cf")))
    total = docs.agg(F.sum("dl").cast("long").alias("total"))
    pairs = (docs.select("doc_id", "dl",
                         F.explode(F.array(*[F.lit(q) for q in
                                             sorted(query_terms)]))
                         .alias("term"))
             .join(F.broadcast(cf), "term")
             .join(tf, ["doc_id", "term"], "left")
             .crossJoin(F.broadcast(total)))
    tfd = F.coalesce(F.col("tf"), F.lit(0)).cast("double")
    term_units = F.floor(F.log(
        (tfd + F.lit(QL_MU) * (F.col("cf").cast("double")
                               / F.col("total").cast("double")))
        / (F.col("dl").cast("double") + F.lit(QL_MU)))
        * QL_GRID + F.lit(0.5)).cast("long")
    grid = lambda c: F.floor(c * 1e9 + F.lit(0.5)) / 1e9  # noqa: E731
    g = (pairs.select("doc_id", term_units.alias("u"),
                      (F.coalesce(F.col("tf"), F.lit(0)) > 0)
                      .cast("int").alias("m"))
         .groupBy("doc_id")
         .agg(F.sum("u").alias("units"),
              F.sum("m").cast("long").alias("n_match_terms")))
    return g.select(
        "doc_id", "n_match_terms",
        grid(F.col("units").cast("double") / F.lit(float(QL_GRID)))
        .alias("ql_score"))


ISO_BIN_WIDTH = 256   # w_sum units per isotonic bin (coarser than the
                      # reliability table's CALIB_BIN_WIDTH: the
                      # closed-form fit below is O(B^3) in the bin
                      # count, so B stays ~tens)


def isotonic_calibration(t: dict[str, DataFrame]) -> DataFrame:
    """Isotonic (PAVA) calibration of the hash-trick quality
    classifier against the C4-style filter battery (Ayer et al. 1955,
    Ann. Math. Stat. 26 — pool-adjacent-violators; Zadrozny & Elkan
    KDD'02 for classifier calibration): the monotone-nondecreasing
    keep-rate curve closest in weighted L2 to the raw per-bin rates —
    what turns `classifier_score_calibration`'s reliability DIAGRAM
    into a usable calibrated score map.

    Computed via the minimax CLOSED FORM iso(i) = max_{j<=i}
    min_{k>=i} mean(y[j..k]) rather than the sequential
    pool-adjacent-violators stack (whose data-dependent inner merge
    loop is not expressible as a bounded SQL fold): prefix sums make
    each mean one subtraction pair, and the triple index range is
    O(B^3) over the BOUNDED bin axis (B ~ tens — bounded by the
    classifier's score range over ISO_BIN_WIDTH, not by the corpus),
    all inside one in-row expression on a single collected row.
    Exactness: prefix sums are exact integers; each mean is one IEEE
    division of exact integers (bit-identical in DuckDB); min/max
    over those doubles needs no grid, and the output grids to 1e-9
    as usual. The corpus-sized work is the same two zero-shuffle
    per-row projections the reliability table scans."""
    score = hashed_classifier_score(t).select("doc_id", "w_sum")
    keep = doc_quality_filters(t).select("doc_id", "keep")
    j = score.join(keep, "doc_id")
    g = (j.groupBy((F.col("w_sum") - F.pmod("w_sum",
                                            F.lit(ISO_BIN_WIDTH)))
                   .alias("bin_lo"))
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("keep").cast("long").alias("y")))
    one = g.agg(F.array_sort(F.collect_list(
        F.struct("bin_lo", "n", "y"))).alias("bs"))
    pw = F.expr("""
        aggregate(bs, array(0L),
                  (acc, e) -> array_append(acc,
                      element_at(acc, -1) + e.n))
    """)
    py = F.expr("""
        aggregate(bs, array(0L),
                  (acc, e) -> array_append(acc,
                      element_at(acc, -1) + e.y))
    """)
    iso = F.expr("""
        transform(sequence(1, size(bs)), i ->
          array_max(transform(sequence(1, i), j ->
            array_min(transform(sequence(i, size(bs)), k ->
              CAST(element_at(py, k + 1) - element_at(py, j)
                   AS DOUBLE)
              / CAST(element_at(pw, k + 1) - element_at(pw, j)
                     AS DOUBLE))))))
    """)
    per = F.expr("""
        transform(sequence(1, size(bs)), i -> struct(
            element_at(bs, i).bin_lo AS bin_lo,
            element_at(bs, i).n AS n,
            element_at(bs, i).y AS y,
            element_at(iso, i) AS iso))
    """)
    grid = lambda c: F.floor(c * 1e9 + F.lit(0.5)) / 1e9  # noqa: E731
    return (one.withColumn("pw", pw).withColumn("py", py)
            .withColumn("iso", iso)
            .select(F.explode(per).alias("p"))
            .select(F.col("p.bin_lo").alias("bin_lo"),
                    F.col("p.n").alias("n_docs"),
                    (F.col("p.y").cast("double") / F.col("p.n"))
                    .alias("raw_keep_rate"),
                    grid(F.col("p.iso")).alias("iso_keep_rate")))


# round-9 wave 5: classifier evaluation metrics (the numbers a
# curation pipeline reads before trusting a quality gate)


def classifier_auc(t: dict[str, DataFrame]) -> DataFrame:
    """Exact ROC AUC of the hash-trick classifier score against the
    filter-battery label, via the rank-sum identity AUC = (R_pos -
    n1(n1+1)/2) / (n1 n0) with tie-averaged midranks (Hanley &
    McNeil 1982; the Mann-Whitney U equivalence) — the threshold-free
    ranking quality number beside `classifier_score_calibration`'s
    reliability table and `isotonic_calibration`'s monotone fit.

    Same exactness contract as `mann_whitney_value_drift`: doubled
    midranks keep every intermediate an integer (2 avgrank = 2 prior
    + g + 1), rank sums accumulate in DECIMAL(38,0), and the two
    final divisions are the only floats (bit-identical in DuckDB).
    Shape: the per-distinct-score count grid (one map-side-combinable
    shuffle, cardinality = distinct scores), then the distributed
    prefix sum of `functions/prefix.py` — no global sort at any
    scale."""
    score = hashed_classifier_score(t).select("doc_id", "w_sum")
    keep = doc_quality_filters(t).select("doc_id", "keep")
    pts = retain(
        score.join(keep, "doc_id")
        .groupBy("w_sum")
        .agg(F.sum("keep").cast("long").alias("c1"),
             F.sum(1 - F.col("keep")).cast("long").alias("c0")))
    b, _ = buckets(pts, F.col("w_sum").cast("double"))
    cum = prefix_sums(b, [F.asc("w_sum")], ["c1", "c0"]).select(
        "c1", "c0", F.col("tot_c1").alias("n1"),
        F.col("tot_c0").alias("n0"), F.col("cum_c1").alias("f1"),
        F.col("cum_c0").alias("f0"))
    prior = (F.col("f1") - F.col("c1") + F.col("f0") - F.col("c0"))
    grp = F.col("c1") + F.col("c0")
    r2 = (F.col("c1").cast("decimal(38,0)")
          * (2 * prior + grp + 1).cast("decimal(38,0)"))
    agg = cum.agg(F.sum(r2).alias("r2"),
                  F.max("n1").alias("n1"), F.max("n0").alias("n0"))
    u2 = (F.col("r2").cast("double")
          - (F.col("n1").cast("decimal(38,0)")
             * (F.col("n1") + 1).cast("decimal(38,0)")).cast("double"))
    return agg.select(
        F.col("n1").alias("n_keep"), F.col("n0").alias("n_drop"),
        (u2 * 0.5).alias("u_keep"),
        (u2 * 0.5 / (F.col("n1").cast("double")
                     * F.col("n0").cast("double"))).alias("auc"))


def classifier_pr_table(t: dict[str, DataFrame]) -> DataFrame:
    """Precision / recall / F1 of the hash-trick classifier at every
    score-bin threshold ("predict keep when w_sum >= bin_lo") — the
    operating-curve table a curation pipeline reads to pick its gate
    cutoff, discretized on the same ISO_BIN_WIDTH axis as
    `isotonic_calibration`.

    Per-bin (keep, drop) counts are one bounded-key aggregate;
    threshold cumulatives are SUFFIX sums over the bin-sorted in-row
    array (bounded by the score range, never by the corpus), exact
    integers until the three final ratio chains (gridded 1e-9; F1
    assembles from UNgridded precision/recall in the identical order
    both engines evaluate)."""
    score = hashed_classifier_score(t).select("doc_id", "w_sum")
    keep = doc_quality_filters(t).select("doc_id", "keep")
    g = (score.join(keep, "doc_id")
         .groupBy((F.col("w_sum") - F.pmod("w_sum",
                                           F.lit(ISO_BIN_WIDTH)))
                  .alias("bin_lo"))
         .agg(F.sum("keep").cast("long").alias("n1"),
              F.sum(1 - F.col("keep")).cast("long").alias("n0")))
    one = g.agg(F.array_sort(F.collect_list(
        F.struct("bin_lo", "n1", "n0"))).alias("bs"))
    # suffix sums: tp_i = total positives at or above bin i
    suf1 = F.expr("""
        aggregate(bs, array(0L),
                  (acc, e) -> array_append(acc,
                      element_at(acc, -1) + e.n1))
    """)
    suf0 = F.expr("""
        aggregate(bs, array(0L),
                  (acc, e) -> array_append(acc,
                      element_at(acc, -1) + e.n0))
    """)
    per = F.expr("""
        transform(sequence(1, size(bs)), i -> struct(
            element_at(bs, i).bin_lo AS bin_lo,
            element_at(p1, -1) - element_at(p1, i) AS tp,
            element_at(p0, -1) - element_at(p0, i) AS fp,
            element_at(p1, -1) AS pos,
            element_at(p0, -1) AS neg))
    """)
    from ..functions import pin
    pinned = pin(pin(one, p1=suf1, p0=suf0), per=per)
    grid = lambda c: F.floor(c * 1e9 + F.lit(0.5)) / 1e9  # noqa: E731
    # element_at(p1, i) is the cumulative through bin i-1, so the
    # prefix difference total - p1[i] counts bins i..end INCLUSIVE:
    # tp at threshold bin_lo = keeps with w_sum >= bin_lo, exactly
    rows = (pinned.select(F.explode("per").alias("p"))
            .select(F.col("p.bin_lo").alias("threshold"),
                    F.col("p.tp").alias("tp"),
                    F.col("p.fp").alias("fp"),
                    (F.col("p.pos") - F.col("p.tp")).alias("fn"),
                    F.col("p.pos").alias("n_keep_total")))
    prec = F.col("tp").cast("double") / (F.col("tp") + F.col("fp"))
    rec = F.col("tp").cast("double") / F.col("n_keep_total")
    f1 = 2 * prec * rec / (prec + rec)
    return rows.select(
        "threshold", "tp", "fp", "fn",
        F.when(F.col("tp") + F.col("fp") > 0, grid(prec))
        .alias("precision"),
        grid(rec).alias("recall"),
        F.when((F.col("tp") + F.col("fp") > 0) & (F.col("tp") > 0),
               grid(f1)).alias("f1"))


def langid_kappa(t: dict[str, DataFrame]) -> DataFrame:
    """Cohen's kappa between the stopword-profile language ID and the
    labeled `lang` column (Cohen 1960, Educ. Psychol. Meas. 20):
    chance-corrected agreement (po - pe)/(1 - pe) over the bounded
    (label x prediction) contingency grid — the agreement audit that
    says whether `doc_langid` beats majority-class guessing, beside
    `langid_margin_hist`'s confidence view.

    One bounded-key contingency aggregate; marginals and the diagonal
    fold over the label-sorted in-row array (grid is (langs+1)^2 at
    most); po/pe are single divisions of exact integers, kappa grids
    to 1e-9."""
    pred = doc_langid(t).select("doc_id", "lang", "pred_lang")
    cells = (pred.groupBy("lang", "pred_lang")
             .agg(F.count(F.lit(1)).alias("c")))
    one = cells.agg(
        F.array_sort(F.collect_list(F.struct("lang", "pred_lang", "c")))
        .alias("cs"),
        F.sum("c").alias("n_docs"),
        F.sum(F.when(F.col("lang") == F.col("pred_lang"), F.col("c"))
              .otherwise(F.lit(0))).alias("n_agree"))
    # pe = sum over labels of row_l * col_l / N^2 — fold the bounded
    # cell array twice (marginal products from exact integer sums)
    # marginal PRODUCTS go through DECIMAL(38,0): row_l * col_l
    # reaches N^2, past bigint at large corpus scale
    pe_num = F.expr("""
        aggregate(
          transform(array_distinct(transform(cs, x -> x.lang)), l ->
            CAST(CAST(aggregate(cs, 0L, (a, e) ->
                a + CASE WHEN e.lang = l THEN e.c ELSE 0L END)
                 AS DECIMAL(38,0))
            * CAST(aggregate(cs, 0L, (a, e) ->
                a + CASE WHEN e.pred_lang = l THEN e.c ELSE 0L END)
                 AS DECIMAL(38,0)) AS DECIMAL(38,0))),
          CAST(0 AS DECIMAL(38,0)),
          (acc, x) -> CAST(acc + x AS DECIMAL(38,0)))
    """)
    grid = lambda c: F.floor(c * 1e9 + F.lit(0.5)) / 1e9  # noqa: E731
    nn = F.col("n_docs").cast("double")
    po = F.col("n_agree").cast("double") / nn
    pe = F.col("pe_num").cast("double") / (nn * nn)
    from ..functions import pin
    g = pin(one, pe_num=pe_num)
    return g.select(
        "n_docs", "n_agree",
        grid(po).alias("observed_agreement"),
        grid(pe).alias("expected_agreement"),
        F.when(pe < 1.0, grid((po - pe) / (1.0 - pe))).alias("kappa"))


def classifier_mcc(t: dict[str, DataFrame]) -> DataFrame:
    """Confusion matrix and Matthews correlation coefficient of the
    hash-trick classifier at the natural zero threshold (w_sum >= 0 —
    the weights are centered, so zero is the uninformed cut)
    against the filter-battery label (Matthews 1975; the balanced
    single-number summary that, unlike accuracy, survives class
    imbalance) — completing the evaluation triple with
    `classifier_auc` (threshold-free) and `classifier_pr_table`
    (threshold sweep).

    One bounded aggregate for the four cells; the MCC numerator and
    the four marginal factors multiply in DECIMAL(38,0) (tp·tn and
    the marginal products reach N², past bigint), one sqrt/divide
    chain at the end, gridded 1e-9. NULL MCC when any marginal is
    zero (the standard undefined case)."""
    score = hashed_classifier_score(t).select("doc_id", "w_sum")
    keep = doc_quality_filters(t).select("doc_id", "keep")
    j = score.join(keep, "doc_id").select(
        (F.col("w_sum") >= 0).cast("int").alias("pred"), "keep")
    g = j.agg(
        F.sum(((F.col("pred") == 1) & (F.col("keep") == 1))
              .cast("long")).alias("tp"),
        F.sum(((F.col("pred") == 1) & (F.col("keep") == 0))
              .cast("long")).alias("fp"),
        F.sum(((F.col("pred") == 0) & (F.col("keep") == 1))
              .cast("long")).alias("fn"),
        F.sum(((F.col("pred") == 0) & (F.col("keep") == 0))
              .cast("long")).alias("tn"))
    d38 = "decimal(38,0)"
    dec = lambda c: F.col(c).cast(d38)  # noqa: E731
    num = (dec("tp") * dec("tn") - dec("fp") * dec("fn")).cast(d38)
    m1 = (dec("tp") + dec("fp")).cast(d38)
    m2 = (dec("tp") + dec("fn")).cast(d38)
    m3 = (dec("tn") + dec("fp")).cast(d38)
    m4 = (dec("tn") + dec("fn")).cast(d38)
    grid = lambda c: F.floor(c * 1e9 + F.lit(0.5)) / 1e9  # noqa: E731
    den = (F.sqrt((m1 * m2).cast(d38).cast("double"))
           * F.sqrt((m3 * m4).cast(d38).cast("double")))
    acc = ((F.col("tp") + F.col("tn")).cast("double")
           / (F.col("tp") + F.col("fp") + F.col("fn") + F.col("tn")))
    return g.select(
        "tp", "fp", "fn", "tn",
        grid(acc).alias("accuracy"),
        F.when(den > 0, grid(num.cast("double") / den)).alias("mcc"))
