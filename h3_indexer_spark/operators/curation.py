"""Corpus-curation operators for LLM training-data pipelines: document
chunking, PII scrubbing, repetition statistics, benchmark
decontamination, and sequence packing.

These extend the reference's data-processing surface (SURVEY.md §2.8)
with the operations a 100 TB pretraining pipeline runs between raw
crawl and tokenizer: split documents into training windows, redact
obvious PII, score repetition (the strongest single quality signal in
Gopher/C4-style filtering), drop documents that leak benchmark text,
and assign documents to fixed-token-budget packs.

Every operator is pure DataFrame expressions (whole-stage codegen, no
Python in the hot path) except where a global prefix sum is required
(`pack_sequences`), which uses the two-level bucket-offset technique
instead of a single-task global window.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# Chunking
# --------------------------------------------------------------------------


def md5_band60(prefix: Column | str, value: Column) -> Column:
    """The shared 60-bit uniform hash every deterministic-membership
    operator keys on: md5 hex chars [18, 33) of (prefix || value),
    parsed base-16 into a BIGINT in [0, 2^60). ONE definition — the
    cross-operator determinism contract (assign_splits /
    weighted_sample / sample_per_group / bloom positions all promise
    "same recipe", and an edit to a hand-copied variant would silently
    break that parity) and the exact DuckDB twin is
    ``CAST('0x' || substr(md5(x), 18, 15) AS BIGINT)``."""
    pfx = F.lit(prefix) if isinstance(prefix, str) else prefix
    return F.conv(
        F.substring(
            F.md5(F.concat(pfx, value).cast("binary")), 18, 15
        ),
        16,
        10,
    ).cast("long")


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Split each document into overlapping token windows of ``window``
    whitespace tokens every ``stride`` tokens (the training-example
    windowing step of a pretraining pipeline).

    Narrow: sequence + explode + slice, no shuffle — each task chunks
    its own documents, so the operator scales linearly with input
    splits. A document shorter than ``window`` yields one (short)
    chunk. Output: (id, chunk_id, n_chunk_tokens, chunk_text).
    """
    if stride <= 0 or window <= 0:
        raise ValueError("window and stride must be positive")
    words = F.split(F.col(text_col), " ")
    # number of window starts: 1 + ceil(max(n - window, 0) / stride),
    # via integer-safe floor((x + stride - 1) / stride)
    x = F.greatest(F.size(words) - F.lit(window), F.lit(0))
    n_starts = (
        F.lit(1) + F.floor((x + F.lit(stride - 1)) / F.lit(stride))
    ).cast("int")
    out = df.select(
        id_col,
        words.alias("_w"),
        F.explode(F.sequence(F.lit(0), n_starts - F.lit(1))).alias(
            "chunk_id"
        ),
    )
    chunk = F.slice(
        F.col("_w"), F.col("chunk_id") * F.lit(stride) + F.lit(1), window
    )
    return out.select(
        id_col,
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.size(chunk).cast("int").alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


# --------------------------------------------------------------------------
# PII scrubbing
# --------------------------------------------------------------------------

# Dialect-portable patterns (valid and equivalent in Java regex and
# RE2): kept deliberately simple so the semantics are auditable.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+\d{1,2}-\d{3}-\d{4}"
LONGNUM_RE = r"\d{5,}"


def scrub_pii(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Redact emails, international-format phone numbers, and long
    digit runs, in that order, and count each on the ORIGINAL text.

    Narrow map — regexp_replace/regexp_count are JVM-side codegen
    expressions, so the scrub runs at scan speed with zero shuffles and
    zero Python. Adds: clean_text, n_emails, n_phones, n_longnums.
    """
    t = F.col(text_col)
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
        ),
        LONGNUM_RE,
        "<NUM>",
    )
    return df.select(
        "*",
        clean.alias("clean_text"),
        F.regexp_count(t, F.lit(EMAIL_RE)).cast("int").alias("n_emails"),
        F.regexp_count(t, F.lit(PHONE_RE)).cast("int").alias("n_phones"),
        F.regexp_count(t, F.lit(LONGNUM_RE)).cast("int").alias("n_longnums"),
    )


# --------------------------------------------------------------------------
# Repetition statistics (Gopher-style quality signals)
# --------------------------------------------------------------------------


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document repetition signals: unique-word ratio, top-word
    fraction, and duplicate-bigram fraction (the Gopher repetition
    filters).

    The bigram stats are narrow (array ops on the document's own
    words). The top-word fraction needs a per-(doc, word) count — done
    with explode + two-level aggregation, which partial-aggregates
    map-side so the shuffle carries at most one row per distinct (doc,
    word); both shuffles hash on doc_id-derived keys, so at 100 TB the
    plan stays balanced unless one document is itself massive (bounded
    by upstream length filters). Output: (id, n_words, uniq_ratio,
    top_word_frac, dup_bigram_frac).
    """
    words = F.split(F.col(text_col), " ")
    # narrow per-doc bigram stats
    grams = F.zip_with(
        F.slice(words, 1, F.greatest(F.size(words) - 1, F.lit(1))),
        F.slice(words, 2, F.greatest(F.size(words) - 1, F.lit(1))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    narrow = df.select(
        id_col,
        F.when(F.size(words) >= 2, grams).otherwise(
            F.array().cast("array<string>")
        ).alias("_g"),
    ).select(
        id_col,
        F.size("_g").alias("_ng"),
        F.size(F.array_distinct("_g")).alias("_nug"),
    )
    # per-(doc, word) counts → per-doc totals
    wl = df.select(id_col, F.explode(words).alias("_word"))
    per_word = wl.groupBy(id_col, "_word").agg(F.count("*").alias("_c"))
    per_doc = per_word.groupBy(id_col).agg(
        F.sum("_c").alias("_n"),
        F.count("*").alias("_nu"),
        F.max("_c").alias("_top"),
    )
    joined = per_doc.join(narrow, id_col)
    n = F.col("_n").cast("double")
    return joined.select(
        id_col,
        F.col("_n").cast("bigint").alias("n_words"),
        (F.col("_nu") / n).alias("uniq_ratio"),
        (F.col("_top") / n).alias("top_word_frac"),
        F.when(F.col("_ng") > 0, F.lit(1.0) - F.col("_nug") / F.col("_ng").cast("double"))
        .otherwise(F.lit(0.0))
        .alias("dup_bigram_frac"),
    )


# --------------------------------------------------------------------------
# Benchmark decontamination
# --------------------------------------------------------------------------


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Drop training documents that share any word ``n``-gram with the
    benchmark set (test-set leakage removal, the n-gram-overlap method
    used for GPT-3/PaLM-style decontamination).

    The benchmark n-gram set is small relative to the corpus, so it is
    explicitly broadcast: the contamination check is then a map-side
    semi-join — the 100 TB training side never shuffles. Returns the
    surviving training rows unchanged.
    """
    bench_grams = _bench_grams(benchmark, text_col, n)
    train_grams = train.select(
        id_col, F.explode(_word_ngrams(text_col, n)).alias("_gram")
    )
    contaminated = (
        train_grams.join(F.broadcast(bench_grams), "_gram")
        .select(id_col)
        .distinct()
    )
    return train.join(contaminated, id_col, "left_anti")


def dedup_spans_global(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    delim: str = "\n",
) -> DataFrame:
    """C4-style GLOBAL span deduplication: split every document into
    spans on ``delim`` (lines in C4; any repeated-unit boundary), and
    keep each distinct span ONLY at its first global occurrence
    (smallest ``id_col``, then earliest position) — boilerplate
    headers, navigation blocks, and license footers that repeat across
    a crawl survive exactly once corpus-wide. Documents are rebuilt
    from their surviving spans in order. Output: (id, clean_text,
    n_spans, n_kept).

    Scale: posexplode is narrow; ownership is ONE rank window
    partitioned by the span value (first-occurrence = row_number 1
    over (id, pos)) — the shuffle carries (span, id, pos) rows and
    partial nothing, so hot boilerplate spans are the skew risk; AQE
    skew handling covers moderate heat, and a df-cap pre-filter (drop
    spans above a document-frequency ceiling outright, the stop-
    shingle trick from the n-gram dedup) is the pressure valve for
    pathological ones. The rebuild is one groupBy on the document id
    with an order-preserving array sort."""
    spans = df.select(
        id_col,
        F.posexplode(F.split(F.col(text_col), delim)).alias(
            "pos", "_span"
        ),
    )
    w = Window.partitionBy("_span").orderBy(
        F.col(id_col).asc(), F.col("pos").asc()
    )
    kept = spans.withColumn("_rn", F.row_number().over(w)).where(
        F.col("_rn") == 1
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "_span"))),
                lambda x: x["_span"],
            ),
            delim,
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = df.select(
        id_col,
        F.size(F.split(F.col(text_col), delim)).cast("long").alias(
            "n_spans"
        ),
    )
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            "n_spans",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        )
    )


def contamination_fraction(
    train: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Graded variant of :func:`decontaminate`: instead of the binary
    any-shared-gram verdict, score each training document by the
    FRACTION of its distinct word ``n``-grams that appear in the
    benchmark set — the thresholdable signal used when a hard drop is
    too aggressive (docs quoting a benchmark sentence vs docs that ARE
    a benchmark item). Output: (id, n_grams, n_overlap, overlap_frac)
    for every training row, overlap_frac an exact integer ratio.

    Same 100 TB posture as decontaminate: the distinct benchmark gram
    set broadcasts, the training side's grams explode narrow and
    semi-join map-side, and the only shuffle is the per-document
    re-aggregation keyed on ``id_col``."""
    # ONE gram pass: the n-gram array build is by far the dominant
    # per-row work (measured: two ~44 s-task-time scan stages when the
    # explode branch and the size branch each rebuilt it). Carry the
    # per-doc gram count alongside the exploded grams, mark benchmark
    # membership with a broadcast LEFT join against the DISTINCT
    # benchmark gram set (exactly one output row per train gram — same
    # multiset the semi-join kept, plus the misses), and fold hits and
    # totals in one per-doc aggregation. explode_outer keeps a row for
    # every training doc (the gram array is never empty; a NULL text
    # yields one NULL-gram row with size = -1, exactly the join-era
    # n_grams value).
    bench_grams = _bench_grams(benchmark, text_col, n)
    grams = train.select(
        id_col,
        F.array_distinct(_word_ngrams(text_col, n)).alias("_grams"),
    )
    exploded = grams.select(
        id_col,
        F.size("_grams").alias("_n_grams"),
        F.explode_outer("_grams").alias("_gram"),
    )
    marked = exploded.join(
        F.broadcast(bench_grams.withColumn("_b", F.lit(1))),
        "_gram",
        "left",
    )
    return (
        marked.groupBy(id_col)
        .agg(
            F.max("_n_grams").alias("_ng"),
            F.count("_b").alias("_hits"),
        )
        .select(
            id_col,
            F.col("_ng").cast("long").alias("n_grams"),
            F.col("_hits").cast("long").alias("n_overlap"),
            (
                F.col("_hits").cast("double")
                / F.greatest(F.col("_ng"), F.lit(1)).cast("double")
            ).alias("overlap_frac"),
        )
    )


def _bench_grams(benchmark: DataFrame, text_col: str, n: int) -> DataFrame:
    """Distinct word n-grams of the benchmark set — shared by every
    decontamination variant so gram-extraction fixes apply once."""
    return benchmark.select(
        F.explode_outer(_word_ngrams(text_col, n)).alias("_gram")
    ).distinct()


def _word_ngrams(text_col: str, n: int):
    """Word n-grams as strings; a document shorter than ``n`` words
    contributes its whole text as one gram."""
    words = F.split(F.col(text_col), " ")
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(words) - F.lit(n - 1), F.lit(1))
    )
    return F.transform(
        starts, lambda s: F.array_join(F.slice(words, s, n), " ")
    )


def decontaminate_bloom(
    train: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    n_bits: int = 1 << 20,
    n_hashes: int = 4,
    algo: str = "xxhash64",
) -> DataFrame:
    """Bloom-filter variant of :func:`decontaminate` for when even the
    DISTINCT benchmark n-gram set is too large to broadcast as an
    exact hash set (a full eval-suite union is ~10^8 grams ≈ tens of
    GB as strings; the bloom bitset is ``n_bits/8`` bytes — 128 KiB
    at the default — regardless).

    Build side: benchmark grams hash JVM-side (xxhash64, ``n_hashes``
    fixed seeds) to bit positions; only the DISTINCT positions are
    collected — bounded at ``n_bits`` rows no matter how large the
    benchmark set — and packed into a numpy bitset.
    Check side: training grams compute the same ``n_hashes`` hashes as
    columns, and ONE vectorized pandas UDF tests all bits per Arrow
    batch against the bitset captured in its closure (shipped once per
    worker, like a broadcast). The training side never shuffles; the
    whole check is map-side, same as the exact path.

    Bloom semantics are one-sided, which is exactly right for
    decontamination: a contaminated document can NEVER survive (no
    false negatives), while a clean document is dropped with
    probability ≈ (1-e^{-kn/m})^k per gram — erring toward dropping a
    few extra documents, never toward keeping leaked benchmark text.
    Size ``n_bits`` ≈ 10× the benchmark gram count for a <2% per-gram
    false-positive rate at the default 4 hashes.

    ``algo="xxhash64"`` (production default) hashes JVM-native;
    ``algo="md5"`` derives each position from the low 60 bits of
    md5(i || gram) — bit-identical in an external SQL engine, so the
    whole bloom construction AND membership test become
    oracle-checkable (same recipe as fingerprint/simhash md5
    variants). The no-false-negative guarantee and the false-positive
    band are locked in tests/test_curation_graph.py either way.
    """
    import numpy as np

    def _pos_expr(i: int):
        if algo == "md5":
            h = md5_band60(str(i), F.col("_gram"))
        else:
            h = F.xxhash64(F.col("_gram"), F.lit(i))
        return F.pmod(h, F.lit(n_bits)).cast("long")

    def _positions(grams: DataFrame) -> list:
        pos_cols = [
            _pos_expr(i).alias(f"_p{i}") for i in range(n_hashes)
        ]
        stacked = grams.select(pos_cols).select(
            F.explode(F.array(*[F.col(f"_p{i}") for i in range(n_hashes)]))
            .alias("_p")
        )
        return [r["_p"] for r in stacked.distinct().collect()]

    bench_grams = _bench_grams(benchmark, text_col, n)
    bits = np.zeros(n_bits // 64 + 1, dtype=np.uint64)
    pos = np.asarray(_positions(bench_grams), dtype=np.int64)
    if len(pos):
        np.bitwise_or.at(
            bits, pos // 64, np.uint64(1) << (pos % 64).astype(np.uint64)
        )

    @F.pandas_udf("boolean")
    def in_bloom(hashes: pd.Series) -> pd.Series:
        p = np.asarray(hashes.tolist(), dtype=np.int64)  # (rows, k)
        hit = (
            (bits[p // 64] >> (p % 64).astype(np.uint64)).astype(np.int64)
            & 1
        ) == 1
        return pd.Series(hit.all(axis=1))

    train_grams = train.select(
        id_col, F.explode(_word_ngrams(text_col, n)).alias("_gram")
    )
    hash_arr = F.array(*[_pos_expr(i) for i in range(n_hashes)])
    contaminated = (
        train_grams.select(id_col, hash_arr.alias("_h"))
        .where(in_bloom(F.col("_h")))
        .select(id_col)
        .distinct()
    )
    return train.join(contaminated, id_col, "left_anti")


def rebalance_sources(
    df: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    scale: float = 1.0,
) -> DataFrame:
    """Sublinear source rebalancing — the mixture-reweighting step of a
    pretraining data recipe: keep ``max(1, floor(sqrt(count_s) *
    scale))`` documents per source, so head domains are suppressed
    toward count^0.5 while tail domains survive intact (the standard
    temperature-sampling shape; sqrt ≙ temperature 2).

    Which documents survive is decided by a deterministic content-hash
    order (md5(text), id tiebreak) — an unbiased, seedless shuffle
    that both engines reproduce bit-exactly, so the operator is fully
    oracle-checkable (contrast the seeded samplers, which are
    rows-only).

    Plan: per-source counts (tiny aggregate, broadcast back) + ONE
    window rank per source + filter — a single shuffle of the corpus
    keyed on source; AQE splits skewed head sources. The exponent is
    fixed at 0.5 because sqrt is correctly rounded in IEEE 754 in
    both engines; arbitrary exponents would route through pow, whose
    rounding is implementation-defined — for other temperatures,
    precompute budgets driver-side.
    """
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("_cnt"))
    budget = F.greatest(
        F.lit(1).cast("long"),
        F.floor(F.sqrt(F.col("_cnt").cast("double")) * F.lit(scale)),
    )
    w = Window.partitionBy(source_col).orderBy(
        F.md5(F.col(text_col)).asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .join(F.broadcast(counts), source_col)
        .where(F.col("_rn") <= budget)
        .drop("_rn", "_cnt")
    )


_TRACKING_PARAM_RE = r"^(utm_[a-z]+|fbclid|gclid|msclkid|ref_src)="


def normalize_urls(
    df: DataFrame, url_col: str = "url", out_col: str = "url_norm"
) -> DataFrame:
    """URL canonicalization — the prelude to crawl-level dedup (the
    same page arrives as http/HTTPS, with/without :443, with tracking
    params, with a trailing slash). Rules, each a standard
    crawl-pipeline normalization:

    - scheme and host lowercase;
    - explicit default ports dropped (``:80`` for http, ``:443`` for
      https);
    - tracking query parameters removed (utm_*, fbclid, gclid,
      msclkid, ref_src);
    - remaining query parameters sorted (param order is not
      semantically significant);
    - fragment dropped; trailing slash on a non-root path dropped.

    Pure expressions (regexp + array HOFs + sort_array) — a narrow
    map with zero shuffle at any corpus size, and every function has
    an exact DuckDB twin, so the operator is hash-checkable
    end-to-end. Compose with exact_dedup on ``url_norm``.
    """
    u = F.col(url_col)
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    rest = F.regexp_replace(rest, r"#.*$", "")  # fragment
    hostport = F.regexp_extract(rest, r"^([^/?]*)", 1)
    pathq = F.regexp_replace(rest, r"^[^/?]*", "")
    host = F.lower(F.regexp_extract(hostport, r"^([^:]*)", 1))
    port = F.regexp_extract(hostport, r":(\d+)$", 1)
    keep_port = F.when(
        ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443"))
        | (port == ""),
        F.lit(""),
    ).otherwise(F.concat(F.lit(":"), port))
    path = F.regexp_extract(pathq, r"^([^?]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(
        F.regexp_replace(path, r"(.)/$", "$1")
    )
    query = F.regexp_extract(pathq, r"\?(.*)$", 1)
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(_TRACKING_PARAM_RE),
    )
    norm_q = F.array_join(F.sort_array(params), "&")
    out = F.concat(
        scheme,
        F.lit("://"),
        host,
        keep_port,
        path,
        F.when(norm_q == "", F.lit("")).otherwise(
            F.concat(F.lit("?"), norm_q)
        ),
    )
    return df.withColumn(out_col, out)


# --------------------------------------------------------------------------
# Per-source (domain) token-budget caps
# --------------------------------------------------------------------------


def cap_source_tokens(
    df: DataFrame,
    source_col: str = "source",
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    budget: int = 10_000,
) -> DataFrame:
    """Cap each source/domain at a token budget: documents are taken in
    deterministic ``id_col`` order per source until the running token
    total would exceed ``budget`` — the domain-balancing step that
    stops a handful of boilerplate-heavy domains dominating a crawl mix
    (C4/RefinedWeb-style source capping).

    One shuffle, hash-partitioned by source, so at 100 TB the plan is
    balanced unless one domain holds most of the corpus — exactly the
    pathology the cap removes on output; for the *input* skew case
    (one domain so large its partition spills), cap that domain
    upstream with a cheap per-source count filter before this exact
    pass. The cumulative window is computed once per row map-side
    within each partition. A document larger than the whole budget is
    dropped (never truncated — truncation changes document semantics).
    Output: input columns + cum_tokens (total through this document).
    """
    w = (
        Window.partitionBy(source_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        df.withColumn("cum_tokens", F.sum(token_col).over(w))
        .where(F.col("cum_tokens") <= F.lit(budget))
    )


# --------------------------------------------------------------------------
# Sequence packing
# --------------------------------------------------------------------------


def pack_sequences(
    df: DataFrame,
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    budget: int = 256,
    bucket_width: int = 1000,
) -> DataFrame:
    """Assign each document to a fixed-token-budget pack: documents are
    laid out in ``id_col`` order as one continuous token stream and
    ``pack_id`` is the stream chunk the document starts in — the
    concat-and-chunk packing used to build fixed-length pretraining
    examples.

    A naive global window (``Window.orderBy(id)`` with no partition)
    serializes the whole corpus through ONE task. Instead the prefix
    sum is computed at two levels: per-bucket token totals (tiny —
    corpus_size / bucket_width rows) get a global cumsum, and the
    within-bucket cumsum runs partitioned by bucket, fully parallel.
    The per-bucket table is broadcast back, so the corpus-sized side
    shuffles once (hash on bucket for the window). Output adds:
    pack_id, offset_in_pack.
    """
    bucket = (F.col(id_col) / F.lit(bucket_width)).cast("bigint")
    with_b = df.withColumn("_bucket", bucket)
    totals = with_b.groupBy("_bucket").agg(
        F.sum(token_col).alias("_btot")
    )
    # global cumsum over the bucket table only: thousands of rows even
    # at 100 TB, so the single-task window is on negligible data
    w_b = (
        Window.orderBy("_bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "_bucket",
        F.coalesce(F.sum("_btot").over(w_b), F.lit(0)).alias("_boff"),
    )
    w_in = (
        Window.partitionBy("_bucket")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = (
        with_b.join(F.broadcast(offsets), "_bucket")
        .withColumn(
            "_prefix",
            F.col("_boff")
            + F.coalesce(F.sum(token_col).over(w_in), F.lit(0)),
        )
    )
    # integer-exact pack arithmetic: take the modulo first so the
    # division is of an exact multiple (double division of an exact
    # multiple is exact for any budget, not just powers of two)
    offset = F.col("_prefix") % F.lit(budget)
    return out.select(
        *[c for c in df.columns],
        ((F.col("_prefix") - offset) / F.lit(budget))
        .cast("bigint")
        .alias("pack_id"),
        offset.cast("bigint").alias("offset_in_pack"),
    )


# --------------------------------------------------------------------------
# Line-level boilerplate cleaning (C4-style)
# --------------------------------------------------------------------------


def clean_lines(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 3,
    require_terminal_punct: bool = True,
    ban_substrings: tuple[str, ...] = ("javascript", "cookie policy"),
) -> DataFrame:
    """C4-style LINE-level cleaning: instead of dropping whole
    documents, drop the boilerplate LINES inside them — nav menus,
    cookie banners, share buttons — and keep the prose. Rules (each a
    C4 original): a line survives if it has ≥ ``min_words`` words,
    ends in terminal punctuation (when ``require_terminal_punct``),
    and contains none of ``ban_substrings`` (case-insensitive).

    Pure expression plan — split → filter (higher-order function) →
    array_join — a narrow map with zero shuffle at any corpus size.
    Adds ``clean_text`` plus kept/dropped line counts (the drop RATE
    is itself a quality signal: mostly-boilerplate docs are discards).
    """
    lines = F.split(F.col(text_col), "\n")

    def keep(line):
        word_cnt = F.size(F.split(F.trim(line), " +"))
        ok = (F.length(F.trim(line)) > 0) & (word_cnt >= min_words)
        if require_terminal_punct:
            ok = ok & F.trim(line).rlike("[.!?\"']$")
        for b in ban_substrings:
            ok = ok & ~F.lower(line).contains(b.lower())
        return ok

    kept = F.filter(lines, keep)
    return (
        df.withColumn("_lines", lines)
        .withColumn("_kept", kept)
        .withColumn("clean_text", F.array_join(F.col("_kept"), "\n"))
        .withColumn("n_lines", F.size("_lines").cast("bigint"))
        .withColumn("n_kept_lines", F.size("_kept").cast("bigint"))
        .drop("_lines", "_kept")
    )


# --------------------------------------------------------------------------
# Deterministic dataset splitting
# --------------------------------------------------------------------------


def assign_splits(
    df: DataFrame,
    id_col: str = "doc_id",
    fractions: dict[str, float] | None = None,
    salt: str = "",
    out_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment — the step between a
    curated corpus and training. Each document's split comes from a
    60-bit md5-derived hash of (salt || id): content-independent,
    seedless, and stable across engines and re-runs, so (a) adding
    documents never moves existing ones between splits, and (b) any
    engine (or the eval harness, in SQL) can recompute membership
    without a lookup table. ``salt`` gives independent re-splits.

    ``fractions`` maps split name → fraction, summing to ≤ 1 (any
    remainder joins the LAST split in insertion order). Assignment is
    by hash bands: h < f1·2^60 → split 1, h < (f1+f2)·2^60 → split 2,
    … — exact band arithmetic on integers, no float comparison
    ambiguity at the boundaries beyond the fixed band edges
    themselves.

    Pure narrow expression — zero shuffle at any corpus size, and the
    md5 band recipe has an exact DuckDB twin (hash-checkable).
    """
    if fractions is None:
        fractions = {"train": 0.9, "val": 0.05, "test": 0.05}
    if not fractions:
        raise ValueError("fractions must be non-empty")
    neg = {k: v for k, v in fractions.items() if v < 0}
    if neg:
        raise ValueError(f"fractions must be >= 0: {neg}")
    total = sum(fractions.values())
    if total > 1.0 + 1e-9:
        raise ValueError(f"fractions sum to {total} > 1")
    # 60-bit uniform hash: md5 hex chars [18, 33) parsed base-16
    h = md5_band60(salt, F.col(id_col).cast("string"))
    space = float(1 << 60)
    names = list(fractions)
    cum = 0.0
    expr = None
    for name in names[:-1]:
        cum += fractions[name]
        edge = F.lit(int(cum * space))
        expr = (
            F.when(h < edge, F.lit(name))
            if expr is None
            else expr.when(h < edge, F.lit(name))
        )
    last = F.lit(names[-1])
    out = last if expr is None else expr.otherwise(last)
    return df.withColumn(out_col, out)


# --------------------------------------------------------------------------
# Boilerplate-line removal (CCNet-style cross-document line frequency)
# --------------------------------------------------------------------------


def boilerplate_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
    min_chars: int = 5,
    delimiter: str = "\n",
) -> DataFrame:
    """Find boilerplate: lines (segments of ``text_col`` split on
    ``delimiter``, trimmed) that occur in at least ``min_docs``
    DISTINCT documents — navigation bars, cookie banners, footers in a
    crawl all repeat across pages while prose doesn't (the CCNet /
    RefinedWeb line-dedup signal). Returns (line, n_docs), the
    corpus-level boilerplate vocabulary.

    Plan: explode → distinct (doc, line) collapse map-side → count per
    line — one shuffle keyed on the line text, partial-aggregated, so
    the shuffle carries distinct pairs, not raw occurrences. Lines
    shorter than ``min_chars`` are ignored (isolated short strings
    repeat by chance, not boilerplate).
    """
    import re as _re

    # F.split takes a REGEX; the delimiter contract is LITERAL (and
    # DuckDB's str_split twin is literal) — escape it
    line = F.explode(
        F.split(F.col(text_col), _re.escape(delimiter), -1)
    ).alias("_raw")
    return (
        df.select(F.col(id_col).alias("_id"), line)
        .select("_id", F.trim(F.col("_raw")).alias("line"))
        .where(F.length("line") >= min_chars)
        .groupBy("line")
        .agg(F.countDistinct("_id").alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
    )


def remove_boilerplate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
    min_chars: int = 5,
    delimiter: str = "\n",
    out_col: str = "clean_text",
) -> DataFrame:
    """Strip the :func:`boilerplate_lines` vocabulary out of every
    document, preserving the order of surviving lines. Adds
    ``out_col`` plus ``n_lines_removed``.

    Plan: the boilerplate vocabulary aggregates to a single MAP row
    (line → true) and broadcasts; each document then filters its own
    split lines with a hash-map membership probe — O(1) per line, so
    per-document cost stays O(lines) even at crawl-scale vocabularies
    (an array_contains formulation would scan the whole vocabulary per
    line, O(lines × vocab)). The corpus side is a NARROW map — no
    explode/regroup round trip, no shuffle of document rows. The
    broadcast is bounded by the boilerplate vocabulary, which is small
    by construction (only text repeated across ``min_docs``+ documents
    qualifies — at crawl scale a few hundred thousand short strings);
    raise ``min_docs``/``min_chars`` to shrink it further before
    loosening them.
    """
    bp = boilerplate_lines(
        df,
        text_col=text_col,
        id_col=id_col,
        min_docs=min_docs,
        min_chars=min_chars,
        delimiter=delimiter,
    )
    bp_map = bp.agg(
        F.map_from_arrays(
            F.coalesce(
                F.collect_list("line"), F.array().cast("array<string>")
            ),
            F.coalesce(
                F.collect_list(F.lit(True)),
                F.array().cast("array<boolean>"),
            ),
        ).alias("_bp")
    )
    import re as _re

    lines = F.split(F.col(text_col), _re.escape(delimiter), -1)
    kept = F.filter(
        lines, lambda x: ~F.map_contains_key(F.col("_bp"), F.trim(x))
    )
    return (
        df.crossJoin(F.broadcast(bp_map))
        .withColumn(out_col, F.array_join(kept, delimiter))
        .withColumn(
            "n_lines_removed",
            (F.size(lines) - F.size(kept)).cast("bigint"),
        )
        .drop("_bp")
    )


def weighted_sample(
    df: DataFrame,
    weight_col,
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Deterministic importance sampling: keep each row with
    probability equal to its weight (clamped to [0, 1]) — quality-
    proportional downsampling, the knob between hard filtering (keep
    iff score > t) and keeping everything. The coin flip is the same
    seedless md5-band construction as assign_splits: u = hash(salt ||
    id) / 2^60, keep iff u < weight — so membership is reproducible
    across engines and runs, independent rows stay independent, and a
    re-run with a different ``salt`` draws a fresh sample.

    ``weight_col`` may be a column name or a Column expression (e.g. a
    quality score mapped through any monotone transform). The band
    edge is floor(w · 2^60) computed EXPLICITLY — a bare double→long
    cast truncates in Spark but rounds in some SQL engines, so the
    floor keeps the contract bit-identical cross-engine. Pure narrow
    expression; zero shuffle at any corpus size."""
    w = weight_col if isinstance(weight_col, Column) else F.col(weight_col)
    w = F.least(F.lit(1.0), F.greatest(F.lit(0.0), w.cast("double")))
    h = md5_band60(salt, F.col(id_col).cast("string"))
    edge = F.floor(w * F.lit(float(1 << 60))).cast("long")
    return df.where(h < edge)


def sample_per_group(
    df: DataFrame,
    group_col: str,
    k: int,
    id_col: str,
    salt: str = "",
) -> DataFrame:
    """Deterministic k-per-group sample: within each group, keep the
    ``k`` rows with the smallest 60-bit md5 hash of (salt || id) —
    the reservoir-sample shape every mixture/debug/eval slice needs,
    but seedless and growth-stable: a row's hash never changes, so
    adding rows to a group only ever displaces the largest-hash
    survivors, and any engine recomputes membership from the data
    alone (same recipe as assign_splits). ``salt`` draws an
    independent sample.

    ONE window shuffle keyed on the group; WindowGroupLimit stops
    per-group work at k rows. Ties are impossible in practice (60-bit
    hash) and broken by id for certainty."""
    if k < 1:
        raise ValueError("k must be >= 1")
    h = md5_band60(salt, F.col(id_col).cast("string"))
    w = Window.partitionBy(group_col).orderBy(
        h.asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


# --------------------------------------------------------------------------
# k-anonymity / quasi-identifier risk report (privacy release gating)
# --------------------------------------------------------------------------


def k_anonymity_report(
    df: DataFrame,
    quasi_cols: list[str],
    k: int = 10,
) -> DataFrame:
    """Quasi-identifier re-identification risk report — the release
    gate to run before publishing a training-data extract: a dataset
    is k-anonymous when every combination of the quasi-identifier
    columns (the attacker-linkable ones: location, demographic
    bucket, device class, ...) is shared by at least ``k`` rows.
    Groups below ``k`` are re-identification risks; size-1 groups are
    unique individuals (Sweeney 2002; the GDPR/HIPAA de-identification
    heuristic; complements scrub_pii, which removes DIRECT
    identifiers while this audits the indirect ones).

    Output is the VIOLATION HISTOGRAM, one row per equivalence-class
    size below k — ``group_size`` (1..k−1), ``n_groups`` (classes of
    that size), ``n_rows`` (individuals at risk in them) — ordered by
    group_size: ≤ k−1 rows whatever the data volume, so the report is
    collectable and hash-checkable at any scale. Empty result ⇔ the
    dataset IS k-anonymous on these columns. NULL quasi-identifier
    values form their own equivalence classes (a NULL zip code is
    itself a linkable signature, so dropping those rows would
    understate risk).

    Scale: ONE groupBy on the quasi-identifier tuple (map-side
    partial aggregation; the shuffle carries one row per EQUIVALENCE
    CLASS, not per input row), then a second groupBy on the class
    size whose key space is < k — two narrow exchanges, no sort of
    the data, no risk of a report explosion: unlike a per-violating-
    group detail dump (unbounded when most classes are small — the
    common case on wide quasi-keys), the histogram stays ≤ k−1 rows.
    Act on the report by suppressing the violating classes' rows or
    by generalizing the quasi-identifiers (k_anonymity_generalize).
    """
    if k < 2:
        raise ValueError(f"k must be >= 2: {k}")
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    sizes = df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("_sz")
    )
    return (
        sizes.where(F.col("_sz") < k)
        .groupBy(F.col("_sz").alias("group_size"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.sum("_sz").cast("bigint").alias("n_rows"),
        )
        .orderBy("group_size")
    )


def k_anonymity_generalize(
    df: DataFrame,
    levels: list[tuple[str, list[Column | str]]],
    k: int = 10,
) -> DataFrame:
    """Generalization ladder on top of ``k_anonymity_report`` — the
    policy layer that picks HOW MUCH coarsening a release needs
    instead of suppressing rows: given an ordered ladder of
    quasi-identifier definitions from finest (level 0) to coarsest
    (wider buckets, then dropped columns — Sweeney 2002's
    generalization hierarchy), audit every level and mark the FIRST
    one at which the dataset is k-anonymous. Publishing at the chosen
    level loses the least resolution that still meets the gate;
    suppression (dropping the rows of the violating classes) remains
    the fallback when even the coarsest level violates.

    Output: one row per ladder level — (level, level_name, n_classes,
    n_violations, rows_at_risk, min_class_size, is_chosen) — at most
    ``len(levels)`` rows at any data volume, ordered by level.
    ``is_chosen`` = 1 on the lowest level with zero violations (all 0
    when none qualifies). All counts are exact BIGINTs.

    Scale: one groupBy per ladder level, each a map-side-partial
    aggregation whose shuffle carries one row per equivalence class,
    folded to a SINGLE row per level before the union — L small
    passes over the input, never a multi-key sort. (A ROLLUP could
    share scans only for the drop-a-column sub-ladder; bucket-WIDENING
    levels regroup by different derived keys, so the general ladder is
    honestly L passes. L is policy-sized — single digits.)"""
    if k < 2:
        raise ValueError(f"k must be >= 2: {k}")
    if not levels:
        raise ValueError("levels must be non-empty")
    reports: list[DataFrame] = []
    for i, (name, quasi) in enumerate(levels):
        if not quasi:
            raise ValueError(f"level {i} ({name}) has no quasi columns")
        cols = [F.col(c) if isinstance(c, str) else c for c in quasi]
        sizes = df.groupBy(*cols).agg(
            F.count(F.lit(1)).cast("bigint").alias("_sz")
        )
        viol = F.when(F.col("_sz") < k, 1).otherwise(0)
        reports.append(
            sizes.agg(
                F.lit(i).cast("bigint").alias("level"),
                F.lit(name).alias("level_name"),
                F.count(F.lit(1)).cast("bigint").alias("n_classes"),
                F.sum(viol).cast("bigint").alias("n_violations"),
                F.coalesce(
                    F.sum(
                        F.when(F.col("_sz") < k, F.col("_sz")).otherwise(0)
                    ),
                    F.lit(0),
                )
                .cast("bigint")
                .alias("rows_at_risk"),
                F.min("_sz").cast("bigint").alias("min_class_size"),
            )
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    full = Window.partitionBy()
    chosen = F.min(
        F.when(F.col("n_violations") == 0, F.col("level"))
    ).over(full)
    return (
        out.withColumn(
            "is_chosen",
            F.when(F.col("level") == chosen, F.lit(1))
            .otherwise(F.lit(0))
            .cast("bigint"),
        )
        .orderBy("level")
    )


def l_diversity_report(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    l_min: int = 3,
) -> DataFrame:
    """Distinct l-diversity violation histogram — the second privacy
    gate after k-anonymity (Machanavajjhala et al. 2007): a dataset
    is l-diverse when every quasi-identifier equivalence class
    contains at least ``l_min`` DISTINCT values of the sensitive
    attribute. k-anonymity alone is defeated by the homogeneity
    attack — a 50-member class whose members all share one diagnosis
    re-identifies the attribute, not the row — so release gates run
    both. Output mirrors k_anonymity_report: one row per under-l
    distinct-count — (n_distinct_sensitive 0..l_min−1, n_groups,
    n_rows) — ≤ ``l_min`` rows at any volume; empty ⇔ l-diverse.
    NULL sensitive values are not counted as a diversity value (an
    all-NULL class reports 0 distinct — maximally homogeneous), while
    NULL quasi values form their own class, both matching the
    k-report's conventions.

    Scale: count_distinct inside the quasi-keyed groupBy expands to
    Spark's standard two-phase distinct aggregation (partial distinct
    per mapper, exchange one row per (class, sensitive) pair), then
    the histogram groupBy's key space is < l_min — the report never
    grows with the data."""
    if l_min < 2:
        raise ValueError(f"l_min must be >= 2: {l_min}")
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    per = df.groupBy(*quasi_cols).agg(
        F.count_distinct(F.col(sensitive_col)).cast("bigint").alias("_d"),
        F.count(F.lit(1)).cast("bigint").alias("_sz"),
    )
    return (
        per.where(F.col("_d") < l_min)
        .groupBy(F.col("_d").alias("n_distinct_sensitive"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.sum("_sz").cast("bigint").alias("n_rows"),
        )
        .orderBy("n_distinct_sensitive")
    )


def t_closeness_report(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    t_max: float = 0.2,
    n_buckets: int = 20,
) -> DataFrame:
    """Ordered-EMD t-closeness violation histogram — the THIRD privacy
    gate, closing the k/l/t release trio (Li, Li & Venkatasubramanian
    2007): a class can be k-anonymous AND l-diverse yet leak through
    SKEW — a 50-member class with all ``l_min`` diagnoses present but
    90% one rare disease tells the attacker far more than the global
    base rate does. t-closeness bounds, per quasi-identifier
    equivalence class, the Earth Mover's Distance between the class's
    sensitive-value distribution and the GLOBAL one; for an ordered
    categorical attribute with unit ground distance between adjacent
    categories, EMD = (1/(m-1)) * sum over sorted category prefixes of
    |cumulative(p - q)| (the paper's ordered-distance formula; m = 1
    degenerates to EMD 0 — both distributions are the single point).

    Exactness shape (the fisher_exact discipline — no float
    accumulation anywhere): with class counts c_i (n = sum c_i
    non-NULL-sensitive rows in the class) and global counts g_i
    (N = sum g_i), each prefix term is the exact BIGINT
    S_i = sum_{j<=i} (c_j*N - g_j*n), the numerator sum|S_i| is an
    exact BIGINT, and emd = numerator / (n*N*(m-1)) is ONE IEEE
    division of exact integers — bit-identical in any engine.
    (BIGINT bound: |S_i| <= n*N, so the report is exact while
    class_size x corpus_nonnull < 2^63 — pre-aggregate or shard the
    corpus before auditing beyond that.)

    Output is the sibling reports' bounded HISTOGRAM, over classes
    whose emd EXCEEDS ``t_max``: one row per emd bucket of width
    1/``n_buckets`` — (t_bucket 0..n_buckets-1, n_groups, n_rows,
    min_emd, max_emd ROUND 9) ordered by t_bucket; <= n_buckets rows
    at any volume, empty <=> every class is within t of the global
    distribution. Conventions match the siblings: NULL quasi values
    form their own class; NULL sensitive values join neither the
    class nor the global distribution (classes with ONLY NULL
    sensitive rows have no distribution to compare and are skipped —
    the l-diversity gate already flags them as 0-diverse), but DO
    count toward the class's ``n_rows`` at risk.

    Scale: level 1 groups by (quasi, sensitive) — the shuffle carries
    one row per (class, value) pair; level 2 folds each class to ONE
    row carrying a vocabulary-bounded value->count map; the global
    distribution is a ONE-ROW broadcast fold joined back onto the
    class table (the aggregate-crossJoin idiom ~40 contract keys use
    — a BroadcastNestedLoopJoin bounded at exactly one build row, the
    audited-safe shape, never a growing side); the prefix-sum EMD then
    runs as a per-row higher-order fold over the sorted global
    category array — whole-stage codegen, NO explode, NO window, no
    further shuffle. The histogram groupBy's key space is
    <= n_buckets."""
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    if not (0.0 <= t_max < 1.0):
        raise ValueError(f"t_max must be in [0, 1): {t_max}")
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1: {n_buckets}")
    pairs = t_closeness_pairs(df, quasi_cols, sensitive_col)
    return t_closeness_readout(
        pairs, quasi_cols, t_max=t_max, n_buckets=n_buckets
    )


def t_closeness_pairs(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
) -> DataFrame:
    """Front end of t_closeness_report: the (quasi..., _v, _c)
    level-1 census — one map-side-combined groupBy whose shuffle
    carries one row per (class, sensitive value) pair."""
    return (
        df.select(*quasi_cols, F.col(sensitive_col).alias("_v"))
        .groupBy(*quasi_cols, "_v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
    )


def t_closeness_readout(
    pairs: DataFrame,
    quasi_cols: list[str],
    t_max: float,
    n_buckets: int,
) -> DataFrame:
    """Back end of t_closeness_report: from the (quasi..., _v, _c)
    census to the violation histogram; each class is compared against
    the whole corpus's distribution."""
    # one row per class: value->count map (NULL sensitive excluded
    # from the distribution but kept in the at-risk size)
    cls = pairs.groupBy(*quasi_cols).agg(
        F.map_from_entries(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("_v").isNotNull(),
                        F.struct(F.col("_v"), F.col("_c")),
                    )
                )
            )
        ).alias("_dist"),
        F.sum(F.when(F.col("_v").isNotNull(), F.col("_c")).otherwise(0))
        .cast("bigint")
        .alias("_n"),
        F.sum("_c").cast("bigint").alias("_sz"),
    )
    # global sorted category array with counts — report-sized (the
    # sensitive vocabulary), ONE row, broadcast back (constant-key
    # 1-row fold — Catalyst folds the trivial condition, leaving the
    # standard bounded BroadcastNestedLoop).
    # Derived from the CLASS table's value->count maps rather than
    # from a second reference to the census: the two census branches
    # could never share one exchange (this side filters NULL
    # sensitive values, the class side must keep them for the at-risk
    # size), so the census — and the corpus scan under it — built
    # twice (measured). Σ_class c_iv = g_v exactly (integer sums),
    # and NULL sensitive values are already absent from the maps.
    glob = (
        cls.select(F.explode("_dist"))
        .groupBy(F.col("key").alias("_v"))
        .agg(F.sum("value").cast("bigint").alias("_g"))
        .groupBy()
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_v"), F.col("_g")))
            ).alias("_cats"),
            F.sum("_g").cast("bigint").alias("_bign"),
            F.count(F.lit(1)).cast("bigint").alias("_m"),
        )
    )
    cls = cls.withColumn("_j", F.lit(1))
    glob = glob.withColumn("_j", F.lit(1))
    joined = cls.where(F.col("_n") > 0).join(F.broadcast(glob), ["_j"])
    # EMD numerator as one fold over the sorted global categories:
    # state = (prefix BIGINT, acc BIGINT); per category
    # prefix += c_i*N - g_i*n ; acc += |prefix| (the final category's
    # prefix is identically 0, so including it is harmless)
    num = F.expr(
        "aggregate(_cats, "
        "named_struct('s', CAST(0 AS BIGINT), 'a', CAST(0 AS BIGINT)), "
        "(st, cat) -> named_struct("
        "'s', st.s + coalesce(element_at(_dist, cat._v), CAST(0 AS BIGINT))"
        " * _bign - cat._g * _n, "
        "'a', st.a + abs(st.s + "
        "coalesce(element_at(_dist, cat._v), CAST(0 AS BIGINT)) * _bign"
        " - cat._g * _n)), "
        "st -> st.a)"
    )
    per_class = joined.select(
        F.col("_sz"),
        F.when(F.col("_m") > 1, num.cast("double") / (
            F.col("_n") * F.col("_bign") * (F.col("_m") - F.lit(1))
        ).cast("double"))
        .otherwise(F.lit(0.0))
        .alias("_emd"),
    )
    bucket = F.least(
        F.floor(F.col("_emd") * F.lit(float(n_buckets))),
        F.lit(n_buckets - 1),
    ).cast("bigint")
    return (
        per_class.where(F.col("_emd") > F.lit(float(t_max)))
        .groupBy(bucket.alias("t_bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.sum("_sz").cast("bigint").alias("n_rows"),
            F.round(F.min("_emd"), 9).alias("min_emd"),
            F.round(F.max("_emd"), 9).alias("max_emd"),
        )
        .orderBy("t_bucket")
    )
