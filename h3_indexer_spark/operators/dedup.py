"""Deduplication operators for large-scale text corpora.

All are expressed as DataFrame plans that scale to 100 TB:
- exact:      hash-groupBy (one shuffle of (hash, id) pairs only)
- minhash-LSH: per-doc shingle-hash ARRAY (narrow, JVM) → 64-way
  signatures + band buckets in ONE Arrow reduceat kernel (zero
  shuffle) → self-join within buckets → exact-Jaccard verification
  via array_intersect. Only (band_hash, id) rows and the candidate
  docs' shingle arrays ever shuffle (the classic
  explode→distinct→groupBy formulation shuffles the whole shingle
  table twice and re-scans the corpus per verification branch).
- simhash:    64-bit weighted-bit fingerprint from a token-hash array
  via one Arrow unpackbits kernel (zero shuffle); near-dups share
  bands of the fingerprint.

Every operator keys the heavy join on a hash, so AQE's skew handling
covers pathological buckets (e.g. boilerplate-heavy corpora).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from h3_indexer_spark.functions.exprs import let


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicate groups by content hash; keeps the minimum id as
    the canonical representative. Output: (text_hash, keep_id, dup_cnt).
    """
    return (
        df.select(F.md5(F.col(text_col).cast("binary")).alias("text_hash"), id_col)
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("dup_cnt"))
    )


def _shingle_hash_array(text_col: str, k: int) -> F.Column:
    """Distinct word-k-gram hashes as an array column — narrow, no
    shuffle, no explode. Words are pre-hashed once so each k-gram
    hashes a k-long slice of longs instead of re-building the gram
    string (same trick as textops.fingerprint, ~3x cheaper)."""
    word_hashes = F.transform(
        F.split(F.col(text_col), r"\s+"), lambda w: F.xxhash64(w)
    )
    return let(
        word_hashes,
        lambda wh: F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size(wh) - k, F.lit(0))),
                lambda i: F.xxhash64(F.slice(wh, i + 1, k)),
            )
        ),
    )


def shingles(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 5
) -> DataFrame:
    """Word k-gram shingle set per document as (id, sh_arr) — one row
    per document, the whole set in an array column."""
    return df.select(id_col, _shingle_hash_array(text_col, k).alias("sh_arr"))


def _splitmix64(x: "np.ndarray") -> "np.ndarray":
    """SplitMix64 finalizer over a uint64 array (public-domain mixer) —
    the vectorized signature hash family."""
    with np.errstate(over="ignore"):
        z = x + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def minhash_signatures(
    shingle_df: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 64,
    seed: int = 42,
    bands: int = 16,
) -> DataFrame:
    """MinHash signature per document: ``num_hashes`` minima over the
    shingle array — zero shuffle.

    The minima are computed in one Arrow hop: the batch's shingle
    arrays flatten into a single uint64 vector, each of the
    ``num_hashes`` seeded SplitMix64 functions hashes the whole vector
    at once, and per-document minima come from ``minimum.reduceat``
    over the flattening offsets. Measured at sf0.1 this is ~8× faster
    than the previous codegen'd 64-way nested HOF (whose 64×S xxhash64
    calls per row dominated the whole near-dup plan). The family only
    drives candidate generation — surfaced pairs are still verified
    with exact Jaccard — and recall floors are locked by test."""

    def fn(batches):
        rng_seeds = np.asarray(
            [seed * 0x9E3779B9 + h * 0xC2B2AE35 for h in range(num_hashes)],
            dtype=np.uint64,
        )
        for pdf in batches:
            if not len(pdf):
                continue
            # empty shingle sets get one sentinel element so reduceat
            # segments are never zero-length
            arrs = [
                np.asarray(a, dtype=np.uint64)
                if a is not None and len(a)
                else np.zeros(1, dtype=np.uint64)
                for a in pdf["sh_arr"]
            ]
            lens = np.asarray([len(a) for a in arrs], dtype=np.int64)
            flat = np.concatenate(arrs)
            offs = np.zeros(len(arrs), dtype=np.int64)
            np.cumsum(lens[:-1], out=offs[1:])
            sig = np.empty((len(arrs), num_hashes), dtype=np.uint64)
            for h in range(num_hashes):
                hv = _splitmix64(flat ^ rng_seeds[h])
                sig[:, h] = np.minimum.reduceat(hv, offs)
            # band buckets in the same pass: fold each band's minima
            # through SplitMix64 (seeded by band index) so candidate
            # generation downstream is a plain explode of this column
            rows_per_band = num_hashes // bands
            band_arr = np.empty((len(arrs), bands), dtype=np.uint64)
            for b in range(bands):
                acc = _splitmix64(np.full(len(arrs), b, dtype=np.uint64))
                for r_ in range(rows_per_band):
                    acc = _splitmix64(acc ^ sig[:, b * rows_per_band + r_])
                band_arr[:, b] = acc
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "sh_arr": pdf["sh_arr"],
                "sig": list(sig.view(np.int64)),
                "bands": list(band_arr.view(np.int64)),
            })

    # preserve the caller's id type (string doc ids must survive the
    # Arrow hop, not be coerced to long)
    id_type = shingle_df.schema[id_col].dataType.simpleString()
    schema = (
        f"{id_col} {id_type}, sh_arr array<long>, sig array<long>, "
        "bands array<long>"
    )
    return shingle_df.mapInPandas(fn, schema=schema)


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Banded LSH: documents sharing any band bucket become candidate
    pairs (a < b). Only (band_hash, id) rows shuffle. Band buckets are
    precomputed by the signature kernel (the ``bands`` column) — the
    band count is fixed there, so this stage takes no banding
    parameters and is a plain explode + self-join."""
    buckets = F.col("bands")
    # shuffle-hash, not broadcast: the banded table is corpus-sized, so
    # a broadcast (which Catalyst may pick — generated subplans carry no
    # stats) would ship the whole corpus's buckets to every task AND
    # recompute the signature subplan on the build side. With both
    # sides shuffling the identical subplan, the exchange is computed
    # once and reused. Measured 2x at sf0.1; at scale it is the only
    # viable strategy.
    stacked = signatures.select(
        id_col, F.explode(buckets).alias("bucket")
    ).hint("shuffle_hash")
    left = stacked.alias("l")
    right = stacked.alias("r")
    return (
        left.join(right, on="bucket")
        .where(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def ngram_jaccard(
    pairs: DataFrame,
    shingle_df: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact Jaccard similarity of shingle sets for candidate pairs —
    the verification step after LSH. Joins each side's shingle array to
    the pair and intersects in place; only candidate docs' arrays move.
    """
    a = shingle_df.select(
        F.col(id_col).alias("id_a"), F.col("sh_arr").alias("sh_a")
    )
    b = shingle_df.select(
        F.col(id_col).alias("id_b"), F.col("sh_arr").alias("sh_b")
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (inter / F.greatest(union, F.lit(1))).alias("jaccard"),
        )
    )


def minhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
) -> DataFrame:
    """Full near-dup plan: shingle array → minhash → LSH candidates →
    exact Jaccard filter. Output: (id_a, id_b, jaccard) with jaccard ≥
    threshold."""
    sh = shingles(df, text_col, id_col, k)
    sig = minhash_signatures(sh, id_col, num_hashes, bands=bands)
    pairs = lsh_candidate_pairs(sig, id_col)
    return ngram_jaccard(pairs, sh, id_col).where(
        F.col("jaccard") >= threshold
    )


def embedding_near_dups_exact(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding-cosine near-dup pairs, exact all-pairs baseline:
    self-join (id_a < id_b) + cosine threshold. O(n²) — the correctness
    oracle for the LSH path; use :func:`embedding_near_dups` at scale.
    Output: (id_a, id_b, cosine_sim)."""
    withn = df.select(
        F.col(id_col),
        F.col(vec_col),
        F.sqrt(
            F.aggregate(
                F.transform(
                    F.col(vec_col), lambda x: x.cast("double") * x.cast("double")
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ).alias("_norm"),
    )
    a = withn.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"),
        F.col("_norm").alias("_na"),
    )
    b = withn.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"),
        F.col("_norm").alias("_nb"),
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("_va"),
            F.col("_vb"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (dot / (F.col("_na") * F.col("_nb"))).alias("cosine_sim"),
        )
        .where(F.col("cosine_sim") >= threshold)
    )


def embedding_near_dups(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    n_planes: int = 320,
    bands: int = 20,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-dup pairs at scale: sign-LSH banded
    bucketing → candidate self-join within buckets → exact cosine
    verification. Only (band, packed_bits, id) rows shuffle for
    candidate generation; vectors move only for the candidate ids.
    Output: (id_a, id_b, cosine_sim) with cosine ≥ threshold.

    Band sizing is the whole game: near-dup thresholds (≥0.9 cosine)
    tolerate WIDE bands — 16 sign bits per band makes unrelated
    vectors collide at ~2^-16 per band (candidate set ≈ linear in n)
    while a 0.99-cosine pair still shares some band with p ≈ 1-1e-6 at
    20 bands. The 320 hyperplane projections are one worker-local
    numpy GEMM per Arrow batch (a pandas UDF, not 320 codegen'd dot
    expressions)."""
    width = n_planes // bands
    if width > 62:
        raise ValueError("band width must fit in a long")

    @F.pandas_udf("array<long>")
    def band_values(vecs: pd.Series) -> pd.Series:
        rng = np.random.RandomState(seed)
        planes = rng.standard_normal((n_planes, dim))
        powers = 1 << np.arange(width, dtype=np.int64)
        vmat = np.stack(vecs.apply(lambda v: np.asarray(v, dtype=np.float64)))
        bits = (vmat @ planes.T) >= 0  # (n, n_planes)
        packed = bits.reshape(len(vmat), bands, width).astype(np.int64) @ powers
        return pd.Series(list(packed))

    stacked = df.select(
        id_col, F.posexplode(band_values(F.col(vec_col)))
    ).select(
        id_col, F.col("pos").alias("band"), F.col("col").alias("v")
    ).hint("shuffle_hash")
    l, r = stacked.alias("l"), stacked.alias("r")
    pairs = (
        l.join(r, ["band", "v"])
        .where(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    withn = df.select(
        F.col(id_col),
        F.col(vec_col),
        F.sqrt(
            F.aggregate(
                F.transform(
                    F.col(vec_col), lambda x: x.cast("double") * x.cast("double")
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ).alias("_norm"),
    )
    verified = (
        pairs.join(
            withn.select(
                F.col(id_col).alias("id_a"),
                F.col(vec_col).alias("_va"),
                F.col("_norm").alias("_na"),
            ),
            "id_a",
        )
        .join(
            withn.select(
                F.col(id_col).alias("id_b"),
                F.col(vec_col).alias("_vb"),
                F.col("_norm").alias("_nb"),
            ),
            "id_b",
        )
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("_va"),
            F.col("_vb"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return verified.select(
        "id_a",
        "id_b",
        (dot / (F.col("_na") * F.col("_nb"))).alias("cosine_sim"),
    ).where(F.col("cosine_sim") >= threshold)


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_hash=None,
    n_bits: int = 64,
) -> DataFrame:
    """``n_bits``-wide SimHash fingerprint per document: token hash →
    per-bit ±1 votes (popcount form: bit_b set ⟺ 2·ones_b > n) → pack.
    Output: (id, simhash) as long.

    ``token_hash`` maps a token Column to a long Column; the default
    xxhash64 is the production hash, while the driver contract passes
    an md5-derived 60-bit hash (identical in DuckDB, so the whole
    fingerprint is SQL-mirrorable — same recipe as the md5 variant of
    textops.fingerprint). ``n_bits`` must be ≤ 64 and match the hash's
    width.

    ZERO-shuffle formulation: tokenization and hashing stay JVM-side
    (codegen'd transform), then one Arrow hop computes the bit votes
    per document with numpy unpackbits — a (tokens × n_bits)
    bit-matrix column sum per doc, no explode, no fingerprint shuffle
    at all. Measured at sf0.1: 6.7× faster steady-state and 2.4×
    faster first-run than the previous explode + 65-aggregate groupBy
    (which itself beat the interpreted HOF fold 2×); fingerprints are
    bit-identical across all three."""
    if token_hash is None:
        # wrap: xxhash64 is *args-variadic, which the HOF lambda
        # machinery rejects as a direct callback
        def token_hash(t):
            return F.xxhash64(t)
    hashed = df.select(
        id_col,
        F.transform(
            F.split(F.col(text_col), r"\s+"), token_hash
        ).alias("_ths"),
    ).where(F.col("_ths").isNotNull())

    weights = (np.uint64(1) << np.arange(n_bits, dtype=np.uint64)).astype(
        np.uint64
    )

    def fn(batches):
        for pdf in batches:
            fps = []
            for ths in pdf["_ths"]:
                a = np.asarray(ths, dtype=np.int64).view(np.uint64)
                n = len(a)
                bits = np.unpackbits(
                    a.view(np.uint8).reshape(n, 8), axis=1,
                    bitorder="little",
                )[:, :n_bits]
                ones = bits.sum(axis=0)
                fp = int(((2 * ones > n).astype(np.uint64) * weights).sum())
                fps.append(fp - (1 << 64) if fp >= (1 << 63) else fp)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "simhash": pd.Series(fps, dtype="int64"),
                }
            )

    return hashed.mapInPandas(fn, schema=f"{id_col} long, simhash long")


def simhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
    token_hash=None,
    n_bits: int = 64,
) -> DataFrame:
    """SimHash near-dup candidates: split the fingerprint into
    ``bands`` blocks; by pigeonhole, any pair within ``max_hamming``
    (< bands) shares at least one exact block — candidate generation
    is EXHAUSTIVE, not probabilistic, so the output is exactly the
    set of pairs with fingerprint hamming ≤ ``max_hamming``. Verify
    with popcount. Output: (id_a, id_b, hamming)."""
    fps = simhash(df, text_col, id_col, token_hash=token_hash,
                  n_bits=n_bits)
    width = n_bits // bands
    block_cols = [
        F.shiftrightunsigned(F.col("simhash"), b * width)
        .bitwiseAND((1 << width) - 1)
        .alias(f"blk_{b}")
        for b in range(bands)
    ]
    blocked = fps.select(id_col, "simhash", *block_cols)
    stacked = blocked.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), F.col(f"blk_{b}").alias("v"))
                    for b in range(bands)
                ]
            )
        ).alias("blk"),
    ).select(id_col, "simhash", "blk.band", "blk.v").hint("shuffle_hash")
    l, r = stacked.alias("l"), stacked.alias("r")
    cand = (
        l.join(r, ["band", "v"])
        .where(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.col("l.simhash").alias("sh_a"),
            F.col("r.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.select("id_a", "id_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def exact_dedup_keep_best(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    score_col: str = "n_chars",
) -> DataFrame:
    """Exact dedup that keeps the highest-``score_col`` row per content
    hash (id ascending breaks score ties) — canonical-document
    selection for curation, where "first seen" is the wrong keep rule.
    One shuffle (the rank window over the hash); emits the kept rows
    with their duplicate count. Output: (text_hash, *df columns,
    dup_cnt)."""
    hashed = df.withColumn(
        "text_hash", F.md5(F.col(text_col).cast("binary"))
    )
    w = Window.partitionBy("text_hash").orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return (
        hashed.withColumn("_rk", F.row_number().over(w))
        .withColumn(
            "dup_cnt", F.count("*").over(Window.partitionBy("text_hash"))
        )
        .where(F.col("_rk") == 1)
        .drop("_rk")
    )


def ngram_jaccard_exact_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int = 100,
) -> DataFrame:
    """EXACT word-n-gram Jaccard near-dup pairs via an inverted index —
    the oracle-checkable sibling of the seeded minhash path.

    Instead of all-pairs (O(corpus^2)) or hashed signatures (seeded,
    so no SQL oracle), pairs are generated through the inverted
    index: a document pair is compared only if it shares at least one
    n-gram. The index is materialized as per-gram POSTING ARRAYS —
    ONE map-side-combined groupBy(gram) — and the candidate pairs
    explode posting-locally (each id against its own posting's
    strictly-greater suffix), so the intersection size is a plain
    count over the exploded pairs. The former shape expressed the
    same index as (gram, id) rows, paid a full window-over-gram
    shuffle just to compute the df cap, and then referenced that
    windowed subtree FOUR times (both self-join sides + two size
    lookups) — the window executed once per reference and dominated
    the kernel (measured 7.4 s → ~2 s at sf0.1 for a 256-pair
    output). ``max_df`` is now a posting-size filter: it still drops
    grams occurring in more than that many documents before any pair
    is generated — the standard stop-shingle guard that bounds
    per-gram fan-out to max_df^2 rows, which is what keeps the plan
    viable at 100 TB (boilerplate grams would otherwise produce
    quadratic bucket blowups; a true near-dup pair at threshold
    >= 0.5 shares many grams, so dropping ubiquitous grams does not
    lose pairs in practice and the semantics are explicit). A hot
    gram's posting list is held transiently by its aggregation
    buffer before the filter drops it — the same per-group buffering
    the window paid, not a new exposure. Both the gram construction
    and the cap are mirrored exactly in the DuckDB oracle. Output:
    (id_a, id_b, jaccard).
    """
    grams = df.select(
        id_col, F.explode(_word_ngram_strings(text_col, n)).alias("gram")
    )
    # (gram, id) rows are already distinct (array_distinct upstream),
    # so each posting's ids are unique and |posting| IS the gram's df
    postings = (
        grams.groupBy("gram")
        .agg(F.collect_list(F.col(id_col)).alias("_ids"))
        .where(F.size("_ids") <= max_df)
    )
    sizes = (
        postings.select(F.explode("_ids").alias(id_col))
        .groupBy(id_col)
        .agg(F.count("*").alias("_sz"))
    )
    inter = (
        postings.select(F.explode("_ids").alias("id_a"), "_ids")
        .select(
            "id_a",
            F.explode(
                F.filter("_ids", lambda e: e > F.col("id_a"))
            ).alias("id_b"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("_sz").alias("_sa"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("_sz").alias("_sb"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("_inter")
                / (F.col("_sa") + F.col("_sb") - F.col("_inter")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.6,
    max_df: int = 100,
) -> DataFrame:
    """ASYMMETRIC near-dup detection: ordered pairs (a, b) where at
    least ``threshold`` of a's distinct word n-grams also occur in b —
    containment C(a→b) = |A∩B| / |A| (Broder 1997's companion measure
    to Jaccard). Jaccard misses subset duplication by construction (a
    paragraph quoted inside a 100× longer page has tiny Jaccard but
    containment ≈ 1), and sub-document duplication is exactly what
    quote-farms / aggregator pages inject into a crawl corpus.

    Same posting-array inverted-index shape as
    ngram_jaccard_exact_pairs: ONE map-side-combined groupBy(gram)
    materializes each gram's posting list, ``max_df`` is a
    posting-size filter dropping boilerplate grams before any pair
    is generated (per-gram fan-out bounded at max_df² as before),
    and the ordered-pair intersection explodes posting-locally (each
    id against every OTHER id in its own posting) — no self-join,
    no window (see the jaccard kernel's docstring for the measured
    rationale). Output: (id_a, id_b, containment) — "a is
    substantially contained in b"; containment is ONE exact division
    of BIGINT counts. Note the direction: both (a,b) and (b,a) can
    emit, with different denominators.
    """
    grams = df.select(
        id_col, F.explode(_word_ngram_strings(text_col, n)).alias("gram")
    )
    postings = (
        grams.groupBy("gram")
        .agg(F.collect_list(F.col(id_col)).alias("_ids"))
        .where(F.size("_ids") <= max_df)
    )
    sizes = (
        postings.select(F.explode("_ids").alias(id_col))
        .groupBy(id_col)
        .agg(F.count("*").alias("_sz"))
    )
    inter = (
        postings.select(F.explode("_ids").alias("id_a"), "_ids")
        .select(
            "id_a",
            F.explode(
                F.filter("_ids", lambda e: e != F.col("id_a"))
            ).alias("id_b"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("_sz").alias("_sa"))
    return (
        inter.join(sa, "id_a")
        .select(
            "id_a",
            "id_b",
            (F.col("_inter") / F.col("_sa").cast("double")).alias(
                "containment"
            ),
        )
        .where(F.col("containment") >= threshold)
    )


def _word_ngram_strings(text_col: str, n: int) -> F.Column:
    """DISTINCT word n-grams as plain strings (not hashes — the whole
    point is engine-portable exactness). Narrow. A document shorter
    than n words contributes its full text as one gram."""
    words = F.split(F.col(text_col), " ")
    return let(
        words,
        lambda w: F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(1), F.greatest(F.size(w) - F.lit(n - 1), F.lit(1))
                ),
                lambda s: F.array_join(F.slice(w, s, n), " "),
            )
        ),
    )


def duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Exact duplicated-passage detection: every ``width``-token window
    (stride 1) that occurs at least ``min_count`` times anywhere in the
    corpus, with its position in each document — the distributed
    n-gram formulation of exact substring deduplication (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better"),
    which removes boilerplate passages doc-level dedup can't see.

    Plan: posexplode the stride-1 windows (narrow), then ONE shuffle —
    a count window partitioned by the gram — and filter. The
    partial-agg + join alternative shuffles the gram table twice, so
    the window form is strictly better here. Consecutive duplicated
    windows of a longer shared passage all surface, one row each.
    The shuffle key is the gram string itself, so the output is
    oracle-checkable. Output: (id, start, gram, n_occ).
    """
    words = F.split(F.col(text_col), " ")
    grams = df.select(
        id_col,
        F.posexplode(
            let(
                words,
                lambda w: F.transform(
                    F.sequence(
                        F.lit(1),
                        F.greatest(F.size(w) - F.lit(width - 1), F.lit(1)),
                    ),
                    lambda s: F.array_join(F.slice(w, s, width), " "),
                ),
            )
        ).alias("start", "gram"),
    )
    n_occ = F.count(F.lit(1)).over(Window.partitionBy("gram"))
    return (
        grams.withColumn("n_occ", n_occ)
        .where(F.col("n_occ") >= F.lit(min_count))
    )


def dedup_resolve(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """End-to-end near-dup resolution: candidate PAIRS -> transitive
    clusters (connected components, operators/graph.py) -> one
    canonical survivor per cluster (minimum id — swap in
    exact_dedup_keep_best for score-based selection) -> the deduped
    corpus. This is the full pipeline a production dedup run executes
    after any pair generator (minhash / simhash / embedding-LSH /
    exact-Jaccard all emit the same (id_a, id_b) shape).

    Cost beyond the component step: one narrow filter on the label
    table plus one hash semi-join back to the corpus. Semantics match
    the reference-free standard: A~B, B~C collapses {A, B, C} to one
    document even though A, C never paired.
    """
    from h3_indexer_spark.operators.graph import connected_components

    labels = connected_components(
        pairs, docs, src=src, dst=dst, id_col=id_col
    )
    survivors = labels.where(
        F.col(id_col) == F.col("component")
    ).select(id_col)
    return docs.join(survivors, id_col, "semi")


def semantic_dedup_pairs(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs: coarse-cluster every
    embedding (similarity.ivf_assign — one GEMM per Arrow batch), then
    exact-cosine only WITHIN clusters. Candidate work drops from
    O(n²) to Σ|cluster|² — with k balanced clusters that is n²/k, and
    the self-join keys on ivf_cell so each cluster's pairs build in
    one shuffle partition (AQE splits an oversized cluster). The
    trade, exactly as in the SemDeDup recipe: cross-cluster near-dups
    are unseen by design; raise k for pruning, lower it for recall.

    Cosine uses the same left-associative zip_with/aggregate fold as
    embedding_near_dups_exact, so surviving pairs' sims are bit-equal
    to the exact baseline (and to a SQL oracle mirroring the fold).
    Output: (id_a, id_b, cosine_sim) with cosine_sim >= threshold.
    Feed to dedup_resolve for survivor selection.
    """
    from h3_indexer_spark.operators.similarity import ivf_assign

    assigned = ivf_assign(df, centroids, vec_col)
    norm = F.sqrt(
        F.aggregate(
            F.transform(
                F.col(vec_col),
                lambda x: x.cast("double") * x.cast("double"),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    withn = assigned.select(
        F.col(id_col),
        F.col(vec_col),
        F.col("ivf_cell"),
        # zero vectors: norm 0 -> 1.0, same as the _fast path's
        # norms[norms == 0] = 1.0 — cosine becomes 0/1 = 0 and the
        # pair drops at any positive threshold, instead of 0/0 = NaN
        # which Spark orders ABOVE every double and would emit
        F.when(norm == 0.0, F.lit(1.0)).otherwise(norm).alias("_norm"),
    )
    a = withn.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"),
        F.col("ivf_cell").alias("_cell"),
        F.col("_norm").alias("_na"),
    )
    b = withn.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"),
        F.col("ivf_cell").alias("_cell"),
        F.col("_norm").alias("_nb"),
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("_va"),
            F.col("_vb"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        a.join(b, "_cell")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (dot / (F.col("_na") * F.col("_nb"))).alias("cosine_sim"),
        )
        .where(F.col("cosine_sim") >= threshold)
    )


def semantic_dedup_pairs_fast(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Scale path of :func:`semantic_dedup_pairs`: same cluster-pruned
    semantics, but the within-cluster pairwise cosine runs as ONE
    numpy GEMM per cluster (applyInPandas) instead of a per-pair
    zip_with fold — the self-join that materializes |cluster|² rows
    through the JVM disappears entirely; only the cluster's vectors
    shuffle once. Measured 4-7× the expression path at 5k-20k vectors
    (SCALE.md §3; the gap widens with candidate density — the
    expression path pays per surviving JVM pair row, the GEMM path
    per vector). Pair sets match the exact path wherever no pair's
    cosine sits within float-sum rounding (~1e-12) of the threshold;
    sims differ from the fold order by ≤1 ulp, so this is the
    production path and semantic_dedup_pairs the oracle baseline.

    A cluster's VECTORS must fit one executor's memory, but the
    |cluster|² score matrix never materializes: the GEMM streams in
    row blocks (block × |cluster| scores at a time, ~16 MB/block),
    keeping peak memory linear in |cluster|. Size n_cells so clusters
    are ~10⁴-10⁵ vectors, the same constraint the SemDeDup recipe
    operates under.
    """
    import numpy as np

    from h3_indexer_spark.operators.similarity import ivf_assign

    assigned = ivf_assign(df, centroids, vec_col).select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"), "ivf_cell"
    )

    def pairs_in_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["_id"].to_numpy()
        m = np.asarray(pdf["_v"].tolist(), dtype=np.float64)
        norms = np.sqrt((m * m).sum(axis=1))
        norms[norms == 0.0] = 1.0
        blk = 2048  # 2048 × 10⁵ scores ≈ 16 MB/block at 8 B each
        out_a: list[np.ndarray] = []
        out_b: list[np.ndarray] = []
        out_s: list[np.ndarray] = []
        for lo in range(0, len(m), blk):
            hi = min(lo + blk, len(m))
            sims = (m[lo:hi] @ m.T) / np.outer(norms[lo:hi], norms)
            ia, ib = np.nonzero(sims >= threshold)
            keep = ia + lo < ib  # strict upper triangle, global coords
            ia, ib = ia[keep], ib[keep]
            swap = ids[ia + lo] > ids[ib]
            out_a.append(np.where(swap, ids[ib], ids[ia + lo]))
            out_b.append(np.where(swap, ids[ia + lo], ids[ib]))
            out_s.append(sims[ia, ib])
        empty_id = np.array([], dtype=ids.dtype)
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a) if out_a else empty_id,
                "id_b": np.concatenate(out_b) if out_b else empty_id,
                "cosine_sim": (
                    np.concatenate(out_s)
                    if out_s
                    else np.array([], dtype=np.float64)
                ),
            }
        )

    id_type = df.schema[id_col].dataType.simpleString()
    return assigned.groupBy("ivf_cell").applyInPandas(
        pairs_in_cluster,
        schema=f"id_a {id_type}, id_b {id_type}, cosine_sim double",
    )
