"""Text analysis operators for training-data pipelines.

Everything here is built-in-function only (no Python in the hot path):
language ID (n-gram profile heuristic), quality scoring, token
counting (whitespace + BPE-ish regex), and rolling-hash document
fingerprints. Each is a narrow map — zero shuffles — so they run at
scan speed on 100 TB.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from h3_indexer_spark.functions.exprs import let

# Tiny per-language stopword profiles for the n-gram/stopword heuristic
# language ID. Deliberately small: the point is the operator shape
# (scan-speed scoring against broadcast profiles), not lexicography.
_LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "zu"],
    "fr": ["le", "la", "les", "et", "des", "un", "une", "est", "pour", "que"],
    "es": ["el", "la", "los", "las", "y", "es", "en", "un", "una", "por"],
    "it": ["il", "la", "che", "di", "e", "un", "una", "per", "non", "sono"],
}


def _lower_tokens(text_col: str) -> Column:
    return F.split(F.lower(F.regexp_replace(F.col(text_col), r"[^\w\s]", " ")), r"\s+")


def language_id(
    df: DataFrame, text_col: str = "text", out_col: str = "lang_pred"
) -> DataFrame:
    """Stopword-profile language ID: score = fraction of tokens hitting
    each language's profile; argmax wins, 'und' (undetermined) when no
    profile scores. array_intersect-free formulation keeps duplicates
    counted (a real frequency signal).

    Deliberately pure expressions, NOT an Arrow kernel: a vectorized
    isin/reduceat variant is faster on small batches (no ~1 s plan
    compile) but 2× slower at 100k+ docs because every token string
    crosses the Arrow boundary — the JVM-side filter wins where it
    matters."""
    def pick(toks: Column) -> Column:
        n = F.greatest(F.size(toks), F.lit(1))
        scores = []
        for lang, words in _LANG_PROFILES.items():
            hits = F.size(
                F.filter(toks, lambda t: t.isin(*[F.lit(w) for w in words]))
            )
            scores.append(
                F.struct((hits / n).alias("score"), F.lit(lang).alias("lang"))
            )
        best = F.array_max(F.array(*scores))
        return F.when(best["score"] > 0.02, best["lang"]).otherwise(F.lit("und"))

    return df.withColumn(out_col, let(_lower_tokens(text_col), pick))


def quality_score(
    df: DataFrame, text_col: str = "text", out_col: str = "quality"
) -> DataFrame:
    """Heuristic document quality in [0,1]: mean-word-length sanity,
    stopword presence, alpha ratio, repetition penalty — the standard
    cheap pre-filter stack (Gopher/C4-style rules) as pure expressions.
    Adds component columns ``q_*`` for filtering on individual rules."""
    def comps(toks: Column) -> Column:
        n_tok = F.greatest(F.size(toks), F.lit(1))
        n_char = F.greatest(F.length(text_col), F.lit(1))
        mean_word_len = n_char / n_tok
        alpha_ratio = (
            F.length(F.regexp_replace(F.col(text_col), r"[^A-Za-z]", "")) / n_char
        )
        stop_hits = F.size(
            F.filter(
                toks, lambda t: t.isin(*[F.lit(w) for w in _LANG_PROFILES["en"]])
            )
        )
        stop_ratio = stop_hits / n_tok
        uniq_ratio = F.size(F.array_distinct(toks)) / n_tok
        q_len = F.when(
            (mean_word_len >= 3) & (mean_word_len <= 12), 1.0
        ).otherwise(0.0)
        q_alpha = F.when(alpha_ratio > 0.6, 1.0).otherwise(alpha_ratio / 0.6)
        q_stop = F.when(stop_ratio > 0.05, 1.0).otherwise(stop_ratio / 0.05)
        q_uniq = F.when(uniq_ratio > 0.3, 1.0).otherwise(uniq_ratio / 0.3)
        return F.struct(
            q_len.alias("q_word_len"),
            q_alpha.alias("q_alpha"),
            q_stop.alias("q_stopword"),
            q_uniq.alias("q_unique"),
        )

    return (
        df.withColumn("_q", let(_lower_tokens(text_col), comps))
        .withColumns(
            {
                c: F.col(f"_q.{c}")
                for c in ("q_word_len", "q_alpha", "q_stopword", "q_unique")
            }
        )
        .drop("_q")
        .withColumn(
            out_col,
            (
                F.col("q_word_len")
                + F.col("q_alpha")
                + F.col("q_stopword")
                + F.col("q_unique")
            )
            / 4.0,
        )
    )


def token_counts(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-ish regex
    (word pieces + digits + punctuation runs), plus a bytes-per-token
    estimate — the standard corpus-sizing triple."""
    ws = F.size(F.split(F.col(text_col), r"\s+"))
    bpe_ish = F.size(
        F.regexp_extract_all(
            F.col(text_col), F.lit(r"(\w+|[^\w\s])"), F.lit(1)
        )
    )
    return (
        df.withColumn("n_tokens_ws", ws.cast("long"))
        .withColumn("n_tokens_re", bpe_ish.cast("long"))
        .withColumn(
            "bytes_per_token",
            F.length(F.col(text_col)).cast("double")
            / F.greatest(bpe_ish, F.lit(1)),
        )
    )


def fingerprint(
    df: DataFrame, text_col: str = "text", window: int = 8, algo: str = "xxhash64"
) -> DataFrame:
    """Rolling-hash document fingerprint: hash every sliding word
    window, keep the minimum (a 1-hash MinHash — a stable content
    fingerprint robust to small edits at either end).

    ``algo="xxhash64"`` (production default): words are pre-hashed once
    into a bound column so each window hashes a small long-array slice
    instead of re-building and re-hashing the window's string — ~3x
    faster, since per-word work is O(n) not O(n*window). Emits a long.

    ``algo="md5"``: hashes the window's joined string with MD5 and
    keeps the lexicographic minimum hex digest. Slower (O(n*window)
    string work) but portable — MD5 is bit-identical across engines,
    so this variant is externally oracle-checkable (the contract query
    q_fingerprint uses it; DuckDB mirrors it exactly). Emits a string.
    """
    words = F.split(F.col(text_col), r"\s+")
    if algo == "md5":
        fp = let(
            words,
            lambda ws: F.array_min(
                F.transform(
                    F.sequence(
                        F.lit(0), F.greatest(F.size(ws) - window, F.lit(0))
                    ),
                    lambda i: F.md5(
                        F.concat_ws(" ", F.slice(ws, i + 1, window))
                    ),
                )
            ),
        )
    elif algo == "xxhash64":
        word_hashes = F.transform(words, lambda w: F.xxhash64(w))
        fp = let(
            word_hashes,
            lambda wh: F.array_min(
                F.transform(
                    F.sequence(
                        F.lit(0), F.greatest(F.size(wh) - window, F.lit(0))
                    ),
                    lambda i: F.xxhash64(F.slice(wh, i + 1, window)),
                )
            ),
        )
    else:
        raise ValueError(f"unknown fingerprint algo: {algo!r}")
    return df.withColumn("fingerprint", fp)


def ngram_counts(
    df: DataFrame,
    text_col: str = "text",
    n: int = 2,
    k: int = 20,
) -> DataFrame:
    """Corpus-wide top-k word n-grams with counts — the contamination /
    boilerplate census primitive. Adjacent-slice zip (zip_with over two
    shifted slices) builds n-grams narrowly; ONE shuffle (the n-gram
    count). Deterministic order: count desc, n-gram asc, limit k via
    TakeOrderedAndProject (no global sort)."""
    words = F.split(F.col(text_col), " ")
    grams = words
    for step in range(1, n):
        grams = F.zip_with(
            F.slice(grams, 1, F.greatest(F.size(words) - step, F.lit(0))),
            F.slice(words, step + 1, F.greatest(
                F.size(words) - step, F.lit(0)
            )),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return (
        df.select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("ngram").asc())
        .limit(k)
    )


def tfidf_topk(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    broadcast_vocab: bool = True,
) -> DataFrame:
    """Top-k highest-scoring terms per document, score = tf · N / df
    (linear inverse document frequency — integer-exact arithmetic, so
    results are bit-deterministic across engines; swap in log(N/df)
    when ulp-level portability is not required).

    Two shuffles: the (doc, term) count and the per-term document
    frequency; the df table broadcasts back when the vocabulary is
    bounded (``broadcast_vocab``, default). For open web-scale
    vocabularies pass False — the join then shuffles on term, which
    both sides are already partitioned by. Rank window is per-document
    (WindowGroupLimit pushes the k)."""
    from pyspark.sql import Window

    tokens = df.select(
        id_col, F.explode(F.split(F.col(text_col), " ")).alias("term")
    ).where(F.col("term") != "")
    tf = tokens.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(
        F.count("*").alias("df")
    )  # rows of tf are distinct (doc, term) pairs already
    # N as a LAZY 1-row broadcast fold (the q_benford pattern), not an
    # eager .count() — the eager form ran a second full corpus scan at
    # plan-construction time (two scans at 100 TB) and broke operator
    # composition by launching a job before the caller's action
    n_docs = df.agg(
        F.count_distinct(F.col(id_col)).cast("double").alias("_n_docs")
    )
    dfreq_side = F.broadcast(dfreq) if broadcast_vocab else dfreq
    scored = (
        tf.join(dfreq_side, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col,
            "term",
            (
                F.col("tf").cast("double")
                * F.col("_n_docs")
                / F.col("df").cast("double")
            ).alias("score"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(id_col, "term", "score", F.col("rank").cast("bigint").alias("rank"))
    )


def stratified_sample_by_key(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    rates: dict,
    mod: int = 100,
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum downsampling — the corpus-mixing
    primitive (e.g. keep 10% of 'en' crawl, 100% of 'code'). A row is
    kept when ``key % mod < rate(stratum) · mod``: systematic sampling
    keyed on the row id, so the sample is reproducible across runs and
    engines (no RNG state), a narrow filter (zero shuffle, pushes to
    the scan), and exact for rate·mod integral."""
    expr = F.lit(int(default_rate * mod))
    for stratum, rate in sorted(rates.items()):
        expr = F.when(
            F.col(strata_col) == stratum, F.lit(int(rate * mod))
        ).otherwise(expr)
    return df.where(F.pmod(F.col(key_col), F.lit(mod)) < expr)


def fuzzy_pairs(
    df: "DataFrame",
    id_col: str,
    text_col: str,
    max_dist: int = 1,
    prefix_len: int = 8,
) -> "DataFrame":
    """Entity-resolution fuzzy match: candidate pairs from a shared
    ``prefix_len``-char blocking key, verified by exact Levenshtein
    distance ≤ ``max_dist`` — the record-linkage primitive (vendor
    name reconciliation, near-identical titles/URLs).

    Scale shape: the self-join keys on the block, so work is
    Σ|block|² instead of the all-pairs n² (identical to the minhash /
    semantic-dedup candidate-then-verify pattern); AQE's skew split
    handles a hot block. The trade: a pair differing within the first
    ``prefix_len`` chars is unseen — run a second pass with a
    different block (suffix, sorted-chars) to raise recall. The
    verification is JVM-side ``levenshtein`` (unit edit costs, same
    semantics as DuckDB's — oracle-checkable including the blocking).

    Output: (id_a, id_b, name_a, name_b, edit_dist).
    """
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(text_col).alias("name_a"),
        F.substring(F.col(text_col), 1, prefix_len).alias("_blk"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(text_col).alias("name_b"),
        F.substring(F.col(text_col), 1, prefix_len).alias("_blk"),
    )
    return (
        a.join(b, "_blk")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "edit_dist",
            F.levenshtein(F.col("name_a"), F.col("name_b")).cast("int"),
        )
        .where(F.col("edit_dist") <= max_dist)
        .select("id_a", "id_b", "name_a", "name_b", "edit_dist")
    )


def rare_word_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 3,
) -> DataFrame:
    """Corpus-frequency quality signal (the CCNet-style recipe):
    fraction of a document's tokens that are RARE — appearing in fewer
    than ``min_df`` documents corpus-wide. High rare-ratio flags
    boilerplate-free but low-quality text (typos, codes, gibberish);
    near-zero flags templated text. Output: (id, n_tokens, n_rare,
    rare_ratio), with rare_ratio an exact integer ratio cast to double.

    Scale shape: the corpus vocabulary HEAD (tokens with df ≥ min_df)
    is the small side — vocabulary heads are ~10⁵-10⁶ entries at any
    corpus size by Zipf's law, while the rare TAIL grows unboundedly —
    so the common set broadcasts and rarity is counted as
    n_tokens − common_hits. Per-doc token positions explode narrow
    (no pre-shuffle), hit the broadcast semi-join, and re-aggregate on
    the id — ONE shuffle keyed on the document id. The df-threshold
    aggregation itself is a distinct + groupBy over (token, doc)
    pairs, partial-aggregated map-side."""
    toks = F.split(F.col(text_col), r"\s+")
    exploded = df.select(
        id_col, F.explode(toks).alias("_tok")
    )
    common = (
        exploded.distinct()
        .groupBy("_tok")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") >= min_df)
        .select("_tok")
    )
    hits = (
        exploded.join(F.broadcast(common), "_tok", "semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("_common"))
    )
    n_tok = df.select(id_col, F.size(toks).alias("n_tokens"))
    return (
        n_tok.join(hits, id_col, "left")
        .select(
            id_col,
            F.col("n_tokens").cast("long").alias("n_tokens"),
            (
                F.col("n_tokens") - F.coalesce(F.col("_common"), F.lit(0))
            ).cast("long").alias("n_rare"),
            (
                (
                    F.col("n_tokens")
                    - F.coalesce(F.col("_common"), F.lit(0))
                ).cast("double")
                / F.greatest(F.col("n_tokens"), F.lit(1)).cast("double")
            ).alias("rare_ratio"),
        )
    )


def bpe_pair_counts(
    df: DataFrame,
    text_col: str = "text",
    k: int = 30,
    symbol_col: Column | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """One iteration of the BPE tokenizer-trainer's pair census: the
    corpus-wide frequency of every adjacent symbol pair, weighted by
    word frequency — the inner statistic of byte-pair-encoding
    training (Sennrich et al. 2016; the reference engine has no
    tokenizer surface — beyond-reference LLM-pipeline op).

    Two-level aggregation, the canonical trainer shape: (1) collapse
    the corpus to DISTINCT words with counts (the |vocab| table — at
    100 TB this is the only pass that touches every token, and it is
    a plain word-count), (2) explode each distinct word's adjacent
    character pairs and sum word counts per pair. Pair work is then
    ∝ |vocab| × word-length, independent of corpus size. Output:
    (pair, n) — top ``k`` by (n desc, pair asc), exact BIGINT counts.

    ``symbol_col``/``weight_col`` run the census over an existing
    symbol-sequence table (array<string> + count) instead — the
    later-round input of ``bpe_train``."""
    if symbol_col is not None:
        pairs = df.select(
            F.explode(
                F.zip_with(
                    F.slice(
                        symbol_col, 1,
                        F.greatest(F.size(symbol_col) - 1, F.lit(0)),
                    ),
                    F.slice(
                        symbol_col, 2,
                        F.greatest(F.size(symbol_col) - 1, F.lit(0)),
                    ),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                )
            ).alias("pair"),
            F.col(weight_col).alias("wn"),
        )
    else:
        words = df.select(
            F.explode(_lower_tokens(text_col)).alias("w")
        ).where(F.length("w") >= 2)
        wc = words.groupBy("w").agg(F.count(F.lit(1)).alias("wn"))
        # adjacent CHARACTER pairs of each distinct word; sequence()
        # only after the length>=2 filter (Spark's sequence(1, 0)
        # counts DOWN — it would fabricate pairs for 1-char words)
        pairs = wc.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(w) - 1), "
                    "i -> substring(w, i, 2))"
                )
            ).alias("pair"),
            F.col("wn"),
        )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wn").cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(k)
    )


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
) -> list[tuple[str, str]]:
    """Bounded byte-pair-encoding trainer: ``n_merges`` rounds of
    (census the adjacent pairs → pick the most frequent → merge it
    everywhere), greedy left-to-right within each word — the exact
    classic algorithm, distributed.

    The corpus collapses ONCE to distinct words with counts; every
    later round runs over that |vocab|-sized symbol table (array of
    symbols + weight). The per-round argmax is a 1-row TakeOrdered
    action (bounded driver pull); the merge rewrite is a pure
    higher-order-function fold (aggregate() with a look-behind on
    the accumulator tail — no Python in the rewrite). Rounds are
    localCheckpointed so the iterative plan doesn't nest. Returns
    the merge list in order — ties break lexicographically, so the
    result is deterministic on any cluster."""
    words = df.select(
        F.explode(_lower_tokens(text_col)).alias("w")
    ).where(F.length("w") >= 2)
    sym = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("wn"))
        .select(
            F.expr("split(w, '')").alias("syms"),
            F.col("wn"),
        )
        .localCheckpoint()
    )
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        top = bpe_pair_counts(
            sym, k=1, symbol_col=F.col("syms"), weight_col="wn"
        ).collect()
        if not top:
            break
        a, b = top[0]["pair"].split(" ", 1)
        merges.append((a, b))
        merged = F.lit(a + b)
        # greedy left-to-right merge: fold symbols; when the
        # accumulator tail is `a` and the next symbol is `b`,
        # replace the tail with the merged symbol
        sym = sym.select(
            F.aggregate(
                F.col("syms"),
                F.expr("CAST(array() AS array<string>)"),
                lambda acc, s: F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == F.lit(a))
                    & (s == F.lit(b)),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1),
                        F.array(merged),
                    ),
                ).otherwise(F.concat(acc, F.array(s))),
            ).alias("syms"),
            F.col("wn"),
        ).localCheckpoint()
    return merges


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
    quant: int = 1000,
) -> DataFrame:
    """Okapi BM25 relevance of every document against a fixed term
    list — the classic retrieval scorer (Robertson & Walker 1994),
    the ranking face of the inverted-index ops. Output: (id, score_q)
    with score_q = FLOOR(score × ``quant``) — ln() differs by 1 ulp
    across math libraries, so the contract emits the quantized
    integer (the established trig/ln recipe; margins are asserted in
    the session tests) while the raw double stays available from the
    internal expression.

    Determinism shape: per-term tf pivots to ONE column per query
    term via conditional aggregation (each a single value), and the
    score sums the per-term contributions in FIXED listed order —
    never a float SUM whose accumulation order the engine owns.
    Scale shape: one token explode filtered to the query terms
    (broadcast hash set) → one (doc)-keyed conditional-sum groupBy;
    document lengths ride the same pass; df/N/avgdl fold to a 1-row
    broadcast join. No shuffle wider than the doc key."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = sorted(set(query_terms))
    toks = _lower_tokens(text_col)

    def term_count(word: str) -> Column:
        # single-arg lambda, built per term: a 2-arg lambda would be
        # interpreted by filter() as (element, INDEX)
        return F.size(F.filter(toks, lambda t: t == F.lit(word)))

    per_doc = df.select(
        F.col(id_col),
        F.size(F.filter(toks, lambda t: F.length(t) > 0)).alias("dl"),
        *[term_count(w).alias(f"tf_{i}") for i, w in enumerate(terms)],
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").cast("bigint").alias("sum_dl"),
        *[
            F.sum(
                F.when(F.col(f"tf_{i}") > 0, F.lit(1)).otherwise(
                    F.lit(0)
                )
            ).cast("bigint").alias(f"df_{i}")
            for i in range(len(terms))
        ],
    )
    j = per_doc.crossJoin(F.broadcast(stats))  # 1-row fold
    n = F.col("n_docs").cast("double")
    avgdl = F.col("sum_dl").cast("double") / n
    contribs = []
    for i in range(len(terms)):
        tf = F.col(f"tf_{i}").cast("double")
        dfi = F.col(f"df_{i}").cast("double")
        idf = F.log(
            F.lit(1.0) + (n - dfi + F.lit(0.5)) / (dfi + F.lit(0.5))
        )
        denom = tf + F.lit(k1) * (
            F.lit(1.0 - b) + F.lit(b) * F.col("dl").cast("double") / avgdl
        )
        contribs.append(idf * tf * F.lit(k1 + 1.0) / denom)
    score = contribs[0]
    for c in contribs[1:]:
        score = score + c
    return (
        j.select(
            id_col,
            F.floor(score * F.lit(float(quant))).cast("bigint").alias(
                "score_q"
            ),
        )
        .where(F.col("score_q") > 0)
        .orderBy(F.col("score_q").desc(), F.col(id_col).asc())
        .limit(k)
    )


def lm_score_stupid_backoff(
    docs: DataFrame,
    train: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.4,
    quant: int = 1_000_000,
    broadcast_counts: bool = True,
) -> DataFrame:
    """Per-document language-model quality score — the CCNet-style
    corpus filter: train bigram/unigram counts on ``train`` (defaults
    to the scored corpus itself) and score every document by its mean
    token log-probability under STUPID BACKOFF (Brants et al. 2007:
    p(w|v) = C(v,w)/C(v) when the bigram was seen, else the backoff
    α·(C(w)+1)/T — add-one on the unigram so out-of-vocabulary
    tokens score the finite floor α/T instead of -inf; unnormalized
    scores, no discounting state, the standard web-scale choice). Documents far below the corpus mean read as
    gibberish/boilerplate; far above as memorized duplicates.

    Determinism shape: each token position contributes
    FLOOR(quant·log10 p) — an INTEGER — and the per-document sum of
    integers is order-free, so the score survives any aggregation
    order on any engine (a raw double Σlog would be summation-order
    nondeterministic; log10's 1-ulp cross-library divergence is
    absorbed by the floor, margins test-asserted). Output:
    (id, n_scored, logprob_q) with logprob_q the scaled integer sum;
    mean log-prob = logprob_q / quant / n_scored.

    Scale shape: counts are two groupBy aggregations over the train
    corpus; scoring explodes each doc's adjacent token pairs and
    equi-joins the count tables on the bigram/unigram keys (broadcast
    when the vocabulary is small — this fixture; shuffle hash join on
    the token key at web scale, documented), then ONE doc-keyed
    integer sum. OOV tokens (count 0 even after backoff) contribute
    the floor of log10(alpha/T) — a finite floor, not -inf, keeping
    the score total-ordered."""
    if train is None:
        train = docs
    toks = F.filter(_lower_tokens(text_col), lambda t: F.length(t) > 0)

    def pairs_of(df: DataFrame, with_id: bool) -> DataFrame:
        cols = [F.col(id_col)] if with_id else []
        t = df.select(*cols, toks.alias("_toks"))
        return t.select(
            *cols,
            F.posexplode(
                F.zip_with(
                    F.slice(
                        F.col("_toks"), 1,
                        F.greatest(F.size("_toks") - 1, F.lit(0)),
                    ),
                    F.slice(
                        F.col("_toks"), 2,
                        F.greatest(F.size("_toks") - 1, F.lit(0)),
                    ),
                    lambda a, b: F.struct(
                        a.alias("w1"), b.alias("w2")
                    ),
                )
            ),
        ).select(
            *cols,
            F.col("col.w1").alias("w1"),
            F.col("col.w2").alias("w2"),
        )

    uni = (
        train.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c_w"))
    )
    total = uni.agg(F.sum("c_w").cast("bigint").alias("t_total"))
    bi = (
        pairs_of(train, with_id=False)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_vw"))
    )
    # broadcast_counts=True fits fixture-sized vocabularies; at web
    # scale the bigram table outgrows a broadcast — pass False and the
    # count attachment becomes plain hash joins keyed on the token
    # columns (same semantics, one shuffle per count table)
    maybe_b = F.broadcast if broadcast_counts else (lambda d: d)
    scored_pairs = (
        pairs_of(docs, with_id=True)
        .join(maybe_b(bi), ["w1", "w2"], "left")
        .join(
            maybe_b(uni.select(F.col("w").alias("w1"),
                               F.col("c_w").alias("c_v"))),
            "w1",
            "left",
        )
        .join(
            maybe_b(uni.select(F.col("w").alias("w2"),
                               F.col("c_w").alias("c_w2"))),
            "w2",
            "left",
        )
        .crossJoin(F.broadcast(total))
    )
    t_d = F.col("t_total").cast("double")
    p = F.when(
        F.col("c_vw").isNotNull() & F.col("c_v").isNotNull(),
        F.col("c_vw").cast("double") / F.col("c_v").cast("double"),
    ).otherwise(
        F.lit(alpha)
        * (
            F.coalesce(F.col("c_w2"), F.lit(0)).cast("double")
            + F.lit(1.0)
        )
        / t_d
    )
    contrib = F.floor(F.log10(p) * F.lit(float(quant))).cast("bigint")
    return (
        scored_pairs.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_scored"),
            F.sum(contrib).cast("bigint").alias("logprob_q"),
        )
    )


def vocab_encode(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 1000,
    broadcast_vocab: bool = True,
) -> DataFrame:
    """Rank-based vocabulary encoding — the tokenizer-adjacent step
    between raw text and model-ready integer sequences: the corpus's
    ``vocab_size`` most frequent tokens get ids 1..N (rank by count
    desc, token asc — fully deterministic), every document re-emits
    as one row per token position with its id, OOV tokens encode 0.
    Output: (id, pos, token_id) with pos 1-based.

    Scale shape: ONE word-count aggregation (the |vocab| table), a
    top-N rank over that aggregated table (WindowGroupLimit-style cut
    at vocab_size rows), then a narrow position explode joined to the
    vocabulary — broadcast by default (a 1000-row dimension; pass
    ``broadcast_vocab=False`` for million-token vocabularies and the
    attachment becomes a token-keyed hash join). No per-row Python
    anywhere."""
    from pyspark.sql import Window

    toks = F.filter(_lower_tokens(text_col), lambda t: F.length(t) > 0)
    counts = (
        df.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy(F.col("n").desc(), F.col("tok").asc())
    vocab = (
        counts.withColumn("token_id", F.row_number().over(w))
        .where(F.col("token_id") <= vocab_size)
        .select("tok", "token_id")
    )
    if broadcast_vocab:
        vocab = F.broadcast(vocab)
    positions = df.select(
        F.col(id_col),
        F.posexplode(toks).alias("_pos0", "tok"),
    ).select(
        id_col,
        (F.col("_pos0") + F.lit(1)).alias("pos"),
        "tok",
    )
    return positions.join(vocab, "tok", "left").select(
        id_col,
        F.col("pos").cast("int").alias("pos"),
        F.coalesce(F.col("token_id"), F.lit(0)).cast("int").alias(
            "token_id"
        ),
    )


_BPE_SEP = "|"  # never appears in symbols: tokens are \w+ only


def _bpe_apply_merge(syms: Column, a: str, b: str) -> Column:
    """Apply ONE BPE merge (a, b) → ab to a symbol-array column,
    greedy left-to-right — the exact rewrite bpe_train's fold
    performs, restated so the accumulator is a STRING (symbols joined
    by ``_BPE_SEP``) instead of an array: a string accumulator is
    what DuckDB's list_reduce can mirror (its accumulator must have
    the element type), which is what makes the encoding
    SQL-orackeable. Tail-symbol match = the accumulator either IS
    ``a`` (first symbol, no separator yet) or ends with ``sep+a``;
    the merge drops the trailing ``a`` and appends ``ab`` — chained
    occurrences ([a,a,a,a] with (a,a) → [aa,aa]) reduce identically
    to the trainer's look-behind fold.

    Expression-tree discipline: the fold references ``syms`` exactly
    ONCE, with an empty-string sentinel accumulator standing in for
    "no symbol emitted yet" (symbols are never empty — they are \\w
    characters and their concatenations). The first cut seeded the
    accumulator with element_at(syms, 1) and folded slice(syms, 2, …),
    which references the previous merge level THREE times — the tree
    then grows 3^|merges| and an 8-merge chain spent ~20 s in Catalyst
    analysis/codegen alone (measured at sf0.1); this form grows
    linearly."""
    sep = _BPE_SEP
    joined = F.aggregate(
        syms,
        F.lit(""),
        lambda acc, s: F.when(acc == F.lit(""), s).otherwise(
            F.when(
                (s == F.lit(b))
                & ((acc == F.lit(a)) | acc.endswith(F.lit(sep + a))),
                F.concat(
                    F.substring(
                        acc, F.lit(1), F.length(acc) - F.lit(len(a))
                    ),
                    F.lit(a + b),
                ),
            ).otherwise(F.concat(acc, F.lit(sep), s))
        ),
    )
    return F.split(joined, r"\|")


def bpe_encode_words(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
) -> DataFrame:
    """Apply a trained BPE merge list to the corpus VOCABULARY — the
    scale-right half of the train/apply tokenizer pair (bpe_train
    learns the merges; this encodes with them). The corpus collapses
    ONCE to distinct words with counts, then every merge applies in
    rank order as a pure higher-order-function fold over each word's
    symbol array — work is ∝ |vocab| · |merges|, never corpus size,
    and per-document encodings attach by joining this table back
    (bpe_encode_docs). Merge application is the classic sequential
    semantics (merge r rewrites everywhere before merge r+1 — the
    per-round rewrite bpe_train itself performs), so
    bpe_encode_words(corpus, bpe_train(corpus)) reproduces the
    trainer's final symbol table exactly (test-locked).

    Output: (word, wn, n_symbols, encoded) — ``encoded`` joins the
    final symbols with spaces; all scalar columns, hash-checkable."""
    words = df.select(
        F.explode(_lower_tokens(text_col)).alias("w")
    ).where(F.length("w") >= 1)
    sym = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("wn"))
        .select("w", "wn", F.expr("split(w, '')").alias("syms"))
    )
    col = F.col("syms")
    for a, b in merges:
        col = _bpe_apply_merge(col, a, b)
    return sym.select(
        F.col("w").alias("word"),
        F.col("wn").cast("bigint").alias("wn"),
        F.size(col).cast("int").alias("n_symbols"),
        F.array_join(col, " ").alias("encoded"),
    )


def bpe_encode_docs(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_vocab: bool = True,
) -> DataFrame:
    """Per-document BPE encoding: tokenize, attach each word's
    encoding from the vocabulary-level table (encode the vocab ONCE,
    join back — never re-fold per occurrence), and reassemble the
    document in token order. Output: (id, n_words, n_symbols,
    encoded_text) with ``encoded_text`` the space-joined symbol
    stream in document order (order restored by an explicit
    position sort inside the aggregation — deterministic, no
    collect_list luck). ``broadcast_vocab=False`` switches the
    attachment to a word-keyed hash join for vocabularies too large
    to broadcast."""
    vocab = bpe_encode_words(df, merges, text_col).select(
        F.col("word").alias("w"), "n_symbols", "encoded"
    )
    if broadcast_vocab:
        vocab = F.broadcast(vocab)
    toks = F.filter(_lower_tokens(text_col), lambda t: F.length(t) > 0)
    positions = df.select(
        F.col(id_col), F.posexplode(toks).alias("pos", "w")
    )
    return (
        positions.join(vocab, "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("n_symbols").cast("bigint").alias("n_symbols"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "encoded"))
                    ),
                    lambda x: x["encoded"],
                ),
                " ",
            ).alias("encoded_text"),
        )
    )


def vocab_coverage(
    df: DataFrame,
    text_col: str = "text",
    checkpoints: tuple[int, ...] = (100, 200, 300, 400, 500),
) -> DataFrame:
    """Vocabulary coverage curve — for each checkpoint k, the
    fraction of ALL token occurrences covered by the k most frequent
    tokens: THE readout that sizes a tokenizer vocabulary (the knee
    of this curve is where adding vocab entries stops buying
    compression; its complement is the OOV rate vocab_encode would
    produce at that size). Ranking is (count desc, token asc) —
    vocab_encode's exact rank order, so coverage@k here IS the
    non-OOV token fraction of vocab_encode(vocab_size=k).

    Output: (k, n_covered, n_total, coverage), one row per
    checkpoint; n_covered/n_total are exact BIGINTs, coverage ONE
    division. Scale shape: one token-count aggregation (the |vocab|
    table), a TakeOrdered cut to max(checkpoints) rows — never a
    global window over the full vocabulary — then K conditional sums
    over that bounded pool plus a 1-row total fold."""
    ks = sorted(set(int(k) for k in checkpoints))
    if not ks or ks[0] < 1:
        raise ValueError(f"checkpoints must be positive: {checkpoints}")
    from pyspark.sql import Window

    toks = F.filter(_lower_tokens(text_col), lambda t: F.length(t) > 0)
    counts = (
        df.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = counts.agg(F.sum("n").cast("bigint").alias("n_total"))
    pool = (
        counts.orderBy(F.col("n").desc(), F.col("tok").asc())
        .limit(ks[-1])
    )
    ranked = pool.select(
        "n",
        F.row_number()
        .over(Window.orderBy(F.col("n").desc(), F.col("tok").asc()))
        .alias("_rank"),
    )
    covered = ranked.agg(
        *[
            F.sum(F.when(F.col("_rank") <= k, F.col("n")))
            .cast("bigint")
            .alias(f"_c{k}")
            for k in ks
        ]
    )
    rows = covered.crossJoin(F.broadcast(total)).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("bigint").alias("k"),
                        F.coalesce(F.col(f"_c{k}"), F.lit(0))
                        .cast("bigint")
                        .alias("n_covered"),
                    )
                    for k in ks
                ]
            )
        ).alias("_s"),
        "n_total",
    )
    return rows.select(
        F.col("_s.k").alias("k"),
        F.col("_s.n_covered").alias("n_covered"),
        "n_total",
        (
            F.col("_s.n_covered").cast("double")
            / F.col("n_total").cast("double")
        ).alias("coverage"),
    ).orderBy("k")


def collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    k: int = 30,
) -> DataFrame:
    """Corpus-wide collocation census: adjacent word pairs ranked by
    LIFT — observed bigram probability over the independence
    expectation, lift = (c_xy / N_bi) / ((c_x / N_uni) · (c_y / N_uni))
    — the exponentiated form of pointwise mutual information (PMI =
    ln lift; Church & Hanks 1990). High-lift pairs are the multiword
    expressions ("San Francisco", "machine learning") a tokenizer or
    phrase-mining stage should treat as units; ranking by raw count
    instead just surfaces stopword pairs.

    Emitting LIFT rather than PMI keeps the contract engine-exact:
    every count is an exact BIGINT, and the score is literal-order
    double products folded left-to-right then ONE division — no ln()
    (the one op math libraries disagree on at the ulp). PMI itself is
    a client-side log away.

    Scale shape: the bigram census and the unigram census are each
    ONE explode + count shuffle (the same narrow adjacent-slice
    zip_with as ngram_counts); totals fold to a 1-row broadcast; the
    two unigram attachments join on the word key against the
    min_count-filtered candidate set (already ≪ corpus). Top-k is
    (lift desc, bigram asc) via TakeOrderedAndProject.
    """
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    toks = F.filter(_lower_tokens(text_col), lambda t: F.length(t) > 0)
    words = df.select(toks.alias("w"))
    grams = F.zip_with(
        F.slice(
            F.col("w"), 1, F.greatest(F.size("w") - 1, F.lit(0))
        ),
        F.slice(
            F.col("w"), 2, F.greatest(F.size("w") - 1, F.lit(0))
        ),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    # trailing no-op filters (tokens are non-null by construction):
    # the unigram attachments below infer isnotnull() on their own
    # branches only, which sinks below the census aggregations and
    # breaks AQE exchange reuse — the token explode then runs once
    # per branch (measured: the unigram census built twice)
    bc = (
        words.select(F.explode(grams).alias("g"))
        .select(F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .where(F.col("w1").isNotNull() & F.col("w2").isNotNull())
    )
    uc = (
        words.select(F.explode("w").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c_w"))
        .where(F.col("tok").isNotNull())
    )
    totals = uc.agg(
        F.sum("c_w").cast("bigint").alias("n_uni")
    ).crossJoin(
        bc.agg(F.sum("c_xy").cast("bigint").alias("n_bi"))
    )
    cand = bc.where(F.col("c_xy") >= min_count)
    scored = (
        cand.join(
            uc.select(F.col("tok").alias("w1"), F.col("c_w").alias("c_w1")),
            "w1",
        )
        .join(
            uc.select(F.col("tok").alias("w2"), F.col("c_w").alias("c_w2")),
            "w2",
        )
        .crossJoin(F.broadcast(totals))
    )
    num = (
        F.col("c_xy").cast("double") * F.col("n_uni").cast("double")
    ) * F.col("n_uni").cast("double")
    den = (
        F.col("n_bi").cast("double") * F.col("c_w1").cast("double")
    ) * F.col("c_w2").cast("double")
    out = scored.select(
        F.concat(F.col("w1"), F.lit(" "), F.col("w2")).alias("bigram"),
        F.col("c_xy").cast("bigint").alias("c_xy"),
        F.col("c_w1").cast("bigint").alias("c_w1"),
        F.col("c_w2").cast("bigint").alias("c_w2"),
        (num / den).alias("lift"),
    )
    return out.orderBy(
        F.col("lift").desc(), F.col("bigram").asc()
    ).limit(k)


def readability_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Flesch reading-ease per document — the classic readability
    screen a text-quality gate runs next to the heuristic quality
    score (very low ease ≈ boilerplate/code/garbled; very high on
    long docs ≈ word-salad).

    Counting contract (documented, deliberately simple): words are
    whitespace tokens; sentences are maximal [.!?]+ runs (clamped to
    ≥1 so fragments still score); syllables are maximal vowel-group
    runs [aeiouy]+ over the lowercased text — the standard cheap
    approximation (no per-word ≥1 clamp; a DuckDB/SQL mirror then
    reproduces every count with regexp primitives).

    flesch = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/
    words): exact-integer divisions and literal multiplies in fixed
    order — bit-deterministic. Pure narrow expressions, no shuffle.
    """
    words = F.size(
        F.filter(
            F.split(F.col(text_col), r"\s+"),
            lambda t: F.length(t) > 0,
        )
    ).cast("bigint")
    sentences = F.greatest(
        F.regexp_count(F.col(text_col), F.lit(r"[.!?]+")).cast("bigint"),
        F.lit(1).cast("bigint"),
    )
    syllables = F.regexp_count(
        F.lower(F.col(text_col)), F.lit(r"[aeiouy]+")
    ).cast("bigint")
    w = F.col("n_words").cast("double")
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (w / F.col("n_sentences").cast("double"))
        - F.lit(84.6) * (F.col("n_syllables").cast("double") / w)
    )
    return (
        df.select(
            F.col(id_col),
            words.alias("n_words"),
            sentences.alias("n_sentences"),
            syllables.alias("n_syllables"),
        )
        .where(F.col("n_words") > 0)
        .withColumn("flesch", flesch)
    )


def charset_stats(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Per-document character-class census — the curation signal
    behind mojibake / mixed-script / binary-spill detection in an
    LLM data pipeline: exact counts of ASCII letters, digits,
    whitespace, other printable ASCII, ASCII control characters
    other than tab/LF/CR (the binary-spill signal: NUL, ESC,
    DEL, ...), and true non-ASCII (the mojibake signal), plus the
    letter ratio as one division. The six classes PARTITION every
    string exactly: letters + digits + spaces + ascii_other +
    control + non_ascii == n_chars (test-locked). Appended columns:
    n_chars, n_letters, n_digits, n_spaces, n_ascii_other,
    n_control, n_non_ascii, letter_ratio.

    Counting is the length-difference trick over EXPLICIT literal
    character ranges ([A-Za-z], [0-9], [ \\t\\n\\r], [ -~]) — the
    ranges mean the same thing in Java regex and RE2, so the counts
    are engine-exact (no \\p{...} class, whose definitions differ by
    regex engine and Unicode version). A pure narrow map — zero
    shuffles, zero Python."""
    t = F.col(text_col)
    n = F.length(t)

    def _drop(pat: str):
        return n - F.length(F.regexp_replace(t, pat, ""))

    letters = _drop("[A-Za-z]")
    digits = _drop("[0-9]")
    spaces = _drop("[ \\t\\n\\r]")
    printable = _drop("[ -~]")
    tnr = _drop("[\\t\\n\\r]")
    ascii_all = _drop("[\\x00-\\x7F]")
    # bare spaces derive from the two whitespace passes (no extra
    # regex scan); control = ASCII that is neither printable nor
    # tab/LF/CR — the binary-spill signal (NUL/ESC/DEL...) kept
    # SEPARATE from true non-ASCII so neither column lies
    non_ascii = (n - ascii_all).alias("n_non_ascii")
    control = (ascii_all - printable - tnr).alias("n_control")
    ascii_other = (
        printable - letters - digits - (spaces - tnr)
    ).alias("n_ascii_other")
    return (
        df.withColumn("n_chars", n.cast("bigint"))
        .withColumn("n_letters", letters.cast("bigint"))
        .withColumn("n_digits", digits.cast("bigint"))
        .withColumn("n_spaces", spaces.cast("bigint"))
        .withColumn("n_ascii_other", ascii_other.cast("bigint"))
        .withColumn("n_control", control.cast("bigint"))
        .withColumn("n_non_ascii", non_ascii.cast("bigint"))
        .withColumn(
            "letter_ratio",
            F.when(
                F.col("n_chars") > 0,
                F.col("n_letters").cast("double")
                / F.col("n_chars").cast("double"),
            ),
        )
    )


def edit_distance_join(
    df: "DataFrame",
    id_col: str,
    text_col: str,
) -> "DataFrame":
    """Certain-recall edit-distance self-join for distance ≤ 1
    (Pass-Join segment blocking, Li et al. VLDB 2011, at the d=1
    pigeonhole): every unordered pair with Levenshtein ≤ 1 is found —
    unlike ``fuzzy_pairs``' prefix blocking, which misses pairs
    differing inside the prefix and documents the trade. The d=1
    pigeonhole: split each indexed string of length L at h = ⌊L/2⌋
    into a START-ANCHORED prefix segment and an END-ANCHORED suffix
    segment; one edit falls inside exactly one of them, so the other
    matches the partner EXACTLY (the prefix at offset 0, the suffix
    at the end — end-anchoring absorbs the ±1 length shift). Probes
    therefore emit, for each partner length L_b ∈ {L−1, L, L+1},
    their first h(L_b) chars keyed (segment 0, L_b) and their last
    L_b − h(L_b) chars keyed (segment 1, L_b) — a fixed ≤6-row
    fan-out per string, joined EQUI on (segment text, segment index,
    indexed length), then verified with JVM levenshtein.

    Scale shape: the all-pairs n² never materializes — work is
    Σ|block|² over (segment, length) blocks, the candidate-then-
    verify shape every near-dup path here uses, with AQE skew-split
    on hot blocks. Candidates are canonicalized (least, greatest)
    BEFORE the distinct — the probe/index roles are asymmetric, so a
    pair can surface in only one direction. Strings of length ≤ 1
    (where the d=1 pigeonhole has no two non-empty segments: a
    single edit can destroy the only segment) share one dedicated
    short block — alphabet-bounded after the upstream distinct, and
    every candidate still passes exact verification.
    Output: (id_a, id_b, text_a, text_b, edit_dist), id_a < id_b,
    each qualifying pair exactly once."""
    L = F.length(F.col(text_col))
    idx = df.select(
        F.col(id_col).alias("_iid"),
        F.col(text_col).alias("_itext"),
        L.alias("_ilen"),
    )
    # index side: 2 segments per string, keyed by (text, seg, L)
    half = (F.col("_ilen") / 2).cast("int")
    seg0 = F.substring(F.col("_itext"), 1, half)
    seg1 = F.expr(
        "substring(_itext, cast(_ilen / 2 as int) + 1)"
    )
    # short strings (len <= 1) enter a dedicated block where the
    # pigeonhole cannot apply; its key is constant so all shorts meet
    short_struct = F.struct(
        F.lit("").alias("_seg"), F.lit(9).alias("_sidx")
    )
    segs = idx.select(
        "_iid",
        "_itext",
        "_ilen",
        F.explode(
            F.when(
                F.col("_ilen") <= 1, F.array(short_struct)
            ).otherwise(
                F.array(
                    F.struct(seg0.alias("_seg"), F.lit(0).alias("_sidx")),
                    F.struct(seg1.alias("_seg"), F.lit(1).alias("_sidx")),
                )
            )
        ).alias("_s"),
    ).select(
        "_iid",
        "_itext",
        # the short block's length key is normalized to 0 so len-0 and
        # len-1 strings meet in ONE block
        F.when(F.col("_s._sidx") == 9, F.lit(0))
        .otherwise(F.col("_ilen"))
        .alias("_ilen"),
        F.col("_s._seg").alias("_seg"),
        F.col("_s._sidx").alias("_sidx"),
    ).where((F.length("_seg") > 0) | (F.col("_sidx") == 9))
    # probe side: for each partner length lb in {len-1, len, len+1},
    # the first floor(lb/2) chars (segment 0) and the last
    # lb - floor(lb/2) chars (segment 1)
    probe_rows = []
    for dl in (-1, 0, 1):
        probe_rows.append(
            F.struct(
                F.lit(0).alias("_sidx"),
                (F.length(F.col(text_col)) + F.lit(dl)).alias("_lb"),
                F.substring(
                    F.col(text_col),
                    1,
                    ((F.length(F.col(text_col)) + F.lit(dl)) / 2).cast(
                        "int"
                    ),
                ).alias("_seg"),
            )
        )
        probe_rows.append(
            F.struct(
                F.lit(1).alias("_sidx"),
                (F.length(F.col(text_col)) + F.lit(dl)).alias("_lb"),
                F.expr(
                    f"substring({text_col}, length({text_col}) - "
                    f"(length({text_col}) + ({dl}) - "
                    f"cast((length({text_col}) + ({dl})) / 2 as int)) "
                    f"+ 1)"
                ).alias("_seg"),
            )
        )
    # probes from short strings additionally enter the short block
    probe_rows.append(
        F.struct(
            F.lit(9).alias("_sidx"),
            F.lit(0).alias("_lb"),
            F.when(
                F.length(F.col(text_col)) <= 1, F.lit("")
            ).alias("_seg"),  # NULL (filtered) for longer strings
        )
    )
    probes = df.select(
        F.col(id_col).alias("_pid"),
        F.col(text_col).alias("_ptext"),
        F.explode(F.array(*probe_rows)).alias("_p"),
    ).select(
        "_pid",
        "_ptext",
        F.col("_p._seg").alias("_seg"),
        F.col("_p._sidx").alias("_sidx"),
        F.col("_p._lb").alias("_ilen"),
    ).where(
        F.col("_seg").isNotNull()
        & (
            ((F.col("_ilen") >= 1) & (F.length("_seg") > 0))
            | (F.col("_sidx") == 9)
        )
    )
    # canonicalize BEFORE distinct: probe/index roles are asymmetric,
    # so a qualifying pair can surface in only one direction
    cand = (
        probes.join(segs, ["_seg", "_sidx", "_ilen"])
        .where(F.col("_pid") != F.col("_iid"))
        .select(
            F.least(F.col("_pid"), F.col("_iid")).alias("id_a"),
            F.greatest(F.col("_pid"), F.col("_iid")).alias("id_b"),
            F.when(F.col("_pid") < F.col("_iid"), F.col("_ptext"))
            .otherwise(F.col("_itext"))
            .alias("text_a"),
            F.when(F.col("_pid") < F.col("_iid"), F.col("_itext"))
            .otherwise(F.col("_ptext"))
            .alias("text_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "edit_dist",
            F.levenshtein(F.col("text_a"), F.col("text_b")).cast("int"),
        )
        .where(F.col("edit_dist") <= 1)
    )


def rake_keywords(
    df: "DataFrame",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    quant: float = 1e9,
    broadcast_vocab: bool = True,
) -> "DataFrame":
    """Corpus-level keyword extraction, RAKE-lite (Rose et al. 2010):
    candidate phrases are maximal runs of non-stopword tokens, each
    word is scored deg(w)/freq(w) over all phrase occurrences
    (deg = Σ length of phrases containing w — favors words that
    co-occur in long informative phrases; freq alone favors common
    words), and a phrase scores the sum of its words' scores. Output:
    the top-``k`` distinct phrases by score with occurrence counts —
    the cheap unsupervised keyword/topic surfacer.

    Simplifications (hence -lite): the stopword lexicon is the tiny
    shared English profile (the operator shape is the point, swap in
    a real lexicon via the same column), and punctuation is treated
    as whitespace rather than as an extra phrase boundary.

    Determinism: per-word scores are FLOOR(quant·deg/freq) BIGINTs
    (one division each), phrase scores integer-SUM them — no float
    summation order anywhere (the LM-scoring recipe); clients divide
    by ``quant``. Phrase text reconstruction sorts by token position
    (array_sort of (pos, word) structs), never collect order.

    Scale shape: one per-document window (the run-id cumulative sum),
    one (doc, run) aggregation, one word-keyed aggregation over the
    phrase-word table, a map-side join back (broadcast when the
    vocabulary is bounded — ``broadcast_vocab``, same trade as
    tfidf_topk), and a TakeOrderedAndProject for the top-k. Nothing
    quadratic, nothing collected."""
    from pyspark.sql import Window

    stops = [F.lit(w) for w in _LANG_PROFILES["en"]]
    toks = df.select(
        F.col(id_col).alias("_d"),
        F.posexplode(_lower_tokens(text_col)).alias("_pos", "_w"),
    ).where(F.col("_w") != "")
    toks = toks.withColumn("_is_stop", F.col("_w").isin(*stops))
    wrun = Window.partitionBy("_d").orderBy("_pos")
    toks = toks.withColumn(
        "_run", F.sum(F.col("_is_stop").cast("int")).over(wrun)
    ).where(~F.col("_is_stop"))
    phrases = (
        toks.groupBy("_d", "_run")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("_pos", "_w"))
            ).alias("_ws")
        )
        .select(
            "_d",
            "_run",
            F.concat_ws(
                " ", F.transform(F.col("_ws"), lambda s: s["_w"])
            ).alias("phrase"),
            F.transform(F.col("_ws"), lambda s: s["_w"]).alias("_words"),
            F.size("_ws").alias("_plen"),
        )
    )
    # one row per (phrase OCCURRENCE, word) — the occurrence key
    # (_d, _run) stays attached so identical phrase texts don't merge
    # before their per-occurrence score is computed
    pw = phrases.select(
        "_d", "_run", "phrase", "_plen", F.explode("_words").alias("_w")
    )
    word_scores = pw.groupBy("_w").agg(
        F.floor(
            F.lit(float(quant))
            * F.sum("_plen").cast("double")
            / F.count(F.lit(1)).cast("double")
        )
        .cast("bigint")
        .alias("_wscore_q")
    )
    ws_side = F.broadcast(word_scores) if broadcast_vocab else word_scores
    occ_scores = (
        pw.join(ws_side, "_w")
        .groupBy("_d", "_run", "phrase")
        .agg(F.sum("_wscore_q").alias("_score_q"))
    )
    # identical phrase text ⇒ identical word multiset ⇒ identical
    # score (word scores are corpus-level), so MIN is exact, not a
    # tiebreak
    per_phrase = occ_scores.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
        F.min("_score_q").alias("score_q"),
    )
    from pyspark.sql import Window as W

    top = per_phrase.orderBy(
        F.col("score_q").desc(), F.col("phrase").asc()
    ).limit(k)
    rk = W.orderBy(F.col("score_q").desc(), F.col("phrase").asc())
    return top.select(
        "phrase",
        "n_occurrences",
        "score_q",
        F.row_number().over(rk).cast("bigint").alias("rnk"),
    )


def log_odds_terms(
    df: DataFrame,
    group_col: str,
    focus: str,
    text_col: str = "text",
    min_count: int = 50,
    alpha0: float = 500.0,
) -> DataFrame:
    """Distinguishing-term detection between two document groups via
    log-odds ratio with an informative Dirichlet prior (Monroe,
    Colaresi & Quinn 2008, "Fightin' Words") — the standard "which
    words characterize THIS slice of the corpus" readout (focus group
    = rows where ``group_col == focus``, background = everything
    else). The overall corpus frequencies act as the prior (α_w =
    alpha0 · y_w / n), shrinking rare-term noise that raw log-odds or
    PMI would amplify.

    Per term w: δ = ln((y1+α_w)/(n1+α0−y1−α_w)) −
    ln((y2+α_w)/(n2+α0−y2−α_w)), z = δ/√(1/(y1+α_w) + 1/(y2+α_w)).
    All counts are exact BIGINTs and the compound is one fixed IEEE
    op order, so the only cross-engine surface is the ln/sqrt library
    ulp — absorbed by ROUND(z, 6) (the compound-expression
    precedent); no top-k cut, so there is no ordering to destabilize.

    Scale: explode → ONE groupBy(term) with conditional counts
    (map-side partials), corpus totals folded from the VOCAB table
    (already aggregated — no second corpus scan, the lazy 1-row
    crossJoin pattern) and broadcast. Vocabulary is Zipf-bounded;
    ``min_count`` trims the tail.

    Output: (term, y_focus, y_rest, z_logodds), one row per term with
    total count ≥ min_count.
    """
    toks = _lower_tokens(text_col)
    is_f = F.col(group_col) == focus
    vocab = (
        df.where(F.col(text_col).isNotNull() & F.col(group_col).isNotNull())
        .select(is_f.alias("_f"), F.explode(toks).alias("term"))
        .where(F.col("term") != "")
        .groupBy("term")
        .agg(
            F.count(F.when(F.col("_f"), F.lit(1)))
            .cast("bigint")
            .alias("y_focus"),
            F.count(F.when(~F.col("_f"), F.lit(1)))
            .cast("bigint")
            .alias("y_rest"),
        )
    )
    totals = vocab.agg(
        F.sum("y_focus").cast("double").alias("_n1"),
        F.sum("y_rest").cast("double").alias("_n2"),
    )
    y1 = F.col("y_focus").cast("double")
    y2 = F.col("y_rest").cast("double")
    n1, n2 = F.col("_n1"), F.col("_n2")
    a0 = F.lit(float(alpha0))
    aw = a0 * ((y1 + y2) / (n1 + n2))
    d1 = F.log((y1 + aw) / ((n1 + a0) - (y1 + aw)))
    d2 = F.log((y2 + aw) / ((n2 + a0) - (y2 + aw)))
    z = (d1 - d2) / F.sqrt(
        F.lit(1.0) / (y1 + aw) + F.lit(1.0) / (y2 + aw)
    )
    return (
        vocab.where(F.col("y_focus") + F.col("y_rest") >= min_count)
        .crossJoin(F.broadcast(totals))
        .select("term", "y_focus", "y_rest", F.round(z, 6).alias("z_logodds"))
    )


def reciprocal_best_match(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 2,
    prefix_len: int = 8,
) -> DataFrame:
    """Reciprocal-best-hit entity resolution: among fuzzy_pairs
    candidates (shared prefix block, Levenshtein ≤ ``max_dist``),
    keep only the pairs where each record is the OTHER's single best
    match — the mutual-nearest-neighbor rule that turns a noisy
    candidate set into high-precision merge decisions (the same
    criterion bioinformatics uses for ortholog calls and record
    linkage uses before clerical review).

    Best is (edit_dist ASC, partner id ASC) — all-integer ordering,
    so rank 1 is engine-stable. Scale: candidates are Σ|block|² via
    the blocking join (never n²); the per-record rank-1 windows run
    on the candidate table, partitioned by record id, and
    WindowGroupLimit stops each group at row 1.

    Output: (id_a, id_b, name_a, name_b, edit_dist) with id_a < id_b.
    """
    from pyspark.sql import Window

    cand = fuzzy_pairs(
        df, id_col, text_col, max_dist=max_dist, prefix_len=prefix_len
    )
    directed = cand.select(
        F.col("id_a").alias("me"),
        F.col("id_b").alias("other"),
        F.col("name_a").alias("my_name"),
        F.col("name_b").alias("other_name"),
        "edit_dist",
    ).union(
        cand.select(
            F.col("id_b").alias("me"),
            F.col("id_a").alias("other"),
            F.col("name_b").alias("my_name"),
            F.col("name_a").alias("other_name"),
            "edit_dist",
        )
    )
    w = Window.partitionBy("me").orderBy(
        F.col("edit_dist").asc(), F.col("other").asc()
    )
    best = directed.withColumn("_rn", F.row_number().over(w)).where(
        F.col("_rn") == 1
    )
    fwd = best.where(F.col("me") < F.col("other")).select(
        F.col("me").alias("id_a"),
        F.col("other").alias("id_b"),
        F.col("my_name").alias("name_a"),
        F.col("other_name").alias("name_b"),
        "edit_dist",
    )
    rev = best.where(F.col("me") > F.col("other")).select(
        F.col("other").alias("id_a"),
        F.col("me").alias("id_b"),
    )
    return fwd.join(rev, ["id_a", "id_b"])


def zipf_fit(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 200,
) -> DataFrame:
    """Zipf's-law fit over the corpus rank-frequency curve — the
    one-number corpus health check: natural language sits near slope
    −1 on the log-log rank-frequency line; templated/boilerplate
    corpora flatten it, code/ID-heavy corpora steepen it (the
    corpus-level twin of the per-doc q_repetition / q_quality_score
    signals).

    Method: whitespace token frequencies (the corpus's flat
    space-separated convention, the q_vocab_coverage split), ranked
    by (freq desc, token asc) — a TOTAL order so the head cut is
    deterministic — then OLS of ln(freq) on ln(rank) over the top
    ``top_n`` ranks (the head is where Zipf holds; the tail bends by
    finite-size effects). slope/intercept/r² are fixed double
    expressions over per-rank terms quantized to DECIMAL(38,18)
    (order-free sums, the q_hhi rule), ROUND 9.

    Scale: ONE groupBy(token) with map-side partials collapses the
    corpus to its vocabulary; the head cut is a
    TakeOrderedAndProject (top_n rows — no global sort
    materializes); the OLS window and fold run on top_n rows in one
    task. Output ONE row: (n_ranks, slope, intercept, r2)."""
    from pyspark.sql import Window

    toks = df.select(
        F.explode(F.split(F.col(text_col), " ")).alias("_tok")
    ).where(F.col("_tok") != "")
    freq = toks.groupBy("_tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("_f")
    )
    head = freq.orderBy(
        F.col("_f").desc(), F.col("_tok").asc()
    ).limit(top_n)
    w = Window.orderBy(F.col("_f").desc(), F.col("_tok").asc())
    xy = head.select(
        F.log(F.row_number().over(w).cast("double")).alias("_x"),
        F.log(F.col("_f").cast("double")).alias("_y"),
    )
    d = "decimal(38,18)"
    agg = xy.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ranks"),
        F.sum(F.col("_x").cast(d)).alias("_sx"),
        F.sum(F.col("_y").cast(d)).alias("_sy"),
        F.sum((F.col("_x") * F.col("_y")).cast(d)).alias("_sxy"),
        F.sum((F.col("_x") * F.col("_x")).cast(d)).alias("_sxx"),
        F.sum((F.col("_y") * F.col("_y")).cast(d)).alias("_syy"),
    )
    n = F.col("n_ranks").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    num = n * F.col("_sxy").cast("double") - sx * sy
    dx = n * F.col("_sxx").cast("double") - sx * sx
    dy = n * F.col("_syy").cast("double") - sy * sy
    slope = F.when(dx > 0, num / dx)
    intercept = F.when(dx > 0, (sy - slope * sx) / n)
    r2 = F.when((dx > 0) & (dy > 0), num * num / (dx * dy))
    return agg.select(
        "n_ranks",
        F.round(slope, 9).alias("slope"),
        F.round(intercept, 9).alias("intercept"),
        F.round(r2, 9).alias("r2"),
    )
