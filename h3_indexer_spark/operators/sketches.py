"""Mergeable sketch operators — HyperLogLog built from first
principles on the engine's portable 60-bit md5 hash.

The register table IS the sketch: (bucket, rho) rows merge across
partitions, days, or tables by a plain groupBy-max — the property
that makes HLL the standard distinct-count structure for streaming
rollups and pre-aggregated cubes. Keeping the contract surface at
the integer registers (not the float estimate) makes the sketch
hash-checkable against any engine that can compute md5; the
Flajolet et al. 2007 estimator is a driver-side readout over ≤2^p
rows.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _md5_60bit(col: Column) -> Column:
    """The portable 60-bit hash of the value's string form — a thin
    wrapper over curation.md5_band60, the ONE shared definition of
    the cross-operator md5 hash recipe (hand-copying it here would
    let the two drift apart silently)."""
    from h3_indexer_spark.operators.curation import md5_band60

    return md5_band60("", col.cast("string"))


def hll_registers(
    df: DataFrame,
    col: str,
    p: int = 8,
) -> DataFrame:
    """HyperLogLog register table for the values of ``col``:
    2^``p`` buckets; per bucket the max rho (position of the first
    1-bit in the remaining 60−p hash bits, 1-based; an all-zero
    remainder scores 60−p+1). Output: (bucket, rho) — only occupied
    buckets appear (absent bucket ≡ register 0); both columns exact
    integers.

    rho is computed without loops or floats: Spark's bin() renders a
    positive long's minimal binary string, so the remainder's
    bit-length is length(bin(r)) and rho = (60−p) − bitlen + 1 —
    the same arithmetic any SQL engine with bin()/ln-free strings
    reproduces exactly.

    Scale shape: narrow hash map → ONE groupBy-max over at most 2^p
    keys (partial aggregation collapses each partition to ≤2^p rows
    before the exchange). Register tables from different slices
    merge with another groupBy-max — union-then-merge equals
    sketch-of-union by construction (max is idempotent/commutative),
    which is the property the merge test locks."""
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4,16], got {p}")
    rem_bits = 60 - p
    h = _md5_60bit(F.col(col))
    # bucket = low p bits, remainder = the other 60-p bits (disjoint)
    bucket = (h % F.lit(1 << p)).cast("int")
    rem = F.shiftright(h, p)
    rho = F.when(
        rem == 0, F.lit(rem_bits + 1)
    ).otherwise(F.lit(rem_bits) - F.length(F.bin(rem)) + F.lit(1))
    return (
        df.where(F.col(col).isNotNull())
        .select(bucket.alias("bucket"), rho.cast("int").alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("rho"))
    )


def hll_estimate(registers: DataFrame, p: int = 8) -> float:
    """The Flajolet-Fuss-Gandouet-Meunier 2007 estimate from a
    register table (driver-side readout over ≤2^p rows, with the
    small-range linear-counting correction). Accuracy ≈ 1.04/√2^p
    relative — the readout is intentionally NOT part of the
    hash-checked contract (float harmonic mean); tests bound its
    relative error against exact COUNT(DISTINCT) instead."""
    m = 1 << p
    rows = {r["bucket"]: r["rho"] for r in registers.collect()}
    alpha = hll_alpha(m)
    s = sum(2.0 ** -rows.get(b, 0) for b in range(m))
    est = alpha * m * m / s
    zeros = m - len(rows)
    if est <= 2.5 * m and zeros:
        est = m * math.log(m / zeros)
    return est


def hll_registers_grouped(
    df: DataFrame,
    group_col: str,
    col: str,
    p: int = 8,
) -> DataFrame:
    """Per-group HyperLogLog register tables — the sketch in its real
    deployment shape: one ≤2^p-row register set per group key (per
    day, per event type, per tenant), pre-aggregable into any coarser
    rollup with a groupBy-max (sketch-of-union == merge-of-sketches,
    the same algebra that makes global HLL pre-aggregable). Output:
    (group, bucket, rho) integer rows — hash-checkable like the
    global variant.

    Scale: ONE groupBy over (group, bucket) with map-side partial max
    — each partition contributes at most |groups|·2^p rows to the
    exchange regardless of row count; the classic pre-aggregated
    distinct-count cube feed."""
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4,16], got {p}")
    rem_bits = 60 - p
    h = _md5_60bit(F.col(col))
    bucket = (h % F.lit(1 << p)).cast("int")
    rem = F.shiftright(h, p)
    rho = F.when(
        rem == 0, F.lit(rem_bits + 1)
    ).otherwise(F.lit(rem_bits) - F.length(F.bin(rem)) + F.lit(1))
    return (
        df.where(F.col(col).isNotNull() & F.col(group_col).isNotNull())
        .select(
            F.col(group_col).alias("group"),
            bucket.alias("bucket"),
            rho.cast("int").alias("rho"),
        )
        .groupBy("group", "bucket")
        .agg(F.max("rho").alias("rho"))
    )


def hll_alpha(m: int) -> float:
    """Flajolet et al. 2007 bias constant — the paper's small-m
    constants for m ≤ 64 (0.673 / 0.697 / 0.709), the asymptotic
    formula above that. hll_estimate and rolling_active_users_hll
    both read THIS function, so the branchpoint
    cannot drift between readouts (code-review catch: the rolling
    readout previously applied the asymptotic formula at any p,
    a systematic ~+0.4% bias at p=4)."""
    if m <= 16:
        return 0.673
    if m <= 32:
        return 0.697
    if m <= 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def rolling_active_users_hll(
    events: DataFrame,
    id_col: str = "user_id",
    ts_col: str = "ts",
    window_days: int = 7,
    p: int = 8,
) -> DataFrame:
    """Sketch twin of analytics.rolling_active_users — the standard
    100 TB swap for rolling COUNT DISTINCT: per-day HLL register sets
    merge into each trailing window by a plain groupBy-max
    (sketch-of-union == merge-of-sketches), then every window day
    reads its estimate from ≤2^p merged registers. Where the exact
    operator's shuffle is entities × days × window, the sketch's is
    2^p × days × window — INDEPENDENT of cardinality, the property
    that keeps a 10⁹-DAU rollup the same size as a 10³-DAU one.

    Exactness recipe: with K = 60−p+1 (the max rho), the harmonic
    denominator Σ 2^(−rho) rescales to the BIGINT
    s_int = Σ 2^(K−rho) + n_zero·2^K (≤ 2^p·2^K = 2^61 at p=8 — no
    overflow, no float summation order), so the raw estimate
    α·m²·2^K / s_int is ONE division of exact numbers. The
    small-range linear-counting branch (raw ≤ 2.5m with empty
    buckets) is the only ln() — emitted FLOOR-quantized per the
    trig/ln recipe, with the integer-boundary margin asserted in the
    session tests. Output: (day, n_zero, s_int, est_distinct);
    ``ts_col`` is epoch-nanos."""
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4,16], got {p}")
    if window_days < 1:
        raise ValueError(f"window_days must be >= 1: {window_days}")
    day_ns = 86_400 * 10**9
    m = 1 << p
    k_max = (60 - p) + 1
    per_day = hll_registers_grouped(
        events.withColumn("_day", F.expr(f"{ts_col} div {day_ns}")),
        "_day",
        id_col,
        p=p,
    )
    contrib = per_day.select(
        F.explode(
            F.sequence(
                F.col("group"), F.col("group") + F.lit(window_days - 1)
            )
        ).alias("_wday"),
        "bucket",
        "rho",
    )
    merged = contrib.groupBy("_wday", "bucket").agg(
        F.max("rho").alias("rho")
    )
    per_window = merged.groupBy("_wday").agg(
        F.count(F.lit(1)).alias("_present"),
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {k_max} - rho)"))
        .cast("bigint")
        .alias("_s_present"),
    )
    days = (
        events.select(F.expr(f"{ts_col} div {day_ns}").alias("_wday"))
        .distinct()
    )
    n_zero = (F.lit(m) - F.col("_present")).cast("bigint")
    s_int = (
        F.col("_s_present")
        + n_zero * F.lit(1 << k_max).cast("bigint")
    ).cast("bigint")
    num = float(hll_alpha(m)) * float(m) * float(m) * float(2**k_max)
    raw = F.lit(num) / F.col("s_int").cast("double")
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (F.col("n_zero") > 0),
        F.floor(
            F.lit(float(m))
            * F.log(F.lit(float(m)) / F.col("n_zero").cast("double"))
        ),
    ).otherwise(F.floor(raw))
    return (
        per_window.join(days, "_wday")
        .select(
            F.col("_wday").alias("day"),
            n_zero.alias("n_zero"),
            s_int.alias("s_int"),
        )
        .select(
            "day",
            "n_zero",
            "s_int",
            est.cast("bigint").alias("est_distinct"),
        )
        .orderBy("day")
    )


def count_min_registers(
    df: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 512,
    weight_col: str | None = None,
) -> DataFrame:
    """Count-min sketch register table (Cormode & Muthukrishnan 2005)
    for the frequency of ``col`` values: ``depth`` independent hash
    rows × ``width`` buckets; register (j, b) holds the exact BIGINT
    sum of weights of every value whose row-j hash lands in bucket b.
    Output: (depth, bucket, cnt) — only occupied registers appear
    (absent register ≡ 0). Row-j independence comes from salting the
    shared md5-60 hash with a per-row prefix, so any engine with md5
    reproduces the registers bit-for-bit.

    Unlike HLL's max-merge, CMS is a LINEAR sketch: registers from
    different slices merge by groupBy-SUM over the union, and point
    queries read min over depth rows — a one-sided (over-)estimate
    with ε ≈ e/width overcount mass and failure prob e^-depth.

    Scale shape: each input row expands to ``depth`` register
    increments inline (no join), then ONE groupBy over at most
    depth·width keys with map-side partial sums — the exchange
    carries ≤ depth·width rows per partition regardless of input
    size. The classic pre-aggregable frequency structure for
    heavy-hitter estimation at 100 TB, where exact per-key counts
    would shuffle the full key universe."""
    if depth < 1 or depth > 16:
        raise ValueError(f"depth must be in [1,16], got {depth}")
    if width < 8:
        raise ValueError(f"width must be >= 8, got {width}")
    w = (
        F.col(weight_col).cast("bigint")
        if weight_col is not None
        else F.lit(1).cast("bigint")
    )
    from h3_indexer_spark.operators.curation import md5_band60

    rows = F.array(
        *[
            F.struct(
                F.lit(j).alias("depth"),
                (md5_band60(f"cms{j}|", F.col(col).cast("string"))
                 % F.lit(width)).cast("int").alias("bucket"),
            )
            for j in range(depth)
        ]
    )
    return (
        df.where(F.col(col).isNotNull())
        .select(F.explode(rows).alias("_r"), w.alias("_w"))
        .groupBy(
            F.col("_r.depth").alias("depth"),
            F.col("_r.bucket").alias("bucket"),
        )
        .agg(F.sum("_w").alias("cnt"))
    )


def count_min_estimate(
    registers: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 512,
) -> DataFrame:
    """Point-query the CMS: for each key, recompute its ``depth``
    (row, bucket) coordinates with the same salted hashes, fetch the
    registers (missing ⇒ 0), and take the min — the canonical
    one-sided estimate (est ≥ true count always; the guarantee the
    tests lock). Output: (key, est_count), exact BIGINTs.

    Depth-mismatch guard: a ``depth`` LARGER than the registers were
    built with would left-join every key's extra coordinate rows to
    0 and silently return 0 — violating the one-sided guarantee
    instead of erring. The plan therefore joins a depth census of the
    register table (lazy, ≤ depth·width rows) and ``raise_error``s at
    execution on the first coordinate row whose depth has NO register
    rows at all (a smaller ``depth`` than built is harmless — still
    one-sided; a missing (depth, bucket) row at a PRESENT depth
    means a true zero and still reads as 0).

    Scale: keys explode to depth coordinate rows and join the
    ≤ depth·width register table — broadcast-sized by construction,
    so the fact side never shuffles."""
    from h3_indexer_spark.operators.curation import md5_band60

    coords = F.array(
        *[
            F.struct(
                F.lit(j).alias("depth"),
                (md5_band60(f"cms{j}|", F.col(key_col).cast("string"))
                 % F.lit(width)).cast("int").alias("bucket"),
            )
            for j in range(depth)
        ]
    )
    keyed = keys.select(
        F.col(key_col).alias("key"), F.explode(coords).alias("_r")
    ).select("key", F.col("_r.depth").alias("depth"),
             F.col("_r.bucket").alias("bucket"))
    depth_census = registers.select("depth").distinct().withColumn(
        "_depth_present", F.lit(1)
    )
    guarded_cnt = F.when(
        F.col("_depth_present").isNull(),
        F.raise_error(
            F.concat(
                F.lit(
                    "count_min_estimate: no register rows at depth "
                ),
                F.col("depth").cast("string"),
                F.lit(
                    " — the registers were built with a smaller depth "
                    "than queried (a phantom depth row would silently "
                    "return 0 and break the est >= true guarantee)"
                ),
            )
        ).cast("bigint"),
    ).otherwise(F.coalesce(F.col("cnt"), F.lit(0).cast("bigint")))
    return (
        keyed.join(F.broadcast(registers), ["depth", "bucket"], "left")
        .join(F.broadcast(depth_census), ["depth"], "left")
        .groupBy("key")
        .agg(F.min(guarded_cnt).alias("est_count"))
    )


def kmv_bottom_k(df: DataFrame, col: str, k: int = 64) -> DataFrame:
    """KMV / bottom-k distinct sketch (Bar-Yossef et al. 2002): the k
    smallest DISTINCT 60-bit md5 hashes of ``col``. Output:
    (rank, hash_val) — exact integers, hash-checkable cross-engine.

    Mergeability: bottom-k(A ∪ B) = bottom-k(bottom-k(A) ∪
    bottom-k(B)), so per-slice sketches union into
    any rollup. Scale: distinct-by-hash collapses map-side, then
    orderBy(k).limit is a TakeOrderedAndProject — every partition
    forwards at most k rows, no global sort materializes."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    hashes = (
        df.where(F.col(col).isNotNull())
        .select(_md5_60bit(F.col(col)).alias("hash_val"))
        .distinct()
        .orderBy("hash_val")
        .limit(k)
    )
    from pyspark.sql import Window as W

    return hashes.select(
        F.row_number().over(W.orderBy("hash_val")).alias("rank"),
        "hash_val",
    )


def kmv_distinct(df: DataFrame, col: str, k: int = 64) -> DataFrame:
    """One-row distinct-count readout from the bottom-k sketch:
    with the k-th smallest of n uniform hashes at h_k, the density
    estimate is (k−1)·2^60 / h_k (unbiased; RSE ≈ 1/√(k−2)). When
    fewer than k distinct hashes exist the sketch IS the exact
    distinct set, so the estimate is the exact count. Output one row
    (n_kept, kth_hash, est_distinct).

    Determinism: (k−1)·2^60 is exactly representable in a double for
    any practical k (k−1 < 2^53), so the estimate is ONE IEEE
    multiply + divide + floor — identical in any engine; the floor
    boundary sits ~6 orders above the division ulp for uniform
    hashes (asserted in the session tests)."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    sk = kmv_bottom_k(df, col, k=k)
    agg = sk.agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.max("hash_val").alias("kth_hash"),
    )
    num = float((k - 1) * (1 << 60))
    est = F.when(
        F.col("n_kept") < F.lit(k), F.col("n_kept").cast("bigint")
    ).otherwise(
        F.floor(F.lit(num) / F.col("kth_hash").cast("double"))
        .cast("bigint")
    )
    return agg.select(
        F.col("n_kept").cast("bigint").alias("n_kept"),
        "kth_hash",
        est.alias("est_distinct"),
    )


def quantile_sketch(
    df: DataFrame,
    value_col: str,
    row_key: Column,
    k: int = 256,
) -> DataFrame:
    """Fixed-size mergeable quantile register table — the fourth leg
    of the sketch family (HLL = distinct, CMS = frequency, KMV =
    distinct-alt, this = percentiles): the ``k`` rows whose 60-bit
    md5 hash of ``row_key`` is smallest, each carrying the row's
    VALUE. Bottom-k-by-hash over row identity is order sampling
    (Rosén 1997 / priority sampling, Duffield et al. 2007, with
    uniform priorities): the kept rows are a uniform pseudorandom
    sample of the population, so the register table's empirical
    quantiles estimate the population's with the DKW bound
    sup|F̂−F| ≤ ε at confidence 1−2e^{−2kε²} — fixed error from
    fixed k, whatever the data volume. The repo's exact interpolated
    percentiles sort the full value column (a global sort-shuffle at
    100 TB); this register table is the bounded-size alternative.

    ``row_key`` must identify ROWS, not values (hash duplicates of a
    value independently, or the sample is biased toward the distinct-
    value distribution — the reason the KMV distinct sketch cannot
    double as a quantile sketch). Determinism: the hash IS the
    priority, so the register table is a pure function of the data —
    no RNG state, hash-checkable cross-engine (the md5-60 recipe:
    DuckDB ``CAST('0x' || substr(md5(key), 18, 15) AS BIGINT)``).

    Mergeability (the rollup law, same shape as KMV):
    sketch(A ∪ B) = merge(sketch(A), sketch(B)) for disjoint slices —
    per-partition/per-day registers union into any coarser rollup
    without touching raw data (union, then re-take the k hash-smallest
    rows).

    Scale: bottom-k rides orderBy(k).limit — TakeOrderedAndProject,
    every partition forwards at most k rows, no global sort. Output:
    (rank, hash_val, value), rank 1..k by (hash_val, value)."""
    from pyspark.sql import Window as W

    if k < 8:
        raise ValueError(f"k must be >= 8, got {k}")
    rows = df.where(F.col(value_col).isNotNull()).select(
        _md5_60bit(row_key).alias("hash_val"),
        F.col(value_col).cast("double").alias("value"),
    )
    return (
        rows.orderBy("hash_val", "value")
        .limit(k)
        .select(
            F.row_number()
            .over(W.orderBy("hash_val", "value"))
            .cast("bigint")
            .alias("rank"),
            "hash_val",
            "value",
        )
    )


def quantile_sketch_estimate(
    registers: DataFrame, probs: list[float]
) -> DataFrame:
    """Percentile readout from the register table: exact interpolated
    percentiles OF THE SAMPLE (k rows — a driver-sized aggregation,
    identical to DuckDB quantile_cont on the same registers). Output:
    one row per prob (prob, est_value)."""
    if not probs:
        raise ValueError("need at least one probability")
    for p in probs:
        if not 0.0 <= p <= 1.0:
            raise ValueError(f"prob out of [0,1]: {p}")
    ests = registers.agg(
        *[
            F.expr(f"percentile(value, {float(p)!r})").alias(f"_p{i}")
            for i, p in enumerate(probs)
        ]
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(float(p)).alias("prob"),
                F.col(f"_p{i}").alias("est_value"),
            )
            for i, p in enumerate(probs)
        ]
    )
    return ests.select(F.explode(pairs).alias("_r")).select(
        F.col("_r.prob").alias("prob"),
        F.col("_r.est_value").alias("est_value"),
    )


def kmv_set_ops(
    sketch_a: DataFrame, sketch_b: DataFrame, k: int
) -> DataFrame:
    """Set-operation estimates from two bottom-k sketches (the theta-
    sketch workload, via the KMV estimators of Beyer et al., SIGMOD
    2007): distinct-union, Jaccard, and distinct-intersection — the
    audience-overlap / corpus-overlap readout that never rescans raw
    data (sketch once per slice, compare any pair later).

    Estimators, all from the k smallest hashes of the UNION: the
    union cardinality is the KMV density estimate (k−1)·2^60 / h_k
    (exact count when fewer than k hashes exist); Jaccard is the
    fraction of those union-bottom-k hashes present in BOTH input
    sketches (each union-bottom-k hash is ≤ both inputs' k-th minima,
    so membership in either input's DISTINCT SET is decided by its
    sketch — the property that makes this unbiased); intersection =
    Jaccard × union, one fixed-order multiply/divide chain of exact
    integers (hash-checkable: n_common and the FLOOR-ed estimates are
    BIGINTs).

    Output (one row): (n_union_kept, kth_union_hash, n_common,
    est_union, est_intersection). Scale: both inputs are already ≤ k
    rows — everything here is driver-sized; the expensive part
    (sketching the slices) happened once upstream."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    a = sketch_a.select(F.col("hash_val").alias("_ha"))
    b = sketch_b.select(F.col("hash_val").alias("_hb"))
    union_k = (
        a.select(F.col("_ha").alias("hash_val"))
        .unionByName(b.select(F.col("_hb").alias("hash_val")))
        .distinct()
        .orderBy("hash_val")
        .limit(k)
    )
    flagged = (
        union_k.join(
            a.withColumnRenamed("_ha", "hash_val").withColumn(
                "_in_a", F.lit(1)
            ),
            "hash_val",
            "left",
        )
        .join(
            b.withColumnRenamed("_hb", "hash_val").withColumn(
                "_in_b", F.lit(1)
            ),
            "hash_val",
            "left",
        )
    )
    agg = flagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_union_kept"),
        F.max("hash_val").alias("kth_union_hash"),
        F.sum(
            (
                F.col("_in_a").isNotNull() & F.col("_in_b").isNotNull()
            ).cast("bigint")
        ).alias("n_common"),
    )
    num = float((k - 1) * (1 << 60))
    est_union = F.when(
        F.col("n_union_kept") < F.lit(k), F.col("n_union_kept")
    ).otherwise(
        F.floor(F.lit(num) / F.col("kth_union_hash").cast("double"))
        .cast("bigint")
    )
    return agg.select(
        "n_union_kept",
        "kth_union_hash",
        F.col("n_common").cast("bigint").alias("n_common"),
        est_union.alias("est_union"),
        # jaccard × union in ONE fixed op order: n_common * est_union
        # / n_union_kept (exact integers into two IEEE ops + floor)
        F.floor(
            F.col("n_common").cast("double")
            * est_union.cast("double")
            / F.col("n_union_kept").cast("double")
        )
        .cast("bigint")
        .alias("est_intersection"),
    )


def quantile_sketch_grouped(
    df: DataFrame,
    group_col: str,
    value_col: str,
    row_key: Column,
    k: int = 64,
) -> DataFrame:
    """Per-group bottom-k-by-hash quantile registers — the sketch in
    its deployment shape (per day / per source / per tenant), same
    algebra as the global ``quantile_sketch``: each group's register
    table is its k hash-smallest rows, mergeable into any coarser
    rollup by re-taking bottom-k within the merged group (the KMV
    law). Output: (group, rank, hash_val, value).

    Scale: ONE window shuffle on the group key; the rank filter is a
    running top-k per group (WindowGroupLimit pushes k into the sort,
    so each partition forwards ≤ k rows per group — never a global
    sort). The register cube is |groups|·k rows whatever the data
    volume."""
    from pyspark.sql import Window as W

    if k < 8:
        raise ValueError(f"k must be >= 8, got {k}")
    rows = df.where(
        F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(
        F.col(group_col).alias("group"),
        _md5_60bit(row_key).alias("hash_val"),
        F.col(value_col).cast("double").alias("value"),
    )
    w = W.partitionBy("group").orderBy("hash_val", "value")
    return (
        rows.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "group",
            F.col("rank").cast("bigint").alias("rank"),
            "hash_val",
            "value",
        )
    )
