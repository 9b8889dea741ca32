"""Relational operator library.

Each function is a pure ``DataFrame -> DataFrame`` transform (usable
with ``DataFrame.transform``) covering the reference's operator
inventory (SURVEY.md §2.2-2.5). They exist as named, documented,
individually-tested primitives; Catalyst still owns physical planning.

Scale notes (100 TB posture):
- ``group_and_sum`` relies on partial (map-side) aggregation, which
  Spark applies automatically to ``sum`` — one shuffle of the partially
  aggregated keys, not of raw rows.
- ``join_left_small`` takes an explicit broadcast hint: the build side
  in every reference call site (distinct hex table, attribute
  projection) is orders of magnitude smaller than the probe side.
- ``full_outer_align`` keys every pairwise join on the same column, so
  Catalyst reuses one hash-partitioning across the whole join chain
  instead of reshuffling per join.
"""

from __future__ import annotations

from collections.abc import Iterable
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def project(df: DataFrame, columns: Iterable[str]) -> DataFrame:
    """Column-subset projection (reference h3_indexer.py:76).

    Catalyst's ColumnPruning pushes this into the scan (``ReadSchema``
    shows only these columns), so a 2-column projection of a 100-column
    100 TB table reads only 2 column chunks.
    """
    return df.select(*columns)


def with_literals(df: DataFrame, **values: object) -> DataFrame:
    """Attach constant-valued columns (reference h3_indexer.py:73,134-140)."""
    return df.withColumns({name: F.lit(v) for name, v in values.items()})


def filter_not_null(df: DataFrame, column: str) -> DataFrame:
    """Null filter (reference utils/geospatial.py:150); pushed to scan."""
    return df.filter(F.col(column).isNotNull())


def join_left_small(
    probe: DataFrame, build: DataFrame, on: str | list[str]
) -> DataFrame:
    """Left equi-join against a small build side (reference
    h3_indexer.py:124-127). Explicit broadcast: the reference relied on
    auto-broadcast; at 100 TB the probe side must never shuffle for
    these dimension-sized builds."""
    return probe.join(F.broadcast(build), on=on, how="left")


def join_left(probe: DataFrame, build: DataFrame, on: str | list[str]) -> DataFrame:
    """Left equi-join, strategy left to Catalyst/AQE (skew-join aware)."""
    return probe.join(build, on=on, how="left")


def join_semi(probe: DataFrame, filt: DataFrame, on: str | list[str]) -> DataFrame:
    """Left semi-join: keep probe rows with a match; never widens the
    row and never duplicates on multi-matches (unlike an inner join +
    distinct, which shuffles the full probe payload)."""
    return probe.join(filt, on=on, how="left_semi")


def join_anti(probe: DataFrame, filt: DataFrame, on: str | list[str]) -> DataFrame:
    """Left anti-join: keep probe rows WITHOUT a match (NOT EXISTS)."""
    return probe.join(filt, on=on, how="left_anti")


def full_outer_align(
    dfs: list[DataFrame], key: str | list[str]
) -> DataFrame:
    """N-way full-outer equi-join on a shared key (reference
    h3_resolver.py:71-82): aligns per-input aggregated tables into one
    wide row per key. All joins share one key ⇒ one exchange per input,
    reused down the chain."""
    if not dfs:
        raise ValueError("full_outer_align requires at least one DataFrame")
    keys = [key] if isinstance(key, str) else list(key)
    return reduce(lambda a, b: a.join(b, on=keys, how="full_outer"), dfs)


def group_and_sum(
    df: DataFrame,
    group_cols: str | list[str],
    sum_cols: Iterable[str] | None = None,
    prefix: str = "sum_",
) -> DataFrame:
    """Group-by SUM over value columns — the resolver kernel (reference
    h3_resolver.py:22-42). Output columns are ``{prefix}{col}``."""
    keys = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    if sum_cols is None:
        sum_cols = [c for c in df.columns if c not in keys]
    aggs = [F.sum(c).alias(f"{prefix}{c}") for c in sum_cols]
    return df.groupBy(*keys).agg(*aggs)


def distinct_keys(df: DataFrame, columns: str | list[str]) -> DataFrame:
    """``select(cols).distinct()`` — dedup before expensive per-key work
    (reference h3_indexer.py:116-121). The reference's key plan-level
    trick: synthesize hex geometry once per unique cell, then join back.
    """
    cols = [columns] if isinstance(columns, str) else list(columns)
    return df.select(*cols).distinct()


def explode_array(
    df: DataFrame, array_col: Column | str, alias: str, keep: Iterable[str]
) -> DataFrame:
    """UNNEST an array column to one row per element (reference
    h3_indexer.py:111-113, the feature→cells expansion)."""
    arr = F.col(array_col) if isinstance(array_col, str) else array_col
    return df.select(*keep, F.explode(arr).alias(alias))


def repartition_by(df: DataFrame, columns: str | list[str]) -> DataFrame:
    """Co-locate rows by column(s) ahead of the partitioned write
    (reference h3_indexer.py:78-79) so each task writes few files.

    Uses the AQE ``REBALANCE`` hint rather than ``repartition()``:
    plain user repartition is exempt from AQE coalescing (tiny inputs
    would still run the full shuffle width) and from skew splitting
    (one hot h3_r3_parent would pin the write on one task at 100 TB).
    Rebalance gives both: small partitions coalesce, oversized ones
    split while keeping partition-column clustering. Under
    ``persist()`` that holds only with
    ``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`` on
    (as :func:`~h3_indexer_spark.session.get_spark_session` sets it);
    at Spark's default a cached rebalance keeps the full shuffle
    width."""
    cols = [columns] if isinstance(columns, str) else list(columns)
    return df.hint("rebalance", *cols)


def top_k(
    df: DataFrame, order_by: list[Column], k: int
) -> DataFrame:
    """Global top-k. Spark plans orderBy+limit as TakeOrderedAndProject
    — per-partition heaps then a driver merge of k·P rows; no full sort
    shuffle even at 100 TB."""
    return df.orderBy(*order_by).limit(k)


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str | list[str],
    n_salts: int = 8,
    how: str = "inner",
    salt_src: str | None = None,
) -> DataFrame:
    """Skew-resilient equi-join: result-identical to ``big.join(small,
    on, how)`` but a hot join key spreads over ``n_salts`` reducers
    instead of pinning one.

    Mechanics: every big-side row gets a deterministic salt in
    [0, n_salts) derived from ``salt_src`` (a high-cardinality column,
    e.g. the big side's PK) — NOT from the join key, whose skew is the
    problem; the small side is replicated once per salt value (explode
    of a ``sequence``, a narrow n_salts× fanout — no shuffle), and the
    join runs on (key..., salt). Each big row carries exactly one salt
    and every (key, salt) combination exists on the small side, so
    inner and left matches are exactly those of the unsalted join.

    When to use: both sides too big to broadcast AND the key histogram
    is skewed beyond what AQE's skew-join splitting handles (AQE splits
    oversized *partitions* of the sorted side; a single mega-key still
    lands in one partition — salting is the only thing that splits
    *within* a key). Cost: small side shuffles n_salts× its size; pick
    n_salts ≈ hot-key rows / target partition rows.

    ``how`` must be "inner" or "left" (probe side preserved). Right and
    full outer are rejected: an unmatched small-side row would surface
    once per salt replica.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports inner/left, got {how!r}: outer "
            "semantics on the replicated side would duplicate "
            "unmatched rows"
        )
    keys = [on] if isinstance(on, str) else list(on)
    salt = (
        F.pmod(F.xxhash64(F.col(salt_src)), F.lit(n_salts))
        if salt_src is not None
        else F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(n_salts))
    ).cast("int")
    big_s = big.withColumn("_salt", salt)
    small_s = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return big_s.join(small_s, [*keys, "_salt"], how).drop("_salt")


def sketch_stats(
    df: DataFrame,
    group_col: str,
    distinct_col: str,
    quantile_col: str,
    quantiles: list[float] = (0.5, 0.9),
    rsd: float = 0.02,
    accuracy: int = 10_000,
) -> DataFrame:
    """Sketch-based per-group statistics — the 100 TB substitute for
    exact NDV/percentiles when the exact plans' costs bite: HLL++
    ``approx_count_distinct`` (fixed ~kB state per group vs the exact
    COUNT(DISTINCT) Expand that multiplies the shuffle by the column
    count) and the ``percentile_approx`` quantile sketch (bounded
    state vs a full sort). Both are algebraic aggregates — partial
    sketches merge map-side, one shuffle of sketch state only.

    Error contracts (locked in tests/test_relational_extra.py):
    HLL++ relative standard deviation ``rsd``; quantile sketch rank
    error ≤ 1/``accuracy``. Sketch internals are engine-specific, so
    results are self-verified against the exact operators rather than
    an external oracle.

    Each requested quantile comes back as its own SCALAR double column
    (``approx_q50``, ``approx_q90``, …) — never an array column: scalar
    columns survive any downstream canonicalizer/sorter, and the
    single internal sketch is still built once and shared.
    """
    qcol = F.percentile_approx(
        F.col(quantile_col), list(quantiles), accuracy
    )
    out = df.groupBy(group_col).agg(
        F.approx_count_distinct(distinct_col, rsd=rsd).alias(
            f"approx_ndv_{distinct_col}"
        ),
        qcol.alias("_qs"),
    )
    return out.select(
        group_col,
        f"approx_ndv_{distinct_col}",
        *[
            F.element_at(F.col("_qs"), i + 1).alias(
                f"approx_q{round(q * 100):d}"
            )
            for i, q in enumerate(quantiles)
        ],
    )


def grouped_corr(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group Pearson correlation in ONE partial-aggregated pass —
    the feature-vs-feature dependence check of a profiling stage.

    Built from exact DECIMAL sums (Sx, Sy, Sxy, Sxx, Syy) rather than
    Spark's F.corr: the streaming co-moment algorithms behind
    corr()/covar() accumulate in a data-order-dependent way and differ
    between engines in the last ulps, while decimal sums are exact and
    the closed-form combination
    (n·Sxy − Sx·Sy) / (√(n·Sxx − Sx²) · √(n·Syy − Sy²))
    is deterministic to the last couple of ulps — the only cross-
    engine wiggle is FMA contraction of the a·b − c·d shapes in
    compiled C++ vs the JVM, so the result is rounded to 12 decimals
    (|corr| ≤ 1, diff ~1e-16) to make the operator hash-checkable.
    Accumulator width: products of DECIMAL(18,6) inputs sum inside
    DECIMAL(38,12) — overflow-safe past 10^12 rows at TPC-H-like
    magnitudes. Rows with a null in either column are excluded
    (pairwise semantics). Degenerate groups (zero variance) yield
    NULL."""
    dx = F.col(x_col).cast("decimal(18,6)")
    dy = F.col(y_col).cast("decimal(18,6)")
    agg = (
        df.where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(dx).alias("_sx"),
            F.sum(dy).alias("_sy"),
            F.sum(dx * dy).alias("_sxy"),
            F.sum(dx * dx).alias("_sxx"),
            F.sum(dy * dy).alias("_syy"),
        )
    )
    nd = F.col("n_rows").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    sxy = F.col("_sxy").cast("double")
    sxx = F.col("_sxx").cast("double")
    syy = F.col("_syy").cast("double")
    den = F.sqrt(nd * sxx - sx * sx) * F.sqrt(nd * syy - sy * sy)
    return agg.select(
        *group_cols,
        "n_rows",
        F.round(
            F.when(den > 0, (nd * sxy - sx * sy) / den), 12
        ).alias("corr"),
    )


def histogram(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 20,
) -> DataFrame:
    """Fixed-range histogram: clamp-floor values into ``n_bins`` equal
    bins over [lo, hi) and count — the distribution-inspection
    primitive that replaces an unpayable global sort at corpus scale.
    A narrow map + one tiny aggregate (≤ n_bins rows shuffle after
    map-side combine); out-of-range values clamp into the edge bins so
    counts always total the non-null rows.

    bin_lo is derived as lo + bin·width in double — the identical op
    sequence in the oracle SQL, so the operator is hash-checkable."""
    width = (float(hi) - float(lo)) / n_bins
    raw = F.floor(
        (F.col(value_col).cast("double") - F.lit(float(lo)))
        / F.lit(width)
    )
    b = (
        F.when(raw < 0, F.lit(0))
        .when(raw >= n_bins, F.lit(n_bins - 1))
        .otherwise(raw)
        .cast("int")
    )
    return (
        df.where(F.col(value_col).isNotNull())
        .groupBy(b.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            "bin",
            (F.lit(float(lo)) + F.col("bin").cast("double") * F.lit(width))
            .alias("bin_lo"),
            "n_rows",
        )
    )


def profile_table(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Column profiling in ONE scan: per column — row count, nulls,
    exact distinct count, min/max, and mean for numerics — the
    data-quality summary a curation pipeline runs before and after
    every stage.

    Output rows: (column, n_rows, n_nulls, n_distinct, min_num,
    max_num, avg_num, min_str, max_str); the num/str halves are null
    for non-applicable types.

    Plan shape — one scan, no Expand, no join: each row explodes to
    one (column, value) struct per profiled column (value stringified
    as the distinct key, plus double/decimal shadows for numeric
    stats), then TWO stacked hash aggregates:
    (1) groupBy(column, value) — partial-aggregates map-side, so the
    one real shuffle carries only the DISTINCT pairs, each with its
    count / numeric min / exact-decimal sum;
    (2) groupBy(column) — folds the per-pair rows into the profile:
    n_rows = Σcount, n_nulls = the null-key group's count, n_distinct
    = non-null group count, min/max/avg from the pair-level shadows.
    The second shuffle is negligible (distinct pairs, already heavily
    combined map-side). The naive multi-COUNT(DISTINCT) formulation
    plans as an Expand ×(n_cols+1) into a SortAggregate — measured
    12× slower; the previous two-branch form scanned the source
    twice. At 100 TB prefer sketch_stats (one pass, bounded state)
    when exact NDVs aren't required — this plan's state is
    proportional to the distinct pair count. Mean is exact-decimal
    sum / count in double so it is bit-deterministic regardless of
    row order (exact DECIMAL(18,6) accumulation, double only at the
    final division).

    Float/double distinct keys fold -0.0 into 0.0 first:
    COUNT(DISTINCT) treats them as one value in both engines, but
    their string renderings differ and would double-count.
    """
    from pyspark.sql.types import DoubleType, FloatType, NumericType, StringType

    cols = columns if columns is not None else df.columns
    num_cols = [
        c for c in cols if isinstance(df.schema[c].dataType, NumericType)
    ]
    str_cols = [
        c for c in cols if isinstance(df.schema[c].dataType, StringType)
    ]

    def _pair(c: str) -> Column:
        dt = df.schema[c].dataType
        v = F.col(c)
        key = v
        if isinstance(dt, (FloatType, DoubleType)):
            key = F.when(v == 0, F.lit(0.0)).otherwise(v)
        if isinstance(dt, NumericType):
            num = v.cast("double")
            dec = v.cast("decimal(18,6)")
        else:
            num = F.lit(None).cast("double")
            dec = F.lit(None).cast("decimal(18,6)")
        return F.struct(
            F.lit(c).alias("column"),
            key.cast("string").alias("_v"),
            num.alias("_num"),
            dec.alias("_dec"),
        )

    melted = df.select(
        F.explode(F.array(*[_pair(c) for c in cols])).alias("p")
    ).select("p.*")
    # per distinct (column, value): multiplicity + numeric shadows
    # (_num is constant within a pair group — the string key is
    # injective per column — so min() just picks it up)
    pairs = melted.groupBy("column", "_v").agg(
        F.count(F.lit(1)).alias("_cnt"),
        F.min("_num").alias("_vnum"),
        F.sum("_dec").alias("_vdec"),
    )
    per_col = pairs.groupBy("column").agg(
        F.sum("_cnt").alias("n_rows"),
        F.coalesce(
            F.sum(F.when(F.col("_v").isNull(), F.col("_cnt"))), F.lit(0)
        ).alias("n_nulls"),
        F.count(F.when(F.col("_v").isNotNull(), F.lit(1))).alias(
            "n_distinct"
        ),
        F.min("_vnum").alias("_minn"),
        F.max("_vnum").alias("_maxn"),
        F.sum("_vdec").alias("_sumd"),
        F.min("_v").alias("_mins"),
        F.max("_v").alias("_maxs"),
    )
    is_num = (
        F.col("column").isin(num_cols) if num_cols else F.lit(False)
    )
    is_str = (
        F.col("column").isin(str_cols) if str_cols else F.lit(False)
    )
    n_valid = F.col("n_rows") - F.col("n_nulls")
    return per_col.select(
        "column",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_nulls").cast("long").alias("n_nulls"),
        "n_distinct",
        F.when(is_num, F.col("_minn")).alias("min_num"),
        F.when(is_num, F.col("_maxn")).alias("max_num"),
        F.when(
            is_num & (n_valid > 0), F.col("_sumd").cast("double") / n_valid
        ).alias("avg_num"),
        F.when(is_str, F.col("_mins")).alias("min_str"),
        F.when(is_str, F.col("_maxs")).alias("max_str"),
    )


def staged_power_sums(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    decimal_scale: int,
) -> DataFrame:
    """The exact-moment staging shared by grouped_moments (here) and
    analytics.jarque_bera: values scale exactly to ``decimal_scale``
    integers whose powers sum in staged DECIMAL widths that never
    exceed 38 digits — (c² as long) ⇒ c³ = dec(16)·dec(10),
    c⁴ = dec(16)·dec(16). Returns the per-group frame
    (*group_cols, n_rows, _s1.._s4); feed it to
    ``descaled_moment_exprs`` for the central moments."""
    mult = 10 ** decimal_scale
    c = F.round(F.col(value_col).cast("double") * F.lit(mult), 0).cast(
        "long"
    )
    c2 = (c * c).cast("long")
    c2d = c2.cast("decimal(16,0)")
    c3 = c2d * c.cast("decimal(10,0)")
    c4 = c2d * c2d
    return (
        df.where(F.col(value_col).isNotNull())
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(c.cast("decimal(18,0)")).alias("_s1"),
            F.sum(c2.cast("decimal(20,0)")).alias("_s2"),
            F.sum(c3).alias("_s3"),
            F.sum(c4).alias("_s4"),
        )
    )


def descaled_moment_exprs(decimal_scale: int) -> dict[str, Column]:
    """Fixed double expressions over staged_power_sums' exact columns:
    n, descaled raw sums s1/s2, mean, and population central moments
    m2/m3/m4 — ONE shared op order, so every moment-derived statistic
    (variance, skew, kurtosis, Jarque-Bera) is bit-identical across
    the operators that compose these."""
    mult = 10 ** decimal_scale
    n = F.col("n_rows").cast("double")
    s1 = F.col("_s1").cast("double") / F.lit(float(mult))
    s2 = F.col("_s2").cast("double") / F.lit(float(mult) ** 2)
    s3 = F.col("_s3").cast("double") / F.lit(float(mult) ** 3)
    s4 = F.col("_s4").cast("double") / F.lit(float(mult) ** 4)
    mean = s1 / n
    m2 = s2 / n - mean * mean
    m3 = (
        s3 / n
        - F.lit(3.0) * mean * (s2 / n)
        + F.lit(2.0) * mean * mean * mean
    )
    m4 = (
        s4 / n
        - F.lit(4.0) * mean * (s3 / n)
        + F.lit(6.0) * mean * mean * (s2 / n)
        - F.lit(3.0) * mean * mean * mean * mean
    )
    return {
        "n": n, "s1": s1, "s2": s2, "mean": mean,
        "m2": m2, "m3": m3, "m4": m4,
    }


def grouped_moments(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    decimal_scale: int = 2,
) -> DataFrame:
    """Per-group distribution moments — mean, sample variance,
    skewness, and excess kurtosis — bit-deterministic via EXACT
    integer power sums. (Streaming moment aggregates like skewness()
    fold in float and drift with partition order — unusable against an
    external oracle; and DECIMAL⁴ power sums overflow the 38-digit
    type cap.) The technique: values with at most ``decimal_scale``
    decimal digits scale exactly to integers (cents for money), whose
    powers sum in staged DECIMAL widths that never exceed 38 digits —
    (c² as long) ⇒ c³ = dec(16)·dec(10), c⁴ = dec(16)·dec(16) — and
    every statistic is then a fixed double expression over the exact
    sums. Values outside the declared scale round to it (nearest
    integer, far from ties by construction when the declaration is
    honest).

    Skewness is the adjusted Fisher–Pearson sample form
    g1·√(n(n−1))/(n−2); kurtosis the population excess form m4/m2²−3.
    Higher moments report null where undefined (n below the formula's
    denominator or zero variance). One partial-aggregated groupBy —
    the moments of 100 TB cost one scan."""
    agg = staged_power_sums(df, value_col, group_cols, decimal_scale)
    e = descaled_moment_exprs(decimal_scale)
    n, s1, s2 = e["n"], e["s1"], e["s2"]
    mean, m2, m3, m4 = e["mean"], e["m2"], e["m3"], e["m4"]
    var_samp = (s2 - s1 * s1 / n) / (n - F.lit(1.0))
    skew = (
        m3
        / F.sqrt(m2 * m2 * m2)
        * F.sqrt(n * (n - F.lit(1.0)))
        / (n - F.lit(2.0))
    )
    kurt = m4 / (m2 * m2) - F.lit(3.0)
    return agg.select(
        *group_cols,
        "n_rows",
        mean.alias("mean"),
        F.when(F.col("n_rows") >= 2, var_samp).alias("var_samp"),
        F.when((F.col("n_rows") >= 3) & (m2 > 0.0), skew).alias(
            "skewness"
        ),
        F.when((F.col("n_rows") >= 4) & (m2 > 0.0), kurt).alias(
            "kurtosis_excess"
        ),
    )


def grouped_mode(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Per-group modal value with a deterministic tie-break (highest
    count, then smallest value) — the categorical summary statistic
    profile_table can't express. Output: (*group_cols, mode,
    n_occurrences).

    Plan: two-key partial-aggregated count (the shuffle carries
    (group, value) pairs, not rows), then a rank window whose input is
    already collapsed to distinct pairs — window state bounded by
    per-group value cardinality. Nulls are excluded (a null mode is
    indistinguishable from an empty group).
    """
    counts = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(*group_cols, value_col)
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    w = Window.partitionBy(*group_cols).orderBy(
        F.col("n_occurrences").desc(), F.col(value_col).asc()
    )
    return (
        counts.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            *group_cols,
            F.col(value_col).alias("mode"),
            "n_occurrences",
        )
    )


def grouped_mad(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Per-group median absolute deviation: median(|x − median(x)|) —
    the robust dispersion statistic (a single wild outlier moves
    stddev arbitrarily but MAD at most one rank). Output:
    (*group_cols, median, mad, n_rows).

    Two exact interpolated-percentile passes: the per-group medians
    (tiny table) join back onto the rows via the guarded broadcast of
    features._stats_join (degrades to a shuffle join past 100k groups
    instead of OOMing the driver; EAGER — one probe job runs at
    construction), then the deviations
    aggregate per group again. Spark's exact ``percentile`` matches
    external engines' quantile_cont bit-for-bit (the q_quantiles
    parity result), and |x − m| is one IEEE op, so the composition is
    hash-checkable. Same per-group sort-state cost profile as
    robust_scale — swap percentile_approx in past ~10^8-row groups.
    """
    med = df.groupBy(*group_cols).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("_med"),
        F.count(F.col(value_col)).alias("n_rows"),
    )
    from h3_indexer_spark.operators.features import _stats_join

    dev = _stats_join(df, med, group_cols).withColumn(
        "_absdev",
        F.abs(F.col(value_col).cast("double") - F.col("_med")),
    )
    return (
        dev.groupBy(*group_cols)
        .agg(
            F.first("_med").alias("median"),
            F.expr("percentile(_absdev, 0.5)").alias("mad"),
            F.first("n_rows").alias("n_rows"),
        )
        .select(*group_cols, "median", "mad", "n_rows")
    )


def grouped_regression(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group simple linear regression (OLS y = a·x + b) in ONE
    partial-aggregated pass: slope, intercept, and r² from exact
    DECIMAL sums — the trend-fitting sibling of grouped_corr, and the
    same determinism argument: n, Σx, Σy, Σxy, Σx², Σy² accumulate
    exactly in DECIMAL(38,12) (order-independent), the closed forms

        slope = (n·Σxy − Σx·Σy) / (n·Σx² − Σx²)
        intercept = (Σy − slope·Σx) / n
        r² = corr²

    are fixed IEEE sequences. slope/intercept round to 6 decimals and
    r² to 12: the FMA-contraction ulp between compiled engines scales
    with the statistic's MAGNITUDE, so for unbounded-scale outputs the
    rounding quantum must sit well above one ulp of the value (12
    decimals is a no-op on a 5e4-magnitude double) — r² is |x| ≤ 1 and
    keeps the grouped_corr rule. Built-ins regr_slope/regr_intercept stream
    co-moments in data order and aren't cross-engine reproducible —
    same reason grouped_corr avoids F.corr. Pairwise-null exclusion;
    degenerate groups (zero x-variance) yield NULLs. Output:
    (*group_cols, n_rows, slope, intercept, r2)."""
    dx = F.col(x_col).cast("decimal(18,6)")
    dy = F.col(y_col).cast("decimal(18,6)")
    agg = (
        df.where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(dx).alias("_sx"),
            F.sum(dy).alias("_sy"),
            F.sum(dx * dy).alias("_sxy"),
            F.sum(dx * dx).alias("_sxx"),
            F.sum(dy * dy).alias("_syy"),
        )
    )
    nd = F.col("n_rows").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    sxy = F.col("_sxy").cast("double")
    sxx = F.col("_sxx").cast("double")
    syy = F.col("_syy").cast("double")
    var_x = nd * sxx - sx * sx
    var_y = nd * syy - sy * sy
    slope = (nd * sxy - sx * sy) / var_x
    den = F.sqrt(var_x) * F.sqrt(var_y)
    corr = (nd * sxy - sx * sy) / den
    return agg.select(
        *group_cols,
        "n_rows",
        F.round(F.when(var_x > 0, slope), 6).alias("slope"),
        F.round(
            F.when(var_x > 0, (sy - slope * sx) / nd), 6
        ).alias("intercept"),
        F.round(F.when(den > 0, corr * corr), 12).alias("r2"),
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
    include_unchanged: bool = False,
) -> DataFrame:
    """Change-data-capture between two table snapshots: classify every
    key as added / removed / changed (/ unchanged) and expose both
    sides' values — the daily-crawl / dimension-refresh diff primitive
    that feeds incremental downstream recomputes instead of full
    reruns. Output: (*key_cols, status, old_<c>/new_<c> per compare
    column, n_changed_cols).

    ONE full-outer hash join on the key columns (both sides shuffle
    once on the same key — no window, no second pass); presence is
    tracked with literal marker columns so a legitimately-null
    attribute is never mistaken for absence, and value comparison is
    null-safe (<=>). Keys must be non-null (the standard PK contract —
    a null key row would silently cross-match). At 100 TB, bucket both
    snapshots on the key at write time and the join plans with ZERO
    Exchange (writers.write_bucketed_table)."""
    osel = (
        old.select(
            *key_cols,
            *[F.col(c).alias(f"old_{c}") for c in compare_cols],
        )
        .withColumn("_in_old", F.lit(1))
    )
    nsel = (
        new.select(
            *key_cols,
            *[F.col(c).alias(f"new_{c}") for c in compare_cols],
        )
        .withColumn("_in_new", F.lit(1))
    )
    j = osel.join(nsel, key_cols, "full_outer")
    n_changed = sum(
        (
            (~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))).cast("int")
            for c in compare_cols
        ),
        F.lit(0),
    )
    status = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(n_changed > 0, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    out = j.withColumn("status", status).withColumn(
        "n_changed_cols",
        F.when(
            F.col("_in_old").isNotNull() & F.col("_in_new").isNotNull(),
            n_changed,
        )
        .otherwise(F.lit(0))
        .cast("bigint"),
    )
    if not include_unchanged:
        out = out.where(F.col("status") != "unchanged")
    return out.select(
        *key_cols,
        "status",
        *[f"old_{c}" for c in compare_cols],
        *[f"new_{c}" for c in compare_cols],
        "n_changed_cols",
    )


def merge_by_key(
    target: DataFrame,
    source: DataFrame,
    key_cols: list[str],
    value_cols: list[str] | None = None,
    delete_col: str | None = None,
) -> DataFrame:
    """Row-level MERGE (upsert + delete-vector) without a table
    format: returns the post-merge state of ``target`` after applying
    ``source`` — MATCHED rows take the source's values wholesale (a
    legitimately-NULL source value still wins: matching is decided by
    presence markers, not COALESCE), NOT-MATCHED source rows are
    inserted, unmatched target rows pass through, and rows whose
    ``delete_col`` flag is true on the source side are dropped
    (matched → delete; unmatched-delete → no-op tombstone). This is
    the key-level complement to partition-level
    ``sources.writers.upsert_partitions`` and the CDC classifier
    ``snapshot_diff`` (parity surface: reference emits full snapshots
    only — this is beyond-reference MERGE INTO semantics, expressed as
    one relational plan instead of a table-format transaction log).

    Plan shape: ONE full-outer hash join on the key columns — both
    sides shuffle once on the same key; no window, no second pass.
    Keys must be non-null (PK contract, same as snapshot_diff). At
    100 TB: bucket the target on the key at write time
    (writers.write_bucketed_table) and re-bucket each merged output
    the same way — then every nightly merge joins with ZERO Exchange
    on the target side (locked in tests/test_round6_ops.py), reading
    and rewriting only shuffled-once source data. Idempotent: merging
    the same source twice converges to the same state.
    """
    if value_cols is None:
        tgt_vals = [c for c in target.columns if c not in key_cols]
        value_cols = [
            c
            for c in source.columns
            if c not in key_cols and c != delete_col and c in tgt_vals
        ]
    tsel = target.select(
        *key_cols, *[F.col(c).alias(f"_t_{c}") for c in value_cols]
    )
    scols = [F.col(c).alias(f"_s_{c}") for c in value_cols]
    if delete_col is not None:
        scols.append(
            F.coalesce(F.col(delete_col).cast("boolean"), F.lit(False)).alias(
                "_s_del"
            )
        )
    ssel = source.select(*key_cols, *scols).withColumn("_in_s", F.lit(1))
    j = tsel.join(ssel, key_cols, "full_outer")
    src_wins = F.col("_in_s").isNotNull()
    if delete_col is not None:
        # a flagged source row drops its key (matched → delete;
        # unmatched tombstone → nothing inserts)
        j = j.where(~F.coalesce(F.col("_s_del"), F.lit(False)))
    out_vals = [
        F.when(src_wins, F.col(f"_s_{c}"))
        .otherwise(F.col(f"_t_{c}"))
        .alias(c)
        for c in value_cols
    ]
    return j.select(*key_cols, *out_vals)


def grouped_sum_state(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Maintainable per-group aggregate STATE: (group, n_rows,
    sum_dec) with the sum in exact DECIMAL(19,4) so it can be
    algebraically updated by deltas without float drift. Finalize for
    reporting with :func:`finalize_grouped_sum`."""
    return df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col(value_col).cast("decimal(19,4)")).alias("sum_dec"),
    )


def update_grouped_sum(
    state: DataFrame,
    diff: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Incremental aggregate maintenance: apply a CDC diff (the output
    of :func:`snapshot_diff` whose compare_cols include ``group_col``
    and ``value_col``) to a :func:`grouped_sum_state` WITHOUT
    rescanning the base table — the materialized-view maintenance
    primitive. Cost is proportional to |changes|, not |table|: at
    100 TB a daily 0.1% churn updates the aggregate ~1000× cheaper
    than recomputing, and because the state sums are exact DECIMAL the
    result is BIT-IDENTICAL to a full recompute over the new snapshot
    (locked by the q_incremental_agg oracle, which IS that recompute).

    Each diff row contributes a retraction to its old group
    (removed/changed) and an addition to its new group
    (added/changed) — group migrations handled naturally; unchanged
    rows (if included) contribute nothing by exact cancellation.
    Plan: one union + one groupBy over the DELTA only, then a
    full-outer join with the state on the group key; groups whose
    count reaches zero are dropped.
    """
    og, ng = f"old_{group_col}", f"new_{group_col}"
    ov, nv = f"old_{value_col}", f"new_{value_col}"
    rem = diff.where(F.col("status").isin("removed", "changed")).select(
        F.col(og).alias(group_col),
        F.lit(-1).cast("long").alias("_dn"),
        (-F.col(ov).cast("decimal(19,4)")).alias("_dv"),
    )
    add = diff.where(F.col("status").isin("added", "changed")).select(
        F.col(ng).alias(group_col),
        F.lit(1).cast("long").alias("_dn"),
        F.col(nv).cast("decimal(19,4)").alias("_dv"),
    )
    delta = (
        rem.unionByName(add)
        .groupBy(group_col)
        .agg(
            F.sum("_dn").alias("_dn"),
            F.sum("_dv").alias("_dv"),
        )
    )
    merged = state.join(delta, group_col, "full_outer").select(
        group_col,
        (
            F.coalesce(F.col("n_rows"), F.lit(0))
            + F.coalesce(F.col("_dn"), F.lit(0))
        ).alias("n_rows"),
        (
            F.coalesce(
                F.col("sum_dec"), F.lit(0).cast("decimal(19,4)")
            )
            + F.coalesce(F.col("_dv"), F.lit(0).cast("decimal(19,4)"))
        ).cast("decimal(19,4)").alias("sum_dec"),
    )
    return merged.where(F.col("n_rows") > 0)


def finalize_grouped_sum(state: DataFrame, sum_name: str = "sum_v") -> DataFrame:
    """Report form of a grouped-sum state: decimal -> double."""
    return state.select(
        *[c for c in state.columns if c != "sum_dec"],
        F.col("sum_dec").cast("double").alias(sum_name),
    )


def weighted_median(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Per-group lower weighted median: the smallest value whose
    cumulative weight reaches half the group total — duration-weighted
    latency medians, quantity-weighted price medians. Output:
    (*group_cols, w_median).

    ONE window pass per group (cumulative exact-DECIMAL weight over
    the (value, weight) sort) + a min-aggregate over the qualifying
    rows. The halfway test is ``2·cum ≥ total`` in EXACT DECIMAL — no
    division, no float threshold, so engines can't disagree at the
    boundary. Null values/weights and non-positive weights are
    excluded (standard weighted-quantile contract). Window state is
    one running decimal per cursor — flat memory; the sort is
    per-group, never global."""
    groups = list(group_cols or [])
    wd = F.col(weight_col).cast("decimal(19,4)")
    base = df.where(
        F.col(value_col).isNotNull()
        & F.col(weight_col).isNotNull()
        & (F.col(weight_col) > 0)
    ).select(
        *groups,
        F.col(value_col).cast("double").alias("_v"),
        wd.alias("_w"),
    )
    w_cum = (
        Window.partitionBy(*groups).orderBy(F.col("_v").asc())
        if groups
        else Window.partitionBy().orderBy(F.col("_v").asc())
    ).rangeBetween(Window.unboundedPreceding, 0)
    w_all = (
        Window.partitionBy(*groups) if groups else Window.partitionBy()
    ).rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cum = F.sum("_w").over(w_cum)
    total = F.sum("_w").over(w_all)
    qual = base.withColumn(
        "_q", (cum * F.lit(2)) >= total
    ).where(F.col("_q"))
    if groups:
        return qual.groupBy(*groups).agg(F.min("_v").alias("w_median"))
    return qual.agg(F.min("_v").alias("w_median"))


def group_concat(
    df: DataFrame,
    group_cols: str | list[str],
    value_col: str,
    sep: str = ",",
) -> DataFrame:
    """Ordered string aggregation per group — SQL's
    ``string_agg(value, sep ORDER BY value)`` (the denormalized-list
    export shape: tag lists, member rosters, path strings).

    The ORDER BY inside the aggregate is the part engines get subtly
    wrong at scale: a bare collect_list order is partition-arrival
    nondeterministic, so the list is array_sort'ed (binary UTF8
    ordering — the same default collation DuckDB/Postgres string_agg
    applies) before joining. One groupBy shuffle; the sorted list is
    per-group memory, which is the operator's inherent contract
    (cap or bucket upstream when a group's membership is unbounded).

    Emits the group keys, ``concat`` and ``n_items``.
    """
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    return df.groupBy(*groups).agg(
        F.array_join(
            F.array_sort(F.collect_list(F.col(value_col))), sep
        ).alias("concat"),
        F.count(F.col(value_col)).alias("n_items"),
    )


def scd2_build(
    df: DataFrame,
    key_col: str,
    attr_cols: list[str],
    ts_col: str,
) -> DataFrame:
    """Build a Type-2 slowly-changing dimension from an append-only
    observation log: consecutive observations of a key whose tracked
    attributes are unchanged collapse into one validity interval;
    every change opens a new row. The warehouse-standard history
    table (Kimball SCD Type 2) — effective_from/effective_to
    half-open intervals, effective_to NULL on the current row.

    Semantics: observations order by (ts, attrs) per key — the attr
    tiebreak makes equal-timestamp runs deterministic; attribute
    comparisons are null-safe (NULL → NULL is "no change"). A value
    that changes A → B → A yields three intervals (full history, not
    dedup). Output: (key, attrs..., effective_from, effective_to,
    is_current, n_observations).

    Scale: two key-partitioned windows (change flag + run id, then
    the effective_to lead) and one (key, run) aggregation — all
    shuffles are on the dimension key, no global sort. At 100 TB the
    observation log is the big side and this is exactly the shape
    merge-into SCD jobs run nightly."""
    if not attr_cols:
        raise ValueError("attr_cols must be non-empty")
    w = Window.partitionBy(key_col).orderBy(
        ts_col, *[F.col(c) for c in attr_cols]
    )
    changed = F.when(
        F.row_number().over(w) == 1, F.lit(1)
    ).otherwise(
        F.when(
            ~reduce(
                lambda a, b: a & b,
                [
                    F.col(c).eqNullSafe(F.lag(F.col(c)).over(w))
                    for c in attr_cols
                ],
            ),
            F.lit(1),
        ).otherwise(F.lit(0))
    )
    runs = df.select(
        key_col, ts_col, *attr_cols, changed.alias("_chg")
    ).select(
        key_col,
        ts_col,
        *attr_cols,
        F.sum("_chg")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("_run"),
    )
    grouped = runs.groupBy(key_col, "_run", *attr_cols).agg(
        F.min(ts_col).alias("effective_from"),
        F.count(F.lit(1)).cast("bigint").alias("n_observations"),
    )
    # two runs can share effective_from (equal-timestamp ties split
    # by the attr tiebreak) — the run id breaks the interval order
    # deterministically
    w2 = Window.partitionBy(key_col).orderBy("effective_from", "_run")
    return grouped.select(
        key_col,
        *attr_cols,
        "effective_from",
        F.lead("effective_from").over(w2).alias("effective_to"),
        F.lead("effective_from").over(w2).isNull().alias("is_current"),
        "n_observations",
    )


def corr_matrix(df: DataFrame, cols: list[str]) -> DataFrame:
    """Pairwise Pearson correlation over ``cols`` in ONE
    partial-aggregated pass — the profiling stage's feature
    redundancy census, k(k−1)/2 coefficients from a single scan
    instead of running grouped_corr per pair (which would re-read
    the fact table O(k²) times).

    Exactness is grouped_corr's: per-column DECIMAL(18,6) sums and
    pairwise cross-sums accumulate exactly inside DECIMAL(38,12);
    each coefficient combines its five sums in the same fixed IEEE
    order and rounds to 12 decimals to absorb FMA contraction.
    Rows with a null in ANY listed column are excluded (listwise,
    so every pair shares one n — the standard matrix semantics).
    Output: (feat_x, feat_y, n_rows, corr) for x < y by list order.

    Scale: the aggregate is a single reduce of k + k + k(k−1)/2
    decimal sums — one shuffle carrying ONE row per partition; the
    per-pair combination then runs on a 1-row frame."""
    if len(cols) < 2:
        raise ValueError("need at least two columns")
    mask = reduce(
        lambda a, b: a & b, [F.col(c).isNotNull() for c in cols]
    )
    d = {c: F.col(c).cast("decimal(18,6)") for c in cols}
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.append(F.sum(d[c]).alias(f"_s_{c}"))
        aggs.append(F.sum(d[c] * d[c]).alias(f"_ss_{c}"))
    pairs = [
        (cols[i], cols[j])
        for i in range(len(cols))
        for j in range(i + 1, len(cols))
    ]
    for x, y in pairs:
        aggs.append(F.sum(d[x] * d[y]).alias(f"_sxy_{x}_{y}"))
    agg = df.where(mask).agg(*aggs)
    nd = F.col("n_rows").cast("double")
    rows = []
    for x, y in pairs:
        sx = F.col(f"_s_{x}").cast("double")
        sy = F.col(f"_s_{y}").cast("double")
        sxx = F.col(f"_ss_{x}").cast("double")
        syy = F.col(f"_ss_{y}").cast("double")
        sxy = F.col(f"_sxy_{x}_{y}").cast("double")
        den = F.sqrt(nd * sxx - sx * sx) * F.sqrt(nd * syy - sy * sy)
        rows.append(
            F.struct(
                F.lit(x).alias("feat_x"),
                F.lit(y).alias("feat_y"),
                F.round(
                    F.when(den > 0, (nd * sxy - sx * sy) / den), 12
                ).alias("corr"),
            )
        )
    return agg.select(
        F.explode(F.array(*rows)).alias("_p"), "n_rows"
    ).select(
        F.col("_p.feat_x").alias("feat_x"),
        F.col("_p.feat_y").alias("feat_y"),
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("_p.corr").alias("corr"),
    )


def compaction_plan(
    df: DataFrame,
    part_col: str,
    id_col: str,
    size_col: str,
    target_bytes: int,
) -> DataFrame:
    """Small-file compaction PLANNER — the oracle-checkable sibling of
    sources/writers.py::compact_parquet (which rewrites): given a file
    inventory (partition, file id, byte size), assign files to output
    bins by next-fit bin packing so each rewrite task reads ~
    ``target_bytes``. This is the maintenance-advisor table a
    100 TB lakehouse runs nightly over its file listing: small files
    hurt twice (per-file open/footer cost in every query, and driver
    metadata for millions of entries), and the PLAN must be
    deterministic so reruns and audits agree.

    Packing rule: within each partition, files in ``id_col`` order
    accumulate a running byte total; a file lands in bin
    floor((cum − size) / target) — where its FIRST byte falls on the
    fixed target-sized grid. The guarantee is GRID-CROSSING, not pure
    next-fit: a new bin opens exactly when the running total crosses
    a k·target boundary, so cumulative bytes through every non-final
    bin reach (bin+1)·target (the property the tests lock) and the
    bin count never exceeds ceil(partition_bytes/target) — the
    rewrite's ideal output file count. An individual mid-partition bin
    CAN come in under target when its predecessor overshot the
    boundary with one large file (sizes 199,1,1000 at target 100 put
    the 1-byte file alone in bin 1) — the ``undersized`` flag exists
    precisely to surface those for the rewriter to coalesce. Chosen
    over stateful next-fit because it is ONE ordered window pass with
    no mutable bin state, and over first-fit-decreasing because id
    order preserves file locality. All arithmetic is exact BIGINT.

    Scale: one window shuffle keyed on the partition column (file
    inventories are per-partition thousands of rows) + one groupBy
    fold on (partition, bin). Output per bin: (partition, bin,
    n_files, total_bytes, first_id, last_id, undersized)."""
    if target_bytes <= 0:
        raise ValueError(
            f"target_bytes must be positive, got {target_bytes}"
        )
    w = Window.partitionBy(part_col).orderBy(F.col(id_col).asc())
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sz = F.col(size_col).cast("bigint")
    assigned = (
        df.where(
            F.col(part_col).isNotNull()
            & F.col(id_col).isNotNull()
            & sz.isNotNull()
        )
        .select(
            F.col(part_col).alias("part"),
            F.col(id_col).alias("_id"),
            sz.alias("_sz"),
            (F.sum(sz).over(wc) - sz).alias("_off"),
        )
        # integer `div`, not `/`: bigint / int is a DOUBLE in Spark,
        # which loses byte exactness past 2^53 cumulative bytes and
        # can round a boundary file into the wrong bin — offsets are
        # non-negative so floor division == div
        .withColumn(
            "bin",
            F.expr(f"_off div CAST({target_bytes} AS BIGINT)")
            .cast("bigint"),
        )
        .drop("_off")
    )
    return assigned.groupBy("part", "bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum("_sz").cast("bigint").alias("total_bytes"),
        F.min("_id").alias("first_id"),
        F.max("_id").alias("last_id"),
        (F.sum("_sz") < F.lit(target_bytes)).alias("undersized"),
    )
