"""Feature-engineering operators for training-data pipelines.

The step between curation and training: turning raw event/document
tables into model-ready features — rolling aggregates over ordered
streams, curriculum bins, and scaled numeric features. Everything here
is built-in-function only (window frames, aggregates, broadcast
joins): no Python in any hot path, and every plan is a single shuffle
or less on the big side.

The reference engine stops at geo resolution (h3_resolver.py); these
operators extend the same declarative style to the ML-preprocessing
surface a 100 TB corpus needs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# The per-group stats tables the scaler/impute family joins back are
# tiny for any sane group column, but "tiny" must be verified, not
# assumed: an unconditional F.broadcast of a 10^8-cardinality group
# column's aggregate would OOM the driver rather than degrade. Groups
# up to this count broadcast (a 100k-row, few-column stats table is
# single-digit MB); past it the join degrades to a plain equi-join
# that AQE plans shuffle-side.
BROADCAST_GROUP_LIMIT = 100_000


def _stats_join(
    df: DataFrame,
    stats: DataFrame,
    group_col: str | list[str] | None,
    how: str = "inner",
) -> DataFrame:
    """Join a per-group statistics table back onto the fact table.

    Ungrouped stats are a single row — always a broadcast cross join.

    Grouped stats broadcast only after a bounded ``take`` verifies the
    cardinality is at most ``BROADCAST_GROUP_LIMIT``; the fetched rows
    (a few MB at the cap) then re-enter the plan as a LocalRelation,
    so the aggregation runs exactly once, nothing stays cached, and
    the broadcast side is a local table Catalyst sizes precisely — the
    fact side never shuffles, even in the STATIC plan. Past the
    threshold the fact side takes one hash shuffle instead of the
    driver taking an OOM — the correct degradation (the aggregation
    recomputes inside that join: the probe's job was a separate
    execution; rare by the tiny-stats contract, and cheap next to the
    shuffle it accompanies). The bounded probe makes callers EAGER:
    one aggregation job runs at operator-construction time, not at
    first action — each caller's docstring states this.
    """
    if group_col is None:
        return df.crossJoin(F.broadcast(stats))
    head = stats.take(BROADCAST_GROUP_LIMIT + 1)
    if len(head) <= BROADCAST_GROUP_LIMIT:
        local = stats.sparkSession.createDataFrame(head, stats.schema)
        return df.join(F.broadcast(local), group_col, how)
    return df.join(stats, group_col, how)


def rolling_features(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col: str,
    window: int = 5,
) -> DataFrame:
    """Per-key trailing-window features over an ordered stream (ROWS
    frame): count, sum and mean of ``value_col`` over the last
    ``window`` rows including the current one — the session-velocity /
    user-rate feature primitive.

    ONE window shuffle (partition by key, sort by ``order_cols``);
    frame state is bounded at ``window`` rows per partition cursor, so
    executor memory is flat regardless of key cardinality or history
    length. ``order_cols`` must be a total order within each key or
    frame contents are nondeterministic — pass a tiebreaker (an event
    id) alongside the timestamp.

    Sums are DECIMAL(18,6)-cast before aggregation and divided in
    double, so roll_sum/roll_mean are bit-deterministic regardless of
    row order (the engine-vs-oracle determinism rule used throughout
    queries.py).
    """
    w = (
        Window.partitionBy(key_col)
        .orderBy(*[F.col(c).asc() for c in order_cols])
        .rowsBetween(-(window - 1), 0)
    )
    dec = F.col(value_col).cast("decimal(18,6)")
    n = F.count(dec).over(w)
    s = F.sum(dec).over(w)
    return (
        df.withColumn("roll_n", n.cast("long"))
        .withColumn("roll_sum", s.cast("double"))
        .withColumn(
            "roll_mean",
            F.when(n > 0, s.cast("double") / n).otherwise(F.lit(None)),
        )
    )


def ntile_bins(
    df: DataFrame,
    score_col: str,
    n_bins: int = 10,
    tiebreak_col: str | None = None,
    out_col: str = "bin",
) -> DataFrame:
    """Curriculum / difficulty binning: assign every row to one of
    ``n_bins`` equal-count bins by ``score_col`` (NTILE over a total
    order) — the standard prelude to difficulty-ordered sampling or
    per-bin mixing weights.

    NTILE needs a global order, which on a naive plan means one giant
    sort partition. Spark plans an unbounded window as a single-task
    sort — acceptable to ~10^8 rows; beyond that, bin at the partition
    level with approx quantile cut points instead (percentile_approx
    thresholds + a broadcast range join — sketch_stats shows the
    sketch side). This exact variant is the oracle baseline and the
    right tool whenever the binned table is an already-reduced
    per-document score table rather than the raw corpus.

    ``tiebreak_col`` extends the sort to a total order so bin edges are
    deterministic; both engines assign NTILE remainders to the leading
    bins, so results are bit-stable cross-engine.
    """
    order = [F.col(score_col).asc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).asc())
    w = Window.orderBy(*order)
    return df.withColumn(out_col, F.ntile(n_bins).over(w))


def ewma_features(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col: str,
    alpha: float = 0.3,
    out_col: str = "ewma",
) -> DataFrame:
    """Exponentially-weighted moving average per key over an ordered
    stream — the time-decay feature primitive (drifting user rates,
    recency-weighted quality baselines). The recurrence
    y_t = (1−α)·y_{t−1} + α·x_t makes each output depend on the
    previous OUTPUT, which no window frame can express, so this is the
    one feature operator that runs as applyInPandas: ONE shuffle keyed
    on ``key_col``, then a numpy kernel per group.

    The kernel evaluates the recurrence in closed form blockwise
    (within a block of B rows, y = (1−α)^i·carry + α·Σ(1−α)^{i−j}x_j
    via two vectorized cumulative ops), so per-row Python never runs
    and the decay powers stay within float range for any series
    length. Each KEY's history must fit one worker (same contract as
    sessionize's per-key window); for truly unbounded keys, pre-chunk
    by coarse time and chain the carry.

    Deterministic for a fixed (order_cols) total order; rows-only vs
    the external oracle (the float recurrence is not practically
    SQL-expressible) — numpy-recurrence equivalence is locked in
    tests/test_features.py.
    """
    import math

    import numpy as np

    a = float(alpha)
    if not 0.0 < a <= 1.0:
        raise ValueError(f"alpha must be in (0, 1]: {a}")
    # block size such that (1-a)^-B stays far from double overflow
    # (powers up to ~1e250 with values ≤1e50 still in range); the scan
    # trick divides by decay_j, so the spread must be bounded
    if a == 1.0:
        blk_size = 1  # y_t = x_t; loop degenerates correctly
    else:
        spread = -math.log10(1.0 - a)  # decades per step
        blk_size = max(16, min(1024, int(250.0 / max(spread, 0.25))))

    def per_key(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_cols, ignore_index=True)
        x = pdf[value_col].to_numpy(dtype=np.float64)
        out = np.empty_like(x)
        # seed y_1 = x_1 (pandas adjust=False): a virtual carry c with
        # (1-a)c + a·x_1 = x_1, i.e. c = x_1
        carry = x[0] if len(x) else 0.0
        for lo in range(0, len(x), blk_size):
            blk = x[lo : lo + blk_size]
            i = np.arange(1, len(blk) + 1, dtype=np.float64)
            decay = (1.0 - a) ** i  # (1-a)^1 .. (1-a)^B
            if a == 1.0:
                acc = blk.astype(np.float64)
            else:
                # y_i = decay_i·carry + a·Σ_j (1-a)^(i-j)·x_j
                #     = decay_i·(carry + cumsum(a·x_j/decay_j))
                acc = decay * (carry + np.cumsum(a * blk / decay))
            out[lo : lo + len(blk)] = acc
            carry = acc[-1]
        pdf[out_col] = out
        return pdf

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    return df.groupBy(key_col).applyInPandas(
        per_key, schema=f"{schema}, {out_col} double"
    )


def quantile_bins(
    df: DataFrame,
    score_col: str,
    n_bins: int = 10,
    accuracy: int = 10_000,
    out_col: str = "bin",
) -> DataFrame:
    """Sketch cut-point binning — the 100 TB path :func:`ntile_bins`
    documents: instead of NTILE's single global sort, compute the
    ``n_bins - 1`` approximate quantile thresholds in ONE
    percentile_approx pass (bounded sketch state, partial-aggregated
    map-side), then assign bins with a chain of threshold comparisons
    — a narrow map over the corpus; nothing but sketch state ever
    shuffles.

    The threshold pull is a bounded driver action (``n_bins - 1``
    doubles — same contract as IVF centroid seeding). Bin populations
    deviate from exact equal-count bins by at most the sketch rank
    error (1/``accuracy``) plus duplicate-value mass at the cut
    points; bin ORDER is exact, since thresholds are actual data
    values. rows-only vs the external oracle (sketch internals are
    engine-specific); the population error band is locked in
    tests/test_features.py.
    """
    qs = [i / n_bins for i in range(1, n_bins)]
    thresholds = df.agg(
        F.percentile_approx(F.col(score_col), qs, accuracy).alias("_t")
    ).collect()[0]["_t"]
    bin_expr: Column = F.lit(1)
    for t in thresholds:
        bin_expr = bin_expr + (F.col(score_col) > F.lit(t)).cast("int")
    return df.withColumn(out_col, bin_expr)


def minmax_scale(
    df: DataFrame,
    value_col: str,
    group_col: str | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Min-max normalization of ``value_col`` to [0, 1], optionally per
    ``group_col`` — feature conditioning before clustering / training.

    Plan: one partial-aggregated min/max pass (tiny result: one row,
    or one per group), broadcast back onto the table — the big side
    never shuffles, unlike a window formulation (MIN() OVER
    (PARTITION BY group)) which would shuffle every row. Degenerate
    groups (max == min) map to 0.5, mirrored in the oracle SQL.

    The scale expression is (x - min) / (max - min) on doubles: three
    IEEE ops with exact min/max inputs, so results are
    bit-deterministic and oracle-checkable.

    Grouped calls are EAGER: the :func:`_stats_join` cardinality
    probe runs one aggregation job at construction time, and past
    ``BROADCAST_GROUP_LIMIT`` distinct groups the broadcast degrades
    to a plain shuffle join instead of a driver OOM.
    """
    out_col = out_col or f"{value_col}_scaled"
    v = F.col(value_col).cast("double")
    if group_col is None:
        bounds = df.agg(
            F.min(v).alias("_mn"), F.max(v).alias("_mx")
        )
    else:
        bounds = df.groupBy(group_col).agg(
            F.min(v).alias("_mn"), F.max(v).alias("_mx")
        )
    joined = _stats_join(df, bounds, group_col)
    scaled = F.when(F.col("_mx") == F.col("_mn"), F.lit(0.5)).otherwise(
        (v - F.col("_mn")) / (F.col("_mx") - F.col("_mn"))
    )
    return joined.withColumn(out_col, scaled).drop("_mn", "_mx")


def standardize(
    df: DataFrame,
    value_col: str,
    group_col: str | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Z-score standardization of ``value_col`` — (x − mean) / stddev,
    optionally per ``group_col``. The mean/variance come from EXACT
    DECIMAL(18,6) sums (n, Σx, Σx²), so the derived doubles are
    bit-deterministic regardless of aggregation order (the same trick
    as relational.grouped_corr): mean = Σx/n, sample variance =
    (Σx² − (Σx)²/n) / (n−1), then one sqrt and one division per row —
    a fixed IEEE op sequence an external SQL engine reproduces
    bit-for-bit.

    Plan shape mirrors minmax_scale: one partial-aggregated moments
    pass (one row per group), broadcast back onto the table — the big
    side never shuffles. Degenerate groups (stddev 0 or n = 1) map to
    0.0, mirrored in the oracle. Nulls pass through as null.

    Grouped calls are EAGER: the :func:`_stats_join` cardinality
    probe runs one aggregation job at construction time, and past
    ``BROADCAST_GROUP_LIMIT`` distinct groups the broadcast degrades
    to a plain shuffle join instead of a driver OOM.
    """
    out_col = out_col or f"{value_col}_z"
    dv = F.col(value_col).cast("decimal(19,4)")
    aggs = [
        F.count(F.col(value_col)).alias("_n"),
        F.sum(dv).alias("_sx"),
        F.sum(dv * dv).alias("_sxx"),
    ]
    if group_col is None:
        moments = df.agg(*aggs)
    else:
        moments = df.groupBy(group_col).agg(*aggs)
    joined = _stats_join(df, moments, group_col)
    n = F.col("_n").cast("double")
    sx = F.col("_sx").cast("double")
    sxx = F.col("_sxx").cast("double")
    mean = sx / n
    var = (sxx - sx * sx / n) / (n - F.lit(1.0))
    z = F.when(
        (F.col("_n") <= 1) | (var <= 0.0), F.lit(0.0)
    ).otherwise((F.col(value_col).cast("double") - mean) / F.sqrt(var))
    return joined.withColumn(out_col, z).drop("_n", "_sx", "_sxx")


def robust_scale(
    df: DataFrame,
    value_col: str,
    group_col: str | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Median/IQR robust scaling — (x − median) / (p75 − p25),
    optionally per group. The outlier-insensitive sibling of
    :func:`standardize`: one extreme value shifts a mean/stddev scaler
    arbitrarily but moves the median and quartiles at most one rank.

    The quartiles come from Spark's exact interpolated ``percentile``
    aggregate, whose formula matches external engines' quantile_cont
    bit-for-bit (the q_quantiles parity result); like minmax_scale the
    tiny per-group quartile table broadcasts back, so the fact side
    never shuffles. Degenerate groups (IQR 0) map to 0.0. At corpus
    scale the exact percentile's per-group sort state is the cost —
    swap in percentile_approx (same shape, sketch state) when groups
    exceed ~10^8 rows and rank-exactness stops mattering.

    Grouped calls are EAGER: the :func:`_stats_join` cardinality
    probe runs one aggregation job at construction time, and past
    ``BROADCAST_GROUP_LIMIT`` distinct groups the broadcast degrades
    to a plain shuffle join instead of a driver OOM.
    """
    out_col = out_col or f"{value_col}_robust"
    aggs = [
        F.expr(f"percentile({value_col}, 0.25)").alias("_p25"),
        F.expr(f"percentile({value_col}, 0.5)").alias("_p50"),
        F.expr(f"percentile({value_col}, 0.75)").alias("_p75"),
    ]
    if group_col is None:
        quart = df.agg(*aggs)
    else:
        quart = df.groupBy(group_col).agg(*aggs)
    joined = _stats_join(df, quart, group_col)
    iqr = F.col("_p75") - F.col("_p25")
    scaled = F.when(iqr <= 0.0, F.lit(0.0)).otherwise(
        (F.col(value_col).cast("double") - F.col("_p50")) / iqr
    )
    return joined.withColumn(out_col, scaled).drop("_p25", "_p50", "_p75")


def impute(
    df: DataFrame,
    value_col: str,
    strategy: str = "mean",
    group_col: str | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Missing-value imputation: replace nulls in ``value_col`` with
    the column's (or group's) mean or median — the standard
    preprocessing step before models that cannot consume nulls.
    ``strategy``: "mean" (exact DECIMAL-sum mean, bit-deterministic)
    or "median" (exact interpolated percentile, the q_quantiles parity
    result). Groups whose statistic is itself null (all-null groups)
    leave the null in place — silently inventing a 0 would bias
    downstream.

    Same broadcast shape as the scalers: one tiny aggregate joined
    back, the fact side never shuffles.

    Grouped calls are EAGER: the :func:`_stats_join` cardinality
    probe runs one aggregation job at construction time, and past
    ``BROADCAST_GROUP_LIMIT`` distinct groups the broadcast degrades
    to a plain shuffle join instead of a driver OOM.
    """
    out_col = out_col or f"{value_col}_imputed"
    if strategy == "mean":
        stat = (
            F.sum(F.col(value_col).cast("decimal(19,4)")).cast("double")
            / F.count(F.col(value_col)).cast("double")
        ).alias("_fill")
    elif strategy == "median":
        stat = F.expr(f"percentile({value_col}, 0.5)").alias("_fill")
    else:
        raise ValueError(f"unknown strategy {strategy!r}: mean|median")
    if group_col is None:
        fills = df.agg(stat)
    else:
        fills = df.groupBy(group_col).agg(stat)
    joined = _stats_join(df, fills, group_col)
    return joined.withColumn(
        out_col,
        F.coalesce(F.col(value_col).cast("double"), F.col("_fill")),
    ).drop("_fill")


def one_hot(
    df: DataFrame,
    category_col: str,
    categories: list[str],
    prefix: str | None = None,
) -> DataFrame:
    """Fixed-vocabulary one-hot encoding: one 0/1 column per listed
    category (narrow map, zero shuffle, fully codegen). The vocabulary
    is EXPLICIT — the caller pins it, so train/serve schemas never
    drift with the data (the silent failure of inferred-vocabulary
    encoders); values outside it encode as all-zeros. Nulls also
    encode all-zeros."""
    prefix = prefix if prefix is not None else category_col
    cols = [
        F.when(F.col(category_col) == F.lit(c), F.lit(1))
        .otherwise(F.lit(0))
        .alias(f"{prefix}_{c}")
        for c in categories
    ]
    return df.select("*", *cols)


def label_future_event(
    events: DataFrame,
    target: Column,
    id_col: str = "user_id",
    day_col: str = "day",
    horizon: int = 7,
    label_col: str = "label",
) -> DataFrame:
    """Forward-looking training labels: for every (entity, day) with
    activity, does a target event (``target`` — any boolean Column
    over the event row) occur within the NEXT ``horizon`` days? The
    churn/conversion label-join every supervised pipeline needs,
    expressed without a self-join: aggregate to one row per (entity,
    day), then ONE RANGE-frame window (1 FOLLOWING .. horizon
    FOLLOWING over the integer day) takes the max target flag — so
    the plan is a single shuffle keyed on the entity, bounded frame
    state, and no event×event pair blowup.

    The label only sees days on which the entity has SOME event —
    correct by construction here because the target is itself an
    event (its day is present in the grid). Output: (id, day,
    has_target, label) with ``label`` = 1 iff the target fires in
    (day, day+horizon].
    """
    # COALESCE: a day whose every event has a NULL target predicate
    # (e.g. NULL event_type) must flag 0, not NULL — max() ignores
    # nulls and returns NULL on an all-null group
    daily = events.groupBy(
        F.col(id_col), F.col(day_col).cast("long").alias(day_col)
    ).agg(
        F.coalesce(F.max(target.cast("int")), F.lit(0)).alias(
            "has_target"
        )
    )
    w = (
        Window.partitionBy(id_col)
        .orderBy(F.col(day_col).asc())
        .rangeBetween(1, horizon)
    )
    return daily.select(
        id_col,
        day_col,
        "has_target",
        F.coalesce(F.max("has_target").over(w), F.lit(0)).alias(
            label_col
        ),
    )


def quantile_normalize(
    df: DataFrame,
    value_col: str,
    tiebreak_col: str | None = None,
    out_col: str = "q_uniform",
) -> DataFrame:
    """Rank-based quantile normalization to (0, 1): each row maps to
    (row_number − 0.5) / n over the global (value, tiebreak) order —
    the heavy-tail-robust feature transform (uniformized scores feed
    curriculum schedules and calibration layers; Φ⁻¹ of the output
    gives the gaussianized variant).

    Same single-task-sort caveat as :func:`ntile_bins` (this exact
    variant is the oracle baseline; past ~10^8 rows switch to
    percentile_approx cut points). ``n`` comes from an unbounded
    COUNT window over the same sort — no second scan, no driver
    round-trip. ``tiebreak_col`` makes the order total so the
    normalized values are bit-deterministic cross-engine; (r−0.5)/n
    is two exact-integer-derived doubles and one division, identical
    in any engine."""
    order = [F.col(value_col).asc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).asc())
    w = Window.orderBy(*order)
    w_all = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    rn = F.row_number().over(w).cast("double")
    n = F.count(F.lit(1)).over(w_all).cast("double")
    return df.withColumn(out_col, (rn - F.lit(0.5)) / n)


def winsorize(
    df: DataFrame,
    value_col: str,
    lower: float = 0.05,
    upper: float = 0.95,
    group_col: str | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Winsorization: clip ``value_col`` at the exact interpolated
    [lower, upper] quantiles, optionally per group — the heavy-tail
    guard before mean-based aggregation or scaling. Exact
    ``percentile()`` matches DuckDB ``quantile_cont`` bit-for-bit
    (recorded determinism rule), so clipped values are
    oracle-checkable; at corpus scale swap ``percentile_approx`` cut
    points (same plan shape). One tiny quantile aggregation broadcast
    back (see :func:`_stats_join`); the fact side never shuffles."""
    out_col = out_col or f"{value_col}_w"
    v = F.col(value_col).cast("double")
    aggs = [
        F.percentile(v, F.lit(lower)).alias("_qlo"),
        F.percentile(v, F.lit(upper)).alias("_qhi"),
    ]
    if group_col is None:
        stats = df.agg(*aggs)
    else:
        stats = df.groupBy(group_col).agg(*aggs)
    joined = _stats_join(df, stats, group_col)
    clipped = F.when(v < F.col("_qlo"), F.col("_qlo")).when(
        v > F.col("_qhi"), F.col("_qhi")
    ).otherwise(v)
    return joined.withColumn(out_col, clipped).drop("_qlo", "_qhi")


def target_encode(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    smoothing: float = 20.0,
    leave_one_out: bool = False,
    out_col: str | None = None,
) -> DataFrame:
    """Smoothed target (mean) encoding of a categorical column — the
    high-cardinality-categorical workhorse: each category maps to
    (Σy_c + m·prior) / (n_c + m) with the global mean as prior, so
    rare categories shrink toward the prior instead of memorizing
    noise. ``leave_one_out=True`` excludes the ROW'S OWN target from
    its encoding ((Σy_c − y_i + m·prior)/(n_c − 1 + m)) — the
    leakage-safe variant for encoding the training split itself.

    All sums are exact DECIMAL(19,4), so the category table is
    deterministic; the final arithmetic runs in double mirroring the
    oracle op-for-op. One category aggregation broadcast back (same
    shape and eager probe as the scaler family — fact side
    never shuffles) plus one 1-row global-prior broadcast; LOO is a
    pure per-row expression on top, no second shuffle. Null targets
    are excluded from the statistics and encode to the prior (or the
    category posterior), never poison Σy."""
    out_col = out_col or f"{cat_col}_enc"
    y = F.col(target_col).cast("decimal(19,4)")
    glob = df.where(F.col(target_col).isNotNull()).agg(
        F.count(F.lit(1)).alias("_gn"),
        F.sum(y).cast("double").alias("_gs"),
    )
    stats = (
        df.where(F.col(target_col).isNotNull())
        .groupBy(cat_col)
        .agg(
            F.count(F.lit(1)).alias("_cn"),
            F.sum(y).cast("double").alias("_cs"),
        )
    )
    # LEFT join: a category whose targets are all NULL (or a NULL
    # category) has no stats row — its rows must SURVIVE and encode to
    # the prior via the coalesce below, not silently drop (review r6).
    joined = _stats_join(
        df.crossJoin(F.broadcast(glob)),
        stats,
        cat_col,
        how="left",
    )
    prior = F.col("_gs") / F.col("_gn").cast("double")
    m = F.lit(float(smoothing))
    if leave_one_out:
        yv = F.col(target_col).cast("double")
        own = F.when(F.col(target_col).isNotNull(), yv).otherwise(
            F.lit(0.0)
        )
        own_n = F.col(target_col).isNotNull().cast("int").cast("double")
        enc = (F.col("_cs") - own + m * prior) / (
            F.col("_cn").cast("double") - own_n + m
        )
    else:
        enc = (F.col("_cs") + m * prior) / (
            F.col("_cn").cast("double") + m
        )
    enc = F.coalesce(enc, prior)
    return joined.withColumn(out_col, enc).drop(
        "_gn", "_gs", "_cn", "_cs"
    )


def rolling_median(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col: str,
    window: int = 5,
    out_col: str = "roll_median",
) -> DataFrame:
    """Per-key trailing-window EXACT median (ROWS frame, last
    ``window`` rows including current) — the robust twin of
    rolling_features' mean: spike-insensitive baselines for anomaly
    scoring and smoothing. Exact interpolated percentile over the
    frame (Spark ``percentile`` == DuckDB ``quantile_cont``
    bit-for-bit, the recorded rule), ONE window shuffle, frame state
    bounded at ``window`` rows. ``order_cols`` must total-order each
    key (pass a tiebreaker). For very wide windows at corpus scale,
    swap percentile_approx — same plan shape."""
    w = (
        Window.partitionBy(key_col)
        .orderBy(*[F.col(c).asc() for c in order_cols])
        .rowsBetween(-(window - 1), 0)
    )
    med = F.percentile(F.col(value_col).cast("double"), F.lit(0.5)).over(w)
    return df.withColumn(out_col, med)


def feature_hash(
    df: DataFrame,
    cols: list[str],
    n_features: int = 8,
    id_col: str | None = None,
    prefix: str = "fh_",
) -> DataFrame:
    """The hashing trick (Weinberger et al., ICML 2009): encode
    arbitrary-cardinality categorical columns into a FIXED
    ``n_features``-wide numeric vector with no vocabulary, no fit
    step, and no train/serve skew — bucket = hash(col:=value) mod m,
    sign = ± from an independent hash bit, output[b] = Σ signs. The
    no-state property is what makes it the default categorical
    encoder for streaming and 100 TB pipelines (one-hot needs a fitted
    vocabulary broadcast; this needs nothing).

    Pure narrow expressions on the engine's portable md5 hash
    (curation.md5_band60 — the ONE shared recipe definition; any
    engine recomputes the exact buckets and signs), emitted as dense
    integer columns ``{prefix}0 .. {prefix}{m-1}`` summed in fixed
    column-list order. NULL values contribute nothing. The hash is
    materialized ONCE per input column in an intermediate projection
    — inlining it into every bucket's CASE would cost
    2·n_features md5 evaluations per column per row (conditional
    branches defeat common-subexpression elimination)."""
    from h3_indexer_spark.operators.curation import md5_band60

    if not cols:
        raise ValueError("cols must be non-empty")
    if n_features < 1:
        raise ValueError("n_features must be >= 1")
    keep = [id_col] if id_col else list(cols)
    hashed = df.select(
        *[F.col(c) for c in dict.fromkeys(keep + list(cols))],
        *[
            md5_band60(c + ":", F.col(c).cast("string")).alias(
                f"_fh_h_{i}"
            )
            for i, c in enumerate(cols)
        ],
    )
    outs = []
    for b in range(n_features):
        acc = F.lit(0)
        for i, c in enumerate(cols):
            h = F.col(f"_fh_h_{i}")
            bucket = h % F.lit(n_features)
            # sign bit from a hash bit OUTSIDE the bucket range
            sign = F.when(
                F.shiftright(h, 40) % 2 == 0, F.lit(1)
            ).otherwise(F.lit(-1))
            acc = acc + F.when(
                F.col(c).isNotNull() & (bucket == b), sign
            ).otherwise(F.lit(0))
        outs.append(acc.cast("int").alias(f"{prefix}{b}"))
    return hashed.select(*[F.col(c) for c in keep], *outs)


def embedding_quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "q",
    scale_col: str = "scale",
) -> DataFrame:
    """Symmetric per-vector int8 quantization of a float embedding
    column — the standard 4× shrink for ANN index storage and
    transfer (FAISS SQ8 / scalar quantization): scale = max|x|/127,
    q_i = floor(x_i / scale) ∈ [−128, 127]. Appends ``out_col``
    (array<int>) and ``scale_col`` (double); the dequantized value is
    q_i·scale with ≤ scale/2-ish absolute error, preserving cosine
    neighborhoods for re-rankable recall.

    floor (not round-half-even) per the cross-engine truncation
    recipe: CAST of a negative half rounds differently across
    engines, FLOOR is identical everywhere. All-zero vectors keep
    ``scale`` = 0 and quantize to zeros (guarded division). A pure
    narrow map — elements widen float→double before any arithmetic
    so the scale division is the same IEEE op in any engine; no
    shuffle, no Python."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = (amax / F.lit(127.0)).alias(scale_col)
    q = F.when(
        amax > 0,
        F.transform(
            v, lambda x: F.floor(x / (amax / F.lit(127.0))).cast("int")
        ),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return df.withColumn(scale_col, scale).withColumn(out_col, q)
