"""Temporal join operators Spark lacks natively: as-of join and range
(interval) join, built as compositions of existing DataFrame ops
(SURVEY.md §2.8; the reference has neither — these close the category
gap for time-series / training-data pipelines).

Scale notes (100 TB):
- ``asof_join`` is ONE shuffle (the window partition by key): both
  sides union and sort once; the match is a running last-value
  carry-forward, so no row explosion and no range self-join. Skewed
  keys cost what any window does; salt upstream if a single key
  dominates.
- ``range_join`` turns the non-equi predicate into an equi-join on a
  bucket id (intervals explode to the buckets they cover), so Catalyst
  can hash/broadcast it and AQE handles skewed buckets. Without this,
  Spark plans inequality joins as BroadcastNestedLoop — O(n·m).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_SIDE = "_asof_side"
_MATCH_TS = "_asof_match_ts"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    ts_col: str,
    value_cols: list[str],
    tolerance: int | float | None = None,
    tiebreak: str | None = None,
) -> DataFrame:
    """Backward as-of join: for each left row, attach the ``value_cols``
    of the latest right row with the same ``on`` key and right.ts ≤
    left.ts (ties at equal ts match). Attached columns are named
    ``asof_<col>``; unmatched left rows get nulls. ``tolerance`` (same
    units as ``ts_col``) drops matches older than ``left.ts -
    tolerance``. ``tiebreak``: right-side column ordering multiple
    right rows at identical (key, ts) — the greatest wins.

    Implementation: tag sides, union, and carry ONE struct of (right
    ts, all right values) forward with ``last(..., ignorenulls=True)``
    over a (key, ts) window — the standard single-shuffle formulation.
    Carrying the whole struct (null only for left rows) guarantees the
    attached values and the matched timestamp always come from the SAME
    latest right row: a right row whose value column is NULL attaches
    NULL rather than silently resurfacing an older row's value.
    """
    renamed = [F.col(c).alias(f"_r_{c}") for c in value_cols]
    order: list[Column] = [F.col(ts_col).asc(), F.col(_SIDE).asc()]
    tb = F.lit(0) if tiebreak is None else F.col(tiebreak)
    r_cols = [*on, ts_col, tb.alias("_tb"), *renamed]
    r = right.select(*r_cols).withColumn(_SIDE, F.lit(0))
    l = left.withColumn(_SIDE, F.lit(1))
    u = l.unionByName(r, allowMissingColumns=True)
    # right rows sort before left at equal ts (side 0 < 1) so equal-ts
    # matches are visible; among right rows, later tiebreak wins.
    w = (
        Window.partitionBy(*on)
        .orderBy(*order, F.col("_tb").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carry = "_asof_carry"
    out = u.withColumn(
        carry,
        F.last(
            F.when(
                F.col(_SIDE) == 0,
                F.struct(
                    F.col(ts_col).alias(_MATCH_TS),
                    *[F.col(f"_r_{c}").alias(c) for c in value_cols],
                ),
            ),
            ignorenulls=True,
        ).over(w),
    ).where(F.col(_SIDE) == 1)
    in_tol = (
        F.lit(True)
        if tolerance is None
        else F.col(ts_col) - F.col(f"{carry}.{_MATCH_TS}")
        <= F.lit(tolerance)
    )
    for c in value_cols:
        out = out.withColumn(
            f"asof_{c}", F.when(in_tol, F.col(f"{carry}.{c}"))
        )
    drop = [_SIDE, carry, "_tb", *[f"_r_{c}" for c in value_cols]]
    return out.drop(*drop)


def range_join(
    fact: DataFrame,
    intervals: DataFrame,
    value_col: str,
    lo_col: str,
    hi_col: str,
    bucket_width: float,
    how: str = "inner",
) -> DataFrame:
    """Join fact rows to the intervals containing them:
    ``lo <= fact.value < hi`` — as an equi-join on a bucket id.

    Each interval explodes to every bucket of ``bucket_width`` it
    overlaps; facts map to one bucket; the equi-join then only pairs
    rows whose ranges can overlap, and the exact predicate filters the
    boundary buckets. Pick ``bucket_width`` near the typical interval
    length: shorter → more interval replication; longer → more
    false-pair filtering.

    The interval side is always the broadcast build side: interval
    tables often come from literals/collected configs whose stats
    Catalyst doesn't know, and without the hint it can pick the FACT
    side to broadcast — fatal at scale.
    """
    bkt_f, bkt_i = "_range_bucket_f", "_range_bucket_i"
    f = fact.withColumn(
        bkt_f, F.floor(F.col(value_col) / F.lit(bucket_width))
    )
    iv = intervals.withColumn(
        bkt_i,
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / F.lit(bucket_width)),
                F.floor(F.col(hi_col) / F.lit(bucket_width)),
            )
        ),
    )
    # the exact range predicate lives IN the join condition, not a
    # post-join filter: a filter after an outer join would discard the
    # null-extended rows and silently degenerate how='left' to inner
    cond = (
        (F.col(bkt_f) == F.col(bkt_i))
        & (F.col(value_col) >= F.col(lo_col))
        & (F.col(value_col) < F.col(hi_col))
    )
    return f.join(F.broadcast(iv), cond, how).drop(bkt_f, bkt_i)


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    l_lo: str,
    l_hi: str,
    r_lo: str,
    r_hi: str,
    bucket_width: float,
) -> DataFrame:
    """Join interval PAIRS that overlap: ``l_lo < r_hi AND r_lo <
    l_hi`` (half-open) — the temporal generalization of
    :func:`range_join` from point-in-interval to interval-vs-interval
    (concurrent sessions, downtime attribution, span reconciliation).

    Both sides explode to the ``bucket_width`` buckets they cover and
    equi-join on bucket id, so only co-bucketed intervals ever pair —
    never all-pairs. A pair spanning several shared buckets would
    surface once per bucket; instead of a distinct (an extra
    corpus-sized shuffle), the join condition pins each pair to its
    FIRST shared bucket — ``greatest(floor(l_lo/w), floor(r_lo/w))``
    — so every overlapping pair appears exactly once. The right side
    is the broadcast build side (a bounded window/calendar table).
    Inner join only: outer semantics over exploded replicas would
    null-extend per bucket.
    """
    bl, br = "_ov_bucket_l", "_ov_bucket_r"
    lf = left.withColumn(
        bl,
        F.explode(
            F.sequence(
                F.floor(F.col(l_lo) / F.lit(bucket_width)),
                F.floor(F.col(l_hi) / F.lit(bucket_width)),
            )
        ),
    )
    rt = right.withColumn(
        br,
        F.explode(
            F.sequence(
                F.floor(F.col(r_lo) / F.lit(bucket_width)),
                F.floor(F.col(r_hi) / F.lit(bucket_width)),
            )
        ),
    )
    cond = (
        (F.col(bl) == F.col(br))
        & (
            F.col(bl)
            == F.greatest(
                F.floor(F.col(l_lo) / F.lit(bucket_width)),
                F.floor(F.col(r_lo) / F.lit(bucket_width)),
            )
        )
        & (F.col(l_lo) < F.col(r_hi))
        & (F.col(r_lo) < F.col(l_hi))
    )
    return lf.join(F.broadcast(rt), cond, "inner").drop(bl, br)


def sessionize(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    gap: int | float,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Split each key's ordered events into sessions wherever the gap
    between consecutive events exceeds ``gap`` (same units as
    ``ts_col``). Adds a 0-based ``session_id`` per key.

    ONE shuffle (the window partition): a lag marks session starts, a
    running sum numbers them — the standard batch sessionization that
    needs no self-join. ``order_cols`` break ties at duplicate
    timestamps so the numbering is deterministic. Skewed keys cost
    what any window does.
    """
    order = [F.col(ts_col).asc()] + [
        F.col(c).asc() for c in (order_cols or [])
    ]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    prev = F.lag(ts_col).over(w)
    new_session = prev.isNull() | (F.col(ts_col) - prev > F.lit(gap))
    return df.withColumn(
        "session_id",
        F.sum(new_session.cast("long")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        - F.lit(1),
    )
