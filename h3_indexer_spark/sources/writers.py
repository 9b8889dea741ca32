"""Partitioned Parquet sink (SURVEY.md §2.1 S5).

Parity: reference ``spark/spark.py:154-196`` + call sites
``main.py:63-64,95-96`` — overwrite-mode snappy Parquet partitioned by
``(h3_resolution, h3_r3_parent)`` with ≤500k records per file (the
session's ``spark.sql.files.maxRecordsPerFile``, set in session.py).

Scale posture: the caller repartitions by the partition key first
(operators.relational.repartition_by), so each task owns few partition
directories and the sink emits large, well-sized files instead of a
small-files explosion (the classic failure of partitionBy at 1000
executors × 5000 partition values).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from h3_indexer_spark.constants import OUTPUT_PARTITION_COLS


def write_partitioned_parquet(df: DataFrame, path: str) -> None:
    (
        df.write.mode("overwrite")
        .option("compression", "snappy")
        .partitionBy(*OUTPUT_PARTITION_COLS)
        .parquet(path)
    )


def write_parquet(df: DataFrame, path: str) -> None:
    """Unpartitioned sink for intermediate artifacts."""
    df.write.mode("overwrite").option("compression", "snappy").parquet(path)


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 16,
    bits: int = 12,
) -> None:
    """Z-order-clustered Parquet layout for multi-dimensional data
    skipping (the OPTIMIZE ZORDER technique of lakehouse table
    formats, expressed with plain Spark + Parquet): rows are laid out
    along a Morton space-filling curve over ``cols`` so EVERY listed
    column's values are locally clustered within each output file —
    parquet footer min/max ranges tighten for all of them at once, and
    selective filters on ANY of the columns prune most files at scan
    time. (A plain sort clusters only its leading column; Z-order
    trades a little per-column tightness for pruning power on all
    dimensions.)

    Mechanics, all JVM-side O(1)-per-row expressions: one min/max
    aggregate over the frame (the only extra pass; its result is a
    single broadcast row), each column maps to a ``bits``-bit
    equal-width rank with ``width_bucket``, ranks interleave bitwise
    into the Morton key, and the frame repartitionByRange +
    local-sorts on that key into ``n_files`` range buckets — the same
    total cost shape as a global sort-write (one range shuffle).

    Rank resolution is ``bits`` per dimension (default 4096 buckets).
    Equal-width ranks are the right default for data skipping (file
    pruning compares VALUE ranges, which equal-width buckets keep
    uniform); under extreme value skew switch the rank source to
    quantile cut points (features.quantile_bins) so the curve spends
    its resolution where the data mass is. Nulls rank lowest."""
    import pyspark.sql.functions as F

    if not cols:
        raise ValueError("zorder_write needs at least one column")
    # the Morton key must fit the 62 non-sign bits of a long: JVM
    # shiftleft masks shift amounts mod 64, so an overflowing layout
    # would silently wrap high-order rank bits onto low positions
    # (and bit 63 would flip signed range ordering). Degrade rank
    # resolution instead of corrupting the curve.
    bits = min(bits, 62 // len(cols))
    if bits < 1:
        raise ValueError(
            f"zorder_write supports at most 62 dimensions; got "
            f"{len(cols)}"
        )
    n_buckets = 1 << bits
    bounds = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"_mn_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"_mx_{c}") for c in cols],
    ).collect()[0]
    rank_cols = []
    for c in cols:
        mn, mx = bounds[f"_mn_{c}"], bounds[f"_mx_{c}"]
        if mn is None or mx is None or mx <= mn:
            rank_cols.append(F.lit(0).cast("long"))
            continue
        r = F.when(F.col(c).isNull(), F.lit(0)).otherwise(
            F.least(
                F.lit(n_buckets - 1),
                F.width_bucket(
                    F.col(c).cast("double"),
                    F.lit(mn),
                    F.lit(mx),
                    F.lit(n_buckets),
                )
                - F.lit(1),
            )
        )
        rank_cols.append(r.cast("long"))
    # Morton interleave: bit b of rank d lands at position b*D + d
    z = F.lit(0).cast("long")
    for b in range(bits):
        for d, r in enumerate(rank_cols):
            bit = F.shiftrightunsigned(r, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * len(cols) + d))
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .option("compression", "snappy")
        .parquet(path)
    )
