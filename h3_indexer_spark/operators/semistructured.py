"""Semi-structured (JSON) column operators.

Event streams and crawl metadata carry JSON payload columns
(`events.props` in the driver fixtures); at 100 TB the only viable
extraction path is Spark's native JSON expressions (`from_json`,
`get_json_object`) — JVM-side, codegen-friendly, schema-on-read with
explicit schemas so the plan never runs a sampling pass over the data
to infer one (schema inference is a full extra scan, never acceptable
at scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def json_field_stats(
    df: DataFrame,
    json_col: str,
    field: str,
    field_type: str = "int",
    group_col: str | None = None,
) -> DataFrame:
    """Aggregate statistics of one JSON field, optionally grouped.

    Extraction stays inside the aggregation's child projection, so
    Catalyst prunes the scan to (json_col, group_col) and the parse
    runs exactly once per row inside whole-stage codegen; the shuffle
    carries only partial aggregates. Output: (group?, n, n_present,
    min_v, max_v, sum_v).
    """
    v = F.from_json(F.col(json_col), f"{field} {field_type}")[field]
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.count(v).alias("n_present"),
        F.min(v).alias("min_v"),
        F.max(v).alias("max_v"),
        F.sum(v).alias("sum_v"),
    ]
    if group_col is None:
        return df.agg(*aggs)
    return df.groupBy(group_col).agg(*aggs)
