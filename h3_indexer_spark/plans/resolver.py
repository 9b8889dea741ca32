"""Resolve stage (parity: reference h3_resolver.py:45-160).

Per input: join the attribute columns back by unique id, weight each by
``ratio``, and group-sum per ``h3_index`` (A1, the resolver kernel).
Then full-outer-join all per-input tables on ``h3_index`` into one wide
row per cell and re-derive the cell metadata columns.

Output contract (reference README.md:344-357): ``h3_index,
h3_resolution, h3_r3_parent, h3_area_km2, sum_<col>...``.

Scale notes:
- the attribute join probes the (much larger) exploded index table with
  the original input as build side — broadcast when small, AQE
  skew-join otherwise;
- every per-input aggregation and the full-outer chain share the
  ``h3_index`` key, so Catalyst reuses one hash partitioning across the
  whole stage (one shuffle per input, no re-exchange between joins);
- cell metadata (area) is re-derived from the key via the memoized
  kernel UDF instead of being carried through the aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from h3_indexer_spark.config.job import Job, JobStatus
from h3_indexer_spark.config.vector import VectorTable
from h3_indexer_spark.constants import (
    H3_AREA_KM2,
    H3_INDEX,
    H3_R3_PARENT,
    H3_RESOLUTION,
    RATIO,
    SUM_PREFIX,
)
from h3_indexer_spark.functions.h3.sql import parent_expr
from h3_indexer_spark.functions.udfs import h3_area_km2_udf
from h3_indexer_spark.operators.relational import (
    full_outer_align,
    group_and_sum,
    join_left,
    repartition_by,
)


def resolve_input(vt: VectorTable) -> DataFrame:
    """One input's resolved table: (h3_index, sum_<col>...) —
    J2 → P3 → A1 (reference h3_resolver.py:101-135)."""
    if vt.h3_indexed_df is None:
        raise ValueError(f"input '{vt.id}' has not been indexed")
    if vt.df is None:
        raise ValueError(f"input '{vt.id}' has not been validated")
    uid = vt.unique_id
    cols = vt.input_column_names
    indexed = vt.h3_indexed_df.select(H3_INDEX, uid, RATIO)
    attrs = vt.df.select(uid, *cols)
    joined = join_left(indexed, attrs, uid)
    weighted = joined.select(
        H3_INDEX,
        *[
            (F.col(c).cast("double") * F.col(RATIO)).alias(c)
            for c in cols
        ],
    )
    return group_and_sum(weighted, H3_INDEX, cols, prefix=SUM_PREFIX)


def _finalize(resolved: DataFrame, h3_resolution: int) -> DataFrame:
    sum_cols = [c for c in resolved.columns if c.startswith(SUM_PREFIX)]
    return (
        resolved.withColumn(H3_RESOLUTION, F.lit(h3_resolution))
        .withColumn(H3_R3_PARENT, parent_expr(H3_INDEX, 3))
        .withColumn(H3_AREA_KM2, h3_area_km2_udf(F.col(H3_INDEX)))
        .select(H3_INDEX, H3_RESOLUTION, H3_R3_PARENT, H3_AREA_KM2, *sum_cols)
    )


def h3_resolver_spark(spark: SparkSession, job: Job) -> DataFrame:
    """Resolve plan: per-input aggregation then full-outer alignment on
    h3_index (J3, reference h3_resolver.py:45-160). With one input the
    alignment is that input's table, so the reference's single-input
    shortcut is the same plan."""
    per_input = [resolve_input(vt) for vt in job.inputs.values()]
    aligned = full_outer_align(per_input, H3_INDEX)
    return repartition_by(_finalize(aligned, job.h3_resolution), H3_R3_PARENT)


h3_resolver_single_input_spark = h3_resolver_spark


def resolve_job(job: Job, spark: SparkSession) -> Job:
    """Resolve stage driver (reference main.py:69-98)."""
    job.update_status(JobStatus.RUNNING_RESOLVER)
    job.set_h3_resolved_df(h3_resolver_spark(spark, job).persist())
    job.update_status(JobStatus.COMPLETED_RESOLVER)
    return job
