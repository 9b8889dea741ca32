"""Resolve stage (parity: reference h3_resolver.py:45-160).

Per input: join the attribute columns back by unique id, weight each by
``ratio``, and group-sum per ``h3_index`` (A1, the resolver kernel).
Then full-outer-join all per-input tables on ``h3_index`` into one wide
row per cell and add the cell metadata columns.

Output contract (reference README.md:344-357): ``h3_index,
h3_resolution, h3_r3_parent, h3_area_km2, sum_<col>...``.

Scale notes:
- the attribute join probes the (much larger) exploded index table with
  the original input as build side — broadcast when small, AQE
  skew-join otherwise;
- every per-input aggregation and the full-outer chain share the
  ``h3_index`` key, so Catalyst reuses one hash partitioning across the
  whole stage (one shuffle per input, no re-exchange between joins);
- the cell area is the Index kernel's ``h3_area_km2``, carried through
  each input's aggregation (``max`` over rows of one cell, which all
  hold the same value) and coalesced across inputs after the
  alignment — the stage runs no Python.
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
from h3_indexer_spark.operators.relational import (
    full_outer_align,
    join_left,
    repartition_by,
)


def resolve_input(vt: VectorTable) -> DataFrame:
    """One input's resolved table: (h3_index, sum_<col>...,
    h3_area_km2) — J2 → P3 → A1 (reference h3_resolver.py:101-135).
    The area rides the aggregation as a value, never as a key: a cell
    indexed in two batches may differ in its last ulp."""
    if vt.h3_indexed_df is None:
        raise ValueError(f"input '{vt.id}' has not been indexed")
    if vt.df is None:
        raise ValueError(f"input '{vt.id}' has not been validated")
    uid = vt.unique_id
    cols = vt.input_column_names
    indexed = vt.h3_indexed_df.select(H3_INDEX, uid, RATIO, H3_AREA_KM2)
    attrs = vt.df.select(uid, *cols)
    joined = join_left(indexed, attrs, uid)
    weighted = joined.select(
        H3_INDEX,
        H3_AREA_KM2,
        *[
            (F.col(c).cast("double") * F.col(RATIO)).alias(c)
            for c in cols
        ],
    )
    return weighted.groupBy(H3_INDEX).agg(
        *[F.sum(c).alias(f"{SUM_PREFIX}{c}") for c in cols],
        F.max(H3_AREA_KM2).alias(H3_AREA_KM2),
    )


def h3_resolver_spark(spark: SparkSession, job: Job) -> DataFrame:
    """Resolve plan: per-input aggregation then full-outer alignment on
    h3_index (J3, reference h3_resolver.py:45-160). With one input the
    alignment is that input's table, so the reference's single-input
    shortcut is the same plan. A cell's area comes from whichever
    inputs cover it."""
    areas = [f"_{H3_AREA_KM2}_{i}" for i in range(len(job.inputs))]
    per_input = [
        resolve_input(vt).withColumnRenamed(H3_AREA_KM2, area)
        for vt, area in zip(job.inputs.values(), areas)
    ]
    aligned = full_outer_align(per_input, H3_INDEX)
    sum_cols = [c for c in aligned.columns if c.startswith(SUM_PREFIX)]
    resolved = (
        aligned.withColumn(H3_RESOLUTION, F.lit(job.h3_resolution))
        .withColumn(H3_R3_PARENT, parent_expr(H3_INDEX, 3))
        .withColumn(H3_AREA_KM2, F.coalesce(*[F.col(a) for a in areas]))
        .select(H3_INDEX, H3_RESOLUTION, H3_R3_PARENT, H3_AREA_KM2, *sum_cols)
    )
    return repartition_by(resolved, H3_R3_PARENT)


h3_resolver_single_input_spark = h3_resolver_spark


def resolve_job(job: Job, spark: SparkSession) -> Job:
    """Resolve stage driver (reference main.py:69-98)."""
    job.update_status(JobStatus.RUNNING_RESOLVER)
    job.set_h3_resolved_df(h3_resolver_spark(spark, job).persist())
    job.update_status(JobStatus.COMPLETED_RESOLVER)
    return job
