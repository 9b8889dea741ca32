"""Index stage (parity: reference h3_indexer.py:31-81 + routers).

Maps each validated feature onto the H3 cells it covers, with an
allocation ``ratio`` per (feature, cell) and a method-specific total
metric. Output contract (reference README.md:266-341):

    h3_index | h3_resolution | h3_r3_parent | h3_area_km2 | <unique_id>
    | ratio | total_count / total_length_km / total_area_km2

Spark-first design vs the reference:
- ONE narrow ``mapInPandas`` pass computes coverage + ratio + cell area
  per feature (reference: UDF explode → distinct → hex-WKT UDF → two
  joins → Sedona intersection expressions — three shuffles and a
  Python round-trip per stage). Per-cell geometry is memoized
  worker-side, which is the reference's distinct-trick without the
  shuffle.
- ``h3_r3_parent`` is native Catalyst bit arithmetic (sql.py), not a
  Python UDF.
- the persisted output is rebalanced on the partition key, so both
  Resolve and the partitioned sink read it clustered by
  ``h3_r3_parent`` and the 100 TB write produces large well-clustered
  files; AQE sizes that rebalance to the data (see
  :func:`~h3_indexer_spark.operators.relational.repartition_by`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from h3_indexer_spark.config.vector import (
    AllocationMethod,
    GeometryType,
    VectorTable,
)
from h3_indexer_spark.constants import (
    GEOM_WKT,
    H3_AREA_KM2,
    H3_INDEX,
    H3_R3_PARENT,
    H3_RESOLUTION,
    RATIO,
    TOTAL_AREA_KM2,
    TOTAL_COUNT,
    TOTAL_LENGTH_KM,
)
from h3_indexer_spark.functions.h3.sql import parent_expr
from h3_indexer_spark.functions.udfs import make_index_map_fn
from h3_indexer_spark.operators.relational import repartition_by

import pyspark.sql.functions as F

METRIC_COL_FOR_GEOMETRY = {
    GeometryType.POINT: TOTAL_COUNT,
    GeometryType.LINE: TOTAL_LENGTH_KM,
    GeometryType.POLYGON: TOTAL_AREA_KM2,
}


def h3_indexer_spark(
    input_config: VectorTable,
    h3_resolution: int,
    spark: SparkSession | None = None,
) -> DataFrame:
    """Build the (lazy) index plan for one input."""
    if input_config.df is None:
        raise ValueError("DataFrame must be initialized before H3 indexing")
    vt = input_config
    uid = vt.unique_id
    metric_col = METRIC_COL_FOR_GEOMETRY[vt.geometry_type]

    src = vt.df.select(uid, GEOM_WKT)
    uid_type = [f.dataType.simpleString() for f in src.schema.fields][0]
    out_schema = (
        f"{uid} {uid_type}, {H3_INDEX} string, {RATIO} double, "
        f"{metric_col} double, {H3_AREA_KM2} double"
    )
    indexed = src.mapInPandas(
        make_index_map_fn(
            uid, vt.geometry_type, vt.method, h3_resolution, metric_col
        ),
        schema=out_schema,
    )
    if vt.geometry_type == GeometryType.POINT:
        # reference emits total_count as an integer literal 1
        # (h3_indexer.py:140-141) and a ratio of exactly 1.0
        indexed = indexed.withColumn(metric_col, F.col(metric_col).cast("int"))

    indexed = (
        indexed.withColumn(H3_RESOLUTION, F.lit(h3_resolution))
        .withColumn(H3_R3_PARENT, parent_expr(H3_INDEX, 3))
        .select(
            H3_INDEX,
            H3_RESOLUTION,
            H3_R3_PARENT,
            H3_AREA_KM2,
            uid,
            RATIO,
            metric_col,
        )
    )
    # co-locate spatial neighbors for the partitioned write
    # (reference h3_indexer.py:78-79)
    return repartition_by(indexed, H3_R3_PARENT)


def index_job(job, spark: SparkSession):
    """Index every input (reference main.py:41-66): builds each plan,
    persists at the stage boundary, stores on the config object."""
    from h3_indexer_spark.config.job import JobStatus

    job.update_status(JobStatus.RUNNING_INDEXER)
    for name, vt in job.inputs.items():
        indexed = h3_indexer_spark(vt, job.h3_resolution, spark)
        vt.h3_indexed_df = indexed.persist()
    job.update_status(JobStatus.COMPLETED_INDEXER)
    return job
