#!/usr/bin/env python
"""End-to-end incremental-maintenance walkthrough: the nightly shape a
100 TB keyed corpus actually runs, composed from the engine's CDC
primitives —

  1. snapshot_diff       classify yesterday→today changes (ONE
                         full-outer join; cost ∝ table, run once)
  2. merge_by_key        maintain the serving table from the change
                         set (delete vectors)
  3. update_grouped_sum  maintain the per-group aggregate from the
                         SAME diff (cost ∝ |changes|, bit-identical
                         to a full recompute — asserted below)

Bucketing the serving table on the key at write time
(DataFrameWriter.bucketBy) makes step 2 Exchange-free.

Run: python examples/cdc_pipeline.py  (uses sf0.001 testdata)
"""

from __future__ import annotations

import sys
from pathlib import Path

_REPO_ROOT = str(Path(__file__).resolve().parent.parent)
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

SF_DIR = "/root/testdata/sf0.001"


def main() -> None:
    from pyspark.sql import functions as F

    from h3_indexer_spark.operators.relational import (
        finalize_grouped_sum,
        grouped_sum_state,
        merge_by_key,
        snapshot_diff,
        update_grouped_sum,
    )
    from h3_indexer_spark.session import get_spark_session

    spark = get_spark_session(app_name="cdc_pipeline_example")
    spark.sparkContext.setLogLevel("ERROR")

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    # yesterday / today snapshots (synthetic churn: deletes, price
    # corrections, status migrations, inserts)
    old = orders.where(F.col("o_orderkey") % 7 != 0)
    new = (
        orders.where(F.col("o_orderkey") % 5 != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 3 == 0,
                F.col("o_totalprice") + F.lit(1.0),
            ).otherwise(F.col("o_totalprice")),
        )
        .withColumn(
            "o_orderstatus",
            F.when(F.col("o_orderkey") % 11 == 0, F.lit("X")).otherwise(
                F.col("o_orderstatus")
            ),
        )
    )

    # 1. classify the churn
    diff = snapshot_diff(
        old, new, ["o_orderkey"], ["o_orderstatus", "o_totalprice"]
    )
    print("change set:")
    diff.groupBy("status").count().orderBy("status").show()

    # 2. maintain the serving table: turn the diff into a merge source
    src = diff.select(
        "o_orderkey",
        F.coalesce("new_o_orderstatus", "old_o_orderstatus").alias(
            "o_orderstatus"
        ),
        F.coalesce("new_o_totalprice", "old_o_totalprice").alias(
            "o_totalprice"
        ),
        (F.col("status") == "removed").alias("deleted"),
    )
    served = merge_by_key(old, src, ["o_orderkey"], delete_col="deleted")
    n_served, n_new = served.count(), new.count()
    assert n_served == n_new, (n_served, n_new)
    print(f"served table maintained: {n_served} rows == new snapshot")

    # 3. maintain the aggregate from the SAME diff — and prove it
    #    equals the recompute
    state = grouped_sum_state(old, "o_orderstatus", "o_totalprice")
    maintained = finalize_grouped_sum(
        update_grouped_sum(state, diff, "o_orderstatus", "o_totalprice")
    )
    recomputed = finalize_grouped_sum(
        grouped_sum_state(new, "o_orderstatus", "o_totalprice")
    )
    m = {r["o_orderstatus"]: (r["n_rows"], r["sum_v"]) for r in maintained.collect()}
    r = {r["o_orderstatus"]: (r["n_rows"], r["sum_v"]) for r in recomputed.collect()}
    assert m == r, (m, r)
    print("maintained aggregate == full recompute (bit-exact):")
    maintained.orderBy("o_orderstatus").show()


if __name__ == "__main__":
    main()
