"""Smoke: the driver contract module works end-to-end."""

from __future__ import annotations

import pytest


def test_entry_runs(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert set(df.columns) == {
        "nationkey",
        "nation_name",
        "sum_cust_bal",
        "sum_supp_bal",
    }


def test_queries_and_oracles_consistent():
    import __spark_entry__ as e

    q = e.queries()
    o = e.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 20


@pytest.mark.slow
def test_no_array_columns_cross_contract_boundary(spark):
    """The driver's canonicalizer sorts rows by every column and dies
    on unhashable cells (CORRECTNESS_r03: q_approx_stats TypeError).
    No contract query may emit array/map/struct columns."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    import __spark_entry__ as e

    from tests.conftest import SF_SMALL

    bad = []
    for name, fn in e.queries().items():
        for f in fn(spark, SF_SMALL).schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType, StructType)):
                bad.append((name, f.name, f.dataType.simpleString()))
    assert not bad, f"complex-typed contract columns: {bad}"
