"""Property-based tests for the round-10 debut operators vs
brute-force Python references on randomized inputs. Hypothesis
explores degenerate shapes the hand-written cases miss: all-violating
datasets, classes present only in predictions, NULL-heavy quasi keys,
single-class confusions."""

from __future__ import annotations

from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def spark():
    from h3_indexer_spark.session import get_spark_session

    s = get_spark_session(
        app_name="test_round10_props",
        master="local[4]",
        shuffle_partitions=4,
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


# tiny alphabets force collisions: many rows per quasi-class, classes
# that appear only as predictions, NULL quasi values
qi_rows = st.lists(
    st.tuples(
        st.sampled_from(["x", "y", None]),
        st.sampled_from([0, 1]),
    ),
    min_size=1,
    max_size=40,
)

label_pred_rows = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c"]),
        st.sampled_from(["a", "b", "z"]),
    ),
    min_size=1,
    max_size=40,
)

k_values = st.integers(min_value=2, max_value=8)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=qi_rows, k=k_values)
def test_k_anonymity_matches_reference(spark, rows, k):
    from h3_indexer_spark.operators.curation import k_anonymity_report

    df = spark.createDataFrame(
        [(a, b, i) for i, (a, b) in enumerate(rows)],
        "qa string, qb int, uid long",
    )
    got = {
        r["group_size"]: (r["n_groups"], r["n_rows"])
        for r in k_anonymity_report(df, ["qa", "qb"], k=k).collect()
    }
    sizes = Counter(Counter(rows).values())  # class size -> n classes
    want = {
        sz: (n, sz * n) for sz, n in sizes.items() if sz < k
    }
    assert got == want


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=label_pred_rows)
def test_classification_report_matches_reference(spark, rows):
    from h3_indexer_spark.operators.analytics import classification_report

    df = spark.createDataFrame(rows, "label string, pred string")
    got = {
        r["class"]: r.asDict()
        for r in classification_report(df, "label", "pred").collect()
    }
    classes = sorted({l for l, _ in rows} | {p for _, p in rows})
    assert sorted(got) == classes
    for c in classes:
        tp = sum(1 for l, p in rows if l == c and p == c)
        fp = sum(1 for l, p in rows if p == c and l != c)
        fn = sum(1 for l, p in rows if l == c and p != c)
        r = got[c]
        assert (r["n_true"], r["n_pred"], r["tp"], r["fp"], r["fn"]) == (
            tp + fn, tp + fp, tp, fp, fn
        )
        # ratios: one IEEE division of exact ints, rounded to 9
        if tp + fp:
            assert r["precision"] == round(tp / (tp + fp), 9)
        else:
            assert r["precision"] is None
        if tp + fn:
            assert r["recall"] == round(tp / (tp + fn), 9)
        else:
            assert r["recall"] is None
        if 2 * tp + fp + fn:
            assert r["f1"] == round(2 * tp / (2 * tp + fp + fn), 9)
        else:
            assert r["f1"] is None


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=label_pred_rows)
def test_classification_report_micro_identity(spark, rows):
    """Micro-average identity: summed tp equals the diagonal count,
    and summed fp == summed fn (every miss is exactly one class's fp
    and another's fn) — the internal consistency a confusion-matrix
    implementation cannot fake."""
    from h3_indexer_spark.operators.analytics import classification_report

    df = spark.createDataFrame(rows, "label string, pred string")
    agg = classification_report(df, "label", "pred").agg(
        F.sum("tp").alias("tp"),
        F.sum("fp").alias("fp"),
        F.sum("fn").alias("fn"),
        F.sum("n_true").alias("n_true"),
    ).collect()[0]
    diag = sum(1 for l, p in rows if l == p)
    assert agg["tp"] == diag
    assert agg["fp"] == agg["fn"] == len(rows) - diag
    assert agg["n_true"] == len(rows)
