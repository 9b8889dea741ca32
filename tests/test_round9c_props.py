"""Property-based tests for the round-9 continuation batch: the new
operators vs brute-force Python references on randomized inputs.
Hypothesis explores tie patterns, degenerate groups, negative flows,
and boundary-straddling files that the hand-written cases miss."""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.helpers import _kruskal_reference


@pytest.fixture(scope="module")
def spark():
    from h3_indexer_spark.session import get_spark_session

    s = get_spark_session(
        app_name="test_round9c_props",
        master="local[4]",
        shuffle_partitions=4,
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


# small integer value grids force heavy ties — the regime where
# midrank/tie-correction bugs live
grouped_values = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c"]),
        st.integers(min_value=0, max_value=6),
    ),
    min_size=6,
    max_size=40,
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=grouped_values)
def test_kruskal_matches_reference_on_ties(spark, rows):
    from h3_indexer_spark.operators.analytics import kruskal_wallis

    # need >= 2 non-empty groups for the statistic to mean anything
    groups = {}
    for g, v in rows:
        groups.setdefault(g, []).append(float(v))
    if len(groups) < 2:
        return
    df = spark.createDataFrame(
        [(g, float(v)) for g, v in rows], "g string, v double"
    )
    out = kruskal_wallis(df, "g", "v").collect()[0]
    h, ht = _kruskal_reference(list(groups.values()))
    assert out["k_groups"] == len(groups)
    assert out["n_total"] == len(rows)
    assert out["h_stat"] == pytest.approx(h, abs=1e-6)
    if ht is None:
        assert out["h_stat_tied"] is None
    else:
        assert out["h_stat_tied"] == pytest.approx(ht, abs=1e-6)


scored_rows = st.lists(
    st.tuples(
        st.booleans(),
        st.integers(min_value=0, max_value=5),  # tied scores
    ),
    min_size=1,
    max_size=30,
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=scored_rows)
def test_average_precision_matches_reference(spark, rows):
    from h3_indexer_spark.operators.analytics import average_precision

    df = spark.createDataFrame(
        [(y, float(s), i) for i, (y, s) in enumerate(rows)],
        "y boolean, s double, id long",
    )
    out = average_precision(df, "y", "s", "id").collect()[0]
    ranked = sorted(
        ((y, s, i) for i, (y, s) in enumerate(rows)),
        key=lambda t: (-t[1], t[2]),
    )
    cum = 0
    terms = []
    for k, (y, _, _) in enumerate(ranked, start=1):
        cum += int(y)
        if y:
            terms.append(cum / k)
    n_pos = sum(int(y) for y, _ in rows)
    assert out["n"] == len(rows)
    assert out["n_pos"] == n_pos
    if n_pos == 0:
        assert out["avg_precision"] is None
    else:
        assert out["avg_precision"] == pytest.approx(
            sum(terms) / n_pos, abs=1e-9
        )


flows_strategy = st.lists(
    st.integers(min_value=-500, max_value=500),
    min_size=1,
    max_size=30,
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(flows=flows_strategy)
def test_max_drawdown_matches_reference(spark, flows):
    import datetime

    from h3_indexer_spark.operators.analytics import max_drawdown

    base = datetime.date(2024, 1, 1)
    df = spark.createDataFrame(
        [
            (base + datetime.timedelta(days=i), float(f))
            for i, f in enumerate(flows)
        ],
        "d date, flow double",
    )
    out = max_drawdown(df, "d", "flow").collect()[0]
    cum, peak, maxdd, fracmax = 0, None, 0, None
    for f in flows:
        cum += f
        peak = cum if peak is None else max(peak, cum)
        maxdd = max(maxdd, peak - cum)
        if peak > 0:
            fr = (peak - cum) / peak
            fracmax = fr if fracmax is None else max(fracmax, fr)
    assert out["n_periods"] == len(flows)
    assert out["peak_equity"] == pytest.approx(float(peak), abs=1e-9)
    assert out["max_drawdown"] == pytest.approx(float(maxdd), abs=1e-9)
    if fracmax is None:
        assert out["max_drawdown_frac"] is None
    else:
        assert out["max_drawdown_frac"] == pytest.approx(
            fracmax, abs=1e-8
        )


files_strategy = st.lists(
    st.integers(min_value=1, max_value=300),  # file sizes
    min_size=1,
    max_size=25,
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(sizes=files_strategy)
def test_compaction_plan_next_fit_invariants(spark, sizes):
    """Next-fit guarantees: bins cover a contiguous id range in order,
    byte totals are conserved, and cumulative bytes through every
    non-final bin reach (bin+1)·target — i.e. a new bin opens only
    once the previous target boundary is crossed."""
    from h3_indexer_spark.operators.relational import compaction_plan

    target = 100
    df = spark.createDataFrame(
        [("p", i, s) for i, s in enumerate(sizes)],
        "src string, fid long, sz long",
    )
    out = sorted(
        compaction_plan(df, "src", "fid", "sz", target).collect(),
        key=lambda r: r["bin"],
    )
    assert sum(r["total_bytes"] for r in out) == sum(sizes)
    assert sum(r["n_files"] for r in out) == len(sizes)
    # contiguous, ordered id ranges
    prev_last = -1
    for r in out:
        assert r["first_id"] == prev_last + 1
        prev_last = r["last_id"]
    assert prev_last == len(sizes) - 1
    # a bin k+1 exists only because cumulative bytes crossed
    # (k+1)*target inside bin k
    cum = 0
    for r in out[:-1]:
        cum += r["total_bytes"]
        assert cum >= (r["bin"] + 1) * target, (cum, r)
    for r in out:
        assert r["undersized"] == (r["total_bytes"] < target)


baskets_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=6),  # basket
        st.sampled_from(["w", "x", "y", "z"]),  # item
    ),
    min_size=2,
    max_size=30,
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=baskets_strategy)
def test_item_cf_matches_brute_force(spark, rows):
    from h3_indexer_spark.operators.mining import item_cf_similarity

    df = spark.createDataFrame(list(rows), "b long, i string")
    got = {
        (r["item_a"], r["item_b"]): (
            r["n_joint"],
            r["n_a"],
            r["n_b"],
            r["cos_sim"],
        )
        for r in item_cf_similarity(
            df, "b", "i", min_joint=1, k=100, log_exclusions=False
        ).collect()
    }
    baskets = {}
    for b, i in rows:
        baskets.setdefault(b, set()).add(i)
    support = {}
    joint = {}
    for items in baskets.values():
        for i in items:
            support[i] = support.get(i, 0) + 1
        for a in items:
            for b in items:
                if a < b:
                    joint[(a, b)] = joint.get((a, b), 0) + 1
    assert set(got) == set(joint)
    for p, c in joint.items():
        na, nb = support[p[0]], support[p[1]]
        gc, gna, gnb, gcs = got[p]
        assert (gc, gna, gnb) == (c, na, nb)
        assert gcs == pytest.approx(
            c / math.sqrt(na * nb), abs=1e-9
        )


woe_rows = st.lists(
    st.tuples(
        st.sampled_from(["p", "q", "r"]),
        st.booleans(),
    ),
    min_size=2,
    max_size=40,
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=woe_rows)
def test_woe_iv_matches_reference(spark, rows):
    from h3_indexer_spark.operators.analytics import woe_iv

    n_pos = sum(1 for _, y in rows if y)
    n_neg = len(rows) - n_pos
    if n_pos == 0 or n_neg == 0:
        return  # totals degenerate: every WoE undefined
    df = spark.createDataFrame(list(rows), "f string, y boolean")
    got = {r["bin"]: r for r in woe_iv(df, "f", "y").collect()}
    bins = {}
    for f, y in rows:
        p, n = bins.get(f, (0, 0))
        bins[f] = (p + int(y), n + int(not y))
    iv = None
    for f, (p, n) in bins.items():
        if p > 0 and n > 0:
            w = math.log((p / n_pos) / (n / n_neg))
            iv = (iv or 0.0) + (p / n_pos - n / n_neg) * w
    for f, (p, n) in bins.items():
        assert got[f]["n_pos"] == p
        assert got[f]["n_neg"] == n
        if p > 0 and n > 0:
            assert got[f]["woe"] == pytest.approx(
                math.log((p / n_pos) / (n / n_neg)), abs=1e-8
            )
        else:
            assert got[f]["woe"] is None
        if iv is None:
            # every bin one-sided: the feature separates the classes
            # perfectly and IV is undefined (conceptually infinite) —
            # NULL, never 0.0 ("useless"), is the contract
            assert got[f]["iv_total"] is None
        else:
            assert got[f]["iv_total"] == pytest.approx(iv, abs=1e-8)
