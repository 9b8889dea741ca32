"""Round-9 continuation-batch operator tests: the nine oracle-checked
debuts (kruskal/jarque-bera/xcorr/item-cf/woe-iv/drawdown/AP/
compaction-plan/zipf) against exact Python references and their
documented edge cases."""

import math

import pytest
from pyspark.sql import functions as F

from tests.helpers import _kruskal_reference


# ---------------------------------------------------------------- kruskal


def test_kruskal_matches_python_reference(spark):
    from h3_indexer_spark.operators.analytics import kruskal_wallis

    groups = {
        "a": [1.5, 2.5, 2.5, 7.0],
        "b": [2.5, 3.0, 9.0],
        "c": [1.5, 4.0, 4.0, 4.0, 11.0],
    }
    rows = [(g, v) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, v double")
    out = kruskal_wallis(df, "g", "v").collect()[0]
    h, ht = _kruskal_reference(list(groups.values()))
    assert out["k_groups"] == 3
    assert out["n_total"] == 12
    assert out["h_stat"] == pytest.approx(h, abs=2e-9)
    assert out["h_stat_tied"] == pytest.approx(ht, abs=2e-9)


def test_kruskal_all_identical_values_null_tied(spark):
    from h3_indexer_spark.operators.analytics import kruskal_wallis

    df = spark.createDataFrame(
        [("a", 5.0), ("a", 5.0), ("b", 5.0)], "g string, v double"
    )
    out = kruskal_wallis(df, "g", "v").collect()[0]
    # every value tied: correction C = 0 -> tied variant undefined
    assert out["h_stat_tied"] is None


# ------------------------------------------------------------ jarque-bera


def test_jarque_bera_matches_numpy(spark):
    import numpy as np

    from h3_indexer_spark.operators.analytics import jarque_bera

    vals = [1.25, 2.5, 2.5, 3.75, 10.0, 4.5, 0.25, 6.5]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    out = jarque_bera(df, "x", decimal_scale=2).collect()[0]
    a = np.array(vals)
    n = len(a)
    m2 = ((a - a.mean()) ** 2).mean()
    m3 = ((a - a.mean()) ** 3).mean()
    m4 = ((a - a.mean()) ** 4).mean()
    g1 = m3 / m2**1.5
    g2 = m4 / m2**2 - 3.0
    jb = n / 6.0 * (g1**2 + g2**2 / 4.0)
    assert out["n_rows"] == n
    assert out["skew_g1"] == pytest.approx(g1, abs=1e-7)
    assert out["kurt_g2"] == pytest.approx(g2, abs=1e-7)
    assert out["jb_stat"] == pytest.approx(jb, abs=1e-6)


def test_jarque_bera_zero_variance_null(spark):
    from h3_indexer_spark.operators.analytics import jarque_bera

    df = spark.createDataFrame([(2.0,), (2.0,), (2.0,)], "x double")
    out = jarque_bera(df, "x").collect()[0]
    assert out["n_rows"] == 3
    assert out["jb_stat"] is None


# ----------------------------------------------------------------- xcorr


def test_xcorr_detects_planted_shift(spark):
    """b(d) = a(d − 3): the correlation at lag −3 — today's A against
    B three days EARLIER — must be exactly 1 (identical integer
    sequences), and off-peak lags of an affine-free noise-ish series
    must stay below it."""
    import datetime

    from h3_indexer_spark.operators.analytics import cross_correlation

    base = datetime.date(2024, 1, 1)
    a = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8, 9, 7, 9, 3, 2, 3, 8, 4]
    rows = []
    for i in range(len(a)):
        bv = a[i + 3] if i + 3 < len(a) else None
        if bv is not None:
            rows.append((base + datetime.timedelta(days=i), a[i], bv))
    df = spark.createDataFrame(rows, "d date, a long, b long")
    out = {
        r["lag"]: (r["n_days"], r["r"])
        for r in cross_correlation(df, "d", "a", "b", max_lag=4)
            .collect()
    }
    assert set(out) == set(range(-4, 5))
    # b(d) = a(d+3)  =>  corr(a(d), b(d-3)) = corr at lag -3 is 1
    assert out[-3][1] == pytest.approx(1.0, abs=1e-9)
    for lag, (_, r) in out.items():
        if lag != -3 and r is not None:
            assert r < 0.999


def test_xcorr_emits_every_lag_even_with_no_overlap(spark):
    """A 3-day series at max_lag=5: lags beyond the span have zero
    overlapping dates and must still report (n_days=0, r=NULL) —
    the correlogram contract is one row per lag, never a silent
    omission."""
    import datetime

    from h3_indexer_spark.operators.analytics import cross_correlation

    base = datetime.date(2024, 1, 1)
    rows = [
        (base + datetime.timedelta(days=i), 10 + i, 20 - i)
        for i in range(3)
    ]
    df = spark.createDataFrame(rows, "d date, a long, b long")
    out = {
        r["lag"]: (r["n_days"], r["r"])
        for r in cross_correlation(df, "d", "a", "b", max_lag=5)
            .collect()
    }
    assert set(out) == set(range(-5, 6))
    for lag in (-5, -4, -3, 3, 4, 5):
        assert out[lag] == (0, None), (lag, out[lag])
    assert out[0][0] == 3


def test_xcorr_lag_zero_matches_pearson(spark):
    import numpy as np

    from h3_indexer_spark.operators.analytics import cross_correlation
    import datetime

    base = datetime.date(2024, 1, 1)
    a = [10, 20, 15, 40, 35, 5, 25, 30]
    b = [12, 18, 20, 38, 30, 8, 22, 33]
    rows = [
        (base + datetime.timedelta(days=i), a[i], b[i])
        for i in range(len(a))
    ]
    df = spark.createDataFrame(rows, "d date, a long, b long")
    out = {
        r["lag"]: r["r"]
        for r in cross_correlation(df, "d", "a", "b", max_lag=1)
            .collect()
    }
    assert out[0] == pytest.approx(np.corrcoef(a, b)[0, 1], abs=1e-9)


# --------------------------------------------------------------- item-cf


def test_item_cf_cosine_exact(spark):
    from h3_indexer_spark.operators.mining import item_cf_similarity

    baskets = [
        (1, "x"), (1, "y"),
        (2, "x"), (2, "y"),
        (3, "x"), (3, "z"),
        (4, "y"), (4, "z"),
        (5, "x"),
    ]
    df = spark.createDataFrame(baskets, "b long, i string")
    out = {
        (r["item_a"], r["item_b"]): r
        for r in item_cf_similarity(
            df, "b", "i", min_joint=1, k=10, log_exclusions=False
        ).collect()
    }
    # supports: x=4, y=3, z=2; joints: xy=2, xz=1, yz=1
    assert out[("x", "y")]["n_joint"] == 2
    assert out[("x", "y")]["cos_sim"] == pytest.approx(
        2 / math.sqrt(4 * 3), abs=1e-9
    )
    assert out[("x", "z")]["cos_sim"] == pytest.approx(
        1 / math.sqrt(4 * 2), abs=1e-9
    )
    assert out[("y", "z")]["cos_sim"] == pytest.approx(
        1 / math.sqrt(3 * 2), abs=1e-9
    )
    # unordered pairs only, a < b
    assert all(a < b for a, b in out)


def test_item_cf_min_joint_filters(spark):
    from h3_indexer_spark.operators.mining import item_cf_similarity

    df = spark.createDataFrame(
        [(1, "x"), (1, "y"), (2, "x"), (2, "y"), (3, "x"), (3, "z")],
        "b long, i string",
    )
    pairs = {
        (r["item_a"], r["item_b"])
        for r in item_cf_similarity(
            df, "b", "i", min_joint=2, log_exclusions=False
        ).collect()
    }
    assert pairs == {("x", "y")}


def test_item_cf_lazy_construction(spark):
    from h3_indexer_spark.operators.mining import item_cf_similarity
    from tests.helpers import _jobs_during

    df = spark.createDataFrame([(1, "x"), (1, "y")], "b long, i string")
    _, jobs = _jobs_during(
        spark,
        lambda: item_cf_similarity(df, "b", "i", log_exclusions=False),
    )
    assert jobs == [], f"construction launched jobs: {jobs}"


def test_item_cf_mega_basket_cap(spark):
    from h3_indexer_spark.operators.mining import item_cf_similarity

    rows = [(1, f"i{k}") for k in range(12)] + [
        (2, "i0"), (2, "i1"), (3, "i0"), (3, "i1"),
    ]
    df = spark.createDataFrame(rows, "b long, i string")
    out = item_cf_similarity(
        df, "b", "i", min_joint=1, max_basket_size=5,
        log_exclusions=False,
    ).collect()
    # basket 1 (12 items) excluded: only the (i0,i1) pair from 2,3
    assert {(r["item_a"], r["item_b"]) for r in out} == {("i0", "i1")}
    assert out[0]["n_joint"] == 2


# ---------------------------------------------------------------- woe-iv


def test_woe_iv_hand_computed(spark):
    from h3_indexer_spark.operators.analytics import woe_iv

    # bin A: 3 pos / 1 neg; bin B: 1 pos / 3 neg  (P = N = 4)
    rows = (
        [("A", True)] * 3 + [("A", False)]
        + [("B", True)] + [("B", False)] * 3
    )
    df = spark.createDataFrame(rows, "f string, y boolean")
    out = {r["bin"]: r for r in woe_iv(df, "f", "y").collect()}
    woe_a = math.log((3 / 4) / (1 / 4))
    woe_b = math.log((1 / 4) / (3 / 4))
    iv = (3 / 4 - 1 / 4) * woe_a + (1 / 4 - 3 / 4) * woe_b
    assert out["A"]["woe"] == pytest.approx(woe_a, abs=1e-9)
    assert out["B"]["woe"] == pytest.approx(woe_b, abs=1e-9)
    assert out["A"]["iv_total"] == pytest.approx(iv, abs=1e-9)
    assert out["B"]["iv_total"] == pytest.approx(iv, abs=1e-9)


def test_woe_iv_zero_cell_excluded(spark):
    from h3_indexer_spark.operators.analytics import woe_iv

    rows = [("A", True), ("A", False), ("Z", True), ("Z", True)]
    df = spark.createDataFrame(rows, "f string, y boolean")
    out = {r["bin"]: r for r in woe_iv(df, "f", "y").collect()}
    # Z has zero negatives: WoE undefined, excluded from IV
    assert out["Z"]["woe"] is None
    assert out["Z"]["iv_term"] is None
    assert out["A"]["iv_total"] == pytest.approx(
        out["A"]["iv_term"], abs=1e-12
    )


# -------------------------------------------------------------- drawdown


def test_max_drawdown_known_curve(spark):
    import datetime

    from h3_indexer_spark.operators.analytics import max_drawdown

    base = datetime.date(2024, 1, 1)
    flows = [10.0, 5.0, -8.0, -3.0, 12.0, -20.0, 6.0]
    # equity:  10  15    7     4    16    -4    2
    # peaks:   10  15   15    15    16    16   16
    # dd:       0   0    8    11     0    20   14
    rows = [
        (base + datetime.timedelta(days=i), f)
        for i, f in enumerate(flows)
    ]
    df = spark.createDataFrame(rows, "d date, flow double")
    out = max_drawdown(df, "d", "flow").collect()[0]
    assert out["n_periods"] == 7
    assert out["peak_equity"] == pytest.approx(16.0)
    assert out["max_drawdown"] == pytest.approx(20.0)
    assert out["max_drawdown_frac"] == pytest.approx(20.0 / 16.0, abs=1e-9)


def test_max_drawdown_monotone_is_zero(spark):
    import datetime

    from h3_indexer_spark.operators.analytics import max_drawdown

    base = datetime.date(2024, 1, 1)
    rows = [
        (base + datetime.timedelta(days=i), 1.0) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "d date, flow double")
    out = max_drawdown(df, "d", "flow").collect()[0]
    assert out["max_drawdown"] == 0.0
    assert out["max_drawdown_frac"] == 0.0


def test_max_drawdown_collapses_periods_first(spark):
    """Multiple rows per period must sum before the cumulative walk —
    intra-day ordering can't affect the daily equity curve."""
    import datetime

    from h3_indexer_spark.operators.analytics import max_drawdown

    d0 = datetime.date(2024, 1, 1)
    d1 = datetime.date(2024, 1, 2)
    df = spark.createDataFrame(
        [(d0, 5.0), (d0, 5.0), (d1, -4.0), (d1, 1.0)],
        "d date, flow double",
    )
    out = max_drawdown(df, "d", "flow").collect()[0]
    assert out["n_periods"] == 2
    assert out["max_drawdown"] == pytest.approx(3.0)


# ---------------------------------------------------------------- pr-auc


def test_average_precision_textbook(spark):
    from h3_indexer_spark.operators.analytics import average_precision

    # ranked by score desc: y = [1, 0, 1, 0, 1]
    rows = [
        (True, 5.0, 1),
        (False, 4.0, 2),
        (True, 3.0, 3),
        (False, 2.0, 4),
        (True, 1.0, 5),
    ]
    df = spark.createDataFrame(rows, "y boolean, s double, id long")
    out = average_precision(df, "y", "s", "id").collect()[0]
    ap = (1 / 1 + 2 / 3 + 3 / 5) / 3
    assert out["n"] == 5
    assert out["n_pos"] == 3
    assert out["avg_precision"] == pytest.approx(ap, abs=1e-9)


def test_average_precision_tie_broken_by_id(spark):
    from h3_indexer_spark.operators.analytics import average_precision

    # two score-tied rows: id asc puts the negative (id=1) first
    rows = [(False, 9.0, 1), (True, 9.0, 2)]
    df = spark.createDataFrame(rows, "y boolean, s double, id long")
    out = average_precision(df, "y", "s", "id").collect()[0]
    assert out["avg_precision"] == pytest.approx(0.5, abs=1e-9)


def test_average_precision_no_positives_null(spark):
    from h3_indexer_spark.operators.analytics import average_precision

    df = spark.createDataFrame(
        [(False, 1.0, 1)], "y boolean, s double, id long"
    )
    out = average_precision(df, "y", "s", "id").collect()[0]
    assert out["avg_precision"] is None


# ------------------------------------------------------- compaction plan


def test_compaction_plan_next_fit(spark):
    from h3_indexer_spark.operators.relational import compaction_plan

    files = [
        ("p", 1, 60), ("p", 2, 50), ("p", 3, 30),
        ("p", 4, 80), ("p", 5, 10),
    ]
    df = spark.createDataFrame(files, "src string, fid long, sz long")
    out = {
        r["bin"]: r
        for r in compaction_plan(df, "src", "fid", "sz", 100).collect()
    }
    # cum:   60 110 140 220 230; first-byte offsets: 0 60 110 140 220
    # bins:   0   0   1   1   2
    assert out[0]["n_files"] == 2 and out[0]["total_bytes"] == 110
    assert out[1]["n_files"] == 2 and out[1]["total_bytes"] == 110
    assert out[2]["n_files"] == 1 and out[2]["total_bytes"] == 10
    assert not out[0]["undersized"] and out[2]["undersized"]
    assert out[0]["first_id"] == 1 and out[0]["last_id"] == 2


def test_compaction_plan_partitions_independent(spark):
    from h3_indexer_spark.operators.relational import compaction_plan

    df = spark.createDataFrame(
        [("a", 1, 120), ("b", 1, 120), ("a", 2, 50), ("b", 2, 50)],
        "src string, fid long, sz long",
    )
    out = compaction_plan(df, "src", "fid", "sz", 100).collect()
    # each partition packs alone: bins restart at 0 per partition
    by_part = {}
    for r in out:
        by_part.setdefault(r["part"], set()).add(r["bin"])
    assert by_part == {"a": {0, 1}, "b": {0, 1}}


def test_compaction_plan_rejects_bad_target(spark):
    from h3_indexer_spark.operators.relational import compaction_plan

    df = spark.createDataFrame([("a", 1, 10)], "s string, f long, z long")
    with pytest.raises(ValueError, match="target_bytes"):
        compaction_plan(df, "s", "f", "z", 0)


# ------------------------------------------------------------------ zipf


def test_zipf_fit_exact_power_law(spark):
    """A corpus whose head frequencies are exactly f = 64 / rank
    (ranks 1,2,4,8,...) must recover slope −1 with r² = 1."""
    import numpy as np

    from h3_indexer_spark.operators.textops import zipf_fit

    # freq: w1=64, w2=32, w3=16, w4=8  -> exact slope on log-log line
    # of f = 64 * rank^-1 sampled at ranks 1..4? ranks are 1,2,3,4 but
    # freqs 64/r only at powers; instead plant f_r = 48/r exactly for
    # r = 1,2,3,4 (48 divisible by all).
    words = []
    for r, w in enumerate(["w1", "w2", "w3", "w4"], start=1):
        words += [w] * (48 // r)
    df = spark.createDataFrame([(" ".join(words),)], "text string")
    out = zipf_fit(df, "text", top_n=4).collect()[0]
    x = np.log(np.arange(1, 5, dtype=float))
    y = np.log(np.array([48, 24, 16, 12], dtype=float))
    slope, intercept = np.polyfit(x, y, 1)
    assert out["n_ranks"] == 4
    assert out["slope"] == pytest.approx(slope, abs=1e-7)
    assert out["intercept"] == pytest.approx(intercept, abs=1e-7)
    assert out["r2"] == pytest.approx(1.0, abs=1e-6)


def test_zipf_fit_head_cut_deterministic(spark):
    """Frequency ties at the head boundary break by token asc — the
    top_n cut must be reproducible."""
    from h3_indexer_spark.operators.textops import zipf_fit

    # four tokens all frequency 2: head of 2 takes 'a','b'
    df = spark.createDataFrame(
        [("a a b b c c d d",)], "text string"
    )
    out1 = zipf_fit(df, "text", top_n=2).collect()[0]
    out2 = zipf_fit(df, "text", top_n=2).collect()[0]
    assert out1 == out2
    assert out1["n_ranks"] == 2
    # all-tied head: zero x-variance is fine (slope 0), r2 undefined
    assert out1["slope"] == pytest.approx(0.0, abs=1e-9)
    assert out1["r2"] is None
