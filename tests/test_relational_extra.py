"""salted_join and profile_table: result-equivalence with the plain
operators (salting must be invisible in the output; profiling must
match a hand computation) plus the plan properties that make them
scale — the salt in the join keys, the single-scan profile."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from h3_indexer_spark.operators.relational import (
    profile_table,
    salted_join,
    sketch_stats,
)


def _skewed_pair(spark):
    """Big side: 1000 rows, 90% on one hot key; small side: 5 keys,
    key 4 unmatched on the big side, big key 9 unmatched on small."""
    big = spark.range(1000).select(
        F.col("id").alias("row_id"),
        F.when(F.col("id") % 10 < 9, F.lit(0))
        .otherwise((F.col("id") % 4) + F.lit(6))
        .alias("k"),
        (F.col("id") * 2).alias("payload"),
    )
    small = spark.createDataFrame(
        [(0, "hot"), (6, "a"), (7, "b"), (8, "c"), (4, "unmatched")],
        ["k", "label"],
    )
    return big, small


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_salted_inner_equals_plain(spark):
    big, small = _skewed_pair(spark)
    plain = big.join(small, "k", "inner")
    salted = salted_join(big, small, "k", n_salts=7, salt_src="row_id")
    assert _sorted_rows(salted.select(*plain.columns)) == _sorted_rows(plain)


def test_salted_left_equals_plain(spark):
    big, small = _skewed_pair(spark)
    plain = big.join(small, "k", "left")
    salted = salted_join(
        big, small, "k", n_salts=5, how="left", salt_src="row_id"
    )
    assert _sorted_rows(salted.select(*plain.columns)) == _sorted_rows(plain)


def test_salted_default_salt_source(spark):
    """Without salt_src the row-identity salt must still be
    result-invariant."""
    big, small = _skewed_pair(spark)
    plain = big.join(small, "k", "inner")
    salted = salted_join(big, small, "k", n_salts=3)
    assert _sorted_rows(salted.select(*plain.columns)) == _sorted_rows(plain)


def test_salted_join_rejects_outer(spark):
    big, small = _skewed_pair(spark)
    with pytest.raises(ValueError, match="inner/left"):
        salted_join(big, small, "k", how="full")


def test_salt_in_join_keys(spark):
    """The whole point: the physical join must key on (k, _salt) so a
    hot k spreads across n_salts partitions."""
    big, small = _skewed_pair(spark)
    salted = salted_join(big, small, "k", n_salts=7, salt_src="row_id")
    plan = salted._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "_salt" in plan


def test_profile_matches_hand_computation(spark):
    df = spark.createDataFrame(
        [
            (1, 2.0, "x"),
            (2, None, "y"),
            (2, 4.0, None),
            (None, 6.0, "y"),
        ],
        ["a", "b", "s"],
    )
    got = {r["column"]: r.asDict() for r in profile_table(df).collect()}
    assert got["a"]["n_rows"] == 4
    assert got["a"]["n_nulls"] == 1
    assert got["a"]["n_distinct"] == 2
    assert got["a"]["min_num"] == 1.0
    assert got["a"]["max_num"] == 2.0
    assert got["a"]["avg_num"] == pytest.approx(5 / 3)
    assert got["a"]["min_str"] is None
    assert got["b"]["n_nulls"] == 1
    assert got["b"]["avg_num"] == pytest.approx(4.0)
    assert got["s"]["n_distinct"] == 2
    assert got["s"]["min_str"] == "x"
    assert got["s"]["max_str"] == "y"
    assert got["s"]["min_num"] is None


def test_profile_negative_zero_counts_once(spark):
    """COUNT(DISTINCT) treats -0.0 and 0.0 as one value, but their
    string renderings differ — the melt must fold them before the
    cast or n_distinct overcounts by one."""
    df = spark.createDataFrame(
        [(-0.0,), (0.0,), (1.5,)], ["x"]
    )
    got = {r["column"]: r.asDict() for r in profile_table(df).collect()}
    exact = df.select(F.count_distinct("x")).collect()[0][0]
    assert exact == 2
    assert got["x"]["n_distinct"] == 2


def test_profile_plan_shape(spark):
    """ONE scan, no join, no Expand (the multi-COUNT(DISTINCT) plan
    that sort-aggregates (n_cols+1)x the input — measured 12x slower).
    The pair-level aggregate — the only one that touches every row —
    must be a HashAggregate; the per-column rollup on top may
    SortAggregate (string min/max buffers aren't hash-able) but its
    input is the already-deduplicated pair set, not the raw rows."""
    df = spark.createDataFrame([(1, "x")], ["a", "s"])
    plan = profile_table(df)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    # tree entries only (each node prints again in the detail section)
    assert plan.count("Scan ExistingRDD (") == 1, plan
    assert "Expand" not in plan, plan
    assert "Join" not in plan, plan
    # the tree prints parents above children: every SortAggregate must
    # sit strictly ABOVE the first HashAggregate (i.e. operate on the
    # reduced pair set), and the HashAggregates above the Generate
    tree = plan.split("(1) Scan")[0]
    first_hash = tree.index("HashAggregate")
    assert first_hash < tree.index("Generate"), plan
    for i, line in enumerate(tree.splitlines()):
        if "SortAggregate" in line:
            assert tree.index(line) < first_hash, plan


def test_grouped_corr_matches_numpy(spark):
    import numpy as np

    from h3_indexer_spark.operators.relational import grouped_corr

    from tests.conftest import SF_ORACLE

    df = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")
    got = {
        r.l_returnflag: r.corr
        for r in grouped_corr(
            df, ["l_returnflag"], "l_quantity", "l_extendedprice"
        ).collect()
    }
    pdf = df.select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    ).toPandas()
    for flag, sub in pdf.groupby("l_returnflag"):
        want = np.corrcoef(sub["l_quantity"], sub["l_extendedprice"])[0, 1]
        assert abs(got[flag] - want) < 1e-9, (flag, got[flag], want)


def test_grouped_corr_degenerate_group_null(spark):
    from h3_indexer_spark.operators.relational import grouped_corr

    df = spark.createDataFrame(
        [("g", 1.0, 5.0), ("g", 1.0, 7.0)], ["k", "x", "y"]
    )
    rows = grouped_corr(df, ["k"], "x", "y").collect()
    assert rows[0].corr is None  # zero variance in x


def test_histogram_hand_computed(spark):
    from h3_indexer_spark.operators.relational import histogram

    df = spark.createDataFrame(
        [(v,) for v in [-5.0, 0.0, 9.9, 10.0, 25.0, 99.0, 150.0, None]],
        ["v"],
    )
    got = {r.bin: r for r in histogram(df, "v", 0.0, 100.0, 10).collect()}
    # -5 clamps into bin 0; 150 clamps into bin 9; None dropped
    assert got[0].n_rows == 3  # -5.0, 0.0, 9.9
    assert got[1].n_rows == 1  # 10.0
    assert got[2].n_rows == 1  # 25.0
    assert got[9].n_rows == 2  # 99.0, 150.0
    assert sum(r.n_rows for r in got.values()) == 7
    assert got[2].bin_lo == 20.0


def test_sketch_stats_error_bounds(spark):
    """HLL++ NDV within 3*rsd of exact; quantile sketch values must be
    actual data values whose true rank is within the accuracy bound."""
    import numpy as np

    from tests.conftest import SF_ORACLE

    df = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")
    got = {
        r["l_returnflag"]: r
        for r in sketch_stats(
            df, "l_returnflag", "l_orderkey", "l_extendedprice"
        ).collect()
    }
    exact = {
        r["l_returnflag"]: r
        for r in df.groupBy("l_returnflag")
        .agg(
            F.count_distinct("l_orderkey").alias("ndv"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    prices = {
        flag: np.sort(
            np.array(
                df.where(F.col("l_returnflag") == flag)
                .select("l_extendedprice")
                .toPandas()["l_extendedprice"]
            )
        )
        for flag in exact
    }
    for flag, row in got.items():
        ndv, n = exact[flag]["ndv"], exact[flag]["n"]
        assert abs(row["approx_ndv_l_orderkey"] - ndv) <= max(3 * 0.02 * ndv, 1)
        for q, v in zip((0.5, 0.9), (row["approx_q50"], row["approx_q90"])):
            rank = np.searchsorted(prices[flag], v) / n
            assert abs(rank - q) <= 0.01, (flag, q, v, rank)


class TestExpectations:
    def test_all_rule_kinds(self, spark):
        from h3_indexer_spark.operators.expectations import (
            check_expectations,
        )

        df = spark.createDataFrame(
            [
                (1, 10.0, "a", 100),
                (2, -5.0, "b", 100),
                (2, None, "z", 999),   # dup id, null val, bad cat, orphan
                (4, 200.0, "a", 101),  # over max
            ],
            "id long, val double, cat string, fk long",
        )
        ref = spark.createDataFrame(
            [(100,), (101,)], "ref_id long"
        )
        report = {
            r.rule_id: r
            for r in check_expectations(
                df,
                [
                    {"rule": "not_null", "column": "val"},
                    {"rule": "unique", "columns": ["id"]},
                    {"rule": "range", "column": "val", "min": 0.0,
                     "max": 100.0},
                    {"rule": "in_set", "column": "cat",
                     "allowed": ["a", "b"]},
                    {"rule": "foreign_key", "column": "fk",
                     "ref": ref, "ref_column": "ref_id"},
                ],
            ).collect()
        }
        assert len(report) == 5
        assert report[0].n_violations == 1 and not report[0].passed
        assert report[1].n_violations == 2  # both rows of the dup key
        assert report[2].n_violations == 2  # -5 and 200; null exempt
        assert report[3].n_violations == 1  # 'z'; null exempt
        assert report[4].n_violations == 1  # 999
        assert all(r.n_rows == 4 for r in report.values())

    def test_user_column_named_like_fk_marker(self, spark):
        """A column named like the foreign-key marker is checked, not
        mistaken for the marker (an ambiguous reference before)."""
        from h3_indexer_spark.operators.expectations import (
            check_expectations,
        )

        df = spark.createDataFrame(
            [(1, 100), (2, 999), (3, None), (4, 998)],
            "id long, _xref_0 long",
        )
        ref = spark.createDataFrame([(100,), (101,)], "ref_id long")
        (r,) = check_expectations(
            df,
            [{"rule": "foreign_key", "column": "_xref_0", "ref": ref,
              "ref_column": "ref_id"}],
        ).collect()
        assert (r.target, r.n_violations, r.n_rows) == ("_xref_0", 2, 4)

    def test_unique_rule_on_column_named_like_count(self, spark):
        """unique over columns named like the internal per-key count and
        rule totals (``_n``, ``_v0``) counts the duplicate rows."""
        from h3_indexer_spark.operators.expectations import (
            check_expectations,
        )

        df = spark.createDataFrame(
            [(1, 0), (1, 0), (1, 1), (2, None), (3, 5)], "_n long, _v0 long"
        )
        report = check_expectations(
            df,
            [
                {"rule": "not_null", "column": "_v0"},
                {"rule": "unique", "columns": ["_n"]},
                {"rule": "unique", "columns": ["_n", "_v0"]},
            ],
        ).collect()
        got = {r.rule_id: (r.n_violations, r.n_rows) for r in report}
        assert got == {0: (1, 5), 1: (3, 5), 2: (2, 5)}

    def test_clean_table_passes(self, spark):
        from h3_indexer_spark.operators.expectations import (
            check_expectations,
        )

        df = spark.range(100).select(
            F.col("id"), (F.col("id") % 5).alias("grp")
        )
        rep = check_expectations(
            df,
            [
                {"rule": "not_null", "column": "grp"},
                {"rule": "unique", "columns": ["id"]},
                {"rule": "range", "column": "grp", "min": 0, "max": 4},
            ],
        ).collect()
        assert all(r.passed for r in rep)

    def test_empty_table_passes(self, spark):
        """Zero rows: every rule kind reports 0 violations and a real
        True, on both the shared-groupBy battery (a unique rule
        present) and the plain-aggregate one (none)."""
        from h3_indexer_spark.operators.expectations import (
            check_expectations,
        )

        df = spark.createDataFrame(
            [], "id long, val double, cat string, fk long"
        )
        ref = spark.createDataFrame([(100,)], "ref_id long")
        rules = [
            {"rule": "not_null", "column": "val"},
            {"rule": "unique", "columns": ["id"]},
            {"rule": "range", "column": "val", "min": 0.0, "max": 1.0},
            {"rule": "in_set", "column": "cat", "allowed": ["a"]},
            {"rule": "foreign_key", "column": "fk", "ref": ref,
             "ref_column": "ref_id"},
        ]
        for battery in (rules, [r for r in rules if r["rule"] != "unique"]):
            rep = check_expectations(df, battery).collect()
            assert len(rep) == len(battery)
            for r in rep:
                assert r.n_violations == 0, r
                assert r.n_rows == 0, r
                assert r.passed is True, r

    def test_unknown_rule_fails_fast(self, spark):
        import pytest as _pytest

        from h3_indexer_spark.operators.expectations import (
            check_expectations,
        )

        with _pytest.raises(ValueError, match="unknown kind"):
            check_expectations(
                spark.range(1), [{"rule": "nope"}]
            )


class TestGroupedMoments:
    def test_known_distribution(self, spark):
        """Symmetric data: skewness exactly 0; constant group: higher
        moments null; values validated against closed forms."""
        from h3_indexer_spark.operators.relational import grouped_moments

        df = spark.createDataFrame(
            [("s", 1.0), ("s", 2.0), ("s", 3.0),
             ("c", 5.0), ("c", 5.0), ("c", 5.0), ("c", 5.0)],
            "grp string, x double",
        )
        out = {r.grp: r for r in
               grouped_moments(df, "x", ["grp"]).collect()}
        s = out["s"]
        assert s.mean == 2.0 and s.var_samp == 1.0
        assert s.skewness == 0.0
        # n=3 < 4: kurtosis undefined
        assert s.kurtosis_excess is None
        c = out["c"]
        assert c.mean == 5.0 and c.var_samp == 0.0
        assert c.skewness is None and c.kurtosis_excess is None

    def test_skewed_sign(self, spark):
        from h3_indexer_spark.operators.relational import grouped_moments

        df = spark.createDataFrame(
            [("g", v) for v in [1.0, 1.0, 1.0, 1.0, 10.0]],
            "grp string, x double",
        )
        r = grouped_moments(df, "x", ["grp"]).collect()[0]
        assert r.skewness > 1.0  # heavy right tail
        assert r.kurtosis_excess is not None
