"""Feature-engineering operators (operators/features.py): rolling
window features, curriculum bins, min-max scaling."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from h3_indexer_spark.operators.features import (
    minmax_scale,
    ntile_bins,
    rolling_features,
)


class TestRollingFeatures:
    def test_hand_computed_frames(self, spark):
        rows = [
            # (event_id, user, ts, value)
            (1, "a", 10, 1.0),
            (2, "a", 20, 2.0),
            (3, "a", 30, 4.0),
            (4, "a", 40, 8.0),
            (5, "b", 10, 100.0),
        ]
        df = spark.createDataFrame(rows, ["event_id", "user", "ts", "value"])
        got = {
            r.event_id: r
            for r in rolling_features(
                df, "user", ["ts", "event_id"], "value", window=3
            ).collect()
        }
        assert (got[1].roll_n, got[1].roll_sum) == (1, 1.0)
        assert (got[2].roll_n, got[2].roll_sum) == (2, 3.0)
        assert (got[3].roll_n, got[3].roll_sum) == (3, 7.0)
        # frame slides: event 1 falls out
        assert (got[4].roll_n, got[4].roll_sum) == (3, 14.0)
        assert got[4].roll_mean == pytest.approx(14.0 / 3)
        # keys don't leak across users
        assert (got[5].roll_n, got[5].roll_sum) == (1, 100.0)

    def test_single_shuffle_plan(self, spark):
        df = spark.createDataFrame(
            [(1, "a", 10, 1.0)], ["event_id", "user", "ts", "value"]
        )
        out = rolling_features(df, "user", ["ts", "event_id"], "value")
        plan = out._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        tree = plan.split("(1) Scan")[0]
        assert tree.count("Exchange") == 1, plan
        assert "Window" in tree, plan


class TestNtileBins:
    def test_equal_count_bins_with_remainder_leading(self, spark):
        # 23 rows into 10 bins: bins 1-3 get 3 rows, 4-10 get 2
        df = spark.createDataFrame(
            [(i, float(i)) for i in range(23)], ["id", "score"]
        )
        out = ntile_bins(df, "score", n_bins=10, tiebreak_col="id")
        sizes = {
            r.bin: r.n
            for r in out.groupBy("bin").agg(F.count("*").alias("n")).collect()
        }
        assert sizes == {
            **{b: 3 for b in (1, 2, 3)},
            **{b: 2 for b in range(4, 11)},
        }
        # ordering respected: max score of bin b < min score of bin b+1
        rows = out.collect()
        for b in range(1, 10):
            hi = max(r.score for r in rows if r.bin == b)
            lo = min(r.score for r in rows if r.bin == b + 1)
            assert hi < lo


class TestEwmaFeatures:
    def _naive(self, xs, a):
        ys = [xs[0]]
        for x in xs[1:]:
            ys.append((1 - a) * ys[-1] + a * x)
        return ys

    def test_matches_naive_recurrence(self, spark):
        from h3_indexer_spark.operators.features import ewma_features

        import numpy as np

        rng = np.random.RandomState(7)
        rows = []
        for u in ("a", "b"):
            for t, v in enumerate(rng.uniform(0, 1e6, size=700)):
                rows.append((u, t, float(v)))
        df = spark.createDataFrame(rows, ["user", "ts", "value"])
        out = ewma_features(df, "user", ["ts"], "value", alpha=0.3)
        got = {
            (r.user, r.ts): r.ewma for r in out.collect()
        }
        for u in ("a", "b"):
            xs = [v for (uu, t, v) in rows if uu == u]
            want = self._naive(xs, 0.3)
            for t, w in enumerate(want):
                g = got[(u, t)]
                assert abs(g - w) <= 1e-9 * max(1.0, abs(w)), (u, t, g, w)

    def test_extreme_alphas(self, spark):
        from h3_indexer_spark.operators.features import ewma_features

        rows = [("a", t, float(t)) for t in range(40)]
        df = spark.createDataFrame(rows, ["user", "ts", "value"])
        # alpha=1: ewma == value
        for r in ewma_features(df, "user", ["ts"], "value", alpha=1.0).collect():
            assert r.ewma == r.value
        # tiny alpha: stays near the seed, still finite
        out = ewma_features(df, "user", ["ts"], "value", alpha=1e-6).collect()
        for r in out:
            assert 0.0 <= r.ewma <= 39.0


class TestQuantileBins:
    def test_population_error_band_and_order(self, spark):
        """Sketch bins approximate equal counts: every decile's
        population within 2% of n/10 on near-unique values, and bin
        order exact (values in bin b never exceed values in b+1)."""
        from h3_indexer_spark.operators.features import quantile_bins

        from tests.conftest import SF_ORACLE

        li = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet").select(
            "l_extendedprice"
        )
        n = li.count()
        out = quantile_bins(li, "l_extendedprice", n_bins=10)
        pops = {
            r.bin: r.n
            for r in out.groupBy("bin").agg(F.count("*").alias("n")).collect()
        }
        assert set(pops) == set(range(1, 11))
        for b, cnt in pops.items():
            assert abs(cnt - n / 10) <= 0.02 * n, (b, cnt, n)
        edges = out.groupBy("bin").agg(
            F.min("l_extendedprice").alias("lo"),
            F.max("l_extendedprice").alias("hi"),
        ).collect()
        by_bin = {r.bin: r for r in edges}
        for b in range(1, 10):
            assert by_bin[b].hi <= by_bin[b + 1].lo


class TestMinMaxScale:
    def test_per_group_and_global(self, spark):
        df = spark.createDataFrame(
            [("x", 0.0), ("x", 5.0), ("x", 10.0), ("y", 3.0), ("y", 4.0)],
            ["g", "v"],
        )
        per_g = {
            (r.g, r.v): r.v_scaled
            for r in minmax_scale(df, "v", group_col="g").collect()
        }
        assert per_g[("x", 0.0)] == 0.0
        assert per_g[("x", 5.0)] == 0.5
        assert per_g[("x", 10.0)] == 1.0
        assert per_g[("y", 3.0)] == 0.0
        assert per_g[("y", 4.0)] == 1.0
        glob = {
            r.v: r.v_scaled for r in minmax_scale(df, "v").collect()
        }
        assert glob[0.0] == 0.0
        assert glob[10.0] == 1.0
        assert glob[5.0] == 0.5

    def test_degenerate_group_maps_to_half(self, spark):
        df = spark.createDataFrame([("x", 7.0), ("x", 7.0)], ["g", "v"])
        for r in minmax_scale(df, "v", group_col="g").collect():
            assert r.v_scaled == 0.5

    def test_broadcast_no_fact_shuffle(self, spark):
        df = spark.createDataFrame([("x", 1.0), ("x", 2.0)], ["g", "v"])
        plan = (
            minmax_scale(df, "v", group_col="g")
            ._jdf.queryExecution()
            .explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted")
            )
        )
        tree = plan.split("(1) Scan")[0]
        assert "BroadcastHashJoin" in tree, plan
        assert "SortMergeJoin" not in tree, plan

    def test_broadcast_guard_degrades_above_threshold(
        self, spark, monkeypatch
    ):
        """Past BROADCAST_GROUP_LIMIT distinct groups the stats join
        must NOT carry a broadcast hint — it degrades to a plain
        equi-join (driver-OOM-safe) instead. Below the threshold the
        hint stays. Asserted on the optimized logical plan, where the
        explicit hint shows as a broadcast join strategy on the stats
        side regardless of what AQE later picks."""
        from h3_indexer_spark.operators import features as FE

        df = (
            spark.range(40)
            .withColumn("g", F.col("id") % 20)
            .withColumn("v", F.col("id").cast("double"))
        )

        def optimized(res):
            return str(res._jdf.queryExecution().optimizedPlan())

        # 20 groups <= limit: hint present
        monkeypatch.setattr(FE, "BROADCAST_GROUP_LIMIT", 1000)
        assert "strategy=broadcast" in optimized(
            FE.standardize(df, "v", group_col="g")
        )
        # 20 groups > limit of 5: hint gone, plain join
        monkeypatch.setattr(FE, "BROADCAST_GROUP_LIMIT", 5)
        assert "strategy=broadcast" not in optimized(
            FE.standardize(df, "v", group_col="g")
        )

    def test_guarded_paths_agree(self, spark, monkeypatch):
        """Both sides of the guard compute identical results."""
        from h3_indexer_spark.operators import features as FE

        df = (
            spark.range(30)
            .withColumn("g", F.col("id") % 10)
            .withColumn("v", (F.col("id") * 3 % 7).cast("double"))
        )
        monkeypatch.setattr(FE, "BROADCAST_GROUP_LIMIT", 2)
        shuffled = {
            (r.id, r.v_z)
            for r in FE.standardize(df, "v", group_col="g").collect()
        }
        monkeypatch.setattr(FE, "BROADCAST_GROUP_LIMIT", 100_000)
        broadcasted = {
            (r.id, r.v_z)
            for r in FE.standardize(df, "v", group_col="g").collect()
        }
        assert shuffled == broadcasted


class TestImputeOneHot:
    def test_impute_mean_and_median_and_all_null_group(self, spark):
        from h3_indexer_spark.operators.features import impute

        df = spark.createDataFrame(
            [("g", 1.0), ("g", 3.0), ("g", None),
             ("h", None), ("h", None)],
            "grp string, x double",
        )
        mean_out = {
            (r.grp, r.x): r.x_imputed
            for r in impute(df, "x", "mean", "grp").collect()
        }
        assert mean_out[("g", None)] == 2.0
        # all-null group stays null rather than inventing a value
        assert mean_out[("h", None)] is None
        med = impute(
            spark.createDataFrame(
                [("g", 1.0), ("g", 2.0), ("g", 9.0), ("g", None)],
                "grp string, x double",
            ),
            "x", "median", "grp",
        ).collect()
        assert {r.x_imputed for r in med} == {1.0, 2.0, 9.0}
        assert [r.x_imputed for r in med if r.x is None] == [2.0]

    def test_one_hot_oov_and_null(self, spark):
        from h3_indexer_spark.operators.features import one_hot

        df = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "zzz"), (4, None)],
            "id long, cat string",
        )
        out = {
            r.id: (r.cat_a, r.cat_b)
            for r in one_hot(df, "cat", ["a", "b"]).collect()
        }
        assert out == {1: (1, 0), 2: (0, 1), 3: (0, 0), 4: (0, 0)}


