"""Round-6 operators: row-level MERGE (merge_by_key)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from h3_indexer_spark.operators.relational import merge_by_key


def _target(spark):
    return spark.createDataFrame(
        [
            Row(k=1, v="a", n=10),
            Row(k=2, v="b", n=20),
            Row(k=3, v="c", n=30),
        ]
    )


def test_merge_update_insert_delete(spark):
    src = spark.createDataFrame(
        [
            Row(k=2, v="B2", n=200, deleted=False),  # update
            Row(k=3, v=None, n=None, deleted=True),  # delete
            Row(k=4, v="d", n=40, deleted=False),  # insert
            Row(k=9, v=None, n=None, deleted=True),  # tombstone no-op
        ]
    )
    out = merge_by_key(_target(spark), src, ["k"], delete_col="deleted")
    got = {r["k"]: (r["v"], r["n"]) for r in out.collect()}
    assert got == {1: ("a", 10), 2: ("B2", 200), 4: ("d", 40)}


def test_merge_null_source_value_wins(spark):
    """Matching is presence-based, not COALESCE — a matched source row
    with a legitimately-NULL value must overwrite the target value."""
    src = spark.createDataFrame(
        [(1, None, 99)], schema="k bigint, v string, n bigint"
    )
    out = merge_by_key(_target(spark), src, ["k"])
    got = {r["k"]: (r["v"], r["n"]) for r in out.collect()}
    assert got[1] == (None, 99)
    assert got[2] == ("b", 20) and got[3] == ("c", 30)


def test_merge_idempotent(spark):
    src = spark.createDataFrame(
        [Row(k=2, v="B2", n=200, deleted=False),
         Row(k=4, v="d", n=40, deleted=False)]
    )
    once = merge_by_key(_target(spark), src, ["k"], delete_col="deleted")
    twice = merge_by_key(once, src, ["k"], delete_col="deleted")
    assert sorted(map(tuple, once.collect())) == sorted(
        map(tuple, twice.collect())
    )


def test_merge_value_cols_subset_and_extra_source_cols(spark):
    """value_cols defaults to the intersection of non-key columns;
    source-only columns (audit fields) must not leak into the output."""
    src = spark.createDataFrame([Row(k=2, n=200, batch_id="b7")])
    out = merge_by_key(_target(spark), src, ["k"])
    assert set(out.columns) == {"k", "n"}
    got = {r["k"]: r["n"] for r in out.collect()}
    assert got == {1: 10, 2: 200, 3: 30}


def test_merge_bucketed_zero_exchange(spark, tmp_path):
    """The 100 TB nightly-merge plan: both sides bucketed on the key →
    the full-outer join runs with ZERO Exchange (the files carry the
    hash partitioning)."""
    from h3_indexer_spark.sources.writers import write_bucketed_table

    spark.sql("DROP TABLE IF EXISTS m6_tgt")
    spark.sql("DROP TABLE IF EXISTS m6_src")
    tgt = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("n")
    )
    src = spark.range(0, 1000, 3).select(
        F.col("id").alias("k"), (F.col("id") * 7).alias("n")
    )
    write_bucketed_table(tgt, "m6_tgt", "k", n_buckets=8)
    write_bucketed_table(src, "m6_src", "k", n_buckets=8)
    out = merge_by_key(
        spark.table("m6_tgt"), spark.table("m6_src"), ["k"]
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    got = {r["k"]: r["n"] for r in out.collect()}
    assert len(got) == 1000
    assert got[3] == 21 and got[4] == 8
    spark.sql("DROP TABLE IF EXISTS m6_tgt")
    spark.sql("DROP TABLE IF EXISTS m6_src")


class TestProductQuantization:
    """PQ ANN (operators/pq.py): numpy equivalence + recall bound."""

    def _emb(self, spark):
        from tests.conftest import SF_ORACLE

        from h3_indexer_spark.sources.readers import read_parquet

        return read_parquet(spark, f"{SF_ORACLE}/embeddings.parquet")

    def test_encode_adc_numpy_equivalence(self, spark):
        """pq_encode + pq_adc_topk must reproduce a direct numpy PQ
        computation bit-for-bit on the same codebooks."""
        import numpy as np

        from h3_indexer_spark.operators.pq import (
            pq_adc_topk,
            pq_encode,
            pq_train,
        )

        emb = self._emb(spark)
        books = pq_train(emb, m=8, nbits=4, sample=128, iters=5)
        rows = emb.select("vec_id", "embedding").collect()
        ids = np.array([r[0] for r in rows])
        x = np.asarray([r[1] for r in rows], dtype=np.float64)
        q = x[7].tolist()

        m, ksub, dsub = books.shape
        codes = np.empty((len(x), m), dtype=np.int64)
        lut = np.empty((m, ksub))
        qv = np.asarray(q)
        for j in range(m):
            sub = x[:, j * dsub : (j + 1) * dsub]
            d2 = (
                -2.0 * sub @ books[j].T
                + (books[j] * books[j]).sum(axis=1)[None, :]
            )
            codes[:, j] = d2.argmin(axis=1)
            diff = books[j] - qv[j * dsub : (j + 1) * dsub]
            lut[j] = (diff * diff).sum(axis=1)
        ref_dist = lut[np.arange(m), codes].sum(axis=1)

        enc = pq_encode(emb, books)
        got_codes = {
            r["vec_id"]: list(r["pq_code"])
            for r in enc.select("vec_id", "pq_code").collect()
        }
        for i, vid in enumerate(ids):
            assert got_codes[vid] == list(codes[i]), vid

        got = pq_adc_topk(enc, q, books, k=10).collect()
        order = np.lexsort((ids, ref_dist))[:10]
        assert [r["vec_id"] for r in got] == list(ids[order])
        for r, i in zip(got, order):
            assert r["adc_dist"] == ref_dist[i]

    def test_recall_bounds(self, spark):
        """The accuracy locks for the rows-only key, isolating each
        approximation layer (same query vector as the contract keys):

        1. QUANTIZATION loss: full-scan ADC top-10 vs exact brute
           cosine must keep recall >= 0.5 (measured 7/10 at sf0.01 for
           m=16 x 64 codewords).
        2. Given the SAME IVF candidate set (16 cells, probe 4),
           PQ-ranked top-10 vs exact-ranked top-10 must keep recall
           >= 0.5 — i.e. PQ does not destroy the IVF stage's result.

        End-to-end IVF-PQ vs brute is NOT bounded here: the coarse
        sampled-centroid prune itself has ~0.1 recall on this
        unclustered random fixture (the same is true of q_knn_ivf,
        whose oracle mirrors the prune rather than claiming brute
        recall); on clustered real-world embeddings the IVF stage is
        the standard trade, and this test pins the part PQ adds."""
        from h3_indexer_spark.operators.pq import (
            pq_adc_topk,
            pq_encode,
            pq_train,
        )
        from h3_indexer_spark.operators.similarity import (
            cosine_topk_brute,
            ivf_assign,
            sampled_centroids,
        )
        from h3_indexer_spark.queries import _query_vector

        import numpy as np

        emb = self._emb(spark)
        q = _query_vector()
        books = pq_train(emb, m=16, nbits=6, sample=500)
        enc = pq_encode(emb, books)
        full_adc = {
            r["vec_id"]
            for r in pq_adc_topk(enc, q, books, k=10).collect()
        }
        exact = {
            r["vec_id"]
            for r in cosine_topk_brute(emb, q, k=10).collect()
        }
        assert len(full_adc & exact) / 10.0 >= 0.5, (full_adc, exact)

        cents = sampled_centroids(emb, n_cells=16)
        qv = np.asarray(q)
        scores = [float(qv @ np.asarray(c)) for c in cents]
        probe = sorted(range(16), key=lambda i: -scores[i])[:4]
        cand = ivf_assign(emb, cents).where(
            F.col("ivf_cell").isin(*probe)
        )
        ivf_exact = {
            r["vec_id"]
            for r in cosine_topk_brute(cand, q, k=10).collect()
        }
        ivf_pq = {
            r["vec_id"]
            for r in pq_adc_topk(
                pq_encode(cand, books), q, books, k=10
            ).collect()
        }
        assert len(ivf_pq & ivf_exact) / 10.0 >= 0.5, (
            ivf_pq,
            ivf_exact,
        )

    def test_codes_shape_and_determinism(self, spark):
        from h3_indexer_spark.operators.pq import pq_encode, pq_train

        emb = self._emb(spark)
        books = pq_train(emb, m=8, nbits=4, sample=64, iters=3)
        assert books.shape == (8, 16, 8)
        enc1 = sorted(
            (r["vec_id"], tuple(r["pq_code"]))
            for r in pq_encode(emb, books).select(
                "vec_id", "pq_code"
            ).collect()
        )
        enc2 = sorted(
            (r["vec_id"], tuple(r["pq_code"]))
            for r in pq_encode(emb, books).select(
                "vec_id", "pq_code"
            ).collect()
        )
        assert enc1 == enc2
        for _, code in enc1[:50]:
            assert len(code) == 8
            assert all(0 <= c < 16 for c in code)


class TestAnalyticsR6:
    def test_ab_test_matches_numpy(self, spark):
        import numpy as np

        from h3_indexer_spark.operators.analytics import ab_test_zscore

        vals_c = [1.0, 2.0, 3.0, 4.0]
        vals_t = [2.5, 3.5, 4.5]
        rows = [("control", v) for v in vals_c] + [
            ("treatment", v) for v in vals_t
        ]
        df = spark.createDataFrame(rows, ["arm", "v"])
        r = ab_test_zscore(df, "arm", "v", "control", "treatment").collect()[0]
        c = np.array(vals_c)
        t = np.array(vals_t)
        assert r["n_control"] == 4 and r["n_treatment"] == 3
        assert abs(r["mean_control"] - c.mean()) < 1e-12
        assert abs(r["mean_treatment"] - t.mean()) < 1e-12
        se = (t.var(ddof=1) / len(t) + c.var(ddof=1) / len(c)) ** 0.5
        z = (t.mean() - c.mean()) / se
        assert abs(r["z_score"] - z) < 1e-9

    def test_ab_test_small_arm_null_z(self, spark):
        from h3_indexer_spark.operators.analytics import ab_test_zscore

        df = spark.createDataFrame(
            [("control", 1.0), ("control", 2.0), ("treatment", 5.0)],
            ["arm", "v"],
        )
        r = ab_test_zscore(df, "arm", "v", "control", "treatment").collect()[0]
        assert r["z_score"] is None
        assert r["n_treatment"] == 1

    def test_period_over_period_semantics(self, spark):
        from h3_indexer_spark.operators.analytics import period_over_period

        day = 86_400 * 10**9
        rows = [
            (0 * day, 10.0),
            (1 * day, 20.0),  # period 0: 30
            (8 * day, 45.0),  # period 1: 45
            (22 * day, 9.0),  # period 3: 9 (period 2 missing)
        ]
        df = spark.createDataFrame(rows, ["ts", "value"])
        got = {
            r["period"]: (r["total"], r["prev_total"], r["pct_change"])
            for r in period_over_period(df).collect()
        }
        assert got[0] == (30.0, None, None)
        assert got[1] == (45.0, 30.0, 0.5)
        # gap: prev is the previous EXISTING period
        assert got[3] == (9.0, 45.0, (9.0 - 45.0) / 45.0)

    def test_label_future_window(self, spark):
        from pyspark.sql import functions as F

        from h3_indexer_spark.operators.features import label_future_event

        rows = [
            (1, 0, "view"),
            (1, 3, "purchase"),
            (1, 11, "view"),
            (1, 12, "purchase"),
            (2, 0, "view"),
            (2, 9, "purchase"),
        ]
        df = spark.createDataFrame(rows, ["user_id", "day", "event_type"])
        got = {
            (r["user_id"], r["day"]): (r["has_target"], r["label"])
            for r in label_future_event(
                df, F.col("event_type") == "purchase"
            ).collect()
        }
        # u1 d0: purchase on d3 within (0, 7] -> label 1
        assert got[(1, 0)] == (0, 1)
        # u1 d3: has purchase itself; next purchase d12 > d3+7 -> 0
        assert got[(1, 3)] == (1, 0)
        assert got[(1, 11)] == (0, 1)
        assert got[(1, 12)] == (1, 0)
        # u2 d0: purchase on d9 outside horizon -> 0
        assert got[(2, 0)] == (0, 0)
        assert got[(2, 9)] == (1, 0)

    def test_quantile_normalize_uniform(self, spark):
        from h3_indexer_spark.operators.features import quantile_normalize

        df = spark.createDataFrame(
            [(i, float(100 - i)) for i in range(10)], ["id", "v"]
        )
        got = sorted(
            (r["id"], r["q_uniform"])
            for r in quantile_normalize(
                df, "v", tiebreak_col="id"
            ).collect()
        )
        # id 9 has smallest v -> rank 1 -> 0.05; id 0 largest -> 0.95
        assert got[9][1] == 0.05
        assert got[0][1] == 0.95
        us = sorted(u for _, u in got)
        assert us == [(i + 0.5) / 10.0 for i in range(10)]


class TestH3RadiusJoin:
    def test_exact_parity_with_brute_force(self, spark):
        """The bucketed plan must return EXACTLY the brute-force pair
        set (recall AND precision) on a random fixture — the certain-
        recall lock for the 0.7-edge resolution rule."""
        import numpy as np

        from h3_indexer_spark.operators.geo_join import (
            h3_self_radius_join,
            pick_res_for_radius,
        )

        rng = np.random.default_rng(11)
        n = 400
        lat = 43.0 + rng.random(n) * 1.5
        lng = -71.0 + rng.random(n) * 1.5
        df = spark.createDataFrame(
            [(i, float(lat[i]), float(lng[i])) for i in range(n)],
            "id bigint, lat double, lng double",
        )
        radius = 4.0
        assert pick_res_for_radius(radius) == 5
        got = {
            (r["l_id"], r["r_id"])
            for r in h3_self_radius_join(df, radius).collect()
        }
        # numpy brute force with the same haversine
        c = 0.017453292519943295
        la, lo = lat * c, lng * c
        dlat = (la[None, :] - la[:, None]) / 2.0
        dlng = (lo[None, :] - lo[:, None]) / 2.0
        a = (
            np.sin(dlat) ** 2
            + np.cos(la[:, None]) * np.cos(la[None, :]) * np.sin(dlng) ** 2
        )
        d = 2.0 * 6371.0088 * np.arcsin(np.minimum(1.0, np.sqrt(a)))
        ii, jj = np.where((d <= radius) & (np.arange(n)[:, None] < np.arange(n)[None, :]))
        want = set(zip(ii.tolist(), jj.tolist()))
        assert got == want
        assert len(want) > 50  # non-vacuous fixture

    def test_contract_margins_safe(self, spark):
        """The q_h3_radius_join contract survives 1-ulp trig divergence
        only if no pair sits at the 5 km filter boundary or a
        floor-meter boundary. Assert both margins are >= 1e-6 km
        (~7 orders above ulp scale) on the current testdata."""
        from tests.conftest import SF_ORACLE

        import numpy as np

        from h3_indexer_spark.queries import load

        pts = (
            load(spark, SF_ORACLE, "customer")
            .select("c_custkey")
            .collect()
        )
        keys = np.array([r[0] for r in pts], dtype=np.int64)
        lat = 40.0 + (keys * 2654435761 % 100000).astype(float) / 50000.0
        lng = -100.0 + (keys * 40503 % 100000).astype(float) / 50000.0
        c = 0.017453292519943295
        la, lo = lat * c, lng * c
        dlat = (la[None, :] - la[:, None]) / 2.0
        dlng = (lo[None, :] - lo[:, None]) / 2.0
        a = (
            np.sin(dlat) ** 2
            + np.cos(la[:, None]) * np.cos(la[None, :]) * np.sin(dlng) ** 2
        )
        d = 2.0 * 6371.0088 * np.arcsin(np.minimum(1.0, np.sqrt(a)))
        iu = np.triu_indices(len(keys), 1)
        dv = d[iu]
        assert np.abs(dv - 5.0).min() > 1e-6, "pair at filter boundary"
        inside = dv[dv <= 5.0]
        m = inside * 1000.0
        frac = np.abs(m - np.round(m))
        # floor flips when the value sits ON an integer meter boundary
        assert frac.min() > 1e-6, "pair at floor-meter boundary"
        assert len(inside) > 100

    def test_res_too_fine_rejected(self, spark):
        from h3_indexer_spark.operators.geo_join import h3_radius_join

        df = spark.createDataFrame(
            [(1, 40.0, -100.0)], "id bigint, lat double, lng double"
        )
        with pytest.raises(ValueError, match="too fine"):
            h3_radius_join(df, df, 5.0, res=9)


class TestIncrementalAgg:
    def test_update_equals_recompute_with_migration(self, spark):
        """Maintained state after a diff (updates + inserts + deletes +
        GROUP MIGRATIONS) must equal a full recompute bit-for-bit."""
        from h3_indexer_spark.operators.relational import (
            finalize_grouped_sum,
            grouped_sum_state,
            snapshot_diff,
            update_grouped_sum,
        )

        old_rows = [
            (1, "a", 10.5), (2, "a", 1.25), (3, "b", 7.0),
            (4, "b", 2.0), (5, "c", 9.0),
        ]
        new_rows = [
            (1, "a", 10.5),        # unchanged
            (2, "b", 1.25),        # group migration a -> b
            (3, "b", 8.5),         # value change
            (5, "c", 9.0),         # unchanged; key 4 deleted
            (6, "d", 3.75),        # insert into a NEW group
        ]
        schema = "k bigint, g string, v double"
        old = spark.createDataFrame(old_rows, schema)
        new = spark.createDataFrame(new_rows, schema)
        diff = snapshot_diff(old, new, ["k"], ["g", "v"])
        state = grouped_sum_state(old, "g", "v")
        got = {
            r["g"]: (r["n_rows"], r["sum_v"])
            for r in finalize_grouped_sum(
                update_grouped_sum(state, diff, "g", "v")
            ).collect()
        }
        want = {
            r["g"]: (r["n_rows"], r["sum_v"])
            for r in finalize_grouped_sum(
                grouped_sum_state(new, "g", "v")
            ).collect()
        }
        assert got == want
        assert set(got) == {"a", "b", "c", "d"}

    def test_emptied_group_dropped(self, spark):
        from h3_indexer_spark.operators.relational import (
            grouped_sum_state,
            snapshot_diff,
            update_grouped_sum,
        )

        schema = "k bigint, g string, v double"
        old = spark.createDataFrame([(1, "a", 5.0), (2, "b", 1.0)], schema)
        new = spark.createDataFrame([(2, "b", 1.0)], schema)
        diff = snapshot_diff(old, new, ["k"], ["g", "v"])
        out = update_grouped_sum(
            grouped_sum_state(old, "g", "v"), diff, "g", "v"
        )
        assert [r["g"] for r in out.collect()] == ["b"]


class TestPsiDrift:
    def test_psi_matches_numpy(self, spark):
        import numpy as np

        from h3_indexer_spark.operators.analytics import psi_drift

        rng = np.random.default_rng(5)
        a = rng.normal(100, 30, 400)
        b = rng.normal(120, 30, 300)
        old = spark.createDataFrame(
            [(float(x),) for x in a], "v double"
        )
        new = spark.createDataFrame(
            [(float(x),) for x in b], "v double"
        )
        breaks = [70.0, 100.0, 130.0]
        got = {
            r["bucket"]: r
            for r in psi_drift(old, new, "v", breaks).collect()
        }
        edges = [-np.inf] + breaks + [np.inf]
        for i in range(4):
            n_old = int(((a >= edges[i]) & (a < edges[i + 1])).sum())
            n_new = int(((b >= edges[i]) & (b < edges[i + 1])).sum())
            r = got[i]
            assert (r["n_old"], r["n_new"]) == (n_old, n_new)
            p, q = n_old / 400.0, n_new / 300.0
            if n_old and n_new:
                assert abs(r["psi_term"] - (p - q) * np.log(p / q)) < 1e-9
        # shares sum to 1
        assert abs(sum(r["p_old"] for r in got.values()) - 1.0) < 1e-12

    def test_empty_bucket_null_term(self, spark):
        from h3_indexer_spark.operators.analytics import psi_drift

        old = spark.createDataFrame([(1.0,), (2.0,)], "v double")
        new = spark.createDataFrame([(10.0,), (11.0,)], "v double")
        rows = {r["bucket"]: r for r in psi_drift(
            old, new, "v", [5.0]
        ).collect()}
        assert rows[0]["psi_term"] is None
        assert rows[1]["psi_term"] is None
        assert rows[0]["n_old"] == 2 and rows[0]["n_new"] == 0


class TestCupedWinsorWeightedMedian:
    def test_cuped_matches_numpy(self, spark):
        import numpy as np

        from h3_indexer_spark.operators.analytics import cuped_ab_test

        rng = np.random.default_rng(3)
        x = rng.normal(50, 10, 200)
        noise = rng.normal(0, 5, 200)
        y = 3.0 * x + noise
        arm = np.where(np.arange(200) % 2 == 0, "control", "treatment")
        y[arm == "treatment"] += 2.0
        rows = [
            (str(arm[i]), float(round(y[i], 4)), float(round(x[i], 4)))
            for i in range(200)
        ]
        df = spark.createDataFrame(rows, "arm string, y double, x double")
        r = cuped_ab_test(df, "arm", "y", "x", "control", "treatment").collect()[0]
        ya = np.array([v for _, v, _ in rows])
        xa = np.array([v for _, _, v in rows])
        aa = np.array([a for a, _, _ in rows])
        theta = np.cov(xa, ya, ddof=1)[0, 1] / np.var(xa, ddof=1)
        assert abs(r["theta"] - theta) < 1e-6
        adj = ya - theta * (xa - xa.mean())
        mc, mt = adj[aa == "control"].mean(), adj[aa == "treatment"].mean()
        assert abs(r["mean_control_adj"] - mc) < 1e-9
        assert abs(r["mean_treatment_adj"] - mt) < 1e-9
        se = (
            adj[aa == "treatment"].var(ddof=1) / (aa == "treatment").sum()
            + adj[aa == "control"].var(ddof=1) / (aa == "control").sum()
        ) ** 0.5
        assert abs(r["z_score"] - (mt - mc) / se) < 1e-6
        # CUPED must actually reduce variance vs the raw readout here
        raw_se = (
            ya[aa == "treatment"].var(ddof=1) / 100
            + ya[aa == "control"].var(ddof=1) / 100
        ) ** 0.5
        assert se < raw_se / 3

    def test_winsorize_clips_to_exact_quantiles(self, spark):
        import numpy as np

        from h3_indexer_spark.operators.features import winsorize

        vals = [float(v) for v in range(101)]  # 0..100
        df = spark.createDataFrame([(v,) for v in vals], "v double")
        out = winsorize(df, "v", lower=0.1, upper=0.9).collect()
        got = sorted(r["v_w"] for r in out)
        lo, hi = np.quantile(np.array(vals), [0.1, 0.9])
        assert got[0] == lo and got[-1] == hi
        assert got.count(lo) == 11 and got.count(hi) == 11
        assert got[50] == 50.0

    def test_weighted_median_semantics(self, spark):
        from h3_indexer_spark.operators.relational import weighted_median

        rows = [
            ("a", 1.0, 1.0), ("a", 2.0, 1.0), ("a", 3.0, 10.0),
            ("b", 5.0, 1.0), ("b", 7.0, 1.0),
            ("c", 9.0, 2.0), ("c", 4.0, 0.0),  # zero weight excluded
        ]
        df = spark.createDataFrame(rows, "g string, v double, w double")
        got = {
            r["g"]: r["w_median"]
            for r in weighted_median(df, "v", "w", ["g"]).collect()
        }
        assert got["a"] == 3.0  # weight mass sits at 3
        assert got["b"] == 5.0  # lower median on even split
        assert got["c"] == 9.0


class TestCodeReviewFixes:
    """Regression locks for the round-6 code-review findings."""

    def test_pick_res_raises_beyond_res0(self):
        from h3_indexer_spark.operators.geo_join import (
            pick_res_for_radius,
        )

        with pytest.raises(ValueError, match="res-0"):
            pick_res_for_radius(1000.0)

    def test_label_future_all_null_target_is_zero(self, spark):
        from h3_indexer_spark.operators.features import label_future_event

        df = spark.createDataFrame(
            [(1, 0, None), (1, 3, "purchase")],
            "user_id bigint, day bigint, event_type string",
        )
        got = {
            (r["user_id"], r["day"]): (r["has_target"], r["label"])
            for r in label_future_event(
                df, F.col("event_type") == "purchase"
            ).collect()
        }
        assert got[(1, 0)] == (0, 1)  # NULL-only day flags 0, not NULL

    def test_psi_rejects_unsorted_breaks(self, spark):
        from h3_indexer_spark.operators.analytics import psi_drift

        df = spark.createDataFrame([(1.0,)], "v double")
        with pytest.raises(ValueError, match="ascending"):
            psi_drift(df, df, "v", [300.0, 150.0])
        with pytest.raises(ValueError, match="ascending"):
            psi_drift(df, df, "v", [150.0, 150.0])
        with pytest.raises(ValueError, match="ascending"):
            psi_drift(df, df, "v", [])


class TestKRingRadiusJoin:
    def test_k2_finer_res_exact_parity(self, spark):
        """Ring-2 expansion at a finer resolution returns the identical
        pair set as ring-1 at the auto resolution (both must equal the
        brute-force set — recall stays certain while candidate volume
        per cell shrinks)."""
        import numpy as np

        from h3_indexer_spark.operators.geo_join import (
            h3_self_radius_join,
            pick_res_for_radius,
        )

        rng = np.random.default_rng(23)
        n = 250
        lat = 37.0 + rng.random(n) * 1.0
        lng = 5.0 + rng.random(n) * 1.0
        df = spark.createDataFrame(
            [(i, float(lat[i]), float(lng[i])) for i in range(n)],
            "id bigint, lat double, lng double",
        )
        radius = 4.0
        assert pick_res_for_radius(radius, k=1) == 5
        assert pick_res_for_radius(radius, k=2) == 6
        p1 = {
            (r["l_id"], r["r_id"])
            for r in h3_self_radius_join(df, radius, k=1).collect()
        }
        p2 = {
            (r["l_id"], r["r_id"])
            for r in h3_self_radius_join(df, radius, k=2).collect()
        }
        assert p1 == p2
        assert len(p1) > 20

    def test_continental_radius_possible_with_k(self):
        from h3_indexer_spark.operators.geo_join import (
            pick_res_for_radius,
        )

        # 1000 km impossible at k=1, fine at k=2 (res 0)
        assert pick_res_for_radius(1000.0, k=2) == 0


class TestTargetEncodeSampleChangepoint:
    def test_target_encode_matches_numpy(self, spark):
        import numpy as np

        from h3_indexer_spark.operators.features import target_encode

        rows = [
            ("a", 10.0), ("a", 20.0), ("a", 30.0),
            ("b", 100.0), ("b", None),
            ("c", 50.0),
        ]
        df = spark.createDataFrame(rows, "cat string, y double")
        m = 2.0
        ys = [v for _, v in rows if v is not None]
        prior = float(np.mean(ys))
        out = target_encode(df, "cat", "y", smoothing=m).collect()
        for r in out:
            grp = [v for c, v in rows if c == r["cat"] and v is not None]
            want = (sum(grp) + m * prior) / (len(grp) + m)
            assert abs(r["cat_enc"] - want) < 1e-12, r

        loo = target_encode(
            df, "cat", "y", smoothing=m, leave_one_out=True
        ).collect()
        for r in loo:
            grp = [v for c, v in rows if c == r["cat"] and v is not None]
            if r["y"] is None:
                want = (sum(grp) + m * prior) / (len(grp) + m)
            else:
                want = (sum(grp) - r["y"] + m * prior) / (
                    len(grp) - 1 + m
                )
            assert abs(r["cat_enc"] - want) < 1e-12, r

    def test_sample_per_group_stable_under_growth(self, spark):
        """Adding rows to a group must never CHANGE which of the
        original rows rank first — only displace the tail (the
        growth-stability that makes the sample reproducible)."""
        from h3_indexer_spark.operators.curation import sample_per_group

        base = spark.createDataFrame(
            [(i, "g") for i in range(40)], "id bigint, g string"
        )
        grown = spark.createDataFrame(
            [(i, "g") for i in range(80)], "id bigint, g string"
        )
        s1 = {r["id"] for r in sample_per_group(base, "g", 5, "id").collect()}
        s2 = {r["id"] for r in sample_per_group(grown, "g", 5, "id").collect()}
        # every survivor of the grown sample that is an ORIGINAL id
        # must also be a survivor of the base sample
        assert {i for i in s2 if i < 40} <= s1
        assert len(s1) == 5 and len(s2) == 5
        # salt draws a different sample
        s3 = {
            r["id"]
            for r in sample_per_group(
                grown, "g", 5, "id", salt="x"
            ).collect()
        }
        assert s3 != s2

    def test_changepoint_finds_level_shift(self, spark):
        from h3_indexer_spark.operators.analytics import changepoint_cusum

        rows = []
        for i in range(20):
            v = 1.0 if i < 12 else 9.0  # shift after index 12
            rows.append((1, i * 1000, i, v))
        # entity 2: pure constant — every |T| equal (0), earliest wins
        for i in range(5):
            rows.append((2, i * 1000, 100 + i, 4.0))
        df = spark.createDataFrame(
            rows, "user_id bigint, ts bigint, event_id bigint, value double"
        )
        got = {
            r["user_id"]: (r["n_obs"], r["cp_index"], r["max_dev"])
            for r in changepoint_cusum(
                df, "user_id", ["ts", "event_id"], "value"
            ).collect()
        }
        n, cp, dev = got[1]
        assert (n, cp) == (20, 12)
        # S_12 = 12*(1 - mean); mean = (12*1+8*9)/20 = 4.2 -> |S|=38.4
        assert abs(dev - 38.4) < 1e-9
        assert got[2] == (5, 1, 0.0)


class TestPointInPolygonJoin:
    def test_general_polygons_match_numpy_brute(self, spark):
        """Non-rectangular polygons (triangle + hexagon-with-hole):
        the bucketed join must equal a brute-force even-odd test."""
        import numpy as np

        from h3_indexer_spark.functions.h3.coverage import (
            _points_in_ring_v,
        )
        from h3_indexer_spark.operators.geo_join import (
            point_in_polygon_join,
        )

        rng = np.random.default_rng(17)
        n = 500
        lat = 40.0 + rng.random(n) * 1.2
        lng = -100.0 + rng.random(n) * 1.2
        pts = spark.createDataFrame(
            [(i, float(lat[i]), float(lng[i])) for i in range(n)],
            "id bigint, lat double, lng double",
        )
        tri = [(-99.9, 40.1), (-99.1, 40.2), (-99.5, 41.0)]
        hexa = [
            (-99.4, 40.3), (-99.0, 40.5), (-99.0, 40.9),
            (-99.4, 41.1), (-99.8, 40.9), (-99.8, 40.5),
        ]
        hole = [(-99.5, 40.6), (-99.3, 40.6), (-99.3, 40.8), (-99.5, 40.8)]

        def wkt_ring(r):
            return ", ".join(f"{x} {y}" for x, y in r + [r[0]])

        polys = spark.createDataFrame(
            [
                (1, f"POLYGON (({wkt_ring(tri)}))"),
                (2, f"POLYGON (({wkt_ring(hexa)}), ({wkt_ring(hole)}))"),
            ],
            "poly_id bigint, geom_wkt string",
        )
        got = {
            (r["pt_id"], r["pg_poly_id"])
            for r in point_in_polygon_join(pts, polys, res=6).collect()
        }
        want = set()
        for pid_, ring, holes in ((1, tri, []), (2, hexa, [hole])):
            inside = _points_in_ring_v(lng, lat, ring)
            for h in holes:
                inside &= ~_points_in_ring_v(lng, lat, h)
            want |= {(int(i), pid_) for i in np.where(inside)[0]}
        assert got == want
        assert len(want) > 30

    def test_contract_edge_margins(self, spark):
        """No fixture point may sit within 1e-9 deg of any rectangle
        edge — the guard that keeps strict-vs-inclusive edge handling
        (and the even-odd ray-cast) unambiguous across engines."""
        import numpy as np

        from tests.conftest import SF_ORACLE

        from h3_indexer_spark.queries import load

        keys = np.array(
            [
                r[0]
                for r in load(spark, SF_ORACLE, "customer")
                .select("c_custkey")
                .collect()
            ],
            dtype=np.int64,
        )
        lat = 40.0 + (keys * 2654435761 % 100000).astype(float) / 40000.0
        lng = -100.0 + (keys * 40503 % 100000).astype(float) / 40000.0
        edges_x, edges_y = [], []
        for k in range(25):
            x0 = -100.0 + (k % 5) * 0.5 + 0.000013
            y0 = 40.0 + (k // 5) * 0.5 + 0.000013
            edges_x += [x0, x0 + 0.45007]
            edges_y += [y0, y0 + 0.45007]
        dx = np.abs(lng[:, None] - np.array(edges_x)[None, :]).min()
        dy = np.abs(lat[:, None] - np.array(edges_y)[None, :]).min()
        assert min(dx, dy) > 1e-9, (dx, dy)

    def test_left_join_keeps_uncontained(self, spark):
        from h3_indexer_spark.operators.geo_join import (
            point_in_polygon_join,
        )

        pts = spark.createDataFrame(
            [(1, 40.5, -99.5), (2, 10.0, 10.0)],
            "id bigint, lat double, lng double",
        )
        polys = spark.createDataFrame(
            [(7, "POLYGON ((-99.9 40.1, -99.1 40.1, -99.1 40.9, "
                 "-99.9 40.9, -99.9 40.1))")],
            "poly_id bigint, geom_wkt string",
        )
        got = {
            r["pt_id"]: r["pg_poly_id"]
            for r in point_in_polygon_join(
                pts, polys, res=6, how="left"
            ).collect()
        }
        assert got == {1: 7, 2: None}


class TestReviewRound2Fixes:
    def test_target_encode_keeps_null_target_categories(self, spark):
        """A category with only NULL targets (and a NULL category) must
        keep its rows and encode to the global prior, matching the
        LEFT-JOIN oracle (review-2 finding #1)."""
        from h3_indexer_spark.operators.features import target_encode

        df = spark.createDataFrame(
            [("a", 10.0), ("a", 20.0), ("b", None), (None, 5.0)],
            "cat string, y double",
        )
        out = target_encode(df, "cat", "y", smoothing=2.0).collect()
        assert len(out) == 4
        prior = (10.0 + 20.0 + 5.0) / 3.0
        by_cat = {}
        for r in out:
            by_cat.setdefault(r["cat"], []).append(r["cat_enc"])
        assert by_cat["b"] == [prior]
        assert by_cat[None] == [prior]

    def test_pip_multipolygon(self, spark):
        from h3_indexer_spark.operators.geo_join import (
            point_in_polygon_join,
        )

        pts = spark.createDataFrame(
            [(1, 40.5, -99.5), (2, 41.5, -98.5), (3, 42.8, -95.0)],
            "id bigint, lat double, lng double",
        )
        mp = (
            "MULTIPOLYGON (((-99.9 40.1, -99.1 40.1, -99.1 40.9, "
            "-99.9 40.9, -99.9 40.1)), ((-98.9 41.1, -98.1 41.1, "
            "-98.1 41.9, -98.9 41.9, -98.9 41.1)))"
        )
        polys = spark.createDataFrame(
            [(7, mp)], "poly_id bigint, geom_wkt string"
        )
        got = {
            (r["pt_id"], r["pg_poly_id"])
            for r in point_in_polygon_join(pts, polys, res=6).collect()
        }
        assert got == {(1, 7), (2, 7)}


class TestPositionalAttributionRollingMedian:
    def test_credit_conserves_and_positions(self, spark):
        from h3_indexer_spark.operators.analytics import (
            attribution_positional,
        )

        rows = [
            # u1: three touches then purchase -> 0.4/0.2/0.4
            (1, 10, "view", 1), (1, 20, "click", 2), (1, 30, "view", 3),
            (1, 40, "purchase", 4),
            # u2: single touch -> 1.0
            (2, 10, "click", 5), (2, 20, "purchase", 6),
            # u3: two touches -> 0.5/0.5
            (3, 10, "view", 7), (3, 20, "click", 8),
            (3, 30, "purchase", 9),
            # u4: organic purchase -> no rows
            (4, 10, "purchase", 10),
        ]
        df = spark.createDataFrame(
            rows, "user_id bigint, ts bigint, event_type string, event_id bigint"
        )
        out = attribution_positional(
            df, "purchase", ["view", "click"]
        ).collect()
        by_user = {}
        for r in out:
            by_user.setdefault(r["user_id"], []).append(
                (r["position"], r["credit"])
            )
        assert sorted(by_user[1]) == [(1, 0.4), (2, 0.19999999999999996), (3, 0.4)]
        assert by_user[2] == [(1, 1.0)]
        assert sorted(by_user[3]) == [(1, 0.5), (2, 0.5)]
        assert 4 not in by_user
        # conservation: each conversion's credits sum to ~1
        import collections

        sums = collections.defaultdict(float)
        for r in out:
            sums[(r["user_id"], r["conv_ts"])] += r["credit"]
        for v in sums.values():
            assert abs(v - 1.0) < 1e-12

    def test_rolling_median_semantics(self, spark):
        from h3_indexer_spark.operators.features import rolling_median

        rows = [(1, i, i, float(v)) for i, v in enumerate([5, 1, 9, 3, 7, 100])]
        df = spark.createDataFrame(
            rows, "user_id bigint, ts bigint, event_id bigint, value double"
        )
        got = {
            r["ts"]: r["roll_median"]
            for r in rolling_median(
                df, "user_id", ["ts", "event_id"], "value", window=3
            ).collect()
        }
        assert got[0] == 5.0
        assert got[1] == 3.0   # median of (5,1) interpolated
        assert got[2] == 5.0   # (5,1,9)
        assert got[3] == 3.0   # (1,9,3)
        assert got[5] == 7.0   # (3,7,100) -> robust to the spike


class TestKCore:
    def test_matches_python_peeling(self, spark):
        """k_core must equal a brute-force peeling reference on a
        random graph, for several k."""
        import numpy as np

        from h3_indexer_spark.operators.graph import k_core

        rng = np.random.default_rng(9)
        n = 60
        pairs = {
            (int(a), int(b)) if a < b else (int(b), int(a))
            for a, b in rng.integers(0, n, size=(220, 2))
            if a != b
        }
        edges = spark.createDataFrame(
            [(a, b) for a, b in sorted(pairs)], "src bigint, dst bigint"
        )

        def ref_kcore(pairs, k):
            adj = {}
            for a, b in pairs:
                adj.setdefault(a, set()).add(b)
                adj.setdefault(b, set()).add(a)
            changed = True
            while changed:
                changed = False
                for v in list(adj):
                    if len(adj[v]) < k:
                        for u in adj.pop(v):
                            adj[u].discard(v)
                        changed = True
            return {v: len(ns) for v, ns in adj.items() if ns}

        for k in (2, 3, 4):
            got = {
                r["vertex"]: r["degree"]
                for r in k_core(edges, k).collect()
            }
            assert got == ref_kcore(pairs, k), k

    def test_triangle_is_2core_not_3core(self, spark):
        from h3_indexer_spark.operators.graph import k_core

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (1, 3), (3, 4)], "src bigint, dst bigint"
        )
        got2 = {r["vertex"] for r in k_core(edges, 2).collect()}
        assert got2 == {1, 2, 3}  # the pendant vertex 4 peels off
        assert k_core(edges, 3).count() == 0


def test_pip_edge_clipped_cell_with_outside_center(spark):
    """Regression: the sf0.1 oracle sweep found an inside-point whose
    res-6 cell the polygon's top edge clips, but whose cell CENTER
    sits outside — line_cells' 0.75-edge sampling skipped the cell
    and the cover (pre-fix) did no 1-ring expansion, so the
    candidate pair never formed. Pin the exact point/polygon."""
    from h3_indexer_spark.operators.geo_join import point_in_polygon_join

    # polygon 22 of the contract fixture grid at sf0.1
    x0 = -100.0 + 2 * 0.5 + 0.000013
    y0 = 40.0 + 4 * 0.5 + 0.000013
    x1, y1 = x0 + 0.45007, y0 + 0.45007
    wkt = (
        f"POLYGON (({x0} {y0}, {x1} {y0}, {x1} {y1}, "
        f"{x0} {y1}, {x0} {y0}))"
    )
    pts = spark.createDataFrame(
        [(11272, 42.4498, -98.7546)], "id bigint, lat double, lng double"
    )
    polys = spark.createDataFrame(
        [(22, wkt)], "poly_id bigint, geom_wkt string"
    )
    out = point_in_polygon_join(pts, polys, res=6).collect()
    assert [(r["pt_id"], r["pg_poly_id"]) for r in out] == [(11272, 22)]
