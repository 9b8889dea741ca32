"""Round-8 continuation operators: count-min sketch, KMV bottom-k,
Adamic-Adar link prediction, Mann-Whitney U, SCD Type-2 build,
one-pass correlation matrix, int8 embedding quantization — each
locked against an independent pure-Python reference (contract oracle
SQL lives in queries.py; these tests pin operator semantics)."""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

import numpy as np
import pytest


def _md5_60(prefix: str, value: str) -> int:
    """The shared portable hash: md5 hex chars [18, 33) base-16."""
    h = hashlib.md5((prefix + value).encode()).hexdigest()
    return int(h[17:32], 16)


class TestCountMin:
    _VALUES = (
        ["alpha"] * 40 + ["beta"] * 25 + ["gamma"] * 10
        + ["delta"] * 3 + ["epsilon"] * 1 + ["zeta"] * 7
    )

    def _py_registers(self, values, depth, width):
        regs = Counter()
        for v in values:
            for j in range(depth):
                regs[(j, _md5_60(f"cms{j}|", v) % width)] += 1
        return regs

    def test_registers_match_python_reference(self, spark):
        from h3_indexer_spark.operators.sketches import (
            count_min_registers,
        )

        df = spark.createDataFrame(
            [(v,) for v in self._VALUES], "val string"
        )
        got = {
            (r["depth"], r["bucket"]): r["cnt"]
            for r in count_min_registers(
                df, "val", depth=3, width=16
            ).collect()
        }
        assert got == dict(self._py_registers(self._VALUES, 3, 16))

    def test_estimate_one_sided_and_tight_when_unclashed(self, spark):
        """est >= exact for every key (the CMS guarantee); with a
        wide sketch and few keys, every estimate is exact."""
        from h3_indexer_spark.operators.sketches import (
            count_min_estimate,
            count_min_registers,
        )

        df = spark.createDataFrame(
            [(v,) for v in self._VALUES], "val string"
        )
        exact = Counter(self._VALUES)
        # narrow sketch: collisions expected, but never undercount
        regs = count_min_registers(df, "val", depth=2, width=8)
        keys = df.distinct()
        est = {
            r["key"]: r["est_count"]
            for r in count_min_estimate(
                regs, keys, "val", depth=2, width=8
            ).collect()
        }
        assert set(est) == set(exact)
        assert all(est[k] >= exact[k] for k in exact)
        # wide sketch: 6 keys in 4x512 registers collide with
        # negligible probability -> exact
        regs_w = count_min_registers(df, "val", depth=4, width=512)
        est_w = {
            r["key"]: r["est_count"]
            for r in count_min_estimate(
                regs_w, keys, "val", depth=4, width=512
            ).collect()
        }
        assert est_w == dict(exact)

    def test_weighted_counts(self, spark):
        from h3_indexer_spark.operators.sketches import (
            count_min_estimate,
            count_min_registers,
        )

        rows = [("x", 5), ("x", 7), ("y", 3)]
        df = spark.createDataFrame(rows, "val string, w long")
        regs = count_min_registers(
            df, "val", depth=4, width=512, weight_col="w"
        )
        est = {
            r["key"]: r["est_count"]
            for r in count_min_estimate(
                regs, df.select("val").distinct(), "val",
                depth=4, width=512,
            ).collect()
        }
        assert est == {"x": 12, "y": 3}

    def test_param_validation(self, spark):
        from h3_indexer_spark.operators.sketches import (
            count_min_registers,
        )

        df = spark.createDataFrame([("a",)], "val string")
        with pytest.raises(ValueError):
            count_min_registers(df, "val", depth=0)
        with pytest.raises(ValueError):
            count_min_registers(df, "val", width=4)


class TestKmv:
    def test_bottom_k_matches_python(self, spark):
        from h3_indexer_spark.operators.sketches import kmv_bottom_k

        vals = [f"u{i}" for i in range(200)] * 3  # dups collapse
        df = spark.createDataFrame([(v,) for v in vals], "val string")
        got = [
            (r["rank"], r["hash_val"])
            for r in kmv_bottom_k(df, "val", k=16)
            .orderBy("rank")
            .collect()
        ]
        want = sorted({_md5_60("", f"u{i}") for i in range(200)})[:16]
        assert got == [(i + 1, h) for i, h in enumerate(want)]

    def test_estimate_error_bound(self, spark):
        """RSE of the KMV estimator is ~1/sqrt(k-2); assert the
        relative error stays within 5 sigma on 5000 distinct keys."""
        from h3_indexer_spark.operators.sketches import kmv_distinct

        n = 5000
        df = spark.createDataFrame(
            [(f"id{i}",) for i in range(n)], "val string"
        )
        row = kmv_distinct(df, "val", k=256).collect()[0]
        assert row["n_kept"] == 256
        rel = abs(row["est_distinct"] - n) / n
        assert rel < 5.0 / math.sqrt(254), rel

    def test_small_sets_are_exact(self, spark):
        from h3_indexer_spark.operators.sketches import kmv_distinct

        df = spark.createDataFrame(
            [(f"v{i}",) for i in range(10)] * 2, "val string"
        )
        row = kmv_distinct(df, "val", k=64).collect()[0]
        assert row["n_kept"] == 10
        assert row["est_distinct"] == 10

def _py_adamic_adar(edges, min_common=1, max_degree=None, quant=1e9):
    adj = defaultdict(set)
    for s, d in edges:
        if s != d:
            adj[s].add(d)
            adj[d].add(s)
    deg = {v: len(ns) for v, ns in adj.items()}
    existing = {(min(s, d), max(s, d)) for s, d in edges if s != d}
    scores: dict[tuple, list] = {}
    for z, ns in adj.items():
        if deg[z] < 2:
            continue
        if max_degree is not None and deg[z] > max_degree:
            continue
        term = math.floor(quant / math.log(deg[z]))
        ns_sorted = sorted(ns)
        for i, u in enumerate(ns_sorted):
            for v in ns_sorted[i + 1:]:
                cur = scores.setdefault((u, v), [0, 0])
                cur[0] += 1
                cur[1] += term
    return {
        p: (c, a)
        for p, (c, a) in scores.items()
        if c >= min_common and p not in existing
    }


class TestAdamicAdar:
    # two triangles sharing a vertex + a pendant: known common
    # neighbors
    _EDGES = [
        (1, 2), (2, 3), (1, 3),
        (3, 4), (4, 5), (3, 5),
        (5, 6),
    ]

    def test_matches_python_reference(self, spark):
        from h3_indexer_spark.operators.graph import adamic_adar

        df = spark.createDataFrame(self._EDGES, "src long, dst long")
        got = {
            (r["u"], r["v"]): (r["common_neighbors"], r["aa_q"])
            for r in adamic_adar(df).collect()
        }
        assert got == _py_adamic_adar(self._EDGES)

    def test_min_common_filters(self, spark):
        from h3_indexer_spark.operators.graph import adamic_adar

        df = spark.createDataFrame(self._EDGES, "src long, dst long")
        got = {
            (r["u"], r["v"])
            for r in adamic_adar(df, min_common=2).collect()
        }
        assert got == set(_py_adamic_adar(self._EDGES, min_common=2))

    def test_hub_cap_excludes_witnesses(self, spark):
        """A star hub above max_degree stops witnessing pairs — its
        leaves then share no witness and disappear."""
        from h3_indexer_spark.operators.graph import adamic_adar

        star = [(100, i) for i in range(1, 8)]  # hub degree 7
        df = spark.createDataFrame(star, "src long, dst long")
        uncapped = adamic_adar(df).count()
        assert uncapped == math.comb(7, 2)
        assert adamic_adar(df, max_degree=5).count() == 0

    def test_existing_edges_excluded(self, spark):
        from h3_indexer_spark.operators.graph import adamic_adar

        df = spark.createDataFrame(self._EDGES, "src long, dst long")
        existing = {(min(s, d), max(s, d)) for s, d in self._EDGES}
        got = {
            (r["u"], r["v"]) for r in adamic_adar(df).collect()
        }
        assert not (got & existing)


def _py_mann_whitney(pairs_a, pairs_b):
    """Reference: midranks over ties, doubled to integers."""
    all_vals = sorted(pairs_a + pairs_b)
    n = len(all_vals)
    # doubled midrank per value
    r2 = {}
    i = 0
    while i < n:
        j = i
        while j < n and all_vals[j] == all_vals[i]:
            j += 1
        # ranks i+1 .. j; doubled midrank = (i+1 + j)
        r2[all_vals[i]] = (i + 1) + j
        i = j
    n_a, n_b = len(pairs_a), len(pairs_b)
    r2a = sum(r2[v] for v in pairs_a)
    u2a = r2a - n_a * (n_a + 1)
    u2b = 2 * n_a * n_b - u2a
    sigma = math.sqrt(n_a * n_b * (n_a + n_b + 1) / 12.0)
    z = (u2a - n_a * n_b) / (2.0 * sigma) if sigma > 0 else None
    return n_a, n_b, u2a, u2b, z


class TestMannWhitney:
    def test_matches_python_reference_with_ties(self, spark):
        from h3_indexer_spark.operators.analytics import mann_whitney_u

        a = [1.0, 2.0, 2.0, 3.5, 7.0, 7.0, 9.0]
        b = [2.0, 4.0, 4.0, 5.0, 7.0, 10.0]
        rows = [("A", v) for v in a] + [("B", v) for v in b]
        df = spark.createDataFrame(rows, "grp string, val double")
        r = mann_whitney_u(df, "grp", "val", "A", "B").collect()[0]
        n_a, n_b, u2a, u2b, z = _py_mann_whitney(a, b)
        assert (r["n_a"], r["n_b"], r["u2_a"], r["u2_b"]) == (
            n_a, n_b, u2a, u2b,
        )
        assert r["z"] == pytest.approx(z, abs=1e-12)

    def test_u_sums_to_2nanb(self, spark):
        from h3_indexer_spark.operators.analytics import mann_whitney_u

        rows = [("A", float(i % 13)) for i in range(40)] + [
            ("B", float(i % 7)) for i in range(25)
        ]
        df = spark.createDataFrame(rows, "grp string, val double")
        r = mann_whitney_u(df, "grp", "val", "A", "B").collect()[0]
        assert r["u2_a"] + r["u2_b"] == 2 * r["n_a"] * r["n_b"]

    def test_identical_distributions_centered(self, spark):
        """Same values in both groups: U_a == U_b == n_a·n_b/2,
        z == 0."""
        from h3_indexer_spark.operators.analytics import mann_whitney_u

        vals = [1.0, 2.0, 3.0, 4.0]
        rows = [("A", v) for v in vals] + [("B", v) for v in vals]
        df = spark.createDataFrame(rows, "grp string, val double")
        r = mann_whitney_u(df, "grp", "val", "A", "B").collect()[0]
        assert r["u2_a"] == r["u2_b"] == r["n_a"] * r["n_b"]
        assert r["z"] == 0.0

    def test_other_groups_excluded(self, spark):
        from h3_indexer_spark.operators.analytics import mann_whitney_u

        rows = [("A", 1.0), ("B", 2.0), ("C", 99.0), ("C", 98.0)]
        df = spark.createDataFrame(rows, "grp string, val double")
        r = mann_whitney_u(df, "grp", "val", "A", "B").collect()[0]
        assert (r["n_a"], r["n_b"]) == (1, 1)


class TestScd2:
    _OBS = [
        # u1: A(t1,t2) -> B(t3) -> A(t4)  : change-and-return history
        (1, 10, "A"), (1, 20, "A"), (1, 30, "B"), (1, 40, "A"),
        # u2: constant
        (2, 10, "X"), (2, 50, "X"),
        # u3: equal-ts tie -> attr tiebreak makes runs deterministic
        (3, 10, "M"), (3, 10, "N"), (3, 20, "N"),
    ]

    def _run(self, spark):
        from h3_indexer_spark.operators.relational import scd2_build

        df = spark.createDataFrame(
            self._OBS, "user_id long, ts long, event_type string"
        )
        return scd2_build(df, "user_id", ["event_type"], "ts")

    def test_intervals(self, spark):
        rows = {
            (r["user_id"], r["event_type"], r["effective_from"]): (
                r["effective_to"],
                r["is_current"],
                r["n_observations"],
            )
            for r in self._run(spark).collect()
        }
        assert rows == {
            (1, "A", 10): (30, False, 2),
            (1, "B", 30): (40, False, 1),
            (1, "A", 40): (None, True, 1),
            (2, "X", 10): (None, True, 2),
            # u3's equal-ts tie: (10,M) then (10,N) by the attr
            # tiebreak; the N run absorbs the later ts-20 obs and the
            # M interval closes AT ITS OWN timestamp (zero-width)
            (3, "M", 10): (10, False, 1),
            (3, "N", 10): (None, True, 2),
        }

    def test_one_current_row_per_key(self, spark):
        out = self._run(spark).toPandas()
        cur = out[out["is_current"]]
        assert sorted(cur["user_id"]) == [1, 2, 3]

    def test_observation_counts_total(self, spark):
        out = self._run(spark).toPandas()
        assert int(out["n_observations"].sum()) == len(self._OBS)

    def test_requires_attrs(self, spark):
        from h3_indexer_spark.operators.relational import scd2_build

        df = spark.createDataFrame(
            self._OBS, "user_id long, ts long, event_type string"
        )
        with pytest.raises(ValueError):
            scd2_build(df, "user_id", [], "ts")


class TestCorrMatrix:
    def test_matches_numpy(self, spark):
        from h3_indexer_spark.operators.relational import corr_matrix

        rng = np.random.RandomState(7)
        x = rng.randint(0, 1000, 200) / 100.0
        y = 2.0 * x + rng.randint(0, 100, 200) / 100.0
        z = rng.randint(0, 1000, 200) / 100.0
        rows = [
            (float(a), float(b), float(c)) for a, b, c in zip(x, y, z)
        ]
        df = spark.createDataFrame(rows, "x double, y double, z double")
        got = {
            (r["feat_x"], r["feat_y"]): (r["n_rows"], r["corr"])
            for r in corr_matrix(df, ["x", "y", "z"]).collect()
        }
        c = np.corrcoef(np.vstack([x, y, z]))
        assert set(got) == {("x", "y"), ("x", "z"), ("y", "z")}
        for (i, j), key in [
            ((0, 1), ("x", "y")),
            ((0, 2), ("x", "z")),
            ((1, 2), ("y", "z")),
        ]:
            n, corr = got[key]
            assert n == 200
            assert corr == pytest.approx(c[i, j], abs=1e-9)

    def test_listwise_null_drop(self, spark):
        from h3_indexer_spark.operators.relational import corr_matrix

        rows = [(1.0, 2.0, 3.0), (2.0, None, 4.0), (3.0, 6.0, 5.0)]
        df = spark.createDataFrame(rows, "x double, y double, z double")
        out = corr_matrix(df, ["x", "y", "z"]).collect()
        assert all(r["n_rows"] == 2 for r in out)

    def test_constant_column_null_corr(self, spark):
        from h3_indexer_spark.operators.relational import corr_matrix

        rows = [(1.0, 5.0), (2.0, 5.0), (3.0, 5.0)]
        df = spark.createDataFrame(rows, "x double, y double")
        out = corr_matrix(df, ["x", "y"]).collect()
        assert out[0]["corr"] is None

    def test_needs_two_columns(self, spark):
        from h3_indexer_spark.operators.relational import corr_matrix

        df = spark.createDataFrame([(1.0,)], "x double")
        with pytest.raises(ValueError):
            corr_matrix(df, ["x"])


class TestEmbeddingQuantizeInt8:
    def test_codes_and_dequant_error(self, spark):
        from h3_indexer_spark.operators.features import (
            embedding_quantize_int8,
        )

        rng = np.random.RandomState(11)
        vecs = [
            [float(v) for v in rng.uniform(-3, 3, 16)] for _ in range(8)
        ]
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>",
        )
        out = embedding_quantize_int8(df).collect()
        assert len(out) == 8
        for r in out:
            vec = vecs[r["vec_id"]]
            amax = max(abs(v) for v in vec)
            assert r["scale"] == pytest.approx(amax / 127.0)
            assert all(-128 <= q <= 127 for q in r["q"])
            for v, q in zip(vec, r["q"]):
                assert q == math.floor(v / (amax / 127.0))
                # dequant error is bounded by one scale step
                assert abs(q * r["scale"] - v) <= r["scale"] + 1e-12

    def test_zero_vector(self, spark):
        from h3_indexer_spark.operators.features import (
            embedding_quantize_int8,
        )

        df = spark.createDataFrame(
            [(0, [0.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
        )
        r = embedding_quantize_int8(df).collect()[0]
        assert r["scale"] == 0.0
        assert list(r["q"]) == [0, 0, 0]


class TestEventuallyFollows:
    # entity 1: A@10, B@20, A@30 (repeat ignored), C@20 (C ties B: no
    # B->C nor C->B); entity 2: B@5, A@8; entity 3: A@1 only
    _ROWS = [
        (1, 10, "A"), (1, 20, "B"), (1, 30, "A"), (1, 20, "C"),
        (2, 5, "B"), (2, 8, "A"),
        (3, 1, "A"),
    ]

    def test_relation(self, spark):
        from h3_indexer_spark.operators.analytics import (
            eventually_follows,
        )

        df = spark.createDataFrame(
            self._ROWS, "user_id long, ts long, event_type string"
        )
        got = {
            (r["antecedent"], r["consequent"]): (
                r["n_follow"],
                r["n_antecedent"],
                r["support"],
            )
            for r in eventually_follows(df).collect()
        }
        # entity 1's B@20/C@20 tie counts in NEITHER direction, and
        # zero-count pairs never materialize a row
        assert got == {
            ("A", "B"): (1, 3, 1 / 3),   # entity 1 only
            ("A", "C"): (1, 3, 1 / 3),   # entity 1 (10 < 20)
            ("B", "A"): (1, 2, 1 / 2),   # entity 2
        }

    def test_first_occurrence_only(self, spark):
        """Entity 1's second A (after B) must NOT create B->A."""
        from h3_indexer_spark.operators.analytics import (
            eventually_follows,
        )

        df = spark.createDataFrame(
            self._ROWS, "user_id long, ts long, event_type string"
        )
        got = {
            (r["antecedent"], r["consequent"]): r["n_follow"]
            for r in eventually_follows(df).collect()
        }
        assert got.get(("B", "A")) == 1  # entity 2, not entity 1


class TestOhlcBars:
    def test_bars_with_ties(self, spark):
        from h3_indexer_spark.operators.analytics import ohlc_bars

        ns = 10**9
        rows = [
            # one bucket [0, 3600s): tie at t=100 -> open = smaller v
            (100 * ns, 5.0), (100 * ns, 4.0), (200 * ns, 9.0),
            (3599 * ns, 2.0), (3599 * ns, 8.0),  # close = larger v
            # next bucket
            (3600 * ns, 7.0),
        ]
        df = spark.createDataFrame(rows, "ts long, value double")
        got = {
            r["bucket_start"]: (
                r["open"], r["high"], r["low"], r["close"],
                r["volume"], r["value_sum"],
            )
            for r in ohlc_bars(df).collect()
        }
        assert got == {
            0: (4.0, 9.0, 2.0, 8.0, 5, 28.0),
            3600 * ns: (7.0, 7.0, 7.0, 7.0, 1, 7.0),
        }

    def test_grouped(self, spark):
        from h3_indexer_spark.operators.analytics import ohlc_bars

        rows = [(1, "x", 1.0), (2, "x", 3.0), (1, "y", 9.0)]
        df = spark.createDataFrame(
            rows, "ts long, g string, value double"
        )
        out = ohlc_bars(
            df, bucket_ns=10, group_cols=["g"]
        ).collect()
        by_g = {r["g"]: (r["open"], r["close"], r["volume"]) for r in out}
        assert by_g == {"x": (1.0, 3.0, 2), "y": (9.0, 9.0, 1)}

    def test_bucket_validation(self, spark):
        from h3_indexer_spark.operators.analytics import ohlc_bars

        df = spark.createDataFrame([(1, 1.0)], "ts long, value double")
        import pytest as _pytest

        with _pytest.raises(ValueError):
            ohlc_bars(df, bucket_ns=0)


class TestCharsetStats:
    def test_class_counts(self, spark):
        from h3_indexer_spark.operators.textops import charset_stats

        rows = [
            (0, "Abc 12!\tx"),          # 4 letters 2 digits 2 ws 1 punct
            (1, "héllo wörld"),          # 2 non-ascii letters
            (2, ""),                     # empty
            (3, "é中文"),   # all non-ascii
            (4, "a\x00b\x1b"),           # NUL + ESC: control, NOT non-ascii
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]: (
                r["n_chars"], r["n_letters"], r["n_digits"],
                r["n_spaces"], r["n_ascii_other"], r["n_control"],
                r["n_non_ascii"],
            )
            for r in charset_stats(df).collect()
        }
        assert got[0] == (9, 4, 2, 2, 1, 0, 0)
        assert got[1] == (11, 8, 0, 1, 0, 0, 2)
        assert got[2] == (0, 0, 0, 0, 0, 0, 0)
        assert got[3] == (3, 0, 0, 0, 0, 0, 3)
        assert got[4] == (4, 2, 0, 0, 0, 2, 0)

    def test_classes_partition_the_text(self, spark):
        """The six classes partition EVERY string exactly — incl.
        control chars and non-ASCII."""
        from h3_indexer_spark.operators.textops import charset_stats

        df = spark.createDataFrame(
            [(0, "The 99 bottles, on a wall! #tag"),
             (1, "mixed\x00 é bag\t\x7fdone 中")],
            "doc_id long, text string",
        )
        for r in charset_stats(df).collect():
            total = (
                r["n_letters"] + r["n_digits"] + r["n_spaces"]
                + r["n_ascii_other"] + r["n_control"]
                + r["n_non_ascii"]
            )
            assert total == r["n_chars"], r


    def test_letter_ratio_null_on_empty(self, spark):
        from h3_indexer_spark.operators.textops import charset_stats

        df = spark.createDataFrame(
            [(0, "")], "doc_id long, text string"
        )
        assert charset_stats(df).collect()[0]["letter_ratio"] is None


class TestMarketShare:
    def test_share_identity(self, spark):
        """nation_volume <= total_volume and the share IS their
        ratio, on the real fixture."""
        from h3_indexer_spark.queries import QUERIES

        from tests.conftest import SF_SMALL

        rows = QUERIES["q_market_share"](spark, SF_SMALL).collect()
        assert rows
        for r in rows:
            assert 0.0 <= r["nation_volume"] <= r["total_volume"]
            assert r["mkt_share"] == pytest.approx(
                r["nation_volume"] / r["total_volume"]
            )
