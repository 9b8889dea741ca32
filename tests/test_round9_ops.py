"""Round-9 operator tests: lazy-construction guarantees for the
census-guarded operators, the locality-keyed CC contraction, and the
round-9 breadth additions."""

import pytest
from pyspark.sql import functions as F

from tests.helpers import _jobs_during


class TestLazyConstruction:
    def test_adamic_adar_lazy_fast_path(self, spark):
        from h3_indexer_spark.operators.graph import adamic_adar

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (2, 5)],
            "src long, dst long",
        )
        plan, jobs = _jobs_during(
            spark,
            lambda: adamic_adar(edges, log_exclusions=False),
        )
        assert jobs == [], f"construction launched jobs: {jobs}"
        lazy = {
            (r["u"], r["v"]): (r["common_neighbors"], r["aa_q"])
            for r in plan.collect()
        }
        eager = {
            (r["u"], r["v"]): (r["common_neighbors"], r["aa_q"])
            for r in adamic_adar(edges).collect()
        }
        assert lazy == eager and lazy

    def test_adamic_adar_eager_census_still_runs(self, spark):
        from h3_indexer_spark.operators.graph import adamic_adar

        edges = spark.createDataFrame(
            [(1, 2), (2, 3)], "src long, dst long"
        )
        _, jobs = _jobs_during(spark, lambda: adamic_adar(edges))
        assert jobs, "default path should pin + census at construction"

    def test_association_rules_lazy_fast_path(self, spark):
        from h3_indexer_spark.operators.mining import association_rules

        df = spark.createDataFrame(
            [(b, i) for b in range(6) for i in ("x", "y", "z")[: b % 3 + 1]],
            "b long, i string",
        )
        plan, jobs = _jobs_during(
            spark,
            lambda: association_rules(
                df, "b", "i", min_support=1, log_exclusions=False
            ),
        )
        assert jobs == [], f"construction launched jobs: {jobs}"
        lazy = [tuple(r) for r in plan.collect()]
        eager = [
            tuple(r)
            for r in association_rules(df, "b", "i", min_support=1).collect()
        ]
        assert lazy == eager and lazy

    def test_association_rules_cap_semantics_identical_lazy(self, spark):
        """The mega-basket cap must EXCLUDE the same baskets on both
        paths — the lazy path changes execution, never semantics."""
        from h3_indexer_spark.operators.mining import association_rules

        rows = [(0, f"i{k}") for k in range(5)]  # mega-basket: 5 items
        rows += [(b, i) for b in (1, 2, 3) for i in ("x", "y")]
        df = spark.createDataFrame(rows, "b long, i string")
        kw = dict(min_support=1, max_basket_size=4)
        eager = {
            (r["antecedent"], r["consequent"]): r["n_joint"]
            for r in association_rules(df, "b", "i", **kw).collect()
        }
        lazy = {
            (r["antecedent"], r["consequent"]): r["n_joint"]
            for r in association_rules(
                df, "b", "i", log_exclusions=False, **kw
            ).collect()
        }
        assert lazy == eager
        assert ("i0", "i1") not in lazy  # mega-basket pairs excluded

    def test_tfidf_lazy_n_docs(self, spark):
        from h3_indexer_spark.operators.textops import tfidf_topk

        df = spark.createDataFrame(
            [(0, "a b a"), (1, "a c"), (2, "b b c")],
            "doc_id long, text string",
        )
        plan, jobs = _jobs_during(spark, lambda: tfidf_topk(df, k=2))
        assert jobs == [], f"tfidf construction launched jobs: {jobs}"
        got = {
            (r["doc_id"], r["term"]): r["score"] for r in plan.collect()
        }
        # tf * N / df with N=3 docs: doc 0 term 'a' -> 2*3/2 = 3.0
        assert got[(0, "a")] == pytest.approx(3.0)


class TestContractEdges:
    def test_connectivity_preserved(self, spark):
        """CC over contracted stars == CC over the raw edges, for a
        key that SPLITS components (locality key groups must never
        merge what the graph keeps apart)."""
        from h3_indexer_spark.operators.graph import (
            connected_components,
            contract_edges,
        )

        # two chains: 1-2-3-4 (key groups {1,2},{3,4}) and 10-11
        edges = spark.createDataFrame(
            [(1, 2, 0), (2, 3, 0), (3, 4, 1), (10, 11, 2)],
            "src long, dst long, k int",
        )
        verts = spark.createDataFrame(
            [(v,) for v in (1, 2, 3, 4, 10, 11)], "id long"
        )
        star = contract_edges(edges, "k")
        got = {
            (r["id"], r["component"])
            for r in connected_components(star, verts).collect()
        }
        want = {
            (r["id"], r["component"])
            for r in connected_components(
                edges.select("src", "dst"), verts
            ).collect()
        }
        assert got == want
        assert (4, 1) in got and (11, 10) in got

    def test_emit_key_roundtrip(self, spark):
        from h3_indexer_spark.operators.graph import contract_edges

        edges = spark.createDataFrame(
            [(1, 2, 7), (2, 3, 7), (5, 6, 9)], "src long, dst long, k int"
        )
        rows = contract_edges(edges, "k", emit_key=True).collect()
        assert {(r["src"], r["dst"], r["key"]) for r in rows} == {
            (2, 1, 7),
            (3, 1, 7),
            (6, 5, 9),
        }

    def test_star_root_is_group_min(self, spark):
        from h3_indexer_spark.operators.graph import contract_edges

        edges = spark.createDataFrame(
            [(9, 4, 0), (4, 7, 0)], "src long, dst long, k int"
        )
        rows = contract_edges(edges, "k").collect()
        assert {(r["src"], r["dst"]) for r in rows} == {(7, 4), (9, 4)}


class TestCmsDepthGuard:
    def test_matching_depth_still_exact(self, spark):
        from h3_indexer_spark.operators.sketches import (
            count_min_estimate,
            count_min_registers,
        )

        df = spark.createDataFrame(
            [(x,) for x in ["a"] * 5 + ["b"] * 3 + ["c"]], "k string"
        )
        regs = count_min_registers(df, "k", depth=3, width=64)
        keys = spark.createDataFrame([("a",), ("b",), ("z",)], "k string")
        got = {
            r["key"]: r["est_count"]
            for r in count_min_estimate(
                regs, keys, "k", depth=3, width=64
            ).collect()
        }
        assert got["a"] >= 5 and got["b"] >= 3 and got["z"] >= 0

    def test_larger_query_depth_fails_fast(self, spark):
        """Querying depth 5 against depth-3 registers must ERROR, not
        silently return 0 (the one-sided est >= true guarantee)."""
        from h3_indexer_spark.operators.sketches import (
            count_min_estimate,
            count_min_registers,
        )

        df = spark.createDataFrame([("a",), ("b",)], "k string")
        regs = count_min_registers(df, "k", depth=3, width=64)
        keys = spark.createDataFrame([("a",)], "k string")
        with pytest.raises(Exception, match="smaller depth"):
            count_min_estimate(regs, keys, "k", depth=5, width=64).collect()

    def test_smaller_query_depth_stays_one_sided(self, spark):
        from h3_indexer_spark.operators.sketches import (
            count_min_estimate,
            count_min_registers,
        )

        df = spark.createDataFrame([(f"k{i}",) for i in range(40)], "k string")
        regs = count_min_registers(df, "k", depth=4, width=16)
        keys = spark.createDataFrame([("k0",), ("k1",)], "k string")
        got = {
            r["key"]: r["est_count"]
            for r in count_min_estimate(
                regs, keys, "k", depth=2, width=16
            ).collect()
        }
        assert all(v >= 1 for v in got.values())


class TestSequentialPatterns:
    def _ev(self, spark, rows):
        # rows: (user, ts, type, event_id)
        return spark.createDataFrame(
            rows, "user_id long, ts long, event_type string, event_id long"
        )

    def test_gap_tolerance(self, spark):
        """A -> C holds with one noise event between (gap 2) but NOT
        when two events intervene."""
        from h3_indexer_spark.operators.mining import sequential_patterns

        ev = self._ev(spark, [
            (1, 1, "A", 1), (1, 2, "X", 2), (1, 3, "C", 3),   # A..C gap 2
            (2, 1, "A", 1), (2, 2, "X", 2), (2, 3, "Y", 3), (2, 4, "C", 4),
        ])
        got = {
            r["pattern"]: r["support"]
            for r in sequential_patterns(ev, max_gap=2, k=100).collect()
        }
        assert got.get("A -> C") == 1  # user 1 only; user 2's gap is 3
        assert got.get("A") == 2

    def test_support_counts_entities_not_occurrences(self, spark):
        from h3_indexer_spark.operators.mining import sequential_patterns

        ev = self._ev(spark, [
            (1, 1, "A", 1), (1, 2, "B", 2),
            (1, 3, "A", 3), (1, 4, "B", 4),   # same user, twice
            (2, 1, "A", 1), (2, 2, "B", 2),
        ])
        got = {
            r["pattern"]: r["support"]
            for r in sequential_patterns(ev, max_gap=1, k=100).collect()
        }
        assert got["A -> B"] == 2

    def test_strict_adjacency_at_gap_one(self, spark):
        from h3_indexer_spark.operators.mining import sequential_patterns

        ev = self._ev(spark, [
            (1, 1, "A", 1), (1, 2, "X", 2), (1, 3, "B", 3),
        ])
        got = {
            r["pattern"]
            for r in sequential_patterns(ev, max_gap=1, k=100).collect()
        }
        assert "A -> B" not in got and "A -> X" in got

    def test_triple_with_gaps(self, spark):
        from h3_indexer_spark.operators.mining import sequential_patterns

        ev = self._ev(spark, [
            (1, 1, "A", 1), (1, 2, "X", 2), (1, 3, "B", 3),
            (1, 4, "Y", 4), (1, 5, "C", 5),
        ])
        got = {
            r["pattern"]
            for r in sequential_patterns(ev, max_gap=2, k=200).collect()
        }
        assert "A -> B -> C" in got

    def test_embedded_separator_tie_is_deterministic(self, spark):
        """ADVICE r11: an event type embedding ' -> ' renders two
        DISTINCT internal arrays to the same pattern string; when
        their supports also tie, the limit boundary and rank must
        still be deterministic (the internal array is the final
        tiebreaker). Element-wise array ordering puts ["A","B"]
        before ["A -> B"] ("A" is a strict prefix of "A -> B")."""
        from h3_indexer_spark.operators.mining import sequential_patterns

        ev = self._ev(spark, [
            (1, 1, "A -> B", 1),            # renders "A -> B", len 1
            (2, 1, "A", 1), (2, 2, "B", 2),  # renders "A -> B", len 2
        ])
        for _ in range(3):
            rows = [
                (r["pattern"], r["length"], r["support"], r["rnk"])
                for r in sequential_patterns(ev, max_gap=1, k=100)
                .collect()
                if r["pattern"] == "A -> B"
            ]
            assert rows == [("A -> B", 2, 1, rows[0][3]),
                            ("A -> B", 1, 1, rows[1][3])]
            assert rows[0][3] + 1 == rows[1][3]

    def test_rank_is_total_order(self, spark):
        from h3_indexer_spark.operators.mining import sequential_patterns

        ev = self._ev(spark, [
            (u, t, typ, t)
            for u in range(4)
            for t, typ in enumerate(["A", "B", "A"], start=1)
        ])
        rows = sequential_patterns(ev, max_gap=2, k=5).collect()
        ranks = [r["rnk"] for r in rows]
        assert ranks == sorted(ranks) == list(range(1, len(rows) + 1))
        sups = [r["support"] for r in rows]
        assert sups == sorted(sups, reverse=True)


class TestQuantileSketch:
    def test_merge_law_disjoint_slices(self, spark):
        from h3_indexer_spark.operators.sketches import (
            quantile_sketch,
            quantile_sketch_merge,
        )

        df = spark.range(2000).select(
            F.col("id"), (F.col("id") * 7 % 1000).cast("double").alias("v")
        )
        a = df.where(F.col("id") < 1000)
        b = df.where(F.col("id") >= 1000)
        whole = quantile_sketch(df, "v", F.col("id"), k=64).collect()
        merged = quantile_sketch_merge(
            64,
            quantile_sketch(a, "v", F.col("id"), k=64),
            quantile_sketch(b, "v", F.col("id"), k=64),
        ).collect()
        key = lambda rows: [(r["rank"], r["hash_val"], r["value"]) for r in rows]
        assert key(whole) == key(merged)

    def test_dkw_error_bound_on_fixture(self, spark):
        """The sketch's p50 must sit within the DKW band of the exact
        CDF: with k=256, eps at 99.9%% confidence is
        sqrt(ln(2/0.001)/(2*256)) ~= 0.122 — assert the exact CDF
        position of the estimated median is within 0.5 +- 0.13.
        Deterministic: the hash fixes the sample."""
        from h3_indexer_spark.operators.sketches import (
            quantile_sketch,
            quantile_sketch_estimate,
        )

        from tests.conftest import SF_SMALL

        li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
        sk = quantile_sketch(
            li,
            "l_extendedprice",
            F.concat_ws(
                "|",
                F.col("l_orderkey").cast("string"),
                F.col("l_linenumber").cast("string"),
            ),
            k=256,
        )
        est = {
            r["prob"]: r["est_value"]
            for r in quantile_sketch_estimate(sk, [0.5]).collect()
        }
        n = li.count()
        below = li.where(F.col("l_extendedprice") <= est[0.5]).count()
        assert abs(below / n - 0.5) <= 0.13

    def test_fixed_size_whatever_the_data(self, spark):
        from h3_indexer_spark.operators.sketches import quantile_sketch

        df = spark.range(50_000).select(
            F.col("id"), F.col("id").cast("double").alias("v")
        )
        assert quantile_sketch(df, "v", F.col("id"), k=32).count() == 32

    def test_duplicates_keep_weight(self, spark):
        """Row-identity hashing must sample duplicate VALUES in
        proportion — a constant column's every quantile is that
        constant."""
        from h3_indexer_spark.operators.sketches import (
            quantile_sketch,
            quantile_sketch_estimate,
        )

        df = spark.range(5000).select(
            F.col("id"), F.lit(42.0).alias("v")
        )
        sk = quantile_sketch(df, "v", F.col("id"), k=64)
        est = quantile_sketch_estimate(sk, [0.1, 0.9]).collect()
        assert all(r["est_value"] == 42.0 for r in est)


class TestKmvSetOps:
    def test_exact_below_k(self, spark):
        """With both sets smaller than k the sketches ARE the sets:
        union/intersection estimates must be exact."""
        from h3_indexer_spark.operators.sketches import (
            kmv_bottom_k,
            kmv_set_ops,
        )

        a = spark.createDataFrame([(x,) for x in range(50)], "v long")
        b = spark.createDataFrame([(x,) for x in range(30, 80)], "v long")
        row = kmv_set_ops(
            kmv_bottom_k(a, "v", k=256),
            kmv_bottom_k(b, "v", k=256),
            k=256,
        ).collect()[0]
        assert row["est_union"] == 80
        assert row["n_common"] == 20
        assert row["est_intersection"] == 20

    def test_estimates_within_rse_band(self, spark):
        """Planted overlap at sketch scale: |A|=|B|=4000, |A∩B|=2000,
        union 6000. KMV RSE at k=256 is ~1/sqrt(254) ~= 6.3%; assert
        union within 4 RSE and intersection within a generous 25%
        (jaccard adds binomial noise on n_common). Deterministic —
        the hash fixes everything."""
        from h3_indexer_spark.operators.sketches import (
            kmv_bottom_k,
            kmv_set_ops,
        )

        a = spark.createDataFrame([(x,) for x in range(4000)], "v long")
        b = spark.createDataFrame(
            [(x,) for x in range(2000, 6000)], "v long"
        )
        row = kmv_set_ops(
            kmv_bottom_k(a, "v", k=256),
            kmv_bottom_k(b, "v", k=256),
            k=256,
        ).collect()[0]
        assert abs(row["est_union"] - 6000) <= 6000 * 0.25
        assert abs(row["est_intersection"] - 2000) <= 2000 * 0.25

    def test_disjoint_sets(self, spark):
        from h3_indexer_spark.operators.sketches import (
            kmv_bottom_k,
            kmv_set_ops,
        )

        a = spark.createDataFrame([(x,) for x in range(500)], "v long")
        b = spark.createDataFrame(
            [(x,) for x in range(10_000, 10_500)], "v long"
        )
        row = kmv_set_ops(
            kmv_bottom_k(a, "v", k=64),
            kmv_bottom_k(b, "v", k=64),
            k=64,
        ).collect()[0]
        assert row["n_common"] == 0 and row["est_intersection"] == 0


class TestEditDistanceJoin:
    def _brute(self, names):
        import itertools

        def lev(a, b):
            m, n = len(a), len(b)
            if abs(m - n) > 1:
                return 2
            dp = list(range(n + 1))
            for i in range(1, m + 1):
                prev, dp[0] = dp[0], i
                for j in range(1, n + 1):
                    cur = dp[j]
                    dp[j] = min(
                        dp[j] + 1, dp[j - 1] + 1,
                        prev + (a[i - 1] != b[j - 1]),
                    )
                    prev = cur
            return dp[n]

        return {
            (ia, ib)
            for (ia, a), (ib, b) in itertools.combinations(names, 2)
            if lev(a, b) <= 1
        }

    def test_certain_recall_planted_edits(self, spark):
        """Every Levenshtein<=1 pair must be found — including edits
        INSIDE the prefix (the case fuzzy_pairs' prefix blocking
        documents as missed) and the short-string degenerate cases."""
        import random
        import string

        from h3_indexer_spark.operators.textops import edit_distance_join

        names = [
            (1, "chocolate"), (2, "xhocolate"), (3, "chocolatx"),
            (4, "chocolat"), (5, "hocolate"), (6, "chocolates"),
            (7, "schocolate"), (8, "vanilla"), (9, "banilla"),
            (10, "completely_different"),
            (11, "ab"), (12, "b"), (13, "a"), (14, "ba"), (15, ""),
        ]
        rng = random.Random(7)
        for i in range(60):
            s = "".join(
                rng.choice(string.ascii_lowercase)
                for _ in range(rng.randint(1, 15))
            )
            names.append((100 + 2 * i, s))
            op = rng.choice(["sub", "ins", "del"])
            p = rng.randint(0, max(len(s) - 1, 0))
            if op == "sub" and s:
                t = s[:p] + rng.choice(string.ascii_lowercase) + s[p + 1:]
            elif op == "ins":
                t = s[:p] + rng.choice(string.ascii_lowercase) + s[p:]
            else:
                t = s[:p] + s[p + 1:] if s else "x"
            names.append((101 + 2 * i, t))
        df = spark.createDataFrame(names, "id long, name string")
        got = {
            (r["id_a"], r["id_b"])
            for r in edit_distance_join(df, "id", "name").collect()
        }
        assert got == self._brute(names)

    def test_pair_emitted_exactly_once(self, spark):
        from h3_indexer_spark.operators.textops import edit_distance_join

        df = spark.createDataFrame(
            [(1, "same"), (2, "same"), (3, "samex")], "id long, name string"
        )
        rows = edit_distance_join(df, "id", "name").collect()
        pairs = [(r["id_a"], r["id_b"]) for r in rows]
        assert sorted(pairs) == [(1, 2), (1, 3), (2, 3)]
        assert len(pairs) == len(set(pairs))


class TestQuantileSketchGrouped:
    def test_matches_per_group_global_sketch(self, spark):
        """Each group's register table equals the global sketch run on
        that group's slice alone."""
        from h3_indexer_spark.operators.sketches import (
            quantile_sketch,
            quantile_sketch_grouped,
        )

        df = spark.range(3000).select(
            F.col("id"),
            (F.col("id") % 3).cast("string").alias("g"),
            (F.col("id") * 13 % 997).cast("double").alias("v"),
        )
        got = {}
        for r in quantile_sketch_grouped(
            df, "g", "v", F.col("id"), k=32
        ).collect():
            got.setdefault(r["group"], []).append(
                (r["rank"], r["hash_val"], r["value"])
            )
        for g in ("0", "1", "2"):
            want = [
                (r["rank"], r["hash_val"], r["value"])
                for r in quantile_sketch(
                    df.where(F.col("g") == g), "v", F.col("id"), k=32
                ).collect()
            ]
            assert sorted(got[g]) == sorted(want)

    def test_fixed_rows_per_group(self, spark):
        from h3_indexer_spark.operators.sketches import (
            quantile_sketch_grouped,
        )

        df = spark.range(10_000).select(
            F.col("id"),
            (F.col("id") % 2).cast("string").alias("g"),
            F.col("id").cast("double").alias("v"),
        )
        out = quantile_sketch_grouped(df, "g", "v", F.col("id"), k=16)
        counts = {
            r["group"]: r["n"]
            for r in out.groupBy("group")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert counts == {"0": 16, "1": 16}


class TestRakeKeywords:
    def test_phrase_split_and_scores(self, spark):
        """'deep learning' beats single words: deg/freq rewards
        co-occurrence in longer phrases; runs split at stopwords."""
        from h3_indexer_spark.operators.textops import rake_keywords

        df = spark.createDataFrame(
            [
                (0, "deep learning for the win"),
                (1, "deep learning and deep nets"),
                (2, "the win"),
            ],
            "doc_id long, text string",
        )
        rows = rake_keywords(df, k=20).collect()
        got = {r["phrase"]: (r["n_occurrences"], r["score_q"]) for r in rows}
        # runs: 'deep learning' x2, 'win' x2, 'deep nets' x1
        assert got["deep learning"][0] == 2
        assert got["win"][0] == 2
        assert "deep nets" in got
        # 'the'/'and'/'for' never appear as phrase words
        assert all(
            w not in ("the", "and", "for")
            for p in got
            for w in p.split(" ")
        )
        # deg/freq: 'deep' appears in 3 phrases (len 2,2,2) ->
        # score 2e9; 'learning' 2e9; phrase 'deep learning' = 4e9,
        # strictly above any single-word phrase
        assert got["deep learning"][1] > got["win"][1]

    def test_identical_phrases_share_one_row(self, spark):
        from h3_indexer_spark.operators.textops import rake_keywords

        df = spark.createDataFrame(
            [(i, "alpha beta") for i in range(5)],
            "doc_id long, text string",
        )
        rows = rake_keywords(df, k=10).collect()
        assert len(rows) == 1
        assert rows[0]["phrase"] == "alpha beta"
        assert rows[0]["n_occurrences"] == 5
        assert rows[0]["rnk"] == 1


class TestTheilSen:
    def test_robust_to_outliers(self, spark):
        """A planted y=3x+5 line with 10%% wild outliers: Theil-Sen
        recovers slope~3 and intercept~5 where OLS would be dragged."""
        rows = []
        for i in range(1, 401):
            y = 3.0 * i + 5.0
            if i % 10 == 0:
                y += 100_000.0  # outlier
            rows.append((i, float(i), y))
        from h3_indexer_spark.operators.analytics import theil_sen

        df = spark.createDataFrame(rows, "id long, x double, y double")
        r = theil_sen(df, "x", "y", F.col("id"), k=128).collect()[0]
        assert abs(r["slope"] - 3.0) < 0.2
        assert abs(r["intercept"] - 5.0) < 60.0
        assert r["n_sample"] == 128
        assert r["n_pairs"] > 0

    def test_deterministic(self, spark):
        from h3_indexer_spark.operators.analytics import theil_sen

        df = spark.range(500).select(
            F.col("id"),
            (F.col("id") % 37).cast("double").alias("x"),
            (F.col("id") % 91).cast("double").alias("y"),
        )
        a = theil_sen(df, "x", "y", F.col("id"), k=64).collect()[0]
        b = theil_sen(
            df.repartition(13), "x", "y", F.col("id"), k=64
        ).collect()[0]
        assert tuple(a) == tuple(b)


class TestOneWayAnova:
    def _py_anova(self, groups):
        """Textbook reference F over a dict {group: [values]}."""
        k = len(groups)
        all_v = [v for vs in groups.values() for v in vs]
        n = len(all_v)
        grand = sum(all_v) / n
        ssb = sum(
            len(vs) * (sum(vs) / len(vs) - grand) ** 2
            for vs in groups.values()
        )
        ssw = sum(
            (v - sum(vs) / len(vs)) ** 2
            for vs in groups.values()
            for v in vs
        )
        return (ssb / (k - 1)) / (ssw / (n - k)), ssb / (ssb + ssw)

    def test_matches_python_reference(self, spark):
        from h3_indexer_spark.operators.analytics import one_way_anova

        groups = {
            "a": [1.0, 2.0, 3.0, 2.5, 1.5],
            "b": [4.0, 5.0, 6.0, 5.5, 4.5],
            "c": [2.0, 3.0, 2.5, 3.5, 2.75],
        }
        df = spark.createDataFrame(
            [(g, v) for g, vs in groups.items() for v in vs],
            "grp string, val double",
        )
        row = one_way_anova(df, "grp", "val").collect()[0]
        f_ref, eta_ref = self._py_anova(groups)
        assert row["k_groups"] == 3 and row["n_total"] == 15
        assert row["f_stat"] == pytest.approx(f_ref, rel=1e-6)
        assert row["eta_sq"] == pytest.approx(eta_ref, rel=1e-6)

    def test_degenerate_single_group_null_f(self, spark):
        from h3_indexer_spark.operators.analytics import one_way_anova

        df = spark.createDataFrame(
            [("a", 1.0), ("a", 2.0)], "grp string, val double"
        )
        row = one_way_anova(df, "grp", "val").collect()[0]
        assert row["k_groups"] == 1 and row["f_stat"] is None

    def test_identical_means_f_near_zero(self, spark):
        from h3_indexer_spark.operators.analytics import one_way_anova

        df = spark.createDataFrame(
            [("a", 1.0), ("a", 3.0), ("b", 3.0), ("b", 1.0)],
            "grp string, val double",
        )
        row = one_way_anova(df, "grp", "val").collect()[0]
        assert abs(row["f_stat"]) < 1e-6


class TestBootstrapCi:
    def test_ci_brackets_mean_and_is_deterministic(self, spark):
        from h3_indexer_spark.operators.analytics import bootstrap_mean_ci

        df = spark.createDataFrame(
            [(i, float(100 + (i * 37) % 50)) for i in range(400)],
            "k long, v double",
        )
        r1 = bootstrap_mean_ci(df, "k", "v", b=100).collect()[0]
        r2 = bootstrap_mean_ci(df, "k", "v", b=100).collect()[0]
        assert r1 == r2, "bootstrap must be seedlessly deterministic"
        assert r1["b_reps"] == 100 and r1["n_rows"] == 400
        assert r1["ci_lo"] < r1["point_mean"] < r1["ci_hi"]
        # the interval is a few standard errors wide, not degenerate
        # and not silly: se ~ sd/sqrt(n) ~ 14.4/20 ~ 0.72
        width = r1["ci_hi"] - r1["ci_lo"]
        assert 0.5 < width < 10.0

    def test_weights_are_poisson1_ish(self, spark):
        """Mean replicate size ~ n (Poisson(1) weights sum to ~n)."""
        from h3_indexer_spark.operators.analytics import (
            _POISSON1_Q60,
            bootstrap_mean_ci,
        )

        assert len(_POISSON1_Q60) == 8
        assert _POISSON1_Q60 == sorted(_POISSON1_Q60)
        assert _POISSON1_Q60[0] == pytest.approx(
            0.36787944117144233 * 2**60, rel=1e-12
        )

    def test_b_bounds(self, spark):
        from h3_indexer_spark.operators.analytics import bootstrap_mean_ci

        df = spark.createDataFrame([(1, 1.0)], "k long, v double")
        with pytest.raises(ValueError):
            bootstrap_mean_ci(df, "k", "v", b=0)


class TestJaccardLinkPrediction:
    def test_hand_graph(self, spark):
        from h3_indexer_spark.operators.graph import jaccard_link_prediction

        # path-ish graph: 1-2, 2-3, 3-4, 1-3  => non-adjacent pairs
        # sharing neighbors: (1,4) share {3}; (2,4) share {3}
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (1, 3)], "src long, dst long"
        )
        out = {
            (r["u"], r["v"]): r
            for r in jaccard_link_prediction(edges).collect()
        }
        assert set(out) == {(1, 4), (2, 4)}
        r = out[(1, 4)]
        # N(1)={2,3}, N(4)={3}: common=1, union=2 -> 0.5
        assert r["common_neighbors"] == 1
        assert (r["deg_u"], r["deg_v"]) == (2, 1)
        assert r["jac_q"] == 500_000_000
        r = out[(2, 4)]
        # N(2)={1,3}, N(4)={3}: common=1, union=2 -> 0.5
        assert r["jac_q"] == 500_000_000

    def test_existing_edges_removed_and_min_common(self, spark):
        from h3_indexer_spark.operators.graph import jaccard_link_prediction

        # K4 minus edge (1,4): every pair shares 2 neighbors
        edges = spark.createDataFrame(
            [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)],
            "src long, dst long",
        )
        rows = jaccard_link_prediction(edges, min_common=2).collect()
        assert {(r["u"], r["v"]) for r in rows} == {(1, 4)}
        r = rows[0]
        # N(1)={2,3}, N(4)={2,3}: common=2, union=2 -> 1.0
        assert r["common_neighbors"] == 2
        assert r["jac_q"] == 1_000_000_000

    def test_lazy_fast_path(self, spark):
        from h3_indexer_spark.operators.graph import jaccard_link_prediction

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (1, 3), (3, 4)], "src long, dst long"
        )
        plan, jobs = _jobs_during(
            spark,
            lambda: jaccard_link_prediction(edges, log_exclusions=False),
        )
        assert jobs == [], f"construction launched jobs: {jobs}"
        lazy = {(r["u"], r["v"]): r["jac_q"] for r in plan.collect()}
        eager = {
            (r["u"], r["v"]): r["jac_q"]
            for r in jaccard_link_prediction(edges).collect()
        }
        assert lazy == eager and lazy


class TestLogOddsTerms:
    def test_planted_slant(self, spark):
        from h3_indexer_spark.operators.textops import log_odds_terms

        rows = []
        for i in range(30):
            rows.append((i, "en", "alpha alpha shared shared"))
            rows.append((i + 100, "de", "beta beta shared shared"))
        df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
        out = {
            r["term"]: r
            for r in log_odds_terms(
                df, "lang", "en", min_count=10
            ).collect()
        }
        assert set(out) == {"alpha", "beta", "shared"}
        assert out["alpha"]["y_focus"] == 60 and out["alpha"]["y_rest"] == 0
        assert out["alpha"]["z_logodds"] > 2.0
        assert out["beta"]["z_logodds"] < -2.0
        assert abs(out["shared"]["z_logodds"]) < 0.5
        # antisymmetry of the planted design
        assert out["alpha"]["z_logodds"] == pytest.approx(
            -out["beta"]["z_logodds"], abs=1e-5
        )

    def test_min_count_trims(self, spark):
        from h3_indexer_spark.operators.textops import log_odds_terms

        df = spark.createDataFrame(
            [(1, "en", "rare common common"), (2, "de", "common common")],
            "doc_id long, lang string, text string",
        )
        out = log_odds_terms(df, "lang", "en", min_count=3).collect()
        assert {r["term"] for r in out} == {"common"}


class TestReciprocalBestMatch:
    def test_mutual_pairs_only(self, spark):
        from h3_indexer_spark.operators.textops import reciprocal_best_match

        # abcd1<->abcd2 at dist 1 (mutual best); abcd4 is distance 1
        # from abcd2 as well, but abcd2's best is abcd1 (tie on dist,
        # lower id wins) so (2,4)... careful: ids order the tiebreak.
        df = spark.createDataFrame(
            [(1, "abcd1"), (2, "abcd2"), (7, "abcd4"), (9, "zzzz")],
            "id long, name string",
        )
        out = reciprocal_best_match(
            df, "id", "name", max_dist=1, prefix_len=4
        ).collect()
        got = {(r["id_a"], r["id_b"]) for r in out}
        # best(1)=2, best(2)=1 (dist 1, id tiebreak), best(7)=1 — so
        # only (1,2) is mutual; zzzz has no candidates at all
        assert got == {(1, 2)}
        r = out[0]
        assert (r["name_a"], r["name_b"]) == ("abcd1", "abcd2")
        assert r["edit_dist"] == 1

    def test_symmetric_clique_pairs_up(self, spark):
        from h3_indexer_spark.operators.textops import reciprocal_best_match

        df = spark.createDataFrame(
            [(1, "pref_aa"), (2, "pref_ab"), (3, "pref_ba"), (4, "pref_bb")],
            "id long, name string",
        )
        out = reciprocal_best_match(
            df, "id", "name", max_dist=1, prefix_len=5
        ).collect()
        # dist-1 graph: 1-2, 1-3(? pref_aa vs pref_ba: 1 sub), 2-4,
        # 3-4; best(1)=2? 1's candidates: 2 (dist1), 3 (dist1) -> id
        # tiebreak picks 2; best(2): 1 (dist1), 4 (dist1) -> picks 1;
        # mutual (1,2). best(3): 1 (dist1), 4 (dist1) -> picks 1, not
        # mutual; best(4): 2,3 -> picks 2, not mutual.
        got = {(r["id_a"], r["id_b"]) for r in out}
        assert got == {(1, 2)}


class TestCramersV:
    def test_perfect_association_v1(self, spark):
        from h3_indexer_spark.operators.analytics import cramers_v

        # lang determines source exactly -> V = 1
        rows = [("en", "a")] * 10 + [("de", "b")] * 10 + [("fr", "c")] * 10
        df = spark.createDataFrame(rows, "lang string, src string")
        r = cramers_v(df, "lang", "src").collect()[0]
        assert r["n_obs"] == 30
        assert (r["r_levels"], r["c_levels"]) == (3, 3)
        assert r["cramers_v"] == pytest.approx(1.0, abs=1e-9)

    def test_independence_v0(self, spark):
        from h3_indexer_spark.operators.analytics import cramers_v

        # perfectly balanced table -> chi2 = 0 -> V = 0
        rows = [
            (a, b) for a in ("x", "y") for b in ("p", "q") for _ in range(5)
        ]
        df = spark.createDataFrame(rows, "a string, b string")
        r = cramers_v(df, "a", "b").collect()[0]
        assert r["chi2"] == pytest.approx(0.0, abs=1e-9)
        assert r["cramers_v"] == pytest.approx(0.0, abs=1e-9)

    def test_degenerate_single_level(self, spark):
        from h3_indexer_spark.operators.analytics import cramers_v

        df = spark.createDataFrame(
            [("x", "p"), ("x", "q")], "a string, b string"
        )
        r = cramers_v(df, "a", "b").collect()[0]
        assert r["cramers_v"] is None


class TestDiffInDiff:
    def test_textbook_2x2(self, spark):
        from h3_indexer_spark.operators.analytics import diff_in_diff

        # control: 10 -> 12 (+2 trend); treated: 20 -> 27 (+7)
        # DiD = 7 - 2 = 5
        rows = (
            [(False, False, 10.0)] * 4
            + [(False, True, 12.0)] * 4
            + [(True, False, 20.0)] * 4
            + [(True, True, 27.0)] * 4
        )
        df = spark.createDataFrame(rows, "t boolean, p boolean, v double")
        r = diff_in_diff(df, "t", "p", "v").collect()[0]
        assert r["n_t_pre"] == 4 and r["n_c_post"] == 4
        assert r["mean_t_post"] == pytest.approx(27.0)
        assert r["did"] == pytest.approx(5.0, abs=1e-9)

    def test_missing_cell_null_did(self, spark):
        from h3_indexer_spark.operators.analytics import diff_in_diff

        rows = [(False, False, 1.0), (True, True, 2.0)]
        df = spark.createDataFrame(rows, "t boolean, p boolean, v double")
        r = diff_in_diff(df, "t", "p", "v").collect()[0]
        assert r["did"] is None and r["n_t_pre"] == 0


class TestPsmMatch:
    def test_nearest_within_caliper(self, spark):
        from h3_indexer_spark.operators.analytics import psm_match

        # treated 1 (score 10.0): controls at 10.3 (id 11) and 9.6
        # (id 12) -> nearest is 12? |10-10.3|=0.3 < |10-9.6|=0.4 ->
        # control 11. treated 2 (score 50): no control within 1.0.
        df = spark.createDataFrame(
            [
                (1, True, 10.0),
                (2, True, 50.0),
                (11, False, 10.3),
                (12, False, 9.6),
                (13, False, 48.0),
            ],
            "id long, t boolean, score double",
        )
        out = {
            r["treated_id"]: r
            for r in psm_match(df, "id", "t", "score", 1.0).collect()
        }
        assert set(out) == {1}
        assert out[1]["control_id"] == 11
        assert out[1]["diff_q"] == 300_000

    def test_tie_breaks_on_control_id(self, spark):
        from h3_indexer_spark.operators.analytics import psm_match

        df = spark.createDataFrame(
            [(1, True, 5.0), (21, False, 5.5), (9, False, 4.5)],
            "id long, t boolean, score double",
        )
        out = psm_match(df, "id", "t", "score", 2.0).collect()
        assert len(out) == 1 and out[0]["control_id"] == 9

    def test_band_edges_and_negative_scores(self, spark):
        from h3_indexer_spark.operators.analytics import psm_match

        # scores straddling 0 land in bands -1 and 0; the +/-1 probe
        # must still find the cross-band nearest neighbor
        df = spark.createDataFrame(
            [(1, True, 0.2), (2, False, -0.3)],
            "id long, t boolean, score double",
        )
        out = psm_match(df, "id", "t", "score", 1.0).collect()
        assert len(out) == 1
        assert out[0]["control_id"] == 2 and out[0]["diff_q"] == 500_000

    def test_caliper_validation(self, spark):
        from h3_indexer_spark.operators.analytics import psm_match

        df = spark.createDataFrame([(1, True, 1.0)], "id long, t boolean, s double")
        with pytest.raises(ValueError):
            psm_match(df, "id", "t", "s", 0.0)


class TestSpearman:
    def _py_spearman(self, xs, ys):
        def ranks(vals):
            s = sorted(vals)
            return [
                (s.index(v) + 1 + s.index(v) + s.count(v)) / 2.0
                for v in vals
            ]
        import math

        rx, ry = ranks(xs), ranks(ys)
        n = len(xs)
        mx, my = sum(rx) / n, sum(ry) / n
        num = sum((a - mx) * (b - my) for a, b in zip(rx, ry))
        den = math.sqrt(
            sum((a - mx) ** 2 for a in rx)
            * sum((b - my) ** 2 for b in ry)
        )
        return num / den

    def test_matches_python_reference_with_ties(self, spark):
        from h3_indexer_spark.operators.analytics import spearman_corr

        xs = [1.0, 2.0, 2.0, 3.0, 5.0, 5.0, 5.0, 8.0]
        ys = [2.0, 1.0, 3.0, 3.0, 4.0, 6.0, 5.0, 7.0]
        df = spark.createDataFrame(
            list(zip(xs, ys)), "x double, y double"
        )
        row = spearman_corr(df, "x", "y").collect()[0]
        assert row["n_pairs"] == 8
        assert row["rho"] == pytest.approx(
            self._py_spearman(xs, ys), rel=1e-9
        )

    def test_perfect_monotone_is_one(self, spark):
        from h3_indexer_spark.operators.analytics import spearman_corr

        df = spark.createDataFrame(
            [(float(i), float(i * i)) for i in range(1, 11)],
            "x double, y double",
        )
        row = spearman_corr(df, "x", "y").collect()[0]
        assert row["rho"] == pytest.approx(1.0)

    def test_constant_column_null(self, spark):
        from h3_indexer_spark.operators.analytics import spearman_corr

        df = spark.createDataFrame(
            [(1.0, 5.0), (2.0, 5.0), (3.0, 5.0)], "x double, y double"
        )
        assert spearman_corr(df, "x", "y").collect()[0]["rho"] is None


class TestBrownForsythe:
    def _py_bf(self, groups):
        import statistics

        zs = {
            g: [abs(v - statistics.median(vs)) for v in vs]
            for g, vs in groups.items()
        }
        k = len(zs)
        all_z = [z for vs in zs.values() for z in vs]
        n = len(all_z)
        grand = sum(all_z) / n
        ssb = sum(
            len(vs) * (sum(vs) / len(vs) - grand) ** 2
            for vs in zs.values()
        )
        ssw = sum(
            (z - sum(vs) / len(vs)) ** 2
            for vs in zs.values()
            for z in vs
        )
        return (ssb / (k - 1)) / (ssw / (n - k))

    def test_matches_python_reference(self, spark):
        from h3_indexer_spark.operators.analytics import brown_forsythe

        groups = {
            "a": [1.0, 2.0, 3.0, 4.0, 10.0],   # wide
            "b": [5.0, 5.25, 5.5, 5.75, 6.0],  # narrow
            "c": [2.0, 4.0, 6.0, 8.0],         # even n: interpolated med
        }
        df = spark.createDataFrame(
            [(g, v) for g, vs in groups.items() for v in vs],
            "grp string, val double",
        )
        row = brown_forsythe(df, "grp", "val").collect()[0]
        assert row["k_groups"] == 3 and row["n_total"] == 14
        assert row["w_stat"] == pytest.approx(
            self._py_bf(groups), rel=1e-6
        )

    def test_equal_spreads_w_near_zero(self, spark):
        from h3_indexer_spark.operators.analytics import brown_forsythe

        # identical deviation profiles in both groups: ssb = 0, W = 0
        df = spark.createDataFrame(
            [("a", 1.0), ("a", 2.0), ("a", 3.0),
             ("b", 11.0), ("b", 12.0), ("b", 13.0)],
            "grp string, val double",
        )
        row = brown_forsythe(df, "grp", "val").collect()[0]
        assert abs(row["w_stat"]) < 1e-9

    def test_zero_within_deviation_null_w(self, spark):
        from h3_indexer_spark.operators.analytics import brown_forsythe

        # every |v - median| identical within each group -> ssw = 0,
        # the W statistic is undefined and must be NULL, not an
        # ANSI-mode divide-by-zero
        df = spark.createDataFrame(
            [("a", 1.0), ("a", 3.0), ("b", 11.0), ("b", 13.0)],
            "grp string, val double",
        )
        row = brown_forsythe(df, "grp", "val").collect()[0]
        assert row["w_stat"] is None


class TestCronbachAlpha:
    def _py_alpha(self, matrix):
        """Dense subjects x items matrix, population variances."""
        n = len(matrix)
        k = len(matrix[0])

        def pvar(vals):
            m = sum(vals) / len(vals)
            return sum((v - m) ** 2 for v in vals) / len(vals)

        item_vars = [pvar([row[j] for row in matrix]) for j in range(k)]
        tot_var = pvar([sum(row) for row in matrix])
        return (k / (k - 1)) * (1 - sum(item_vars) / tot_var)

    def test_matches_python_reference(self, spark):
        from h3_indexer_spark.operators.analytics import cronbach_alpha

        matrix = [
            [3.0, 4.0, 3.5],
            [2.0, 2.5, 2.0],
            [5.0, 4.5, 5.0],
            [1.0, 1.5, 1.0],
            [4.0, 4.0, 4.5],
        ]
        rows = [
            (s, f"item{j}", matrix[s][j])
            for s in range(5)
            for j in range(3)
        ]
        df = spark.createDataFrame(
            rows, "subj long, item string, val double"
        )
        row = cronbach_alpha(df, "subj", "item", "val").collect()[0]
        assert row["k_items"] == 3 and row["n_subjects"] == 5
        assert row["alpha"] == pytest.approx(
            self._py_alpha(matrix), rel=1e-6
        )

    def test_absent_cells_score_zero(self, spark):
        from h3_indexer_spark.operators.analytics import cronbach_alpha

        # subject 2 never scores item b -> dense convention fills 0
        rows = [
            (1, "a", 2.0), (1, "b", 3.0),
            (2, "a", 4.0),
            (3, "a", 1.0), (3, "b", 2.0),
        ]
        df = spark.createDataFrame(
            rows, "subj long, item string, val double"
        )
        matrix = [[2.0, 3.0], [4.0, 0.0], [1.0, 2.0]]
        row = cronbach_alpha(df, "subj", "item", "val").collect()[0]
        assert row["alpha"] == pytest.approx(
            self._py_alpha(matrix), rel=1e-6
        )


class TestSimpsonsCheck:
    def test_planted_paradox_flips(self, spark):
        from h3_indexer_spark.operators.analytics import simpsons_check

        # classic: treated wins inside BOTH strata but loses pooled
        # because treatment concentrates in the hard stratum.
        rows = []
        rows += [(True, True, "easy")] * 9 + [(True, False, "easy")] * 1
        rows += [(False, True, "easy")] * 80 + [(False, False, "easy")] * 20
        rows += [(True, True, "hard")] * 30 + [(True, False, "hard")] * 70
        rows += [(False, True, "hard")] * 2 + [(False, False, "hard")] * 8
        df = spark.createDataFrame(
            rows, "t boolean, o boolean, s string"
        )
        out = {
            r["stratum"]: r
            for r in simpsons_check(df, "t", "o", "s").collect()
        }
        assert out["easy"]["diff"] > 0 and out["hard"]["diff"] > 0
        assert out["easy"]["agg_diff"] < 0
        assert out["easy"]["flipped"] and out["hard"]["flipped"]

    def test_consistent_direction_no_flip(self, spark):
        from h3_indexer_spark.operators.analytics import simpsons_check

        rows = (
            [(True, True, "x")] * 8 + [(True, False, "x")] * 2
            + [(False, True, "x")] * 2 + [(False, False, "x")] * 8
        )
        df = spark.createDataFrame(rows, "t boolean, o boolean, s string")
        r = simpsons_check(df, "t", "o", "s").collect()[0]
        assert r["flipped"] is False
        assert r["diff"] == pytest.approx(r["agg_diff"])


class TestMdeReadout:
    def test_matches_python_reference(self, spark):
        import math

        from h3_indexer_spark.operators.analytics import (
            _Z_80,
            _Z_975,
            mde_readout,
        )

        t_vals = [10.0, 12.0, 11.0, 13.0, 9.0]
        c_vals = [10.5, 11.5, 10.0, 12.5]
        rows = [(True, v) for v in t_vals] + [(False, v) for v in c_vals]
        df = spark.createDataFrame(rows, "t boolean, v double")
        row = mde_readout(df, "t", "v").collect()[0]

        def svar(vs):
            m = sum(vs) / len(vs)
            return sum((v - m) ** 2 for v in vs) / (len(vs) - 1)

        se = math.sqrt(
            svar(t_vals) / len(t_vals) + svar(c_vals) / len(c_vals)
        )
        assert row["n_t"] == 5 and row["n_c"] == 4
        assert row["se"] == pytest.approx(se, rel=1e-9)
        assert row["mde_abs"] == pytest.approx(
            (_Z_975 + _Z_80) * se, rel=1e-9
        )
        # outputs are ROUND(..., 9): compare at that granularity
        assert row["mde_rel"] == pytest.approx(
            (_Z_975 + _Z_80) * se / (sum(c_vals) / len(c_vals)),
            abs=1e-9,
        )

    def test_tiny_arm_nulls(self, spark):
        from h3_indexer_spark.operators.analytics import mde_readout

        df = spark.createDataFrame(
            [(True, 1.0), (False, 2.0), (False, 3.0)],
            "t boolean, v double",
        )
        row = mde_readout(df, "t", "v").collect()[0]
        assert row["se"] is None and row["mde_abs"] is None


class TestPartialCorr:
    def test_matches_numpy_reference(self, spark):
        import numpy as np

        from h3_indexer_spark.operators.analytics import partial_corr

        rng = np.random.RandomState(7)
        z = rng.rand(40) * 10
        x = 2.0 * z + rng.rand(40)
        y = -1.5 * z + rng.rand(40)
        x = np.round(x, 3)
        y = np.round(y, 3)
        z = np.round(z, 3)
        df = spark.createDataFrame(
            [(float(a), float(b), float(c)) for a, b, c in zip(x, y, z)],
            "x double, y double, z double",
        )
        row = partial_corr(df, "x", "y", "z").collect()[0]
        r_xy = np.corrcoef(x, y)[0, 1]
        r_xz = np.corrcoef(x, z)[0, 1]
        r_yz = np.corrcoef(y, z)[0, 1]
        ref = (r_xy - r_xz * r_yz) / np.sqrt(
            (1 - r_xz**2) * (1 - r_yz**2)
        )
        assert row["r_xy"] == pytest.approx(r_xy, abs=1e-6)
        # raw r_xy is strongly negative (both track z), partial near 0
        assert row["r_xy"] < -0.9
        assert abs(row["r_xy_given_z"]) < 0.5
        assert row["r_xy_given_z"] == pytest.approx(ref, abs=1e-6)


class TestReciprocity:
    def test_hand_graph(self, spark):
        from h3_indexer_spark.operators.graph import reciprocity

        # a->b x3, b->a x1 (reciprocated, min weight 1 both ways),
        # a->c x2 (one-way), c->c (self loop, dropped)
        edges = (
            [("a", "b")] * 3
            + [("b", "a")]
            + [("a", "c")] * 2
            + [("c", "c")]
        )
        df = spark.createDataFrame(edges, "src string, dst string")
        row = reciprocity(df).collect()[0]
        assert row["n_edges"] == 3
        assert row["n_reciprocated"] == 2
        assert row["reciprocity"] == pytest.approx(2 / 3)
        assert row["w_total"] == 6
        assert row["w_reciprocated"] == 2  # min(3,1) + min(1,3)
        assert row["weighted_reciprocity"] == pytest.approx(2 / 6)

    def test_empty_graph_nulls(self, spark):
        from h3_indexer_spark.operators.graph import reciprocity

        df = spark.createDataFrame(
            [("a", "a")], "src string, dst string"
        )
        row = reciprocity(df).collect()[0]
        assert row["n_edges"] == 0 and row["reciprocity"] is None


class TestKeySkewCensus:
    def test_planted_skew(self, spark):
        from h3_indexer_spark.operators.expectations import (
            key_skew_census,
        )

        # 99 singleton keys + one hot key with 100 rows
        rows = [(f"k{i}",) for i in range(99)] + [("hot",)] * 100
        df = spark.createDataFrame(rows, "k string")
        row = key_skew_census(df, "k", "events.k").collect()[0]
        assert row["key_name"] == "events.k"
        assert row["n_rows"] == 199 and row["n_keys"] == 100
        assert row["max_size"] == 100
        # ceil(0.99 * 100) = 99 -> 99th key by size is still size 1
        assert row["p99_size"] == 1
        assert row["avg_size"] == pytest.approx(1.99)
        assert row["top_share"] == pytest.approx(100 / 199)
        assert row["skew_ratio"] == pytest.approx(100 / 1.99)

    def test_uniform_keys_ratio_one(self, spark):
        from h3_indexer_spark.operators.expectations import (
            key_skew_census,
        )

        rows = [(f"k{i % 10}",) for i in range(50)]
        df = spark.createDataFrame(rows, "k string")
        row = key_skew_census(df, "k").collect()[0]
        assert row["key_name"] == "k"
        assert row["skew_ratio"] == pytest.approx(1.0)
        assert row["p99_size"] == 5 and row["max_size"] == 5


class TestKendallTau:
    def _py_tau_b(self, xs, ys):
        import math

        n = len(xs)
        c = d = 0
        for i in range(n):
            for j in range(i + 1, n):
                sx = (xs[i] > xs[j]) - (xs[i] < xs[j])
                sy = (ys[i] > ys[j]) - (ys[i] < ys[j])
                if sx * sy > 0:
                    c += 1
                elif sx * sy < 0:
                    d += 1
        n0 = n * (n - 1) / 2

        def ties(vals):
            from collections import Counter

            return sum(
                m * (m - 1) / 2 for m in Counter(vals).values()
            )

        return (c - d) / math.sqrt(
            (n0 - ties(xs)) * (n0 - ties(ys))
        ), c, d

    def test_matches_python_reference_with_ties(self, spark):
        from h3_indexer_spark.operators.analytics import kendall_tau

        xs = [1.0, 2.0, 2.0, 3.0, 5.0, 5.0, 4.0, 8.0, 1.0]
        ys = [2.0, 1.0, 3.0, 3.0, 4.0, 6.0, 5.0, 7.0, 2.0]
        df = spark.createDataFrame(
            list(zip(xs, ys)), "x double, y double"
        )
        row = kendall_tau(df, "x", "y").collect()[0]
        ref, c, d = self._py_tau_b(xs, ys)
        assert row["n_pairs"] == 9
        assert row["concordant"] == c and row["discordant"] == d
        assert row["tau_b"] == pytest.approx(ref, rel=1e-9)

    def test_perfect_reversal_minus_one(self, spark):
        from h3_indexer_spark.operators.analytics import kendall_tau

        df = spark.createDataFrame(
            [(float(i), float(10 - i)) for i in range(1, 8)],
            "x double, y double",
        )
        row = kendall_tau(df, "x", "y").collect()[0]
        assert row["tau_b"] == pytest.approx(-1.0)
        assert row["concordant"] == 0

    def test_constant_marginal_null(self, spark):
        from h3_indexer_spark.operators.analytics import kendall_tau

        df = spark.createDataFrame(
            [(1.0, 5.0), (2.0, 5.0), (3.0, 5.0)], "x double, y double"
        )
        assert kendall_tau(df, "x", "y").collect()[0]["tau_b"] is None


class TestDegreeAssortativity:
    def _py_assort(self, und_edges):
        import math
        from collections import Counter

        sym = set()
        for u, v in und_edges:
            if u != v:
                sym.add((u, v))
                sym.add((v, u))
        deg = Counter(u for u, _ in sym)
        pairs = [(deg[u], deg[v]) for u, v in sym]
        m = len(pairs)
        su = sum(a for a, _ in pairs)
        sv = sum(b for _, b in pairs)
        qu = sum(a * a for a, _ in pairs)
        qv = sum(b * b for _, b in pairs)
        p = sum(a * b for a, b in pairs)
        num = m * p - su * sv
        den = math.sqrt(m * qu - su * su) * math.sqrt(m * qv - sv * sv)
        return num / den

    def test_star_graph_disassortative(self, spark):
        from h3_indexer_spark.operators.graph import degree_assortativity

        # star + a pendant triangle: hubs wire to leaves -> r < 0
        edges = [(0, i) for i in range(1, 6)] + [(1, 2), (6, 1)]
        df = spark.createDataFrame(edges, "src long, dst long")
        row = degree_assortativity(df).collect()[0]
        assert row["n_edges"] == 7
        assert row["r_assortativity"] == pytest.approx(
            self._py_assort(edges), rel=1e-9
        )
        assert row["r_assortativity"] < 0

    def test_cycle_zero_variance_null(self, spark):
        from h3_indexer_spark.operators.graph import degree_assortativity

        # 4-cycle: every degree 2 -> zero variance -> NULL r
        df = spark.createDataFrame(
            [(0, 1), (1, 2), (2, 3), (3, 0)], "src long, dst long"
        )
        row = degree_assortativity(df).collect()[0]
        assert row["n_edges"] == 4 and row["r_assortativity"] is None


class TestHhiConcentration:
    def test_matches_python_reference(self, spark):
        from h3_indexer_spark.operators.analytics import hhi_concentration

        totals = {"a": 50.0, "b": 30.0, "c": 15.0, "d": 5.0}
        rows = [(e, v / 2) for e, v in totals.items() for _ in range(2)]
        df = spark.createDataFrame(rows, "e string, v double")
        row = hhi_concentration(df, "e", "v").collect()[0]
        t = sum(totals.values())
        hhi = sum((v / t) ** 2 for v in totals.values())
        k = len(totals)
        assert row["n_entities"] == 4
        assert row["hhi"] == pytest.approx(hhi, rel=1e-9)
        # output is ROUND(..., 9): compare at that granularity
        assert row["hhi_normalized"] == pytest.approx(
            (hhi - 1 / k) / (1 - 1 / k), abs=1e-9
        )

    def test_monopoly_is_one(self, spark):
        from h3_indexer_spark.operators.analytics import hhi_concentration

        df = spark.createDataFrame(
            [("only", 10.0), ("only", 5.0)], "e string, v double"
        )
        row = hhi_concentration(df, "e", "v").collect()[0]
        assert row["hhi"] == pytest.approx(1.0)
        assert row["hhi_normalized"] is None

    def test_uniform_normalized_zero(self, spark):
        from h3_indexer_spark.operators.analytics import hhi_concentration

        df = spark.createDataFrame(
            [(f"e{i}", 10.0) for i in range(5)], "e string, v double"
        )
        row = hhi_concentration(df, "e", "v").collect()[0]
        assert row["hhi"] == pytest.approx(0.2)
        assert row["hhi_normalized"] == pytest.approx(0.0, abs=1e-9)


class TestWilcoxonSignedRank:
    def _py_wilcoxon(self, before, after):
        import math
        from collections import Counter

        d = [round((a - b) * 10000) for b, a in zip(before, after)]
        d = [x for x in d if x != 0]
        n = len(d)
        mags = sorted(abs(x) for x in d)

        def avg_rank(m):
            lo = mags.index(m) + 1
            return lo + (mags.count(m) - 1) / 2.0

        w_plus = sum(avg_rank(abs(x)) for x in d if x > 0)
        ties = sum(
            t**3 - t for t in Counter(mags).values()
        )
        mean_w = n * (n + 1) / 4.0
        var_w = n * (n + 1) * (2 * n + 1) / 24.0 - ties / 48.0
        return n, w_plus, (w_plus - mean_w) / math.sqrt(var_w)

    def test_matches_python_reference_with_ties(self, spark):
        from h3_indexer_spark.operators.analytics import (
            wilcoxon_signed_rank,
        )

        before = [10.0, 12.0, 9.0, 15.0, 20.0, 7.0, 11.0, 13.0]
        after = [12.0, 11.0, 13.0, 15.0, 24.0, 9.0, 9.0, 15.0]
        # diffs: +2, -1, +4, 0(drops), +4, +2, -2, +2 -> heavy ties
        df = spark.createDataFrame(
            list(zip(before, after)), "b double, a double"
        )
        row = wilcoxon_signed_rank(df, "b", "a").collect()[0]
        n, wp, z = self._py_wilcoxon(before, after)
        assert row["n_nonzero"] == n == 7
        assert row["w_plus"] == pytest.approx(wp, rel=1e-9)
        assert row["z_stat"] == pytest.approx(z, abs=1e-9)
        assert row["w_plus"] + row["w_minus"] == pytest.approx(
            n * (n + 1) / 2.0
        )

    def test_all_positive_shifts(self, spark):
        from h3_indexer_spark.operators.analytics import (
            wilcoxon_signed_rank,
        )

        df = spark.createDataFrame(
            [(float(i), float(i) + 1.0 + i * 0.1) for i in range(6)],
            "b double, a double",
        )
        row = wilcoxon_signed_rank(df, "b", "a").collect()[0]
        assert row["w_minus"] == 0.0
        assert row["z_stat"] > 0

    def test_zero_diffs_drop(self, spark):
        from h3_indexer_spark.operators.analytics import (
            wilcoxon_signed_rank,
        )

        df = spark.createDataFrame(
            [(1.0, 1.0), (2.0, 2.0), (3.0, 4.0)], "b double, a double"
        )
        row = wilcoxon_signed_rank(df, "b", "a").collect()[0]
        assert row["n_nonzero"] == 1


class TestTukeyContrasts:
    def test_matches_python_reference(self, spark):
        import math

        from h3_indexer_spark.operators.analytics import tukey_contrasts

        groups = {
            "a": [1.0, 2.0, 3.0, 2.5],
            "b": [4.0, 5.0, 6.0],
            "c": [2.0, 3.0, 2.5, 3.5, 2.75],
        }
        df = spark.createDataFrame(
            [(g, v) for g, vs in groups.items() for v in vs],
            "grp string, val double",
        )
        rows = {
            (r["group_a"], r["group_b"]): r
            for r in tukey_contrasts(df, "grp", "val").collect()
        }
        assert len(rows) == 3
        n = sum(len(vs) for vs in groups.values())
        k = len(groups)
        ssw = sum(
            (v - sum(vs) / len(vs)) ** 2
            for vs in groups.values()
            for v in vs
        )
        msw = ssw / (n - k)
        for (ga, gb), r in rows.items():
            va, vb = groups[ga], groups[gb]
            diff = sum(va) / len(va) - sum(vb) / len(vb)
            se = math.sqrt(msw / 2 * (1 / len(va) + 1 / len(vb)))
            assert r["mean_diff"] == pytest.approx(diff, abs=1e-8)
            assert r["se"] == pytest.approx(se, abs=1e-8)
            assert r["q_stat"] == pytest.approx(
                abs(diff) / se, rel=1e-6
            )

    def test_pair_count_is_k_choose_2(self, spark):
        from h3_indexer_spark.operators.analytics import tukey_contrasts

        df = spark.createDataFrame(
            [(f"g{i}", float(i * j)) for i in range(5) for j in range(4)],
            "grp string, val double",
        )
        assert tukey_contrasts(df, "grp", "val").count() == 10


class TestLaspeyresIndex:
    def test_matches_python_reference(self, spark):
        from h3_indexer_spark.operators.analytics import laspeyres_index

        # item -> {year: (price, qty)}; revenue = price * qty
        data = {
            "x": {2020: (2.0, 10.0), 2021: (3.0, 8.0)},
            "y": {2020: (5.0, 4.0), 2021: (5.5, 6.0)},
            "z": {2021: (9.0, 1.0)},  # absent from base -> drops
        }
        rows = [
            (i, y, p * q, q)
            for i, ys in data.items()
            for y, (p, q) in ys.items()
        ]
        df = spark.createDataFrame(
            rows, "item string, yr int, rev double, qty double"
        )
        out = {
            r["period"]: r
            for r in laspeyres_index(
                df, "item", "yr", "rev", "qty"
            ).collect()
        }
        assert out[2020]["laspeyres_index"] == pytest.approx(100.0)
        assert out[2020]["n_items"] == 2
        # 2021 basket: p21_x*q20_x + p21_y*q20_y over base revenue
        num = 3.0 * 10.0 + 5.5 * 4.0
        den = 2.0 * 10.0 + 5.0 * 4.0
        assert out[2021]["laspeyres_index"] == pytest.approx(
            100.0 * num / den, rel=1e-9
        )
        assert out[2021]["n_items"] == 2

    def test_price_doubling_reads_200(self, spark):
        from h3_indexer_spark.operators.analytics import laspeyres_index

        rows = [
            ("a", 1, 10.0, 5.0), ("a", 2, 20.0, 5.0),
            ("b", 1, 8.0, 2.0), ("b", 2, 16.0, 2.0),
        ]
        df = spark.createDataFrame(
            rows, "item string, yr int, rev double, qty double"
        )
        out = {
            r["period"]: r["laspeyres_index"]
            for r in laspeyres_index(
                df, "item", "yr", "rev", "qty"
            ).collect()
        }
        assert out[2] == pytest.approx(200.0)
