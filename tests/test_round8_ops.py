"""Round-8 operators: BPE apply, containment near-dup, degree
histogram, rolling HLL actives, Fleiss' kappa, vocabulary coverage,
Simpson/HHI diversity — each locked against an independent pure-Python
reference (the contract oracle SQL lives in queries.py; these tests
pin the operator semantics themselves)."""

from __future__ import annotations

import math
import re
from collections import Counter, defaultdict

import numpy as np
import pytest


def _py_tokens(text: str) -> list[str]:
    return [
        t
        for t in re.sub(r"[^\w\s]", " ", text).lower().split()
        if t
    ]


def _py_bpe_apply(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Reference BPE apply: sequential merges, greedy left-to-right —
    the classic per-round rewrite."""
    syms = list(word)
    for a, b in merges:
        out: list[str] = []
        for s in syms:
            if out and out[-1] == a and s == b:
                out[-1] = a + b
            else:
                out.append(s)
        syms = out
    return syms


class TestBpeEncode:
    _DOCS = [
        (0, "the thin thing in the ring was singing"),
        (1, "another thing and then another ring"),
        (2, "in the end the thing sang on and on"),
        (3, "aaaa and the banana ananas"),
    ]
    _MERGES = [
        ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"),
        ("an", "d"), ("in", "g"), ("r", "ing"), ("a", "a"),
    ]

    def test_words_match_python_reference(self, spark):
        from h3_indexer_spark.operators.textops import bpe_encode_words

        df = spark.createDataFrame(self._DOCS, "doc_id long, text string")
        got = {
            r["word"]: (r["wn"], r["n_symbols"], r["encoded"])
            for r in bpe_encode_words(df, self._MERGES).collect()
        }
        counts = Counter(
            w for _, t in self._DOCS for w in _py_tokens(t)
        )
        assert set(got) == set(counts)
        for w, wn in counts.items():
            syms = _py_bpe_apply(w, self._MERGES)
            assert got[w] == (wn, len(syms), " ".join(syms)), w

    def test_chained_merge_semantics(self, spark):
        """[a,a,a,a] + (a,a) must give [aa,aa] — the trainer's
        look-behind fold, not non-overlapping string replace."""
        from h3_indexer_spark.operators.textops import bpe_encode_words

        df = spark.createDataFrame([(0, "aaaa aaa")], "doc_id long, text string")
        got = {
            r["word"]: r["encoded"]
            for r in bpe_encode_words(df, [("a", "a")]).collect()
        }
        assert got["aaaa"] == "aa aa"
        assert got["aaa"] == "aa a"

class TestContainmentPairs:
    def _py_grams(self, text: str, n: int) -> set[str]:
        w = text.split(" ")
        if len(w) <= n:
            return {" ".join(w[:n])} if len(w) < n else {
                " ".join(w[i : i + n]) for i in range(len(w) - n + 1)
            } or {text}
        return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}

    def test_matches_brute_force(self, spark):
        from h3_indexer_spark.operators.dedup import containment_pairs

        base = "alpha beta gamma delta epsilon zeta eta theta"
        docs = [
            (0, base + " iota kappa"),
            (1, base),  # contained in 0
            (2, "alpha beta gamma " + "x y z w v u t s r q"),
            (3, "totally different words here apart from nothing"),
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            (r["id_a"], r["id_b"]): r["containment"]
            for r in containment_pairs(
                df, threshold=0.5, max_df=100
            ).collect()
        }
        grams = {i: self._py_grams(t, 3) for i, t in docs}
        want = {}
        for a, ga in grams.items():
            for b, gb in grams.items():
                if a == b:
                    continue
                c = len(ga & gb) / len(ga)
                if c >= 0.5:
                    want[(a, b)] = c
        assert set(got) == set(want)
        for k, v in want.items():
            assert got[k] == pytest.approx(v, abs=1e-15)
        # asymmetry: the fully-contained doc scores 1.0 toward its
        # superset, strictly above the reverse direction
        assert got[(1, 0)] == pytest.approx(1.0)
        assert got[(1, 0)] > got[(0, 1)]

    def test_max_df_drops_boilerplate_grams(self, spark):
        from h3_indexer_spark.operators.dedup import containment_pairs

        # the shared gram appears in ALL 5 docs; max_df=4 removes it,
        # so no pairs survive
        docs = [(i, f"common shared gram unique{i} tail{i}") for i in range(5)]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        out = containment_pairs(df, threshold=0.2, max_df=4).collect()
        assert out == []


class TestDegreeDistribution:
    def test_matches_python(self, spark):
        from h3_indexer_spark.operators.graph import degree_distribution

        rng = np.random.RandomState(7)
        edges = [
            (int(rng.randint(0, 25)), int(rng.randint(0, 25)))
            for _ in range(80)
        ]
        df = spark.createDataFrame(edges, "src long, dst long")
        adj = defaultdict(set)
        for a, b in edges:
            if a != b:
                adj[a].add(b)
                adj[b].add(a)
        hist = Counter(len(v) for v in adj.values())
        nv = sum(hist.values())
        got = {
            r["degree"]: (r["n_vertices"], r["share"])
            for r in degree_distribution(df).collect()
        }
        assert set(got) == set(hist)
        for d, n in hist.items():
            assert got[d] == (n, pytest.approx(n / nv, abs=1e-15))

    def test_self_loops_ignored(self, spark):
        from h3_indexer_spark.operators.graph import degree_distribution

        df = spark.createDataFrame(
            [(1, 1), (1, 2), (2, 1)], "src long, dst long"
        )
        got = {
            r["degree"]: r["n_vertices"]
            for r in degree_distribution(df).collect()
        }
        assert got == {1: 2}


class TestRollingActiveUsersHll:
    def test_error_bound_vs_exact(self, spark):
        """The p=8 sketch's relative error is 1.04/sqrt(256) ≈ 6.5%;
        assert every day inside 4σ of the exact rolling distinct."""
        from h3_indexer_spark.operators.analytics import (
            rolling_active_users,
        )
        from h3_indexer_spark.operators.sketches import (
            rolling_active_users_hll,
        )

        day_ns = 86_400 * 10**9
        rng = np.random.RandomState(3)
        rows = [
            (
                int(rng.randint(0, 400)),
                int(rng.randint(0, 20)) * day_ns
                + int(rng.randint(0, 86_400)) * 10**9,
            )
            for _ in range(4000)
        ]
        df = spark.createDataFrame(rows, "user_id long, ts long")
        exact = {
            r["day"]: r["n_active_window"]
            for r in rolling_active_users(df).collect()
        }
        est = {
            r["day"]: r["est_distinct"]
            for r in rolling_active_users_hll(df).collect()
        }
        assert set(est) == set(exact)
        for d, e in exact.items():
            assert abs(est[d] - e) <= max(4 * 1.04 / 16.0 * e, 8), (
                d,
                est[d],
                e,
            )

    def test_window_merge_is_register_max(self, spark):
        """A window day's registers must equal the groupBy-max of its
        member days' per-day registers (sketch-of-union contract),
        which the s_int surface exposes: recompute one day from the
        per-day register tables and compare."""
        from h3_indexer_spark.operators.sketches import (
            hll_registers_grouped,
            rolling_active_users_hll,
        )

        day_ns = 86_400 * 10**9
        rows = [
            (u, d * day_ns)
            for d, users in enumerate([[1, 2, 3], [3, 4], [5]])
            for u in users
        ]
        df = spark.createDataFrame(rows, "user_id long, ts long")
        out = {
            r["day"]: r
            for r in rolling_active_users_hll(
                df, window_days=2
            ).collect()
        }
        regs = hll_registers_grouped(
            df.withColumn("_day", (df.ts / day_ns).cast("long")),
            "_day",
            "user_id",
            p=8,
        ).collect()
        merged: dict[int, int] = {}
        for r in regs:
            if r["group"] in (0, 1):  # window ending day 1
                b = r["bucket"]
                merged[b] = max(merged.get(b, 0), r["rho"])
        k_max = 53
        s_int = sum(1 << (k_max - rho) for rho in merged.values())
        s_int += (256 - len(merged)) * (1 << k_max)
        assert out[1]["s_int"] == s_int
        assert out[1]["n_zero"] == 256 - len(merged)

    def test_ln_floor_margin(self, spark):
        """Linear-counting days emit FLOOR(m·ln(m/V)): assert the
        value sits far from the integer boundary (the ln-ulp rule)."""
        from h3_indexer_spark.operators.sketches import (
            rolling_active_users_hll,
        )

        day_ns = 86_400 * 10**9
        rows = [
            (int(u), int(d) * day_ns)
            for d in range(6)
            for u in range(d * 7, d * 7 + 30)
        ]
        df = spark.createDataFrame(rows, "user_id long, ts long")
        for r in rolling_active_users_hll(df).collect():
            v = r["n_zero"]
            if v > 0:
                raw_num = (
                    0.7213 / (1.0 + 1.079 / 256) * 256 * 256 * 2.0**53
                )
                raw = raw_num / r["s_int"]
                if raw <= 2.5 * 256:
                    x = 256.0 * math.log(256.0 / v)
                    assert abs(x - round(x)) > 1e-6 or x == round(x)


class TestFleissKappa:
    @staticmethod
    def _py_fleiss(ratings: list[tuple[int, str]]):
        by_item: dict[int, Counter] = defaultdict(Counter)
        for item, lab in ratings:
            by_item[item][lab] += 1
        by_item = {i: c for i, c in by_item.items() if sum(c.values()) >= 2}
        n_items = len(by_item)
        n_ratings = sum(sum(c.values()) for c in by_item.values())
        p_bar = (
            sum(
                math.floor(
                    sum(n * (n - 1) for n in c.values())
                    / (sum(c.values()) * (sum(c.values()) - 1))
                    * 1e9
                )
                for c in by_item.values()
            )
            / 1e9
            / n_items
        )
        marg = Counter()
        for c in by_item.values():
            marg.update(c)
        p_e = sum(t * t for t in marg.values()) / (n_ratings * n_ratings)
        kappa = (
            (p_bar - p_e) / (1 - p_e) if p_e < 1.0 else None
        )
        return n_items, n_ratings, p_bar, p_e, kappa

    def test_matches_python_reference(self, spark):
        from h3_indexer_spark.operators.labeling import fleiss_kappa

        rng = np.random.RandomState(13)
        labs = ["pos", "neg", "neutral"]
        ratings = [
            (int(rng.randint(0, 30)), labs[int(rng.randint(0, 3))])
            for _ in range(200)
        ]
        df = spark.createDataFrame(ratings, "item long, label string")
        r = fleiss_kappa(df, "item", "label").collect()[0]
        n_items, n_ratings, p_bar, p_e, kappa = self._py_fleiss(ratings)
        assert r["n_items"] == n_items
        assert r["n_ratings"] == n_ratings
        assert r["p_bar"] == pytest.approx(p_bar, abs=1e-12)
        assert r["p_e"] == pytest.approx(p_e, abs=1e-15)
        assert r["kappa"] == pytest.approx(kappa, abs=1e-12)

    def test_perfect_agreement_and_constant_raters(self, spark):
        from h3_indexer_spark.operators.labeling import fleiss_kappa

        # all raters agree per item, two labels across items
        rows = [(i, "a" if i % 2 else "b") for i in range(10) for _ in range(3)]
        df = spark.createDataFrame(rows, "item long, label string")
        r = fleiss_kappa(df, "item", "label").collect()[0]
        assert r["p_bar"] == pytest.approx(1.0)
        assert r["kappa"] == pytest.approx(1.0)
        # degenerate: one label everywhere -> p_e = 1, kappa NULL
        df2 = spark.createDataFrame(
            [(i, "a") for i in range(4) for _ in range(2)],
            "item long, label string",
        )
        r2 = fleiss_kappa(df2, "item", "label").collect()[0]
        assert r2["kappa"] is None

    def test_single_rating_items_dropped(self, spark):
        from h3_indexer_spark.operators.labeling import fleiss_kappa

        rows = [(1, "a"), (1, "a"), (2, "b")]  # item 2: one rating
        df = spark.createDataFrame(rows, "item long, label string")
        r = fleiss_kappa(df, "item", "label").collect()[0]
        assert r["n_items"] == 1 and r["n_ratings"] == 2


class TestVocabCoverage:
    def test_matches_python(self, spark):
        from h3_indexer_spark.operators.textops import vocab_coverage

        docs = [
            (0, "a a a b b c d e f g"),
            (1, "a b b c c c h i"),
            (2, "a x y z z"),
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        counts = Counter(w for _, t in docs for w in _py_tokens(t))
        ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        total = sum(counts.values())
        got = {
            r["k"]: r
            for r in vocab_coverage(df, checkpoints=(1, 3, 5, 100)).collect()
        }
        for k in (1, 3, 5, 100):
            want = sum(n for _, n in ranked[:k])
            assert got[k]["n_covered"] == want
            assert got[k]["n_total"] == total
            assert got[k]["coverage"] == pytest.approx(
                want / total, abs=1e-15
            )

    def test_bad_checkpoints_raise(self, spark):
        from h3_indexer_spark.operators.textops import vocab_coverage

        df = spark.createDataFrame([(0, "a")], "doc_id long, text string")
        with pytest.raises(ValueError):
            vocab_coverage(df, checkpoints=(0, 5))


class TestDiversityIndex:
    def test_matches_python(self, spark):
        from h3_indexer_spark.operators.analytics import diversity_index

        rows = [("w",)] * 50 + [("x",)] * 30 + [("y",)] * 15 + [("z",)] * 5
        df = spark.createDataFrame(rows, "src string")
        r = diversity_index(df, "src").collect()[0]
        ns = [50, 30, 15, 5]
        n = sum(ns)
        simpson = sum(x * (x - 1) for x in ns) / (n * (n - 1.0))
        hhi = sum(x * x for x in ns) / (n * n * 1.0)
        assert r["n_categories"] == 4 and r["n_total"] == n
        assert r["simpson"] == pytest.approx(simpson, abs=1e-15)
        assert r["hhi"] == pytest.approx(hhi, abs=1e-15)
        assert r["effective_categories"] == pytest.approx(
            1.0 / hhi, rel=1e-12
        )

    def test_uniform_mix_effective_equals_k(self, spark):
        from h3_indexer_spark.operators.analytics import diversity_index

        rows = [(f"s{i}",) for i in range(5) for _ in range(10)]
        df = spark.createDataFrame(rows, "src string")
        r = diversity_index(df, "src").collect()[0]
        assert r["effective_categories"] == pytest.approx(5.0, rel=1e-12)

    def test_single_row_simpson_null(self, spark):
        from h3_indexer_spark.operators.analytics import diversity_index

        df = spark.createDataFrame([("only",)], "src string")
        r = diversity_index(df, "src").collect()[0]
        assert r["simpson"] is None and r["n_total"] == 1


class TestHybridRetrieval:
    """q_hybrid_retrieval's dense leg is valid against the brute-force
    SQL oracle only while the ADC-250 cut retains the TRUE top-20 —
    assert that recall with margin at both SFs (the widened
    q_knn_ivfpq_rerank precedent)."""

    @pytest.mark.parametrize(
        "sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
    )
    def test_adc250_retains_true_top20(self, spark, sf_dir):
        from h3_indexer_spark.operators.pq import ivfpq_topk, pq_train
        from h3_indexer_spark.operators.similarity import (
            sampled_centroids,
        )
        from h3_indexer_spark.queries import _query_vector, load

        emb_df = load(spark, sf_dir, "embeddings")
        cents = sampled_centroids(emb_df, n_cells=16)
        books = pq_train(emb_df, m=16, nbits=6, sample=500)
        adc = ivfpq_topk(
            emb_df, _query_vector(), cents, books, n_probe=16, k=250
        )
        adc_ids = [r["vec_id"] for r in adc.collect()]
        emb = {
            r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in emb_df.collect()
        }
        q = np.asarray(_query_vector())
        exact = sorted(
            (float(((v - q) ** 2).sum()), i) for i, v in emb.items()
        )
        true20 = {i for _, i in exact[:20]}
        assert true20 <= set(adc_ids)
        # margin: the true top-20 sits inside the ADC first 200, not
        # at the 250 boundary (measured worst position: 96 at sf0.01)
        assert true20 <= set(adc_ids[:200])

    def test_composite_matches_leg_fusion(self, spark):
        """The composite must equal rrf_fuse applied to its two legs
        computed independently (integration lock against drift)."""
        from pyspark.sql import Window as W
        from pyspark.sql import functions as F

        from h3_indexer_spark.operators.retrieval import rrf_fuse
        from h3_indexer_spark.operators.textops import bm25_scores
        from h3_indexer_spark.queries import (
            _BM25_TERMS,
            _query_vector,
            load,
            q_hybrid_retrieval,
        )

        sf_dir = "/root/testdata/sf0.001"
        got = [
            (r["doc_id"], r["rank_dense"], r["rank_sparse"], r["rrf_score"])
            for r in q_hybrid_retrieval(spark, sf_dir).collect()
        ]
        docs = load(spark, sf_dir, "documents")
        sparse = bm25_scores(
            docs, _BM25_TERMS, "text", "doc_id", k=50
        ).select(
            "doc_id",
            F.row_number()
            .over(W.orderBy(F.col("score_q").desc(), F.col("doc_id").asc()))
            .alias("rank"),
        )
        emb = {
            r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in load(spark, sf_dir, "embeddings").collect()
        }
        q = np.asarray(_query_vector())
        exact = sorted(
            (float(((v - q) ** 2).sum()), i) for i, v in emb.items()
        )[:20]
        dense = spark.createDataFrame(
            [(i, r + 1) for r, (_, i) in enumerate(exact)],
            "doc_id long, rank long",
        )
        want = [
            (r["doc_id"], r["rank_dense"], r["rank_sparse"], r["rrf_score"])
            for r in rrf_fuse(
                {"dense": dense, "sparse": sparse}, "doc_id", k0=60, topk=20
            ).collect()
        ]
        assert got == want
