"""Semantic tests for the curation operators (chunking, PII scrub,
repetition, decontamination, sequence packing), the exact n-gram
Jaccard dedup, and distributed connected components."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F


class TestChunking:
    def _chunks(self, spark, text, window=8, stride=6):
        from h3_indexer_spark.operators.curation import chunk_documents

        df = spark.createDataFrame(
            [(1, text)], "doc_id long, text string"
        )
        rows = chunk_documents(
            df, window=window, stride=stride
        ).orderBy("chunk_id").collect()
        return [(r.chunk_id, r.n_chunk_tokens, r.chunk_text) for r in rows]

    def test_short_doc_single_chunk(self, spark):
        out = self._chunks(spark, "a b c")
        assert out == [(0, 3, "a b c")]

    def test_exact_window_single_chunk(self, spark):
        words = " ".join(str(i) for i in range(8))
        assert self._chunks(spark, words) == [(0, 8, words)]

    def test_overlap_and_tail(self, spark):
        words = [str(i) for i in range(20)]
        out = self._chunks(spark, " ".join(words))
        # starts at 0, 6, 12 (covers up to 19); 20 tokens need ceil(12/6)=2
        # extra starts
        assert [c[0] for c in out] == [0, 1, 2]
        assert out[0][2] == " ".join(words[0:8])
        assert out[1][2] == " ".join(words[6:14])
        assert out[2][2] == " ".join(words[12:20])
        # every token appears in some chunk
        covered = set()
        for _, _, t in out:
            covered.update(t.split())
        assert covered == set(words)

    def test_boundary_plus_one_gets_new_chunk(self, spark):
        words = [str(i) for i in range(9)]
        out = self._chunks(spark, " ".join(words))
        assert [c[0] for c in out] == [0, 1]
        assert out[1][2] == " ".join(words[6:9])
        assert out[1][1] == 3


class TestScrubPII:
    def test_counts_and_replacement_order(self, spark):
        from h3_indexer_spark.operators.curation import scrub_pii

        df = spark.createDataFrame(
            [
                (1, "mail me at a.b+c@x.co or +1-555-0101 ref 1234567"),
                (2, "no pii here"),
                (3, "two mails p@q.io r@s.org and 99999"),
            ],
            "doc_id long, text string",
        )
        rows = {r.doc_id: r for r in scrub_pii(df).collect()}
        assert rows[1].n_emails == 1
        assert rows[1].n_phones == 1
        assert rows[1].n_longnums == 1
        assert rows[1].clean_text == "mail me at <EMAIL> or <PHONE> ref <NUM>"
        assert rows[2].clean_text == "no pii here"
        assert (rows[2].n_emails, rows[2].n_phones, rows[2].n_longnums) == (
            0, 0, 0,
        )
        assert rows[3].n_emails == 2
        assert rows[3].clean_text == "two mails <EMAIL> <EMAIL> and <NUM>"


class TestRepetition:
    def test_known_values(self, spark):
        from h3_indexer_spark.operators.curation import repetition_stats

        df = spark.createDataFrame(
            [
                (1, "a a a a"),          # 4 words, 1 unique, top 4
                (2, "a b c d"),          # all unique
                (3, "a b a b a b"),      # repeated bigrams
                (4, "solo"),             # single word
            ],
            "doc_id long, text string",
        )
        rows = {r.doc_id: r for r in repetition_stats(df).collect()}
        assert rows[1].n_words == 4
        assert rows[1].uniq_ratio == 0.25
        assert rows[1].top_word_frac == 1.0
        # bigrams of "a a a a": ["a a"] x3 -> 1 unique of 3
        assert abs(rows[1].dup_bigram_frac - (1 - 1 / 3)) < 1e-12
        assert rows[2].uniq_ratio == 1.0
        assert rows[2].dup_bigram_frac == 0.0
        # "a b a b a b": bigrams [ab, ba, ab, ba, ab] -> 2 unique of 5
        assert abs(rows[3].dup_bigram_frac - (1 - 2 / 5)) < 1e-12
        assert rows[4].n_words == 1
        assert rows[4].dup_bigram_frac == 0.0


class TestDecontaminate:
    def test_planted_overlap_dropped(self, spark):
        from h3_indexer_spark.operators.curation import decontaminate

        bench = spark.createDataFrame(
            [(100, "the quick brown fox jumps over the lazy dog")],
            "doc_id long, text string",
        )
        train = spark.createDataFrame(
            [
                # contains the 5-gram "quick brown fox jumps over"
                (1, "xx quick brown fox jumps over yy"),
                # shares words but no 5-gram
                (2, "quick dog brown lazy fox the over jumps"),
                (3, "completely unrelated text with other words here"),
            ],
            "doc_id long, text string",
        )
        kept = {r.doc_id for r in decontaminate(train, bench, n=5).collect()}
        assert kept == {2, 3}

    def test_bloom_never_keeps_contaminated(self, spark):
        """Bloom survivors ⊆ exact survivors (no false negatives —
        every contaminated doc's grams are genuinely in the bitset),
        and at a well-sized bitset the false-positive erasure on this
        corpus is zero, so the sets coincide."""
        from h3_indexer_spark.operators.curation import (
            decontaminate,
            decontaminate_bloom,
        )

        from tests.conftest import SF_ORACLE

        docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
        bench = docs.where(F.col("doc_id") < 50)
        train = docs.where(F.col("doc_id") >= 50)
        exact = {
            r.doc_id for r in decontaminate(train, bench, n=5).collect()
        }
        bloom = {
            r.doc_id
            for r in decontaminate_bloom(train, bench, n=5).collect()
        }
        assert bloom <= exact
        assert bloom == exact  # fp rate ~0 at 2^20 bits for this corpus

    def test_bloom_tiny_bitset_overdrops_but_never_leaks(self, spark):
        """Starve the bitset (256 bits) so false positives are rampant:
        contaminated docs must STILL all be dropped — only clean docs
        may be over-dropped."""
        from h3_indexer_spark.operators.curation import decontaminate_bloom

        bench = spark.createDataFrame(
            [(100, "the quick brown fox jumps over the lazy dog")],
            "doc_id long, text string",
        )
        train = spark.createDataFrame(
            [
                (1, "xx quick brown fox jumps over yy"),
                (2, "quick dog brown lazy fox the over jumps"),
                (3, "completely unrelated text with other words here"),
            ],
            "doc_id long, text string",
        )
        kept = {
            r.doc_id
            for r in decontaminate_bloom(
                train, bench, n=5, n_bits=256
            ).collect()
        }
        assert 1 not in kept  # truly contaminated: always dropped

    def test_short_benchmark_doc_whole_text_gram(self, spark):
        from h3_indexer_spark.operators.curation import decontaminate

        bench = spark.createDataFrame(
            [(100, "tiny doc")], "doc_id long, text string"
        )
        train = spark.createDataFrame(
            [(1, "tiny doc"), (2, "tiny doc plus tail words here")],
            "doc_id long, text string",
        )
        # doc 1 (shorter than n) contributes its whole text as a gram,
        # which matches the benchmark's whole-text gram; doc 2's
        # 5-grams never equal "tiny doc"
        kept = {r.doc_id for r in decontaminate(train, bench, n=5).collect()}
        assert kept == {2}


class TestPackSequences:
    def test_matches_naive_global_window(self, spark):
        from h3_indexer_spark.operators.curation import pack_sequences

        rows = [(i, 7 + (i * 13) % 50) for i in range(300)]
        df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
        got = {
            r.doc_id: (r.pack_id, r.offset_in_pack)
            for r in pack_sequences(
                df, budget=64, bucket_width=37
            ).collect()
        }
        w = Window.orderBy("doc_id").rowsBetween(
            Window.unboundedPreceding, -1
        )
        naive = {
            r.doc_id: (r.prefix // 64, r.prefix % 64)
            for r in df.withColumn(
                "prefix", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
            ).collect()
        }
        assert got == naive

    def test_long_doc_spans_packs(self, spark):
        from h3_indexer_spark.operators.curation import pack_sequences

        df = spark.createDataFrame(
            [(0, 10), (1, 1000), (2, 10)], "doc_id long, n_tokens long"
        )
        got = {r.doc_id: r.pack_id for r in
               pack_sequences(df, budget=64).collect()}
        # doc 2 starts after 1010 tokens -> pack 15
        assert got == {0: 0, 1: 0, 2: 15}


class TestNgramJaccardExact:
    def test_matches_bruteforce(self, spark):
        from h3_indexer_spark.operators.dedup import (
            ngram_jaccard_exact_pairs,
        )

        texts = {
            0: "w0 w1 w2 w3 w4 w5 w6 w7",
            1: "w0 w1 w2 w3 w4 w5 w6 EDIT",   # near dup of 0
            2: "w0 w1 w2 w3 w4 w5 w6 w7",     # exact dup of 0
            3: "z0 z1 z2 z3 z4 z5 z6 z7",     # unrelated
        }
        df = spark.createDataFrame(
            list(texts.items()), "doc_id long, text string"
        )
        got = {
            (r.id_a, r.id_b): r.jaccard
            for r in ngram_jaccard_exact_pairs(
                df, n=3, threshold=0.3, max_df=100
            ).collect()
        }

        def grams(t):
            ws = t.split()
            return {
                " ".join(ws[i : i + 3]) for i in range(len(ws) - 2)
            }

        expect = {}
        ids = sorted(texts)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                a, b = grams(texts[ids[i]]), grams(texts[ids[j]])
                jac = len(a & b) / len(a | b)
                if jac >= 0.3:
                    expect[(ids[i], ids[j])] = jac
        assert set(got) == set(expect)
        for k, v in expect.items():
            assert abs(got[k] - v) < 1e-12

    def test_max_df_drops_hot_grams(self, spark):
        from h3_indexer_spark.operators.dedup import (
            ngram_jaccard_exact_pairs,
        )

        # every doc shares one boilerplate prefix; with max_df=2 the
        # boilerplate gram is dropped, so no pairs survive
        df = spark.createDataFrame(
            [(i, f"same same same u{i} v{i} w{i}") for i in range(5)],
            "doc_id long, text string",
        )
        out = ngram_jaccard_exact_pairs(
            df, n=3, threshold=0.1, max_df=2
        ).collect()
        assert out == []


class TestConnectedComponents:
    def _cc(self, spark, edges, n_vertices):
        from h3_indexer_spark.operators.graph import connected_components

        e = spark.createDataFrame(edges, "src long, dst long")
        v = spark.createDataFrame(
            [(i,) for i in range(n_vertices)], "id long"
        )
        return {
            r.id: r.component
            for r in connected_components(e, v).collect()
        }

    @pytest.mark.slow
    def test_chain_is_one_component(self, spark):
        # transitivity: a-b, b-c, c-d never pairs a with d directly
        comp = self._cc(spark, [(0, 1), (1, 2), (2, 3)], 5)
        assert comp == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4}

    def test_two_components_and_singletons(self, spark):
        comp = self._cc(spark, [(1, 2), (5, 6), (6, 7)], 9)
        assert comp == {
            0: 0, 1: 1, 2: 1, 3: 3, 4: 4, 5: 5, 6: 5, 7: 5, 8: 8,
        }

    @pytest.mark.slow
    def test_long_chain_converges_via_pointer_jumping(self, spark):
        # a 64-long chain has diameter 63; plain min-propagation would
        # need 63 rounds — pointer jumping must finish within the
        # operator's max_iter
        comp = self._cc(
            spark, [(i, i + 1) for i in range(63)], 64
        )
        assert set(comp.values()) == {0}

    @pytest.mark.slow
    def test_reversed_edge_direction_irrelevant(self, spark):
        comp = self._cc(spark, [(3, 0), (1, 3), (2, 1)], 4)
        assert set(comp.values()) == {0}


class TestPageRank:
    def _numpy_pagerank(self, n, edge_list, d=0.85, iters=15):
        import numpy as np

        out = np.zeros(n)
        for s, _ in edge_list:
            out[s] += 1
        r = np.full(n, 1.0 / n)
        for _ in range(iters):
            dangling = r[out == 0].sum()
            contrib = np.zeros(n)
            for s, t in edge_list:
                contrib[t] += r[s] / out[s]
            r = (1 - d) / n + d * (contrib + dangling / n)
        return r

    @pytest.mark.slow
    def test_matches_power_iteration_with_dangling(self, spark):
        from h3_indexer_spark.operators.graph import pagerank

        # 0->1, 0->2, 1->2, 2->0, 3 dangling, 4->0
        edge_list = [(0, 1), (0, 2), (1, 2), (2, 0), (4, 0)]
        n = 5
        edges = spark.createDataFrame(edge_list, ["src", "dst"])
        verts = spark.createDataFrame([(i,) for i in range(n)], ["id"])
        got = {
            r.id: r.rank for r in pagerank(edges, verts, max_iter=15).collect()
        }
        want = self._numpy_pagerank(n, edge_list)
        assert abs(sum(got.values()) - 1.0) < 1e-9
        for i in range(n):
            assert abs(got[i] - want[i]) < 1e-9, (i, got[i], want[i])

    @pytest.mark.slow
    def test_uniform_on_cycle(self, spark):
        from h3_indexer_spark.operators.graph import pagerank

        n = 6
        edges = spark.createDataFrame(
            [(i, (i + 1) % n) for i in range(n)], ["src", "dst"]
        )
        verts = spark.createDataFrame([(i,) for i in range(n)], ["id"])
        for r in pagerank(edges, verts, max_iter=5).collect():
            assert abs(r.rank - 1.0 / n) < 1e-12

    @pytest.mark.slow
    def test_edges_outside_vertex_set_do_not_leak_mass(self, spark):
        """Edges referencing unknown ids are dropped up front: ranks
        still sum to 1 and equal the subgraph's power iteration. A
        vertex whose only out-edge pointed outside the set becomes
        dangling (vertex 2 here)."""
        from h3_indexer_spark.operators.graph import pagerank

        in_set = [(0, 1), (1, 2), (1, 0)]
        noise = [(0, 99), (98, 1), (2, 97)]  # 97-99 not in vertices
        edges = spark.createDataFrame(in_set + noise, ["src", "dst"])
        verts = spark.createDataFrame([(i,) for i in range(3)], ["id"])
        got = {
            r.id: r.rank for r in pagerank(edges, verts, max_iter=15).collect()
        }
        assert abs(sum(got.values()) - 1.0) < 1e-9
        want = self._numpy_pagerank(3, in_set)
        for i in range(3):
            assert abs(got[i] - want[i]) < 1e-9, (i, got[i], want[i])


class TestRebalanceSources:
    def test_sqrt_budgets_and_tail_survival(self, spark):
        rows = [(i, "head", f"doc {i}") for i in range(9)]
        rows += [(100, "mid", "m one"), (101, "mid", "m two")]
        rows += [(200, "tail", "only doc")]
        df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
        from h3_indexer_spark.operators.curation import rebalance_sources

        kept = rebalance_sources(df).groupBy("source").count().collect()
        sizes = {r.source: r["count"] for r in kept}
        # floor(sqrt(9))=3, floor(sqrt(2))=1, max(1, floor(sqrt(1)))=1
        assert sizes == {"head": 3, "mid": 1, "tail": 1}

    def test_deterministic_across_runs(self, spark):
        from h3_indexer_spark.operators.curation import rebalance_sources

        from tests.conftest import SF_ORACLE

        docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet").select(
            "doc_id", "source", "text"
        )
        a = {r.doc_id for r in rebalance_sources(docs).collect()}
        b = {r.doc_id for r in rebalance_sources(docs).collect()}
        assert a == b and a


class TestNormalizeUrls:
    CASES = [
        # (raw, expected)
        ("HTTPS://WWW.Example.COM:443/A/b/?utm_source=x&b=2&a=1#frag",
         "https://www.example.com/A/b?a=1&b=2"),
        ("http://host.com:8080/path", "http://host.com:8080/path"),
        ("http://host.com:80/", "http://host.com/"),
        ("https://h.io", "https://h.io/"),
        ("https://h.io/x/?fbclid=z", "https://h.io/x"),
        ("http://h.io/?gclid=1&q=search", "http://h.io/?q=search"),
    ]

    def test_hand_cases(self, spark):
        from h3_indexer_spark.operators.curation import normalize_urls

        df = spark.createDataFrame(
            [(i, raw) for i, (raw, _) in enumerate(self.CASES)],
            ["id", "url"],
        )
        got = {r.id: r.url_norm for r in normalize_urls(df).collect()}
        for i, (raw, want) in enumerate(self.CASES):
            assert got[i] == want, (raw, got[i], want)

    def test_idempotent(self, spark):
        from h3_indexer_spark.operators.curation import normalize_urls

        df = spark.createDataFrame(
            [(i, raw) for i, (raw, _) in enumerate(self.CASES)],
            ["id", "url"],
        )
        once = normalize_urls(df).select(
            "id", F.col("url_norm").alias("url")
        )
        twice = {r.id: r.url_norm for r in normalize_urls(once).collect()}
        for r in normalize_urls(df).collect():
            assert twice[r.id] == r.url_norm


class TestCleanLines:
    def test_rules(self, spark):
        from h3_indexer_spark.operators.curation import clean_lines

        text = "\n".join([
            "This is a proper sentence.",       # kept
            "Accept our cookie policy now.",    # banned substring
            "Home | About | Contact",           # no terminal punct
            "Too short.",                       # < 3 words
            "Another real sentence follows here!",  # kept
            "",                                 # empty
        ])
        df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
        row = clean_lines(df).collect()[0]
        assert row.n_lines == 6
        assert row.n_kept_lines == 2
        assert row.clean_text == (
            "This is a proper sentence.\n"
            "Another real sentence follows here!"
        )

    def test_punct_rule_optional(self, spark):
        from h3_indexer_spark.operators.curation import clean_lines

        df = spark.createDataFrame(
            [(1, "no punctuation but plenty of words here")],
            ["doc_id", "text"],
        )
        assert clean_lines(df).collect()[0].n_kept_lines == 0
        assert (
            clean_lines(df, require_terminal_punct=False)
            .collect()[0]
            .n_kept_lines
            == 1
        )


class TestCurationPipeline:
    CFG = [
        {"stage": "quality_score"},
        {"stage": "language_id"},
        {"stage": "filter", "predicate": "quality >= 0.5"},
        {"stage": "exact_dedup"},
        {"stage": "token_counts"},
    ]

    def test_config_equals_manual_composition(self, spark):
        from h3_indexer_spark.operators.dedup import exact_dedup
        from h3_indexer_spark.operators.textops import (
            language_id,
            quality_score,
            token_counts,
        )
        from h3_indexer_spark.plans.curation_pipeline import run_curation
        from tests.conftest import SF_ORACLE

        docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
        got = run_curation(spark, docs, self.CFG)
        manual = language_id(quality_score(docs)).where("quality >= 0.5")
        keep = exact_dedup(manual).select(
            F.col("keep_id").alias("doc_id")
        )
        manual = token_counts(manual.join(keep, "doc_id"))
        assert sorted(got.columns) == sorted(manual.columns)
        g = sorted(
            (r.doc_id, r.lang_pred, r.n_tokens_re)
            for r in got.collect()
        )
        m = sorted(
            (r.doc_id, r.lang_pred, r.n_tokens_re)
            for r in manual.collect()
        )
        assert g == m and len(g) > 0

    def test_unknown_stage_fails_fast(self, spark):
        from h3_indexer_spark.plans.curation_pipeline import run_curation

        df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
        with pytest.raises(ValueError, match="unknown stage"):
            run_curation(spark, df, [{"stage": "nope"}])

    def test_narrow_stages_fuse_into_one_plan(self, spark):
        """quality -> lang -> tokens without dedup must stay a single
        shuffle-free codegen'd map."""
        from h3_indexer_spark.plans.curation_pipeline import run_curation
        from tests.conftest import SF_ORACLE

        docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
        out = run_curation(spark, docs, [
            {"stage": "quality_score"},
            {"stage": "language_id"},
            {"stage": "token_counts"},
        ])
        plan = out._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "Exchange hashpartitioning" not in plan
        assert "Exchange SinglePartition" not in plan


class TestContaminationFraction:
    def test_graded_consistent_with_binary(self, spark):
        """decontaminate's dropped set must be exactly the docs with
        overlap_frac > 0 (the graded signal refines, never disagrees
        with, the binary verdict)."""
        from h3_indexer_spark.operators.curation import (
            contamination_fraction,
            decontaminate,
        )
        from h3_indexer_spark.queries import load
        from tests.conftest import SF_SMALL

        docs = load(spark, SF_SMALL, "documents")
        bench = docs.where(F.col("doc_id") < 50)
        train = docs.where(F.col("doc_id") >= 50)
        survivors = {
            r.doc_id for r in decontaminate(train, bench, n=5).collect()
        }
        frac = {
            r.doc_id: r.overlap_frac
            for r in contamination_fraction(train, bench, n=5).collect()
        }
        assert set(frac) == {r.doc_id for r in train.collect()}
        assert survivors == {d for d, f in frac.items() if f == 0.0}
        assert any(f > 0 for f in frac.values())

    def test_full_overlap_is_one(self, spark):
        from h3_indexer_spark.operators.curation import (
            contamination_fraction,
        )

        bench = spark.createDataFrame(
            [(1, "a b c d e f g")], "doc_id long, text string"
        )
        train = spark.createDataFrame(
            [(100, "a b c d e f g"), (101, "z y x w v u t")],
            "doc_id long, text string",
        )
        out = {
            r.doc_id: r.overlap_frac
            for r in contamination_fraction(train, bench, n=5).collect()
        }
        assert out[100] == 1.0 and out[101] == 0.0


class TestTriangleCounts:
    def test_k4_and_pendant(self, spark):
        """K4 (every vertex in 3 triangles) plus a pendant edge that
        joins no triangle."""
        from h3_indexer_spark.operators.graph import triangle_counts

        edges = spark.createDataFrame(
            [(a, b) for a in range(4) for b in range(a + 1, 4)]
            + [(3, 9)],
            "id_a long, id_b long",
        )
        out = {r.vertex: r.n_triangles for r in triangle_counts(edges).collect()}
        assert out == {0: 3, 1: 3, 2: 3, 3: 3}

    def test_duplicate_and_reversed_edges_ignored(self, spark):
        from h3_indexer_spark.operators.graph import triangle_counts

        edges = spark.createDataFrame(
            [(1, 2), (2, 1), (2, 3), (3, 1), (1, 3), (4, 4)],
            "id_a long, id_b long",
        )
        out = {r.vertex: r.n_triangles for r in triangle_counts(edges).collect()}
        assert out == {1: 1, 2: 1, 3: 1}

    def test_skewed_star_has_no_triangles(self, spark):
        """A hub with 200 spokes: degree-ordered orientation must not
        blow up and the star graph has zero triangles."""
        from h3_indexer_spark.operators.graph import triangle_counts

        edges = spark.createDataFrame(
            [(0, i) for i in range(1, 201)], "id_a long, id_b long"
        )
        assert triangle_counts(edges).count() == 0


class TestGlobalSpanDedup:
    def test_first_occurrence_wins(self, spark):
        from h3_indexer_spark.operators.curation import dedup_spans_global

        df = spark.createDataFrame(
            [
                (1, "header\nalpha\nfooter"),
                (2, "header\nbeta\nfooter"),
                (3, "header\nheader\ngamma"),
            ],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in dedup_spans_global(df).collect()}
        # doc 1 owns header and footer; later docs lose them
        assert out[1].clean_text == "header\nalpha\nfooter"
        assert out[2].clean_text == "beta"
        # within-doc repeat of an already-owned span also drops
        assert out[3].clean_text == "gamma"
        assert (out[1].n_spans, out[1].n_kept) == (3, 3)
        assert (out[2].n_spans, out[2].n_kept) == (3, 1)
        assert (out[3].n_spans, out[3].n_kept) == (3, 1)

    def test_fully_duplicated_doc_empties(self, spark):
        from h3_indexer_spark.operators.curation import dedup_spans_global

        df = spark.createDataFrame(
            [(1, "x\ny"), (2, "x\ny")], "doc_id long, text string"
        )
        out = {r.doc_id: r for r in dedup_spans_global(df).collect()}
        assert out[2].clean_text == "" and out[2].n_kept == 0
