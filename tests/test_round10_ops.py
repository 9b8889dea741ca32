"""Round-10 regression locks: the two contract keys flipped to the
lazy census-free path (VERDICT r9 #2), the chained-rollup decimal
widening (ADVICE r9), and the vocabulary-sized support tables losing
their forced broadcast hints (ADVICE r9)."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from tests.helpers import _jobs_during


class TestContractKeysStayLazy:
    """q_adamic_adar / q_graph_jaccard now pass log_exclusions=False:
    identical cap semantics (the oracles mirror the cap), but ZERO
    jobs at plan construction — the eager hub census + localCheckpoint
    cost ~8s of each key's 12s steady time (VERDICT r9 #2)."""

    # spark.read.parquet launches ONE footer/schema-inference job, so
    # a contract key that loads a table can never be zero-job at
    # construction; the lock is "no jobs BEYOND the read side" (the
    # eager census path adds a localCheckpoint materialization plus a
    # hub-census count — several jobs, test_census_path_is_eager).
    _READ_SIDE_JOBS = 1

    def test_q_adamic_adar_constructs_lazily(self, spark):
        from h3_indexer_spark.queries import QUERIES

        _, jobs = _jobs_during(
            spark, lambda: QUERIES["q_adamic_adar"](spark, SF_SMALL)
        )
        assert len(jobs) <= self._READ_SIDE_JOBS, (
            f"construction launched jobs beyond the parquet read: {jobs}"
        )

    def test_q_graph_jaccard_constructs_lazily(self, spark):
        from h3_indexer_spark.queries import QUERIES

        _, jobs = _jobs_during(
            spark, lambda: QUERIES["q_graph_jaccard"](spark, SF_SMALL)
        )
        assert len(jobs) <= self._READ_SIDE_JOBS, (
            f"construction launched jobs beyond the parquet read: {jobs}"
        )

    def test_census_path_is_eager_by_contrast(self, spark):
        """The DEFAULT path on the same fixture launches MORE than the
        read-side job (checkpoint + census) — proving the two tests
        above would catch a regression back to log_exclusions=True."""
        from h3_indexer_spark.operators.graph import adamic_adar
        from h3_indexer_spark.queries import load

        edges = (
            load(spark, SF_SMALL, "lineitem")
            .limit(200)
            .select(
                F.col("l_orderkey").alias("src"),
                F.col("l_partkey").alias("dst"),
            )
        )
        _, jobs = _jobs_during(spark, lambda: adamic_adar(edges))
        assert len(jobs) > self._READ_SIDE_JOBS, jobs

    @pytest.mark.slow
    def test_q_adamic_adar_matches_eager_path(self, spark):
        """The lazy flip must not change results: re-run the key's
        graph through the DEFAULT (eager-census) operator path and
        compare row for row."""
        from h3_indexer_spark.operators.graph import adamic_adar
        from h3_indexer_spark.queries import QUERIES, load

        lazy = [tuple(r) for r in QUERIES["q_adamic_adar"](spark, SF_SMALL).collect()]

        items = (
            load(spark, SF_SMALL, "lineitem")
            .where(F.expr("l_orderkey % 4 = 0"))
            .select("l_orderkey", "l_partkey")
            .distinct()
        )
        a = items.select(
            F.col("l_orderkey").alias("_b"), F.col("l_partkey").alias("src")
        )
        b = items.select(
            F.col("l_orderkey").alias("_b"), F.col("l_partkey").alias("dst")
        )
        edges = (
            a.join(b, "_b")
            .where(F.col("src") < F.col("dst"))
            .select("src", "dst")
            .distinct()
        )
        eager = [
            tuple(r)
            for r in adamic_adar(edges, min_common=2)  # default eager path
            .orderBy(F.col("aa_q").desc(), "u", "v")
            .limit(30)
            .collect()
        ]
        assert lazy == eager and lazy


class TestSupportJoinsUnforced:
    """ADVICE r9: the per-item support table's size is the item
    vocabulary — unbounded at 100 TB — so item_cf_similarity and
    association_rules no longer FORCE a broadcast; Catalyst/AQE picks
    from stats. The 1-row n_baskets fold keeps its hint."""

    def test_item_cf_has_no_forced_broadcast_on_support(self, spark):
        from h3_indexer_spark.operators.mining import item_cf_similarity

        df = spark.createDataFrame(
            [(b, i) for b in range(8) for i in ("x", "y", "z")[: b % 3 + 1]],
            "b long, i string",
        )
        plan = (
            item_cf_similarity(df, "b", "i", min_joint=1, k=10)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        # no user-supplied broadcast hint survives into the optimized
        # logical plan (Catalyst may still CHOOSE broadcast physically
        # — that is the point: choice from stats, not a forced hint)
        assert "ResolvedHint" not in plan and "UnresolvedHint" not in plan

    def test_association_rules_results_unchanged(self, spark):
        from h3_indexer_spark.operators.mining import association_rules

        df = spark.createDataFrame(
            [(b, i) for b in range(6) for i in ("x", "y", "z")[: b % 3 + 1]],
            "b long, i string",
        )
        rows = {
            (r["antecedent"], r["consequent"]): (
                r["n_joint"],
                r["confidence"],
            )
            for r in association_rules(df, "b", "i", min_support=1).collect()
        }
        # y appears in baskets b%3 in {1,2} (4 of 6), z in b%3==2 (2 of 6);
        # x in all 6. joint(x,y)=4, so conf(y->x)=1.0
        assert rows[("y", "x")] == (4, 1.0)
        assert rows[("z", "x")][0] == 2


class TestKAnonymity:
    def _df(self, spark):
        rows = (
            [("us", "a", i) for i in range(12)]   # size 12: safe at k=10
            + [("us", "b", 0), ("us", "b", 1)]    # size 2
            + [("fr", "a", 0)]                    # size 1 (unique person)
            + [("fr", None, 0)]                   # NULL QI: its own class
            + [("de", "c", 0), ("de", "c", 1)]    # size 2
        )
        return spark.createDataFrame(
            rows, "country string, segment string, uid long"
        )

    def test_violation_histogram(self, spark):
        from h3_indexer_spark.operators.curation import k_anonymity_report

        out = {
            r["group_size"]: (r["n_groups"], r["n_rows"])
            for r in k_anonymity_report(
                self._df(spark), ["country", "segment"], k=10
            ).collect()
        }
        # sizes below 10: two singletons ((fr,a),(fr,NULL)) and two
        # pairs ((us,b),(de,c)); the size-12 class is anonymous
        assert out == {1: (2, 2), 2: (2, 4)}

    def test_anonymous_dataset_reports_empty(self, spark):
        from h3_indexer_spark.operators.curation import k_anonymity_report

        df = self._df(spark)
        assert (
            k_anonymity_report(df, ["country", "segment"], k=2).collect()
            == k_anonymity_report(df, ["country", "segment"], k=2)
            .where("group_size = 1")
            .collect()
        )
        assert not k_anonymity_report(df, ["country"], k=2).where(
            "group_size >= 2"
        ).count()  # country classes: us=14, fr=2, de=2 — none below 2

    def test_null_qi_forms_its_own_class(self, spark):
        from h3_indexer_spark.operators.curation import k_anonymity_report

        out = k_anonymity_report(
            self._df(spark), ["country", "segment"], k=10
        ).agg(F.sum("n_rows")).collect()[0][0]
        assert out == 6  # the NULL-segment row counts as at-risk

    def test_rejects_bad_args(self, spark):
        import pytest

        from h3_indexer_spark.operators.curation import k_anonymity_report

        with pytest.raises(ValueError):
            k_anonymity_report(self._df(spark), ["country"], k=1)
        with pytest.raises(ValueError):
            k_anonymity_report(self._df(spark), [], k=5)


class TestClassificationReport:
    def test_known_confusion_matrix(self, spark):
        from h3_indexer_spark.operators.analytics import classification_report

        # labels: a a a b b c ; preds: a b a b a c
        df = spark.createDataFrame(
            [("a", "a"), ("a", "b"), ("a", "a"), ("b", "b"), ("b", "a"),
             ("c", "c")],
            "label string, pred string",
        )
        out = {r["class"]: r.asDict() for r in
               classification_report(df, "label", "pred").collect()}
        a = out["a"]
        assert (a["n_true"], a["n_pred"], a["tp"], a["fp"], a["fn"]) == (
            3, 3, 2, 1, 1
        )
        assert a["precision"] == a["recall"] == a["f1"] == 0.666666667
        b = out["b"]
        assert (b["tp"], b["fp"], b["fn"]) == (1, 1, 1)
        assert b["f1"] == 0.5
        c = out["c"]
        assert c["precision"] == c["recall"] == c["f1"] == 1.0

    def test_pred_only_class_gets_row_with_null_recall(self, spark):
        from h3_indexer_spark.operators.analytics import classification_report

        df = spark.createDataFrame(
            [("a", "a"), ("a", "z")], "label string, pred string"
        )
        out = {r["class"]: r.asDict() for r in
               classification_report(df, "label", "pred").collect()}
        z = out["z"]
        assert z["n_true"] == 0 and z["n_pred"] == 1 and z["tp"] == 0
        assert z["recall"] is None and z["precision"] == 0.0
        assert z["f1"] == 0.0  # 2tp/(2tp+fp+fn) = 0/1

    def test_null_labels_and_preds_excluded(self, spark):
        from h3_indexer_spark.operators.analytics import classification_report

        df = spark.createDataFrame(
            [("a", "a"), (None, "a"), ("a", None)],
            "label string, pred string",
        )
        out = classification_report(df, "label", "pred").collect()
        assert len(out) == 1
        assert out[0]["n_true"] == 1 and out[0]["n_pred"] == 1

    def test_one_shuffle_plan(self, spark):
        """SCALE lock: the report is ONE class-keyed aggregation over
        the exploded contributions — a single Exchange, no joins."""
        from h3_indexer_spark.operators.analytics import classification_report

        df = spark.createDataFrame(
            [("a", "a"), ("b", "a")], "label string, pred string"
        )
        plan = (
            classification_report(df, "label", "pred")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Join" not in plan
        # exactly one shuffle for the agg + one for the final sort
        n_exchange = plan.count("Exchange ")
        assert n_exchange <= 2, plan


class TestSequentialPatternsFull:
    """Full-PrefixSpan miner (VERDICT r9 'missing #3'): length-k
    subsequence patterns with arbitrary gaps, verified against a
    brute-force Python reference on every fixture."""

    @staticmethod
    def _reference(streams, min_support, max_len):
        """All frequent patterns by direct subsequence check."""
        from itertools import product

        types = sorted({t for s in streams.values() for t in s})

        def is_subseq(pat, stream):
            it = iter(stream)
            return all(t in it for t in pat)

        out = {}
        for length in range(1, max_len + 1):
            for pat in product(types, repeat=length):
                sup = sum(
                    1 for s in streams.values() if is_subseq(pat, s)
                )
                if sup >= min_support:
                    out[" -> ".join(pat)] = (length, sup)
        return out

    def _mine(self, spark, streams, min_support, max_len):
        from h3_indexer_spark.operators.mining import (
            sequential_patterns_full,
        )

        rows = [
            (e, i, t, i)
            for e, s in streams.items()
            for i, t in enumerate(s)
        ]
        df = spark.createDataFrame(
            rows, "user_id string, ts long, event_type string, event_id long"
        )
        return {
            r["pattern"]: (r["length"], r["support"])
            for r in sequential_patterns_full(
                df, min_support=min_support, max_len=max_len
            ).collect()
        }

    def test_matches_bruteforce_reference(self, spark):
        streams = {
            "u1": ["a", "b", "a", "c", "b"],
            "u2": ["b", "a", "c", "c"],
            "u3": ["a", "c", "b", "a"],
            "u4": ["c", "a"],
        }
        for min_support, max_len in [(2, 4), (3, 3), (1, 2)]:
            got = self._mine(spark, streams, min_support, max_len)
            want = self._reference(streams, min_support, max_len)
            assert got == want, (min_support, max_len)

    def test_long_pattern_beyond_bounded_miner(self, spark):
        """A length-5 pattern with interleaved noise — invisible to
        the gap-bounded miner at any gap ≤ 2, found by the full one."""
        streams = {
            f"u{i}": ["a", "x", "x", "x", "b", "x", "x", "x", "c",
                      "x", "x", "x", "d", "x", "x", "x", "e"]
            for i in range(3)
        }
        got = self._mine(spark, streams, min_support=3, max_len=5)
        assert got["a -> b -> c -> d -> e"] == (5, 3)

    def test_infrequent_types_pruned_upfront(self, spark):
        streams = {"u1": ["a", "z", "b"], "u2": ["a", "b"]}
        got = self._mine(spark, streams, min_support=2, max_len=3)
        assert "z" not in got and got["a -> b"] == (2, 2)
        assert all("z" not in p for p in got)

    def test_over_large_max_len_yields_empty_tail_levels(self, spark):
        # streams of length 2: no length-3 pattern can exist; levels
        # 3..6 are EMPTY lazy joins (there is deliberately no driver-
        # side early-stop probe — it would double-materialize the
        # dominant join), so the result is still exactly the length
        # <= 2 patterns
        streams = {"u1": ["a", "b"], "u2": ["a", "b"]}
        got = self._mine(spark, streams, min_support=2, max_len=6)
        assert max(v[0] for v in got.values()) == 2

    def test_pins_out_releases_executor_storage(self, spark):
        from h3_indexer_spark.operators.mining import (
            sequential_patterns_full,
        )

        df = spark.createDataFrame(
            [("u1", 1, "a", 1), ("u1", 2, "b", 2),
             ("u2", 1, "a", 1), ("u2", 2, "b", 2)],
            "user_id string, ts long, event_type string, event_id long",
        )
        pins = []
        out = sequential_patterns_full(
            df, min_support=2, max_len=3, pins_out=pins
        )
        assert out.count() == 3  # a, b, a -> b
        assert len(pins) == 4  # ev + levels 1..3 (level 3 empty but pinned)
        assert all(p.storageLevel.useMemory for p in pins)
        for p in pins:
            p.unpersist()
        assert all(not p.storageLevel.useMemory for p in pins)

    def test_separator_in_event_type_does_not_merge_supports(self, spark):
        """ADVICE r10: an event type that CONTAINS the arrow separator
        must not collide with a genuine two-element sequence. Support
        is aggregated on the array<string> pattern, so the compound
        type 'a -> b' and the sequence (a, b) keep separate counts —
        they render to the same string but surface as two rows."""
        from h3_indexer_spark.operators.mining import (
            sequential_patterns_full,
        )

        streams = {
            "u1": ["a", "b"],          # the real sequence a then b
            "u2": ["a", "b"],
            "u3": ["a -> b"],          # a single compound-named type
            "u4": ["a -> b"],
        }
        rows = [
            (e, i, t, i)
            for e, s in streams.items()
            for i, t in enumerate(s)
        ]
        df = spark.createDataFrame(
            rows, "user_id string, ts long, event_type string, event_id long"
        )
        out = sequential_patterns_full(
            df, min_support=2, max_len=2
        ).collect()
        rendered = [
            (r["pattern"], r["length"], r["support"]) for r in out
        ]
        # two rows render to 'a -> b': the length-1 compound type
        # (support 2) and the length-2 sequence (support 2) — never a
        # single merged support-4 row
        assert ("a -> b", 1, 2) in rendered
        assert ("a -> b", 2, 2) in rendered
        assert not any(
            r["pattern"] == "a -> b" and r["support"] == 4 for r in out
        )

    def test_rejects_bad_args(self, spark):
        import pytest

        from h3_indexer_spark.operators.mining import (
            sequential_patterns_full,
        )

        df = spark.createDataFrame(
            [("u", 1, "a", 1)],
            "user_id string, ts long, event_type string, event_id long",
        )
        with pytest.raises(ValueError):
            sequential_patterns_full(df, min_support=0)
        with pytest.raises(ValueError):
            sequential_patterns_full(df, max_len=0)
