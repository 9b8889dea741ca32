"""Declarative data-quality expectations over any table — the generic
descendant of the geo pipeline's Validate stage (plans/validator.py
enforces the reference's fixed schema/uniqueness/type rules,
/root/reference/src/h3_indexer/validator.py:64-115; this module lets
users declare their OWN rules over arbitrary tables and get a
violations report instead of a hard failure).

Rule kinds:

- ``{"rule": "not_null", "column": c}``
- ``{"rule": "unique", "columns": [c, ...]}`` — duplicate-key rows
- ``{"rule": "range", "column": c, "min": x, "max": y}`` (either bound
  optional; nulls don't violate range — pair with not_null)
- ``{"rule": "in_set", "column": c, "allowed": [...]}``
- ``{"rule": "foreign_key", "column": c, "ref": DataFrame,
  "ref_column": r}`` — orphaned references

Scale posture: the WHOLE battery fuses into ONE scan of ``df``
(guide §2.4 — the per-rule API is declarative, the physical plan is
shared). Row-level rules (not_null/range/in_set) are conditional
sums; each ``foreign_key`` becomes a broadcast LEFT join marker whose
null-ness is one more conditional sum (the ref side must be
dimension-sized — pass a pre-distinct projection for big refs); the
first ``unique`` rule supplies the grouping key, so its duplicate
count, every conditional sum, and the row total all come out of the
same groupBy (partial map-side aggregation; with no unique rule the
whole battery is a plain 1-row aggregate with no shuffle of data
rows). Additional ``unique`` rules beyond the first keep their own
groupBy — one extra pass each, by construction. The report is a tiny
DataFrame: one row per rule."""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def check_expectations(
    df: DataFrame, rules: list[dict]
) -> DataFrame:
    """Evaluate ``rules`` against ``df`` and return one report row per
    rule: (rule_id, rule, target, n_violations, n_rows, passed).
    Row-level rules share one scan; unknown rule kinds fail fast (the
    validate-early posture of the geo Job config)."""
    spark = df.sparkSession
    if not rules:
        return spark.createDataFrame(
            [],
            "rule_id int, rule string, target string, "
            "n_violations long, n_rows long, passed boolean",
        )
    # Classify rules, building one violation-flag EXPRESSION per
    # row-level/foreign-key rule; the flags all evaluate against the
    # same scan. foreign_key attaches a broadcast LEFT join per ref
    # (marker column null = orphan) instead of its own anti-join
    # scan; the first unique rule's key becomes the shared groupBy.
    # internal column names share a prefix no column of df starts with
    # (case-insensitively, as Spark resolves names), so a user column
    # can never collide with a marker, count or per-rule total
    tag = "_"
    while any(c.lower().startswith(tag) for c in df.columns):
        tag += "_"
    n_col = f"{tag}n"
    flag_meta: list[tuple[int, str, str]] = []  # (i, kind, target)
    flags: dict[int, F.Column] = {}
    unique_rules: list[tuple[int, list[str]]] = []
    base = df
    n_fk = 0
    for i, spec in enumerate(rules):
        kind = spec.get("rule")
        if kind == "not_null":
            c = spec["column"]
            flags[i] = F.col(c).isNull()
            flag_meta.append((i, kind, c))
        elif kind == "range":
            c = spec["column"]
            cond = F.lit(False)
            if "min" in spec:
                cond = cond | (F.col(c) < F.lit(spec["min"]))
            if "max" in spec:
                cond = cond | (F.col(c) > F.lit(spec["max"]))
            flags[i] = cond
            flag_meta.append((i, kind, c))
        elif kind == "in_set":
            c = spec["column"]
            flags[i] = F.col(c).isNotNull() & ~F.col(c).isin(
                list(spec["allowed"])
            )
            flag_meta.append((i, kind, c))
        elif kind == "unique":
            unique_rules.append((i, list(spec["columns"])))
        elif kind == "foreign_key":
            c = spec["column"]
            marker = f"{tag}xref_{n_fk}"
            n_fk += 1
            ref = (
                spec["ref"]
                .select(F.col(spec["ref_column"]).alias(marker))
                .distinct()
            )
            base = base.join(
                F.broadcast(ref), F.col(c) == F.col(marker), "left"
            )
            flags[i] = F.col(c).isNotNull() & F.col(marker).isNull()
            flag_meta.append((i, kind, c))
        else:
            raise ValueError(
                f"rule {i}: unknown kind {kind!r}; valid: not_null, "
                "unique, range, in_set, foreign_key"
            )

    # every rule total is a conditional SUM, which is NULL over zero
    # rows — coalesce to 0 so an empty table reports 0 violations and
    # passes, rather than a NULL verdict a caller must special-case
    flag_aggs = [
        F.coalesce(F.sum(flags[i].cast("long")), F.lit(0)).alias(f"{tag}v{i}")
        for i, _, _ in flag_meta
    ]
    if unique_rules:
        # shared pass keyed on the FIRST unique rule: per-key counts
        # carry every conditional partial sum through the same
        # exchange; the final fold emits the duplicate total, every
        # flag total, and n_rows from one subtree
        u_i, u_cols = unique_rules[0]
        grouped = base.groupBy(*u_cols).agg(
            F.count(F.lit(1)).alias(n_col), *flag_aggs
        )
        agg_row = grouped.agg(
            F.coalesce(F.sum(n_col), F.lit(0))
            .cast("long")
            .alias("n_rows"),
            F.coalesce(
                F.sum(F.when(F.col(n_col) > 1, F.col(n_col))), F.lit(0)
            ).alias(f"{tag}v{u_i}"),
            *[
                F.coalesce(F.sum(f"{tag}v{i}"), F.lit(0)).alias(f"{tag}v{i}")
                for i, _, _ in flag_meta
            ],
        )
        flag_meta = flag_meta + [(u_i, "unique", ",".join(u_cols))]
    else:
        agg_row = base.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"), *flag_aggs
        )

    # ONE projection explodes the per-rule report rows out of the
    # single aggregate row. A union of per-rule selects would let
    # column pruning specialize each branch's copy of the aggregate
    # subtree (different pruned columns → not canonically identical →
    # no exchange reuse → one full scan PER RULE — the r12
    # duplicated-subtree lesson); the explode keeps exactly one
    # aggregate in the plan.
    entries = [
        F.struct(
            F.lit(i).cast("int").alias("rule_id"),
            F.lit(kind).alias("rule"),
            F.lit(target).alias("target"),
            F.col(f"{tag}v{i}").cast("long").alias("n_violations"),
        )
        for i, kind, target in flag_meta
    ]
    reports: list[DataFrame] = [
        agg_row.select(
            F.explode(F.array(*entries)).alias("_r"),
            F.col("n_rows").cast("long").alias("n_rows"),
        ).select(
            "_r.rule_id", "_r.rule", "_r.target", "_r.n_violations",
            "n_rows",
        )
    ]
    # unique rules beyond the first: own groupBy each (cannot share a
    # grouping key), joined to the fused row total
    for u_i, u_cols in unique_rules[1:]:
        dup_rows = (
            df.groupBy(*u_cols)
            .agg(F.count(F.lit(1)).alias(n_col))
            .where(F.col(n_col) > 1)
            .agg(
                F.coalesce(F.sum(n_col), F.lit(0)).alias("n_violations")
            )
        )
        reports.append(
            dup_rows.crossJoin(
                F.broadcast(
                    agg_row.select(F.col("n_rows").cast("long"))
                )
            ).select(
                F.lit(u_i).alias("rule_id"),
                F.lit("unique").alias("rule"),
                F.lit(",".join(u_cols)).alias("target"),
                F.col("n_violations").cast("long"),
                F.col("n_rows"),
            )
        )
    out = reduce(lambda a, b: a.unionByName(b), reports)
    return out.select(
        "rule_id",
        "rule",
        "target",
        "n_violations",
        "n_rows",
        (F.col("n_violations") == 0).alias("passed"),
    )


def key_skew_census(
    df: DataFrame,
    key_col: str,
    key_name: str | None = None,
) -> DataFrame:
    """Join-key skew census — the pre-join advisor every 100 TB
    pipeline should run before shuffling on a key: group-size
    distribution statistics (max, p99, mean, top-key share, and the
    max/mean skew ratio) that tell you whether this key needs
    salting, AQE skew handling, or a broadcast instead. High
    top_share ⇒ one reducer owns the key space; skew_ratio near 1 ⇒
    uniform, shuffle freely.

    Two-level collapse, never a sort of the data: groupBy(key) →
    per-key sizes (map-side partials), then groupBy(size) → the SIZE
    HISTOGRAM, which is tiny (distinct group sizes, not distinct
    keys), so the p99 order statistic is a cumulative window over a
    report-sized table even when the key space has billions of
    entries. p99 is the smallest size with cumulative key count ≥
    ceil(0.99·n_keys), computed in exact integer arithmetic
    (cum·100 ≥ 99·n_keys — no float index); the three ratio readouts
    are fixed IEEE op order, ROUND 9.

    Output: one row (key_name, n_rows, n_keys, max_size, p99_size,
    avg_size, top_share, skew_ratio).
    """
    from pyspark.sql import Window

    name = key_name if key_name is not None else key_col
    sizes = (
        df.where(F.col(key_col).isNotNull())
        .groupBy(F.col(key_col).alias("_k"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("_sz"))
    )
    hist = sizes.groupBy("_sz").agg(
        F.count(F.lit(1)).cast("bigint").alias("_nk")
    )
    tot = hist.agg(
        F.sum("_nk").cast("bigint").alias("n_keys"),
        F.sum(F.col("_sz") * F.col("_nk")).cast("bigint").alias("n_rows"),
        F.max("_sz").cast("bigint").alias("max_size"),
    )
    w = Window.orderBy(F.col("_sz").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cdf = hist.select("_sz", F.sum("_nk").over(w).alias("_cum"))
    fold = (
        cdf.crossJoin(F.broadcast(tot))
        .agg(
            F.min(
                F.when(
                    F.col("_cum") * F.lit(100)
                    >= F.lit(99) * F.col("n_keys"),
                    F.col("_sz"),
                )
            )
            .cast("bigint")
            .alias("p99_size"),
            F.max("n_keys").alias("n_keys"),
            F.max("n_rows").alias("n_rows"),
            F.max("max_size").alias("max_size"),
        )
    )
    avg = F.col("n_rows").cast("double") / F.col("n_keys").cast("double")
    return fold.select(
        F.lit(name).alias("key_name"),
        "n_rows",
        "n_keys",
        "max_size",
        "p99_size",
        F.round(avg, 9).alias("avg_size"),
        F.round(
            F.col("max_size").cast("double") / F.col("n_rows").cast("double"),
            9,
        ).alias("top_share"),
        F.round(F.col("max_size").cast("double") / avg, 9).alias(
            "skew_ratio"
        ),
    )
