"""Driver-contract query registry (SURVEY.md §2 oracle keys).

Each ``q_*`` function takes ``(spark, sf_dir)`` and returns a lazy
DataFrame; ``ORACLES`` holds the equivalent DuckDB SQL. The pairs are
compared by the driver (row count + schema + order-insensitive value
hash), so every computed column is aliased identically on both sides.

Cross-engine determinism rules used throughout:
- Double aggregation: per-row values in the testdata carry ≤4 true
  decimal digits, so ``CAST(x AS DECIMAL(18,6))`` is exact (never a
  rounding tie); SUM over decimals is exact in both engines; the final
  cast back to double is deterministic. No float-summation-order
  nondeterminism can leak into results.
- Timestamps are never emitted raw — always ``date_format``/
  ``strftime`` to strings.
- Any LIMIT/first/top-k carries a total tie-breaking ORDER BY.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from h3_indexer_spark.operators import relational as R
from h3_indexer_spark.sources.readers import read_parquet, read_table

Query = Callable[[SparkSession, str], DataFrame]


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return read_parquet(spark, f"{sf_dir}/{table}.parquet")


def _copurchase_edges(
    spark: SparkSession, sf_dir: str, sample_mod: int | None = None
) -> DataFrame:
    """Shared co-purchase edge fixture (q_kcore / q_bfs_hops /
    q_adamic_adar / q_graph_jaccard / q_assortativity /
    q_degree_dist): parts ordered together form an undirected edge,
    optionally on the deterministic 1/sample_mod order sample. Emits
    the src<dst half WITHOUT a final distinct — every consuming graph
    operator normalizes its edge input through ONE canonical distinct
    anyway, so a query-level dedup was a second full exchange over
    the same pairs (the result set is identical either way; the
    oracles mirror the dedup in their own edges CTE).

    Pair generation is basket-local: ONE groupBy(l_orderkey) collects
    each order's distinct part set (map-side partial-aggregated), and
    the i<j pairs explode from the sorted array — no self-join. The
    former distinct + equi-join-on-orderkey shape paid a (orderkey,
    partkey) dedup exchange PLUS an orderkey join exchange to emit
    the exact same multiset: for order basket P the join emitted each
    {x,y} ⊆ P, x<y once, which is precisely the sorted-array
    element × strictly-greater-suffix explode. Basket width bounds
    the array (TPC-H ≤ 7 lines/order; the assoc_rules guarded-basket
    contract at scale), so rows stay narrow and pair volume is
    unchanged.

    SKEW CONTRACT (§2.5): basket-local explosion concentrates a hot
    basket's O(w²) pairs in ONE task, where a self-join would spread
    them across join tasks. This fixture is safe because the TPC-H
    generator bounds w ≤ 7; a caller adapting it to an UNBOUNDED
    basket source must cap or split wide baskets first — see
    mining._capped_baskets (the miners' mega-basket guard), which is
    the drop-in front end for that case."""
    items = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    if sample_mod is not None:
        items = items.where(F.expr(f"l_orderkey % {sample_mod} = 0"))
    baskets = items.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("_parts")
    )
    return (
        baskets.select(F.explode("_parts").alias("src"), "_parts")
        .select(
            "src",
            F.explode(
                F.filter("_parts", lambda e: e > F.col("src"))
            ).alias("dst"),
        )
    )


# --------------------------------------------------------------------------
# §2.1 Scans / sources
# --------------------------------------------------------------------------


def q_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: plain columnar scan (reference spark/spark.py:45-55)."""
    return load(spark, sf_dir, "part")


def q_scan_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: catalog read with config WHERE pushed into the scan
    (reference validator.py:80-94). The predicate shows up as
    PushedFilters on the parquet scan node."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_src")
    df = read_table(
        spark, "orders_src", "o_totalprice > 200000 AND o_orderstatus = 'F'"
    )
    return df.select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")


# --------------------------------------------------------------------------
# §2.2 Projections / filters
# --------------------------------------------------------------------------


def q_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: column-subset projection (reference h3_indexer.py:76);
    ReadSchema proves only 3 columns leave the scan."""
    return R.project(
        load(spark, sf_dir, "lineitem"),
        ["l_orderkey", "l_linenumber", "l_quantity"],
    )


def q_lit_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: constant derived columns (reference h3_indexer.py:73,134-140
    — the WITHIN method's ratio=1.0 / total_count=1 / resolution lits)."""
    df = R.project(load(spark, sf_dir, "customer"), ["c_custkey"])
    return R.with_literals(df, h3_resolution=6, ratio=1.0, total_count=1)


def q_mul_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: attribute × ratio arithmetic (reference h3_resolver.py:125-127)
    — whole-stage-codegen expressions, no UDF."""
    df = load(spark, sf_dir, "lineitem")
    return df.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias(
            "disc_price"
        ),
        (F.col("l_quantity") * F.lit(0.5)).alias("half_qty"),
    )


def q_filter_notnull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: null-filter (reference utils/geospatial.py:150). The testdata
    has no physical nulls, so nulls are derived via NULLIF first."""
    df = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr("nullif(o_orderpriority, '1-URGENT')").alias("priority_opt"),
    )
    return R.filter_not_null(df, "priority_opt")


# --------------------------------------------------------------------------
# §2.3 Joins
# --------------------------------------------------------------------------


def q_join_left_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: probe ⟕ broadcast(small build) (reference h3_indexer.py:124).
    Explicit broadcast — at 100 TB the probe side must not shuffle."""
    lineitem = R.project(
        load(spark, sf_dir, "lineitem"), ["l_orderkey", "l_linenumber", "l_partkey"]
    )
    part = R.project(load(spark, sf_dir, "part"), ["p_partkey", "p_brand"])
    joined = R.join_left_small(
        lineitem, part.withColumnRenamed("p_partkey", "l_partkey"), "l_partkey"
    )
    return joined.select("l_orderkey", "l_linenumber", "l_partkey", "p_brand")


def q_join_left_attr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: fetch attribute columns back by unique id (reference
    h3_indexer.py:125-127, h3_resolver.py:119-123)."""
    orders = R.project(load(spark, sf_dir, "orders"), ["o_orderkey", "o_custkey"])
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_acctbal"
    )
    return R.join_left(orders, cust, "o_custkey")


def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: full-outer alignment of independently aggregated inputs on a
    shared key (reference h3_resolver.py:71-82). supplier covers few
    nations ⇒ genuine null rows on both sides."""
    cust = (
        load(spark, sf_dir, "customer")
        .select(
            F.col("c_nationkey").alias("nationkey"),
            F.col("c_acctbal").cast("decimal(18,6)").alias("cust_bal"),
        )
        .transform(lambda d: R.group_and_sum(d, "nationkey", ["cust_bal"]))
        .select("nationkey", F.col("sum_cust_bal").cast("double").alias("sum_cust_bal"))
    )
    supp = (
        load(spark, sf_dir, "supplier")
        .select(
            F.col("s_nationkey").alias("nationkey"),
            F.col("s_acctbal").cast("decimal(18,6)").alias("supp_bal"),
        )
        .transform(lambda d: R.group_and_sum(d, "nationkey", ["supp_bal"]))
        .select("nationkey", F.col("sum_supp_bal").cast("double").alias("sum_supp_bal"))
    )
    return R.full_outer_align([cust, supp], "nationkey")


# --------------------------------------------------------------------------
# §2.4 Aggregations
# --------------------------------------------------------------------------


def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi-join (EXISTS): orders that have at least one high-value
    line item. No row widening, no duplicate explosion."""
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    big_items = (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_extendedprice") > 50000)
        .select(F.col("l_orderkey").alias("o_orderkey"))
    )
    return R.join_semi(orders, big_items, "o_orderkey")


def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti-join (NOT EXISTS): customers with no orders."""
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    orders = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return R.join_anti(cust, orders, "c_custkey")


def q_groupby_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-statistic aggregation (min/max/count + exact decimal-backed
    avg) — the general-aggregation closure over the reference's
    SUM-only kernel."""
    df = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("decimal(18,6)").alias("qty"),
        F.col("l_extendedprice").alias("price"),
    )
    agg = df.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.min("price").alias("min_price"),
        F.max("price").alias("max_price"),
        F.sum("qty").alias("_sum_qty"),
    )
    return agg.select(
        "l_returnflag",
        "n_rows",
        "min_price",
        "max_price",
        (F.col("_sum_qty").cast("double") / F.col("n_rows")).alias("avg_qty"),
    )


def q_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped percentiles (linear interpolation): Spark's
    ``percentile`` and DuckDB's ``quantile_cont`` share the
    interpolation formula, so values are bit-equal. The scale path for
    approximate variants is ``percentile_approx``/t-digest — kept
    exact here so the oracle can check values."""
    df = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    return df.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.25)").alias("p25"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("p50"),
        F.expr("percentile(l_extendedprice, 0.75)").alias("p75"),
        F.expr("percentile(l_extendedprice, 0.95)").alias("p95"),
    )


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping-set aggregation: per (flag, status), per flag,
    and grand total in one pass."""
    df = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        F.col("l_quantity").cast("decimal(18,6)").alias("qty"),
    )
    return (
        df.rollup("l_returnflag", "l_linestatus")
        .agg(F.sum("qty").alias("_s"), F.count("*").alias("n_rows"))
        .select(
            "l_returnflag",
            "l_linestatus",
            F.col("_s").cast("double").alias("sum_qty"),
            "n_rows",
        )
    )


def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping-set aggregation: all four grouping sets of
    (flag, status) in one pass — the Expand-based sibling of
    q_rollup, completing the grouping-sets family."""
    df = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        F.col("l_quantity").cast("decimal(18,6)").alias("qty"),
    )
    return (
        df.cube("l_returnflag", "l_linestatus")
        .agg(F.sum("qty").alias("_s"), F.count("*").alias("n_rows"))
        .select(
            "l_returnflag",
            "l_linestatus",
            F.col("_s").cast("double").alias("sum_qty"),
            "n_rows",
        )
    )


def q_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates (operators/relational.py::sketch_stats):
    HLL++ approximate NDV + quantile-sketch percentiles per group —
    fixed sketch state per group instead of the exact Expand / full
    sort. rows-only: sketch values are engine-specific; error bounds
    vs the exact operators are locked in tests. All output columns are
    scalars (approx_q50/approx_q90 via element_at) so the driver's
    row canonicalizer never sees an array column."""
    return R.sketch_stats(
        load(spark, sf_dir, "lineitem"),
        group_col="l_returnflag",
        distinct_col="l_orderkey",
        quantile_col="l_extendedprice",
    )


def q_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Pearson correlation (operators/relational.py::
    grouped_corr): quantity vs extended price per returnflag, from
    exact decimal sums combined in a fixed IEEE op order — unlike
    F.corr/corr(), bit-reproducible cross-engine and so
    oracle-checked."""
    return R.grouped_corr(
        load(spark, sf_dir, "lineitem"),
        ["l_returnflag"],
        "l_quantity",
        "l_extendedprice",
    )


def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-range histogram (operators/relational.py::histogram):
    22 bins over l_extendedprice in [0, 110000) — a narrow map + one
    tiny aggregate; edge values clamp so counts total the rows."""
    return R.histogram(
        load(spark, sf_dir, "lineitem"),
        "l_extendedprice",
        lo=0.0,
        hi=110_000.0,
        n_bins=22,
    )


def q_groupby_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: the resolver kernel — groupBy + SUM every value column
    (reference h3_resolver.py:22-42). Partial aggregation makes this a
    one-shuffle plan at any scale."""
    df = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        F.col("l_quantity").cast("decimal(18,6)").alias("qty"),
        F.col("l_extendedprice").cast("decimal(18,6)").alias("base_price"),
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
        .cast("decimal(18,6)")
        .alias("disc_price"),
    )
    agg = R.group_and_sum(df, ["l_returnflag", "l_linestatus"])
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        F.col("sum_qty").cast("double").alias("sum_qty"),
        F.col("sum_base_price").cast("double").alias("sum_base_price"),
        F.col("sum_disc_price").cast("double").alias("sum_disc_price"),
    )


def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: distinct keys before expensive per-key work (reference
    h3_indexer.py:116-121)."""
    return R.distinct_keys(
        load(spark, sf_dir, "lineitem"), ["l_returnflag", "l_linestatus"]
    )


def q_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: total count (reference validator.py:25)."""
    return load(spark, sf_dir, "lineitem").agg(F.count("*").alias("cnt"))


def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: the PK-uniqueness check shape (reference validator.py:28-31)."""
    return load(spark, sf_dir, "customer").agg(
        F.count("*").alias("total_rows"),
        F.countDistinct("c_custkey").alias("distinct_ids"),
    )


def q_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: first-row sample (reference geospatial.py:31) — made
    deterministic with a total order."""
    return R.top_k(
        load(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        ),
        [F.col("o_orderkey").asc()],
        1,
    )


# --------------------------------------------------------------------------
# §2.5 Other dataflow
# --------------------------------------------------------------------------


def q_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1: UNNEST an array to one row per element (reference
    h3_indexer.py:111-113 — feature → covering H3 cells)."""
    df = load(spark, sf_dir, "part")
    return R.explode_array(
        df, F.split("p_type", " "), alias="type_word", keep=["p_partkey"]
    )


def q_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op (§2.8 gap-closer): vertical union of two conformed inputs."""
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("entity_id"),
        F.col("c_acctbal").alias("balance"),
        F.lit("customer").alias("kind"),
    )
    supp = load(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("entity_id"),
        F.col("s_acctbal").alias("balance"),
        F.lit("supplier").alias("kind"),
    )
    return cust.unionByName(supp)


def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op: INTERSECT (distinct) of customer and supplier nation
    keys — planned as a left-semi aggregate, one shuffle per side."""
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("int").alias("nationkey")
    )
    supp = load(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("int").alias("nationkey")
    )
    return cust.intersect(supp)


def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op: EXCEPT (distinct) — customer nations with no supplier,
    the anti-join formulation of set difference."""
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("int").alias("nationkey")
    )
    supp = load(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("int").alias("nationkey")
    )
    return cust.subtract(supp)


def q_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k (§2.8 gap-closer). Spark plans this as
    TakeOrderedAndProject — no global sort shuffle at any scale."""
    return R.top_k(
        load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice"),
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        20,
    )


# --------------------------------------------------------------------------
# §2.8 Window / event-time operators
# --------------------------------------------------------------------------


def q_topk_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via ranking window (§2.8). The window shuffles
    once on the partition key; rank pushdown (WindowGroupLimit) stops
    per-group work at k rows."""
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    )
    df = load(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    )
    return (
        df.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
    )


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load events.parquet and normalize ``ts`` to long epoch-nanos,
    whatever the physical parquet type is:

    - TIMESTAMP(NANOS) (round-1/2 testdata): Spark's reader rejects it
      by default; ``nanosAsLong`` reads it as long nanos directly.
    - timestamp[us] (round-3+ testdata): read as TIMESTAMP_NTZ; convert
      wall-clock → epoch micros under UTC (DuckDB's ``epoch_us`` makes
      the same naive-as-UTC interpretation) and scale to nanos.

    Downstream queries order/diff on the long nanos (total order
    identical to DuckDB's timestamps — no sub-micro ties in the data)
    and use ``ts_micro`` where a real TimestampType is needed.

    The runtime conf sets exist ONLY because the correctness driver
    runs these queries on a plain foreign SparkSession it builds
    itself — they are deliberate, not leftovers: any session that
    runs the contract must carry them or the nanos/TZ behavior
    drifts from the oracle."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # date_format/ window rendering and NTZ→epoch conversion must agree
    # with DuckDB's naive-as-UTC reading regardless of machine TZ.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = load(spark, sf_dir, "events")
    ts_type = df.schema["ts"].dataType.typeName()
    if ts_type != "long":  # timestamp / timestamp_ntz
        df = df.withColumn(
            "ts",
            (F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)).cast(
                "long"
            ),
        )
    return df.withColumn(
        "ts_micro", F.timestamp_micros(F.expr("ts div 1000"))
    )


def q_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-window lag — the as-of/previous-event primitive (§2.8)."""
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return (
        _load_events(spark, sf_dir)
        .select("event_id", "user_id", "ts", "value")
        .withColumn("prev_value", F.lag("value").over(w))
        .select("event_id", "user_id", "value", "prev_value")
    )


def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window family — rank / dense_rank / percent_rank per
    group ordered by value. All three are tie-stable (equal inputs get
    equal outputs), so the result is deterministic without a
    tiebreaker column."""
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("l_extendedprice").desc()
    )
    return (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_returnflag",
                "l_extendedprice")
        .withColumn("rnk", F.rank().over(w).cast("bigint"))
        .withColumn("drnk", F.dense_rank().over(w).cast("bigint"))
        .withColumn("prnk", F.percent_rank().over(w))
        .where(F.col("rnk") <= 100)
    )


def q_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) event-time windows: 2-hour windows every 30
    minutes — each event lands in exactly 4 overlapping windows
    (window size/slide are epoch-aligned in both engines)."""
    ev = _load_events(spark, sf_dir).select("ts_micro", "value")
    return (
        ev.groupBy(
            F.window("ts_micro", "2 hours", "30 minutes").alias("w")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("win_start_us"),
            "n_events",
            "sum_value",
        )
    )


def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string-match join (operators/textops.py::fuzzy_pairs):
    supplier names within Levenshtein distance 1, candidates blocked
    on the 12-char name prefix — the record-linkage primitive, fully
    oracle-checked including the blocking (DuckDB's levenshtein has
    identical unit-cost semantics)."""
    from h3_indexer_spark.operators.textops import fuzzy_pairs

    return fuzzy_pairs(
        load(spark, sf_dir, "supplier"),
        id_col="s_suppkey",
        text_col="s_name",
        max_dist=1,
        prefix_len=12,
    )


def q_dedup_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed deduplication: keep the FIRST event per (user,
    event_type) within each tumbling hour (retries/replays collapse,
    one row survives per key per window). One window shuffle;
    WindowGroupLimit stops per-group work at row 1."""
    ev = _load_events(spark, sf_dir).select(
        "event_id", "user_id", "event_type",
        F.expr("ts div 1000").alias("ts_us"),
    )
    hour_us = 3_600_000_000
    w = Window.partitionBy(
        F.col("user_id"),
        F.col("event_type"),
        F.col("ts_us") - F.pmod(F.col("ts_us"), F.lit(hour_us)),
    ).orderBy(F.col("ts_us").asc(), F.col("event_id").asc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("event_id", "user_id", "event_type", "ts_us")
    )


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join (operators/temporal.py::
    interval_overlap_join): user session intervals × hours containing
    at least one error event — which sessions ran through degraded
    hours. Bucketed equi-join on hour buckets with first-shared-bucket
    pinning (each overlapping pair emitted exactly once, no distinct
    shuffle); the tiny window table broadcasts."""
    from h3_indexer_spark.operators.temporal import (
        interval_overlap_join,
        sessionize,
    )

    hour_us = 3_600_000_000
    ev = _load_events(spark, sf_dir).select(
        "event_id",
        "user_id",
        F.expr("ts div 1000").alias("ts_us"),
        "event_type",
    )
    s = sessionize(
        ev, ["user_id"], "ts_us", gap=1_800_000_000,
        order_cols=["event_id"],
    )
    sessions = s.groupBy("user_id", "session_id").agg(
        F.min("ts_us").alias("s_lo"),
        (F.max("ts_us") + F.lit(1)).alias("s_hi"),
    )
    windows = (
        ev.where(F.col("event_type") == "error")
        .select(
            (
                F.floor(F.col("ts_us") / F.lit(float(hour_us)))
                * F.lit(hour_us)
            ).alias("w_lo")
        )
        .distinct()
        .withColumn("w_hi", F.col("w_lo") + F.lit(hour_us))
    )
    return interval_overlap_join(
        sessions, windows, "s_lo", "s_hi", "w_lo", "w_hi",
        bucket_width=float(hour_us), broadcast_right=True,
    ).select("user_id", "session_id", F.col("w_lo").alias("win_start_us"))


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (operators/temporal.py): each click event
    picks up the value of the user's most recent error event at or
    before it. Single-shuffle union+window formulation; oracle is
    DuckDB's native ASOF JOIN. Timestamps compare as raw nanos (total
    order matches DuckDB micros — no micro-level ties in the data) and
    output as epoch micros."""
    from h3_indexer_spark.operators.temporal import asof_join

    ev = _load_events(spark, sf_dir).select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    clicks = ev.where(F.col("event_type") == "click")
    errors = ev.where(F.col("event_type") == "error").withColumnRenamed(
        "event_id", "r_event_id"
    )
    out = asof_join(
        clicks,
        errors.select("user_id", "ts", "r_event_id", "value"),
        on=["user_id"],
        ts_col="ts",
        value_cols=["value"],
        tiebreak="r_event_id",
    )
    return out.select(
        "event_id",
        "user_id",
        F.expr("ts div 1000").alias("ts_us"),
        "value",
        F.col("asof_value"),
    )


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join (operators/temporal.py): orders priced
    into literal price bands via bucketed equi-join — the scale path
    for non-equi joins Spark would otherwise plan as nested-loop.
    Oracle: plain BETWEEN join."""
    from h3_indexer_spark.operators.temporal import range_join

    bands = spark.createDataFrame(
        _PRICE_BANDS, "band_id int, lo double, hi double"
    )
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").cast("double").alias("price")
    )
    out = range_join(
        orders, bands, value_col="price", lo_col="lo", hi_col="hi",
        bucket_width=50_000.0,
    )
    return (
        out.groupBy("band_id")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("price").cast("decimal(18,6)")).alias("sum_price_dec"),
        )
        .select(
            "band_id",
            "n_orders",
            F.col("sum_price_dec").cast("double").alias("sum_price"),
        )
    )


_PRICE_BANDS = [
    (0, 0.0, 50_000.0),
    (1, 50_000.0, 100_000.0),
    (2, 100_000.0, 150_000.0),
    (3, 150_000.0, 250_000.0),
    (4, 250_000.0, 600_000.0),
    # overlapping premium band: a fact row may land in >1 interval
    (5, 200_000.0, 400_000.0),
]


def q_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling window aggregation (§2.8). Hour windows
    are unaffected by the nanos→micros conversion."""
    df = _load_events(spark, sf_dir)
    agg = (
        df.groupBy(F.window("ts_micro", "1 hour").alias("w"), "event_type")
        .agg(
            F.sum(F.col("value").cast("decimal(18,6)")).alias("sum_value_dec"),
            F.count("*").alias("n_events"),
        )
    )
    return agg.select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        F.col("sum_value_dec").cast("double").alias("sum_value"),
        "n_events",
    )


# --------------------------------------------------------------------------
# §2.8 Text / dedup (documents table)
# --------------------------------------------------------------------------


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text statistics (§2.8) — pure built-ins, no UDF."""
    df = load(spark, sf_dir, "documents")
    return df.select(
        "doc_id",
        F.length("text").cast("long").alias("char_len"),
        F.size(F.split("text", " ")).cast("long").alias("word_cnt"),
        F.length(F.regexp_replace("text", "[^aeiou]", "")).cast("long").alias(
            "vowel_cnt"
        ),
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: keep min doc_id per text (§2.8).
    Hash-groupBy with partial aggregation — one shuffle of (hash, id)."""
    df = load(spark, sf_dir, "documents")
    return (
        df.select(F.md5(F.col("text").cast("binary")).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("dup_cnt"))
    )


# --------------------------------------------------------------------------
# §2.8 Similarity search (embeddings table)
# --------------------------------------------------------------------------

_EMB_DIM = 64


def _query_vector() -> list[float]:
    """Deterministic query vector with exactly-representable components
    (k/64 → ≤6 decimal digits; bit-identical as literals in both
    engines)."""
    return [((i * 37) % 128 - 64) / 64.0 for i in range(_EMB_DIM)]


def _dot_sql(vec_col: str, q: list[float], one_based: bool) -> str:
    """Left-associative element-wise dot product in double precision —
    the identical IEEE op sequence in Spark SQL and DuckDB."""
    terms = []
    for i, qv in enumerate(q):
        idx = i + 1 if one_based else i
        terms.append(f"CAST({vec_col}[{idx}] AS DOUBLE) * ({qv!r})")
    return " + ".join(terms)


def _norm_sql(vec_col: str, one_based: bool) -> str:
    terms = []
    for i in range(_EMB_DIM):
        idx = i + 1 if one_based else i
        e = f"CAST({vec_col}[{idx}] AS DOUBLE)"
        terms.append(f"{e} * {e}")
    return " + ".join(terms)


def _q_norm_const() -> float:
    import math

    q = _query_vector()
    s = 0.0
    for v in q:
        s += v * v
    return math.sqrt(s)


def q_knn_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k against a fixed query vector (§2.8).

    The scale path (IVF/LSH bucketing) lives in operators/similarity.py;
    this is the exact baseline. The arithmetic is an identical IEEE op
    sequence in both engines, so sims are bit-equal — no rounding needed.
    """
    # Spark arrays are 1-based for the SQL [] accessor? No: [] is
    # 0-based in Spark SQL (element_at is 1-based) — hence one_based=False.
    q = _query_vector()
    dot = _dot_sql("embedding", q, one_based=False)
    norm = _norm_sql("embedding", one_based=False)
    qn = _q_norm_const()
    df = load(spark, sf_dir, "embeddings")
    sim = F.expr(f"({dot}) / (sqrt({norm}) * ({qn!r}))").alias("cosine_sim")
    return R.top_k(
        df.select("vec_id", sim),
        [F.col("cosine_sim").desc(), F.col("vec_id").asc()],
        10,
    )


def _dedup_embedding_oracle() -> str:
    """DuckDB SQL mirroring embedding_near_dups_exact: identical
    left-associative double-precision op order (DuckDB arrays are
    1-based)."""
    dot = " + ".join(
        f"CAST(a.embedding[{i + 1}] AS DOUBLE) * "
        f"CAST(b.embedding[{i + 1}] AS DOUBLE)"
        for i in range(_EMB_DIM)
    )
    na = _norm_sql("a.embedding", one_based=True)
    nb = _norm_sql("b.embedding", one_based=True)
    return f"""
        SELECT id_a, id_b, cosine_sim FROM (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   (0.0 + {dot}) / (sqrt(0.0 + {na}) * sqrt(0.0 + {nb}))
                       AS cosine_sim
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        ) WHERE cosine_sim >= 0.4
    """


def _dedup_embedding_lsh_oracle() -> str:
    """Mirror of q_dedup_embedding_lsh via the all-pairs exact cosine:
    valid because banded sign-LSH recall is certain on this geometry —
    the corpus's natural pair cosines top out at 0.60 (measured at
    both SFs) while the planted near-identical copies sit at ~0.99995,
    where a 16-bit band collides with p≈0.95 and 20 bands miss with
    p≈1e-26. The union + first-component perturbation is reproduced in
    SQL with the identical float→double op sequence, and the cosine is
    the same left-associative fold as the exact-path oracle."""
    dot = " + ".join(
        f"CAST(a.embedding[{i + 1}] AS DOUBLE) * "
        f"CAST(b.embedding[{i + 1}] AS DOUBLE)"
        for i in range(_EMB_DIM)
    )
    na = _norm_sql("a.embedding", one_based=True)
    nb = _norm_sql("b.embedding", one_based=True)
    return f"""
        WITH uni AS (
            SELECT vec_id,
                   list_transform(embedding,
                                  x -> CAST(x AS DOUBLE)) AS embedding
            FROM embeddings
            UNION ALL
            SELECT vec_id + 1000000 AS vec_id,
                   list_prepend(
                       CAST(embedding[1] AS DOUBLE) * 1.01,
                       list_transform(embedding[2:],
                                      x -> CAST(x AS DOUBLE))
                   ) AS embedding
            FROM embeddings
        )
        SELECT id_a, id_b, cosine_sim FROM (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   (0.0 + {dot}) / (sqrt(0.0 + {na}) * sqrt(0.0 + {nb}))
                       AS cosine_sim
            FROM uni a JOIN uni b ON a.vec_id < b.vec_id
        ) WHERE cosine_sim >= 0.99
    """


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (operators/textops.py): whitespace + BPE-ish regex
    + bytes/token — zero-shuffle narrow map."""
    from h3_indexer_spark.operators.textops import token_counts

    return token_counts(load(spark, sf_dir, "documents")).select(
        "doc_id", "n_tokens_ws", "n_tokens_re", "bytes_per_token"
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID (operators/textops.py)."""
    from h3_indexer_spark.operators.textops import language_id

    return language_id(load(spark, sf_dir, "documents")).select(
        "doc_id", "lang", "lang_pred"
    )


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring (operators/textops.py): Gopher/C4-style
    rule stack as pure expressions."""
    from h3_indexer_spark.operators.textops import quality_score

    return quality_score(load(spark, sf_dir, "documents")).select(
        "doc_id", "q_word_len", "q_alpha", "q_stopword", "q_unique", "quality"
    )


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint (operators/textops.py). The
    contract uses the portable ``algo="md5"`` variant (min MD5 over
    sliding 8-word windows) so DuckDB can mirror it bit-exactly; the
    production default stays the ~3x-faster xxhash64 slice path, which
    is covered rows-only via the same operator in tests."""
    from h3_indexer_spark.operators.textops import fingerprint

    return fingerprint(load(spark, sf_dir, "documents"), algo="md5").select(
        "doc_id", "fingerprint"
    )


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs with exact-Jaccard verification
    (operators/dedup.py). ORACLE-CHECKED against the all-pairs exact
    5-gram Jaccard SQL: surfaced pairs are exact-Jaccard-verified, so
    emitted == exact iff LSH recall is 1 — the contract pins 64 bands
    of 2 rows, where a pair at the 0.5 threshold is missed with
    p = (1-0.5²)⁶⁴ ≈ 1e-8 and the corpus's actual near-dup pairs
    (J ≥ 0.75 at sf0.1, J ≥ 0.875 at sf0.01, nothing between 0.35
    and the threshold) with p ≤ 1e-23. Jaccard over xxhash64'd
    shingles equals Jaccard over the raw grams absent 64-bit
    collisions (~n²/2⁶⁴ per doc pair). Production default stays
    16 bands × 4 rows (steeper S-curve, fewer candidates)."""
    from h3_indexer_spark.operators.dedup import minhash_near_dups

    return minhash_near_dups(
        load(spark, sf_dir, "documents"),
        threshold=0.5,
        num_hashes=128,
        bands=64,
    ).select("id_a", "id_b", "jaccard")


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, exact all-pairs baseline
    (operators/dedup.py). The fold order of the zip_with/aggregate dot
    product matches the oracle's left-associative sum, so cosine_sim is
    bit-equal in both engines."""
    from h3_indexer_spark.operators.dedup import embedding_near_dups_exact

    return embedding_near_dups_exact(
        load(spark, sf_dir, "embeddings"), threshold=0.4
    ).select("id_a", "id_b", "cosine_sim")


def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup via sign-LSH banding — the scale path
    (operators/dedup.py). Planted near-identical copies (one component
    scaled 1%) must pair with their originals; rows-only (hash-bucket
    candidate generation is not SQL-expressible offline)."""
    from h3_indexer_spark.operators.dedup import embedding_near_dups

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    perturbed = emb.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x, i: F.when(i == 0, x * F.lit(1.01)).otherwise(x),
        ).alias("embedding"),
    )
    return embedding_near_dups(
        emb.unionByName(perturbed), dim=_EMB_DIM, threshold=0.99
    ).select("id_a", "id_b", "cosine_sim")


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs (operators/dedup.py::
    semantic_dedup_pairs): coarse k=16 clustering (GEMM ivf_assign over
    deterministic lowest-id seed centroids) prunes candidates to
    within-cluster, then the exact left-assoc cosine fold ranks them —
    n²/k work instead of n². Fully oracle-checked: the centroid
    normalization and cosine are the identical IEEE op sequence in
    DuckDB, and the empirically-verified assignment margin (≥2e-4 at
    sf0.01) is astronomically above cross-engine 1-ulp dot-product
    divergence."""
    from h3_indexer_spark.operators.dedup import semantic_dedup_pairs
    from h3_indexer_spark.operators.similarity import sampled_centroids

    emb = load(spark, sf_dir, "embeddings")
    cents = sampled_centroids(emb, n_cells=16)
    return semantic_dedup_pairs(emb, cents, threshold=0.3)


def q_semantic_dedup_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production path of q_semantic_dedup (operators/dedup.py::
    semantic_dedup_pairs_fast): one numpy GEMM per cluster via
    applyInPandas — 4-7× the expression path, same pair set
    (equivalence locked in tests/test_dedup_similarity.py). rows-only:
    numpy pairwise sums differ from the SQL fold by ≤1 ulp."""
    from h3_indexer_spark.operators.dedup import semantic_dedup_pairs_fast
    from h3_indexer_spark.operators.similarity import sampled_centroids

    emb = load(spark, sf_dir, "embeddings")
    cents = sampled_centroids(emb, n_cells=16)
    return semantic_dedup_pairs_fast(emb, cents, threshold=0.3)


def _md5_60bit(t: F.Column) -> F.Column:
    """60-bit token hash both engines compute identically: low 15 hex
    chars of md5 → bigint. Used by oracle-checked contract variants;
    production paths default to xxhash64 (cheaper, JVM-native)."""
    return F.conv(
        F.substring(F.md5(t.cast("binary")), 18, 15), 16, 10
    ).cast("long")


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banded near-dup candidates (operators/dedup.py).
    ORACLE-CHECKED: with 4 bands and max_hamming 3 < 4 the pigeonhole
    candidate generation is exhaustive, so the output is exactly the
    all-pairs set with fingerprint hamming ≤ 3 — deterministic given
    the fingerprints. The contract pins the md5-derived 60-bit token
    hash (identical in DuckDB), making the fingerprint itself
    SQL-mirrorable; production default stays xxhash64."""
    from h3_indexer_spark.operators.dedup import simhash_near_dups

    return simhash_near_dups(
        load(spark, sf_dir, "documents"),
        max_hamming=3,
        token_hash=_md5_60bit,
        n_bits=60,
    ).select(
        "id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming")
    )


def q_knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch kNN: top-5 corpus neighbors for each of 3 query vectors
    taken from the table itself — routed through the library operator
    (operators/similarity.py pairwise_cosine_topk: broadcast query set
    × corpus + rank window), so the checked query exercises the same
    plan shipped to users. The HOF fold evaluates the dot/norm terms
    in the same IEEE order as the oracle's expression chain, so sims
    stay bit-equal."""
    from h3_indexer_spark.operators.similarity import pairwise_cosine_topk

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = pairwise_cosine_topk(
        emb, queries, k=5, q_id_col="query_id", exclude_self=True
    )
    return out.select(
        "query_id",
        "vec_id",
        "cosine_sim",
        F.col("rank").cast("bigint").alias("rank"),
    )


def q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH ANN top-k (operators/similarity.py) — the 100 TB scale
    path for q_knn_brute. ORACLE-CHECKED: the seeded hyperplanes
    inline as literals in the oracle, which recomputes every sign bit
    and the multi-probe bucket list in SQL (margin-assured sign
    agreement — see _lsh_oracle)."""
    from h3_indexer_spark.operators.similarity import cosine_topk_lsh

    return cosine_topk_lsh(
        load(spark, sf_dir, "embeddings"),
        _query_vector(),
        k=10,
        vec_col="embedding",
        id_col="vec_id",
        n_planes=8,
        probe_hamming=2,
    )


# --------------------------------------------------------------------------
# §2.8 Multimodal plumbing (binary payload columns)
# --------------------------------------------------------------------------


def _media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic media table derived from documents: the text bytes
    act as the opaque binary payload."""
    return load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("payload"),
    )


def q_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact higher moments per group (operators/relational.py::
    grouped_moments): mean/variance/skewness/excess-kurtosis of
    l_extendedprice by returnflag from integer-cents power sums —
    bit-deterministic where streaming skewness()/kurtosis() fold in
    float and drift with partition order."""
    from h3_indexer_spark.operators.relational import grouped_moments

    return grouped_moments(
        load(spark, sf_dir, "lineitem"), "l_extendedprice",
        ["l_returnflag"],
    )


def q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficients (operators/graph.py::
    clustering_coefficients) over the near-dup pair graph — 2T/(d(d−1))
    per vertex, composing the degree-ordered triangle count with the
    degree table."""
    from h3_indexer_spark.operators.dedup import ngram_jaccard_exact_pairs
    from h3_indexer_spark.operators.graph import clustering_coefficients

    pairs = ngram_jaccard_exact_pairs(
        load(spark, sf_dir, "documents"), n=3, threshold=0.5, max_df=100
    )
    return clustering_coefficients(pairs)


def q_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content-level media dedup (operators/multimodal.py::
    dedup_media_by_content): binary payloads grouped by md5 digest,
    minimum id canonical, copies counted. The fixture corpus is
    duplicate-free, so the first 20 payloads are re-appended under
    shifted ids — every re-upload must collapse onto its original
    (n_copies = 2) while the rest stay singletons."""
    from h3_indexer_spark.operators.multimodal import (
        dedup_media_by_content,
    )

    media = _media_table(spark, sf_dir)
    dupes = media.where(F.col("media_id") < 20).select(
        (F.col("media_id") + 100_000).alias("media_id"), "payload"
    )
    return dedup_media_by_content(media.unionByName(dupes))


def triangles_over_neardup_graph(
    spark: SparkSession,
    sf_dir: str,
    pins_out: list[DataFrame] | None = None,
) -> DataFrame:
    """q_triangles' plan with the miner's ``pins_out`` release idiom
    (VERDICT r10 #6, ported from operators/mining.py::
    sequential_patterns_full): the near-dup pair table is
    persist()-pinned (lazy — zero jobs at construction) because the
    degree-ordered orientation references it in several branches and
    the static plan otherwise re-derives the full inverted-index
    self-join per branch (454 static exchanges; the pin measured
    steady 3.2 s → 1.5 s at sf0.1). A long-lived session iterating
    over MANY datasets passes ``pins_out=[]`` and unpersists the
    collected pin once its action completes — narrower than
    spark.catalog.clearCache()."""
    from h3_indexer_spark.operators.dedup import ngram_jaccard_exact_pairs
    from h3_indexer_spark.operators.graph import triangle_counts

    pairs = ngram_jaccard_exact_pairs(
        load(spark, sf_dir, "documents"), n=3, threshold=0.5, max_df=100
    ).persist()
    if pins_out is not None:
        pins_out.append(pairs)
    return triangle_counts(pairs)


def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex triangle counts (operators/graph.py::
    triangle_counts) over the exact n-gram Jaccard near-dup graph —
    the local clique/clustering signal on the dedup pair structure.
    Degree-ordered orientation bounds wedge volume at m^1.5; the
    oracle counts each a<b<c triangle directly with a triple join.
    Repeat invocations rebuild the IDENTICAL logical plan, and
    CacheManager keys on the analyzed plan — the pair-table pin is
    reused, not duplicated, so the driver's contract usage stays one
    cache slot per sf_dir; multi-dataset sessions release it via
    triangles_over_neardup_graph(pins_out=...)."""
    return triangles_over_neardup_graph(spark, sf_dir)


def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-k (operators/similarity.py): coarse-quantize to 16
    cells, probe the query's 4 nearest — at scale the table is stored
    partitioned by ivf_cell, making the probe partition pruning.
    Oracle-checked the same way q_semantic_dedup is: the deterministic
    lowest-id seed centroids, the argmax cell assignment, and the probe
    ranking are all pinned in SQL (left-assoc folds); the only
    cross-engine divergence is ~1-ulp summation order inside the GEMM,
    astronomically below the assignment margins (locked in
    tests/test_oracle.py::test_knn_ivf_oracle_margins)."""
    from h3_indexer_spark.operators.similarity import (
        ivf_topk,
        sampled_centroids,
    )

    emb = load(spark, sf_dir, "embeddings")
    cents = sampled_centroids(emb, n_cells=16)
    return ivf_topk(emb, _query_vector(), cents, n_probe=4, k=10)


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (operators/temporal.py::sessionize): per-
    user sessions split at >30-minute gaps, aggregated to one row per
    session — the log-to-training-example primitive. ONE window
    shuffle + the session aggregate; sums are DECIMAL-cast for
    bit-determinism (see verify gotchas)."""
    from h3_indexer_spark.operators.temporal import sessionize

    ev = _load_events(spark, sf_dir).select(
        "event_id",
        "user_id",
        F.expr("ts div 1000").alias("ts_us"),
        "value",
    )
    s = sessionize(
        ev, ["user_id"], "ts_us", gap=1_800_000_000,
        order_cols=["event_id"],
    )
    return s.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts_us").alias("session_start_us"),
        F.max("ts_us").alias("session_end_us"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("sum_value"),
    )


def q_ngram_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 word bigrams (operators/textops.py::
    ngram_counts) — the contamination / boilerplate census primitive.
    Narrow n-gram construction (zip_with over shifted slices), one
    count shuffle, deterministic (count desc, ngram asc) top-k."""
    from h3_indexer_spark.operators.textops import ngram_counts

    return ngram_counts(
        load(spark, sf_dir, "documents"), "text", n=2, k=20
    )


def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE trainer pair census (operators/textops.py::bpe_pair_counts):
    corpus-wide adjacent character-pair frequencies weighted by word
    frequency — one iteration of byte-pair-encoding training. The
    corpus collapses to distinct words first, so pair work is
    ∝ |vocab|, not corpus size; counts are exact BIGINTs and the
    top-30 is (n desc, pair asc)-deterministic. The bounded
    multi-round merge loop (bpe_train) is locked against a pure-
    Python reference in tests/test_round7_ops.py."""
    from h3_indexer_spark.operators.textops import bpe_pair_counts

    return bpe_pair_counts(load(spark, sf_dir, "documents"), "text", k=30)


_BM25_TERMS = ["join", "query", "spark", "stream"]


def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 retrieval scores (operators/textops.py::bm25_scores)
    against a fixed 4-term query. tf pivots to one column per term
    (conditional size() — each a single integer) and the score adds
    the per-term contributions in FIXED sorted-term order, never an
    engine-ordered float SUM; ln() is the one op libm and the JVM
    disagree on by 1 ulp, so the contract emits FLOOR(score*1000)
    (trig/ln recipe) — the integer-boundary margin is asserted in
    tests/test_round7_ops.py."""
    from h3_indexer_spark.operators.textops import bm25_scores

    return bm25_scores(
        load(spark, sf_dir, "documents"), _BM25_TERMS, "text", "doc_id",
        k=20,
    )


def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise market-basket association rules (operators/mining.py::
    association_rules): orders as baskets, part brands as items —
    support / confidence / lift per ordered brand pair, top-30 by
    lift with a full lexicographic tiebreak. Counts are exact
    BIGINTs; confidence and lift are single divisions of those
    counts, bit-equal in any engine."""
    from h3_indexer_spark.operators.mining import association_rules

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pt = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = li.join(
        F.broadcast(pt), li["l_partkey"] == pt["p_partkey"]
    ).select("l_orderkey", "p_brand")
    return association_rules(
        baskets, "l_orderkey", "p_brand", min_support=2, k=30
    )


def q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration of order revenue (operators/analytics.py::
    gini_coefficient) — the closed-form rank-run formulation over
    distinct value levels: exact DECIMAL Σv·c and Σv·(c·p+c(c+1)/2),
    one |levels|-sized window, and a single mirrored double op
    sequence for the final coefficient."""
    from h3_indexer_spark.operators.analytics import gini_coefficient

    return gini_coefficient(load(spark, sf_dir, "orders"), "o_totalprice")


def q_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (operators/analytics.py::
    rfm_segments): per-customer recency/frequency/monetary with
    NTILE(5) scores over TOTAL (metric, customer) orders — the
    explicit tiebreak pins bucket boundaries; recency is emitted as
    the formatted timestamp string (q_window_tumbling convention —
    the parquet physical type is TIMESTAMP_NTZ, which unix_micros
    rejects and the driver comparator can't hash)."""
    from h3_indexer_spark.operators.analytics import rfm_segments

    out = rfm_segments(load(spark, sf_dir, "orders"))
    return out.select(
        "customer",
        F.date_format(F.col("recency_ts"), "yyyy-MM-dd HH:mm:ss")
        .alias("recency_str"),
        F.col("frequency").cast("bigint").alias("frequency"),
        "monetary",
        "r",
        "f",
        "m",
        "segment",
    )


def q_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog register table (operators/sketches.py::
    hll_registers) over orders.o_custkey at p=8 — the sketch surface
    itself (bucket, max-rho integers from the portable 60-bit md5
    hash), hash-checkable in any engine; mergeability and the
    estimator's error bound are locked in tests/test_round7_ops.py."""
    from h3_indexer_spark.operators.sketches import hll_registers

    return hll_registers(load(spark, sf_dir, "orders"), "o_custkey", p=8)


def q_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier risk table (operators/analytics.py::
    survival_risk_table) over per-user event lifetimes with a 7-day
    censoring horizon — integer-exact (lifetime_days, n_risk,
    n_events, n_censored); the float survival curve is a trivial
    client-side Π(1−d/n) over these rows."""
    from h3_indexer_spark.operators.analytics import survival_risk_table

    return survival_risk_table(_load_events(spark, sf_dir))


def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto frontier (operators/mining.py::skyline_2d) over
    part: minimize retail price, maximize size — rows no other part
    dominates. Aggregated-levels window plan (|distinct prices| rows
    through the window, never the corpus); the oracle is the
    textbook NOT EXISTS dominance test."""
    from h3_indexer_spark.operators.mining import skyline_2d

    return skyline_2d(
        load(spark, sf_dir, "part"), "p_retailprice", "p_size"
    ).select("p_partkey", "p_retailprice", "p_size")


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff LM quality scores (operators/textops.py::
    lm_score_stupid_backoff): bigram/unigram counts train on the
    English slice, every document scores by mean token log-prob —
    the CCNet-style corpus filter. Each token position contributes
    FLOOR(1e6·log10 p) so the per-doc sum is an ORDER-FREE integer
    (a raw double Σlog would be summation-order nondeterministic);
    log10's cross-library ulp is absorbed by the floor, margins
    asserted in tests/test_round7_ops.py."""
    from h3_indexer_spark.operators.textops import lm_score_stupid_backoff

    docs = load(spark, sf_dir, "documents")
    return lm_score_stupid_backoff(
        docs, train=docs.where(F.col("lang") == "en")
    )


def q_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick categorical encoding (operators/features.py::
    feature_hash): orders' status+priority into 8 signed hash
    buckets — vocabulary-free, no fit step, the train/serve-skew-
    proof encoder. Buckets and signs come from the portable md5
    hash, so the dense integer columns are bit-checkable in any
    engine."""
    from h3_indexer_spark.operators.features import feature_hash

    return feature_hash(
        load(spark, sf_dir, "orders"),
        ["o_orderstatus", "o_orderpriority"],
        n_features=8,
        id_col="o_orderkey",
    )


def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (operators/textops.py::
    tfidf_topk, linear inverse document frequency so the score
    arithmetic is integer-exact and bit-equal across engines)."""
    from h3_indexer_spark.operators.textops import tfidf_topk

    return tfidf_topk(
        load(spark, sf_dir, "documents"), "text", "doc_id", k=3
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality report (operators/expectations.py::
    check_expectations) over lineitem: null/uniqueness/range/set
    membership rules fuse into ONE scan of conditional sums, the
    referential-integrity probe to orders is a broadcast anti-join.
    The generic descendant of the geo Validate stage."""
    from h3_indexer_spark.operators.expectations import check_expectations

    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    return check_expectations(
        li,
        [
            {"rule": "not_null", "column": "l_quantity"},
            {"rule": "unique", "columns": ["l_orderkey", "l_linenumber"]},
            {"rule": "range", "column": "l_discount", "min": 0.0,
             "max": 0.1},
            {"rule": "in_set", "column": "l_returnflag",
             "allowed": ["A", "N", "R"]},
            {"rule": "foreign_key", "column": "l_orderkey",
             "ref": orders, "ref_column": "o_orderkey"},
        ],
    )


def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt — wide→long reshape (the inverse of q_pivot_events,
    completing the reshape pair; also the building block of
    profile_table's one-scan melt). Spark's native unpivot keeps this
    a pure narrow map: each input row emits its measure rows in place,
    no shuffle, no Expand-join."""
    df = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("double").alias("quantity"),
        F.col("l_extendedprice").cast("double").alias("extendedprice"),
        F.col("l_tax").cast("double").alias("tax"),
    )
    return df.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["quantity", "extendedprice", "tax"],
        "metric",
        "val",
    )


def q_pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot/crosstab: per-user event counts by type. The pivot value
    list is fixed (never inferred) so the output schema is stable and
    the plan needs no extra distinct-values job — the only safe way to
    pivot at 100 TB."""
    ev = _load_events(spark, sf_dir).select("user_id", "event_type")
    out = ev.groupBy("user_id").pivot("event_type", _EVENT_TYPES).agg(
        F.count(F.lit(1))
    )
    return out.na.fill(0, _EVENT_TYPES)


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language downsampling (operators/textops.py::
    stratified_sample_by_key): keep 50% of 'en', 100% of 'zh', 20% of
    everything else, keyed on doc_id — reproducible corpus mixing with
    a narrow filter that pushes to the scan."""
    from h3_indexer_spark.operators.textops import stratified_sample_by_key

    out = stratified_sample_by_key(
        load(spark, sf_dir, "documents"),
        key_col="doc_id",
        strata_col="lang",
        rates={"en": 0.5, "zh": 1.0},
        default_rate=0.2,
    )
    return out.select("doc_id", "lang", "source", "n_chars")


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keeping the highest-n_chars duplicate per content
    hash (operators/dedup.py::exact_dedup_keep_best) — canonical-
    document selection rather than keep-first."""
    from h3_indexer_spark.operators.dedup import exact_dedup_keep_best

    out = exact_dedup_keep_best(
        load(spark, sf_dir, "documents").select(
            "doc_id", "text", "n_chars"
        ),
        score_col="n_chars",
    )
    return out.select(
        "text_hash",
        "doc_id",
        "n_chars",
        F.col("dup_cnt").cast("bigint").alias("dup_cnt"),
    )


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship training-data pipeline: the standard corpus-curation
    stack composed end-to-end from the §2.8 operators — quality
    scoring → language ID → exact dedup (keep lowest doc_id per
    content hash) → token counting — fully oracle-checked. All stages
    before the dedup join are narrow maps; the pipeline is two
    shuffles total (dedup groupBy + keep-join) at any corpus size."""
    from h3_indexer_spark.operators.dedup import exact_dedup
    from h3_indexer_spark.operators.textops import (
        language_id,
        quality_score,
        token_counts,
    )

    docs = load(spark, sf_dir, "documents")
    enriched = token_counts(language_id(quality_score(docs)))
    keep = exact_dedup(docs).select(F.col("keep_id").alias("doc_id"))
    return (
        enriched.join(keep, "doc_id")
        .where((F.col("quality") >= 0.5) & (F.col("lang_pred") == "en"))
        .select("doc_id", "lang_pred", "quality", "n_tokens_re")
    )


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs via inverted index
    (operators/dedup.py::ngram_jaccard_exact_pairs) — the
    oracle-checkable sibling of the seeded minhash path: candidate
    pairs come from shared grams (never all-pairs), hot grams are
    dropped by the max_df stop-shingle cap, and the self-join is
    pinned shuffle-hash."""
    from h3_indexer_spark.operators.dedup import ngram_jaccard_exact_pairs

    return ngram_jaccard_exact_pairs(
        load(spark, sf_dir, "documents"), n=3, threshold=0.5, max_df=100
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components (operators/graph.py)
    over the exact-Jaccard pair graph — the transitive-closure step
    between candidate pairs and dedup decisions (A~B, B~C must cluster
    together even when A, C never paired). Min-label propagation with
    pointer jumping: O(log n) rounds of hash joins. The oracle is a
    DuckDB recursive CTE over the same edges."""
    from h3_indexer_spark.operators.dedup import ngram_jaccard_exact_pairs
    from h3_indexer_spark.operators.graph import connected_components

    docs = load(spark, sf_dir, "documents")
    pairs = ngram_jaccard_exact_pairs(docs, n=3, threshold=0.5, max_df=100)
    return connected_components(
        pairs, docs, src="id_a", dst="id_b", id_col="doc_id"
    )


def q_clean_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level boilerplate cleaning (operators/curation.py
    ::clean_lines): drop boilerplate LINES inside documents, keep the
    prose. The synthetic docs are single-line, so the query first
    splits them into lines at ' table ' (a deterministic stand-in for
    real newlines); rules: ≥3 words, no banned substrings. Pure
    narrow-expression plan — split → HOF filter → array_join."""
    from h3_indexer_spark.operators.curation import clean_lines

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace("text", " table ", "\ntable ").alias("text"),
    )
    return clean_lines(
        docs,
        min_words=3,
        require_terminal_punct=False,
        ban_substrings=("join", "vector"),
    ).select("doc_id", "clean_text", "n_lines", "n_kept_lines")


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (operators/graph.py::pagerank) over the exact-Jaccard
    near-dup pair graph (both directions per pair): documents central
    to big duplication families rank highest — the authority signal a
    crawl/sampling pipeline weights by. rows-only: iterative power
    method (the numpy-equivalence and dangling-mass tests in
    tests/test_curation_graph.py are the correctness check); top-50 by
    (rank, doc_id) for a stable result set."""
    from h3_indexer_spark.operators.dedup import ngram_jaccard_exact_pairs
    from h3_indexer_spark.operators.graph import pagerank

    docs = load(spark, sf_dir, "documents")
    pairs = ngram_jaccard_exact_pairs(docs, n=3, threshold=0.5, max_df=100)
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionAll(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    ranked = pagerank(edges, docs, id_col="doc_id", max_iter=10)
    return R.top_k(
        ranked.select("doc_id", F.round("rank", 9).alias("rank")),
        [F.col("rank").desc(), F.col("doc_id").asc()],
        50,
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/curation.py::decontaminate):
    docs with doc_id < 50 stand in for the eval set; any training doc
    (id >= 50) sharing a word 5-gram with it is dropped. The benchmark
    gram set is broadcast, so the training side never shuffles."""
    from h3_indexer_spark.operators.curation import decontaminate

    docs = load(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") < 50)
    train = docs.where(F.col("doc_id") >= 50)
    return decontaminate(train, bench, n=5).select("doc_id", "n_chars")


def q_dedup_spans_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style global span dedup (operators/curation.py::
    dedup_spans_global): every repeated cross-document span survives
    only at its first global occurrence. The single-line fixture docs
    are split at the ' table ' stand-in boundary (same trick as
    q_clean_lines)."""
    from h3_indexer_spark.operators.curation import dedup_spans_global

    return dedup_spans_global(
        load(spark, sf_dir, "documents"), delim=" table "
    )


def q_contamination_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded contamination scoring (operators/curation.py::
    contamination_fraction): per-training-doc fraction of distinct
    word 5-grams shared with the benchmark half — the thresholdable
    sibling of q_decontaminate's binary drop."""
    from h3_indexer_spark.operators.curation import contamination_fraction

    docs = load(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") < 50)
    train = docs.where(F.col("doc_id") >= 50)
    return contamination_fraction(train, bench, n=5)


def q_rare_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency quality signal (operators/textops.py::
    rare_word_stats): per-doc fraction of tokens appearing in fewer
    than 3 documents corpus-wide. The vocabulary head broadcasts;
    rarity is counted by complement."""
    from h3_indexer_spark.operators.textops import rare_word_stats

    return rare_word_stats(load(spark, sf_dir, "documents"), min_df=3)


def q_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination (operators/curation.py::
    decontaminate_bloom): same leakage semantics as q_decontaminate
    but the benchmark gram set compresses to a 128 KiB bitset instead
    of a broadcast string set — the path for eval suites too big to
    broadcast exactly. ORACLE-CHECKED: the contract pins the md5
    position hash (low 60 bits of md5(i || gram) mod n_bits — identical
    in DuckDB), so the oracle rebuilds the bloom's position set and
    replays the same all-positions-set membership test in SQL,
    INCLUDING any false-positive drops. The no-false-negative
    guarantee (bloom ⊆ exact survivor set) and the false-positive band
    stay locked in tests/test_curation_graph.py; production default
    remains seeded xxhash64."""
    from h3_indexer_spark.operators.curation import decontaminate_bloom

    docs = load(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") < 50)
    train = docs.where(F.col("doc_id") >= 50)
    return decontaminate_bloom(train, bench, n=5, algo="md5").select(
        "doc_id", "n_chars"
    )


def q_rolling_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing-window features (operators/features.py::
    rolling_features): count/sum/mean of `value` over the last 5
    events per user — the session-velocity feature primitive. ONE
    window shuffle, frame state bounded at 5 rows; (ts_us, event_id)
    is a total order so frames are deterministic; DECIMAL-cast sums
    keep the values bit-equal cross-engine."""
    from h3_indexer_spark.operators.features import rolling_features

    ev = _load_events(spark, sf_dir).select(
        "event_id",
        "user_id",
        F.expr("ts div 1000").alias("ts_us"),
        "value",
    )
    return rolling_features(
        ev, "user_id", ["ts_us", "event_id"], "value", window=5
    ).select(
        "event_id", "user_id", "ts_us", "roll_n", "roll_sum", "roll_mean"
    )


def q_ntile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum binning (operators/features.py::ntile_bins): decile
    bins over the document quality score with doc_id tiebreak — the
    difficulty-ordered-sampling prelude. Quality is the bit-identical
    score both engines already agree on (q_quality_score), so bin
    edges match exactly."""
    from h3_indexer_spark.operators.features import ntile_bins
    from h3_indexer_spark.operators.textops import quality_score

    scored = quality_score(load(spark, sf_dir, "documents"))
    return ntile_bins(
        scored, "quality", n_bins=10, tiebreak_col="doc_id"
    ).select("doc_id", "quality", F.col("bin").cast("int").alias("bin"))


def q_rebalance_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture reweighting (operators/curation.py::rebalance_sources):
    keep floor(sqrt(n)) docs per source chosen by deterministic
    content-hash order — head domains suppressed toward count^0.5,
    tails intact. Fully oracle-checked: md5 order and the sqrt/floor
    budget are bit-identical cross-engine."""
    from h3_indexer_spark.operators.curation import rebalance_sources

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    return rebalance_sources(docs).select("doc_id", "source")


def q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (operators/curation.py::normalize_urls)
    over deterministic synthetic URLs (uppercase scheme/host, default
    and non-default ports, trailing slashes, tracking params, fragment
    — the same augmentation style as q_pii_scrub). Every rule has an
    exact DuckDB twin, so the full normalize chain is hash-checked."""
    from h3_indexer_spark.operators.curation import normalize_urls

    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    url = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("HTTPS")).otherwise(
            F.lit("http")
        ),
        F.lit("://WWW.Example.COM"),
        F.when(F.col("doc_id") % 2 == 0, F.lit(":443")).otherwise(
            F.lit(":8080")
        ),
        F.lit("/"),
        F.col("source"),
        F.lit("/doc/"),
        F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=news&z=9&a=1&fbclid=abc#sec2"),
    )
    return normalize_urls(docs.withColumn("url", url)).select(
        "doc_id", "url", "url_norm"
    )


def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponential moving average of event values
    (operators/features.py::ewma_features) — the time-decay feature no
    window frame can express (output depends on previous OUTPUT).
    One shuffle keyed on user, blockwise-vectorized recurrence kernel.
    rows-only: the float recurrence isn't practically SQL-expressible;
    numpy-recurrence equivalence is locked in tests/test_features.py."""
    from h3_indexer_spark.operators.features import ewma_features

    ev = _load_events(spark, sf_dir).select(
        "event_id",
        "user_id",
        F.expr("ts div 1000").alias("ts_us"),
        "value",
    )
    return ewma_features(
        ev, "user_id", ["ts_us", "event_id"], "value", alpha=0.3
    ).select("event_id", "user_id", "ts_us", "ewma")


def q_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch cut-point binning (operators/features.py::quantile_bins):
    decile bins over l_extendedprice without a global sort — one
    percentile_approx sketch pass + a narrow comparison map, the
    beyond-10^8-rows path for q_ntile_bins. rows-only: sketch
    thresholds are engine-specific; the equal-population error band
    is locked in tests/test_features.py."""
    from h3_indexer_spark.operators.features import quantile_bins

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    return quantile_bins(li, "l_extendedprice", n_bins=10)


def q_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group feature scaling (operators/features.py::minmax_scale):
    l_extendedprice min-max-normalized within each returnflag. The
    min/max aggregate is tiny and broadcast back — the fact table
    never shuffles (a window formulation would shuffle every row)."""
    from h3_indexer_spark.operators.features import minmax_scale

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice"
    )
    return minmax_scale(
        li, "l_extendedprice", group_col="l_returnflag",
        out_col="price_scaled",
    ).select("l_orderkey", "l_linenumber", "l_returnflag", "price_scaled")


def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (operators/curation.py::
    chunk_documents): 32-token windows every 24 tokens — the
    training-example windowing step. Narrow (sequence + explode +
    slice), zero shuffle."""
    from h3_indexer_spark.operators.curation import chunk_documents

    return chunk_documents(
        load(spark, sf_dir, "documents"), window=32, stride=24
    )


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (operators/curation.py::scrub_pii) over text
    augmented with deterministic synthetic contact strings (the corpus
    itself carries no PII): email -> phone -> long-digit-run
    redaction, counts on the original. Pure regexp expressions —
    scan-speed, zero shuffle."""
    from h3_indexer_spark.operators.curation import scrub_pii

    docs = load(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    augmented = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            sid,
            F.lit("@mail.example.com or call +1-555-"),
            F.lpad(sid, 4, "0"),
            F.lit(" ref "),
            F.lpad(sid, 8, "0"),
        ).alias("text"),
    )
    return scrub_pii(augmented).select(
        "doc_id", "clean_text", "n_emails", "n_phones", "n_longnums"
    )


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (operators/curation.py::
    repetition_stats): unique-word ratio, top-word fraction,
    duplicate-bigram fraction. Bigram stats are narrow; the top-word
    count partial-aggregates map-side so the shuffle carries one row
    per distinct (doc, word)."""
    from h3_indexer_spark.operators.curation import repetition_stats

    return repetition_stats(load(spark, sf_dir, "documents"))


def q_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (operators/curation.py::pack_sequences): lay
    documents out as one token stream in doc_id order and assign each
    to the 256-token pack it starts in. The global prefix sum runs as
    per-bucket totals (tiny global window) + within-bucket windows
    (parallel) — never a single-task corpus-wide window."""
    from h3_indexer_spark.operators.curation import pack_sequences

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    return pack_sequences(
        docs, token_col="n_tokens", id_col="doc_id", budget=256,
        bucket_width=100,
    )


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field aggregation (operators/semistructured.py): typed
    schema-on-read over events.props with an EXPLICIT from_json schema
    (no inference scan), grouped stats by event_type. One parse per
    row inside codegen, partial aggregation map-side."""
    from h3_indexer_spark.operators.semistructured import json_field_stats

    ev = _load_events(spark, sf_dir).select("event_type", "props")
    out = json_field_stats(
        ev, "props", "k", field_type="int", group_col="event_type"
    )
    return out.select(
        "event_type", "n", "n_present", "min_v", "max_v",
        F.col("sum_v").cast("bigint").alias("sum_v"),
    )


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-passage detection (operators/dedup.py::
    duplicated_spans): every 8-token window occurring >= 2 times in the
    corpus, with positions — the n-gram formulation of exact substring
    dedup (Lee et al. 2022). One shuffle (count window over the gram).
    This string-keyed variant is the oracle; hashed=True is the 100 TB
    sibling (hash replaces the string as the shuffle key), locked
    equivalent by test."""
    from h3_indexer_spark.operators.dedup import duplicated_spans

    out = duplicated_spans(
        load(spark, sf_dir, "documents"), width=8, min_count=2
    )
    return out.select(
        "doc_id", F.col("start").cast("bigint").alias("start"),
        "gram", "n_occ",
    )


def q_dedup_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full near-dup resolution (operators/dedup.py::dedup_resolve):
    exact-Jaccard pairs -> connected components -> min-id canonical
    per cluster -> deduped corpus. The complete pipeline between a
    pair generator and training-data output; oracle is a recursive CTE
    closure keeping docs equal to their component minimum."""
    from h3_indexer_spark.operators.dedup import (
        dedup_resolve,
        ngram_jaccard_exact_pairs,
    )

    docs = load(spark, sf_dir, "documents")
    pairs = ngram_jaccard_exact_pairs(docs, n=3, threshold=0.5, max_df=100)
    return dedup_resolve(docs, pairs).select("doc_id", "source", "n_chars")


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget cap (operators/curation.py::
    cap_source_tokens): take documents in doc_id order per source until
    800 tokens — the domain-balancing step of a crawl mix. One shuffle
    hash-partitioned by source."""
    from h3_indexer_spark.operators.curation import cap_source_tokens

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    return cap_source_tokens(
        docs, source_col="source", token_col="n_tokens",
        id_col="doc_id", budget=800,
    )


def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means (operators/clustering.py): Lloyd iterations
    with broadcast centroids — one GEMM-argmin mapInPandas pass + one
    k-rows-per-partition shuffle per iteration; deterministic lowest-id
    init. Returns per-cluster sizes and mean squared distance under
    the fitted centroids. No SQL oracle (iterative); convergence
    (monotone inertia) and assignment optimality are locked by test."""
    from h3_indexer_spark.operators.clustering import (
        assign_clusters,
        kmeans_fit,
    )

    emb = load(spark, sf_dir, "embeddings")
    centroids, _ = kmeans_fit(emb, k=8, max_iter=5)
    return (
        assign_clusters(emb, centroids)
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("sq_dist").alias("avg_sq_dist"),
        )
    )


def q_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal metadata extraction (operators/multimodal.py): the
    mapInPandas decode path over binary payloads. The fake codec yields
    constant dims, so the oracle checks the plumbing preserves ids/rows
    across the Arrow batch boundary."""
    from h3_indexer_spark.operators.multimodal import decode_metadata

    return decode_metadata(_media_table(spark, sf_dir), codec="fake")


def q_media_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio metadata extraction (operators/multimodal.py): the
    mapInPandas decode path for audio payloads. The fake codec derives
    the waveform from the payload bytes, so sample counts are
    byte-length-determined and oracle-checkable."""
    from h3_indexer_spark.operators.multimodal import decode_audio_metadata

    return decode_audio_metadata(_media_table(spark, sf_dir), codec="fake")


def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize over binary payloads (operators/multimodal.py):
    vectorized nearest-neighbor sampling after the (stubbed) decode.
    rows-only: no codec in DuckDB."""
    from h3_indexer_spark.operators.multimodal import resize_images

    return resize_images(_media_table(spark, sf_dir), codec="fake").select(
        "media_id", "width", "height", "channels",
        F.length("pixels").alias("n_pixel_bytes"),
    )


def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary payloads (operators/multimodal.py).
    rows-only: BLOB slicing semantics differ across engines."""
    from h3_indexer_spark.operators.multimodal import sample_frames

    return sample_frames(_media_table(spark, sf_dir), codec="fake").select(
        "media_id", "frame_no", F.length("frame_bytes").alias("frame_len")
    )


def q_join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resilient salted join (operators/relational.py::
    salted_join): lineitem ⋈ supplier on suppkey with the big side
    salted on its PK and the small side replicated per salt — the join
    runs on (suppkey, salt) so a hot supplier spreads over n_salts
    reducers. Result (and hence the oracle) is identical to the plain
    join; the plan difference is locked in tests/test_plans.py."""
    li = load(spark, sf_dir, "lineitem")
    sup = load(spark, sf_dir, "supplier")
    joined = R.salted_join(
        li.select("l_orderkey", "l_suppkey", "l_quantity"),
        sup.select(
            F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
        ),
        on="l_suppkey",
        n_salts=8,
        salt_src="l_orderkey",
    )
    return joined.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("l_quantity").cast("decimal(18,6)"))
        .cast("double")
        .alias("sum_qty"),
    )


# --------------------------------------------------------------------------
# §2.8 Classic decision-support joins (TPC-H-shaped, multi-way)
# --------------------------------------------------------------------------


def q_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped shipping-priority query: top-10 unshipped
    BUILDING-segment orders by revenue — a 3-way join with selective
    date predicates on both fact-side scans. First date-typed
    predicates in the contract: both l_shipdate > D and
    o_orderdate < D must reach their parquet scans as pushed filters
    (plan-locked in tests/test_plans.py). The top-10 is deterministic
    via the (revenue desc, orderkey asc) total order; revenue uses the
    same double-product → DECIMAL(18,6) sum idiom as q_groupby_sum so
    the hash matches bit-for-bit cross-engine."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    cutoff = F.lit("1998-06-01").cast("timestamp")
    cust = (
        load(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    li = (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_shipdate") > cutoff)
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(
                (
                    F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
                ).cast("decimal(18,6)")
            ).alias("_rev_dec")
        )
    )
    return (
        rev.select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_orderpriority",
            F.col("_rev_dec").cast("double").alias("revenue"),
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped local-supplier revenue: a 6-way snowflake join
    (region→nation→customer→orders→lineitem→supplier) with the
    supplier-nation = customer-nation locality constraint, revenue per
    nation over one order-date year. Dimension tables (region, nation)
    are explicitly broadcast — the fact-side chain shuffles only on
    its join keys (orderkey, custkey); at cluster scale supplier joins
    shuffle-hash on suppkey while the ≤ nation-cardinality aggregate
    collapses map-side."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1997-01-01").cast("timestamp")
    region = (
        load(spark, sf_dir, "region")
        .where(F.col("r_name") == "ASIA")
        .select("r_regionkey")
    )
    nation = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    nations = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = (
        load(spark, sf_dir, "orders")
        .where((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
        .select("o_orderkey", "o_custkey")
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (supp.s_nationkey == cust.c_nationkey),
        )
        .join(F.broadcast(nations), supp.s_nationkey == nations.n_nationkey)
    )
    return (
        joined.groupBy("n_name")
        .agg(
            F.sum(
                (
                    F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
                ).cast("decimal(18,6)")
            ).alias("_rev_dec")
        )
        .select("n_name", F.col("_rev_dec").cast("double").alias("revenue"))
    )


# --------------------------------------------------------------------------
# §2.8 Behavioral analytics (events table) — operators/analytics.py
# --------------------------------------------------------------------------


_FUNNEL_STAGES = ["view", "click", "purchase"]


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view→click→purchase (operators/
    analytics.py::funnel): per-user first completion time of each
    stage, each stage strictly after the previous one. All timestamps
    are epoch-nano longs, so the sequential min-chain is pure integer
    arithmetic in both engines."""
    from h3_indexer_spark.operators.analytics import funnel

    return funnel(_load_events(spark, sf_dir), _FUNNEL_STAGES).select(
        "user_id", "t_0", "t_1", "t_2", "stages_reached"
    )


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle (operators/analytics.py::
    cohort_retention): users cohorted by epoch-week of first event,
    distinct-active counts per (cohort, week-offset) cell. Integer
    epoch-nano bucketing — no calendar dependence."""
    from h3_indexer_spark.operators.analytics import cohort_retention

    return cohort_retention(_load_events(spark, sf_dir))


def q_frequent_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group heavy hitters (operators/analytics.py::
    frequent_items): top-3 most active users per event type,
    deterministically tie-broken (count desc, user asc)."""
    from h3_indexer_spark.operators.analytics import frequent_items

    return frequent_items(
        _load_events(spark, sf_dir), "event_type", "user_id", k=3
    )


def q_frequent_items_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certified candidate-generation heavy hitters (operators/
    analytics.py::frequent_items_scalable). The contract pins a
    candidate budget ≥ the fixture's item vocabulary, where the
    algorithm is provably exact (every item is a candidate, all
    residual bounds are 0, every row certified) — so the oracle is
    the exact top-k SQL plus the constant bound columns. Production
    calls size the budget to memory and read ``certified``."""
    from h3_indexer_spark.operators.analytics import (
        frequent_items_scalable,
    )

    return frequent_items_scalable(
        _load_events(spark, sf_dir),
        "event_type",
        "user_id",
        k=3,
        candidates_per_partition=100_000,
    )


def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square contingency cells for event_type × weekday
    (operators/analytics.py::chi_square_independence): per-cell
    observed/expected/contribution from exact integer counts — the
    statistic is the sum of the contribution column."""
    from h3_indexer_spark.operators.analytics import (
        chi_square_independence,
    )

    ev = _load_events(spark, sf_dir).select(
        "event_type",
        (F.expr(f"ts div {86_400 * 10**9}") % 7).alias("weekday"),
    )
    return chi_square_independence(ev, "event_type", "weekday")


def q_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average value (operators/analytics.py::
    time_weighted_average): hold-until-next weighting with
    second-resolution durations, exact-DECIMAL numerator."""
    from h3_indexer_spark.operators.analytics import time_weighted_average

    return time_weighted_average(_load_events(spark, sf_dir))


def q_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-mean imputation (operators/features.py::impute): event
    values below 2.0 are masked to null, then refilled with each
    event type's exact-decimal mean of the SURVIVING values —
    broadcast fills, fact side never shuffles."""
    from h3_indexer_spark.operators.features import impute

    masked = _load_events(spark, sf_dir).select(
        "event_id",
        "event_type",
        F.when(F.col("value") >= 2.0, F.col("value")).alias("value_masked"),
    )
    return impute(
        masked, "value_masked", strategy="mean", group_col="event_type",
        out_col="value_imputed",
    ).select("event_id", "event_type", "value_masked", "value_imputed")


def q_one_hot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-vocabulary one-hot encoding (operators/features.py::
    one_hot): explicit category list so train/serve schemas never
    drift; out-of-vocabulary types encode all-zeros. Pure narrow
    map."""
    from h3_indexer_spark.operators.features import one_hot

    return one_hot(
        _load_events(spark, sf_dir).select("event_id", "event_type"),
        "event_type",
        ["view", "click", "purchase"],
        prefix="is",
    )


def q_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 3-step user journeys (operators/analytics.py::
    top_event_paths): consecutive event-type runs counted corpus-wide,
    deterministically ranked."""
    from h3_indexer_spark.operators.analytics import top_event_paths

    return top_event_paths(_load_events(spark, sf_dir))


def q_dwell_times(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type dwell times: how long users linger after each
    action before their next event — the lead-gap attributed to the
    CURRENT event's type, summarized with exact interpolated
    percentiles (the q_quantiles parity result). One window shuffle on
    the user id, then a tiny per-type aggregate."""
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    ev = _load_events(spark, sf_dir).select(
        "event_type",
        (F.lead("ts").over(w) - F.col("ts")).alias("_dwell"),
    ).where(F.col("_dwell").isNotNull())
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_dwells"),
        F.expr("percentile(_dwell, 0.5)").alias("p50_ns"),
        F.expr("percentile(_dwell, 0.9)").alias("p90_ns"),
        F.max("_dwell").alias("max_ns"),
    )


def q_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition matrix (operators/
    analytics.py::event_transitions): counts and exact-ratio
    P(next | current) from one lead window over each user's ordered
    stream."""
    from h3_indexer_spark.operators.analytics import event_transitions

    return event_transitions(_load_events(spark, sf_dir))


def q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting (operators/analytics.py::
    growth_accounting): per period, new / retained / resurrected
    actives plus churn from the previous period — one entity-period
    collapse, one first-touch join, one shifted self-join."""
    from h3_indexer_spark.operators.analytics import growth_accounting

    return growth_accounting(_load_events(spark, sf_dir))


def q_retention_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregated retention/survival curve: for each week offset, the
    fraction of ELIGIBLE users still active — composing
    cohort_retention with per-cohort sizes, weighting every cohort by
    its size and counting only cohorts old enough to have reached the
    offset (right-censoring: a week-0 cohort can't contribute to
    offset 3 if the data ends before then). Exact integer ratios."""
    from h3_indexer_spark.operators.analytics import cohort_retention

    ret = cohort_retention(_load_events(spark, sf_dir))
    sizes = (
        ret.where(F.col("period_offset") == 0)
        .select(
            "cohort_period", F.col("n_active").alias("_cohort_size")
        )
    )
    max_p = ret.agg(
        F.max(F.col("cohort_period") + F.col("period_offset")).alias(
            "_max_p"
        )
    )
    # explicit eligibility GRID: the sparse retention table has no row
    # for a cohort with zero actives at an offset, so joining it alone
    # would silently drop that cohort's size from the denominator
    grid = (
        sizes.crossJoin(F.broadcast(max_p))
        .select(
            "cohort_period",
            "_cohort_size",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.col("_max_p") - F.col("cohort_period"),
                )
            ).alias("period_offset"),
        )
    )
    joined = grid.join(ret, ["cohort_period", "period_offset"], "left")
    return (
        joined.groupBy("period_offset")
        .agg(
            F.sum(F.coalesce("n_active", F.lit(0))).alias("n_active"),
            F.sum("_cohort_size").alias("n_eligible"),
        )
        .select(
            "period_offset",
            "n_active",
            "n_eligible",
            (
                F.col("n_active").cast("double")
                / F.col("n_eligible").cast("double")
            ).alias("retention_rate"),
        )
    )


def q_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct actives (operators/analytics.py::
    rolling_active_users) — the DAU/WAU primitive. Entity-days
    materialize once, contribute to their 7 visible window positions,
    and re-distinct per day."""
    from h3_indexer_spark.operators.analytics import rolling_active_users

    return rolling_active_users(_load_events(spark, sf_dir))


def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense daily per-user grid with zero-filled counts and
    forward-filled value sums (operators/analytics.py::
    gap_fill_daily) — the resample/regularization primitive for
    irregular event streams."""
    from h3_indexer_spark.operators.analytics import gap_fill_daily

    return gap_fill_daily(_load_events(spark, sf_dir))


def q_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score standardization (operators/features.py::
    standardize) of l_extendedprice within l_returnflag. Moments come
    from exact DECIMAL sums; the per-row (x−mean)/sqrt(var) is the
    identical IEEE op sequence in both engines, so values are
    bit-equal with no rounding guard (double ROUND itself diverges at
    half-way boundaries — measured on q_robust_scale — so it is
    deliberately avoided)."""
    from h3_indexer_spark.operators.features import standardize

    out = standardize(
        load(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice"
        ),
        "l_extendedprice",
        group_col="l_returnflag",
        out_col="price_z",
    )
    return out.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "price_z",
    )


def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution (operators/analytics.py::
    attribute_conversions): each purchase attributed to the user's
    most recent preceding click/view — one window pass, no join."""
    from h3_indexer_spark.operators.analytics import attribute_conversions

    return attribute_conversions(
        _load_events(spark, sf_dir), "purchase", ["click", "view"]
    )


def q_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival cadence (operators/analytics.py::
    inter_event_stats): count + min/max/mean gap between consecutive
    events — one fused window+groupBy exchange."""
    from h3_indexer_spark.operators.analytics import inter_event_stats

    return inter_event_stats(_load_events(spark, sf_dir))


def q_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier flagging by composition: standardize event values within
    each event type (operators/features.py::standardize — broadcast
    moments, bit-deterministic) and keep |z| ≥ 2 rows. Demonstrates
    feature ops composing into detection queries with the oracle
    checking the full pipeline."""
    from h3_indexer_spark.operators.features import standardize

    out = standardize(
        _load_events(spark, sf_dir).select(
            "event_id", "event_type", "value"
        ),
        "value",
        group_col="event_type",
        out_col="z",
    )
    return out.where(F.abs(F.col("z")) >= 2.0).select(
        "event_id", "event_type", "value", "z"
    )


def q_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-grain OLAP time rollup (operators/analytics.py::
    time_rollup): hour/day/week event counts and exact sums in ONE
    scan via GROUPING SETS (scan + Expand(3) + one hash aggregate)."""
    from h3_indexer_spark.operators.analytics import time_rollup

    return time_rollup(_load_events(spark, sf_dir))


def q_co_occurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type co-occurrence with lift (operators/analytics.py::
    co_occurrence): unordered type pairs by distinct-user support,
    lift as an exact integer ratio in double."""
    from h3_indexer_spark.operators.analytics import co_occurrence

    return co_occurrence(_load_events(spark, sf_dir))


def q_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/IQR robust scaling (operators/features.py::robust_scale)
    of l_extendedprice within l_returnflag — exact interpolated
    quartiles broadcast back. The quartiles are bit-equal cross-engine
    (the q_quantiles parity result) and the per-row scale expression
    is the identical IEEE op sequence, so values match with NO
    rounding guard — double rounding itself diverges between engines
    at half-way boundaries and is deliberately avoided."""
    from h3_indexer_spark.operators.features import robust_scale

    out = robust_scale(
        load(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice"
        ),
        "l_extendedprice",
        group_col="l_returnflag",
        out_col="price_robust",
    )
    return out.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "price_robust",
    )


def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (operators/relational.py::profile_table): per-
    column row/null/exact-distinct counts, numeric min/max/mean and
    string min/max for lineitem — ONE scan: melt to (column, value)
    pairs, hash-aggregate to the distinct pair set (counts + numeric
    shadows ride along), then fold pairs to one row per column. No
    Expand, no join, no second scan. Mean is exact-decimal sum /
    count in double, so it is row-order-independent and
    oracle-checkable."""
    cols = [
        "l_orderkey",
        "l_suppkey",
        "l_quantity",
        "l_extendedprice",
        "l_returnflag",
        "l_linestatus",
    ]
    return R.profile_table(load(spark, sf_dir, "lineitem"), cols)


def q_data_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (operators/curation.py::
    assign_splits): 90/5/5 by md5-hash bands over doc_id — seedless,
    engine-independent membership every pipeline stage can recompute."""
    from h3_indexer_spark.operators.curation import assign_splits

    return assign_splits(
        load(spark, sf_dir, "documents"),
        fractions={"train": 0.9, "val": 0.05, "test": 0.05},
    ).select("doc_id", "split")


def q_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-segment census (operators/curation.py::
    boilerplate_lines): segments occurring in >= 2 distinct documents.
    The synthetic corpus is flat space-separated words (no newlines or
    sentence punctuation), so the contract segments on spaces with
    min_chars=4 — the shared vocabulary is the repeated-segment
    structure, giving a NON-EMPTY census (24 rows at sf0.01) that
    actually exercises the explode/distinct/count machinery (the
    round-5 '. ' split returned 0 rows and verified nothing)."""
    from h3_indexer_spark.operators.curation import boilerplate_lines

    return boilerplate_lines(
        load(spark, sf_dir, "documents"),
        min_docs=2,
        min_chars=4,
        delimiter=" ",
    )


def q_boilerplate_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate removal (operators/curation.py::remove_boilerplate):
    every document with the q_boilerplate vocabulary stripped, order of
    surviving segments preserved. Emits an md5 digest of the cleaned
    text (string equality, compactly) plus the removed-segment count."""
    from h3_indexer_spark.operators.curation import remove_boilerplate

    out = remove_boilerplate(
        load(spark, sf_dir, "documents"),
        min_docs=2,
        min_chars=4,
        delimiter=" ",
    )
    return out.select(
        "doc_id",
        "n_lines_removed",
        F.md5(F.col("clean_text").cast("binary")).alias("clean_md5"),
    )


def q_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group simple OLS (operators/relational.py::
    grouped_regression): price-vs-quantity slope/intercept/r2 per
    return flag from exact DECIMAL sums (grouped_corr determinism
    rule, 12-decimal absorb for the FMA-contraction ulp)."""
    return R.grouped_regression(
        load(spark, sf_dir, "lineitem"),
        ["l_returnflag"],
        "l_quantity",
        "l_extendedprice",
    )


def q_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group modal value (operators/relational.py::grouped_mode)
    of l_quantity per return flag, deterministically tie-broken."""
    return R.grouped_mode(
        load(spark, sf_dir, "lineitem"), ["l_returnflag"], "l_quantity"
    )


def q_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation (operators/relational.py::
    grouped_mad) of l_extendedprice per return flag — two exact
    interpolated-percentile passes (bit-equal cross-engine, the
    q_quantiles parity result)."""
    return R.grouped_mad(
        load(spark, sf_dir, "lineitem"), ["l_returnflag"], "l_extendedprice"
    )


def q_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lag-1 value autocorrelation (operators/analytics.py::
    lag1_autocorr): one lead window + the exact-DECIMAL Pearson
    machinery of grouped_corr."""
    from h3_indexer_spark.operators.analytics import lag1_autocorr

    return lag1_autocorr(_load_events(spark, sf_dir))


def q_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type Shannon entropy (operators/analytics.py::
    event_type_entropy). Two determinism layers: the one float SUM
    folds over the SORTED term list in both engines (pins the
    addition order — a plain SUM accumulates in engine/partition
    order and its error compounds with term count), then ROUND(9)
    absorbs the remaining fixed ~1-ulp transcendental gap — measured:
    JVM ln(74.0) = 4.304065093204169 vs libm 4.30406509320417 — which
    no expression-shape mirroring can remove. 9 decimals keeps the
    quantum (1e-9) six orders above the ulp gap (~1e-15), so the
    boundary-flip probability is negligible where ROUND(12) would sit
    a mere 1e3 above it."""
    from h3_indexer_spark.operators.analytics import event_type_entropy

    out = event_type_entropy(_load_events(spark, sf_dir))
    return out.select(
        "user_id",
        "n_events",
        "n_types",
        F.round("entropy_nats", 9).alias("entropy_nats"),
    )


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot change-data-capture (operators/relational.py::
    snapshot_diff): two deterministic synthetic snapshots of orders
    (old = keys not divisible by 7; new = keys not divisible by 5,
    with every third key's total price bumped) diffed into
    added/removed/changed rows via ONE full-outer hash join."""
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    old = orders.where(F.col("o_orderkey") % 7 != 0)
    new = orders.where(F.col("o_orderkey") % 5 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 3 == 0, F.col("o_totalprice") + F.lit(1.0)
        ).otherwise(F.col("o_totalprice")),
    )
    return R.snapshot_diff(
        old, new, ["o_orderkey"], ["o_totalprice", "o_orderstatus"]
    )


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic importance sampling (operators/curation.py::
    weighted_sample): keep each document with probability
    min(1, n_chars/2000) via the seedless md5-band coin — quality-
    proportional downsampling any engine reproduces."""
    from h3_indexer_spark.operators.curation import weighted_sample

    docs = load(spark, sf_dir, "documents")
    return weighted_sample(
        docs,
        F.col("n_chars").cast("double") / F.lit(2000.0),
    ).select("doc_id", "n_chars")


def q_analytics_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The config-driven analytics pipeline end-to-end (plans/
    analytics_pipeline.py): a declarative prepare-filter + funnel
    report, returned through run_analytics — proving the config path
    produces the exact operator composition (the oracle is the funnel
    SQL with the prepare predicate folded in)."""
    from h3_indexer_spark.plans.analytics_pipeline import run_analytics

    out = run_analytics(
        spark,
        _load_events(spark, sf_dir),
        {
            "prepare": [
                {"stage": "filter", "predicate": "value IS NOT NULL"},
            ],
            "reports": [
                {
                    "report": "funnel",
                    "name": "f",
                    "stages": list(_FUNNEL_STAGES),
                },
            ],
        },
    )
    return out["f"].select("user_id", "t_0", "t_1", "t_2", "stages_reached")



def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level MERGE (operators/relational.py::merge_by_key): the
    customer table merged with a deterministic change-set — keys
    ending in 3 updated (name suffixed, balance doubled), fresh keys
    (+1,000,000) inserted, keys ending in 7 deleted via the
    delete-vector flag. ONE full-outer hash join; source values win
    on match via presence markers (NULL-safe), target rows pass
    through otherwise."""
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    upd = cust.where(F.col("c_custkey") % 10 == 3).select(
        "c_custkey",
        F.concat(F.col("c_name"), F.lit("_u")).alias("c_name"),
        "c_nationkey",
        (F.col("c_acctbal") * F.lit(2.0)).alias("c_acctbal"),
        F.lit(False).alias("deleted"),
    )
    ins = cust.where(F.col("c_custkey") % 10 == 4).select(
        (F.col("c_custkey") + F.lit(1_000_000)).alias("c_custkey"),
        F.concat(F.col("c_name"), F.lit("_new")).alias("c_name"),
        "c_nationkey",
        F.lit(111.25).alias("c_acctbal"),
        F.lit(False).alias("deleted"),
    )
    dels = cust.where(F.col("c_custkey") % 10 == 7).select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_acctbal",
        F.lit(True).alias("deleted"),
    )
    src = upd.unionByName(ins).unionByName(dels)
    return R.merge_by_key(
        cust, src, ["c_custkey"], delete_col="deleted"
    )



def q_knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN top-k (operators/pq.py): 16 coarse cells, probe 4,
    candidates ranked by product-quantized asymmetric distance (m=16
    sub-spaces x 64 codewords -> 16 bytes/vector instead of 256) — the
    memory-bounded refinement of q_knn_ivf's coarse index. Rows-only:
    the codebook k-means is iterative float (no SQL mirror); accuracy
    is locked by the recall-vs-q_knn_brute bound and the ADC
    numpy-equivalence test in tests/test_round6_ops.py."""
    from h3_indexer_spark.operators.pq import ivfpq_topk, pq_train
    from h3_indexer_spark.operators.similarity import sampled_centroids

    # Partitioning left at the table's scan split DELIBERATELY: a
    # coalesce(8) on the 2,000-vector table won a cold-ish A/B (1.78
    # → 1.55 med) but regressed the key in full-bench context, where
    # the warmed Python worker pool makes 32 small encode/ADC tasks
    # cheap and 8 fatter GEMM tasks serialize (three bench runs:
    # 1.34/1.77/1.53 vs the 1.07 same-day control) — measured, then
    # reverted.
    emb = load(spark, sf_dir, "embeddings")
    cents = sampled_centroids(emb, n_cells=16)
    books = pq_train(emb, m=16, nbits=6, sample=500)
    return ivfpq_topk(
        emb, _query_vector(), cents, books, n_probe=4, k=10
    )


def q_knn_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC+R (operators/pq.py::ivfpq_topk_rerank): ADC selects the
    100 best candidates by product-quantized distance, their raw
    vectors are exactly re-scored (squared-L2, pure codegen), and the
    final top-10 comes from the exact scores. The contract runs in
    exactness mode — n_probe equals n_cells so IVF pruning drops
    nothing and the ONLY approximation is the ADC cut, whose
    recall@100 of the true top-10 is asserted at both SFs in
    tests/test_round7_ops.py — which makes the brute-force exact-L2
    top-k a valid SQL oracle for the whole composed index (production
    sets n_probe < n_cells and the same refine machinery applies).
    Left-associative exact-L2 mirrors the oracle op-for-op, so
    distances are bit-equal with no rounding."""
    from h3_indexer_spark.operators.pq import ivfpq_topk_rerank, pq_train
    from h3_indexer_spark.operators.similarity import sampled_centroids

    emb = load(spark, sf_dir, "embeddings")
    cents = sampled_centroids(emb, n_cells=16)
    books = pq_train(emb, m=16, nbits=6, sample=500)
    return ivfpq_topk_rerank(
        emb, _query_vector(), cents, books,
        n_probe=16, k=10, n_refine=100,
    )



def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample z (operators/analytics.py::ab_test_zscore):
    users split into deterministic arms by user_id parity, comparing
    event value means. Exact DECIMAL(19,4) Σv/Σv² per arm; the
    compound z expression mirrors the oracle op-for-op (ROUND 12
    absorbs the contraction ulp, q_regression precedent)."""
    from h3_indexer_spark.operators.analytics import ab_test_zscore

    ev = _load_events(spark, sf_dir).withColumn(
        "arm",
        F.when(F.col("user_id") % 2 == 0, F.lit("control")).otherwise(
            F.lit("treatment")
        ),
    )
    return ab_test_zscore(ev, "arm", "value", "control", "treatment")


def q_label_future(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-looking conversion labels (operators/features.py::
    label_future_event): for every active (user, day), whether a
    purchase occurs within the next 7 days — ONE RANGE-frame window
    over the integer day, no self-join."""
    from h3_indexer_spark.operators.features import label_future_event

    ev = _load_events(spark, sf_dir).withColumn(
        "day", F.expr(f"ts div {86_400 * 10**9}")
    )
    return label_future_event(
        ev, F.col("event_type") == "purchase", "user_id", "day", 7
    )


def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-based quantile normalization (operators/features.py::
    quantile_normalize): document lengths uniformized to (0,1) by
    global rank, doc_id tiebreak — (row_number − 0.5)/n is exact
    integer-derived double arithmetic, bit-equal in any engine."""
    from h3_indexer_spark.operators.features import quantile_normalize

    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return quantile_normalize(docs, "n_chars", tiebreak_col="doc_id")


def q_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week trend (operators/analytics.py::
    period_over_period): 7-day integer epoch-ns buckets, exact
    DECIMAL totals, lag + relative change over the tiny period
    table."""
    from h3_indexer_spark.operators.analytics import period_over_period

    return period_over_period(_load_events(spark, sf_dir))



def q_h3_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius self-join (operators/geo_join.py::
    h3_self_radius_join): deterministic pseudo-random points derived
    from customer keys, all unordered pairs within 5 km. Spark runs
    the H3-bucketed plan (ring-1 expansion at res 5, one shuffle per
    side); the oracle is the O(n²) brute-force SQL — valid because
    5 km <= 0.7 x the res-5 average edge makes ring-1 recall certain,
    and the haversine expression mirrors the oracle op-for-op (PI/180
    as ONE literal multiply: Java's toRadians divides by 180 first,
    libm multiplies — a 1-ulp trap). JVM Math.sin/asin and libm still
    diverge by 1 ulp on some inputs (measured), so the contract emits
    FLOOR(dist*1000) meters instead of the raw double; the filter and
    floor boundary margins are asserted far above ulp scale in
    tests/test_round6_ops.py."""
    from h3_indexer_spark.operators.geo_join import h3_self_radius_join

    pts = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        (
            F.lit(40.0)
            + ((F.col("c_custkey") * F.lit(2654435761)) % F.lit(100000))
            .cast("double")
            / F.lit(50000.0)
        ).alias("lat"),
        (
            F.lit(-100.0)
            + ((F.col("c_custkey") * F.lit(40503)) % F.lit(100000))
            .cast("double")
            / F.lit(50000.0)
        ).alias("lng"),
    )
    out = h3_self_radius_join(pts, 5.0)
    return out.select(
        "l_id",
        "r_id",
        F.floor(F.col("dist_km") * F.lit(1000.0)).alias("dist_m"),
    )



def q_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN density clustering (operators/clustering.py::dbscan)
    over the q_h3_radius_join point fixture (eps=5 km, min_pts=4) —
    a pure composition of the H3 radius join, a neighbor-count
    aggregation, and pointer-jumping connected components; labels
    are min-member-id so the result is seedless-deterministic.
    Rows-only: components are iterative (no SQL mirror — q_kcore
    precedent); exact parity with a brute-force Python DBSCAN is
    locked in tests/test_round7_ops.py.

    The fixture slice is CAPPED at 2,000 points: the hashed
    coordinates spread over a fixed 2°×2° box, so an uncapped slice
    PERCOLATES at sf0.1 density (one giant cluster whose diameter
    drives ~log n pointer-jump rounds — a property of the fixture's
    geometry, not the operator; the radius join and components carry
    their own SCALE.md curves). The cap keeps cluster structure
    density-stable across SFs."""
    from h3_indexer_spark.operators.clustering import dbscan

    pts = load(spark, sf_dir, "customer").where(
        F.col("c_custkey") <= 2000
    ).select(
        F.col("c_custkey").alias("id"),
        (
            F.lit(40.0)
            + ((F.col("c_custkey") * F.lit(2654435761)) % F.lit(100000))
            .cast("double")
            / F.lit(50000.0)
        ).alias("lat"),
        (
            F.lit(-100.0)
            + ((F.col("c_custkey") * F.lit(40503)) % F.lit(100000))
            .cast("double")
            / F.lit(50000.0)
        ).alias("lng"),
    )
    # The capped slice is ≤ 2,001 rows but inherits the fact table's
    # full scan split (32 row-groups after layout normalization), so
    # every H3-kernel stage inside the radius join fanned out as 32
    # near-empty Python tasks — per-task worker dispatch, not compute
    # (profiled: four 32-task kernel jobs ≈ 2 s of the 5 s steady
    # wall, ~60 rows each). coalesce() narrows the BOUNDED fixture at
    # the scan (no shuffle), and the CC loop width follows the same
    # cap (the structurally-bounded case dbscan's contract names).
    # dbscan's label result is partitioning-independent (min-label,
    # seedless), so rows are unchanged.
    return dbscan(pts.coalesce(4), 5.0, 4, cc_shuffle_partitions=8)


def _supplier_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic depot points from supplier keys — same hashed-
    lattice recipe as the customer points, different multipliers."""
    return load(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("id"),
        (
            F.lit(40.0)
            + ((F.col("s_suppkey") * F.lit(48271)) % F.lit(100000))
            .cast("double")
            / F.lit(50000.0)
        ).alias("lat"),
        (
            F.lit(-100.0)
            + ((F.col("s_suppkey") * F.lit(69621)) % F.lit(100000))
            .cast("double")
            / F.lit(50000.0)
        ).alias("lng"),
    )


def q_spatial_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded spatial kNN join (operators/geo_join.py::h3_knn_join):
    each customer's 3 nearest supplier depots within 30 km — radius-
    join candidates (certain recall) ranked per customer with a
    WindowGroupLimit-pushed row_number. Emits FLOOR(dist*1000)
    meters (the radius-join trig rule); the rank boundary (3rd vs
    4th nearest) margin is asserted far above ulp scale in
    tests/test_round7_ops.py, and exact distance TIES break on the
    supplier id identically in both engines."""
    from h3_indexer_spark.operators.geo_join import h3_knn_join

    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        (
            F.lit(40.0)
            + ((F.col("c_custkey") * F.lit(2654435761)) % F.lit(100000))
            .cast("double")
            / F.lit(50000.0)
        ).alias("lat"),
        (
            F.lit(-100.0)
            + ((F.col("c_custkey") * F.lit(40503)) % F.lit(100000))
            .cast("double")
            / F.lit(50000.0)
        ).alias("lng"),
    )
    out = h3_knn_join(cust, _supplier_points(spark, sf_dir), 3, 30.0)
    return out.select(
        "l_id",
        "r_id",
        F.floor(F.col("dist_km") * F.lit(1000.0)).alias("dist_m"),
    )


def q_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonality heatmap (operators/analytics.py::
    seasonal_profile): per (day-of-week, hour-of-day) cell the event
    count, exact-DECIMAL value total, and exact-integer-ratio share
    of traffic — pure epoch-ns integer bucketing (no calendar
    library), one 168-key aggregation plus a 1-row fold."""
    from h3_indexer_spark.operators.analytics import seasonal_profile

    return seasonal_profile(_load_events(spark, sf_dir))


def q_hll_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group HyperLogLog registers (operators/sketches.py::
    hll_registers_grouped): distinct-user sketch per event type —
    the pre-aggregated distinct-count cube feed (register sets roll
    up to any coarser grouping by groupBy-max, the mergeability the
    sketch tests lock). Integer (group, bucket, rho) surface, fully
    hash-checked like the global sketch."""
    from h3_indexer_spark.operators.sketches import hll_registers_grouped

    return hll_registers_grouped(
        _load_events(spark, sf_dir), "event_type", "user_id", p=8
    )


def q_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activation-latency readout (operators/analytics.py::
    time_to_convert): per-user lag from first event to first
    purchase, summarized as exact interpolated percentiles over
    whole-second integer lags (percentile() == quantile_cont
    bit-for-bit) with the conversion rate alongside — one
    entity-keyed aggregation plus a 1-row fold, no window, no
    join."""
    from h3_indexer_spark.operators.analytics import time_to_convert

    return time_to_convert(
        _load_events(spark, sf_dir),
        F.col("event_type") == "purchase",
    )


def q_vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary encoding (operators/textops.py::vocab_encode): the
    corpus's top-500 tokens by frequency get ids 1..500 (count desc,
    token asc — deterministic), every document re-emits as (doc_id,
    pos, token_id) with OOV = 0 — the integer-sequence step a
    tokenizer pipeline feeds to packing. One vocab aggregation + a
    narrow position explode + broadcast join; all-integer output."""
    from h3_indexer_spark.operators.textops import vocab_encode

    return vocab_encode(
        load(spark, sf_dir, "documents"), vocab_size=500
    )


def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (operators/relational.py::
    grouped_sum_state/update_grouped_sum): per-status order totals of
    the NEW snapshot computed WITHOUT scanning it — the old snapshot's
    exact-DECIMAL state updated by the CDC diff alone (cost ∝
    |changes|). The oracle IS the full recompute over the new
    snapshot, so a green row proves algebraic maintenance ==
    recompute to the bit. Fixture mutates values (price bump, %3) AND
    migrates groups (status flip to 'X', %11)."""
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    old = orders.where(F.col("o_orderkey") % 7 != 0)
    new = (
        orders.where(F.col("o_orderkey") % 5 != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 3 == 0,
                F.col("o_totalprice") + F.lit(1.0),
            ).otherwise(F.col("o_totalprice")),
        )
        .withColumn(
            "o_orderstatus",
            F.when(
                F.col("o_orderkey") % 11 == 0, F.lit("X")
            ).otherwise(F.col("o_orderstatus")),
        )
    )
    diff = R.snapshot_diff(
        old, new, ["o_orderkey"], ["o_orderstatus", "o_totalprice"]
    )
    state = R.grouped_sum_state(old, "o_orderstatus", "o_totalprice")
    updated = R.update_grouped_sum(
        state, diff, "o_orderstatus", "o_totalprice"
    )
    return R.finalize_grouped_sum(updated)


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index drift monitor (operators/
    analytics.py::psi_drift): document-length distribution of two
    deterministic snapshots (new shifted +37 chars) over fixed bucket
    edges — per-bucket shares and (p−q)·ln(p/q) terms, ln ROUND(9)
    per the q_entropy rule."""
    from h3_indexer_spark.operators.analytics import psi_drift

    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    old = docs.where(F.col("doc_id") % 7 != 0)
    new = docs.where(F.col("doc_id") % 5 != 0).withColumn(
        "n_chars", F.col("n_chars") + F.lit(37)
    )
    return psi_drift(old, new, "n_chars", [150.0, 300.0, 450.0])



def q_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B (operators/analytics.py::
    cuped_ab_test): lineitem price as the metric, quantity as the
    pre-experiment covariate (strongly correlated), arms by order-key
    parity. All adjusted moments expand over per-arm exact-DECIMAL
    sums — one aggregation, no per-row adjusted column."""
    from h3_indexer_spark.operators.analytics import cuped_ab_test

    li = load(spark, sf_dir, "lineitem").withColumn(
        "arm",
        F.when(F.col("l_orderkey") % 2 == 0, F.lit("control")).otherwise(
            F.lit("treatment")
        ),
    )
    return cuped_ab_test(
        li, "arm", "l_extendedprice", "l_quantity", "control", "treatment"
    )


def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization at exact per-group quantiles (operators/
    features.py::winsorize): prices clipped to the [5%, 95%] exact
    interpolated quantiles per return flag (Spark percentile() ==
    DuckDB quantile_cont bit-for-bit — recorded rule); tiny quantile
    table broadcast back, fact side never shuffles."""
    from h3_indexer_spark.operators.features import winsorize

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice"
    )
    return winsorize(
        li,
        "l_extendedprice",
        lower=0.05,
        upper=0.95,
        group_col="l_returnflag",
        out_col="price_w",
    ).select("l_orderkey", "l_linenumber", "l_returnflag", "price_w")


def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group lower weighted median (operators/relational.py::
    weighted_median): quantity-weighted price median per return flag.
    The halfway test is 2·cum >= total in exact DECIMAL — no float
    threshold for engines to disagree on."""
    return R.weighted_median(
        load(spark, sf_dir, "lineitem"),
        "l_extendedprice",
        "l_quantity",
        ["l_returnflag"],
    )



def q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out smoothed target encoding (operators/features.py::
    target_encode): document language encoded by mean document length,
    m=20 shrinkage toward the global prior, the row's own target
    excluded — the leakage-safe high-cardinality-categorical
    transform. Exact-DECIMAL category sums; the double arithmetic
    mirrors the oracle op-for-op."""
    from h3_indexer_spark.operators.features import target_encode

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    return target_encode(
        docs, "lang", "n_chars", smoothing=20.0, leave_one_out=True
    ).select("doc_id", "lang", "lang_enc")


def q_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-group sampling (operators/curation.py::
    sample_per_group): 10 documents per source by smallest md5-band
    hash — seedless, growth-stable reservoir any engine recomputes.
    One window shuffle; WindowGroupLimit caps per-group work."""
    from h3_indexer_spark.operators.curation import sample_per_group

    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    return sample_per_group(docs, "source", 10, "doc_id")


def q_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user CUSUM change-point (operators/analytics.py::
    changepoint_cusum): the peak cumulative deviation position in each
    user's value series. T = n·prefix − i·total in exact DECIMAL(38,0)
    ten-thousandths, so the argmax comparison has no float boundary
    and no int64 wraparound at any realistic per-entity history."""
    from h3_indexer_spark.operators.analytics import changepoint_cusum

    return changepoint_cusum(
        _load_events(spark, sf_dir),
        "user_id",
        ["ts", "event_id"],
        "value",
    )



def q_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed point-in-polygon join (operators/geo_join.py::
    point_in_polygon_join): customer-derived points vs a 5x5 grid of
    rectangle polygons built from the nation table. Spark runs the
    H3-cover-bucketed plan (polyfill explode + cell equi-join + exact
    even-odd ray-cast); the oracle is the brute-force BETWEEN test —
    valid because cover recall is certain at any resolution and the
    fixture's rectangle edges sit OFF the point-coordinate lattice
    (offsets 1.3e-5 / width 0.45007 vs point quanta of 2.5e-5), so
    strict-vs-inclusive edge semantics can never differ; the margin
    is asserted in tests/test_round6_ops.py. Polygon WKT strings are
    built with CAST(double AS STRING) — Java's shortest-round-trip
    repr — so the parsed ring bits equal the oracle's arithmetic."""
    from h3_indexer_spark.operators.geo_join import point_in_polygon_join

    pts = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        (
            F.lit(40.0)
            + ((F.col("c_custkey") * F.lit(2654435761)) % F.lit(100000))
            .cast("double")
            / F.lit(40000.0)
        ).alias("lat"),
        (
            F.lit(-100.0)
            + ((F.col("c_custkey") * F.lit(40503)) % F.lit(100000))
            .cast("double")
            / F.lit(40000.0)
        ).alias("lng"),
    )
    nk = F.col("n_nationkey")
    x0 = F.lit(-100.0) + (nk % 5).cast("double") * F.lit(0.5) + F.lit(0.000013)
    y0 = (
        F.lit(40.0)
        + F.floor(nk / 5).cast("double") * F.lit(0.5)
        + F.lit(0.000013)
    )
    x1 = x0 + F.lit(0.45007)
    y1 = y0 + F.lit(0.45007)
    ss = lambda c: c.cast("string")  # noqa: E731
    wkt = F.concat(
        F.lit("POLYGON (("),
        ss(x0), F.lit(" "), ss(y0), F.lit(", "),
        ss(x1), F.lit(" "), ss(y0), F.lit(", "),
        ss(x1), F.lit(" "), ss(y1), F.lit(", "),
        ss(x0), F.lit(" "), ss(y1), F.lit(", "),
        ss(x0), F.lit(" "), ss(y0),
        F.lit("))"),
    )
    polys = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("poly_id"), wkt.alias("geom_wkt")
    )
    return point_in_polygon_join(pts, polys, res=6)



def q_attribution_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based multi-touch attribution (operators/analytics.py::
    attribution_positional): every purchase splits credit 40/40 over
    its first/last preceding view-or-click touch, middles sharing the
    remaining 20% — credit conservation (Σ=1 per conversion) holds by
    exact rational construction. The contract emits the per-touch
    credit rows; doubles are exact n-derived rationals identical in
    both engines."""
    from h3_indexer_spark.operators.analytics import (
        attribution_positional,
    )

    return attribution_positional(
        _load_events(spark, sf_dir), "purchase", ["view", "click"]
    )


def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing-5 exact rolling median (operators/
    features.py::rolling_median) — percentile() over a ROWS frame ==
    DuckDB quantile_cont bit-for-bit."""
    from h3_indexer_spark.operators.features import rolling_median

    ev = _load_events(spark, sf_dir).select(
        "event_id", "user_id", "ts", "value"
    ).where(F.col("value").isNotNull())
    return rolling_median(
        ev, "user_id", ["ts", "event_id"], "value"
    ).select("event_id", "user_id", "roll_median")



def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the part co-purchase graph (operators/graph.py::
    k_core): parts ordered together form edges (the assoc_rules
    basket universe), the core keeps the densely co-purchased
    region. Edge volume is bounded by basket size² — the same
    guarded shape association_rules uses — where the previous
    user×day co-occurrence fixture was quadratic in DAILY ACTIVES
    (a per-group n² blowup that made the fixture, not the operator,
    the cost). Rows-only: iterative peeling has no SQL mirror;
    exactness is locked against a Python peeling reference in
    tests/test_round6_ops.py."""
    from h3_indexer_spark.operators.graph import k_core

    return k_core(_copurchase_edges(spark, sf_dir), 3)


# --------------------------------------------------------------------------
# Registry + DuckDB oracles
# --------------------------------------------------------------------------

QUERIES: dict[str, Query] = {
    "q_kcore": q_kcore,
    "q_project": q_project,
    "q_lit_cols": q_lit_cols,
    "q_mul_ratio": q_mul_ratio,
    "q_filter_notnull": q_filter_notnull,
    "q_first": q_first,
    "q_count": q_count,
    "q_distinct": q_distinct,
    "q_union": q_union,
    "q_intersect": q_intersect,
    "q_except": q_except,
    "q_token_count": q_token_count,
    "q_quality_score": q_quality_score,
    "q_point_in_polygon": q_point_in_polygon,
    "q_h3_radius_join": q_h3_radius_join,
    "q_spatial_knn": q_spatial_knn,
    "q_knn_ivfpq_rerank": q_knn_ivfpq_rerank,
    "q_bpe_pairs": q_bpe_pairs,
    "q_bm25": q_bm25,
    "q_assoc_rules": q_assoc_rules,
    "q_gini": q_gini,
    "q_rfm": q_rfm,
    "q_hll_registers": q_hll_registers,
    "q_survival": q_survival,
    "q_seasonality": q_seasonality,
    "q_hll_grouped": q_hll_grouped,
    "q_time_to_convert": q_time_to_convert,
    "q_vocab_encode": q_vocab_encode,
    "q_skyline": q_skyline,
    "q_lm_score": q_lm_score,
    "q_feature_hash": q_feature_hash,
    "q_dbscan": q_dbscan,
    "q_dedup_minhash": q_dedup_minhash,
    "q_dedup_simhash": q_dedup_simhash,
    "q_dedup_keep_best": q_dedup_keep_best,
    "q_dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "q_dedup_clusters": q_dedup_clusters,
    "q_dedup_embedding": q_dedup_embedding,
    "q_dedup_embedding_lsh": q_dedup_embedding_lsh,
    "q_dedup_resolve": q_dedup_resolve,
    "q_dedup_spans_global": q_dedup_spans_global,
    "q_knn_brute": q_knn_brute,
    "q_knn_lsh": q_knn_lsh,
    "q_fuzzy_join": q_fuzzy_join,
    "q_asof_join": q_asof_join,
    "q_interval_join": q_interval_join,
    "q_range_join": q_range_join,
    "q_fingerprint": q_fingerprint,
    "q_decontaminate": q_decontaminate,
    "q_decontaminate_bloom": q_decontaminate_bloom,
    "q_media_dedup": q_media_dedup,
    "q_corpus_curation": q_corpus_curation,
    "q_contamination_frac": q_contamination_frac,
    "q_rare_words": q_rare_words,
    "q_attribution": q_attribution,
    "q_clean_lines": q_clean_lines,
    "q_frequent_items": q_frequent_items,
    "q_gap_fill": q_gap_fill,
    "q_join_full_outer": q_join_full_outer,
    "q_join_left_small": q_join_left_small,
    "q_join_skew_salted": q_join_skew_salted,
    "q_region_revenue": q_region_revenue,
    "q_retention_cohorts": q_retention_cohorts,
    "q_robust_scale": q_robust_scale,
    "q_rolling_features": q_rolling_features,
    "q_corr": q_corr,
    "q_explode": q_explode,
    "q_scan_where": q_scan_where,
    "q_sessionize": q_sessionize,
    "q_tfidf": q_tfidf,
    "q_top_orders": q_top_orders,
    "q_window_tumbling": q_window_tumbling,
    "q_zscore": q_zscore,
    "q_entropy": q_entropy,
    "q_retention_curve": q_retention_curve,
    "q_quantile_bins": q_quantile_bins,
    "q_ewma": q_ewma,
    "q_approx_stats": q_approx_stats,
    "q_pagerank": q_pagerank,
    "q_kmeans": q_kmeans,
    "q_media_resize": q_media_resize,
    "q_media_frames": q_media_frames,
    "q_semantic_dedup_fast": q_semantic_dedup_fast,
    "q_media_audio": q_media_audio,
    "q_media_meta": q_media_meta,
    "q_ngram_bigrams": q_ngram_bigrams,
    "q_pivot_events": q_pivot_events,
    "q_sample_stratified": q_sample_stratified,
    "q_count_distinct": q_count_distinct,
    "q_cube": q_cube,
    "q_dedup_windowed": q_dedup_windowed,
    "q_groupby_stats": q_groupby_stats,
    "q_join_anti": q_join_anti,
    "q_join_left_attr": q_join_left_attr,
    "q_join_semi": q_join_semi,
    "q_knn_batch": q_knn_batch,
    "q_lang_id": q_lang_id,
    "q_quantiles": q_quantiles,
    "q_rollup": q_rollup,
    "q_sort_limit": q_sort_limit,
    "q_text_stats": q_text_stats,
    "q_topk_window": q_topk_window,
    "q_window_lag": q_window_lag,
    "q_window_rank": q_window_rank,
    "q_window_sliding": q_window_sliding,
    "q_merge_upsert": q_merge_upsert,
    "q_knn_ivfpq": q_knn_ivfpq,
    "q_ab_test": q_ab_test,
    "q_label_future": q_label_future,
    "q_quantile_normalize": q_quantile_normalize,
    "q_period_over_period": q_period_over_period,
    "q_incremental_agg": q_incremental_agg,
    "q_psi_drift": q_psi_drift,
    "q_cuped": q_cuped,
    "q_winsorize": q_winsorize,
    "q_weighted_median": q_weighted_median,
    "q_target_encode": q_target_encode,
    "q_sample_per_group": q_sample_per_group,
    "q_changepoint": q_changepoint,
    "q_attribution_positional": q_attribution_positional,
    "q_rolling_median": q_rolling_median,
    "q_knn_ivf": q_knn_ivf,
    "q_scan_parquet": q_scan_parquet,
    "q_groupby_sum": q_groupby_sum,
    "q_funnel": q_funnel,
    "q_dedup_exact": q_dedup_exact,
    "q_snapshot_diff": q_snapshot_diff,
    "q_semantic_dedup": q_semantic_dedup,
    "q_profile": q_profile,
    "q_expectations": q_expectations,
    "q_triangles": q_triangles,
    "q_weighted_sample": q_weighted_sample,
    "q_analytics_pipeline": q_analytics_pipeline,
    "q_data_split": q_data_split,
    "q_boilerplate": q_boilerplate,
    "q_boilerplate_clean": q_boilerplate_clean,
    "q_regression": q_regression,
    "q_mode": q_mode,
    "q_mad": q_mad,
    "q_autocorr": q_autocorr,
    "q_active_users": q_active_users,
    "q_growth_accounting": q_growth_accounting,
    "q_transitions": q_transitions,
    "q_top_paths": q_top_paths,
    "q_impute": q_impute,
    "q_one_hot": q_one_hot,
    "q_chi_square": q_chi_square,
    "q_twap": q_twap,
    "q_moments": q_moments,
    "q_clustering_coeff": q_clustering_coeff,
    "q_dwell_times": q_dwell_times,
    "q_pii_scrub": q_pii_scrub,
    "q_repetition": q_repetition,
    "q_event_gaps": q_event_gaps,
    "q_anomalies": q_anomalies,
    "q_time_rollup": q_time_rollup,
    "q_co_occurrence": q_co_occurrence,
    "q_frequent_items_scalable": q_frequent_items_scalable,
    "q_unpivot": q_unpivot,
    "q_dup_spans": q_dup_spans,
    "q_histogram": q_histogram,
    "q_chunk_docs": q_chunk_docs,
    "q_seq_pack": q_seq_pack,
    "q_json_extract": q_json_extract,
    "q_domain_cap": q_domain_cap,
    "q_rebalance_sources": q_rebalance_sources,
    "q_ntile_bins": q_ntile_bins,
    "q_minmax_scale": q_minmax_scale,
    "q_url_normalize": q_url_normalize,
}


def _in_list(words: list[str]) -> str:
    return ", ".join(f"'{w}'" for w in words)


def _lang_oracle() -> str:
    """Mirror of operators/textops.language_id: integer hit counts per
    profile (same ordering as score = hits/n since n is shared), argmax
    with lexicographically-greatest-language tiebreak (= Spark's
    array_max over struct(score, lang))."""
    from h3_indexer_spark.operators.textops import _LANG_PROFILES

    hits = ",\n               ".join(
        f"len(list_filter(toks, x -> x IN ({_in_list(words)}))) AS h_{lang}"
        for lang, words in _LANG_PROFILES.items()
    )
    langs_desc = sorted(_LANG_PROFILES, reverse=True)
    case = " ".join(
        f"WHEN h_{lang} = best_h THEN '{lang}'" for lang in langs_desc[:-1]
    )
    return f"""
        WITH toks AS (
            SELECT doc_id, lang,
                   string_split_regex(
                       lower(regexp_replace(text, '[^\\w\\s]', ' ', 'g')),
                       '\\s+') AS toks
            FROM documents
        ),
        hits AS (
            SELECT doc_id, lang,
                   greatest(len(toks), 1) AS n,
                   {hits}
            FROM toks
        ),
        best AS (
            SELECT doc_id, lang, n,
                   greatest(h_en, h_de, h_fr, h_es, h_it) AS best_h,
                   CASE {case} ELSE '{langs_desc[-1]}' END AS best_lang
            FROM hits
        )
        SELECT doc_id, lang,
               CASE WHEN CAST(best_h AS DOUBLE) / n > 0.02
                    THEN best_lang ELSE 'und' END AS lang_pred
        FROM best
    """


def _quality_oracle() -> str:
    from h3_indexer_spark.operators.textops import _LANG_PROFILES

    stops = _in_list(_LANG_PROFILES["en"])
    return f"""
        WITH t AS (
            SELECT doc_id, text,
                   string_split_regex(
                       lower(regexp_replace(text, '[^\\w\\s]', ' ', 'g')),
                       '\\s+') AS toks
            FROM documents
        ),
        m AS (
            SELECT doc_id, text, toks,
                   greatest(len(toks), 1) AS n_tok,
                   greatest(length(text), 1) AS n_char
            FROM t
        ),
        r AS (
            SELECT doc_id,
                   CAST(n_char AS DOUBLE) / n_tok AS mean_word_len,
                   CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                        AS DOUBLE) / n_char AS alpha_ratio,
                   CAST(len(list_filter(toks, x -> x IN ({stops})))
                        AS DOUBLE) / n_tok AS stop_ratio,
                   CAST(len(list_distinct(toks)) AS DOUBLE) / n_tok
                       AS uniq_ratio
            FROM m
        )
        SELECT doc_id,
               CASE WHEN mean_word_len >= 3 AND mean_word_len <= 12
                    THEN 1.0 ELSE 0.0 END AS q_word_len,
               CASE WHEN alpha_ratio > 0.6
                    THEN 1.0 ELSE alpha_ratio / 0.6 END AS q_alpha,
               CASE WHEN stop_ratio > 0.05
                    THEN 1.0 ELSE stop_ratio / 0.05 END AS q_stopword,
               CASE WHEN uniq_ratio > 0.3
                    THEN 1.0 ELSE uniq_ratio / 0.3 END AS q_unique,
               (CASE WHEN mean_word_len >= 3 AND mean_word_len <= 12
                     THEN 1.0 ELSE 0.0 END
                + CASE WHEN alpha_ratio > 0.6
                       THEN 1.0 ELSE alpha_ratio / 0.6 END
                + CASE WHEN stop_ratio > 0.05
                       THEN 1.0 ELSE stop_ratio / 0.05 END
                + CASE WHEN uniq_ratio > 0.3
                       THEN 1.0 ELSE uniq_ratio / 0.3 END) / 4.0 AS quality
        FROM r
    """


def _knn_batch_oracle() -> str:
    dot = " + ".join(
        f"CAST(c.embedding[{i + 1}] AS DOUBLE) * "
        f"CAST(q.embedding[{i + 1}] AS DOUBLE)"
        for i in range(_EMB_DIM)
    )
    cn = _norm_sql("c.embedding", one_based=True)
    qn = _norm_sql("q.embedding", one_based=True)
    return f"""
        SELECT * FROM (
            SELECT q.vec_id AS query_id,
                   c.vec_id AS vec_id,
                   ({dot}) / (sqrt({cn}) * sqrt({qn})) AS cosine_sim,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY ({dot}) / (sqrt({cn}) * sqrt({qn})) DESC,
                                c.vec_id ASC
                   ) AS BIGINT) AS rank
            FROM embeddings c
            CROSS JOIN (
                SELECT vec_id, embedding FROM embeddings WHERE vec_id < 3
            ) q
            WHERE c.vec_id <> q.vec_id
        ) WHERE rank <= 5
    """


def _knn_oracle() -> str:
    q = _query_vector()
    dot = _dot_sql("embedding", q, one_based=True)
    norm = _norm_sql("embedding", one_based=True)
    qn = _q_norm_const()
    return f"""
        SELECT vec_id,
               ({dot}) / (sqrt({norm}) * ({qn!r})) AS cosine_sim
        FROM embeddings
        ORDER BY cosine_sim DESC, vec_id ASC
        LIMIT 10
    """


def _bpe_pairs_oracle() -> str:
    """Mirror of bpe_pair_counts: identical tokenization to the other
    text oracles, distinct-word pre-aggregation, then per-word
    adjacent character pairs via list_transform over range(1, len)
    (range is end-exclusive = Spark's sequence(1, len-1) after the
    length>=2 filter)."""
    return r"""
        WITH toks AS (
            SELECT unnest(string_split_regex(
                lower(regexp_replace(text, '[^\w\s]', ' ', 'g')),
                '\s+')) AS w
            FROM documents
        ),
        wc AS (
            SELECT w, COUNT(*) AS wn FROM toks
            WHERE length(w) >= 2 GROUP BY w
        ),
        pairs AS (
            SELECT unnest(list_transform(
                       range(1, length(w)),
                       i -> substring(w, CAST(i AS INTEGER), 2)
                   )) AS pair,
                   wn
            FROM wc
        )
        SELECT pair, CAST(SUM(wn) AS BIGINT) AS n
        FROM pairs GROUP BY pair
        ORDER BY n DESC, pair ASC
        LIMIT 30
    """


def _bm25_oracle(k: int = 20) -> str:
    """Mirror of q_bm25: tf per term as list_filter counts, the 1-row
    corpus stats fold, and the score summed in the SAME sorted-term
    order with the same literal constants and op shape; ln() absorbed
    by the FLOOR(score*1000) quantization."""
    terms = sorted(set(_BM25_TERMS))
    tf_cols = ",\n                   ".join(
        f"len(list_filter(toks, x -> x = '{w}')) AS tf_{i}"
        for i, w in enumerate(terms)
    )
    df_cols = ",\n                   ".join(
        f"CAST(SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS df_{i}"
        for i in range(len(terms))
    )
    contribs = " + ".join(
        f"(ln(1.0 + (n - df_{i} + 0.5) / (df_{i} + 0.5))"
        f" * CAST(tf_{i} AS DOUBLE) * 2.2"
        f" / (CAST(tf_{i} AS DOUBLE)"
        f" + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl)))"
        for i in range(len(terms))
    )
    return rf"""
        WITH t AS (
            SELECT doc_id,
                   string_split_regex(
                       lower(regexp_replace(text, '[^\w\s]', ' ', 'g')),
                       '\s+') AS toks
            FROM documents
        ),
        pd AS (
            SELECT doc_id,
                   len(list_filter(toks, x -> len(x) > 0)) AS dl,
                   {tf_cols}
            FROM t
        ),
        s AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                   CAST(CAST(SUM(dl) AS BIGINT) AS DOUBLE)
                       / CAST(COUNT(*) AS DOUBLE) AS avgdl,
                   {df_cols}
            FROM pd
        )
        SELECT doc_id,
               CAST(FLOOR(({contribs}) * 1000.0) AS BIGINT) AS score_q
        FROM pd, s
        WHERE CAST(FLOOR(({contribs}) * 1000.0) AS BIGINT) > 0
        ORDER BY score_q DESC, doc_id ASC
        LIMIT {k}
    """


_LM_SCORE_ORACLE = r"""
    WITH dt AS (
        SELECT doc_id, lang,
               list_filter(
                   string_split_regex(
                       lower(regexp_replace(text, '[^\w\s]', ' ', 'g')),
                       '\s+'),
                   x -> len(x) > 0) AS toks
        FROM documents
    ),
    uni AS (
        SELECT w, COUNT(*) AS c_w FROM (
            SELECT unnest(toks) AS w FROM dt WHERE lang = 'en'
        ) GROUP BY w
    ),
    tot AS (SELECT CAST(SUM(c_w) AS BIGINT) AS t_total FROM uni),
    tr_pairs AS (
        SELECT pr.w1 AS w1, pr.w2 AS w2 FROM (
            SELECT unnest(list_transform(
                range(1, len(toks)),
                i -> {'w1': toks[CAST(i AS INTEGER)],
                      'w2': toks[CAST(i AS INTEGER) + 1]})) AS pr
            FROM dt WHERE lang = 'en'
        )
    ),
    bi AS (
        SELECT w1, w2, COUNT(*) AS c_vw FROM tr_pairs GROUP BY w1, w2
    ),
    doc_pairs AS (
        SELECT doc_id, pr.w1 AS w1, pr.w2 AS w2 FROM (
            SELECT doc_id, unnest(list_transform(
                range(1, len(toks)),
                i -> {'w1': toks[CAST(i AS INTEGER)],
                      'w2': toks[CAST(i AS INTEGER) + 1]})) AS pr
            FROM dt
        )
    ),
    scored AS (
        SELECT doc_id,
               CAST(FLOOR(log10(
                   CASE WHEN bi.c_vw IS NOT NULL AND uv.c_w IS NOT NULL
                        THEN CAST(bi.c_vw AS DOUBLE)
                             / CAST(uv.c_w AS DOUBLE)
                        ELSE 0.4 * (CAST(COALESCE(uw.c_w, 0) AS DOUBLE)
                                    + 1.0)
                             / CAST(t_total AS DOUBLE)
                   END) * 1000000.0) AS BIGINT) AS contrib
        FROM doc_pairs
        LEFT JOIN bi ON doc_pairs.w1 = bi.w1 AND doc_pairs.w2 = bi.w2
        LEFT JOIN uni uv ON doc_pairs.w1 = uv.w
        LEFT JOIN uni uw ON doc_pairs.w2 = uw.w
        CROSS JOIN tot
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_scored,
           CAST(SUM(contrib) AS BIGINT) AS logprob_q
    FROM scored GROUP BY doc_id
"""


def _feature_hash_oracle() -> str:
    """Mirror of feature_hash over orders: bucket/sign per column
    from the portable md5 hash, summed in the same fixed column
    order."""
    cols = ["o_orderstatus", "o_orderpriority"]
    m = 8
    exprs = []
    for b in range(m):
        parts = []
        for c in cols:
            h = (
                f"CAST('0x' || substr(md5('{c}:' || "
                f"CAST({c} AS VARCHAR)), 18, 15) AS BIGINT)"
            )
            parts.append(
                f"(CASE WHEN {c} IS NOT NULL AND ({h}) % {m} = {b} "
                f"THEN (CASE WHEN (({h}) // 1099511627776) % 2 = 0 "
                f"THEN 1 ELSE -1 END) ELSE 0 END)"
            )
        exprs.append(
            "CAST(" + " + ".join(parts) + f" AS INTEGER) AS fh_{b}"
        )
    cols_sql = ",\n           ".join(exprs)
    return f"""
        SELECT o_orderkey,
           {cols_sql}
        FROM orders
    """


_ASSOC_RULES_ORACLE = """
    WITH items AS (
        SELECT DISTINCT l.l_orderkey AS b, p.p_brand AS i
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    nb AS (
        SELECT CAST(COUNT(DISTINCT l.l_orderkey) AS BIGINT) AS n
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    sup AS (SELECT i, COUNT(*) AS n_item FROM items GROUP BY i),
    pairs AS (
        SELECT a.i AS antecedent, b.i AS consequent,
               COUNT(*) AS n_joint
        FROM items a JOIN items b
          ON a.b = b.b AND a.i <> b.i
        GROUP BY a.i, b.i
        HAVING COUNT(*) >= 2
    )
    SELECT antecedent, consequent,
           CAST(n_joint AS BIGINT) AS n_joint,
           CAST(sa.n_item AS BIGINT) AS n_antecedent,
           CAST(n_joint AS DOUBLE) / CAST(sa.n_item AS DOUBLE)
               AS confidence,
           CAST(n_joint AS DOUBLE) * CAST(nb.n AS DOUBLE)
               / (CAST(sa.n_item AS DOUBLE) * CAST(sb.n_item AS DOUBLE))
               AS lift
    FROM pairs
    JOIN sup sa ON pairs.antecedent = sa.i
    JOIN sup sb ON pairs.consequent = sb.i
    CROSS JOIN nb
    ORDER BY lift DESC, antecedent ASC, consequent ASC
    LIMIT 30
"""

_GINI_ORACLE = """
    WITH lv AS (
        SELECT CAST(o_totalprice AS DECIMAL(19,4)) AS v,
               COUNT(*) AS c
        FROM orders WHERE o_totalprice IS NOT NULL
        GROUP BY 1
    ),
    lw AS (
        SELECT v, c,
               COALESCE(SUM(c) OVER (
                   ORDER BY v ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS p
        FROM lv
    ),
    agg AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
               SUM(v * CAST(c AS DECIMAL(18,0))) AS total_d,
               SUM(v * CAST(c * p + c * (c + 1) // 2
                            AS DECIMAL(18,0))) AS s1_d
        FROM lw
    )
    SELECT n,
           CAST(total_d AS DOUBLE) AS total,
           2.0 * CAST(s1_d AS DOUBLE)
               / (CAST(n AS DOUBLE) * CAST(total_d AS DOUBLE))
               - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE) AS gini
    FROM agg
"""

_RFM_ORACLE = """
    WITH per AS (
        SELECT o_custkey AS customer,
               MAX(o_orderdate) AS recency_ts,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(19,4)))
                    AS DOUBLE) AS monetary
        FROM orders GROUP BY o_custkey
    )
    SELECT customer,
           strftime(recency_ts, '%Y-%m-%d %H:%M:%S') AS recency_str,
           frequency,
           monetary,
           NTILE(5) OVER (ORDER BY recency_ts ASC, customer ASC) AS r,
           NTILE(5) OVER (ORDER BY frequency ASC, customer ASC) AS f,
           NTILE(5) OVER (ORDER BY monetary ASC, customer ASC) AS m,
           CAST(NTILE(5) OVER (ORDER BY recency_ts ASC, customer ASC)
                AS VARCHAR)
           || CAST(NTILE(5) OVER (ORDER BY frequency ASC, customer ASC)
                AS VARCHAR)
           || CAST(NTILE(5) OVER (ORDER BY monetary ASC, customer ASC)
                AS VARCHAR) AS segment
    FROM per
"""

_HLL_ORACLE = """
    WITH h AS (
        SELECT CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)),
                                   18, 15) AS BIGINT) AS h
        FROM orders WHERE o_custkey IS NOT NULL
    )
    SELECT CAST(h % 256 AS INTEGER) AS bucket,
           CAST(MAX(CASE WHEN h // 256 = 0 THEN 53
                         ELSE 52 - length(bin(h // 256)) + 1
                    END) AS INTEGER) AS rho
    FROM h GROUP BY 1
"""


def _survival_oracle() -> str:
    day = 86_400 * 10**9
    return f"""
        WITH per AS (
            SELECT user_id,
                   MIN(epoch_ns(ts)) AS f,
                   MAX(epoch_ns(ts)) AS l
            FROM events GROUP BY user_id
        ),
        g AS (SELECT MAX(epoch_ns(ts)) AS gmax FROM events),
        lt AS (
            SELECT (l - f) // {day} AS lifetime_days,
                   CASE WHEN l < gmax - {7 * day} THEN 1 ELSE 0
                   END AS died
            FROM per, g
        ),
        by_t AS (
            SELECT lifetime_days,
                   CAST(SUM(died) AS BIGINT) AS n_events,
                   CAST(SUM(1 - died) AS BIGINT) AS n_censored
            FROM lt GROUP BY lifetime_days
        )
        SELECT lifetime_days,
               CAST(SUM(n_events + n_censored) OVER (
                   ORDER BY lifetime_days ASC
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
               ) AS BIGINT) AS n_risk,
               n_events, n_censored
        FROM by_t
    """


_SKYLINE_ORACLE = """
    SELECT p_partkey, p_retailprice, p_size
    FROM part a
    WHERE NOT EXISTS (
        SELECT 1 FROM part b
        WHERE b.p_retailprice <= a.p_retailprice
          AND b.p_size >= a.p_size
          AND (b.p_retailprice < a.p_retailprice
               OR b.p_size > a.p_size)
    )
"""


def _ivfpq_rerank_oracle() -> str:
    """Brute-force exact squared-L2 top-10 — a valid oracle for
    q_knn_ivfpq_rerank because that query probes every IVF cell and
    its ADC recall@100 of the true top-10 is test-asserted; the
    left-associative subtraction/square chain mirrors the engine's
    refine expression bit-for-bit (DuckDB arrays are 1-based)."""
    terms = " + ".join(
        f"(CAST(embedding[{i + 1}] AS DOUBLE) - ({v!r})) * "
        f"(CAST(embedding[{i + 1}] AS DOUBLE) - ({v!r}))"
        for i, v in enumerate(_query_vector())
    )
    return f"""
        SELECT vec_id, 0.0 + {terms} AS l2_dist
        FROM embeddings
        ORDER BY l2_dist ASC, vec_id ASC
        LIMIT 10
    """


def _lsh_oracle() -> str:
    """Mirror of q_knn_lsh: the seeded hyperplanes are deterministic,
    so they inline as double literals — the oracle recomputes each
    vector's 8 sign bits with the same left-associative dot chain,
    filters to the multi-probe bucket list (computed here, identically
    to cosine_topk_lsh's driver-side probe expansion), and ranks the
    survivors with the exact q_knn_brute cosine. Sign agreement
    between the engine's GEMM and this chain is margin-assured: the
    smallest |dot| across all vectors×planes is 6.3e-6 at sf0.1
    (6.2e-4 at sf0.01), eight orders above double summation-order
    divergence."""
    from h3_indexer_spark.operators.similarity import random_hyperplanes

    q = _query_vector()
    planes = random_hyperplanes(_EMB_DIM, 8, 42)
    bits = "\n                 + ".join(
        f"CASE WHEN ({_dot_sql('embedding', p, True)}) >= 0 "
        f"THEN {1 << b} ELSE 0 END"
        for b, p in enumerate(planes)
    )
    qb = 0
    for b, plane in enumerate(planes):
        if sum(pv * qv for pv, qv in zip(plane, q)) >= 0:
            qb |= 1 << b
    probes = {qb} | {qb ^ (1 << b) for b in range(8)} | {
        qb ^ (1 << b1) ^ (1 << b2)
        for b1 in range(8)
        for b2 in range(b1 + 1, 8)
    }
    probe_list = ", ".join(str(p) for p in sorted(probes))
    dot = _dot_sql("embedding", q, one_based=True)
    norm = _norm_sql("embedding", one_based=True)
    qn = _q_norm_const()
    return f"""
        WITH b AS (
            SELECT vec_id, embedding,
                   ({bits}) AS bucket
            FROM embeddings
        )
        SELECT vec_id,
               ({dot}) / (sqrt({norm}) * ({qn!r})) AS cosine_sim
        FROM b
        WHERE bucket IN ({probe_list})
        ORDER BY cosine_sim DESC, vec_id ASC
        LIMIT 10
    """


def _ngram_pair_ctes() -> str:
    """Shared CTE chain mirroring dedup.ngram_jaccard_exact_pairs
    (n=3, max_df=100): distinct word 3-grams -> stop-shingle cap ->
    inverted-index self-join -> Jaccard. Ends with a ``pairs`` CTE of
    (id_a, id_b, jaccard >= 0.5)."""
    return """
        w AS (SELECT doc_id, string_split(text, ' ') AS ws
              FROM documents),
        g AS (
            SELECT doc_id, unnest(list_distinct(list_transform(
                range(1, greatest(len(ws) - 2, 1) + 1),
                s -> array_to_string(ws[s:s+2], ' ')))) AS gram
            FROM w
        ),
        kept AS (
            SELECT doc_id, gram FROM (
                SELECT doc_id, gram,
                       COUNT(*) OVER (PARTITION BY gram) AS dfc
                FROM g)
            WHERE dfc <= 100
        ),
        sz AS (SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
            FROM kept a
            JOIN kept b ON a.gram = b.gram AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ),
        pairs AS (
            SELECT id_a, id_b, jaccard FROM (
                SELECT id_a, id_b,
                       CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard
                FROM inter
                JOIN sz sa ON sa.doc_id = id_a
                JOIN sz sb ON sb.doc_id = id_b)
            WHERE jaccard >= 0.5
        )
    """


def _simhash_oracle() -> str:
    """Mirror of q_dedup_simhash: the md5-60-bit token hash, the 60
    per-bit majority votes (bit_b set ⟺ 2·ones_b > n over all tokens,
    duplicates included), the packed fingerprint, and the exhaustive
    hamming ≤ 3 pair set."""
    votes = ",\n                   ".join(
        f"SUM((hv >> {b}) & 1) AS o{b}" for b in range(60)
    )
    pack = "\n                 + ".join(
        f"CASE WHEN 2*o{b} > n THEN (1::BIGINT << {b}) ELSE 0 END"
        for b in range(60)
    )
    return f"""
        WITH w AS (SELECT doc_id, string_split_regex(text, '\\s+') AS ws
                   FROM documents),
        t AS (SELECT doc_id, unnest(ws) AS tok FROM w),
        h AS (SELECT doc_id,
                     CAST('0x' || substr(md5(tok), 18, 15) AS BIGINT) AS hv
              FROM t),
        v AS (SELECT doc_id, COUNT(*) AS n,
                   {votes}
              FROM h GROUP BY doc_id),
        f AS (SELECT doc_id, {pack} AS fp FROM v)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
        FROM f a JOIN f b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.fp, b.fp)) <= 3
    """


_PII_AUG = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR)"
    " || '@mail.example.com or call +1-555-'"
    " || lpad(CAST(doc_id AS VARCHAR), 4, '0')"
    " || ' ref ' || lpad(CAST(doc_id AS VARCHAR), 8, '0')"
)

_EMAIL_SQL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PHONE_SQL = "\\+\\d{1,2}-\\d{3}-\\d{4}"
_LONGNUM_SQL = "\\d{5,}"


ORACLES: dict[str, str] = {
    "q_dedup_ngram_jaccard": f"""
        WITH {_ngram_pair_ctes()}
        SELECT id_a, id_b, jaccard FROM pairs
    """,
    # all-pairs exact 5-gram Jaccard — valid oracle for the LSH path
    # because surfaced candidates are exact-verified and the contract's
    # 64×2 banding makes recall certain (see q_dedup_minhash docstring);
    # tokenization mirrors shingles(): regex-split on whitespace runs
    "q_dedup_minhash": """
        WITH w AS (SELECT doc_id, string_split_regex(text, '\\s+') AS ws
                   FROM documents),
        g AS (
            SELECT doc_id, unnest(list_distinct(list_transform(
                range(1, greatest(len(ws) - 4, 1) + 1),
                s -> array_to_string(ws[s:s+4], ' ')))) AS gram
            FROM w
        ),
        sz AS (SELECT doc_id, COUNT(*) AS sz FROM g GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
            FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT id_a, id_b, jaccard FROM (
            SELECT id_a, id_b,
                   CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard
            FROM inter
            JOIN sz sa ON sa.doc_id = id_a
            JOIN sz sb ON sb.doc_id = id_b)
        WHERE jaccard >= 0.5
    """,
    "q_dedup_simhash": _simhash_oracle(),
    "q_attribution": """
        WITH e AS (SELECT event_id, user_id, epoch_ns(ts) AS tns,
                          event_type
                   FROM events),
        a AS (
            SELECT event_id, user_id, tns, event_type,
                   last_value(CASE WHEN event_type IN ('click', 'view')
                                   THEN tns END IGNORE NULLS)
                       OVER (PARTITION BY user_id
                             ORDER BY tns, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING) AS touch_ts,
                   last_value(CASE WHEN event_type IN ('click', 'view')
                                   THEN event_type END IGNORE NULLS)
                       OVER (PARTITION BY user_id
                             ORDER BY tns, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING) AS touch_type
            FROM e
        )
        SELECT event_id, user_id, tns AS conv_ts, touch_ts, touch_type,
               tns - touch_ts AS lag_ns
        FROM a WHERE event_type = 'purchase'
    """,
    "q_expectations": """
        WITH t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows
                   FROM lineitem),
        v AS (
            SELECT 0 AS rule_id, 'not_null' AS rule,
                   'l_quantity' AS target,
                   CAST((SELECT COUNT(*) FROM lineitem
                         WHERE l_quantity IS NULL) AS BIGINT)
                       AS n_violations
            UNION ALL
            SELECT 1, 'unique', 'l_orderkey,l_linenumber',
                   CAST(COALESCE((SELECT SUM(n) FROM (
                       SELECT COUNT(*) AS n FROM lineitem
                       GROUP BY l_orderkey, l_linenumber
                       HAVING COUNT(*) > 1)), 0) AS BIGINT)
            UNION ALL
            SELECT 2, 'range', 'l_discount',
                   CAST((SELECT COUNT(*) FROM lineitem
                         WHERE l_discount < 0.0 OR l_discount > 0.1)
                        AS BIGINT)
            UNION ALL
            SELECT 3, 'in_set', 'l_returnflag',
                   CAST((SELECT COUNT(*) FROM lineitem
                         WHERE l_returnflag IS NOT NULL
                           AND l_returnflag NOT IN ('A', 'N', 'R'))
                        AS BIGINT)
            UNION ALL
            SELECT 4, 'foreign_key', 'l_orderkey',
                   CAST((SELECT COUNT(*) FROM lineitem
                         WHERE l_orderkey IS NOT NULL
                           AND l_orderkey NOT IN
                               (SELECT o_orderkey FROM orders))
                        AS BIGINT)
        )
        SELECT rule_id, rule, target, n_violations, n_rows,
               n_violations = 0 AS passed
        FROM v CROSS JOIN t
    """,
    "q_unpivot": """
        SELECT l_orderkey, l_linenumber, metric, val FROM (
            UNPIVOT (SELECT l_orderkey, l_linenumber,
                            CAST(l_quantity AS DOUBLE) AS quantity,
                            CAST(l_extendedprice AS DOUBLE)
                                AS extendedprice,
                            CAST(l_tax AS DOUBLE) AS tax
                     FROM lineitem)
            ON quantity, extendedprice, tax INTO NAME metric VALUE val)
    """,
    "q_frequent_items_scalable": """
        SELECT event_type, user_id, n_occurrences, rnk,
               CAST(0 AS BIGINT) AS max_missed,
               TRUE AS certified
        FROM (
            SELECT event_type, user_id, COUNT(*) AS n_occurrences,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY event_type
                       ORDER BY COUNT(*) DESC, user_id ASC
                   ) AS BIGINT) AS rnk
            FROM events GROUP BY event_type, user_id)
        WHERE rnk <= 3
    """,
    "q_time_rollup": f"""
        WITH e AS (
            SELECT epoch_ns(ts) // {3_600 * 10**9} AS h,
                   epoch_ns(ts) // {86_400 * 10**9} AS d,
                   epoch_ns(ts) // {7 * 86_400 * 10**9} AS w,
                   CAST(value AS DECIMAL(19,4)) AS v
            FROM events
        )
        SELECT CASE WHEN grouping(h) = 0 THEN 'hour'
                    WHEN grouping(d) = 0 THEN 'day'
                    ELSE 'week' END AS grain,
               CASE WHEN grouping(h) = 0 THEN h * {3_600 * 10**9}
                    WHEN grouping(d) = 0 THEN d * {86_400 * 10**9}
                    ELSE w * {7 * 86_400 * 10**9} END AS bucket_start_ns,
               COUNT(*) AS n_events,
               CAST(SUM(v) AS DOUBLE) AS sum_value
        FROM e
        GROUP BY GROUPING SETS ((h), (d), (w))
    """,
    "q_co_occurrence": """
        WITH p AS (SELECT DISTINCT user_id, event_type FROM events),
        n AS (SELECT CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS nu
              FROM p),
        m AS (SELECT event_type, COUNT(*) AS cnt FROM p
              GROUP BY event_type),
        pr AS (
            SELECT a.event_type AS item_a, b.event_type AS item_b,
                   COUNT(*) AS n_both
            FROM p a JOIN p b ON a.user_id = b.user_id
                            AND a.event_type < b.event_type
            GROUP BY a.event_type, b.event_type
        )
        SELECT item_a, item_b, n_both,
               CAST(n_both AS DOUBLE) * nu
                   / (CAST(ma.cnt AS DOUBLE) * CAST(mb.cnt AS DOUBLE))
                   AS lift
        FROM pr
        JOIN m ma ON ma.event_type = item_a
        JOIN m mb ON mb.event_type = item_b
        CROSS JOIN n
    """,
    "q_event_gaps": """
        WITH e AS (SELECT event_id, user_id, epoch_ns(ts) AS tns
                   FROM events),
        g AS (
            SELECT user_id,
                   tns - lag(tns) OVER (PARTITION BY user_id
                                        ORDER BY tns, event_id) AS gap
            FROM e
        )
        SELECT user_id,
               COUNT(*) AS n_events,
               MIN(gap) AS min_gap_ns,
               MAX(gap) AS max_gap_ns,
               CAST(SUM(gap) AS DOUBLE) / CAST(COUNT(gap) AS DOUBLE)
                   AS mean_gap_ns
        FROM g GROUP BY user_id
    """,
    "q_anomalies": """
        WITH m AS (
            SELECT event_type,
                   COUNT(value) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(19,4))) AS DOUBLE)
                       AS sx,
                   CAST(SUM(CAST(value AS DECIMAL(19,4))
                            * CAST(value AS DECIMAL(19,4))) AS DOUBLE)
                       AS sxx
            FROM events GROUP BY event_type
        ),
        z AS (
            SELECT event_id, e.event_type, value,
                   CASE WHEN n <= 1 OR
                             (sxx - sx * sx / CAST(n AS DOUBLE))
                                 / (CAST(n AS DOUBLE) - 1.0) <= 0.0
                        THEN 0.0
                        ELSE (CAST(value AS DOUBLE)
                              - sx / CAST(n AS DOUBLE))
                             / sqrt((sxx - sx * sx / CAST(n AS DOUBLE))
                                    / (CAST(n AS DOUBLE) - 1.0))
                   END AS z
            FROM events e JOIN m ON e.event_type = m.event_type
        )
        SELECT event_id, event_type, value, z
        FROM z WHERE abs(z) >= 2.0
    """,
    "q_robust_scale": """
        WITH m AS (
            SELECT l_returnflag,
                   quantile_cont(l_extendedprice, 0.25) AS p25,
                   quantile_cont(l_extendedprice, 0.5) AS p50,
                   quantile_cont(l_extendedprice, 0.75) AS p75
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_orderkey, l_linenumber, l.l_returnflag,
               CASE WHEN (p75 - p25) <= 0.0 THEN 0.0
                    ELSE (CAST(l_extendedprice AS DOUBLE) - p50)
                         / (p75 - p25)
               END AS price_robust
        FROM lineitem l JOIN m ON l.l_returnflag = m.l_returnflag
    """,
    "q_decontaminate_bloom": """
        WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                   FROM documents),
        g AS (
            SELECT doc_id, unnest(list_distinct(list_transform(
                range(1, greatest(len(ws) - 4, 1) + 1),
                s -> array_to_string(ws[s:s+4], ' ')))) AS gram
            FROM w
        ),
        bg AS (SELECT DISTINCT gram FROM g WHERE doc_id < 50),
        bpos AS (
            SELECT DISTINCT
                   CAST('0x' || substr(md5(CAST(i AS VARCHAR) || gram),
                                       18, 15) AS BIGINT) % 1048576 AS p
            FROM bg, range(4) t(i)
        ),
        tg AS (SELECT DISTINCT doc_id, gram FROM g WHERE doc_id >= 50),
        th AS (
            SELECT doc_id, gram,
                   CAST('0x' || substr(md5(CAST(i AS VARCHAR) || gram),
                                       18, 15) AS BIGINT) % 1048576 AS p
            FROM tg, range(4) t(i)
        ),
        hit_grams AS (
            SELECT doc_id, gram
            FROM th GROUP BY doc_id, gram
            HAVING COUNT(*) FILTER (p IN (SELECT p FROM bpos)) = 4
        ),
        bad AS (SELECT DISTINCT doc_id FROM hit_grams)
        SELECT doc_id, n_chars FROM documents
        WHERE doc_id >= 50
          AND doc_id NOT IN (SELECT doc_id FROM bad)
    """,
    "q_dedup_spans_global": """
        WITH w AS (SELECT doc_id,
                          string_split(text, ' table ') AS ls
                   FROM documents),
        s AS (SELECT doc_id, unnest(ls) AS span,
                     generate_subscripts(ls, 1) AS pos
              FROM w),
        k AS (
            SELECT doc_id, span, pos FROM (
                SELECT doc_id, span, pos,
                       ROW_NUMBER() OVER (
                           PARTITION BY span
                           ORDER BY doc_id, pos) AS rn
                FROM s)
            WHERE rn = 1
        ),
        r AS (
            SELECT doc_id,
                   string_agg(span, ' table ' ORDER BY pos)
                       AS clean_text,
                   CAST(COUNT(*) AS BIGINT) AS n_kept
            FROM k GROUP BY doc_id
        )
        SELECT w.doc_id,
               COALESCE(r.clean_text, '') AS clean_text,
               CAST(len(w.ls) AS BIGINT) AS n_spans,
               COALESCE(r.n_kept, 0) AS n_kept
        FROM w LEFT JOIN r ON w.doc_id = r.doc_id
    """,
    "q_contamination_frac": """
        WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                   FROM documents),
        g AS (
            SELECT doc_id, unnest(list_distinct(list_transform(
                range(1, greatest(len(ws) - 4, 1) + 1),
                s -> array_to_string(ws[s:s+4], ' ')))) AS gram
            FROM w
        ),
        bset AS (SELECT DISTINCT gram FROM g WHERE doc_id < 50),
        tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM g
                WHERE doc_id >= 50 GROUP BY doc_id),
        ov AS (SELECT g.doc_id, COUNT(*) AS n_overlap
               FROM g JOIN bset ON g.gram = bset.gram
               WHERE g.doc_id >= 50 GROUP BY g.doc_id)
        SELECT t.doc_id, t.n_grams,
               COALESCE(ov.n_overlap, 0) AS n_overlap,
               CAST(COALESCE(ov.n_overlap, 0) AS DOUBLE)
                   / CAST(greatest(t.n_grams, 1) AS DOUBLE)
                   AS overlap_frac
        FROM tot t LEFT JOIN ov ON t.doc_id = ov.doc_id
    """,
    "q_rare_words": """
        WITH w AS (SELECT doc_id, string_split_regex(text, '\\s+') AS ws
                   FROM documents),
        t AS (SELECT doc_id, unnest(ws) AS tok FROM w),
        common AS (
            SELECT tok FROM (
                SELECT tok, COUNT(DISTINCT doc_id) AS dfc
                FROM t GROUP BY tok)
            WHERE dfc >= 3
        ),
        hits AS (SELECT t.doc_id, COUNT(*) AS ch
                 FROM t JOIN common ON t.tok = common.tok
                 GROUP BY t.doc_id),
        n AS (SELECT doc_id, len(ws) AS n_tokens FROM w)
        SELECT n.doc_id,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(n_tokens - COALESCE(ch, 0) AS BIGINT) AS n_rare,
               CAST(n_tokens - COALESCE(ch, 0) AS DOUBLE)
                   / CAST(greatest(n_tokens, 1) AS DOUBLE) AS rare_ratio
        FROM n LEFT JOIN hits ON n.doc_id = hits.doc_id
    """,
    "q_top_orders": """
        SELECT o_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS order_date,
               o_orderpriority,
               CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                             AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-06-01'
          AND l_shipdate > TIMESTAMP '1998-06-01'
        GROUP BY o_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderkey ASC
        LIMIT 10
    """,
    "q_region_revenue": """
        SELECT n_name,
               CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                             AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
                     AND s_nationkey = c_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY n_name
    """,
    "q_funnel": """
        WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS tns
                   FROM events),
        s0 AS (SELECT user_id, MIN(tns) AS t_0 FROM e
               WHERE event_type = 'view' GROUP BY user_id),
        s1 AS (SELECT e.user_id, MIN(tns) AS t_1
               FROM e JOIN s0 ON e.user_id = s0.user_id
               WHERE event_type = 'click' AND tns > s0.t_0
               GROUP BY e.user_id),
        s2 AS (SELECT e.user_id, MIN(tns) AS t_2
               FROM e JOIN s1 ON e.user_id = s1.user_id
               WHERE event_type = 'purchase' AND tns > s1.t_1
               GROUP BY e.user_id)
        SELECT s0.user_id, t_0, t_1, t_2,
               CAST(1 + CASE WHEN t_1 IS NULL THEN 0 ELSE 1 END
                      + CASE WHEN t_2 IS NULL THEN 0 ELSE 1 END
                    AS BIGINT) AS stages_reached
        FROM s0
        LEFT JOIN s1 ON s0.user_id = s1.user_id
        LEFT JOIN s2 ON s0.user_id = s2.user_id
    """,
    "q_retention_cohorts": f"""
        WITH e AS (SELECT user_id, epoch_ns(ts) AS tns FROM events),
        f AS (SELECT user_id, MIN(tns) AS ft FROM e GROUP BY user_id)
        SELECT ft // {7 * 86_400 * 10**9} AS cohort_period,
               (tns - ft) // {7 * 86_400 * 10**9} AS period_offset,
               COUNT(DISTINCT e.user_id) AS n_active
        FROM e JOIN f ON e.user_id = f.user_id
        GROUP BY 1, 2
    """,
    "q_frequent_items": """
        SELECT event_type, user_id, n_occurrences, rnk FROM (
            SELECT event_type, user_id, COUNT(*) AS n_occurrences,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY event_type
                       ORDER BY COUNT(*) DESC, user_id ASC
                   ) AS BIGINT) AS rnk
            FROM events GROUP BY event_type, user_id)
        WHERE rnk <= 3
    """,
    "q_chi_square": f"""
        WITH src AS (
            SELECT event_type,
                   (epoch_ns(ts) // {86_400 * 10**9}) % 7 AS weekday
            FROM events
        ),
        obs AS (
            SELECT event_type, weekday, COUNT(*) AS o
            FROM src GROUP BY event_type, weekday
        ),
        grid AS (
            SELECT a.event_type, b.weekday
            FROM (SELECT DISTINCT event_type FROM obs) a
            CROSS JOIN (SELECT DISTINCT weekday FROM obs) b
        ),
        cells AS (
            SELECT grid.event_type, grid.weekday,
                   COALESCE(obs.o, 0) AS observed
            FROM grid
            LEFT JOIN obs ON grid.event_type = obs.event_type
                         AND grid.weekday = obs.weekday
        ),
        ra AS (SELECT event_type, SUM(observed) AS r FROM cells
               GROUP BY event_type),
        rb AS (SELECT weekday, SUM(observed) AS c FROM cells
               GROUP BY weekday),
        t AS (SELECT SUM(observed) AS n FROM cells)
        SELECT cells.event_type, cells.weekday, cells.observed,
               CAST(r AS DOUBLE) * CAST(c AS DOUBLE)
                   / CAST(n AS DOUBLE) AS expected,
               (CAST(observed AS DOUBLE)
                - CAST(r AS DOUBLE) * CAST(c AS DOUBLE)
                      / CAST(n AS DOUBLE))
               * (CAST(observed AS DOUBLE)
                  - CAST(r AS DOUBLE) * CAST(c AS DOUBLE)
                        / CAST(n AS DOUBLE))
               / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE)
                      / CAST(n AS DOUBLE)) AS contribution
        FROM cells
        JOIN ra ON cells.event_type = ra.event_type
        JOIN rb ON cells.weekday = rb.weekday
        CROSS JOIN t
    """,
    "q_twap": f"""
        WITH d AS (
            SELECT user_id,
                   CAST(value AS DECIMAL(19,4)) AS v,
                   (lead(epoch_ns(ts)) OVER (
                        PARTITION BY user_id
                        ORDER BY epoch_ns(ts), event_id)
                    - epoch_ns(ts)) // {10**9} AS dur
            FROM events
        ),
        agg AS (
            SELECT user_id,
                   CAST(COUNT(*) AS BIGINT) AS n_obs,
                   CAST(SUM(v * CAST(dur AS DECIMAL(11,0))) AS DOUBLE)
                       / CAST(SUM(dur) AS DOUBLE) AS twap
            FROM d WHERE dur IS NOT NULL AND dur > 0
            GROUP BY user_id
        )
        SELECT u.user_id,
               COALESCE(agg.n_obs, 0) AS n_obs,
               agg.twap
        FROM (SELECT DISTINCT user_id FROM events) u
        LEFT JOIN agg ON u.user_id = agg.user_id
    """,
    "q_impute": """
        WITH m AS (
            SELECT event_id, event_type,
                   CASE WHEN value >= 2.0 THEN value END AS value_masked
            FROM events
        ),
        f AS (
            SELECT event_type,
                   CAST(SUM(CAST(value_masked AS DECIMAL(19,4)))
                        AS DOUBLE)
                       / CAST(COUNT(value_masked) AS DOUBLE) AS fill
            FROM m GROUP BY event_type
        )
        SELECT event_id, m.event_type, value_masked,
               COALESCE(value_masked, fill) AS value_imputed
        FROM m JOIN f ON m.event_type = f.event_type
    """,
    "q_one_hot": """
        SELECT event_id, event_type,
               CASE WHEN event_type = 'view' THEN 1 ELSE 0 END
                   AS is_view,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END
                   AS is_click,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                   AS is_purchase
        FROM events
    """,
    "q_top_paths": """
        WITH s AS (
            SELECT event_type AS a,
                   lead(event_type, 1) OVER w AS b,
                   lead(event_type, 2) OVER w AS c
            FROM events
            WINDOW w AS (PARTITION BY user_id
                         ORDER BY epoch_ns(ts), event_id)
        ),
        p AS (
            SELECT a || ' -> ' || b || ' -> ' || c AS path,
                   COUNT(*) AS n_occurrences
            FROM s WHERE c IS NOT NULL
            GROUP BY 1
        )
        SELECT path, n_occurrences, rnk FROM (
            SELECT path, n_occurrences,
                   CAST(ROW_NUMBER() OVER (
                       ORDER BY n_occurrences DESC, path ASC)
                   AS BIGINT) AS rnk
            FROM p)
        WHERE rnk <= 10
    """,
    "q_dwell_times": """
        WITH d AS (
            SELECT event_type,
                   lead(epoch_ns(ts)) OVER (
                       PARTITION BY user_id
                       ORDER BY epoch_ns(ts), event_id)
                   - epoch_ns(ts) AS dwell
            FROM events
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_dwells,
               quantile_cont(dwell, 0.5) AS p50_ns,
               quantile_cont(dwell, 0.9) AS p90_ns,
               MAX(dwell) AS max_ns
        FROM d WHERE dwell IS NOT NULL
        GROUP BY event_type
    """,
    "q_transitions": """
        WITH s AS (
            SELECT event_type AS from_type,
                   lead(event_type) OVER (
                       PARTITION BY user_id
                       ORDER BY epoch_ns(ts), event_id) AS to_type
            FROM events
        ),
        pairs AS (
            SELECT from_type, to_type, COUNT(*) AS n_transitions
            FROM s WHERE to_type IS NOT NULL
            GROUP BY from_type, to_type
        ),
        tot AS (SELECT from_type, SUM(n_transitions) AS t FROM pairs
                GROUP BY from_type)
        SELECT p.from_type, p.to_type, p.n_transitions,
               CAST(p.n_transitions AS DOUBLE) / CAST(t AS DOUBLE)
                   AS p_transition
        FROM pairs p JOIN tot ON p.from_type = tot.from_type
    """,
    "q_growth_accounting": f"""
        WITH ep AS (
            SELECT DISTINCT user_id,
                   epoch_ns(ts) // {7 * 86_400 * 10**9} AS p
            FROM events
        ),
        f AS (SELECT user_id, MIN(p) AS first_p FROM ep
              GROUP BY user_id),
        pa AS (SELECT user_id, p + 1 AS p FROM ep),
        cl AS (
            SELECT ep.p,
                   CASE WHEN ep.p = f.first_p THEN 'new'
                        WHEN pa.user_id IS NOT NULL THEN 'retained'
                        ELSE 'resurrected' END AS status
            FROM ep
            JOIN f ON ep.user_id = f.user_id
            LEFT JOIN pa ON pa.user_id = ep.user_id AND pa.p = ep.p
        ),
        per AS (
            SELECT p,
                   SUM(CASE WHEN status = 'new' THEN 1 ELSE 0 END)
                       AS n_new,
                   SUM(CASE WHEN status = 'retained' THEN 1 ELSE 0 END)
                       AS n_retained,
                   SUM(CASE WHEN status = 'resurrected' THEN 1
                       ELSE 0 END) AS n_resurrected
            FROM cl GROUP BY p
        ),
        ch AS (
            SELECT pa.p, CAST(COUNT(*) AS BIGINT) AS n_churned
            FROM pa
            WHERE NOT EXISTS (
                      SELECT 1 FROM ep e2
                      WHERE e2.user_id = pa.user_id AND e2.p = pa.p)
              AND pa.p IN (SELECT DISTINCT p FROM ep)
            GROUP BY pa.p
        )
        SELECT per.p AS period,
               CAST(n_new AS BIGINT) AS n_new,
               CAST(n_retained AS BIGINT) AS n_retained,
               CAST(n_resurrected AS BIGINT) AS n_resurrected,
               COALESCE(ch.n_churned, 0) AS n_churned
        FROM per LEFT JOIN ch ON per.p = ch.p
    """,
    "q_retention_curve": f"""
        WITH e AS (SELECT user_id, epoch_ns(ts) AS tns FROM events),
        f AS (SELECT user_id, MIN(tns) AS ft FROM e GROUP BY user_id),
        ret AS (
            SELECT ft // {7 * 86_400 * 10**9} AS cohort_period,
                   (tns - ft) // {7 * 86_400 * 10**9} AS period_offset,
                   COUNT(DISTINCT e.user_id) AS n_active
            FROM e JOIN f ON e.user_id = f.user_id
            GROUP BY 1, 2
        ),
        sizes AS (
            SELECT cohort_period, n_active AS cohort_size FROM ret
            WHERE period_offset = 0
        ),
        mx AS (SELECT MAX(cohort_period + period_offset) AS max_p
               FROM ret),
        grid AS (
            SELECT cohort_period, cohort_size,
                   unnest(range(0, max_p - cohort_period + 1))
                       AS period_offset
            FROM sizes CROSS JOIN mx
        )
        SELECT g.period_offset,
               CAST(SUM(COALESCE(r.n_active, 0)) AS BIGINT) AS n_active,
               CAST(SUM(g.cohort_size) AS BIGINT) AS n_eligible,
               CAST(SUM(COALESCE(r.n_active, 0)) AS DOUBLE)
                   / CAST(SUM(g.cohort_size) AS DOUBLE)
                   AS retention_rate
        FROM grid g
        LEFT JOIN ret r ON g.cohort_period = r.cohort_period
                       AND g.period_offset = r.period_offset
        GROUP BY g.period_offset
    """,
    "q_active_users": f"""
        WITH ed AS (
            SELECT DISTINCT user_id,
                   epoch_ns(ts) // {86_400 * 10**9} AS day
            FROM events
        ),
        today AS (
            SELECT day, COUNT(DISTINCT user_id) AS n_active_today
            FROM ed GROUP BY day
        ),
        contrib AS (
            SELECT user_id, unnest(range(day, day + 7)) AS wday
            FROM ed
        ),
        win AS (
            SELECT wday, COUNT(DISTINCT user_id) AS n_active_window
            FROM contrib GROUP BY wday
        )
        SELECT t.day, t.n_active_today, w.n_active_window
        FROM today t JOIN win w ON t.day = w.wday
    """,
    "q_gap_fill": f"""
        WITH e AS (SELECT user_id, epoch_ns(ts) // {86_400 * 10**9} AS day,
                          value
                   FROM events),
        daily AS (
            SELECT user_id, day, COUNT(*) AS n_events,
                   SUM(CAST(value AS DECIMAL(18,6))) AS sd
            FROM e GROUP BY user_id, day
        ),
        span AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
                 FROM daily GROUP BY user_id),
        grid AS (SELECT user_id, unnest(range(d0, d1 + 1)) AS day
                 FROM span)
        SELECT g.user_id, g.day,
               COALESCE(d.n_events, 0) AS n_events,
               CAST(last_value(d.sd IGNORE NULLS) OVER (
                   PARTITION BY g.user_id ORDER BY g.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS DOUBLE) AS sum_value_ffill
        FROM grid g
        LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day
    """,
    "q_zscore": """
        WITH m AS (
            SELECT l_returnflag,
                   COUNT(l_extendedprice) AS n,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4)))
                        AS DOUBLE) AS sx,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4))
                            * CAST(l_extendedprice AS DECIMAL(19,4)))
                        AS DOUBLE) AS sxx
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_orderkey, l_linenumber, l.l_returnflag,
               CASE WHEN n <= 1 OR
                         (sxx - sx * sx / CAST(n AS DOUBLE))
                             / (CAST(n AS DOUBLE) - 1.0) <= 0.0
                    THEN 0.0
                    ELSE (CAST(l_extendedprice AS DOUBLE)
                          - sx / CAST(n AS DOUBLE))
                         / sqrt((sxx - sx * sx / CAST(n AS DOUBLE))
                                / (CAST(n AS DOUBLE) - 1.0))
               END AS price_z
        FROM lineitem l JOIN m ON l.l_returnflag = m.l_returnflag
    """,
    "q_moments": """
        WITH cc AS (
            SELECT l_returnflag,
                   CAST(round(CAST(l_extendedprice AS DOUBLE) * 100)
                        AS BIGINT) AS c
            FROM lineitem WHERE l_extendedprice IS NOT NULL
        ),
        a AS (
            SELECT l_returnflag,
                   COUNT(*) AS n_rows,
                   SUM(CAST(c AS DECIMAL(18,0))) AS s1,
                   SUM(CAST(c * c AS DECIMAL(20,0))) AS s2,
                   SUM(CAST(c * c AS DECIMAL(19,0))
                       * CAST(c AS DECIMAL(19,0))) AS s3,
                   SUM(CAST(c * c AS DECIMAL(19,0))
                       * CAST(c * c AS DECIMAL(19,0))) AS s4
            FROM cc GROUP BY l_returnflag
        ),
        d AS (
            SELECT l_returnflag, n_rows,
                   CAST(n_rows AS DOUBLE) AS n,
                   CAST(s1 AS DOUBLE) / 100.0 AS s1d,
                   CAST(s2 AS DOUBLE) / 10000.0 AS s2d,
                   CAST(s3 AS DOUBLE) / 1000000.0 AS s3d,
                   CAST(s4 AS DOUBLE) / 100000000.0 AS s4d
            FROM a
        ),
        m AS (
            SELECT *,
                   s1d / n AS mean,
                   s2d / n - (s1d / n) * (s1d / n) AS m2
            FROM d
        )
        SELECT l_returnflag, n_rows,
               mean,
               CASE WHEN n_rows >= 2
                    THEN (s2d - s1d * s1d / n) / (n - 1.0) END
                   AS var_samp,
               CASE WHEN n_rows >= 3 AND m2 > 0.0
                    THEN ((s3d / n - (3.0 * mean) * (s2d / n))
                          + ((2.0 * mean) * mean) * mean)
                         / sqrt((m2 * m2) * m2)
                         * sqrt(n * (n - 1.0)) / (n - 2.0) END
                   AS skewness,
               CASE WHEN n_rows >= 4 AND m2 > 0.0
                    THEN (((s4d / n - (4.0 * mean) * (s3d / n))
                           + (((6.0 * mean) * mean) * (s2d / n)))
                          - (((3.0 * mean) * mean) * mean) * mean)
                         / (m2 * m2) - 3.0 END
                   AS kurtosis_excess
        FROM m
    """,
    "q_clustering_coeff": f"""
        WITH {_ngram_pair_ctes()},
        e AS (SELECT id_a AS u, id_b AS v FROM pairs),
        t AS (
            SELECT e1.u AS a, e1.v AS b, e2.v AS c
            FROM e e1
            JOIN e e2 ON e2.u = e1.v
            JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
        ),
        tri AS (
            SELECT vertex, COUNT(*) AS n_t FROM (
                SELECT a AS vertex FROM t
                UNION ALL SELECT b FROM t
                UNION ALL SELECT c FROM t)
            GROUP BY vertex
        ),
        deg AS (
            SELECT vertex, COUNT(*) AS d FROM (
                SELECT u AS vertex FROM e
                UNION ALL SELECT v FROM e)
            GROUP BY vertex
        )
        SELECT deg.vertex,
               CAST(d AS BIGINT) AS degree,
               CAST(COALESCE(n_t, 0) AS BIGINT) AS n_triangles,
               CASE WHEN d < 2 THEN 0.0
                    ELSE 2.0 * CAST(COALESCE(n_t, 0) AS DOUBLE)
                         / (CAST(d AS DOUBLE)
                            * (CAST(d AS DOUBLE) - 1.0)) END
                   AS clustering_coeff
        FROM deg LEFT JOIN tri ON deg.vertex = tri.vertex
    """,
    "q_media_dedup": """
        WITH m AS (
            SELECT doc_id AS media_id, text FROM documents
            UNION ALL
            SELECT doc_id + 100000 AS media_id, text FROM documents
            WHERE doc_id < 20
        )
        SELECT MIN(media_id) AS media_id,
               md5(text) AS content_hash,
               COUNT(*) AS n_copies
        FROM m GROUP BY md5(text)
    """,
    "q_triangles": f"""
        WITH {_ngram_pair_ctes()},
        e AS (SELECT id_a AS u, id_b AS v FROM pairs),
        t AS (
            SELECT e1.u AS a, e1.v AS b, e2.v AS c
            FROM e e1
            JOIN e e2 ON e2.u = e1.v
            JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
        )
        SELECT vertex, COUNT(*) AS n_triangles FROM (
            SELECT a AS vertex FROM t
            UNION ALL SELECT b FROM t
            UNION ALL SELECT c FROM t)
        GROUP BY vertex
    """,
    "q_dedup_clusters": f"""
        WITH RECURSIVE {_ngram_pair_ctes()},
        edges AS (
            SELECT id_a AS s, id_b AS d FROM pairs
            UNION
            SELECT id_b AS s, id_a AS d FROM pairs
        ),
        reach(id, r) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT reach.id, e.d FROM reach JOIN edges e ON reach.r = e.s
        )
        SELECT id AS doc_id, MIN(r) AS component
        FROM reach GROUP BY id
    """,
    "q_decontaminate": """
        WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                   FROM documents),
        g AS (
            SELECT doc_id, unnest(list_transform(
                range(1, greatest(len(ws) - 4, 1) + 1),
                s -> array_to_string(ws[s:s+4], ' '))) AS gram
            FROM w
        ),
        bad AS (
            SELECT DISTINCT t.doc_id
            FROM g t
            JOIN (SELECT DISTINCT gram FROM g WHERE doc_id < 50) b
              ON t.gram = b.gram
            WHERE t.doc_id >= 50
        )
        SELECT doc_id, n_chars FROM documents
        WHERE doc_id >= 50
          AND doc_id NOT IN (SELECT doc_id FROM bad)
    """,
    "q_chunk_docs": """
        WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                   FROM documents),
        s AS (
            SELECT doc_id, ws,
                   CAST(1 + floor((greatest(len(ws) - 32, 0) + 23) / 24.0)
                        AS INT) AS n_starts
            FROM w
        ),
        c AS (SELECT doc_id, ws, unnest(range(0, n_starts)) AS chunk_id
              FROM s)
        SELECT doc_id,
               CAST(chunk_id AS INT) AS chunk_id,
               CAST(len(ws[chunk_id*24+1 : chunk_id*24+32]) AS INT)
                   AS n_chunk_tokens,
               array_to_string(ws[chunk_id*24+1 : chunk_id*24+32], ' ')
                   AS chunk_text
        FROM c
    """,
    "q_pii_scrub": f"""
        WITH a AS (SELECT doc_id, {_PII_AUG} AS t FROM documents)
        SELECT doc_id,
               regexp_replace(regexp_replace(regexp_replace(t,
                   '{_EMAIL_SQL}', '<EMAIL>', 'g'),
                   '{_PHONE_SQL}', '<PHONE>', 'g'),
                   '{_LONGNUM_SQL}', '<NUM>', 'g') AS clean_text,
               CAST(len(regexp_extract_all(t, '{_EMAIL_SQL}')) AS INT)
                   AS n_emails,
               CAST(len(regexp_extract_all(t, '{_PHONE_SQL}')) AS INT)
                   AS n_phones,
               CAST(len(regexp_extract_all(t, '{_LONGNUM_SQL}')) AS INT)
                   AS n_longnums
        FROM a
    """,
    "q_repetition": """
        WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                   FROM documents),
        pw AS (
            SELECT doc_id, word, COUNT(*) AS c
            FROM (SELECT doc_id, unnest(ws) AS word FROM w)
            GROUP BY doc_id, word
        ),
        pd AS (
            SELECT doc_id, SUM(c) AS n, COUNT(*) AS nu, MAX(c) AS top
            FROM pw GROUP BY doc_id
        ),
        ng AS (
            SELECT doc_id,
                   CASE WHEN len(ws) >= 2 THEN len(ws) - 1
                        ELSE 0 END AS ngr,
                   CASE WHEN len(ws) >= 2
                        THEN len(list_distinct(list_transform(
                            range(1, len(ws)),
                            i -> ws[i] || ' ' || ws[i+1])))
                        ELSE 0 END AS nug
            FROM w
        )
        SELECT pd.doc_id,
               CAST(n AS BIGINT) AS n_words,
               CAST(nu AS DOUBLE) / n AS uniq_ratio,
               CAST(top AS DOUBLE) / n AS top_word_frac,
               CASE WHEN ngr > 0
                    THEN 1.0 - CAST(nug AS DOUBLE) / ngr
                    ELSE 0.0 END AS dup_bigram_frac
        FROM pd JOIN ng ON ng.doc_id = pd.doc_id
    """,
    "q_seq_pack": """
        WITH t AS (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT)
                       AS n_tokens
            FROM documents
        ),
        c AS (
            SELECT doc_id, n_tokens,
                   COALESCE(SUM(n_tokens) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS prefix
            FROM t
        )
        SELECT doc_id, n_tokens,
               CAST(prefix // 256 AS BIGINT) AS pack_id,
               CAST(prefix % 256 AS BIGINT) AS offset_in_pack
        FROM c
    """,
    "q_json_extract": """
        SELECT event_type,
               COUNT(*) AS n,
               COUNT(CAST(json_extract_string(props, '$.k') AS INTEGER))
                   AS n_present,
               MIN(CAST(json_extract_string(props, '$.k') AS INTEGER))
                   AS min_v,
               MAX(CAST(json_extract_string(props, '$.k') AS INTEGER))
                   AS max_v,
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER))
                   AS BIGINT) AS sum_v
        FROM events GROUP BY event_type
    """,
    "q_dup_spans": """
        WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                   FROM documents),
        g AS (
            SELECT doc_id, unnest(list_transform(
                range(1, greatest(len(ws) - 7, 1) + 1),
                s -> {'start': CAST(s - 1 AS BIGINT),
                      'gram': array_to_string(ws[s:s+7], ' ')})) AS u
            FROM w
        ),
        c AS (SELECT doc_id, u.start AS start, u.gram AS gram,
                     COUNT(*) OVER (PARTITION BY u.gram) AS n_occ
              FROM g)
        SELECT doc_id, start, gram, n_occ FROM c WHERE n_occ >= 2
    """,
    "q_dedup_resolve": f"""
        WITH RECURSIVE {_ngram_pair_ctes()},
        edges AS (
            SELECT id_a AS s, id_b AS d FROM pairs
            UNION
            SELECT id_b AS s, id_a AS d FROM pairs
        ),
        reach(id, r) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT reach.id, e.d FROM reach JOIN edges e ON reach.r = e.s
        ),
        comp AS (
            SELECT id AS doc_id, MIN(r) AS component
            FROM reach GROUP BY id
        )
        SELECT d.doc_id, d.source, d.n_chars
        FROM documents d JOIN comp c
          ON d.doc_id = c.doc_id AND d.doc_id = c.component
    """,
    "q_domain_cap": """
        WITH t AS (
            SELECT doc_id, source,
                   CAST(len(string_split(text, ' ')) AS BIGINT)
                       AS n_tokens
            FROM documents
        ),
        c AS (
            SELECT doc_id, source, n_tokens,
                   CAST(SUM(n_tokens) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS BIGINT)
                       AS cum_tokens
            FROM t
        )
        SELECT doc_id, source, n_tokens, cum_tokens
        FROM c WHERE cum_tokens <= 800
    """,
    "q_sessionize": """
        WITH e AS (
            SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
            FROM events
        ),
        m AS (
            SELECT *,
                   CASE WHEN lag(ts_us) OVER w IS NULL
                             OR ts_us - lag(ts_us) OVER w > 1800000000
                        THEN 1 ELSE 0 END AS new_s
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        ),
        s AS (
            SELECT *,
                   CAST(SUM(new_s) OVER (
                       PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS UNBOUNDED PRECEDING
                   ) - 1 AS BIGINT) AS session_id
            FROM m
        )
        SELECT user_id, session_id,
               COUNT(*) AS n_events,
               MIN(ts_us) AS session_start_us,
               MAX(ts_us) AS session_end_us,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                   AS sum_value
        FROM s GROUP BY user_id, session_id
    """,
    "q_ngram_bigrams": """
        WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
        g AS (
            SELECT unnest(list_transform(
                range(1, len(ws)), i -> ws[i] || ' ' || ws[i + 1]
            )) AS ngram
            FROM w
        )
        SELECT ngram, COUNT(*) AS n
        FROM g GROUP BY ngram
        ORDER BY n DESC, ngram ASC LIMIT 20
    """,
    "q_tfidf": """
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents
        ),
        tf AS (
            SELECT doc_id, term, COUNT(*) AS tf
            FROM toks WHERE term <> '' GROUP BY doc_id, term
        ),
        dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n
              FROM documents)
        SELECT doc_id, term, score, rank FROM (
            SELECT tf.doc_id, tf.term,
                   CAST(tf.tf AS DOUBLE) * (SELECT n FROM n)
                       / CAST(dfq.df AS DOUBLE) AS score,
                   CAST(row_number() OVER (
                       PARTITION BY tf.doc_id
                       ORDER BY CAST(tf.tf AS DOUBLE) * (SELECT n FROM n)
                                    / CAST(dfq.df AS DOUBLE) DESC,
                                tf.term ASC
                   ) AS BIGINT) AS rank
            FROM tf JOIN dfq USING (term)
        ) WHERE rank <= 3
    """,
    "q_pivot_events": """
        SELECT user_id,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                   AS BIGINT) AS click,
               CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                   AS BIGINT) AS error,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS BIGINT) AS purchase,
               CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                   AS BIGINT) AS signup,
               CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                   AS BIGINT) AS view
        FROM events GROUP BY user_id
    """,
    "q_sample_stratified": """
        SELECT doc_id, lang, source, n_chars
        FROM documents
        WHERE doc_id % 100 < CASE lang
            WHEN 'en' THEN 50 WHEN 'zh' THEN 100 ELSE 20 END
    """,
    "q_dedup_keep_best": """
        SELECT text_hash, doc_id, n_chars, dup_cnt FROM (
            SELECT md5(text) AS text_hash, doc_id, n_chars,
                   row_number() OVER (
                       PARTITION BY md5(text)
                       ORDER BY n_chars DESC, doc_id ASC
                   ) AS rk,
                   CAST(COUNT(*) OVER (PARTITION BY md5(text)) AS BIGINT)
                       AS dup_cnt
            FROM documents
        ) WHERE rk = 1
    """,
    "q_scan_parquet": "SELECT * FROM part",
    "q_scan_where": """
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        FROM orders
        WHERE o_totalprice > 200000 AND o_orderstatus = 'F'
    """,
    "q_project": "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem",
    "q_lit_cols": """
        SELECT c_custkey,
               6 AS h3_resolution,
               CAST(1.0 AS DOUBLE) AS ratio,
               1 AS total_count
        FROM customer
    """,
    "q_mul_ratio": """
        SELECT l_orderkey,
               l_linenumber,
               l_extendedprice * (1.0 - l_discount) AS disc_price,
               l_quantity * 0.5 AS half_qty
        FROM lineitem
    """,
    "q_filter_notnull": """
        SELECT o_orderkey, NULLIF(o_orderpriority, '1-URGENT') AS priority_opt
        FROM orders
        WHERE NULLIF(o_orderpriority, '1-URGENT') IS NOT NULL
    """,
    "q_join_left_small": """
        SELECT l_orderkey, l_linenumber, l_partkey, p_brand
        FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
    """,
    "q_join_left_attr": """
        SELECT o_custkey, o_orderkey, c_acctbal
        FROM orders LEFT JOIN customer ON o_custkey = c_custkey
    """,
    "q_join_full_outer": """
        WITH cust AS (
            SELECT c_nationkey AS nationkey,
                   CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
                       AS sum_cust_bal
            FROM customer GROUP BY c_nationkey
        ),
        supp AS (
            SELECT s_nationkey AS nationkey,
                   CAST(SUM(CAST(s_acctbal AS DECIMAL(18,6))) AS DOUBLE)
                       AS sum_supp_bal
            FROM supplier GROUP BY s_nationkey
        )
        SELECT nationkey, sum_cust_bal, sum_supp_bal
        FROM cust FULL OUTER JOIN supp USING (nationkey)
    """,
    "q_groupby_sum": """
        SELECT l_returnflag,
               l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
                   AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
                   AS sum_base_price,
               CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                             AS DECIMAL(18,6))) AS DOUBLE)
                   AS sum_disc_price
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
    """,
    "q_join_semi": """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders o
        WHERE EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey AND l.l_extendedprice > 50000
        )
    """,
    "q_join_anti": """
        SELECT c_custkey, c_name
        FROM customer c
        WHERE NOT EXISTS (
            SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        )
    """,
    "q_quantiles": """
        SELECT l_returnflag,
               quantile_cont(l_extendedprice, 0.25) AS p25,
               quantile_cont(l_extendedprice, 0.5) AS p50,
               quantile_cont(l_extendedprice, 0.75) AS p75,
               quantile_cont(l_extendedprice, 0.95) AS p95
        FROM lineitem GROUP BY l_returnflag
    """,
    "q_groupby_stats": """
        SELECT l_returnflag,
               COUNT(*) AS n_rows,
               MIN(l_extendedprice) AS min_price,
               MAX(l_extendedprice) AS max_price,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
                   / COUNT(*) AS avg_qty
        FROM lineitem
        GROUP BY l_returnflag
    """,
    "q_rollup": """
        SELECT l_returnflag,
               l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
                   AS sum_qty,
               COUNT(*) AS n_rows
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    "q_cube": """
        SELECT l_returnflag,
               l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
                   AS sum_qty,
               COUNT(*) AS n_rows
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    "q_distinct": "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    "q_count": "SELECT COUNT(*) AS cnt FROM lineitem",
    "q_count_distinct": """
        SELECT COUNT(*) AS total_rows,
               COUNT(DISTINCT c_custkey) AS distinct_ids
        FROM customer
    """,
    "q_first": """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders ORDER BY o_orderkey ASC LIMIT 1
    """,
    "q_explode": """
        SELECT p_partkey, unnest(string_split(p_type, ' ')) AS type_word
        FROM part
    """,
    "q_union": """
        SELECT c_custkey AS entity_id, c_acctbal AS balance,
               'customer' AS kind
        FROM customer
        UNION ALL
        SELECT s_suppkey AS entity_id, s_acctbal AS balance,
               'supplier' AS kind
        FROM supplier
    """,
    "q_intersect": """
        SELECT CAST(c_nationkey AS INTEGER) AS nationkey FROM customer
        INTERSECT
        SELECT CAST(s_nationkey AS INTEGER) AS nationkey FROM supplier
    """,
    "q_except": """
        SELECT CAST(c_nationkey AS INTEGER) AS nationkey FROM customer
        EXCEPT
        SELECT CAST(s_nationkey AS INTEGER) AS nationkey FROM supplier
    """,
    "q_sort_limit": """
        SELECT o_orderkey, o_totalprice
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey ASC
        LIMIT 20
    """,
    "q_topk_window": """
        SELECT * FROM (
            SELECT o_orderpriority, o_orderkey, o_totalprice,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY o_orderpriority
                       ORDER BY o_totalprice DESC, o_orderkey ASC
                   ) AS BIGINT) AS rn
            FROM orders
        ) WHERE rn <= 3
    """,
    "q_asof_join": """
        WITH clicks AS (SELECT * FROM events WHERE event_type = 'click'),
             errors AS (SELECT * FROM events WHERE event_type = 'error')
        SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us, c.value,
               e.value AS asof_value
        FROM clicks c ASOF LEFT JOIN errors e
          ON c.user_id = e.user_id AND c.ts >= e.ts
    """,
    "q_range_join": """
        WITH bands(band_id, lo, hi) AS (VALUES
            (CAST(0 AS INTEGER), 0.0, 50000.0),
            (1, 50000.0, 100000.0),
            (2, 100000.0, 150000.0),
            (3, 150000.0, 250000.0),
            (4, 250000.0, 600000.0),
            (5, 200000.0, 400000.0))
        SELECT band_id,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                   AS sum_price
        FROM orders o JOIN bands b
          ON CAST(o.o_totalprice AS DOUBLE) >= b.lo
         AND CAST(o.o_totalprice AS DOUBLE) < b.hi
        GROUP BY band_id
    """,
    "q_window_lag": """
        SELECT event_id, user_id, value,
               LAG(value) OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ) AS prev_value
        FROM events
    """,
    "q_window_tumbling": """
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
                   AS window_start,
               event_type,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
               COUNT(*) AS n_events
        FROM events
        GROUP BY date_trunc('hour', ts), event_type
    """,
    "q_text_stats": """
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS char_len,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS word_cnt,
               CAST(length(regexp_replace(text, '[^aeiou]', '', 'g'))
                    AS BIGINT) AS vowel_cnt
        FROM documents
    """,
    "q_dedup_exact": """
        SELECT md5(text) AS text_hash,
               MIN(doc_id) AS keep_id,
               COUNT(*) AS dup_cnt
        FROM documents
        GROUP BY md5(text)
    """,
    "q_knn_brute": _knn_oracle(),
    "q_knn_ivfpq_rerank": _ivfpq_rerank_oracle(),
    "q_bpe_pairs": _bpe_pairs_oracle(),
    "q_bm25": _bm25_oracle(),
    "q_assoc_rules": _ASSOC_RULES_ORACLE,
    "q_gini": _GINI_ORACLE,
    "q_rfm": _RFM_ORACLE,
    "q_hll_registers": _HLL_ORACLE,
    "q_survival": _survival_oracle(),
    "q_skyline": _SKYLINE_ORACLE,
    "q_lm_score": _LM_SCORE_ORACLE,
    "q_feature_hash": _feature_hash_oracle(),
    "q_knn_lsh": _lsh_oracle(),
    "q_dedup_embedding": _dedup_embedding_oracle(),
    "q_dedup_embedding_lsh": _dedup_embedding_lsh_oracle(),
    "q_token_count": """
        SELECT doc_id,
               CAST(len(string_split_regex(text, '\\s+')) AS BIGINT)
                   AS n_tokens_ws,
               CAST(len(regexp_extract_all(text, '(\\w+|[^\\w\\s])', 1))
                   AS BIGINT) AS n_tokens_re,
               CAST(length(text) AS DOUBLE)
                   / greatest(len(regexp_extract_all(text,
                                  '(\\w+|[^\\w\\s])', 1)), 1)
                   AS bytes_per_token
        FROM documents
    """,
    "q_lang_id": _lang_oracle(),
    "q_quality_score": _quality_oracle(),
    "q_corpus_curation": f"""
        WITH qual AS ({_quality_oracle()}),
             lang AS ({_lang_oracle()}),
             tok AS (
                 SELECT doc_id,
                        CAST(len(regexp_extract_all(text,
                             '(\\w+|[^\\w\\s])', 1)) AS BIGINT)
                            AS n_tokens_re
                 FROM documents
             ),
             keep AS (
                 SELECT MIN(doc_id) AS doc_id
                 FROM documents GROUP BY md5(text)
             )
        SELECT k.doc_id, lang.lang_pred, qual.quality, tok.n_tokens_re
        FROM keep k
        JOIN qual ON qual.doc_id = k.doc_id
        JOIN lang ON lang.doc_id = k.doc_id
        JOIN tok ON tok.doc_id = k.doc_id
        WHERE qual.quality >= 0.5 AND lang.lang_pred = 'en'
    """,
    "q_knn_batch": _knn_batch_oracle(),
    "q_media_meta": """
        SELECT doc_id AS media_id,
               CAST(8 AS INTEGER) AS width,
               CAST(8 AS INTEGER) AS height,
               CAST(3 AS INTEGER) AS channels,
               'fake/raw' AS format
        FROM documents
    """,
    "q_media_audio": """
        SELECT doc_id AS media_id,
               CAST(16000 AS INTEGER) AS sample_rate,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_samples,
               CAST(1 AS INTEGER) AS n_channels,
               CAST(octet_length(encode(text)) AS DOUBLE) / 16000.0
                   AS duration_s
        FROM documents
    """,
    "q_clean_lines": """
        WITH d AS (
            SELECT doc_id,
                   replace(text, ' table ', chr(10) || 'table ') AS t
            FROM documents
        ),
        l AS (SELECT doc_id, string_split(t, chr(10)) AS ls FROM d),
        k AS (
            SELECT doc_id, ls,
                   -- string_split_regex(' +') mirrors clean_lines'
                   -- F.split(trim(line), ' +'): runs of spaces never
                   -- produce empty tokens in either engine
                   list_filter(ls, x ->
                       len(trim(x)) > 0
                       AND len(string_split_regex(trim(x), ' +')) >= 3
                       AND NOT contains(lower(x), 'join')
                       AND NOT contains(lower(x), 'vector')) AS ks
            FROM l
        )
        SELECT doc_id,
               -- array_to_string([]) is NULL in DuckDB, '' in Spark
               COALESCE(array_to_string(ks, chr(10)), '') AS clean_text,
               CAST(len(ls) AS BIGINT) AS n_lines,
               CAST(len(ks) AS BIGINT) AS n_kept_lines
        FROM k
    """,
    "q_dedup_windowed": """
        WITH e AS (
            SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
            FROM events
        ),
        r AS (
            SELECT *,
                   row_number() OVER (
                       PARTITION BY user_id, event_type,
                                    ts_us - (ts_us % 3600000000)
                       ORDER BY ts_us, event_id
                   ) AS rn
            FROM e
        )
        SELECT event_id, user_id, event_type, ts_us FROM r WHERE rn = 1
    """,
    "q_interval_join": """
        WITH e AS (
            SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type
            FROM events
        ),
        m AS (
            SELECT *,
                   CASE WHEN lag(ts_us) OVER w IS NULL
                             OR ts_us - lag(ts_us) OVER w > 1800000000
                        THEN 1 ELSE 0 END AS new_s
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        ),
        s AS (
            SELECT *,
                   CAST(SUM(new_s) OVER (
                       PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS UNBOUNDED PRECEDING
                   ) - 1 AS BIGINT) AS session_id
            FROM m
        ),
        sess AS (
            SELECT user_id, session_id,
                   MIN(ts_us) AS s_lo, MAX(ts_us) + 1 AS s_hi
            FROM s GROUP BY user_id, session_id
        ),
        win AS (
            SELECT DISTINCT
                   CAST(floor(ts_us / 3600000000.0) * 3600000000 AS BIGINT)
                       AS w_lo
            FROM e WHERE event_type = 'error'
        )
        SELECT sess.user_id, sess.session_id, win.w_lo AS win_start_us
        FROM sess JOIN win
          ON sess.s_lo < win.w_lo + 3600000000
         AND win.w_lo < sess.s_hi
    """,
    "q_window_rank": """
        SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice,
               rnk, drnk, prnk
        FROM (
            SELECT l_orderkey, l_linenumber, l_returnflag,
                   l_extendedprice,
                   RANK() OVER w AS rnk,
                   DENSE_RANK() OVER w AS drnk,
                   PERCENT_RANK() OVER w AS prnk
            FROM lineitem
            WINDOW w AS (PARTITION BY l_returnflag
                         ORDER BY l_extendedprice DESC)
        ) WHERE rnk <= 100
    """,
    "q_window_sliding": """
        WITH e AS (SELECT epoch_us(ts) AS us, value FROM events),
        hops AS (
            SELECT (us // 1800000000) * 1800000000 - i.i * 1800000000
                       AS win_start_us,
                   value
            FROM e CROSS JOIN (SELECT unnest(range(4)) AS i) i
        )
        SELECT win_start_us,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                   AS sum_value
        FROM hops GROUP BY win_start_us
    """,
    "q_fuzzy_join": """
        SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
               a.s_name AS name_a, b.s_name AS name_b,
               CAST(levenshtein(a.s_name, b.s_name) AS INTEGER)
                   AS edit_dist
        FROM supplier a JOIN supplier b
          ON substr(a.s_name, 1, 12) = substr(b.s_name, 1, 12)
         AND a.s_suppkey < b.s_suppkey
        WHERE levenshtein(a.s_name, b.s_name) <= 1
    """,
    "q_join_skew_salted": """
        SELECT s.s_nationkey,
               COUNT(*) AS n_items,
               CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,6))) AS DOUBLE)
                   AS sum_qty
        FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY s.s_nationkey
    """,
    "q_profile": None,  # filled below (generated per-column UNION ALL)
}


def _profile_oracle() -> str:
    """DuckDB mirror of q_profile: one UNION ALL branch per profiled
    column (the oracle need not be one-pass — only value-equal).
    n_nulls via COUNT(*) - COUNT(col) to stay BIGINT (SUM of ints
    widens to HUGEINT in DuckDB); mean as exact-decimal sum / valid
    count in double, the same derivation as profile_table."""
    num_cols = ["l_orderkey", "l_suppkey", "l_quantity", "l_extendedprice"]
    str_cols = ["l_returnflag", "l_linestatus"]
    parts = []
    for c in num_cols + str_cols:
        is_num = c in num_cols
        min_num = f"CAST(MIN({c}) AS DOUBLE)" if is_num else "CAST(NULL AS DOUBLE)"
        max_num = f"CAST(MAX({c}) AS DOUBLE)" if is_num else "CAST(NULL AS DOUBLE)"
        avg_num = (
            f"CASE WHEN COUNT({c}) > 0 THEN "
            f"CAST(SUM(CAST({c} AS DECIMAL(18,6))) AS DOUBLE) / COUNT({c}) "
            f"END"
            if is_num
            else "CAST(NULL AS DOUBLE)"
        )
        min_str = f"MIN({c})" if not is_num else "CAST(NULL AS VARCHAR)"
        max_str = f"MAX({c})" if not is_num else "CAST(NULL AS VARCHAR)"
        parts.append(
            f"""SELECT '{c}' AS "column", COUNT(*) AS n_rows,
               COUNT(*) - COUNT({c}) AS n_nulls,
               COUNT(DISTINCT {c}) AS n_distinct,
               {min_num} AS min_num, {max_num} AS max_num,
               {avg_num} AS avg_num,
               {min_str} AS min_str, {max_str} AS max_str
            FROM lineitem"""
        )
    return " UNION ALL ".join(parts)


ORACLES["q_profile"] = _profile_oracle()


def _semantic_dedup_oracle() -> str:
    """DuckDB mirror of q_semantic_dedup. Seeds = the 16 lowest-id
    vectors with a left-assoc norm (bit-equal to sampled_centroids'
    Python loop); assignment = arg_max over per-centroid dot products
    of e[i] * (seed[i] / nrm) (the only cross-engine divergence is
    summation order inside the dot — 1 ulp vs the ≥2e-4 assignment
    margin); pairs = within-cell exact cosine, the same left-assoc
    fold as q_dedup_embedding."""
    nrm = _norm_sql("embedding", one_based=True)
    score = " + ".join(
        f"CAST(e.embedding[{i + 1}] AS DOUBLE) * "
        f"(CAST(s.embedding[{i + 1}] AS DOUBLE) / s.nrm)"
        for i in range(_EMB_DIM)
    )
    dot = " + ".join(
        f"CAST(a.embedding[{i + 1}] AS DOUBLE) * "
        f"CAST(b.embedding[{i + 1}] AS DOUBLE)"
        for i in range(_EMB_DIM)
    )
    na = _norm_sql("a.embedding", one_based=True)
    nb = _norm_sql("b.embedding", one_based=True)
    return f"""
        WITH seeds AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                   embedding, sqrt(0.0 + {nrm}) AS nrm
            FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)
        ),
        scores AS (
            SELECT e.vec_id, s.cid, (0.0 + {score}) AS score
            FROM embeddings e CROSS JOIN seeds s
        ),
        cells AS (
            SELECT vec_id, arg_max(cid, score) AS cell
            FROM scores GROUP BY vec_id
        ),
        emb AS (
            SELECT e.vec_id, e.embedding, c.cell
            FROM embeddings e JOIN cells c USING (vec_id)
        )
        SELECT id_a, id_b, cosine_sim FROM (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   (0.0 + {dot}) / (sqrt(0.0 + {na}) * sqrt(0.0 + {nb}))
                       AS cosine_sim
            FROM emb a JOIN emb b
              ON a.cell = b.cell AND a.vec_id < b.vec_id
        ) WHERE cosine_sim >= 0.3
    """


ORACLES["q_semantic_dedup"] = _semantic_dedup_oracle()


def _knn_ivf_oracle() -> str:
    """DuckDB mirror of q_knn_ivf, built like _semantic_dedup_oracle:
    seeds = the 16 lowest-id vectors with left-assoc norms (bit-equal
    to sampled_centroids' Python loop); probe = top-4 seed cids by the
    normalized-centroid · query-literal chain (ivf_topk's np.dot probe
    ranking — ties impossible at the measured margins, ordering pinned
    cid ASC to match Python's stable sort); cells = arg_max assignment
    (the GEMM in ivf_assign); final ranking = the exact left-assoc
    cosine chain of q_knn_brute restricted to the probed cells."""
    q = _query_vector()
    nrm = _norm_sql("embedding", one_based=True)
    cscore = " + ".join(
        f"(CAST(s.embedding[{i + 1}] AS DOUBLE) / s.nrm) * ({qv!r})"
        for i, qv in enumerate(q)
    )
    ascore = " + ".join(
        f"CAST(e.embedding[{i + 1}] AS DOUBLE) * "
        f"(CAST(s.embedding[{i + 1}] AS DOUBLE) / s.nrm)"
        for i in range(_EMB_DIM)
    )
    dot = _dot_sql("embedding", q, one_based=True)
    norm = _norm_sql("embedding", one_based=True)
    qn = _q_norm_const()
    return f"""
        WITH seeds AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                   embedding, sqrt(0.0 + {nrm}) AS nrm
            FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)
        ),
        probe AS (
            SELECT cid FROM seeds s
            ORDER BY (0.0 + {cscore}) DESC, cid ASC
            LIMIT 4
        ),
        scores AS (
            SELECT e.vec_id, s.cid, (0.0 + {ascore}) AS score
            FROM embeddings e CROSS JOIN seeds s
        ),
        cells AS (
            SELECT vec_id, arg_max(cid, score) AS cell
            FROM scores GROUP BY vec_id
        ),
        cand AS (
            SELECT e.vec_id, e.embedding
            FROM embeddings e
            JOIN cells c USING (vec_id)
            WHERE c.cell IN (SELECT cid FROM probe)
        )
        SELECT vec_id,
               ({dot}) / (sqrt({norm}) * ({qn!r})) AS cosine_sim
        FROM cand
        ORDER BY cosine_sim DESC, vec_id ASC
        LIMIT 10
    """


ORACLES["q_knn_ivf"] = _knn_ivf_oracle()


def _fingerprint_oracle() -> str:
    """DuckDB mirror of q_fingerprint (md5 variant): min MD5 hex digest
    over sliding 8-word windows. range(0, g+1) = Spark sequence(0, g);
    1-based inclusive list slices clamp at the end in both engines, so
    short documents produce the identical single whole-text window."""
    return """
        WITH w AS (
            SELECT doc_id, string_split_regex(text, '\\s+') AS ws
            FROM documents
        )
        SELECT doc_id,
               list_min(list_transform(
                   range(0, greatest(len(ws) - 8, 0) + 1),
                   i -> md5(array_to_string(ws[i + 1:i + 8], ' '))
               )) AS fingerprint
        FROM w
    """


ORACLES["q_fingerprint"] = _fingerprint_oracle()


ORACLES["q_rolling_features"] = """
    WITH e AS (
        SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
        FROM events
    ),
    r AS (
        SELECT event_id, user_id, ts_us,
               CAST(COUNT(CAST(value AS DECIMAL(18,6))) OVER w AS BIGINT)
                   AS roll_n,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
                   AS roll_sum
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
                     ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id, ts_us, roll_n, roll_sum,
           CASE WHEN roll_n > 0 THEN roll_sum / roll_n END AS roll_mean
    FROM r
"""


ORACLES["q_ntile_bins"] = f"""
    WITH q AS ({_quality_oracle()})
    SELECT doc_id, quality,
           CAST(NTILE(10) OVER (ORDER BY quality, doc_id) AS INTEGER)
               AS bin
    FROM q
"""


ORACLES["q_corr"] = """
    WITH a AS (
        SELECT l_returnflag,
               COUNT(*) AS n_rows,
               CAST(SUM(CAST(l_quantity AS DECIMAL(19,4))) AS DOUBLE)
                   AS sx,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4))) AS DOUBLE)
                   AS sy,
               CAST(SUM(CAST(l_quantity AS DECIMAL(19,4))
                        * CAST(l_extendedprice AS DECIMAL(19,4)))
                    AS DOUBLE) AS sxy,
               CAST(SUM(CAST(l_quantity AS DECIMAL(19,4))
                        * CAST(l_quantity AS DECIMAL(19,4)))
                    AS DOUBLE) AS sxx,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4))
                        * CAST(l_extendedprice AS DECIMAL(19,4)))
                    AS DOUBLE) AS syy
        FROM lineitem
        WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        GROUP BY l_returnflag
    )
    SELECT l_returnflag, n_rows,
           ROUND(CASE WHEN sqrt(CAST(n_rows AS DOUBLE) * sxx - sx * sx)
                     * sqrt(CAST(n_rows AS DOUBLE) * syy - sy * sy) > 0
                THEN (CAST(n_rows AS DOUBLE) * sxy - sx * sy)
                     / (sqrt(CAST(n_rows AS DOUBLE) * sxx - sx * sx)
                        * sqrt(CAST(n_rows AS DOUBLE) * syy - sy * sy))
           END, 12) AS corr
    FROM a
"""


ORACLES["q_histogram"] = """
    WITH b AS (
        SELECT CAST(
                   CASE WHEN f < 0 THEN 0
                        WHEN f >= 22 THEN 21
                        ELSE f END AS INTEGER) AS bin
        FROM (
            SELECT FLOOR((CAST(l_extendedprice AS DOUBLE) - 0.0)
                         / 5000.0) AS f
            FROM lineitem
            WHERE l_extendedprice IS NOT NULL
        )
    )
    SELECT bin,
           0.0 + CAST(bin AS DOUBLE) * 5000.0 AS bin_lo,
           COUNT(*) AS n_rows
    FROM b GROUP BY bin
"""


ORACLES["q_url_normalize"] = """
    WITH d AS (
        SELECT doc_id,
               (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'http' END)
               || '://WWW.Example.COM'
               || (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':8080' END)
               || '/' || source || '/doc/' || CAST(doc_id AS VARCHAR)
               || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
               || '?utm_source=news&z=9&a=1&fbclid=abc#sec2' AS url
        FROM documents
    ),
    s AS (
        SELECT doc_id, url,
               lower(regexp_extract(url,
                   '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
               regexp_replace(regexp_replace(url,
                   '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '#.*$', '') AS rest
        FROM d
    ),
    p AS (
        SELECT doc_id, url, scheme,
               lower(regexp_extract(
                   regexp_extract(rest, '^([^/?]*)', 1),
                   '^([^:]*)', 1)) AS host,
               regexp_extract(
                   regexp_extract(rest, '^([^/?]*)', 1),
                   ':(\\d+)$', 1) AS port,
               regexp_replace(rest, '^[^/?]*', '') AS pathq
        FROM s
    ),
    q AS (
        SELECT doc_id, url, scheme, host,
               CASE WHEN (scheme = 'http' AND port = '80')
                      OR (scheme = 'https' AND port = '443')
                      OR port = ''
                    THEN '' ELSE ':' || port END AS keep_port,
               CASE WHEN regexp_extract(pathq, '^([^?]*)', 1) = ''
                    THEN '/'
                    ELSE regexp_replace(
                        regexp_extract(pathq, '^([^?]*)', 1),
                        '(.)/$', '\\1') END AS path,
               COALESCE(array_to_string(list_sort(list_filter(
                   string_split(regexp_extract(pathq, '\\?(.*)$', 1), '&'),
                   x -> x <> '' AND NOT regexp_matches(x,
                       '^(utm_[a-z]+|fbclid|gclid|msclkid|ref_src)=')
               )), '&'), '') AS norm_q
        FROM p
    )
    SELECT doc_id, url,
           scheme || '://' || host || keep_port || path
           || (CASE WHEN norm_q = '' THEN '' ELSE '?' || norm_q END)
               AS url_norm
    FROM q
"""


ORACLES["q_rebalance_sources"] = """
    WITH c AS (
        SELECT source, COUNT(*) AS cnt FROM documents GROUP BY source
    ),
    r AS (
        SELECT doc_id, source,
               ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY md5(text), doc_id
               ) AS rn
        FROM documents
    )
    SELECT r.doc_id, r.source
    FROM r JOIN c USING (source)
    WHERE rn <= GREATEST(1, CAST(FLOOR(SQRT(CAST(cnt AS DOUBLE)) * 1.0)
                                 AS BIGINT))
"""


ORACLES["q_minmax_scale"] = """
    WITH b AS (
        SELECT l_returnflag,
               MIN(CAST(l_extendedprice AS DOUBLE)) AS mn,
               MAX(CAST(l_extendedprice AS DOUBLE)) AS mx
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
           CASE WHEN b.mx = b.mn THEN 0.5
                ELSE (CAST(l.l_extendedprice AS DOUBLE) - b.mn)
                     / (b.mx - b.mn) END AS price_scaled
    FROM lineitem l JOIN b USING (l_returnflag)
"""


def _data_split_oracle() -> str:
    """Mirror assign_splits' band edges with the IDENTICAL float
    accumulation (0.9, then 0.9+0.05) so the integer thresholds match
    to the bit."""
    space = float(1 << 60)
    cum = 0.0
    cum += 0.9
    t_train = int(cum * space)
    cum += 0.05
    t_val = int(cum * space)
    return f"""
    SELECT doc_id,
           CASE WHEN h < {t_train} THEN 'train'
                WHEN h < {t_val} THEN 'val'
                ELSE 'test' END AS split
    FROM (
        SELECT doc_id,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 18, 15)
                    AS BIGINT) AS h
        FROM documents
    )
    """


ORACLES["q_data_split"] = _data_split_oracle()

_BOILERPLATE_CTE = """
    bp AS (
        SELECT line, COUNT(DISTINCT doc_id) AS n_docs
        FROM (
            SELECT doc_id, trim(u.part) AS line
            FROM documents, UNNEST(str_split(text, ' ')) AS u(part)
        )
        WHERE length(line) >= 4
        GROUP BY line
        HAVING COUNT(DISTINCT doc_id) >= 2
    )
"""

ORACLES["q_boilerplate"] = f"""
    WITH {_BOILERPLATE_CTE}
    SELECT line, n_docs FROM bp
"""

ORACLES["q_boilerplate_clean"] = f"""
    WITH {_BOILERPLATE_CTE},
    bpl AS (
        SELECT COALESCE(list(line ORDER BY line), []) AS bp_list FROM bp
    ),
    d AS (
        SELECT doc_id,
               str_split(text, ' ') AS parts,
               list_filter(
                   str_split(text, ' '),
                   x -> NOT list_contains(bp_list, trim(x))
               ) AS kept
        FROM documents, bpl
    )
    SELECT doc_id,
           CAST(len(parts) - len(kept) AS BIGINT) AS n_lines_removed,
           md5(COALESCE(array_to_string(kept, ' '), '')) AS clean_md5
    FROM d
"""

ORACLES["q_regression"] = """
    WITH a AS (
        SELECT l_returnflag,
               COUNT(*) AS n_rows,
               CAST(SUM(CAST(l_quantity AS DECIMAL(19,4))) AS DOUBLE)
                   AS sx,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4))) AS DOUBLE)
                   AS sy,
               CAST(SUM(CAST(l_quantity AS DECIMAL(19,4))
                        * CAST(l_extendedprice AS DECIMAL(19,4)))
                    AS DOUBLE) AS sxy,
               CAST(SUM(CAST(l_quantity AS DECIMAL(19,4))
                        * CAST(l_quantity AS DECIMAL(19,4)))
                    AS DOUBLE) AS sxx,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4))
                        * CAST(l_extendedprice AS DECIMAL(19,4)))
                    AS DOUBLE) AS syy
        FROM lineitem
        WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        GROUP BY l_returnflag
    ),
    b AS (
        SELECT l_returnflag, n_rows, sx, sy, sxy, sxx, syy,
               CAST(n_rows AS DOUBLE) * sxx - sx * sx AS var_x,
               CAST(n_rows AS DOUBLE) * syy - sy * sy AS var_y,
               (CAST(n_rows AS DOUBLE) * sxy - sx * sy)
                   / (CAST(n_rows AS DOUBLE) * sxx - sx * sx) AS slope
        FROM a
    )
    SELECT l_returnflag, n_rows,
           ROUND(CASE WHEN var_x > 0 THEN slope END, 6) AS slope,
           ROUND(CASE WHEN var_x > 0
                 THEN (sy - slope * sx) / CAST(n_rows AS DOUBLE)
                 END, 6) AS intercept,
           ROUND(CASE WHEN sqrt(var_x) * sqrt(var_y) > 0
                 THEN ((CAST(n_rows AS DOUBLE) * sxy - sx * sy)
                       / (sqrt(var_x) * sqrt(var_y)))
                      * ((CAST(n_rows AS DOUBLE) * sxy - sx * sy)
                         / (sqrt(var_x) * sqrt(var_y)))
                 END, 12) AS r2
    FROM b
"""

ORACLES["q_mode"] = """
    SELECT l_returnflag, l_quantity AS mode, n_occurrences
    FROM (
        SELECT l_returnflag, l_quantity,
               COUNT(*) AS n_occurrences,
               ROW_NUMBER() OVER (
                   PARTITION BY l_returnflag
                   ORDER BY COUNT(*) DESC, l_quantity ASC
               ) AS rn
        FROM lineitem
        WHERE l_quantity IS NOT NULL
        GROUP BY l_returnflag, l_quantity
    )
    WHERE rn = 1
"""

ORACLES["q_mad"] = """
    WITH med AS (
        SELECT l_returnflag,
               quantile_cont(l_extendedprice, 0.5) AS m,
               COUNT(l_extendedprice) AS n_rows
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           med.m AS median,
           quantile_cont(
               abs(CAST(l.l_extendedprice AS DOUBLE) - med.m), 0.5
           ) AS mad,
           med.n_rows
    FROM lineitem l JOIN med ON l.l_returnflag = med.l_returnflag
    GROUP BY l.l_returnflag, med.m, med.n_rows
"""

ORACLES["q_autocorr"] = """
    WITH p AS (
        SELECT user_id,
               value AS x,
               LEAD(value) OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ) AS y
        FROM events
    ),
    a AS (
        SELECT user_id,
               COUNT(*) AS n_rows,
               CAST(SUM(CAST(x AS DECIMAL(19,4))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(y AS DECIMAL(19,4))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(x AS DECIMAL(19,4))
                        * CAST(y AS DECIMAL(19,4))) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(x AS DECIMAL(19,4))
                        * CAST(x AS DECIMAL(19,4))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(y AS DECIMAL(19,4))
                        * CAST(y AS DECIMAL(19,4))) AS DOUBLE) AS syy
        FROM p
        WHERE y IS NOT NULL AND x IS NOT NULL
        GROUP BY user_id
    )
    SELECT user_id, n_rows,
           ROUND(CASE WHEN sqrt(CAST(n_rows AS DOUBLE) * sxx - sx * sx)
                     * sqrt(CAST(n_rows AS DOUBLE) * syy - sy * sy) > 0
                THEN (CAST(n_rows AS DOUBLE) * sxy - sx * sy)
                     / (sqrt(CAST(n_rows AS DOUBLE) * sxx - sx * sx)
                        * sqrt(CAST(n_rows AS DOUBLE) * syy - sy * sy))
           END, 12) AS corr
    FROM a
"""

ORACLES["q_entropy"] = """
    WITH c AS (
        SELECT user_id, event_type, COUNT(*) AS n
        FROM events GROUP BY user_id, event_type
    )
    SELECT user_id,
           CAST(SUM(n) AS BIGINT) AS n_events,
           COUNT(*) AS n_types,
           ROUND(
               ln(CAST(SUM(n) AS DOUBLE))
               - list_reduce(
                     list_prepend(
                         0.0,
                         list_sort(list(CAST(n AS DOUBLE)
                                        * ln(CAST(n AS DOUBLE))))
                     ),
                     (acc, x) -> acc + x
                 ) / CAST(SUM(n) AS DOUBLE),
               9
           ) AS entropy_nats
    FROM c GROUP BY user_id
"""


ORACLES["q_snapshot_diff"] = """
    WITH o AS (
        SELECT o_orderkey, o_totalprice, o_orderstatus, 1 AS in_old
        FROM orders WHERE o_orderkey % 7 <> 0
    ),
    n AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 3 = 0
                    THEN o_totalprice + 1.0
                    ELSE o_totalprice END AS o_totalprice,
               o_orderstatus, 1 AS in_new
        FROM orders WHERE o_orderkey % 5 <> 0
    ),
    j AS (
        SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
               o.o_totalprice AS old_o_totalprice,
               o.o_orderstatus AS old_o_orderstatus,
               n.o_totalprice AS new_o_totalprice,
               n.o_orderstatus AS new_o_orderstatus,
               o.in_old, n.in_new,
               (CASE WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice
                     THEN 1 ELSE 0 END
                + CASE WHEN o.o_orderstatus IS DISTINCT FROM
                            n.o_orderstatus
                       THEN 1 ELSE 0 END) AS nc
        FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
    )
    SELECT o_orderkey,
           CASE WHEN in_old IS NULL THEN 'added'
                WHEN in_new IS NULL THEN 'removed'
                WHEN nc > 0 THEN 'changed'
                ELSE 'unchanged' END AS status,
           old_o_totalprice, old_o_orderstatus,
           new_o_totalprice, new_o_orderstatus,
           CAST(CASE WHEN in_old IS NOT NULL AND in_new IS NOT NULL
                     THEN nc ELSE 0 END AS BIGINT) AS n_changed_cols
    FROM j
    WHERE NOT (in_old IS NOT NULL AND in_new IS NOT NULL AND nc = 0)
"""

ORACLES["q_weighted_sample"] = """
    SELECT doc_id, n_chars
    FROM (
        SELECT doc_id, n_chars,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 18, 15)
                    AS BIGINT) AS h,
               CAST(floor(
                   CASE WHEN CAST(n_chars AS DOUBLE) / 2000.0 > 1.0
                        THEN 1.0
                        WHEN CAST(n_chars AS DOUBLE) / 2000.0 < 0.0
                        THEN 0.0
                        ELSE CAST(n_chars AS DOUBLE) / 2000.0 END
                   * 1152921504606846976.0
               ) AS BIGINT) AS edge
        FROM documents
    )
    WHERE h < edge
"""

ORACLES["q_analytics_pipeline"] = """
    WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS tns
               FROM events WHERE value IS NOT NULL),
    s0 AS (SELECT user_id, MIN(tns) AS t_0 FROM e
           WHERE event_type = 'view' GROUP BY user_id),
    s1 AS (SELECT e.user_id, MIN(tns) AS t_1
           FROM e JOIN s0 ON e.user_id = s0.user_id
           WHERE event_type = 'click' AND tns > s0.t_0
           GROUP BY e.user_id),
    s2 AS (SELECT e.user_id, MIN(tns) AS t_2
           FROM e JOIN s1 ON e.user_id = s1.user_id
           WHERE event_type = 'purchase' AND tns > s1.t_1
           GROUP BY e.user_id)
    SELECT s0.user_id, t_0, t_1, t_2,
           CAST(1 + CASE WHEN t_1 IS NULL THEN 0 ELSE 1 END
                  + CASE WHEN t_2 IS NULL THEN 0 ELSE 1 END
                AS BIGINT) AS stages_reached
    FROM s0
    LEFT JOIN s1 ON s0.user_id = s1.user_id
    LEFT JOIN s2 ON s0.user_id = s2.user_id
"""


ORACLES["q_merge_upsert"] = """
    WITH src AS (
        SELECT c_custkey, c_name || '_u' AS c_name, c_nationkey,
               c_acctbal * 2.0 AS c_acctbal, FALSE AS deleted
        FROM customer WHERE c_custkey % 10 = 3
        UNION ALL
        SELECT c_custkey + 1000000, c_name || '_new', c_nationkey,
               CAST(111.25 AS DOUBLE), FALSE
        FROM customer WHERE c_custkey % 10 = 4
        UNION ALL
        SELECT c_custkey, c_name, c_nationkey, c_acctbal, TRUE
        FROM customer WHERE c_custkey % 10 = 7
    ),
    t AS (SELECT c_custkey, c_name, c_nationkey, c_acctbal, 1 AS _in_t
          FROM customer),
    s AS (SELECT *, 1 AS _in_s FROM src)
    SELECT c_custkey,
           CASE WHEN s._in_s = 1 THEN s.c_name ELSE t.c_name END
               AS c_name,
           CASE WHEN s._in_s = 1 THEN s.c_nationkey ELSE t.c_nationkey END
               AS c_nationkey,
           CASE WHEN s._in_s = 1 THEN s.c_acctbal ELSE t.c_acctbal END
               AS c_acctbal
    FROM t FULL JOIN s USING (c_custkey)
    WHERE NOT COALESCE(s.deleted, FALSE)
"""


ORACLES["q_ab_test"] = """
    WITH a AS (
        SELECT CASE WHEN user_id % 2 = 0 THEN 'control'
                    ELSE 'treatment' END AS arm,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(19,4))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(value AS DECIMAL(19,4))
                        * CAST(value AS DECIMAL(19,4))) AS DOUBLE)
                   AS sxx
        FROM events WHERE value IS NOT NULL
        GROUP BY 1
    ),
    c AS (SELECT n AS n_control, sx AS sx_c, sxx AS sxx_c
          FROM a WHERE arm = 'control'),
    t AS (SELECT n AS n_treatment, sx AS sx_t, sxx AS sxx_t
          FROM a WHERE arm = 'treatment')
    SELECT n_control, n_treatment,
           sx_c / CAST(n_control AS DOUBLE) AS mean_control,
           sx_t / CAST(n_treatment AS DOUBLE) AS mean_treatment,
           sx_t / CAST(n_treatment AS DOUBLE)
               - sx_c / CAST(n_control AS DOUBLE) AS diff,
           ROUND(CASE WHEN n_control >= 2 AND n_treatment >= 2
                       AND sqrt(
                   (CAST(n_treatment AS DOUBLE) * sxx_t - sx_t * sx_t)
                   / (CAST(n_treatment AS DOUBLE)
                      * (CAST(n_treatment AS DOUBLE) - 1.0))
                   / CAST(n_treatment AS DOUBLE)
                   + (CAST(n_control AS DOUBLE) * sxx_c - sx_c * sx_c)
                   / (CAST(n_control AS DOUBLE)
                      * (CAST(n_control AS DOUBLE) - 1.0))
                   / CAST(n_control AS DOUBLE)) > 0
           THEN (sx_t / CAST(n_treatment AS DOUBLE)
                 - sx_c / CAST(n_control AS DOUBLE))
                / sqrt(
                   (CAST(n_treatment AS DOUBLE) * sxx_t - sx_t * sx_t)
                   / (CAST(n_treatment AS DOUBLE)
                      * (CAST(n_treatment AS DOUBLE) - 1.0))
                   / CAST(n_treatment AS DOUBLE)
                   + (CAST(n_control AS DOUBLE) * sxx_c - sx_c * sx_c)
                   / (CAST(n_control AS DOUBLE)
                      * (CAST(n_control AS DOUBLE) - 1.0))
                   / CAST(n_control AS DOUBLE))
           END, 9) AS z_score
    FROM c CROSS JOIN t
"""

ORACLES["q_label_future"] = f"""
    WITH daily AS (
        SELECT user_id,
               epoch_ns(ts) // {86_400 * 10**9} AS day,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS has_target
        FROM events
        GROUP BY user_id, epoch_ns(ts) // {86_400 * 10**9}
    )
    SELECT user_id, day, has_target,
           COALESCE(MAX(has_target) OVER (
               PARTITION BY user_id ORDER BY day
               RANGE BETWEEN 1 FOLLOWING AND 7 FOLLOWING
           ), 0) AS label
    FROM daily
"""

ORACLES["q_quantile_normalize"] = """
    SELECT doc_id, n_chars,
           (CAST(ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS DOUBLE)
            - 0.5) / CAST(COUNT(*) OVER () AS DOUBLE) AS q_uniform
    FROM documents
"""

ORACLES["q_period_over_period"] = f"""
    WITH per AS (
        SELECT epoch_ns(ts) // {7 * 86_400 * 10**9} AS period,
               CAST(SUM(CAST(value AS DECIMAL(19,4))) AS DOUBLE)
                   AS total
        FROM events WHERE value IS NOT NULL
        GROUP BY 1
    )
    SELECT period, total,
           LAG(total) OVER (ORDER BY period) AS prev_total,
           CASE WHEN LAG(total) OVER (ORDER BY period) IS NOT NULL
                 AND LAG(total) OVER (ORDER BY period) <> 0
                THEN (total - LAG(total) OVER (ORDER BY period))
                     / LAG(total) OVER (ORDER BY period)
           END AS pct_change
    FROM per
"""


# Haversine written ONCE and reused verbatim in the oracle so both
# engines execute the identical IEEE op sequence (single-literal
# degree->radian multiply; see q_h3_radius_join docstring).
_HAVERSINE_SQL = """
    2.0 * 6371.0088 * asin(least(1.0, sqrt(
        sin((b.lat - a.lat) * 0.017453292519943295 / 2.0)
            * sin((b.lat - a.lat) * 0.017453292519943295 / 2.0)
        + cos(a.lat * 0.017453292519943295)
            * cos(b.lat * 0.017453292519943295)
            * sin((b.lng - a.lng) * 0.017453292519943295 / 2.0)
            * sin((b.lng - a.lng) * 0.017453292519943295 / 2.0)
    )))
"""

ORACLES["q_h3_radius_join"] = f"""
    WITH pts AS (
        SELECT c_custkey AS id,
               40.0 + CAST((c_custkey * 2654435761) % 100000 AS DOUBLE)
                   / 50000.0 AS lat,
               -100.0 + CAST((c_custkey * 40503) % 100000 AS DOUBLE)
                   / 50000.0 AS lng
        FROM customer
    )
    SELECT a.id AS l_id, b.id AS r_id,
           CAST(FLOOR({_HAVERSINE_SQL} * 1000.0) AS BIGINT) AS dist_m
    FROM pts a JOIN pts b ON a.id < b.id
    WHERE {_HAVERSINE_SQL} <= 5.0
"""


ORACLES["q_spatial_knn"] = f"""
    WITH a AS (
        SELECT c_custkey AS id,
               40.0 + CAST((c_custkey * 2654435761) % 100000 AS DOUBLE)
                   / 50000.0 AS lat,
               -100.0 + CAST((c_custkey * 40503) % 100000 AS DOUBLE)
                   / 50000.0 AS lng
        FROM customer
    ),
    b AS (
        SELECT s_suppkey AS id,
               40.0 + CAST((s_suppkey * 48271) % 100000 AS DOUBLE)
                   / 50000.0 AS lat,
               -100.0 + CAST((s_suppkey * 69621) % 100000 AS DOUBLE)
                   / 50000.0 AS lng
        FROM supplier
    ),
    cand AS (
        SELECT a.id AS l_id, b.id AS r_id,
               {_HAVERSINE_SQL} AS dist
        FROM a, b
        WHERE {_HAVERSINE_SQL} <= 30.0
    ),
    ranked AS (
        SELECT l_id, r_id, dist,
               ROW_NUMBER() OVER (
                   PARTITION BY l_id ORDER BY dist ASC, r_id ASC
               ) AS rn
        FROM cand
    )
    SELECT l_id, r_id,
           CAST(FLOOR(dist * 1000.0) AS BIGINT) AS dist_m
    FROM ranked WHERE rn <= 3
"""

ORACLES["q_seasonality"] = """
    WITH ev AS (
        SELECT epoch_ns(ts) AS tsn, value FROM events
        WHERE ts IS NOT NULL
    ),
    cells AS (
        SELECT CAST((tsn // 86400000000000 + 4) % 7 AS INTEGER) AS dow,
               CAST((tsn // 3600000000000) % 24 AS INTEGER) AS hour,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(19,4))) AS DOUBLE)
                   AS sum_value
        FROM ev GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM ev)
    SELECT dow, hour, n_events, sum_value,
           CAST(n_events AS DOUBLE) / CAST(t AS DOUBLE) AS share
    FROM cells, tot
"""

ORACLES["q_hll_grouped"] = """
    WITH h AS (
        SELECT event_type AS grp,
               CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                   18, 15) AS BIGINT) AS h
        FROM events
        WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    )
    SELECT grp AS "group",
           CAST(h % 256 AS INTEGER) AS bucket,
           CAST(MAX(CASE WHEN h // 256 = 0 THEN 53
                         ELSE 52 - length(bin(h // 256)) + 1
                    END) AS INTEGER) AS rho
    FROM h GROUP BY 1, 2
"""

ORACLES["q_time_to_convert"] = """
    WITH per AS (
        SELECT user_id,
               MIN(epoch_ns(ts)) AS f,
               MIN(CASE WHEN event_type = 'purchase'
                        THEN epoch_ns(ts) END) AS c
        FROM events GROUP BY user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_entities,
           CAST(COUNT(c) AS BIGINT) AS n_converted,
           quantile_cont((c - f) // 1000000000, 0.5) AS p50_s,
           quantile_cont((c - f) // 1000000000, 0.9) AS p90_s,
           quantile_cont((c - f) // 1000000000, 0.99) AS p99_s
    FROM per
"""

ORACLES["q_vocab_encode"] = r"""
    WITH d AS (
        SELECT doc_id,
               list_filter(
                   string_split_regex(
                       lower(regexp_replace(text, '[^\w\s]', ' ', 'g')),
                       '\s+'),
                   x -> len(x) > 0) AS toks
        FROM documents
    ),
    counts AS (
        SELECT tok, COUNT(*) AS n FROM (
            SELECT unnest(toks) AS tok FROM d
        ) GROUP BY tok
    ),
    vocab AS (
        SELECT tok,
               ROW_NUMBER() OVER (ORDER BY n DESC, tok ASC) AS token_id
        FROM counts
        QUALIFY token_id <= 500
    ),
    pos AS (
        SELECT doc_id, pr.pos AS pos, pr.tok AS tok FROM (
            SELECT doc_id, unnest(list_transform(
                range(1, len(toks) + 1),
                i -> {'pos': CAST(i AS INTEGER),
                      'tok': toks[CAST(i AS INTEGER)]})) AS pr
            FROM d
        )
    )
    SELECT doc_id, pos,
           CAST(COALESCE(v.token_id, 0) AS INTEGER) AS token_id
    FROM pos LEFT JOIN vocab v USING (tok)
"""

ORACLES["q_incremental_agg"] = """
    WITH new_snap AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 11 = 0 THEN 'X'
                    ELSE o_orderstatus END AS o_orderstatus,
               CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1.0
                    ELSE o_totalprice END AS o_totalprice
        FROM orders
        WHERE o_orderkey % 5 <> 0
    )
    SELECT o_orderstatus,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(19,4))) AS DOUBLE)
               AS sum_v
    FROM new_snap
    GROUP BY o_orderstatus
"""

ORACLES["q_psi_drift"] = """
    WITH o AS (
        SELECT CASE WHEN n_chars < 150.0 THEN 0
                    WHEN n_chars < 300.0 THEN 1
                    WHEN n_chars < 450.0 THEN 2
                    ELSE 3 END AS bucket,
               COUNT(*) AS n_old
        FROM documents WHERE doc_id % 7 <> 0 AND n_chars IS NOT NULL
        GROUP BY 1
    ),
    n AS (
        SELECT CASE WHEN n_chars + 37 < 150.0 THEN 0
                    WHEN n_chars + 37 < 300.0 THEN 1
                    WHEN n_chars + 37 < 450.0 THEN 2
                    ELSE 3 END AS bucket,
               COUNT(*) AS n_new
        FROM documents WHERE doc_id % 5 <> 0 AND n_chars IS NOT NULL
        GROUP BY 1
    ),
    j AS (
        SELECT COALESCE(o.bucket, n.bucket) AS bucket,
               CAST(COALESCE(n_old, 0) AS BIGINT) AS n_old,
               CAST(COALESCE(n_new, 0) AS BIGINT) AS n_new
        FROM o FULL JOIN n ON o.bucket = n.bucket
    )
    SELECT CAST(bucket AS INTEGER) AS bucket, n_old, n_new,
           CAST(n_old AS DOUBLE) / CAST(SUM(n_old) OVER () AS DOUBLE)
               AS p_old,
           CAST(n_new AS DOUBLE) / CAST(SUM(n_new) OVER () AS DOUBLE)
               AS p_new,
           ROUND(CASE WHEN n_old > 0 AND n_new > 0 THEN
               (CAST(n_old AS DOUBLE)
                    / CAST(SUM(n_old) OVER () AS DOUBLE)
                - CAST(n_new AS DOUBLE)
                    / CAST(SUM(n_new) OVER () AS DOUBLE))
               * ln((CAST(n_old AS DOUBLE)
                     / CAST(SUM(n_old) OVER () AS DOUBLE))
                    / (CAST(n_new AS DOUBLE)
                       / CAST(SUM(n_new) OVER () AS DOUBLE)))
           END, 9) AS psi_term
    FROM j
"""


ORACLES["q_cuped"] = """
    WITH a AS (
        SELECT CASE WHEN l_orderkey % 2 = 0 THEN 'control'
                    ELSE 'treatment' END AS arm,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4)))
                    AS DOUBLE) AS sy,
               CAST(SUM(CAST(l_quantity AS DECIMAL(19,4)))
                    AS DOUBLE) AS sx,
               CAST(SUM(CAST(l_quantity AS DECIMAL(19,4))
                        * CAST(l_extendedprice AS DECIMAL(19,4)))
                    AS DOUBLE) AS sxy,
               CAST(SUM(CAST(l_quantity AS DECIMAL(19,4))
                        * CAST(l_quantity AS DECIMAL(19,4)))
                    AS DOUBLE) AS sxx,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4))
                        * CAST(l_extendedprice AS DECIMAL(19,4)))
                    AS DOUBLE) AS syy
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
        GROUP BY 1
    ),
    c AS (SELECT n AS n_c, sy AS sy_c, sx AS sx_c, sxy AS sxy_c,
                 sxx AS sxx_c, syy AS syy_c FROM a WHERE arm='control'),
    t AS (SELECT n AS n_t, sy AS sy_t, sx AS sx_t, sxy AS sxy_t,
                 sxx AS sxx_t, syy AS syy_t FROM a WHERE arm='treatment'),
    f AS (
        SELECT *,
               CAST(n_c AS DOUBLE) AS nc, CAST(n_t AS DOUBLE) AS nt,
               CAST(n_c AS DOUBLE) + CAST(n_t AS DOUBLE) AS nn,
               sy_c + sy_t AS sy, sx_c + sx_t AS sx,
               sxy_c + sxy_t AS sxy, sxx_c + sxx_t AS sxx
        FROM c CROSS JOIN t
    ),
    g AS (
        SELECT *,
               (nn * sxy - sx * sy) / (nn * sxx - sx * sx) AS theta,
               sx / nn AS mean_x
        FROM f
    ),
    h AS (
        SELECT *,
               sy_c / nc - theta * (sx_c / nc - mean_x) AS mean_c,
               sy_t / nt - theta * (sx_t / nt - mean_x) AS mean_t,
               (nc * syy_c - sy_c * sy_c) / (nc * (nc - 1.0))
                   + theta * theta
                     * ((nc * sxx_c - sx_c * sx_c) / (nc * (nc - 1.0)))
                   - 2.0 * theta
                     * ((nc * sxy_c - sx_c * sy_c) / (nc * (nc - 1.0)))
                   AS var_c,
               (nt * syy_t - sy_t * sy_t) / (nt * (nt - 1.0))
                   + theta * theta
                     * ((nt * sxx_t - sx_t * sx_t) / (nt * (nt - 1.0)))
                   - 2.0 * theta
                     * ((nt * sxy_t - sx_t * sy_t) / (nt * (nt - 1.0)))
                   AS var_t
        FROM g
    )
    SELECT n_c AS n_control, n_t AS n_treatment,
           ROUND(theta, 9) AS theta,
           mean_c AS mean_control_adj,
           mean_t AS mean_treatment_adj,
           mean_t - mean_c AS diff_adj,
           ROUND(CASE WHEN n_c >= 2 AND n_t >= 2
                       AND sqrt(var_t / nt + var_c / nc) > 0
                 THEN (mean_t - mean_c)
                      / sqrt(var_t / nt + var_c / nc) END, 9)
               AS z_score
    FROM h
"""

ORACLES["q_winsorize"] = """
    WITH q AS (
        SELECT l_returnflag,
               quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.05)
                   AS qlo,
               quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.95)
                   AS qhi
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
           CASE WHEN CAST(l.l_extendedprice AS DOUBLE) < q.qlo THEN q.qlo
                WHEN CAST(l.l_extendedprice AS DOUBLE) > q.qhi THEN q.qhi
                ELSE CAST(l.l_extendedprice AS DOUBLE) END AS price_w
    FROM lineitem l JOIN q USING (l_returnflag)
"""

ORACLES["q_weighted_median"] = """
    WITH base AS (
        SELECT l_returnflag,
               CAST(l_extendedprice AS DOUBLE) AS v,
               CAST(l_quantity AS DECIMAL(19,4)) AS w
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
          AND l_quantity > 0
    ),
    cw AS (
        SELECT l_returnflag, v,
               SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v
                            RANGE BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS cum,
               SUM(w) OVER (PARTITION BY l_returnflag) AS total
        FROM base
    )
    SELECT l_returnflag, MIN(v) AS w_median
    FROM cw WHERE cum * 2 >= total
    GROUP BY l_returnflag
"""


ORACLES["q_target_encode"] = """
    WITH g AS (
        SELECT COUNT(*) AS gn,
               CAST(SUM(CAST(n_chars AS DECIMAL(19,4))) AS DOUBLE)
                   AS gs
        FROM documents WHERE n_chars IS NOT NULL
    ),
    c AS (
        SELECT lang, COUNT(*) AS cn,
               CAST(SUM(CAST(n_chars AS DECIMAL(19,4))) AS DOUBLE)
                   AS cs
        FROM documents WHERE n_chars IS NOT NULL
        GROUP BY lang
    )
    SELECT d.doc_id, d.lang,
           COALESCE(
               (c.cs - CASE WHEN d.n_chars IS NOT NULL
                            THEN CAST(d.n_chars AS DOUBLE)
                            ELSE 0.0 END
                + 20.0 * (g.gs / CAST(g.gn AS DOUBLE)))
               / (CAST(c.cn AS DOUBLE)
                  - CAST(CAST(d.n_chars IS NOT NULL AS INTEGER)
                         AS DOUBLE)
                  + 20.0),
               g.gs / CAST(g.gn AS DOUBLE)
           ) AS lang_enc
    FROM documents d
    CROSS JOIN g
    LEFT JOIN c ON d.lang = c.lang
"""

ORACLES["q_sample_per_group"] = """
    WITH h AS (
        SELECT doc_id, source,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 18, 15)
                    AS BIGINT) AS hh
        FROM documents
    ),
    r AS (
        SELECT doc_id, source,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY hh, doc_id) AS rn
        FROM h
    )
    SELECT doc_id, source FROM r WHERE rn <= 10
"""

ORACLES["q_changepoint"] = """
    WITH v AS (
        SELECT user_id, epoch_ns(ts) AS tns, event_id,
               CAST(CAST(value AS DECIMAL(19,4)) * 10000 AS BIGINT)
                   AS vi
        FROM events WHERE value IS NOT NULL
    ),
    w AS (
        SELECT user_id, vi,
               SUM(vi) OVER (PARTITION BY user_id
                             ORDER BY tns, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS c,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY tns, event_id) AS i,
               COUNT(*) OVER (PARTITION BY user_id) AS n,
               SUM(vi) OVER (PARTITION BY user_id) AS total
        FROM v
    ),
    t AS (
        SELECT user_id, n, i,
               abs(CAST(n AS DECIMAL(12,0)) * CAST(c AS DECIMAL(25,0))
                   - CAST(i AS DECIMAL(12,0))
                     * CAST(total AS DECIMAL(25,0)))
                   AS t_abs
        FROM w WHERE i < n
    ),
    r AS (
        SELECT user_id, n, i, t_abs,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY t_abs DESC, i ASC) AS rk
        FROM t
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_obs,
           CAST(i AS BIGINT) AS cp_index,
           CAST(t_abs AS DOUBLE) / (CAST(n AS DOUBLE) * 10000.0)
               AS max_dev
    FROM r WHERE rk = 1
"""


ORACLES["q_point_in_polygon"] = """
    WITH pts AS (
        SELECT c_custkey AS id,
               40.0 + CAST((c_custkey * 2654435761) % 100000 AS DOUBLE)
                   / 40000.0 AS lat,
               -100.0 + CAST((c_custkey * 40503) % 100000 AS DOUBLE)
                   / 40000.0 AS lng
        FROM customer
    ),
    rects AS (
        SELECT n_nationkey AS poly_id,
               -100.0 + CAST(n_nationkey % 5 AS DOUBLE) * 0.5
                   + 0.000013 AS x0,
               40.0 + CAST(n_nationkey // 5 AS DOUBLE) * 0.5
                   + 0.000013 AS y0
        FROM nation
    )
    SELECT p.id AS pt_id, p.lat, p.lng, r.poly_id AS pg_poly_id
    FROM pts p JOIN rects r
      ON p.lng > r.x0 AND p.lng < r.x0 + 0.45007
     AND p.lat > r.y0 AND p.lat < r.y0 + 0.45007
"""


ORACLES["q_attribution_positional"] = """
    WITH t AS (
        SELECT user_id, epoch_ns(ts) AS touch_ts,
               event_type AS touch_type, event_id AS tb
        FROM events WHERE event_type IN ('view', 'click')
    ),
    c AS (
        SELECT user_id, epoch_ns(ts) AS conv_ts, event_id AS ctb
        FROM events WHERE event_type = 'purchase'
    ),
    j AS (
        SELECT c.user_id, c.conv_ts, c.ctb, t.touch_ts, t.touch_type,
               t.tb
        FROM c JOIN t ON c.user_id = t.user_id
        WHERE t.touch_ts < c.conv_ts
           OR (t.touch_ts = c.conv_ts AND t.tb < c.ctb)
    ),
    r AS (
        SELECT user_id, conv_ts, ctb, touch_ts, touch_type,
               ROW_NUMBER() OVER (PARTITION BY user_id, conv_ts, ctb
                                  ORDER BY touch_ts, tb) AS position,
               COUNT(*) OVER (PARTITION BY user_id, conv_ts, ctb)
                   AS n_touches
        FROM j
    )
    SELECT user_id, conv_ts, touch_ts, touch_type,
           CAST(position AS BIGINT) AS position,
           CAST(n_touches AS BIGINT) AS n_touches,
           CASE WHEN n_touches = 1 THEN CAST(1.0 AS DOUBLE)
                WHEN n_touches = 2 THEN CAST(0.5 AS DOUBLE)
                WHEN position = 1 THEN CAST(0.4 AS DOUBLE)
                WHEN position = n_touches THEN CAST(0.4 AS DOUBLE)
                ELSE CAST(0.19999999999999996 AS DOUBLE)
                     / (CAST(n_touches AS DOUBLE) - 2.0)
           END AS credit
    FROM r
"""

ORACLES["q_rolling_median"] = """
    SELECT event_id, user_id,
           quantile_cont(CAST(value AS DOUBLE), 0.5) OVER (
               PARTITION BY user_id
               ORDER BY epoch_ns(ts), event_id
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW
           ) AS roll_median
    FROM events WHERE value IS NOT NULL
"""


# --------------------------------------------------------------------------
# Round-7 continuation batch: retrieval fusion/eval, BFS, collocations,
# Benford. tests/test_oracle.py verifies them like every other ORACLES key.
# --------------------------------------------------------------------------


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (operators/
    retrieval.py::rrf_fuse): the BM25 ranking over the fixed 4-term
    query (sparse signal) merged with the embedding-cosine ranking
    against the fixed query vector (dense signal) — the standard
    two-tower RAG retrieval merge. doc_id and vec_id are the same id
    universe in the testdata. Both input ranks are integer-exact
    (BM25 via the FLOOR(score*1000) quantization, cosine via the
    bit-equal IEEE op sequence), and the fused score is two exact
    divisions summed in fixed name order — hash-deterministic."""
    from pyspark.sql import Window as W

    from h3_indexer_spark.operators.retrieval import rrf_fuse
    from h3_indexer_spark.operators.textops import bm25_scores

    docs = load(spark, sf_dir, "documents")
    # rank derivation pattern: TakeOrderedAndProject cuts the corpus
    # to the 50-row candidate pool FIRST (no single-partition window
    # over the full table), then row_number runs over 50 rows — the
    # global-window warning the naive formulation triggers is the
    # exact anti-pattern this avoids at scale.
    sparse = bm25_scores(docs, _BM25_TERMS, "text", "doc_id", k=50).select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.col("score_q").desc(), F.col("doc_id").asc()))
        .alias("rank"),
    )
    q = _query_vector()
    dot = _dot_sql("embedding", q, one_based=False)
    norm = _norm_sql("embedding", one_based=False)
    qn = _q_norm_const()
    sim = F.expr(f"({dot}) / (sqrt({norm}) * ({qn!r}))").alias("cosine_sim")
    dense_pool = (
        load(spark, sf_dir, "embeddings")
        .select(F.col("vec_id").alias("doc_id"), sim)
        .orderBy(F.col("cosine_sim").desc(), F.col("doc_id").asc())
        .limit(50)
    )
    dense = dense_pool.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.col("cosine_sim").desc(), F.col("doc_id").asc()))
        .alias("rank"),
    )
    return rrf_fuse(
        {"dense": dense, "sparse": sparse}, "doc_id", k0=60, topk=20
    )


def _rrf_oracle() -> str:
    q = _query_vector()
    dot = _dot_sql("embedding", q, one_based=True)
    norm = _norm_sql("embedding", one_based=True)
    qn = _q_norm_const()
    return f"""
        WITH sparse AS (
            SELECT doc_id,
                   CAST(ROW_NUMBER() OVER (
                       ORDER BY score_q DESC, doc_id ASC
                   ) AS BIGINT) AS rank
            FROM ({_bm25_oracle(k=50)})
        ),
        dense AS (
            SELECT vec_id AS doc_id,
                   CAST(ROW_NUMBER() OVER (
                       ORDER BY cosine_sim DESC, vec_id ASC
                   ) AS BIGINT) AS rank
            FROM (
                SELECT vec_id,
                       ({dot}) / (sqrt({norm}) * ({qn!r})) AS cosine_sim
                FROM embeddings
            )
            QUALIFY rank <= 50
        )
        SELECT COALESCE(d.doc_id, s.doc_id) AS doc_id,
               d.rank AS rank_dense,
               s.rank AS rank_sparse,
               COALESCE(1.0 / (60.0 + CAST(d.rank AS DOUBLE)), 0.0)
                   + COALESCE(1.0 / (60.0 + CAST(s.rank AS DOUBLE)), 0.0)
                   AS rrf_score
        FROM dense d FULL OUTER JOIN sparse s ON d.doc_id = s.doc_id
        ORDER BY rrf_score DESC, doc_id ASC
        LIMIT 20
    """


def q_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-evaluation harness (operators/retrieval.py::
    retrieval_eval): a length-prior baseline ranking (top-20 docs by
    n_chars desc — the strawman every retrieval eval starts from)
    scored against term-containment qrels for the fixed 4-term query
    set: per-term precision@10, recall@10, first relevant rank and
    reciprocal rank. Every float is a single division of exact
    counts. The global rank window is the readout-scale shape; at
    corpus scale the ranking input would be per-shard top-k fused
    upstream (q_rrf_fusion) before this operator scores it."""
    from pyspark.sql import Window as W

    from h3_indexer_spark.operators.retrieval import retrieval_eval

    docs = load(spark, sf_dir, "documents")
    terms = spark.createDataFrame(
        [(t,) for t in sorted(set(_BM25_TERMS))], "term string"
    )
    # top-20 pool via TakeOrderedAndProject, THEN rank the 20 rows —
    # never a full-corpus single-partition window (q_rrf_fusion note)
    pool = (
        docs.select("doc_id", "n_chars")
        .orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
        .limit(20)
    )
    ranked = pool.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.col("n_chars").desc(), F.col("doc_id").asc()))
        .alias("rank"),
    ).crossJoin(F.broadcast(terms))
    toks = F.filter(
        F.split(
            F.lower(F.regexp_replace(F.col("text"), r"[^\w\s]", " ")),
            r"\s+",
        ),
        lambda t: F.length(t) > 0,
    )
    qrels = (
        docs.select("doc_id", toks.alias("toks"))
        .crossJoin(F.broadcast(terms))
        .where(F.array_contains(F.col("toks"), F.col("term")))
        .select("term", "doc_id")
    )
    return retrieval_eval(
        ranked, qrels, query_col="term", key_col="doc_id",
        rank_col="rank", k=10,
    )


def _retrieval_eval_oracle() -> str:
    terms = ", ".join(
        f"('{t}')" for t in sorted(set(_BM25_TERMS))
    )
    return rf"""
        WITH terms(term) AS (VALUES {terms}),
        ranked AS (
            SELECT doc_id,
                   CAST(ROW_NUMBER() OVER (
                       ORDER BY n_chars DESC, doc_id ASC
                   ) AS BIGINT) AS rank
            FROM documents
            QUALIFY rank <= 20
        ),
        toks AS (
            SELECT doc_id,
                   list_filter(
                       string_split_regex(
                           lower(regexp_replace(text, '[^\w\s]', ' ', 'g')),
                           '\s+'),
                       x -> len(x) > 0) AS toks
            FROM documents
        ),
        qrels AS (
            SELECT t.term, d.doc_id
            FROM toks d, terms t
            WHERE list_contains(d.toks, t.term)
        ),
        rq AS (
            SELECT t.term, r.doc_id, r.rank FROM ranked r, terms t
        ),
        hit AS (
            SELECT rq.term,
                   CAST(MIN(rq.rank) AS BIGINT) AS first_rank,
                   CAST(SUM(CASE WHEN rq.rank <= 10 THEN 1 ELSE 0 END)
                        AS BIGINT) AS hits_at_k
            FROM rq JOIN qrels q
              ON rq.term = q.term AND rq.doc_id = q.doc_id
            GROUP BY rq.term
        ),
        nr AS (
            SELECT term, CAST(COUNT(*) AS BIGINT) AS n_rel
            FROM qrels GROUP BY term
        )
        SELECT nr.term,
               nr.n_rel,
               COALESCE(hit.hits_at_k, CAST(0 AS BIGINT)) AS hits_at_k,
               CAST(COALESCE(hit.hits_at_k, 0) AS DOUBLE) / 10.0
                   AS precision_at_k,
               CAST(COALESCE(hit.hits_at_k, 0) AS DOUBLE)
                   / CAST(nr.n_rel AS DOUBLE) AS recall_at_k,
               hit.first_rank,
               COALESCE(1.0 / CAST(hit.first_rank AS DOUBLE), 0.0) AS rr
        FROM nr LEFT JOIN hit ON nr.term = hit.term
    """


def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distances (operators/graph.py::bfs_hops)
    over the part co-purchase graph (the q_kcore fixture): every part
    within 3 hops of the seed set (partkey <= 20), with its minimum
    hop count — "blast radius of a seed catalog" expansion. The ONLY
    oracle-checkable iterative graph op in the suite: the DuckDB
    mirror is a recursive CTE (UNION-deduped states, MIN over depth),
    while the engine side is the frontier algorithm whose state is
    O(reachable vertices) — each vertex crosses the shuffle once."""
    from h3_indexer_spark.operators.graph import bfs_hops

    edges = _copurchase_edges(spark, sf_dir)
    sources = (
        load(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("node"))
        .where(F.col("node") <= 20)
        .distinct()
    )
    return bfs_hops(edges, sources, max_hops=3)


_BFS_HOPS_ORACLE = """
    WITH RECURSIVE li AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    e0 AS (
        SELECT a.l_partkey AS src, b.l_partkey AS dst
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    e AS (
        SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM e0
            UNION ALL
            SELECT dst AS src, src AS dst FROM e0
        )
    ),
    src AS (
        SELECT DISTINCT l_partkey AS node FROM lineitem
        WHERE l_partkey <= 20
    ),
    walk(node, hops) AS (
        SELECT node, 0 AS hops FROM src
        UNION
        SELECT e.dst AS node, w.hops + 1 AS hops
        FROM walk w JOIN e ON e.src = w.node
        WHERE w.hops < 3
    )
    SELECT node, CAST(MIN(hops) AS BIGINT) AS hops
    FROM walk GROUP BY node
"""


def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining (operators/textops.py::collocations): top-30
    adjacent word pairs by LIFT (exponentiated PMI — no runtime ln,
    so the contract stays engine-exact; see the operator docstring)
    over the documents corpus, min pair count 5."""
    from h3_indexer_spark.operators.textops import collocations

    return collocations(
        load(spark, sf_dir, "documents"), "text", min_count=5, k=30
    )


_COLLOCATIONS_ORACLE = r"""
    WITH toks AS (
        SELECT list_filter(
                   string_split_regex(
                       lower(regexp_replace(text, '[^\w\s]', ' ', 'g')),
                       '\s+'),
                   x -> len(x) > 0) AS w
        FROM documents
    ),
    bi AS (
        SELECT unnest(list_transform(
                   range(1, len(w)),
                   i -> w[CAST(i AS INTEGER)] || ' '
                        || w[CAST(i AS INTEGER) + 1]
               )) AS bigram
        FROM toks
    ),
    bc AS (
        SELECT bigram, CAST(COUNT(*) AS BIGINT) AS c_xy
        FROM bi GROUP BY bigram
    ),
    uc AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS c_w
        FROM (SELECT unnest(w) AS tok FROM toks) GROUP BY tok
    ),
    totals AS (
        SELECT (SELECT CAST(SUM(c_w) AS BIGINT) FROM uc) AS n_uni,
               (SELECT CAST(SUM(c_xy) AS BIGINT) FROM bc) AS n_bi
    )
    SELECT bigram, c_xy, c_w1, c_w2,
           ((CAST(c_xy AS DOUBLE) * CAST(n_uni AS DOUBLE))
                * CAST(n_uni AS DOUBLE))
               / ((CAST(n_bi AS DOUBLE) * CAST(c_w1 AS DOUBLE))
                   * CAST(c_w2 AS DOUBLE)) AS lift
    FROM (
        SELECT b.bigram, b.c_xy,
               u1.c_w AS c_w1, u2.c_w AS c_w2,
               t.n_uni, t.n_bi
        FROM bc b
        JOIN uc u1 ON u1.tok = string_split(b.bigram, ' ')[1]
        JOIN uc u2 ON u2.tok = string_split(b.bigram, ' ')[2]
        CROSS JOIN totals t
        WHERE b.c_xy >= 5
    )
    ORDER BY lift DESC, bigram ASC
    LIMIT 30
"""


def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit screen (operators/analytics.py::
    benford_profile) over order totals — digit counts, observed
    fraction, the fixed log10(1+1/d) expectation literals, and the
    absolute deviation per digit."""
    from h3_indexer_spark.operators.analytics import benford_profile

    return benford_profile(load(spark, sf_dir, "orders"), "o_totalprice")


def _benford_oracle() -> str:
    from h3_indexer_spark.operators.analytics import BENFORD_EXPECTED

    case = " ".join(
        f"WHEN {d + 1} THEN CAST({v} AS DOUBLE)"
        for d, v in enumerate(BENFORD_EXPECTED)
    )
    return f"""
        WITH v AS (
            SELECT CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS cents
            FROM orders
            WHERE o_totalprice * 100.0 >= 1.0
        ),
        c AS (
            SELECT CAST(substring(CAST(cents AS VARCHAR), 1, 1)
                        AS INTEGER) AS digit,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM v GROUP BY 1
        )
        SELECT digit, n,
               CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE) AS frac,
               CASE digit {case} END AS expected,
               ABS(CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE)
                   - CASE digit {case} END) AS abs_dev
        FROM c
        ORDER BY digit
    """


QUERIES["q_rrf_fusion"] = q_rrf_fusion
QUERIES["q_retrieval_eval"] = q_retrieval_eval
QUERIES["q_bfs_hops"] = q_bfs_hops
QUERIES["q_collocations"] = q_collocations
QUERIES["q_benford"] = q_benford

ORACLES["q_rrf_fusion"] = _rrf_oracle()
ORACLES["q_retrieval_eval"] = _retrieval_eval_oracle()
ORACLES["q_bfs_hops"] = _BFS_HOPS_ORACLE
ORACLES["q_collocations"] = _COLLOCATIONS_ORACLE
ORACLES["q_benford"] = _benford_oracle()


def q_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (operators/relational.py::
    group_concat): the comma-joined, lexicographically ordered nation
    roster per region — SQL's string_agg(... ORDER BY ...) with the
    arrival-order nondeterminism of a bare collect_list removed."""
    from h3_indexer_spark.operators.relational import group_concat

    return group_concat(
        load(spark, sf_dir, "nation"), "n_regionkey", "n_name", sep=","
    )


_STRING_AGG_ORACLE = """
    SELECT n_regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS concat,
           CAST(COUNT(n_name) AS BIGINT) AS n_items
    FROM nation
    GROUP BY n_regionkey
"""


def q_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration / reliability curve (operators/analytics.py::
    calibration_bins): discount-as-return-predictor over lineitem —
    score = l_discount × 10 (a [0,1] probability stand-in), outcome =
    returned flag. Per decile bin: n, DECIMAL-exact mean score,
    positives, positive rate."""
    from h3_indexer_spark.operators.analytics import calibration_bins

    li = load(spark, sf_dir, "lineitem").select(
        (F.col("l_discount") * F.lit(10.0)).alias("score"),
        (F.col("l_returnflag") == F.lit("R")).cast("int").alias("label"),
    )
    return calibration_bins(li, "score", "label", n_bins=10)


_CALIBRATION_ORACLE = """
    WITH s AS (
        SELECT l_discount * 10.0 AS score,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem
        WHERE l_discount * 10.0 IS NOT NULL
    ),
    b AS (
        SELECT LEAST(CAST(FLOOR(score * 10.0) AS INTEGER), 9) AS bin,
               CAST(score AS DECIMAL(18,6)) AS sc,
               y
        FROM s
    )
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(sc) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               AS mean_score,
           CAST(SUM(y) AS BIGINT) AS positives,
           CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS pos_rate
    FROM b
    GROUP BY bin
    ORDER BY bin
"""


QUERIES["q_string_agg"] = q_string_agg
QUERIES["q_calibration"] = q_calibration
ORACLES["q_string_agg"] = _STRING_AGG_ORACLE
ORACLES["q_calibration"] = _CALIBRATION_ORACLE



def q_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Majority-vote label aggregation (operators/labeling.py::
    majority_label): each user's dominant event type with vote counts
    and the agreement ratio — the weak-supervision label-merge shape
    (annotators → training label) on the events fixture. Ties break
    (count desc, label asc); agreement is one exact division."""
    from h3_indexer_spark.operators.labeling import majority_label

    return majority_label(
        load(spark, sf_dir, "events"), "user_id", "event_type"
    )


_LABEL_VOTE_ORACLE = """
    WITH votes AS (
        SELECT user_id, event_type,
               CAST(COUNT(*) AS BIGINT) AS votes
        FROM events
        WHERE event_type IS NOT NULL
        GROUP BY user_id, event_type
    ),
    r AS (
        SELECT user_id, event_type, votes,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id
                   ORDER BY votes DESC, event_type ASC
               ) AS rn,
               CAST(SUM(votes) OVER (PARTITION BY user_id) AS BIGINT)
                   AS n_votes
        FROM votes
    )
    SELECT user_id,
           event_type AS top_label,
           votes AS top_count,
           n_votes,
           CAST(votes AS DOUBLE) / CAST(n_votes AS DOUBLE) AS agreement
    FROM r WHERE rn = 1
"""


def q_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-annotator agreement (operators/labeling.py::
    cohens_kappa) between the documents table's stored ``lang`` and
    the engine's own language_id prediction — the chance-corrected
    kappa readout an annotation-quality gate runs. One row; p_o and
    p_e are single divisions of exact integer folds."""
    from h3_indexer_spark.operators.labeling import cohens_kappa
    from h3_indexer_spark.operators.textops import language_id

    docs = language_id(load(spark, sf_dir, "documents"))
    return cohens_kappa(docs, "lang", "lang_pred")


def _cohens_kappa_oracle() -> str:
    return f"""
        WITH pred AS ({_lang_oracle()}),
        lab AS (
            SELECT d.lang AS a, p.lang_pred AS b
            FROM documents d JOIN pred p ON d.doc_id = p.doc_id
            WHERE d.lang IS NOT NULL AND p.lang_pred IS NOT NULL
        ),
        base AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
                   CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_agree
            FROM lab
        ),
        ca AS (SELECT a AS k, COUNT(*) AS n_a FROM lab GROUP BY a),
        cb AS (SELECT b AS k, COUNT(*) AS n_b FROM lab GROUP BY b),
        cross_sum AS (
            SELECT CAST(SUM(COALESCE(n_a, 0) * COALESCE(n_b, 0))
                        AS BIGINT) AS sum_prod
            FROM ca FULL OUTER JOIN cb USING (k)
        )
        SELECT n_items, n_agree,
               CAST(n_agree AS DOUBLE) / CAST(n_items AS DOUBLE) AS po,
               CAST(sum_prod AS DOUBLE)
                   / (CAST(n_items AS DOUBLE) * CAST(n_items AS DOUBLE))
                   AS pe,
               CASE WHEN CAST(sum_prod AS DOUBLE)
                         / (CAST(n_items AS DOUBLE)
                            * CAST(n_items AS DOUBLE)) < 1.0
                    THEN (CAST(n_agree AS DOUBLE) / CAST(n_items AS DOUBLE)
                          - CAST(sum_prod AS DOUBLE)
                            / (CAST(n_items AS DOUBLE)
                               * CAST(n_items AS DOUBLE)))
                         / (1.0 - CAST(sum_prod AS DOUBLE)
                            / (CAST(n_items AS DOUBLE)
                               * CAST(n_items AS DOUBLE)))
               END AS kappa
        FROM base, cross_sum
    """


def q_embed_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 normalization (operators/similarity.py::
    normalize_embeddings) with a scalar contract readout (the driver
    comparator cannot hash array cells): per vector, the original
    magnitude and the first normalized component. The norm fold and
    the division are the identical IEEE sequence in both engines."""
    from h3_indexer_spark.operators.similarity import normalize_embeddings

    out = normalize_embeddings(load(spark, sf_dir, "embeddings"))
    return out.select(
        "vec_id",
        "l2_norm",
        F.element_at(F.col("normalized"), 1).alias("c0"),
    )


def _embed_normalize_oracle() -> str:
    norm = _norm_sql("embedding", one_based=True)
    return f"""
        SELECT vec_id,
               sqrt({norm}) AS l2_norm,
               CASE WHEN sqrt({norm}) > 0.0
                    THEN CAST(embedding[1] AS DOUBLE) / sqrt({norm})
               END AS c0
        FROM embeddings
    """


QUERIES["q_label_vote"] = q_label_vote
QUERIES["q_cohens_kappa"] = q_cohens_kappa
QUERIES["q_embed_normalize"] = q_embed_normalize
ORACLES["q_label_vote"] = _LABEL_VOTE_ORACLE
ORACLES["q_cohens_kappa"] = _cohens_kappa_oracle()
ORACLES["q_embed_normalize"] = _embed_normalize_oracle()



def q_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 ranking evaluation (operators/retrieval.py::ndcg_at_k):
    the n_chars-prior baseline ranking scored against GRADED
    term-frequency relevance (rel = min(tf, 3)) for the fixed 4-term
    query set. Discounts are fixed 1/log2(i+1) literals and both
    weighted sums add in literal rank order — engine-exact without
    runtime logarithms."""
    from pyspark.sql import Window as W

    from h3_indexer_spark.operators.retrieval import ndcg_at_k

    docs = load(spark, sf_dir, "documents")
    terms = spark.createDataFrame(
        [(t,) for t in sorted(set(_BM25_TERMS))], "term string"
    )
    pool = (
        docs.select("doc_id", "n_chars")
        .orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
        .limit(20)
    )
    ranked = pool.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.col("n_chars").desc(), F.col("doc_id").asc()))
        .alias("rank"),
    ).crossJoin(F.broadcast(terms))
    toks = F.filter(
        F.split(
            F.lower(F.regexp_replace(F.col("text"), r"[^\w\s]", " ")),
            r"\s+",
        ),
        lambda t: F.length(t) > 0,
    )
    tf = F.size(
        F.filter(F.col("toks"), lambda t: t == F.col("term"))
    ).cast("bigint")
    qrels = (
        docs.select("doc_id", toks.alias("toks"))
        .crossJoin(F.broadcast(terms))
        .select(
            "term",
            "doc_id",
            F.least(tf, F.lit(3).cast("bigint")).alias("rel"),
        )
        .where(F.col("rel") > 0)
    )
    return ndcg_at_k(
        ranked, qrels, query_col="term", key_col="doc_id",
        rank_col="rank", rel_col="rel", k=10,
    )


def _ndcg_oracle() -> str:
    from h3_indexer_spark.operators.retrieval import NDCG_DISCOUNTS

    terms = ", ".join(f"('{t}')" for t in sorted(set(_BM25_TERMS)))
    k = 10
    g_cols = ",\n                   ".join(
        f"MAX(CASE WHEN r.rank = {i + 1} THEN q.rel END) AS g_{i}"
        for i in range(k)
    )
    ig_cols = ",\n                   ".join(
        f"MAX(CASE WHEN ir = {i + 1} THEN rel END) AS ig_{i}"
        for i in range(k)
    )
    dcg_expr = " + ".join(
        f"COALESCE(CAST(g_{i} AS DOUBLE), 0.0)"
        f" * CAST({NDCG_DISCOUNTS[i]} AS DOUBLE)"
        for i in range(k)
    )
    idcg_expr = " + ".join(
        f"COALESCE(CAST(ig_{i} AS DOUBLE), 0.0)"
        f" * CAST({NDCG_DISCOUNTS[i]} AS DOUBLE)"
        for i in range(k)
    )
    return rf"""
        WITH terms(term) AS (VALUES {terms}),
        toks AS (
            SELECT doc_id,
                   list_filter(
                       string_split_regex(
                           lower(regexp_replace(text, '[^\w\s]', ' ', 'g')),
                           '\s+'),
                       x -> len(x) > 0) AS toks
            FROM documents
        ),
        pool AS (
            SELECT doc_id,
                   CAST(ROW_NUMBER() OVER (
                       ORDER BY n_chars DESC, doc_id ASC
                   ) AS BIGINT) AS rank
            FROM documents
            QUALIFY rank <= 20
        ),
        ranked AS (SELECT t.term, p.doc_id, p.rank FROM pool p, terms t),
        qrels AS (
            SELECT t.term, d.doc_id,
                   LEAST(CAST(len(list_filter(d.toks, x -> x = t.term))
                              AS BIGINT), CAST(3 AS BIGINT)) AS rel
            FROM toks d, terms t
            WHERE len(list_filter(d.toks, x -> x = t.term)) > 0
        ),
        g AS (
            SELECT r.term,
                   {g_cols}
            FROM ranked r JOIN qrels q
              ON r.term = q.term AND r.doc_id = q.doc_id
            GROUP BY r.term
        ),
        g2 AS (SELECT term, {dcg_expr} AS dcg FROM g),
        ideal AS (
            SELECT term,
                   {ig_cols}
            FROM (
                SELECT term, rel,
                       ROW_NUMBER() OVER (
                           PARTITION BY term
                           ORDER BY rel DESC, doc_id ASC
                       ) AS ir
                FROM qrels WHERE rel > 0
            )
            WHERE ir <= {k}
            GROUP BY term
        ),
        i2 AS (SELECT term, {idcg_expr} AS idcg FROM ideal),
        q AS (SELECT DISTINCT term FROM qrels)
        SELECT q.term,
               COALESCE(g2.dcg, 0.0) AS dcg,
               i2.idcg,
               CASE WHEN i2.idcg > 0.0
                    THEN COALESCE(g2.dcg, 0.0) / i2.idcg
               END AS ndcg
        FROM q
        LEFT JOIN g2 ON q.term = g2.term
        LEFT JOIN i2 ON q.term = i2.term
    """


QUERIES["q_ndcg"] = q_ndcg
ORACLES["q_ndcg"] = _ndcg_oracle()



def q_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC (operators/analytics.py::roc_auc): discount as a
    returned-flag predictor over lineitem — the rank-formulation
    Mann-Whitney AUC with midrank ties, computed entirely in exact
    BIGINTs over the 11 discount levels (aggregated-levels pattern);
    one final division."""
    from h3_indexer_spark.operators.analytics import roc_auc

    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_discount").alias("score"),
        (F.col("l_returnflag") == F.lit("R")).cast("int").alias("label"),
    )
    return roc_auc(li, "score", "label")


_AUC_ORACLE = """
    WITH lv AS (
        SELECT l_discount AS s,
               CAST(COUNT(*) AS BIGINT) AS n_level,
               CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_pos_level
        FROM lineitem
        WHERE l_discount IS NOT NULL
        GROUP BY l_discount
    ),
    c AS (
        SELECT n_level, n_pos_level,
               CAST(SUM(n_level) OVER (
                   ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) - n_level + 1 AS BIGINT) AS first_rank
        FROM lv
    ),
    a AS (
        SELECT CAST(SUM(n_pos_level) AS BIGINT) AS n_pos,
               CAST(SUM(n_level - n_pos_level) AS BIGINT) AS n_neg,
               CAST(SUM(n_pos_level * (2 * first_rank + n_level - 1))
                    AS BIGINT) AS sum_r2_pos
        FROM c
    )
    SELECT n_pos, n_neg, sum_r2_pos,
           CASE WHEN n_pos > 0 AND n_neg > 0
                THEN CAST(sum_r2_pos - n_pos * (n_pos + 1) AS DOUBLE)
                     / CAST(2 * n_pos * n_neg AS DOUBLE)
           END AS auc
    FROM a
"""


def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift test (operators/
    analytics.py::ks_two_sample): click vs purchase event-value
    distributions — D found as an exact-BIGINT cross-multiplied max
    over value levels, divided once."""
    from h3_indexer_spark.operators.analytics import ks_two_sample

    return ks_two_sample(
        load(spark, sf_dir, "events"), "value", "event_type",
        "click", "purchase",
    )


_KS_ORACLE = """
    WITH base AS (
        SELECT value AS v,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ia
        FROM events
        WHERE value IS NOT NULL AND event_type IN ('click', 'purchase')
    ),
    lv AS (
        SELECT v,
               CAST(SUM(ia) AS BIGINT) AS c_a,
               CAST(SUM(1 - ia) AS BIGINT) AS c_b
        FROM base GROUP BY v
    ),
    cum AS (
        SELECT CAST(SUM(c_a) OVER w AS BIGINT) AS cum_a,
               CAST(SUM(c_b) OVER w AS BIGINT) AS cum_b
        FROM lv
        WINDOW w AS (ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    t AS (
        SELECT CAST(SUM(c_a) AS BIGINT) AS n_a,
               CAST(SUM(c_b) AS BIGINT) AS n_b
        FROM lv
    ),
    d AS (
        SELECT CAST(MAX(ABS(cum_a * n_b - cum_b * n_a)) AS BIGINT)
                   AS d_num
        FROM cum, t
    )
    SELECT t.n_a, t.n_b, d.d_num,
           CASE WHEN t.n_a > 0 AND t.n_b > 0
                THEN CAST(d.d_num AS DOUBLE)
                     / CAST(t.n_a * t.n_b AS DOUBLE)
           END AS d_stat
    FROM t, d
"""


QUERIES["q_auc"] = q_auc
QUERIES["q_ks_test"] = q_ks_test
ORACLES["q_auc"] = _AUC_ORACLE
ORACLES["q_ks_test"] = _KS_ORACLE



def q_forecast_wape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast accuracy (operators/analytics.py::
    seasonal_naive_wape): hourly event-value totals per type predicted
    by the same hour one day earlier, scored with DECIMAL-exact WAPE —
    the baseline readout every forecasting pipeline gates on. The
    season shift is a gap-safe equi-join on bucket − 24, not a lag
    window."""
    from h3_indexer_spark.operators.analytics import seasonal_naive_wape

    ev = _load_events(spark, sf_dir).select(
        "event_type",
        F.expr("ts div 3600000000000").alias("bucket"),
        "value",
    )
    return seasonal_naive_wape(ev, "event_type", "bucket", "value", 24)


_FORECAST_WAPE_ORACLE = """
    WITH rolled AS (
        SELECT event_type,
               epoch_ns(ts) // 3600000000000 AS bucket,
               SUM(CAST(value AS DECIMAL(18,6))) AS v
        FROM events
        WHERE value IS NOT NULL
        GROUP BY event_type, epoch_ns(ts) // 3600000000000
    ),
    sc AS (
        SELECT a.event_type, a.v, f.v AS fv
        FROM rolled a
        LEFT JOIN rolled f
          ON f.event_type = a.event_type AND f.bucket = a.bucket - 24
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(COUNT(fv) AS BIGINT) AS n_scored,
           CAST(SUM(CASE WHEN fv IS NOT NULL THEN ABS(fv - v) END)
                AS DOUBLE) AS sum_abs_err,
           CAST(SUM(CASE WHEN fv IS NOT NULL THEN ABS(v) END)
                AS DOUBLE) AS sum_abs_actual,
           CASE WHEN SUM(CASE WHEN fv IS NOT NULL THEN ABS(v) END) > 0
                THEN CAST(SUM(CASE WHEN fv IS NOT NULL
                               THEN ABS(fv - v) END) AS DOUBLE)
                     / CAST(SUM(CASE WHEN fv IS NOT NULL
                                THEN ABS(v) END) AS DOUBLE)
           END AS wape
    FROM sc
    GROUP BY event_type
"""


QUERIES["q_forecast_wape"] = q_forecast_wape
ORACLES["q_forecast_wape"] = _FORECAST_WAPE_ORACLE



def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease (operators/textops.py::readability_scores)
    per document — exact word/sentence/vowel-group counts and a
    fixed-order literal-constant score; zero-word docs are excluded
    (no score is definable)."""
    from h3_indexer_spark.operators.textops import readability_scores

    return readability_scores(load(spark, sf_dir, "documents"))


_READABILITY_ORACLE = r"""
    WITH c AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split_regex(text, '\s+'),
                                    x -> len(x) > 0)) AS BIGINT)
                   AS n_words,
               GREATEST(CAST(len(regexp_extract_all(text, '[.!?]+'))
                             AS BIGINT), CAST(1 AS BIGINT))
                   AS n_sentences,
               CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                    AS BIGINT) AS n_syllables
        FROM documents
    )
    SELECT doc_id, n_words, n_sentences, n_syllables,
           206.835
           - 1.015 * (CAST(n_words AS DOUBLE)
                      / CAST(n_sentences AS DOUBLE))
           - 84.6 * (CAST(n_syllables AS DOUBLE)
                     / CAST(n_words AS DOUBLE)) AS flesch
    FROM c
    WHERE n_words > 0
"""


QUERIES["q_readability"] = q_readability
ORACLES["q_readability"] = _READABILITY_ORACLE



def q_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities (operators/graph.py::
    label_propagation) over the exact-Jaccard near-dup pair graph —
    splits a duplication component into its densely-knit families
    (the refinement step between candidate pairs and dedup
    decisions). Rows-only: bounded synchronous rounds have no SQL
    mirror; exact parity with a Python reference is locked in
    tests/test_round7_ops.py."""
    from h3_indexer_spark.operators.dedup import ngram_jaccard_exact_pairs
    from h3_indexer_spark.operators.graph import label_propagation

    docs = load(spark, sf_dir, "documents")
    pairs = ngram_jaccard_exact_pairs(docs, n=3, threshold=0.5, max_df=100)
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    return label_propagation(edges, max_rounds=5)


QUERIES["q_label_prop"] = q_label_prop



def q_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical association profile (operators/analytics.py::
    mutual_information_cells): documents.lang × documents.source MI
    cell table — exact counts, one joint-share division, and the
    ROUND(·,9)-absorbed ln term per cell (psi_drift recipe); the MI
    scalar is the client-side fold over these ≤|X|·|Y| rows."""
    from h3_indexer_spark.operators.analytics import (
        mutual_information_cells,
    )

    return mutual_information_cells(
        load(spark, sf_dir, "documents"), "lang", "source"
    )


_MUTUAL_INFO_ORACLE = """
    WITH cells AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_xy
        FROM documents
        WHERE lang IS NOT NULL AND source IS NOT NULL
        GROUP BY lang, source
    ),
    m AS (
        SELECT lang, source, n_xy,
               CAST(SUM(n_xy) OVER (PARTITION BY lang) AS BIGINT) AS n_x,
               CAST(SUM(n_xy) OVER (PARTITION BY source) AS BIGINT)
                   AS n_y,
               CAST(SUM(n_xy) OVER () AS BIGINT) AS n
        FROM cells
    )
    SELECT lang, source, n_xy, n_x, n_y, n,
           CAST(n_xy AS DOUBLE) / CAST(n AS DOUBLE) AS p_xy,
           ROUND((CAST(n_xy AS DOUBLE) / CAST(n AS DOUBLE))
                 * LN(CAST(n_xy * n AS DOUBLE)
                      / CAST(n_x * n_y AS DOUBLE)), 9) AS mi_term
    FROM m
"""


QUERIES["q_mutual_info"] = q_mutual_info
ORACLES["q_mutual_info"] = _MUTUAL_INFO_ORACLE



def q_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon drift decomposition (operators/analytics.py::
    js_divergence_bins): click vs purchase event-value distributions
    over fixed bucket edges — PSI's symmetric, always-finite sibling;
    per-bucket ½p·ln(p/m)+½q·ln(q/m) terms, ln ROUND(9) per the psi
    recipe."""
    from h3_indexer_spark.operators.analytics import js_divergence_bins

    ev = _load_events(spark, sf_dir).select("event_type", "value")
    return js_divergence_bins(
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "purchase"),
        "value",
        [10.0, 25.0, 50.0, 100.0],
    )


_JS_DIVERGENCE_ORACLE = """
    WITH a AS (
        SELECT CASE WHEN value < 10.0 THEN 0
                    WHEN value < 25.0 THEN 1
                    WHEN value < 50.0 THEN 2
                    WHEN value < 100.0 THEN 3
                    ELSE 4 END AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_a
        FROM events
        WHERE event_type = 'click' AND value IS NOT NULL
        GROUP BY 1
    ),
    b AS (
        SELECT CASE WHEN value < 10.0 THEN 0
                    WHEN value < 25.0 THEN 1
                    WHEN value < 50.0 THEN 2
                    WHEN value < 100.0 THEN 3
                    ELSE 4 END AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_b
        FROM events
        WHERE event_type = 'purchase' AND value IS NOT NULL
        GROUP BY 1
    ),
    j AS (
        SELECT COALESCE(a.bucket, b.bucket) AS bucket,
               CAST(COALESCE(n_a, 0) AS BIGINT) AS n_a,
               CAST(COALESCE(n_b, 0) AS BIGINT) AS n_b
        FROM a FULL OUTER JOIN b ON a.bucket = b.bucket
    ),
    s AS (
        SELECT bucket, n_a, n_b,
               CAST(n_a AS DOUBLE) / CAST(SUM(n_a) OVER () AS DOUBLE)
                   AS p_a,
               CAST(n_b AS DOUBLE) / CAST(SUM(n_b) OVER () AS DOUBLE)
                   AS p_b
        FROM j
    )
    SELECT CAST(bucket AS INTEGER) AS bucket, n_a, n_b, p_a, p_b,
           ROUND(
               CASE WHEN p_a > 0
                    THEN 0.5 * p_a * LN(p_a / ((p_a + p_b) / 2.0))
                    ELSE 0.0 END
               + CASE WHEN p_b > 0
                      THEN 0.5 * p_b * LN(p_b / ((p_a + p_b) / 2.0))
                      ELSE 0.0 END, 9) AS jsd_term
    FROM s
"""


def q_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz-curve deciles (operators/analytics.py::lorenz_deciles)
    of customer account balance — exact-DECIMAL decile masses, share
    and cumulative share each ONE division; the concentration curve
    q_gini summarizes."""
    from h3_indexer_spark.operators.analytics import lorenz_deciles

    return lorenz_deciles(
        load(spark, sf_dir, "customer"), "c_acctbal", "c_custkey"
    )


_LORENZ_ORACLE = """
    WITH tiled AS (
        SELECT NTILE(10) OVER (ORDER BY c_acctbal ASC, c_custkey ASC)
                   AS decile,
               CAST(c_acctbal AS DECIMAL(18,6)) AS v
        FROM customer
        WHERE c_acctbal IS NOT NULL
    ),
    per AS (
        SELECT decile,
               CAST(COUNT(*) AS BIGINT) AS n,
               SUM(v) AS s
        FROM tiled GROUP BY decile
    )
    SELECT decile, n,
           CAST(s AS DOUBLE) AS sum_value,
           CAST(s AS DOUBLE) / CAST(SUM(s) OVER () AS DOUBLE) AS share,
           CAST(SUM(s) OVER (ORDER BY decile
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS DOUBLE)
               / CAST(SUM(s) OVER () AS DOUBLE) AS cum_share
    FROM per
    ORDER BY decile
"""


QUERIES["q_js_divergence"] = q_js_divergence
QUERIES["q_lorenz"] = q_lorenz
ORACLES["q_js_divergence"] = _JS_DIVERGENCE_ORACLE
ORACLES["q_lorenz"] = _LORENZ_ORACLE



# ---------------------------------------------------------------- round 8


def q_degree_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram (operators/graph.py::degree_distribution) of
    the co-purchase graph (parts linked when they share an order —
    the q_kcore edge fixture): vertices per degree with exact-count
    shares — the power-law census that flags join-key skew before it
    bites. Three narrowing aggregations + a 1-row fold. Uses the
    shared basket-explode fixture; the former inline pair build also
    carried a query-level .distinct() that was redundant with the
    operator's internal canonical normalize (same dedup exchange
    twice over the same pairs)."""
    from h3_indexer_spark.operators.graph import degree_distribution

    return degree_distribution(_copurchase_edges(spark, sf_dir))


_DEGREE_DIST_ORACLE = """
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    edges AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    dirs AS (
        SELECT src AS a, dst AS b FROM edges
        UNION
        SELECT dst AS a, src AS b FROM edges
    ),
    deg AS (
        SELECT a, CAST(COUNT(*) AS BIGINT) AS degree
        FROM dirs GROUP BY a
    ),
    hist AS (
        SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_vertices
        FROM deg GROUP BY degree
    )
    SELECT degree, n_vertices,
           CAST(n_vertices AS DOUBLE)
               / CAST((SELECT SUM(n_vertices) FROM hist) AS DOUBLE)
               AS share
    FROM hist
    ORDER BY degree
"""


def q_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mix concentration (operators/analytics.py::
    diversity_index) of the documents corpus: Simpson (pair-collision
    probability without replacement), HHI, and the effective number
    of equal sources — exact DECIMAL(38,0) pair sums, each float ONE
    fixed-order division chain."""
    from h3_indexer_spark.operators.analytics import diversity_index

    return diversity_index(load(spark, sf_dir, "documents"), "source")


_DIVERSITY_ORACLE = """
    WITH cats AS (
        SELECT source AS c, CAST(COUNT(*) AS BIGINT) AS n
        FROM documents WHERE source IS NOT NULL GROUP BY source
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_categories,
               CAST(SUM(n) AS BIGINT) AS n_total,
               CAST(SUM(CAST(n AS DECIMAL(38,0))
                        * CAST(n - 1 AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS pairs,
               CAST(SUM(CAST(n AS DECIMAL(38,0))
                        * CAST(n AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS sumsq
        FROM cats
    )
    SELECT n_categories, n_total,
           CASE WHEN n_total >= 2
                THEN CAST(pairs AS DOUBLE)
                     / (CAST(n_total AS DOUBLE)
                        * (CAST(n_total AS DOUBLE) - 1.0))
           END AS simpson,
           CAST(sumsq AS DOUBLE)
               / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE))
               AS hhi,
           (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE))
               / CAST(sumsq AS DOUBLE) AS effective_categories
    FROM agg
"""


def q_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa (operators/labeling.py::fleiss_kappa): users as
    items, their event types as repeated categorical ratings — the
    multi-annotator agreement readout beside the two-rater
    q_cohens_kappa. P̄ sums FLOOR(Pᵢ·10⁹) BIGINTs (order-free-sum
    recipe — each Pᵢ is one exact-integer division); p_e has an exact
    DECIMAL(38,0) numerator and divides once."""
    from h3_indexer_spark.operators.labeling import fleiss_kappa

    return fleiss_kappa(_load_events(spark, sf_dir), "user_id", "event_type")


_FLEISS_ORACLE = """
    WITH rated AS (
        SELECT user_id AS i, event_type AS j FROM events
        WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    ),
    cell AS (
        SELECT i, j, CAST(COUNT(*) AS BIGINT) AS nij
        FROM rated GROUP BY i, j
    ),
    per_item AS (
        SELECT i, CAST(SUM(nij) AS BIGINT) AS ni,
               CAST(SUM(CAST(nij AS DECIMAL(38,0))
                        * CAST(nij - 1 AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS sp
        FROM cell GROUP BY i
        HAVING CAST(SUM(nij) AS BIGINT) >= 2
    ),
    item_agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(ni) AS BIGINT) AS n_ratings,
               CAST(SUM(CAST(FLOOR(
                   CAST(sp AS DOUBLE)
                   / (CAST(ni AS DOUBLE) * CAST(ni - 1 AS DOUBLE))
                   * 1000000000.0) AS BIGINT)) AS BIGINT) AS sum_piq
        FROM per_item
    ),
    kept AS (
        SELECT * FROM cell WHERE i IN (SELECT i FROM per_item)
    ),
    marg AS (
        SELECT j, CAST(SUM(nij) AS BIGINT) AS tj
        FROM kept GROUP BY j
    ),
    marg_agg AS (
        SELECT CAST(SUM(CAST(tj AS DECIMAL(38,0))
                        * CAST(tj AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS sum_tj2
        FROM marg
    )
    SELECT n_items, n_ratings,
           CAST(sum_piq AS DOUBLE) / 1000000000.0
               / CAST(n_items AS DOUBLE) AS p_bar,
           CAST(sum_tj2 AS DOUBLE)
               / (CAST(n_ratings AS DOUBLE)
                  * CAST(n_ratings AS DOUBLE)) AS p_e,
           CASE WHEN CAST(sum_tj2 AS DOUBLE)
                     / (CAST(n_ratings AS DOUBLE)
                        * CAST(n_ratings AS DOUBLE)) < 1.0
                THEN (CAST(sum_piq AS DOUBLE) / 1000000000.0
                          / CAST(n_items AS DOUBLE)
                      - CAST(sum_tj2 AS DOUBLE)
                            / (CAST(n_ratings AS DOUBLE)
                               * CAST(n_ratings AS DOUBLE)))
                     / (1.0 - CAST(sum_tj2 AS DOUBLE)
                                  / (CAST(n_ratings AS DOUBLE)
                                     * CAST(n_ratings AS DOUBLE)))
           END AS kappa
    FROM item_agg, marg_agg
"""


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer coverage curve (operators/textops.py::
    vocab_coverage): token-occurrence fraction covered by the top-k
    vocabulary at k ∈ {100..500} — the non-OOV rate q_vocab_encode
    would produce at each size (same (count desc, token asc) rank).
    TakeOrdered pool cut, never a full-vocab window; exact BIGINT
    numerators, one division per checkpoint."""
    from h3_indexer_spark.operators.textops import vocab_coverage

    return vocab_coverage(
        load(spark, sf_dir, "documents"),
        checkpoints=(100, 200, 300, 400, 500),
    )


_VOCAB_COVERAGE_ORACLE = r"""
    WITH d AS (
        SELECT list_filter(
                   string_split_regex(
                       lower(regexp_replace(text, '[^\w\s]', ' ', 'g')),
                       '\s+'),
                   x -> len(x) > 0) AS toks
        FROM documents
    ),
    counts AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM (
            SELECT unnest(toks) AS tok FROM d
        ) GROUP BY tok
    ),
    pool AS (
        SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, tok ASC) AS r
        FROM (SELECT * FROM counts ORDER BY n DESC, tok ASC LIMIT 500)
    ),
    ks AS (SELECT unnest([100, 200, 300, 400, 500]) AS k)
    SELECT CAST(k AS BIGINT) AS k,
           CAST(COALESCE((SELECT SUM(n) FROM pool WHERE r <= k), 0)
                AS BIGINT) AS n_covered,
           CAST((SELECT SUM(n) FROM counts) AS BIGINT) AS n_total,
           CAST(COALESCE((SELECT SUM(n) FROM pool WHERE r <= k), 0)
                AS DOUBLE)
               / CAST((SELECT SUM(n) FROM counts) AS DOUBLE)
               AS coverage
    FROM ks
    ORDER BY k
"""


def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup pairs (operators/dedup.py::
    containment_pairs): ordered (a, b) where ≥ half of a's distinct
    word 3-grams occur in b — the subset-duplication detector Jaccard
    misses by construction (quoted paragraphs inside longer pages).
    Same inverted-index + max_df stop-shingle shape as
    q_dedup_ngram_jaccard; containment is one exact division."""
    from h3_indexer_spark.operators.dedup import containment_pairs

    return containment_pairs(
        load(spark, sf_dir, "documents"), threshold=0.5, max_df=100
    )


_CONTAINMENT_ORACLE = """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
               FROM documents),
    g AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
            range(1, greatest(len(ws) - 2, 1) + 1),
            s -> array_to_string(ws[s:s+2], ' ')))) AS gram
        FROM w
    ),
    kept AS (
        SELECT doc_id, gram FROM (
            SELECT doc_id, gram,
                   COUNT(*) OVER (PARTITION BY gram) AS dfc
            FROM g)
        WHERE dfc <= 100
    ),
    sz AS (SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
        FROM kept a
        JOIN kept b ON a.gram = b.gram AND a.doc_id <> b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b, containment FROM (
        SELECT id_a, id_b,
               CAST(i AS DOUBLE) / CAST(sa.sz AS DOUBLE) AS containment
        FROM inter JOIN sz sa ON sa.doc_id = id_a)
    WHERE containment >= 0.5
"""


QUERIES["q_degree_dist"] = q_degree_dist
QUERIES["q_diversity"] = q_diversity
QUERIES["q_fleiss_kappa"] = q_fleiss_kappa
QUERIES["q_vocab_coverage"] = q_vocab_coverage
QUERIES["q_containment"] = q_containment
ORACLES["q_degree_dist"] = _DEGREE_DIST_ORACLE
ORACLES["q_diversity"] = _DIVERSITY_ORACLE
ORACLES["q_fleiss_kappa"] = _FLEISS_ORACLE
ORACLES["q_vocab_coverage"] = _VOCAB_COVERAGE_ORACLE
ORACLES["q_containment"] = _CONTAINMENT_ORACLE


# Static production-shaped merge table for the ENCODE contract: a
# tokenizer is trained once and applied to the whole corpus, so the
# apply path's contract takes the merge list as configuration (the
# train→apply round trip itself is locked in tests/test_round8_ops.py
# — oracle_sql() returns static strings, so a train-at-query-time
# merge list could not be mirrored).
_BPE_MERGES: list[tuple[str, str]] = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"),
    ("an", "d"), ("e", "r"), ("o", "n"), ("in", "g"),
]


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLY (operators/textops.py::bpe_encode_words):
    the corpus vocabulary encoded with a fixed 8-merge table, top-40
    words by frequency — the missing half of the train/apply pair
    (q_bpe_pairs censuses, bpe_train learns, this encodes). Work is
    ∝ |vocab|·|merges| via a pure aggregate() fold per word; the
    string-accumulator restatement of the trainer's look-behind fold
    is what DuckDB's list_reduce mirrors exactly."""
    from h3_indexer_spark.operators.textops import bpe_encode_words

    enc = bpe_encode_words(load(spark, sf_dir, "documents"), _BPE_MERGES)
    return enc.orderBy(
        F.col("wn").desc(), F.col("word").asc()
    ).limit(40)


def _bpe_encode_oracle() -> str:
    """Mirror of q_bpe_encode: chars via string_split(w, ''), then one
    list_reduce string-fold per merge in rank order — the accumulator
    is the '|'-joined symbol string, split back between merges (the
    exact _bpe_apply_merge recipe; '|' never occurs in \\w symbols)."""
    expr = "string_split(w, '')"
    for a, b in _BPE_MERGES:
        fold = (
            f"list_reduce({expr}, (acc, s) -> "
            f"CASE WHEN s = '{b}' AND (acc = '{a}' "
            f"OR ends_with(acc, '|{a}')) "
            f"THEN substr(acc, 1, length(acc) - {len(a)}) || '{a + b}' "
            f"ELSE acc || '|' || s END)"
        )
        expr = f"string_split({fold}, '|')"
    return rf"""
        WITH words AS (
            SELECT w, CAST(COUNT(*) AS BIGINT) AS wn FROM (
                SELECT unnest(list_filter(
                    string_split_regex(
                        lower(regexp_replace(text, '[^\w\s]', ' ', 'g')),
                        '\s+'),
                    x -> len(x) >= 1)) AS w
                FROM documents
            ) GROUP BY w
        ),
        enc AS (
            SELECT w, wn, {expr} AS syms FROM words
        )
        SELECT w AS word, wn,
               CAST(len(syms) AS INTEGER) AS n_symbols,
               array_to_string(syms, ' ') AS encoded
        FROM enc
        ORDER BY wn DESC, word ASC
        LIMIT 40
    """


def q_active_users_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct actives from merged HLL registers
    (operators/sketches.py::rolling_active_users_hll) — the sketch
    twin of q_active_users and the standard 100 TB swap for rolling
    COUNT DISTINCT: per-day register sets union into each window by
    groupBy-max, the harmonic denominator rescales to an exact BIGINT
    (powers of two — no float sum order), and the estimate is one
    division; the linear-counting branch is the lone ln(), emitted
    FLOOR-quantized. Error vs the exact operator is bound-tested in
    tests/test_round8_ops.py."""
    from h3_indexer_spark.operators.sketches import rolling_active_users_hll

    return rolling_active_users_hll(_load_events(spark, sf_dir))


def _active_hll_oracle() -> str:
    from h3_indexer_spark.operators.sketches import hll_alpha

    day_ns = 86_400 * 10**9
    k_max = 53
    two_k = 1 << k_max
    num = float(hll_alpha(256)) * 256.0 * 256.0 * float(2**k_max)
    return f"""
        WITH h AS (
            SELECT epoch_ns(ts) // {day_ns} AS grp,
                   CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                       18, 15) AS BIGINT) AS h
            FROM events
            WHERE user_id IS NOT NULL
        ),
        regs AS (
            SELECT grp,
                   CAST(h % 256 AS INTEGER) AS bucket,
                   CAST(MAX(CASE WHEN h // 256 = 0 THEN 53
                                 ELSE 52 - length(bin(h // 256)) + 1
                            END) AS INTEGER) AS rho
            FROM h GROUP BY 1, 2
        ),
        contrib AS (
            SELECT unnest(range(grp, grp + 7)) AS wday, bucket, rho
            FROM regs
        ),
        merged AS (
            SELECT wday, bucket, MAX(rho) AS rho
            FROM contrib GROUP BY wday, bucket
        ),
        per_window AS (
            SELECT wday,
                   CAST(COUNT(*) AS BIGINT) AS present,
                   CAST(SUM((CAST(1 AS BIGINT) << ({k_max} - rho)))
                        AS BIGINT) AS s_present
            FROM merged GROUP BY wday
        ),
        days AS (
            SELECT DISTINCT epoch_ns(ts) // {day_ns} AS wday FROM events
        ),
        readout AS (
            SELECT p.wday AS day,
                   CAST(256 - present AS BIGINT) AS n_zero,
                   CAST(s_present
                        + (256 - present) * CAST({two_k} AS BIGINT)
                        AS BIGINT) AS s_int
            FROM per_window p JOIN days d ON p.wday = d.wday
        )
        SELECT day, n_zero, s_int,
               CAST(CASE WHEN ({num!r} / CAST(s_int AS DOUBLE)) <= 640.0
                              AND n_zero > 0
                         THEN FLOOR(256.0 * ln(256.0
                                    / CAST(n_zero AS DOUBLE)))
                         ELSE FLOOR({num!r} / CAST(s_int AS DOUBLE))
                    END AS BIGINT) AS est_distinct
        FROM readout
        ORDER BY day
    """


def q_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end hybrid retrieval (the examples/retrieval_pipeline.py
    flow as ONE oracle-checked composite): the BM25 sparse leg
    (textops.bm25_scores, top-50 pool) fused with the IVFADC+R dense
    leg (pq.ivfpq_topk_rerank — ADC cut at 250, exact re-rank to
    top-20) through reciprocal-rank fusion (retrieval.rrf_fuse).
    Valid oracle because BOTH legs are individually exact-mirrorable:
    BM25 by the FLOOR(score·1000) recipe, and the re-ranked dense leg
    equals brute-force exact-L2 whenever the true top-20 survives the
    ADC-250 cut (recall margin asserted at both SFs — measured worst
    ADC position of the true top-20 is 96 at sf0.01, a 2.6× margin —
    in
    tests/test_round8_ops.py — the q_knn_ivfpq_rerank precedent,
    widened). Plan shape: one shuffle per signal, 50-row rank pools
    via TakeOrderedAndProject, a bounded full-outer fuse join."""
    from pyspark.sql import Window as W

    from h3_indexer_spark.operators.pq import ivfpq_topk_rerank, pq_train
    from h3_indexer_spark.operators.retrieval import rrf_fuse
    from h3_indexer_spark.operators.similarity import sampled_centroids
    from h3_indexer_spark.operators.textops import bm25_scores

    docs = load(spark, sf_dir, "documents")
    sparse = bm25_scores(
        docs, _BM25_TERMS, "text", "doc_id", k=50
    ).select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.col("score_q").desc(), F.col("doc_id").asc()))
        .alias("rank"),
    )
    emb = load(spark, sf_dir, "embeddings")
    cents = sampled_centroids(emb, n_cells=16)
    books = pq_train(emb, m=16, nbits=6, sample=500)
    dense_pool = ivfpq_topk_rerank(
        emb, _query_vector(), cents, books,
        n_probe=16, k=20, n_refine=250,
    )
    dense = dense_pool.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number()
        .over(W.orderBy(F.col("l2_dist").asc(), F.col("vec_id").asc()))
        .alias("rank"),
    )
    return rrf_fuse(
        {"dense": dense, "sparse": sparse}, "doc_id", k0=60, topk=20
    )


def _hybrid_retrieval_oracle() -> str:
    terms = " + ".join(
        f"(CAST(embedding[{i + 1}] AS DOUBLE) - ({v!r})) * "
        f"(CAST(embedding[{i + 1}] AS DOUBLE) - ({v!r}))"
        for i, v in enumerate(_query_vector())
    )
    return f"""
        WITH sparse AS (
            SELECT doc_id,
                   CAST(ROW_NUMBER() OVER (
                       ORDER BY score_q DESC, doc_id ASC
                   ) AS BIGINT) AS rank
            FROM ({_bm25_oracle(k=50)})
        ),
        dense AS (
            SELECT vec_id AS doc_id,
                   CAST(ROW_NUMBER() OVER (
                       ORDER BY l2_dist ASC, vec_id ASC
                   ) AS BIGINT) AS rank
            FROM (
                SELECT vec_id, 0.0 + {terms} AS l2_dist
                FROM embeddings
                ORDER BY l2_dist ASC, vec_id ASC
                LIMIT 20
            )
        )
        SELECT COALESCE(d.doc_id, s.doc_id) AS doc_id,
               d.rank AS rank_dense,
               s.rank AS rank_sparse,
               COALESCE(1.0 / (60.0 + CAST(d.rank AS DOUBLE)), 0.0)
                   + COALESCE(1.0 / (60.0 + CAST(s.rank AS DOUBLE)), 0.0)
                   AS rrf_score
        FROM dense d FULL OUTER JOIN sparse s ON d.doc_id = s.doc_id
        ORDER BY rrf_score DESC, doc_id ASC
        LIMIT 20
    """


QUERIES["q_bpe_encode"] = q_bpe_encode
QUERIES["q_active_users_hll"] = q_active_users_hll
QUERIES["q_hybrid_retrieval"] = q_hybrid_retrieval
ORACLES["q_bpe_encode"] = _bpe_encode_oracle()
ORACLES["q_active_users_hll"] = _active_hll_oracle()
ORACLES["q_hybrid_retrieval"] = _hybrid_retrieval_oracle()


# ---------------------------------------------------------------- #
# Round-8 continuation: sketch/point-query, link prediction,        #
# nonparametric testing, SCD2 warehousing, one-pass corr matrix,    #
# int8 embedding quantization.                                      #
# ---------------------------------------------------------------- #


def q_cms_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation (operators/sketches.py::
    count_min_registers / count_min_estimate): 4×64 registers over
    the event-type stream, point-queried for every distinct type
    beside the exact count — the one-sided (est ≥ exact) guarantee is
    visible in the output and test-locked. All-integer surface on the
    shared md5-60 hash, salted per depth row; the register exchange
    carries ≤ 4·64 rows per partition whatever the stream size."""
    from h3_indexer_spark.operators.sketches import (
        count_min_estimate,
        count_min_registers,
    )

    ev = _load_events(spark, sf_dir).where(
        F.col("event_type").isNotNull()
    )
    regs = count_min_registers(ev, "event_type", depth=4, width=64)
    keys = ev.select("event_type").distinct()
    est = count_min_estimate(regs, keys, "event_type", depth=4, width=64)
    exact = ev.groupBy(F.col("event_type").alias("key")).agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_count")
    )
    return est.join(exact, "key").select("key", "est_count", "exact_count")


_CMS_ESTIMATE_ORACLE = """
    WITH ev AS (
        SELECT event_type FROM events WHERE event_type IS NOT NULL
    ),
    d AS (SELECT * FROM (VALUES (0),(1),(2),(3)) t(j)),
    regs AS (
        SELECT j AS depth,
               CAST(CAST('0x' || substr(md5('cms' || CAST(j AS VARCHAR)
                        || '|' || event_type), 18, 15) AS BIGINT) % 64
                    AS INTEGER) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM ev CROSS JOIN d
        GROUP BY 1, 2
    ),
    keys AS (SELECT DISTINCT event_type AS key FROM ev),
    coords AS (
        SELECT key, j AS depth,
               CAST(CAST('0x' || substr(md5('cms' || CAST(j AS VARCHAR)
                        || '|' || key), 18, 15) AS BIGINT) % 64
                    AS INTEGER) AS bucket
        FROM keys CROSS JOIN d
    ),
    est AS (
        SELECT key,
               CAST(MIN(COALESCE(cnt, 0)) AS BIGINT) AS est_count
        FROM coords LEFT JOIN regs USING (depth, bucket)
        GROUP BY key
    ),
    exact AS (
        SELECT event_type AS key, CAST(COUNT(*) AS BIGINT) AS exact_count
        FROM ev GROUP BY 1
    )
    SELECT key, est_count, exact_count FROM est JOIN exact USING (key)
"""


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV bottom-64 distinct sketch (operators/sketches.py::
    kmv_distinct) of the ordering customers: one-row
    (n_kept, kth_hash, est_distinct) readout — the k-th smallest
    md5-60 hash is the whole estimator state, and the estimate is one
    exact-literal IEEE multiply/divide/floor. TakeOrderedAndProject
    keeps every partition's contribution to k rows."""
    from h3_indexer_spark.operators.sketches import kmv_distinct

    return kmv_distinct(load(spark, sf_dir, "orders"), "o_custkey", k=64)


# the SAME double the operator folds (F.lit(float((k-1)*2^60)) at
# k=64) — derived, not transcribed: a hand-copied mantissa was wrong
# by 2e-7 relative and would have flipped est_distinct by 1 whenever
# the quotient landed near an integer boundary (code-review catch)
_KMV_NUM_64 = repr(float(63 * (1 << 60)))
_KMV_DISTINCT_ORACLE = f"""
    WITH h AS (
        SELECT DISTINCT
               CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)),
                                   18, 15) AS BIGINT) AS hash_val
        FROM orders WHERE o_custkey IS NOT NULL
    ),
    bot AS (SELECT hash_val FROM h ORDER BY hash_val LIMIT 64),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_kept,
               MAX(hash_val) AS kth_hash
        FROM bot
    )
    SELECT n_kept, kth_hash,
           CASE WHEN n_kept < 64 THEN n_kept
                ELSE CAST(FLOOR({_KMV_NUM_64}
                                / CAST(kth_hash AS DOUBLE)) AS BIGINT)
           END AS est_distinct
    FROM agg
"""


def q_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction (operators/graph.py::
    adamic_adar) on the co-purchase graph of a deterministic 25%
    order sample (orderkey % 4 — the full TPC-H co-purchase graph is
    uniformly dense, mean degree ~116 at BOTH SFs, so Σdeg² pair
    volume is ~300M at sf0.1; the sample thins degrees ~4x and pair
    work ~16x while keeping a full top-30): the 30 strongest
    NON-adjacent part pairs by Adamic-Adar affinity (integer-
    quantized 1/ln(deg) witness terms, order-free BIGINT sum), with
    ties broken by the pair key — every ordering column is an exact
    integer, so the top-30 cut is engine-stable."""
    from h3_indexer_spark.operators.graph import adamic_adar

    edges = _copurchase_edges(spark, sf_dir, sample_mod=4)
    return (
        # log_exclusions=False keeps the identical max_degree cap
        # semantics (the oracle mirrors the cap, see the adj CTE) but
        # stays fully lazy — zero jobs at plan construction (the
        # q_item_cf pattern; the eager hub census + localCheckpoint
        # cost ~8s of the 12.9s steady time, VERDICT r9 #2)
        adamic_adar(edges, min_common=2, log_exclusions=False)
        .orderBy(F.col("aa_q").desc(), "u", "v")
        .limit(30)
    )


_ADAMIC_ADAR_ORACLE = """
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        WHERE l_orderkey % 4 = 0
    ),
    edges AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    dirs AS (
        SELECT src AS z, dst AS n FROM edges
        UNION
        SELECT dst AS z, src AS n FROM edges
    ),
    deg AS (SELECT z, COUNT(*) AS deg FROM dirs GROUP BY z),
    adj AS (
        -- deg <= 10000 mirrors the engine's default max_degree hub
        -- cap: both sides must drop the same witnesses even if a
        -- future testdata regen grows a >10k-degree hub (ADVICE r8)
        SELECT d.z, d.n,
               CAST(FLOOR(1000000000.0
                          / LN(CAST(g.deg AS DOUBLE))) AS BIGINT) AS t
        FROM dirs d JOIN deg g
          ON d.z = g.z AND g.deg >= 2 AND g.deg <= 10000
    ),
    pairs AS (
        SELECT a.n AS u, b.n AS v,
               CAST(COUNT(*) AS BIGINT) AS common_neighbors,
               CAST(SUM(a.t) AS BIGINT) AS aa_q
        FROM adj a JOIN adj b ON a.z = b.z AND a.n < b.n
        GROUP BY 1, 2
        HAVING COUNT(*) >= 2
    )
    SELECT p.u, p.v, p.common_neighbors, p.aa_q
    FROM pairs p
    LEFT JOIN edges e ON p.u = e.src AND p.v = e.dst
    WHERE e.src IS NULL
    ORDER BY p.aa_q DESC, p.u, p.v
    LIMIT 30
"""


def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (operators/analytics.py::mann_whitney_u)
    between returned ('R') and accepted ('A') line items on extended
    price — doubled midranks keep the tie-corrected rank sums exact
    BIGINTs; the z-score divides exact integers in one fixed IEEE op
    order (raw-compound precedent, no rounding)."""
    from h3_indexer_spark.operators.analytics import mann_whitney_u

    return mann_whitney_u(
        load(spark, sf_dir, "lineitem"),
        "l_returnflag",
        "l_extendedprice",
        "R",
        "A",
    )


_MANN_WHITNEY_ORACLE = """
    WITH vals AS (
        SELECT l_extendedprice AS v,
               CAST(COUNT(*) AS BIGINT) AS ct,
               CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS ca
        FROM lineitem
        WHERE l_returnflag IN ('R', 'A')
          AND l_extendedprice IS NOT NULL
        GROUP BY 1
    ),
    ranked AS (
        SELECT ct, ca,
               COALESCE(SUM(ct) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS bef
        FROM vals
    ),
    agg AS (
        SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
               CAST(SUM(ct - ca) AS BIGINT) AS n_b,
               CAST(SUM(ca * (2 * bef + ct + 1)) AS BIGINT) AS r2a
        FROM ranked
    ),
    u AS (
        SELECT n_a, n_b,
               CAST(r2a - n_a * (n_a + 1) AS BIGINT) AS u2_a
        FROM agg
    )
    SELECT n_a, n_b, u2_a,
           CAST(2 * n_a * n_b - u2_a AS BIGINT) AS u2_b,
           CASE WHEN sqrt(CAST(CAST(n_a AS DECIMAL(38,0)) * n_b
                               * (n_a + n_b + 1) AS DOUBLE)
                          / 12.0) > 0
                THEN CAST(u2_a - n_a * n_b AS DOUBLE)
                     / (2.0 * sqrt(CAST(CAST(n_a AS DECIMAL(38,0)) * n_b
                                        * (n_a + n_b + 1) AS DOUBLE)
                                   / 12.0))
           END AS z
    FROM u
"""


def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing dimension build (operators/
    relational.py::scd2_build) over the event log: per user, runs of
    an unchanged event_type collapse to half-open validity intervals
    with a NULL-terminated current row — the Kimball history table,
    shuffled only on the dimension key. Timestamps are the
    epoch-nano longs of _load_events."""
    ev = _load_events(spark, sf_dir).where(
        F.col("event_type").isNotNull()
    )
    return R.scd2_build(ev, "user_id", ["event_type"], "ts")


_SCD2_ORACLE = """
    WITH obs AS (
        SELECT user_id, epoch_ns(ts) AS ts, event_type
        FROM events WHERE event_type IS NOT NULL
    ),
    flagged AS (
        SELECT user_id, ts, event_type,
               CASE WHEN ROW_NUMBER() OVER
                        (PARTITION BY user_id
                         ORDER BY ts, event_type) = 1 THEN 1
                    WHEN event_type IS DISTINCT FROM LAG(event_type)
                        OVER (PARTITION BY user_id
                              ORDER BY ts, event_type) THEN 1
                    ELSE 0 END AS chg
        FROM obs
    ),
    runs AS (
        SELECT user_id, ts, event_type,
               SUM(chg) OVER (PARTITION BY user_id
                              ORDER BY ts, event_type
                              ROWS UNBOUNDED PRECEDING) AS run
        FROM flagged
    ),
    grouped AS (
        SELECT user_id, run, event_type,
               MIN(ts) AS effective_from,
               CAST(COUNT(*) AS BIGINT) AS n_observations
        FROM runs GROUP BY 1, 2, 3
    )
    SELECT user_id, event_type, effective_from,
           LEAD(effective_from) OVER
               (PARTITION BY user_id ORDER BY effective_from, run)
               AS effective_to,
           LEAD(effective_from) OVER
               (PARTITION BY user_id ORDER BY effective_from, run)
               IS NULL AS is_current,
           n_observations
    FROM grouped
"""


def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson matrix (operators/relational.py::
    corr_matrix) over four lineitem measures in ONE aggregation pass
    — 6 coefficients from a single scan (vs 6 grouped_corr re-reads),
    each combined from exact DECIMAL sums in grouped_corr's fixed
    IEEE order, rounded 12 for the FMA-contraction ulp."""
    return R.corr_matrix(
        load(spark, sf_dir, "lineitem"),
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    )


def _corr_matrix_oracle() -> str:
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    sums = ["COUNT(*) AS n_rows"]
    for c in cols:
        sums.append(
            f"CAST(SUM(CAST({c} AS DECIMAL(19,4))) AS DOUBLE) AS s_{c}"
        )
        sums.append(
            f"CAST(SUM(CAST({c} AS DECIMAL(19,4))"
            f" * CAST({c} AS DECIMAL(19,4))) AS DOUBLE) AS ss_{c}"
        )
    pairs = [
        (cols[i], cols[j])
        for i in range(len(cols))
        for j in range(i + 1, len(cols))
    ]
    for x, y in pairs:
        sums.append(
            f"CAST(SUM(CAST({x} AS DECIMAL(19,4))"
            f" * CAST({y} AS DECIMAL(19,4))) AS DOUBLE) AS sxy_{x}_{y}"
        )
    mask = " AND ".join(f"{c} IS NOT NULL" for c in cols)
    selects = []
    for x, y in pairs:
        den = (
            f"sqrt(CAST(n_rows AS DOUBLE) * ss_{x} - s_{x} * s_{x})"
            f" * sqrt(CAST(n_rows AS DOUBLE) * ss_{y} - s_{y} * s_{y})"
        )
        selects.append(
            f"SELECT '{x}' AS feat_x, '{y}' AS feat_y,"
            f" CAST(n_rows AS BIGINT) AS n_rows,"
            f" ROUND(CASE WHEN {den} > 0 THEN"
            f" (CAST(n_rows AS DOUBLE) * sxy_{x}_{y} - s_{x} * s_{y})"
            f" / ({den}) END, 12) AS corr FROM a"
        )
    body = "\n    UNION ALL\n    ".join(selects)
    return (
        "WITH a AS (SELECT " + ", ".join(sums)
        + f" FROM lineitem WHERE {mask})\n    " + body
    )


def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization (operators/features.py::
    embedding_quantize_int8): per-vector scale = max|x|/127 and
    floor-quantized codes — surfaced as the scale, the first four
    code values, and the exact BIGINT code sum (the comparator-safe
    scalar projection of the array). Pure narrow map."""
    from h3_indexer_spark.operators.features import (
        embedding_quantize_int8,
    )

    q = embedding_quantize_int8(
        load(spark, sf_dir, "embeddings"), "embedding"
    )
    return q.select(
        "vec_id",
        F.col("scale"),
        F.element_at("q", 1).alias("q1"),
        F.element_at("q", 2).alias("q2"),
        F.element_at("q", 3).alias("q3"),
        F.element_at("q", 4).alias("q4"),
        F.aggregate(
            "q",
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x.cast("bigint"),
        ).alias("q_sum"),
    )


_EMBED_QUANTIZE_ORACLE = """
    WITH v AS (
        SELECT vec_id,
               list_transform(embedding,
                              x -> CAST(x AS DOUBLE)) AS vec
        FROM embeddings
    ),
    s AS (
        SELECT vec_id, vec,
               list_max(list_transform(vec, x -> abs(x))) AS amax
        FROM v
    ),
    q AS (
        SELECT vec_id,
               amax / 127.0 AS scale,
               CASE WHEN amax > 0
                    THEN list_transform(vec,
                         x -> CAST(FLOOR(x / (amax / 127.0))
                                   AS INTEGER))
                    ELSE list_transform(vec, x -> 0) END AS codes
        FROM s
    )
    SELECT vec_id, scale,
           codes[1] AS q1, codes[2] AS q2,
           codes[3] AS q3, codes[4] AS q4,
           CAST(list_sum(list_transform(codes,
                x -> CAST(x AS BIGINT))) AS BIGINT) AS q_sum
    FROM q
"""


QUERIES["q_cms_estimate"] = q_cms_estimate
QUERIES["q_kmv_distinct"] = q_kmv_distinct
QUERIES["q_adamic_adar"] = q_adamic_adar
QUERIES["q_mann_whitney"] = q_mann_whitney
QUERIES["q_scd2"] = q_scd2
QUERIES["q_corr_matrix"] = q_corr_matrix
QUERIES["q_embed_quantize"] = q_embed_quantize
ORACLES["q_cms_estimate"] = _CMS_ESTIMATE_ORACLE
ORACLES["q_kmv_distinct"] = _KMV_DISTINCT_ORACLE
ORACLES["q_adamic_adar"] = _ADAMIC_ADAR_ORACLE
ORACLES["q_mann_whitney"] = _MANN_WHITNEY_ORACLE
ORACLES["q_scd2"] = _SCD2_ORACLE
ORACLES["q_corr_matrix"] = _corr_matrix_oracle()
ORACLES["q_embed_quantize"] = _EMBED_QUANTIZE_ORACLE


def q_eventually_follows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eventually-follows census (operators/analytics.py::
    eventually_follows): per ordered event-type pair, the entities
    whose FIRST antecedent strictly precedes their FIRST consequent —
    the process-discovery relation event_transitions (adjacent-only)
    cannot see. Exact integer counts; support is one division."""
    from h3_indexer_spark.operators.analytics import eventually_follows

    return eventually_follows(_load_events(spark, sf_dir))


_EVENTUALLY_FOLLOWS_ORACLE = """
    WITH firsts AS (
        SELECT user_id AS e, event_type AS t,
               MIN(epoch_ns(ts)) AS ts
        FROM events
        WHERE event_type IS NOT NULL AND ts IS NOT NULL
        GROUP BY 1, 2
    ),
    fol AS (
        SELECT a.t AS antecedent, b.t AS consequent,
               CAST(COUNT(*) AS BIGINT) AS n_follow
        FROM firsts a JOIN firsts b
          ON a.e = b.e AND a.t <> b.t AND a.ts < b.ts
        GROUP BY 1, 2
    ),
    ant AS (
        SELECT t AS antecedent,
               CAST(COUNT(*) AS BIGINT) AS n_antecedent
        FROM firsts GROUP BY 1
    )
    SELECT antecedent, consequent, n_follow, n_antecedent,
           CAST(n_follow AS DOUBLE) / CAST(n_antecedent AS DOUBLE)
               AS support
    FROM fol JOIN ant USING (antecedent)
"""


def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars per event type (operators/analytics.py::
    ohlc_bars): open/close ride lexicographic struct min/max over
    (ts, value) so equal-timestamp ties resolve identically in any
    engine; volume exact, value_sum through DECIMAL(19,4)."""
    from h3_indexer_spark.operators.analytics import ohlc_bars

    return ohlc_bars(
        _load_events(spark, sf_dir), group_cols=["event_type"]
    )


_OHLC_BARS_ORACLE = """
    WITH ev AS (
        SELECT event_type, epoch_ns(ts) AS t, value AS v
        FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    )
    SELECT event_type,
           t - (((t % 3600000000000) + 3600000000000)
                % 3600000000000) AS bucket_start,
           (min(struct_pack(ts := t, v := v))).v AS open,
           max(v) AS high,
           min(v) AS low,
           (max(struct_pack(ts := t, v := v))).v AS close,
           CAST(COUNT(*) AS BIGINT) AS volume,
           CAST(CAST(SUM(CAST(v AS DECIMAL(19,4))) AS DECIMAL(19,4))
                AS DOUBLE) AS value_sum
    FROM ev
    GROUP BY 1, 2
"""


QUERIES["q_eventually_follows"] = q_eventually_follows
QUERIES["q_ohlc_bars"] = q_ohlc_bars
ORACLES["q_eventually_follows"] = _EVENTUALLY_FOLLOWS_ORACLE
ORACLES["q_ohlc_bars"] = _OHLC_BARS_ORACLE


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-flavored national market share: within the ECONOMY
    part market, NATION_0 suppliers' revenue share per order year —
    a five-way star join (lineitem ⋈ part ⋈ supplier ⋈ nation ⋈
    orders). The three true dimensions broadcast by hint; the orders
    leg broadcasts at fixture size but is a key-partitioned shuffle
    join at production scale (orders is fact-sized — hinting it
    broadcast would be wrong at 100 TB), after which the fact side
    shuffles once more for the year aggregation. Revenue sums are
    exact DECIMAL(19,4); the share is one division of two exact
    sums. The session TZ pins to UTC before year() touches
    o_orderdate (the q_top_orders rule: a plain foreign session in a
    west-of-UTC zone shifts midnight-aligned Jan-1 orders into the
    prior year while DuckDB's naive year() does not)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").where(
        F.col("p_type") == "ECONOMY"
    ).select("p_partkey")
    supp = load(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nat = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey"), F.col("n_name")
    )
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year")
    )
    vol = (
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    ).cast("decimal(19,4)")
    joined = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            "o_year",
            vol.alias("_vol"),
            F.when(F.col("n_name") == "NATION_0", vol)
            .otherwise(F.lit(0).cast("decimal(19,4)"))
            .alias("_nvol"),
        )
    )
    agg = joined.groupBy("o_year").agg(
        F.sum("_vol").cast("decimal(19,4)").alias("_tot"),
        F.sum("_nvol").cast("decimal(19,4)").alias("_nat"),
    )
    return agg.select(
        "o_year",
        F.col("_tot").cast("double").alias("total_volume"),
        F.col("_nat").cast("double").alias("nation_volume"),
        (
            F.col("_nat").cast("double") / F.col("_tot").cast("double")
        ).alias("mkt_share"),
    )


_MARKET_SHARE_ORACLE = """
    WITH joined AS (
        SELECT year(o_orderdate) AS o_year,
               CAST(l_extendedprice * (1.0 - l_discount)
                    AS DECIMAL(19,4)) AS vol,
               n_name
        FROM lineitem
        JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN orders ON l_orderkey = o_orderkey
    ),
    agg AS (
        SELECT o_year,
               CAST(SUM(vol) AS DECIMAL(19,4)) AS tot,
               CAST(SUM(CASE WHEN n_name = 'NATION_0' THEN vol
                             ELSE CAST(0 AS DECIMAL(19,4)) END)
                    AS DECIMAL(19,4)) AS nat
        FROM joined GROUP BY o_year
    )
    SELECT o_year,
           CAST(tot AS DOUBLE) AS total_volume,
           CAST(nat AS DOUBLE) AS nation_volume,
           CAST(nat AS DOUBLE) / CAST(tot AS DOUBLE) AS mkt_share
    FROM agg
"""


def q_charset_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class census (operators/textops.py::charset_stats)
    over the documents corpus — exact per-class counts from
    length-difference over literal ASCII ranges (engine-identical;
    no \\p{...} classes), the mojibake / binary-spill detector of a
    curation stage."""
    from h3_indexer_spark.operators.textops import charset_stats

    return charset_stats(load(spark, sf_dir, "documents")).select(
        "doc_id", "n_chars", "n_letters", "n_digits", "n_spaces",
        "n_ascii_other", "n_control", "n_non_ascii", "letter_ratio",
    )


_CHARSET_STATS_ORACLE = """
    WITH c AS (
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(length(text)
                    - length(regexp_replace(text, '[A-Za-z]', '', 'g'))
                    AS BIGINT) AS n_letters,
               CAST(length(text)
                    - length(regexp_replace(text, '[0-9]', '', 'g'))
                    AS BIGINT) AS n_digits,
               CAST(length(text)
                    - length(regexp_replace(text, '[ \\t\\n\\r]', '', 'g'))
                    AS BIGINT) AS n_spaces,
               CAST(length(text)
                    - length(regexp_replace(text, '[ -~]', '', 'g'))
                    AS BIGINT) AS printable,
               CAST(length(text)
                    - length(regexp_replace(text, '[\\t\\n\\r]', '', 'g'))
                    AS BIGINT) AS n_tnr,
               CAST(length(text)
                    - length(regexp_replace(text, '[\\x00-\\x7F]', '', 'g'))
                    AS BIGINT) AS ascii_all
        FROM documents
    )
    SELECT doc_id, n_chars, n_letters, n_digits, n_spaces,
           CAST(printable - n_letters - n_digits - (n_spaces - n_tnr)
                AS BIGINT) AS n_ascii_other,
           CAST(ascii_all - printable - n_tnr AS BIGINT) AS n_control,
           CAST(n_chars - ascii_all AS BIGINT) AS n_non_ascii,
           CASE WHEN n_chars > 0
                THEN CAST(n_letters AS DOUBLE)
                     / CAST(n_chars AS DOUBLE)
           END AS letter_ratio
    FROM c
"""


QUERIES["q_market_share"] = q_market_share
QUERIES["q_charset_stats"] = q_charset_stats
ORACLES["q_market_share"] = _MARKET_SHARE_ORACLE
ORACLES["q_charset_stats"] = _CHARSET_STATS_ORACLE


def q_seq_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential pattern mining (operators/mining.py::
    sequential_patterns, PrefixSpan-lite): top-20 event-type
    sequences of length ≤ 3 by DISTINCT-entity support, with gap
    tolerance 2 (consecutive pattern elements at most 2 events
    apart) — the sequence-mining step past q_transitions /
    q_top_paths whose supports count entities, not occurrences.
    Ranked by (support desc, pattern asc) — a total order, so the
    top-k cut is deterministic."""
    from h3_indexer_spark.operators.mining import sequential_patterns

    return sequential_patterns(_load_events(spark, sf_dir))


_SEQ_PATTERNS_ORACLE = """
    WITH s AS (
        SELECT user_id, event_type AS t0,
               lead(event_type, 1) OVER w AS l1,
               lead(event_type, 2) OVER w AS l2,
               lead(event_type, 3) OVER w AS l3,
               lead(event_type, 4) OVER w AS l4
        FROM events
        WINDOW w AS (PARTITION BY user_id
                     ORDER BY epoch_ns(ts), event_id)
    ),
    cand AS (
        -- every referenced element carries its own NOT NULL guard:
        -- the engine drops any candidate whose concat sees a NULL
        -- event type, so a NULL t0 (or a NULL mid-element with a
        -- non-null later lead) must not surface as a NULL-pattern
        -- support row here either (regen-proofing: current testdata
        -- has no NULL event_type, future testdata may)
        SELECT user_id, t0 AS pattern, 1 AS length FROM s
          WHERE t0 IS NOT NULL
        UNION ALL SELECT user_id, t0 || ' -> ' || l1, 2
          FROM s WHERE t0 IS NOT NULL AND l1 IS NOT NULL
        UNION ALL SELECT user_id, t0 || ' -> ' || l2, 2
          FROM s WHERE t0 IS NOT NULL AND l2 IS NOT NULL
        UNION ALL SELECT user_id, t0 || ' -> ' || l1 || ' -> ' || l2, 3
          FROM s WHERE t0 IS NOT NULL AND l1 IS NOT NULL
                   AND l2 IS NOT NULL
        UNION ALL SELECT user_id, t0 || ' -> ' || l1 || ' -> ' || l3, 3
          FROM s WHERE t0 IS NOT NULL AND l1 IS NOT NULL
                   AND l3 IS NOT NULL
        UNION ALL SELECT user_id, t0 || ' -> ' || l2 || ' -> ' || l3, 3
          FROM s WHERE t0 IS NOT NULL AND l2 IS NOT NULL
                   AND l3 IS NOT NULL
        UNION ALL SELECT user_id, t0 || ' -> ' || l2 || ' -> ' || l4, 3
          FROM s WHERE t0 IS NOT NULL AND l2 IS NOT NULL
                   AND l4 IS NOT NULL
    ),
    d AS (SELECT DISTINCT user_id, pattern, length FROM cand),
    p AS (
        SELECT pattern, CAST(length AS BIGINT) AS length,
               CAST(COUNT(*) AS BIGINT) AS support
        FROM d GROUP BY 1, 2
    )
    SELECT pattern, length, support, rnk FROM (
        SELECT pattern, length, support,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY support DESC, pattern ASC) AS BIGINT) AS rnk
        FROM p)
    WHERE rnk <= 20
"""


def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k-by-hash quantile register table
    (operators/sketches.py::quantile_sketch, k=256) over lineitem
    extended prices, row identity (l_orderkey, l_linenumber) — the
    percentile leg of the sketch family: fixed-size, mergeable
    (KMV law), DKW-error-bounded, and hash-checkable because the
    hash IS the sampling priority (md5-60 recipe). The register
    surface is the contract; the percentile readout
    (quantile_sketch_estimate) is a driver-sized aggregation whose
    error bound the session tests lock."""
    from h3_indexer_spark.operators.sketches import quantile_sketch

    li = load(spark, sf_dir, "lineitem")
    return quantile_sketch(
        li,
        "l_extendedprice",
        F.concat_ws(
            "|",
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
        ),
        k=256,
    )


_QUANTILE_SKETCH_ORACLE = """
    WITH h AS (
        SELECT CAST('0x' || substr(md5(
                   CAST(l_orderkey AS VARCHAR) || '|'
                   || CAST(l_linenumber AS VARCHAR)), 18, 15)
               AS BIGINT) AS hash_val,
               CAST(l_extendedprice AS DOUBLE) AS value
        FROM lineitem WHERE l_extendedprice IS NOT NULL
    ),
    k AS (SELECT hash_val, value FROM h
          ORDER BY hash_val, value LIMIT 256)
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY hash_val, value)
           AS BIGINT) AS rank,
           hash_val, value
    FROM k
"""


def q_kmv_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-level set operations (operators/sketches.py::
    kmv_set_ops, Beyer et al. 2007): distinct-union / intersection
    estimates for the parts returned ('R') vs accepted ('A') —
    the audience-overlap readout computed entirely from two bottom-k
    sketches, never a rescan of raw data. All output columns exact
    BIGINTs (union-bottom-k membership counts + FLOOR-ed estimates
    in one fixed IEEE op order — the kmv_distinct recipe)."""
    from h3_indexer_spark.operators.sketches import (
        kmv_bottom_k,
        kmv_set_ops,
    )

    li = load(spark, sf_dir, "lineitem")
    a = kmv_bottom_k(
        li.where(F.col("l_returnflag") == "R"), "l_partkey", k=128
    )
    b = kmv_bottom_k(
        li.where(F.col("l_returnflag") == "A"), "l_partkey", k=128
    )
    return kmv_set_ops(a, b, k=128)


_KMV_INTERSECT_ORACLE = """
    WITH ha AS (
        SELECT DISTINCT CAST('0x' || substr(md5(
                   CAST(l_partkey AS VARCHAR)), 18, 15) AS BIGINT)
               AS hash_val
        FROM lineitem WHERE l_returnflag = 'R'
        ORDER BY 1 LIMIT 128
    ),
    hb AS (
        SELECT DISTINCT CAST('0x' || substr(md5(
                   CAST(l_partkey AS VARCHAR)), 18, 15) AS BIGINT)
               AS hash_val
        FROM lineitem WHERE l_returnflag = 'A'
        ORDER BY 1 LIMIT 128
    ),
    u AS (
        SELECT DISTINCT hash_val FROM (
            SELECT hash_val FROM ha UNION ALL SELECT hash_val FROM hb)
        ORDER BY 1 LIMIT 128
    ),
    f AS (
        SELECT u.hash_val,
               CASE WHEN a.hash_val IS NOT NULL
                     AND b.hash_val IS NOT NULL
                    THEN 1 ELSE 0 END AS common
        FROM u
        LEFT JOIN ha a ON u.hash_val = a.hash_val
        LEFT JOIN hb b ON u.hash_val = b.hash_val
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_union_kept,
               MAX(hash_val) AS kth_union_hash,
               CAST(SUM(common) AS BIGINT) AS n_common
        FROM f
    ),
    est AS (
        SELECT n_union_kept, kth_union_hash, n_common,
               CASE WHEN n_union_kept < 128 THEN n_union_kept
                    -- repr(float(127 * 2**60)) — DERIVED, never
                    -- transcribed (the round-8 KMV-constant lesson)
                    ELSE CAST(FLOOR(1.4642103108506957e+20
                              / CAST(kth_union_hash AS DOUBLE))
                         AS BIGINT)
               END AS est_union
        FROM agg
    )
    SELECT n_union_kept, kth_union_hash, n_common, est_union,
           CAST(FLOOR(CAST(n_common AS DOUBLE)
                      * CAST(est_union AS DOUBLE)
                      / CAST(n_union_kept AS DOUBLE)) AS BIGINT)
           AS est_intersection
    FROM est
"""


def q_edit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certain-recall edit-distance self-join (operators/textops.py::
    edit_distance_join — Pass-Join d=1 pigeonhole segment blocking):
    every unordered supplier-name pair within Levenshtein 1, found
    without an all-pairs scan. Supplier names differ in their digit
    tail, so single-digit-substitution neighbors are the planted
    truth; the DuckDB oracle IS the all-pairs formulation — recall
    certainty is exactly what the hash check proves."""
    from h3_indexer_spark.operators.textops import edit_distance_join

    sup = load(spark, sf_dir, "supplier")
    return edit_distance_join(sup, "s_suppkey", "s_name").select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        "text_a",
        "text_b",
        F.col("edit_dist").cast("bigint").alias("edit_dist"),
    )


_EDIT_JOIN_ORACLE = """
    SELECT CAST(a.s_suppkey AS BIGINT) AS id_a,
           CAST(b.s_suppkey AS BIGINT) AS id_b,
           a.s_name AS text_a,
           b.s_name AS text_b,
           CAST(levenshtein(a.s_name, b.s_name) AS BIGINT)
           AS edit_dist
    FROM supplier a
    JOIN supplier b
      ON a.s_suppkey < b.s_suppkey
     AND abs(length(a.s_name) - length(b.s_name)) <= 1
    WHERE levenshtein(a.s_name, b.s_name) <= 1
"""


def q_quantile_sketch_grouped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-group quantile registers (operators/sketches.py::
    quantile_sketch_grouped, k=64) — the sketch cube: one bottom-k
    register set per return flag, |groups|·k rows whatever the data
    volume, rank filter pushed as a per-group running top-k
    (WindowGroupLimit)."""
    from h3_indexer_spark.operators.sketches import (
        quantile_sketch_grouped,
    )

    li = load(spark, sf_dir, "lineitem")
    return quantile_sketch_grouped(
        li,
        "l_returnflag",
        "l_extendedprice",
        F.concat_ws(
            "|",
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
        ),
        k=64,
    )


_QUANTILE_SKETCH_GROUPED_ORACLE = """
    WITH h AS (
        SELECT l_returnflag AS "group",
               CAST('0x' || substr(md5(
                   CAST(l_orderkey AS VARCHAR) || '|'
                   || CAST(l_linenumber AS VARCHAR)), 18, 15)
               AS BIGINT) AS hash_val,
               CAST(l_extendedprice AS DOUBLE) AS value
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL
    ),
    r AS (
        SELECT "group",
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY "group"
                   ORDER BY hash_val, value) AS BIGINT) AS rank,
               hash_val, value
        FROM h
    )
    SELECT "group", rank, hash_val, value FROM r WHERE rank <= 64
"""


def q_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE-lite corpus keywords (operators/textops.py::
    rake_keywords): top-10 stopword-delimited phrases by the
    deg/freq word-score sum — per-word scores FLOOR-quantized
    BIGINTs so phrase scores integer-sum order-free (the LM-scoring
    recipe); phrase text reconstructed by token position, never
    collect order."""
    from h3_indexer_spark.operators.textops import rake_keywords

    return rake_keywords(load(spark, sf_dir, "documents"))


_KEYWORDS_ORACLE = """
    WITH toks0 AS (
        SELECT doc_id,
               string_split_regex(
                   lower(regexp_replace(text, '[^\\w\\s]', ' ', 'g')),
                   '\\s+') AS ws
        FROM documents
    ),
    toks AS (
        SELECT doc_id, p.pos AS pos, p.w AS w
        FROM toks0,
             unnest(list_transform(
                 range(1, len(ws) + 1),
                 i -> {'pos': i, 'w': ws[i]})) AS t(p)
        WHERE p.w <> ''
    ),
    flagged AS (
        SELECT doc_id, pos, w,
               CASE WHEN w IN ('the','and','of','to','a','in','is',
                               'that','it','for')
                    THEN 1 ELSE 0 END AS is_stop
        FROM toks
    ),
    runs AS (
        SELECT doc_id, pos, w,
               SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY pos)
               AS run
        FROM flagged
        QUALIFY is_stop = 0
    ),
    p AS (
        SELECT doc_id, run,
               string_agg(w, ' ' ORDER BY pos) AS phrase,
               COUNT(*) AS plen
        FROM runs GROUP BY doc_id, run
    ),
    pw AS (
        SELECT r.doc_id, r.run, p.phrase, p.plen, r.w
        FROM runs r JOIN p ON r.doc_id = p.doc_id AND r.run = p.run
    ),
    wscore AS (
        SELECT w,
               CAST(FLOOR(1000000000.0
                          * CAST(SUM(plen) AS DOUBLE)
                          / CAST(COUNT(*) AS DOUBLE)) AS BIGINT)
               AS wscore_q
        FROM pw GROUP BY w
    ),
    occ AS (
        SELECT pw.doc_id, pw.run, pw.phrase,
               CAST(SUM(s.wscore_q) AS BIGINT) AS score_q
        FROM pw JOIN wscore s ON pw.w = s.w
        GROUP BY pw.doc_id, pw.run, pw.phrase
    ),
    agg AS (
        SELECT phrase,
               CAST(COUNT(*) AS BIGINT) AS n_occurrences,
               MIN(score_q) AS score_q
        FROM occ GROUP BY phrase
    ),
    top AS (
        SELECT phrase, n_occurrences, score_q FROM agg
        ORDER BY score_q DESC, phrase ASC LIMIT 10
    )
    SELECT phrase, n_occurrences, score_q,
           CAST(ROW_NUMBER() OVER (
               ORDER BY score_q DESC, phrase ASC) AS BIGINT) AS rnk
    FROM top
"""


QUERIES["q_seq_patterns"] = q_seq_patterns
QUERIES["q_quantile_sketch"] = q_quantile_sketch
QUERIES["q_kmv_intersect"] = q_kmv_intersect
QUERIES["q_edit_join"] = q_edit_join
QUERIES["q_quantile_sketch_grouped"] = q_quantile_sketch_grouped
def q_h3_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H3 cell-set compaction (operators/hexops.py::compact_cells_df
    — native bit-op parents, pentagon-aware family counts, one
    shrinking groupBy per resolution level). The input set is 150
    res-5 descendants of one res-2 hexagon (586138653651107839, the
    cell over 40N 100W), digits driven by customer keys — pure bit
    arithmetic, so the DuckDB oracle can synthesize the SAME cells
    and replay the SAME family-of-7 promotion with integer ops: the
    planted set compacts 150 → 18 cells across three resolutions
    (10 res-5 + 6 res-4 + 2 res-3), exercising two promotion levels.
    The base is a hexagon, so every descendant is a hexagon and the
    oracle's family size is exactly 7; res-3 cells present are ≤ 3
    siblings, so deeper levels are provably no-ops and the oracle
    stops where promotion stops."""
    from h3_indexer_spark.functions.h3.sql import h3_long_to_string
    from h3_indexer_spark.operators.hexops import compact_cells_df

    k = F.col("c_custkey")
    cell = (
        F.lit(599648903851147263)  # base50: res nibble 5, digits 3-5 = 0
        + F.expr("c_custkey div 49 % 7") * F.lit(68719476736)
        + F.expr("c_custkey div 7 % 7") * F.lit(8589934592)
        + (k % 7) * F.lit(1073741824)
    )
    cells = (
        load(spark, sf_dir, "customer")
        .where(k <= 150)
        .select(h3_long_to_string(cell).alias("h3_index"))
    )
    return compact_cells_df(cells)


_H3_COMPACT_ORACLE = """
    WITH cells AS (
        SELECT DISTINCT
               599648903851147263
               + (c_custkey // 49 % 7) * 68719476736
               + (c_custkey // 7 % 7) * 8589934592
               + (c_custkey % 7) * 1073741824 AS c
        FROM customer WHERE c_custkey <= 150
    ),
    -- level res5 -> res4: parent = clear res nibble, set res=4,
    -- fill digit 5 with 7; promote families of exactly 7
    p5 AS (
        SELECT c,
               ((c & -67553994410557441) | 18014398509481984
                | 7516192768) AS p
        FROM cells
    ),
    full4 AS (
        SELECT p FROM p5 GROUP BY p HAVING COUNT(*) = 7
    ),
    keep5 AS (
        SELECT c FROM p5 WHERE p NOT IN (SELECT p FROM full4)
    ),
    -- level res4 -> res3 over the promoted res-4 cells
    p4 AS (
        SELECT p AS c,
               ((p & -67553994410557441) | 13510798882111488
                | 60129542144) AS p3
        FROM full4
    ),
    full3 AS (
        SELECT p3 FROM p4 GROUP BY p3 HAVING COUNT(*) = 7
    ),
    keep4 AS (
        SELECT c FROM p4 WHERE p3 NOT IN (SELECT p3 FROM full3)
    ),
    -- res-3 survivors can be at most 3 siblings (digit-3 values are
    -- c_custkey // 49 % 7 for custkey <= 150 -> {0,1,2,3} minus
    -- non-promoted), so res3 -> res2 can never promote: stop here
    allout AS (
        SELECT c FROM keep5
        UNION ALL SELECT c FROM keep4
        UNION ALL SELECT p3 AS c FROM full3
    )
    SELECT lower(format('{:x}', c)) AS h3_index FROM allout
"""


def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust line fit (operators/analytics.py::theil_sen)
    of extended price on quantity: slope = median pairwise slope over
    a deterministic 256-row hash sample (bounded k²/2 pair work),
    intercept = full-data median residual — both exact interpolated
    percentiles (the cross-engine bit-parity primitive); equal-x
    pairs excluded."""
    from h3_indexer_spark.operators.analytics import theil_sen

    li = load(spark, sf_dir, "lineitem")
    return theil_sen(
        li,
        "l_quantity",
        "l_extendedprice",
        F.concat_ws(
            "|",
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
        ),
        k=256,
    )


_THEIL_SEN_ORACLE = """
    WITH pts AS (
        SELECT CAST('0x' || substr(md5(
                   CAST(l_orderkey AS VARCHAR) || '|'
                   || CAST(l_linenumber AS VARCHAR)), 18, 15)
               AS BIGINT) AS h,
               CAST(l_quantity AS DOUBLE) AS x,
               CAST(l_extendedprice AS DOUBLE) AS y
        FROM lineitem
        WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        ORDER BY 1, 2, 3 LIMIT 256
    ),
    slopes AS (
        SELECT (b.y - a.y) / (b.x - a.x) AS s
        FROM pts a JOIN pts b ON a.h < b.h AND a.x <> b.x
    ),
    fit AS (
        SELECT quantile_cont(s, 0.5) AS slope,
               CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM slopes
    ),
    ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sample FROM pts)
    SELECT f.slope,
           quantile_cont(CAST(l.l_extendedprice AS DOUBLE)
                         - f.slope * CAST(l.l_quantity AS DOUBLE),
                         0.5) AS intercept,
           ns.n_sample,
           f.n_pairs
    FROM lineitem l CROSS JOIN fit f CROSS JOIN ns
    WHERE l.l_quantity IS NOT NULL AND l.l_extendedprice IS NOT NULL
    GROUP BY f.slope, ns.n_sample, f.n_pairs
"""


QUERIES["q_keywords"] = q_keywords
QUERIES["q_h3_compact"] = q_h3_compact
QUERIES["q_theil_sen"] = q_theil_sen
ORACLES["q_keywords"] = _KEYWORDS_ORACLE
ORACLES["q_h3_compact"] = _H3_COMPACT_ORACLE
ORACLES["q_theil_sen"] = _THEIL_SEN_ORACLE
ORACLES["q_seq_patterns"] = _SEQ_PATTERNS_ORACLE
ORACLES["q_quantile_sketch"] = _QUANTILE_SKETCH_ORACLE
ORACLES["q_kmv_intersect"] = _KMV_INTERSECT_ORACLE
ORACLES["q_edit_join"] = _EDIT_JOIN_ORACLE
ORACLES["q_quantile_sketch_grouped"] = _QUANTILE_SKETCH_GROUPED_ORACLE


def q_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA (operators/analytics.py::one_way_anova) of
    extended price across the three return-flag populations — the
    k-sample experiment readout generalizing q_ab_test. Exact
    1e-4-quanta BIGINT group sums (scale-0 decimals: ONE
    correctly-rounded int→double cast per statistic — the scaled
    decimal→double path drifts one ulp between engines at 1e16+);
    the k-group between-term fold is order-free via
    DECIMAL(38,6)-quantized per-group terms; the compound F mirrors
    the oracle op-for-op (ROUND 9)."""
    from h3_indexer_spark.operators.analytics import one_way_anova

    return one_way_anova(
        load(spark, sf_dir, "lineitem"), "l_returnflag", "l_extendedprice"
    )


_ANOVA_ORACLE = """
    WITH cc AS (
        SELECT l_returnflag,
               CAST(round(CAST(l_extendedprice AS DOUBLE) * 10000.0)
                    AS BIGINT) AS cq
        FROM lineitem
        WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
    ),
    g AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n,
               -- scale-0 integer sums: the double cast is ONE
               -- correctly-rounded int->double conversion in both
               -- engines (a scaled decimal's cast double-rounds and
               -- drifts one ulp at 1e16+ magnitudes)
               SUM(CAST(cq AS HUGEINT)) AS s,
               SUM(CAST(cq AS HUGEINT) * CAST(cq AS HUGEINT)) AS q
        FROM cc GROUP BY l_returnflag
    ),
    t AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k_groups,
               CAST(SUM(n) AS BIGINT) AS n_total,
               SUM(s) AS ss,
               SUM(q) AS qq,
               SUM(CAST((CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                        / CAST(n AS DOUBLE) AS DECIMAL(38,6))) AS tq
        FROM g
    )
    SELECT k_groups,
           n_total,
           ROUND(CASE WHEN k_groups >= 2 AND n_total > k_groups
                       AND (CAST(qq AS DOUBLE)
                            - CAST(tq AS DOUBLE)) > 0 THEN
               ((CAST(tq AS DOUBLE)
                 - (CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE))
                   / CAST(n_total AS DOUBLE))
                / (CAST(k_groups AS DOUBLE) - 1.0))
               / ((CAST(qq AS DOUBLE) - CAST(tq AS DOUBLE))
                  / (CAST(n_total AS DOUBLE)
                     - CAST(k_groups AS DOUBLE)))
           END, 9) AS f_stat,
           ROUND(CASE WHEN k_groups >= 2 AND n_total > k_groups
                       AND (CAST(qq AS DOUBLE)
                            - CAST(tq AS DOUBLE)) > 0 THEN
               (CAST(tq AS DOUBLE)
                - (CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE))
                  / CAST(n_total AS DOUBLE))
               / ((CAST(tq AS DOUBLE)
                   - (CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE))
                     / CAST(n_total AS DOUBLE))
                  + (CAST(qq AS DOUBLE) - CAST(tq AS DOUBLE)))
           END, 9) AS eta_sq
    FROM t
"""


def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% CI for the mean order value
    (operators/analytics.py::bootstrap_mean_ci): 100 replicates, each
    row drawing a deterministic Poisson(1) resampling weight from the
    shared md5 band against precomputed integer CDF thresholds; CI
    bounds are ORDER STATISTICS (3rd / 98th sorted replicate mean) —
    the distributed-uncertainty primitive (one scan computes all
    replicates; the exchange carries B rows per partition)."""
    from h3_indexer_spark.operators.analytics import bootstrap_mean_ci

    return bootstrap_mean_ci(
        load(spark, sf_dir, "orders"), "o_orderkey", "o_totalprice", b=100
    )


def _bootstrap_ci_oracle() -> str:
    from h3_indexer_spark.operators.analytics import _POISSON1_Q60

    w_terms = "\n                + ".join(
        f"(CASE WHEN u >= {t} THEN 1 ELSE 0 END)" for t in _POISSON1_Q60
    )
    return f"""
    WITH base AS (
        SELECT CAST(o_orderkey AS VARCHAR) AS k,
               CAST(o_totalprice AS DECIMAL(18,4)) AS v
        FROM orders WHERE o_totalprice IS NOT NULL
    ),
    reps AS (
        SELECT k, v, r.rep
        FROM base CROSS JOIN (SELECT UNNEST(range(1, 101)) AS rep) r
    ),
    h AS (
        SELECT rep, v,
               CAST('0x' || substr(
                   md5('boot' || k || ':' || CAST(rep AS VARCHAR)),
                   18, 15) AS BIGINT) AS u
        FROM reps
    ),
    wtab AS (
        SELECT rep, v,
               ({w_terms}) AS w
        FROM h
    ),
    m AS (
        SELECT rep,
               CASE WHEN SUM(w) > 0
                    THEN CAST(SUM(w * v) AS DOUBLE)
                         / CAST(SUM(w) AS DOUBLE)
               END AS mean
        FROM wtab GROUP BY rep
    ),
    ranked AS (
        SELECT mean,
               row_number() OVER (ORDER BY mean ASC, rep ASC) AS rn
        FROM m
    ),
    ci AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS b_reps,
               MIN(CASE WHEN rn = 3 THEN mean END) AS ci_lo,
               MIN(CASE WHEN rn = 98 THEN mean END) AS ci_hi
        FROM ranked
    ),
    pt AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(v) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                   AS point_mean
        FROM base
    )
    SELECT n_rows, point_mean, b_reps, ci_lo, ci_hi
    FROM pt CROSS JOIN ci
    """


def q_graph_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard-coefficient link prediction (operators/graph.py::
    jaccard_link_prediction) on the same deterministic 25%-sample
    co-purchase graph as q_adamic_adar: the 30 strongest NON-adjacent
    part pairs by neighbor-set overlap. jac_q is pure BIGINT
    arithmetic ((1e9·common) div union) — no float anywhere, so the
    top-30 cut is engine-stable by construction."""
    from h3_indexer_spark.operators.graph import jaccard_link_prediction

    edges = _copurchase_edges(spark, sf_dir, sample_mod=4)
    return (
        # log_exclusions=False: identical cap, fully lazy (zero jobs
        # at construction) — the oracle mirrors the witness cap in
        # its adjw CTE, so results are unchanged (VERDICT r9 #2)
        jaccard_link_prediction(edges, min_common=2, log_exclusions=False)
        .orderBy(F.col("jac_q").desc(), "u", "v")
        .limit(30)
    )


_GRAPH_JACCARD_ORACLE = """
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        WHERE l_orderkey % 4 = 0
    ),
    edges AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    dirs AS (
        SELECT src AS z, dst AS n FROM edges
        UNION
        SELECT dst AS z, src AS n FROM edges
    ),
    deg AS (SELECT z, COUNT(*) AS deg FROM dirs GROUP BY z),
    adjw AS (
        -- deg <= 10000 mirrors the engine's default max_degree
        -- WITNESS cap (the q_adamic_adar rule); endpoint degrees in
        -- the denominator below stay UNCAPPED, as in the engine
        SELECT d.z, d.n
        FROM dirs d JOIN deg g
          ON d.z = g.z AND g.deg >= 2 AND g.deg <= 10000
    ),
    pairs AS (
        SELECT a.n AS u, b.n AS v,
               CAST(COUNT(*) AS BIGINT) AS common_neighbors
        FROM adjw a JOIN adjw b ON a.z = b.z AND a.n < b.n
        GROUP BY 1, 2
        HAVING COUNT(*) >= 2
    ),
    non_adj AS (
        SELECT p.u, p.v, p.common_neighbors
        FROM pairs p
        LEFT JOIN edges e ON p.u = e.src AND p.v = e.dst
        WHERE e.src IS NULL
    )
    SELECT n.u, n.v, n.common_neighbors,
           CAST(gu.deg AS BIGINT) AS deg_u,
           CAST(gv.deg AS BIGINT) AS deg_v,
           CAST((1000000000 * n.common_neighbors)
                // (gu.deg + gv.deg - n.common_neighbors) AS BIGINT)
               AS jac_q
    FROM non_adj n
    JOIN deg gu ON n.u = gu.z
    JOIN deg gv ON n.v = gv.z
    ORDER BY jac_q DESC, n.u, n.v
    LIMIT 30
"""


def q_log_odds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fightin'-words distinguishing terms (operators/textops.py::
    log_odds_terms): which tokens characterize English documents vs
    the rest of the corpus, scored by log-odds ratio with the
    informative Dirichlet prior (Monroe et al. 2008). Exact BIGINT
    counts; the z compound is one fixed IEEE op order with ROUND 6
    absorbing the ln/sqrt library ulp; no top-k cut to destabilize."""
    from h3_indexer_spark.operators.textops import log_odds_terms

    return log_odds_terms(
        load(spark, sf_dir, "documents"), "lang", "en", min_count=50
    )


_LOG_ODDS_ORACLE = r"""
    WITH vocab AS (
        SELECT term,
               CAST(COUNT(CASE WHEN lang = 'en' THEN 1 END) AS BIGINT)
                   AS y_focus,
               CAST(COUNT(CASE WHEN lang <> 'en' THEN 1 END) AS BIGINT)
                   AS y_rest
        FROM (
            SELECT lang,
                   unnest(string_split_regex(
                       lower(regexp_replace(text, '[^\w\s]', ' ', 'g')),
                       '\s+')) AS term
            FROM documents
            WHERE text IS NOT NULL AND lang IS NOT NULL
        ) t
        WHERE term <> ''
        GROUP BY term
    ),
    tot AS (
        SELECT CAST(SUM(y_focus) AS DOUBLE) AS n1,
               CAST(SUM(y_rest) AS DOUBLE) AS n2
        FROM vocab
    ),
    e AS (
        SELECT term, y_focus, y_rest,
               CAST(y_focus AS DOUBLE) AS y1,
               CAST(y_rest AS DOUBLE) AS y2,
               n1, n2,
               500.0 * ((CAST(y_focus AS DOUBLE)
                         + CAST(y_rest AS DOUBLE)) / (n1 + n2)) AS aw
        FROM vocab CROSS JOIN tot
        WHERE y_focus + y_rest >= 50
    )
    SELECT term, y_focus, y_rest,
           ROUND((LN((y1 + aw) / ((n1 + 500.0) - (y1 + aw)))
                  - LN((y2 + aw) / ((n2 + 500.0) - (y2 + aw))))
                 / SQRT(1.0 / (y1 + aw) + 1.0 / (y2 + aw)),
                 6) AS z_logodds
    FROM e
"""


def q_mutual_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-best-hit entity resolution (operators/textops.py::
    reciprocal_best_match): supplier-name pairs (prefix-blocked,
    Levenshtein ≤ 2) where each record is the other's single best
    match — the high-precision merge rule on top of q_fuzzy_join's
    candidate generator. All-integer (edit_dist, id) ranking keeps
    rank 1 engine-stable."""
    from h3_indexer_spark.operators.textops import reciprocal_best_match

    return reciprocal_best_match(
        load(spark, sf_dir, "supplier"),
        id_col="s_suppkey",
        text_col="s_name",
        max_dist=2,
        prefix_len=12,
    )


_MUTUAL_BEST_ORACLE = """
    WITH cand AS (
        SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
               a.s_name AS name_a, b.s_name AS name_b,
               CAST(levenshtein(a.s_name, b.s_name) AS INTEGER)
                   AS edit_dist
        FROM supplier a JOIN supplier b
          ON substring(a.s_name, 1, 12) = substring(b.s_name, 1, 12)
         AND a.s_suppkey < b.s_suppkey
        WHERE levenshtein(a.s_name, b.s_name) <= 2
    ),
    directed AS (
        SELECT id_a AS me, id_b AS other,
               name_a AS my_name, name_b AS other_name, edit_dist
        FROM cand
        UNION ALL
        SELECT id_b, id_a, name_b, name_a, edit_dist FROM cand
    ),
    best AS (
        SELECT me, other, my_name, other_name, edit_dist,
               row_number() OVER (
                   PARTITION BY me
                   ORDER BY edit_dist ASC, other ASC) AS rn
        FROM directed
    ),
    b1 AS (
        SELECT me, other, my_name, other_name, edit_dist
        FROM best WHERE rn = 1
    )
    SELECT f.me AS id_a, f.other AS id_b,
           f.my_name AS name_a, f.other_name AS name_b, f.edit_dist
    FROM b1 f JOIN b1 r ON f.me = r.other AND f.other = r.me
    WHERE f.me < f.other
"""


QUERIES["q_anova"] = q_anova
QUERIES["q_bootstrap_ci"] = q_bootstrap_ci
QUERIES["q_graph_jaccard"] = q_graph_jaccard
QUERIES["q_log_odds"] = q_log_odds
QUERIES["q_mutual_best"] = q_mutual_best
ORACLES["q_anova"] = _ANOVA_ORACLE
ORACLES["q_bootstrap_ci"] = _bootstrap_ci_oracle()
ORACLES["q_graph_jaccard"] = _GRAPH_JACCARD_ORACLE
ORACLES["q_log_odds"] = _LOG_ODDS_ORACLE
ORACLES["q_mutual_best"] = _MUTUAL_BEST_ORACLE


def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association strength (operators/analytics.py::
    cramers_v) between document language and source — "is the corpus
    mix skewed by provenance, and by how much": χ² folded order-free
    via DECIMAL(38,12)-quantized cell contributions (the q_anova
    recipe) over the zero-including 5×20 category grid, V in fixed
    IEEE op order, ROUND 9."""
    from h3_indexer_spark.operators.analytics import cramers_v

    return cramers_v(load(spark, sf_dir, "documents"), "lang", "source")


_CRAMERS_V_ORACLE = """
    WITH src AS (
        SELECT lang, source FROM documents
        WHERE lang IS NOT NULL AND source IS NOT NULL
    ),
    observed AS (
        SELECT lang, source, COUNT(*) AS obs
        FROM src GROUP BY lang, source
    ),
    grid AS (
        SELECT a.lang, b.source
        FROM (SELECT DISTINCT lang FROM observed) a
        CROSS JOIN (SELECT DISTINCT source FROM observed) b
    ),
    cells AS (
        SELECT g.lang, g.source, COALESCE(o.obs, 0) AS observed
        FROM grid g LEFT JOIN observed o
          ON g.lang = o.lang AND g.source = o.source
    ),
    ra AS (SELECT lang, SUM(observed) AS ra FROM cells GROUP BY lang),
    rb AS (SELECT source, SUM(observed) AS rb FROM cells GROUP BY source),
    tot AS (SELECT SUM(observed) AS n FROM cells),
    contrib AS (
        SELECT c.observed,
               c.lang, c.source,
               CAST((CAST(c.observed AS DOUBLE)
                     - CAST(ra.ra AS DOUBLE) * CAST(rb.rb AS DOUBLE)
                       / CAST(tot.n AS DOUBLE))
                    * (CAST(c.observed AS DOUBLE)
                       - CAST(ra.ra AS DOUBLE) * CAST(rb.rb AS DOUBLE)
                         / CAST(tot.n AS DOUBLE))
                    / (CAST(ra.ra AS DOUBLE) * CAST(rb.rb AS DOUBLE)
                       / CAST(tot.n AS DOUBLE))
                    AS DECIMAL(38,12)) AS contrib_q
        FROM cells c
        JOIN ra ON c.lang = ra.lang
        JOIN rb ON c.source = rb.source
        CROSS JOIN tot
    ),
    fold AS (
        SELECT CAST(SUM(observed) AS BIGINT) AS n_obs,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS r_levels,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS c_levels,
               SUM(contrib_q) AS chi2_q
        FROM contrib
    )
    SELECT n_obs, r_levels, c_levels,
           ROUND(CAST(chi2_q AS DOUBLE), 9) AS chi2,
           ROUND(CASE WHEN r_levels >= 2 AND c_levels >= 2
                       AND n_obs > 0 THEN
               SQRT((CAST(chi2_q AS DOUBLE) / CAST(n_obs AS DOUBLE))
                    / (CAST(LEAST(r_levels, c_levels) AS DOUBLE) - 1.0))
           END, 9) AS cramers_v
    FROM fold
"""


def q_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences readout (operators/analytics.py::
    diff_in_diff): even-custkey orders as the treated group, the
    1998-01-01 boundary as the pre/post split, order value as the
    outcome — the 2×2 exact-DECIMAL mean table and the DiD contrast
    in one conditional aggregation (the q_ab_test shape), ROUND 12."""
    from h3_indexer_spark.operators.analytics import diff_in_diff

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    o = load(spark, sf_dir, "orders").select(
        "o_totalprice",
        (F.col("o_custkey") % 2 == 0).alias("treated"),
        (
            F.col("o_orderdate")
            >= F.lit("1998-01-01 00:00:00").cast("timestamp")
        ).alias("post"),
    )
    return diff_in_diff(o, "treated", "post", "o_totalprice")


_DID_ORACLE = """
    WITH src AS (
        SELECT CAST(o_totalprice AS DECIMAL(18,4)) AS v,
               (o_custkey % 2 = 0) AS t,
               (o_orderdate >= TIMESTAMP '1998-01-01 00:00:00') AS p
        FROM orders
        WHERE o_totalprice IS NOT NULL
    ),
    agg AS (
        SELECT
            COUNT(CASE WHEN t AND p THEN 1 END) AS n_t_post,
            SUM(CASE WHEN t AND p THEN v END) AS s_t_post,
            COUNT(CASE WHEN t AND NOT p THEN 1 END) AS n_t_pre,
            SUM(CASE WHEN t AND NOT p THEN v END) AS s_t_pre,
            COUNT(CASE WHEN NOT t AND p THEN 1 END) AS n_c_post,
            SUM(CASE WHEN NOT t AND p THEN v END) AS s_c_post,
            COUNT(CASE WHEN NOT t AND NOT p THEN 1 END) AS n_c_pre,
            SUM(CASE WHEN NOT t AND NOT p THEN v END) AS s_c_pre
        FROM src
    )
    SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
           CAST(s_t_pre AS DOUBLE) / CAST(n_t_pre AS DOUBLE)
               AS mean_t_pre,
           CAST(s_t_post AS DOUBLE) / CAST(n_t_post AS DOUBLE)
               AS mean_t_post,
           CAST(s_c_pre AS DOUBLE) / CAST(n_c_pre AS DOUBLE)
               AS mean_c_pre,
           CAST(s_c_post AS DOUBLE) / CAST(n_c_post AS DOUBLE)
               AS mean_c_post,
           ROUND(CASE WHEN n_t_pre > 0 AND n_t_post > 0
                       AND n_c_pre > 0 AND n_c_post > 0 THEN
               (CAST(s_t_post AS DOUBLE) / CAST(n_t_post AS DOUBLE)
                - CAST(s_t_pre AS DOUBLE) / CAST(n_t_pre AS DOUBLE))
               - (CAST(s_c_post AS DOUBLE) / CAST(n_c_post AS DOUBLE)
                  - CAST(s_c_pre AS DOUBLE) / CAST(n_c_pre AS DOUBLE))
           END, 9) AS did
    FROM agg
"""


def q_psm_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Propensity-score matching (operators/analytics.py::psm_match):
    even-custkey customers (treated) matched to their nearest
    odd-custkey control by account balance within a 5.00 caliper,
    with replacement — caliper-band equi-join, never treated ×
    controls; microunit-BIGINT scores make distance and tie-break
    pure integer ordering."""
    from h3_indexer_spark.operators.analytics import psm_match

    c = load(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_acctbal",
        (F.col("c_custkey") % 2 == 0).alias("treated"),
    )
    return psm_match(c, "c_custkey", "treated", "c_acctbal", caliper=5.0)


_PSM_MATCH_ORACLE = """
    WITH base AS (
        SELECT c_custkey AS id,
               (c_custkey % 2 = 0) AS t,
               CAST(ROUND(CAST(c_acctbal AS DOUBLE) * 1000000.0)
                    AS BIGINT) AS sq
        FROM customer WHERE c_acctbal IS NOT NULL
    ),
    -- sign-safe floor band: (sq - pmod(sq, cq)) / cq, cq = 5e6
    ctrl AS (
        SELECT id AS control_id, sq AS score_q_control,
               (sq - (((sq % 5000000) + 5000000) % 5000000))
                   // 5000000 AS band
        FROM base WHERE NOT t
    ),
    tr AS (
        SELECT id AS treated_id, sq AS score_q_treated,
               (sq - (((sq % 5000000) + 5000000) % 5000000))
                   // 5000000 AS b0
        FROM base WHERE t
    ),
    probes AS (
        SELECT treated_id, score_q_treated, b0 + d.d AS band
        FROM tr CROSS JOIN (VALUES (-1), (0), (1)) d(d)
    ),
    cand AS (
        SELECT p.treated_id, c.control_id,
               p.score_q_treated, c.score_q_control,
               ABS(p.score_q_treated - c.score_q_control) AS diff_q
        FROM probes p JOIN ctrl c ON p.band = c.band
        WHERE ABS(p.score_q_treated - c.score_q_control) <= 5000000
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY treated_id
            ORDER BY diff_q ASC, control_id ASC) AS rn
        FROM cand
    )
    SELECT treated_id, control_id, score_q_treated, score_q_control,
           diff_q
    FROM ranked WHERE rn = 1
"""


QUERIES["q_cramers_v"] = q_cramers_v
QUERIES["q_did"] = q_did
QUERIES["q_psm_match"] = q_psm_match
ORACLES["q_cramers_v"] = _CRAMERS_V_ORACLE
ORACLES["q_did"] = _DID_ORACLE
ORACLES["q_psm_match"] = _PSM_MATCH_ORACLE




# ---------------------------------------------------------------- #
# Round-9 continuation: rank/partial correlation, variance          #
# homogeneity, reliability, confounding diagnostics, experiment     #
# sizing, graph mutuality, and the join-key skew advisor.           #
# ---------------------------------------------------------------- #


def q_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (operators/analytics.py::
    spearman_corr) between line-item quantity and discount — the
    monotone-association readout on an all-integer doubled-mid-rank
    surface: distinct-value histograms (the Mann-Whitney collapse)
    yield exact BIGINT rank2 = 2·cum − cnt + 1, broadcast back, and
    rho is Pearson over DECIMAL(38,0)-exact rank sums in fixed IEEE
    op order, ROUND 9."""
    from h3_indexer_spark.operators.analytics import spearman_corr

    return spearman_corr(
        load(spark, sf_dir, "lineitem"), "l_quantity", "l_discount"
    )


_SPEARMAN_ORACLE = """
    WITH src AS (
        SELECT CAST(l_quantity AS DOUBLE) AS x,
               CAST(l_discount AS DOUBLE) AS y
        FROM lineitem
        WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
    ),
    hx AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM src GROUP BY x),
    rx AS (
        SELECT x,
               CAST(2 * SUM(cnt) OVER (ORDER BY x ASC
                        ROWS UNBOUNDED PRECEDING)
                    - cnt + 1 AS BIGINT) AS xr2
        FROM hx
    ),
    hy AS (SELECT y, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM src GROUP BY y),
    ry AS (
        SELECT y,
               CAST(2 * SUM(cnt) OVER (ORDER BY y ASC
                        ROWS UNBOUNDED PRECEDING)
                    - cnt + 1 AS BIGINT) AS yr2
        FROM hy
    ),
    ranked AS (
        SELECT xr2, yr2 FROM src
        JOIN rx USING (x) JOIN ry USING (y)
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(CAST(xr2 AS HUGEINT)) AS DOUBLE) AS sx,
               CAST(SUM(CAST(yr2 AS HUGEINT)) AS DOUBLE) AS sy,
               CAST(SUM(CAST(xr2 AS HUGEINT)
                        * CAST(xr2 AS HUGEINT)) AS DOUBLE) AS qx,
               CAST(SUM(CAST(yr2 AS HUGEINT)
                        * CAST(yr2 AS HUGEINT)) AS DOUBLE) AS qy,
               CAST(SUM(CAST(xr2 AS HUGEINT)
                        * CAST(yr2 AS HUGEINT)) AS DOUBLE) AS sp
        FROM ranked
    )
    SELECT n_pairs,
           ROUND(CASE WHEN n_pairs >= 2
                       AND (CAST(n_pairs AS DOUBLE) * qx - sx * sx) > 0
                       AND (CAST(n_pairs AS DOUBLE) * qy - sy * sy) > 0
                 THEN (CAST(n_pairs AS DOUBLE) * sp - sx * sy)
                      / (SQRT(CAST(n_pairs AS DOUBLE) * qx - sx * sx)
                         * SQRT(CAST(n_pairs AS DOUBLE) * qy - sy * sy))
                 END, 9) AS rho
    FROM fold
"""


def q_levene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe equal-variance test (operators/analytics.py::
    brown_forsythe) of quantity across the three return-flag
    populations — the homoscedasticity companion to q_anova: exact
    per-group medians from a DECIMAL value histogram (doubled median
    m2 = v_lo + v_hi, never a lossy /2), deviations z2 = |2v − m2|
    exact, then the same order-free DECIMAL-quantized ANOVA fold on
    z2 (W is invariant to the ×2 scaling), ROUND 9."""
    from h3_indexer_spark.operators.analytics import brown_forsythe

    return brown_forsythe(
        load(spark, sf_dir, "lineitem"), "l_returnflag", "l_quantity"
    )


_LEVENE_ORACLE = """
    WITH src AS (
        SELECT l_returnflag AS g,
               CAST(CAST(l_quantity AS DOUBLE) AS DECIMAL(18,4)) AS v
        FROM lineitem
        WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL
    ),
    hist AS (
        SELECT g, v, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM src GROUP BY g, v
    ),
    cdf AS (
        SELECT g, v,
               SUM(cnt) OVER (PARTITION BY g ORDER BY v ASC
                              ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(cnt) OVER (PARTITION BY g) AS ng
        FROM hist
    ),
    med AS (
        SELECT g,
               MIN(CASE WHEN cum >= (ng + 1) // 2 THEN v END)
             + MIN(CASE WHEN cum >= ng // 2 + 1 THEN v END) AS m2
        FROM cdf GROUP BY g
    ),
    z AS (
        -- z2 = |2v - m2| is an exact scale-4 decimal; x 1e4 makes it
        -- the exact BIGINT quanta one_way_anova folds (round no-ops)
        SELECT src.g,
               CAST(round(CAST(ABS(src.v + src.v - med.m2) AS DOUBLE)
                          * 10000.0) AS BIGINT) AS cq
        FROM src JOIN med ON src.g = med.g
    ),
    gf AS (
        SELECT g,
               CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(cq AS HUGEINT)) AS s,
               SUM(CAST(cq AS HUGEINT) * CAST(cq AS HUGEINT)) AS q
        FROM z GROUP BY g
    ),
    t AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k_groups,
               CAST(SUM(n) AS BIGINT) AS n_total,
               SUM(s) AS ss,
               SUM(q) AS qq,
               SUM(CAST((CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                        / CAST(n AS DOUBLE) AS DECIMAL(38,6))) AS tq
        FROM gf
    )
    SELECT k_groups,
           n_total,
           ROUND(CASE WHEN k_groups >= 2 AND n_total > k_groups
                       AND (CAST(qq AS DOUBLE)
                            - CAST(tq AS DOUBLE)) > 0 THEN
               ((CAST(tq AS DOUBLE)
                 - (CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE))
                   / CAST(n_total AS DOUBLE))
                / (CAST(k_groups AS DOUBLE) - 1.0))
               / ((CAST(qq AS DOUBLE) - CAST(tq AS DOUBLE))
                  / (CAST(n_total AS DOUBLE)
                     - CAST(k_groups AS DOUBLE)))
           END, 9) AS w_stat
    FROM t
"""


def q_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha (operators/analytics.py::cronbach_alpha) over
    the (user, event_type, value) long table — "do a user's
    per-event-type value totals move together": exact DECIMAL cell
    and total sums, per-item population variances quantized to
    DECIMAL(38,12) for an order-free k-item fold, alpha in fixed
    IEEE op order, ROUND 9. The numeric-scale sibling of
    q_cohens_kappa / q_fleiss_kappa."""
    from h3_indexer_spark.operators.analytics import cronbach_alpha

    return cronbach_alpha(
        _load_events(spark, sf_dir), "user_id", "event_type", "value"
    )


_CRONBACH_ORACLE = """
    WITH src AS (
        SELECT user_id AS s, event_type AS i,
               CAST(round(CAST(value AS DOUBLE) * 10000.0) AS BIGINT)
                   AS cq
        FROM events
        WHERE user_id IS NOT NULL AND event_type IS NOT NULL
          AND value IS NOT NULL
    ),
    cells AS (
        SELECT s, i, CAST(SUM(cq) AS BIGINT) AS c
        FROM src GROUP BY s, i
    ),
    totals AS (
        SELECT s, CAST(SUM(c) AS BIGINT) AS t
        FROM cells GROUP BY s
    ),
    tf AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_subjects,
               SUM(CAST(t AS HUGEINT)) AS st,
               SUM(CAST(t AS HUGEINT) * CAST(t AS HUGEINT)) AS qt
        FROM totals
    ),
    items AS (
        SELECT i,
               SUM(CAST(c AS HUGEINT)) AS sc,
               SUM(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS qc
        FROM cells GROUP BY i
    ),
    itf AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k_items,
               SUM(CAST(
                   (CAST(qc AS DOUBLE)
                    - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
                      / CAST(n_subjects AS DOUBLE))
                   / CAST(n_subjects AS DOUBLE)
                   AS DECIMAL(38,6))) AS sumvar
        FROM items CROSS JOIN tf
    )
    SELECT k_items,
           n_subjects,
           ROUND(CAST(sumvar AS DOUBLE) / 100000000.0, 9)
               AS sum_item_var,
           ROUND(((CAST(qt AS DOUBLE)
                   - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
                     / CAST(n_subjects AS DOUBLE))
                  / CAST(n_subjects AS DOUBLE)) / 100000000.0, 9)
               AS total_var,
           ROUND(CASE WHEN k_items >= 2
                       AND ((CAST(qt AS DOUBLE)
                             - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
                               / CAST(n_subjects AS DOUBLE))
                            / CAST(n_subjects AS DOUBLE)) > 0
                 THEN (CAST(k_items AS DOUBLE)
                       / (CAST(k_items AS DOUBLE) - 1.0))
                      * (1.0 - CAST(sumvar AS DOUBLE)
                         / ((CAST(qt AS DOUBLE)
                             - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
                               / CAST(n_subjects AS DOUBLE))
                            / CAST(n_subjects AS DOUBLE)))
                 END, 9) AS alpha
    FROM tf CROSS JOIN itf
"""


def q_simpsons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox diagnostic (operators/analytics.py::
    simpsons_check): even-custkey orders as the treated group,
    high-priority placement as the outcome, order YEAR as the
    stratum — per-year treated-vs-control rate differences beside
    the pooled difference, flip-flagged. Exact-integer cells from
    ONE groupBy(year); rates and differences fixed IEEE op order,
    ROUND 9."""
    from h3_indexer_spark.operators.analytics import simpsons_check

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    o = load(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 2 == 0).alias("treated"),
        F.col("o_orderpriority")
        .isin("1-URGENT", "2-HIGH")
        .alias("high_prio"),
        F.year("o_orderdate").cast("int").alias("order_year"),
    )
    return simpsons_check(o, "treated", "high_prio", "order_year")


_SIMPSONS_ORACLE = """
    WITH src AS (
        SELECT (o_custkey % 2 = 0) AS t,
               (o_orderpriority IN ('1-URGENT', '2-HIGH')) AS o,
               CAST(EXTRACT(year FROM o_orderdate) AS INTEGER)
                   AS stratum
        FROM orders
        WHERE o_custkey IS NOT NULL AND o_orderpriority IS NOT NULL
          AND o_orderdate IS NOT NULL
    ),
    cells AS (
        SELECT stratum,
               CAST(COUNT(CASE WHEN t THEN 1 END) AS BIGINT) AS n_t,
               CAST(COUNT(CASE WHEN t AND o THEN 1 END) AS BIGINT)
                   AS conv_t,
               CAST(COUNT(CASE WHEN NOT t THEN 1 END) AS BIGINT)
                   AS n_c,
               CAST(COUNT(CASE WHEN NOT t AND o THEN 1 END) AS BIGINT)
                   AS conv_c
        FROM src GROUP BY stratum
    ),
    pooled AS (
        SELECT CAST(SUM(n_t) AS BIGINT) AS pn_t,
               CAST(SUM(conv_t) AS BIGINT) AS pc_t,
               CAST(SUM(n_c) AS BIGINT) AS pn_c,
               CAST(SUM(conv_c) AS BIGINT) AS pc_c
        FROM cells
    ),
    calc AS (
        SELECT c.stratum, c.n_t, c.conv_t, c.n_c, c.conv_c,
               CASE WHEN c.n_t > 0 THEN
                   CAST(c.conv_t AS DOUBLE) / CAST(c.n_t AS DOUBLE)
               END AS rate_t,
               CASE WHEN c.n_c > 0 THEN
                   CAST(c.conv_c AS DOUBLE) / CAST(c.n_c AS DOUBLE)
               END AS rate_c,
               CASE WHEN p.pn_t > 0 AND p.pn_c > 0 THEN
                   CAST(p.pc_t AS DOUBLE) / CAST(p.pn_t AS DOUBLE)
                   - CAST(p.pc_c AS DOUBLE) / CAST(p.pn_c AS DOUBLE)
               END AS agg_diff
        FROM cells c CROSS JOIN pooled p
    )
    SELECT stratum, n_t, conv_t, n_c, conv_c,
           ROUND(rate_t, 9) AS rate_t,
           ROUND(rate_c, 9) AS rate_c,
           ROUND(rate_t - rate_c, 9) AS diff,
           ROUND(agg_diff, 9) AS agg_diff,
           (((rate_t - rate_c) > 0 AND agg_diff < 0)
            OR ((rate_t - rate_c) < 0 AND agg_diff > 0)) AS flipped
    FROM calc
"""


def q_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-detectable-effect sizing (operators/analytics.py::
    mde_readout) for the even/odd-custkey split on order value at
    alpha = 0.05 / power = 0.80 — "how small a lift could this
    experiment even see": one conditional-sum scan (the q_did
    shape), exact DECIMAL arm sums, z constants embedded as shared
    literals, fixed IEEE op order, ROUND 9."""
    from h3_indexer_spark.operators.analytics import mde_readout

    o = load(spark, sf_dir, "orders").select(
        "o_totalprice",
        (F.col("o_custkey") % 2 == 0).alias("treated"),
    )
    return mde_readout(o, "treated", "o_totalprice")


def _mde_oracle() -> str:
    from h3_indexer_spark.operators.analytics import _Z_80, _Z_975

    zsum = repr(_Z_975 + _Z_80)
    return f"""
    WITH src AS (
        SELECT (o_custkey % 2 = 0) AS t,
               CAST(round(CAST(o_totalprice AS DOUBLE) * 10000.0)
                    AS BIGINT) AS cq
        FROM orders
        WHERE o_custkey IS NOT NULL AND o_totalprice IS NOT NULL
    ),
    fold AS (
        SELECT
            CAST(COUNT(CASE WHEN t THEN 1 END) AS BIGINT) AS n_t,
            SUM(CASE WHEN t THEN CAST(cq AS HUGEINT) END) AS s_t,
            SUM(CASE WHEN t THEN CAST(cq AS HUGEINT)
                     * CAST(cq AS HUGEINT) END) AS q_t,
            CAST(COUNT(CASE WHEN NOT t THEN 1 END) AS BIGINT) AS n_c,
            SUM(CASE WHEN NOT t THEN CAST(cq AS HUGEINT) END) AS s_c,
            SUM(CASE WHEN NOT t THEN CAST(cq AS HUGEINT)
                     * CAST(cq AS HUGEINT) END) AS q_c
        FROM src
    ),
    calc AS (
        SELECT n_t, n_c,
               CAST(s_t AS DOUBLE) / CAST(n_t AS DOUBLE) / 10000.0
                   AS mean_t,
               CAST(s_c AS DOUBLE) / CAST(n_c AS DOUBLE) / 10000.0
                   AS mean_c,
               (CAST(q_t AS DOUBLE)
                - CAST(s_t AS DOUBLE) * CAST(s_t AS DOUBLE)
                  / CAST(n_t AS DOUBLE))
               / (CAST(n_t AS DOUBLE) - 1.0) / 100000000.0 AS var_t,
               (CAST(q_c AS DOUBLE)
                - CAST(s_c AS DOUBLE) * CAST(s_c AS DOUBLE)
                  / CAST(n_c AS DOUBLE))
               / (CAST(n_c AS DOUBLE) - 1.0) / 100000000.0 AS var_c
        FROM fold
    ),
    se AS (
        SELECT *,
               SQRT(var_t / CAST(n_t AS DOUBLE)
                    + var_c / CAST(n_c AS DOUBLE)) AS se_v
        FROM calc
    )
    SELECT n_t, n_c,
           ROUND(CASE WHEN n_t > 0 THEN mean_t END, 9) AS mean_t,
           ROUND(CASE WHEN n_c > 0 THEN mean_c END, 9) AS mean_c,
           ROUND(CASE WHEN n_t >= 2 AND n_c >= 2 THEN var_t END, 9)
               AS var_t,
           ROUND(CASE WHEN n_t >= 2 AND n_c >= 2 THEN var_c END, 9)
               AS var_c,
           ROUND(CASE WHEN n_t >= 2 AND n_c >= 2 THEN se_v END, 9)
               AS se,
           ROUND(CASE WHEN n_t >= 2 AND n_c >= 2 THEN
               {zsum} * se_v END, 9) AS mde_abs,
           ROUND(CASE WHEN n_t >= 2 AND n_c >= 2 AND mean_c <> 0 THEN
               ({zsum} * se_v) / mean_c END, 9) AS mde_rel
    FROM se
    """


def q_partial_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order partial correlation (operators/analytics.py::
    partial_corr) of quantity↔extended-price controlling for
    discount — "is the association just both sides tracking the
    confounder": ten exact DECIMAL sufficient statistics in ONE
    aggregation, each pairwise r and the compound in fixed IEEE op
    order, ROUND 9. The causal-hygiene companion to q_corr_matrix."""
    from h3_indexer_spark.operators.analytics import partial_corr

    return partial_corr(
        load(spark, sf_dir, "lineitem"),
        "l_quantity",
        "l_extendedprice",
        "l_discount",
    )


_PARTIAL_CORR_ORACLE = """
    WITH src AS (
        SELECT CAST(l_quantity AS DECIMAL(18,4)) AS x,
               CAST(l_extendedprice AS DECIMAL(18,4)) AS y,
               CAST(l_discount AS DECIMAL(18,4)) AS z
        FROM lineitem
        WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
          AND l_discount IS NOT NULL
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(x AS DECIMAL(38,4))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(y AS DECIMAL(38,4))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(z AS DECIMAL(38,4))) AS DOUBLE) AS sz,
               CAST(SUM(CAST(x AS DECIMAL(19,4))
                        * CAST(x AS DECIMAL(19,4))) AS DOUBLE) AS qx,
               CAST(SUM(CAST(y AS DECIMAL(19,4))
                        * CAST(y AS DECIMAL(19,4))) AS DOUBLE) AS qy,
               CAST(SUM(CAST(z AS DECIMAL(19,4))
                        * CAST(z AS DECIMAL(19,4))) AS DOUBLE) AS qz,
               CAST(SUM(CAST(x AS DECIMAL(19,4))
                        * CAST(y AS DECIMAL(19,4))) AS DOUBLE) AS pxy,
               CAST(SUM(CAST(x AS DECIMAL(19,4))
                        * CAST(z AS DECIMAL(19,4))) AS DOUBLE) AS pxz,
               CAST(SUM(CAST(y AS DECIMAL(19,4))
                        * CAST(z AS DECIMAL(19,4))) AS DOUBLE) AS pyz
        FROM src
    ),
    rs AS (
        SELECT n,
               CASE WHEN (CAST(n AS DOUBLE) * qx - sx * sx) > 0
                     AND (CAST(n AS DOUBLE) * qy - sy * sy) > 0
               THEN (CAST(n AS DOUBLE) * pxy - sx * sy)
                    / (SQRT(CAST(n AS DOUBLE) * qx - sx * sx)
                       * SQRT(CAST(n AS DOUBLE) * qy - sy * sy))
               END AS r_xy,
               CASE WHEN (CAST(n AS DOUBLE) * qx - sx * sx) > 0
                     AND (CAST(n AS DOUBLE) * qz - sz * sz) > 0
               THEN (CAST(n AS DOUBLE) * pxz - sx * sz)
                    / (SQRT(CAST(n AS DOUBLE) * qx - sx * sx)
                       * SQRT(CAST(n AS DOUBLE) * qz - sz * sz))
               END AS r_xz,
               CASE WHEN (CAST(n AS DOUBLE) * qy - sy * sy) > 0
                     AND (CAST(n AS DOUBLE) * qz - sz * sz) > 0
               THEN (CAST(n AS DOUBLE) * pyz - sy * sz)
                    / (SQRT(CAST(n AS DOUBLE) * qy - sy * sy)
                       * SQRT(CAST(n AS DOUBLE) * qz - sz * sz))
               END AS r_yz
        FROM fold
    )
    SELECT n,
           ROUND(r_xy, 9) AS r_xy,
           ROUND(r_xz, 9) AS r_xz,
           ROUND(r_yz, 9) AS r_yz,
           ROUND(CASE WHEN
               SQRT((1.0 - r_xz * r_xz) * (1.0 - r_yz * r_yz)) > 0
           THEN (r_xy - r_xz * r_yz)
                / SQRT((1.0 - r_xz * r_xz) * (1.0 - r_yz * r_yz))
           END, 9) AS r_xy_given_z
    FROM rs
"""


def q_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed transition-graph reciprocity (operators/graph.py::
    reciprocity): consecutive event-type transitions per user (the
    q_transitions lead shape) as weighted directed edges, then the
    edge and weighted mutuality ratios — "do users bounce back and
    forth between these states or flow one way". Exact-integer
    weights, ONE flipped-key self-join, ROUND 9."""
    from h3_indexer_spark.operators.graph import reciprocity

    ev = _load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    edges = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).where(F.col("dst").isNotNull())
    return reciprocity(edges)


_RECIPROCITY_ORACLE = """
    WITH s AS (
        SELECT event_type AS u,
               lead(event_type) OVER (
                   PARTITION BY user_id
                   ORDER BY epoch_ns(ts), event_id) AS v
        FROM events
    ),
    e AS (
        SELECT u, v, CAST(COUNT(*) AS BIGINT) AS w
        FROM s
        WHERE v IS NOT NULL AND u IS NOT NULL AND u <> v
        GROUP BY u, v
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
               CAST(SUM(w) AS BIGINT) AS w_total
        FROM e
    ),
    rec AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_reciprocated,
               CAST(SUM(LEAST(a.w, b.w)) AS BIGINT) AS w_reciprocated
        FROM e a JOIN e b ON a.u = b.v AND a.v = b.u
    )
    SELECT n_edges, n_reciprocated,
           ROUND(CASE WHEN n_edges > 0 THEN
               CAST(n_reciprocated AS DOUBLE)
               / CAST(n_edges AS DOUBLE) END, 9) AS reciprocity,
           w_total, w_reciprocated,
           ROUND(CASE WHEN w_total > 0 THEN
               CAST(w_reciprocated AS DOUBLE)
               / CAST(w_total AS DOUBLE) END, 9)
               AS weighted_reciprocity
    FROM tot CROSS JOIN rec
"""


def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew advisor (operators/expectations.py::
    key_skew_census) over the pipeline's four hottest shuffle keys —
    group-size max / p99 / mean, top-key share and the max/mean skew
    ratio per key, the "salt or broadcast?" pre-join readout. Each
    census is a two-level collapse (keys → size histogram), so the
    p99 order statistic windows over a report-sized table at any
    corpus size; exact-integer surface, ratio readouts ROUND 9."""
    from h3_indexer_spark.operators.expectations import key_skew_census

    parts = [
        key_skew_census(
            _load_events(spark, sf_dir), "user_id", "events.user_id"
        ),
        key_skew_census(
            load(spark, sf_dir, "lineitem"),
            "l_orderkey",
            "lineitem.l_orderkey",
        ),
        key_skew_census(
            load(spark, sf_dir, "lineitem"),
            "l_partkey",
            "lineitem.l_partkey",
        ),
        key_skew_census(
            load(spark, sf_dir, "orders"), "o_custkey", "orders.o_custkey"
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _skew_report_oracle() -> str:
    def block(table: str, col: str, name: str, p: str) -> str:
        return f"""
    SELECT '{name}' AS key_name, n_rows, n_keys, max_size, p99_size,
           ROUND(CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE), 9)
               AS avg_size,
           ROUND(CAST(max_size AS DOUBLE) / CAST(n_rows AS DOUBLE), 9)
               AS top_share,
           ROUND(CAST(max_size AS DOUBLE)
                 / (CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE)),
                 9) AS skew_ratio
    FROM (
        SELECT CAST(MIN(CASE WHEN cum * 100 >= 99 * n_keys
                        THEN sz END) AS BIGINT) AS p99_size,
               MAX(n_keys) AS n_keys, MAX(n_rows) AS n_rows,
               MAX(max_size) AS max_size
        FROM (
            SELECT sz, SUM(nk) OVER (ORDER BY sz ASC
                       ROWS UNBOUNDED PRECEDING) AS cum
            FROM (SELECT sz, CAST(COUNT(*) AS BIGINT) AS nk
                  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS sz
                        FROM {table} WHERE {col} IS NOT NULL
                        GROUP BY {col})
                  GROUP BY sz)
        ) c CROSS JOIN (
            SELECT CAST(SUM(nk) AS BIGINT) AS n_keys,
                   CAST(SUM(sz * nk) AS BIGINT) AS n_rows,
                   CAST(MAX(sz) AS BIGINT) AS max_size
            FROM (SELECT sz, CAST(COUNT(*) AS BIGINT) AS nk
                  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS sz
                        FROM {table} WHERE {col} IS NOT NULL
                        GROUP BY {col})
                  GROUP BY sz)
        ) t
    )
    """

    blocks = [
        block("events", "user_id", "events.user_id", "a"),
        block("lineitem", "l_orderkey", "lineitem.l_orderkey", "b"),
        block("lineitem", "l_partkey", "lineitem.l_partkey", "c"),
        block("orders", "o_custkey", "orders.o_custkey", "d"),
    ]
    return "\nUNION ALL\n".join(blocks)


QUERIES["q_spearman"] = q_spearman
QUERIES["q_levene"] = q_levene
QUERIES["q_cronbach_alpha"] = q_cronbach_alpha
QUERIES["q_simpsons"] = q_simpsons
QUERIES["q_mde"] = q_mde
QUERIES["q_partial_corr"] = q_partial_corr
QUERIES["q_reciprocity"] = q_reciprocity
QUERIES["q_skew_report"] = q_skew_report
ORACLES["q_spearman"] = _SPEARMAN_ORACLE
ORACLES["q_levene"] = _LEVENE_ORACLE
ORACLES["q_cronbach_alpha"] = _CRONBACH_ORACLE
ORACLES["q_simpsons"] = _SIMPSONS_ORACLE
ORACLES["q_mde"] = _mde_oracle()
ORACLES["q_partial_corr"] = _PARTIAL_CORR_ORACLE
ORACLES["q_reciprocity"] = _RECIPROCITY_ORACLE
ORACLES["q_skew_report"] = _skew_report_oracle()




def q_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation (operators/analytics.py::
    kendall_tau) between quantity and discount — the pair-agreement
    sibling of q_spearman on the same columns: exact
    concordant/discordant/tie counts from the JOINT value histogram
    (a bounded 50×11 cell self-join, never the n² rows), tau-b on
    the doubled pair scale so no /2 is ever computed, ROUND 9."""
    from h3_indexer_spark.operators.analytics import kendall_tau

    return kendall_tau(
        load(spark, sf_dir, "lineitem"), "l_quantity", "l_discount"
    )


_KENDALL_ORACLE = """
    WITH src AS (
        SELECT CAST(l_quantity AS DOUBLE) AS x,
               CAST(l_discount AS DOUBLE) AS y
        FROM lineitem
        WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
    ),
    cells AS (
        SELECT x, y, CAST(COUNT(*) AS BIGINT) AS n
        FROM src GROUP BY x, y
    ),
    cd AS (
        SELECT SUM(CASE WHEN a.y < b.y THEN
                       CAST(a.n AS HUGEINT) * CAST(b.n AS HUGEINT)
                   END) AS c,
               SUM(CASE WHEN a.y > b.y THEN
                       CAST(a.n AS HUGEINT) * CAST(b.n AS HUGEINT)
                   END) AS d
        FROM cells a JOIN cells b ON a.x < b.x
    ),
    tx AS (
        SELECT SUM(CAST(nx AS HUGEINT) * (CAST(nx AS HUGEINT) - 1))
                   AS tx2
        FROM (SELECT CAST(SUM(n) AS BIGINT) AS nx
              FROM cells GROUP BY x)
    ),
    ty AS (
        SELECT SUM(CAST(ny AS HUGEINT) * (CAST(ny AS HUGEINT) - 1))
                   AS ty2
        FROM (SELECT CAST(SUM(n) AS BIGINT) AS ny
              FROM cells GROUP BY y)
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs FROM src)
    SELECT n_pairs,
           CAST(COALESCE(c, 0) AS BIGINT) AS concordant,
           CAST(COALESCE(d, 0) AS BIGINT) AS discordant,
           ROUND(CASE WHEN
               (CAST(CAST(n_pairs AS HUGEINT)
                     * (CAST(n_pairs AS HUGEINT) - 1) AS DOUBLE)
                - CAST(tx2 AS DOUBLE)) > 0
               AND (CAST(CAST(n_pairs AS HUGEINT)
                         * (CAST(n_pairs AS HUGEINT) - 1) AS DOUBLE)
                    - CAST(ty2 AS DOUBLE)) > 0
           THEN ((CAST(COALESCE(c, 0) AS DOUBLE)
                  - CAST(COALESCE(d, 0) AS DOUBLE)) * 2.0)
                / (SQRT(CAST(CAST(n_pairs AS HUGEINT)
                             * (CAST(n_pairs AS HUGEINT) - 1) AS DOUBLE)
                        - CAST(tx2 AS DOUBLE))
                   * SQRT(CAST(CAST(n_pairs AS HUGEINT)
                               * (CAST(n_pairs AS HUGEINT) - 1)
                               AS DOUBLE)
                          - CAST(ty2 AS DOUBLE)))
           END, 9) AS tau_b
    FROM tot CROSS JOIN cd CROSS JOIN tx CROSS JOIN ty
"""


def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman degree assortativity (operators/graph.py::
    degree_assortativity) of the sampled co-purchase graph (the
    q_adamic_adar 25% fixture): do heavily co-purchased parts wire
    to other hubs or to one-off parts — the one-number topology
    readout completing the degree family. Exact DECIMAL integer
    degree sums over the symmetrized edge list, r in fixed IEEE op
    order, ROUND 9."""
    from h3_indexer_spark.operators.graph import degree_assortativity

    return degree_assortativity(
        _copurchase_edges(spark, sf_dir, sample_mod=4)
    )


_ASSORTATIVITY_ORACLE = """
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        WHERE l_orderkey % 4 = 0
    ),
    und AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
        WHERE a.l_partkey < b.l_partkey
    ),
    sym AS (
        SELECT u, v FROM und
        UNION
        SELECT v AS u, u AS v FROM und
    ),
    deg AS (
        SELECT u AS w, CAST(COUNT(*) AS BIGINT) AS deg
        FROM sym GROUP BY u
    ),
    paired AS (
        SELECT du.deg AS d_u, dv.deg AS d_v
        FROM sym
        JOIN deg du ON sym.u = du.w
        JOIN deg dv ON sym.v = dv.w
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m2,
               SUM(CAST(d_u AS HUGEINT)) AS su,
               SUM(CAST(d_v AS HUGEINT)) AS sv,
               SUM(CAST(d_u AS HUGEINT) * CAST(d_u AS HUGEINT)) AS qu,
               SUM(CAST(d_v AS HUGEINT) * CAST(d_v AS HUGEINT)) AS qv,
               SUM(CAST(d_u AS HUGEINT) * CAST(d_v AS HUGEINT)) AS p
        FROM paired
    )
    SELECT CAST(m2 // 2 AS BIGINT) AS n_edges,
           ROUND(CASE WHEN
               (CAST(m2 AS DOUBLE) * CAST(qu AS DOUBLE)
                - CAST(su AS DOUBLE) * CAST(su AS DOUBLE)) > 0
               AND (CAST(m2 AS DOUBLE) * CAST(qv AS DOUBLE)
                    - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)) > 0
           THEN (CAST(m2 AS DOUBLE) * CAST(p AS DOUBLE)
                 - CAST(su AS DOUBLE) * CAST(sv AS DOUBLE))
                / (SQRT(CAST(m2 AS DOUBLE) * CAST(qu AS DOUBLE)
                        - CAST(su AS DOUBLE) * CAST(su AS DOUBLE))
                   * SQRT(CAST(m2 AS DOUBLE) * CAST(qv AS DOUBLE)
                          - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)))
           END, 9) AS r_assortativity
    FROM fold
"""


def q_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman revenue concentration
    (operators/analytics.py::hhi_concentration) across customers —
    "is order revenue captured by a few accounts": exact
    1e-4-quanta BIGINT entity totals, share² terms
    DECIMAL(38,18)-quantized for an order-free k-entity fold,
    ROUND 9. The capture-side complement of q_diversity's entropy."""
    from h3_indexer_spark.operators.analytics import hhi_concentration

    return hhi_concentration(
        load(spark, sf_dir, "orders"), "o_custkey", "o_totalprice"
    )


_HHI_ORACLE = """
    WITH src AS (
        SELECT o_custkey AS e,
               CAST(round(CAST(o_totalprice AS DOUBLE) * 10000.0)
                    AS BIGINT) AS cq
        FROM orders
        WHERE o_custkey IS NOT NULL AND o_totalprice IS NOT NULL
    ),
    ent AS (
        SELECT e, SUM(CAST(cq AS HUGEINT)) AS s
        FROM src GROUP BY e
    ),
    tot AS (
        SELECT SUM(s) AS t, CAST(COUNT(*) AS BIGINT) AS n_entities
        FROM ent
    ),
    fold AS (
        SELECT n_entities,
               SUM(CAST(
                   (CAST(s AS DOUBLE) / CAST(t AS DOUBLE))
                   * (CAST(s AS DOUBLE) / CAST(t AS DOUBLE))
                   AS DECIMAL(38,18))) AS hhi_q
        FROM ent CROSS JOIN tot
        GROUP BY n_entities
    )
    SELECT n_entities,
           ROUND(CAST(hhi_q AS DOUBLE), 9) AS hhi,
           ROUND(CASE WHEN n_entities >= 2 THEN
               (CAST(hhi_q AS DOUBLE)
                - 1.0 / CAST(n_entities AS DOUBLE))
               / (1.0 - 1.0 / CAST(n_entities AS DOUBLE))
           END, 9) AS hhi_normalized
    FROM fold
"""


QUERIES["q_kendall"] = q_kendall
QUERIES["q_assortativity"] = q_assortativity
QUERIES["q_hhi"] = q_hhi
ORACLES["q_kendall"] = _KENDALL_ORACLE
ORACLES["q_assortativity"] = _ASSORTATIVITY_ORACLE
ORACLES["q_hhi"] = _HHI_ORACLE




def q_wilcoxon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test (operators/analytics.py::
    wilcoxon_signed_rank) on paired per-customer mean order values
    before/after 1997-07-01 — "did my customers change after the
    cutover", no normality assumed. Pairs come from exact quanta
    sums (one int→double cast each); the test ranks quantized
    differences over a distinct-|d| histogram (the q_spearman
    doubled-mid-rank trick), tie-corrected z, ROUND 9. Completes the
    nonparametric family beside q_mann_whitney (independent
    samples)."""
    from h3_indexer_spark.operators.analytics import (
        wilcoxon_signed_rank,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    cut = F.lit("1997-07-01 00:00:00").cast("timestamp")
    cq = F.round(
        F.col("o_totalprice").cast("double") * F.lit(10000.0), 0
    ).cast("long")
    pre = F.col("o_orderdate") < cut
    pairs = (
        load(spark, sf_dir, "orders")
        .where(
            F.col("o_totalprice").isNotNull()
            & F.col("o_orderdate").isNotNull()
        )
        .groupBy("o_custkey")
        .agg(
            F.sum(F.when(pre, cq)).cast("bigint").alias("_sp"),
            F.count(F.when(pre, F.lit(1))).cast("bigint").alias("_np"),
            F.sum(F.when(~pre, cq)).cast("bigint").alias("_sa"),
            F.count(F.when(~pre, F.lit(1))).cast("bigint").alias("_na"),
        )
        .where((F.col("_np") > 0) & (F.col("_na") > 0))
        .select(
            (
                F.col("_sp").cast("double")
                / F.col("_np").cast("double")
                / F.lit(10000.0)
            ).alias("before_v"),
            (
                F.col("_sa").cast("double")
                / F.col("_na").cast("double")
                / F.lit(10000.0)
            ).alias("after_v"),
        )
    )
    return wilcoxon_signed_rank(pairs, "before_v", "after_v")


_WILCOXON_ORACLE = """
    WITH g AS (
        SELECT o_custkey,
               SUM(CASE WHEN o_orderdate
                             < TIMESTAMP '1997-07-01 00:00:00'
                   THEN CAST(round(CAST(o_totalprice AS DOUBLE)
                                   * 10000.0) AS BIGINT) END) AS sp,
               COUNT(CASE WHEN o_orderdate
                               < TIMESTAMP '1997-07-01 00:00:00'
                     THEN 1 END) AS np,
               SUM(CASE WHEN o_orderdate
                             >= TIMESTAMP '1997-07-01 00:00:00'
                   THEN CAST(round(CAST(o_totalprice AS DOUBLE)
                                   * 10000.0) AS BIGINT) END) AS sa,
               COUNT(CASE WHEN o_orderdate
                               >= TIMESTAMP '1997-07-01 00:00:00'
                     THEN 1 END) AS na
        FROM orders
        WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
        GROUP BY o_custkey
    ),
    pa AS (
        SELECT CAST(sp AS DOUBLE) / CAST(np AS DOUBLE) / 10000.0
                   AS before_v,
               CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) / 10000.0
                   AS after_v
        FROM g WHERE np > 0 AND na > 0
    ),
    d AS (
        SELECT CAST(round((after_v - before_v) * 10000.0) AS BIGINT)
                   AS dq
        FROM pa
    ),
    nz AS (
        SELECT ABS(dq) AS a, (dq > 0) AS pos FROM d WHERE dq <> 0
    ),
    hist AS (
        SELECT a, CAST(COUNT(*) AS BIGINT) AS cnt FROM nz GROUP BY a
    ),
    ranks AS (
        SELECT a,
               CAST(2 * SUM(cnt) OVER (ORDER BY a ASC
                        ROWS UNBOUNDED PRECEDING)
                    - cnt + 1 AS BIGINT) AS r2,
               CAST(cnt AS HUGEINT) * CAST(cnt AS HUGEINT)
                   * CAST(cnt AS HUGEINT)
                   - CAST(cnt AS HUGEINT) AS t3t
        FROM hist
    ),
    tie AS (SELECT SUM(t3t) AS ties FROM ranks),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_nonzero,
               SUM(CASE WHEN pos THEN CAST(r2 AS HUGEINT) END) AS wp2,
               SUM(CASE WHEN NOT pos THEN CAST(r2 AS HUGEINT) END)
                   AS wm2
        FROM nz JOIN ranks USING (a)
    )
    SELECT n_nonzero,
           ROUND(CAST(COALESCE(wp2, 0) AS DOUBLE) / 2.0, 9) AS w_plus,
           ROUND(CAST(COALESCE(wm2, 0) AS DOUBLE) / 2.0, 9) AS w_minus,
           ROUND(CASE WHEN n_nonzero > 0 AND
               (CAST(n_nonzero AS DOUBLE)
                * (CAST(n_nonzero AS DOUBLE) + 1.0)
                * (2.0 * CAST(n_nonzero AS DOUBLE) + 1.0) / 24.0
                - CAST(COALESCE(ties, 0) AS DOUBLE) / 48.0) > 0
           THEN (CAST(COALESCE(wp2, 0) AS DOUBLE) / 2.0
                 - CAST(n_nonzero AS DOUBLE)
                   * (CAST(n_nonzero AS DOUBLE) + 1.0) / 4.0)
                / SQRT(CAST(n_nonzero AS DOUBLE)
                       * (CAST(n_nonzero AS DOUBLE) + 1.0)
                       * (2.0 * CAST(n_nonzero AS DOUBLE) + 1.0) / 24.0
                       - CAST(COALESCE(ties, 0) AS DOUBLE) / 48.0)
           END, 9) AS z_stat
    FROM fold CROSS JOIN tie
"""


def q_tukey_hsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey pairwise contrasts (operators/analytics.py::
    tukey_contrasts) over the q_anova fixture — WHICH return-flag
    populations differ, not just whether some do: per-pair mean
    difference, pooled-MS_w standard error, and the
    studentized-range q statistic, all from the same quanta-exact
    group sums as q_anova (q is unit-invariant; mean_diff/se divide
    the quanta out once), ROUND 9."""
    from h3_indexer_spark.operators.analytics import tukey_contrasts

    return tukey_contrasts(
        load(spark, sf_dir, "lineitem"), "l_returnflag", "l_extendedprice"
    )


_TUKEY_ORACLE = """
    WITH cc AS (
        SELECT l_returnflag AS g,
               CAST(round(CAST(l_extendedprice AS DOUBLE) * 10000.0)
                    AS BIGINT) AS cq
        FROM lineitem
        WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
    ),
    gr AS (
        SELECT g,
               CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(cq AS HUGEINT)) AS s,
               SUM(CAST(cq AS HUGEINT) * CAST(cq AS HUGEINT)) AS q
        FROM cc GROUP BY g
    ),
    t AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k_groups,
               CAST(SUM(n) AS BIGINT) AS n_total,
               SUM(q) AS qq,
               SUM(CAST((CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                        / CAST(n AS DOUBLE) AS DECIMAL(38,6))) AS tq
        FROM gr
    ),
    m AS (
        SELECT (CAST(qq AS DOUBLE) - CAST(tq AS DOUBLE))
               / (CAST(n_total AS DOUBLE) - CAST(k_groups AS DOUBLE))
                   AS msw,
               (n_total > k_groups) AS df_ok
        FROM t
    )
    SELECT a.g AS group_a, b.g AS group_b,
           a.n AS n_a, b.n AS n_b,
           ROUND((CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE)
                  - CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE))
                 / 10000.0, 9) AS mean_diff,
           ROUND(CASE WHEN m.df_ok AND m.msw > 0 THEN
               SQRT(m.msw / 2.0 * (1.0 / CAST(a.n AS DOUBLE)
                                   + 1.0 / CAST(b.n AS DOUBLE)))
               / 10000.0 END, 9) AS se,
           ROUND(CASE WHEN m.df_ok AND m.msw > 0 THEN
               ABS(CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE)
                   - CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE))
               / SQRT(m.msw / 2.0 * (1.0 / CAST(a.n AS DOUBLE)
                                     + 1.0 / CAST(b.n AS DOUBLE)))
               END, 9) AS q_stat
    FROM gr a JOIN gr b ON a.g < b.g CROSS JOIN m
"""


def q_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres fixed-basket price index (operators/analytics.py::
    laspeyres_index) of part unit prices by ship year — "how much
    would the first year's basket cost each later year": exact
    quanta (item, period) revenue/quantity sums, basket terms
    DECIMAL(38,6)-quantized per period, denominator exactly the
    base revenue (p₀·q₀ cancels), ROUND 9."""
    from h3_indexer_spark.operators.analytics import laspeyres_index

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.year("l_shipdate").cast("int").alias("ship_year"),
        "l_extendedprice",
        "l_quantity",
    )
    return laspeyres_index(
        li, "l_partkey", "ship_year", "l_extendedprice", "l_quantity"
    )


_PRICE_INDEX_ORACLE = """
    WITH src AS (
        SELECT l_partkey AS i,
               CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS p,
               CAST(round(CAST(l_extendedprice AS DOUBLE) * 10000.0)
                    AS BIGINT) AS rq,
               CAST(round(CAST(l_quantity AS DOUBLE) * 10000.0)
                    AS BIGINT) AS qq
        FROM lineitem
        WHERE l_partkey IS NOT NULL AND l_shipdate IS NOT NULL
          AND l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
    ),
    pp AS (
        SELECT i, p,
               SUM(CAST(rq AS HUGEINT)) AS rev,
               SUM(CAST(qq AS HUGEINT)) AS qty
        FROM src GROUP BY i, p
        HAVING SUM(CAST(qq AS HUGEINT)) > 0
    ),
    base AS (SELECT MIN(p) AS p0 FROM pp),
    b AS (
        SELECT i, rev AS rev0, qty AS qty0
        FROM pp, base WHERE pp.p = base.p0
    ),
    joined AS (
        SELECT pp.p, pp.rev, pp.qty, b.rev0, b.qty0
        FROM pp JOIN b ON pp.i = b.i
    ),
    fold AS (
        SELECT p AS period,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               SUM(CAST((CAST(rev AS DOUBLE) / CAST(qty AS DOUBLE))
                        * CAST(qty0 AS DOUBLE)
                        AS DECIMAL(38,6))) AS num,
               SUM(rev0) AS den
        FROM joined GROUP BY p
    )
    SELECT period, n_items,
           ROUND(100.0 * CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 9)
               AS laspeyres_index
    FROM fold
"""


QUERIES["q_wilcoxon"] = q_wilcoxon
QUERIES["q_tukey_hsd"] = q_tukey_hsd
QUERIES["q_price_index"] = q_price_index
ORACLES["q_wilcoxon"] = _WILCOXON_ORACLE
ORACLES["q_tukey_hsd"] = _TUKEY_ORACLE
ORACLES["q_price_index"] = _PRICE_INDEX_ORACLE


def q_kruskal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across order priorities (operators/
    analytics.py::kruskal_wallis) on o_totalprice — "does ANY
    priority class price differently", the k-sample nonparametric
    ANOVA completing the rank-test family (q_mann_whitney two-sample,
    q_wilcoxon paired, q_anova parametric). Doubled midranks over the
    distinct-value histogram, DECIMAL(38,0) rank sums, DECIMAL(38,6)
    per-group fold terms, tie-corrected variant, ROUND 9."""
    from h3_indexer_spark.operators.analytics import kruskal_wallis

    return kruskal_wallis(
        load(spark, sf_dir, "orders"), "o_orderpriority", "o_totalprice"
    )


_KRUSKAL_ORACLE = """
    WITH src AS (
        SELECT o_orderpriority AS g,
               CAST(round(CAST(o_totalprice AS DOUBLE) * 10000.0)
                    AS BIGINT) AS v
        FROM orders
        WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL
    ),
    gv AS (
        SELECT v, g, CAST(COUNT(*) AS BIGINT) AS c
        FROM src GROUP BY v, g
    ),
    vals AS (
        SELECT v, CAST(SUM(c) AS BIGINT) AS ct FROM gv GROUP BY v
    ),
    ranked AS (
        SELECT v,
               ct,
               CAST(2 * COALESCE(SUM(ct) OVER (ORDER BY v ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0)
                    + ct + 1 AS BIGINT) AS r2
        FROM vals
    ),
    pg AS (
        SELECT g,
               CAST(SUM(c) AS BIGINT) AS n_j,
               SUM(CAST(c AS HUGEINT) * r2) AS r2_j
        FROM gv JOIN ranked USING (v)
        GROUP BY g
    ),
    fold AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k_groups,
               CAST(SUM(n_j) AS BIGINT) AS n_total,
               SUM(CAST(
                   CAST(r2_j AS DOUBLE) * CAST(r2_j AS DOUBLE)
                   / 4.0 / CAST(n_j AS DOUBLE)
                   AS DECIMAL(38,6))) AS s
        FROM pg
    ),
    tie AS (
        SELECT SUM(CAST(ct AS HUGEINT) * ct * ct - ct) AS t3t
        FROM vals
    )
    SELECT k_groups,
           n_total,
           ROUND(12.0 / (CAST(n_total AS DOUBLE)
                         * (CAST(n_total AS DOUBLE) + 1.0))
                 * CAST(s AS DOUBLE)
                 - 3.0 * (CAST(n_total AS DOUBLE) + 1.0),
                 9) AS h_stat,
           ROUND(CASE WHEN 1.0 - CAST(t3t AS DOUBLE)
                          / (CAST(n_total AS DOUBLE)
                             * CAST(n_total AS DOUBLE)
                             * CAST(n_total AS DOUBLE)
                             - CAST(n_total AS DOUBLE)) > 0
                 THEN (12.0 / (CAST(n_total AS DOUBLE)
                               * (CAST(n_total AS DOUBLE) + 1.0))
                       * CAST(s AS DOUBLE)
                       - 3.0 * (CAST(n_total AS DOUBLE) + 1.0))
                      / (1.0 - CAST(t3t AS DOUBLE)
                         / (CAST(n_total AS DOUBLE)
                            * CAST(n_total AS DOUBLE)
                            * CAST(n_total AS DOUBLE)
                            - CAST(n_total AS DOUBLE)))
                 END, 9) AS h_stat_tied
    FROM fold CROSS JOIN tie
"""


def q_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality verdict per returnflag (operators/
    analytics.py::jarque_bera) on l_extendedprice — "may the t-test
    family even run here": population skew/kurtosis from the
    grouped_moments staged-DECIMAL power sums (exact at any scale),
    JB = n/6·(g1² + g2²/4), ROUND 9. One partial-aggregated scan."""
    from h3_indexer_spark.operators.analytics import jarque_bera

    return jarque_bera(
        load(spark, sf_dir, "lineitem"),
        "l_extendedprice",
        group_cols=["l_returnflag"],
        decimal_scale=2,
    )


_JARQUE_BERA_ORACLE = """
    WITH src AS (
        SELECT l_returnflag,
               CAST(round(CAST(l_extendedprice AS DOUBLE) * 100)
                    AS BIGINT) AS c
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL
    ),
    agg AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               SUM(CAST(c AS HUGEINT)) AS s1,
               SUM(CAST(c AS HUGEINT) * c) AS s2,
               SUM(CAST(c AS HUGEINT) * c * c) AS s3,
               SUM(CAST(c AS HUGEINT) * c * c * c) AS s4
        FROM src GROUP BY l_returnflag
    ),
    stats AS (
        SELECT l_returnflag,
               n_rows,
               CAST(n_rows AS DOUBLE) AS n,
               CAST(s1 AS DOUBLE) / 100.0 AS d1,
               CAST(s2 AS DOUBLE) / 10000.0 AS d2,
               CAST(s3 AS DOUBLE) / 1000000.0 AS d3,
               CAST(s4 AS DOUBLE) / 100000000.0 AS d4
        FROM agg
    ),
    m AS (
        SELECT l_returnflag, n_rows, n,
               d1 / n AS mean,
               d2 / n - (d1 / n) * (d1 / n) AS m2,
               d3 / n - 3.0 * (d1 / n) * (d2 / n)
                   + 2.0 * (d1 / n) * (d1 / n) * (d1 / n) AS m3,
               d4 / n - 4.0 * (d1 / n) * (d3 / n)
                   + 6.0 * (d1 / n) * (d1 / n) * (d2 / n)
                   - 3.0 * (d1 / n) * (d1 / n) * (d1 / n) * (d1 / n)
                   AS m4
        FROM stats
    )
    SELECT l_returnflag,
           n_rows,
           ROUND(CASE WHEN n_rows >= 2 AND m2 > 0.0
                 THEN m3 / sqrt(m2 * m2 * m2) END, 9) AS skew_g1,
           ROUND(CASE WHEN n_rows >= 2 AND m2 > 0.0
                 THEN m4 / (m2 * m2) - 3.0 END, 9) AS kurt_g2,
           ROUND(CASE WHEN n_rows >= 2 AND m2 > 0.0
                 THEN n / 6.0 * ((m3 / sqrt(m2 * m2 * m2))
                                 * (m3 / sqrt(m2 * m2 * m2))
                                 + (m4 / (m2 * m2) - 3.0)
                                   * (m4 / (m2 * m2) - 3.0) / 4.0)
                 END, 9) AS jb_stat
    FROM m
"""


def q_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation (operators/analytics.py::
    cross_correlation) between daily URGENT and daily LOW order
    revenue at lags −7..+7 — "does urgent demand lead or lag the
    budget tail". Series are exact daily cent sums (zero-filled on
    order-bearing days); the lag fan-out broadcasts a 15-row lag
    table against the |dates|-sized collapsed series; per-lag Pearson
    folds HUGEINT-exact sums, ROUND 9."""
    from h3_indexer_spark.operators.analytics import cross_correlation

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    o = load(spark, sf_dir, "orders").where(
        F.col("o_orderdate").isNotNull()
        & F.col("o_totalprice").isNotNull()
    )
    cents = F.round(
        F.col("o_totalprice").cast("double") * F.lit(100.0), 0
    ).cast("long")
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(
            F.when(F.col("o_orderpriority") == "1-URGENT", cents)
            .otherwise(F.lit(0))
        ).cast("bigint").alias("a"),
        F.sum(
            F.when(F.col("o_orderpriority") == "5-LOW", cents)
            .otherwise(F.lit(0))
        ).cast("bigint").alias("b"),
    )
    return cross_correlation(daily, "d", "a", "b", max_lag=7)


_XCORR_ORACLE = """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                        THEN CAST(round(CAST(o_totalprice AS DOUBLE)
                                        * 100.0) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS a,
               CAST(SUM(CASE WHEN o_orderpriority = '5-LOW'
                        THEN CAST(round(CAST(o_totalprice AS DOUBLE)
                                        * 100.0) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS b
        FROM orders
        WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
        GROUP BY 1
    ),
    lags AS (SELECT CAST(range AS INTEGER) AS lag FROM range(-7, 8)),
    pairs AS (
        SELECT lags.lag, l.a, r.b
        FROM daily l CROSS JOIN lags
        JOIN daily r ON r.d = l.d + lags.lag
    ),
    agg0 AS (
        SELECT lag,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               SUM(CAST(a AS HUGEINT)) AS sa,
               SUM(CAST(b AS HUGEINT)) AS sb,
               SUM(CAST(a AS HUGEINT) * b) AS sab,
               SUM(CAST(a AS HUGEINT) * a) AS saa,
               SUM(CAST(b AS HUGEINT) * b) AS sbb
        FROM pairs GROUP BY lag
    ),
    agg AS (
        -- one row PER LAG, zero-overlap lags report (0, NULL)
        SELECT lags.lag,
               COALESCE(n_days, CAST(0 AS BIGINT)) AS n_days,
               sa, sb, sab, saa, sbb
        FROM lags LEFT JOIN agg0 USING (lag)
    )
    SELECT lag,
           n_days,
           ROUND(CASE WHEN
                     CAST(n_days AS DOUBLE) * CAST(saa AS DOUBLE)
                     - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) > 0
                     AND CAST(n_days AS DOUBLE) * CAST(sbb AS DOUBLE)
                     - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) > 0
                 THEN (CAST(n_days AS DOUBLE) * CAST(sab AS DOUBLE)
                       - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
                      / (sqrt(CAST(n_days AS DOUBLE)
                              * CAST(saa AS DOUBLE)
                              - CAST(sa AS DOUBLE)
                                * CAST(sa AS DOUBLE))
                         * sqrt(CAST(n_days AS DOUBLE)
                                * CAST(sbb AS DOUBLE)
                                - CAST(sb AS DOUBLE)
                                  * CAST(sb AS DOUBLE)))
                 END, 9) AS r
    FROM agg
"""


def q_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering (operators/mining.py::
    item_cf_similarity): top-30 part pairs by co-purchase cosine over
    order baskets — the "also bought" neighbor table, the symmetric
    recommender complement of q_assoc_rules' directional lift. One
    basket-keyed self-join bounded by basket size (≤13 here; the
    mega-basket cap guards pathological baskets, folded lazily —
    zero jobs at construction), supports broadcast back, total-order
    top-k."""
    from h3_indexer_spark.operators.mining import item_cf_similarity

    return item_cf_similarity(
        load(spark, sf_dir, "lineitem"),
        "l_orderkey",
        "l_partkey",
        min_joint=2,
        k=30,
        log_exclusions=False,
    )


_ITEM_CF_ORACLE = """
    WITH it0 AS (
        SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
    ),
    it AS (
        -- mirrors the engine's default max_basket_size=10000
        -- mega-basket cap (cannot bind on TPC-H's <=13-item baskets,
        -- but a capped engine against an uncapped oracle is a latent
        -- gate divergence — the q_adamic_adar hub-cap rule)
        SELECT b, i FROM it0
        WHERE b IN (
            SELECT b FROM it0 GROUP BY b HAVING COUNT(*) <= 10000
        )
    ),
    sup AS (
        SELECT i, CAST(COUNT(*) AS BIGINT) AS n FROM it GROUP BY i
    ),
    pairs AS (
        SELECT a.i AS ia, b.i AS ib, CAST(COUNT(*) AS BIGINT) AS nj
        FROM it a JOIN it b ON a.b = b.b AND a.i < b.i
        GROUP BY 1, 2
        HAVING COUNT(*) >= 2
    )
    SELECT ia AS item_a,
           ib AS item_b,
           nj AS n_joint,
           sa.n AS n_a,
           sb.n AS n_b,
           ROUND(CAST(nj AS DOUBLE)
                 / sqrt(CAST(sa.n AS DOUBLE) * CAST(sb.n AS DOUBLE)),
                 9) AS cos_sim
    FROM pairs
    JOIN sup sa ON sa.i = ia
    JOIN sup sb ON sb.i = ib
    ORDER BY cos_sim DESC, item_a ASC, item_b ASC
    LIMIT 30
"""


def q_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-Evidence / Information Value (operators/
    analytics.py::woe_iv) of order priority against the fulfilled
    flag — "how predictive is priority of fulfillment", the
    credit-scoring feature-power readout beside q_mutual_info. Exact
    conditional counts, lazy 1-row total folds, DECIMAL(38,12)
    order-free IV sum, ROUND 9."""
    from h3_indexer_spark.operators.analytics import woe_iv

    o = load(spark, sf_dir, "orders").where(
        F.col("o_orderstatus").isNotNull()
    )
    return woe_iv(
        o.select(
            "o_orderpriority",
            (F.col("o_orderstatus") == F.lit("F")).alias("is_f"),
        ),
        "o_orderpriority",
        "is_f",
    )


_WOE_IV_ORACLE = """
    WITH bins AS (
        SELECT o_orderpriority AS bin,
               CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1
                        ELSE 0 END) AS BIGINT) AS n_pos,
               CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 0
                        ELSE 1 END) AS BIGINT) AS n_neg
        FROM orders
        WHERE o_orderstatus IS NOT NULL
              AND o_orderpriority IS NOT NULL
        GROUP BY 1
    ),
    tot AS (
        SELECT CAST(SUM(n_pos) AS BIGINT) AS p,
               CAST(SUM(n_neg) AS BIGINT) AS n
        FROM bins
    ),
    terms AS (
        SELECT bin,
               n_pos,
               n_neg,
               CASE WHEN n_pos > 0 AND n_neg > 0
               THEN ln((CAST(n_pos AS DOUBLE) / CAST(p AS DOUBLE))
                       / (CAST(n_neg AS DOUBLE) / CAST(n AS DOUBLE)))
               END AS woe_raw,
               CAST(CASE WHEN n_pos > 0 AND n_neg > 0
                    THEN (CAST(n_pos AS DOUBLE) / CAST(p AS DOUBLE)
                          - CAST(n_neg AS DOUBLE) / CAST(n AS DOUBLE))
                         * ln((CAST(n_pos AS DOUBLE)
                               / CAST(p AS DOUBLE))
                              / (CAST(n_neg AS DOUBLE)
                                 / CAST(n AS DOUBLE)))
                    END AS DECIMAL(38,12)) AS iv_term_q
        FROM bins CROSS JOIN tot
    ),
    iv AS (SELECT SUM(iv_term_q) AS iv_total_q FROM terms)
    SELECT bin,
           n_pos,
           n_neg,
           ROUND(woe_raw, 9) AS woe,
           ROUND(CAST(iv_term_q AS DOUBLE), 9) AS iv_term,
           ROUND(CAST(iv_total_q AS DOUBLE), 9) AS iv_total
    FROM terms CROSS JOIN iv
"""


def q_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown (operators/analytics.py::max_drawdown) of the
    cumulative net-revenue curve — shipped revenue counts positive,
    returned lines ('R') negative — "the worst peak-to-trough slide
    the revenue balance ever took". Daily collapse first, then the
    ordered cumulative/running-max windows run over |days| rows;
    DECIMAL(38,0)-exact equity and drawdown, fraction ROUND 9."""
    from h3_indexer_spark.operators.analytics import max_drawdown

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    li = load(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate").isNotNull()
        & F.col("l_extendedprice").isNotNull()
    )
    flows = li.select(
        F.to_date("l_shipdate").alias("d"),
        F.when(
            F.col("l_returnflag") == F.lit("R"),
            -F.col("l_extendedprice"),
        )
        .otherwise(F.col("l_extendedprice"))
        .cast("double")
        .alias("flow"),
    )
    return max_drawdown(flows, "d", "flow", decimal_scale=4)


_DRAWDOWN_ORACLE = """
    WITH flows AS (
        SELECT CAST(l_shipdate AS DATE) AS d,
               CAST(round(CAST(CASE WHEN l_returnflag = 'R'
                                THEN -l_extendedprice
                                ELSE l_extendedprice END AS DOUBLE)
                          * 10000.0) AS BIGINT) AS fq
        FROM lineitem
        WHERE l_shipdate IS NOT NULL AND l_extendedprice IS NOT NULL
    ),
    daily AS (
        SELECT d, SUM(CAST(fq AS HUGEINT)) AS flow
        FROM flows GROUP BY d
    ),
    curve AS (
        SELECT d,
               SUM(flow) OVER (ORDER BY d ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS eq
        FROM daily
    ),
    peaks AS (
        SELECT d,
               eq,
               MAX(eq) OVER (ORDER BY d ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS peak
        FROM curve
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_periods,
           CAST(MAX(peak) AS DOUBLE) / 10000.0 AS peak_equity,
           CAST(MAX(peak - eq) AS DOUBLE) / 10000.0 AS max_drawdown,
           ROUND(MAX(CASE WHEN peak > 0
                     THEN CAST(peak - eq AS DOUBLE)
                          / CAST(peak AS DOUBLE) END),
                 9) AS max_drawdown_frac
    FROM peaks
"""


def q_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (operators/analytics.py::average_precision)
    of o_totalprice as a ranker for 1995's fulfilled orders — the
    precision-recall readout that completes the eval family (q_auc
    ranks pairs, q_ndcg grades positions; AP is THE rare-positive
    metric). Total-order ranking (score desc, id asc),
    DECIMAL(38,18) order-free precision fold, ROUND 9; bounded to an
    eval-sized candidate set by the year filter (the operator's
    documented contract — AP is an eval-table metric, not a corpus
    one)."""
    from h3_indexer_spark.operators.analytics import average_precision

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    return average_precision(
        o.select(
            (F.col("o_orderstatus") == F.lit("F")).alias("is_f"),
            "o_totalprice",
            "o_orderkey",
        ),
        "is_f",
        "o_totalprice",
        "o_orderkey",
    )


_PR_AUC_ORACLE = """
    WITH scored AS (
        SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
               o_totalprice AS s,
               o_orderkey AS id
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderstatus IS NOT NULL
              AND o_totalprice IS NOT NULL
              AND o_orderkey IS NOT NULL
    ),
    ranked AS (
        SELECT y,
               CAST(ROW_NUMBER() OVER (ORDER BY s DESC, id ASC)
                    AS BIGINT) AS k,
               CAST(SUM(y) OVER (ORDER BY s DESC, id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cp
        FROM scored
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS n_pos,
               SUM(CAST(CASE WHEN y = 1
                        THEN CAST(cp AS DOUBLE) / CAST(k AS DOUBLE)
                        END AS DECIMAL(38,18))) AS ap_sum
        FROM ranked
    )
    SELECT n,
           n_pos,
           ROUND(CASE WHEN n_pos > 0
                 THEN CAST(ap_sum AS DOUBLE) / CAST(n_pos AS DOUBLE)
                 END, 9) AS avg_precision
    FROM agg
"""


def q_file_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction plan (operators/relational.py::
    compaction_plan) over the documents inventory (source =
    partition, n_chars = bytes, 2 KiB target) — the nightly
    maintenance-advisor table the partitioned sink family
    (sources/writers.py::compact_parquet executes what this plans).
    Next-fit bin packing via ONE partition-keyed cumulative window;
    exact BIGINT arithmetic, deterministic by id order."""
    from h3_indexer_spark.operators.relational import compaction_plan

    return compaction_plan(
        load(spark, sf_dir, "documents"),
        "source",
        "doc_id",
        "n_chars",
        target_bytes=2048,
    )


_FILE_COMPACTION_ORACLE = """
    WITH assigned AS (
        SELECT source AS part,
               doc_id AS id,
               CAST(n_chars AS BIGINT) AS sz,
               -- integer //, mirroring the engine's exact BIGINT div
               CAST(
                   (SUM(CAST(n_chars AS BIGINT)) OVER (
                        PARTITION BY source ORDER BY doc_id ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW)
                    - CAST(n_chars AS BIGINT)) // 2048
                   AS BIGINT) AS bin
        FROM documents
        WHERE source IS NOT NULL AND doc_id IS NOT NULL
              AND n_chars IS NOT NULL
    )
    SELECT part,
           bin,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(sz) AS BIGINT) AS total_bytes,
           MIN(id) AS first_id,
           MAX(id) AS last_id,
           SUM(sz) < 2048 AS undersized
    FROM assigned
    GROUP BY part, bin
"""


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit (operators/textops.py::zipf_fit) over
    the documents corpus head — "is this corpus shaped like natural
    language" (slope ≈ −1) in one number; the corpus-level twin of
    the per-doc quality signals. Vocabulary collapse + top-200
    TakeOrdered head + a one-task OLS on (ln rank, ln freq) with
    DECIMAL(38,18) order-free sums, ROUND 9."""
    from h3_indexer_spark.operators.textops import zipf_fit

    return zipf_fit(load(spark, sf_dir, "documents"), "text", top_n=200)


_ZIPF_FIT_ORACLE = """
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    freq AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS f
        FROM toks WHERE tok <> '' GROUP BY tok
    ),
    head AS (
        SELECT tok, f FROM freq
        ORDER BY f DESC, tok ASC LIMIT 200
    ),
    xy AS (
        SELECT ln(CAST(ROW_NUMBER() OVER (ORDER BY f DESC, tok ASC)
                       AS DOUBLE)) AS x,
               ln(CAST(f AS DOUBLE)) AS y
        FROM head
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_ranks,
               SUM(CAST(x AS DECIMAL(38,18))) AS sx,
               SUM(CAST(y AS DECIMAL(38,18))) AS sy,
               SUM(CAST(x * y AS DECIMAL(38,18))) AS sxy,
               SUM(CAST(x * x AS DECIMAL(38,18))) AS sxx,
               SUM(CAST(y * y AS DECIMAL(38,18))) AS syy
        FROM xy
    )
    SELECT n_ranks,
           ROUND(CASE WHEN CAST(n_ranks AS DOUBLE)
                           * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                           > 0
                 THEN (CAST(n_ranks AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                      / (CAST(n_ranks AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 END, 9) AS slope,
           ROUND(CASE WHEN CAST(n_ranks AS DOUBLE)
                           * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                           > 0
                 THEN (CAST(sy AS DOUBLE)
                       - (CAST(n_ranks AS DOUBLE)
                          * CAST(sxy AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                         / (CAST(n_ranks AS DOUBLE)
                            * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                         * CAST(sx AS DOUBLE))
                      / CAST(n_ranks AS DOUBLE)
                 END, 9) AS intercept,
           ROUND(CASE WHEN CAST(n_ranks AS DOUBLE)
                           * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                           > 0
                      AND CAST(n_ranks AS DOUBLE)
                          * CAST(syy AS DOUBLE)
                          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
                          > 0
                 THEN (CAST(n_ranks AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                      * (CAST(n_ranks AS DOUBLE)
                         * CAST(sxy AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                      / ((CAST(n_ranks AS DOUBLE)
                          * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                         * (CAST(n_ranks AS DOUBLE)
                            * CAST(syy AS DOUBLE)
                            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                 END, 9) AS r2
    FROM agg
"""


QUERIES["q_kruskal"] = q_kruskal
QUERIES["q_jarque_bera"] = q_jarque_bera
QUERIES["q_xcorr"] = q_xcorr
QUERIES["q_item_cf"] = q_item_cf
QUERIES["q_woe_iv"] = q_woe_iv
QUERIES["q_drawdown"] = q_drawdown
QUERIES["q_pr_auc"] = q_pr_auc
QUERIES["q_file_compaction"] = q_file_compaction
QUERIES["q_zipf_fit"] = q_zipf_fit
ORACLES["q_kruskal"] = _KRUSKAL_ORACLE
ORACLES["q_jarque_bera"] = _JARQUE_BERA_ORACLE
ORACLES["q_xcorr"] = _XCORR_ORACLE
ORACLES["q_item_cf"] = _ITEM_CF_ORACLE
ORACLES["q_woe_iv"] = _WOE_IV_ORACLE
ORACLES["q_drawdown"] = _DRAWDOWN_ORACLE
ORACLES["q_pr_auc"] = _PR_AUC_ORACLE
ORACLES["q_file_compaction"] = _FILE_COMPACTION_ORACLE
ORACLES["q_zipf_fit"] = _ZIPF_FIT_ORACLE


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity violation histogram (operators/curation.py::
    k_anonymity_report) over customers keyed by the quasi-identifier
    tuple (nation, market segment, account-balance thousand-bucket) at
    k=10 — the privacy release gate: one row per under-k equivalence-
    class SIZE with how many classes and rows sit at that risk level
    (<= 9 rows whatever the volume; empty = dataset is 10-anonymous).
    The bucket is floor(double(c_acctbal)/1000): acctbal has 2
    decimals, so the quotient only lands on an integer when acctbal
    is an exact multiple of 1000 — exactly representable on both
    engines, no floor edge."""
    from h3_indexer_spark.operators.curation import k_anonymity_report

    cust = load(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal").cast("double") / F.lit(1000.0))
        .cast("bigint")
        .alias("bal_bucket"),
    )
    return k_anonymity_report(
        cust, ["c_nationkey", "c_mktsegment", "bal_bucket"], k=10
    )


_K_ANONYMITY_ORACLE = """
    WITH q AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(FLOOR(CAST(c_acctbal AS DOUBLE) / 1000.0) AS BIGINT)
                   AS bal_bucket
        FROM customer
    ),
    g AS (
        SELECT c_nationkey, c_mktsegment, bal_bucket,
               CAST(COUNT(*) AS BIGINT) AS sz
        FROM q GROUP BY 1, 2, 3
    )
    SELECT sz AS group_size,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(sz) AS BIGINT) AS n_rows
    FROM g
    WHERE sz < 10
    GROUP BY sz
    ORDER BY group_size
"""


def q_class_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall/F1 (operators/analytics.py::
    classification_report) grading a deterministic price-threshold
    "classifier" of order status (< 100k -> 'F', < 200k -> 'O', else
    'P') against the true o_orderstatus — the confusion-matrix
    readout the eval family lacked (roc_auc/pr_auc/ndcg grade scores;
    this grades hard assignments). Every cell is an exact BIGINT from
    ONE class-keyed aggregation; each ratio is a single IEEE division
    of exact integers (f1 via 2tp/(2tp+fp+fn) — one op, never the
    2PR/(P+R) float compound), ROUND 9, [0,1]-bounded."""
    from h3_indexer_spark.operators.analytics import classification_report

    orders = load(spark, sf_dir, "orders").where(
        F.col("o_orderstatus").isNotNull()
        & F.col("o_totalprice").isNotNull()
    )
    price = F.col("o_totalprice").cast("double")
    scored = orders.select(
        F.col("o_orderstatus").alias("label"),
        F.when(price < 100000.0, F.lit("F"))
        .when(price < 200000.0, F.lit("O"))
        .otherwise(F.lit("P"))
        .alias("pred"),
    )
    return classification_report(scored, "label", "pred")


_CLASS_REPORT_ORACLE = """
    WITH t AS (
        SELECT CAST(o_orderstatus AS VARCHAR) AS label,
               CASE WHEN CAST(o_totalprice AS DOUBLE) < 100000.0
                        THEN 'F'
                    WHEN CAST(o_totalprice AS DOUBLE) < 200000.0
                        THEN 'O'
                    ELSE 'P' END AS pred
        FROM orders
        WHERE o_orderstatus IS NOT NULL AND o_totalprice IS NOT NULL
    ),
    e AS (
        SELECT label AS class, 1 AS _t, 0 AS _p,
               CASE WHEN label = pred THEN 1 ELSE 0 END AS _tp
        FROM t
        UNION ALL
        SELECT pred AS class, 0 AS _t, 1 AS _p, 0 AS _tp FROM t
    ),
    a AS (
        SELECT class,
               CAST(SUM(_t) AS BIGINT) AS n_true,
               CAST(SUM(_p) AS BIGINT) AS n_pred,
               CAST(SUM(_tp) AS BIGINT) AS tp
        FROM e GROUP BY class
    )
    SELECT class, n_true, n_pred, tp,
           (n_pred - tp) AS fp,
           (n_true - tp) AS fn,
           ROUND(CASE WHEN n_pred > 0
                 THEN CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE)
                 END, 9) AS "precision",
           ROUND(CASE WHEN n_true > 0
                 THEN CAST(tp AS DOUBLE) / CAST(n_true AS DOUBLE)
                 END, 9) AS recall,
           ROUND(CASE WHEN 2 * tp + (n_pred - tp) + (n_true - tp) > 0
                 THEN (2.0 * CAST(tp AS DOUBLE))
                      / CAST(2 * tp + (n_pred - tp) + (n_true - tp)
                             AS DOUBLE)
                 END, 9) AS f1
    FROM a
    ORDER BY class
"""


QUERIES["q_k_anonymity"] = q_k_anonymity
QUERIES["q_class_report"] = q_class_report
ORACLES["q_k_anonymity"] = _K_ANONYMITY_ORACLE
ORACLES["q_class_report"] = _CLASS_REPORT_ORACLE


# ---------------------------------------------------------------------------
# Round-11 debuts: the full-PrefixSpan miner's contract key (the one
# round-10 operator with no driver row), Fisher's exact test, the
# k-anonymity generalization ladder + l-diversity (completing the
# privacy family report → suppress → generalize → second gate), and
# the macro/micro classification summary.
# ---------------------------------------------------------------------------


def q_seq_patterns_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL sequential pattern mining (operators/mining.py::
    sequential_patterns_full, PrefixSpan semantics — arbitrary gaps,
    length ≤ 4): every event-type sequence occurring as a subsequence
    of ≥ 10 users' time-ordered streams, mined over the HIGH-VALUE
    event substream (value > 120, ~the top decile — the raw streams
    average 66 events/user over only 5 types, so every short pattern
    trivially occurs in every stream; the sparse substream (~6
    events/user) is where subsequence support is discriminative).
    The oracle unrolls the same level-wise greedy extension as four
    CTE levels (earliest-match end positions, per-level Apriori
    prune) — the recursion-free mirror of exactly the distributed
    algorithm."""
    from h3_indexer_spark.operators.mining import sequential_patterns_full

    ev = _load_events(spark, sf_dir).where(F.col("value") > 120.0)
    return sequential_patterns_full(ev, min_support=10, max_len=4)


def _seq_full_level(prev: str, src: str) -> str:
    """One greedy-extension level of the q_seq_patterns_full oracle:
    extend each (entity, pattern, earliest-end) of the PRUNED previous
    level by every later event, keeping the earliest end per extended
    pattern."""
    return f"""
        SELECT l.e, l.pat || ' -> ' || v.t AS pat, MIN(v.pos) AS endp
        FROM {prev} l JOIN {prev}s s ON l.pat = s.pat
                      JOIN {src} v ON v.e = l.e AND v.pos > l.endp
        GROUP BY 1, 2
    """


_SEQ_FULL_SUPPORT = """
        SELECT pat, CAST(COUNT(*) AS BIGINT) AS support
        FROM {lvl} GROUP BY pat HAVING COUNT(*) >= 10
"""

_SEQ_PATTERNS_FULL_ORACLE = f"""
    WITH ev0 AS (
        SELECT user_id AS e, event_type AS t,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY epoch_ns(ts), event_id) AS pos
        FROM events WHERE value > 120.0
    ),
    ft AS (
        SELECT t FROM ev0 GROUP BY t HAVING COUNT(DISTINCT e) >= 10
    ),
    ev AS (SELECT * FROM ev0 WHERE t IN (SELECT t FROM ft)),
    l1 AS (SELECT e, t AS pat, MIN(pos) AS endp FROM ev GROUP BY e, t),
    l1s AS ({_SEQ_FULL_SUPPORT.format(lvl="l1")}),
    l2 AS ({_seq_full_level("l1", "ev")}),
    l2s AS ({_SEQ_FULL_SUPPORT.format(lvl="l2")}),
    l3 AS ({_seq_full_level("l2", "ev")}),
    l3s AS ({_SEQ_FULL_SUPPORT.format(lvl="l3")}),
    l4 AS ({_seq_full_level("l3", "ev")}),
    l4s AS ({_SEQ_FULL_SUPPORT.format(lvl="l4")})
    SELECT pattern, length, support FROM (
        SELECT pat AS pattern, CAST(1 AS BIGINT) AS length, support
        FROM l1s
        UNION ALL
        SELECT pat, CAST(2 AS BIGINT), support FROM l2s
        UNION ALL
        SELECT pat, CAST(3 AS BIGINT), support FROM l3s
        UNION ALL
        SELECT pat, CAST(4 AS BIGINT), support FROM l4s
    )
    ORDER BY length, support DESC, pattern
"""


def q_fisher_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped two-sided Fisher's exact test (operators/analytics.py::
    fisher_exact) — the small-sample independence gate the chi-square
    key documents away: per nation, a deterministic 24-customer sample
    (the seedless md5 recipe, salt 'fisher' — Fisher's is THE
    small-sample test, so the bounded per-group sample is the
    statistically honest usage, not a workaround) is tested for
    independence of (segment ∈ {BUILDING, AUTOMOBILE}) × (acctbal >
    4500). Every hypergeometric weight is an EXACT BIGINT (integer-
    preserving binomial folds — no lgamma: JVM/libm transcendentals
    differ in the last ulp exactly where the two-sided ≤-observed rule
    turns a 1-ulp flip into a whole included/excluded term); the
    p-value is ONE IEEE division of exact integers, with the lossless
    rational exposed as p_num/p_den."""
    from h3_indexer_spark.operators.analytics import fisher_exact
    from h3_indexer_spark.operators.curation import sample_per_group

    cust = load(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        F.col("c_acctbal").cast("double").alias("bal"),
    )
    samp = sample_per_group(
        cust, "c_nationkey", k=24, id_col="c_custkey", salt="fisher"
    )
    t = samp.select(
        "c_nationkey",
        F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE").alias(
            "seg_ab"
        ),
        (F.col("bal") > 4500.0).alias("high_bal"),
    )
    return fisher_exact(t, ["c_nationkey"], "seg_ab", "high_bal")


def _duck_binom(a: str, b: str) -> str:
    """DuckDB twin of analytics._binom_fold_sql: C(a, b) as an exact
    BIGINT via the same integer-preserving multiplicative fold
    (list_reduce over generate_series; // is exact at every step
    because each intermediate is itself a binomial)."""
    return (
        f"(CASE WHEN ({b}) <= 0 THEN CAST(1 AS BIGINT) "
        f"ELSE list_reduce(list_prepend(CAST(1 AS BIGINT), "
        f"generate_series(CAST(1 AS BIGINT), {b})), "
        f"(acc, j) -> (acc * (({a}) - ({b}) + j)) // j) END)"
    )


_FISHER_W_AT = f"{_duck_binom('r1', 'kk')} * {_duck_binom('n - r1', 'c1 - kk')}"
_FISHER_W_OBS = (
    f"{_duck_binom('r1', 'n11')} * {_duck_binom('n - r1', 'c1 - n11')}"
)

_FISHER_ORACLE = f"""
    WITH h AS (
        SELECT c_custkey, c_nationkey, c_mktsegment,
               CAST(c_acctbal AS DOUBLE) AS bal,
               CAST('0x' || substr(md5('fisher'
                        || CAST(c_custkey AS VARCHAR)), 18, 15)
                    AS BIGINT) AS hh
        FROM customer
    ),
    r AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                     ORDER BY hh, c_custkey) AS rn
        FROM h
    ),
    t AS (
        SELECT c_nationkey,
               CASE WHEN c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
                    THEN 1 ELSE 0 END AS a,
               CASE WHEN bal > 4500.0 THEN 1 ELSE 0 END AS b
        FROM r
        WHERE rn <= 24 AND c_mktsegment IS NOT NULL AND bal IS NOT NULL
    ),
    c AS (
        SELECT c_nationkey,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(a) AS BIGINT) AS r1,
               CAST(SUM(b) AS BIGINT) AS c1,
               CAST(SUM(a * b) AS BIGINT) AS n11
        FROM t GROUP BY c_nationkey
    ),
    w AS (
        SELECT *,
               list_transform(
                   generate_series(
                       GREATEST(CAST(0 AS BIGINT), r1 + c1 - n),
                       LEAST(r1, c1)),
                   kk -> {_FISHER_W_AT}) AS ws,
               {_FISHER_W_OBS} AS w_obs
        FROM c
    ),
    pv AS (
        SELECT c_nationkey, n, r1, c1, n11,
               r1 - n11 AS n12,
               c1 - n11 AS n21,
               n - r1 - c1 + n11 AS n22,
               CASE WHEN n <= 60 THEN
                   CAST(list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                           list_transform(ws, x ->
                               CASE WHEN x <= w_obs THEN x
                                    ELSE CAST(0 AS BIGINT) END)),
                       (acc, x) -> acc + x) AS BIGINT)
               END AS p_num,
               CASE WHEN n <= 60 THEN
                   CAST(list_reduce(
                       list_prepend(CAST(0 AS BIGINT), ws),
                       (acc, x) -> acc + x) AS BIGINT)
               END AS p_den
        FROM w
    )
    SELECT c_nationkey, n, r1, c1, n11, n12, n21, n22, p_num, p_den,
           ROUND(CAST(p_num AS DOUBLE) / CAST(p_den AS DOUBLE), 9)
               AS p_value,
           ROUND(CASE WHEN n12 * n21 > 0
                 THEN CAST(n11 * n22 AS DOUBLE)
                      / CAST(n12 * n21 AS DOUBLE)
                 END, 9) AS odds_ratio
    FROM pv
    ORDER BY c_nationkey
"""


def q_k_anon_generalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity generalization ladder (operators/curation.py::
    k_anonymity_generalize) over the q_k_anonymity quasi-tuple at
    k=10: audit five coarsening levels — balance bucket widened 1000 →
    2000 → 5000, then the bucket dropped, then nation dropped — and
    mark the FIRST level at which the dataset is 10-anonymous. The
    bucket widths keep the q_k_anonymity floor-edge argument: acctbal
    has 2 decimals, so a quotient lands on an integer only at exact
    multiples of the width — exactly representable on both engines.
    Output: 5 rows whatever the volume."""
    from h3_indexer_spark.operators.curation import k_anonymity_generalize

    cust = load(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.col("c_acctbal").cast("double").alias("bal"),
    )

    def bucket(width: float):
        return (
            F.floor(F.col("bal") / F.lit(width))
            .cast("bigint")
            .alias("bal_bucket")
        )

    nat = F.col("c_nationkey")
    seg = F.col("c_mktsegment")
    levels = [
        ("nation_segment_bal1000", [nat, seg, bucket(1000.0)]),
        ("nation_segment_bal2000", [nat, seg, bucket(2000.0)]),
        ("nation_segment_bal5000", [nat, seg, bucket(5000.0)]),
        ("nation_segment", [nat, seg]),
        ("segment", [seg]),
    ]
    return k_anonymity_generalize(cust, levels, k=10)


def _k_anon_level_sql(level: int, name: str, keys: str) -> str:
    """One ladder level of the q_k_anon_generalize oracle: class
    sizes on ``keys``, folded to a single report row."""
    return f"""
        SELECT CAST({level} AS BIGINT) AS level,
               '{name}' AS level_name,
               CAST(COUNT(*) AS BIGINT) AS n_classes,
               CAST(SUM(CASE WHEN sz < 10 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_violations,
               CAST(COALESCE(SUM(CASE WHEN sz < 10 THEN sz ELSE 0 END),
                             0) AS BIGINT) AS rows_at_risk,
               CAST(MIN(sz) AS BIGINT) AS min_class_size
        FROM (SELECT COUNT(*) AS sz FROM q GROUP BY {keys})
    """


_K_ANON_GENERALIZE_ORACLE = f"""
    WITH q AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(c_acctbal AS DOUBLE) AS bal
        FROM customer
    ),
    u AS (
        {_k_anon_level_sql(0, "nation_segment_bal1000",
                           "c_nationkey, c_mktsegment, FLOOR(bal / 1000.0)")}
        UNION ALL
        {_k_anon_level_sql(1, "nation_segment_bal2000",
                           "c_nationkey, c_mktsegment, FLOOR(bal / 2000.0)")}
        UNION ALL
        {_k_anon_level_sql(2, "nation_segment_bal5000",
                           "c_nationkey, c_mktsegment, FLOOR(bal / 5000.0)")}
        UNION ALL
        {_k_anon_level_sql(3, "nation_segment",
                           "c_nationkey, c_mktsegment")}
        UNION ALL
        {_k_anon_level_sql(4, "segment", "c_mktsegment")}
    )
    SELECT level, level_name, n_classes, n_violations, rows_at_risk,
           min_class_size,
           CAST(CASE WHEN level = MIN(CASE WHEN n_violations = 0
                                      THEN level END) OVER ()
                THEN 1 ELSE 0 END AS BIGINT) AS is_chosen
    FROM u
    ORDER BY level
"""


def q_class_report_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Macro/micro/weighted averaging of the per-class report
    (operators/analytics.py::classification_summary) over the same
    price-threshold classifier as q_class_report — sklearn's
    "macro avg / weighted avg" block plus the micro row, whose
    precision = recall = F1 = accuracy identity is a built-in
    self-check. Every mean folds the per-class ROUND-9 metrics over
    the SORTED term list (the q_entropy rule) and divides by an exact
    BIGINT; 3 rows whatever the volume."""
    from h3_indexer_spark.operators.analytics import classification_summary

    orders = load(spark, sf_dir, "orders").where(
        F.col("o_orderstatus").isNotNull()
        & F.col("o_totalprice").isNotNull()
    )
    price = F.col("o_totalprice").cast("double")
    scored = orders.select(
        F.col("o_orderstatus").alias("label"),
        F.when(price < 100000.0, F.lit("F"))
        .when(price < 200000.0, F.lit("O"))
        .otherwise(F.lit("P"))
        .alias("pred"),
    )
    return classification_summary(scored, "label", "pred")


_CLASS_SUMMARY_ORACLE = """
    WITH t AS (
        SELECT CAST(o_orderstatus AS VARCHAR) AS label,
               CASE WHEN CAST(o_totalprice AS DOUBLE) < 100000.0
                        THEN 'F'
                    WHEN CAST(o_totalprice AS DOUBLE) < 200000.0
                        THEN 'O'
                    ELSE 'P' END AS pred
        FROM orders
        WHERE o_orderstatus IS NOT NULL AND o_totalprice IS NOT NULL
    ),
    e AS (
        SELECT label AS class, 1 AS _t, 0 AS _p,
               CASE WHEN label = pred THEN 1 ELSE 0 END AS _tp
        FROM t
        UNION ALL
        SELECT pred AS class, 0 AS _t, 1 AS _p, 0 AS _tp FROM t
    ),
    a AS (
        SELECT class,
               CAST(SUM(_t) AS BIGINT) AS n_true,
               CAST(SUM(_p) AS BIGINT) AS n_pred,
               CAST(SUM(_tp) AS BIGINT) AS tp
        FROM e GROUP BY class
    ),
    p AS (
        SELECT class, n_true, n_pred, tp,
               ROUND(CASE WHEN n_pred > 0
                     THEN CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE)
                     END, 9) AS prec,
               ROUND(CASE WHEN n_true > 0
                     THEN CAST(tp AS DOUBLE) / CAST(n_true AS DOUBLE)
                     END, 9) AS rec,
               ROUND(CASE WHEN 2 * tp + (n_pred - tp) + (n_true - tp) > 0
                     THEN (2.0 * CAST(tp AS DOUBLE))
                          / CAST(2 * tp + (n_pred - tp) + (n_true - tp)
                                 AS DOUBLE)
                     END, 9) AS f1c
        FROM a
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
               CAST(SUM(n_true) AS BIGINT) AS support,
               CAST(SUM(tp) AS BIGINT) AS sum_tp,
               list_reduce(list_prepend(0.0, list_sort(
                   list(COALESCE(prec, 0.0)))), (acc, x) -> acc + x)
                   AS mp,
               list_reduce(list_prepend(0.0, list_sort(
                   list(COALESCE(rec, 0.0)))), (acc, x) -> acc + x)
                   AS mr,
               list_reduce(list_prepend(0.0, list_sort(
                   list(COALESCE(f1c, 0.0)))), (acc, x) -> acc + x)
                   AS mf,
               list_reduce(list_prepend(0.0, list_sort(
                   list(CAST(n_true AS DOUBLE) * COALESCE(prec, 0.0)))),
                   (acc, x) -> acc + x) AS wp,
               list_reduce(list_prepend(0.0, list_sort(
                   list(CAST(n_true AS DOUBLE) * COALESCE(rec, 0.0)))),
                   (acc, x) -> acc + x) AS wr,
               list_reduce(list_prepend(0.0, list_sort(
                   list(CAST(n_true AS DOUBLE) * COALESCE(f1c, 0.0)))),
                   (acc, x) -> acc + x) AS wf
        FROM p
    )
    SELECT 'macro' AS avg_mode, n_classes, support,
           ROUND(mp / CAST(n_classes AS DOUBLE), 9) AS "precision",
           ROUND(mr / CAST(n_classes AS DOUBLE), 9) AS recall,
           ROUND(mf / CAST(n_classes AS DOUBLE), 9) AS f1
    FROM s
    UNION ALL
    SELECT 'micro', n_classes, support,
           ROUND(CAST(sum_tp AS DOUBLE) / CAST(support AS DOUBLE), 9),
           ROUND(CAST(sum_tp AS DOUBLE) / CAST(support AS DOUBLE), 9),
           ROUND(CAST(sum_tp AS DOUBLE) / CAST(support AS DOUBLE), 9)
    FROM s
    UNION ALL
    SELECT 'weighted', n_classes, support,
           ROUND(wp / CAST(support AS DOUBLE), 9),
           ROUND(wr / CAST(support AS DOUBLE), 9),
           ROUND(wf / CAST(support AS DOUBLE), 9)
    FROM s
    ORDER BY avg_mode
"""


def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct l-diversity violation histogram (operators/
    curation.py::l_diversity_report) at l=4: equivalence classes on
    (nation, acctbal hundred-bucket) audited for how many DISTINCT
    market segments each contains — the homogeneity-attack gate
    k-anonymity alone misses (a big class whose members all share one
    sensitive value re-identifies the attribute). The 100-wide bucket
    keeps classes small enough that violations exist at the sweep SF
    too (width 1000 is already 4-diverse at sf0.1), and keeps the
    floor-edge argument: the quotient lands on an integer only at
    exact multiples of 100 — exactly representable on both engines.
    ≤ 4 rows whatever the volume; empty ⇔ 4-diverse."""
    from h3_indexer_spark.operators.curation import l_diversity_report

    cust = load(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.floor(F.col("c_acctbal").cast("double") / F.lit(100.0))
        .cast("bigint")
        .alias("bal_bucket"),
        "c_mktsegment",
    )
    return l_diversity_report(
        cust, ["c_nationkey", "bal_bucket"], "c_mktsegment", l_min=4
    )


_L_DIVERSITY_ORACLE = """
    WITH q AS (
        SELECT c_nationkey,
               CAST(FLOOR(CAST(c_acctbal AS DOUBLE) / 100.0) AS BIGINT)
                   AS bal_bucket,
               c_mktsegment
        FROM customer
    ),
    g AS (
        SELECT c_nationkey, bal_bucket,
               CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS d,
               CAST(COUNT(*) AS BIGINT) AS sz
        FROM q GROUP BY 1, 2
    )
    SELECT d AS n_distinct_sensitive,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(sz) AS BIGINT) AS n_rows
    FROM g
    WHERE d < 4
    GROUP BY d
    ORDER BY d
"""


QUERIES["q_seq_patterns_full"] = q_seq_patterns_full
QUERIES["q_fisher_exact"] = q_fisher_exact
QUERIES["q_k_anon_generalize"] = q_k_anon_generalize
QUERIES["q_class_report_summary"] = q_class_report_summary
QUERIES["q_l_diversity"] = q_l_diversity
ORACLES["q_seq_patterns_full"] = _SEQ_PATTERNS_FULL_ORACLE
ORACLES["q_fisher_exact"] = _FISHER_ORACLE
ORACLES["q_k_anon_generalize"] = _K_ANON_GENERALIZE_ORACLE
ORACLES["q_class_report_summary"] = _CLASS_SUMMARY_ORACLE
ORACLES["q_l_diversity"] = _L_DIVERSITY_ORACLE


# ---------------------------------------------------------------------------
# Round-12 debuts: t-closeness (completing the k/l/t privacy trio),
# the Cochran-Armitage trend test (ordered-contingency sibling of
# Fisher's exact), and macro/weighted/micro one-vs-rest ROC AUC.
# ---------------------------------------------------------------------------


def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-EMD t-closeness violation histogram (operators/
    curation.py::t_closeness_report) — the skew gate completing the
    k/l/t privacy trio beside q_k_anonymity and q_l_diversity:
    equivalence classes on (nation, market segment) are audited for
    how far each class's account-balance BAND distribution (ordered
    2000-wide bands, the sensitive attribute) drifts from the global
    one, EMD computed as an exact-BIGINT prefix-sum fold with ONE
    IEEE division per class. t=0.02 is deliberately tight so the
    histogram is populated at sf0.01 AND sf0.1 (the q_l_diversity
    sweep lesson: a gate that collapses to empty at 10x the data
    hash-checks nothing). The 2000-wide band keeps the floor edge
    exact: the quotient lands on an integer only at exact multiples
    of 2000.00, representable on both engines. <= 20 rows at any
    volume."""
    from h3_indexer_spark.operators.curation import t_closeness_report

    cust = (
        load(spark, sf_dir, "customer")
        .where(F.col("c_acctbal").isNotNull())
        .select(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal").cast("double") / F.lit(2000.0))
            .cast("bigint")
            .alias("bal_band"),
        )
    )
    return t_closeness_report(
        cust,
        ["c_nationkey", "c_mktsegment"],
        "bal_band",
        t_max=0.02,
        n_buckets=20,
    )


_T_CLOSENESS_ORACLE = """
    WITH q AS (
        SELECT c_nationkey AS qn, c_mktsegment AS qs,
               CAST(FLOOR(CAST(c_acctbal AS DOUBLE) / 2000.0) AS BIGINT)
                   AS sv
        FROM customer
        WHERE c_acctbal IS NOT NULL
    ),
    pairs AS (
        SELECT qn, qs, sv, CAST(COUNT(*) AS BIGINT) AS c
        FROM q GROUP BY 1, 2, 3
    ),
    cls AS (
        SELECT qn, qs, CAST(SUM(c) AS BIGINT) AS n FROM pairs GROUP BY 1, 2
    ),
    gcat AS (
        SELECT sv, CAST(SUM(c) AS BIGINT) AS g FROM pairs GROUP BY 1
    ),
    tot AS (
        SELECT CAST(SUM(g) AS BIGINT) AS bign,
               CAST(COUNT(*) AS BIGINT) AS m
        FROM gcat
    ),
    dens AS (
        SELECT cls.qn, cls.qs, cls.n, gcat.sv, gcat.g,
               CAST(COALESCE(p.c, 0) AS BIGINT) AS c
        FROM cls CROSS JOIN gcat
        LEFT JOIN pairs p
               ON p.qn = cls.qn AND p.qs = cls.qs AND p.sv = gcat.sv
    ),
    pref AS (
        SELECT qn, qs, n,
               CAST(SUM(c * (SELECT bign FROM tot) - g * n) OVER (
                   PARTITION BY qn, qs ORDER BY sv
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS s
        FROM dens
    ),
    emds AS (
        SELECT qn, qs, n,
               CAST(SUM(ABS(s)) AS DOUBLE)
                   / CAST(n * (SELECT bign FROM tot)
                          * ((SELECT m FROM tot) - 1) AS DOUBLE) AS emd
        FROM pref
        WHERE (SELECT m FROM tot) > 1
        GROUP BY qn, qs, n
    )
    SELECT CAST(LEAST(FLOOR(emd * 20.0), 19) AS BIGINT) AS t_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           ROUND(MIN(emd), 9) AS min_emd,
           ROUND(MAX(emd), 9) AS max_emd
    FROM emds
    WHERE emd > 0.02
    GROUP BY 1
    ORDER BY 1
"""


def q_trend_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped Cochran-Armitage trend test (operators/analytics.py::
    cochran_armitage_trend): per return flag, does the rate of
    deep-discounted line items (discount > 0.05) TREND across
    quantity bands (0..4, ten units wide) — the volume-discount
    question an unordered chi-square dilutes over 4 degrees of
    freedom. The z-squared statistic is assembled from exact-BIGINT
    partials with the cancellation-prone differences d1 = N*A - R*B
    and d2 = N*C - B*B computed in integers BEFORE any float; the
    final readout is four IEEE products and one division, ROUND 9,
    with the exact trend direction as sign(d1)."""
    from h3_indexer_spark.operators.analytics import (
        cochran_armitage_trend,
    )

    li = (
        load(spark, sf_dir, "lineitem")
        .where(
            F.col("l_discount").isNotNull()
            & F.col("l_quantity").isNotNull()
        )
        .select(
            "l_returnflag",
            (F.col("l_discount").cast("double") > F.lit(0.05)).alias(
                "deep_disc"
            ),
            F.floor(
                (F.col("l_quantity").cast("double") - F.lit(1.0))
                / F.lit(10.0)
            )
            .cast("bigint")
            .alias("qty_band"),
        )
    )
    return cochran_armitage_trend(
        li, ["l_returnflag"], "deep_disc", "qty_band"
    )


_TREND_TEST_ORACLE = """
    WITH b AS (
        SELECT l_returnflag,
               CASE WHEN CAST(l_discount AS DOUBLE) > 0.05
                    THEN 1 ELSE 0 END AS y,
               CAST(FLOOR((CAST(l_quantity AS DOUBLE) - 1.0) / 10.0)
                    AS BIGINT) AS s
        FROM lineitem
        WHERE l_discount IS NOT NULL AND l_quantity IS NOT NULL
    ),
    a AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS r1,
               CAST(SUM(s * y) AS BIGINT) AS sa,
               CAST(SUM(s) AS BIGINT) AS sb,
               CAST(SUM(s * s) AS BIGINT) AS sc,
               CAST(COUNT(DISTINCT s) AS BIGINT) AS m_levels,
               CAST(MIN(s) AS BIGINT) AS s_min,
               CAST(MAX(s) AS BIGINT) AS s_max
        FROM b GROUP BY l_returnflag
    ),
    d AS (
        SELECT l_returnflag, n, r1, m_levels, s_min, s_max,
               CAST(n * sa - r1 * sb AS BIGINT) AS d1,
               CAST(n * sc - sb * sb AS BIGINT) AS d2
        FROM a
    )
    SELECT l_returnflag, n, r1, m_levels, s_min, s_max, d1, d2,
           CAST(SIGN(d1) AS BIGINT) AS trend_sign,
           ROUND(CASE WHEN r1 > 0 AND r1 < n AND d2 > 0 THEN
               (CAST(n AS DOUBLE) * CAST(d1 AS DOUBLE)
                * CAST(d1 AS DOUBLE))
               / (CAST(r1 AS DOUBLE) * CAST(n - r1 AS DOUBLE)
                  * CAST(d2 AS DOUBLE))
           END, 9) AS z2
    FROM d
    ORDER BY l_returnflag
"""


def q_auc_ovr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Macro / weighted / micro one-vs-rest ROC AUC (operators/
    analytics.py::roc_auc_ovr_summary) grading three deterministic
    per-class price scorers of order status — 'F' scored by
    cheapness (200k - price), 'O' by closeness to 150k, 'P' by price
    itself — against the true o_orderstatus in the standard OvR
    reduction (one long row per order x class, label = 1 iff that IS
    the order's class). Per-class AUCs are exact-BIGINT rank sums
    (ONE division each); macro/weighted fold the ROUND-9 per-class
    values over SORTED term lists; micro is the POOLED exact rank-sum
    over all pairs — the family self-check (all three read 1.0 for a
    perfect scorer)."""
    from h3_indexer_spark.operators.analytics import roc_auc_ovr_summary

    orders = load(spark, sf_dir, "orders").where(
        F.col("o_orderstatus").isNotNull()
        & F.col("o_totalprice").isNotNull()
    )
    price = F.col("o_totalprice").cast("double")
    long = orders.select(
        F.col("o_orderstatus").alias("_st"),
        F.explode(
            F.array(
                F.struct(
                    F.lit("F").alias("cls"),
                    (F.lit(200000.0) - price).alias("score"),
                ),
                F.struct(
                    F.lit("O").alias("cls"),
                    (-F.abs(price - F.lit(150000.0))).alias("score"),
                ),
                F.struct(
                    F.lit("P").alias("cls"), price.alias("score")
                ),
            )
        ).alias("_e"),
    ).select(
        F.col("_e.cls").alias("cls"),
        F.col("_e.score").alias("score"),
        (F.col("_st") == F.col("_e.cls")).cast("int").alias("label"),
    )
    return roc_auc_ovr_summary(long, "cls", "score", "label")


_AUC_OVR_ORACLE = """
    WITH longf AS (
        SELECT 'F' AS cls, 200000.0 - CAST(o_totalprice AS DOUBLE)
                   AS score,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS label
        FROM orders
        WHERE o_orderstatus IS NOT NULL AND o_totalprice IS NOT NULL
        UNION ALL
        SELECT 'O', -ABS(CAST(o_totalprice AS DOUBLE) - 150000.0),
               CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END
        FROM orders
        WHERE o_orderstatus IS NOT NULL AND o_totalprice IS NOT NULL
        UNION ALL
        SELECT 'P', CAST(o_totalprice AS DOUBLE),
               CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END
        FROM orders
        WHERE o_orderstatus IS NOT NULL AND o_totalprice IS NOT NULL
    ),
    lv AS (
        SELECT cls, score AS s,
               CAST(COUNT(*) AS BIGINT) AS n_level,
               CAST(SUM(label) AS BIGINT) AS n_pos_level
        FROM longf GROUP BY cls, score
    ),
    c AS (
        SELECT cls, n_level, n_pos_level,
               CAST(SUM(n_level) OVER (
                   PARTITION BY cls ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) - n_level + 1 AS BIGINT) AS first_rank
        FROM lv
    ),
    per AS (
        SELECT cls,
               CAST(SUM(n_pos_level) AS BIGINT) AS n_pos,
               CAST(SUM(n_level - n_pos_level) AS BIGINT) AS n_neg,
               CAST(SUM(n_pos_level * (2 * first_rank + n_level - 1))
                    AS BIGINT) AS sum_r2_pos
        FROM c GROUP BY cls
    ),
    pa AS (
        SELECT cls, n_pos, n_neg,
               ROUND(CASE WHEN n_pos > 0 AND n_neg > 0
                     THEN CAST(sum_r2_pos - n_pos * (n_pos + 1)
                               AS DOUBLE)
                          / CAST(2 * n_pos * n_neg AS DOUBLE)
                     END, 9) AS auc
        FROM per
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
               CAST(SUM(CASE WHEN auc IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_defined,
               CAST(SUM(CASE WHEN auc IS NOT NULL THEN n_pos ELSE 0 END)
                    AS BIGINT) AS def_support,
               list_reduce(list_prepend(0.0, list_sort(
                   list(auc) FILTER (WHERE auc IS NOT NULL))),
                   (acc, x) -> acc + x) AS msum,
               list_reduce(list_prepend(0.0, list_sort(
                   list(CAST(n_pos AS DOUBLE) * auc)
                       FILTER (WHERE auc IS NOT NULL))),
                   (acc, x) -> acc + x) AS wsum
        FROM pa
    ),
    plv AS (
        SELECT score AS s,
               CAST(COUNT(*) AS BIGINT) AS n_level,
               CAST(SUM(label) AS BIGINT) AS n_pos_level
        FROM longf GROUP BY score
    ),
    pc AS (
        SELECT n_level, n_pos_level,
               CAST(SUM(n_level) OVER (
                   ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) - n_level + 1 AS BIGINT) AS first_rank
        FROM plv
    ),
    pool AS (
        SELECT CAST(SUM(n_pos_level) AS BIGINT) AS pool_pos,
               CAST(SUM(n_level - n_pos_level) AS BIGINT) AS pool_neg,
               CAST(SUM(n_pos_level * (2 * first_rank + n_level - 1))
                    AS BIGINT) AS pool_r2
        FROM pc
    )
    SELECT 'macro' AS avg_mode, n_classes, n_defined,
           def_support AS support,
           ROUND(CASE WHEN n_defined > 0
                 THEN msum / CAST(n_defined AS DOUBLE) END, 9) AS auc
    FROM s
    UNION ALL
    SELECT 'micro', n_classes, n_defined, pool_pos,
           ROUND(CASE WHEN n_defined > 0
                      AND pool_pos > 0 AND pool_neg > 0
                 THEN CAST(pool_r2 - pool_pos * (pool_pos + 1)
                           AS DOUBLE)
                      / CAST(2 * pool_pos * pool_neg AS DOUBLE)
                 END, 9)
    FROM s, pool
    UNION ALL
    SELECT 'weighted', n_classes, n_defined, def_support,
           ROUND(CASE WHEN n_defined > 0
                 THEN wsum / CAST(def_support AS DOUBLE) END, 9)
    FROM s
    ORDER BY avg_mode
"""


QUERIES["q_t_closeness"] = q_t_closeness
QUERIES["q_trend_test"] = q_trend_test
QUERIES["q_auc_ovr"] = q_auc_ovr
ORACLES["q_t_closeness"] = _T_CLOSENESS_ORACLE
ORACLES["q_trend_test"] = _TREND_TEST_ORACLE
ORACLES["q_auc_ovr"] = _AUC_OVR_ORACLE
