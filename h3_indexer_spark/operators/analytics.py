"""Product/behavioral analytics over event streams: funnels, cohort
retention, heavy hitters, time-series gap-fill.

These extend the engine beyond the reference's geospatial scope (the
reference has no event-analytics surface; its only temporal handling is
the job-status timestamps in /root/reference/src/h3_indexer/config.py)
into the session/event analyses a large-scale behavioral dataset needs.
Every operator is a pure DataFrame composition — no Python in the hot
path — and every aggregation is partial-agg friendly (map-side combine
before the shuffle).

Scale posture, per operator, is documented in each docstring; the
shared principles:

- All shuffles key on the entity id (``user_id``) or on low-cardinality
  derived keys (cohort, period) — never on unbounded composites.
- Sequential-stage logic (funnels) uses per-stage filtered aggregates
  joined on the entity id: S-1 equi-joins whose inputs shrink
  monotonically (stage k's table only contains users who reached
  k-1). The alternative single-shuffle sorted-array fold keeps state
  per user in one array; at 100 TB the join form wins because each
  stage's filter pushes to the scan and the join sides are
  user-cardinality, not event-cardinality.
- Time bucketing is integer arithmetic on epoch-nano longs (``ts div
  period``), which both Spark and an external SQL engine compute
  identically — no timezone or calendar dependence.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

DAY_NS = 86_400 * 10**9
WEEK_NS = 7 * DAY_NS


def funnel(
    events: DataFrame,
    stages: list[str],
    id_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered conversion funnel: for each entity, the first time each
    stage was completed, where stage k must occur STRICTLY AFTER that
    entity's stage k-1 completion (the classic product-analytics
    semantics — a purchase before the first click does not count as a
    post-click purchase).

    Output: one row per entity that completed stage 0, with columns
    ``t_0 .. t_{S-1}`` (epoch-nano longs, null once the chain breaks)
    and ``stages_reached``.

    Scale: ONE scan of the events filtered to the stage types, ONE
    entity-keyed shuffle, and the whole min-chain as S chained
    unbounded window aggregates over that single partitioning —
    chained windows with the same partition key share one exchange
    (no per-stage re-scan, no frontier joins; the former shape
    scanned the events once per stage and ran S−1 equi-joins). The
    final per-entity collapse groups on the SAME key, so it adds no
    exchange either. Null entity ids keep the join-era semantics
    (t_0 from their own group, every later stage null — an equi-join
    on a null key never matched)."""
    if len(stages) < 2:
        raise ValueError("funnel needs at least 2 stages")
    ts = F.col(ts_col)
    w = Window.partitionBy(id_col)
    cur = events.where(F.col(type_col).isin(stages)).select(
        id_col, type_col, ts_col
    )
    cur = cur.withColumn(
        "t_0", F.min(F.when(F.col(type_col) == stages[0], ts)).over(w)
    )
    for k, stage in enumerate(stages[1:], start=1):
        nxt_min = F.min(
            F.when(
                (F.col(type_col) == stage) & (ts > F.col(f"t_{k - 1}")),
                ts,
            )
        ).over(w)
        cur = cur.withColumn(
            f"t_{k}",
            F.when(F.col(id_col).isNotNull(), nxt_min),
        )
    t_cols = [f"t_{k}" for k in range(len(stages))]
    out = (
        cur.where(F.col("t_0").isNotNull())
        .groupBy(id_col)
        .agg(*[F.min(c).alias(c) for c in t_cols])
    )
    reached = sum(
        (F.col(f"t_{k}").isNotNull().cast("long") for k in range(len(stages))),
        F.lit(0),
    )
    return out.withColumn("stages_reached", reached)


def cohort_retention(
    events: DataFrame,
    id_col: str = "user_id",
    ts_col: str = "ts",
    period_ns: int = WEEK_NS,
) -> DataFrame:
    """Cohort retention matrix: entities are grouped into cohorts by
    the period of their FIRST event; for every (cohort, period-offset)
    cell, count the distinct entities active in that period.

    ``cohort_period`` is the integer epoch-period of the first event
    (``first_ts div period_ns``); ``period_offset`` is whole periods
    elapsed since that first event. Output: (cohort_period,
    period_offset, n_active) — the standard retention triangle.

    Scale: one groupBy on ``id_col`` to find first-touch (partial
    min), one equi-join of events back to that entity-cardinality
    table on ``id_col``, then a COUNT(DISTINCT id) over the tiny
    (cohort × offset) key space — Spark plans the distinct as a
    two-level partial aggregate, so the final shuffle carries only
    (cohort, offset, id) triples already deduplicated map-side."""
    ts = F.col(ts_col)
    firsts = events.groupBy(id_col).agg(F.min(ts).alias("_first_ts"))
    return (
        events.select(id_col, ts_col)
        .join(firsts, id_col)
        .select(
            F.col(id_col),
            F.expr(f"_first_ts div {period_ns}").alias("cohort_period"),
            F.expr(f"({ts_col} - _first_ts) div {period_ns}").alias(
                "period_offset"
            ),
        )
        .groupBy("cohort_period", "period_offset")
        .agg(F.countDistinct(id_col).alias("n_active"))
    )


def frequent_items(
    df: DataFrame,
    group_col: str,
    item_col: str,
    k: int = 3,
) -> DataFrame:
    """Exact per-group heavy hitters: the top-``k`` most frequent
    ``item_col`` values within each ``group_col``, deterministically
    tie-broken (count desc, then item asc). Output: (group, item,
    n_occurrences, rnk).

    Scale: counting is a two-key groupBy with map-side partial
    aggregation — the shuffle carries (group, item) partial counts,
    not rows. The rank window then partitions by ``group_col`` alone;
    its input is already collapsed to distinct (group, item) pairs, so
    window state is bounded by per-group item cardinality, not event
    count. For item cardinalities too large for that window at 100 TB,
    cap candidates first with a per-partition top-k (the same
    count-then-rank applied within partitions) — exactness is kept by
    re-merging, or traded for a count-min sketch when approximate
    counts suffice."""
    counts = df.groupBy(group_col, item_col).agg(
        F.count(F.lit(1)).alias("n_occurrences")
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("n_occurrences").desc(), F.col(item_col).asc()
    )
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(
            group_col,
            item_col,
            "n_occurrences",
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


def gap_fill_daily(
    events: DataFrame,
    id_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Regularize an irregular event stream onto a dense daily grid per
    entity: one row for EVERY day between the entity's first and last
    event, with that day's event count (0 on gap days) and the
    forward-filled last observed daily value sum.

    Output: (id, day, n_events, sum_value_ffill) where ``day`` is the
    integer epoch-day and ``sum_value_ffill`` carries the most recent
    non-null daily sum across gaps. A day whose events all carry null
    values has no observed sum — it inherits the previous one like a
    gap day, and leading all-null days yield null until the first
    day with an observed value.

    Scale: events first collapse to (id, day) daily aggregates — the
    only event-cardinality shuffle. The grid explode is bounded by
    each entity's day span (a sequence of ints, generated JVM-side),
    the grid join is co-keyed on (id, day), and the forward-fill
    window partitions by entity ordered by day with running-frame
    state of exactly one value. Dense-grid size = Σ spans, linear in
    entities × horizon, independent of event count."""
    day = F.expr(f"{ts_col} div {DAY_NS}").alias("day")
    daily = (
        events.select(id_col, day, value_col)
        .groupBy(id_col, "day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col(value_col).cast("decimal(18,6)")).alias("_sum_dec"),
        )
    )
    grid = (
        daily.groupBy(id_col)
        .agg(F.min("day").alias("_d0"), F.max("day").alias("_d1"))
        .select(
            id_col,
            F.explode(F.sequence(F.col("_d0"), F.col("_d1"))).alias("day"),
        )
    )
    w = (
        Window.partitionBy(id_col)
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(daily, [id_col, "day"], "left")
        .select(
            id_col,
            "day",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.last(F.col("_sum_dec"), ignorenulls=True)
            .over(w)
            .cast("double")
            .alias("sum_value_ffill"),
        )
    )


def attribute_conversions(
    events: DataFrame,
    conversion_type: str,
    touch_types: list[str],
    id_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_tiebreak: str = "event_id",
) -> DataFrame:
    """Last-touch attribution: for every conversion event, the most
    recent preceding touch event (click/view/campaign interaction) by
    the same entity — the marketing-attribution primitive, and the
    carry-forward sibling of the as-of join when both streams live in
    one table.

    ONE window pass, no join: events sort per entity on (ts, tiebreak)
    and two IGNORE NULLS ``last`` expressions over the
    unbounded-preceding-to-1-preceding frame carry the latest touch's
    time and type forward onto each row; conversion rows are then
    filtered out with their attribution attached (nulls = organic
    conversion, no prior touch). Both expressions read the same frame,
    so they always describe the same touch row. Window state is one
    (ts, type) pair per cursor — flat memory at any history length.
    Preceding means earlier in the (ts, tiebreak) total order; a touch
    sharing a conversion's exact timestamp attributes only if its
    tiebreak orders first."""
    w = (
        Window.partitionBy(id_col)
        .orderBy(F.col(ts_col).asc(), F.col(order_tiebreak).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col(type_col).isin(touch_types)
    touch_ts = F.last(
        F.when(is_touch, F.col(ts_col)), ignorenulls=True
    ).over(w)
    touch_type = F.last(
        F.when(is_touch, F.col(type_col)), ignorenulls=True
    ).over(w)
    return (
        events.select(
            order_tiebreak,
            id_col,
            ts_col,
            type_col,
            touch_ts.alias("touch_ts"),
            touch_type.alias("touch_type"),
        )
        .where(F.col(type_col) == conversion_type)
        .select(
            order_tiebreak,
            id_col,
            F.col(ts_col).alias("conv_ts"),
            "touch_ts",
            "touch_type",
            (F.col(ts_col) - F.col("touch_ts")).alias("lag_ns"),
        )
    )


def inter_event_stats(
    events: DataFrame,
    id_col: str = "user_id",
    ts_col: str = "ts",
    order_tiebreak: str = "event_id",
) -> DataFrame:
    """Per-entity inter-arrival statistics: event count and the
    min/max/mean gap between consecutive events (epoch-nano longs) —
    the cadence signal behind churn scoring and bot detection
    (near-zero uniform gaps) and the input to sessionization threshold
    tuning.

    ONE window pass (lag over the per-entity (ts, tiebreak) order)
    fused with the groupBy that follows — both key on ``id_col``, so
    Catalyst reuses the single hash exchange. Gap aggregates are
    integer min/max/sum; the mean divides exact longs in double at the
    end, so results are bit-deterministic. Entities with one event get
    n_events=1 and null gaps."""
    w = Window.partitionBy(id_col).orderBy(
        F.col(ts_col).asc(), F.col(order_tiebreak).asc()
    )
    gap = F.col(ts_col) - F.lag(ts_col).over(w)
    return (
        events.select(id_col, F.col(ts_col), F.col(order_tiebreak))
        .withColumn("_gap", gap)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("_gap").alias("min_gap_ns"),
            F.max("_gap").alias("max_gap_ns"),
            (
                F.sum("_gap").cast("double") / F.count("_gap").cast("double")
            ).alias("mean_gap_ns"),
        )
    )


HOUR_NS = 3_600 * 10**9


def time_rollup(
    events: DataFrame,
    value_col: str = "value",
    ts_col: str = "ts",
) -> DataFrame:
    """Multi-grain time rollup in ONE scan: event counts and exact
    value sums at hour, day, and week grains simultaneously via
    GROUPING SETS — the OLAP time-hierarchy aggregation that would
    otherwise cost three passes. Output: (grain, bucket_start_ns,
    n_events, sum_value).

    GROUPING SETS (the native DataFrame groupingSets API — no SQL, no
    temp views, no session state) plans as a single scan + Expand(3) +
    one hash
    aggregate: each input row contributes one row per grain before the
    partial aggregation collapses them map-side, so the shuffle
    carries at most (distinct buckets × grains) rows — time-bucket
    cardinality, not event cardinality. Buckets are integer epoch-nano
    truncations (no calendar/timezone dependence); sums are
    DECIMAL-exact then cast."""
    df = events.select(
        F.expr(f"{ts_col} div {HOUR_NS}").alias("_h"),
        F.expr(f"{ts_col} div {DAY_NS}").alias("_d"),
        F.expr(f"{ts_col} div {WEEK_NS}").alias("_w"),
        F.col(value_col).cast("decimal(19,4)").alias("_v"),
    )
    agg = df.groupingSets(
        [["_h"], ["_d"], ["_w"]], "_h", "_d", "_w"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("_v").cast("double").alias("sum_value"),
        F.grouping("_h").alias("_gh"),
        F.grouping("_d").alias("_gd"),
    )
    grain = (
        F.when(F.col("_gh") == 0, F.lit("hour"))
        .when(F.col("_gd") == 0, F.lit("day"))
        .otherwise(F.lit("week"))
    )
    bucket = (
        F.when(F.col("_gh") == 0, F.col("_h") * F.lit(HOUR_NS))
        .when(F.col("_gd") == 0, F.col("_d") * F.lit(DAY_NS))
        .otherwise(F.col("_w") * F.lit(WEEK_NS))
    )
    return agg.select(
        grain.alias("grain"),
        bucket.alias("bucket_start_ns"),
        "n_events",
        "sum_value",
    )


def co_occurrence(
    df: DataFrame,
    id_col: str = "user_id",
    item_col: str = "event_type",
) -> DataFrame:
    """Item co-occurrence with lift: for every unordered item pair,
    the number of entities exhibiting BOTH, and the lift
    support·N / (count_a·count_b) — the association-mining primitive
    (market-basket affinity, event-type correlation). Output:
    (item_a, item_b, n_both, lift) with item_a < item_b and lift an
    exact-integer-ratio double.

    Null contract: rows with a NULL entity id or NULL item are
    excluded up front — marginals and the entity census count
    non-null entities only (a null entity can never contribute pair
    support, so pair rows and lifts are unaffected either way).

    Scale: entities first collapse to DISTINCT (entity, item) pairs
    (map-side partial distinct); the pair build self-joins that table
    on the entity key, so per-entity work is |item-set|² — bounded by
    the item vocabulary, not event count, exactly like the n-gram
    inverted-index dedup. For web-scale item vocabularies, cap hot
    entities (max items per entity) or hot items (max_df) first; the
    marginals table is item-cardinality and broadcasts. The lazy plan
    recomputes the distinct-pairs subquery per reference (Catalyst
    does not reuse exchanges across re-aliased subplans); in a
    production pipeline persist or materialize that one
    entity×item table first and every downstream branch reads it —
    the plans/indexer.py cache-at-stage-boundary posture."""
    # the explicit non-null filter keeps all four references to the
    # distinct entity-item table canonically identical (the pair
    # self-join otherwise infers isnotnull(id) below the distinct on
    # its two branches only, and the collapse builds twice). Note the
    # marginals therefore count non-null entities only — a null
    # entity id could never contribute to pair support anyway.
    pairs_src = (
        df.select(id_col, item_col)
        .where(F.col(id_col).isNotNull() & F.col(item_col).isNotNull())
        .distinct()
    )
    # entity total as a 1-row lazy aggregate crossJoined back (keeps
    # the operator action-free; no driver-side count)
    n_df = pairs_src.agg(
        F.countDistinct(id_col).cast("double").alias("_n_entities")
    )
    marg = pairs_src.groupBy(item_col).agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    a = pairs_src.select(
        F.col(id_col).alias("_id"), F.col(item_col).alias("item_a")
    )
    b = pairs_src.select(
        F.col(id_col).alias("_id"), F.col(item_col).alias("item_b")
    )
    both = (
        a.join(b, "_id")
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    ma = marg.select(
        F.col(item_col).alias("item_a"), F.col("_cnt").alias("_ca")
    )
    mb = marg.select(
        F.col(item_col).alias("item_b"), F.col("_cnt").alias("_cb")
    )
    return (
        both.join(F.broadcast(ma), "item_a")
        .join(F.broadcast(mb), "item_b")
        .crossJoin(F.broadcast(n_df))
        .select(
            "item_a",
            "item_b",
            "n_both",
            (
                F.col("n_both").cast("double") * F.col("_n_entities")
                / (F.col("_ca").cast("double") * F.col("_cb").cast("double"))
            ).alias("lift"),
        )
    )


def frequent_items_scalable(
    df: DataFrame,
    group_col: str,
    item_col: str,
    k: int = 3,
    candidates_per_partition: int = 64,
) -> DataFrame:
    """Scale path of :func:`frequent_items` for item vocabularies too
    large for an exact per-group rank window: per-partition candidate
    generation + exact recount, with a per-group CERTIFICATION bound
    instead of silent approximation.

    Phase 1 (one narrow mapInPandas, no shuffle): each partition
    emits its local top ``candidates_per_partition`` items per group,
    plus ONE bound row per (partition, group) carrying the largest
    count an item NOT surfaced from that partition could have (its
    local rank-m count — the SpaceSaving residual). Phase 2: the
    candidate union is exactly recounted with a broadcast semi-join
    (only candidate rows aggregate), ranked, and each group carries
    ``max_missed`` = Σ over partitions of the residual bound. A
    returned row is PROVABLY in the true top-k when its exact count
    exceeds ``max_missed`` — the ``certified`` column says so
    row-by-row, so callers never mistake approximate output for exact
    (the same no-silent-caps posture as the LSH near-dup paths).

    State per partition is ``groups × candidates`` counters; raise
    ``candidates_per_partition`` to shrink the bound (it falls as
    n_partition/m). Output: (group, item, n_occurrences, rnk,
    max_missed, certified).

    Null groups/items are EXCLUDED up front (null item doubles as the
    bound-row sentinel, and a null key would silently vanish inside
    the pandas groupby and the recount equi-join, poisoning the
    certification) — coalesce nulls to a sentinel value first if they
    are meaningful; the exact :func:`frequent_items` twin counts them
    natively."""
    import pandas as pd

    g_type = df.schema[group_col].dataType.simpleString()
    i_type = df.schema[item_col].dataType.simpleString()
    src = df.select(group_col, item_col).where(
        F.col(group_col).isNotNull() & F.col(item_col).isNotNull()
    )

    def local_tops(batches):
        acc: dict = {}
        for pdf in batches:
            for (g, it), c in (
                pdf.groupby([group_col, item_col], sort=False)
                .size()
                .items()
            ):
                key = (g, it)
                acc[key] = acc.get(key, 0) + int(c)
        by_group: dict = {}
        for (g, it), c in acc.items():
            by_group.setdefault(g, []).append((c, it))
        rows = []
        for g, pairs in by_group.items():
            pairs.sort(key=lambda p: (-p[0], str(p[1])))
            kept = pairs[:candidates_per_partition]
            for c, it in kept:
                rows.append((g, it, 0))
            # one bound row per (partition, group): an unreported
            # item's count here is at most the rank-m count
            bound = kept[-1][0] if len(pairs) > len(kept) else 0
            rows.append((g, None, bound))
        yield pd.DataFrame(
            rows, columns=[group_col, item_col, "_bound"]
        )

    cand = src.mapInPandas(
        local_tops,
        schema=f"{group_col} {g_type}, {item_col} {i_type}, _bound long",
    )
    per_group_bound = (
        cand.where(F.col(item_col).isNull())
        .groupBy(group_col)
        .agg(F.sum("_bound").alias("max_missed"))
    )
    cand_items = (
        cand.where(F.col(item_col).isNotNull())
        .select(group_col, item_col)
        .distinct()
    )
    exact = (
        src.join(F.broadcast(cand_items), [group_col, item_col], "semi")
        .groupBy(group_col, item_col)
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("n_occurrences").desc(), F.col(item_col).asc()
    )
    return (
        exact.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .join(F.broadcast(per_group_bound), group_col)
        .select(
            group_col,
            item_col,
            "n_occurrences",
            F.col("rnk").cast("bigint").alias("rnk"),
            "max_missed",
            (F.col("n_occurrences") > F.col("max_missed")).alias(
                "certified"
            ),
        )
    )


def rolling_active_users(
    events: DataFrame,
    id_col: str = "user_id",
    ts_col: str = "ts",
    window_days: int = 7,
) -> DataFrame:
    """Rolling distinct-actives (the DAU/WAU/MAU family): for every
    day with data, the number of DISTINCT entities active in the
    trailing ``window_days`` (inclusive of that day). Output:
    (day, n_active_today, n_active_window).

    Null contract: rows with a NULL entity id or NULL timestamp are
    excluded up front — both readouts count non-null entities on
    non-null days only (countDistinct ignored nulls anyway, so no
    output row changes; the filter is declared, not incidental).

    Distinct-over-sliding-window cannot partial-aggregate as a window
    function (distinct state is not mergeable across frame slides), so
    the scalable formulation materializes (entity, day) once —
    event-cardinality collapse, the only big shuffle — then CONTRIBUTES
    each entity-day to the ``window_days`` window positions it is
    visible from (a bounded sequence explode, ×7 for WAU) and
    re-distincts per window day. Shuffle volume is entities × active
    days × window, independent of raw event count; the same shape at
    any scale, with no per-day full-history rescans."""
    if window_days < 1:
        raise ValueError(f"window_days must be >= 1: {window_days}")
    day = F.expr(f"{ts_col} div {DAY_NS}")
    # the final inner join on the day key drops a null day from the
    # output anyway (and explode(sequence(null..)) emits nothing), so
    # the filter changes no result row — but making it EXPLICIT keeps
    # the two consumers of the distinct (today's aggregate, which
    # receives the join's inferred isnotnull(_day) pushed below the
    # distinct, and the window contributor, which does not) canonically
    # identical, so the entity-day collapse runs once, not twice
    # null entities are excluded up front: countDistinct ignored them
    # in both readouts anyway, and the explicit filter lets `today`
    # use a plain count over the already-distinct set (below)
    ed = (
        events.select(F.col(id_col).alias("_id"), day.alias("_day"))
        .where(F.col("_day").isNotNull() & F.col("_id").isNotNull())
        .distinct()
    )
    # count(1), not countDistinct(_id): ed is already the DISTINCT
    # (entity, day) set, so the plain count is the same number — and
    # countDistinct's two-phase rewrite re-keyed this branch's
    # aggregate as (_day, _id), which hash-partitions differently
    # from the (_id, _day) distinct exchange the window branch uses,
    # so the entity-day collapse ran twice (measured)
    today = ed.groupBy("_day").agg(
        F.count(F.lit(1)).alias("n_active_today")
    )
    contrib = ed.select(
        "_id",
        F.explode(
            F.sequence(
                F.col("_day"), F.col("_day") + F.lit(window_days - 1)
            )
        ).alias("_wday"),
    )
    windowed = contrib.groupBy("_wday").agg(
        F.countDistinct("_id").alias("n_active_window")
    )
    # only report days that actually have data (window positions past
    # the last active day are phantom)
    return (
        today.join(
            windowed, today["_day"] == windowed["_wday"]
        )
        .select(
            F.col("_day").alias("day"),
            "n_active_today",
            "n_active_window",
        )
    )


def growth_accounting(
    events: DataFrame,
    id_col: str = "user_id",
    ts_col: str = "ts",
    period_ns: int = WEEK_NS,
) -> DataFrame:
    """Growth accounting: for every period, how many active entities
    are NEW (first period ever), RETAINED (also active the previous
    period), or RESURRECTED (active before, but not the previous
    period) — plus how many CHURNED (active previous period, absent
    now). The standard startup-metrics decomposition; new + retained +
    resurrected = that period's actives, and retained + churned = the
    previous period's actives. Output: (period, n_new, n_retained,
    n_resurrected, n_churned).

    Scale: events collapse once to distinct (entity, period) — the
    only event-cardinality shuffle — and the whole classification is
    ONE entity-partitioned ordered window (min/lag/lead share the
    exchange): new ⇔ p is the entity's first period, retained ⇔ the
    previous distinct period is exactly p−1, resurrected otherwise;
    a churn row materializes at p+1 wherever the NEXT distinct
    period is not p+1 (equivalent to the former shifted anti-join,
    one row per gap). The former shape re-joined the
    entity-cardinality first-period table and a period-shifted copy
    of the activity table instead. Every aggregate then keys on the
    tiny period axis with map-side partials. Churn is only reported
    for periods that themselves have data (no phantom churn into
    empty trailing periods)."""
    ep = events.select(
        F.col(id_col).alias("_id"),
        F.expr(f"{ts_col} div {period_ns}").alias("_p"),
    ).distinct()
    w_ent = Window.partitionBy("_id")
    w_ord = Window.partitionBy("_id").orderBy("_p")
    st = ep.select(
        "_id",
        "_p",
        F.min("_p").over(w_ent).alias("_first"),
        F.lag("_p").over(w_ord).alias("_prevp"),
        F.lead("_p").over(w_ord).alias("_nextp"),
    )
    per_period = st.select(
        "_p",
        F.when(F.col("_p") == F.col("_first"), F.lit("new"))
        .when(F.col("_prevp") == F.col("_p") - 1, F.lit("retained"))
        .otherwise(F.lit("resurrected"))
        .alias("_status"),
    ).groupBy("_p").agg(
        F.sum((F.col("_status") == "new").cast("long")).alias("n_new"),
        F.sum((F.col("_status") == "retained").cast("long")).alias(
            "n_retained"
        ),
        F.sum((F.col("_status") == "resurrected").cast("long")).alias(
            "n_resurrected"
        ),
    )
    churned = (
        st.where(
            F.col("_nextp").isNull()
            | (F.col("_nextp") != F.col("_p") + 1)
        )
        .select((F.col("_p") + 1).alias("_p"))
        .join(ep.select("_p").distinct(), "_p", "semi")
        .groupBy("_p")
        .agg(F.count(F.lit(1)).alias("n_churned"))
    )
    return (
        per_period.join(churned, "_p", "left")
        .select(
            F.col("_p").alias("period"),
            "n_new",
            "n_retained",
            "n_resurrected",
            F.coalesce("n_churned", F.lit(0)).cast("long").alias(
                "n_churned"
            ),
        )
    )


def event_transitions(
    events: DataFrame,
    id_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_tiebreak: str = "event_id",
) -> DataFrame:
    """First-order Markov transition statistics over each entity's
    ordered event stream: for every (current → next) event-type pair,
    the transition count and probability P(next | current) — the user-
    journey model behind next-action prediction and funnel discovery.
    Output: (from_type, to_type, n_transitions, p_transition), with
    the probability an exact integer ratio (count / from-type total).

    ONE window pass (lead over the per-entity (ts, tiebreak) order —
    narrow after its single shuffle on the entity id) produces the
    consecutive pairs; the pair counts partial-aggregate into the tiny
    type×type key space, and the per-source totals broadcast back.
    Each entity's last event has no successor and drops out."""
    w = Window.partitionBy(id_col).orderBy(
        F.col(ts_col).asc(), F.col(order_tiebreak).asc()
    )
    pairs = (
        events.select(
            F.col(type_col).alias("from_type"),
            F.lead(type_col).over(w).alias("to_type"),
        )
        .where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    totals = pairs.groupBy("from_type").agg(
        F.sum("n_transitions").alias("_tot")
    )
    return (
        pairs.join(F.broadcast(totals), "from_type")
        .select(
            "from_type",
            "to_type",
            "n_transitions",
            (
                F.col("n_transitions").cast("double")
                / F.col("_tot").cast("double")
            ).alias("p_transition"),
        )
    )


def top_event_paths(
    events: DataFrame,
    id_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_tiebreak: str = "event_id",
    length: int = 3,
    k: int = 10,
) -> DataFrame:
    """Top-k most common event paths: every run of ``length``
    consecutive events in an entity's ordered stream becomes a path
    (the n-gram census over journeys), counted corpus-wide and ranked
    with a deterministic tie-break — the journey-mining primitive
    behind "what do users actually do before X".

    One window shuffle on the entity id, then ``length - 1`` lead
    expressions over the SAME window frame (no extra exchange), a
    partial-aggregated count over the path strings, and the rank
    window on the tiny distinct-path table. Output: (path,
    n_occurrences, rnk), path as an arrow-joined string."""
    w = Window.partitionBy(id_col).orderBy(
        F.col(ts_col).asc(), F.col(order_tiebreak).asc()
    )
    steps = [F.col(type_col)] + [
        F.lead(type_col, i).over(w) for i in range(1, length)
    ]
    # every step must be non-null: concat_ws silently SKIPS nulls, so
    # an interior null would shorten the path string and collide with
    # genuinely shorter sequences
    step_cols = [st.alias(f"_s{i}") for i, st in enumerate(steps)]
    runs = events.select(*step_cols)
    for i in range(length):
        runs = runs.where(F.col(f"_s{i}").isNotNull())
    paths = (
        runs.select(
            F.concat_ws(
                " -> ", *[F.col(f"_s{i}") for i in range(length)]
            ).alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    rk = Window.orderBy(
        F.col("n_occurrences").desc(), F.col("path").asc()
    )
    return (
        paths.withColumn("rnk", F.row_number().over(rk))
        .where(F.col("rnk") <= k)
        .select("path", "n_occurrences", F.col("rnk").cast("bigint").alias("rnk"))
    )


def chi_square_independence(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Pearson chi-square contingency analysis for two categorical
    columns — the segmentation sanity check ("does event mix differ by
    language/source or is the split random?"). Returns ONE ROW PER
    CELL: (a, b, observed, expected, contribution) where expected =
    row_total × col_total / n and contribution = (o − e)²/e; the
    chi-square statistic is the trivial sum of ``contribution``
    (one extra aggregate for the caller). Per-cell emission is
    deliberate: every value is a fixed arithmetic expression over
    exact integer counts — deterministic cross-engine — whereas a
    cross-cell double SUM depends on aggregation order; and the cells
    themselves show WHICH combinations drive the dependence.

    One two-key groupBy builds the cells (map-side partials);
    marginals aggregate FROM the cells (cell-cardinality input, not
    rows) and broadcast back; the full category grid is materialized
    so ZERO cells contribute their (0−e)²/e term — dropping them
    understates the statistic most exactly when dependence is
    strongest. Nulls in either column are excluded, as in the
    classical test. The grid crossJoin is category-cardinality ×
    category-cardinality — tiny for real categorical columns; don't
    point this at high-cardinality ids."""
    src = df.select(col_a, col_b).where(
        F.col(col_a).isNotNull() & F.col(col_b).isNotNull()
    )
    observed = src.groupBy(col_a, col_b).agg(
        F.count(F.lit(1)).alias("_obs")
    )
    # Marginals and the total aggregate FROM the observed cells (zero
    # cells add 0 to every marginal, so cell-derived == grid-derived),
    # and the FULL category grid is the marginals' cross product with
    # the row/column totals already attached — zero cells contribute
    # their (0−e)²/e term without a category-distinct pass each.
    # Everything after ``observed`` is category-cardinality work, and
    # the one fact-sized subtree (src → groupBy) is referenced by
    # exactly four consumers that share one physical exchange
    # (ReusedExchange), where the former grid-completed-cells shape
    # nested the subtree ~12× in the static plan.
    ra = observed.groupBy(col_a).agg(F.sum("_obs").alias("_ra"))
    rb = observed.groupBy(col_b).agg(F.sum("_obs").alias("_rb"))
    tot = observed.agg(F.sum("_obs").alias("_n"))
    grid = ra.crossJoin(rb).crossJoin(F.broadcast(tot))
    joined = grid.join(
        F.broadcast(observed), [col_a, col_b], "left"
    ).select(
        col_a,
        col_b,
        F.coalesce("_obs", F.lit(0)).alias("observed"),
        "_ra",
        "_rb",
        "_n",
    )
    e = (
        F.col("_ra").cast("double")
        * F.col("_rb").cast("double")
        / F.col("_n").cast("double")
    )
    o = F.col("observed").cast("double")
    return joined.select(
        col_a,
        col_b,
        "observed",
        e.alias("expected"),
        ((o - e) * (o - e) / e).alias("contribution"),
    )


def time_weighted_average(
    events: DataFrame,
    id_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    order_tiebreak: str = "event_id",
) -> DataFrame:
    """Per-entity time-weighted average: each observation's value is
    held until the next observation, and the average weights each
    value by how long it was in force — the TWAP/sensor-mean
    semantics where arithmetic means over-count bursts of rapid
    updates. Durations are truncated to whole SECONDS so the
    value×duration products stay inside exact DECIMAL precision
    (nanosecond durations would overflow 38 digits); zero-second
    holds therefore contribute nothing. The final observation carries
    no duration; entities with no timed observations report null.
    Output: (id, n_obs, twap).

    ONE window pass (lead over the per-entity order) computes holding
    durations; the aggregate is Σ value·duration / Σ duration with an
    exact-DECIMAL numerator and integer denominator, divided once in
    double — deterministic regardless of aggregation order."""
    w = Window.partitionBy(id_col).orderBy(
        F.col(ts_col).asc(), F.col(order_tiebreak).asc()
    )
    dur_s = (
        (F.lead(ts_col).over(w) - F.col(ts_col)) / F.lit(10**9)
    ).cast("long")
    timed = events.select(
        id_col,
        F.col(value_col).cast("decimal(19,4)").alias("_v"),
        dur_s.alias("_dur"),
    ).where(F.col("_dur").isNotNull() & (F.col("_dur") > 0))
    return (
        events.select(id_col)
        .distinct()
        .join(
            timed.groupBy(id_col).agg(
                F.count(F.lit(1)).alias("n_obs"),
                (
                    F.sum(
                        F.col("_v") * F.col("_dur").cast("decimal(11,0)")
                    ).cast("double")
                    / F.sum("_dur").cast("double")
                ).alias("twap"),
            ),
            id_col,
            "left",
        )
        .select(
            id_col,
            F.coalesce("n_obs", F.lit(0)).cast("long").alias("n_obs"),
            "twap",
        )
    )


def event_type_entropy(
    events: DataFrame,
    id_col: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Per-entity Shannon entropy of the event-type distribution — the
    behavioral-diversity signal (H = 0: a single-action bot; high H:
    a human exploring every surface). Output: (id, n_events,
    n_types, entropy_nats).

    Computed from integer counts via H = ln(N) − (Σ nᵢ·ln nᵢ)/N.
    Every count stays exact-integer through both aggregation levels;
    the one float SUM (Σ nᵢ·ln nᵢ) is evaluated as a sequential fold
    over the SORTED term list, because a plain SUM of doubles
    accumulates in engine/partition order — two engines (or two runs)
    can disagree in the last ulp, which a hash gate then amplifies
    into a mismatch. Sorting first (n·ln n is monotone in n for
    n ≥ 1, so sorting the terms equals sorting the counts) pins ONE
    IEEE addition order that any engine reproduces bit-for-bit, and
    no rounding guard is needed. The per-entity type list is small
    (the type vocabulary), so collect_list state is bounded. Two
    partial-aggregated shuffles, the second over entity-cardinality
    rows only."""
    counts = events.groupBy(id_col, type_col).agg(
        F.count(F.lit(1)).alias("_n")
    )
    nd = F.col("_n").cast("double")
    term_sum = F.aggregate(
        F.array_sort(F.collect_list(nd * F.log(nd))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        counts.groupBy(id_col)
        .agg(
            F.sum("_n").alias("n_events"),
            F.count(F.lit(1)).alias("n_types"),
            term_sum.alias("_s"),
        )
        .select(
            id_col,
            "n_events",
            "n_types",
            (
                F.log(F.col("n_events").cast("double"))
                - F.col("_s") / F.col("n_events").cast("double")
            ).alias("entropy_nats"),
        )
    )


def lag1_autocorr(
    events: DataFrame,
    id_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    order_tiebreak: str = "event_id",
) -> DataFrame:
    """Per-entity lag-1 autocorrelation of ``value_col`` over the
    entity's time-ordered stream — the temporal-dependence signal
    (≈0: white noise / independent actions; near ±1: momentum or
    alternation, the heartbeat of bot detection and sensor
    diagnostics). Output: (id, n_rows, corr) where n_rows counts the
    consecutive (v_t, v_{t+1}) pairs.

    ONE window shuffle builds the lead pairs (same partition key as
    the corr aggregate that follows, so the groupBy reuses the
    window's hash partitioning without a second exchange), then the
    exact-DECIMAL Pearson machinery of relational.grouped_corr gives
    the bit-deterministic statistic. Entities with < 3 events or zero
    variance yield NULL (degenerate-denominator rule)."""
    from h3_indexer_spark.operators.relational import grouped_corr

    w = Window.partitionBy(id_col).orderBy(
        F.col(ts_col).asc(), F.col(order_tiebreak).asc()
    )
    pairs = (
        events.select(id_col, ts_col, order_tiebreak, value_col)
        .withColumn("_next", F.lead(value_col).over(w))
        .where(F.col("_next").isNotNull())
    )
    return grouped_corr(pairs, [id_col], value_col, "_next")


def ab_test_zscore(
    events: DataFrame,
    arm_col: str,
    metric_col: str,
    control: str,
    treatment: str,
) -> DataFrame:
    """Two-sample A/B comparison (Welch z): per-arm count / mean /
    variance of ``metric_col`` and the z-statistic for the
    treatment−control mean difference — the experiment-readout
    primitive over an event log.

    ONE filtered groupBy: per-arm Σv and Σv² accumulate in exact
    DECIMAL(19,4) (the grouped_corr/regression determinism rule —
    19 digits forces DuckDB onto int128 so both engines sum exactly),
    cast to double only for the final mean/variance/z arithmetic,
    which then mirrors the oracle's op sequence bit-for-bit. The
    z-score is ROUND(…,9) to absorb the cross-engine
    contraction ulp in the compound expression (q_regression
    precedent). Sample variance (n−1); arms with n<2 report null
    variance and z. Output: one row (n_control, n_treatment,
    mean_control, mean_treatment, diff, z_score). The row is
    GUARANTEED even when an arm (or the whole input) is empty: the
    readout is a single global conditional aggregation, so a missing
    arm reports n=0 with null mean/variance/z rather than collapsing
    the readout to zero rows (an absent row is indistinguishable
    from "query never ran"; an n=0 row is self-describing).

    Scale: the aggregation is two conditional-sum accumulator rows
    per partition folded to ONE global row — no shuffle at all
    beyond the final single-row fold.
    """
    v = F.col(metric_col).cast("decimal(19,4)")
    is_c = F.col(arm_col) == control
    is_t = F.col(arm_col) == treatment
    # ONE unconditional agg over the filtered log: .agg on an empty
    # input still yields exactly one row (counts 0, sums NULL) —
    # the missing-arm guarantee. Conditional DECIMAL sums equal the
    # per-group sums exactly (same value multiset, exact addition),
    # so the double-side arithmetic below is bit-identical to the
    # previous grouped formulation and the oracle.
    j = (
        events.where(
            (is_c | is_t) & F.col(metric_col).isNotNull()
        )
        .agg(
            F.count(F.when(is_c, F.lit(1))).alias("n_control"),
            F.sum(F.when(is_c, v)).cast("double").alias("_sx_c"),
            F.sum(F.when(is_c, v * v)).cast("double").alias("_sxx_c"),
            F.count(F.when(is_t, F.lit(1))).alias("n_treatment"),
            F.sum(F.when(is_t, v)).cast("double").alias("_sx_t"),
            F.sum(F.when(is_t, v * v)).cast("double").alias("_sxx_t"),
        )
    )
    nc = F.col("n_control").cast("double")
    nt = F.col("n_treatment").cast("double")
    mean_c = F.col("_sx_c") / nc
    mean_t = F.col("_sx_t") / nt
    var_c = (nc * F.col("_sxx_c") - F.col("_sx_c") * F.col("_sx_c")) / (
        nc * (nc - F.lit(1.0))
    )
    var_t = (nt * F.col("_sxx_t") - F.col("_sx_t") * F.col("_sx_t")) / (
        nt * (nt - F.lit(1.0))
    )
    se = F.sqrt(var_t / nt + var_c / nc)
    return j.select(
        "n_control",
        "n_treatment",
        mean_c.alias("mean_control"),
        mean_t.alias("mean_treatment"),
        (mean_t - mean_c).alias("diff"),
        # ROUND 9, not 12: z is UNBOUNDED (grows with sqrt(n)), so 12
        # fractional digits on a ~1e1-1e2 magnitude stat sits at the
        # double-precision edge (the q_did/q_cuped theta precedent,
        # commit 262a8a2; enforced by tools/round_lint.py)
        F.round(
            F.when(
                (F.col("n_control") >= 2)
                & (F.col("n_treatment") >= 2)
                & (se > 0),
                (mean_t - mean_c) / se,
            ),
            9,
        ).alias("z_score"),
    )


def period_over_period(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    period_ns: int = 7 * 86_400 * 10**9,
) -> DataFrame:
    """Period-over-period trend report: total ``value_col`` per
    period (integer epoch-ns bucketing — the cross-engine-stable
    convention) with the previous period's total and the relative
    change — the WoW/MoM growth readout.

    One groupBy shuffle on the period key (exact DECIMAL sum), then
    one UNPARTITIONED lag window — safe because the window input is
    the already-aggregated period table (one row per period), never
    the event log. Gaps between periods are treated as missing (lag
    takes the previous EXISTING period; a calendar-dense variant
    would gap-fill first — analytics.gap_fill_daily composes).
    Output: (period, total, prev_total, pct_change), pct_change null
    for the first period and when prev_total is 0."""
    per = (
        events.where(F.col(value_col).isNotNull())
        .groupBy(
            # integer `div`, NOT `/`: float division of epoch-nano
            # longs exceeds double's 53-bit mantissa and mis-buckets
            F.expr(
                f"CAST({ts_col} AS BIGINT) div {period_ns}"
            ).alias("period")
        )
        .agg(
            F.sum(F.col(value_col).cast("decimal(19,4)"))
            .cast("double")
            .alias("total")
        )
    )
    w = Window.orderBy(F.col("period").asc())
    prev = F.lag("total").over(w)
    return per.select(
        "period",
        "total",
        prev.alias("prev_total"),
        F.when(
            prev.isNotNull() & (prev != 0),
            (F.col("total") - prev) / prev,
        ).alias("pct_change"),
    )


def psi_drift(
    old: DataFrame,
    new: DataFrame,
    value_col: str,
    breaks: list[float],
) -> DataFrame:
    """Population Stability Index between two snapshots of a numeric
    feature — the standard drift monitor between a training corpus and
    fresh data. ``breaks`` are explicit bucket edges (len(breaks)+1
    buckets: (-inf,b0), [b0,b1), ..., [b_last,inf)); per bucket the
    old/new shares p,q and the PSI term (p−q)·ln(p/q). Σ terms > 0.2
    is the conventional act threshold.

    One conditional-count aggregation per side (a CASE cascade over
    the broadcast-literal edges — no shuffle wider than the bucket
    count), full-outer join of the two tiny bucket tables, shares via
    window totals over those same rows. p and q are exact integer
    ratios; ln(p/q) is ROUND(…,9)-absorbed (the q_entropy ln-ulp
    rule). Buckets empty on either side report a NULL psi_term (the
    standard undefined case) with both counts visible. Output:
    (bucket, n_old, n_new, p_old, p_new, psi_term)."""
    if not breaks or sorted(breaks) != list(breaks) or len(
        set(breaks)
    ) != len(breaks):
        raise ValueError(
            "breaks must be non-empty, strictly ascending bucket "
            f"edges; got {breaks!r}"
        )

    def bucket(col: Column) -> Column:
        b = F.lit(0)
        for i, edge in enumerate(breaks):
            b = F.when(col < F.lit(float(edge)), b).otherwise(
                F.lit(i + 1)
            )
        return b

    def side(df: DataFrame, n_name: str) -> DataFrame:
        return (
            df.where(F.col(value_col).isNotNull())
            .groupBy(bucket(F.col(value_col)).alias("bucket"))
            .agg(F.count(F.lit(1)).alias(n_name))
        )

    j = side(old, "n_old").join(side(new, "n_new"), "bucket", "full_outer")
    w = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    n_old = F.coalesce("n_old", F.lit(0)).cast("long")
    n_new = F.coalesce("n_new", F.lit(0)).cast("long")
    p = n_old.cast("double") / F.sum(n_old).over(w).cast("double")
    q = n_new.cast("double") / F.sum(n_new).over(w).cast("double")
    return j.select(
        F.col("bucket").cast("int").alias("bucket"),
        n_old.alias("n_old"),
        n_new.alias("n_new"),
        p.alias("p_old"),
        q.alias("p_new"),
        F.round(
            F.when((p > 0) & (q > 0), (p - q) * F.log(p / q)), 9
        ).alias("psi_term"),
    )


def cuped_ab_test(
    df: DataFrame,
    arm_col: str,
    metric_col: str,
    covariate_col: str,
    control: str,
    treatment: str,
) -> DataFrame:
    """CUPED variance-reduced A/B readout: adjust the experiment
    metric by a pre-experiment covariate (y_adj = y − θ(x − x̄),
    θ = cov(x,y)/var(x) pooled over both arms) and report the Welch z
    on the adjusted means — the standard ~30-70% variance reduction
    when the covariate is last period's value of the same metric.

    No per-row adjusted column is ever materialized: every adjusted
    moment expands algebraically over per-arm exact-DECIMAL sums
    (Σy, Σx, Σxy, Σxx, Σyy), so the whole readout is ONE two-key
    aggregation and a 2-row fold, deterministic regardless of row
    order — mean_adj = ȳ_a − θ(x̄_a − x̄), var_adj = var_y +
    θ²var_x − 2θcov_xy per arm. ROUND(…,9) on θ and z absorbs the
    cross-engine contraction ulp (q_regression rule). Output: one row
    (n_control, n_treatment, theta, mean_control_adj,
    mean_treatment_adj, diff_adj, z_score) — GUARANTEED one row even
    when an arm (or the whole input) is empty: the readout is one
    global conditional aggregation (missing arm → n=0 with null
    moments/z), never a zero-row collapse."""
    y = F.col(metric_col).cast("decimal(19,4)")
    x = F.col(covariate_col).cast("decimal(19,4)")
    is_c = F.col(arm_col) == control
    is_t = F.col(arm_col) == treatment
    # conditional DECIMAL sums == per-group sums exactly (same value
    # multiset, exact addition) — bit-parity with the oracle's
    # grouped formulation is preserved, and .agg on empty input
    # still emits its one row (the empty-arm guarantee).
    aggs = [F.count(F.when(is_c, F.lit(1))).alias("n_c")] + [
        F.sum(F.when(is_c, expr)).cast("double").alias(f"{nm}_c")
        for nm, expr in (
            ("sy", y), ("sx", x), ("sxy", x * y),
            ("sxx", x * x), ("syy", y * y),
        )
    ] + [F.count(F.when(is_t, F.lit(1))).alias("n_t")] + [
        F.sum(F.when(is_t, expr)).cast("double").alias(f"{nm}_t")
        for nm, expr in (
            ("sy", y), ("sx", x), ("sxy", x * y),
            ("sxx", x * x), ("syy", y * y),
        )
    ]
    j = df.where(
        (is_c | is_t)
        & F.col(metric_col).isNotNull()
        & F.col(covariate_col).isNotNull()
    ).agg(*aggs)
    nc = F.col("n_c").cast("double")
    nt = F.col("n_t").cast("double")
    n = nc + nt
    sy = F.col("sy_c") + F.col("sy_t")
    sx = F.col("sx_c") + F.col("sx_t")
    sxy = F.col("sxy_c") + F.col("sxy_t")
    sxx = F.col("sxx_c") + F.col("sxx_t")
    # pooled theta = cov(x,y)/var(x) over ALL rows
    theta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    mean_x = sx / n

    def arm_stats(suf, cnt):
        my = F.col(f"sy_{suf}") / cnt
        mx = F.col(f"sx_{suf}") / cnt
        mean_adj = my - theta * (mx - mean_x)
        var_y = (cnt * F.col(f"syy_{suf}") - F.col(f"sy_{suf}") * F.col(f"sy_{suf}")) / (cnt * (cnt - F.lit(1.0)))
        var_x = (cnt * F.col(f"sxx_{suf}") - F.col(f"sx_{suf}") * F.col(f"sx_{suf}")) / (cnt * (cnt - F.lit(1.0)))
        cov = (cnt * F.col(f"sxy_{suf}") - F.col(f"sx_{suf}") * F.col(f"sy_{suf}")) / (cnt * (cnt - F.lit(1.0)))
        var_adj = var_y + theta * theta * var_x - F.lit(2.0) * theta * cov
        return mean_adj, var_adj

    mean_c, var_c = arm_stats("c", nc)
    mean_t, var_t = arm_stats("t", nt)
    se = F.sqrt(var_t / nt + var_c / nc)
    return j.select(
        F.col("n_c").alias("n_control"),
        F.col("n_t").alias("n_treatment"),
        # ROUND 9, not 12: theta's raw compound (cov/var over sf-scale
        # sums) differs ~2e-12 across engines — 12 decimals failed the
        # sf0.1 oracle sweep, 9 absorbs the compound error
        F.round(theta, 9).alias("theta"),
        mean_c.alias("mean_control_adj"),
        mean_t.alias("mean_treatment_adj"),
        (mean_t - mean_c).alias("diff_adj"),
        # ROUND 9 on z too (unbounded stat — round_lint rule)
        F.round(
            F.when(
                (F.col("n_c") >= 2) & (F.col("n_t") >= 2) & (se > 0),
                (mean_t - mean_c) / se,
            ),
            9,
        ).alias("z_score"),
    )


def changepoint_cusum(
    events: DataFrame,
    id_col: str = "user_id",
    order_cols: list[str] | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Per-entity CUSUM change-point: the position in each entity's
    ordered value series where the cumulative deviation from the
    series mean peaks — the classic single-change-point locator
    (level shift in spend/latency/engagement). Output: (id, n_obs,
    cp_index [1-based, the last index BEFORE the candidate change],
    max_dev [the peak |S_i| in value units]).

    Division-free inner loop: instead of S_i = Σ(v_j − v̄) (whose
    mean is a rounding-sensitive DECIMAL division), it scales to
    T_i = n·C_i − i·Σv with C_i the prefix sum in exact DECIMAL(25,0)
    ten-thousandths (DECIMAL(19,4) quantization × 10⁴) and n, i in
    DECIMAL(12,0) — the products are DECIMAL(38,0), exact in both
    engines with NO possibility of int64 wraparound (an int64 T wraps
    silently in non-ANSI Spark at ~1M events × 1e3 values, picking an
    arbitrary argmax; DECIMAL(38,0) holds n·C up to 10³⁸). T = n·S,
    so argmax|T| ≡ argmax|S| and engines cannot disagree at the
    comparison. ONE
    window pass (prefix sum + row index over the per-entity order)
    and one rank window on the SAME partitioning (no second
    shuffle); ties break to the earliest index. max_dev is T/n cast
    to double at the very end. The final row (i = n, T = 0 by
    construction) is excluded — a "change after the last point" is
    not a change."""
    order_cols = order_cols or ["ts", "event_id"]
    w = Window.partitionBy(id_col).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    v = F.col(value_col).cast("decimal(19,4)")
    base = (
        events.where(F.col(value_col).isNotNull())
        .select(id_col, *order_cols, v.alias("_v"))
        .withColumn(
            "_c",
            F.sum("_v").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .withColumn("_i", F.row_number().over(w))
        .withColumn(
            "_n",
            F.count(F.lit(1)).over(
                Window.partitionBy(id_col).rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
        .withColumn(
            "_total",
            F.sum("_v").over(
                Window.partitionBy(id_col).rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
    )
    c_i = (F.col("_c") * F.lit(10000)).cast("decimal(25,0)")
    tot_i = (F.col("_total") * F.lit(10000)).cast("decimal(25,0)")
    t = (
        F.col("_n").cast("decimal(12,0)") * c_i
        - F.col("_i").cast("decimal(12,0)") * tot_i
    )
    scored = base.where(F.col("_i") < F.col("_n")).withColumn(
        "_t_abs", F.abs(t)
    )
    rk = Window.partitionBy(id_col).orderBy(
        F.col("_t_abs").desc(), F.col("_i").asc()
    )
    return (
        scored.withColumn("_rk", F.row_number().over(rk))
        .where(F.col("_rk") == 1)
        .select(
            id_col,
            F.col("_n").cast("bigint").alias("n_obs"),
            F.col("_i").cast("bigint").alias("cp_index"),
            (
                F.col("_t_abs").cast("double")
                / (F.col("_n").cast("double") * F.lit(10000.0))
            ).alias("max_dev"),
        )
    )


def attribution_positional(
    events: DataFrame,
    conversion_type: str,
    touch_types: list[str],
    id_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_tiebreak: str = "event_id",
    first_weight: float = 0.4,
    last_weight: float = 0.4,
) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution: every
    conversion splits one unit of credit over ALL of the entity's
    preceding touches — ``first_weight`` to the earliest,
    ``last_weight`` to the latest, the remainder evenly across the
    middles (single-touch journeys get full credit; two-touch split
    first/last proportionally). The standard refinement of last-touch
    (``attribute_conversions``) when campaigns deserve credit for
    initiating journeys, not just closing them.

    Plan: one window pass numbers each entity's touches and counts
    them per conversion scope; conversions join back to the touch
    list on the entity id — the only event-cardinality shuffle is
    keyed on ``id_col`` and the per-conversion fanout equals that
    conversion's OWN touch count (bounded by per-entity history, the
    same contract as the funnel). Credit weights are exact rational
    expressions of the touch count: position weights are
    w_first + w_last + (n−2)·w_mid == 1 by construction, so credit
    conserves — Σ credit per conversion = 1, locked by test. Output:
    one row per (conversion, touch) with (id, conv_ts, touch_ts,
    touch_type, position, n_touches, credit)."""
    ts = F.col(ts_col)
    touches = events.where(F.col(type_col).isin(*touch_types)).select(
        F.col(id_col),
        ts.alias("touch_ts"),
        F.col(type_col).alias("touch_type"),
        F.col(order_tiebreak).alias("_tb"),
    )
    convs = events.where(F.col(type_col) == conversion_type).select(
        F.col(id_col),
        ts.alias("conv_ts"),
        F.col(order_tiebreak).alias("_ctb"),
    )
    j = convs.join(touches, id_col).where(
        (F.col("touch_ts") < F.col("conv_ts"))
        | (
            (F.col("touch_ts") == F.col("conv_ts"))
            & (F.col("_tb") < F.col("_ctb"))
        )
    )
    w = Window.partitionBy(id_col, "conv_ts", "_ctb").orderBy(
        F.col("touch_ts").asc(), F.col("_tb").asc()
    )
    wn = Window.partitionBy(id_col, "conv_ts", "_ctb")
    pos = F.row_number().over(w)
    n = F.count(F.lit(1)).over(
        wn.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    nd = n.cast("double")
    # weights folded in PYTHON doubles and inlined as single literals:
    # an engine-side "1.0 - 0.4 - 0.4" is double in Spark but exact
    # DECIMAL in some SQL engines (0.19999999999999996 vs 0.2) — one
    # literal removes the cross-engine arithmetic entirely
    wf = float(first_weight)
    wl = float(last_weight)
    w_first2 = wf / (wf + wl)
    w_last2 = wl / (wf + wl)
    w_mid = 1.0 - wf - wl
    credit = (
        F.when(n == 1, F.lit(1.0))
        .when(
            n == 2,
            F.when(pos == 1, F.lit(w_first2)).otherwise(F.lit(w_last2)),
        )
        .otherwise(
            F.when(pos == 1, F.lit(wf))
            .when(pos == n, F.lit(wl))
            .otherwise(F.lit(w_mid) / (nd - F.lit(2.0)))
        )
    )
    return j.select(
        id_col,
        "conv_ts",
        "touch_ts",
        "touch_type",
        pos.cast("bigint").alias("position"),
        n.cast("bigint").alias("n_touches"),
        credit.alias("credit"),
    )


def gini_coefficient(
    df: DataFrame,
    value_col: str,
) -> DataFrame:
    """Gini concentration coefficient of a non-negative value column
    (revenue-concentration / inequality readout):
    G = 2·Σᵢ i·x₍ᵢ₎ / (n·Σx) − (n+1)/n over the ascending-sorted
    values — 0 = perfectly even, →1 = fully concentrated.

    Scale-first EXACT formulation: instead of ranking every row (a
    corpus-wide single-partition row_number), collapse to one row per
    DISTINCT value (count c, the value v), take ONE ordered window
    over that level table for the prefix count, and expand each
    level's rank-weighted sum in closed form — ranks of a c-long run
    starting after prefix p sum to c·p + c·(c+1)/2, so
    Σᵢ i·x₍ᵢ₎ = Σ_levels v·(c·p + c·(c+1)/2), exact in DECIMAL (ties
    contribute identically under any tie order, so no tiebreak column
    is needed at all). The window runs over |distinct values| rows.
    Output: one row (n, total, gini); gini is the only double and is
    computed from exact DECIMAL/BIGINT inputs in one mirrored op
    sequence."""
    v = F.col(value_col).cast("decimal(19,4)")
    levels = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(v.alias("_v"))
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    w = Window.orderBy(F.col("_v").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    lv = levels.select(
        "_v",
        "_c",
        F.coalesce(F.sum("_c").over(w), F.lit(0)).alias("_p"),
    )
    # rank-run weight c·p + c·(c+1)/2 — the multiplies run in
    # DECIMAL(38,0) (c·p and c·(c+1) are O(n²): BIGINT products
    # overflow 64-bit around n ≈ 4·10⁹ rows). The /2 stays exact
    # without decimal division: one of c, c+1 is even, so halve THAT
    # factor with integer DIV before the decimal multiply. Exact up
    # to the 38-digit decimal capacity (n ≈ 10¹⁸).
    weight = (
        F.col("_c").cast("decimal(38,0)")
        * F.col("_p").cast("decimal(38,0)")
        + F.expr(
            "CASE WHEN _c % 2 = 0 "
            "THEN CAST(_c DIV 2 AS DECIMAL(38,0)) "
            "   * CAST(_c + 1 AS DECIMAL(38,0)) "
            "ELSE CAST(_c AS DECIMAL(38,0)) "
            "   * CAST((_c + 1) DIV 2 AS DECIMAL(38,0)) END"
        )
    ).cast("decimal(38,0)")
    agg = lv.agg(
        F.sum(F.col("_c")).cast("bigint").alias("n"),
        F.sum(F.col("_v") * F.col("_c").cast("decimal(18,0)"))
        .alias("_total"),
        F.sum(F.col("_v") * weight).alias("_s1"),
    )
    n = F.col("n").cast("double")
    total = F.col("_total").cast("double")
    s1 = F.col("_s1").cast("double")
    return agg.select(
        "n",
        total.alias("total"),
        (
            F.lit(2.0) * s1 / (n * total) - (n + F.lit(1.0)) / n
        ).alias("gini"),
    )


def rfm_segments(
    orders: DataFrame,
    customer_col: str = "o_custkey",
    ts_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
    n_bins: int = 5,
) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation —
    the classic lifecycle-marketing readout. Per customer: most
    recent order timestamp, order count, exact DECIMAL spend; each
    dimension then scores 1..``n_bins`` by NTILE over a TOTAL order
    (metric, customer id) — the explicit tiebreak makes bucket
    boundaries deterministic on any engine, where a bare
    ntile-over-metric would let ties land by partition luck. Higher
    score = more recent / more frequent / higher spend. Output:
    (customer, recency_ts, frequency, monetary, r, f, m, segment)
    with segment the concatenated "rfm" digit string.

    Scale shape: ONE customer-keyed aggregation; the three NTILEs run
    over the aggregated per-customer table (|customers| rows, not
    |orders|) — at larger scale swap NTILE for precomputed
    percentile cut-points (features.quantile_bins) to avoid the
    global-order window; semantics match at the documented
    boundaries."""
    per = orders.groupBy(F.col(customer_col).alias("customer")).agg(
        F.max(ts_col).alias("recency_ts"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col(amount_col).cast("decimal(19,4)"))
        .cast("double")
        .alias("monetary"),
    )
    def score(col: str) -> Column:
        return F.ntile(n_bins).over(
            Window.orderBy(F.col(col).asc(), F.col("customer").asc())
        )
    scored = per.select(
        "customer",
        "recency_ts",
        "frequency",
        "monetary",
        score("recency_ts").alias("r"),
        score("frequency").alias("f"),
        score("monetary").alias("m"),
    )
    return scored.withColumn(
        "segment",
        F.concat(
            F.col("r").cast("string"),
            F.col("f").cast("string"),
            F.col("m").cast("string"),
        ),
    )


def survival_risk_table(
    events: DataFrame,
    id_col: str = "user_id",
    ts_col: str = "ts",
    day_ns: int = 86_400 * 10**9,
    censor_horizon_days: int = 7,
) -> DataFrame:
    """Kaplan-Meier risk table over an event log: per observed
    lifetime length, how many subjects were still at risk, how many
    "died" (churned) at exactly that length, and how many were
    censored — the integer-exact core of the survival curve (the KM
    estimator is Π(1 − dᵢ/nᵢ) over these rows; emitting the d/n
    integers keeps the contract engine-exact, and any client derives
    the float curve in one pass).

    Semantics: lifetime = floor((last − first)/day) in whole days per
    subject; a subject whose last event is within
    ``censor_horizon_days`` of the corpus's max timestamp is CENSORED
    (still alive at observation end), otherwise its lifetime ends in
    churn. n_risk at lifetime t counts subjects with lifetime ≥ t
    (standard: censored subjects leave the risk set after t).

    Scale shape: one subject-keyed aggregation, a tiny per-lifetime
    aggregation, and a suffix-sum window over the |distinct
    lifetimes| table; the corpus max is a 1-row broadcast fold."""
    per = events.groupBy(F.col(id_col).alias("_id")).agg(
        F.min(ts_col).alias("_first"),
        F.max(ts_col).alias("_last"),
    )
    gmax = events.agg(F.max(ts_col).alias("_gmax"))
    lt = per.crossJoin(F.broadcast(gmax)).select(
        F.expr(f"CAST(_last - _first AS BIGINT) div {day_ns}").alias(
            "lifetime_days"
        ),
        (
            F.col("_last")
            < F.col("_gmax") - F.lit(censor_horizon_days * day_ns)
        ).cast("int").alias("_died"),
    )
    by_t = lt.groupBy("lifetime_days").agg(
        F.sum("_died").cast("bigint").alias("n_events"),
        F.sum(F.lit(1) - F.col("_died")).cast("bigint").alias(
            "n_censored"
        ),
    )
    w = Window.orderBy(F.col("lifetime_days").asc()).rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    return by_t.select(
        "lifetime_days",
        F.sum(
            F.col("n_events") + F.col("n_censored")
        ).over(w).cast("bigint").alias("n_risk"),
        "n_events",
        "n_censored",
    )


def seasonal_profile(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    day_ns: int = 86_400 * 10**9,
) -> DataFrame:
    """Weekly seasonality heatmap: event count, exact value total,
    and share of all traffic per (day-of-week, hour-of-day) cell —
    the load-shape / staffing / anomaly-baseline readout every
    event-log team keeps on a dashboard.

    Integer epoch-ns bucketing end to end: dow = (epoch_days + 4) % 7
    (1970-01-01 was a Thursday; 0 = Sunday) and hour from the
    epoch-hour remainder — no timezone/calendar library in the plan,
    so the bucket arithmetic is engine-exact. ONE groupBy over the
    168-cell key space (partial aggregation collapses each partition
    to ≤168 rows before the exchange); the share denominator is a
    1-row broadcast fold of exact BIGINT counts, so share is a single
    exact-integer division. Output: (dow, hour, n_events, sum_value,
    share)."""
    hour_ns = day_ns // 24
    ts = F.col(ts_col).cast("bigint")
    cells = (
        events.where(F.col(ts_col).isNotNull())
        .groupBy(
            ((F.expr(f"CAST({ts_col} AS BIGINT) div {day_ns}") + F.lit(4))
             % F.lit(7)).cast("int").alias("dow"),
            (F.expr(f"CAST({ts_col} AS BIGINT) div {hour_ns}")
             % F.lit(24)).cast("int").alias("hour"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col(value_col).cast("decimal(19,4)"))
            .cast("double")
            .alias("sum_value"),
        )
    )
    total = events.where(F.col(ts_col).isNotNull()).agg(
        F.count(F.lit(1)).alias("_total")
    )
    _ = ts
    return cells.crossJoin(F.broadcast(total)).select(
        "dow",
        "hour",
        F.col("n_events").cast("bigint").alias("n_events"),
        "sum_value",
        (
            F.col("n_events").cast("double")
            / F.col("_total").cast("double")
        ).alias("share"),
    )


def time_to_convert(
    events: DataFrame,
    convert_predicate: Column,
    id_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Time-to-conversion distribution: per converting entity the lag
    from its FIRST event of any kind to its FIRST converting event,
    summarized as exact interpolated percentiles — the activation-
    latency readout next to the funnel. Entities that never convert
    are excluded from the latency distribution but counted, so the
    conversion rate rides along. Output: one row (n_entities,
    n_converted, p50_s, p90_s, p99_s) with latencies in whole seconds
    (integer division of epoch-ns lags — engine-exact; percentile()
    == quantile_cont bit-for-bit on the integer inputs).

    Scale: ONE entity-keyed aggregation (min ts, min converting ts
    via conditional min) then a global percentile fold — no window,
    no join, no event×event work."""
    per = events.groupBy(F.col(id_col).alias("_id")).agg(
        F.min(F.col(ts_col)).alias("_first"),
        F.min(F.when(convert_predicate, F.col(ts_col))).alias("_conv"),
    )
    return per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_entities"),
        F.count(F.col("_conv")).cast("bigint").alias("n_converted"),
        F.expr(
            "percentile(CAST(_conv - _first AS BIGINT) div 1000000000,"
            " 0.5)"
        ).alias("p50_s"),
        F.expr(
            "percentile(CAST(_conv - _first AS BIGINT) div 1000000000,"
            " 0.9)"
        ).alias("p90_s"),
        F.expr(
            "percentile(CAST(_conv - _first AS BIGINT) div 1000000000,"
            " 0.99)"
        ).alias("p99_s"),
    )


# Benford first-digit expectations log10(1 + 1/d), d = 1..9, fixed to
# 12 decimal digits so the SAME literal text appears in the Spark plan
# and any SQL oracle — the two engines then agree bit-for-bit without
# either evaluating log10 at runtime.
BENFORD_EXPECTED: tuple[str, ...] = (
    "0.301029995664",
    "0.176091259056",
    "0.124938736608",
    "0.096910013008",
    "0.079181246048",
    "0.066946789631",
    "0.057991946978",
    "0.051152522447",
    "0.045757490561",
)


def benford_profile(
    df: DataFrame, col: str, scale: int = 100
) -> DataFrame:
    """First-significant-digit distribution of a positive numeric
    column against Benford's law — the classic fabricated-/synthetic-
    data screen for financial and telemetry feeds (naturally occurring
    multiplicative data follows P(d) = log10(1+1/d); keyed-in or
    template-generated values don't).

    Digit extraction avoids runtime log10 entirely: the value is
    scaled to an exact integer (``scale`` = 100 for 2-dp currency),
    FLOOR'd IDENTICALLY in any IEEE engine (never a bare CAST — Spark
    truncates doubles toward zero where DuckDB rounds half-even), and
    the first character of its decimal rendering is the digit. Rows
    with value < 1/scale are excluded (no leading significant digit).

    Output, one row per digit 1-9 present: digit, n (exact BIGINT),
    frac = n / total (single division), expected (the fixed
    BENFORD_EXPECTED literal), abs_dev = |frac - expected|. Totals
    ride a 9-row window — the whole readout is one scan + one
    9-group aggregation, nothing wider than the digit key.
    """
    digit = F.substring(
        F.floor(F.col(col) * F.lit(float(scale)))
        .cast("bigint")
        .cast("string"),
        1,
        1,
    ).cast("int")
    counts = (
        df.where(F.col(col) * F.lit(float(scale)) >= F.lit(1.0))
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy()
    # float(literal) — NOT F.expr(literal): Spark parses a bare decimal
    # literal as DECIMAL, while the contract column is DOUBLE. The
    # text→double conversion is correctly rounded in Python, Spark and
    # DuckDB alike, so the same literal text yields the same bits.
    expected = F.element_at(
        F.array(*[F.lit(float(v)) for v in BENFORD_EXPECTED]),
        F.col("digit"),
    )
    frac = F.col("n").cast("double") / F.sum("n").over(w).cast("double")
    return counts.select(
        "digit",
        F.col("n").cast("bigint").alias("n"),
        frac.alias("frac"),
        expected.alias("expected"),
        F.abs(frac - expected).alias("abs_dev"),
    ).orderBy("digit")


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability-curve readout for a probabilistic score in [0, 1]
    against a 0/1 outcome — the calibration diagnostic every
    model-eval pipeline runs (a well-calibrated scorer has
    pos_rate ≈ mean_score per bin; ECE is a client-side fold over
    these rows).

    bin = min(floor(score·n_bins), n_bins−1), so score 1.0 lands in
    the top bin instead of a phantom n_bins-th one. Exactness recipe:
    n and positives are BIGINT counts; mean_score sums the score
    through DECIMAL(18,6) (the repo-wide deterministic-sum contract)
    and divides once; pos_rate is one division of exact counts. One
    scan + one n_bins-group aggregation — nothing wider than the bin
    key ever shuffles.
    """
    if n_bins < 1:
        raise ValueError("n_bins must be >= 1")
    b = F.least(
        F.floor(F.col(score_col) * F.lit(float(n_bins))).cast("int"),
        F.lit(n_bins - 1),
    )
    agg = (
        df.where(F.col(score_col).isNotNull())
        .select(
            b.alias("bin"),
            F.col(score_col).cast("decimal(18,6)").alias("_s"),
            F.col(label_col).cast("int").alias("_y"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_s").alias("_sum_s"),
            F.sum("_y").cast("bigint").alias("positives"),
        )
    )
    return agg.select(
        "bin",
        F.col("n").cast("bigint").alias("n"),
        (
            F.col("_sum_s").cast("double")
            / F.col("n").cast("double")
        ).alias("mean_score"),
        "positives",
        (
            F.col("positives").cast("double") / F.col("n").cast("double")
        ).alias("pos_rate"),
    ).orderBy("bin")


def roc_auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
    scalable_rank: bool = False,
) -> DataFrame:
    """ROC AUC via the rank formulation (Mann-Whitney U with midrank
    tie handling) — the threshold-free companion of calibration_bins:
    AUC = P(score⁺ > score⁻) + ½P(score⁺ = score⁻).

    Exactness shape: with midranks, 2·ΣR⁺ is an exact INTEGER
    (Σ over score levels of n_pos·(2·first_rank + n_level − 1)), so
    AUC = (2·ΣR⁺ − n_pos·(n_pos+1)) / (2·n_pos·n_neg) is ONE division
    of exact BIGINTs — bit-deterministic in any engine, no float
    accumulation anywhere.

    Scale shape (the gini/skyline aggregated-levels pattern): the
    corpus collapses to per-score-level counts FIRST, the rank window
    runs over |distinct scores| rows — never the row count — and the
    readout is a 1-row fold. For a CONTINUOUS score whose level count
    approaches the row count, pass ``scalable_rank=True`` to compute
    the midranks with the two-level range-bucketed prefix sum
    (_grouped_level_ranks) instead of the single-task global window —
    identical exact-integer output, parallel sort. Returns
    (n_pos, n_neg, sum_r2_pos, auc); auc is NULL when either class is
    empty.
    """
    levels = (
        df.where(F.col(score_col).isNotNull())
        .select(
            F.col(score_col).alias("_s"),
            F.col(label_col).cast("int").alias("_y"),
        )
        .groupBy("_s")
        .agg(
            F.count(F.lit(1)).alias("n_level"),
            F.sum("_y").cast("bigint").alias("n_pos_level"),
        )
    )
    if scalable_rank:
        cum = _grouped_level_ranks(
            levels.withColumn("_one", F.lit(1)), "_one", "_s"
        ).drop("_one")
    else:
        w = Window.orderBy("_s").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        cum = levels.withColumn(
            "first_rank",
            (F.sum("n_level").over(w) - F.col("n_level") + F.lit(1)).cast(
                "bigint"
            ),
        )
    agg = cum.agg(
        F.sum("n_pos_level").cast("bigint").alias("n_pos"),
        F.sum(F.col("n_level") - F.col("n_pos_level"))
        .cast("bigint")
        .alias("n_neg"),
        F.sum(
            F.col("n_pos_level")
            * (
                F.lit(2) * F.col("first_rank")
                + F.col("n_level")
                - F.lit(1)
            )
        ).cast("bigint").alias("sum_r2_pos"),
    )
    num = F.col("sum_r2_pos") - F.col("n_pos") * (F.col("n_pos") + F.lit(1))
    den = F.lit(2) * F.col("n_pos") * F.col("n_neg")
    return agg.select(
        "n_pos",
        "n_neg",
        "sum_r2_pos",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            num.cast("double") / den.cast("double"),
        ).alias("auc"),
    )


def ks_two_sample(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic D = max |F_a − F_b| —
    the distribution-drift test that catches shape changes PSI's
    fixed bins smooth over (the pair belongs together: PSI for
    monitored dashboards, KS for the sensitive gate).

    Exactness shape: D is found as max over value levels of
    |cum_a·n_b − cum_b·n_a| — an exact BIGINT — and divided ONCE by
    n_a·n_b at the end; the readout row is bit-deterministic.

    Scale shape: per-group level counts (one groupBy), a full-outer
    align on the value level, running sums over |distinct values|
    rows, and a 1-row max fold. Returns
    (n_a, n_b, d_num, d_stat); NULL d_stat when either sample is
    empty.
    """
    base = df.where(
        F.col(value_col).isNotNull()
        & F.col(group_col).isin(group_a, group_b)
    ).select(
        F.col(value_col).alias("_v"),
        F.when(F.col(group_col) == group_a, F.lit(1))
        .otherwise(F.lit(0))
        .alias("_ia"),
    )
    levels = base.groupBy("_v").agg(
        F.sum("_ia").cast("bigint").alias("c_a"),
        F.sum(F.lit(1) - F.col("_ia")).cast("bigint").alias("c_b"),
    )
    w = Window.orderBy("_v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = levels.select(
        F.sum("c_a").over(w).cast("bigint").alias("cum_a"),
        F.sum("c_b").over(w).cast("bigint").alias("cum_b"),
    )
    totals = levels.agg(
        F.sum("c_a").cast("bigint").alias("n_a"),
        F.sum("c_b").cast("bigint").alias("n_b"),
    )
    dnum = cum.crossJoin(F.broadcast(totals)).agg(
        F.max(
            F.abs(
                F.col("cum_a") * F.col("n_b")
                - F.col("cum_b") * F.col("n_a")
            )
        ).cast("bigint").alias("d_num")
    )
    return totals.crossJoin(F.broadcast(dnum)).select(
        "n_a",
        "n_b",
        "d_num",
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            F.col("d_num").cast("double")
            / (F.col("n_a") * F.col("n_b")).cast("double"),
        ).alias("d_stat"),
    )


def seasonal_naive_wape(
    df: DataFrame,
    group_col: str,
    bucket_col: str,
    value_col: str,
    season: int,
) -> DataFrame:
    """Forecast-accuracy readout for the seasonal-naive baseline (the
    forecast every real model must beat): predict each bucket's value
    with the value one full season earlier, then score per group with
    WAPE = Σ|forecast − actual| / Σ|actual| — the scale-free error
    retail/capacity forecasting standardizes on. Emitting WAPE rather
    than MAPE/sMAPE is deliberate: WAPE is a ratio of two SUMS, so
    the exact-DECIMAL recipe makes it bit-deterministic, where
    per-row percentage means inherit the engine's float-sum order.

    ``bucket_col`` must be an integer time bucket (epoch div period);
    the season shift joins on bucket − season, which is GAP-SAFE — a
    missing bucket simply yields no forecast pair, where a lag-window
    formulation would silently mis-align across gaps.

    Scale shape: one (group, bucket) rollup, ONE self-join keyed on
    the same columns (co-partitioned — no extra exchange after the
    rollup), and a group-keyed DECIMAL fold. Output per group:
    (n_buckets, n_scored, sum_abs_err, sum_abs_actual, wape); wape is
    NULL when the actual mass is zero.
    """
    if season < 1:
        raise ValueError("season must be >= 1")
    # null group/bucket keys are excluded up front (they could never
    # be scored — a null key matches no season-shifted bucket — so
    # the only effect is dropping the degenerate never-scored NULL
    # report row). Making the filter explicit also keeps the rollup's
    # two references — actual side and season-shifted forecast side —
    # canonically identical: the join otherwise infers isnotnull() on
    # the forecast branch only and the rollup builds twice (measured)
    rolled = (
        df.where(
            F.col(value_col).isNotNull()
            & F.col(group_col).isNotNull()
            & F.col(bucket_col).isNotNull()
        )
        .groupBy(group_col, bucket_col)
        .agg(
            F.sum(F.col(value_col).cast("decimal(18,6)")).alias("_v")
        )
    )
    # the season shift is a RANGE-frame window (value-based, so it
    # stays GAP-SAFE: the frame [bucket−season, bucket−season] holds
    # exactly the seasonal bucket's row when present — (group, bucket)
    # is unique after the rollup — and is empty across gaps, exactly
    # the former left self-join's semantics). The join formulation
    # referenced the rollup from two branches whose keys differed by
    # the +season shift, so the rollup (and the scan under it) built
    # twice (measured); the window reads it once, and the final
    # group-keyed fold reuses the window's partitioning.
    wseason = (
        Window.partitionBy(group_col)
        .orderBy(F.col(bucket_col).cast("long"))
        .rangeBetween(-season, -season)
    )
    scored = rolled.withColumn("_f", F.max("_v").over(wseason))
    return (
        scored.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.count("_f").cast("bigint").alias("n_scored"),
            F.sum(
                F.when(
                    F.col("_f").isNotNull(), F.abs(F.col("_f") - F.col("_v"))
                )
            ).alias("_sae"),
            F.sum(
                F.when(F.col("_f").isNotNull(), F.abs(F.col("_v")))
            ).alias("_saa"),
        )
        .select(
            group_col,
            "n_buckets",
            "n_scored",
            F.col("_sae").cast("double").alias("sum_abs_err"),
            F.col("_saa").cast("double").alias("sum_abs_actual"),
            F.when(
                F.col("_saa") > 0,
                F.col("_sae").cast("double") / F.col("_saa").cast("double"),
            ).alias("wape"),
        )
    )


def mutual_information_cells(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-cell mutual-information decomposition of two categorical
    columns — the feature-association profile (which metadata fields
    carry the same signal) behind leakage screens and redundant-
    feature pruning. Emits the CELL TABLE rather than the summed MI
    scalar, the psi_drift convention: cells are the actionable
    artifact (which pairs co-occur more than independence predicts),
    and the scalar Σ mi_term is a trivial client fold over ≤|X|·|Y|
    rows — deliberately NOT an engine float sum whose accumulation
    order the engine owns.

    Per cell: exact BIGINT counts (n_xy, marginals, total), the joint
    share p_xy (one division), and
    mi_term = ROUND(p_xy · ln(p_xy·n² / (n_x·n_y)), 9) — the ln's
    1-ulp engine divergence absorbed by the established ROUND(·, 9)
    recipe (psi_drift precedent); the ln argument is a ratio of exact
    integer products converted once to double.

    Scale shape: ONE (x, y) count shuffle; marginals and the total
    ride window sums over the cell table itself (≤|X|·|Y| rows, never
    the corpus). NULL categories are excluded (no information in an
    unobserved label).
    """
    cells = (
        df.where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .groupBy(x_col, y_col)
        .agg(F.count(F.lit(1)).alias("n_xy"))
    )
    wx = Window.partitionBy(x_col)
    wy = Window.partitionBy(y_col)
    wall = Window.partitionBy()
    with_margins = cells.select(
        x_col,
        y_col,
        F.col("n_xy").cast("bigint").alias("n_xy"),
        F.sum("n_xy").over(wx).cast("bigint").alias("n_x"),
        F.sum("n_xy").over(wy).cast("bigint").alias("n_y"),
        F.sum("n_xy").over(wall).cast("bigint").alias("n"),
    )
    p_xy = F.col("n_xy").cast("double") / F.col("n").cast("double")
    ratio = (
        (F.col("n_xy") * F.col("n")).cast("double")
        / (F.col("n_x") * F.col("n_y")).cast("double")
    )
    return with_margins.select(
        x_col,
        y_col,
        "n_xy",
        "n_x",
        "n_y",
        "n",
        p_xy.alias("p_xy"),
        F.round(p_xy * F.log(ratio), 9).alias("mi_term"),
    )


def js_divergence_bins(
    a: DataFrame,
    b: DataFrame,
    value_col: str,
    breaks: list[float],
) -> DataFrame:
    """Jensen-Shannon divergence between two numeric distributions,
    decomposed per bucket — psi_drift's symmetric, always-finite
    sibling (JSD is defined even where one side's bucket is empty,
    exactly the case that NULLs a PSI term; √JSD is a metric). Same
    explicit ``breaks`` contract: len(breaks)+1 buckets.

    Per bucket: exact counts n_a/n_b, shares p_a/p_b (single
    divisions), and jsd_term = ½·p·ln(p/m) + ½·q·ln(q/m) with
    m = (p+q)/2, each ln ROUND(·,9)-absorbed (the psi recipe) and the
    0·ln0 := 0 convention handled explicitly. Σ jsd_term ∈ [0, ln 2]
    is the client fold over ≤|buckets| rows.

    Scale shape: one conditional-count aggregation per side, a
    full-outer join of two bucket tables, window totals over those
    same rows — nothing wider than the bucket key shuffles.
    """
    if not breaks or sorted(breaks) != list(breaks) or len(
        set(breaks)
    ) != len(breaks):
        raise ValueError(
            "breaks must be non-empty, strictly ascending bucket "
            f"edges; got {breaks!r}"
        )

    def bucket(col: Column) -> Column:
        x = F.lit(0)
        for i, edge in enumerate(breaks):
            x = F.when(col < F.lit(float(edge)), x).otherwise(F.lit(i + 1))
        return x

    def side(df: DataFrame, n_name: str) -> DataFrame:
        return (
            df.where(F.col(value_col).isNotNull())
            .groupBy(bucket(F.col(value_col)).alias("bucket"))
            .agg(F.count(F.lit(1)).alias(n_name))
        )

    j = side(a, "n_a").join(side(b, "n_b"), "bucket", "full_outer")
    w = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    n_a = F.coalesce("n_a", F.lit(0)).cast("long")
    n_b = F.coalesce("n_b", F.lit(0)).cast("long")
    p = n_a.cast("double") / F.sum(n_a).over(w).cast("double")
    q = n_b.cast("double") / F.sum(n_b).over(w).cast("double")
    m = (p + q) / F.lit(2.0)
    term = (
        F.when(p > 0, F.lit(0.5) * p * F.log(p / m)).otherwise(F.lit(0.0))
        + F.when(q > 0, F.lit(0.5) * q * F.log(q / m)).otherwise(
            F.lit(0.0)
        )
    )
    return j.select(
        F.col("bucket").cast("int").alias("bucket"),
        n_a.alias("n_a"),
        n_b.alias("n_b"),
        p.alias("p_a"),
        q.alias("p_b"),
        F.round(term, 9).alias("jsd_term"),
    )


def lorenz_deciles(
    df: DataFrame,
    value_col: str,
    id_col: str,
) -> DataFrame:
    """Lorenz-curve decile readout — gini_coefficient's actionable
    companion: entities sorted by value into NTILE(10) buckets (TOTAL
    (value, id) order — the tiebreak pins bucket boundaries), each
    decile's exact-DECIMAL value mass, its share of the total, and
    the running cumulative share (the Lorenz curve points a
    concentration dashboard plots; "top decile owns X%" reads off
    row 10).

    Exactness: sums are DECIMAL-exact; share and cum_share divide
    decimal sums once each (the cumulative DECIMAL sum over the
    10-row decile table is exact, so cum_share is also ONE division).
    Scale shape: the NTILE window is the corpus-rank pass (swap in
    pre-aggregated levels when ids exceed memory-of-rank comfort —
    the gini notes apply); everything after runs on 10 rows.
    """
    w = Window.orderBy(F.col(value_col).asc(), F.col(id_col).asc())
    tiled = df.where(F.col(value_col).isNotNull()).select(
        F.ntile(10).over(w).alias("decile"),
        F.col(value_col).cast("decimal(18,6)").alias("_v"),
    )
    per = tiled.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("_v").alias("_sum"),
    )
    wt = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wc = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    total = F.sum("_sum").over(wt)
    cum = F.sum("_sum").over(wc)
    return per.select(
        "decile",
        "n",
        F.col("_sum").cast("double").alias("sum_value"),
        (F.col("_sum").cast("double") / total.cast("double")).alias(
            "share"
        ),
        (cum.cast("double") / total.cast("double")).alias("cum_share"),
    ).orderBy("decile")


def diversity_index(
    df: DataFrame,
    category_col: str,
) -> DataFrame:
    """Concentration/diversity readout of a categorical mix — the
    source-composition metric a training-data curator reads next to
    entropy and the Gini/Lorenz family before rebalancing: Simpson's
    index (probability two random rows share a category, drawn
    WITHOUT replacement), the Herfindahl–Hirschman index (same, with
    replacement), and the effective number of categories 1/HHI (how
    many equally-sized sources this mix is worth — the number
    rebalance_sources targets).

    Exactness shape: NULL categories drop; per-category counts are
    exact BIGINTs; the pair sums Σ nᵢ(nᵢ−1) and Σ nᵢ² multiply in
    DECIMAL(38,0) (O(n²) terms — the 64-bit overflow rule at ~4·10⁹
    rows), and each output float is ONE division chain of exact
    numbers in a fixed op sequence. Returns a single row:
    (n_categories, n_total, simpson, hhi, effective_categories);
    simpson is NULL when n_total < 2.

    Scale shape: one category-keyed count plus a 1-row fold — the
    category table is small by construction."""
    cats = (
        df.where(F.col(category_col).isNotNull())
        .groupBy(F.col(category_col).alias("_c"))
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    nd = F.col("_n").cast("decimal(38,0)")
    agg = cats.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_categories"),
        F.sum("_n").cast("bigint").alias("n_total"),
        F.sum(nd * (F.col("_n") - F.lit(1)).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("_pairs"),
        F.sum(nd * nd).cast("decimal(38,0)").alias("_sumsq"),
    )
    n = F.col("n_total").cast("double")
    simpson = F.when(
        F.col("n_total") >= 2,
        F.col("_pairs").cast("double") / (n * (n - F.lit(1.0))),
    )
    hhi = F.col("_sumsq").cast("double") / (n * n)
    eff = (n * n) / F.col("_sumsq").cast("double")
    return agg.select(
        "n_categories",
        "n_total",
        simpson.alias("simpson"),
        hhi.alias("hhi"),
        eff.alias("effective_categories"),
    )


def mann_whitney_u(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test between two groups —
    the nonparametric A/B readout when the metric is heavy-tailed or
    ordinal and a t-test's mean is the wrong summary (the standard
    pairing with ks_test in an experimentation stack).

    Exactness: ranks are midranks over ties; to stay in integers the
    DOUBLED rank-sum is computed — for each distinct value with
    c_total occurrences and c_before smaller ones, the doubled
    midrank is 2·c_before + c_total + 1, so
    2·R_a = Σ c_a·(2·c_before + c_total + 1) is an exact BIGINT and
    2·U_a = 2·R_a − n_a·(n_a+1) follows exactly; U_b comes from
    U_a + U_b = n_a·n_b. The normal z-score divides the exact
    integers in a fixed IEEE op order (the CUPED raw-compound
    precedent): z = (2U_a − n_a·n_b) / (2·σ) with
    σ = √(n_a·n_b·(n+1)/12) — no tie correction, matching the
    textbook large-sample form; its n³-sized product runs in
    DECIMAL(38,0) (the gini overflow rule), so z is exact-input at
    any n. The BIGINT u2 surface itself bounds each group at
    ~2·10⁹ rows (2·U ≤ 2·n_a·n_b < 2⁶³) — past that, read z.
    Output one row: (n_a, n_b, u2_a, u2_b, z).

    Scale: groupBy(value) collapses the input to |distinct values|
    rows before the ranking window — the window is unpartitioned but
    runs over that collapsed table (the degree_distribution
    rationale), so the full input never sorts globally."""
    ga, gb = F.lit(group_a), F.lit(group_b)
    vals = (
        df.where(
            F.col(group_col).isin([group_a, group_b])
            & F.col(value_col).isNotNull()
        )
        .groupBy(F.col(value_col).alias("_v"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("_ct"),
            F.sum(
                F.when(F.col(group_col) == ga, 1).otherwise(0)
            ).cast("bigint").alias("_ca"),
        )
    )
    w = Window.orderBy("_v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = vals.select(
        "_ct",
        "_ca",
        F.coalesce(F.sum("_ct").over(w), F.lit(0).cast("bigint"))
        .alias("_before"),
    )
    agg = ranked.agg(
        F.sum("_ca").cast("bigint").alias("n_a"),
        F.sum(F.col("_ct") - F.col("_ca")).cast("bigint").alias("n_b"),
        F.sum(
            F.col("_ca")
            * (F.lit(2) * F.col("_before") + F.col("_ct") + F.lit(1))
        ).cast("bigint").alias("_r2a"),
    )
    u2a = (
        F.col("_r2a") - F.col("n_a") * (F.col("n_a") + F.lit(1))
    ).cast("bigint")
    out = agg.select("n_a", "n_b", u2a.alias("u2_a"))
    u2b = (
        F.lit(2) * F.col("n_a") * F.col("n_b") - F.col("u2_a")
    ).cast("bigint")
    sigma = F.sqrt(
        (F.col("n_a").cast("decimal(38,0)") * F.col("n_b")
         * (F.col("n_a") + F.col("n_b") + F.lit(1))).cast("double")
        / F.lit(12.0)
    )
    z = F.when(
        sigma > 0,
        (F.col("u2_a") - F.col("n_a") * F.col("n_b")).cast("double")
        / (F.lit(2.0) * sigma),
    )
    return out.select("n_a", "n_b", "u2_a", u2b.alias("u2_b"),
                      z.alias("z"))


def eventually_follows(
    df: DataFrame,
    id_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Eventually-follows census — the process-mining primitive (the
    input to alpha-miner-style discovery): for every ordered pair of
    event types (a, b), the number of entities whose FIRST a strictly
    precedes their FIRST b, beside the number of entities exhibiting
    a at all — support = one exact integer division. Unlike
    event_transitions (adjacent steps), this sees across arbitrary
    gaps, which is what distinguishes "checkout eventually follows
    signup" from "checkout immediately follows signup".

    Semantics: first occurrences only (the standard EF relation);
    entities whose first a and first b tie on the timestamp count in
    NEITHER direction (strict <) — deterministic without inventing
    an order. Output: (antecedent, consequent, n_follow,
    n_antecedent, support), antecedent != consequent.

    Scale: the event log collapses to (entity, type, first_ts) —
    |entities|·|types| rows — before the entity-keyed pair self-join
    (≤ |types|² rows per entity), then one tiny type×type aggregate.
    Both shuffles are entity/pair-key-bounded; the raw log is
    touched once."""
    firsts = (
        df.where(
            F.col(type_col).isNotNull() & F.col(ts_col).isNotNull()
        )
        .groupBy(
            F.col(id_col).alias("_e"), F.col(type_col).alias("_t")
        )
        .agg(F.min(ts_col).alias("_ts"))
    )
    a = firsts.select(
        "_e", F.col("_t").alias("antecedent"), F.col("_ts").alias("_ta")
    )
    b = firsts.select(
        "_e", F.col("_t").alias("consequent"), F.col("_ts").alias("_tb")
    )
    follows = (
        a.join(b, "_e")
        .where(
            (F.col("antecedent") != F.col("consequent"))
            & (F.col("_ta") < F.col("_tb"))
        )
        .groupBy("antecedent", "consequent")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_follow"))
    )
    n_ant = firsts.groupBy(F.col("_t").alias("antecedent")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_antecedent")
    )
    return follows.join(F.broadcast(n_ant), "antecedent").select(
        "antecedent",
        "consequent",
        "n_follow",
        "n_antecedent",
        (
            F.col("n_follow").cast("double")
            / F.col("n_antecedent").cast("double")
        ).alias("support"),
    )


def ohlc_bars(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    bucket_ns: int = 3_600 * 10**9,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Open-high-low-close resampling — the canonical numeric
    time-series downsample (price bars, sensor rollups): per time
    bucket (and optional group), the first/max/min/last value plus
    volume (row count) and an exact-DECIMAL value sum.

    Determinism: open/close ride lexicographic struct min/max over
    (ts, value) — equal-timestamp ties resolve to the smallest value
    at the earliest instant and the largest at the latest, the same
    total order any engine's struct comparison yields (no
    first()/arg_min tie luck). ``ts_col`` is epoch-nanos; buckets are
    integer floor-division starts.

    Scale: ONE groupBy with map-side partial min/max/sum — the
    classic pre-aggregable rollup; bars merge across slices by the
    same min/max/sum algebra."""
    if bucket_ns < 1:
        raise ValueError(f"bucket_ns must be >= 1: {bucket_ns}")
    gcols = list(group_cols or [])
    # TRUE floor alignment: % follows the dividend's sign in Spark
    # (and DuckDB), so t - t % b would CEIL pre-epoch timestamps and
    # diverge from F.window's floor semantics; the double-mod
    # ((t % b) + b) % b is the sign-safe remainder
    t = F.col(ts_col).cast("bigint")
    b = F.lit(bucket_ns)
    bucket = (t - ((t % b) + b) % b).alias("bucket_start")
    pair = F.struct(
        F.col(ts_col).cast("bigint").alias("ts"),
        F.col(value_col).cast("double").alias("v"),
    )
    return (
        df.where(
            F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
        )
        .groupBy(*gcols, bucket)
        .agg(
            F.min(pair).getField("v").alias("open"),
            F.max(F.col(value_col).cast("double")).alias("high"),
            F.min(F.col(value_col).cast("double")).alias("low"),
            F.max(pair).getField("v").alias("close"),
            F.count(F.lit(1)).cast("bigint").alias("volume"),
            F.sum(F.col(value_col).cast("decimal(19,4)")).alias("_s"),
        )
        .select(
            *gcols,
            "bucket_start",
            "open",
            "high",
            "low",
            "close",
            "volume",
            F.col("_s").cast("double").alias("value_sum"),
        )
    )


def theil_sen(
    df: DataFrame,
    x_col: str,
    y_col: str,
    id_key: Column,
    k: int = 256,
) -> DataFrame:
    """Theil-Sen robust regression (Theil 1950/Sen 1968): slope =
    median of pairwise slopes, intercept = median of (y − slope·x) —
    the 29%-breakdown-point line fit that shrugs off outliers OLS
    chases. Exact Theil-Sen is O(n²) pairs; this is the standard
    bounded variant: a DETERMINISTIC hash sample (the k smallest
    md5-60 priorities of ``id_key`` — the quantile-sketch/KMV order-
    sampling primitive, no RNG state) supplies the pair population,
    so pair work is k²/2 whatever the data volume, while the
    intercept's median runs over the FULL data with the fitted slope.

    Output: one row (slope, intercept, n_sample, n_pairs). Both
    medians are exact interpolated percentiles (the cross-engine
    bit-parity primitive); equal-x pairs are excluded (undefined
    slope). Scale: bottom-k is a TakeOrderedAndProject; the pair
    self-join is broadcast-sized by construction; the intercept
    median is the one full-data pass."""
    from h3_indexer_spark.operators.sketches import _md5_60bit

    if k < 8:
        raise ValueError(f"k must be >= 8, got {k}")
    # The k-row sample feeds THREE branches (both self-join sides and
    # the n_sample census); without a materialization each branch
    # re-runs the full-table TakeOrderedAndProject — profiled as 3
    # fact scans + 3 top-k sorts per execution at sf0.1. The sample is
    # k rows by construction (broadcast-sized), so an eager
    # localCheckpoint pins it with one job and the remaining plan
    # scans the fact exactly once (the intercept's full-data median).
    # Deterministic: the (_h, _x, _y) order is total over the selected
    # columns, so the materialized k-set is the same set the lazy
    # plan would re-derive.
    pts = (
        df.where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .select(
            _md5_60bit(id_key).alias("_h"),
            F.col(x_col).cast("double").alias("_x"),
            F.col(y_col).cast("double").alias("_y"),
        )
        .orderBy("_h", "_x", "_y")
        .limit(k)
        .localCheckpoint()
    )
    a = pts.select(
        F.col("_h").alias("_ha"), F.col("_x").alias("_xa"),
        F.col("_y").alias("_ya"),
    )
    b = pts.select(
        F.col("_h").alias("_hb"), F.col("_x").alias("_xb"),
        F.col("_y").alias("_yb"),
    )
    slopes = (
        a.crossJoin(F.broadcast(b))
        .where((F.col("_ha") < F.col("_hb")) & (F.col("_xa") != F.col("_xb")))
        .select(
            (
                (F.col("_yb") - F.col("_ya"))
                / (F.col("_xb") - F.col("_xa"))
            ).alias("_s")
        )
    )
    fit = slopes.agg(
        F.expr("percentile(_s, 0.5)").alias("slope"),
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
    ).crossJoin(
        F.broadcast(pts.agg(F.count(F.lit(1)).cast("bigint").alias("n_sample")))
    )
    full = df.where(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(
        F.col(x_col).cast("double").alias("_x"),
        F.col(y_col).cast("double").alias("_y"),
    )
    return (
        full.crossJoin(F.broadcast(fit))
        .select(
            "slope",
            "n_pairs",
            "n_sample",
            (F.col("_y") - F.col("slope") * F.col("_x")).alias("_r"),
        )
        .groupBy("slope", "n_pairs", "n_sample")
        .agg(F.expr("percentile(_r, 0.5)").alias("intercept"))
        .select("slope", "intercept", "n_sample", "n_pairs")
    )


def one_way_anova(
    df: DataFrame,
    group_col: str,
    value_col: str,
    weight_col: str | None = None,
) -> DataFrame:
    """One-way ANOVA over ``value_col`` across the levels of
    ``group_col``: the F statistic for "do the group means differ"
    plus the eta-squared effect size — the k-sample generalization of
    the two-arm readout (ab_test_zscore) every experiment platform
    ships.

    Determinism (the k-group hazard): SSB = Σ_g S_g²/n_g − S²/N needs
    a SUM over the k group terms, and a float SUM's addend order is
    engine-scheduled. Each group's term is therefore quantized to the
    exact DECIMAL(38,6) CAST of the double (S_g·S_g)/n_g and
    DECIMAL-summed, so the fold is order-free (the LM-score
    quantization recipe, in decimal because a FLOOR-to-BIGINT
    overflows 2^63 once Σv reaches ~1e10 — Spark's floor(double)
    returns LONG). The input double is bit-identical in any IEEE
    engine because every sufficient statistic is a SCALE-0 integer
    (the grouped_moments recipe): values scale exactly to 1e-4-unit
    BIGINT quanta, Σc and Σc² fold as scale-0 DECIMALs whose double
    casts are a SINGLE correctly-rounded int→double conversion in
    both engines — a scaled decimal's cast (int128 ÷ 10^scale in
    float) double-rounds and drifts one ulp between engines at 1e16+
    magnitudes, which a live driver mismatch on the sibling
    cronbach/mde shapes demonstrated. F and eta² are unit-invariant,
    so no quanta ever divide back out; the final compound is fixed
    IEEE op order, ROUND 9.

    Scale: ONE groupBy(group) with map-side partial sums, then a
    k-row fold — nothing else touches the data. k (distinct groups)
    is assumed report-sized (it is the number of experiment arms /
    categories), so the second aggregation is a single-partition
    no-op at any corpus size.

    Output: one row (k_groups, n_total, f_stat, eta_sq); f_stat is
    NULL when k < 2 or N ≤ k (no within-group degrees of freedom).

    ``weight_col`` (optional BIGINT count column) folds a PRE-GROUPED
    value histogram instead of raw rows — each (group, value) row
    stands for ``weight`` identical observations, so _n/_s/_q become
    Σw / Σw·v / Σw·v² (exact scale-0 DECIMAL sums, same bounds as the
    row path) and every downstream double is bit-identical to folding
    the expanded rows. Callers that already hold a histogram (e.g.
    brown_forsythe's median table) skip a full re-scan of the fact.
    """
    v = F.round(F.col(value_col).cast("double") * F.lit(10000.0), 0).cast(
        "long"
    ).cast("decimal(19,0)")
    if weight_col is None:
        n_agg = F.count(F.lit(1)).cast("bigint").alias("_n")
        s_agg = F.sum(v).alias("_s")
        q_agg = F.sum(v * v).alias("_q")
    else:
        wd = F.col(weight_col).cast("decimal(19,0)")
        n_agg = F.sum(weight_col).cast("bigint").alias("_n")
        s_agg = F.sum(wd * v).alias("_s")
        q_agg = F.sum(wd * v * v).alias("_q")
    g = (
        df.where(
            F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
        )
        .groupBy(group_col)
        .agg(n_agg, s_agg, q_agg)
    )
    sd = F.col("_s").cast("double")
    nd = F.col("_n").cast("double")
    term_q = ((sd * sd) / nd).cast("decimal(38,6)")
    fold = g.select("_n", "_s", "_q", term_q.alias("_tq")).agg(
        F.count(F.lit(1)).cast("bigint").alias("k_groups"),
        F.sum("_n").cast("bigint").alias("n_total"),
        F.sum(F.col("_s").cast("decimal(38,0)")).alias("_ss"),
        F.sum(F.col("_q").cast("decimal(38,0)")).alias("_qq"),
        F.sum("_tq").alias("_t"),
    )
    k = F.col("k_groups").cast("double")
    n = F.col("n_total").cast("double")
    t = F.col("_t").cast("double")
    grand = (F.col("_ss").cast("double") * F.col("_ss").cast("double")) / n
    ssb = t - grand
    ssw = F.col("_qq").cast("double") - t
    # ssw = 0 (all values equal within every group) has no defined F;
    # guard it or ANSI mode raises DIVIDE_BY_ZERO instead of NULL
    f_ok = (
        (F.col("k_groups") >= 2)
        & (F.col("n_total") > F.col("k_groups"))
        & (ssw > 0)
    )
    return fold.select(
        "k_groups",
        "n_total",
        F.round(
            F.when(f_ok, (ssb / (k - F.lit(1.0))) / (ssw / (n - k))), 9
        ).alias("f_stat"),
        F.round(F.when(f_ok, ssb / (ssb + ssw)), 9).alias("eta_sq"),
    )


# Poisson(1) CDF thresholds on the shared 60-bit uniform scale:
# a draw u ∈ [0, 2^60) maps to the bootstrap weight
# w = |{k : u ≥ _POISSON1_Q60[k]}| ∈ [0, 8] — truncated-Poisson(1)
# resampling counts (P(w > 8) < 1e-9; E[w] = 1 to the truncation).
# The thresholds are INTEGER literals computed once here and embedded
# verbatim in the SQL oracle, so no transcendental is evaluated at
# query time in either engine.
def _poisson1_q60() -> list[int]:
    import math

    cdf, out = 0.0, []
    for kk in range(8):
        cdf += math.exp(-1.0) / math.factorial(kk)
        out.append(math.floor(cdf * 2**60))
    return out


_POISSON1_Q60 = _poisson1_q60()


def bootstrap_mean_ci(
    df: DataFrame,
    key_col: str,
    value_col: str,
    b: int = 100,
    alpha: float = 0.025,
    seed_prefix: str = "boot",
) -> DataFrame:
    """Poisson bootstrap confidence interval for the mean of
    ``value_col`` — the scale-out resampling scheme (Chamandy et al.,
    "Estimating Uncertainty for Massive Data Streams", and the
    standard trick behind distributed CIs): instead of materializing
    B resamples, every row draws an independent Poisson(1) resampling
    WEIGHT per replicate, so one scan computes all B replicate means.

    Determinism: the weight for (row, rep) comes from the shared
    60-bit md5 band (curation.md5_band60 — the cross-operator
    determinism contract) compared against precomputed integer CDF
    thresholds (_POISSON1_Q60); replicate means are exact
    DECIMAL sums divided once in double. The CI bounds are ORDER
    STATISTICS of the B replicate means (ceil(alpha·B)-th /
    (B+1−that)-th of the sorted means, rep-id tiebreak) — no float
    interpolation to disagree on.

    Scale: the explode fans each row to B rows, but map-side partial
    aggregation collapses them to ≤ B accumulator rows per partition
    before the shuffle — the exchange carries B rows/partition
    regardless of input size, and the rank window runs over exactly
    B rows. Cost is B hashes per input row, the honest price of a
    bootstrap; B is the knob.

    Output: one row (n_rows, point_mean, b_reps, ci_lo, ci_hi).
    """
    from h3_indexer_spark.operators.curation import md5_band60

    if not 1 <= b <= 10_000:
        raise ValueError(f"b must be in [1, 10000]: {b}")
    import math

    lo_rank = max(1, math.ceil(alpha * b))
    hi_rank = b + 1 - lo_rank
    v = F.col(value_col).cast("decimal(18,4)")
    base = df.where(F.col(value_col).isNotNull()).select(
        F.col(key_col).cast("string").alias("_k"), v.alias("_v")
    )
    u = md5_band60(
        F.lit(seed_prefix),
        F.concat(F.col("_k"), F.lit(":"), F.col("rep").cast("string")),
    )
    w = None
    for t in _POISSON1_Q60:
        c = (F.col("_u") >= F.lit(t)).cast("int")
        w = c if w is None else w + c
    means = (
        base.select(
            "_k",
            "_v",
            F.explode(F.expr(f"sequence(1, {b})")).alias("rep"),
        )
        .select("rep", "_v", u.alias("_u"))
        .select("rep", "_v", w.alias("_w"))
        .groupBy("rep")
        .agg(
            F.sum(F.col("_w") * F.col("_v")).alias("_sw"),
            F.sum("_w").cast("bigint").alias("_nw"),
        )
        .select(
            "rep",
            F.when(
                F.col("_nw") > 0,
                F.col("_sw").cast("double") / F.col("_nw").cast("double"),
            ).alias("_mean"),
        )
    )
    rn = F.row_number().over(
        Window.orderBy(F.col("_mean").asc(), F.col("rep").asc())
    )
    ci = (
        means.select("_mean", rn.alias("_rn"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("b_reps"),
            F.min(F.when(F.col("_rn") == lo_rank, F.col("_mean"))).alias(
                "ci_lo"
            ),
            F.min(F.when(F.col("_rn") == hi_rank, F.col("_mean"))).alias(
                "ci_hi"
            ),
        )
    )
    point = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        (
            F.sum("_v").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("point_mean"),
    )
    return point.crossJoin(F.broadcast(ci))


def cramers_v(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Cramér's V effect size for two categorical columns — the
    bounded [0, 1] strength readout on top of
    chi_square_independence's per-cell table (chi-square says
    "dependent?", V says "how much" and is comparable across tables
    of different size and shape).

    The cross-cell χ² fold is the k-group hazard again (float SUM
    order): each cell's contribution — a deterministic double over
    exact integer counts — is quantized to DECIMAL(38,12) and
    DECIMAL-summed (the one_way_anova recipe), then
    V = sqrt((χ²/n) / (min(r,c) − 1)) in fixed IEEE op order,
    ROUND 9. Scale: chi_square_independence's ONE two-key groupBy
    dominates; this adds a cell-cardinality fold.

    Output: one row (n_obs, r_levels, c_levels, chi2, cramers_v);
    V is NULL for a degenerate 1×c / r×1 table.
    """
    cells = chi_square_independence(df, col_a, col_b)
    fold = cells.agg(
        F.sum("observed").cast("bigint").alias("n_obs"),
        F.count_distinct(F.col(col_a)).cast("bigint").alias("r_levels"),
        F.count_distinct(F.col(col_b)).cast("bigint").alias("c_levels"),
        F.sum(F.col("contribution").cast("decimal(38,12)")).alias("_chi2"),
    )
    chi2 = F.col("_chi2").cast("double")
    n = F.col("n_obs").cast("double")
    mindim = F.least(F.col("r_levels"), F.col("c_levels")).cast("double")
    ok = (F.col("r_levels") >= 2) & (F.col("c_levels") >= 2) & (
        F.col("n_obs") > 0
    )
    return fold.select(
        "n_obs",
        "r_levels",
        "c_levels",
        F.round(chi2, 9).alias("chi2"),
        F.round(
            F.when(ok, F.sqrt((chi2 / n) / (mindim - F.lit(1.0)))), 9
        ).alias("cramers_v"),
    )


def diff_in_diff(
    df: DataFrame,
    treat_col: str,
    post_col: str,
    value_col: str,
) -> DataFrame:
    """Difference-in-differences readout: the 2×2
    (treated, pre/post) mean table and the DiD estimate
    (ȳ_t,post − ȳ_t,pre) − (ȳ_c,post − ȳ_c,pre) — the workhorse
    causal contrast for launches and natural experiments, under the
    parallel-trends assumption (which is the analyst's to defend; the
    engine's job is the exact readout). ``treat_col`` / ``post_col``
    are boolean columns.

    ONE conditional aggregation (the ab_test_zscore shape): four
    exact DECIMAL(18,4) sums and four counts folded map-side to a
    single row — no shuffle beyond the 1-row fold, and every mean is
    exact-decimal ÷ exact-count in one IEEE op; the DiD compound is
    fixed op order, ROUND 9. A missing cell (n=0) yields NULL means
    and a NULL estimate rather than zero rows.

    Output: one row (n_t_pre, n_t_post, n_c_pre, n_c_post,
    mean_t_pre, mean_t_post, mean_c_pre, mean_c_post, did).
    """
    v = F.col(value_col).cast("decimal(18,4)")
    t, p = F.col(treat_col), F.col(post_col)
    cells = {
        "t_post": t & p,
        "t_pre": t & ~p,
        "c_post": ~t & p,
        "c_pre": ~t & ~p,
    }
    aggs = []
    for name, cond in cells.items():
        aggs.append(
            F.count(F.when(cond, F.lit(1))).alias(f"n_{name}")
        )
        aggs.append(F.sum(F.when(cond, v)).alias(f"_s_{name}"))
    j = df.where(
        F.col(value_col).isNotNull()
        & t.isNotNull()
        & p.isNotNull()
    ).agg(*aggs)
    means = {
        name: F.col(f"_s_{name}").cast("double")
        / F.col(f"n_{name}").cast("double")
        for name in cells
    }
    have_all = None
    for name in cells:
        c = F.col(f"n_{name}") > 0
        have_all = c if have_all is None else (have_all & c)
    did = (means["t_post"] - means["t_pre"]) - (
        means["c_post"] - means["c_pre"]
    )
    return j.select(
        "n_t_pre",
        "n_t_post",
        "n_c_pre",
        "n_c_post",
        means["t_pre"].alias("mean_t_pre"),
        means["t_post"].alias("mean_t_post"),
        means["c_pre"].alias("mean_c_pre"),
        means["c_post"].alias("mean_c_post"),
        # ROUND 9, not 12: at did magnitudes ~1e3, 12 decimals is 16
        # significant digits — beyond double precision, so each
        # engine's rounding picks a different representable neighbor
        # (caught by the sf0.1 oracle sweep)
        F.round(F.when(have_all, did), 9).alias("did"),
    )


def psm_match(
    df: DataFrame,
    id_col: str,
    treat_col: str,
    score_col: str,
    caliper: float,
) -> DataFrame:
    """Propensity-score matching, nearest-control-with-replacement:
    for every treated unit, the control whose score is closest within
    ``caliper`` — the matching step of an observational causal
    analysis (the score itself comes from whatever model the analyst
    trained; this operator owns the DISTRIBUTED matching, which is
    the part that breaks at scale). With-replacement matching is the
    parallelizable standard; greedy without-replacement is inherently
    sequential and deliberately out of scope.

    Determinism: scores are quantized to BIGINT microunits
    (ROUND(score·1e6) — identical on any engine for identical input
    doubles), so the match distance and the (diff, control_id)
    tie-break are pure integer ordering.

    Scale: controls bucket by ``caliper``-width score bands; each
    treated unit probes its own band ±1 (a 3-row explode, every
    in-caliper control is within one band), equi-joins on the band,
    and keeps rank 1 per treated unit (WindowGroupLimit). Work is
    Σ band-pair volume — never treated × controls — and AQE's skew
    split handles a pile-up band. No float, no crossJoin, no
    broadcast of a growing side.

    Output: (treated_id, control_id, score_q_treated,
    score_q_control, diff_q) — one row per treated unit that found a
    match; score_q_* are microunit BIGINTs.
    """
    if caliper <= 0:
        raise ValueError(f"caliper must be positive: {caliper}")
    q = 10**6
    cq = int(round(caliper * q))
    if cq == 0:
        raise ValueError(f"caliper {caliper} rounds to 0 microunits")
    s_q = F.round(F.col(score_col).cast("double") * F.lit(float(q))).cast(
        "bigint"
    )
    base = df.where(
        F.col(score_col).isNotNull() & F.col(treat_col).isNotNull()
    ).select(
        F.col(id_col).alias("_id"),
        F.col(treat_col).cast("boolean").alias("_t"),
        s_q.alias("_sq"),
    )
    # floor-division banding must be sign-safe: BIGINT div truncates
    # toward zero, so use (sq - pmod) / cq which floors for any sign
    band = ((F.col("_sq") - F.pmod(F.col("_sq"), F.lit(cq))) / cq).cast(
        "bigint"
    )
    controls = base.where(~F.col("_t")).select(
        F.col("_id").alias("control_id"),
        F.col("_sq").alias("score_q_control"),
        band.alias("_band"),
    )
    treated = (
        base.where(F.col("_t"))
        .select(
            F.col("_id").alias("treated_id"),
            F.col("_sq").alias("score_q_treated"),
            band.alias("_b0"),
        )
        .select(
            "treated_id",
            "score_q_treated",
            F.explode(
                F.array(
                    F.col("_b0") - F.lit(1), F.col("_b0"),
                    F.col("_b0") + F.lit(1),
                )
            ).alias("_band"),
        )
    )
    cand = (
        treated.join(controls, "_band")
        .withColumn(
            "diff_q",
            F.abs(F.col("score_q_treated") - F.col("score_q_control")),
        )
        .where(F.col("diff_q") <= cq)
    )
    w = Window.partitionBy("treated_id").orderBy(
        F.col("diff_q").asc(), F.col("control_id").asc()
    )
    return (
        cand.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            "treated_id",
            "control_id",
            "score_q_treated",
            "score_q_control",
            "diff_q",
        )
    )


def spearman_corr(
    df: DataFrame,
    col_x: str,
    col_y: str,
) -> DataFrame:
    """Spearman rank correlation between two numeric columns — the
    monotone-association readout that is robust to outliers and
    nonlinearity (Pearson on average ranks, with the standard
    mid-rank treatment of ties).

    All-integer rank surface: each column is collapsed to its
    DISTINCT values with counts, a cumulative window over the
    |distinct|-row histogram yields the DOUBLED mid-rank
    rank2 = 2·cum − cnt + 1 (an exact BIGINT — mid-ranks are
    half-integers, so doubling keeps the whole surface integral and
    hash-checkable), and the rank tables broadcast back onto the
    fact. Σrank2, Σrank2² and the cross product fold as
    DECIMAL(38,0) — exact integer sums in both engines — and the
    final rho is the Pearson compound over their doubles in fixed
    IEEE op order (rho is invariant to the ×2 rank scaling), ROUND 9.

    Scale: the rank histograms are |distinct|-row tables (the
    Mann-Whitney collapse — the global window orders distinct values,
    never rows), the joins back are broadcasts, and the final fold is
    ONE map-side-partial aggregation. For near-unique columns
    (|distinct| → n) the histogram window degenerates to a global
    sort — use bounded-cardinality features or pre-binned values at
    corpus scale, which is the documented contract here.

    Output: one row (n_pairs, rho); rho NULL when either column is
    constant (zero rank variance) or n < 2.
    """
    src = df.where(
        F.col(col_x).isNotNull() & F.col(col_y).isNotNull()
    ).select(F.col(col_x).alias("_x"), F.col(col_y).alias("_y"))
    # ONE scan: collapse to the JOINT (x, y) histogram first (≤
    # |distinct x|·|distinct y| rows, partial-aggregated map-side);
    # both marginal rank histograms AND the final fold derive from it
    # with count weights — the former shape re-scanned the fact three
    # times (one per marginal histogram + the fold). Every sum below
    # is the same exact integer as the per-row fold, so rho's bits
    # are unchanged.
    joint = src.groupBy("_x", "_y").agg(
        F.count(F.lit(1)).cast("bigint").alias("_n")
    )

    def _rank2(col: str) -> DataFrame:
        hist = joint.groupBy(col).agg(
            F.sum("_n").cast("bigint").alias("_cnt")
        )
        w = (
            Window.orderBy(F.col(col).asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cum = F.sum("_cnt").over(w)
        return hist.select(
            col,
            (F.lit(2) * cum - F.col("_cnt") + F.lit(1))
            .cast("bigint")
            .alias(f"{col}r2"),
        )

    ranked = joint.join(F.broadcast(_rank2("_x")), "_x").join(
        F.broadcast(_rank2("_y")), "_y"
    )
    nw = F.col("_n").cast("decimal(19,0)")
    rx = F.col("_xr2").cast("decimal(19,0)")
    ry = F.col("_yr2").cast("decimal(19,0)")
    fold = ranked.agg(
        F.sum("_n").cast("bigint").alias("n_pairs"),
        F.sum(nw * rx).alias("_sx"),
        F.sum(nw * ry).alias("_sy"),
        F.sum(nw * rx * rx).alias("_qx"),
        F.sum(nw * ry * ry).alias("_qy"),
        F.sum(nw * rx * ry).alias("_sp"),
    )
    n = F.col("n_pairs").cast("double")
    sx, sy = F.col("_sx").cast("double"), F.col("_sy").cast("double")
    qx, qy = F.col("_qx").cast("double"), F.col("_qy").cast("double")
    sp = F.col("_sp").cast("double")
    varx = n * qx - sx * sx
    vary = n * qy - sy * sy
    ok = (F.col("n_pairs") >= 2) & (varx > 0) & (vary > 0)
    return fold.select(
        "n_pairs",
        F.round(
            F.when(ok, (n * sp - sx * sy) / (F.sqrt(varx) * F.sqrt(vary))),
            9,
        ).alias("rho"),
    )


def brown_forsythe(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Brown–Forsythe (median-based Levene) test for equal variances
    across the levels of ``group_col`` — the homoscedasticity check
    that guards one_way_anova's pooled-variance assumption: an ANOVA
    F over the absolute deviations from each GROUP MEDIAN (medians,
    not means, keep the test robust under skew — the recommended
    variant).

    Exact medians at scale: values quantize to DECIMAL(18,4) and
    collapse to a per-group value HISTOGRAM; a per-group cumulative
    window over the |distinct|-row histogram finds the two middle
    order statistics, and the DOUBLED median median2 = v_lo + v_hi
    stays an exact DECIMAL (never a lossy /2). The deviation surface
    is likewise doubled — z2 = |2v − median2|, exact DECIMAL — and
    the W statistic is computed by one_way_anova on z2 (F is
    invariant under linear scaling, so the ×2 cancels; same
    DECIMAL(38,6)-quantized order-free fold, ROUND 9).

    Scale: ONE groupBy(group, value) histogram with map-side
    partials, one window over distinct values per group, a k-row
    broadcast of medians back, then the anova fold — the fact is
    never globally sorted.

    Output: one row (k_groups, n_total, w_stat); NULL when k < 2 or
    N ≤ k.
    """
    v = F.col(value_col).cast("decimal(18,4)")
    src = df.where(
        F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(F.col(group_col).alias("_g"), v.alias("_v"))
    # trailing no-op filter (src pre-filters nulls): the median
    # join-back below infers isnotnull(_g) on ITS hist reference only,
    # and the anova stage's z2-notnull guard walks down to an
    # isnotnull(CAST(value)) scan filter on the deviation branch only —
    # both sink below the aggregation at different depths and break
    # AQE exchange reuse, so the histogram (and the fact scan under
    # it) builds twice. The explicit (_g, _v) filter plants the same
    # predicates in every branch.
    hist = (
        src.groupBy("_g", "_v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_cnt"))
        .where(F.col("_g").isNotNull() & F.col("_v").isNotNull())
    )
    w = (
        Window.partitionBy("_g")
        .orderBy(F.col("_v").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wg = Window.partitionBy("_g")
    cum = F.sum("_cnt").over(w)
    ng = F.sum("_cnt").over(wg)
    cdf = hist.select(
        "_g",
        "_v",
        cum.alias("_cum"),
        ng.alias("_ng"),
    )
    # floor((n+1)/2) and floor(n/2)+1 via exact integer shifts (no
    # float division anywhere near an order-statistic index)
    lo_t = F.shiftright(F.col("_ng") + F.lit(1), 1)
    hi_t = F.shiftright(F.col("_ng"), 1) + F.lit(1)
    medians = cdf.groupBy("_g").agg(
        F.min(F.when(F.col("_cum") >= lo_t, F.col("_v"))).alias("_mlo"),
        F.min(F.when(F.col("_cum") >= hi_t, F.col("_v"))).alias("_mhi"),
    )
    m2 = (F.col("_mlo") + F.col("_mhi")).alias("_m2")
    # deviations from the HISTOGRAM, not the fact: each (g, v) level
    # stands for _cnt identical z2 values, so the weighted anova fold
    # (Σcnt / Σcnt·z / Σcnt·z² — exact integers either way) reads the
    # |distinct|-row table and the fact is scanned exactly ONCE (the
    # histogram build); the former per-row z join re-scanned it.
    z = hist.join(F.broadcast(medians.select("_g", m2)), "_g").select(
        "_g",
        "_cnt",
        F.abs(F.col("_v") + F.col("_v") - F.col("_m2"))
        .cast("decimal(18,4)")
        .alias("_z2"),
    )
    res = one_way_anova(z, "_g", "_z2", weight_col="_cnt")
    return res.select(
        "k_groups",
        "n_total",
        F.col("f_stat").alias("w_stat"),
    )


def cronbach_alpha(
    df: DataFrame,
    subject_col: str,
    item_col: str,
    value_col: str,
) -> DataFrame:
    """Cronbach's alpha internal-consistency coefficient over a long
    (subject, item, value) table — the reliability readout for
    multi-item scores (label batteries, per-dimension quality
    scores): alpha = k/(k−1) · (1 − Σ var_item / var_total), where
    var_total is the variance of per-subject TOTAL scores. Completes
    the agreement family (cohens_kappa / fleiss_kappa are
    categorical; alpha is the numeric-scale sibling). Absent
    (subject, item) cells score 0 — the dense-matrix convention, so
    every subject with any scored item enters every item's variance.

    Determinism (the grouped_moments integer recipe): values scale
    exactly to 1e-4-unit BIGINTs (caps declared scale at 4 decimals;
    |cell| < ~9e14 in quanta), so cell scores, per-item Σc/Σc² and
    per-subject-total Σt/Σt² are EXACT scale-0 DECIMAL integer sums
    whose double casts are a SINGLE correctly-rounded int→double
    conversion in both engines — no decimal-scale division to
    double-round (the (38,8)→double path drifts one ulp between
    engines at 1e16+ magnitudes). Each item's population variance
    (in quanta²) is quantized to DECIMAL(38,6) and DECIMAL-summed so
    the k-item fold is order-free (the one_way_anova recipe); alpha
    is unit-invariant and the two variance readouts divide by 1e8
    once at the end, fixed IEEE op order, ROUND 9.

    Scale: one groupBy(subject, item), one groupBy(item) and one
    groupBy(subject) over the cell table — all map-side-partial —
    plus two 1-row broadcast folds. Nothing holds the k×N matrix.

    Output: one row (k_items, n_subjects, sum_item_var, total_var,
    alpha); alpha NULL when k < 2 or var_total = 0.
    """
    c = F.round(F.col(value_col).cast("double") * F.lit(10000.0), 0).cast(
        "long"
    )
    cells = (
        df.where(
            F.col(subject_col).isNotNull()
            & F.col(item_col).isNotNull()
            & F.col(value_col).isNotNull()
        )
        .groupBy(
            F.col(subject_col).alias("_s"), F.col(item_col).alias("_i")
        )
        .agg(F.sum(c).cast("bigint").alias("_c"))
    )
    cd = F.col("_c").cast("decimal(19,0)")
    totals = cells.groupBy("_s").agg(
        F.sum("_c").cast("bigint").alias("_t")
    )
    td = F.col("_t").cast("decimal(19,0)")
    tot_fold = totals.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_subjects"),
        F.sum(td).alias("_st"),
        F.sum(td * td).alias("_qt"),
    )
    items = cells.groupBy("_i").agg(
        F.sum(cd).alias("_sc"),
        F.sum(cd * cd).alias("_qc"),
    )
    nd = F.col("n_subjects").cast("double")
    var_i = (
        (
            F.col("_qc").cast("double")
            - F.col("_sc").cast("double") * F.col("_sc").cast("double") / nd
        )
        / nd
    ).cast("decimal(38,6)")
    item_fold = (
        items.crossJoin(F.broadcast(tot_fold.select("n_subjects")))
        .select(var_i.alias("_vq"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("k_items"),
            F.sum("_vq").alias("_sumvar"),
        )
    )
    joined = tot_fold.crossJoin(F.broadcast(item_fold))
    n = F.col("n_subjects").cast("double")
    k = F.col("k_items").cast("double")
    var_t = (
        F.col("_qt").cast("double")
        - F.col("_st").cast("double") * F.col("_st").cast("double") / n
    ) / n
    sum_var = F.col("_sumvar").cast("double")
    ok = (F.col("k_items") >= 2) & (var_t > 0)
    unit = F.lit(100000000.0)  # (1e4 quanta)² back to value units
    return joined.select(
        "k_items",
        "n_subjects",
        F.round(sum_var / unit, 9).alias("sum_item_var"),
        F.round(var_t / unit, 9).alias("total_var"),
        F.round(
            F.when(ok, (k / (k - F.lit(1.0))) * (F.lit(1.0) - sum_var / var_t)),
            9,
        ).alias("alpha"),
    )


def simpsons_check(
    df: DataFrame,
    treat_col: str,
    outcome_col: str,
    stratum_col: str,
) -> DataFrame:
    """Simpson's-paradox diagnostic: the treated-vs-control outcome
    rate difference per STRATUM beside the AGGREGATE difference, with
    a flip flag wherever the stratum-level sign contradicts the
    pooled sign — the standard confounding check before reading any
    pooled A/B or observational contrast (the stratified companion
    to ab_test / diff_in_diff). ``treat_col`` / ``outcome_col`` are
    boolean columns.

    Exact-integer surface: per-stratum cells are four conditional
    COUNTs, the pooled cells are their BIGINT sums re-folded from the
    same stratum-aggregation LINEAGE — the static plan prints two
    branches, but the branches share their first exchange and AQE's
    exchange reuse collapses them, so the fact is scanned and
    shuffled once (plan-locked in tests/test_plans.py). Rates are one
    exact-int ÷ exact-int IEEE op each and the differences fixed op
    order, ROUND 9. The flip flag is NULL (not false) when either
    side of the comparison is undefined (an empty arm).

    Scale: ONE groupBy(stratum) with map-side partials + a 1-row
    broadcast of the pooled fold back onto the stratum rows.

    Output: one row per stratum (stratum, n_t, conv_t, n_c, conv_c,
    rate_t, rate_c, diff, agg_diff, flipped).
    """
    t, o = F.col(treat_col), F.col(outcome_col)
    cells = (
        df.where(t.isNotNull() & o.isNotNull() & F.col(stratum_col).isNotNull())
        .groupBy(F.col(stratum_col).alias("stratum"))
        .agg(
            F.count(F.when(t, F.lit(1))).cast("bigint").alias("n_t"),
            F.count(F.when(t & o, F.lit(1))).cast("bigint").alias("conv_t"),
            F.count(F.when(~t, F.lit(1))).cast("bigint").alias("n_c"),
            F.count(F.when(~t & o, F.lit(1))).cast("bigint").alias("conv_c"),
        )
    )
    pooled = cells.agg(
        F.sum("n_t").cast("bigint").alias("_pn_t"),
        F.sum("conv_t").cast("bigint").alias("_pc_t"),
        F.sum("n_c").cast("bigint").alias("_pn_c"),
        F.sum("conv_c").cast("bigint").alias("_pc_c"),
    )

    def _rate(c: str, n: str):
        return F.when(
            F.col(n) > 0,
            F.col(c).cast("double") / F.col(n).cast("double"),
        )

    agg_diff = F.when(
        (F.col("_pn_t") > 0) & (F.col("_pn_c") > 0),
        F.col("_pc_t").cast("double") / F.col("_pn_t").cast("double")
        - F.col("_pc_c").cast("double") / F.col("_pn_c").cast("double"),
    )
    diff = _rate("conv_t", "n_t") - _rate("conv_c", "n_c")
    out = cells.crossJoin(F.broadcast(pooled)).select(
        "stratum",
        "n_t",
        "conv_t",
        "n_c",
        "conv_c",
        F.round(_rate("conv_t", "n_t"), 9).alias("rate_t"),
        F.round(_rate("conv_c", "n_c"), 9).alias("rate_c"),
        F.round(diff, 9).alias("diff"),
        F.round(agg_diff, 9).alias("agg_diff"),
        (
            ((diff > 0) & (agg_diff < 0)) | ((diff < 0) & (agg_diff > 0))
        ).alias("flipped"),
    )
    return out


# Two-sided 97.5% and 80% standard-normal quantiles — the classic
# alpha=0.05 / power=0.80 MDE constants, embedded as literals here
# and verbatim in the SQL oracle so no inverse-CDF is evaluated at
# query time in either engine.
_Z_975 = 1.959963984540054
_Z_80 = 0.8416212335729143


def mde_readout(
    df: DataFrame,
    treat_col: str,
    value_col: str,
) -> DataFrame:
    """Minimum-detectable-effect readout for a two-arm experiment at
    alpha = 0.05 (two-sided) / power = 0.80: from each arm's observed
    count and sample variance, MDE_abs = (z_{0.975} + z_{0.80}) ·
    sqrt(s²_t/n_t + s²_c/n_c) and MDE_rel = MDE_abs / mean_c — the
    "how small an effect could this experiment even see" companion to
    ab_test_zscore (which answers "did it move"), sized from the SAME
    one-pass sums. ``treat_col`` is a boolean arm flag.

    Determinism (the grouped_moments integer recipe): values scale
    exactly to 1e-4-unit BIGINTs, so ONE conditional aggregation
    (the diff_in_diff shape) produces exact scale-0 DECIMAL integer
    sums and sums-of-squares per arm whose double casts are a single
    correctly-rounded int→double conversion in both engines (the
    decimal-scale→double path double-rounds and drifts one ulp at
    1e16+ magnitudes); variances, the pooled SE and both MDEs then
    divide the quanta out once each in fixed IEEE op order, ROUND 9.
    The z constants are literal doubles shared with the oracle.

    Scale: one map-side-partial scan to a single row; nothing else.

    Output: one row (n_t, n_c, mean_t, mean_c, var_t, var_c, se,
    mde_abs, mde_rel); NULL readouts when either arm has n < 2 (no
    sample variance) or mean_c = 0 (relative MDE only).
    """
    c = F.round(F.col(value_col).cast("double") * F.lit(10000.0), 0).cast(
        "long"
    )
    cd = c.cast("decimal(19,0)")
    t = F.col(treat_col)
    fold = df.where(t.isNotNull() & F.col(value_col).isNotNull()).agg(
        F.count(F.when(t, F.lit(1))).cast("bigint").alias("n_t"),
        F.sum(F.when(t, cd)).alias("_s_t"),
        F.sum(F.when(t, cd * cd)).alias("_q_t"),
        F.count(F.when(~t, F.lit(1))).cast("bigint").alias("n_c"),
        F.sum(F.when(~t, cd)).alias("_s_c"),
        F.sum(F.when(~t, cd * cd)).alias("_q_c"),
    )
    _QUANT = F.lit(10000.0)
    _QUANT2 = F.lit(100000000.0)

    def _mean(s: str, n: str):
        return F.col(s).cast("double") / F.col(n).cast("double") / _QUANT

    def _var(q: str, s: str, n: str):
        nd = F.col(n).cast("double")
        return (
            F.col(q).cast("double")
            - F.col(s).cast("double") * F.col(s).cast("double") / nd
        ) / (nd - F.lit(1.0)) / _QUANT2

    ok = (F.col("n_t") >= 2) & (F.col("n_c") >= 2)
    se = F.sqrt(
        _var("_q_t", "_s_t", "n_t") / F.col("n_t").cast("double")
        + _var("_q_c", "_s_c", "n_c") / F.col("n_c").cast("double")
    )
    mde_abs = F.lit(_Z_975 + _Z_80) * se
    mean_c = _mean("_s_c", "n_c")
    return fold.select(
        "n_t",
        "n_c",
        F.round(F.when(F.col("n_t") > 0, _mean("_s_t", "n_t")), 9).alias(
            "mean_t"
        ),
        F.round(F.when(F.col("n_c") > 0, mean_c), 9).alias("mean_c"),
        F.round(F.when(ok, _var("_q_t", "_s_t", "n_t")), 9).alias("var_t"),
        F.round(F.when(ok, _var("_q_c", "_s_c", "n_c")), 9).alias("var_c"),
        F.round(F.when(ok, se), 9).alias("se"),
        F.round(F.when(ok, mde_abs), 9).alias("mde_abs"),
        F.round(
            F.when(ok & (mean_c != 0), mde_abs / mean_c), 9
        ).alias("mde_rel"),
    )


def partial_corr(
    df: DataFrame,
    col_x: str,
    col_y: str,
    col_z: str,
) -> DataFrame:
    """First-order partial correlation r_xy·z — the x↔y association
    with the confounder z linearly controlled for:
    (r_xy − r_xz·r_yz) / sqrt((1 − r_xz²)(1 − r_yz²)). The one-line
    answer to "is this correlation just both sides tracking z" —
    complementing corr_matrix (which reports the raw pairwise grid).

    ONE aggregation computes all ten sufficient statistics (n, three
    exact DECIMAL(18,4) sums, three (37,8) sum-of-squares, three
    (37,8) cross-products — every product under Spark's 38-digit cap
    and forced onto DuckDB's INT128 path by the oracle's (19,4)
    cast); each pairwise r and the final compound are fixed IEEE op
    order over the folded doubles, ROUND 9.

    Scale: one map-side-partial scan to a single row.

    Output: one row (n, r_xy, r_xz, r_yz, r_xy_given_z); the partial
    r is NULL when any marginal is degenerate or |r_xz| = 1 / |r_yz|
    = 1 (zero residual variance).
    """
    cx = F.col(col_x).cast("decimal(18,4)")
    cy = F.col(col_y).cast("decimal(18,4)")
    cz = F.col(col_z).cast("decimal(18,4)")
    fold = df.where(
        F.col(col_x).isNotNull()
        & F.col(col_y).isNotNull()
        & F.col(col_z).isNotNull()
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(cx).alias("_sx"),
        F.sum(cy).alias("_sy"),
        F.sum(cz).alias("_sz"),
        F.sum(cx * cx).alias("_qx"),
        F.sum(cy * cy).alias("_qy"),
        F.sum(cz * cz).alias("_qz"),
        F.sum(cx * cy).alias("_pxy"),
        F.sum(cx * cz).alias("_pxz"),
        F.sum(cy * cz).alias("_pyz"),
    )
    n = F.col("n").cast("double")

    def _r(p: str, sa: str, sb: str, qa: str, qb: str):
        num = n * F.col(p).cast("double") - F.col(sa).cast("double") * F.col(
            sb
        ).cast("double")
        va = n * F.col(qa).cast("double") - F.col(sa).cast("double") * F.col(
            sa
        ).cast("double")
        vb = n * F.col(qb).cast("double") - F.col(sb).cast("double") * F.col(
            sb
        ).cast("double")
        return F.when(
            (va > 0) & (vb > 0), num / (F.sqrt(va) * F.sqrt(vb))
        )

    r_xy = _r("_pxy", "_sx", "_sy", "_qx", "_qy")
    r_xz = _r("_pxz", "_sx", "_sz", "_qx", "_qz")
    r_yz = _r("_pyz", "_sy", "_sz", "_qy", "_qz")
    den = F.sqrt(
        (F.lit(1.0) - r_xz * r_xz) * (F.lit(1.0) - r_yz * r_yz)
    )
    return fold.select(
        "n",
        F.round(r_xy, 9).alias("r_xy"),
        F.round(r_xz, 9).alias("r_xz"),
        F.round(r_yz, 9).alias("r_yz"),
        F.round(
            F.when(den > 0, (r_xy - r_xz * r_yz) / den), 9
        ).alias("r_xy_given_z"),
    )


def kendall_tau(
    df: DataFrame,
    col_x: str,
    col_y: str,
) -> DataFrame:
    """Kendall tau-b rank correlation — concordant-vs-discordant pair
    agreement with the standard tie correction, the
    outlier-immune sibling of spearman_corr (tau weighs pair ORDER
    agreements; rho weighs rank distances).

    The naive definition is O(n²) pairs; this computes it EXACTLY
    from the JOINT value histogram: collapse to |distinct x × y|
    cells with counts, self-join cells on x1 < x2 (a bounded
    nested-loop over the report-sized histogram, never the rows),
    and fold concordant/discordant products C = Σ n1·n2 [y1<y2],
    D = Σ n1·n2 [y1>y2] plus the tie terms from the marginal and
    joint histograms — all exact DECIMAL(38,0) integers; tau-b =
    (C − D)/(√(n0−t_x)·√(n0−t_y)) converts each exact integer to
    double ONCE and compounds in fixed IEEE op order, ROUND 9.

    Scale: one groupBy(x, y) histogram with map-side partials; the
    cell self-join is |cells|² with |cells| bounded by the distinct
    grid (the spearman_corr bounded-cardinality contract — pre-bin
    near-unique columns). Pair counts n0 = n(n−1)/2 use DECIMAL
    arithmetic so nothing overflows BIGINT at 100 TB row counts.

    Output: one row (n_pairs, concordant, discordant, tau_b); NULL
    tau when either marginal is constant. The two count readouts are
    BIGINT (fine through ~10^18 pair agreements; the internal fold
    stays DECIMAL so tau itself never overflows).
    """
    src = df.where(
        F.col(col_x).isNotNull() & F.col(col_y).isNotNull()
    ).select(F.col(col_x).alias("_x"), F.col(col_y).alias("_y"))
    cells = src.groupBy("_x", "_y").agg(
        F.count(F.lit(1)).cast("bigint").alias("_n")
    )
    c1 = cells.select(
        F.col("_x").alias("_x1"),
        F.col("_y").alias("_y1"),
        F.col("_n").alias("_n1"),
    )
    c2 = cells.select(
        F.col("_x").alias("_x2"),
        F.col("_y").alias("_y2"),
        F.col("_n").alias("_n2"),
    )
    prod = (
        F.col("_n1").cast("decimal(19,0)")
        * F.col("_n2").cast("decimal(19,0)")
    )
    cd = (
        c1.join(F.broadcast(c2), F.col("_x1") < F.col("_x2"))
        .agg(
            F.sum(
                F.when(F.col("_y1") < F.col("_y2"), prod)
            ).alias("_c"),
            F.sum(
                F.when(F.col("_y1") > F.col("_y2"), prod)
            ).alias("_d"),
        )
    )
    nd19 = F.col("_n").cast("decimal(19,0)")
    pairs2 = nd19 * (nd19 - F.lit(1))  # 2x the tie pairs, exact
    tx = (
        cells.groupBy("_x")
        .agg(F.sum("_n").cast("decimal(19,0)").alias("_nx"))
        .agg(
            F.sum(
                F.col("_nx") * (F.col("_nx") - F.lit(1))
            ).alias("_tx2")
        )
    )
    ty = (
        cells.groupBy("_y")
        .agg(F.sum("_n").cast("decimal(19,0)").alias("_ny"))
        .agg(
            F.sum(
                F.col("_ny") * (F.col("_ny") - F.lit(1))
            ).alias("_ty2")
        )
    )
    tot = src.agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    j = (
        tot.crossJoin(F.broadcast(cd))
        .crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
    )
    n = F.col("n_pairs").cast("decimal(19,0)")
    n02 = n * (n - F.lit(1))  # 2x total pairs, exact decimal
    c_d = F.coalesce(F.col("_c"), F.lit(0).cast("decimal(38,0)"))
    d_d = F.coalesce(F.col("_d"), F.lit(0).cast("decimal(38,0)"))
    # work on the DOUBLED pair scale throughout (n02 = 2·n0, t_2 =
    # 2·ties): each denominator factor halves, so the two halvings
    # cancel against a doubled numerator — no /2 ever computed
    num = (c_d.cast("double") - d_d.cast("double")) * F.lit(2.0)
    fx = n02.cast("double") - F.col("_tx2").cast("double")
    fy = n02.cast("double") - F.col("_ty2").cast("double")
    ok = (fx > 0) & (fy > 0)
    return j.select(
        "n_pairs",
        c_d.cast("bigint").alias("concordant"),
        d_d.cast("bigint").alias("discordant"),
        F.round(
            F.when(ok, num / (F.sqrt(fx) * F.sqrt(fy))), 9
        ).alias("tau_b"),
    )


def hhi_concentration(
    df: DataFrame,
    entity_col: str,
    value_col: str,
) -> DataFrame:
    """Herfindahl–Hirschman concentration index over ``value_col``
    totals per entity: HHI = Σ share_i² ∈ (0, 1], plus the
    size-normalized variant (HHI − 1/k)/(1 − 1/k) — the antitrust /
    vendor-concentration readout complementing diversity_index
    (entropy says "how spread out", HHI says "how captured").

    Determinism: entity totals are exact 1e-4-quanta BIGINT sums
    (the grouped_moments recipe); each share² — one fixed-order
    double over exact ints — is quantized to DECIMAL(38,18) and
    DECIMAL-summed so the k-entity fold is order-free (shares are
    ≤ 1, so scale 18 carries them at full double precision band);
    the final compound is fixed IEEE op order, ROUND 9.

    Scale: ONE groupBy(entity) with map-side partials + a 1-row
    total broadcast back over the k entity rows, then a k-row fold.

    Output: one row (n_entities, hhi, hhi_normalized);
    hhi_normalized NULL when k < 2.
    """
    c = F.round(F.col(value_col).cast("double") * F.lit(10000.0), 0).cast(
        "long"
    )
    ent = (
        df.where(
            F.col(entity_col).isNotNull() & F.col(value_col).isNotNull()
        )
        .groupBy(F.col(entity_col).alias("_e"))
        .agg(F.sum(c).cast("decimal(38,0)").alias("_s"))
    )
    tot = ent.agg(
        F.sum("_s").alias("_tot"),
        F.count(F.lit(1)).cast("bigint").alias("n_entities"),
    )
    share = F.col("_s").cast("double") / F.col("_tot").cast("double")
    fold = (
        ent.crossJoin(F.broadcast(tot))
        .select(
            "n_entities",
            (share * share).cast("decimal(38,18)").alias("_sq"),
        )
        .groupBy("n_entities")
        .agg(F.sum("_sq").alias("_hhi"))
    )
    k = F.col("n_entities").cast("double")
    hhi = F.col("_hhi").cast("double")
    return fold.select(
        "n_entities",
        F.round(hhi, 9).alias("hhi"),
        F.round(
            F.when(
                F.col("n_entities") >= 2,
                (hhi - F.lit(1.0) / k) / (F.lit(1.0) - F.lit(1.0) / k),
            ),
            9,
        ).alias("hhi_normalized"),
    )


def wilcoxon_signed_rank(
    df: DataFrame,
    before_col: str,
    after_col: str,
) -> DataFrame:
    """Wilcoxon signed-rank test over paired (before, after)
    observations — the paired sibling of mann_whitney_u (which
    handles independent samples): rank the nonzero absolute
    differences, sum the ranks of positive differences, and read the
    tie-corrected normal approximation z. The
    did-my-users-change-after-the-launch readout that needs no
    normality assumption.

    All-integer surface on the DOUBLED rank scale: differences
    quantize to 1e-4-unit BIGINTs (zeros drop, the standard
    convention), |d| collapses to its distinct-value histogram whose
    cumulative window yields exact BIGINT rank2 = 2·cum − cnt + 1
    (the spearman_corr mid-rank trick), W⁺/W⁻ fold as exact
    DECIMAL(38,0) halves of the doubled sums, and the tie term
    Σ(t³ − t) folds in staged DECIMAL widths (the grouped_moments
    cube recipe). Every statistic converts to double once; z is
    fixed IEEE op order, ROUND 9:
    z = (W⁺ − n(n+1)/4) / sqrt(n(n+1)(2n+1)/24 − Σ(t³−t)/48).

    Scale: one groupBy(|d|) histogram with map-side partials, a
    |distinct|-row window, one broadcast join back, one fold.

    Output: one row (n_nonzero, w_plus, w_minus, z_stat); z NULL
    when n = 0 or the variance term is 0 (all differences tied at
    one magnitude... which still leaves a defined W but no normal
    approximation).
    """
    d_q = F.round(
        (F.col(after_col).cast("double") - F.col(before_col).cast("double"))
        * F.lit(10000.0),
        0,
    ).cast("long")
    src = (
        df.where(
            F.col(before_col).isNotNull() & F.col(after_col).isNotNull()
        )
        .select(d_q.alias("_d"))
        .where(F.col("_d") != 0)
        .select(F.abs(F.col("_d")).alias("_a"), (F.col("_d") > 0).alias("_pos"))
    )
    hist = src.groupBy("_a").agg(
        F.count(F.lit(1)).cast("bigint").alias("_cnt")
    )
    w = Window.orderBy(F.col("_a").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = F.sum("_cnt").over(w)
    t16 = F.col("_cnt").cast("decimal(16,0)")
    ranks = hist.select(
        "_a",
        (F.lit(2) * cum - F.col("_cnt") + F.lit(1))
        .cast("bigint")
        .alias("_r2"),
        # t^3 - t in staged decimals: (t*t as dec16) * (t as dec10)
        (
            (t16 * t16).cast("decimal(16,0)")
            * F.col("_cnt").cast("decimal(10,0)")
            - F.col("_cnt").cast("decimal(26,0)")
        ).alias("_t3t"),
    )
    tie_fold = ranks.agg(
        F.sum(F.col("_t3t").cast("decimal(38,0)")).alias("_ties")
    )
    joined = src.join(F.broadcast(ranks.select("_a", "_r2")), "_a")
    fold = joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nonzero"),
        F.sum(
            F.when(F.col("_pos"), F.col("_r2").cast("decimal(38,0)"))
        ).alias("_wp2"),
        F.sum(
            F.when(~F.col("_pos"), F.col("_r2").cast("decimal(38,0)"))
        ).alias("_wm2"),
    )
    j = fold.crossJoin(F.broadcast(tie_fold))
    n = F.col("n_nonzero").cast("double")
    wp2 = F.coalesce(F.col("_wp2"), F.lit(0).cast("decimal(38,0)")).cast(
        "double"
    )
    wm2 = F.coalesce(F.col("_wm2"), F.lit(0).cast("decimal(38,0)")).cast(
        "double"
    )
    ties = F.coalesce(F.col("_ties"), F.lit(0).cast("decimal(38,0)")).cast(
        "double"
    )
    # doubled scale: W+ = wp2/2; mean = n(n+1)/4; var = n(n+1)(2n+1)/24
    # - ties/48. Work in true units (one /2 on the exact integer wp2
    # is exact in double for wp2 < 2^54 and mirrored literally).
    w_plus = wp2 / F.lit(2.0)
    w_minus = wm2 / F.lit(2.0)
    mean_w = n * (n + F.lit(1.0)) / F.lit(4.0)
    var_w = (
        n * (n + F.lit(1.0)) * (F.lit(2.0) * n + F.lit(1.0)) / F.lit(24.0)
        - ties / F.lit(48.0)
    )
    ok = (F.col("n_nonzero") > 0) & (var_w > 0)
    return j.select(
        "n_nonzero",
        F.round(w_plus, 9).alias("w_plus"),
        F.round(w_minus, 9).alias("w_minus"),
        F.round(
            F.when(ok, (w_plus - mean_w) / F.sqrt(var_w)), 9
        ).alias("z_stat"),
    )


def tukey_contrasts(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Tukey-style pairwise contrasts after one_way_anova: for every
    group pair, the mean difference, its standard error from the
    POOLED within-group variance, and the studentized-range q
    statistic |diff| / sqrt(MS_w/2 · (1/n_i + 1/n_j)) — the post-hoc
    "which arms actually differ" table (the F test only says "some
    do"; critical q values are the analyst's lookup, the engine's
    job is the exact statistics).

    Shares one_way_anova's determinism recipe end-to-end: 1e-4-quanta
    BIGINT group sums (scale-0 decimals, single int→double casts),
    MS_w from the same DECIMAL(38,6)-quantized between-term fold, and
    a k×k/2 self-join over the k-row group table (report-sized by
    construction). q is unit-invariant so it's computed on quanta;
    mean_diff and se divide the quanta out once each, fixed IEEE op
    order, ROUND 9.

    Output: one row per unordered pair (group_a < group_b by name):
    (group_a, group_b, n_a, n_b, mean_diff, se, q_stat); NULL q/se
    when MS_w ≤ 0 or N ≤ k.
    """
    v = F.round(F.col(value_col).cast("double") * F.lit(10000.0), 0).cast(
        "long"
    ).cast("decimal(19,0)")
    # Materialize the k-row group census ONCE (eager localCheckpoint —
    # report-sized by construction, the theil_sen sample pattern): its
    # three consumers prune DIFFERENT columns (the MS_w fold needs the
    # squared sums, the pair sides do not), so their aggregation plans
    # are canonically different and could never share one exchange —
    # the census (and the fact scan under it) built once per branch
    # (measured on q_tukey_hsd).
    g = (
        df.where(
            F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
        )
        .groupBy(F.col(group_col).alias("_g"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("_n"),
            F.sum(v).alias("_s"),
            F.sum(v * v).alias("_q"),
        )
        .localCheckpoint()
    )
    sd = F.col("_s").cast("double")
    nd = F.col("_n").cast("double")
    term_q = ((sd * sd) / nd).cast("decimal(38,6)")
    fold = g.select("_n", "_q", term_q.alias("_tq")).agg(
        F.count(F.lit(1)).cast("bigint").alias("_k"),
        F.sum("_n").cast("bigint").alias("_ntot"),
        F.sum(F.col("_q").cast("decimal(38,0)")).alias("_qq"),
        F.sum("_tq").alias("_t"),
    )
    msw = (F.col("_qq").cast("double") - F.col("_t").cast("double")) / (
        F.col("_ntot").cast("double") - F.col("_k").cast("double")
    )
    a = g.select(
        F.col("_g").alias("group_a"),
        F.col("_n").alias("n_a"),
        F.col("_s").alias("_sa"),
    )
    b = g.select(
        F.col("_g").alias("group_b"),
        F.col("_n").alias("n_b"),
        F.col("_s").alias("_sb"),
    )
    pairs = a.join(
        F.broadcast(b), F.col("group_a") < F.col("group_b")
    ).crossJoin(
        F.broadcast(
            fold.select(
                msw.alias("_msw"),
                (F.col("_ntot") > F.col("_k")).alias("_df_ok"),
            )
        )
    )
    mean_a = F.col("_sa").cast("double") / F.col("n_a").cast("double")
    mean_b = F.col("_sb").cast("double") / F.col("n_b").cast("double")
    diff_q = mean_a - mean_b  # quanta units
    se_q = F.sqrt(
        F.col("_msw")
        / F.lit(2.0)
        * (
            F.lit(1.0) / F.col("n_a").cast("double")
            + F.lit(1.0) / F.col("n_b").cast("double")
        )
    )
    ok = F.col("_df_ok") & (F.col("_msw") > 0)
    return pairs.select(
        "group_a",
        "group_b",
        "n_a",
        "n_b",
        F.round(diff_q / F.lit(10000.0), 9).alias("mean_diff"),
        F.round(
            F.when(ok, se_q / F.lit(10000.0)), 9
        ).alias("se"),
        F.round(
            F.when(ok, F.abs(diff_q) / se_q), 9
        ).alias("q_stat"),
    )


def laspeyres_index(
    df: DataFrame,
    item_col: str,
    period_col: str,
    revenue_col: str,
    quantity_col: str,
) -> DataFrame:
    """Laspeyres fixed-basket price index per period: with the
    earliest period as base, index_t = 100 · Σ p_t(i)·q_0(i) /
    Σ p_0(i)·q_0(i) over items present in BOTH the base and period t
    — "how much would the base-period basket cost today", the
    standard BI/economics inflation readout (base-quantity weights,
    so mix shifts don't masquerade as price moves).

    Determinism: per-(item, period) revenue and quantity are exact
    1e-4-quanta BIGINT sums; p_t = rev_t/qty_t is ONE double op over
    exact ints, each basket term p_t·q_0 is quantized to
    DECIMAL(38,6) and DECIMAL-summed per period (order-free), and
    the denominator Σ p_0·q_0 = Σ rev_0 is an EXACT integer (price ×
    its own quantity cancels) — the quanta factors cancel in the
    ratio. Fixed IEEE op order, ROUND 9.

    Scale: one groupBy(item, period) with map-side partials, a
    broadcast of the 1-row base period, one item-keyed join of
    period rows onto base rows, one groupBy(period) fold. Items
    absent from the base period drop (the fixed-basket definition).

    Output: one row per period (period, n_items, laspeyres_index);
    the base period reads exactly 100.
    """
    rq = F.round(
        F.col(revenue_col).cast("double") * F.lit(10000.0), 0
    ).cast("long")
    qq = F.round(
        F.col(quantity_col).cast("double") * F.lit(10000.0), 0
    ).cast("long")
    pp = (
        df.where(
            F.col(item_col).isNotNull()
            & F.col(period_col).isNotNull()
            & F.col(revenue_col).isNotNull()
            & F.col(quantity_col).isNotNull()
        )
        .groupBy(
            F.col(item_col).alias("_i"), F.col(period_col).alias("_p")
        )
        .agg(
            F.sum(rq).cast("decimal(38,0)").alias("_rev"),
            F.sum(qq).cast("decimal(38,0)").alias("_qty"),
        )
        .where(F.col("_qty") > 0)
    )
    base = pp.groupBy().agg(F.min("_p").alias("_p0"))
    b = (
        pp.join(F.broadcast(base), pp["_p"] == F.col("_p0"))
        .select(
            "_i",
            F.col("_rev").alias("_rev0"),
            F.col("_qty").alias("_qty0"),
        )
    )
    joined = pp.join(b, "_i")
    price_t = F.col("_rev").cast("double") / F.col("_qty").cast("double")
    term = (price_t * F.col("_qty0").cast("double")).cast("decimal(38,6)")
    fold = joined.groupBy(F.col("_p").alias("period")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum(term).alias("_num"),
        F.sum(F.col("_rev0")).alias("_den"),
    )
    return fold.select(
        "period",
        "n_items",
        F.round(
            F.lit(100.0)
            * F.col("_num").cast("double")
            / F.col("_den").cast("double"),
            9,
        ).alias("laspeyres_index"),
    )


def kruskal_wallis(
    df: DataFrame,
    group_col: str,
    value_col: str,
    decimal_scale: int = 4,
) -> DataFrame:
    """Kruskal-Wallis H test across k independent groups — "does ANY
    group's distribution differ", the nonparametric one-way ANOVA
    (rank-based, no normality assumption; the k-sample extension of
    q_mann_whitney and the robust sibling of q_anova).

    Exactness: values quantize to ``decimal_scale`` quanta BIGINTs;
    ranks are midranks over ties computed on the distinct-value
    histogram with the DOUBLED-rank trick (r2 = 2·before + ct + 1, an
    exact integer), so each group's doubled rank-sum
    2·R_j = Σ c_jv·r2_v is exact in DECIMAL(38,0) (Σ c·r2 ≤ N·(2N+1)
    overflows BIGINT past ~2·10⁹ rows — the gini width rule). With
    R_j = r2_j/2, Σ R_j²/n_j = Σ r2_j²/(4·n_j); each group's term is
    quantized to DECIMAL(38,6) so the k-group fold is order-free,
    then H = 12/(N(N+1))·ΣR_j²/n_j − 3(N+1) and the tie correction
    C = 1 − Σ(t³−t)/(N³−N) (t³ sums in DECIMAL(38,0)) are fixed
    double expressions. Output ONE row: (k_groups, n_total, h_stat,
    h_stat_tied), ROUND 9; h_stat_tied is NULL when C ≤ 0 (all
    values identical).

    Scale: groupBy(value, group) collapses the input before anything
    else; the ranking window runs over the |distinct values|
    histogram (the mann_whitney_u rationale), per-group sums are a
    k-row aggregate, and the final fold is one row — the corpus never
    sorts globally."""
    mult = 10 ** decimal_scale
    q = F.round(
        F.col(value_col).cast("double") * F.lit(float(mult)), 0
    ).cast("long")
    gv = (
        df.where(
            F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
        )
        .groupBy(
            q.alias("_v"), F.col(group_col).alias("_g")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
        # no-op filter (_v derives from a non-null value), but it
        # unifies the branches: the rank join below infers
        # isnotnull(_v) on ITS gv reference only, which sinks below
        # the aggregation and makes that branch's subtree canonically
        # different — AQE's stage cache then re-runs the whole
        # scan+histogram once per branch (measured: two duplicate
        # partial-agg stages, task time 35 s -> 11 s with the filter)
        .where(F.col("_v").isNotNull())
    )
    vals = gv.groupBy("_v").agg(
        F.sum("_c").cast("bigint").alias("_ct")
    )
    w = Window.orderBy(F.col("_v").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = vals.select(
        "_v",
        "_ct",
        (
            F.lit(2)
            * F.coalesce(F.sum("_ct").over(w), F.lit(0).cast("bigint"))
            + F.col("_ct")
            + F.lit(1)
        ).cast("bigint").alias("_r2"),
    )
    per_group = (
        gv.join(ranked.select("_v", "_r2"), "_v")
        .groupBy("_g")
        .agg(
            F.sum("_c").cast("bigint").alias("_n_j"),
            F.sum(
                F.col("_c").cast("decimal(38,0)") * F.col("_r2")
            ).alias("_r2_j"),
        )
    )
    term = (
        F.col("_r2_j").cast("double")
        * F.col("_r2_j").cast("double")
        / F.lit(4.0)
        / F.col("_n_j").cast("double")
    ).cast("decimal(38,6)")
    fold = per_group.agg(
        F.count(F.lit(1)).cast("bigint").alias("k_groups"),
        F.sum("_n_j").cast("bigint").alias("n_total"),
        F.sum(term).alias("_s"),
    )
    ties = vals.agg(
        F.sum(
            F.col("_ct").cast("decimal(38,0)")
            * F.col("_ct")
            * F.col("_ct")
            - F.col("_ct")
        ).alias("_t3t")
    )
    out = fold.crossJoin(F.broadcast(ties))
    n = F.col("n_total").cast("double")
    h = (
        F.lit(12.0) / (n * (n + F.lit(1.0)))
        * F.col("_s").cast("double")
        - F.lit(3.0) * (n + F.lit(1.0))
    )
    c = F.lit(1.0) - F.col("_t3t").cast("double") / (
        n * n * n - n
    )
    return out.select(
        "k_groups",
        "n_total",
        F.round(h, 9).alias("h_stat"),
        F.round(F.when(c > 0, h / c), 9).alias("h_stat_tied"),
    )


def jarque_bera(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    decimal_scale: int = 2,
) -> DataFrame:
    """Jarque-Bera normality test per group — "is this metric even
    normal enough for the t-test family", the standard gate before
    parametric readouts (complements q_ks_test's two-sample shape
    check with a one-sample moment check). JB = n/6·(g1² + g2²/4)
    with population skewness g1 = m3/m2^1.5 and excess kurtosis
    g2 = m4/m2² − 3; asymptotically χ²(2), so JB ≳ 5.99 rejects
    normality at 5%.

    Exactness: the staging shared with grouped_moments
    (relational.py::staged_power_sums / descaled_moment_exprs — one
    op order for every moment-derived statistic) — values scale
    exactly to ``decimal_scale`` integers whose power sums run in
    staged DECIMAL widths that never exceed 38 digits; every
    statistic is then a fixed double expression over exact
    order-free sums, ROUND 9.
    g1/g2/jb are NULL below n=2 or at zero variance.

    Scale: ONE partial-aggregated groupBy — the normality verdict on
    100 TB costs one scan."""
    from h3_indexer_spark.operators.relational import (
        descaled_moment_exprs,
        staged_power_sums,
    )

    agg = staged_power_sums(
        df, value_col, list(group_cols or []), decimal_scale
    ).withColumn("n_rows", F.col("n_rows").cast("bigint"))
    e = descaled_moment_exprs(decimal_scale)
    n, m2, m3, m4 = e["n"], e["m2"], e["m3"], e["m4"]
    g1 = m3 / F.sqrt(m2 * m2 * m2)
    g2 = m4 / (m2 * m2) - F.lit(3.0)
    jb = n / F.lit(6.0) * (
        g1 * g1 + g2 * g2 / F.lit(4.0)
    )
    ok = (F.col("n_rows") >= 2) & (m2 > 0.0)
    return agg.select(
        *(group_cols or []),
        "n_rows",
        F.round(F.when(ok, g1), 9).alias("skew_g1"),
        F.round(F.when(ok, g2), 9).alias("kurt_g2"),
        F.round(F.when(ok, jb), 9).alias("jb_stat"),
    )


def cross_correlation(
    series: DataFrame,
    date_col: str,
    a_col: str,
    b_col: str,
    max_lag: int = 7,
) -> DataFrame:
    """Lagged cross-correlation of two aligned series — "does A lead
    B": Pearson r between a(d) and b(d + lag) for every lag in
    [−max_lag, +max_lag], the lead/lag discovery readout that
    complements q_autocorr (self) and q_corr (contemporaneous).
    Positive lag correlates today's A with B ``lag`` days LATER, so
    a peak at lag>0 reads "A leads B".

    Input contract: ``series`` is the ALREADY-COLLAPSED per-date
    frame (one row per date) with a/b as exact BIGINT quanta — the
    caller owns quantization so the correlation inputs are
    order-free integers. Only dates present on BOTH sides of a lag
    pair contribute (inner join per lag).

    Determinism: per-lag Pearson folds exact integer sums (Σa, Σb,
    Σab, Σa², Σb², n — products in DECIMAL(38,0), Σab ≤ n·a·b must
    fit 38 digits: at 1e15-quanta daily revenue and 10⁴ days that is
    ~1e34, safe); r is a fixed double expression over them, ROUND 9
    (the q_assortativity op-order rule).

    Scale: the lag fan-out is a broadcast crossJoin with the tiny
    (2·max_lag+1)-row lag table; the shifted self-join keys on the
    date — a |dates|-sized shuffle (days, not rows: the corpus
    collapsed BEFORE this operator). Output: (lag, n_days, r), one
    row per lag."""
    spark = series.sparkSession
    # Materialize the collapsed series ONCE (localCheckpoint; |dates|
    # rows by the input contract — days, not raw rows). The lag join
    # references the series from both sides with DIFFERENT pruned
    # columns (a on the left, b on the right), so the two branches'
    # collapse aggregations are genuinely different plans that can
    # never share an exchange — the caller's per-date rollup (and the
    # fact scan under it) ran twice (measured on q_xcorr). A null
    # date never matches the inner lag join from either side, so the
    # explicit filter drops no result row.
    series = series.where(F.col(date_col).isNotNull()).localCheckpoint()
    lags = spark.range(2 * max_lag + 1).select(
        (F.col("id") - F.lit(max_lag)).cast("int").alias("lag")
    )
    left = series.select(
        F.col(date_col).alias("_d"), F.col(a_col).alias("_a")
    ).crossJoin(F.broadcast(lags))
    right = series.select(
        F.col(date_col).alias("_d2"), F.col(b_col).alias("_b")
    )
    pairs = left.join(
        right,
        F.date_add(F.col("_d"), F.col("lag")) == F.col("_d2"),
    )
    d38 = "decimal(38,0)"
    agg = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum(F.col("_a").cast(d38)).alias("_sa"),
        F.sum(F.col("_b").cast(d38)).alias("_sb"),
        F.sum(F.col("_a").cast(d38) * F.col("_b")).alias("_sab"),
        F.sum(F.col("_a").cast(d38) * F.col("_a")).alias("_saa"),
        F.sum(F.col("_b").cast(d38) * F.col("_b")).alias("_sbb"),
    )
    # the contract is one row PER LAG: a lag with zero overlapping
    # dates (short or gappy series) reports (n_days=0, r=NULL)
    # instead of silently vanishing from the correlogram
    agg = (
        lags.join(agg, "lag", "left")
        .withColumn(
            "n_days",
            F.coalesce(F.col("n_days"), F.lit(0).cast("bigint")),
        )
    )
    n = F.col("n_days").cast("double")
    sa = F.col("_sa").cast("double")
    sb = F.col("_sb").cast("double")
    num = n * F.col("_sab").cast("double") - sa * sb
    da = n * F.col("_saa").cast("double") - sa * sa
    db = n * F.col("_sbb").cast("double") - sb * sb
    r = F.when(
        (da > 0) & (db > 0), num / (F.sqrt(da) * F.sqrt(db))
    )
    return agg.select(
        "lag", "n_days", F.round(r, 9).alias("r")
    ).orderBy("lag")


def woe_iv(
    df: DataFrame,
    feature_col: str,
    label_col: str,
) -> DataFrame:
    """Weight-of-Evidence / Information Value per feature bin — the
    credit-scoring-standard predictive-power readout for a
    categorical feature against a binary label (the feature-selection
    sibling of q_mutual_info; IV < 0.02 reads "useless", > 0.5
    "suspiciously strong"). WoE_bin = ln((pos_bin/P)/(neg_bin/N));
    IV = Σ_bins (pos_bin/P − neg_bin/N)·WoE_bin.

    Determinism: per-bin pos/neg are exact BIGINT conditional counts;
    P/N ride a 1-row broadcast fold (lazy — no construction-time
    job); WoE is one ln over an exact-integer ratio, ROUND 9. Bins
    with a zero cell get NULL WoE and are EXCLUDED from IV (reported,
    not smoothed — deterministic and visible, where additive
    smoothing would silently bias every other bin's share). Each
    bin's IV term quantizes to DECIMAL(38,12) so the total is an
    order-free sum broadcast back onto every row.

    Scale: ONE groupBy(feature) with map-side partials + two
    broadcast folds — a single scan at any corpus size. Output one
    row per bin: (bin, n_pos, n_neg, woe, iv_term, iv_total)."""
    lab = F.col(label_col).cast("boolean")
    bins = (
        df.where(
            F.col(feature_col).isNotNull() & lab.isNotNull()
        )
        .groupBy(F.col(feature_col).alias("bin"))
        .agg(
            F.sum(F.when(lab, 1).otherwise(0))
            .cast("bigint").alias("n_pos"),
            F.sum(F.when(lab, 0).otherwise(1))
            .cast("bigint").alias("n_neg"),
        )
    )
    tot = bins.agg(
        F.sum("n_pos").cast("bigint").alias("_p"),
        F.sum("n_neg").cast("bigint").alias("_n"),
    )
    # when EVERY bin has a zero cell the feature separates the
    # classes perfectly: all terms are excluded and the all-NULL sum
    # reports iv_total = NULL — undefined (conceptually infinite),
    # never 0.0, which would read "useless" for a perfect separator
    joined = bins.crossJoin(F.broadcast(tot))
    ps = F.col("n_pos").cast("double") / F.col("_p").cast("double")
    ns = F.col("n_neg").cast("double") / F.col("_n").cast("double")
    defined = (F.col("n_pos") > 0) & (F.col("n_neg") > 0)
    woe = F.when(defined, F.log(ps / ns))
    terms = joined.select(
        "bin",
        "n_pos",
        "n_neg",
        woe.alias("_woe"),
        F.when(defined, (ps - ns) * woe)
        .cast("decimal(38,12)").alias("_iv_term"),
    )
    iv = terms.agg(F.sum("_iv_term").alias("_iv_total"))
    return terms.crossJoin(F.broadcast(iv)).select(
        "bin",
        "n_pos",
        "n_neg",
        F.round(F.col("_woe"), 9).alias("woe"),
        F.round(F.col("_iv_term").cast("double"), 9).alias("iv_term"),
        F.round(F.col("_iv_total").cast("double"), 9).alias("iv_total"),
    )


def max_drawdown(
    df: DataFrame,
    period_col: str,
    flow_col: str,
    decimal_scale: int = 4,
) -> DataFrame:
    """Maximum drawdown of the cumulative net-flow (equity) curve —
    "what is the worst peak-to-trough slide", the risk readout every
    balance/inventory/revenue-minus-returns series needs (completes
    the financial family beside q_ohlc_bars/q_twap).

    The equity curve is the running total of per-period net flow
    (signed; the caller encodes inflow/outflow signs). Per period:
    equity_t = Σ_{s≤t} flow_s, peak_t = max_{s≤t} equity_s,
    dd_t = peak_t − equity_t. Reported: max absolute drawdown, the
    max FRACTIONAL drawdown over periods with peak_t > 0 (each a
    per-row double; max is order-free), and the global equity peak.

    Exactness: flows quantize to ``decimal_scale`` quanta BIGINTs;
    per-period sums, the running cumulative, and the running max all
    stay in DECIMAL(38,0) — exact at any length; the fraction is one
    double division per period, ROUND 9.

    Scale: the input collapses to one row per period FIRST (the
    mann_whitney histogram rule), so the ordered cumulative window
    runs over |periods| rows (days/hours — thousands, not the
    corpus). Output ONE row: (n_periods, peak_equity, max_drawdown,
    max_drawdown_frac)."""
    mult = 10 ** decimal_scale
    q = F.round(
        F.col(flow_col).cast("double") * F.lit(float(mult)), 0
    ).cast("long")
    daily = (
        df.where(
            F.col(period_col).isNotNull() & F.col(flow_col).isNotNull()
        )
        .groupBy(F.col(period_col).alias("_p"))
        .agg(F.sum(q.cast("decimal(38,0)")).alias("_flow"))
    )
    w = Window.orderBy(F.col("_p").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    curve = daily.select(
        "_p",
        F.sum("_flow").over(w).alias("_eq"),
    ).select(
        "_p",
        "_eq",
        F.max("_eq").over(w).alias("_peak"),
    )
    dd = F.col("_peak") - F.col("_eq")
    frac = F.when(
        F.col("_peak") > 0,
        dd.cast("double") / F.col("_peak").cast("double"),
    )
    m = F.lit(float(mult))
    return curve.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_periods"),
        (F.max("_peak").cast("double") / m).alias("peak_equity"),
        (F.max(dd).cast("double") / m).alias("max_drawdown"),
        F.round(F.max(frac), 9).alias("max_drawdown_frac"),
    )


def average_precision(
    df: DataFrame,
    label_col: str,
    score_col: str,
    id_col: str,
) -> DataFrame:
    """Average precision (the area under the precision-recall curve
    in its standard step form) over a scored candidate set —
    AP = (1/P)·Σ_{positives} precision@rank. The imbalanced-label
    ranking readout that completes the eval family: q_auc ranks
    pairs (ROC), q_ndcg grades positions, AP grades the positive
    class's precision profile — THE metric when positives are rare
    (retrieval, anomaly triage, dedup-candidate ranking).

    Determinism: rank order is the total order (score desc, id asc)
    — ties broken by id, so precision@k is exactly reproducible
    cross-engine (the q_ndcg tiebreak rule). Each positive's
    precision term cum_pos(k)/k quantizes to DECIMAL(38,18) (the
    q_hhi pattern) so the fold is order-free; AP is one double
    division, ROUND 9.

    Scale: ONE global window over the scored set — correct for eval
    tables (a retrieval run's candidate pool: 10³–10⁷ rows), which is
    what AP is for; this is NOT a corpus operator (at corpus scale,
    rank on the score histogram like q_auc, trading exact per-id
    tiebreaks for distinct-score blocks). Output ONE row:
    (n, n_pos, avg_precision)."""
    lab = F.col(label_col).cast("boolean")
    scored = df.where(
        lab.isNotNull()
        & F.col(score_col).isNotNull()
        & F.col(id_col).isNotNull()
    ).select(
        lab.cast("int").alias("_y"),
        F.col(score_col).alias("_s"),
        F.col(id_col).alias("_id"),
    )
    w = Window.orderBy(F.col("_s").desc(), F.col("_id").asc())
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = scored.select(
        "_y",
        F.row_number().over(w).cast("bigint").alias("_k"),
        F.sum("_y").over(wcum).cast("bigint").alias("_cp"),
    )
    term = F.when(
        F.col("_y") == 1,
        F.col("_cp").cast("double") / F.col("_k").cast("double"),
    ).cast("decimal(38,18)")
    agg = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("_y").cast("bigint").alias("n_pos"),
        F.sum(term).alias("_ap_sum"),
    )
    ap = F.when(
        F.col("n_pos") > 0,
        F.col("_ap_sum").cast("double") / F.col("n_pos").cast("double"),
    )
    return agg.select(
        "n", "n_pos", F.round(ap, 9).alias("avg_precision")
    )


def classification_report(
    df: DataFrame,
    label_col: str,
    pred_col: str,
) -> DataFrame:
    """Per-class precision / recall / F1 over a (label, prediction)
    table — the classification complement of the ranking graders
    (roc_auc / pr_auc / ndcg grade SCORES; this grades hard class
    assignments): for every class c, tp = |label=c ∧ pred=c|,
    fp = |pred=c ∧ label≠c|, fn = |label=c ∧ pred≠c|, with
    precision = tp/(tp+fp), recall = tp/(tp+fn) and
    F1 = 2·tp/(2·tp+fp+fn) — the F1 identity keeps it ONE division
    of exact integers (never the 2PR/(P+R) float compound), so every
    readout is a single correctly-rounded IEEE op on BIGINTs:
    deterministic across engines by construction, ROUND 9 ([0,1]-
    bounded). A class seen only in predictions still gets a row
    (support 0, recall null) — silently dropping it would hide a
    model inventing labels.

    Scale: ONE shuffle. Each row EXPLODES into its label-role and
    pred-role contributions (2 rows), which the class-keyed groupBy
    collapses map-side — the exchange carries one partial row per
    class per task, never the data. No joins, no second scan: the
    usual three-aggregate formulation (per-label counts ⋈ per-pred
    counts ⋈ diagonal counts) pays three scans and two joins for the
    same integers. Rows with NULL label or prediction are excluded
    (count them upstream; a NULL class is a data bug, not a class).
    Output: class, n_true, n_pred, tp, fp, fn, precision, recall, f1
    ordered by class — |classes| rows, report-sized at any volume.
    """
    contrib = class_report_contributions(df, label_col, pred_col)
    agg = contrib.groupBy("class").agg(*class_report_aggs())
    return agg.select("class", *class_report_columns()).orderBy("class")


def class_report_contributions(
    df: DataFrame, label_col: str, pred_col: str
) -> DataFrame:
    """Front end of classification_report: each non-null (label,
    pred) row explodes into its label-role and pred-role
    contributions. Narrow map — every other input column rides
    along."""
    lbl = F.col(label_col).cast("string")
    prd = F.col(pred_col).cast("string")
    others = [c for c in df.columns if c not in (label_col, pred_col)]
    return (
        df.where(lbl.isNotNull() & prd.isNotNull())
        .select(
            *others,
            F.explode(
                F.array(
                    F.struct(
                        lbl.alias("class"),
                        F.lit(1).alias("_t"),
                        F.lit(0).alias("_p"),
                        (lbl == prd).cast("int").alias("_tp"),
                    ),
                    F.struct(
                        prd.alias("class"),
                        F.lit(0).alias("_t"),
                        F.lit(1).alias("_p"),
                        F.lit(0).alias("_tp"),
                    ),
                )
            ).alias("_e"),
        )
        .select(*others, "_e.*")
    )


def class_report_aggs() -> list[Column]:
    """The exact-BIGINT confusion-cell aggregates over the
    contributions frame."""
    return [
        F.sum("_t").cast("bigint").alias("n_true"),
        F.sum("_p").cast("bigint").alias("n_pred"),
        F.sum("_tp").cast("bigint").alias("tp"),
    ]


def class_report_columns() -> list[Column]:
    """Post-aggregation derived columns: fp/fn as exact integers;
    precision, recall and F1 each ONE IEEE division of exact integers
    (F1 via 2tp/(2tp+fp+fn), never the 2PR/(P+R) float compound),
    ROUND 9 ([0,1]-bounded)."""
    tp = F.col("tp").cast("double")
    fp_i = F.col("n_pred") - F.col("tp")
    fn_i = F.col("n_true") - F.col("tp")
    return [
        F.col("n_true"),
        F.col("n_pred"),
        F.col("tp"),
        fp_i.cast("bigint").alias("fp"),
        fn_i.cast("bigint").alias("fn"),
        F.round(
            F.when(F.col("n_pred") > 0, tp / F.col("n_pred").cast("double")),
            9,
        ).alias("precision"),
        F.round(
            F.when(F.col("n_true") > 0, tp / F.col("n_true").cast("double")),
            9,
        ).alias("recall"),
        F.round(
            F.when(
                (F.lit(2) * F.col("tp") + fp_i + fn_i) > 0,
                (F.lit(2.0) * tp)
                / (F.lit(2) * F.col("tp") + fp_i + fn_i).cast("double"),
            ),
            9,
        ).alias("f1"),
    ]


# --------------------------------------------------------------------------
# Fisher's exact test (grouped 2x2, exact-integer hypergeometric weights)
# --------------------------------------------------------------------------

# Largest per-group sample size for which every hypergeometric weight
# C(r1,k)*C(n-r1,c1-k) and fold intermediate provably fits a BIGINT:
# at n=60 the worst weight is C(60,30) ~ 1.18e17 and the worst fold
# intermediate is C(60,30)*60 ~ 7.1e18, both under 2^63-1 ~ 9.2e18;
# n=61 already overflows the intermediate. Groups above the bound get
# a NULL p-value rather than a silently-wrong one — and a >60-sample
# group should be using the chi-square family anyway (Fisher's is THE
# small-sample test; at n>60 the chi-square approximation error is
# far below any decision threshold).
FISHER_MAX_N = 60


def _binom_fold_sql(a: str, b: str) -> str:
    """SQL expression: C(a, b) as an exact BIGINT via the
    integer-preserving multiplicative fold acc <- (acc*(a-b+j)) div j
    (every intermediate is itself a binomial C(a-b+j, j), so the
    integer division is exact at each step — no factorials, no
    floats, no lgamma). Guarded for b <= 0 (C=1; also dodges Spark's
    sequence(1,0) DESCENDING surprise)."""
    return (
        f"(CASE WHEN ({b}) <= 0 THEN CAST(1 AS BIGINT) "
        f"ELSE aggregate(sequence(1, ({b})), CAST(1 AS BIGINT), "
        f"(acc, j) -> (acc * (({a}) - ({b}) + j)) div j) END)"
    )


def fisher_exact(
    df: DataFrame,
    group_cols: list[str],
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Grouped two-sided Fisher's exact test over 2x2 contingency
    tables — the small-sample independence test the chi-square family
    (chi_square_independence) documents away: for each group, the 2x2
    of the boolean columns ``a_col`` x ``b_col`` is tested exactly
    under the hypergeometric null (margins fixed), p = sum of the
    probabilities of every table at most as likely as the observed
    one (Fisher 1935; the standard two-sided "sum of small p" rule).

    Determinism by construction — NO transcendentals: the classic
    lgamma formulation was deliberately rejected because JVM and libm
    lgamma/exp legally differ in the last ulp AND the two-sided rule
    compares near-tied weights, where a 1-ulp flip INCLUDES or
    EXCLUDES a whole term (a discontinuous, un-roundable error).
    Instead every hypergeometric weight C(r1,k)*C(n-r1,c1-k) is an
    EXACT BIGINT built by the integer-preserving binomial fold
    (no factorial overflow: see FISHER_MAX_N), the <=-observed
    comparison is exact integer, and the p-value is num/den — ONE
    IEEE division of exact integers, bit-identical on any engine.
    ``p_num``/``p_den`` expose the lossless rational alongside the
    ROUND-9 float readout; the odds ratio is likewise one division
    of exact cell products (ROUND 9; NULL when a zero cell makes it
    undefined).

    Groups with n > FISHER_MAX_N (=60) report NULL p (the exactness
    domain; downsample per group first — statistically the right
    practice for an exact small-sample test). Rows with a NULL in
    either boolean are excluded from that group's table.

    Scale: ONE groupBy on the group key carrying four BIGINT partials
    (map-side combined); the per-group k-loop (<= 61 terms, each a
    <= 60-step fold) runs as whole-stage-codegen'd higher-order
    functions on the one-row-per-group aggregate — report-sized
    compute, never a shuffle of the data. Output: one row per group.
    """
    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    counts = fisher_contingency_counts(df, group_cols, a_col, b_col)
    return fisher_readout(counts, group_cols).orderBy(*group_cols)


def fisher_contingency_counts(
    df: DataFrame,
    group_cols: list[str],
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Front end of fisher_exact: the four exact-BIGINT 2x2 partials
    (n, r1, c1, n11) per group — ONE groupBy with map-side combine;
    rows with a NULL in either boolean are excluded."""
    a = F.col(a_col).cast("boolean")
    b = F.col(b_col).cast("boolean")
    return (
        df.where(a.isNotNull() & b.isNotNull())
        .select(
            *[c for c in df.columns if c not in (a_col, b_col)],
            a.cast("int").alias("_a"),
            b.cast("int").alias("_b"),
        )
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("_a").cast("bigint").alias("r1"),
            F.sum("_b").cast("bigint").alias("c1"),
            F.sum(F.col("_a") * F.col("_b")).cast("bigint").alias("n11"),
        )
    )


def fisher_readout(counts: DataFrame, carry_cols: list[str]) -> DataFrame:
    """Back end of fisher_exact: from the exact-BIGINT partials (n,
    r1, c1, n11) to the full test readout — all cells, the exact
    p_num/p_den rational via the integer-preserving binomial folds,
    the ROUND-9 p-value, and the odds ratio. Pure stateless
    projections (whole-stage-codegen'd higher-order functions)."""
    w_at = "{c1} * {c2}".format(
        c1=_binom_fold_sql("r1", "kk"),
        c2=_binom_fold_sql("n - r1", "c1 - kk"),
    )
    w_obs = "{c1} * {c2}".format(
        c1=_binom_fold_sql("r1", "n11"),
        c2=_binom_fold_sql("n - r1", "c1 - n11"),
    )
    # The n <= FISHER_MAX_N guard must wrap the WEIGHT CONSTRUCTION
    # itself, not just the p_num/p_den readout: beyond the bound the
    # BIGINT fold intermediates overflow, which under ANSI mode
    # (Spark 4 default) crashes the whole query instead of yielding
    # the documented NULL p. CASE (not an empty sequence) because
    # sequence(a, b) with a > b goes DESCENDING, never empty.
    stats = counts.withColumn(
        "_ws",
        F.expr(
            f"CASE WHEN n <= {FISHER_MAX_N} THEN "
            "transform(sequence(greatest(CAST(0 AS BIGINT), r1 + c1 - n),"
            f" least(r1, c1)), kk -> {w_at}) "
            "ELSE CAST(NULL AS ARRAY<BIGINT>) END"
        ),
    ).withColumn(
        "_w_obs",
        F.expr(
            f"CASE WHEN n <= {FISHER_MAX_N} THEN {w_obs} "
            "ELSE CAST(NULL AS BIGINT) END"
        ),
    )
    guarded = stats.select(
        *carry_cols,
        "n",
        "r1",
        "c1",
        "n11",
        (F.col("r1") - F.col("n11")).alias("n12"),
        (F.col("c1") - F.col("n11")).alias("n21"),
        (F.col("n") - F.col("r1") - F.col("c1") + F.col("n11")).alias(
            "n22"
        ),
        F.when(
            F.col("n") <= FISHER_MAX_N,
            F.expr(
                "aggregate(_ws, CAST(0 AS BIGINT), (acc, x) -> "
                "acc + CASE WHEN x <= _w_obs THEN x "
                "ELSE CAST(0 AS BIGINT) END)"
            ),
        ).alias("p_num"),
        F.when(
            F.col("n") <= FISHER_MAX_N,
            F.expr("aggregate(_ws, CAST(0 AS BIGINT), (acc, x) -> acc + x)"),
        ).alias("p_den"),
    )
    odds = F.when(
        (F.col("n12") * F.col("n21")) > 0,
        (F.col("n11") * F.col("n22")).cast("double")
        / (F.col("n12") * F.col("n21")).cast("double"),
    )
    return guarded.select(
        *carry_cols,
        "n",
        "r1",
        "c1",
        "n11",
        "n12",
        "n21",
        "n22",
        "p_num",
        "p_den",
        F.round(
            F.col("p_num").cast("double") / F.col("p_den").cast("double"), 9
        ).alias("p_value"),
        F.round(odds, 9).alias("odds_ratio"),
    )


def classification_summary(
    df: DataFrame,
    label_col: str,
    pred_col: str,
) -> DataFrame:
    """Macro / micro / support-weighted averaging of the per-class
    classification report — the one-row-per-averaging-mode summary a
    model card prints under classification_report's per-class table
    (sklearn's "macro avg / weighted avg" block, plus the micro row):

    - ``macro``: unweighted mean of the per-class ROUND-9 metrics;
      classes whose metric is undefined (a pred-only class has NULL
      recall) contribute 0 — sklearn's zero_division=0 convention,
      documented rather than silent.
    - ``micro``: global tp / global n_pred (= global n_true = N), so
      micro-precision = micro-recall = micro-F1 = ACCURACY — the
      identity is a built-in self-check the tests assert.
    - ``weighted``: per-class metrics weighted by true support n_true
      (pred-only classes carry weight 0 by construction).

    Determinism: the inputs to every mean are the per-class ROUND-9
    values (already one-IEEE-division-of-BIGINTs each, identical
    across engines), each mean folds over the SORTED term list (the
    q_entropy rule — pins the float addition order), the divisor is
    an exact BIGINT, and the result is ROUND 9. The weighted terms
    are one exact-rounded IEEE multiply each (BIGINT-exact weight x
    quantized metric).

    Scale: the per-class frame costs the same ONE data shuffle as
    classification_report; the summary is ONE aggregation over that
    |classes|-row frame (collect_list is bounded by the class
    vocabulary — a report-sized census by definition) unpivoted to
    exactly 3 rows via stack. Output: (avg_mode, n_classes, support,
    precision, recall, f1) ordered by avg_mode."""
    per = classification_report(df, label_col, pred_col)

    agg = per.agg(*class_summary_aggs())
    return class_summary_rows(agg, []).orderBy("avg_mode")


def class_summary_aggs() -> list[Column]:
    """The summary aggregates over a per-class report frame: exact
    BIGINT totals plus the six sorted-fold sums.
    Every mean's inputs are the per-class ROUND-9 metrics; each fold
    runs over the SORTED term list (the q_entropy rule — pins the
    float addition order), with NULL metrics contributing 0
    (sklearn's zero_division=0). collect_list is bounded by the class
    vocabulary — a report-sized census by definition."""

    def _sorted_fold(term: Column) -> Column:
        return F.aggregate(
            F.array_sort(F.collect_list(term)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    w = F.col("n_true").cast("double")
    return [
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.sum("n_true").cast("bigint").alias("support"),
        F.sum("tp").cast("bigint").alias("sum_tp"),
        _sorted_fold(F.coalesce(F.col("precision"), F.lit(0.0))).alias("_mp"),
        _sorted_fold(F.coalesce(F.col("recall"), F.lit(0.0))).alias("_mr"),
        _sorted_fold(F.coalesce(F.col("f1"), F.lit(0.0))).alias("_mf"),
        _sorted_fold(w * F.coalesce(F.col("precision"), F.lit(0.0))).alias(
            "_wp"
        ),
        _sorted_fold(w * F.coalesce(F.col("recall"), F.lit(0.0))).alias(
            "_wr"
        ),
        _sorted_fold(w * F.coalesce(F.col("f1"), F.lit(0.0))).alias("_wf"),
    ]


def class_summary_rows(agg: DataFrame, carry_cols: list[str]) -> DataFrame:
    """Unpivot the one-row-per-key summary aggregate into the 3
    averaging-mode rows via stack — stateless projections.
    ``carry_cols`` ride along."""
    nc = F.col("n_classes").cast("double")
    sup = F.col("support").cast("double")
    acc = F.col("sum_tp").cast("double") / sup
    rows = agg.select(
        *carry_cols,
        "n_classes",
        "support",
        F.expr(
            "stack(3, 'macro', _mp, _mr, _mf, "
            "'weighted', _wp, _wr, _wf, "
            "'micro', CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
            "CAST(NULL AS DOUBLE)) AS (avg_mode, _p, _r, _f)"
        ),
        acc.alias("_acc"),
    )
    is_macro = F.col("avg_mode") == "macro"
    is_micro = F.col("avg_mode") == "micro"
    den = F.when(is_macro, nc).otherwise(sup)

    def _metric(raw: str) -> Column:
        return F.round(
            F.when(is_micro, F.col("_acc")).otherwise(F.col(raw) / den), 9
        )

    return rows.select(
        *carry_cols,
        "avg_mode",
        "n_classes",
        "support",
        _metric("_p").alias("precision"),
        _metric("_r").alias("recall"),
        _metric("_f").alias("f1"),
    )


# --------------------------------------------------------------------------
# Cochran-Armitage trend test (grouped 2xm ordered categories)
# --------------------------------------------------------------------------


def cochran_armitage_trend(
    df: DataFrame,
    group_cols: list[str],
    outcome_col: str,
    score_col: str,
) -> DataFrame:
    """Grouped Cochran-Armitage test for trend (Cochran 1954,
    Armitage 1955) — the ordered-contingency corner both the
    chi-square family and fisher_exact document away: a 2xm table of
    a binary ``outcome_col`` against m ORDERED categories (carried by
    the caller-supplied integer ``score_col`` — conventionally the
    category's ordinal position or dose level) is tested for a LINEAR
    trend in the outcome proportion across the ordering, which a
    general independence test dilutes over m-1 degrees of freedom.

    No-transcendentals discipline (the fisher_exact trick applied to
    the z² algebra): with per-row integer score s and outcome y, the
    five per-group partials N, R = Σy, A = Σs·y, B = Σs, C = Σs² are
    exact BIGINTs from ONE aggregation, and both z² building blocks
    are exact BIGINT differences computed BEFORE any float touches
    them — d1 = N·A − R·B (the covariance numerator, whose
    catastrophic cancellation is exactly what a float formulation
    loses) and d2 = N·C − B² (the score-variance numerator). Then

        z² = N·d1² / (R·(N−R)·d2)

    is evaluated in doubles from those exact integers — four
    correctly-rounded IEEE products and one division, identical in
    any engine (d1², positive, cannot cancel), ROUND 9. The sign of
    the trend is exact: trend_sign = sign(d1) ∈ {−1, 0, 1}. z² is
    NULL when degenerate: R = 0 or R = N (constant outcome) or
    d2 = 0 (a single score level). BIGINT domain: N·max|s| and
    N·C must stay under 2^63 — with small ordinal scores (0..9) that
    is N ≲ 10⁸ rows per group; d1² lives in doubles, so it never
    overflows.

    Scale: ONE groupBy carrying five BIGINT partials (map-side
    combined, shuffle = one row per group); the readout is stateless
    projections. Output one row per group:
    (group..., n, r1, m_levels, s_min, s_max, d1, d2, trend_sign,
    z2) ordered by group. (m_levels/s_min/s_max are the table-shape
    diagnostics a reviewer wants beside the statistic.)"""
    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    y = F.col(outcome_col).cast("boolean")
    s = F.col(score_col).cast("bigint")
    base = df.where(y.isNotNull() & s.isNotNull()).select(
        *[c for c in df.columns if c not in (outcome_col, score_col)],
        y.cast("int").cast("bigint").alias("_y"),
        s.alias("_s"),
    )
    agg = base.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("_y").cast("bigint").alias("r1"),
        F.sum(F.col("_s") * F.col("_y")).cast("bigint").alias("_a"),
        F.sum("_s").cast("bigint").alias("_b"),
        F.sum(F.col("_s") * F.col("_s")).cast("bigint").alias("_c"),
        F.count_distinct(F.col("_s")).cast("bigint").alias("m_levels"),
        F.min("_s").alias("s_min"),
        F.max("_s").alias("s_max"),
    )
    d1 = F.col("n") * F.col("_a") - F.col("r1") * F.col("_b")
    d2 = F.col("n") * F.col("_c") - F.col("_b") * F.col("_b")
    with_d = agg.select(
        *group_cols,
        "n",
        "r1",
        "m_levels",
        "s_min",
        "s_max",
        d1.alias("d1"),
        d2.alias("d2"),
    )
    ok = (
        (F.col("r1") > 0)
        & (F.col("r1") < F.col("n"))
        & (F.col("d2") > 0)
    )
    z2 = (
        F.col("n").cast("double")
        * F.col("d1").cast("double")
        * F.col("d1").cast("double")
    ) / (
        F.col("r1").cast("double")
        * (F.col("n") - F.col("r1")).cast("double")
        * F.col("d2").cast("double")
    )
    return with_d.select(
        *group_cols,
        "n",
        "r1",
        "m_levels",
        "s_min",
        "s_max",
        "d1",
        "d2",
        F.signum(F.col("d1")).cast("bigint").alias("trend_sign"),
        F.round(F.when(ok, z2), 9).alias("z2"),
    ).orderBy(*group_cols)


# --------------------------------------------------------------------------
# One-vs-rest ROC AUC (per-class + macro/weighted/micro summary)
# --------------------------------------------------------------------------


RANK_RANGE_PARTS = 64


# Below this many level rows the plain per-class window (one sort
# task per class) beats the two-level machinery's fixed job overhead;
# above it the single-task sorts become the bottleneck. The summary
# picks per-dataset via one count() of its pinned census.
RANK_SCALABLE_THRESHOLD = 1_000_000


def _grouped_level_ranks(
    levels: DataFrame, cls_col: str, s_col: str, scalable: bool = True
) -> DataFrame:
    """Midrank first_rank over a per-(class, score-level) count
    table. ``scalable=False`` is the plain aggregated-levels window
    (Window.partitionBy(class) — one sort task per class, right when
    levels are banded/report-sized); ``scalable=True`` is the
    two-level path below, for level counts that approach the row
    count (continuous scores). Both produce identical exact integer
    ranks.

    Scalable midrank first_rank over a per-(class, score-level)
    count table: the two-level bucket-offset prefix sum
    (pack_sequences' technique) with order-preserving buckets cut at
    driver-side approximate score quantiles. Bucket assignment is a
    PURE FUNCTION of the score (count of broadcast cut points at or
    below it), so — unlike a repartitionByRange + spark_partition_id
    formulation — no checkpoint is needed to pin partition ids
    across plan subtrees and no extra range exchange enters the plan:
    the only data movement is the hash shuffle the within-bucket
    window needs anyway. Per-(class, bucket) level totals cumsum'd in
    bucket order (a cuts-count-sized single-task window — negligible)
    give each bucket's offset; the within-bucket cumsum runs
    partitioned by (class, bucket), fully parallel. The exact integer
    first_rank per level is INDEPENDENT of where the cuts fall (any
    monotone bucketing yields the same prefix sums), so the
    approximation error and ordering nondeterminism of approxQuantile
    affect only load balance, never values. The quantile pass is one
    bounded driver action (≤ RANK_RANGE_PARTS−1 doubles — the IVF
    centroid-table collect exception); non-numeric or constant scores
    degrade to one bucket per class, which is the plain aggregated-
    levels window."""
    if not scalable:
        w = Window.partitionBy(cls_col).orderBy(s_col).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        return levels.withColumn(
            "first_rank",
            (
                F.sum("n_level").over(w) - F.col("n_level") + F.lit(1)
            ).cast("bigint"),
        )
    try:
        cuts = sorted(
            set(
                levels.stat.approxQuantile(
                    s_col,
                    [
                        i / RANK_RANGE_PARTS
                        for i in range(1, RANK_RANGE_PARTS)
                    ],
                    0.01,
                )
            )
        )
    except Exception:  # non-numeric score type
        cuts = []
    if cuts:
        cut_arr = F.array(*[F.lit(float(c)) for c in cuts])
        bucket = F.size(
            F.filter(cut_arr, lambda c: c <= F.col(s_col))
        ).cast("int")
    else:
        bucket = F.lit(0)
    b = levels.withColumn("_bk", bucket)
    offsets = (
        b.groupBy(cls_col, "_bk")
        .agg(F.sum("n_level").cast("bigint").alias("_btot"))
        .withColumn(
            "_boff",
            F.coalesce(
                F.sum("_btot").over(
                    Window.partitionBy(cls_col)
                    .orderBy("_bk")
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).cast("bigint"),
        )
        .drop("_btot")
    )
    w_in = Window.partitionBy(cls_col, "_bk").orderBy(s_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        b.join(F.broadcast(offsets), [cls_col, "_bk"])
        .withColumn(
            "first_rank",
            (
                F.col("_boff")
                + F.sum("n_level").over(w_in)
                - F.col("n_level")
                + F.lit(1)
            ).cast("bigint"),
        )
        .drop("_bk", "_boff")
    )


def roc_auc_ovr(
    df: DataFrame,
    class_col: str,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """Per-class one-vs-rest ROC AUC — roc_auc's rank formulation
    (Mann-Whitney with midrank ties, exact-BIGINT doubled rank-sums)
    GROUPED by class over a long-format frame: one input row per
    (example, class) carrying that class's score and the binary
    indicator label (1 iff the example's true class IS this class —
    the standard OvR reduction of a multi-class scorer).

    Exactness: identical to roc_auc per class — 2·ΣR⁺ is an exact
    BIGINT over the class's score levels, AUC is ONE division of
    exact BIGINTs, bit-deterministic anywhere; NULL when the class
    has no positives or no negatives.

    Scale (the aggregated-levels pattern, hardened for CONTINUOUS
    scores): the corpus collapses to per-(class, score-level) counts
    FIRST (one shuffle, map-side combined). A continuous scorer makes
    |levels| approach the row count, and a plain
    Window.partitionBy(class) would then sort every class's levels in
    ONE task (classes are few by definition) — so the midrank prefix
    sum runs at two levels instead (the pack_sequences bucket-offset
    technique with RANGE partitioning supplying order-preserving
    buckets): range-partition the level table on (class, score),
    cumsum within each partition in parallel, and add the broadcast
    per-(class, partition) offsets — whose own cumsum runs over a
    partition-count-sized table. The exact integer ranks are
    independent of where the sampled range boundaries fall. Readout
    is one row per class. Output: (class, n_pos, n_neg, sum_r2_pos,
    auc ROUND 9) ordered by class."""
    return _ovr_readout(
        _ovr_levels(df, class_col, score_col, label_col)
    )


def _ovr_levels(
    df: DataFrame, class_col: str, score_col: str, label_col: str
) -> DataFrame:
    """The OvR level census (_cls, _s, n_level, n_pos_level) — shared
    by roc_auc_ovr and the summary, which derives the POOLED levels
    from this table instead of re-scanning the input."""
    return (
        df.where(
            F.col(score_col).isNotNull() & F.col(class_col).isNotNull()
        )
        .select(
            F.col(class_col).alias("_cls"),
            F.col(score_col).alias("_s"),
            F.col(label_col).cast("int").alias("_y"),
        )
        .groupBy("_cls", "_s")
        .agg(
            F.count(F.lit(1)).alias("n_level"),
            F.sum("_y").cast("bigint").alias("n_pos_level"),
        )
    )


def _ovr_readout(levels: DataFrame, scalable: bool = True) -> DataFrame:
    """Per-class rank-sum readout over an OvR level census."""
    cum = _grouped_level_ranks(levels, "_cls", "_s", scalable=scalable)
    agg = cum.groupBy(F.col("_cls").alias("class")).agg(
        F.sum("n_pos_level").cast("bigint").alias("n_pos"),
        F.sum(F.col("n_level") - F.col("n_pos_level"))
        .cast("bigint")
        .alias("n_neg"),
        F.sum(
            F.col("n_pos_level")
            * (
                F.lit(2) * F.col("first_rank")
                + F.col("n_level")
                - F.lit(1)
            )
        ).cast("bigint").alias("sum_r2_pos"),
    )
    num = F.col("sum_r2_pos") - F.col("n_pos") * (F.col("n_pos") + F.lit(1))
    den = F.lit(2) * F.col("n_pos") * F.col("n_neg")
    return agg.select(
        "class",
        "n_pos",
        "n_neg",
        "sum_r2_pos",
        F.round(
            F.when(
                (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
                num.cast("double") / den.cast("double"),
            ),
            9,
        ).alias("auc"),
    ).orderBy("class")


def roc_auc_ovr_summary(
    df: DataFrame,
    class_col: str,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """Macro / weighted / micro averaging of the per-class
    one-vs-rest AUCs — completing the classification-eval family
    beside classification_summary (that block grades HARD
    assignments; this grades SCORES, sklearn's
    roc_auc_score(average=...) for the OvR reduction):

    - ``macro``: unweighted mean of the per-class ROUND-9 AUCs over
      the classes where AUC is DEFINED (a class with no positives or
      no negatives has no ranking to grade — excluding it is
      sklearn's behavior for multi_class='ovr'; n_defined reports how
      many contributed, so exclusion is visible, never silent).
    - ``weighted``: the same mean weighted by each defined class's
      positive support n_pos.
    - ``micro``: the POOLED rank-sum AUC over all (example, class)
      pairs at once — one global exact-BIGINT computation, NOT a mean
      of per-class values, so it is exact end-to-end and serves as
      the family's self-check (for a perfect scorer all three modes
      read 1.0; tests assert the identity).

    Determinism (the classification_summary rule): every mean folds
    over the SORTED per-class term list (collect_list is bounded by
    the class vocabulary), its inputs are the per-class ROUND-9 AUCs
    (each one IEEE division of exact BIGINTs), the divisor is an
    exact BIGINT, and the result is ROUND 9.

    Output: (avg_mode, n_classes, n_defined, support, auc) ordered by
    avg_mode — 3 rows. support = Σ n_pos over defined classes for
    macro/weighted, over ALL pooled pairs for micro."""
    # ONE scan of the (usually exploded) input builds the per-class
    # level census; the pooled micro levels are DERIVED from it by
    # re-aggregating on score — halving the input passes vs calling
    # roc_auc on the raw frame. localCheckpoint pins the census for
    # its two consumers (measured: the q_auc_ovr key's two full
    # explode+groupBy passes dominated its steady time).
    levels = _ovr_levels(
        df, class_col, score_col, label_col
    ).localCheckpoint()
    # adaptive rank strategy: one count() of the PINNED census (a
    # cached-partition count, near-free) picks the plain window for
    # banded/report-sized level tables and the two-level bucketed
    # path once the level count approaches the row count — the fixed
    # job overhead of the parallel machinery is only paid when the
    # single-task sorts it removes would actually bottleneck
    scalable = levels.count() > RANK_SCALABLE_THRESHOLD
    per = _ovr_readout(levels, scalable=scalable)
    defined = F.col("auc").isNotNull()
    agg = per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.sum(defined.cast("int")).cast("bigint").alias("n_defined"),
        F.sum(F.when(defined, F.col("n_pos")).otherwise(0))
        .cast("bigint")
        .alias("def_support"),
        F.aggregate(
            F.array_sort(
                F.collect_list(F.when(defined, F.col("auc")))
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("_msum"),
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.when(
                        defined,
                        F.col("n_pos").cast("double") * F.col("auc"),
                    )
                )
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("_wsum"),
    ).withColumn("_j", F.lit(1))
    pool_levels = levels.groupBy("_s").agg(
        F.sum("n_level").cast("bigint").alias("n_level"),
        F.sum("n_pos_level").cast("bigint").alias("n_pos_level"),
    )
    pool_cum = _grouped_level_ranks(
        pool_levels.withColumn("_one", F.lit(1)), "_one", "_s",
        scalable=scalable,
    )
    pool_num = F.col("_pr2") - F.col("_pool_pos") * (
        F.col("_pool_pos") + F.lit(1)
    )
    pool_den = F.lit(2) * F.col("_pool_pos") * F.col("_pool_neg")
    pooled = (
        pool_cum.agg(
            F.sum("n_pos_level").cast("bigint").alias("_pool_pos"),
            F.sum(F.col("n_level") - F.col("n_pos_level"))
            .cast("bigint")
            .alias("_pool_neg"),
            F.sum(
                F.col("n_pos_level")
                * (
                    F.lit(2) * F.col("first_rank")
                    + F.col("n_level")
                    - F.lit(1)
                )
            ).cast("bigint").alias("_pr2"),
        )
        .select(
            "_pool_pos",
            F.when(
                (F.col("_pool_pos") > 0) & (F.col("_pool_neg") > 0),
                pool_num.cast("double") / pool_den.cast("double"),
            ).alias("_pool_auc"),
        )
        .withColumn("_j", F.lit(1))
    )
    one = agg.join(F.broadcast(pooled), "_j")
    rows = one.select(
        "n_classes",
        "n_defined",
        "def_support",
        "_pool_pos",
        F.expr(
            # CASE guards, not bare divisions: ANSI mode (Spark 4
            # default) errors on double-by-zero instead of NaN
            "stack(3, "
            "'macro', CASE WHEN n_defined > 0 "
            "THEN _msum / CAST(n_defined AS DOUBLE) END, "
            "'weighted', CASE WHEN def_support > 0 "
            "THEN _wsum / CAST(def_support AS DOUBLE) END, "
            "'micro', _pool_auc) AS (avg_mode, _auc)"
        ),
    )
    is_micro = F.col("avg_mode") == "micro"
    return rows.select(
        "avg_mode",
        "n_classes",
        "n_defined",
        F.when(is_micro, F.col("_pool_pos"))
        .otherwise(F.col("def_support"))
        .cast("bigint")
        .alias("support"),
        F.round(
            F.when(F.col("n_defined") > 0, F.col("_auc")), 9
        ).alias("auc"),
    ).orderBy("avg_mode")
