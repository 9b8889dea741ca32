"""Distributed connected components over a DataFrame edge list.

Near-duplicate detection emits PAIRS (minhash / simhash / embedding
LSH, operators/dedup.py); turning pairs into deduplication decisions
needs the transitive closure — documents A~B and B~C must land in one
cluster even when A and C never paired. That closure is connected
components, the step every production dedup pipeline runs between
candidate generation and canonical-document selection.

The implementation is iterative min-label propagation with pointer
jumping (label-of-label), the classic O(log n)-round PRAM technique
expressed in joins:

  round:  label(v) ← min(label(v), min over neighbors u of label(u))
  jump:   label(v) ← label(label(v))

Plain propagation alone needs O(diameter) rounds — a 1M-long chain of
near-dup pairs (common in templated web text) would take 1M rounds.
With the jump step the label graph halves in depth every round, so
convergence is O(log n) rounds of hash-shuffle joins, each fully
parallel. Convergence is detected with a 1-row aggregate: labels only
ever decrease, so the label sum is strictly decreasing until the fixed
point — no join-and-compare pass needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _normalize_undirected(
    edges: DataFrame,
    src: str,
    dst: str,
    a: str = "a",
    b: str = "b",
) -> tuple[DataFrame, DataFrame]:
    """Canonical-first normalizer for an arbitrary undirected edge
    list: ONE distinct over the (min, max) canonical pairs (m rows),
    then the both-orientations adjacency as a provably disjoint
    mirror union (x < y on one side, x > y on the other — no overlap,
    so no second dedup). The former union-then-distinct shape pushed
    2m directed rows through the dedup exchange to produce the same
    set. Returns (canon, dirs): canon is the deduped x < y half
    (useful directly as the existing-edge set), dirs both
    orientations; self-loops are dropped."""
    lo, hi = F.least(F.col(src), F.col(dst)), F.greatest(
        F.col(src), F.col(dst)
    )
    canon = (
        edges.select(lo.alias(a), hi.alias(b))
        .where(F.col(a) < F.col(b))
        .distinct()
    )
    # The swap-side branch must NOT re-filter canon: every canon row
    # already has a < b strictly, so the swap alone is self-loop-free
    # — and a filter here pushes below the distinct's partial
    # aggregation, making the two union branches' exchanges
    # non-identical, which defeats AQE's runtime exchange reuse and
    # re-runs the caller's WHOLE edge construction + dedup map side
    # once per branch (profiled: two duplicate pair-explosion stages
    # under every k_core/bfs_hops/degree census at sf0.1).
    mirror = canon.select(F.col(b).alias(a), F.col(a).alias(b))
    return canon, canon.unionAll(mirror)


def connected_components(
    edges: DataFrame,
    vertices: DataFrame,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
    max_iter: int = 50,
    loop_shuffle_partitions: int | None = None,
) -> DataFrame:
    """Connected components of the undirected graph given by ``edges``
    over the vertex set ``vertices`` (isolated vertices become
    singleton components). Returns (id_col, component) where
    ``component`` is the minimum vertex id in the component.

    Each iteration: one shuffle join (neighbor labels), one aggregate,
    one self-join (pointer jump). Iterations are O(log n);
    intermediate labels are persisted and released round-by-round so
    state stays bounded. Convergence probes (a 1-row sum collect) run
    every TWO pointer-jump rounds, not every round — label sums are
    monotone nonincreasing, so an unchanged sum across a 2-round
    batch proves both rounds were no-ops; in local mode the probe's
    fixed job-submission cost dominates toy-scale iteration time
    (DBSCAN's CC stage), and at cluster scale it halves the
    driver-roundtrip chatter.

    ``loop_shuffle_partitions`` scopes ``spark.sql.shuffle.partitions``
    to the iteration loop (saved/restored around it): the labels table
    is two integer columns — one row per vertex — so a session width
    sized for fact-table scans (32 locally, hundreds on a cluster)
    fans every round's three shuffles out over mostly-empty tasks, and
    the per-task submission overhead times O(log n) rounds dominates
    toy-to-medium component wall time. Default ``None`` keeps the
    session width — the scale-safe choice when the vertex set itself
    is huge (the label table at 100 TB dedup scale is per-document, so
    it must be sized like any other per-document shuffle); only
    callers whose vertex set is STRUCTURALLY bounded should pass a
    small explicit width. CAVEAT: a non-None width is applied via a
    session-wide conf set/restore around the loop (Spark has no
    per-query shuffle width), so it briefly narrows any CONCURRENT
    query on the same session — use only from single-threaded
    drivers.
    """
    # canonical-first normalize (the _normalize_undirected shape): ONE
    # scan of the caller's edge construction + one m-row distinct,
    # where the former union-then-distinct referenced the edge subtree
    # twice and deduped 2m directed rows. Self-loops are dropped —  a
    # (x, x) edge contributes only (x, comp(x)) to the neighbor-min
    # fold, which the seed's own (x, x) row already supplies, so the
    # component labels are unchanged.
    dirs = _normalize_undirected(edges, src, dst)[1].persist()
    # localCheckpoint (not persist): an iterative plan nests the
    # previous round's plan inside each new round, so without lineage
    # TRUNCATION the logical plan doubles per round and Catalyst
    # analysis alone OOMs the driver after ~15 rounds. Checkpointing
    # materializes each round's labels and cuts the plan back to a
    # leaf. (On a cluster with an unreliable-executor concern, set a
    # checkpoint dir and swap for reliable checkpoint(); semantics are
    # identical.)
    # seed = one neighbor-min fold (min of self and all neighbors),
    # fused into the seed materialization: for an input that is
    # already a flat star forest (contract_edges output) the seed IS
    # the fixpoint, so the loop's first batch is the convergence
    # confirmation and the whole CC costs one batch; for a general
    # graph it's round 1 for free (no per-round checkpoint/probe tax)
    spark = edges.sparkSession
    saved_width = spark.conf.get("spark.sql.shuffle.partitions")
    if loop_shuffle_partitions is not None:
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(loop_shuffle_partitions)
        )
    rounds_per_probe = 2
    it = 0
    try:
        # lazy checkpoint: the 1-row probe right after is the action
        # that materializes it, so seed + probe are ONE job (same for
        # every batch below) — halves the per-batch job count, which
        # is the dominant cost at small-to-medium vertex counts
        labels = (
            vertices.select(
                F.col(id_col).alias("v"), F.col(id_col).alias("comp")
            )
            .unionByName(
                dirs.select(F.col("a").alias("v"), F.col("b").alias("comp"))
            )
            .groupBy("v")
            .agg(F.min("comp").alias("comp"))
            .localCheckpoint(eager=False)
        )
        prev_sum = labels.agg(F.sum("comp")).collect()[0][0] or 0
        while it < max_iter:
            for _ in range(min(rounds_per_probe, max_iter - it)):
                # neighbor minimum: for each edge (a, b), b receives
                # a's label
                nbr = dirs.join(labels, dirs.a == labels.v).select(
                    F.col("b").alias("v"), F.col("comp")
                )
                merged = (
                    labels.unionByName(nbr)
                    .groupBy("v")
                    .agg(F.min("comp").alias("comp"))
                )
                # pointer jump: follow the label one hop (labels are
                # vertex ids, so every comp value exists as a v on the
                # left)
                hop = merged.select(
                    F.col("v").alias("cv"), F.col("comp").alias("ccomp")
                )
                labels = (
                    merged.join(hop, merged.comp == hop.cv)
                    .select("v", F.col("ccomp").alias("comp"))
                )
                it += 1
            # one lazy checkpoint + one 1-row probe per 2-round batch
            # (one job: the probe materializes the checkpoint): the
            # checkpoint still truncates lineage (depth ≤ 2 rounds),
            # and extra post-fixpoint rounds are idempotent, so
            # batching can at worst run one no-op round
            labels = labels.localCheckpoint(eager=False)
            new_sum = labels.agg(F.sum("comp")).collect()[0][0] or 0
            if new_sum == prev_sum:
                break
            prev_sum = new_sum
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved_width)
    dirs.unpersist()
    return labels.select(
        F.col("v").alias(id_col), F.col("comp").alias("component")
    )


def contract_edges(
    edges: DataFrame,
    key_col: str,
    src: str = "src",
    dst: str = "dst",
    emit_key: bool = False,
) -> DataFrame:
    """Locality-keyed local contraction: union-find within each
    ``key_col`` group, emitting star edges (src=vertex, dst=group-local
    min root). Connectivity-preserving — every input edge is unioned in
    exactly ONE group, and the stars reproduce exactly those unions —
    so ``connected_components(contract_edges(e, k), V)`` equals
    ``connected_components(e, V)`` while the star graph's depth inside
    each group is 1.

    Why: pointer-jumping CC pays O(log diameter) shuffle rounds, and
    the diameter of a similarity/adjacency graph can grow with data
    density (a percolating DBSCAN chain, a templated near-dup run).
    When the caller can supply a LOCALITY key whose groups are
    memory-bounded and contain whole chain segments — a coarse H3 cell
    for spatial graphs, an LSH band or domain for near-dup graphs —
    one ``applyInPandas`` pass collapses every within-group chain to
    depth 1, leaving the iterative loop only the between-group graph
    (diameter = #groups a component spans, geometry-bounded rather
    than density-bounded).

    Contract: groups must fit one task's memory (choose the key so
    |edges per group| is bounded — cell area × density for spatial
    keys). A RANDOM key is useless here: chains fragment into
    expected-length-~1 runs and nothing contracts; the key must be
    locality-coherent. One shuffle (the groupBy); output size ≤ one
    star edge per distinct vertex per group it appears in.

    ``emit_key=True`` adds the group key (cast to long) as a third
    column ``key`` — lets a second, coarser-keyed contraction pass run
    on the star graph without re-joining a vertex→key map (pass 2 keys
    by a parent of pass 1's key, the staggered-grid trick that
    collapses chains zigzagging along pass-1 group boundaries).
    """
    import pandas as pd

    out_schema = (
        "src long, dst long, key long" if emit_key else "src long, dst long"
    )

    def _contract(keys, pdf):
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            # path compression
            while parent.get(x, x) != r:
                parent[x], x = r, parent[x]
            return r

        for a, b in zip(pdf["_ca"].values, pdf["_cb"].values):
            ra, rb = find(int(a)), find(int(b))
            if ra != rb:
                # union by min id → the root IS the group-local min
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        verts = set(map(int, pdf["_ca"].values))
        verts.update(map(int, pdf["_cb"].values))
        vs = sorted(verts)
        out = {"src": vs, "dst": [find(v) for v in vs]}
        if emit_key:
            out["key"] = [int(keys[0])] * len(vs)
        return pd.DataFrame(out)

    return (
        edges.select(
            F.col(key_col).cast("long").alias("_k"),
            F.col(src).cast("long").alias("_ca"),
            F.col(dst).cast("long").alias("_cb"),
        )
        .groupBy("_k")
        .applyInPandas(_contract, out_schema)
        .where(F.col("src") != F.col("dst"))
    )


def pagerank(
    edges: DataFrame,
    vertices: DataFrame,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
    damping: float = 0.85,
    max_iter: int = 15,
) -> DataFrame:
    """PageRank over a directed edge list — the crawl-prioritization /
    domain-authority primitive of a web-scale training-data pipeline
    (rank sources before sampling; weight dedup survivors by
    authority). Returns (id_col, rank); ranks sum to 1.

    Per iteration: one shuffle join (ranks onto out-edges), one
    aggregate (contributions per target), one broadcast-sized 1-row
    action (dangling mass), one left join back to the vertex set.
    Edge list + out-degrees are computed once and persisted; each
    round's ranks are localCheckpoint'ed to truncate lineage (same
    driver-OOM reasoning as connected_components above). Fixed
    ``max_iter`` rounds — power iteration's error contracts by the
    damping factor per round (0.85^15 ≈ 0.09 of the initial gap; raise
    for tighter convergence).

    Dangling vertices (no out-edges) redistribute their mass uniformly
    — the standard correction, so total rank stays exactly 1 and a
    sink-heavy graph (most leaf URLs) doesn't leak rank.

    Edges referencing ids absent from ``vertices`` (either endpoint)
    are dropped up front — two semi-joins before the degree count.
    Without this, contributions to unknown targets silently vanish in
    the final left join and the sum-to-1 contract breaks; a vertex
    whose only out-edges pointed outside the set correctly becomes
    dangling.
    """
    n = vertices.count()
    if n == 0:
        return vertices.select(
            F.col(id_col).alias(id_col), F.lit(0.0).alias("rank")
        )
    verts = vertices.select(F.col(id_col).alias("v")).persist()
    in_set = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .join(verts.select(F.col("v").alias("a")), "a", "semi")
        .join(verts.select(F.col("v").alias("b")), "b", "semi")
    )
    withdeg = (
        in_set.join(
            in_set.groupBy("a").agg(F.count(F.lit(1)).alias("outdeg")),
            "a",
        )
        .persist()
    )
    ranks = verts.select("v", F.lit(1.0 / n).alias("rank")).localCheckpoint()
    base = (1.0 - damping) / n
    for _ in range(max_iter):
        dangling = (
            ranks.join(
                withdeg.select("a").distinct(),
                ranks.v == F.col("a"),
                "left_anti",
            )
            .agg(F.sum("rank"))
            .collect()[0][0]
            or 0.0
        )
        contribs = (
            withdeg.join(ranks, withdeg.a == ranks.v)
            .select(
                F.col("b").alias("v"),
                (F.col("rank") / F.col("outdeg")).alias("c"),
            )
            .groupBy("v")
            .agg(F.sum("c").alias("c"))
        )
        ranks = (
            verts.join(contribs, "v", "left")
            .select(
                "v",
                (
                    F.lit(base)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("c"), F.lit(0.0))
                        + F.lit(dangling / n)
                    )
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    verts.unpersist()
    withdeg.unpersist()
    return ranks.select(F.col("v").alias(id_col), "rank")


def triangle_counts(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Per-vertex triangle counts over an undirected graph — the local
    clustering signal (dense near-dup cliques, tightly-knit co-visit
    groups). Output: (vertex, n_triangles) for every vertex incident
    to at least one triangle.

    Scale design: edges are oriented low→high by (degree, id) before
    the wedge join — the standard orientation bound: every vertex's
    out-degree is O(√m), so wedge volume is Σ out-deg² ≤ m^1.5
    regardless of skew (a raw id-ordered join lets one high-degree hub
    generate deg² wedges). Wedges then semi-join against the oriented
    edge set; each triangle is found exactly once and credited to its
    three corners with one explode + one aggregation. Three shuffles
    total (degree count, wedge join, corner aggregation), all
    hash-keyed and partial-aggregated."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("_u"),
            F.greatest(F.col(src), F.col(dst)).alias("_v"),
        )
        .where(F.col("_u") != F.col("_v"))
        .distinct()
    )
    deg = (
        e.select(F.col("_u").alias("_x"))
        .unionAll(e.select(F.col("_v").alias("_x")))
        .groupBy("_x")
        .agg(F.count(F.lit(1)).alias("_d"))
    )
    da = deg.select(F.col("_x").alias("_u"), F.col("_d").alias("_du"))
    db = deg.select(F.col("_x").alias("_v"), F.col("_d").alias("_dv"))
    ranked = e.join(da, "_u").join(db, "_v")
    # orient from the (degree, id)-smaller endpoint to the larger
    fwd = (F.col("_du") < F.col("_dv")) | (
        (F.col("_du") == F.col("_dv")) & (F.col("_u") < F.col("_v"))
    )
    oriented = ranked.select(
        F.when(fwd, F.col("_u")).otherwise(F.col("_v")).alias("_a"),
        F.when(fwd, F.col("_v")).otherwise(F.col("_u")).alias("_b"),
    )
    w1 = oriented.select(
        F.col("_a").alias("_p"), F.col("_b").alias("_q")
    )
    w2 = oriented.select(
        F.col("_a").alias("_p"), F.col("_b").alias("_r")
    )
    wedges = w1.join(w2, "_p").where(F.col("_q") < F.col("_r"))
    closing = oriented.select(
        F.least("_a", "_b").alias("_q2"),
        F.greatest("_a", "_b").alias("_r2"),
    ).distinct()
    tris = wedges.join(
        closing,
        (F.least("_q", "_r") == F.col("_q2"))
        & (F.greatest("_q", "_r") == F.col("_r2")),
        "semi",
    )
    corners = tris.select(
        F.explode(F.array("_p", "_q", "_r")).alias("vertex")
    )
    return corners.groupBy("vertex").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


def clustering_coefficients(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Local clustering coefficient per vertex: 2·T / (d·(d−1)) where
    T is the vertex's triangle count and d its degree — how close each
    vertex's neighborhood is to a clique (1.0 inside near-dup cliques,
    ~0 for hub-and-spoke structure). Vertices of degree < 2 have an
    undefined coefficient and report 0.0 by the usual convention.
    Output: (vertex, degree, n_triangles, clustering_coeff).

    Composes :func:`triangle_counts` (degree-ordered wedge join,
    m^1.5-bounded) with the degree table; the final join is
    vertex-cardinality on both sides and the coefficient is an exact
    integer ratio in double."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("_u"),
            F.greatest(F.col(src), F.col(dst)).alias("_v"),
        )
        .where(F.col("_u") != F.col("_v"))
        .distinct()
    )
    deg = (
        e.select(F.col("_u").alias("vertex"))
        .unionAll(e.select(F.col("_v").alias("vertex")))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    tris = triangle_counts(edges, src, dst)
    d = F.col("degree").cast("double")
    return (
        deg.join(tris, "vertex", "left")
        .select(
            "vertex",
            F.col("degree").cast("long").alias("degree"),
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias(
                "n_triangles"
            ),
            F.when(
                F.col("degree") < 2, F.lit(0.0)
            ).otherwise(
                F.lit(2.0)
                * F.coalesce("n_triangles", F.lit(0)).cast("double")
                / (d * (d - F.lit(1.0)))
            ).alias("clustering_coeff"),
        )
    )


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 100,
) -> DataFrame:
    """The k-core of the undirected graph: the maximal subgraph where
    every vertex keeps degree >= k — the standard densest-region
    prefilter before community detection, spam-ring isolation, or
    near-dup cluster triage (a vertex in a large duplicate family
    survives a high-k core; incidental pairs don't). Returns
    (vertex, degree) for surviving vertices with their degree INSIDE
    the core.

    Iterative peeling: drop all vertices with current degree < k,
    recompute degrees over the induced subgraph, repeat to fixpoint.
    Each round is one degree aggregation + one semi-join edge filter —
    shuffles keyed on the vertex id only; rounds are bounded by the
    longest peeling chain (typically very few, but adversarial
    topologies — a path graph at k=2 — need ~n/2 rounds). The same
    localCheckpoint lineage-truncation discipline as
    connected_components (an iterative plan nests otherwise), and the
    convergence probe is a 1-row count action per round.

    ``max_iter`` is a SAFETY VALVE, not a result parameter: if the
    peel has not reached a fixpoint within ``max_iter`` rounds the
    call raises RuntimeError rather than silently returning the
    not-yet-converged superset (every vertex still standing after a
    partial peel looks like a core member even when the true k-core
    is empty).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    dirs = _normalize_undirected(edges, src, dst)[1].localCheckpoint()
    prev_edges = dirs.count()
    converged = prev_edges == 0
    for _ in range(max_iter):
        if converged:
            break
        deg = dirs.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.where(F.col("deg") >= k).select("a")
        # lazy checkpoint: the count() right after is the FULL action
        # that materializes it (the connected_components probe trick),
        # so each peel round runs ONE job instead of two
        pruned = (
            dirs.join(keep, "a", "left_semi")
            .join(
                keep.select(F.col("a").alias("b")), "b", "left_semi"
            )
            .localCheckpoint(eager=False)
        )
        n = pruned.count()
        dirs = pruned
        if n == prev_edges:
            converged = True
        prev_edges = n
    if not converged:
        raise RuntimeError(
            f"k_core(k={k}) did not converge within max_iter="
            f"{max_iter} peel rounds ({prev_edges} directed edges "
            "still changing) — raise max_iter; returning the "
            "partial peel would report a superset of the true core"
        )
    return (
        dirs.groupBy(F.col("a").alias("vertex"))
        .agg(F.count(F.lit(1)).alias("degree"))
        .where(F.col("degree") >= k)
    )


def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
) -> DataFrame:
    """Multi-source breadth-first hop distances over the undirected
    graph: for every vertex reachable from ``sources`` within
    ``max_hops`` edges, the MINIMUM hop count to any source — the
    neighborhood-expansion primitive behind "within k degrees of a
    seed set" queries (crawl frontier scoping, fraud-ring blast
    radius, related-item expansion from a seed catalog).

    Classic distributed frontier BFS: round h joins the current
    frontier to the edge list, anti-joins vertices already labeled,
    and stamps survivors with hops=h. Every round is ONE vertex-keyed
    hash join + ONE anti-join — no global state, no driver-side
    vertex sets — and rounds are bounded by ``max_hops`` (a result
    parameter here, not a safety valve: the contract is "within k
    hops", so stopping early is the semantics, and an early-empty
    frontier short-circuits). localCheckpoint per round truncates the
    iterative lineage exactly as connected_components/k_core do; the
    checkpoint is LAZY with the emptiness probe's count() as its
    materializer (the k_core/connected_components trick), so each
    round runs ONE job — an eager checkpoint plus a separate probe
    ran two. (A LIMIT-1 probe is no cheaper here: a lazy checkpoint's
    job-end fill pass computes the partitions the early-exit skipped,
    so the pair costs the same two jobs the eager shape did.)

    Unlike the SQL mirror (a recursive CTE that re-visits a vertex
    once per distinct hop depth and MIN-aggregates at the end), the
    frontier here carries each vertex AT MOST ONCE across the whole
    run — state is O(reachable vertices), the property that makes
    this the 100 TB-safe shape.

    Returns (node, hops) with hops = 0 for the sources themselves.
    """
    if max_hops < 0:
        raise ValueError("max_hops must be >= 0")
    dirs = _normalize_undirected(edges, src, dst)[1].localCheckpoint()
    dist = (
        sources.select(F.col(node).alias("node"))
        .distinct()
        .withColumn("hops", F.lit(0).cast("bigint"))
        .localCheckpoint()
    )
    frontier = dist.select("node")
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(dirs, frontier["node"] == dirs["a"], "inner")
            .select(F.col("b").alias("node"))
            .distinct()
            .join(dist.select("node"), "node", "left_anti")
            .withColumn("hops", F.lit(h).cast("bigint"))
            .localCheckpoint(eager=False)
        )
        if nxt.count() == 0:
            break
        # dist stays a LAZY union of the per-round checkpointed
        # frontiers: every piece is already materialized, so the
        # anti-join above scans checkpointed partitions without
        # recomputation, and the former per-round
        # dist.unionAll(nxt).localCheckpoint() — which re-wrote the
        # ENTIRE accumulated label set once per round (Σh |dist_h|
        # rework and one extra job per round) — is dropped. The union
        # depth is bounded by max_hops, a result parameter.
        dist = dist.unionAll(nxt)
        frontier = nxt.select("node")
    return dist


def label_propagation(
    edges: DataFrame,
    max_rounds: int = 5,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007): every vertex starts as its own label; each round,
    every vertex adopts the most frequent label among its neighbors
    (ties break to the SMALLEST label). Where connected components
    answers "what is reachable", LPA finds densely-knit groups inside
    one component — the near-dup-family / interaction-clique splitter.

    Determinism contract: SYNCHRONOUS rounds (all updates computed
    from the previous round's labels) + the smallest-label tiebreak
    make the result a pure function of (graph, max_rounds) — no seed,
    no visit order. Classic LPA oscillates on bipartite structures
    under synchronous updates, so ``max_rounds`` is a RESULT
    parameter (the standard bounded-round variant), not a convergence
    valve; an early fixpoint short-circuits.

    Scale shape per round: one (vertex-keyed) join to fetch neighbor
    labels, one (vertex, label) count, one per-vertex argmax via a
    rank-1 window over (n desc, label asc) — type-agnostic, so
    string vertex ids (first-class in majority_label and the dedup
    kernels) break ties identically to numeric ones; shuffles never
    carry more than the vertex/label keys; localCheckpoint truncates
    the iterative lineage as in connected_components/k_core. Returns
    (vertex, label).
    """
    if max_rounds < 0:
        raise ValueError("max_rounds must be >= 0")
    dirs = _normalize_undirected(edges, src, dst)[1].localCheckpoint()
    labels = (
        dirs.select(F.col("a").alias("v"))
        .distinct()
        .withColumn("label", F.col("v"))
        .localCheckpoint()
    )
    for _ in range(max_rounds):
        nbr_counts = (
            dirs.join(
                labels.select(
                    F.col("v").alias("b"), F.col("label")
                ),
                "b",
            )
            .groupBy(F.col("a").alias("v"), "label")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        # argmax with smallest-label tiebreak: rank-1 window over
        # (n desc, label asc). Type-agnostic — the previous
        # struct-negation trick silently cast string labels to
        # double-NULL and made the tiebreak nondeterministic.
        wv = Window.partitionBy("v").orderBy(
            F.col("n").desc(), F.col("label").asc()
        )
        nxt = (
            nbr_counts.withColumn("_r", F.row_number().over(wv))
            .where(F.col("_r") == 1)
            .select("v", "label")
            .localCheckpoint()
        )
        changed = (
            labels.join(nxt.withColumnRenamed("label", "_nl"), "v")
            .where(F.col("label") != F.col("_nl"))
            .take(1)
        )
        labels = nxt
        if not changed:
            break
    return labels.select(F.col("v").alias("vertex"), "label")


def degree_distribution(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Degree histogram of the undirected simple graph given by
    ``edges``: one row per observed degree with the number of
    vertices at that degree and its share of all vertices — the
    power-law census a web/link-graph pipeline reads before choosing
    crawl priorities or skew mitigations (a heavy-tailed degree
    column is exactly what makes the hub keys of a later join
    explode).

    Semantics: edges are undirected and deduplicated first
    (self-loops dropped), so degree = |distinct neighbors|. Output:
    (degree, n_vertices, share) ordered by degree — share is ONE
    exact division of BIGINT counts. Scale shape: distinct →
    per-vertex count → per-degree count; three key-bounded shuffles,
    each narrower than the last (the second aggregation's input is
    |V| rows, the third's |distinct degrees|). The share denominator
    is an unpartitioned window over the HIST table — safe because
    hist is |distinct degree values| rows (thousands at web scale),
    and it keeps the plan to ONE pass (a separate total aggregate
    re-derived the whole pipeline as a second subtree — measured in
    .explain before this shape was chosen). No Python.
    """
    dirs = _normalize_undirected(edges, src, dst)[1]
    deg = dirs.groupBy("a").agg(F.count(F.lit(1)).alias("degree"))
    hist = deg.groupBy("degree").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vertices")
    )
    w_all = Window.partitionBy()
    return (
        hist.select(
            F.col("degree").cast("bigint").alias("degree"),
            "n_vertices",
            (
                F.col("n_vertices").cast("double")
                / F.sum("n_vertices").over(w_all).cast("double")
            ).alias("share"),
        )
        .orderBy("degree")
    )


def adamic_adar(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_degree: int | None = 10_000,
    min_common: int = 1,
    quant: float = 1e9,
    log_exclusions: bool = True,
) -> DataFrame:
    """Common-neighbor link prediction (Adamic & Adar 2003) over an
    undirected simple graph: for every NON-adjacent vertex pair
    (u, v) that shares at least ``min_common`` neighbors, emit the
    common-neighbor count and the Adamic-Adar affinity
    Σ_z 1/ln(deg(z)) over shared neighbors z — the standard
    "people/products you may know" scorer and the strongest cheap
    baseline in link-prediction benchmarks.

    Determinism: each neighbor's term is emitted as the BIGINT
    FLOOR(quant / ln(deg(z))) and integer-summed (``aa_q``), so the
    score is aggregation-order-free and the ln 1-ulp engine gap is
    absorbed by the floor (the LM-scoring recipe). Clients divide by
    ``quant`` for the float score. deg(z) ≥ 2 whenever z generates a
    pair, so ln > 0 always.

    Scale: the pair generator is ONE hub-keyed self-join of the
    adjacency list — work Σ_z deg(z)², never |V|². ``max_degree``
    caps the quadratic hub term by EXCLUDING higher-degree vertices
    as witnesses (their 1/ln(deg) terms are the smallest, and a
    celebrity node's co-followers are not meaningful link evidence —
    the standard production cut; excluded-witness count is logged
    under ``log_exclusions``, the default; ``log_exclusions=False``
    keeps the IDENTICAL cap semantics but stays fully lazy — zero
    jobs at construction, the adjacency persist()-pinned instead of
    checkpointed so the four branches still share one computation at
    action time). Existing edges are removed with a broadcast-free
    anti-join on the canonical (min, max) pair key."""
    if min_common < 1:
        raise ValueError(f"min_common must be >= 1: {min_common}")
    canon, dirs = _normalize_undirected(edges, src, dst, a="z", b="n")
    if max_degree is not None:
        if log_exclusions:
            # the hub census below runs a job anyway, so pin the
            # deduped CANONICAL half first (half the rows of the old
            # directed pin): it feeds FOUR downstream branches (both
            # self-join sides via the mirror union, the degree table,
            # the existing-edge anti-join) and without the checkpoint
            # Catalyst re-derives the caller's edge construction once
            # per branch (measured in .explain — 4 full scans of the
            # co-purchase join). With max_degree=None the operator
            # stays fully lazy, re-derivation documented.
            canon = canon.localCheckpoint()
        else:
            canon = canon.persist()
        # restore the non-null constraints the checkpoint/persist
        # boundary erased (canon's z < n filter implied them): without
        # these, every downstream equi-join re-infers isnotnull() on
        # its own branch, the inferred filters sink to different
        # depths, and AQE's stage cache sees four canonically
        # different copies of the same adjacency/degree subtree
        # (measured as duplicate 9.6 MB-input stages). Row-wise a
        # no-op: canon cannot hold nulls.
        canon_nn = canon.where(
            F.col("z").isNotNull() & F.col("n").isNotNull()
        )
        mirror = canon_nn.select(
            F.col("n").alias("z"), F.col("z").alias("n")
        )
        dirs = canon_nn.unionAll(mirror.select("z", "n"))
    deg = dirs.groupBy("z").agg(F.count(F.lit(1)).alias("deg"))
    if max_degree is not None:
        if log_exclusions:
            n_hubs = deg.where(F.col("deg") > max_degree).count()
            if n_hubs:
                import logging

                logging.getLogger(__name__).warning(
                    "adamic_adar: excluding %d hub witnesses with "
                    "degree > %d",
                    n_hubs,
                    max_degree,
                )
        deg = deg.where(F.col("deg") <= max_degree)
    term = F.floor(
        F.lit(float(quant)) / F.log(F.col("deg").cast("double"))
    ).cast("bigint")
    # a degree-1 witness can never generate a pair; dropping it here
    # is a semantic no-op that keeps ln(deg) > 0 (no Inf through the
    # floor/cast)
    adj = (
        dirs.join(deg.where(F.col("deg") >= 2), "z")
        .select("z", "n", term.alias("_t"))
    )
    a = adj.select("z", F.col("n").alias("u"), "_t")
    b = adj.select("z", F.col("n").alias("v"))
    pairs = (
        a.join(b, "z")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("common_neighbors"),
            F.sum("_t").alias("aa_q"),
        )
        .where(F.col("common_neighbors") >= min_common)
    )
    # the canonical half IS the existing-edge set — read the pinned
    # table directly for the anti-join
    existing = canon.select(
        F.col("z").alias("u"), F.col("n").alias("v")
    )
    return pairs.join(existing, ["u", "v"], "left_anti")


def jaccard_link_prediction(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_degree: int | None = 10_000,
    min_common: int = 1,
    quant: int = 10**9,
    log_exclusions: bool = True,
) -> DataFrame:
    """Jaccard-coefficient link prediction over an undirected simple
    graph: for every NON-adjacent vertex pair (u, v) sharing at least
    ``min_common`` neighbors, |N(u) ∩ N(v)| / |N(u) ∪ N(v)| — the
    set-overlap sibling of adamic_adar (same candidate generator,
    normalized instead of degree-weighted, the second standard
    baseline in link-prediction benchmarks, Liben-Nowell & Kleinberg
    2007).

    Determinism: the score is the exact BIGINT
    ``jac_q = (quant·common) div (deg_u + deg_v − common)`` — pure
    integer arithmetic, no float anywhere (deg_u + deg_v − common is
    exactly |N(u) ∪ N(v)| and ≥ common ≥ 1). Clients divide by
    ``quant``.

    Scale: identical posture to adamic_adar — ONE hub-keyed self-join
    of the adjacency list (work Σ_z deg(z)², never |V|²), with
    ``max_degree`` excluding celebrity WITNESSES from pair generation
    (logged under ``log_exclusions``; ``log_exclusions=False`` keeps
    the cap but stays fully lazy). The denominator degrees are the
    TRUE degrees (uncapped) joined after pair aggregation — the cap
    bounds who testifies, not how popular the endpoints are. Existing
    edges leave via the canonical-pair anti-join."""
    if min_common < 1:
        raise ValueError(f"min_common must be >= 1: {min_common}")
    canon, dirs = _normalize_undirected(edges, src, dst, a="z", b="n")
    if max_degree is not None:
        # same pin rationale as adamic_adar: the canonical half feeds
        # the self-join (twice, via the mirror union), the degree
        # table, and the anti-join
        canon = (
            canon.localCheckpoint() if log_exclusions else canon.persist()
        )
        # same constraint restoration as adamic_adar: see the comment
        # there (erased by the checkpoint boundary; prevents
        # per-branch inferred isnotnull() filters from defeating
        # exchange reuse)
        canon_nn = canon.where(
            F.col("z").isNotNull() & F.col("n").isNotNull()
        )
        mirror = canon_nn.select(
            F.col("n").alias("z"), F.col("z").alias("n")
        )
        dirs = canon_nn.unionAll(mirror)
    deg = dirs.groupBy("z").agg(F.count(F.lit(1)).alias("deg"))
    degw = deg
    if max_degree is not None:
        if log_exclusions:
            n_hubs = deg.where(F.col("deg") > max_degree).count()
            if n_hubs:
                import logging

                logging.getLogger(__name__).warning(
                    "jaccard_link_prediction: excluding %d hub "
                    "witnesses with degree > %d",
                    n_hubs,
                    max_degree,
                )
        degw = deg.where(F.col("deg") <= max_degree)
    # a degree-1 witness can never generate a pair (semantic no-op cut)
    adj = dirs.join(
        degw.where(F.col("deg") >= 2).select("z"), "z"
    ).select("z", "n")
    a = adj.select("z", F.col("n").alias("u"))
    b = adj.select("z", F.col("n").alias("v"))
    pairs = (
        a.join(b, "z")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("common_neighbors"))
        .where(F.col("common_neighbors") >= min_common)
    )
    existing = canon.select(
        F.col("z").alias("u"), F.col("n").alias("v")
    )
    du = deg.select(
        F.col("z").alias("u"), F.col("deg").cast("bigint").alias("deg_u")
    )
    dv = deg.select(
        F.col("z").alias("v"), F.col("deg").cast("bigint").alias("deg_v")
    )
    return (
        pairs.join(existing, ["u", "v"], "left_anti")
        .join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "common_neighbors",
            "deg_u",
            "deg_v",
            F.expr(
                f"CAST(({quant} * common_neighbors) div "
                "(deg_u + deg_v - common_neighbors) AS BIGINT)"
            ).alias("jac_q"),
        )
    )


def reciprocity(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Directed-graph reciprocity: the fraction of directed edges
    whose reverse edge also exists, plus the weighted variant
    W↔/W = Σ min(w_uv, w_vu) / Σ w_uv (Squartini et al.'s mutuality
    measure) with multi-edge counts as weights — the directionality
    readout for follow/transition/message graphs (a transition graph
    with high reciprocity is oscillatory; a citation graph sits near
    zero). Self-loops are excluded; multi-edges collapse to one
    weighted directed edge.

    Exact-integer surface: edge weights are BIGINT counts, the
    reverse lookup is ONE key-partitioned self-join on the flipped
    key (never a cartesian), and both ratios are a single
    exact-int ÷ exact-int IEEE op, ROUND 9.

    Scale: groupBy(src, dst) with map-side partials bounds the join
    input at the distinct-edge count; the self-join hash-partitions
    on the (src, dst) key both sides. Two 1-row folds crossJoin at
    the end.

    Output: one row (n_edges, n_reciprocated, reciprocity, w_total,
    w_reciprocated, weighted_reciprocity); ratios NULL on an empty
    edge set.
    """
    e = (
        edges.where(
            F.col(src).isNotNull()
            & F.col(dst).isNotNull()
            & (F.col(src) != F.col(dst))
        )
        .groupBy(F.col(src).alias("_u"), F.col(dst).alias("_v"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("_w"))
    )
    tot = e.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges"),
        F.sum("_w").cast("bigint").alias("w_total"),
    )
    rev = e.select(
        F.col("_v").alias("_u"),
        F.col("_u").alias("_v"),
        F.col("_w").alias("_wr"),
    )
    rec = (
        e.join(rev, ["_u", "_v"])
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_reciprocated"),
            F.sum(F.least(F.col("_w"), F.col("_wr")))
            .cast("bigint")
            .alias("w_reciprocated"),
        )
    )
    j = tot.crossJoin(F.broadcast(rec))
    return j.select(
        "n_edges",
        "n_reciprocated",
        F.round(
            F.when(
                F.col("n_edges") > 0,
                F.col("n_reciprocated").cast("double")
                / F.col("n_edges").cast("double"),
            ),
            9,
        ).alias("reciprocity"),
        "w_total",
        "w_reciprocated",
        F.round(
            F.when(
                F.col("w_total") > 0,
                F.col("w_reciprocated").cast("double")
                / F.col("w_total").cast("double"),
            ),
            9,
        ).alias("weighted_reciprocity"),
    )


def degree_assortativity(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Newman degree assortativity r: the Pearson correlation of the
    degrees at either end of every edge — positive r means hubs wire
    to hubs (social graphs), negative means hubs wire to leaves
    (co-purchase, infrastructure). The one-number "is this graph
    hub-to-hub" readout completing the degree family
    (degree_distribution says what degrees exist; assortativity says
    how they connect).

    Undirected convention: each edge contributes BOTH ordered
    endpoint pairs (the standard symmetrized estimator), self-loops
    excluded, multi-edges collapsed. Degrees join onto the edge list
    via two key-partitioned joins (the degree table is one row per
    vertex — not assumed broadcastable); the final fold is ONE
    aggregation over exact DECIMAL(38,0) integer degree sums, each
    converted to double once, r compounded in fixed IEEE op order,
    ROUND 9.

    Scale: groupBy(src,dst) distinct + one groupBy(vertex) degree
    count + two hash joins keyed on the vertex id + a 1-row fold —
    every stage map-side-partial or key-partitioned; nothing
    quadratic, nothing collected.

    Output: one row (n_edges, r_assortativity); r NULL when degree
    variance is zero on either end (e.g. a perfect matching or
    cycle).
    """
    nn = edges.where(
        F.col(src).isNotNull() & F.col(dst).isNotNull()
    )
    sym = _normalize_undirected(nn, src, dst, a="_u", b="_v")[1]
    deg = sym.groupBy(F.col("_u").alias("_w")).agg(
        F.count(F.lit(1)).cast("bigint").alias("_deg")
    )
    paired = (
        sym.join(deg.select(F.col("_w").alias("_u"),
                            F.col("_deg").alias("_du")), "_u")
        .join(deg.select(F.col("_w").alias("_v"),
                         F.col("_deg").alias("_dv")), "_v")
    )
    du = F.col("_du").cast("decimal(19,0)")
    dv = F.col("_dv").cast("decimal(19,0)")
    fold = paired.agg(
        F.count(F.lit(1)).cast("bigint").alias("_m2"),
        F.sum(du).alias("_su"),
        F.sum(dv).alias("_sv"),
        F.sum(du * du).alias("_qu"),
        F.sum(dv * dv).alias("_qv"),
        F.sum(du * dv).alias("_p"),
    )
    m = F.col("_m2").cast("double")
    su, sv = F.col("_su").cast("double"), F.col("_sv").cast("double")
    qu, qv = F.col("_qu").cast("double"), F.col("_qv").cast("double")
    p = F.col("_p").cast("double")
    vu = m * qu - su * su
    vv = m * qv - sv * sv
    ok = (vu > 0) & (vv > 0)
    return fold.select(
        # each undirected edge appears twice in the symmetrized list
        F.shiftright(F.col("_m2"), 1).alias("n_edges"),
        F.round(
            F.when(ok, (m * p - su * sv) / (F.sqrt(vu) * F.sqrt(vv))),
            9,
        ).alias("r_assortativity"),
    )
