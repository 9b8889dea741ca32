"""Helpers shared by several test modules. Test modules import from
here, never from one another."""


def _jobs_during(spark, fn):
    """Run ``fn`` under a dedicated job group and return the job ids
    Spark launched inside it — the zero-jobs-at-construction lock."""
    import uuid

    group = f"construction_probe_{uuid.uuid4().hex[:8]}"
    sc = spark.sparkContext
    sc.setJobGroup(group, "plan construction must stay lazy")
    try:
        result = fn()
    finally:
        sc.setJobGroup(None, None)
    return result, list(sc.statusTracker().getJobIdsForGroup(group))


def _kruskal_reference(groups):
    """Exact Kruskal-Wallis H (+ tie-corrected) with midranks, pure
    Python — the textbook formula, no scipy dependency."""
    allv = sorted(v for g in groups for v in g)
    n = len(allv)
    # midrank per distinct value
    ranks = {}
    i = 0
    while i < len(allv):
        j = i
        while j < len(allv) and allv[j] == allv[i]:
            j += 1
        ranks[allv[i]] = (i + 1 + j) / 2.0
        i = j
    s = sum(
        sum(ranks[v] for v in g) ** 2 / len(g) for g in groups if g
    )
    h = 12.0 / (n * (n + 1)) * s - 3.0 * (n + 1)
    counts = {}
    for v in allv:
        counts[v] = counts.get(v, 0) + 1
    ties = sum(c**3 - c for c in counts.values())
    c = 1.0 - ties / (n**3 - n)
    return h, (h / c if c > 0 else None)
