"""Per-layer metrics of a traced run, from the benchmark's own spans and
Spark's REST records. Layer names are the program's module names.

Attribution: every Spark job carries the job group of the innermost
span open when it was submitted; a stage belongs to the jobs that list
it; a SQL execution belongs to the span of its jobs. A cached plan's
node metrics are reported once, by the execution that materialised it,
so summing nodes across executions counts each Python pass once. A
Python node is attributed by span: the ``ArrowEvalPython`` node under
``plans.indexer`` is the canonical-WKT UDF of Validate (which runs
lazily when Index first reads the persisted frame), the one under
``plans.resolver`` is the cell-area UDF; ``MapInPandas`` is the Index
kernel. Each metric is the median over the traced jobs of the run.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from tracing import covered, metric_total, self_times

MB = float(2**20)

# the per-layer metrics BENCHMARK.json declares, in its order
DECLARED = (
    "session.cold_start_s", "session.start_s", "session.warm_s",
    "plans.validator.wall_s", "plans.indexer.wall_s", "plans.indexer.self_s",
    "plans.resolver.wall_s", "plans.resolver.self_s",
    "plans.indexer.rows_out", "plans.resolver.cells_out",
    "plans.indexer.tasks", "plans.resolver.tasks",
    "spark.jobs", "spark.stages", "spark.tasks",
    "spark.driver_gap_s", "spark.driver_gap_share", "spark.core_busy",
    "spark.executor_cpu_s", "spark.gc_s", "spark.shuffle_write_mb", "spark.shuffle_read_mb",
    "functions.index_kernel.points_per_s", "functions.index_kernel.lines_per_s",
    "functions.index_kernel.polygons_per_s", "functions.index_kernel.share",
    "python.index_kernel.run_s", "python.index_kernel.share",
    "functions.parse_wkt.us_per_feature", "functions.latlng_to_cell.ns_per_point",
    "functions.h3_to_string.ns_per_cell", "functions.cell_area.ns_per_cell",
    "python.cell_area.run_s", "python.sent_mb", "python.received_mb", "python.boot_s",
    "sources.writers.wall_s", "sources.writers.files", "sources.writers.written_mb",
    "sources.writers.commit_s",
    "peak_rss_mb",
    "trace.overhead_pct",
)

# measured and printed, but not declared: they read the same on every run
# of some workload, so they cannot show a change there
UNDECLARED = {
    "spark.fetch_wait_s": "local mode reads every shuffle block locally, so it stays 0",
    "spark.spill_mb": "0 at these input sizes",
    "python.canonical_wkt.run_s": "0 on geo_points, whose lat/lon input skips the canonical-WKT UDF",
}

# layer metrics this benchmark cannot report, and why
UNAVAILABLE = {
    "queries.<key>.run_s": "the analytics workload is not part of this benchmark (see perfbench/README.md)",
}


def _subtree(spans: list[dict], root: dict) -> set[int]:
    ids, grew = {root["id"]}, True
    while grew:
        grew = False
        for s in spans:
            if s["parent"] in ids and s["id"] not in ids:
                ids.add(s["id"])
                grew = True
    return ids


def _rep_metrics(spans, rep, snapshot, cores, selfs) -> dict[str, float]:
    mine = [s for s in spans if s["rep"] == rep]
    root = next(s for s in mine if s["name"] == "job")
    by_name = defaultdict(list)
    for s in mine:
        by_name[s["name"]].append(s)
    group_span = {s["group"]: s for s in mine}
    jobs = [j for j in snapshot["jobs"] if j.get("jobGroup") in group_span]
    job_span = {j["jobId"]: group_span[j["jobGroup"]]["id"] for j in jobs}
    stages = {(s["stageId"], s["attemptId"]): s for s in snapshot["stages"] if s["status"] == "COMPLETE"}
    stage_ids_of = defaultdict(set)
    for j in jobs:
        stage_ids_of[job_span[j["jobId"]]].update(j["stageIds"])

    def stages_under(span_ids) -> list[dict]:
        ids = set().union(*(stage_ids_of[i] for i in span_ids)) if span_ids else set()
        return [s for (sid, _), s in stages.items() if sid in ids]

    wall = root["end"] - root["start"]
    all_stages = stages_under(_subtree(mine, root))
    tot = lambda key, scale=1.0: sum(s[key] for s in all_stages) * scale  # noqa: E731
    m = {
        "spark.jobs": float(len(jobs)),
        "spark.stages": float(len(all_stages)),
        "spark.tasks": tot("numCompleteTasks"),
        "spark.driver_gap_s": wall - covered(
            root["start"], root["end"], [(j["_start"], j["_end"]) for j in jobs if j["_end"]]
        ),
        "spark.core_busy": tot("executorRunTime", 1e-3) / (wall * cores),
        "spark.executor_cpu_s": tot("executorCpuTime", 1e-9),
        "spark.gc_s": tot("jvmGcTime", 1e-3),
        "spark.shuffle_write_mb": tot("shuffleWriteBytes", 1 / MB),
        "spark.shuffle_read_mb": tot("shuffleReadBytes", 1 / MB),
        "spark.fetch_wait_s": tot("shuffleFetchWaitTime", 1e-3),
        "spark.spill_mb": tot("diskBytesSpilled", 1 / MB),
    }
    for layer in ("plans.validator", "plans.indexer", "plans.resolver"):
        (s,) = by_name[layer]
        m[f"{layer}.wall_s"] = s["end"] - s["start"]
        m[f"{layer}.self_s"] = selfs[s["id"]]
        if layer != "plans.validator":
            m[f"{layer}.tasks"] = float(
                sum(st["numCompleteTasks"] for st in stages_under(_subtree(mine, s)))
            )
    m["sources.writers.wall_s"] = sum(s["end"] - s["start"] for s in by_name["sources.writers"])

    layer_of = {}
    for layer in ("plans.indexer", "plans.resolver"):
        for i in _subtree(mine, by_name[layer][0]):
            layer_of[i] = layer
    py = defaultdict(float)
    for e in snapshot["sql"]:
        span_ids = {job_span[j] for j in e.get("successJobIds", []) if j in job_span}
        if not span_ids:
            continue
        layer = layer_of.get(min(span_ids))
        for node in e["nodes"]:
            vals = {x["name"]: metric_total(x["value"]) for x in node["metrics"]}
            name = node["nodeName"]
            if name in ("MapInPandas", "ArrowEvalPython"):
                run = vals.get("time to run Python workers", 0.0)
                if name == "MapInPandas":
                    py["python.index_kernel.run_s"] += run
                elif layer == "plans.indexer":
                    py["python.canonical_wkt.run_s"] += run
                elif layer == "plans.resolver":
                    py["python.cell_area.run_s"] += run
                py["python.sent_mb"] += vals.get("data sent to Python workers", 0.0) / MB
                py["python.received_mb"] += vals.get("data returned from Python workers", 0.0) / MB
                py["python.boot_s"] += vals.get("time to start Python workers", 0.0) + vals.get(
                    "time to initialize Python workers", 0.0
                )
            elif name.startswith("Execute InsertIntoHadoopFsRelationCommand"):
                py["sources.writers.files"] += vals.get("number of written files", 0.0)
                py["sources.writers.written_mb"] += vals.get("written output", 0.0) / MB
                py["sources.writers.commit_s"] += vals.get("task commit time", 0.0) + vals.get(
                    "job commit time", 0.0
                )
    for key in (
        "python.index_kernel.run_s", "python.canonical_wkt.run_s", "python.cell_area.run_s",
        "python.sent_mb", "python.received_mb", "python.boot_s",
        "sources.writers.files", "sources.writers.written_mb", "sources.writers.commit_s",
    ):
        m[key] = py[key]
    m["job.wall_s"] = wall
    return m


UNITS = {
    "_s": "s", "_mb": "MB", "_pct": "%", "_per_s": "1/s", ".us_per_feature": "us",
    ".ns_per_point": "ns", ".ns_per_cell": "ns", "_share": "ratio", ".share": "ratio", ".core_busy": "ratio",
}


def unit(name: str) -> str:
    for suffix, u in sorted(UNITS.items(), key=lambda kv: -len(kv[0])):
        if name.endswith(suffix):
            return u
    return "count"


def per_layer(w, spans, snapshot, cores, *, cold_start, start, warm, run_s, run_s_traced, checks, kernel, rss) -> dict:
    selfs = self_times(spans)
    reps = sorted({s["rep"] for s in spans if s["name"] == "job"})
    per_rep = [_rep_metrics(spans, r, snapshot, cores, selfs) for r in reps]
    m = {k: statistics.median(r[k] for r in per_rep) for k in per_rep[0]}
    job_wall = m.pop("job.wall_s")
    m["spark.driver_gap_share"] = m["spark.driver_gap_s"] / job_wall
    m["session.cold_start_s"] = cold_start
    m["session.start_s"] = start
    m["session.warm_s"] = warm
    m["peak_rss_mb"] = rss
    m["plans.indexer.rows_out"] = float(checks.get("rows_out", 0))
    m["plans.resolver.cells_out"] = float(checks.get("cells_out", 0))
    m.update(kernel)
    # single-thread seconds the index kernel needs for this workload's
    # inputs (in process, and as Spark measured it in the MapInPandas
    # tasks), each as a share of one untraced job's wall time
    kernel_s = sum(i.n / kernel[f"functions.index_kernel.{i.kind}_per_s"] for i in w.inputs.values())
    m["functions.index_kernel.share"] = kernel_s / run_s
    m["python.index_kernel.share"] = m["python.index_kernel.run_s"] / run_s
    m["trace.overhead_pct"] = (run_s_traced / run_s - 1.0) * 100.0
    m.pop("plans.validator.self_s")  # Validate has no child span: equal to its wall time
    return {k: (v, unit(k)) for k, v in m.items()}
