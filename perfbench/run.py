"""Benchmark of the paper's H3 batch job (Validate → Index → Resolve →
partitioned parquet), run through the program's public calls.

    python3 perfbench/run.py --workload geo_points --seed 1 --seconds 20 --trace 0

One closed-loop client in one process on ``local[<cores>]``. A run
starts the session five times (the first also launches the JVM), times
the first job in the fresh session, then repeats the whole job for
``--seconds`` and reports the median. Every job's output
is checked (untimed). With ``--trace 1`` the run also records spans
around each public call, reads Spark's REST API and times the index
kernel in process, and reports per-layer metrics instead.

The last line of stdout is one JSON object: correct, attempted, failed,
metrics. The lines before it are a human-readable report.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import traceback
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / "_work"

SETUPS = 5  # sessions started per run; setup_s is their median
MIN_REPS = 2  # steady jobs per run, at least
TRACED_REPS = 2  # of each kind, traced and untraced, in a traced run


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cores() -> int:
    """Task slots: one fewer than the CPUs the process may use. Each
    task runs a JVM thread and a Python worker, and the driver, the JIT
    and the collector need a CPU too; on all CPUs the job times spread
    about twice as wide from run to run."""
    return max(1, len(os.sched_getaffinity(0)) - 1)


def prepare_env() -> None:
    """Everything the run touches stays under the benchmark's work
    directory; the program is imported from the checkout, by the driver
    and by its Python workers alike."""
    tmp = WORK / "tmp"
    (tmp / "spark-local").mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE), *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    # every JVM (the launcher's and the driver's): temp files under tmp,
    # and no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    os.chdir(WORK)  # spark-warehouse/, derby.log and the like land here
    sys.path[:0] = [str(ROOT), str(HERE)]


def start_session(w, app_name: str):
    """Session start exactly as ``cli.run`` does it, then the smallest
    warm-up that proves the executors answer."""
    from h3_indexer_spark.session import get_spark_session

    t0 = time.perf_counter()
    spark = get_spark_session(w.h3_resolution, app_name=app_name)
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    n = spark.range(0, 4096, 1, cores()).selectExpr("sum(id) AS s").collect()[0]["s"]
    if n != 4096 * 4095 // 2:
        raise RuntimeError(f"warm-up sum is {n}")
    t2 = time.perf_counter()
    return spark, t1 - t0, t2 - t1


def stop_session(spark) -> None:
    """Stop the context and the JVM behind it, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in Path("/proc").iterdir():
        if d.name.isdigit():
            try:
                ppid = int((d / "stat").read_text().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d.name))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Σ VmHWM over the JVM and the Python workers (this process's
    descendants)."""
    total = 0
    for pid in _descendants(os.getpid()):
        try:
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024.0


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


class Ops:
    """Operations attempted and failed: each job and each check."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def __call__(self, fn, *a):
        self.attempted += 1
        try:
            return fn(*a)
        except Exception:  # counted and reported; the run is then not correct
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=-3)[-2000:])
            return None


def run(args) -> tuple[dict, dict, Ops]:
    import jobs
    from tracing import Tracer

    w = jobs.WORKLOADS[args.workload]
    paths = jobs.input_paths(w, WORK, args.seed)  # generated once per seed, untimed
    out = WORK / "out" / w.name
    config = jobs.job_config(w, paths, out)
    app = f"h3idx-{config['name']}"

    # session starts in this process; the first also launches the JVM
    # and is reported on its own as a layer metric
    setup, start, warm = [], [], []
    for i in range(SETUPS):
        t0 = time.perf_counter()
        spark, s, wm = start_session(w, app)
        setup.append(time.perf_counter() - t0)
        start.append(s)
        warm.append(wm)
        if i < SETUPS - 1:
            spark.stop()

    ops = Ops()
    tracer = Tracer(spark.sparkContext, enabled=False)
    results: list[dict] = []

    def one_job(rep: int, traced: bool) -> float | None:
        shutil.rmtree(out, ignore_errors=True)
        tracer.enabled = traced
        t0 = time.perf_counter()
        with tracer.span("job", rep):
            job = ops(jobs.run_job, spark, config, tracer, rep)
        dt = time.perf_counter() - t0
        if job is None:
            return None
        res = ops(jobs.check_output, w, paths, out)
        if res is not None:
            results.append(res)
        jobs.release(job)
        # start every job on a collected heap, so no job pays for the
        # garbage of the one before it
        spark.sparkContext._jvm.System.gc()
        gc.collect()
        return dt

    first = one_job(0, False)
    reps: dict[bool, list[float]] = {False: [], True: []}
    # a traced run alternates untraced and traced jobs in the order
    # U T T U, so the overhead of tracing is measured inside one session
    # and neither side gets all the jobs that still warm up the JVM
    need = {False: TRACED_REPS, True: TRACED_REPS} if args.trace else {False: MIN_REPS}
    t_end = time.perf_counter() + args.seconds
    rep = 0
    while any(len(reps[k]) < n for k, n in need.items()) or time.perf_counter() < t_end:
        rep += 1
        if ops.failed and rep > MIN_REPS:
            break
        traced = bool(args.trace) and rep % 4 in (2, 3)
        dt = one_job(rep, traced)
        if dt is not None:
            reps[traced].append(dt)
    rss = peak_rss_mb()

    # the same cell set and digest in every rep
    ops.attempted += 1
    if len({(r["cells_out"], r["digest"]) for r in results}) != 1:
        ops.failed += 1
        ops.errors.append(f"resolved output differs between reps: {results}")

    snapshot = None
    if args.trace:
        from tracing import Rest

        snapshot = Rest(spark.sparkContext).snapshot()
    stop_session(spark)

    steady = reps[False]
    run_s = statistics.median(steady) if steady else float("nan")
    report = {
        "workload": w.name,
        "seed": args.seed,
        "cores": cores(),
        "features": w.features,
        "run_s_traced": reps[True],
        "checks": results[-1] if results else None,
        "errors": ops.errors,
    }
    if args.trace:
        import kernel
        import layers

        trace_file = WORK / "reports" / f"{w.name}-s{args.seed}-trace.json"
        trace_file.parent.mkdir(parents=True, exist_ok=True)
        trace_file.write_text(json.dumps({"spans": tracer.spans, "rest": snapshot}))
        metrics = layers.per_layer(
            w, tracer.spans, snapshot, cores(),
            cold_start=setup[0],
            start=statistics.median(start),
            warm=statistics.median(warm),
            run_s=run_s,
            run_s_traced=statistics.median(reps[True]) if reps[True] else float("nan"),
            checks=results[-1] if results else {},
            kernel=kernel.measure(args.seed, w.h3_resolution),  # Spark is stopped by now
            rss=rss,
        )
        report["undeclared"] = {k: (metrics.pop(k), layers.UNDECLARED[k]) for k in layers.UNDECLARED}
        report["unavailable"] = layers.UNAVAILABLE
        metrics = {k: metrics[k] for k in layers.DECLARED}
    else:
        samples = {
            "setup_s": (setup, "s"),
            "first_run_s": ([first] if first is not None else [], "s"),
            "run_s": (steady, "s"),
            "features_per_s": ([w.features / t for t in steady], "1/s"),
        }
        report["samples"] = {k: v for k, (v, _) in samples.items()}
        report["peak_rss_mb"] = rss
        metrics = {
            k: (statistics.median(v) if v else float("nan"), u) for k, (v, u) in samples.items()
        }
    return report, metrics, ops


def print_report(report: dict, metrics: dict, ops: Ops) -> None:
    print(f"workload {report['workload']}  seed {report['seed']}  cores {report['cores']}  "
          f"features {report['features']}")
    samples = report.get("samples", {})
    for name, (value, unit) in metrics.items():
        vals = samples.get(name)
        if vals:
            q1, q2, q3 = quartiles(vals)
            print(f"  {name:<16} {unit:<4} median {q2:12.6g}  q1 {q1:12.6g}  q3 {q3:12.6g}  n {len(vals)}")
        else:
            print(f"  {name:<44} {value:14.6g} {unit}")
    for name, ((value, unit), why) in report.get("undeclared", {}).items():
        print(f"  {name:<44} {value:14.6g} {unit}  (not declared: {why})")
    for name, why in report.get("unavailable", {}).items():
        print(f"  {name:<44} unavailable: {why}")
    if "peak_rss_mb" in report:
        print(f"  peak_rss_mb {report['peak_rss_mb']:.0f} MB (a per-layer metric: it varies by more than a tenth)")
    if report["checks"]:
        print(f"  checks: {report['checks']}")
    print(f"  operations attempted {ops.attempted} failed {ops.failed}")
    for e in report["errors"]:
        print(f"  error: {e}")


def main(argv=None) -> int:
    args = parse_args(argv)
    prepare_env()
    import jobs  # fails here, before any result, when the program is absent

    if args.workload not in jobs.WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(jobs.WORKLOADS)}", file=sys.stderr)
        return 2
    report, metrics, ops = run(args)
    print_report(report, metrics, ops)
    (WORK / "reports").mkdir(parents=True, exist_ok=True)
    name = f"{args.workload}-s{args.seed}-t{args.trace}.json"
    (WORK / "reports" / name).write_text(json.dumps({**report, "metrics": metrics}, indent=1, default=str))
    measured = all(math.isfinite(v) for v, _ in metrics.values())
    print(json.dumps({
        "correct": ops.failed == 0 and measured,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {
            k: {"value": v if math.isfinite(v) else None, "unit": u} for k, (v, u) in metrics.items()
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
