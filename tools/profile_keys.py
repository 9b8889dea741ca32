#!/usr/bin/env python
"""Per-key profiling harness (guide §1: measure first).

Runs the given contract keys under the SAME session/layout/warmup
discipline as bench.py, labels each run with setJobDescription, and
pulls per-job/per-stage wall + task metrics from the local Spark UI
REST API, so per-key seconds decompose into (plan build, planning,
per-stage execution, shuffle bytes) instead of one opaque number.

Usage:
  python tools/profile_keys.py q_item_cf q_adamic_adar ...
  python tools/profile_keys.py --steady-reps 3 q_spearman

Output: one human-readable block per key plus a JSON line per key to
/tmp/profile_keys.jsonl (append).
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request
from pathlib import Path

_REPO_ROOT = str(Path(__file__).resolve().parent.parent)
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)


def _api(base: str, path: str):
    with urllib.request.urlopen(base + path) as resp:
        return json.load(resp)


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    steady_reps = 3
    for i, a in enumerate(sys.argv[1:]):
        if a == "--steady-reps":
            steady_reps = int(sys.argv[1:][i + 1])
            args.remove(sys.argv[1:][i + 1])
    if not args:
        print("usage: profile_keys.py [--steady-reps N] KEY...")
        raise SystemExit(2)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count())

    from h3_indexer_spark.session import get_spark_session

    spark = get_spark_session(
        app_name="h3_indexer_profile",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod
    import bench

    queries = entrymod.queries()
    sf_dir = bench._normalize_layout(spark, sf_dir, int(cpus))

    def run(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # same warmups as bench.py
    run(spark.read.parquet(f"{sf_dir}/lineitem.parquet"))
    import pandas as pd  # noqa: F401
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def _warm(v):
        return v

    run(spark.range(256).repartition(32).select(_warm("id")))

    jvm_mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    base = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    api = f"{base}/api/v1/applications/{app_id}"

    out_fh = open("/tmp/profile_keys.jsonl", "a")
    for key in args:
        fn = queries[key]
        rec: dict = {"key": key, "sf_dir": sf_dir}

        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        rec["build_s"] = round(time.perf_counter() - t0, 4)

        t0 = time.perf_counter()
        df._jdf.queryExecution().explainString(jvm_mode)
        rec["plan_s"] = round(time.perf_counter() - t0, 4)

        jobs_before = {j["jobId"] for j in _api(api, "/jobs")}
        spark.sparkContext.setJobDescription(f"profile:{key}:cold")
        t0 = time.perf_counter()
        run(df)
        rec["cold_s"] = round(time.perf_counter() - t0, 4)

        reps = []
        for i in range(steady_reps):
            spark.sparkContext.setJobDescription(f"profile:{key}:steady{i}")
            t0 = time.perf_counter()
            run(fn(spark, sf_dir))
            reps.append(round(time.perf_counter() - t0, 4))
        spark.sparkContext.setJobDescription(None)
        reps_sorted = sorted(reps)
        rec["steady_s"] = reps_sorted[len(reps) // 2]
        rec["steady_reps"] = reps

        jobs = [
            j for j in _api(api, "/jobs") if j["jobId"] not in jobs_before
        ]
        cold_jobs = [
            j for j in jobs
            if (j.get("description") or "").startswith(f"profile:{key}:cold")
        ]
        one_steady = [
            j for j in jobs
            if (j.get("description") or "").startswith(
                f"profile:{key}:steady0"
            )
        ]
        rec["n_jobs_cold"] = len(cold_jobs)
        rec["n_jobs_steady"] = len(one_steady)
        stage_rows = []
        stage_ids = sorted(
            sid for j in one_steady for sid in j.get("stageIds", [])
        )
        for sid in stage_ids:
            try:
                st_list = _api(api, f"/stages/{sid}")
            except Exception:
                continue
            for st in st_list:
                if st.get("status") == "SKIPPED":
                    continue
                dur = None
                if st.get("firstTaskLaunchedTime") and st.get(
                    "completionTime"
                ):
                    from datetime import datetime

                    def _p(s):
                        return datetime.strptime(
                            s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f"
                        )

                    dur = (
                        _p(st["completionTime"])
                        - _p(st["firstTaskLaunchedTime"])
                    ).total_seconds()
                stage_rows.append(
                    {
                        "stage": sid,
                        "name": (st.get("name") or "")[:60],
                        "tasks": st.get("numCompleteTasks"),
                        "wall_s": round(dur, 3) if dur is not None else None,
                        "task_time_s": round(
                            (st.get("executorRunTime") or 0) / 1000.0, 2
                        ),
                        "shuf_r_mb": round(
                            (st.get("shuffleReadBytes") or 0) / 1e6, 2
                        ),
                        "shuf_w_mb": round(
                            (st.get("shuffleWriteBytes") or 0) / 1e6, 2
                        ),
                        "in_mb": round(
                            (st.get("inputBytes") or 0) / 1e6, 2
                        ),
                    }
                )
        rec["stages_steady0"] = stage_rows
        n_stages = len(stage_rows)
        total_task_s = sum(r["task_time_s"] for r in stage_rows)
        print(
            f"\n=== {key}: build={rec['build_s']}s plan={rec['plan_s']}s "
            f"cold={rec['cold_s']}s steady={rec['steady_s']}s "
            f"(reps {reps}) jobs(cold)={rec['n_jobs_cold']} "
            f"jobs(steady)={rec['n_jobs_steady']} stages={n_stages} "
            f"task_time_sum={total_task_s:.1f}s"
        )
        for r in sorted(
            stage_rows, key=lambda r: -(r["wall_s"] or 0)
        )[:14]:
            print(
                f"  stage {r['stage']:>5} wall={r['wall_s']}s "
                f"task={r['task_time_s']}s tasks={r['tasks']} "
                f"in={r['in_mb']}MB shufR={r['shuf_r_mb']}MB "
                f"shufW={r['shuf_w_mb']}MB  {r['name']}"
            )
        out_fh.write(json.dumps(rec) + "\n")
        out_fh.flush()
    out_fh.close()
    spark.stop()


if __name__ == "__main__":
    main()
