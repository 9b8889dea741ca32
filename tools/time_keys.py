#!/usr/bin/env python
"""Minimal per-key timer for A/B runs: bench-identical session/layout
/warmup, cold + N steady reps per key, one RES line per key.

Usage: python tools/time_keys.py [--reps N] KEY...

Runs on ``local[$SPARK_GRAFT_CPUS]``, by default the host's core count.
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

_REPO_ROOT = str(Path(__file__).resolve().parent.parent)
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)


def main() -> None:
    argv = sys.argv[1:]
    reps = 5
    keys: list[str] = []
    i = 0
    while i < len(argv):
        if argv[i] == "--reps":
            reps = int(argv[i + 1])
            i += 2
        else:
            keys.append(argv[i])
            i += 1
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count())

    from h3_indexer_spark.session import get_spark_session

    spark = get_spark_session(
        app_name="h3_indexer_time_keys",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")

    import bench as benchmod
    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    bench_dir = benchmod._normalize_layout(spark, sf_dir, int(cpus))
    # bench-identical warmup
    spark.read.parquet(f"{bench_dir}/lineitem.parquet").write.format(
        "noop"
    ).mode("overwrite").save()

    for key in keys:
        fn = queries[key]

        def run() -> float:
            t0 = time.perf_counter()
            fn(spark, bench_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            return time.perf_counter() - t0

        cold = run()
        steadies = sorted(run() for _ in range(reps))
        med = steadies[len(steadies) // 2]
        print(
            f"RES {key} cold={cold:.3f} med={med:.3f} "
            f"steady={[round(s, 3) for s in steadies]}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
