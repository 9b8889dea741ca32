"""The paper's batch job, driven through the program's public calls in
the same order as ``cli.run --run-all``:

    job_from_dict → validate_config → index_job → write_partitioned_parquet
    (per input) → resolve_job → write_partitioned_parquet (resolved)

plus the untimed output checks that run after every job.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import inputs

from h3_indexer_spark.config.loader import job_from_dict
from h3_indexer_spark.plans.indexer import index_job
from h3_indexer_spark.plans.resolver import resolve_job
from h3_indexer_spark.plans.validator import validate_config
from h3_indexer_spark.sources.writers import write_partitioned_parquet


@dataclass(frozen=True)
class Input:
    kind: str  # inputs.GENERATORS key
    n: int
    parts: int  # parquet files the input is written as
    spec: dict  # the job config's input entry, minus the path

    @property
    def uid(self) -> str:
        return self.spec["unique_id"]

    @property
    def columns(self) -> list[str]:
        return self.spec["input_columns"]


@dataclass(frozen=True)
class Workload:
    name: str
    h3_resolution: int
    inputs: dict[str, Input]

    @property
    def features(self) -> int:
        return sum(i.n for i in self.inputs.values())


WORKLOADS = {
    w.name: w
    for w in (
        # a large point export (several files, so the scan uses every
        # core): the kernel is a small share, engine and sink dominate
        Workload(
            "geo_points",
            4,
            {
                "points": Input(
                    "points",
                    100_000,
                    8,
                    {
                        "unique_id": "point_id",
                        "geometry_type": "POINT",
                        "method": "WITHIN",
                        "lat_column_name": "latitude",
                        "lon_column_name": "longitude",
                        "input_columns": ["population", "reading"],
                    },
                )
            },
        ),
        # the reference notebook's county layer size (3,235), at its
        # resolution, as one single-row-group file (the reader spreads
        # it over every core): parse, ring sampling and clipping are
        # the largest share of the Python work
        Workload(
            "geo_areal",
            4,
            {
                "counties": Input(
                    "polygons",
                    3_235,
                    1,
                    {
                        "unique_id": "county_id",
                        "geometry_type": "POLYGON",
                        "method": "PCT_AREA",
                        "geometry_column_name": "geometry",
                        "input_columns": ["population", "households"],
                    },
                ),
            },
        ),
    )
}


def input_paths(w: Workload, work: Path, seed: int) -> dict[str, Path]:
    return {
        name: inputs.table_path(work, w.name, seed, i.kind, i.n, i.parts)
        for name, i in w.inputs.items()
    }


def job_config(w: Workload, paths: dict[str, Path], out: Path) -> dict:
    return {
        "name": f"bench-{w.name}",
        "version": "1.0.0",
        "h3_resolution": w.h3_resolution,
        "output_path": str(out),
        "inputs": {
            name: {**i.spec, "path": str(paths[name])} for name, i in w.inputs.items()
        },
    }


def run_job(spark, config: dict, tracer, rep: int):
    """One whole job, as the CLI runs it. Returns the Job so the caller
    can release its persisted frames after the checks."""
    out = config["output_path"]
    job = job_from_dict(config)
    with tracer.span("plans.validator", rep):
        validate_config(job, spark)
    with tracer.span("plans.indexer", rep):
        index_job(job, spark)
        for name, vt in job.inputs.items():
            with tracer.span("sources.writers", rep):
                write_partitioned_parquet(vt.h3_indexed_df, f"{out}/indexed/{name}")
    with tracer.span("plans.resolver", rep):
        resolve_job(job, spark)
        with tracer.span("sources.writers", rep):
            write_partitioned_parquet(job.h3_resolved_df, f"{out}/resolved")
    return job


def release(job) -> None:
    """Unpersist everything the stages persisted; nothing else does."""
    frames = [job.h3_resolved_df]
    for vt in job.inputs.values():
        frames += [vt.h3_indexed_df, vt.df]
    for df in frames:
        if df is not None:
            df.unpersist(blocking=True)


class CheckFailed(AssertionError):
    pass


def _require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def check_output(w: Workload, paths: dict[str, Path], out: Path) -> dict:
    """Invariants of one job's output, read back with pyarrow.

    Per input: every PCT_* feature's ratios sum to 1 ± 1e-9; every
    point lands in exactly one cell with ratio 1. Resolved: each
    ``sum_<col>`` totals the attribute over the indexed features within
    a relative 1e-9, and every cell area is within a factor 2 of the
    median area (cells of one resolution differ by far less). Returns
    the counts and the resolved digest, which the caller compares across
    reps."""
    rows_out = 0
    expected: dict[str, float] = {}
    for name, i in w.inputs.items():
        idx = ds.dataset(out / "indexed" / name, format="parquet", partitioning="hive")
        t = idx.to_table(columns=[i.uid, "ratio"])
        rows_out += t.num_rows
        uids = t.column(i.uid).to_numpy()
        ratio = t.column("ratio").to_numpy()
        src = pq.read_table(paths[name], columns=[i.uid, *i.columns])
        src_ids = src.column(i.uid).to_numpy()
        if i.kind == "points":
            _require(
                t.num_rows == len(src_ids) and len(np.unique(uids)) == len(uids),
                f"{name}: {t.num_rows} indexed rows for {len(src_ids)} points",
            )
            _require(bool(np.all(ratio == 1.0)), f"{name}: point ratio != 1")
        else:
            _, inv = np.unique(uids, return_inverse=True)
            dev = np.abs(np.bincount(inv, weights=ratio) - 1.0).max()
            _require(dev <= 1e-9, f"{name}: ratio sum deviates by {dev:.3g}")
        kept = np.isin(src_ids, uids)
        for c in i.columns:
            expected[c] = float(src.column(c).to_numpy()[kept].astype(np.float64).sum())
    res = pq.read_table(out / "resolved")
    for c, total in expected.items():
        got = pc.sum(res.column(f"sum_{c}")).as_py() or 0.0
        _require(
            abs(got - total) <= 1e-9 * max(abs(total), 1.0),
            f"sum_{c}: resolved {got!r} != indexed total {total!r}",
        )
    area = res.column("h3_area_km2").to_numpy()
    mid = float(np.median(area))
    odd = int(np.count_nonzero((area > 2 * mid) | (area < mid / 2)))
    _require(odd == 0, f"{odd} resolved cells with an area off the median {mid:.1f} km2 by over 2x")
    cells = res.column("h3_index").to_pylist()
    digest = hashlib.sha256("\n".join(sorted(cells)).encode()).hexdigest()[:16]
    return {"rows_out": rows_out, "cells_out": len(cells), "digest": digest}
