"""In-process kernel layer: the Index kernel and its phase functions
timed on a seeded sample, in this process, with no Spark involved, so
a kernel claim can be checked apart from the engine.

Every kind is timed on every workload (a workload without lines still
reports the line kernel, drawn from the same generator), at the
workload's own H3 resolution.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd

import inputs

from h3_indexer_spark.config.vector import AllocationMethod, GeometryType
from h3_indexer_spark.constants import GEOM_WKT
from h3_indexer_spark.functions import geometry
from h3_indexer_spark.functions.h3 import core
from h3_indexer_spark.functions.h3.vectorized import cell_area_km2_batch, latlng_to_cell_batch
from h3_indexer_spark.functions.udfs import make_index_map_fn

SAMPLE = {"points": 50_000, "lines": 2_000, "polygons": 400}
KERNEL = {
    "points": (GeometryType.POINT, AllocationMethod.WITHIN),
    "lines": (GeometryType.LINE, AllocationMethod.PCT_LENGTH),
    "polygons": (GeometryType.POLYGON, AllocationMethod.PCT_AREA),
}
REPS = 3


def _median_time(fn) -> float:
    times = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _frame(kind: str, seed: int) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 1000 + sorted(inputs.GENERATORS).index(kind)])
    t = inputs.GENERATORS[kind](rng, SAMPLE[kind]).to_pandas()
    uid = t.columns[0]
    if kind == "points":
        wkt = "POINT (" + t["longitude"].astype(str) + " " + t["latitude"].astype(str) + ")"
    else:
        wkt = t["geometry"]
    return pd.DataFrame({"uid": t[uid], GEOM_WKT: wkt})


def measure(seed: int, res: int) -> dict[str, float]:
    frames = {kind: _frame(kind, seed) for kind in KERNEL}
    out: dict[str, float] = {}
    for kind, (gtype, method) in KERNEL.items():
        fn = make_index_map_fn("uid", gtype, method, res, "metric")
        df = frames[kind]
        batches = [df.iloc[i : i + 10_000] for i in range(0, len(df), 10_000)]
        list(fn(iter([df.iloc[:8]])))  # first call seeds the derived tables
        dt = _median_time(lambda: sum(len(b) for b in fn(iter(batches))))
        out[f"functions.index_kernel.{kind}_per_s"] = len(df) / dt

    wkts = list(frames["lines"][GEOM_WKT]) + list(frames["polygons"][GEOM_WKT])
    dt = _median_time(lambda: [geometry.parse_wkt_parts(s) for s in wkts])
    out["functions.parse_wkt.us_per_feature"] = dt / len(wkts) * 1e6

    rng = np.random.default_rng([seed, 2000])
    n = 200_000
    lat = rng.uniform(inputs.LAT0, inputs.LAT1, n)
    lng = rng.uniform(inputs.LON0, inputs.LON1, n)
    dt = _median_time(lambda: latlng_to_cell_batch(lat, lng, res))
    out["functions.latlng_to_cell.ns_per_point"] = dt / n * 1e9

    cells = [int(c) for c in latlng_to_cell_batch(lat, lng, res)]
    dt = _median_time(lambda: [core.h3_to_string(c) for c in cells])
    out["functions.h3_to_string.ns_per_cell"] = dt / len(cells) * 1e9

    distinct = np.unique(np.asarray(cells, dtype=np.int64))
    dt = _median_time(lambda: cell_area_km2_batch(distinct))
    out["functions.cell_area.ns_per_cell"] = dt / len(distinct) * 1e9
    return out
