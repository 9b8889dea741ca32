"""Seeded input generator for the benchmark workloads.

Single process, numpy + pyarrow only. Every table is a function of
(workload, seed, size, file count): the same key always gives
byte-identical parquet, cached under the benchmark's work directory so a run never
pays generation inside its set-up time.

Geometry is synthetic but shaped like the reference's demonstrated job
(a rail network and census counties): rail-like polylines with 3-12
vertices and short segments, county-like star polygons with 8-40
vertices and 0.15-0.3 degree radii, inside one multi-state region, and
lat/lon points with two numeric attributes, inside one state-sized box
of that region.
"""

from __future__ import annotations

import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# a multi-state region (≈1.3M km², about 110 resolution-3 cells), so the
# partitioned sink writes about a hundred directories per output
LON0, LON1 = -104.0, -90.0
LAT0, LAT1 = 34.0, 44.0
# a state-sized box of it (≈ 116,000 km², 16 resolution-3 cells)
# for the point export: a job's wall time is mostly per-task and
# per-file cost, and a box this size keeps a steady job near 7 s, so
# three whole jobs fit in a 20 s run
PLON0, PLON1 = -100.0, -96.0
PLAT0, PLAT1 = 37.0, 40.0


def _fmt(values: np.ndarray) -> np.ndarray:
    # 7 decimals ≈ 1 cm: enough for any H3 resolution the job accepts
    return np.char.mod("%.7f", values)


def _wkt_rows(kind: str, xs: np.ndarray, ys: np.ndarray, counts: np.ndarray) -> list[str]:
    pairs = np.char.add(np.char.add(_fmt(xs), " "), _fmt(ys)).tolist()
    out, lo = [], 0
    for n in counts.tolist():
        body = ", ".join(pairs[lo : lo + n])
        lo += n
        out.append(f"LINESTRING ({body})" if kind == "line" else f"POLYGON (({body}))")
    return out


def points(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table(
        {
            "point_id": np.arange(n, dtype=np.int64),
            "latitude": rng.uniform(PLAT0, PLAT1, n),
            "longitude": rng.uniform(PLON0, PLON1, n),
            "population": rng.lognormal(3.0, 1.0, n),
            "reading": rng.uniform(-50.0, 50.0, n),
        }
    )


def lines(rng: np.random.Generator, n: int) -> pa.Table:
    """Rail-like polylines: a random walk of 2-11 segments of 0.5-6 km
    with a persistent heading, as track between two junctions runs."""
    counts = rng.integers(3, 13, n)
    total = int(counts.sum())
    starts = np.repeat(np.cumsum(counts) - counts, counts)
    first = np.zeros(total, dtype=bool)
    first[np.cumsum(counts) - counts] = True
    x0 = np.repeat(rng.uniform(LON0 + 1, LON1 - 1, n), counts)
    y0 = np.repeat(rng.uniform(LAT0 + 1, LAT1 - 1, n), counts)
    heading = np.repeat(rng.uniform(0, 2 * np.pi, n), counts)
    heading = heading + np.cumsum(rng.normal(0, 0.35, total))
    step = rng.uniform(0.005, 0.055, total)
    dx = np.where(first, 0.0, step * np.cos(heading))
    dy = np.where(first, 0.0, step * np.sin(heading))
    cx, cy = np.cumsum(dx), np.cumsum(dy)
    xs = x0 + cx - cx[starts]
    ys = y0 + cy - cy[starts]
    return pa.table(
        {
            "line_id": np.arange(n, dtype=np.int64),
            "geometry": _wkt_rows("line", xs, ys, counts),
            "tonnage": rng.lognormal(2.0, 1.0, n),
            "trains": rng.integers(0, 200, n).astype(np.int64),
        }
    )


def polygons(rng: np.random.Generator, n: int) -> pa.Table:
    """County-like polygons: simple star-shaped rings of 8-40 vertices
    around a random center, closed."""
    verts = rng.integers(8, 41, n)
    counts = verts + 1  # closing vertex
    cx = rng.uniform(LON0 + 1, LON1 - 1, n)
    cy = rng.uniform(LAT0 + 1, LAT1 - 1, n)
    radius = rng.uniform(0.15, 0.3, n)
    xs, ys = [], []
    for i in range(n):
        k = int(verts[i])
        # one vertex per equal sector: every angular gap is below pi, so
        # the ring is star-shaped around its center and never crosses itself
        ang = (np.arange(k) + rng.uniform(0.1, 0.9, k)) * (2 * np.pi / k) + rng.uniform(0, 2 * np.pi)
        r = radius[i] * rng.uniform(0.7, 1.0, k)
        px = cx[i] + r * np.cos(ang) / np.cos(np.radians(cy[i]))
        py = cy[i] + r * np.sin(ang)
        xs.append(np.append(px, px[0]))
        ys.append(np.append(py, py[0]))
    return pa.table(
        {
            "county_id": np.arange(n, dtype=np.int64),
            "geometry": _wkt_rows("polygon", np.concatenate(xs), np.concatenate(ys), counts),
            "population": rng.lognormal(10.0, 1.2, n),
            "households": rng.integers(100, 400_000, n).astype(np.int64),
        }
    )


GENERATORS = {"points": points, "lines": lines, "polygons": polygons}


def table_path(work: Path, workload: str, seed: int, kind: str, n: int, parts: int) -> Path:
    """Generate (once) and return the parquet directory of one input
    table, written as ``parts`` files the way a Spark or Athena export
    lands. Each kind draws from its own stream, so changing one size
    never changes another table."""
    path = work / "inputs" / f"{workload}-s{seed}-{kind}-{n}x{parts}"
    if not path.exists():
        rng = np.random.default_rng([seed, sorted(GENERATORS).index(kind)])
        table = GENERATORS[kind](rng, n)
        tmp = path.with_name(f"{path.name}.tmp{os.getpid()}")
        tmp.mkdir(parents=True)
        step = -(-n // parts)
        for i in range(parts):
            pq.write_table(table.slice(i * step, step), tmp / f"part-{i:05d}.parquet")
        tmp.rename(path)
    return path
