"""Shape → covering-cells algorithms (the reference's U1
``index_shape`` surface, h3-pyspark indexing.py semantics):

- point     → the containing cell
- line      → every cell the polyline passes through (densified walk)
- polygon   → polyfill (centers-in-polygon) ∪ boundary-line cells, so
  every cell that intersects the polygon's interior or boundary is
  produced — which is what makes the PCT_* ratios sum to 1.0 per
  feature (reference README.md:292,320).

All pure Python over the core kernel; the Spark layer batches these in
vectorized pandas UDFs.
"""

from __future__ import annotations

import math
from functools import lru_cache

from h3_indexer_spark.functions.h3 import core

# mean hexagon edge lengths in km per resolution (published H3 table,
# used only to pick densification steps — not for output metrics)
_EDGE_KM = [
    1107.712591, 418.676005, 158.244655, 59.810857, 22.606379, 8.544408,
    3.229482, 1.220629, 0.461354, 0.174375, 0.065907, 0.024910, 0.009415,
    0.003559, 0.001348, 0.000509,
]
_EARTH_KM = 6371.007180918475


def cell_neighbors(h: int) -> list[int]:
    """The cells adjacent to ``h`` (6, or 5 for pentagons) — exact IJK
    unit-vector steps (gridDisk(h, 1) minus center semantics), cached."""
    return list(_cell_neighbors_cached(h))


@lru_cache(maxsize=262144)
def _cell_neighbors_cached(h: int) -> tuple[int, ...]:
    import numpy as np

    nbrs = cell_neighbors_batch(np.asarray([h], dtype=np.int64))[0]
    return tuple(int(c) for c in nbrs if c)


def cell_neighbors_batch(cells) -> "np.ndarray":
    """Adjacent cells for an int64 cell array, as an (n, 6) int64 array
    zero-padded for pentagons.

    Exact: steps the cell's FaceIJK by each of the 6 CoordIJK unit
    vectors and reassembles the cell id through the same digit walk as
    indexing (no geometric probing, so no diagonal-cell misses near
    icosahedron edges). Rows the IJK path cannot resolve (pentagons,
    neighbors of pentagons, patch-range overflow) fall back to a
    geometric probe through each boundary-edge midpoint, deduped.
    """
    import numpy as np

    from h3_indexer_spark.functions.h3.tables import MAX_DIM_BY_CII_RES
    from h3_indexer_spark.functions.h3.vectorized import (
        _down_ap7r_v,
        _face_ijk_batch,
        _face_ijk_to_cell_batch,
        _normalize_v,
        _overage_adjust_v,
        _up_ap7r_v,
    )

    cells = np.asarray(cells, dtype=np.int64)
    n = cells.shape[0]
    out = np.zeros((n, 6), dtype=np.int64)
    if n == 0:
        return out
    need_fb = np.zeros(n, dtype=bool)
    res_all = (cells >> 52) & 0xF
    for res in np.unique(res_all):
        res = int(res)
        sel = np.nonzero(res_all == res)[0]
        h = cells[sel]
        face, i, j, k, fb = _face_ijk_batch(h, res, MAX_DIM_BY_CII_RES)
        bad = fb.copy()
        adj = res + (1 if core.is_class_iii(res) else 0)
        max_dim = MAX_DIM_BY_CII_RES[adj]
        for d in range(1, 7):
            ui, uj, uk = core.UNIT_VECS[d]
            ni, nj, nk = _normalize_v(i + ui, j + uj, k + uk)
            nface = face
            # a step can overage off the cell's face; the gnomonic grid
            # does not continue linearly across an icosahedron edge, so
            # translate into the adjacent face's coordinates first
            # (mirrors _face_ijk_batch; class III adjusts on the finer
            # class II substrate grid)
            if core.is_class_iii(res):
                ai, aj, ak = _down_ap7r_v(ni, nj, nk)
            else:
                ai, aj, ak = ni, nj, nk
            over = (ai + aj + ak) > max_dim
            if over.any():
                fo, io, jo, ko = _overage_adjust_v(
                    face[over], ai[over], aj[over], ak[over], adj,
                    MAX_DIM_BY_CII_RES, substrate=False,
                )
                # still overaging after one adjustment (icosa corner):
                # leave to the geometric fallback
                still = (io + jo + ko) > max_dim
                if core.is_class_iii(res):
                    io, jo, ko = _up_ap7r_v(io, jo, ko)
                nface = face.copy()
                nface[over] = fo
                ni, nj, nk = ni.copy(), nj.copy(), nk.copy()
                ni[over], nj[over], nk[over] = io, jo, ko
                if still.any():
                    bad_over = np.zeros(len(sel), dtype=bool)
                    bad_over[np.nonzero(over)[0][still]] = True
                    bad = bad | bad_over
            nb, ok = _face_ijk_to_cell_batch(nface, ni, nj, nk, res)
            out[sel, d - 1] = nb
            bad |= ~ok
            bad |= nb == h  # degenerate: step resolved to the center
            # a TRUE pentagon neighbor (pentagon base cell, all digits
            # zero — twelve per resolution) distorts adjacency in ways
            # plain unit stepping does not model — probe those rows.
            # Mere pentagon DESCENDANTS are ordinary hexagons.
            from h3_indexer_spark.functions.h3.vectorized import _PENTAGONS

            digit_mask = np.int64(
                ((1 << (3 * res)) - 1) << (3 * (core.MAX_H3_RES - res))
            ) if res > 0 else np.int64(0)
            bad |= np.isin((nb >> 45) & 0x7F, _PENTAGONS) & (
                (nb & digit_mask) == 0
            )
        need_fb[sel] = bad
    if need_fb.any():
        for ix in np.nonzero(need_fb)[0]:
            probe = _cell_neighbors_probe(int(cells[ix]))
            out[ix, :] = 0
            out[ix, : len(probe)] = probe[:6]
    return out


def cell_disk_batch(cells, k: int) -> "np.ndarray":
    """Ring-``k`` disks (the cell plus every cell within grid distance
    ``k``) for an int64 cell array, as an (n, width) int64 matrix,
    zero-padded, each row ascending after its padding zeros. width is
    the hexagonal bound 1+3k(k+1); pentagon-touched disks simply
    carry more padding.

    Fully vectorized — the whole batch advances one hop at a time:
    ONE cell_neighbors_batch call per hop over the current disk
    matrix, then a row-wise sort + shift-compare dedup (duplicate
    slots collapse to the 0 padding; 0 is never a valid H3 id since
    the mode bits are always set). Expanding the whole disk each hop
    instead of tracking a frontier costs ≤7/6 extra neighbor lookups
    per hop and removes every per-row Python loop — this replaces the
    per-point set-dedup expansion the radius join's pandas UDF used.
    """
    import numpy as np

    cur = np.asarray(cells, dtype=np.int64).reshape(-1, 1)
    if cur.shape[0] == 0:
        return cur
    for _ in range(max(0, int(k))):
        flat = cur.ravel()
        valid = flat != 0
        nb = np.zeros((flat.shape[0], 6), dtype=np.int64)
        if valid.any():
            nb[valid] = cell_neighbors_batch(flat[valid])
        combined = np.concatenate(
            [cur, nb.reshape(cur.shape[0], -1)], axis=1
        )
        combined.sort(axis=1)
        dup = np.zeros(combined.shape, dtype=bool)
        dup[:, 1:] = combined[:, 1:] == combined[:, :-1]
        combined[dup] = 0
        combined.sort(axis=1)
        # compact: zeros sort to the front of every row, so the last
        # max-nonzero columns hold every disk — keeps the matrix at
        # the true disk width (≤1+3k(k+1)) instead of 7^hops
        width = int((combined != 0).sum(axis=1).max()) if len(
            combined
        ) else 0
        cur = combined[:, combined.shape[1] - width:]
    return cur


@lru_cache(maxsize=16384)
def _cell_neighbors_probe(h: int) -> tuple[int, ...]:
    """Geometric fallback for cells the IJK path cannot resolve:
    probe outward through each boundary-edge midpoint."""
    res = core.get_resolution(h)
    clat, clng = core.cell_to_latlng(h)
    boundary = core.cell_to_boundary(h)
    n = len(boundary)
    out: list[int] = []
    for idx in range(n):
        a = boundary[idx]
        b = boundary[(idx + 1) % n]
        mid_lat = (a[0] + b[0]) / 2.0
        mid_lng = _mid_lng(a[1], b[1])
        # push past the edge: center + 1.35 × (edge midpoint - center)
        lat = clat + 1.35 * (mid_lat - clat)
        lng = clng + 1.35 * _lng_diff(mid_lng, clng)
        nb = core.latlng_to_cell(lat, lng, res)
        if nb != h and nb != 0 and nb not in out:
            out.append(nb)
    return tuple(out)


def _mid_lng(a: float, b: float) -> float:
    d = _lng_diff(b, a)
    return _wrap_lng(a + d / 2.0)


def _lng_diff(a: float, b: float) -> float:
    d = a - b
    while d > 180.0:
        d -= 360.0
    while d < -180.0:
        d += 360.0
    return d


def _wrap_lng(lng: float) -> float:
    while lng > 180.0:
        lng -= 360.0
    while lng < -180.0:
        lng += 360.0
    return lng


def line_sample_points(coords: list[tuple[float, float]], res: int):
    """Densified sample points along a polyline as (lats, lngs) numpy
    arrays — the vectorizable half of line_cells. Step as in
    line_cells (0.75 × edge < inradius; see there)."""
    import numpy as np

    step_deg = _EDGE_KM[res] / _EARTH_KM * (180.0 / math.pi) * 0.75
    lats: list = []
    lngs: list = []
    for (x1, y1), (x2, y2) in zip(coords, coords[1:]):
        seg_len = math.hypot(x2 - x1, y2 - y1)
        n = max(1, int(math.ceil(seg_len / step_deg)))
        f = np.arange(n + 1) / n
        lats.append(y1 + f * (y2 - y1))
        lngs.append(x1 + f * (x2 - x1))
    return np.concatenate(lats), np.concatenate(lngs)


def dedupe_cells(cells) -> list[int]:
    """Order-preserving dedupe of a cell id array, dropping zeros."""
    return [c for c in dict.fromkeys(int(c) for c in cells) if c]


def line_cells(coords: list[tuple[float, float]], res: int) -> list[int]:
    """Cells traversed by a polyline of (lng, lat) vertices: densify
    each segment and index every sample. Unlike H3's gridLine
    (cell-center path) this returns the cells the line geometrically
    passes through.

    Sampling step: 0.75 × edge length < the hexagon inradius (0.87 e),
    so consecutive samples land in the same or an adjacent cell — any
    corner-cut cell the samples skip is adjacent to a sampled cell, and
    callers complete coverage with a 1-ring expansion
    (udfs._expand_with_neighbors) + zero-ratio filter. Denser sampling
    would only re-find cells the expansion already produces."""
    step_deg = _EDGE_KM[res] / _EARTH_KM * (180.0 / math.pi) * 0.75
    seen: dict[int, None] = {}
    for (x1, y1), (x2, y2) in zip(coords, coords[1:]):
        seg_len = math.hypot(x2 - x1, y2 - y1)
        n = max(1, int(math.ceil(seg_len / step_deg)))
        for t in range(n + 1):
            f = t / n
            cell = core.latlng_to_cell(y1 + f * (y2 - y1), x1 + f * (x2 - x1), res)
            if cell:
                seen[cell] = None
    return list(seen)


def _point_in_ring(lng: float, lat: float, ring: list[tuple[float, float]]) -> bool:
    """Even-odd rule in lng/lat space (rings are small and far from the
    antimeridian in the supported domain)."""
    inside = False
    n = len(ring)
    for idx in range(n):
        x1, y1 = ring[idx]
        x2, y2 = ring[(idx + 1) % n]
        if (y1 > lat) != (y2 > lat):
            xint = x1 + (lat - y1) / (y2 - y1) * (x2 - x1)
            if lng < xint:
                inside = not inside
    return inside


def polyfill(
    ring: list[tuple[float, float]],
    res: int,
    holes: list[list[tuple[float, float]]] | None = None,
    include_boundary_cells: bool = True,
    boundary_cells: list[int] | None = None,
) -> list[int]:
    """Cells covering a polygon given as a closed (lng, lat) ring.

    Centers-in-polygon (H3 polyfill semantics) unioned with the
    boundary-traversal cells (index_shape semantics — needed so
    intersection ratios sum to 1). ``boundary_cells`` may be supplied
    precomputed (the vectorized UDF layer batches them across
    features).

    Fully vectorized: candidate cells come from batch-indexing a
    sub-inradius sample grid over the bbox; their centers are computed
    in one batch and tested against the ring with a vector even-odd
    test. (The previous BFS flood fill walked cell neighbors one at a
    time — ~0.5 ms per cell; this path is ~40 µs per cell.)
    """
    import numpy as np

    from h3_indexer_spark.functions.h3.vectorized import (
        cell_to_latlng_batch,
        latlng_to_cell_batch,
    )

    if ring[0] == ring[-1]:
        ring = ring[:-1]
    if boundary_cells is None:
        boundary_cells = line_cells(ring + [ring[0]], res)

    # candidate cells = every cell intersecting the bbox, found by
    # batch-indexing a sample grid at 0.7 × mean edge. Guarantee: the
    # measured minimum H3 cell inradius is 0.70 × mean edge (lat-
    # corrected, res 4-9 global sample), and an axis-aligned grid of
    # step s hits every region containing a disk of radius r when
    # s ≤ r·√2 ≈ 0.99 × mean edge — so every bbox cell gets a sample
    # with ~1.4× margin; anything pathological beyond that is adjacent
    # to a found cell and recovered by the callers' 1-ring expansion
    lngs = [p[0] for p in ring]
    lats = [p[1] for p in ring]
    step = _EDGE_KM[res] / _EARTH_KM * (180.0 / math.pi) * 0.7
    glat = np.arange(min(lats), max(lats) + step, step)
    glng = np.arange(min(lngs), max(lngs) + step, step)
    cand_parts = [np.asarray(boundary_cells, dtype=np.int64)]
    chunk_rows = max(1, int(2_000_000 / max(1, len(glng))))
    for lo in range(0, len(glat), chunk_rows):
        la, ln = np.meshgrid(glat[lo : lo + chunk_rows], glng, indexing="ij")
        cand_parts.append(latlng_to_cell_batch(la.ravel(), ln.ravel(), res))
    cand = np.unique(np.concatenate(cand_parts))
    cand = cand[cand != 0]

    clat, clng = cell_to_latlng_batch(cand)
    inside = _points_in_ring_v(clng, clat, ring)
    for hole in holes or []:
        inside &= ~_points_in_ring_v(clng, clat, hole)

    result: dict[int, None] = {}
    if include_boundary_cells:
        for c in boundary_cells:
            result[c] = None
    for c in cand[inside]:
        result[int(c)] = None
    return list(result)


def polyfill_many(specs, res: int) -> list:
    """Batched polyfill: one vectorized index/center pass for MANY
    polygons. ``specs`` is a list of ``(outer, holes, boundary_cells,
    wrap)`` where ``outer``/``holes`` are (lng, lat) rings (closure
    optional), ``boundary_cells`` the precomputed boundary-traversal
    cells, and ``wrap`` True when the feature's coordinates were
    shifted to the [0, 360) frame (antimeridian crossers) — cell
    centers are then shifted into the same frame before the even-odd
    test. Semantics per feature are identical to ``polyfill``; the
    batching removes the per-call fixed cost that dominated when
    thousands of small polygons were filled one at a time.
    """
    import numpy as np

    from h3_indexer_spark.functions.h3.vectorized import (
        cell_to_latlng_batch,
        latlng_to_cell_batch,
    )

    step = _EDGE_KM[res] / _EARTH_KM * (180.0 / math.pi) * 0.7
    grid_la, grid_ln, gsizes = [], [], []
    rings_open = []
    for outer, holes, bcells, wrap in specs:
        ring = outer[:-1] if outer[0] == outer[-1] else list(outer)
        rings_open.append(ring)
        lngs = [p[0] for p in ring]
        lats = [p[1] for p in ring]
        glat = np.arange(min(lats), max(lats) + step, step)
        glng = np.arange(min(lngs), max(lngs) + step, step)
        la, ln = np.meshgrid(glat, glng, indexing="ij")
        grid_la.append(la.ravel())
        grid_ln.append(ln.ravel())
        gsizes.append(la.size)

    all_la = np.concatenate(grid_la) if grid_la else np.empty(0)
    all_ln = np.concatenate(grid_ln) if grid_ln else np.empty(0)
    cells = np.empty(all_la.shape[0], dtype=np.int64)
    chunk = 4_000_000
    for lo in range(0, all_la.shape[0], chunk):
        sl = slice(lo, lo + chunk)
        cells[sl] = latlng_to_cell_batch(all_la[sl], all_ln[sl], res)

    offs = np.cumsum([0] + gsizes)
    cand_lists = []
    for fi, (outer, holes, bcells, wrap) in enumerate(specs):
        cand = np.unique(
            np.concatenate(
                [
                    np.asarray(list(bcells), dtype=np.int64),
                    cells[offs[fi] : offs[fi + 1]],
                ]
            )
        )
        cand_lists.append(cand[cand != 0])

    allc = (
        np.concatenate(cand_lists) if cand_lists else np.empty(0, np.int64)
    )
    uniqc, inv = np.unique(allc, return_inverse=True)
    ulat, ulng = cell_to_latlng_batch(uniqc)
    clat, clng = ulat[inv], ulng[inv]

    results = []
    pos = 0
    for fi, (outer, holes, bcells, wrap) in enumerate(specs):
        cand = cand_lists[fi]
        m = len(cand)
        la = clat[pos : pos + m]
        ln = clng[pos : pos + m]
        pos += m
        if wrap:
            ln = np.where(ln < 0.0, ln + 360.0, ln)
        inside = _points_in_ring_v(ln, la, rings_open[fi])
        for hole in holes or []:
            inside &= ~_points_in_ring_v(ln, la, hole)
        result: dict[int, None] = {}
        for c in bcells:
            result[c] = None
        for c in cand[inside]:
            result[int(c)] = None
        results.append(list(result))
    return results


def _points_in_ring_v(lng, lat, ring):
    """Vector twin of _point_in_ring (same even-odd arithmetic)."""
    import numpy as np

    inside = np.zeros(lng.shape[0], dtype=bool)
    n = len(ring)
    with np.errstate(divide="ignore", invalid="ignore"):
        for idx in range(n):
            x1, y1 = ring[idx]
            x2, y2 = ring[(idx + 1) % n]
            m = (y1 > lat) != (y2 > lat)
            if not np.any(m):
                continue
            xint = x1 + (lat - y1) / (y2 - y1) * (x2 - x1)
            inside ^= m & (lng < xint)
    return inside
