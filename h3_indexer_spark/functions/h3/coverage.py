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

# (point, ring-edge) pairs points_in_polygons evaluates per numpy pass
_PAIR_CHUNK = 1 << 22


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


def ranges(starts, counts):
    """The integer ranges ``[starts[i], starts[i] + counts[i])`` laid
    end to end — the flat index of a CSR gather (``starts`` may be a
    scalar)."""
    import numpy as np

    counts = np.asarray(counts, dtype=np.int64)
    ends = np.cumsum(counts)
    return np.repeat(starts - ends + counts, counts) + np.arange(
        ends[-1] if ends.shape[0] else 0
    )


def sample_paths(xy, offsets, res: int):
    """Densified sample points along MANY polylines at once, over CSR
    ("compressed sparse row") arrays: path ``i`` is the (lng, lat) rows
    ``xy[offsets[i]:offsets[i + 1]]``. Each segment is cut into
    n = max(1, ceil(length / step)) equal steps (step as in
    line_cells) and yields its n + 1 points ``p1 + (t / n) · (p2 −
    p1)``, t = 0…n; a path's samples are its segments' in order, so a
    vertex shared by two segments appears twice. One numpy pass for
    every segment of every path: no per-path or per-segment Python.

    Returns ``(lats, lngs, sample_offsets)``, where path ``i``'s samples
    are ``[sample_offsets[i], sample_offsets[i + 1])``; a path with
    fewer than two vertices has none."""
    import numpy as np

    xy = np.asarray(xy, dtype=np.float64).reshape(-1, 2)
    offsets = np.asarray(offsets, dtype=np.int64)
    nv = xy.shape[0]
    # segment k joins vertex k to k + 1 unless k ends its path
    is_seg = np.ones(max(nv - 1, 0), dtype=bool)
    ends = offsets[1:] - 1
    is_seg[ends[(ends >= 0) & (ends < nv - 1)]] = False
    seg = np.nonzero(is_seg)[0]
    x1, y1 = xy[seg, 0], xy[seg, 1]
    dx = xy[seg + 1, 0] - x1
    dy = xy[seg + 1, 1] - y1
    step_deg = _EDGE_KM[res] / _EARTH_KM * (180.0 / math.pi) * 0.75
    n = np.maximum(1, np.ceil(np.hypot(dx, dy) / step_deg)).astype(np.int64)
    cnt = n + 1
    seg_of = np.repeat(np.arange(seg.shape[0]), cnt)
    f = ranges(0, cnt) / n[seg_of]
    lats = y1[seg_of] + f * dy[seg_of]
    lngs = x1[seg_of] + f * dx[seg_of]
    seg_count = np.maximum(np.diff(offsets) - 1, 0)
    cum = np.concatenate([[0], np.cumsum(cnt)])
    sample_offsets = cum[np.concatenate([[0], np.cumsum(seg_count)])]
    return lats, lngs, sample_offsets


def line_sample_points(coords: list[tuple[float, float]], res: int):
    """Densified sample points along one polyline as (lats, lngs) numpy
    arrays: the one-path case of sample_paths."""
    lats, lngs, _ = sample_paths(coords, [0, len(coords)], res)
    return lats, lngs


def dedupe_cells(cells) -> list[int]:
    """Order-preserving dedupe of a cell id array, dropping zeros."""
    return [c for c in dict.fromkeys(int(c) for c in cells) if c]


def dedupe_segments(cells, offsets):
    """dedupe_cells over every CSR segment of ``cells`` at once: each
    segment's distinct nonzero cells in first-occurrence order.
    Returns ``(cells, offsets)`` in the same layout."""
    import numpy as np

    cells = np.asarray(cells, dtype=np.int64)
    offsets = np.asarray(offsets, dtype=np.int64)
    seg = np.repeat(np.arange(offsets.shape[0] - 1), np.diff(offsets))
    order = np.lexsort((cells, seg))  # stable: first occurrence leads
    sc, ss = cells[order], seg[order]
    first = np.ones(sc.shape[0], dtype=bool)
    first[1:] = (sc[1:] != sc[:-1]) | (ss[1:] != ss[:-1])
    pos = np.sort(order[first & (sc != 0)])
    return cells[pos], np.searchsorted(seg[pos], np.arange(offsets.shape[0]))


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
    from h3_indexer_spark.functions.h3.vectorized import latlng_to_cell_batch

    lats, lngs = line_sample_points(coords, res)
    return dedupe_cells(latlng_to_cell_batch(lats, lngs, res))


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


def polyfill_many(xy, ring_off, part_off, boundary_cells, boundary_off,
                  wrap, res: int):
    """Batched polyfill: one vectorized grid, index, center and
    point-in-polygon pass for MANY polygons, with per-polygon
    semantics identical to ``polyfill``. Everything is CSR
    ("compressed sparse row": flat values plus offsets): ring ``r`` is
    the (lng, lat) rows ``xy[ring_off[r]:ring_off[r + 1]]`` (closure
    optional); polygon ``p`` owns rings ``part_off[p]`` to
    ``part_off[p + 1] − 1``, its outer ring first and its holes after;
    its precomputed boundary-traversal cells are
    ``boundary_cells[boundary_off[p]:boundary_off[p + 1]]``. ``wrap[p]``
    is True when its coordinates were shifted to the [0, 360) frame
    (antimeridian crossers) — cell centers are then shifted into the
    same frame before the even-odd test.

    Each polygon's candidates are its boundary cells plus the cells of
    a 0.7 × edge sample grid over its outer ring's bbox (see
    ``polyfill``). Every grid of the batch is built and indexed at
    once, and all centers go through one points_in_polygons pass over
    the outer rings and holes of the whole batch — no per-polygon
    numpy calls. Returns ``(cells, offsets)``, one CSR segment per
    polygon: its boundary cells in order, then its other candidates
    whose centers lie inside, ascending.
    """
    import numpy as np

    from h3_indexer_spark.functions.h3.vectorized import (
        cell_to_latlng_batch,
        latlng_to_cell_batch,
    )

    xy = np.asarray(xy, dtype=np.float64).reshape(-1, 2)
    ring_off = np.asarray(ring_off, dtype=np.int64)
    part_off = np.asarray(part_off, dtype=np.int64)
    boundary_cells = np.asarray(boundary_cells, dtype=np.int64)
    boundary_off = np.asarray(boundary_off, dtype=np.int64)
    n_parts = part_off.shape[0] - 1
    if n_parts == 0:
        return np.empty(0, dtype=np.int64), np.zeros(1, dtype=np.int64)

    # bbox of each outer ring: reduceat over interleaved [lo, hi)
    # bounds, odd slots discarded (a sentinel row keeps hi in range)
    outer = part_off[:-1]
    bounds = np.stack([ring_off[outer], ring_off[outer + 1]], axis=1).ravel()
    padded = np.vstack([xy, np.zeros((1, 2))])
    lo_xy = np.minimum.reduceat(padded, bounds, axis=0)[::2]
    hi_xy = np.maximum.reduceat(padded, bounds, axis=0)[::2]
    step = _EDGE_KM[res] / _EARTH_KM * (180.0 / math.pi) * 0.7
    glats, glngs = [], []
    for (x0, y0), (x1, y1) in zip(lo_xy.tolist(), hi_xy.tolist()):
        glats.append(np.arange(y0, y1 + step, step))
        glngs.append(np.arange(x0, x1 + step, step))
    n_la = np.asarray([len(g) for g in glats], dtype=np.int64)
    n_ln = np.asarray([len(g) for g in glngs], dtype=np.int64)
    # grid point k of polygon p is (glat[k // n_ln], glng[k % n_ln]),
    # the row-major order of meshgrid(glat, glng, indexing="ij")
    g_size = n_la * n_ln
    g_part = np.repeat(np.arange(n_parts), g_size)
    row, col = np.divmod(ranges(0, g_size), n_ln[g_part])
    all_la = np.concatenate(glats)[(np.cumsum(n_la) - n_la)[g_part] + row]
    all_ln = np.concatenate(glngs)[(np.cumsum(n_ln) - n_ln)[g_part] + col]
    cells = np.empty(all_la.shape[0], dtype=np.int64)
    chunk = 4_000_000
    for lo in range(0, all_la.shape[0], chunk):
        sl = slice(lo, lo + chunk)
        cells[sl] = latlng_to_cell_batch(all_la[sl], all_ln[sl], res)

    # candidates: distinct nonzero (polygon, cell) pairs, sorted
    b_part = np.repeat(np.arange(n_parts), np.diff(boundary_off))
    c_part = np.concatenate([b_part, g_part])
    c_cell = np.concatenate([boundary_cells, cells])
    order = np.lexsort((c_cell, c_part))
    c_part, c_cell = c_part[order], c_cell[order]
    first = np.ones(c_cell.shape[0], dtype=bool)
    first[1:] = (c_cell[1:] != c_cell[:-1]) | (c_part[1:] != c_part[:-1])
    keep = first & (c_cell != 0)
    c_part, c_cell = c_part[keep], c_cell[keep]

    uniqc, inv = np.unique(c_cell, return_inverse=True)
    ulat, ulng = cell_to_latlng_batch(uniqc)
    clat, clng = ulat[inv], ulng[inv]
    shift = np.asarray(wrap, dtype=bool)[c_part] & (clng < 0.0)
    clng = np.where(shift, clng + 360.0, clng)
    inside = points_in_polygons(clng, clat, c_part, xy, ring_off, part_off)

    # per polygon: boundary cells first, then the inside candidates
    # (a stable sort on 2·polygon + is_inside keeps both in order)
    key = np.concatenate([2 * b_part, 2 * c_part[inside] + 1])
    order = np.argsort(key, kind="stable")
    return dedupe_segments(
        np.concatenate([boundary_cells, c_cell[inside]])[order],
        np.searchsorted(key[order], 2 * np.arange(n_parts + 1)),
    )


def points_in_polygons(lng, lat, pt_part, xy, ring_off, part_off):
    """Even-odd point-in-polygon for many (point, polygon) pairs at
    once: point ``i`` is tested against polygon ``pt_part[i]`` (rings
    in the CSR layout of polyfill_many) and is inside when it is inside
    the outer ring and in none of the holes.

    One pass over (point, ring-edge) pairs, restricted to the pairs
    whose edge spans the point's latitude — the only ones where the
    even-odd test can count a crossing ((y1 > lat) != (y2 > lat) holds
    exactly when min(y1, y2) ≤ lat < max(y1, y2)). Latitudes are
    replaced by their rank among the points' distinct latitudes, so
    each edge finds its points with two searchsorted calls over the
    points sorted by (polygon, rank). Each pair evaluates the same
    crossing arithmetic as _points_in_ring_v, and a ring's parity is
    its crossing count mod 2. Pairs are generated at most _PAIR_CHUNK
    at a time."""
    import numpy as np

    lng = np.asarray(lng, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    pt_part = np.asarray(pt_part, dtype=np.int64)
    n_pts = lng.shape[0]
    n_rings = ring_off.shape[0] - 1
    ring_len = np.diff(ring_off)
    # edge v runs from vertex v to the next vertex of its ring (the
    # last vertex closes back to the first)
    v_to = np.arange(1, xy.shape[0] + 1)
    nonempty = ring_len > 0
    v_to[ring_off[1:][nonempty] - 1] = ring_off[:-1][nonempty]
    e_ring = np.repeat(np.arange(n_rings), ring_len)
    ring_part = np.repeat(np.arange(part_off.shape[0] - 1), np.diff(part_off))
    e_part = ring_part[e_ring]
    e_outer = np.zeros(n_rings, dtype=bool)
    e_outer[part_off[:-1][np.diff(part_off) > 0]] = True
    e_outer = e_outer[e_ring]
    x1, y1 = xy[:, 0], xy[:, 1]
    x2, y2 = xy[v_to, 0], xy[v_to, 1]

    ulat = np.unique(lat)
    width = ulat.shape[0] + 1
    key = pt_part * width + np.searchsorted(ulat, lat)
    order = np.argsort(key, kind="stable")
    skey = key[order]
    base = e_part * width
    start = np.searchsorted(skey, base + np.searchsorted(ulat, np.minimum(y1, y2)))
    stop = np.searchsorted(skey, base + np.searchsorted(ulat, np.maximum(y1, y2)))
    cnt = stop - start

    odd_outer = np.zeros(n_pts, dtype=np.int64)
    hole_keys = []
    cum = np.cumsum(cnt)
    e0 = 0
    while e0 < cnt.shape[0]:
        done = cum[e0 - 1] if e0 else 0
        e1 = max(e0 + 1, int(np.searchsorted(cum, done + _PAIR_CHUNK, "right")))
        c = cnt[e0:e1]
        pe = np.repeat(np.arange(e0, e1), c)
        pp = order[ranges(start[e0:e1], c)]
        xint = x1[pe] + (lat[pp] - y1[pe]) / (y2[pe] - y1[pe]) * (
            x2[pe] - x1[pe]
        )
        hit = lng[pp] < xint
        outer_hit = hit & e_outer[pe]
        odd_outer += np.bincount(pp[outer_hit], minlength=n_pts)
        hole_hit = hit & ~e_outer[pe]
        if hole_hit.any():
            hole_keys.append(pp[hole_hit] * n_rings + e_ring[pe[hole_hit]])
        e0 = e1
    inside = (odd_outer & 1).astype(bool)
    if hole_keys:
        keys, counts = np.unique(np.concatenate(hole_keys), return_counts=True)
        inside[keys[(counts & 1) == 1] // n_rings] = False
    return inside


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
