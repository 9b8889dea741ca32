"""Arrow-vectorized UDF layer bridging the pure-Python kernels into
Spark (SURVEY.md §2.7). The reference used row-at-a-time ``@udf``s
(U1-U3); everything here is batch-oriented (pandas UDF / mapInPandas)
with worker-local memoization of per-cell geometry — the batch-level
equivalent of the reference's distinct-then-join-back optimization
(h3_indexer.py:116-127) without the extra shuffle.
"""

from __future__ import annotations

from functools import lru_cache
from typing import Iterator

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StringType

from h3_indexer_spark.config.vector import AllocationMethod, GeometryType
from h3_indexer_spark.constants import (
    GEOM_WKT,
    H3_AREA_KM2,
    H3_INDEX,
    RATIO,
)
from h3_indexer_spark.functions import geodesy, geometry
from h3_indexer_spark.functions.h3 import core, coverage


# --- memoized per-cell geometry (worker-local "distinct" optimization) ----


@lru_cache(maxsize=262144)
def _cell_boundary_ring(cell: int) -> tuple:
    """Hex boundary as an (lng, lat) ring, cached per worker."""
    return tuple((lng, lat) for lat, lng in core.cell_to_boundary(cell))


_AREA_CACHE: dict[int, float] = {}
_AREA_CACHE_MAX = 2_000_000


def areas_for_cells(cells: list[int]) -> list[float]:
    """Areas for many cells: one cell_area_km2_batch call over the cache
    misses, then a dict lookup. The cache is bounded so a long-lived
    worker at fine resolutions cannot grow without limit."""
    import numpy as np

    from h3_indexer_spark.functions.h3.vectorized import cell_area_km2_batch

    miss = [c for c in dict.fromkeys(cells) if c not in _AREA_CACHE]
    if miss:
        if len(_AREA_CACHE) + len(miss) > _AREA_CACHE_MAX:
            _AREA_CACHE.clear()
        vals = cell_area_km2_batch(np.asarray(miss, dtype=np.int64))
        _AREA_CACHE.update(zip(miss, vals.tolist()))
    return [_AREA_CACHE[c] for c in cells]


@lru_cache(maxsize=262144)
def _cell_wkt(cell: int) -> str:
    ring = list(_cell_boundary_ring(cell))
    ring.append(ring[0])
    return geometry.to_wkt("polygon", [ring])


# --- scalar pandas UDFs (U2/U3 parity surface) ----------------------------


@F.pandas_udf(StringType())
def h3_to_wkt_udf(h3_index: pd.Series) -> pd.Series:
    """U3 parity (reference spark_udfs.py:48-67): hex cell boundary as
    a WKT polygon."""
    return h3_index.map(
        lambda s: _cell_wkt(core.string_to_h3(s)) if s else None
    )


@lru_cache(maxsize=262144)
def _cell_wkb(cell: int) -> bytes:
    ring = list(_cell_boundary_ring(cell))
    ring.append(ring[0])
    return geometry.to_wkb("polygon", [ring])


@F.pandas_udf(BinaryType())
def h3_to_wkb_udf(h3_index: pd.Series) -> pd.Series:
    """U4 parity (reference spark_udfs.py:24-45): hex cell boundary as
    a WKB polygon (little-endian 2D)."""
    return h3_index.map(
        lambda s: _cell_wkb(core.string_to_h3(s)) if s else None
    )


@F.pandas_udf(StringType())
def canonical_wkt_udf(geom: pd.Series) -> pd.Series:
    """G1/G2/G9: sniff encoding (WKT/WKB-hex/GeoJSON/binary), repair,
    re-encode as canonical WKT; null for unparseable/irreparable rows
    (reference geospatial.py:55-166 semantics)."""

    def conv(v):
        if v is None:
            return None
        try:
            parts = geometry.parse_any_parts(v)
            repaired = [geometry.repair(k, r) for k, r in parts]
            kept = [p for p in repaired if p is not None]
            if not kept:
                return None
            return geometry.parts_to_wkt(kept)
        except Exception:
            return None

    return geom.map(conv)


# The function is pure. The nondeterministic flag only stops Catalyst
# from copying the call into a filter on its output that it pushes
# below the projection (and through a repartition into the scan): the
# Validate stage's not-null filter did that, and every row was
# canonicalized twice, the first time in the scan's tasks.
# (asNondeterministic() flags the shared UDF object itself, so it is
# set here, once, rather than at a call site.)
canonical_wkt_udf = canonical_wkt_udf.asNondeterministic()


# --- the indexing kernel: feature → (cell, ratio, metric) rows ------------


def _expand_with_neighbors(cells: list[int]) -> list[int]:
    """Sampling-based coverage can miss a cell clipped at a tiny corner
    (the classic grid-path corner cut); every such cell is adjacent to a
    sampled one, so the sampled set ∪ its neighbors is a complete
    candidate superset. Extras are filtered by a zero clip ratio."""
    seen = dict.fromkeys(cells)
    for c in cells:
        for nb in coverage.cell_neighbors(c):
            seen.setdefault(nb)
    return list(seen)


def _index_lines(lines, res: int, method: AllocationMethod, sampled=None):
    """LINE allocation over one or more linestrings (a MULTILINESTRING
    feature allocates across the union of its members): ratio =
    clipped_length(cell) / total_length over ALL parts."""
    if sampled is None:
        sampled = [c for line in lines for c in coverage.line_cells(line, res)]
        sampled = list(dict.fromkeys(sampled))
    total_len = sum(geodesy.planar_line_length(line) for line in lines)
    sampled_set = set(sampled)
    out = []
    for cell in _expand_with_neighbors(sampled):
        is_sampled = cell in sampled_set
        if method == AllocationMethod.PASS_THROUGH:
            if is_sampled:
                out.append((cell, 1.0))
            continue
        hexagon = list(_cell_boundary_ring(cell))
        clipped = 0.0
        for line in lines:
            pieces = geometry.clip_line_convex(line, hexagon)
            clipped += sum(geodesy.planar_line_length(p) for p in pieces)
        ratio = clipped / total_len if total_len > 0 else 0.0
        if ratio > 0.0 or is_sampled:
            out.append((cell, ratio))
    metric = (
        sum(geodesy.spheroid_line_length_m(line) for line in lines) / 1000.0
    )  # total_length_km
    return out, metric


def _split_outer_holes(rings):
    outer = rings[0]
    holes = rings[1:]
    if outer[0] == outer[-1]:
        outer = outer[:-1]
    holes = [h[:-1] if h and h[0] == h[-1] else h for h in holes]
    return outer, holes


def _ring_centroid(ring):
    """Area-weighted (shoelace) centroid of an open ring; degenerate
    (zero-area) rings fall back to the vertex mean. Returns
    (cx, cy, abs_area)."""
    a2 = 0.0
    cx = 0.0
    cy = 0.0
    n = len(ring)
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        w = x1 * y2 - x2 * y1
        a2 += w
        cx += (x1 + x2) * w
        cy += (y1 + y2) * w
    if a2 == 0.0:
        return (
            sum(x for x, _ in ring) / n,
            sum(y for _, y in ring) / n,
            0.0,
        )
    return cx / (3.0 * a2), cy / (3.0 * a2), abs(a2) / 2.0


def _area_centroid(parts):
    """True area centroid of a (multi)polygon: shoelace centroid per
    ring, holes subtracted by (negative) area weight, parts combined by
    net area. If the combined point falls outside every part (possible
    for a multipolygon or a concave part), snap to the largest part's
    own centroid. parts: [(outer, holes), ...] open rings."""
    wx = wy = wsum = 0.0
    best = None  # (net_area, cx, cy) of the largest part
    for outer, holes in parts:
        ox, oy, oa = _ring_centroid(outer)
        px, py, pa = ox * oa, oy * oa, oa
        for h in holes:
            hx, hy, ha = _ring_centroid(h)
            px -= hx * ha
            py -= hy * ha
            pa -= ha
        wx += px
        wy += py
        wsum += pa
        if pa > 0.0 and (best is None or pa > best[0]):
            best = (pa, px / pa, py / pa)
    if wsum == 0.0:
        verts = [p for outer, _ in parts for p in outer]
        return (
            sum(x for x, _ in verts) / len(verts),
            sum(y for _, y in verts) / len(verts),
        )
    cx, cy = wx / wsum, wy / wsum
    inside = any(
        coverage._point_in_ring(cx, cy, outer)
        and not any(coverage._point_in_ring(cx, cy, h) for h in holes)
        for outer, holes in parts
    )
    if not inside and best is not None:
        return best[1], best[2]
    return cx, cy


def _index_polygons(
    polys, res: int, method: AllocationMethod, boundaries=None
):
    """POLYGON allocation over one or more polygons (a MULTIPOLYGON
    feature allocates across the union of its members, assumed
    disjoint): ratio = kept_area(cell) / total_area over ALL parts."""
    parts = [_split_outer_holes(rings) for rings in polys]
    rings, signs = [], []
    for outer, holes in parts:
        rings += [outer, *holes]
        signs += [1.0] + [-1.0] * len(holes)  # holes subtract
    ring_areas = geodesy.spheroid_polygon_area_m2_many(rings)
    metric = float((ring_areas * signs).sum()) / 1.0e6  # total_area_km2
    if method == AllocationMethod.CENTROID:
        cx, cy = _area_centroid(parts)
        cell = core.latlng_to_cell(cy, cx, res)
        return [(cell, 1.0)], metric
    total_area = sum(
        geodesy.planar_polygon_area(outer)
        - sum(geodesy.planar_polygon_area(h) for h in holes)
        for outer, holes in parts
    )
    if boundaries is None:
        boundaries = [None] * len(parts)
    cells: dict[int, None] = {}
    for (outer, holes), boundary in zip(parts, boundaries):
        for c in coverage.polyfill(
            outer, res, holes=holes or None, boundary_cells=boundary
        ):
            cells.setdefault(c)
    sampled = set(cells)
    out = []
    for cell in _expand_with_neighbors(list(cells)):
        hexagon = list(_cell_boundary_ring(cell))
        area = 0.0
        for outer, holes in parts:
            kept = geometry.clip_polygon_convex(outer, hexagon)
            part_area = (
                abs(geometry._signed_area(kept)) if len(kept) >= 3 else 0.0
            )
            for hole in holes:
                kh = geometry.clip_polygon_convex(hole, hexagon)
                if len(kh) >= 3:
                    part_area -= abs(geometry._signed_area(kh))
            area += part_area
        ratio = area / total_area if total_area > 0 else 0.0
        if ratio > 0.0 or cell in sampled:
            out.append((cell, ratio))
    return out, metric


# --- batched allocation: numpy over every (part, cell) pair of a batch ----
#
# The scalar allocators above clip one candidate cell at a time in
# Python — the round-1 scale limiter (~7.2k polygons/s flat). The
# functions below compute identical ratios for ALL features of an Arrow
# batch at once: one exact-IJK neighbor expansion, one boundary batch,
# and one vectorized Sutherland-Hodgman / Cyrus-Beck kernel call over
# the stacked (part, cell) pairs, plus an interior fast path (cells not
# within one ring of any boundary cell keep the full hexagon area
# without clipping — O(perimeter) clip work instead of O(area)).


def _ring_csr(rings):
    """CSR arrays of a list of (lng, lat) rings: ``(xy, offsets)`` with
    ring ``r`` the rows ``xy[offsets[r]:offsets[r + 1]]``."""
    import numpy as np
    from itertools import chain

    lens = np.fromiter(map(len, rings), np.int64, len(rings))
    offsets = np.concatenate([[0], np.cumsum(lens)])
    xy = np.fromiter(
        chain.from_iterable(chain.from_iterable(rings)),
        np.float64,
        2 * int(offsets[-1]),
    ).reshape(-1, 2)
    return xy, offsets


def _pad_rings(xy, starts, counts):
    """(len(starts), max(counts), 2) zero-padded array whose row ``i``
    begins with the ``counts[i]`` rows of ``xy`` from ``starts[i]``."""
    import numpy as np

    counts = np.asarray(counts, dtype=np.int64)
    cap = int(counts.max()) if counts.shape[0] else 0
    padded = np.zeros((counts.shape[0], cap, 2), dtype=np.float64)
    row = np.repeat(np.arange(counts.shape[0]), counts)
    padded[row, coverage.ranges(0, counts)] = xy[coverage.ranges(starts, counts)]
    return padded


def _closed_paths(xy, starts, counts, close):
    """CSR ``(xy, offsets)`` of the rings ``xy[starts[i]:starts[i] +
    counts[i]]``, each followed by its first vertex again where
    ``close`` (a mask, or True for all) holds."""
    import numpy as np

    close = np.broadcast_to(np.asarray(close, dtype=bool), counts.shape)
    cnt = counts + close
    idx = coverage.ranges(starts, cnt)
    idx[np.cumsum(cnt)[close] - 1] = starts[close]
    return xy[idx], np.concatenate([[0], np.cumsum(cnt)])


def _unwrap_antimeridian(xy, ring_off, ring_feat, n_feats):
    """Antimeridian handling over a batch's CSR coordinates: a feature
    is treated as crossing ±180° only when some ring has a
    CONSECUTIVE-vertex lng jump > 180° — the GeoJSON RFC 7946 §3.1.9
    convention, where a segment nominally spanning more than half the
    globe means "the short way across the antimeridian". A legitimately
    wide feature (span > 180° but densely vertexed, so no single jump
    exceeds 180°) is left untouched. When crossing, every coordinate of
    the feature shifts into the continuous [0, 360) frame (lng < 0 →
    +360). All planar math downstream (sampling, polyfill, clipping,
    centroids) runs in that frame; cell indexing and the spheroid
    metrics are trigonometric and accept lng > 180 unchanged. The
    batch allocators shift candidate-cell boundaries into the same
    frame per feature. ``ring_feat`` maps each ring to its feature.
    Returns ``(xy, wrap)``: the shifted coordinates (a copy when any
    feature wraps) and the (n_feats,) crossing mask."""
    import numpy as np

    v_feat = np.repeat(ring_feat, np.diff(ring_off))
    jump = np.abs(np.diff(xy[:, 0])) > 180.0
    # the vertex pair straddling two rings is no segment
    starts = ring_off[1:-1]
    jump[starts[(starts > 0) & (starts < xy.shape[0])] - 1] = False
    wrap = np.zeros(n_feats, dtype=bool)
    wrap[v_feat[1:][jump]] = True
    if wrap.any():
        xy = xy.copy()
        xy[wrap[v_feat] & (xy[:, 0] < 0.0), 0] += 360.0
    return xy, wrap


def _shift_wrapped(bpts, wrap_mask):
    """Shift gathered cell-boundary lngs of wrapped-feature rows into
    the [0, 360) frame (copy-on-write; non-wrapped rows untouched)."""
    import numpy as np

    if not wrap_mask.any():
        return bpts
    bpts = bpts.copy()
    lng = bpts[wrap_mask, :, 0]
    bpts[wrap_mask, :, 0] = np.where(lng < 0.0, lng + 360.0, lng)
    return bpts


def _grouped_neighbors(cell_lists):
    """One-ring expansion for many cell lists via a single batched
    exact-IJK neighbor call. Returns (expanded_lists, nbmap) where
    expanded_lists[i] preserves _expand_with_neighbors order and nbmap
    maps every input cell to its neighbor list."""
    import numpy as np

    flat = [c for lst in cell_lists for c in lst]
    if not flat:
        return [list(lst) for lst in cell_lists], {}
    uniq = np.unique(np.asarray(flat, dtype=np.int64))
    nb = coverage.cell_neighbors_batch(uniq)
    nbmap = {}
    for c, row in zip(uniq.tolist(), nb):
        nbmap[c] = [int(x) for x in row if x]
    out = []
    for lst in cell_lists:
        seen = dict.fromkeys(lst)
        for c in lst:
            for x in nbmap[c]:
                seen.setdefault(x)
        out.append(list(seen))
    return out, nbmap


def _index_lines_batch(line_feats, res: int, method: AllocationMethod,
                       sample_cells):
    """Batched LINE allocation for [(uid, plist, wrap)] features;
    returns (uids, cells, ratios, metrics) row lists. Ratios are
    identical to _index_lines (same clip arithmetic, vectorized)."""
    import numpy as np

    from h3_indexer_spark.functions.h3 import clipbatch
    from h3_indexer_spark.functions.h3.vectorized import cell_boundary_batch

    uids_out: list = []
    cells_out: list = []
    ratios_out: list = []
    metrics_out: list = []

    sampled_lists = []
    lines_f = []
    for _, plist, _ in line_feats:
        sampled = list(
            dict.fromkeys(
                c
                for _, _, lo, hi in plist
                for c in coverage.dedupe_cells(sample_cells[lo:hi])
            )
        )
        sampled_lists.append(sampled)
        lines_f.append([rings[0] for _, rings, _, _ in plist])
    # total_length_km metric: one batched Vincenty call over every
    # segment of the batch instead of per-segment scalar iteration
    seg_p1, seg_p2, seg_feat = [], [], []
    for fi, lines in enumerate(lines_f):
        for line in lines:
            a = np.asarray(line, dtype=np.float64)
            seg_p1.append(a[:-1])
            seg_p2.append(a[1:])
            seg_feat.append(np.full(len(a) - 1, fi, dtype=np.int64))
    metrics_arr = np.zeros(len(line_feats), dtype=np.float64)
    if seg_p1:
        P1m = np.concatenate(seg_p1)
        P2m = np.concatenate(seg_p2)
        dists = geodesy.vincenty_distance_m_batch(
            P1m[:, 1], P1m[:, 0], P2m[:, 1], P2m[:, 0]
        )
        np.add.at(metrics_arr, np.concatenate(seg_feat), dists)
    metrics_f = (metrics_arr / 1000.0).tolist()
    if method == AllocationMethod.PASS_THROUGH:
        for (uid, _, _), sampled, metric in zip(
            line_feats, sampled_lists, metrics_f
        ):
            for c in sampled:
                uids_out.append(uid)
                cells_out.append(c)
                ratios_out.append(1.0)
                metrics_out.append(metric)
        return uids_out, cells_out, ratios_out, metrics_out

    cand_lists, _ = _grouped_neighbors(sampled_lists)

    seg_arrs = []
    total_len_f = []
    for lines in lines_f:
        pts = [np.asarray(line, dtype=np.float64) for line in lines]
        p1 = np.concatenate([a[:-1] for a in pts])
        p2 = np.concatenate([a[1:] for a in pts])
        seg_arrs.append((p1, p2))
        d = p2 - p1
        total_len_f.append(float(np.hypot(d[:, 0], d[:, 1]).sum()))

    offsets = np.cumsum([0] + [len(c) for c in cand_lists])
    pair_cell, pair_p1, pair_p2, pair_acc, pair_wrap = [], [], [], [], []
    for fi, (cands, (p1, p2)) in enumerate(zip(cand_lists, seg_arrs)):
        C, S = len(cands), len(p1)
        if C == 0 or S == 0:
            continue
        carr = np.asarray(cands, dtype=np.int64)
        pair_cell.append(np.repeat(carr, S))
        pair_p1.append(np.tile(p1, (C, 1)))
        pair_p2.append(np.tile(p2, (C, 1)))
        pair_acc.append(np.repeat(np.arange(C) + offsets[fi], S))
        pair_wrap.append(
            np.full(C * S, bool(line_feats[fi][2]), dtype=bool)
        )

    acc = np.zeros(int(offsets[-1]), dtype=np.float64)
    if pair_cell:
        pc = np.concatenate(pair_cell)
        P1 = np.concatenate(pair_p1)
        P2 = np.concatenate(pair_p2)
        acc_idx = np.concatenate(pair_acc)
        wrap_arr = np.concatenate(pair_wrap)
        uniqc, inv = np.unique(pc, return_inverse=True)
        bpts, bnv = cell_boundary_batch(uniqc)
        lengths = np.empty(len(pc), dtype=np.float64)
        step = 1 << 18
        for lo in range(0, len(pc), step):
            sl = slice(lo, min(lo + step, len(pc)))
            lengths[sl] = clipbatch.clip_line_length_pairs(
                P1[sl],
                P2[sl],
                _shift_wrapped(bpts[inv[sl]], wrap_arr[sl]),
                bnv[inv[sl]],
            )
        np.add.at(acc, acc_idx, lengths)

    for fi, (uid, _, _) in enumerate(line_feats):
        sampled_set = set(sampled_lists[fi])
        tot = total_len_f[fi]
        metric = metrics_f[fi]
        vals = acc[offsets[fi] : offsets[fi + 1]]
        for c, ln in zip(cand_lists[fi], vals):
            ratio = ln / tot if tot > 0 else 0.0
            if ratio > 0.0 or c in sampled_set:
                uids_out.append(uid)
                cells_out.append(c)
                ratios_out.append(ratio)
                metrics_out.append(metric)
    return uids_out, cells_out, ratios_out, metrics_out


def _index_polygons_batch(poly_feats, res: int, method: AllocationMethod,
                          sample_cells):
    """Batched POLYGON allocation for [(uid, plist, wrap)] features
    (non-CENTROID methods); returns (uids, cells, ratios, metrics).

    Candidate cells and ratios are identical to _index_polygons. The
    batch's rings are laid out once as CSR arrays (every part's outer
    ring, then its holes); the metric and planar areas, the hole
    boundary cells, the coverage (one polyfill_many pass over every
    part) and the clip padding all read those arrays. The area of each
    (ring, cell) clip comes from the vectorized kernel, and cells
    provably interior (in the polyfill set and not within one ring of
    any outer/hole boundary cell — sampling guarantees every
    boundary-crossed cell is within one ring of a sampled one) skip
    clipping entirely and keep the full hexagon area."""
    import numpy as np

    from h3_indexer_spark.functions.h3 import clipbatch
    from h3_indexer_spark.functions.h3.vectorized import (
        cell_boundary_batch,
        latlng_to_cell_batch,
    )

    F = len(poly_feats)

    # every ring opened as _split_outer_holes does; part p owns rings
    # part_off[p]…part_off[p + 1] − 1, its outer ring first
    rings, part_rings, part_feat, part_span = [], [], [], []
    for fi, (_, plist, _) in enumerate(poly_feats):
        for _, prings, lo, hi in plist:
            outer, holes = _split_outer_holes(prings)
            rings.append(outer)
            rings.extend(holes)
            part_rings.append(1 + len(holes))
            part_feat.append(fi)
            part_span.append((lo, hi))
    xy, ring_off = _ring_csr(rings)
    n_rings = len(rings)
    part_off = np.concatenate([[0], np.cumsum(part_rings)])
    part_feat = np.asarray(part_feat, dtype=np.int64)
    ring_feat = np.repeat(part_feat, part_rings)
    is_outer = np.zeros(n_rings, dtype=bool)
    is_outer[part_off[:-1]] = True
    feat_ring_off = np.searchsorted(ring_feat, np.arange(F + 1))
    wrap_f = np.asarray([bool(w) for _, _, w in poly_feats], dtype=bool)
    ring_len = np.diff(ring_off)

    # total_area_km2 metric and the planar total area: one padded array
    # of every ring, with a closing vertex that survived the opening
    # dropped once more (as spheroid_polygon_area_m2_many and
    # planar_polygon_area drop it)
    last = np.maximum(ring_off[1:] - 1, 0)
    dup = (ring_len >= 2) & (xy[ring_off[:-1]] == xy[last]).all(axis=1)
    nv = ring_len - dup
    padded = _pad_rings(xy, ring_off[:-1], nv)
    signed_m2 = np.where(is_outer, 1.0, -1.0) * geodesy.spheroid_ring_areas_m2(
        padded, nv
    )
    metrics_arr = np.zeros(F, dtype=np.float64)
    np.add.at(metrics_arr, ring_feat, signed_m2)
    metrics_f = (metrics_arr / 1.0e6).tolist()
    planar = geodesy.planar_ring_areas(padded, nv).tolist()
    total_area_f = [0] * F
    for p, fi in enumerate(part_feat.tolist()):
        r0, r1 = part_off[p], part_off[p + 1]
        total_area_f[fi] += planar[r0] - sum(planar[r0 + 1 : r1])

    # boundary cells: an outer ring's own samples; holes (and an outer
    # ring sampled by nobody) are closed, sampled and indexed here in
    # one call
    span = np.asarray(part_span, dtype=np.int64).reshape(-1, 2)
    unsampled = ~is_outer
    unsampled[part_off[:-1]] = span[:, 1] <= span[:, 0]
    nr = np.nonzero(unsampled)[0]
    la, ln, soff = coverage.sample_paths(
        *_closed_paths(xy, ring_off[nr], ring_len[nr], True), res
    )
    # segments 0…P−1 are the parts' own spans (empty when unsampled),
    # then one per ring in nr
    own_len = np.maximum(span[:, 1] - span[:, 0], 0)
    seg_cells = np.concatenate(
        [np.asarray(sample_cells, dtype=np.int64)[
            coverage.ranges(span[:, 0], own_len)],
         latlng_to_cell_batch(la, ln, res)]
    )
    seg_off = np.concatenate(
        [[0], np.cumsum(own_len), own_len.sum() + soff[1:]]
    )
    uc, uoff = coverage.dedupe_segments(seg_cells, seg_off)
    ring_seg = np.repeat(np.arange(len(part_span)), part_rings)
    ring_seg[nr] = len(part_span) + np.arange(nr.shape[0])
    # every ring's boundary cells, CSR in ring order
    rc_len = np.diff(uoff)[ring_seg]
    rc_off = np.concatenate([[0], np.cumsum(rc_len)])
    rc_cells = uc[coverage.ranges(uoff[ring_seg], rc_len)]

    outer_ids = part_off[:-1]
    b_off = np.concatenate([[0], np.cumsum(rc_len[outer_ids])])
    b_cells = rc_cells[coverage.ranges(rc_off[outer_ids], rc_len[outer_ids])]
    fill_cells, fill_off = coverage.polyfill_many(
        xy, ring_off, part_off, b_cells, b_off, wrap_f[part_feat], res
    )
    # a feature's coverage is the union of its parts' fills, in order
    # (parts of a feature are consecutive)
    pf_cells, pf_off = coverage.dedupe_segments(
        fill_cells, fill_off[np.searchsorted(part_feat, np.arange(F + 1))]
    )
    pf_feat = np.repeat(np.arange(F), np.diff(pf_off))

    # edge cells: every outer/hole boundary cell and its neighbors
    edge_feat = np.repeat(ring_feat, rc_len)
    uniq = np.unique(np.concatenate([pf_cells, rc_cells]))
    nb = coverage.cell_neighbors_batch(uniq)
    edge_nb = nb[np.searchsorted(uniq, rc_cells)].ravel()
    edge_cells = np.concatenate([rc_cells, edge_nb])
    edge_feat = np.concatenate([edge_feat, np.repeat(edge_feat, 6)])
    # candidates: each feature's coverage, then its cells' neighbors
    # (row order), deduped — the _expand_with_neighbors order
    pf_nb = nb[np.searchsorted(uniq, pf_cells)].ravel()
    src_cells = np.concatenate([pf_cells, pf_nb])
    src_key = np.concatenate([2 * pf_feat, 2 * np.repeat(pf_feat, 6) + 1])
    order = np.argsort(src_key, kind="stable")
    cand_cells, offsets = coverage.dedupe_segments(
        src_cells[order],
        np.searchsorted(src_key[order], 2 * np.arange(F + 1)),
    )
    cand_feat = np.repeat(np.arange(F), np.diff(offsets))
    kept = np.zeros(cand_cells.shape[0], dtype=np.float64)

    # (feature, cell) membership through dense cell ids
    ids = np.unique(np.concatenate([cand_cells, edge_cells]))
    width = ids.shape[0]

    def keys(feat, cells):
        return feat * width + np.searchsorted(ids, cells)

    cand_key = keys(cand_feat, cand_cells)
    in_pf = np.isin(cand_key, keys(pf_feat, pf_cells))
    interior = in_pf & ~np.isin(cand_key, keys(edge_feat, edge_cells))
    interior_acc = np.nonzero(interior)[0]
    interior_cells = cand_cells[interior_acc]
    interior_wrap = wrap_f[cand_feat[interior_acc]]

    # clip pairs, feature by feature: every non-interior candidate
    # against each of the feature's rings (outer +, holes −)
    clip_acc = np.nonzero(~interior)[0]
    k_f = np.bincount(cand_feat[clip_acc], minlength=F)
    r_f = np.diff(feat_ring_off)
    size = k_f * r_f
    pf_ = np.repeat(np.arange(F), size)
    ring_local, cell_local = np.divmod(
        coverage.ranges(0, size), np.maximum(k_f, 1)[pf_]
    )
    pair_ring = feat_ring_off[:-1][pf_] + ring_local
    pair_at = clip_acc[(np.cumsum(k_f) - k_f)[pf_] + cell_local]
    pair_cell = cand_cells[pair_at]

    # one boundary batch for every distinct candidate cell
    uniqc = np.unique(np.concatenate([pair_cell, interior_cells]))
    bpts, bnv = cell_boundary_batch(uniqc)
    if interior_cells.size:
        sel = np.searchsorted(uniqc, interior_cells)
        kept[interior_acc] += clipbatch.shoelace_abs_batch(
            _shift_wrapped(bpts[sel], interior_wrap), bnv[sel]
        )
    if pair_cell.size:
        ps = np.where(is_outer, 1.0, -1.0)[pair_ring]
        pw = wrap_f[pf_]
        cell_row = np.searchsorted(uniqc, pair_cell)
        # bucket pairs by ring-size class to bound padding waste
        size_cls = np.ceil(np.log2(np.maximum(ring_len[pair_ring], 4))
                           ).astype(np.int64)
        for cls in np.unique(size_cls):
            idx = np.nonzero(size_cls == cls)[0]
            rids = np.unique(pair_ring[idx])
            ring_pad = _pad_rings(xy, ring_off[rids], ring_len[rids])
            ring_row = np.searchsorted(rids, pair_ring[idx])
            step = max(1, (1 << 22) // max(ring_pad.shape[1], 1))
            for lo in range(0, len(idx), step):
                sl = idx[lo : lo + step]
                a = clipbatch.clip_polygon_area_pairs(
                    ring_pad[ring_row[lo : lo + step]],
                    ring_len[pair_ring[sl]],
                    _shift_wrapped(bpts[cell_row[sl]], pw[sl]),
                    bnv[cell_row[sl]],
                )
                np.add.at(kept, pair_at[sl], ps[sl] * a)

    tot = np.asarray(total_area_f, dtype=np.float64)[cand_feat]
    ratio = np.zeros(kept.shape[0], dtype=np.float64)
    np.divide(kept, tot, out=ratio, where=tot > 0)
    out = np.nonzero((ratio > 0.0) | in_pf)[0]
    uids_f = [uid for uid, _, _ in poly_feats]
    feat_out = cand_feat[out].tolist()
    return (
        [uids_f[fi] for fi in feat_out],
        cand_cells[out].tolist(),
        ratio[out].tolist(),
        [metrics_f[fi] for fi in feat_out],
    )


def make_index_map_fn(
    uid_col: str,
    geometry_type: str,
    method: AllocationMethod,
    res: int,
    metric_col: str,
):
    """Build a mapInPandas function: (uid, geom_wkt) batches →
    exploded (uid, h3_index, ratio, metric, h3_area_km2) rows.

    This is the whole Index stage kernel in ONE narrow pass — where the
    reference round-trips through explode + distinct + two joins
    (h3_indexer.py:106-127), we compute coverage, ratio, and cell
    geometry together per feature, with per-cell results memoized on
    the worker. No shuffle until the final repartition-for-write.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from h3_indexer_spark.functions.h3.vectorized import (
            latlng_to_cell_batch,
        )

        for pdf in batches:
            # fast path: a pure-POINT batch parses with one vectorized
            # regex extract and indexes with one batch call — no
            # per-row python at all (the common 100 TB ingest shape)
            if geometry_type == GeometryType.POINT:
                ext = pdf[GEOM_WKT].str.extract(
                    r"^\s*POINT\s*\(\s*(-?[\d.eE+-]+)\s+(-?[\d.eE+-]+)"
                    r"\s*\)\s*$"
                )
                lngs = pd.to_numeric(ext[0], errors="coerce")
                lats = pd.to_numeric(ext[1], errors="coerce")
                ok = lngs.notna() & lats.notna()
                if ok.all():
                    cell_arr = latlng_to_cell_batch(
                        lats.to_numpy(), lngs.to_numpy(), res
                    )
                    keep = cell_arr != 0
                    cell_ints = [int(c) for c in cell_arr[keep]]
                    yield pd.DataFrame(
                        {
                            uid_col: pdf[uid_col][keep].reset_index(
                                drop=True
                            ),
                            H3_INDEX: pd.Series(
                                [core.h3_to_string(c) for c in cell_ints],
                                dtype="object",
                            ),
                            RATIO: 1.0,
                            metric_col: 1.0,
                            H3_AREA_KM2: pd.Series(
                                areas_for_cells(cell_ints), dtype="float64"
                            ),
                        }
                    )
                    continue

            # phase 1: parse every feature and lay the batch's rings out
            # as CSR arrays (flat coordinates plus ring offsets); shift
            # antimeridian crossers into the [0, 360) frame, sample
            # every line and every polygon's closed outer ring with ONE
            # sample_paths call, and index ALL samples in one
            # vectorized call. Features may be MULTI* — each member
            # becomes a part; allocation ratios are computed across
            # the union of a feature's parts.
            parsed = []  # (uid, [(kind, rings), ...])
            for uid, wkt in zip(pdf[uid_col], pdf[GEOM_WKT]):
                if wkt is None:
                    continue
                try:
                    parsed.append((uid, geometry.parse_wkt_parts(wkt)))
                except geometry.GeometryError:
                    continue
            xy, ring_off = _ring_csr(
                [r for _, ps in parsed for _, rs in ps for r in rs]
            )
            n_rings = [sum(len(rs) for _, rs in ps) for _, ps in parsed]
            ring_feat = np.repeat(
                np.arange(len(parsed)), np.asarray(n_rings, dtype=np.int64)
            )
            xy, wrap_f = _unwrap_antimeridian(
                xy, ring_off, ring_feat, len(parsed)
            )
            path_ring, path_close, point_v = [], [], []
            refs = []  # per part: ("path" | "point" | None, index)
            r = 0
            for fi, (_, parts) in enumerate(parsed):
                for pi, (kind, rings) in enumerate(parts):
                    if wrap_f[fi]:  # the shifted coordinates
                        rings = [
                            list(map(tuple, xy[a:b].tolist()))
                            for a, b in zip(
                                ring_off[r : r + len(rings)],
                                ring_off[r + 1 : r + len(rings) + 1],
                            )
                        ]
                        parts[pi] = (kind, rings)
                    if kind == "point":
                        refs.append(("point", len(point_v)))
                        point_v.append(ring_off[r])
                    elif kind == "line" or method != AllocationMethod.CENTROID:
                        refs.append(("path", len(path_ring)))
                        path_ring.append(r)
                        path_close.append(kind != "line")
                    else:
                        refs.append((None, 0))  # centroid cell: phase 2
                    r += len(rings)
            # polygon outer rings are sampled closed
            path_ring = np.asarray(path_ring, dtype=np.int64)
            lo = ring_off[path_ring]
            n = ring_off[path_ring + 1] - lo
            close = np.asarray(path_close, dtype=bool) & (
                xy[lo] != xy[lo + n - 1]
            ).any(axis=1)
            lats, lngs, soff = coverage.sample_paths(
                *_closed_paths(xy, lo, n, close), res
            )
            point_v = np.asarray(point_v, dtype=np.int64)
            sample_cells = latlng_to_cell_batch(
                np.concatenate([lats, xy[point_v, 1]]),
                np.concatenate([lngs, xy[point_v, 0]]),
                res,
            )
            soff = soff.tolist()
            n_path_samples = soff[-1]
            feats = []  # (uid, [(kind, rings, lo, hi), ...], wrap)
            ref = iter(refs)
            for fi, (uid, parts) in enumerate(parsed):
                plist = []
                for kind, rings in parts:
                    src, k = next(ref)
                    if src == "path":
                        plist.append((kind, rings, soff[k], soff[k + 1]))
                    elif src == "point":
                        lo = n_path_samples + k
                        plist.append((kind, rings, lo, lo + 1))
                    else:
                        plist.append((kind, rings, 0, 0))
                feats.append((uid, plist, bool(wrap_f[fi])))

            # phase 2: batched geometry work on the precomputed cells.
            # Line and polygon features route to the numpy pair kernels
            # (_index_lines_batch/_index_polygons_batch); points and
            # CENTROID polygons stay scalar (no clipping involved).
            uids, cells, ratios, metrics = [], [], [], []
            line_feats, poly_feats = [], []
            for uid, plist, wrap in feats:
                kinds = {k for k, _, _, _ in plist}
                if len(kinds) != 1:
                    continue  # mixed-kind collections are not allocatable
                kind = next(iter(kinds))
                if kind == "point":
                    seen = dict.fromkeys(
                        int(sample_cells[lo]) for _, _, lo, _ in plist
                    )
                    for cell in seen:
                        if cell:
                            uids.append(uid)
                            cells.append(cell)
                            ratios.append(1.0)
                            metrics.append(1.0)
                elif kind == "line":
                    line_feats.append((uid, plist, wrap))
                elif method == AllocationMethod.CENTROID:
                    pairs, metric = _index_polygons(
                        [rings for _, rings, _, _ in plist], res, method
                    )
                    for cell, ratio in pairs:
                        if cell:
                            uids.append(uid)
                            cells.append(cell)
                            ratios.append(ratio)
                            metrics.append(metric)
                else:
                    poly_feats.append((uid, plist, wrap))
            if line_feats:
                u2, c2, r2, m2 = _index_lines_batch(
                    line_feats, res, method, sample_cells
                )
                uids += u2
                cells += c2
                ratios += r2
                metrics += m2
            if poly_feats:
                u3, c3, r3, m3 = _index_polygons_batch(
                    poly_feats, res, method, sample_cells
                )
                uids += u3
                cells += c3
                ratios += r3
                metrics += m3
            areas = areas_for_cells(cells)
            yield pd.DataFrame(
                {
                    uid_col: pd.Series(uids, dtype=pdf[uid_col].dtype),
                    H3_INDEX: pd.Series(
                        [core.h3_to_string(c) for c in cells], dtype="object"
                    ),
                    RATIO: pd.Series(ratios, dtype="float64"),
                    metric_col: pd.Series(metrics, dtype="float64"),
                    H3_AREA_KM2: pd.Series(areas, dtype="float64"),
                }
            )

    return fn
