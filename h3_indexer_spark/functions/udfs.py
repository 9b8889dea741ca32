"""Arrow-vectorized UDF layer bridging the pure-Python kernels into
Spark (SURVEY.md §2.7). The reference used row-at-a-time ``@udf``s
(U1-U3); everything here is batch-oriented (pandas UDF / mapInPandas)
with worker-local memoization of per-cell geometry — the batch-level
equivalent of the reference's distinct-then-join-back optimization
(h3_indexer.py:116-127) without the extra shuffle.
"""

from __future__ import annotations

from functools import lru_cache
from typing import Iterator, NamedTuple

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
# Phase 1 of the Index kernel (_batch_layout) lays a batch out once, as
# a _Batch of CSR ("compressed sparse row": flat values plus offsets)
# arrays. Both batch allocators take that layout as it is, with the
# ascending features to allocate, and return (feature, cell, ratio,
# metric) row arrays whose cells and ratios are the scalar allocators'.

_POINT, _LINE, _POLYGON = 0, 1, 2  # part kinds
_KINDS = {"point": _POINT, "line": _LINE, "polygon": _POLYGON}


class _Batch(NamedTuple):
    """The layout of one batch; every field is a numpy array."""

    # (V, 2) every (lng, lat) vertex, antimeridian crossers shifted into
    # the [0, 360) frame
    xy: np.ndarray
    # (R + 1,) ring r is xy[ring_off[r]:ring_off[r + 1]], as parsed (a
    # polygon ring may end with its first vertex again)
    ring_off: np.ndarray
    # (P + 1,) part p owns rings part_off[p] … part_off[p + 1] − 1, a
    # polygon's outer ring first
    part_off: np.ndarray
    # (P,) _POINT, _LINE or _POLYGON
    part_kind: np.ndarray
    # (P,) each part's feature; a feature's parts are consecutive and of
    # one kind (as geometry.parse_wkt_parts returns them)
    part_feat: np.ndarray
    # (F,) the feature crosses the antimeridian
    wrap: np.ndarray
    # (P, 2) part p's samples are cells[span[p, 0]:span[p, 1]]: a
    # point's vertex, a line's or a polygon's closed outer ring's path
    # samples, none for a CENTROID polygon; a feature's parts' spans
    # are consecutive
    span: np.ndarray
    # (S,) the cell of every sample
    cells: np.ndarray


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


def _batch_layout(features, res: int, method: AllocationMethod) -> _Batch:
    """Phase 1 of the Index kernel: lay parsed features (each a list of
    ``(kind, rings)`` parts, as geometry.parse_wkt_parts returns) out
    as a _Batch. Antimeridian crossers shift into the [0, 360) frame;
    every line and every polygon's closed outer ring is sampled by ONE
    sample_paths call (CENTROID polygons are not sampled), and every
    sample and point is indexed by one vectorized call."""
    import numpy as np

    from h3_indexer_spark.functions.h3.vectorized import latlng_to_cell_batch

    parts = [p for feat in features for p in feat]
    xy, ring_off = _ring_csr([r for _, rings in parts for r in rings])
    n_rings = np.fromiter((len(r) for _, r in parts), np.int64, len(parts))
    part_off = np.concatenate([[0], np.cumsum(n_rings)])
    part_kind = np.fromiter(
        (_KINDS[k] for k, _ in parts), np.int64, len(parts)
    )
    part_feat = np.repeat(
        np.arange(len(features)),
        np.fromiter(map(len, features), np.int64, len(features)),
    )
    xy, wrap = _unwrap_antimeridian(
        xy, ring_off, np.repeat(part_feat, n_rings), len(features)
    )
    # each part's first ring: a point's vertex, a line, an outer ring
    lo = ring_off[part_off[:-1]]
    n = ring_off[part_off[:-1] + 1] - lo
    is_point = part_kind == _POINT
    is_path = (part_kind == _LINE) | (
        (part_kind == _POLYGON) & (method != AllocationMethod.CENTROID)
    )
    lo_p, n_p = lo[is_path], n[is_path]
    close = (part_kind[is_path] == _POLYGON) & (
        xy[lo_p] != xy[lo_p + n_p - 1]
    ).any(axis=1)
    lats, lngs, soff = coverage.sample_paths(
        *_closed_paths(xy, lo_p, n_p, close), res
    )
    pv = lo[is_point]
    cells = latlng_to_cell_batch(
        np.concatenate([lats, xy[pv, 1]]),
        np.concatenate([lngs, xy[pv, 0]]),
        res,
    )
    span = np.zeros((len(parts), 2), dtype=np.int64)
    span[is_path] = np.stack([soff[:-1], soff[1:]], axis=1)
    span[is_point, 0] = soff[-1] + np.arange(pv.shape[0])
    span[is_point, 1] = span[is_point, 0] + 1
    return _Batch(xy, ring_off, part_off, part_kind, part_feat, wrap, span,
                  cells)


def _sampled_cells(b: _Batch, feats):
    """Each of the features ``feats``' distinct nonzero sample cells in
    first-occurrence order (dedupe_cells over its parts' samples, which
    are one span), as CSR ``(cells, offsets)``."""
    import numpy as np

    lo = b.span[np.searchsorted(b.part_feat, feats), 0]
    hi = b.span[np.searchsorted(b.part_feat, feats, side="right") - 1, 1]
    return coverage.dedupe_segments(
        b.cells[coverage.ranges(lo, hi - lo)],
        np.concatenate([[0], np.cumsum(hi - lo)]),
    )


def _expand_candidates(cells, offsets, uniq, nb):
    """_expand_with_neighbors over every CSR segment of distinct nonzero
    ``cells`` at once: each segment's cells, then their neighbors (cell
    by cell, in row order), deduped. ``nb`` is cell_neighbors_batch of
    ``uniq``, a sorted array holding every cell. Returns ``(cand,
    cand_off, own)``: the candidates in the same CSR layout, and which
    of them are the segment's own cells (they lead their segment)."""
    import numpy as np

    n = offsets.shape[0] - 1
    seg = np.repeat(np.arange(n), np.diff(offsets))
    src = np.concatenate([cells, nb[np.searchsorted(uniq, cells)].ravel()])
    key = np.concatenate([2 * seg, 2 * np.repeat(seg, 6) + 1])
    order = np.argsort(key, kind="stable")
    cand, cand_off = coverage.dedupe_segments(
        src[order], np.searchsorted(key[order], 2 * np.arange(n + 1))
    )
    cand_len = np.diff(cand_off)
    own = coverage.ranges(0, cand_len) < np.repeat(np.diff(offsets), cand_len)
    return cand, cand_off, own


def _feature_pairs(n_a, n_b):
    """Every (a, b) pair of each feature ``f``'s ``n_a[f] × n_b[f]``
    grid, a-major: ``(feat, a, b)`` with a and b local to the feature."""
    import numpy as np

    size = n_a * n_b
    feat = np.repeat(np.arange(size.shape[0]), size)
    a, b = np.divmod(coverage.ranges(0, size), np.maximum(n_b, 1)[feat])
    return feat, a, b


def _index_lines_batch(b: _Batch, feats, method: AllocationMethod):
    """LINE allocation of the batch features ``feats`` (ascending; a
    MULTILINESTRING allocates across the union of its parts): returns
    ``(feat, cells, ratios, metrics)`` row arrays with _index_lines'
    cells and ratios (the same clip arithmetic, vectorized over every
    (candidate, segment) pair of the batch)."""
    import numpy as np

    from h3_indexer_spark.functions.h3 import clipbatch
    from h3_indexer_spark.functions.h3.vectorized import cell_boundary_batch

    F = feats.shape[0]
    parts = np.nonzero(np.isin(b.part_feat, feats))[0]
    # the batch's segments, feature by feature: segment k runs from
    # vertex v1[k] to v1[k] + 1
    lo = b.ring_off[b.part_off[parts]]
    n_seg = b.ring_off[b.part_off[parts] + 1] - lo - 1
    v1 = coverage.ranges(lo, n_seg)
    seg_f = np.repeat(np.searchsorted(feats, b.part_feat[parts]), n_seg)
    p1, p2 = b.xy[v1], b.xy[v1 + 1]
    # total_length_km metric: one batched Vincenty call
    metric = np.bincount(
        seg_f,
        geodesy.vincenty_distance_m_batch(p1[:, 1], p1[:, 0], p2[:, 1],
                                          p2[:, 0]),
        minlength=F,
    ) / 1000.0
    sampled, s_off = _sampled_cells(b, feats)
    if method == AllocationMethod.PASS_THROUGH:
        row_f = np.repeat(np.arange(F), np.diff(s_off))
        return feats[row_f], sampled, np.ones(row_f.shape[0]), metric[row_f]

    uniq = np.unique(sampled)
    cand, cand_off, own = _expand_candidates(
        sampled, s_off, uniq, coverage.cell_neighbors_batch(uniq)
    )
    cand_f = np.repeat(np.arange(F), np.diff(cand_off))
    # each feature's planar length, summed in segment order
    d = p2 - p1
    total = np.bincount(seg_f, np.hypot(d[:, 0], d[:, 1]), minlength=F)
    seg_off = np.concatenate([[0], np.cumsum(np.bincount(seg_f, minlength=F))])
    pair_f, c_local, s_local = _feature_pairs(
        np.diff(cand_off), np.diff(seg_off)
    )
    pair_cand = cand_off[pair_f] + c_local
    pair_seg = seg_off[pair_f] + s_local
    uniqc, inv = np.unique(cand[pair_cand], return_inverse=True)
    bpts, bnv = cell_boundary_batch(uniqc)
    pair_wrap = b.wrap[feats][pair_f]
    lengths = np.empty(pair_cand.shape[0], dtype=np.float64)
    step = 1 << 18
    for s in range(0, lengths.shape[0], step):
        sl = slice(s, s + step)
        lengths[sl] = clipbatch.clip_line_length_pairs(
            p1[pair_seg[sl]],
            p2[pair_seg[sl]],
            _shift_wrapped(bpts[inv[sl]], pair_wrap[sl]),
            bnv[inv[sl]],
        )
    kept = np.bincount(pair_cand, lengths, minlength=cand.shape[0])
    tot = total[cand_f]
    ratio = np.zeros(cand.shape[0], dtype=np.float64)
    np.divide(kept, tot, out=ratio, where=tot > 0)
    out = np.nonzero((ratio > 0.0) | own)[0]
    return feats[cand_f[out]], cand[out], ratio[out], metric[cand_f[out]]


def _index_polygons_batch(b: _Batch, feats, res: int):
    """POLYGON allocation of the batch features ``feats`` (ascending;
    every method but CENTROID allocates by area): returns ``(feat, cells, ratios, metrics)``
    row arrays with _index_polygons' cells and ratios.

    The features' rings are opened (a ring's count drops by one where
    its last vertex repeats its first, as _split_outer_holes drops it)
    and gathered into one CSR layout (every part's outer ring, then its
    holes); the metric and planar areas, the hole boundary cells, the
    coverage (one polyfill_many pass over every part) and the clip
    padding all read it. The area of each (ring, cell) clip comes from
    the vectorized kernel, and cells provably interior (in the polyfill
    set and not within one ring of any outer/hole boundary cell —
    sampling guarantees every boundary-crossed cell is within one ring
    of a sampled one) skip clipping entirely and keep the full hexagon
    area."""
    import numpy as np

    from h3_indexer_spark.functions.h3 import clipbatch
    from h3_indexer_spark.functions.h3.vectorized import (
        cell_boundary_batch,
        latlng_to_cell_batch,
    )

    F = feats.shape[0]
    parts = np.nonzero(np.isin(b.part_feat, feats))[0]
    P = parts.shape[0]
    part_feat = np.searchsorted(feats, b.part_feat[parts])
    part_rings = np.diff(b.part_off)[parts]
    # the parts' rings, opened, in their own CSR layout: part p owns
    # rings part_off[p]…part_off[p + 1] − 1, its outer ring first
    rid = coverage.ranges(b.part_off[parts], part_rings)
    start = b.ring_off[rid]
    ring_len = np.diff(b.ring_off)[rid]
    ring_len -= (b.xy[start] == b.xy[start + ring_len - 1]).all(axis=1)
    xy = b.xy[coverage.ranges(start, ring_len)]
    ring_off = np.concatenate([[0], np.cumsum(ring_len)])
    n_rings = rid.shape[0]
    part_off = np.concatenate([[0], np.cumsum(part_rings)])
    ring_part = np.repeat(np.arange(P), part_rings)
    ring_feat = part_feat[ring_part]
    is_outer = np.zeros(n_rings, dtype=bool)
    is_outer[part_off[:-1]] = True
    feat_ring_off = np.searchsorted(ring_feat, np.arange(F + 1))
    wrap_f = b.wrap[feats]

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
    metric = np.bincount(ring_feat, signed_m2, minlength=F) / 1.0e6
    planar = geodesy.planar_ring_areas(padded, nv)
    holes = np.bincount(ring_part[~is_outer], planar[~is_outer], minlength=P)
    total_area = np.bincount(part_feat, planar[is_outer] - holes, minlength=F)

    # boundary cells: an outer ring's own samples (phase 1 sampled it);
    # holes are closed, sampled and indexed here in one call
    span = b.span[parts]
    nr = np.nonzero(~is_outer)[0]
    la, ln, soff = coverage.sample_paths(
        *_closed_paths(xy, ring_off[nr], ring_len[nr], True), res
    )
    # segments 0…P−1 are the parts' own spans, then one per hole
    own_len = span[:, 1] - span[:, 0]
    seg_cells = np.concatenate(
        [b.cells[coverage.ranges(span[:, 0], own_len)],
         latlng_to_cell_batch(la, ln, res)]
    )
    seg_off = np.concatenate(
        [[0], np.cumsum(own_len), own_len.sum() + soff[1:]]
    )
    uc, uoff = coverage.dedupe_segments(seg_cells, seg_off)
    ring_seg = ring_part.copy()
    ring_seg[nr] = P + np.arange(nr.shape[0])
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

    # edge cells: every outer/hole boundary cell and its neighbors
    edge_feat = np.repeat(ring_feat, rc_len)
    uniq = np.unique(np.concatenate([pf_cells, rc_cells]))
    nb = coverage.cell_neighbors_batch(uniq)
    edge_nb = nb[np.searchsorted(uniq, rc_cells)].ravel()
    edge_cells = np.concatenate([rc_cells, edge_nb])
    edge_feat = np.concatenate([edge_feat, np.repeat(edge_feat, 6)])
    # candidates: each feature's coverage, then its cells' neighbors
    cand_cells, offsets, in_pf = _expand_candidates(pf_cells, pf_off, uniq, nb)
    cand_feat = np.repeat(np.arange(F), np.diff(offsets))
    kept = np.zeros(cand_cells.shape[0], dtype=np.float64)

    # (feature, cell) membership through dense cell ids
    ids = np.unique(np.concatenate([cand_cells, edge_cells]))
    width = ids.shape[0]

    def keys(feat, cells):
        return feat * width + np.searchsorted(ids, cells)

    interior = in_pf & ~np.isin(
        keys(cand_feat, cand_cells), keys(edge_feat, edge_cells)
    )
    interior_acc = np.nonzero(interior)[0]
    interior_cells = cand_cells[interior_acc]
    interior_wrap = wrap_f[cand_feat[interior_acc]]

    # clip pairs: every non-interior candidate against each of its
    # feature's rings (outer +, holes −)
    clip_acc = np.nonzero(~interior)[0]
    k_f = np.bincount(cand_feat[clip_acc], minlength=F)
    pf_, ring_local, cell_local = _feature_pairs(np.diff(feat_ring_off), k_f)
    pair_ring = feat_ring_off[pf_] + ring_local
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


    tot = total_area[cand_feat]
    ratio = np.zeros(kept.shape[0], dtype=np.float64)
    np.divide(kept, tot, out=ratio, where=tot > 0)
    out = np.nonzero((ratio > 0.0) | in_pf)[0]
    return feats[cand_feat[out]], cand_cells[out], ratio[out], metric[
        cand_feat[out]]


def _index_centroids(b: _Batch, feats, res: int):
    """CENTROID allocation of the batch polygon features ``feats``: one
    scalar _index_polygons call per feature on its rings, sliced from
    the layout. Returns ``(feat, cells, ratios, metrics)`` row arrays."""
    import numpy as np

    rows = []
    first = np.searchsorted(b.part_feat, feats).tolist()
    end = np.searchsorted(b.part_feat, feats, side="right").tolist()
    ring_off = b.ring_off.tolist()
    for fi, p0, p1 in zip(feats.tolist(), first, end):
        polys = [
            [
                list(map(tuple, b.xy[ring_off[r] : ring_off[r + 1]].tolist()))
                for r in range(b.part_off[p], b.part_off[p + 1])
            ]
            for p in range(p0, p1)
        ]
        pairs, metric = _index_polygons(polys, res, AllocationMethod.CENTROID)
        rows += [(fi, cell, ratio, metric) for cell, ratio in pairs if cell]
    f, c, r, m = zip(*rows) if rows else ((), (), (), ())
    return (
        np.asarray(f, dtype=np.int64),
        np.asarray(c, dtype=np.int64),
        np.asarray(r, dtype=np.float64),
        np.asarray(m, dtype=np.float64),
    )


def _concat(groups):
    """Row arrays ``(feat, cells, ratios, metrics)`` of many groups,
    concatenated field by field."""
    import numpy as np

    return tuple(np.concatenate(col) for col in zip(*groups))


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

            # phase 1: parse every feature (MULTI* features become one
            # part per member) and lay the batch out as a _Batch: CSR
            # coordinates, crossers shifted, every part sampled and
            # every sample indexed batch-wide (_batch_layout)
            features, feat_row = [], []
            for row, wkt in enumerate(pdf[GEOM_WKT]):
                if wkt is None:
                    continue
                try:
                    features.append(geometry.parse_wkt_parts(wkt))
                except geometry.GeometryError:
                    continue
                feat_row.append(row)
            b = _batch_layout(features, res, method)

            # phase 2: rows from the layout. A point keeps its sampled
            # cells and a CENTROID polygon is one scalar call; lines
            # and the other polygons go to the batch allocators, which
            # read the layout as it is and allocate across the union of
            # a feature's parts. Row order: points and CENTROID
            # polygons in feature order, then lines, then polygons.
            kind = b.part_kind[
                np.searchsorted(b.part_feat, np.arange(len(features)))
            ]
            points = np.nonzero(kind == _POINT)[0]
            lines = np.nonzero(kind == _LINE)[0]
            polys = np.nonzero(kind == _POLYGON)[0]
            pt_cells, pt_off = _sampled_cells(b, points)
            ones = np.ones(pt_cells.shape[0])
            groups = [
                (np.repeat(points, np.diff(pt_off)), pt_cells, ones, ones)
            ]
            if method == AllocationMethod.CENTROID:
                groups.append(_index_centroids(b, polys, res))
            head = _concat(groups)
            order = np.argsort(head[0], kind="stable")
            groups = [tuple(col[order] for col in head)]
            if lines.size:
                groups.append(_index_lines_batch(b, lines, method))
            if polys.size and method != AllocationMethod.CENTROID:
                groups.append(_index_polygons_batch(b, polys, res))
            feat, cells, ratios, metrics = _concat(groups)
            cells = cells.tolist()
            yield pd.DataFrame(
                {
                    uid_col: pdf[uid_col]
                    .iloc[np.asarray(feat_row, dtype=np.int64)[feat]]
                    .reset_index(drop=True),
                    H3_INDEX: pd.Series(
                        [core.h3_to_string(c) for c in cells], dtype="object"
                    ),
                    RATIO: pd.Series(ratios, dtype="float64"),
                    metric_col: pd.Series(metrics, dtype="float64"),
                    H3_AREA_KM2: pd.Series(
                        areas_for_cells(cells), dtype="float64"
                    ),
                }
            )

    return fn

