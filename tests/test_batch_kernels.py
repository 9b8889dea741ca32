"""Batch-kernel ↔ scalar-kernel equivalence locks (seeded random).

The round-2 numpy pair kernels (clipbatch), batched boundaries/
neighbors (vectorized/coverage), and batched geodesy must keep
producing what their scalar twins produce; these tests freeze the
agreements measured during the rework so a refactor cannot silently
drift. No Spark session needed."""

from __future__ import annotations

import math
import random

import numpy as np
import pytest


def _rand_hex(rng, cx, cy, r):
    pts = [
        (cx + r * math.cos(2 * math.pi * i / 6 + 0.3),
         cy + r * math.sin(2 * math.pi * i / 6 + 0.3))
        for i in range(6)
    ]
    return pts[::-1] if rng.random() < 0.5 else pts


class TestClipKernels:
    def test_polygon_area_pairs_match_scalar(self):
        from h3_indexer_spark.functions import geometry
        from h3_indexer_spark.functions.h3 import clipbatch

        rng = random.Random(7)
        subj, hexes = [], []
        for _ in range(300):
            cx, cy = rng.uniform(-50, 50), rng.uniform(-20, 20)
            angs = sorted(rng.uniform(0, 2 * math.pi)
                          for _ in range(rng.randint(3, 12)))
            subj.append([
                (cx + rng.uniform(0.2, 1.0) * math.cos(a),
                 cy + rng.uniform(0.2, 1.0) * math.sin(a))
                for a in angs
            ])
            hexes.append(_rand_hex(rng, cx + rng.uniform(-1, 1),
                                   cy + rng.uniform(-1, 1),
                                   rng.uniform(0.1, 1.2)))
        n = len(subj)
        max_n = max(len(s) for s in subj)
        P = np.zeros((n, max_n, 2))
        pn = np.zeros(n, dtype=np.int64)
        H = np.zeros((n, 6, 2))
        hn = np.full(n, 6, dtype=np.int64)
        for i, (s, h) in enumerate(zip(subj, hexes)):
            P[i, : len(s)] = s
            pn[i] = len(s)
            H[i] = h
        got = clipbatch.clip_polygon_area_pairs(P, pn, H, hn)
        for i, (s, h) in enumerate(zip(subj, hexes)):
            kept = geometry.clip_polygon_convex(s, h)
            exp = (abs(geometry._signed_area(kept))
                   if len(kept) >= 3 else 0.0)
            assert got[i] == pytest.approx(exp, rel=1e-9, abs=1e-12)

    def test_line_length_pairs_match_scalar(self):
        from h3_indexer_spark.functions import geodesy, geometry
        from h3_indexer_spark.functions.h3 import clipbatch

        rng = random.Random(9)
        p1s, p2s, hexes = [], [], []
        for _ in range(800):
            x, y = rng.uniform(-50, 50), rng.uniform(-20, 20)
            p1s.append((x, y))
            p2s.append((x + rng.uniform(-2, 2), y + rng.uniform(-2, 2)))
            hexes.append(_rand_hex(rng, x + rng.uniform(-1, 1),
                                   y + rng.uniform(-1, 1),
                                   rng.uniform(0.1, 1.2)))
        H = np.asarray(hexes)
        hn = np.full(len(hexes), 6, dtype=np.int64)
        got = clipbatch.clip_line_length_pairs(
            np.asarray(p1s), np.asarray(p2s), H, hn
        )
        for i in range(len(p1s)):
            pieces = geometry.clip_line_convex([p1s[i], p2s[i]], hexes[i])
            exp = sum(geodesy.planar_line_length(p) for p in pieces)
            assert got[i] == pytest.approx(exp, rel=1e-9, abs=1e-12)


class TestBatchedH3:
    def _sample_cells(self, res, n=3000, seed=3):
        from h3_indexer_spark.functions.h3.vectorized import (
            latlng_to_cell_batch,
        )

        rng = np.random.default_rng(seed)
        cells = np.unique(latlng_to_cell_batch(
            rng.uniform(-85, 85, n), rng.uniform(-180, 180, n), res
        ))
        return cells[cells != 0]

    def test_forward_indexing_bit_equal(self):
        from h3_indexer_spark.functions.h3 import core
        from h3_indexer_spark.functions.h3.vectorized import (
            latlng_to_cell_batch,
        )

        rng = np.random.default_rng(5)
        lats = rng.uniform(-89, 89, 3000)
        lngs = rng.uniform(-180, 180, 3000)
        for res in (0, 3, 6, 9):
            got = latlng_to_cell_batch(lats, lngs, res)
            for la, ln, g in zip(lats[:500], lngs[:500], got[:500]):
                assert core.latlng_to_cell(float(la), float(ln), res) \
                    == int(g)

    def test_boundaries_match_scalar(self):
        from h3_indexer_spark.functions.h3 import core
        from h3_indexer_spark.functions.h3.vectorized import (
            cell_boundary_batch,
        )

        for res in (2, 6, 9):
            cells = self._sample_cells(res, 1500)
            pts, nv = cell_boundary_batch(cells)
            for ix, c in enumerate(cells[:400]):
                exp = core.cell_to_boundary(int(c))
                assert len(exp) == nv[ix]
                for v in range(nv[ix]):
                    assert pts[ix, v, 1] == pytest.approx(
                        exp[v][0], abs=1e-9
                    )
                    assert pts[ix, v, 0] == pytest.approx(
                        exp[v][1], abs=1e-9
                    )

    def test_neighbors_are_adjacent(self):
        from h3_indexer_spark.functions.h3 import core, coverage

        def shared(a, b, tol=1e-9):
            ba = core.cell_to_boundary(a)
            bb = core.cell_to_boundary(b)
            return sum(
                1
                for va in ba
                if any(
                    abs(va[0] - vb[0]) < tol and abs(va[1] - vb[1]) < tol
                    for vb in bb
                )
            )

        cells = self._sample_cells(6, 800)
        nb = coverage.cell_neighbors_batch(cells)
        for row, c in zip(nb[:200], cells[:200]):
            ns = [int(x) for x in row if x]
            assert len(ns) == (5 if core.is_pentagon(int(c)) else 6)
            for x in ns:
                assert shared(int(c), x) >= 2

    def test_normalize_is_subtract_min(self):
        from h3_indexer_spark.functions.h3 import core
        from h3_indexer_spark.functions.h3.vectorized import _normalize_v

        rng = np.random.default_rng(1)
        i = rng.integers(-1000, 1000, 2000)
        j = rng.integers(-1000, 1000, 2000)
        k = rng.integers(-1000, 1000, 2000)
        ni, nj, nk = _normalize_v(i, j, k)
        for a, b, c, x, y, z in zip(i, j, k, ni, nj, nk):
            assert tuple(core._ijk_normalize(int(a), int(b), int(c))) \
                == (x, y, z)


class TestBatchedGeodesy:
    def test_vincenty_batch_matches_scalar(self):
        from h3_indexer_spark.functions import geodesy

        rng = random.Random(3)
        lat1 = np.asarray([rng.uniform(-80, 80) for _ in range(500)])
        lng1 = np.asarray([rng.uniform(-180, 180) for _ in range(500)])
        lat2 = lat1 + np.asarray([rng.uniform(-2, 2) for _ in range(500)])
        lng2 = lng1 + np.asarray([rng.uniform(-2, 2) for _ in range(500)])
        got = geodesy.vincenty_distance_m_batch(lat1, lng1, lat2, lng2)
        for a, b, c, d, g in zip(lat1, lng1, lat2, lng2, got):
            assert g == pytest.approx(
                geodesy.vincenty_distance_m(a, b, c, d), abs=1e-4
            )
        # degenerate: identical points
        z = geodesy.vincenty_distance_m_batch(
            np.asarray([10.0]), np.asarray([20.0]),
            np.asarray([10.0]), np.asarray([20.0]),
        )
        assert z[0] == 0.0

    def test_concave_ring_area_is_sum_of_parts(self):
        """An L of three 1° squares has a reflex vertex; its area is the
        sum of the squares' in either winding, and an unused padded
        tail does not count."""
        from h3_indexer_spark.functions import geodesy

        def square(x, y):
            return [(x, y), (x + 1, y), (x + 1, y + 1), (x, y + 1)]

        ell = [(0, 0), (2, 0), (2, 1), (1, 1), (1, 2), (0, 2)]
        parts = geodesy.spheroid_polygon_area_m2_many(
            [square(0, 0), square(1, 0), square(0, 1)]
        ).sum()
        got = geodesy.spheroid_polygon_area_m2_many(
            [ell, ell[::-1], ell + [ell[0]]]
        )
        assert got == pytest.approx([parts] * 3, rel=1e-12)
        padded = np.zeros((1, 10, 2))
        padded[0, :6] = ell
        padded[0, 6:] = (50.0, 50.0)
        assert geodesy.spheroid_ring_areas_m2(padded, [6])[0] == \
            pytest.approx(parts, rel=1e-12)
        assert (geodesy.spheroid_ring_areas_m2(padded, [2]) == 0).all()


class TestBatchAllocatorsMatchScalar:
    """Every generated feature goes through the batch allocators as ONE
    batch, so an offset error between features shows."""

    def test_polygon_allocation_equivalence(self):
        from h3_indexer_spark.config.vector import AllocationMethod
        from h3_indexer_spark.functions import udfs
        from h3_indexer_spark.functions.h3 import coverage

        rng = random.Random(11)
        res = 6
        method = AllocationMethod.PCT_AREA
        feats, refs = [], []
        for _ in range(15):
            cx, cy = rng.uniform(-100, -80), rng.uniform(30, 45)
            angs = sorted(rng.uniform(0, 2 * math.pi)
                          for _ in range(rng.randint(4, 10)))
            r0 = rng.uniform(0.05, 0.25)
            outer = [
                (cx + rng.uniform(0.5, 1.0) * r0 * math.cos(a),
                 cy + rng.uniform(0.5, 1.0) * r0 * math.sin(a))
                for a in angs
            ]
            rings = [outer + [outer[0]]]
            sampled = coverage.line_cells(outer + [outer[0]], res)
            refs.append(udfs._index_polygons(
                [rings], res, method, boundaries=[sampled]
            ))
            feats.append([("polygon", rings)])
        batch = udfs._batch_layout(feats, res, method)
        f, c, r, m = udfs._index_polygons_batch(
            batch, np.arange(len(feats)), res
        )
        _assert_rows_match(f, c, r, m, refs)

    def test_line_allocation_equivalence(self, monkeypatch):
        from h3_indexer_spark.config.vector import AllocationMethod
        from h3_indexer_spark.functions import udfs

        rng = random.Random(13)
        res = 4
        method = AllocationMethod.PCT_LENGTH
        feats, refs = [], []
        for _ in range(15):
            line = [(rng.uniform(-100, -80), rng.uniform(30, 45))]
            for _ in range(rng.randint(1, 4)):
                line.append((line[-1][0] + rng.uniform(-0.5, 0.5),
                             line[-1][1] + rng.uniform(-0.5, 0.5)))
            refs.append(udfs._index_lines([line], res, method))
            feats.append([("line", [line])])
        # a two-part MULTILINESTRING allocates across both parts
        multi = [[(-95.0, 35.0), (-94.4, 35.3), (-94.1, 35.1)],
                 [(-94.0, 34.6), (-93.5, 34.9)]]
        refs.append(udfs._index_lines(multi, res, method))
        feats.append([("line", [part]) for part in multi])
        # an antimeridian crosser runs in the [0, 360) frame: the scalar
        # reference gets its shifted vertices and cell rings shifted
        # the same way
        crosser = [(179.7, 20.0), (-179.8, 20.2), (-179.5, 20.5)]
        ring = udfs._cell_boundary_ring
        with monkeypatch.context() as mp:
            mp.setattr(udfs, "_cell_boundary_ring", lambda cell: tuple(
                (x + 360.0 if x < 0.0 else x, y) for x, y in ring(cell)
            ))
            refs.append(udfs._index_lines(
                [[(x + 360.0 if x < 0.0 else x, y) for x, y in crosser]],
                res, method,
            ))
        feats.append([("line", [crosser])])

        batch = udfs._batch_layout(feats, res, method)
        assert batch.wrap.tolist() == [False] * 16 + [True]
        f, c, r, m = udfs._index_lines_batch(
            batch, np.arange(len(feats)), method
        )
        _assert_rows_match(f, c, r, m, refs)


def _assert_rows_match(feat, cells, ratios, metrics, refs):
    """Batch allocator rows against one scalar (pairs, metric) result
    per feature: the same cells, ratios to 1e-9, metrics to 1e-6."""
    assert sorted(set(feat.tolist())) == list(range(len(refs)))
    for fi, (pairs, metric) in enumerate(refs):
        sel = feat == fi
        got, exp = dict(zip(cells[sel].tolist(), ratios[sel])), dict(pairs)
        assert set(got) == set(exp)
        for cc in exp:
            assert got[cc] == pytest.approx(exp[cc], abs=1e-9)
        assert metrics[sel] == pytest.approx(metric, rel=1e-6)


def _star_ring(rng, cx, cy, r, k, closed):
    ang = np.sort(rng.uniform(0.0, 2 * math.pi, k))
    rad = r * rng.uniform(0.5, 1.0, k)
    ring = [(float(cx + a * math.cos(t)), float(cy + a * math.sin(t)))
            for a, t in zip(rad, ang)]
    return ring + [ring[0]] if closed else ring


def _csr(rings):
    offsets = np.concatenate([[0], np.cumsum([len(r) for r in rings])])
    xy = np.asarray([p for r in rings for p in r], dtype=np.float64)
    return xy.reshape(-1, 2), offsets


class TestCsrRingKernels:
    """The batch-wide CSR ring kernels (flat coordinates plus offsets)
    against the per-ring loops they replaced, bit for bit."""

    @staticmethod
    def _ref_samples(coords, res):
        """The per-ring sampling loop: n = ceil(length / step) steps
        per segment, n + 1 points each."""
        from h3_indexer_spark.functions.h3 import coverage

        step = (coverage._EDGE_KM[res] / coverage._EARTH_KM
                * (180.0 / math.pi) * 0.75)
        lats, lngs = [], []
        for (x1, y1), (x2, y2) in zip(coords, coords[1:]):
            n = max(1, int(math.ceil(math.hypot(x2 - x1, y2 - y1) / step)))
            f = np.arange(n + 1) / n
            lats.append(y1 + f * (y2 - y1))
            lngs.append(x1 + f * (x2 - x1))
        return np.concatenate(lats), np.concatenate(lngs)

    def _paths(self, rng):
        """Two-vertex lines, lines with a zero-length segment, open and
        closed rings, rings in the [0, 360) wrap frame, and holes."""
        paths = []
        for i in range(60):
            cx, cy = rng.uniform(-100.0, -80.0), rng.uniform(30.0, 45.0)
            if i % 5 == 0:
                paths.append([(cx, cy), (cx + rng.uniform(-1, 1), cy + 0.3)])
            elif i % 5 == 1:
                line = [(cx, cy), (cx + 0.4, cy - 0.2), (cx + 0.4, cy - 0.2),
                        (cx + 0.9, cy)]
                paths.append(line)
            elif i % 5 == 4:
                paths.append(_star_ring(rng, rng.uniform(179.0, 181.0), cy,
                                        0.8, 9, closed=i % 2 == 0))
            else:
                outer = _star_ring(rng, cx, cy, 0.6, int(rng.integers(4, 30)),
                                   closed=i % 2 == 0)
                paths.append(outer)
                paths.append(_star_ring(rng, cx, cy, 0.15, 6, closed=True))
        return paths

    @pytest.mark.parametrize("res", [3, 4, 6])
    def test_sample_paths_matches_per_ring_loop(self, res):
        from h3_indexer_spark.functions.h3 import coverage

        rng = np.random.default_rng(41 + res)
        paths = self._paths(rng)
        xy, offsets = _csr(paths)
        lats, lngs, soff = coverage.sample_paths(xy, offsets, res)
        assert soff[0] == 0 and soff[-1] == len(lats) == len(lngs)
        for i, path in enumerate(paths):
            ref_lat, ref_lng = self._ref_samples(path, res)
            assert np.array_equal(lats[soff[i]:soff[i + 1]], ref_lat)
            assert np.array_equal(lngs[soff[i]:soff[i + 1]], ref_lng)
            one_lat, one_lng = coverage.line_sample_points(path, res)
            assert np.array_equal(one_lat, ref_lat)
            assert np.array_equal(one_lng, ref_lng)

    def test_sample_paths_skips_paths_without_segments(self):
        from h3_indexer_spark.functions.h3 import coverage

        paths = [[(1.0, 2.0)], [(0.0, 0.0), (0.5, 0.5)], [], [(3.0, 3.0)]]
        xy, offsets = _csr(paths)
        _, _, soff = coverage.sample_paths(xy, offsets, 4)
        counts = np.diff(soff).tolist()
        assert counts[0] == counts[2] == counts[3] == 0
        assert counts[1] == len(self._ref_samples(paths[1], 4)[0])

    def _polygons(self, rng, wrap_frame):
        polys = []
        for i in range(40):
            cx = rng.uniform(179.0, 181.0) if wrap_frame else rng.uniform(
                -100.0, -80.0)
            cy = rng.uniform(30.0, 45.0)
            outer = _star_ring(rng, cx, cy, 0.7, int(rng.integers(4, 40)),
                               closed=i % 3 != 0)
            holes = [
                _star_ring(rng, cx + dx, cy, 0.12, int(rng.integers(3, 8)),
                           closed=i % 2 == 0)
                for dx in (-0.2, 0.25)[: i % 3]
            ]
            polys.append([outer, *holes])
        return polys

    @pytest.mark.parametrize("wrap_frame", [False, True])
    @pytest.mark.parametrize("pair_chunk", [None, 7])
    def test_points_in_polygons_matches_per_ring_test(
        self, wrap_frame, pair_chunk, monkeypatch
    ):
        from h3_indexer_spark.functions.h3 import coverage

        if pair_chunk:
            monkeypatch.setattr(coverage, "_PAIR_CHUNK", pair_chunk)
        rng = np.random.default_rng(7 if wrap_frame else 8)
        polys = self._polygons(rng, wrap_frame)
        xy, ring_off = _csr([r for rings in polys for r in rings])
        part_off = np.concatenate([[0], np.cumsum([len(p) for p in polys])])
        lng, lat, part = [], [], []
        for p, rings in enumerate(polys):
            pts = np.asarray(rings[0])
            x0, y0 = pts.min(axis=0)
            x1, y1 = pts.max(axis=0)
            n = 300
            lng.append(rng.uniform(x0 - 0.05, x1 + 0.05, n))
            # a third of the points on vertex latitudes: the edge-band
            # bounds must match (y1 > lat) != (y2 > lat) exactly
            la = rng.uniform(y0 - 0.05, y1 + 0.05, n)
            verts = np.asarray([v for r in rings for v in r])
            la[: n // 3] = verts[rng.integers(0, len(verts), n // 3), 1]
            lat.append(la)
            part.append(np.full(n, p))
        lng, lat, part = map(np.concatenate, (lng, lat, part))
        # the first vertex of every outer ring, exactly
        lng = np.concatenate([lng, xy[ring_off[part_off[:-1]], 0]])
        lat = np.concatenate([lat, xy[ring_off[part_off[:-1]], 1]])
        part = np.concatenate([part, np.arange(len(polys))])

        got = coverage.points_in_polygons(
            lng, lat, part, xy, ring_off, part_off
        )
        want = np.zeros(len(lng), dtype=bool)
        for p, (outer, *holes) in enumerate(polys):
            m = part == p
            inside = coverage._points_in_ring_v(lng[m], lat[m], outer)
            for hole in holes:
                inside &= ~coverage._points_in_ring_v(lng[m], lat[m], hole)
            want[m] = inside
        assert np.array_equal(got, want)
        assert 0 < want.sum() < len(want)

    @pytest.mark.parametrize("res", [4, 6])
    def test_polyfill_many_matches_polyfill(self, res):
        from h3_indexer_spark.functions.h3 import coverage

        rng = np.random.default_rng(90 + res)
        polys = self._polygons(rng, wrap_frame=False)[:15]
        xy, ring_off = _csr([r for rings in polys for r in rings])
        part_off = np.concatenate([[0], np.cumsum([len(p) for p in polys])])
        bounds = [
            coverage.line_cells(rings[0] + [rings[0][0]], res)
            for rings in polys
        ]
        b_off = np.concatenate([[0], np.cumsum([len(b) for b in bounds])])
        cells, off = coverage.polyfill_many(
            xy, ring_off, part_off,
            np.asarray([c for b in bounds for c in b], dtype=np.int64),
            b_off, np.zeros(len(polys), dtype=bool), res,
        )
        for p, (outer, *holes) in enumerate(polys):
            want = coverage.polyfill(
                outer, res, holes=holes or None, boundary_cells=bounds[p]
            )
            assert cells[off[p]:off[p + 1]].tolist() == want

    def test_dedupe_segments_matches_dedupe_cells(self):
        from h3_indexer_spark.functions.h3 import coverage

        rng = np.random.default_rng(3)
        segs = [rng.integers(0, 6, int(rng.integers(0, 12))) for _ in range(50)]
        cells = np.concatenate(segs).astype(np.int64)
        offsets = np.concatenate([[0], np.cumsum([len(s) for s in segs])])
        got, got_off = coverage.dedupe_segments(cells, offsets)
        for i, seg in enumerate(segs):
            assert got[got_off[i]:got_off[i + 1]].tolist() == \
                coverage.dedupe_cells(seg)

    def test_planar_ring_areas_match_scalar(self):
        from h3_indexer_spark.functions import geodesy, udfs

        rng = np.random.default_rng(5)
        rings = [
            _star_ring(rng, rng.uniform(-100, -80), rng.uniform(30, 45),
                       0.5, int(rng.integers(3, 50)), closed=False)
            for _ in range(40)
        ] + [[(0.0, 0.0), (1.0, 1.0)]]
        xy, off = _csr(rings)
        nv = np.diff(off)
        got = geodesy.planar_ring_areas(udfs._pad_rings(xy, off[:-1], nv), nv)
        assert got.tolist() == [geodesy.planar_polygon_area(r) for r in rings]


def _wkt_ring(cx, cy, r, k, phase=0.0):
    """A closed, star-shaped ring of k vertices as WKT coordinates."""
    pts = [
        (cx + r * (0.7 + 0.075 * ((i * 7) % 5))
         * math.cos(phase + 2 * math.pi * i / k),
         cy + r * (0.7 + 0.075 * ((i * 7) % 5))
         * math.sin(phase + 2 * math.pi * i / k))
        for i in range(k)
    ]
    return "(" + ", ".join(f"{x!r} {y!r}" for x, y in pts + pts[:1]) + ")"


def _mixed_frame():
    """Every kind the Index kernel takes, in one frame: polygons with
    holes, multipolygons, lines and multilines, antimeridian crossers,
    points, multipoints, an unclosed ring, null and unparseable WKT."""
    import pandas as pd

    hole = _wkt_ring(-98.0, 38.0, 0.12, 7, math.pi)
    wkts = [
        f"POLYGON ({_wkt_ring(-98.0, 38.0, 0.45, 11)}, {hole})",
        f"MULTIPOLYGON (({_wkt_ring(-95.0, 36.0, 0.3, 9)}, "
        f"{_wkt_ring(-95.0, 36.0, 0.08, 5, 0.4)}), "
        f"({_wkt_ring(-94.2, 36.3, 0.2, 8, 0.2)}))",
        "MULTILINESTRING ((-101.0 40.0, -100.6 40.3, -100.1 40.2), "
        "(-100.0 39.5, -99.7 39.9))",
        "LINESTRING (179.6 10.0, -179.7 10.3, -179.4 10.1)",
        "POLYGON ((179.7 -16.0, -179.6 -16.0, -179.6 -15.5, "
        "179.7 -15.5, 179.7 -16.0))",
        "POINT (-97.5 38.5)",
        None,
        "MULTIPOINT ((-96.0 37.0), (-96.001 37.001), (-93.0 35.0))",
        "NOT A GEOMETRY",
        "LINESTRING (-103.0 41.0, -102.2 41.5, -101.9 41.1, -101.0 41.6, "
        "-100.8 41.0, -100.1 41.2, -99.7 40.8, -99.2 41.3, -98.9 41.0)",
        "POLYGON ((-92.0 34.0, -91.6 34.1, -91.7 34.5, -92.1 34.4))",
        f"POLYGON ({_wkt_ring(-90.0, 33.0, 0.02, 6)})",
        "MULTIPOLYGON (((179.8 50.0, -179.8 50.0, -179.8 50.3, "
        f"179.8 50.3, 179.8 50.0)), ({_wkt_ring(178.9, 50.1, 0.15, 7)}))",
        "LINESTRING (-97.0 35.0, -97.00001 35.00001)",
        f"POLYGON ({_wkt_ring(-99.0, 42.0, 0.6, 23)}, "
        f"{_wkt_ring(-99.1, 42.0, 0.1, 6, math.pi)}, "
        f"{_wkt_ring(-98.8, 42.1, 0.1, 5, math.pi)})",
        "MULTILINESTRING ((179.5 -30.0, -179.5 -30.2), "
        "(-179.4 -30.2, -179.0 -30.5))",
        "POINT (-88.0 30.0)",
        "LINESTRING (-89.0 31.0, -88.5 31.4)",
        f"POLYGON ({_wkt_ring(-87.0, 32.0, 0.25, 14, 0.7)})",
        "MULTIPOINT (-86.0 33.0, -85.5 33.2)",
    ]
    return pd.DataFrame({"uid": range(len(wkts)), "geom_wkt": wkts})


class TestBatchPartitionInvariance:
    """make_index_map_fn gives the same rows however a frame is cut
    into batches (a task retry or another maxRecordsPerBatch cuts it
    differently): one batch, batches of 7 and one feature per batch."""

    @pytest.mark.parametrize("res", [3, 4, 6])
    @pytest.mark.parametrize(
        "method", ["PCT_AREA", "PCT_LENGTH", "PASS_THROUGH", "CENTROID"]
    )
    def test_rows_do_not_depend_on_batching(self, res, method):
        import pandas as pd

        from h3_indexer_spark.config.vector import (
            AllocationMethod,
            GeometryType,
        )
        from h3_indexer_spark.functions.udfs import make_index_map_fn

        df = _mixed_frame()
        fn = make_index_map_fn(
            "uid", GeometryType.POLYGON, AllocationMethod(method), res,
            "metric",
        )

        def rows(size):
            out = pd.concat(
                fn(df.iloc[i : i + size] for i in range(0, len(df), size))
            )
            return out.sort_values(["uid", "h3_index"], ignore_index=True)

        whole = rows(len(df))
        assert set(whole["uid"]) == set(range(len(df))) - {6, 8}
        for size in (7, 1):
            pd.testing.assert_frame_equal(rows(size), whole, check_exact=True)
