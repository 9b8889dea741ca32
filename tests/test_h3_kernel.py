"""H3 kernel validation: published goldens + structural invariants.

Golden sources:
- the classic SF example published in the H3 documentation
- the reference's own published outputs:
  /root/reference/README.md:280-341 (cell ids, parents, areas) and
  examples/h3_pop_railroad_example.ipynb.
"""

from __future__ import annotations

import math
import random

import pytest

from h3_indexer_spark.functions import geodesy
from h3_indexer_spark.functions.h3 import core, coverage


def _res0_cell(bc: int) -> int:
    return core._set_base_cell(
        core._set_resolution(core._set_mode(core.H3_INIT, 1), 0), bc
    )


class TestGoldens:
    def test_sf_point(self):
        c = core.latlng_to_cell(37.7752702151959257, -122.418307270836565, 9)
        assert core.h3_to_string(c) == "8928308280fffff"

    def test_sf_center(self):
        c = core.string_to_h3("8928308280fffff")
        lat, lng = core.cell_to_latlng(c)
        assert abs(lat - 37.77670234943567) < 1e-9
        assert abs(lng - -122.41845932318311) < 1e-9

    def test_parent_golden(self):
        # reference README.md:282 — r3 parent of 840e4d3ffffffff
        h = core.string_to_h3("840e4d3ffffffff")
        assert core.h3_to_string(core.cell_to_parent(h, 3)) == "830e4dfffffffff"

    @pytest.mark.parametrize(
        "cell,golden_km2",
        [
            # reference README.md:282-283 (res 4)
            ("840e4d3ffffffff", 2004.4344472440796),
            ("840e4d7ffffffff", 2011.5201608518523),
            # reference README.md:308-309 (res 6)
            ("86446cae7ffffff", 40.55609958082783),
            ("86446ca57ffffff", 40.58272492454886),
            # reference README.md:336-337 (res 6)
            ("8644697b7ffffff", 40.12018482559633),
            ("86446945fffffff", 40.145249906240224),
        ],
    )
    def test_area_goldens(self, cell, golden_km2):
        h = core.string_to_h3(cell)
        boundary = core.cell_to_boundary(h)
        ring = [(lng, lat) for lat, lng in boundary]
        area = geodesy.spheroid_polygon_area_m2_many([ring])[0] / 1.0e6
        assert abs(area - golden_km2) / golden_km2 < 1e-7


class TestInvariants:
    def test_roundtrip_global(self):
        random.seed(42)
        for res in [0, 1, 2, 3, 5, 6, 9, 12, 15]:
            for _ in range(150):
                lat = math.degrees(math.asin(random.uniform(-1, 1)))
                lng = random.uniform(-180, 180)
                c = core.latlng_to_cell(lat, lng, res)
                assert c != 0
                assert core.is_valid_cell(c)
                clat, clng = core.cell_to_latlng(c)
                assert core.latlng_to_cell(clat, clng, res) == c

    def test_parent_contains_child_center(self):
        """Aperture-7 subdivision does NOT nest children inside parents
        geometrically, so a deep descendant's center may fall outside
        the ancestor hexagon — but only for a small boundary fraction."""
        random.seed(1)
        mismatches = 0
        for _ in range(200):
            lat = math.degrees(math.asin(random.uniform(-1, 1)))
            lng = random.uniform(-180, 180)
            child = core.latlng_to_cell(lat, lng, 9)
            parent = core.cell_to_parent(child, 9 - 1)
            clat, clng = core.cell_to_latlng(child)
            if core.latlng_to_cell(clat, clng, 8) != parent:
                mismatches += 1
        # direct children centers are always well inside the parent
        assert mismatches == 0

    def test_children_roundtrip(self):
        h = core.latlng_to_cell(40.0, -100.0, 4)
        kids = core.cell_to_children(h, 6)
        assert len(kids) == 49
        for k in kids:
            assert core.cell_to_parent(k, 4) == h

    def test_pentagon_count(self):
        pents = [
            bc
            for bc in range(122)
            if core._set_base_cell(
                core._set_resolution(core._set_mode(core.H3_INIT, 1), 0), bc
            )
            and bc in core.PENTAGON_BASE_CELLS
        ]
        assert len(pents) == 12

    def test_res0_area_covers_earth(self):
        total = 0.0
        for bc in range(122):
            boundary = core.cell_to_boundary(_res0_cell(bc))
            ring = [(lng, lat) for lat, lng in boundary]
            total += geodesy.spheroid_polygon_area_m2_many([ring])[0] / 1.0e6
        earth = 4.0 * math.pi * (geodesy.AUTHALIC_RADIUS_M / 1000.0) ** 2
        assert abs(total - earth) / earth < 1e-9

    @pytest.mark.parametrize("res", [1, 2, 3])
    def test_cell_areas_cover_earth(self, res):
        """Every cell of a resolution tiles the sphere once: at Class
        III resolutions this needs the pentagons' and the face-crossing
        hexagons' distortion vertices and an area formula that counts
        their reflex vertices right."""
        import numpy as np

        from h3_indexer_spark.functions.h3.vectorized import (
            cell_area_km2_batch,
        )

        cells = [
            c
            for bc in range(122)
            for c in core.cell_to_children(_res0_cell(bc), res)
        ]
        assert len(cells) == 2 + 120 * 7**res
        total = cell_area_km2_batch(np.asarray(cells, dtype=np.int64)).sum()
        earth = 4.0 * math.pi * (geodesy.AUTHALIC_RADIUS_M / 1000.0) ** 2
        assert abs(total - earth) / earth < 1e-9

    def test_face_crossing_cell_area_is_cell_sized(self):
        """8312cbfffffffff crosses an icosahedron edge (7 vertices, not
        convex); its area is a normal res-3 area."""
        import numpy as np

        from h3_indexer_spark.functions.h3.vectorized import (
            cell_area_km2_batch,
        )

        cell = core.string_to_h3("8312cbfffffffff")
        assert len(core.cell_to_boundary(cell)) == 7
        base = core.cell_to_parent(cell, 0)
        peers = np.asarray(core.cell_to_children(base, 3), dtype=np.int64)
        median = float(np.median(cell_area_km2_batch(peers)))
        area = cell_area_km2_batch(np.asarray([cell], dtype=np.int64))[0]
        assert median / 2 < area < 2 * median

    @pytest.mark.parametrize("res", [1, 3, 5])
    def test_class_iii_pentagons_have_distortion_vertices(self, res):
        """Every Class III pentagon edge crosses an icosahedron edge, so
        the boundary has 10 vertices, and each of the 5 neighbors shares
        that edge's 2 ends and its crossing point."""
        for bc in sorted(core.PENTAGON_BASE_CELLS):
            pent = core.cell_to_children(_res0_cell(bc), res)[0]
            assert core.is_pentagon(pent)
            boundary = core.cell_to_boundary(pent)
            assert len(boundary) == 10
            nbs = coverage.cell_neighbors(pent)
            assert len(nbs) == 5
            for nb in nbs:
                shared = sum(
                    1
                    for a in boundary
                    for b in core.cell_to_boundary(nb)
                    if abs(a[0] - b[0]) < 1e-9 and abs(a[1] - b[1]) < 1e-9
                )
                assert shared == 3, (core.h3_to_string(pent), nb)

    def test_boundary_vertex_counts(self):
        hexagon = core.latlng_to_cell(40.0, -100.0, 6)
        assert len(core.cell_to_boundary(hexagon)) == 6
        # north pentagon at res 0 (famous Norway pentagon)
        pent = core.latlng_to_cell(64.7, 10.5, 0)
        assert core.is_pentagon(pent)
        assert len(core.cell_to_boundary(pent)) == 5


class TestCoverage:
    def test_neighbors_count(self):
        h = core.latlng_to_cell(35.0, -100.0, 6)
        nbs = coverage.cell_neighbors(h)
        assert len(nbs) == 6
        assert h not in nbs
        # symmetry: each neighbor lists h back
        for nb in nbs:
            assert h in coverage.cell_neighbors(nb)

    def test_pentagon_neighbors(self):
        pent = core.latlng_to_cell(64.7, 10.5, 2)
        assert core.is_pentagon(pent)
        assert len(coverage.cell_neighbors(pent)) == 5

    def test_line_cells_connected(self):
        cells = coverage.line_cells([(-100.0, 35.0), (-99.0, 35.5)], 6)
        assert len(cells) >= 5
        start = core.latlng_to_cell(35.0, -100.0, 6)
        end = core.latlng_to_cell(35.5, -99.0, 6)
        assert start in cells and end in cells

    def test_polyfill_small_square(self):
        ring = [
            (-100.0, 35.0),
            (-99.8, 35.0),
            (-99.8, 35.2),
            (-100.0, 35.2),
        ]
        cells = coverage.polyfill(ring, 6)
        assert len(cells) >= 4
        # every cell center inside must be present; sample the centroid
        c = core.latlng_to_cell(35.1, -99.9, 6)
        assert c in cells

    def test_polyfill_interior_only(self):
        ring = [
            (-100.0, 35.0),
            (-99.5, 35.0),
            (-99.5, 35.5),
            (-100.0, 35.5),
        ]
        with_b = set(coverage.polyfill(ring, 6, include_boundary_cells=True))
        without_b = set(coverage.polyfill(ring, 6, include_boundary_cells=False))
        assert without_b <= with_b
        for cell in without_b:
            lat, lng = core.cell_to_latlng(cell)
            assert coverage._point_in_ring(lng, lat, ring)


class TestVectorizedKernel:
    """The numpy batch kernel must agree with the scalar path exactly
    (same float op order) — including pentagon fallback rows."""

    def test_batch_matches_scalar_global(self):
        import numpy as np

        from h3_indexer_spark.functions.h3 import core
        from h3_indexer_spark.functions.h3.vectorized import (
            latlng_to_cell_batch,
        )

        rng = np.random.default_rng(123)
        lat = rng.uniform(-89.5, 89.5, 4000)
        lng = rng.uniform(-180.0, 180.0, 4000)
        for res in (3, 5, 8):
            batch = latlng_to_cell_batch(lat, lng, res)
            for ix in range(0, 4000, 7):
                assert batch[ix] == core.latlng_to_cell(
                    float(lat[ix]), float(lng[ix]), res
                )
            assert (batch == 0).sum() == 0

    def test_batch_pentagon_neighborhood(self):
        import numpy as np

        from h3_indexer_spark.functions.h3 import core
        from h3_indexer_spark.functions.h3.vectorized import (
            latlng_to_cell_batch,
        )

        # points clustered around a res-0 pentagon center (base cell 4)
        base_pent = core._set_base_cell(
            core._set_resolution(
                core._set_mode(core.H3_INIT, core._MODE_CELL), 0
            ),
            4,
        )
        clat, clng = core.cell_to_latlng(base_pent)
        rng = np.random.default_rng(7)
        lat = np.clip(clat + rng.uniform(-3, 3, 500), -89.9, 89.9)
        lng = clng + rng.uniform(-3, 3, 500)
        batch = latlng_to_cell_batch(lat, lng, 6)
        for ix in range(500):
            assert batch[ix] == core.latlng_to_cell(
                float(lat[ix]), float(lng[ix]), 6
            )

    def test_batch_center_matches_scalar(self):
        import numpy as np

        from h3_indexer_spark.functions.h3 import core
        from h3_indexer_spark.functions.h3.vectorized import (
            cell_to_latlng_batch,
            latlng_to_cell_batch,
        )

        rng = np.random.default_rng(42)
        lat = rng.uniform(-85.0, 85.0, 2000)
        lng = rng.uniform(-180.0, 180.0, 2000)
        for res in (3, 6, 9):
            cells = np.unique(latlng_to_cell_batch(lat, lng, res))
            blat, blng = cell_to_latlng_batch(cells)
            for ix in range(len(cells)):
                slat, slng = core.cell_to_latlng(int(cells[ix]))
                assert abs(blat[ix] - slat) < 1e-9, hex(int(cells[ix]))
                assert abs(blng[ix] - slng) < 1e-9, hex(int(cells[ix]))

    def test_polyfill_complete_vs_dense_sampling(self):
        """Interior cells found by polyfill must exactly equal the set
        derived independently: cells hit by a dense point grid whose
        scalar center passes the even-odd test."""
        import numpy as np

        from h3_indexer_spark.functions.h3 import core, coverage
        from h3_indexer_spark.functions.h3.vectorized import (
            latlng_to_cell_batch,
        )

        rings = [
            # convex quad
            [(-100.0, 35.0), (-99.6, 35.1), (-99.5, 35.6), (-100.1, 35.4)],
            # concave polygon (notched)
            [(10.0, 50.0), (10.6, 50.0), (10.6, 50.5), (10.3, 50.2),
             (10.0, 50.5)],
        ]
        for ring in rings:
            for res in (5, 6):
                got = set(
                    coverage.polyfill(
                        ring, res, include_boundary_cells=False
                    )
                )
                lats = [p[1] for p in ring]
                lngs = [p[0] for p in ring]
                step = 0.15 * coverage._EDGE_KM[res] / coverage._EARTH_KM * (
                    180.0 / math.pi
                )
                gl = np.arange(min(lats) - step, max(lats) + step, step)
                gg = np.arange(min(lngs) - step, max(lngs) + step, step)
                la, ln = np.meshgrid(gl, gg, indexing="ij")
                cand = np.unique(
                    latlng_to_cell_batch(la.ravel(), ln.ravel(), res)
                )
                want = set()
                for c in cand:
                    clat, clng = core.cell_to_latlng(int(c))
                    if coverage._point_in_ring(clng, clat, ring):
                        want.add(int(c))
                assert got == want, (ring, res, got ^ want)


class TestDerivedTables:
    """The lookup tables the program reads are the checked-in module
    _derived_tables.py; derive.build_tables() is the reference."""

    def test_generated_module_matches_derivation(self):
        """A fresh derivation equals the checked-in tables field by
        field, and the file is exactly what the generator writes, so a
        hand edit and a change to derive.py both fail here. Regenerate
        with ``python -m h3_indexer_spark.functions.h3.derive``."""
        import dataclasses

        from h3_indexer_spark.functions.h3 import _derived_tables, derive

        try:
            fresh = derive.build_tables()
        finally:
            # build_tables installs the tables it derives in core
            core._DERIVED = _derived_tables.DERIVED
        for field in dataclasses.fields(fresh):
            assert getattr(fresh, field.name) == getattr(
                _derived_tables.DERIVED, field.name
            ), field.name
        assert derive.MODULE_PATH.read_text() == derive.render_module(fresh)

    def test_no_process_derives_at_run_time(self):
        """A fresh process that imports the kernel modules and runs the
        point, boundary, cover, children and WKT paths never imports
        derive, so derive.build_tables() cannot have run."""
        import subprocess
        import sys
        from pathlib import Path

        script = """
import sys

class Watch:
    seen = []

    @classmethod
    def find_spec(cls, name, path=None, target=None):
        if name.rsplit(".", 1)[-1] == "derive":
            cls.seen.append(name)
        return None

sys.meta_path.insert(0, Watch)

import numpy as np

from h3_indexer_spark.functions import udfs
from h3_indexer_spark.functions.h3 import core, coverage, vectorized

cells = vectorized.latlng_to_cell_batch(
    np.array([40.0, 64.7]), np.array([-100.0, 10.5]), 3
)
for cell in [*cells.tolist(), core.string_to_h3("8312cbfffffffff")]:
    core.cell_to_boundary(cell)
    core.cell_to_children(cell, 4)
    udfs._cell_wkt(cell)
coverage.polyfill([(-100.0, 40.0), (-99.0, 40.0), (-99.0, 41.0)], 5)
assert "h3_indexer_spark.functions.h3.derive" not in sys.modules
assert Watch.seen == [], Watch.seen
"""
        repo = Path(__file__).resolve().parent.parent
        done = subprocess.run(
            [sys.executable, "-c", script],
            cwd=repo,
            capture_output=True,
            text=True,
            timeout=120,
        )
        assert done.returncode == 0, done.stderr
