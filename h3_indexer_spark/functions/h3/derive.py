"""Numerical derivation of the H3 lookup tables.

The classic H3 implementation hard-codes two large tables:
``faceIjkBaseCells`` (20 faces × 3×3×3 patch → base cell + ccw
rotations) and ``faceNeighbors`` (20 faces × 3 edges → neighbor face +
orientation). Both are fully determined by the face geometry and the
base-cell home coordinates, so instead of hand-carrying ~700 more
constants we derive them here:

- patch → base cell: the res-0 lattice point's geo center must coincide
  (to ~1e-9 rad) with exactly one base cell center computed from its
  home coordinates.
- patch rotation: match the physical direction of the face's I axis at
  that lattice point against the six home-frame axis directions.
- face neighbors: a candidate (neighbor face, rotation, translate) is
  accepted iff it maps two distinct substrate lattice points on the
  shared icosahedron edge onto the same physical locations.

The result is validated structurally here (tiling, distinctness) and
against published golden cells in tests/test_h3_kernel.py.

The derivation takes a few seconds, so the program never runs it: it
reads the tables from the generated constant module _derived_tables.py.
This module is the reference that writes that file and that a test
re-derives and compares against. Regenerate it with

    python -m h3_indexer_spark.functions.h3.derive
"""

from __future__ import annotations

import math
from itertools import product
from pathlib import Path

from h3_indexer_spark.functions.h3 import core
from h3_indexer_spark.functions.h3.tables import (
    BASE_CELL_DATA,
    NUM_BASE_CELLS,
    NUM_ICOSA_FACES,
    DerivedTables,
)

# geographic tolerance (chord length on the unit sphere) for matching
# lattice points on shared icosahedron edges, where both frames agree
# exactly.
_TOL = 1e-6

# Patch coordinates BEYOND a face's triangle don't land exactly on the
# neighbor base cell's center (the lattice kinks at icosahedron edges;
# the gnomonic extension is distorted by up to ~12°), but the nearest
# center is still unambiguous: centers are ~0.29 rad apart while the
# distortion displacement is ~0.02 rad. Accept nearest-center matches
# within this fraction of the minimum center spacing.
_PATCH_MATCH_FRACTION = 0.45

# ccw digit cycle starting at the I axis: I → IJ → J → JK → K → IK
_CCW_FROM_I = [
    core.I_AXES_DIGIT,
    core.IJ_AXES_DIGIT,
    core.J_AXES_DIGIT,
    core.JK_AXES_DIGIT,
    core.K_AXES_DIGIT,
    core.IK_AXES_DIGIT,
]

# candidate per-quadrant translations (unit res-0 scale); the classic
# table uses exactly these three vectors.
_TRANSLATE_CANDIDATES = [(2, 0, 2), (2, 2, 0), (0, 2, 2)]


def _geo_dist(a, b) -> float:
    """Great-circle distance via chord length (monotonic, cheap)."""
    va = core._geo_to_vec3(*a)
    vb = core._geo_to_vec3(*b)
    return math.sqrt(core._sq_dist(va, vb))


def _probe_direction_geo(face: int, coord, digit: int, step: float = 0.1):
    """Geo location of a small step from lattice point ``coord`` along
    axis ``digit`` in ``face``'s res-0 frame."""
    x0, y0 = core._ijk_to_hex2d(coord)
    u = core.UNIT_VECS[digit]
    x1, y1 = core._ijk_to_hex2d(
        (coord[0] + u[0], coord[1] + u[1], coord[2] + u[2])
    )
    px = x0 + step * (x1 - x0)
    py = y0 + step * (y1 - y0)
    return core._hex2d_to_geo(px, py, face, 0, False)


def build_tables() -> DerivedTables:
    # --- base cell centers from home coordinates
    centers = []
    for face, home, _pent, _off in BASE_CELL_DATA:
        centers.append(core._face_ijk_to_geo(face, home, 0))

    # minimum pairwise spacing between base cell centers sets the
    # unambiguous matching radius for distorted (off-face) lattice points
    min_spacing = min(
        _geo_dist(centers[a], centers[b])
        for a in range(NUM_BASE_CELLS)
        for b in range(a + 1, NUM_BASE_CELLS)
        if _geo_dist(centers[a], centers[b]) > 1e-12
    )
    match_radius = _PATCH_MATCH_FRACTION * min_spacing

    # --- patch lookup
    face_patch: dict = {}
    for face in range(NUM_ICOSA_FACES):
        for i, j, k in product(range(3), repeat=3):
            coord = (i, j, k)
            if core._ijk_normalize(*coord) != coord:
                continue  # not a normalized patch coordinate
            geo = core._face_ijk_to_geo(face, coord, 0)
            best_bc, best_d = -1, 1e9
            for bc in range(NUM_BASE_CELLS):
                d = _geo_dist(geo, centers[bc])
                if d < best_d:
                    best_bc, best_d = bc, d
            if best_d > match_radius:
                continue  # lattice point beyond the face patch
            # rotation: match this face's I axis against home-frame axes
            probe = _probe_direction_geo(face, coord, core.I_AXES_DIGIT)
            home_face, home_coord, _pent, _off = BASE_CELL_DATA[best_bc]
            best_rot, best_dd = -1, 1e9
            for rot, digit in enumerate(_CCW_FROM_I):
                hp = _probe_direction_geo(home_face, home_coord, digit)
                dd = _geo_dist(probe, hp)
                if dd < best_dd:
                    best_rot, best_dd = rot, dd
            face_patch[(face, i, j, k)] = (best_bc, best_rot)

    _validate_patch(face_patch)

    # --- face neighbor orientations (substrate res-0 edge matching)
    face_neighbors: dict = {}
    adjacent_face_dir: dict = {}
    max_dim = 6  # res-0 substrate: maxDimByCIIres[0] * 3
    edge_points = {
        core.IJ_QUAD: [(5, 1, 0), (4, 2, 0)],  # k = 0 edge
        core.KI_QUAD: [(5, 0, 1), (4, 0, 2)],  # j = 0 edge
        core.JK_QUAD: [(0, 5, 1), (0, 4, 2)],  # i = 0 edge
    }
    for face in range(NUM_ICOSA_FACES):
        for quad, pts in edge_points.items():
            assert all(sum(p) == max_dim for p in pts)
            target = [
                core._hex2d_to_geo(*core._ijk_to_hex2d(p), face, 0, True)
                for p in pts
            ]
            found = None
            for g in range(NUM_ICOSA_FACES):
                if g == face:
                    continue
                for rot in range(6):
                    for tv in _TRANSLATE_CANDIDATES:
                        ok = True
                        for p, tgt in zip(pts, target):
                            c = p
                            for _ in range(rot):
                                c = core._ijk_rotate60_ccw(c)
                            c = core._ijk_normalize(
                                c[0] + tv[0] * 3,
                                c[1] + tv[1] * 3,
                                c[2] + tv[2] * 3,
                            )
                            if sum(c) != max_dim:
                                ok = False
                                break
                            geo = core._hex2d_to_geo(
                                *core._ijk_to_hex2d(c), g, 0, True
                            )
                            if _geo_dist(geo, tgt) > _TOL:
                                ok = False
                                break
                        if ok:
                            if found is not None and found[0] != g:
                                raise AssertionError(
                                    f"ambiguous neighbor for face {face} "
                                    f"quad {quad}: {found} vs {(g, rot, tv)}"
                                )
                            found = (g, rot, tv)
            if found is None:
                raise AssertionError(
                    f"no neighbor orientation found for face {face} quad {quad}"
                )
            face_neighbors[(face, quad)] = found
            adjacent_face_dir[(face, found[0])] = quad

    tables = DerivedTables(
        face_patch=face_patch,
        face_neighbors=face_neighbors,
        adjacent_face_dir=adjacent_face_dir,
        base_cell_center=centers,
    )
    # install provisionally so core's forward/inverse paths see the
    # tables, then self-calibrate the patch rotations
    core._DERIVED = tables
    _calibrate_rotations(tables)
    return tables


def _forward_entry(lat_deg: float, lng_deg: float, res: int):
    """The (face, res-0 ijk) patch entry the forward path resolves a
    point through (mirrors _face_ijk_to_h3's up-aggregation)."""
    face, x, y = core._geo_to_hex2d(
        math.radians(lat_deg), math.radians(lng_deg), res
    )
    ijk = core._hex2d_to_ijk(x, y)
    for r in range(res - 1, -1, -1):
        if core.is_class_iii(r + 1):
            ijk = core._up_ap7(ijk)
        else:
            ijk = core._up_ap7r(ijk)
    return (face,) + tuple(ijk)


def _calibrate_rotations(tables: DerivedTables) -> None:
    """Around icosahedron vertices the frames of the five meeting faces
    differ by 72° steps, so the nearest-60° geometric match can mispick
    the ccw rotation count of patch entries reached across a vertex
    (all pentagon entries, plus hexagon entries two steps across a
    corner). The inverse path (home-face digit arithmetic + overage)
    never consults the patch table, so it serves as ground truth:
    group every base cell's res-3 descendants by the patch entry their
    center resolves through, and brute-force the rotation of any entry
    whose samples fail to round-trip."""
    res = 3
    # samples per entry: all res-3 cells, grouped by resolving entry
    samples: dict[tuple, list[tuple[float, float, int]]] = {
        key: [] for key in tables.face_patch
    }
    for bc in range(NUM_BASE_CELLS):
        h0 = core._set_base_cell(
            core._set_resolution(core._set_mode(core.H3_INIT, 1), 0), bc
        )
        for child in core.cell_to_children(h0, res):
            lat, lng = core.cell_to_latlng(child)
            key = _forward_entry(lat, lng, res)
            if key in samples:
                samples[key].append((lat, lng, child))
    for key, pts in samples.items():
        if not pts:
            continue
        bc, rot0 = tables.face_patch[key]
        ok0 = sum(
            1
            for lat, lng, cell in pts
            if core.latlng_to_cell(lat, lng, res) == cell
        )
        if ok0 == len(pts):
            continue
        best = None
        for rot in range(6):
            tables.face_patch[key] = (bc, rot)
            ok = sum(
                1
                for lat, lng, cell in pts
                if core.latlng_to_cell(lat, lng, res) == cell
            )
            if ok == len(pts):
                best = rot
                break
        if best is None:
            tables.face_patch[key] = (bc, rot0)
            raise AssertionError(
                f"rotation calibration failed for patch entry {key}"
            )
        tables.face_patch[key] = (bc, best)


def _validate_patch(face_patch: dict) -> None:
    """Structural invariants: all 122 base cells appear; every home
    coordinate maps to its own base cell with rotation 0."""
    seen = {bc for bc, _rot in face_patch.values()}
    if seen != set(range(NUM_BASE_CELLS)):
        missing = set(range(NUM_BASE_CELLS)) - seen
        raise AssertionError(f"face patch missing base cells: {sorted(missing)}")
    for bc, (face, home, _pent, _off) in enumerate(BASE_CELL_DATA):
        entry = face_patch.get((face,) + tuple(home))
        if entry is None or entry[0] != bc:
            raise AssertionError(
                f"home coordinate of base cell {bc} does not map to itself: "
                f"{entry}"
            )
        if entry[1] != 0:
            raise AssertionError(
                f"home coordinate of base cell {bc} has nonzero rotation "
                f"{entry[1]}"
            )


MODULE_PATH = Path(__file__).with_name("_derived_tables.py")

_MODULE_HEADER = '''\
"""H3 lookup tables derived from the face geometry and base-cell home
coordinates in tables.py.

Generated by ``python -m h3_indexer_spark.functions.h3.derive`` from
``derive.build_tables()``. Do not edit: tests/test_h3_kernel.py
re-derives the tables and fails when this file differs from the
generator's output.
"""

from h3_indexer_spark.functions.h3.tables import DerivedTables

# fmt: off
DERIVED = DerivedTables('''


def _lines_by_face(table: dict) -> list[str]:
    """One line per face for a dict keyed by tuples that start with
    the face, in the dict's own order."""
    rows: dict[int, list[str]] = {}
    for key, value in table.items():
        rows.setdefault(key[0], []).append(f"{key!r}: {value!r},")
    return ["        " + " ".join(row) for row in rows.values()]


def render_module(tables: DerivedTables | None = None) -> str:
    """Source text of _derived_tables.py: the tables as Python literals
    (a float's repr reads back as the same float)."""
    t = build_tables() if tables is None else tables
    lines = [_MODULE_HEADER]
    for name in ("face_patch", "face_neighbors", "adjacent_face_dir"):
        lines += [f"    {name}={{", *_lines_by_face(getattr(t, name)), "    },"]
    lines += [
        "    base_cell_center=[",
        *(f"        {center!r}," for center in t.base_cell_center),
        "    ],",
        ")",
        "# fmt: on",
    ]
    return "\n".join(lines) + "\n"


if __name__ == "__main__":
    MODULE_PATH.write_text(render_module())
    print(f"wrote {MODULE_PATH}")
