"""H3 core cell indexing math, pure Python.

A re-implementation of the public H3 grid algorithms (uber/h3,
Apache-2.0): icosahedral gnomonic projection, aperture-7 hex IJK
coordinate math, and the 64-bit cell index layout. Seeded only by the
face geometry + base-cell home coordinates in tables.py; the per-face
res-0 lookup and face-neighbor orientation tables are derived
numerically in derive.py, checked in as the generated constant module
_derived_tables.py, and validated by structural invariants in
tests/test_h3_kernel.py plus published golden values.

Used by the engine's vectorized UDF layer (functions/udfs.py); parity
targets are the reference's U1-U3 kernels
(/root/reference/src/h3_indexer/spark/spark_udfs.py:12-67 and the
h3-pyspark index_shape calls in h3_indexer.py:106-108).
"""

from __future__ import annotations

import math

from h3_indexer_spark.functions.h3 import _derived_tables
from h3_indexer_spark.functions.h3.tables import (
    BASE_CELL_DATA,
    EPSILON,
    FACE_AXES_AZ_RADS_CII,
    FACE_CENTER_GEO,
    INV_RES0_U_GNOMONIC,
    M_AP7_ROT_RADS,
    M_SIN60,
    M_SQRT7,
    MAX_DIM_BY_CII_RES,
    MAX_H3_RES,
    NUM_ICOSA_FACES,
    PENTAGON_BASE_CELLS,
    RES0_U_GNOMONIC,
    UNIT_SCALE_BY_CII_RES,
)

# --- digits ---------------------------------------------------------------

CENTER_DIGIT = 0
K_AXES_DIGIT = 1
J_AXES_DIGIT = 2
JK_AXES_DIGIT = 3
I_AXES_DIGIT = 4
IK_AXES_DIGIT = 5
IJ_AXES_DIGIT = 6
INVALID_DIGIT = 7

UNIT_VECS = [
    (0, 0, 0),
    (0, 0, 1),  # K
    (0, 1, 0),  # J
    (0, 1, 1),  # JK
    (1, 0, 0),  # I
    (1, 0, 1),  # IK
    (1, 1, 0),  # IJ
]
_UNIT_TO_DIGIT = {v: d for d, v in enumerate(UNIT_VECS)}

# ccw 60° digit rotation cycle: I→IJ→J→JK→K→IK→I
_ROT_CCW = {0: 0, 1: 5, 5: 4, 4: 6, 6: 2, 2: 3, 3: 1}
_ROT_CW = {0: 0, 1: 3, 3: 2, 2: 6, 6: 4, 4: 5, 5: 1}

# overage results
NO_OVERAGE = 0
FACE_EDGE = 1
NEW_FACE = 2

# quadrants (order matches the classic faceNeighbors table indexing)
IJ_QUAD = 1
KI_QUAD = 2
JK_QUAD = 3


def is_class_iii(res: int) -> bool:
    return res % 2 == 1


# --- angles / sphere ------------------------------------------------------


def _pos_angle(a: float) -> float:
    if a < 0.0:
        return a + 2.0 * math.pi
    if a >= 2.0 * math.pi:
        return a - 2.0 * math.pi
    return a


def _constrain_lng(lng: float) -> float:
    while lng > math.pi:
        lng -= 2.0 * math.pi
    while lng < -math.pi:
        lng += 2.0 * math.pi
    return lng


def _geo_to_vec3(lat: float, lng: float) -> tuple[float, float, float]:
    r = math.cos(lat)
    return (r * math.cos(lng), r * math.sin(lng), math.sin(lat))


def _sq_dist(a: tuple, b: tuple) -> float:
    return (a[0] - b[0]) ** 2 + (a[1] - b[1]) ** 2 + (a[2] - b[2]) ** 2


def _geo_azimuth(lat1: float, lng1: float, lat2: float, lng2: float) -> float:
    return math.atan2(
        math.cos(lat2) * math.sin(lng2 - lng1),
        math.cos(lat1) * math.sin(lat2)
        - math.sin(lat1) * math.cos(lat2) * math.cos(lng2 - lng1),
    )


def _geo_az_distance(
    lat: float, lng: float, az: float, distance: float
) -> tuple[float, float]:
    """Destination point at (azimuth, angular distance) from a start
    point on the unit sphere."""
    if distance < EPSILON:
        return (lat, lng)
    az = _pos_angle(az)
    if az < EPSILON or abs(az - math.pi) < EPSILON:
        lat2 = lat + distance if az < EPSILON else lat - distance
        if abs(lat2 - math.pi / 2) < EPSILON:
            return (math.pi / 2, 0.0)
        if abs(lat2 + math.pi / 2) < EPSILON:
            return (-math.pi / 2, 0.0)
        return (lat2, _constrain_lng(lng))
    sinlat = math.sin(lat) * math.cos(distance) + math.cos(lat) * math.sin(
        distance
    ) * math.cos(az)
    sinlat = min(1.0, max(-1.0, sinlat))
    lat2 = math.asin(sinlat)
    if abs(lat2 - math.pi / 2) < EPSILON:
        return (math.pi / 2, 0.0)
    if abs(lat2 + math.pi / 2) < EPSILON:
        return (-math.pi / 2, 0.0)
    invcos = 1.0 / math.cos(lat2)
    sinlng = math.sin(az) * math.sin(distance) * invcos
    coslng = (
        (math.cos(distance) - math.sin(lat) * math.sin(lat2))
        / math.cos(lat)
        * invcos
    )
    sinlng = min(1.0, max(-1.0, sinlng))
    coslng = min(1.0, max(-1.0, coslng))
    return (lat2, _constrain_lng(lng + math.atan2(sinlng, coslng)))


_FACE_CENTER_VEC3 = [_geo_to_vec3(lat, lng) for lat, lng in FACE_CENTER_GEO]


# --- IJK coordinate math --------------------------------------------------


def _ijk_normalize(i: int, j: int, k: int) -> tuple[int, int, int]:
    if i < 0:
        j -= i
        k -= i
        i = 0
    if j < 0:
        i -= j
        k -= j
        j = 0
    if k < 0:
        i -= k
        j -= k
        k = 0
    m = min(i, j, k)
    if m > 0:
        i -= m
        j -= m
        k -= m
    return (i, j, k)


def _lround(x: float) -> int:
    # round-half-away-from-zero; /7 divisions can never tie exactly
    return int(math.floor(x + 0.5)) if x >= 0 else int(math.ceil(x - 0.5))


def _up_ap7(c: tuple[int, int, int]) -> tuple[int, int, int]:
    i = c[0] - c[2]
    j = c[1] - c[2]
    return _ijk_normalize(_lround((3 * i - j) / 7.0), _lround((i + 2 * j) / 7.0), 0)


def _up_ap7r(c: tuple[int, int, int]) -> tuple[int, int, int]:
    i = c[0] - c[2]
    j = c[1] - c[2]
    return _ijk_normalize(_lround((2 * i + j) / 7.0), _lround((3 * j - i) / 7.0), 0)


def _lin_comb(c, iv, jv, kv) -> tuple[int, int, int]:
    return _ijk_normalize(
        c[0] * iv[0] + c[1] * jv[0] + c[2] * kv[0],
        c[0] * iv[1] + c[1] * jv[1] + c[2] * kv[1],
        c[0] * iv[2] + c[1] * jv[2] + c[2] * kv[2],
    )


def _down_ap7(c):
    return _lin_comb(c, (3, 0, 1), (1, 3, 0), (0, 1, 3))


def _down_ap7r(c):
    return _lin_comb(c, (3, 1, 0), (0, 3, 1), (1, 0, 3))


def _down_ap3(c):
    return _lin_comb(c, (2, 0, 1), (1, 2, 0), (0, 1, 2))


def _down_ap3r(c):
    return _lin_comb(c, (2, 1, 0), (0, 2, 1), (1, 0, 2))


def _ijk_rotate60_ccw(c):
    return _lin_comb(c, (1, 1, 0), (0, 1, 1), (1, 0, 1))


def _ijk_rotate60_cw(c):
    return _lin_comb(c, (1, 0, 1), (1, 1, 0), (0, 1, 1))


def _neighbor_ijk(c, digit: int):
    if digit == CENTER_DIGIT:
        return c
    u = UNIT_VECS[digit]
    return _ijk_normalize(c[0] + u[0], c[1] + u[1], c[2] + u[2])


def _unit_ijk_to_digit(c) -> int:
    return _UNIT_TO_DIGIT.get(_ijk_normalize(*c), INVALID_DIGIT)


def _ijk_to_hex2d(c) -> tuple[float, float]:
    i = c[0] - c[2]
    j = c[1] - c[2]
    return (i - 0.5 * j, j * M_SIN60)


def _hex2d_to_ijk(x: float, y: float) -> tuple[int, int, int]:
    a1 = abs(x)
    a2 = abs(y)
    x2 = a2 / M_SIN60
    x1 = a1 + x2 / 2.0
    m1 = int(x1)
    m2 = int(x2)
    r1 = x1 - m1
    r2 = x2 - m2
    if r1 < 0.5:
        if r1 < 1.0 / 3.0:
            if r2 < (1.0 + r1) / 2.0:
                i, j = m1, m2
            else:
                i, j = m1, m2 + 1
        else:
            j = m2 if r2 < (1.0 - r1) else m2 + 1
            if (1.0 - r1) <= r2 < (2.0 * r1):
                i = m1 + 1
            else:
                i = m1
    else:
        if r1 < 2.0 / 3.0:
            j = m2 if r2 < (1.0 - r1) else m2 + 1
            if (2.0 * r1 - 1.0) < r2 < (1.0 - r1):
                i = m1
            else:
                i = m1 + 1
        else:
            if r2 < (r1 / 2.0):
                i, j = m1 + 1, m2
            else:
                i, j = m1 + 1, m2 + 1
    # fold across the axes if necessary
    if x < 0.0:
        if (j % 2) == 0:
            axisi = j // 2
            diff = i - axisi
            i = i - 2 * diff
        else:
            axisi = (j + 1) // 2
            diff = i - axisi
            i = i - (2 * diff + 1)
    k = 0
    if y < 0.0:
        i = i - (2 * j + 1) // 2
        j = -j
    return _ijk_normalize(i, j, k)


# --- gnomonic projections -------------------------------------------------


def _geo_to_closest_face(lat: float, lng: float) -> tuple[int, float]:
    v = _geo_to_vec3(lat, lng)
    face = 0
    sqd = 5.0
    for f in range(NUM_ICOSA_FACES):
        d = _sq_dist(_FACE_CENTER_VEC3[f], v)
        if d < sqd:
            face = f
            sqd = d
    return face, sqd


def _geo_to_hex2d(lat: float, lng: float, res: int) -> tuple[int, float, float]:
    face, sqd = _geo_to_closest_face(lat, lng)
    r = math.acos(1.0 - sqd / 2.0)
    if r < EPSILON:
        return face, 0.0, 0.0
    fc_lat, fc_lng = FACE_CENTER_GEO[face]
    theta = _pos_angle(
        FACE_AXES_AZ_RADS_CII[face][0]
        - _pos_angle(_geo_azimuth(fc_lat, fc_lng, lat, lng))
    )
    if is_class_iii(res):
        theta = _pos_angle(theta - M_AP7_ROT_RADS)
    r = math.tan(r) * INV_RES0_U_GNOMONIC
    for _ in range(res):
        r *= M_SQRT7
    return face, r * math.cos(theta), r * math.sin(theta)


def _hex2d_to_geo(
    x: float, y: float, face: int, res: int, substrate: bool
) -> tuple[float, float]:
    r = math.hypot(x, y)
    if r < EPSILON:
        return FACE_CENTER_GEO[face]
    theta = math.atan2(y, x)
    for _ in range(res):
        r /= M_SQRT7
    if substrate:
        r /= 3.0
        if is_class_iii(res):
            r /= M_SQRT7
    r *= RES0_U_GNOMONIC
    r = math.atan(r)
    if not substrate and is_class_iii(res):
        theta = _pos_angle(theta + M_AP7_ROT_RADS)
    theta = _pos_angle(FACE_AXES_AZ_RADS_CII[face][0] - theta)
    fc_lat, fc_lng = FACE_CENTER_GEO[face]
    return _geo_az_distance(fc_lat, fc_lng, theta, r)


def _face_ijk_to_geo(face: int, coord, res: int) -> tuple[float, float]:
    x, y = _ijk_to_hex2d(coord)
    return _hex2d_to_geo(x, y, face, res, False)


# --- H3 index bit layout --------------------------------------------------

H3_INIT = 35184372088831  # all 15 digits set to 7, everything else 0
_MODE_CELL = 1


def _set_mode(h: int, mode: int) -> int:
    return (h & ~(0xF << 59)) | (mode << 59)


def get_resolution(h: int) -> int:
    return (h >> 52) & 0xF


def _set_resolution(h: int, res: int) -> int:
    return (h & ~(0xF << 52)) | (res << 52)


def get_base_cell(h: int) -> int:
    return (h >> 45) & 0x7F


def _set_base_cell(h: int, bc: int) -> int:
    return (h & ~(0x7F << 45)) | (bc << 45)


def _get_digit(h: int, r: int) -> int:
    return (h >> (3 * (MAX_H3_RES - r))) & 0x7


def _set_digit(h: int, r: int, digit: int) -> int:
    shift = 3 * (MAX_H3_RES - r)
    return (h & ~(0x7 << shift)) | (digit << shift)


def _leading_nonzero_digit(h: int) -> int:
    for r in range(1, get_resolution(h) + 1):
        d = _get_digit(h, r)
        if d != CENTER_DIGIT:
            return d
    return CENTER_DIGIT


def _rotate60_ccw(h: int) -> int:
    for r in range(1, get_resolution(h) + 1):
        h = _set_digit(h, r, _ROT_CCW[_get_digit(h, r)])
    return h


def _rotate60_cw(h: int) -> int:
    for r in range(1, get_resolution(h) + 1):
        h = _set_digit(h, r, _ROT_CW[_get_digit(h, r)])
    return h


def _rotate_pent60_ccw(h: int) -> int:
    found_first = False
    for r in range(1, get_resolution(h) + 1):
        h = _set_digit(h, r, _ROT_CCW[_get_digit(h, r)])
        if not found_first and _get_digit(h, r) != 0:
            found_first = True
            if _leading_nonzero_digit(h) == K_AXES_DIGIT:
                h = _rotate60_ccw(h)
    return h


def is_pentagon(h: int) -> bool:
    return (
        get_base_cell(h) in PENTAGON_BASE_CELLS
        and _leading_nonzero_digit(h) == 0
    )


def is_valid_cell(h: int) -> bool:
    if (h >> 59) & 0xF != _MODE_CELL or (h >> 63) & 1:
        return False
    bc = get_base_cell(h)
    if bc >= len(BASE_CELL_DATA):
        return False
    res = get_resolution(h)
    if res > MAX_H3_RES:
        return False
    seen_nonzero = False
    for r in range(1, MAX_H3_RES + 1):
        d = _get_digit(h, r)
        if r <= res:
            if d == INVALID_DIGIT:
                return False
            if d != CENTER_DIGIT:
                if (
                    not seen_nonzero
                    and bc in PENTAGON_BASE_CELLS
                    and d == K_AXES_DIGIT
                ):
                    return False
                seen_nonzero = True
        elif d != INVALID_DIGIT:
            return False
    return True


def h3_to_string(h: int) -> str:
    return format(h, "x")


def string_to_h3(s: str) -> int:
    return int(s, 16)


# --- derived tables ---------------------------------------------------------

# The res-0 patch lookup and face-neighbor tables, generated from
# derive.build_tables() and checked in as constants. The functions
# below read this global at call time, so derive.build_tables() can
# install the tables it is deriving while it calibrates them.
_DERIVED = _derived_tables.DERIVED


def _base_cell_is_cw_offset(bc: int, face: int) -> bool:
    offs = BASE_CELL_DATA[bc][3]
    return face in offs


# --- FaceIJK ↔ H3 ---------------------------------------------------------


def _face_ijk_to_h3(face: int, coord, res: int) -> int:
    h = _set_resolution(_set_mode(H3_INIT, _MODE_CELL), res)
    if res == 0:
        if max(coord) > 2:
            return 0
        entry = _DERIVED.face_patch.get((face,) + tuple(coord))
        if entry is None:
            return 0
        return _set_base_cell(h, entry[0])
    ijk = tuple(coord)
    for r in range(res - 1, -1, -1):
        last_ijk = ijk
        if is_class_iii(r + 1):
            ijk = _up_ap7(ijk)
            last_center = _down_ap7(ijk)
        else:
            ijk = _up_ap7r(ijk)
            last_center = _down_ap7r(ijk)
        diff = (
            last_ijk[0] - last_center[0],
            last_ijk[1] - last_center[1],
            last_ijk[2] - last_center[2],
        )
        h = _set_digit(h, r + 1, _unit_ijk_to_digit(diff))
    if max(ijk) > 2:
        return 0
    entry = _DERIVED.face_patch.get((face,) + tuple(ijk))
    if entry is None:
        return 0
    base_cell, num_rots = entry
    h = _set_base_cell(h, base_cell)
    if base_cell in PENTAGON_BASE_CELLS:
        if _leading_nonzero_digit(h) == K_AXES_DIGIT:
            if _base_cell_is_cw_offset(base_cell, face):
                h = _rotate60_cw(h)
            else:
                h = _rotate60_ccw(h)
        for _ in range(num_rots):
            h = _rotate_pent60_ccw(h)
    else:
        for _ in range(num_rots):
            h = _rotate60_ccw(h)
    return h


def _adjust_overage_class_ii(
    face: int, coord, res: int, pent_leading_4: bool, substrate: bool
):
    """Move a FaceIJK that falls beyond its face patch onto the
    adjacent icosahedron face. Returns (overage, face, coord)."""
    max_dim = MAX_DIM_BY_CII_RES[res]
    if substrate:
        max_dim *= 3
    i, j, k = coord
    s = i + j + k
    if substrate and s == max_dim:
        return FACE_EDGE, face, coord
    if s <= max_dim:
        return NO_OVERAGE, face, coord
    if k > 0:
        if j > 0:
            quad = JK_QUAD
        else:
            quad = KI_QUAD
            if pent_leading_4:
                # rotate out of the missing k-axes sub-sequence
                origin = (max_dim, 0, 0)
                tmp = _ijk_rotate60_cw(
                    (i - origin[0], j - origin[1], k - origin[2])
                )
                i, j, k = (
                    tmp[0] + origin[0],
                    tmp[1] + origin[1],
                    tmp[2] + origin[2],
                )
    else:
        quad = IJ_QUAD
    nb_face, ccw_rot, translate = _DERIVED.face_neighbors[(face, quad)]
    c = (i, j, k)
    for _ in range(ccw_rot):
        c = _ijk_rotate60_ccw(c)
    unit_scale = UNIT_SCALE_BY_CII_RES[res]
    if substrate:
        unit_scale *= 3
    c = _ijk_normalize(
        c[0] + translate[0] * unit_scale,
        c[1] + translate[1] * unit_scale,
        c[2] + translate[2] * unit_scale,
    )
    overage = NEW_FACE
    if substrate and sum(c) == max_dim:
        overage = FACE_EDGE
    return overage, nb_face, c


def _h3_to_face_ijk_home(h: int):
    """Digits applied from the base cell home face, before overage."""
    bc = get_base_cell(h)
    if bc in PENTAGON_BASE_CELLS and _leading_nonzero_digit(h) == IK_AXES_DIGIT:
        h = _rotate60_cw(h)
    face, home, _, _ = BASE_CELL_DATA[bc]
    res = get_resolution(h)
    ijk = tuple(home)
    possible_overage = True
    if bc not in PENTAGON_BASE_CELLS and (
        res == 0 or home == (0, 0, 0)
    ):
        possible_overage = False
    for r in range(1, res + 1):
        if is_class_iii(r):
            ijk = _down_ap7(ijk)
        else:
            ijk = _down_ap7r(ijk)
        ijk = _neighbor_ijk(ijk, _get_digit(h, r))
    return h, face, ijk, possible_overage


def _h3_to_face_ijk(h: int):
    """FaceIJK of a cell, overage-adjusted (the cell's true face)."""
    h2, face, ijk, possible_overage = _h3_to_face_ijk_home(h)
    res = get_resolution(h)
    if not possible_overage:
        return face, ijk, res
    orig = ijk
    adj_res = res
    if is_class_iii(res):
        ijk = _down_ap7r(ijk)
        adj_res += 1
    bc = get_base_cell(h)
    pent_leading_4 = (
        bc in PENTAGON_BASE_CELLS and _leading_nonzero_digit(h2) == I_AXES_DIGIT
    )
    overage, face2, ijk2 = _adjust_overage_class_ii(
        face, ijk, adj_res, pent_leading_4, False
    )
    if overage != NO_OVERAGE:
        if bc in PENTAGON_BASE_CELLS:
            while True:
                overage, face2, ijk2 = _adjust_overage_class_ii(
                    face2, ijk2, adj_res, False, False
                )
                if overage == NO_OVERAGE:
                    break
        if adj_res != res:
            ijk2 = _up_ap7r(ijk2)
        return face2, ijk2, res
    if adj_res != res:
        return face, orig, res
    return face, ijk, res


# --- public API -----------------------------------------------------------


def latlng_to_cell(lat_deg: float, lng_deg: float, res: int) -> int:
    """Cell containing the point (reference U1 point path,
    h3-pyspark index_shape for Point geometry)."""
    lat = math.radians(lat_deg)
    lng = math.radians(lng_deg)
    face, x, y = _geo_to_hex2d(lat, lng, res)
    coord = _hex2d_to_ijk(x, y)
    return _face_ijk_to_h3(face, coord, res)


def cell_to_latlng(h: int) -> tuple[float, float]:
    """Cell center in degrees."""
    face, ijk, res = _h3_to_face_ijk(h)
    lat, lng = _face_ijk_to_geo(face, ijk, res)
    return (math.degrees(lat), math.degrees(lng))


def cell_to_parent(h: int, parent_res: int) -> int:
    """Ancestor at a coarser resolution — pure bit ops (reference U2,
    spark_udfs.py:12-21; also expressible in native Spark SQL, see
    functions/h3/sql.py)."""
    res = get_resolution(h)
    if parent_res > res or parent_res < 0:
        raise ValueError(f"invalid parent resolution {parent_res} for res {res}")
    if parent_res == res:
        return h
    out = _set_resolution(h, parent_res)
    for r in range(parent_res + 1, MAX_H3_RES + 1):
        out = _set_digit(out, r, INVALID_DIGIT)
    return out


def cell_to_children(h: int, child_res: int) -> list[int]:
    """All descendants at a finer resolution."""
    res = get_resolution(h)
    if child_res < res:
        raise ValueError("child_res must be >= cell resolution")
    if child_res == res:
        return [h]
    out = []
    pent = is_pentagon(h)
    base = _set_resolution(h, res + 1)
    for d in range(7):
        if pent and d == K_AXES_DIGIT:
            continue
        out.extend(cell_to_children(_set_digit(base, res + 1, d), child_res))
    return out


def cell_to_boundary(h: int) -> list[tuple[float, float]]:
    """Cell boundary vertices in degrees (lat, lng), ccw. Cells that
    cross icosahedron edges at Class III resolutions gain extra
    distortion vertices (up to 10), matching H3 semantics."""
    face, ijk, res = _h3_to_face_ijk(h)
    if is_pentagon(h):
        return _pent_boundary(face, ijk, res)
    adj_res, fijk_verts = _substrate_verts(face, ijk, res, 6)
    start = 0
    out: list[tuple[float, float]] = []
    last_face = -1
    last_overage = NO_OVERAGE
    additional = 1  # test last edge for a crossing as well
    for vert in range(start, start + 6 + additional):
        v = vert % 6
        vf, vc = fijk_verts[v]
        overage, vface, vcoord = _adjust_overage_class_ii(
            vf, vc, adj_res, False, True
        )
        while overage == NEW_FACE:
            overage, vface, vcoord = _adjust_overage_class_ii(
                vface, vcoord, adj_res, False, True
            )
        if (
            is_class_iii(res)
            and vert > start
            and vface != last_face
            and last_overage != FACE_EDGE
        ):
            # the edge crosses an icosahedron edge: add the intersection
            last_v = (v + 5) % 6
            p0 = _ijk_to_hex2d(fijk_verts[last_v][1])
            p1 = _ijk_to_hex2d(fijk_verts[v][1])
            face2 = vface if last_face == face else last_face
            quad = _DERIVED.adjacent_face_dir.get((face, face2))
            if quad is not None:
                e0, e1 = _face_edge(quad, adj_res)
                inter = _v2d_intersect(p0, p1, e0, e1)
                if inter is not None and not (
                    _v2d_almost_equals(p0, inter)
                    or _v2d_almost_equals(p1, inter)
                ):
                    lat, lng = _hex2d_to_geo(
                        inter[0], inter[1], face, adj_res, True
                    )
                    out.append((math.degrees(lat), math.degrees(lng)))
        if vert < start + 6:
            x, y = _ijk_to_hex2d(vcoord)
            lat, lng = _hex2d_to_geo(x, y, vface, adj_res, True)
            out.append((math.degrees(lat), math.degrees(lng)))
        last_face = vface
        last_overage = overage
    return out


def _substrate_verts(face: int, ijk, res: int, n: int):
    """The first ``n`` boundary vertices of a cell on the substrate
    grid of its home face (aperture 33r, plus 7r at Class III), ccw
    from the i axis and before overage: (adj_res, [(face, ijk), ...]).
    Pentagons take the first five (the sixth lies in the deleted k
    subsequence)."""
    center = _down_ap3r(_down_ap3(ijk))
    adj_res = res
    if is_class_iii(res):
        center = _down_ap7r(center)
        adj_res += 1
    verts_tbl = _VERTS_CIII if is_class_iii(res) else _VERTS_CII
    verts = [
        (
            face,
            _ijk_normalize(
                center[0] + verts_tbl[v][0],
                center[1] + verts_tbl[v][1],
                center[2] + verts_tbl[v][2],
            ),
        )
        for v in range(n)
    ]
    return adj_res, verts


def _face_edge(quad: int, adj_res: int):
    """The two hex2d corners of the icosahedron face edge on ``quad``
    at substrate resolution ``adj_res``."""
    max_dim = MAX_DIM_BY_CII_RES[adj_res]
    v0 = (3.0 * max_dim, 0.0)
    v1 = (-1.5 * max_dim, 3.0 * M_SIN60 * max_dim)
    v2 = (-1.5 * max_dim, -3.0 * M_SIN60 * max_dim)
    return {IJ_QUAD: (v0, v1), JK_QUAD: (v1, v2), KI_QUAD: (v2, v0)}[quad]


def _pent_boundary(face: int, ijk, res: int) -> list[tuple[float, float]]:
    """Pentagon boundary in degrees (lat, lng), after H3's
    _faceIjkPentToCellBoundary: five vertices, each moved onto its own
    face. Every Class III pentagon edge crosses an icosahedron edge,
    so there each edge also gains its crossing point (10 vertices),
    found in the frame of the face of the edge's first vertex."""
    adj_res, verts = _substrate_verts(face, ijk, res, 5)
    fijk = []
    for vface, vcoord in verts:
        overage = NEW_FACE
        while overage == NEW_FACE:
            overage, vface, vcoord = _adjust_overage_class_ii(
                vface, vcoord, adj_res, False, True
            )
        fijk.append((vface, vcoord))
    out: list[tuple[float, float]] = []
    for v, (vface, vcoord) in enumerate(fijk):
        x, y = _ijk_to_hex2d(vcoord)
        lat, lng = _hex2d_to_geo(x, y, vface, adj_res, True)
        out.append((math.degrees(lat), math.degrees(lng)))
        if not is_class_iii(res):
            continue
        # the next vertex, unfolded into this vertex's face frame
        nface, c = fijk[(v + 1) % 5]
        quad = _DERIVED.adjacent_face_dir[(nface, vface)]
        _, ccw_rot, translate = _DERIVED.face_neighbors[(nface, quad)]
        for _ in range(ccw_rot):
            c = _ijk_rotate60_ccw(c)
        scale = UNIT_SCALE_BY_CII_RES[adj_res] * 3
        c = _ijk_normalize(
            c[0] + translate[0] * scale,
            c[1] + translate[1] * scale,
            c[2] + translate[2] * scale,
        )
        e0, e1 = _face_edge(
            _DERIVED.adjacent_face_dir[(vface, nface)], adj_res
        )
        x, y = _v2d_intersect(_ijk_to_hex2d(vcoord), _ijk_to_hex2d(c), e0, e1)
        lat, lng = _hex2d_to_geo(x, y, vface, adj_res, True)
        out.append((math.degrees(lat), math.degrees(lng)))
    return out


# substrate vertex offsets (faceijk.c vertsCII / vertsCIII)
_VERTS_CII = [(2, 1, 0), (1, 2, 0), (0, 2, 1), (0, 1, 2), (1, 0, 2), (2, 0, 1)]
_VERTS_CIII = [(5, 4, 0), (1, 5, 0), (0, 5, 4), (0, 1, 5), (4, 0, 5), (5, 0, 1)]


def _v2d_intersect(p0, p1, e0, e1):
    s1 = (p1[0] - p0[0], p1[1] - p0[1])
    s2 = (e1[0] - e0[0], e1[1] - e0[1])
    denom = -s2[0] * s1[1] + s1[0] * s2[1]
    if denom == 0.0:
        return None
    t = (s2[0] * (p0[1] - e0[1]) - s2[1] * (p0[0] - e0[0])) / denom
    return (p0[0] + t * s1[0], p0[1] + t * s1[1])


def _v2d_almost_equals(a, b, eps: float = 1e-9) -> bool:
    return abs(a[0] - b[0]) < eps and abs(a[1] - b[1]) < eps
