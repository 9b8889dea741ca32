"""Vectorized (numpy) batch implementation of ``latlng_to_cell``.

Bit-compatible with the scalar kernel in ``core.py`` — every floating
op is performed in the same order on float64, so borderline points
resolve to the same cell. Rows that land on a pentagon base cell (12
of 122; the digit-rotation special cases there are branchy and rare)
fall back to the scalar path.

This is the hot function of the whole geo engine: every sampled point
of every line/polygon boundary and every POINT feature goes through
it. The scalar path costs ~65 µs/point; this path amortizes to well
under 1 µs/point at batch sizes the Arrow reader produces.
"""

from __future__ import annotations

import math

import numpy as np

from h3_indexer_spark.functions.h3 import core
from h3_indexer_spark.functions.h3.tables import (
    FACE_AXES_AZ_RADS_CII,
    FACE_CENTER_GEO,
    INV_RES0_U_GNOMONIC,
    M_AP7_ROT_RADS,
    M_SIN60,
    M_SQRT7,
    NUM_ICOSA_FACES,
    PENTAGON_BASE_CELLS,
)

_TWO_PI = 2.0 * math.pi

# --- static arrays --------------------------------------------------------

_FACE_VEC3 = np.asarray(
    [core._geo_to_vec3(lat, lng) for lat, lng in FACE_CENTER_GEO],
    dtype=np.float64,
)  # (20, 3)
_FACE_LAT = np.asarray([g[0] for g in FACE_CENTER_GEO], dtype=np.float64)
_FACE_LNG = np.asarray([g[1] for g in FACE_CENTER_GEO], dtype=np.float64)
_FACE_AX0 = np.asarray(
    [FACE_AXES_AZ_RADS_CII[f][0] for f in range(NUM_ICOSA_FACES)],
    dtype=np.float64,
)

# digit of a normalized unit ijk: index by i*4 + j*2 + k
_UNIT_DIGIT = np.full(8, core.INVALID_DIGIT, dtype=np.int64)
for _d, (_i, _j, _k) in enumerate(core.UNIT_VECS):
    _UNIT_DIGIT[_i * 4 + _j * 2 + _k] = _d

_ROT_CCW_ARR = np.zeros(8, dtype=np.int64)
for _src, _dst in core._ROT_CCW.items():
    _ROT_CCW_ARR[_src] = _dst

_ROT_CW_ARR = np.zeros(8, dtype=np.int64)
for _src, _dst in core._ROT_CW.items():
    _ROT_CW_ARR[_src] = _dst

_CW_OFFSET_TBL = None


def _cw_offset_table():
    """(base_cell, face) → is-cw-offset bool (BASE_CELL_DATA[bc][3])."""
    global _CW_OFFSET_TBL
    if _CW_OFFSET_TBL is None:
        from h3_indexer_spark.functions.h3.tables import BASE_CELL_DATA

        tbl = np.zeros((len(BASE_CELL_DATA), NUM_ICOSA_FACES), dtype=bool)
        for bc_, data in enumerate(BASE_CELL_DATA):
            for f in data[3]:
                if 0 <= f < NUM_ICOSA_FACES:
                    tbl[bc_, f] = True
        _CW_OFFSET_TBL = tbl
    return _CW_OFFSET_TBL


def _rotate_digits_v(hs: np.ndarray, res: int, table: np.ndarray):
    """Rotate every digit 1..res of each cell id through ``table``."""
    for rr_ in range(1, res + 1):
        shift = 3 * (core.MAX_H3_RES - rr_)
        d = (hs >> shift) & 0x7
        hs = (hs & ~np.int64(0x7 << shift)) | (table[d] << shift)
    return hs


def _rotate_pent60_ccw_v(hs: np.ndarray, res: int) -> np.ndarray:
    """Vector twin of core._rotate_pent60_ccw (lockstep over digits:
    rotate, and on the first nonzero digit, if it rotated into the
    deleted K subsequence, apply one extra full ccw rotation)."""
    found = np.zeros(hs.shape[0], dtype=bool)
    for rr_ in range(1, res + 1):
        shift = 3 * (core.MAX_H3_RES - rr_)
        d = (hs >> shift) & 0x7
        rotd = _ROT_CCW_ARR[d]
        hs = (hs & ~np.int64(0x7 << shift)) | (rotd << shift)
        newly = ~found & (rotd != 0)
        found |= newly
        kmask = newly & (rotd == core.K_AXES_DIGIT)
        if kmask.any():
            hs[kmask] = _rotate_digits_v(hs[kmask], res, _ROT_CCW_ARR)
    return hs

_PENTAGONS = np.asarray(sorted(PENTAGON_BASE_CELLS), dtype=np.int64)

# face_patch → dense (face, i, j, k) int lookup arrays
_PATCH_BC = np.full((NUM_ICOSA_FACES, 3, 3, 3), -1, dtype=np.int64)
_PATCH_ROT = np.zeros((NUM_ICOSA_FACES, 3, 3, 3), dtype=np.int64)
for (_f, _i, _j, _k), (_bc, _rot) in core._DERIVED.face_patch.items():
    _PATCH_BC[_f, _i, _j, _k] = _bc
    _PATCH_ROT[_f, _i, _j, _k] = _rot


# --- vector helpers (same op order as core.py scalars) --------------------


def _pos_angle_v(a: np.ndarray) -> np.ndarray:
    a = np.where(a < 0.0, a + _TWO_PI, a)
    return np.where(a >= _TWO_PI, a - _TWO_PI, a)


def _lround_v(x: np.ndarray) -> np.ndarray:
    return np.where(
        x >= 0, np.floor(x + 0.5), np.ceil(x - 0.5)
    ).astype(np.int64)


def _normalize_v(i, j, k):
    # The scalar normalize (shift negatives axis-by-axis, then subtract
    # the min) always lands on the unique representative with min == 0
    # and all components >= 0 while preserving the (i-j, j-k) class —
    # for integer coords that is exactly "subtract the componentwise
    # min", so the whole branch sequence collapses to two array ops.
    m = np.minimum(np.minimum(i, j), k)
    return i - m, j - m, k - m


def _up_ap7_v(i, j, k):
    a = i - k
    b = j - k
    return _normalize_v(
        _lround_v((3 * a - b) / 7.0),
        _lround_v((a + 2 * b) / 7.0),
        np.zeros_like(i),
    )


def _up_ap7r_v(i, j, k):
    a = i - k
    b = j - k
    return _normalize_v(
        _lround_v((2 * a + b) / 7.0),
        _lround_v((3 * b - a) / 7.0),
        np.zeros_like(i),
    )


def _down_ap7_v(i, j, k):
    return _normalize_v(3 * i + j, 3 * j + k, i + 3 * k)


def _down_ap7r_v(i, j, k):
    return _normalize_v(3 * i + k, i + 3 * j, j + 3 * k)


def _hex2d_to_ijk_v(x: np.ndarray, y: np.ndarray):
    """Vector transcription of core._hex2d_to_ijk (branch tree →
    masks; same comparisons, same arithmetic)."""
    a1 = np.abs(x)
    a2 = np.abs(y)
    x2 = a2 / M_SIN60
    x1 = a1 + x2 / 2.0
    m1 = x1.astype(np.int64)  # truncation of non-negative == floor
    m2 = x2.astype(np.int64)
    r1 = x1 - m1
    r2 = x2 - m2

    # i/j start as m1/m2 and get +1 under the same conditions as scalar
    i = m1.copy()
    j = m2.copy()

    c_lo = r1 < 0.5
    c_lo_lo = r1 < (1.0 / 3.0)
    c_hi_lo = r1 < (2.0 / 3.0)

    # r1 < 1/3
    b1 = c_lo & c_lo_lo
    j = np.where(b1 & ~(r2 < (1.0 + r1) / 2.0), m2 + 1, j)
    # 1/3 <= r1 < 1/2
    b2 = c_lo & ~c_lo_lo
    j = np.where(b2 & ~(r2 < (1.0 - r1)), m2 + 1, j)
    i = np.where(b2 & ((1.0 - r1) <= r2) & (r2 < 2.0 * r1), m1 + 1, i)
    # 1/2 <= r1 < 2/3
    b3 = ~c_lo & c_hi_lo
    j = np.where(b3 & ~(r2 < (1.0 - r1)), m2 + 1, j)
    i = np.where(
        b3 & ~(((2.0 * r1 - 1.0) < r2) & (r2 < (1.0 - r1))), m1 + 1, i
    )
    # r1 >= 2/3
    b4 = ~c_lo & ~c_hi_lo
    i = np.where(b4, m1 + 1, i)
    j = np.where(b4 & ~(r2 < r1 / 2.0), m2 + 1, j)

    # fold across axes
    xneg = x < 0.0
    jeven = (j % 2) == 0
    axisi_e = j // 2
    axisi_o = (j + 1) // 2
    i = np.where(
        xneg & jeven,
        i - 2 * (i - axisi_e),
        np.where(xneg, i - (2 * (i - axisi_o) + 1), i),
    )
    k = np.zeros_like(i)
    yneg = y < 0.0
    i = np.where(yneg, i - (2 * j + 1) // 2, i)
    j = np.where(yneg, -j, j)
    return _normalize_v(i, j, k)


# --- the batch kernel -----------------------------------------------------


def cell_area_km2_batch(cells: np.ndarray) -> np.ndarray:
    """Spheroid areas (km²) for an int64 cell-id array: the rings of
    cell_boundary_batch (distortion vertices included) through
    geodesy.spheroid_ring_areas_m2."""
    from h3_indexer_spark.functions import geodesy

    pts, nv = cell_boundary_batch(cells)
    return geodesy.spheroid_ring_areas_m2(pts, nv) / 1.0e6


def _face_ijk_batch(h, res, MAX_DIM_BY_CII_RES):
    """Vector twin of core._h3_to_face_ijk: true (face, i, j, k) after
    overage adjustment, plus a fallback mask. Pentagon-DESCENDANT
    hexagon cells are handled in-line (leading-IK cw pre-rotation,
    pent-leading-4 overage rotation, repeated adjustment rounds);
    only true pentagon cells (all digits 0 — twelve per resolution
    globally) remain on the scalar path."""
    n = h.shape[0]
    bc = (h >> 45) & 0x7F
    pent = np.isin(bc, _PENTAGONS)

    # leading nonzero digit of pentagon-descendant rows
    lead = np.zeros(n, dtype=np.int64)
    if pent.any():
        for r in range(1, res + 1):
            shift = 3 * (core.MAX_H3_RES - r)
            d = (h >> shift) & 0x7
            lead = np.where(pent & (lead == 0) & (d != 0), d, lead)
    fallback = pent & (lead == 0)  # true pentagons go scalar

    # leading-IK descendants rotate cw before the walk
    # (scalar _h3_to_face_ijk_home, core.py:584-585)
    hw = h
    rot_rows = pent & (lead == core.IK_AXES_DIGIT)
    if rot_rows.any():
        hw = h.copy()
        hw[rot_rows] = _rotate_digits_v(hw[rot_rows], res, _ROT_CW_ARR)
    pent4 = pent & (lead == core.I_AXES_DIGIT)

    # base-cell home face + ijk
    if not hasattr(_face_ijk_batch, "_bc_arrays"):
        from h3_indexer_spark.functions.h3.tables import BASE_CELL_DATA

        faces = np.asarray([d[0] for d in BASE_CELL_DATA], dtype=np.int64)
        hi = np.asarray([d[1][0] for d in BASE_CELL_DATA], dtype=np.int64)
        hj = np.asarray([d[1][1] for d in BASE_CELL_DATA], dtype=np.int64)
        hk = np.asarray([d[1][2] for d in BASE_CELL_DATA], dtype=np.int64)
        ui = np.asarray([u[0] for u in core.UNIT_VECS], dtype=np.int64)
        uj = np.asarray([u[1] for u in core.UNIT_VECS], dtype=np.int64)
        uk = np.asarray([u[2] for u in core.UNIT_VECS], dtype=np.int64)
        _face_ijk_batch._bc_arrays = (faces, hi, hj, hk, ui, uj, uk)
    faces_t, hi_t, hj_t, hk_t, ui_t, uj_t, uk_t = _face_ijk_batch._bc_arrays
    face = faces_t[bc]
    i, j, k = hi_t[bc].copy(), hj_t[bc].copy(), hk_t[bc].copy()
    home_origin = (i == 0) & (j == 0) & (k == 0)

    # digit walk down to res (scalar _h3_to_face_ijk_home)
    for r in range(1, res + 1):
        if core.is_class_iii(r):
            i, j, k = _down_ap7_v(i, j, k)
        else:
            i, j, k = _down_ap7r_v(i, j, k)
        shift = 3 * (core.MAX_H3_RES - r)
        d = (hw >> shift) & 0x7
        i, j, k = _normalize_v(i + ui_t[d], j + uj_t[d], k + uk_t[d])

    # overage adjustment (scalar _h3_to_face_ijk): cells whose home-face
    # ijk lies beyond the face patch move to the adjacent face. Hexagon
    # cells with res == 0 or a home-origin base cell never overage;
    # pentagon descendants always can, and may need repeated rounds
    # (scalar while-loop, core.py:622-628).
    if res > 0:
        possible = pent | ~home_origin
    else:
        possible = pent.copy()
    adj = res + (1 if core.is_class_iii(res) else 0)
    if core.is_class_iii(res):
        ai, aj, ak = _down_ap7r_v(i, j, k)
    else:
        ai, aj, ak = i, j, k
    max_dim = MAX_DIM_BY_CII_RES[adj]
    adjusted = np.zeros(n, dtype=bool)
    for round_ in range(4):
        s = ai + aj + ak
        over = possible & (s > max_dim)
        if round_ > 0:
            over &= pent  # only pentagon descendants repeat
        if not over.any():
            break
        fo, io, jo, ko = _overage_adjust_v(
            face[over], ai[over], aj[over], ak[over], adj,
            MAX_DIM_BY_CII_RES, substrate=False,
            pent4=pent4[over] if round_ == 0 else None,
        )
        face = face.copy()
        face[over] = fo
        ai, aj, ak = ai.copy(), aj.copy(), ak.copy()
        ai[over], aj[over], ak[over] = io, jo, ko
        adjusted |= over
    # anything still overaging after the rounds: scalar fallback
    fallback = fallback | (possible & pent & ((ai + aj + ak) > max_dim))
    if adjusted.any():
        if core.is_class_iii(res):
            io, jo, ko = _up_ap7r_v(
                ai[adjusted], aj[adjusted], ak[adjusted]
            )
        else:
            io, jo, ko = ai[adjusted], aj[adjusted], ak[adjusted]
        i, j, k = i.copy(), j.copy(), k.copy()
        i[adjusted], j[adjusted], k[adjusted] = io, jo, ko
    return face, i, j, k, fallback


def cell_to_latlng_batch(cells: np.ndarray) -> tuple:
    """Cell centers in degrees for an int64 cell array — vector twin of
    core.cell_to_latlng (pentagons fall back scalar). Returns
    (lat_deg, lng_deg) float64 arrays."""
    from h3_indexer_spark.functions.h3.tables import (
        MAX_DIM_BY_CII_RES,
        RES0_U_GNOMONIC,
    )

    cells = np.asarray(cells, dtype=np.int64)
    n = cells.shape[0]
    lat_out = np.zeros(n, dtype=np.float64)
    lng_out = np.zeros(n, dtype=np.float64)
    if n == 0:
        return lat_out, lng_out
    res_all = (cells >> 52) & 0xF
    for res in np.unique(res_all):
        res = int(res)
        sel = np.nonzero(res_all == res)[0]
        h = cells[sel]
        face, i, j, k, fallback = _face_ijk_batch(h, res, MAX_DIM_BY_CII_RES)
        x = (i - k) - 0.5 * (j - k)
        y = (j - k) * M_SIN60
        r = np.hypot(x, y)
        theta = np.arctan2(y, x)
        for _ in range(res):
            r = r / M_SQRT7
        r = r * RES0_U_GNOMONIC
        r = np.arctan(r)
        if core.is_class_iii(res):
            theta = _pos_angle_v(theta + M_AP7_ROT_RADS)
        theta = _pos_angle_v(_FACE_AX0[face] - theta)
        fc_lat = _FACE_LAT[face]
        fc_lng = _FACE_LNG[face]
        tiny = r < core.EPSILON
        fallback = fallback | (theta < core.EPSILON) | (
            np.abs(theta - math.pi) < core.EPSILON
        )
        sinlat = np.sin(fc_lat) * np.cos(r) + np.cos(fc_lat) * np.sin(
            r
        ) * np.cos(theta)
        sinlat = np.clip(sinlat, -1.0, 1.0)
        lat2 = np.arcsin(sinlat)
        fallback |= np.abs(np.abs(lat2) - math.pi / 2) < core.EPSILON
        with np.errstate(divide="ignore", invalid="ignore"):
            invcos = 1.0 / np.cos(lat2)
            sinlng = np.sin(theta) * np.sin(r) * invcos
            coslng = (
                (np.cos(r) - np.sin(fc_lat) * np.sin(lat2))
                / np.cos(fc_lat)
                * invcos
            )
        sinlng = np.clip(sinlng, -1.0, 1.0)
        coslng = np.clip(coslng, -1.0, 1.0)
        lng2 = fc_lng + np.arctan2(sinlng, coslng)
        lng2 = np.where(lng2 > math.pi, lng2 - 2 * math.pi, lng2)
        lng2 = np.where(lng2 < -math.pi, lng2 + 2 * math.pi, lng2)
        lat2 = np.where(tiny, fc_lat, lat2)
        lng2 = np.where(tiny, fc_lng, lng2)
        if fallback.any():
            for ixl in np.nonzero(fallback)[0]:
                sl, sn = core.cell_to_latlng(int(h[ixl]))
                lat2[ixl] = math.radians(sl)
                lng2[ixl] = math.radians(sn)
        lat_out[sel] = np.degrees(lat2)
        lng_out[sel] = np.degrees(lng2)
    return lat_out, lng_out


def _hex_boundary_batch_one_res(h, res, MAX_DIM_BY_CII_RES, RES0_U_GNOMONIC):
    """Boundary vertices for same-res hexagon cells: (lat (n, 6),
    lng (n, 6) degree arrays, fallback mask). Rows flagged fallback
    (pentagons, cells whose boundary leaves the home face and gains
    distortion vertices) must be recomputed via the scalar
    core.cell_to_boundary."""
    n = h.shape[0]
    face, i, j, k, fallback = _face_ijk_batch(h, res, MAX_DIM_BY_CII_RES)

    # substrate boundary vertices on the home face
    ci, cj, ck = _down_ap3r_v(*_down_ap3_v(i, j, k))
    adj_res = res
    if core.is_class_iii(res):
        ci, cj, ck = _down_ap7r_v(ci, cj, ck)
        adj_res += 1
    verts_tbl = core._VERTS_CIII if core.is_class_iii(res) else core._VERTS_CII
    max_dim3 = MAX_DIM_BY_CII_RES[adj_res] * 3
    lat_v = np.empty((n, 6), dtype=np.float64)
    lng_v = np.empty((n, 6), dtype=np.float64)
    fc_lat = _FACE_LAT[face]
    fc_lng = _FACE_LNG[face]
    ax0 = _FACE_AX0[face]
    for v in range(6):
        vi, vj, vk = _normalize_v(
            ci + verts_tbl[v][0], cj + verts_tbl[v][1], ck + verts_tbl[v][2]
        )
        fallback |= (vi + vj + vk) > max_dim3
        x = (vi - vk) - 0.5 * (vj - vk)
        y = (vj - vk) * M_SIN60
        r = np.hypot(x, y)
        theta = np.arctan2(y, x)
        for _ in range(adj_res):
            r = r / M_SQRT7
        r = r / 3.0
        r = r * RES0_U_GNOMONIC
        r = np.arctan(r)
        # scalar _hex2d_to_geo: pos_angle(ax0 - raw_atan2) — do NOT
        # pre-normalize theta (different rounding, and the spherical
        # excess amplifies ulp-level vertex shifts at fine resolutions)
        theta = _pos_angle_v(ax0 - theta)
        # _geo_az_distance general branch; special angles → fallback
        fallback |= (theta < core.EPSILON) | (
            np.abs(theta - math.pi) < core.EPSILON
        )
        fallback |= r < core.EPSILON
        sinlat = np.sin(fc_lat) * np.cos(r) + np.cos(fc_lat) * np.sin(
            r
        ) * np.cos(theta)
        sinlat = np.clip(sinlat, -1.0, 1.0)
        lat2 = np.arcsin(sinlat)
        fallback |= np.abs(np.abs(lat2) - math.pi / 2) < core.EPSILON
        with np.errstate(divide="ignore", invalid="ignore"):
            invcos = 1.0 / np.cos(lat2)
            sinlng = np.sin(theta) * np.sin(r) * invcos
            coslng = (
                (np.cos(r) - np.sin(fc_lat) * np.sin(lat2))
                / np.cos(fc_lat)
                * invcos
            )
        sinlng = np.clip(sinlng, -1.0, 1.0)
        coslng = np.clip(coslng, -1.0, 1.0)
        lng2 = fc_lng + np.arctan2(sinlng, coslng)
        lng2 = np.where(lng2 > math.pi, lng2 - 2 * math.pi, lng2)
        lng2 = np.where(lng2 < -math.pi, lng2 + 2 * math.pi, lng2)
        lat_v[:, v] = np.degrees(lat2)
        lng_v[:, v] = np.degrees(lng2)
    return lat_v, lng_v, fallback


MAX_BOUNDARY_VERTS = 10  # H3 max: hexagon + up to 4 distortion vertices


def cell_boundary_batch(cells: np.ndarray) -> tuple:
    """Boundary rings for an int64 cell array — vector twin of
    core.cell_to_boundary. Returns ``(pts, nv)`` where ``pts`` is
    (n, MAX_BOUNDARY_VERTS, 2) float64 of (lng, lat) degree vertices
    (zero-padded) and ``nv`` the per-row vertex count. Pentagons and
    face-crossing cells (distortion vertices) fill from the scalar
    path, so geometry is identical to the scalar ring for every cell."""
    cells = np.asarray(cells, dtype=np.int64)
    n = cells.shape[0]
    pts = np.zeros((n, MAX_BOUNDARY_VERTS, 2), dtype=np.float64)
    nv = np.zeros(n, dtype=np.int64)
    if n == 0:
        return pts, nv
    from h3_indexer_spark.functions.h3.tables import (
        MAX_DIM_BY_CII_RES,
        RES0_U_GNOMONIC,
    )

    res_all = (cells >> 52) & 0xF
    for res in np.unique(res_all):
        sel = np.nonzero(res_all == res)[0]
        h = cells[sel]
        lat_v, lng_v, fallback = _hex_boundary_batch_one_res(
            h, int(res), MAX_DIM_BY_CII_RES, RES0_U_GNOMONIC
        )
        pts[sel, :6, 0] = lng_v
        pts[sel, :6, 1] = lat_v
        nv[sel] = 6
        if fallback.any():
            from h3_indexer_spark.functions.udfs import _cell_boundary_ring

            for ix in np.nonzero(fallback)[0]:
                ring = _cell_boundary_ring(int(h[ix]))  # (lng, lat), memo
                g = sel[ix]
                m = min(len(ring), MAX_BOUNDARY_VERTS)
                for v in range(m):
                    pts[g, v, 0] = ring[v][0]
                    pts[g, v, 1] = ring[v][1]
                nv[g] = m
    return pts, nv


def _face_ijk_to_cell_batch(face, i, j, k, res: int):
    """Assemble H3 cell ids from (face, ijk-at-res) coordinates — the
    digit-derivation half of ``latlng_to_cell_batch`` factored out so
    exact IJK neighbor stepping can reuse it. Returns ``(h, ok)``;
    rows with ``ok`` False (pentagon base cells, coordinates outside
    the face patch) must be resolved by a scalar fallback."""
    n = face.shape[0]
    h = np.full(
        n,
        core._set_resolution(
            core._set_mode(core.H3_INIT, core._MODE_CELL), res
        ),
        dtype=np.int64,
    )
    for rr_ in range(res - 1, -1, -1):
        li, lj, lk = i, j, k
        if core.is_class_iii(rr_ + 1):
            i, j, k = _up_ap7_v(i, j, k)
            ci, cj, ck = _down_ap7_v(i, j, k)
        else:
            i, j, k = _up_ap7r_v(i, j, k)
            ci, cj, ck = _down_ap7r_v(i, j, k)
        di, dj, dk = _normalize_v(li - ci, lj - cj, lk - ck)
        digit = _UNIT_DIGIT[di * 4 + dj * 2 + dk]
        shift = 3 * (core.MAX_H3_RES - (rr_ + 1))
        h = (h & ~np.int64(0x7 << shift)) | (digit << shift)

    in_range = (i <= 2) & (j <= 2) & (k <= 2)
    ic = np.clip(i, 0, 2)
    jc = np.clip(j, 0, 2)
    kc = np.clip(k, 0, 2)
    bc = _PATCH_BC[face, ic, jc, kc]
    rots = _PATCH_ROT[face, ic, jc, kc]
    valid = in_range & (bc >= 0)

    h = (h & ~np.int64(0x7F << 45)) | (np.where(valid, bc, 0) << 45)

    pent = np.isin(bc, _PENTAGONS) & valid
    hex_rots = np.where(pent, 0, rots)
    max_rots = int(hex_rots.max()) if n else 0
    for step in range(max_rots):
        m = hex_rots > step
        if not m.any():
            break
        h[m] = _rotate_digits_v(h[m], res, _ROT_CCW_ARR)

    if pent.any():
        # pentagon base cells: K-leading adjustment, then pentagon
        # rotations (scalar _face_ijk_to_h3 order)
        rowsp = np.nonzero(pent)[0]
        hp = h[rowsp]
        lead = np.zeros(len(rowsp), dtype=np.int64)
        for rr_ in range(1, res + 1):
            shift = 3 * (core.MAX_H3_RES - rr_)
            d = (hp >> shift) & 0x7
            lead = np.where((lead == 0) & (d != 0), d, lead)
        k_lead = lead == core.K_AXES_DIGIT
        if k_lead.any():
            is_cw = _cw_offset_table()[bc[rowsp], face[rowsp]]
            m_cw = k_lead & is_cw
            m_ccw = k_lead & ~is_cw
            if m_cw.any():
                hp[m_cw] = _rotate_digits_v(hp[m_cw], res, _ROT_CW_ARR)
            if m_ccw.any():
                hp[m_ccw] = _rotate_digits_v(hp[m_ccw], res, _ROT_CCW_ARR)
        rp = rots[rowsp]
        for step in range(int(rp.max()) if len(rp) else 0):
            m = rp > step
            if not m.any():
                break
            hp[m] = _rotate_pent60_ccw_v(hp[m], res)
        h[rowsp] = hp

    ok = valid
    return np.where(ok, h, 0), ok


# face_neighbors → dense (face, quad) arrays: neighbor face, ccw
# rotations, translation
_NBR_FACE = np.zeros((NUM_ICOSA_FACES, 4), dtype=np.int64)
_NBR_ROT = np.zeros((NUM_ICOSA_FACES, 4), dtype=np.int64)
_NBR_TRANSLATE = np.zeros((3, NUM_ICOSA_FACES, 4), dtype=np.int64)
for (_f, _q), (_nf, _rot, _t) in core._DERIVED.face_neighbors.items():
    _NBR_FACE[_f, _q] = _nf
    _NBR_ROT[_f, _q] = _rot
    _NBR_TRANSLATE[:, _f, _q] = _t


def _ijk_rotate60_ccw_v(i, j, k):
    return _normalize_v(i + k, i + j, j + k)


def _overage_adjust_v(face, i, j, k, res, MAX_DIM_BY_CII_RES, substrate,
                      pent4=None):
    """Vector twin of core._adjust_overage_class_ii. All rows must
    already be known to overage (s > max_dim). ``pent4`` marks rows of
    pentagon-descendant cells whose leading digit is I (4): in the KI
    quadrant those rotate out of the deleted K-axes sub-sequence first
    (core.py:548-558)."""
    quad = np.where(k > 0, np.where(j > 0, core.JK_QUAD, core.KI_QUAD),
                    core.IJ_QUAD)
    if pent4 is not None:
        m = pent4 & (quad == core.KI_QUAD)
        if m.any():
            md = MAX_DIM_BY_CII_RES[res] * (3 if substrate else 1)
            ti_, tj_, tk_ = i[m] - md, j[m], k[m]
            # cw rotation (normalized, as scalar _ijk_rotate60_cw),
            # then translate back without renormalizing
            ri, rj, rk = _normalize_v(ti_ + tj_, tj_ + tk_, ti_ + tk_)
            i, j, k = i.copy(), j.copy(), k.copy()
            i[m], j[m], k[m] = ri + md, rj, rk
    nb_face = _NBR_FACE[face, quad]
    ccw = _NBR_ROT[face, quad]
    max_ccw = int(ccw.max()) if len(ccw) else 0
    for step in range(max_ccw):
        m = ccw > step
        if not m.any():
            break
        im, jm, km = _ijk_rotate60_ccw_v(i[m], j[m], k[m])
        i, j, k = i.copy(), j.copy(), k.copy()
        i[m], j[m], k[m] = im, jm, km
    from h3_indexer_spark.functions.h3.tables import UNIT_SCALE_BY_CII_RES

    scale = UNIT_SCALE_BY_CII_RES[res] * (3 if substrate else 1)
    i, j, k = _normalize_v(
        i + _NBR_TRANSLATE[0, face, quad] * scale,
        j + _NBR_TRANSLATE[1, face, quad] * scale,
        k + _NBR_TRANSLATE[2, face, quad] * scale,
    )
    return nb_face, i, j, k


def _down_ap3_v(i, j, k):
    return _normalize_v(2 * i + j, 2 * j + k, i + 2 * k)


def _down_ap3r_v(i, j, k):
    return _normalize_v(2 * i + k, i + 2 * j, j + 2 * k)


def latlng_to_cell_batch(
    lat_deg: np.ndarray, lng_deg: np.ndarray, res: int
) -> np.ndarray:
    """H3 cell ids (int64) for arrays of lat/lng degrees."""
    lat = np.radians(np.asarray(lat_deg, dtype=np.float64))
    lng = np.radians(np.asarray(lng_deg, dtype=np.float64))
    n = lat.shape[0]
    if n == 0:
        return np.empty(0, dtype=np.int64)

    # closest icosahedron face (same squared-distance arithmetic and
    # same strict-< tie behavior as the scalar loop); iterating over the
    # 20 faces avoids an (n, 20, 3) temporary — large fresh allocations
    # are punishingly slow on first touch in sandboxed kernels
    cl = np.cos(lat)
    vx = cl * np.cos(lng)
    vy = cl * np.sin(lng)
    vz = np.sin(lat)
    face = np.zeros(n, dtype=np.int64)
    sqd = np.full(n, 5.0)
    for f in range(NUM_ICOSA_FACES):
        fx, fy, fz = _FACE_VEC3[f]
        d = (fx - vx) ** 2 + (fy - vy) ** 2 + (fz - vz) ** 2
        m = d < sqd
        face[m] = f
        sqd[m] = d[m]

    # gnomonic hex2d on that face
    r = np.arccos(1.0 - sqd / 2.0)
    tiny = r < core.EPSILON
    fc_lat = _FACE_LAT[face]
    fc_lng = _FACE_LNG[face]
    az = np.arctan2(
        np.cos(lat) * np.sin(lng - fc_lng),
        np.cos(fc_lat) * np.sin(lat)
        - np.sin(fc_lat) * np.cos(lat) * np.cos(lng - fc_lng),
    )
    theta = _pos_angle_v(_FACE_AX0[face] - _pos_angle_v(az))
    if core.is_class_iii(res):
        theta = _pos_angle_v(theta - M_AP7_ROT_RADS)
    rr = np.tan(r) * INV_RES0_U_GNOMONIC
    for _ in range(res):
        rr = rr * M_SQRT7
    x = np.where(tiny, 0.0, rr * np.cos(theta))
    y = np.where(tiny, 0.0, rr * np.sin(theta))

    i, j, k = _hex2d_to_ijk_v(x, y)

    # digits from res down to 1, then the res-0 base-cell patch lookup
    out, ok = _face_ijk_to_cell_batch(face, i, j, k, res)

    # pentagon / invalid rows: scalar fallback (rare)
    fallback = ~ok
    if fallback.any():
        idx = np.nonzero(fallback)[0]
        latd = np.asarray(lat_deg, dtype=np.float64)
        lngd = np.asarray(lng_deg, dtype=np.float64)
        for ix in idx:
            out[ix] = core.latlng_to_cell(
                float(latd[ix]), float(lngd[ix]), res
            )
    return out
