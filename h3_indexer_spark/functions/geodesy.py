"""Spheroid (WGS84) and planar metrics.

Parity targets (SURVEY.md §2.6):
- G5 ``ST_Length`` / G6 ``ST_Area``: planar degree-space metrics (the
  reference's ratio numerators/denominators are planar).
- G7 ``ST_LengthSpheroid``: geodesic line length → ``total_length_km``.
- G8 ``ST_AreaSpheroid``: ellipsoidal polygon area → ``h3_area_km2`` /
  ``total_area_km2``.

The reference delegates G7/G8 to Sedona (GeographicLib under the hood).
Every spheroid area here — cells and features alike — comes from one
kernel, spheroid_ring_areas_m2 (signed authalic-latitude spherical
excess), which matches the reference's published cell areas to 6e-9
relative (six README/notebook goldens in tests/test_h3_kernel.py);
lengths use Vincenty's inverse formula (mm-level agreement with
GeographicLib for non-antipodal points).
"""

from __future__ import annotations

import math

# WGS84
_A = 6378137.0
_F = 1.0 / 298.257223563
_B = _A * (1.0 - _F)
_E2 = _F * (2.0 - _F)
_E = math.sqrt(_E2)


def _q(phi: float) -> float:
    s = math.sin(phi)
    return (1.0 - _E2) * (
        s / (1.0 - _E2 * s * s)
        - (1.0 / (2.0 * _E)) * math.log((1.0 - _E * s) / (1.0 + _E * s))
    )


_QP = _q(math.pi / 2.0)
AUTHALIC_RADIUS_M = _A * math.sqrt(_QP / 2.0)  # 6371007.1809... m


def vincenty_distance_m(
    lat1: float, lng1: float, lat2: float, lng2: float
) -> float:
    """Geodesic distance (meters) between two degree points on WGS84 —
    Vincenty's inverse formula with a haversine fallback for the rare
    non-converging near-antipodal case."""
    if lat1 == lat2 and lng1 == lng2:
        return 0.0
    L = math.radians(lng2 - lng1)
    u1 = math.atan((1.0 - _F) * math.tan(math.radians(lat1)))
    u2 = math.atan((1.0 - _F) * math.tan(math.radians(lat2)))
    sin_u1, cos_u1 = math.sin(u1), math.cos(u1)
    sin_u2, cos_u2 = math.sin(u2), math.cos(u2)
    lam = L
    for _ in range(200):
        sin_lam, cos_lam = math.sin(lam), math.cos(lam)
        sin_sigma = math.sqrt(
            (cos_u2 * sin_lam) ** 2
            + (cos_u1 * sin_u2 - sin_u1 * cos_u2 * cos_lam) ** 2
        )
        if sin_sigma == 0.0:
            return 0.0
        cos_sigma = sin_u1 * sin_u2 + cos_u1 * cos_u2 * cos_lam
        sigma = math.atan2(sin_sigma, cos_sigma)
        sin_alpha = cos_u1 * cos_u2 * sin_lam / sin_sigma
        cos_sq_alpha = 1.0 - sin_alpha * sin_alpha
        if cos_sq_alpha == 0.0:
            cos_2sm = 0.0  # equatorial line
        else:
            cos_2sm = cos_sigma - 2.0 * sin_u1 * sin_u2 / cos_sq_alpha
        C = _F / 16.0 * cos_sq_alpha * (4.0 + _F * (4.0 - 3.0 * cos_sq_alpha))
        lam_prev = lam
        lam = L + (1.0 - C) * _F * sin_alpha * (
            sigma
            + C
            * sin_sigma
            * (cos_2sm + C * cos_sigma * (-1.0 + 2.0 * cos_2sm * cos_2sm))
        )
        if abs(lam - lam_prev) < 1e-12:
            break
    else:
        return haversine_distance_m(lat1, lng1, lat2, lng2)
    u_sq = cos_sq_alpha * (_A * _A - _B * _B) / (_B * _B)
    A_coef = 1.0 + u_sq / 16384.0 * (
        4096.0 + u_sq * (-768.0 + u_sq * (320.0 - 175.0 * u_sq))
    )
    B_coef = u_sq / 1024.0 * (256.0 + u_sq * (-128.0 + u_sq * (74.0 - 47.0 * u_sq)))
    delta_sigma = (
        B_coef
        * sin_sigma
        * (
            cos_2sm
            + B_coef
            / 4.0
            * (
                cos_sigma * (-1.0 + 2.0 * cos_2sm * cos_2sm)
                - B_coef
                / 6.0
                * cos_2sm
                * (-3.0 + 4.0 * sin_sigma * sin_sigma)
                * (-3.0 + 4.0 * cos_2sm * cos_2sm)
            )
        )
    )
    return _B * A_coef * (sigma - delta_sigma)


def haversine_distance_m(
    lat1: float, lng1: float, lat2: float, lng2: float
) -> float:
    phi1, phi2 = math.radians(lat1), math.radians(lat2)
    dphi = phi2 - phi1
    dlam = math.radians(lng2 - lng1)
    h = (
        math.sin(dphi / 2.0) ** 2
        + math.cos(phi1) * math.cos(phi2) * math.sin(dlam / 2.0) ** 2
    )
    return 2.0 * AUTHALIC_RADIUS_M * math.asin(min(1.0, math.sqrt(h)))


def spheroid_line_length_m(coords: list[tuple[float, float]]) -> float:
    """Geodesic length of a polyline of (lng, lat) degree pairs
    (G7, ST_LengthSpheroid parity)."""
    total = 0.0
    for (x1, y1), (x2, y2) in zip(coords, coords[1:]):
        total += vincenty_distance_m(y1, x1, y2, x2)
    return total


# --- planar (degree-space) metrics: G5/G6 parity --------------------------


def planar_line_length(coords: list[tuple[float, float]]) -> float:
    """Euclidean length in degree space — the reference's PCT_LENGTH
    ratio metric (ST_Length on lon/lat geometries is planar)."""
    return sum(
        math.hypot(x2 - x1, y2 - y1)
        for (x1, y1), (x2, y2) in zip(coords, coords[1:])
    )


def planar_polygon_area(coords: list[tuple[float, float]]) -> float:
    """Shoelace area in degree space — the reference's PCT_AREA ratio
    metric (ST_Area on lon/lat geometries is planar)."""
    pts = list(coords)
    if len(pts) >= 2 and pts[0] == pts[-1]:
        pts = pts[:-1]
    if len(pts) < 3:
        return 0.0
    s = 0.0
    n = len(pts)
    for i in range(n):
        x1, y1 = pts[i]
        x2, y2 = pts[(i + 1) % n]
        s += x1 * y2 - x2 * y1
    return abs(s) / 2.0


def planar_ring_areas(pts, nv) -> "np.ndarray":
    """planar_polygon_area of many padded rings: ``pts`` is (R, cap, 2)
    (lng, lat), ``nv`` the (R,) count of distinct vertices of each open
    ring (rows with < 3 → 0). The same shoelace terms summed in the same
    vertex order (np.add.accumulate is sequential), so each value is
    bit-identical to planar_polygon_area's."""
    import numpy as np

    nv = np.asarray(nv, dtype=np.int64)
    cap = pts.shape[1]
    if cap == 0:
        return np.zeros(nv.shape[0], dtype=np.float64)
    j = np.arange(cap)[None, :]
    nxt = np.where(j + 1 < nv[:, None], j + 1, 0)
    x, y = pts[:, :, 0], pts[:, :, 1]
    terms = x * np.take_along_axis(y, nxt, 1) - np.take_along_axis(x, nxt, 1) * y
    terms[j >= nv[:, None]] = 0.0
    s = np.add.accumulate(terms, axis=1)[:, -1]
    return np.where(nv < 3, 0.0, np.abs(s) / 2.0)


# --- batched kernels (numpy) -----------------------------------------------


def vincenty_distance_m_batch(lat1, lng1, lat2, lng2):
    """Vector twin of vincenty_distance_m for degree arrays: lockstep
    masked iteration; rows that never converge (near-antipodal) fall
    back to haversine. Agrees with the scalar to sub-micrometer (the
    final evaluation uses the converged lambda, the scalar the
    second-to-last — they differ by < 1e-12 rad)."""
    import numpy as np

    lat1 = np.asarray(lat1, dtype=np.float64)
    lng1 = np.asarray(lng1, dtype=np.float64)
    lat2 = np.asarray(lat2, dtype=np.float64)
    lng2 = np.asarray(lng2, dtype=np.float64)
    n = lat1.shape[0]
    out = np.zeros(n, dtype=np.float64)
    if n == 0:
        return out
    same = (lat1 == lat2) & (lng1 == lng2)
    L = np.radians(lng2 - lng1)
    u1 = np.arctan((1.0 - _F) * np.tan(np.radians(lat1)))
    u2 = np.arctan((1.0 - _F) * np.tan(np.radians(lat2)))
    sin_u1, cos_u1 = np.sin(u1), np.cos(u1)
    sin_u2, cos_u2 = np.sin(u2), np.cos(u2)
    lam = L.copy()
    active = ~same
    zero_sigma = same.copy()
    for _ in range(200):
        if not active.any():
            break
        sin_lam, cos_lam = np.sin(lam), np.cos(lam)
        sin_sigma = np.sqrt(
            (cos_u2 * sin_lam) ** 2
            + (cos_u1 * sin_u2 - sin_u1 * cos_u2 * cos_lam) ** 2
        )
        deg = active & (sin_sigma == 0.0)
        zero_sigma |= deg
        active &= ~deg
        with np.errstate(divide="ignore", invalid="ignore"):
            cos_sigma = sin_u1 * sin_u2 + cos_u1 * cos_u2 * cos_lam
            sigma = np.arctan2(sin_sigma, cos_sigma)
            sin_alpha = cos_u1 * cos_u2 * sin_lam / sin_sigma
            cos_sq = 1.0 - sin_alpha * sin_alpha
            cos_2sm = np.where(
                cos_sq == 0.0,
                0.0,
                cos_sigma - 2.0 * sin_u1 * sin_u2 / np.where(
                    cos_sq == 0.0, 1.0, cos_sq
                ),
            )
        C = _F / 16.0 * cos_sq * (4.0 + _F * (4.0 - 3.0 * cos_sq))
        lam_new = L + (1.0 - C) * _F * sin_alpha * (
            sigma
            + C
            * sin_sigma
            * (cos_2sm + C * cos_sigma * (-1.0 + 2.0 * cos_2sm * cos_2sm))
        )
        done = active & (np.abs(lam_new - lam) < 1e-12)
        lam = np.where(active, lam_new, lam)
        active &= ~done
    # final evaluation from the converged lambda
    sin_lam, cos_lam = np.sin(lam), np.cos(lam)
    sin_sigma = np.sqrt(
        (cos_u2 * sin_lam) ** 2
        + (cos_u1 * sin_u2 - sin_u1 * cos_u2 * cos_lam) ** 2
    )
    cos_sigma = sin_u1 * sin_u2 + cos_u1 * cos_u2 * cos_lam
    sigma = np.arctan2(sin_sigma, cos_sigma)
    with np.errstate(divide="ignore", invalid="ignore"):
        sin_alpha = np.where(
            sin_sigma == 0.0, 0.0, cos_u1 * cos_u2 * sin_lam / np.where(
                sin_sigma == 0.0, 1.0, sin_sigma
            )
        )
    cos_sq = 1.0 - sin_alpha * sin_alpha
    cos_2sm = np.where(
        cos_sq == 0.0,
        0.0,
        cos_sigma - 2.0 * sin_u1 * sin_u2 / np.where(
            cos_sq == 0.0, 1.0, cos_sq
        ),
    )
    u_sq = cos_sq * (_A * _A - _B * _B) / (_B * _B)
    A_coef = 1.0 + u_sq / 16384.0 * (
        4096.0 + u_sq * (-768.0 + u_sq * (320.0 - 175.0 * u_sq))
    )
    B_coef = u_sq / 1024.0 * (
        256.0 + u_sq * (-128.0 + u_sq * (74.0 - 47.0 * u_sq))
    )
    delta = (
        B_coef
        * sin_sigma
        * (
            cos_2sm
            + B_coef
            / 4.0
            * (
                cos_sigma * (-1.0 + 2.0 * cos_2sm * cos_2sm)
                - B_coef
                / 6.0
                * cos_2sm
                * (-3.0 + 4.0 * sin_sigma * sin_sigma)
                * (-3.0 + 4.0 * cos_2sm * cos_2sm)
            )
        )
    )
    out = _B * A_coef * (sigma - delta)
    out = np.where(zero_sigma | same, 0.0, out)
    # rows still active after 200 rounds: haversine fallback
    if active.any():
        for ix in np.nonzero(active)[0]:
            out[ix] = haversine_distance_m(
                float(lat1[ix]), float(lng1[ix]),
                float(lat2[ix]), float(lng2[ix]),
            )
    return out


def spheroid_ring_areas_m2(pts, nv) -> "np.ndarray":
    """WGS84 areas (m²) of padded rings: ``pts`` is (R, cap, 2) float
    (lng, lat) degrees, ``nv`` the (R,) count of distinct vertices of
    each open ring (entries past it are ignored; rows with < 3 → 0).

    Authalic-latitude spherical excess, summed over the triangle fan
    from vertex 0 with the signed solid angle of each triangle (Van
    Oosterom & Strackee / Eriksson):
    ``tan(E/2) = a·(b×c) / (1 + a·b + b·c + c·a)``. Signed terms make
    reflex vertices and concave rings exact; the absolute value of
    the sum makes either winding positive. The triple product is taken
    on vertex differences (``a·((b−a)×(c−a))``, the same value), so
    the relative error grows as 1e-16 over a cell's angular size, not
    over its square (~3e-9 at resolution 15)."""
    import numpy as np

    nv = np.asarray(nv, dtype=np.int64)
    R = nv.shape[0]
    cap = int(nv.max()) if R else 0
    if cap < 3:
        return np.zeros(R, dtype=np.float64)
    # vertex-major (cap, R) arrays: each fan slice below is a block of
    # whole rows, so the elementwise work runs on contiguous memory
    pts = np.asarray(pts, dtype=np.float64)
    lam = np.radians(np.ascontiguousarray(pts[:, :cap, 0].T))
    s = np.sin(np.radians(np.ascontiguousarray(pts[:, :cap, 1].T)))
    # sine of the authalic latitude: q(phi) / q(90°)
    z = np.clip(
        (1.0 - _E2) * (s / (1.0 - _E2 * s * s) + np.arctanh(_E * s) / _E)
        / _QP,
        -1.0,
        1.0,
    )
    c = np.sqrt((1.0 - z) * (1.0 + z))
    x, y = c * np.cos(lam), c * np.sin(lam)
    ax, ay, az = x[0], y[0], z[0]  # fan apex
    bx, by, bz = x[1:-1], y[1:-1], z[1:-1]
    cx, cy, cz = x[2:], y[2:], z[2:]
    ux, uy, uz = bx - ax, by - ay, bz - az
    vx, vy, vz = cx - ax, cy - ay, cz - az
    num = (
        ax * (uy * vz - uz * vy)
        + ay * (uz * vx - ux * vz)
        + az * (ux * vy - uy * vx)
    )
    den = (
        1.0
        + (ax * bx + ay * by + az * bz)
        + (bx * cx + by * cy + bz * cz)
        + (cx * ax + cy * ay + cz * az)
    )
    excess = 2.0 * np.arctan2(num, den)
    fan = np.arange(cap - 2)[:, None] < (nv - 2)[None, :]
    # sequential fan sum (np.add.accumulate), not .sum(): numpy sums a
    # single ring pairwise, so an area would depend on the ring count
    total = np.add.accumulate(np.where(fan, excess, 0.0), axis=0)[-1]
    return np.abs(total) * AUTHALIC_RADIUS_M * AUTHALIC_RADIUS_M


def spheroid_polygon_area_m2_many(rings) -> "np.ndarray":
    """WGS84 areas (m²) of a list of (lng, lat) rings (closure optional,
    variable length): pads them and calls spheroid_ring_areas_m2."""
    import numpy as np

    opened = []
    for r in rings:
        pts = list(r)
        if len(pts) >= 2 and pts[0] == pts[-1]:
            pts = pts[:-1]
        opened.append(pts)
    nv = np.asarray([len(p) for p in opened], dtype=np.int64)
    cap = int(nv.max()) if len(opened) else 0
    padded = np.zeros((len(opened), cap, 2), dtype=np.float64)
    for ix, p in enumerate(opened):
        if p:
            padded[ix, : len(p)] = p
    return spheroid_ring_areas_m2(padded, nv)
