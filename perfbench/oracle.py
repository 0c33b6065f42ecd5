"""Brute-force reference results for a sample of docs, in plain numpy: no
cell index and nothing imported from the package under test."""

from __future__ import annotations

import numpy as np

RES_SHIFT = 58


def in_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Crossing number against a closed ring, half-open in y: an edge
    counts when exactly one end lies above the point and the point is
    strictly left of the crossing."""
    inside = np.zeros(px.shape, dtype=bool)
    for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
        cond = (y1 > py) != (y2 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xc = (x2 - x1) * (py - y1) / (y2 - y1) + x1
        inside ^= cond & (px < xc)
    return inside


def in_polygon(px, py, rings) -> np.ndarray:
    inside = in_ring(px, py, rings[0])
    for hole in rings[1:]:
        inside &= ~in_ring(px, py, hole)
    return inside


def nearest_witness(px, py, rings):
    """Planar nearest point on any ring edge, in lon/lat degrees."""
    best = np.full(px.shape, np.inf)
    wx, wy = np.zeros(px.shape), np.zeros(px.shape)
    for ring in rings:
        for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
            dx, dy = x2 - x1, y2 - y1
            seg2 = dx * dx + dy * dy
            t = np.zeros(px.shape) if seg2 == 0.0 else np.clip(((px - x1) * dx + (py - y1) * dy) / seg2, 0.0, 1.0)
            qx, qy = x1 + t * dx, y1 + t * dy
            d2 = (px - qx) ** 2 + (py - qy) ** 2
            m = d2 < best
            best, wx, wy = np.where(m, d2, best), np.where(m, qx, wx), np.where(m, qy, wy)
    return wx, wy


def vincenty_m(lat1, lon1, lat2, lon2) -> np.ndarray:
    """WGS84 ellipsoidal distance (Vincenty inverse), metres."""
    a, f = 6378137.0, 1 / 298.257223563
    b = (1 - f) * a
    lat1, lon1, lat2, lon2 = (np.radians(np.asarray(v, dtype=np.float64)) for v in (lat1, lon1, lat2, lon2))
    big_l = lon2 - lon1
    u1, u2 = np.arctan((1 - f) * np.tan(lat1)), np.arctan((1 - f) * np.tan(lat2))
    su1, cu1, su2, cu2 = np.sin(u1), np.cos(u1), np.sin(u2), np.cos(u2)
    lam = big_l.copy()
    for _ in range(200):
        sl, cl = np.sin(lam), np.cos(lam)
        ss = np.hypot(cu2 * sl, cu1 * su2 - su1 * cu2 * cl)
        cs = su1 * su2 + cu1 * cu2 * cl
        sig = np.arctan2(ss, cs)
        with np.errstate(divide="ignore", invalid="ignore"):
            sa = np.where(ss == 0, 0.0, cu1 * cu2 * sl / ss)
            c2a = 1 - sa * sa
            c2sm = np.where(c2a == 0, 0.0, cs - 2 * su1 * su2 / c2a)
        c = f / 16 * c2a * (4 + f * (4 - 3 * c2a))
        prev = lam
        lam = big_l + (1 - c) * f * sa * (sig + c * ss * (c2sm + c * cs * (-1 + 2 * c2sm ** 2)))
        if np.all(np.abs(lam - prev) < 1e-12):
            break
    u_sq = c2a * (a * a - b * b) / (b * b)
    big_a = 1 + u_sq / 16384 * (4096 + u_sq * (-768 + u_sq * (320 - 175 * u_sq)))
    big_b = u_sq / 1024 * (256 + u_sq * (-128 + u_sq * (74 - 47 * u_sq)))
    dsig = big_b * ss * (c2sm + big_b / 4 * (cs * (-1 + 2 * c2sm ** 2)
                                             - big_b / 6 * c2sm * (-3 + 4 * ss ** 2) * (-3 + 4 * c2sm ** 2)))
    return np.where(ss == 0, 0.0, b * big_a * (sig - dsig))


def _spread(v: np.ndarray) -> np.ndarray:
    out = np.zeros(v.shape, dtype=np.int64)
    for bit in range(30):
        out |= ((v >> bit) & 1) << (2 * bit)
    return out


def cell_id(lon, lat, res: int) -> np.ndarray:
    """Z-order cell at ``res``: 2^(res+1) x 2^res lon/lat grid, x bits on
    even positions, the resolution in the top bits."""
    nx, ny = 1 << (res + 1), 1 << res
    xi = np.clip(np.floor((np.asarray(lon) + 180.0) / 360.0 * nx), 0, nx - 1).astype(np.int64)
    yi = np.clip(np.floor((np.asarray(lat) + 90.0) / 180.0 * ny), 0, ny - 1).astype(np.int64)
    return (res << RES_SHIFT) | _spread(xi) | (_spread(yi) << 1)


def pip_pairs(doc_ids, lon, lat, zones: dict[str, list[np.ndarray]]) -> set[tuple[str, str]]:
    """(doc_id, zone_id) for every sample point inside every zone."""
    out = set()
    for zid, rings in zones.items():
        for d in np.asarray(doc_ids, dtype=object)[in_polygon(lon, lat, rings)]:
            out.add((d, zid))
    return out


def dwithin_rows(doc_ids, lon, lat, zones: dict[str, list[np.ndarray]], distance_m: float) -> dict:
    """(doc_id, zone_id) → distance in metres for pairs closer than
    ``distance_m``: 0 inside the zone, else the geodesic length to the
    planar nearest point of the zone boundary."""
    out = {}
    ids = np.asarray(doc_ids, dtype=object)
    for zid, rings in zones.items():
        wx, wy = nearest_witness(lon, lat, rings)
        dist = np.where(in_polygon(lon, lat, rings), 0.0, vincenty_m(lat, lon, wy, wx))
        for d, m in zip(ids[dist < distance_m], dist[dist < distance_m]):
            out[(d, zid)] = float(m)
    return out
