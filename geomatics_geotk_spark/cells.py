"""Hierarchical cell grid (quadkey / Z-order) — the engine's spatial index.

The reference has NO spatial index (every predicate is an O(1) pairwise
call, ``TopologicalRelationships.java:57``); at 10^12 documents the join
must be a partitioned equi-join, so we add an H3/S2-style hierarchical cell
id.  Design goals: deterministic, dependency-free, computable BOTH as pure
numpy (for pandas UDFs) and as Spark Column bit-arithmetic (JVM-side,
whole-stage-codegen'd — see :func:`geomatics_geotk_spark.functions.cell_id_col`)
so the hot tile-assignment path never leaves the JVM.

Scheme: equal-angle lat/lon grid at resolution r (2^r × 2^(r+1) cells),
cell id = (r << 58) | interleave(y_idx, x_idx) (Morton/Z-order), giving
spatial locality for range pruning and a parent/child hierarchy by
truncating bit pairs.  Resolution 12 ⇒ cell ≈ 0.044° ≈ 4.9 km at the
equator; resolution 15 ⇒ ≈ 0.0055° ≈ 610 m.
"""

from __future__ import annotations

import numpy as np

MAX_RES = 28
RES_SHIFT = 58


def _interleave_bits(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Morton-interleave two uint64 arrays (bits of y in odd positions)."""
    def spread(v):
        v = v.astype(np.uint64)
        v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
        v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
        v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
        v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
        v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
        return v

    return spread(x) | (spread(y) << np.uint64(1))


def cell_of(lon, lat, res: int) -> np.ndarray:
    """(lon, lat) degrees → int64 cell id at resolution ``res`` (numpy)."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"resolution out of range: {res}")
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    nx = np.int64(1) << np.int64(res + 1)   # lon cells
    ny = np.int64(1) << np.int64(res)       # lat cells
    xi = np.clip(((lon + 180.0) / 360.0 * nx).astype(np.int64), 0, nx - 1)
    yi = np.clip(((lat + 90.0) / 180.0 * ny).astype(np.int64), 0, ny - 1)
    return index_cells(xi, yi, res)


def cell_bounds(cell: int) -> tuple[float, float, float, float]:
    """cell id → (lon_min, lat_min, lon_max, lat_max)."""
    return tuple(float(v[0]) for v in cell_bounds_many(np.array([cell], dtype=np.int64)))


def _compact_bits(v: np.ndarray) -> np.ndarray:
    """Inverse of the Morton spread: gather even-position bits (vectorized)."""
    v = v & np.uint64(0x5555555555555555)
    v = (v | (v >> np.uint64(1))) & np.uint64(0x3333333333333333)
    v = (v | (v >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
    return v


def cell_bounds_many(cells_arr: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized cell → (lon_min, lat_min, lon_max, lat_max) arrays.

    All cells must share one resolution (true for any cells_covering /
    disk / ring output)."""
    c = np.asarray(cells_arr).astype(np.uint64)
    if len(c) == 0:
        z = np.zeros(0, dtype=np.float64)
        return z, z, z, z
    res = int(c[0] >> np.uint64(RES_SHIFT))
    if not bool(np.all((c >> np.uint64(RES_SHIFT)) == np.uint64(res))):
        raise ValueError("cell_bounds_many requires a single-resolution cell array")
    morton = c & ((np.uint64(1) << np.uint64(RES_SHIFT)) - np.uint64(1))
    return index_bounds(_compact_bits(morton), _compact_bits(morton >> np.uint64(1)), res)


def index_bounds(xi, yi, res: int) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Cell (column, row) indices at ``res`` → (lon_min, lat_min, lon_max,
    lat_max) arrays.  A bound is ``-180 + i * width`` (``-90 + j *
    height``) with ``i`` the float of an integer, so neighbouring cells
    share the identical double, and index ``xi + 1`` gives a cell's
    right side."""
    xi = np.asarray(xi).astype(np.float64)
    yi = np.asarray(yi).astype(np.float64)
    w = 360.0 / (1 << (res + 1))
    h = 180.0 / (1 << res)
    return -180.0 + xi * w, -90.0 + yi * h, -180.0 + (xi + 1.0) * w, -90.0 + (yi + 1.0) * h


def index_cells(xi, yi, res: int) -> np.ndarray:
    """Cell (column, row) indices at ``res`` → int64 cell ids."""
    morton = _interleave_bits(np.asarray(xi).astype(np.uint64), np.asarray(yi).astype(np.uint64))
    return ((np.uint64(res) << np.uint64(RES_SHIFT)) | morton).astype(np.int64)


def _xy_of(cell: int) -> tuple[int, int, int]:
    c = np.uint64(cell)
    res = int(c >> np.uint64(RES_SHIFT))
    lon0, lat0, _, _ = cell_bounds(cell)
    nx = 1 << (res + 1)
    ny = 1 << res
    xi = int(round((lon0 + 180.0) / 360.0 * nx))
    yi = int(round((lat0 + 90.0) / 180.0 * ny))
    return xi, yi, res


def covering_index_ranges(xmin, ymin, xmax, ymax, res: int):
    """Envelopes (lon/lat degree arrays) → the inclusive (column, row)
    index ranges (x0, y0, x1, y1) of the cells at ``res`` meeting each,
    as int64 arrays."""
    def index(v, origin, span, n):
        i = np.floor((np.asarray(v, dtype=np.float64) + origin) / span * n)
        return np.clip(i, 0, n - 1).astype(np.int64)

    nx = 1 << (res + 1)
    ny = 1 << res
    return (index(xmin, 180.0, 360.0, nx), index(ymin, 90.0, 180.0, ny),
            index(xmax, 180.0, 360.0, nx), index(ymax, 90.0, 180.0, ny))


def cells_covering(xmin, ymin, xmax, ymax, res: int) -> np.ndarray:
    """All cell ids at ``res`` intersecting an envelope (lon/lat degrees),
    row by row from the bottom-left cell.

    Used to explode the polygon/zone side of a spatial join into its
    covering cells — the filter half of filter-and-refine.
    """
    x0, y0, x1, y1 = (int(v) for v in covering_index_ranges(xmin, ymin, xmax, ymax, res))
    gx, gy = np.meshgrid(np.arange(x0, x1 + 1), np.arange(y0, y1 + 1))
    return index_cells(gx.ravel(), gy.ravel(), res)


def ring(cell: int, k: int) -> np.ndarray:
    """Cells at Chebyshev distance exactly ``k`` from ``cell`` (kNN expansion).

    k=0 returns the cell itself.  Longitude wraps; latitude clamps.
    """
    xi, yi, res = _xy_of(int(cell))
    nx = 1 << (res + 1)
    ny = 1 << res
    if k == 0:
        return np.array([cell], dtype=np.int64)
    out = []
    for dy in range(-k, k + 1):
        yy = yi + dy
        if yy < 0 or yy >= ny:
            continue
        dxs = range(-k, k + 1) if abs(dy) == k else (-k, k)
        for dx in dxs:
            xx = (xi + dx) % nx
            out.append((xx, yy))
    if not out:
        return np.array([], dtype=np.int64)
    arr = np.array(out, dtype=np.uint64)
    return index_cells(arr[:, 0], arr[:, 1], res)


def disk(cell: int, k: int) -> np.ndarray:
    """All cells within Chebyshev distance ``k`` (union of rings 0..k)."""
    return np.unique(np.concatenate([ring(cell, i) for i in range(k + 1)]))


def res_for_meters(target_m: float) -> int:
    """Smallest resolution whose cell edge (at equator) ≤ target_m."""
    edge = 180.0 * 111_320.0  # meters per 180° of latitude ≈ res 0 cell height
    res = 0
    while edge > target_m and res < MAX_RES:
        edge /= 2.0
        res += 1
    return res
