"""Point-in-polygon / spatial-predicate joins: filter-and-refine over the
cell grid.

The reference evaluates predicates one pair at a time
(``TopologicalRelationships.java:57-96``: unmarshal → CRS-harmonize → JTS
DE-9IM).  At 10^12 documents that is an O(N·M) loop; this module lifts it
into the classic spatial hash join:

1. **decode** (scan-side, codegen'd JVM expressions — no Python, no
   lambda): extract the first ``kind='geo'`` span's WKT POINT into
   lon/lat sibling columns, leaving the ``spans`` array untouched
   (span-sequence invariant);
2. **cell-encode** both sides (JVM bit math, :func:`functions.cell_id_col`);
   zones explode into their covering cells, each flagged ``full`` (cell
   entirely inside the polygon — refine skipped) or ``partial``.  One
   pack (:func:`_zone_table`) classifies the cells of every zone, and
   builds the partial cells' edge slots, in the same few numpy passes,
   so its numpy calls do not grow with the zone count.  Every cell join
   takes its zone side from one size rule (:func:`_zone_side`): a zone
   side Spark would broadcast is packed on the driver into an Arrow
   table and broadcast, a larger one is packed on the executors by
   ``mapInArrow``;
3. **equi-join on cell_id** — a broadcast hash join for small zone sets,
   else a shuffle on ``cell_id`` whose hot cells AQE's skew-join split
   (on in :func:`session.get_spark`) divides;
4. **refine** only the partial-cell candidates with the crossing-number
   test over the partial cell's **edge slots** — the few ring edges that
   can cross a ray from a point in that cell, built once per zone at
   prepare time — unrolled into one lambda-free Column expression
   (:func:`functions.edge_slots_pip_col`): JVM only, no Python worker,
   compiled with the join by whole-stage codegen, and the same answer as
   the full-ring test (:func:`functions.point_in_polygon_col`), so the
   reference's exact predicate semantics hold.  A zone side with more
   than :data:`MAX_SLOTS` slots in some cell keeps the full-ring test.

CRS harmonization (reference ``setCRS``, ``TopologicalRelationships.java:
261-271``) happens once on the zone side at prepare time — zones are the
small side, so the transform cost is O(M), not O(N).
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from .. import cells
from ..functions import (
    cell_id_col,
    edge_slot_cols,
    edge_slots_pip_col,
    point_in_polygon_col,
    wkt_point_lat,
    wkt_point_lon,
)
from ..kernels import crs as crs_k
from ..kernels import geometry as geom_k

DEFAULT_RES = 12


def geo_span_text(spans_col: str = "spans") -> Column:
    """Text of the first ``kind='geo'`` span, null when a doc has none.

    Pure codegen'd Column expressions, no lambda: ``array_position`` over
    the span kinds finds the geo span and ``get`` over the span texts
    takes it (never an ANSI error).
    """
    spans = F.col(spans_col)
    # array_position is 1-based and 0 when absent; get is 0-based and
    # null out of range, so a doc with no geo span gets a null text
    pos = F.array_position(spans["kind"], "geo")
    return F.get(spans["text"], (pos - 1).cast("int"))


def decode_geo_spans(docs: DataFrame, spans_col: str = "spans") -> DataFrame:
    """Extract lon/lat from the first ``kind='geo'`` span (WKT POINT).

    Two regexps over :func:`geo_span_text` read the ordinates, with no
    lambda and no Python.  A doc with no geo span, or geo text that is
    not a WKT POINT, gets null lon/lat.  ``spans`` is carried opaquely —
    never exploded — so per-doc span sequence is preserved.
    """
    geo_text = geo_span_text(spans_col)
    return docs.withColumns({"lon": wkt_point_lon(geo_text), "lat": wkt_point_lat(geo_text)})


def tile_assign(docs: DataFrame, res: int = DEFAULT_RES,
                lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """Append the Z-order ``cell_id`` (the engine's tile assignment) —
    whole-stage-codegen'd JVM bit math; ``-1`` (no cell) where lon or lat
    is null."""
    return docs.withColumn("cell_id", cell_id_col(F.col(lon_col), F.col(lat_col), res))


# ---------------------------------------------------------------------------
# Zone preparation: one vectorized pack over all zones (O(M) work over the
# SMALL side), run on the driver (broadcast) or the executors (shuffle)
# ---------------------------------------------------------------------------


def _ring_arrays(exterior, interiors) -> list[np.ndarray]:
    """Zone rings (lists of {x,y}) → [exterior, *interiors] as (n,2)
    arrays; ``interiors`` may be None."""
    return [
        np.array([[p["x"], p["y"]] for p in ring], dtype=np.float64)
        for ring in [exterior, *(interiors if interiors is not None else [])]
    ]


class _Rings(NamedTuple):
    """Every ring of a set of zones in one flat layout, in zone order and
    each zone's exterior first: the points' harmonized ``x`` (lon) and
    ``y`` (lat); per ring its first point ``start``, point count ``size``,
    ``zone`` and whether it is an exterior (``ext``); per zone its ring
    count ``n_rings``."""

    x: np.ndarray
    y: np.ndarray
    start: np.ndarray
    size: np.ndarray
    zone: np.ndarray
    ext: np.ndarray
    n_rings: np.ndarray


def _flat_rings(rows) -> _Rings:
    """Zone rows (``exterior``, ``interiors``, ``crs``) → :class:`_Rings`,
    CRS-harmonized to lon/lat (reference setCRS semantics) and
    axis-normalized by one ``to_lonlat`` call per distinct CRS."""
    rings = [[r["exterior"], *(r["interiors"] or ())] for r in rows]
    n_rings = np.array([len(zr) for zr in rings], dtype=np.int64)
    size = np.array([len(ring) for zr in rings for ring in zr], dtype=np.int64)
    xy = np.array([(p["x"], p["y"]) for zr in rings for ring in zr for p in ring],
                  dtype=np.float64).reshape(-1, 2)
    zone = np.repeat(np.arange(len(rows)), n_rings)
    point_crs = np.repeat(np.array([r["crs"] for r in rows], dtype=object)[zone], size)
    x, y = np.empty(len(xy)), np.empty(len(xy))
    for crs in set(point_crs):
        m = point_crs == crs
        x[m], y[m] = crs_k.to_lonlat(xy[m, 0], xy[m, 1], crs)
    ext = np.zeros(len(size), dtype=bool)
    ext[np.cumsum(n_rings) - n_rings] = True
    return _Rings(x, y, np.cumsum(size) - size, size, zone, ext, n_rings)


def _expand(counts: np.ndarray):
    """Item i repeated counts[i] times, with k = 0 .. counts[i] - 1 →
    (item, k) arrays in item order."""
    item = np.repeat(np.arange(len(counts)), counts)
    return item, np.arange(len(item)) - (np.cumsum(counts) - counts)[item]


# elements per numpy pass of the zone pack's pair tests: a pass holds a
# few dozen bytes of temporaries per element, whatever the zone sizes
_PAIR_CAP = 1 << 19


def _runs(counts: np.ndarray, cap: int = _PAIR_CAP):
    """:func:`_expand` in passes of at most ``cap`` elements (an item
    with more gets a pass of its own)."""
    ends = np.cumsum(counts)
    lo = 0
    while lo < len(counts):
        hi = max(lo + 1, int(np.searchsorted(ends, ends[lo] - counts[lo] + cap, side="right")))
        item, k = _expand(counts[lo:hi])
        yield item + lo, k
        lo = hi


def _grid_line(v, origin: float, step: float) -> np.ndarray:
    """The smallest integer k with ``origin + k * step >= v``, per value,
    in the grid line formula of :func:`cells.index_bounds`, so the
    comparison is with the grid's own doubles."""
    k = np.clip(np.ceil((v - origin) / step), -2.0**40, 2.0**40)
    k = np.where(origin + (k - 1.0) * step >= v, k - 1.0, k)
    return np.where(origin + k * step < v, k + 1.0, k).astype(np.int64)


def _corners_inside(rings: _Rings, gx0, gy0, ncx, ncy, res: int) -> np.ndarray:
    """Even-odd inside test of every corner of each zone's corner grid
    (``ncx`` × ``ncy`` corners from (gx0, gy0), row by row from the
    bottom left) against its zone: inside the exterior and in no hole.

    The crossings of ``kernels.geometry.points_in_polygon``, over each
    ring's edges i ← j (j the point before i, wrapping): an edge crosses
    the ray of a corner at (x, y) when ``(y_i > y) != (y_j > y)`` and
    ``x < (x_j - x_i) * (y - y_i) / (y_j - y_i) + x_i``.  The first holds
    on a run of corner rows, and the crossing x depends on the row only,
    so it is computed once per (edge, row), with the per-point test's
    operands, and the edge crosses the ray of a run of that row's
    corners from the left.  In each (ring, row) the edges that hold are
    even in number (a ring is a cycle), so a corner's parity is that of
    the edges whose run ends at or before it: one cumulative sum over
    every (ring, row), each with one spare column for the runs that end
    past the last corner."""
    w, h = 360.0 / (1 << (res + 1)), 180.0 / (1 << res)
    ring_of = np.repeat(np.arange(len(rings.size)), rings.size)
    i = np.arange(len(rings.x))
    j = np.where(i == rings.start[ring_of], i + rings.size[ring_of] - 1, i - 1)
    z = rings.zone[ring_of]
    ki, kj = _grid_line(rings.y[i], -90.0, h), _grid_line(rings.y[j], -90.0, h)
    lo = np.maximum(np.minimum(ki, kj), gy0[z])
    e, k = _expand(np.maximum(np.minimum(np.maximum(ki, kj), gy0[z] + ncy[z]) - lo, 0))
    row, ze = lo[e] + k, z[e]
    y = cells.index_bounds(row, row, res)[1]
    xi, yi, xj, yj = rings.x[i[e]], rings.y[i[e]], rings.x[j[e]], rings.y[j[e]]
    ends = np.clip(_grid_line((xj - xi) * (y - yi) / (yj - yi) + xi, -180.0, w) - gx0[ze], 0, ncx[ze])
    # per ring a block of its zone's rows, each ncx + 1 wide
    rz = rings.zone
    block = ncy[rz] * (ncx[rz] + 1)
    first = np.cumsum(block) - block
    odd = np.cumsum(np.bincount(first[ring_of[e]] + (row - gy0[ze]) * (ncx[ze] + 1) + ends,
                                minlength=block.sum())) % 2 == 1
    ring, k = _expand(block)
    col, zr = k % (ncx[rz[ring]] + 1), rz[ring]
    corner = (np.cumsum(ncx * ncy) - ncx * ncy)[zr] + k // (ncx[zr] + 1) * ncx[zr] + col
    odd &= col < ncx[zr]
    inside = np.zeros(int((ncx * ncy).sum()), dtype=bool)
    inside[corner[odd & rings.ext[ring]]] = True
    inside[corner[odd & ~rings.ext[ring]]] = False
    return inside


def _segments(rings: _Rings):
    """Every ring segment p→c (point p and the next, not wrapping), in
    ring order → (p index, segment ring index)."""
    ring_of = np.repeat(np.arange(len(rings.size)), rings.size)
    p = np.flatnonzero(np.arange(len(rings.x)) < (rings.start + rings.size - 1)[ring_of])
    return p, ring_of[p]


def _boxes_hit(rings: _Rings, x0, y0, nx, ny, res: int) -> np.ndarray:
    """Does any segment of its zone's rings meet each cell box of the
    zones' covering grids (``nx`` × ``ny`` cells from (x0, y0), row by
    row from the bottom left)?

    Slab clipping, as the segment/box test ``functions._seg_box_intersects``
    mirrors; a segment wholly inside a box counts as a hit (strictly
    more conservative than the ring-edge test — such cells classify
    partial and the exact refine decides, so join row sets are
    unchanged).  Each segment is tested against the cells within one
    cell of its bounding box widened by ``1e-9 * (1 + |largest
    ordinate|)``: a box farther out than that puts the segment's clip
    parameter strictly outside [0, 1] after rounding (the widening is
    far above the ordinates' rounding), so it cannot hit."""
    p, seg_ring = _segments(rings)
    sz = rings.zone[seg_ring]
    ax, ay, cx, cy = rings.x[p], rings.y[p], rings.x[p + 1], rings.y[p + 1]
    dx, dy = cx - ax, cy - ay
    eps = 1e-9 * (1.0 + np.maximum(np.maximum(np.abs(ax), np.abs(cx)),
                                   np.maximum(np.abs(ay), np.abs(cy))))
    wx0, wy0, wx1, wy1 = cells.covering_index_ranges(
        np.minimum(ax, cx) - eps, np.minimum(ay, cy) - eps,
        np.maximum(ax, cx) + eps, np.maximum(ay, cy) + eps, res)
    c_lo = np.maximum(wx0 - 1, x0[sz])
    c_hi = np.minimum(wx1 + 1, x0[sz] + nx[sz] - 1)
    r_lo = np.maximum(wy0 - 1, y0[sz])
    seg, k = _expand(np.maximum(np.minimum(wy1 + 1, y0[sz] + ny[sz] - 1) - r_lo + 1, 0))
    row = r_lo[seg] + k
    cell_start = np.cumsum(nx * ny) - nx * ny
    hit = np.zeros(int((nx * ny).sum()), dtype=bool)
    for item, k in _runs(np.maximum(c_hi[seg] - c_lo[seg] + 1, 0)):
        s, r = seg[item], row[item]
        col, z = c_lo[s] + k, sz[s]
        bx0, by0, bx1, by1 = cells.index_bounds(col, r, res)
        sx, sy, sdx, sdy = ax[s], ay[s], dx[s], dy[s]
        with np.errstate(divide="ignore", invalid="ignore"):
            tx0 = (bx0 - sx) / sdx
            tx1 = (bx1 - sx) / sdx
            ty0 = (by0 - sy) / sdy
            ty1 = (by1 - sy) / sdy
        txmin = np.minimum(tx0, tx1)
        txmax = np.maximum(tx0, tx1)
        tymin = np.minimum(ty0, ty1)
        tymax = np.maximum(ty0, ty1)
        # degenerate axes: inside-slab ⇒ (-inf, inf), outside ⇒ empty
        deg_x = sdx == 0
        in_x = (sx >= bx0) & (sx <= bx1)
        txmin = np.where(deg_x, np.where(in_x, -np.inf, np.inf), txmin)
        txmax = np.where(deg_x, np.where(in_x, np.inf, -np.inf), txmax)
        deg_y = sdy == 0
        in_y = (sy >= by0) & (sy <= by1)
        tymin = np.where(deg_y, np.where(in_y, -np.inf, np.inf), tymin)
        tymax = np.where(deg_y, np.where(in_y, np.inf, -np.inf), tymax)
        tmin = np.maximum(np.maximum(txmin, tymin), 0.0)
        tmax = np.minimum(np.minimum(txmax, tymax), 1.0)
        cell = cell_start[z] + (r - y0[z]) * nx[z] + (col - x0[z])
        hit[cell[tmin <= tmax]] = True
    return hit


# far above the double rounding of a cell bound or of a point's cell, far
# below any cell edge (res 28 cells are ~7e-7 degrees)
_BAND_MARGIN_DEG = 1e-9


def _edge_slots(x0, y0, y1, cell_zone, rings: _Rings):
    """The edge slots of each cell: its zone's ring edges p→c, in ring
    order, with p.y != c.y, whose y-range meets the cell's y-range and
    whose larger x reaches the cell's left side (both widened by
    ``_BAND_MARGIN_DEG``).

    No other edge can satisfy ``(p.y > lat) != (c.y > lat) AND lon <
    xcross`` for a point of the cell, so the crossing count over a cell's
    slots equals the full-ring count for every point that cell_id_col
    puts in it.  A cell on the edge of the lon/lat domain also holds the
    points clamped into it from beyond, so its band is open on that side.
    A cell with no exterior slot has no point inside the exterior, so it
    gets no slot at all.

    Returns (per-cell slot counts, each slot's p index into the ring
    points — c is the next — and ``last``), slots grouped by cell;
    ``last`` marks the last slot of a ring in its cell.
    """
    x_lo = np.where(x0 <= -180.0, -np.inf, x0 - _BAND_MARGIN_DEG)
    y_lo = np.where(y0 <= -90.0, -np.inf, y0 - _BAND_MARGIN_DEG)
    y_hi = np.where(y1 >= 90.0, np.inf, y1 + _BAND_MARGIN_DEG)
    p, seg_ring = _segments(rings)
    py, cy = rings.y[p], rings.y[p + 1]
    y_min, y_max = np.minimum(py, cy), np.maximum(py, cy)
    x_max = np.maximum(rings.x[p], rings.x[p + 1])
    n = np.bincount(rings.zone[seg_ring], minlength=len(rings.n_rings))
    first = np.cumsum(n) - n
    cell_parts, seg_parts = [], []
    for cell, k in _runs(n[cell_zone]):  # cell-major: each cell's slots in ring order
        s = first[cell_zone[cell]] + k
        band = (
            (py[s] != cy[s])
            & (y_min[s] <= y_hi[cell])
            & (y_max[s] >= y_lo[cell])
            & (x_max[s] >= x_lo[cell])
        )
        band &= (np.bincount(cell[band & rings.ext[seg_ring[s]]], minlength=len(x0)) > 0)[cell]
        cell_parts.append(cell[band])
        seg_parts.append(s[band])
    cell = _concat(cell_parts, np.int64)
    s = _concat(seg_parts, np.int64)
    slot_ring = seg_ring[s]
    last = np.ones(len(s), dtype=bool)
    last[:-1] = (cell[1:] != cell[:-1]) | (slot_ring[1:] != slot_ring[:-1])
    return np.bincount(cell, minlength=len(x0)), p[s], last


_POINTS = T.ArrayType(T.StructType([
    T.StructField("x", T.DoubleType()), T.StructField("y", T.DoubleType()),
]))
_EDGES = T.ArrayType(T.StructType([
    T.StructField(f, T.DoubleType()) for f in ("px", "py", "cx", "cy")
] + [T.StructField("last", T.BooleanType())]))


def _zprep_schema(slots: bool) -> T.StructType:
    """The per-zone carrier (exterior, interiors, cells); with ``slots``
    each cell also carries its edge slots (empty on full cells)."""
    cell = [T.StructField("cell_id", T.LongType()), T.StructField("full", T.BooleanType())]
    if slots:
        cell.append(T.StructField("edges", _EDGES))
    return T.StructType([
        T.StructField("exterior", _POINTS),
        T.StructField("interiors", T.ArrayType(_POINTS)),
        T.StructField("cells", T.ArrayType(T.StructType(cell))),
    ])


def _classify_cells(rings: _Rings, res: int, margin_m: float):
    """The covering cells of every zone, classified → (zone, cell id,
    full, lon_min, lat_min, lat_max) of the kept cells, in zone order.

    A cell is full (entirely inside the polygon) when its four corners
    are inside and no ring segment meets it, and it is kept when it is
    full, has a corner inside, meets a segment or holds the exterior's
    first vertex.  With ``margin_m`` > 0 the covering box expands by the
    distance margin (conservative meridian/parallel degrees) and EVERY
    cell in the expanded box is kept — the DWithin candidate disk, where
    cells not touching the polygon are still within reach of it.

    The corners are one grid per zone, one more column and row than its
    cells, so each corner is tested once and neighbouring cells read the
    identical double (:func:`cells.index_bounds`)."""
    n_zones = len(rings.n_rings)
    zfirst = rings.start[np.cumsum(rings.n_rings) - rings.n_rings]  # the exterior's first point
    if n_zones:
        xmin, xmax = np.minimum.reduceat(rings.x, zfirst), np.maximum.reduceat(rings.x, zfirst)
        ymin, ymax = np.minimum.reduceat(rings.y, zfirst), np.maximum.reduceat(rings.y, zfirst)
    else:
        xmin = xmax = ymin = ymax = np.empty(0)
    if margin_m > 0.0:
        mlat = margin_m / 110_000.0  # conservative meridian degree
        max_abs_lat = np.minimum(89.9, np.maximum(np.abs(ymin), np.abs(ymax)) + mlat)
        mlon = margin_m / (111_320.0 * np.cos(np.deg2rad(max_abs_lat)))
        xmin, ymin, xmax, ymax = xmin - mlon, ymin - mlat, xmax + mlon, ymax + mlat
    x0, y0, x1, y1 = cells.covering_index_ranges(xmin, ymin, xmax, ymax, res)
    nx, ny = x1 - x0 + 1, y1 - y0 + 1
    zone, k = _expand(nx * ny)  # row by row from the bottom left, as cells.cells_covering
    xi, yi = x0[zone] + k % nx[zone], y0[zone] + k // nx[zone]
    bx0, by0, bx1, by1 = cells.index_bounds(xi, yi, res)
    inside = _corners_inside(rings, x0, y0, nx + 1, ny + 1, res)
    ll = (np.cumsum((nx + 1) * (ny + 1)) - (nx + 1) * (ny + 1))[zone] \
        + (yi - y0[zone]) * (nx[zone] + 1) + (xi - x0[zone])
    corners = inside[[ll, ll + 1, ll + nx[zone] + 2, ll + nx[zone] + 1]]
    hits = _boxes_hit(rings, x0, y0, nx, ny, res)
    full = corners.all(axis=0) & ~hits
    if margin_m > 0.0:
        keep = np.ones(len(zone), dtype=bool)
    else:
        fx, fy = rings.x[zfirst][zone], rings.y[zfirst][zone]
        first_in = (fx >= bx0) & (fx <= bx1) & (fy >= by0) & (fy <= by1)
        keep = full | corners.any(axis=0) | hits | first_in
    return (zone[keep], cells.index_cells(xi[keep], yi[keep], res), full[keep],
            bx0[keep], by0[keep], by1[keep])


def _explode_zone_cells(z: DataFrame) -> DataFrame:
    """(zone_id, _z) → zone_cells(cell_id, zone_id, full, exterior,
    interiors[, edges]), one row per covering cell.  Rings and edge slots
    ride on partial-cell rows; full cells carry empty ones (refine
    skipped).  ``edges`` is there when the carrier has slots."""
    c = z.select(
        "zone_id",
        F.col("_z.exterior").alias("_ext"),
        F.col("_z.interiors").alias("_int"),
        F.explode("_z.cells").alias("_c"),
    )
    empty_ext = F.array().cast(_POINTS)
    empty_int = F.array().cast(T.ArrayType(_POINTS))
    slots = "edges" in z.schema["_z"].dataType["cells"].dataType.elementType.names
    return c.select(
        F.col("_c.cell_id").alias("cell_id"),
        "zone_id",
        F.col("_c.full").alias("full"),
        F.when(F.col("_c.full"), empty_ext).otherwise(F.col("_ext")).alias("exterior"),
        F.when(F.col("_c.full"), empty_int).otherwise(F.col("_int")).alias("interiors"),
        *([F.col("_c.edges").alias("edges")] if slots else []),
    )


def _list_array(lengths, values) -> pa.ListArray:
    """One Arrow list per entry of ``lengths``, over ``values`` (the lists
    concatenated), built from the cumulative-length offsets."""
    offsets = np.zeros(len(lengths) + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    return pa.ListArray.from_arrays(offsets, values)


def _points_array(x, y, sizes) -> pa.ListArray:
    """Ring points (the rings concatenated) → list<struct<x,y>>, one list
    per ring of ``sizes`` points."""
    return _list_array(sizes, pa.StructArray.from_arrays([x, y], names=["x", "y"]))


def _concat(parts, dtype) -> np.ndarray:
    """np.concatenate that also takes no parts."""
    return np.concatenate(parts).astype(dtype, copy=False) if parts else np.empty(0, dtype=dtype)


_ZONE_COLS = ("zone_id", "exterior", "interiors", "crs")


def _zone_table(rows, zone_id: pa.DataType, res: int, margin_m: float = 0.0,
                slots: bool = False) -> pa.Table:
    """The zone packer: zone rows (collected ``Row``s or
    ``RecordBatch.to_pylist()`` dicts of :data:`_ZONE_COLS`) → one Arrow
    table (zone_id of Arrow type ``zone_id``, _z) of the
    :func:`_zprep_schema` carrier: each zone's harmonized lon/lat rings
    and its classified covering cells (:func:`_classify_cells`), with,
    when ``slots`` is asked for (only :func:`spatial_join` reads them),
    each partial cell's edge slots (:func:`_edge_slots`; full cells get
    none).  All zones go through each numpy pass together, so the
    number of numpy calls does not grow with the zone count, and no
    per-point, per-cell or per-slot Python object is made on the way
    out.  Interiors may be None or empty lists of any type
    (``list<null>``, ``list<int32>``)."""
    rings = _flat_rings(rows)
    zone, cell_id, full, x0, y0, y1 = _classify_cells(rings, res, margin_m)
    cell_cols = [pa.array(cell_id), pa.array(full)]
    if slots:
        partial = np.flatnonzero(~full)
        n, p, last = _edge_slots(x0[partial], y0[partial], y1[partial], zone[partial], rings)
        counts = np.zeros(len(full), dtype=np.int64)
        counts[partial] = n
        edges = pa.StructArray.from_arrays(
            [rings.x[p], rings.y[p], rings.x[p + 1], rings.y[p + 1], pa.array(last)],
            names=_EDGES.elementType.names,
        )
        cell_cols.append(_list_array(counts, edges))
    schema = _zprep_schema(slots)
    cells_arr = pa.StructArray.from_arrays(
        cell_cols, names=schema["cells"].dataType.elementType.names)
    on_ext = np.repeat(rings.ext, rings.size)
    zprep = pa.StructArray.from_arrays(
        [
            _points_array(rings.x[on_ext], rings.y[on_ext], rings.size[rings.ext]),
            _list_array(rings.n_rings - 1, _points_array(
                rings.x[~on_ext], rings.y[~on_ext], rings.size[~rings.ext])),
            _list_array(np.bincount(zone, minlength=len(rows)), cells_arr),
        ],
        names=schema.names,
    )
    return pa.table({"zone_id": pa.array([r["zone_id"] for r in rows], zone_id), "_z": zprep})


def _zone_schema(zones: DataFrame, slots: bool) -> T.StructType:
    """The Spark schema of :func:`_zone_table` over ``zones``."""
    return T.StructType([zones.schema["zone_id"], T.StructField("_z", _zprep_schema(slots))])


def prep_zone_struct(zones: DataFrame, res: int = DEFAULT_RES,
                     margin_m: float = 0.0, slots: bool = False) -> DataFrame:
    """(zone_id, _z(exterior, interiors, cells)) packed on the EXECUTORS
    by :func:`_zone_table` in one ``mapInArrow``: the driver never
    materializes a zone or a cell, so 10^6 zones are just more
    partitions.  ``margin_m`` expands the covering cells by a distance
    margin (the DWithin candidate disk).  With ``slots`` each cell also
    carries its edge slots, for the refine of :func:`spatial_join`.

    Downstream shapes: :func:`_explode_zone_cells` for the cell
    equi-join; project ``_z.exterior``/``_z.interiors`` for a
    (zone_id → rings) attach join — rings reach the refine on join rows,
    never via a driver-built broadcast dict.
    """

    def pack(batches):
        for b in batches:
            yield from _zone_table(
                b.to_pylist(), b.schema.field("zone_id").type, res, margin_m, slots
            ).to_batches()

    return zones.select(*_ZONE_COLS).mapInArrow(pack, _zone_schema(zones, slots))


def _driver_zones(zones: DataFrame, res: int, margin_m: float = 0.0, slots: bool = False):
    """(zone_id, _z) packed on the DRIVER by :func:`_zone_table` → (the
    table as a local relation, a ``LocalTableScan`` leaf with no Python
    node; the Arrow table)."""
    rows = zones.select(*_ZONE_COLS).collect()
    table = _zone_table(rows, to_arrow_type(zones.schema["zone_id"].dataType), res, margin_m, slots)
    return zones.sparkSession.createDataFrame(table, _zone_schema(zones, slots)), table


def prepare_zones(zones: DataFrame, res: int = DEFAULT_RES):
    """Zone polygons → (zone_cells DataFrame, {zone_id: rings} dict),
    prepared on the driver (:func:`_driver_zones`) and exploded in the
    JVM; the rings dict (harmonized lon/lat rings) serves brute-force
    cross-checks.  For zone sides too large to collect use
    :func:`prep_zone_struct`.
    """
    z, table = _driver_zones(zones, res)
    zprep = table.column("_z").combine_chunks()
    rings = {
        zid: _ring_arrays(ext, ints)
        for zid, ext, ints in zip(table.column("zone_id").to_pylist(),
                                  zprep.field("exterior").to_pylist(),
                                  zprep.field("interiors").to_pylist())
    }
    return _explode_zone_cells(z), rings


def _broadcastable(df: DataFrame) -> bool:
    """Spark's own broadcast rule for ``df``: the Catalyst size estimate
    of its optimized plan (no job runs) is at or below the session's
    ``spark.sql.autoBroadcastJoinThreshold``; never when that is -1.  A
    plan Catalyst cannot size (a Python RDD) is not broadcastable."""
    bound = df.sparkSession._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    return 0 <= df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes() <= bound


def _zone_side(zones: DataFrame, res: int, strategy: str | None = None,
               margin_m: float = 0.0, slots: bool = False):
    """The prepared zone side (zone_id, _z) of a cell join, the largest
    slot count of any cell (0 without ``slots``) and whether to broadcast
    it.  Sized by :func:`_broadcastable` over ``zones`` unless
    ``strategy`` pins it: a zone side Spark would broadcast ('broadcast')
    is packed on the driver; a larger one ('shuffle') is packed on the
    executors and checkpointed, so the prep runs once for every reader,
    and joins without a hint.

    The rule sizes the raw zones, not the packed, cell-exploded side, and
    Catalyst counts an array as one element: a table of many-vertex zones
    can be estimated within the bound and so collected on the driver
    (the 100,000-zone grid of ``tests/test_large_zone_path.py`` reads
    4 MB).  The no-collect path is certain only for a zone side estimated
    above the bound or with the bound at -1; ``spatial_join`` can pin it
    with ``strategy='shuffle'``."""
    if strategy is None:
        strategy = "broadcast" if _broadcastable(zones) else "shuffle"
    if strategy == "broadcast":
        z, table = _driver_zones(zones, res, margin_m, slots)
        if not slots:
            return z, 0, True
        cells_arr = table.column("_z").combine_chunks().field("cells").flatten()
        k = pc.max(pc.list_value_length(cells_arr.field("edges"))).as_py()
    elif strategy == "shuffle":
        z = prep_zone_struct(zones, res, margin_m, slots).localCheckpoint()
        if not slots:
            return z, 0, False
        k = _explode_zone_cells(z).agg(F.max(F.size("edges"))).first()[0]
    else:
        raise ValueError(f"unknown strategy: {strategy!r}")
    return z, k or 0, strategy == "broadcast"


# The slot refine unrolls into the join stage's generated Java method,
# which HotSpot JIT-compiles only up to 8,000 bytes of bytecode; past
# that the stage runs interpreted, slower than the full-ring refine.  On
# flagship_pip (the docs' decode and tile in the same stage) the method
# takes 5,678 bytes at 3 slots and 7,250 at 6, about 520 per slot.
MAX_SLOTS = 6


def _refine_side(zone_cells: DataFrame, k: int, lon: str, lat: str):
    """The join's zone side and its refine over the columns named ``lon``
    and ``lat``, for a zone side whose partial rows hold at most ``k``
    edge slots → (zone side, refine Column, the columns only the refine
    reads).

    Up to :data:`MAX_SLOTS` slots the refine is
    :func:`functions.edge_slots_pip_col`, and the zone side carries each
    slot field as its own non-null column in place of the rings: read as
    array elements, the slots made flagship_pip's method 8,778 bytes at
    3 slots.  Full rows hold NaN padding there, 48 bytes per slot, so the
    bound also caps how much the broadcast relation grows.  Both are SQL
    text, parsed by one ``selectExpr`` and one ``F.expr``.  Past the
    bound the refine is the full-ring test
    (:func:`functions.point_in_polygon_col`) over the rings, with the
    same rows."""
    if k > MAX_SLOTS:
        pip = point_in_polygon_col(F.col(lon), F.col(lat), F.col("exterior"), F.col("interiors"))
        return zone_cells.drop("edges"), pip, ["exterior", "interiors"]
    names = [[f"_slot{i}_{j}" for j in range(6)] for i in range(k)]
    cols = [f"{c} AS {n}" for slot, ns in zip(edge_slot_cols("edges", k), names)
            for c, n in zip(slot, ns)]
    pip = F.expr(edge_slots_pip_col(lon, lat, names))
    return (zone_cells.selectExpr("cell_id", "zone_id", "full", *cols), pip,
            [n for ns in names for n in ns])


def flat_ring_cols(ext_col, int_col):
    """(exterior array<struct<x,y>>, interiors) → (array<double>,
    array<array<double>>) flattened [x0,y0,x1,y1,…] Column expressions.

    Rings ride every candidate join row; as list<struct> Arrow hands the
    refine UDF per-row PYTHON DICT lists (the conversion dominated the
    dwithin_zones refine at 10^6 candidates).  Flat double arrays arrive
    as numpy — reshape(-1,2) and go."""
    ext = F.flatten(F.transform(ext_col, lambda p: F.array(p["x"], p["y"])))
    ints = F.transform(
        int_col, lambda h: F.flatten(F.transform(h, lambda p: F.array(p["x"], p["y"])))
    )
    return ext, ints


def _rings_from_flat(ext, ints) -> list[np.ndarray]:
    """Flat [x0,y0,…] arrays (numpy from Arrow) → [(n,2) float64 rings]."""
    rings = [np.asarray(ext, dtype=np.float64).reshape(-1, 2)]
    for hole in (ints if ints is not None else []):
        rings.append(np.asarray(hole, dtype=np.float64).reshape(-1, 2))
    return rings


# ---------------------------------------------------------------------------
# The join
# ---------------------------------------------------------------------------


def spatial_join(
    docs: DataFrame,
    zones: DataFrame,
    res: int = DEFAULT_RES,
    strategy: str | None = None,
    predicate: str = "intersects",
    lon_col: str = "lon",
    lat_col: str = "lat",
    id_col: str = "doc_id",
) -> DataFrame:
    """docs(points) ⋈ zones(polygons) under a spatial predicate.

    predicate: 'intersects' | 'within' (point vs polygon: identical row
    sets under the half-open boundary rule) | 'disjoint' (anti-join of
    intersects — reference TopologicalRelationships.java:71-73).

    The zone side follows the size rule of :func:`_zone_side`; a
    ``strategy`` of 'broadcast' or 'shuffle' pins it.  A broadcast zone
    side is packed on the driver into one Arrow table, which enters the
    plan as a local relation (``LocalTableScan``), so the plan holds no
    Python node at all (asserted in tests/test_plans_bucketing.py), and
    no doc is shuffled.  A larger one is packed on the executors in one
    ``mapInArrow`` (checkpointed once), so the driver never materializes
    a zone or a cell, and both sides exchange on ``cell_id``; AQE's
    skew-join split divides hot cells.

    Either way the refine is :func:`functions.edge_slots_pip_col` over
    the partial cells' edge slots, unrolled to the largest slot count of
    this zone side: no lambda, so the join and its refine compile in one
    whole-stage-codegen stage, with the same rows as the full-ring
    crossing number.  A zone side with more than :data:`MAX_SLOTS` slots
    in some cell (a detailed, concave or holed polygon) keeps the
    full-ring refine (:func:`functions.point_in_polygon_col`), whose
    lambdas run interpreted, because the unrolled one would make the
    stage's method too long to JIT-compile.

    Docs with a null lon or lat get ``cell_id`` -1 and match no zone.
    """
    if predicate == "disjoint":
        if id_col not in docs.columns:
            raise ValueError(
                f"disjoint anti-join needs a unique id column; {id_col!r} "
                f"not in {docs.columns}"
            )
        matched = spatial_join(docs, zones, res, strategy, "intersects", lon_col, lat_col)
        return docs.join(matched.select(id_col).distinct(), id_col, "left_anti")

    pts = docs if "cell_id" in docs.columns else tile_assign(docs, res, lon_col, lat_col)

    z, k, broadcast = _zone_side(zones, res, strategy, slots=True)
    zone_cells, pip_col, refine_cols = _refine_side(_explode_zone_cells(z), k, lon_col, lat_col)
    if broadcast:
        zone_cells = F.broadcast(zone_cells)
    joined = pts.join(zone_cells, "cell_id", "inner")

    # crossing-number refine as Column math over what the zone side
    # carries: no Python, no Arrow
    return joined.where(F.col("full") | pip_col).drop("full", *refine_cols)


def dwithin_zone_join(
    docs: DataFrame,
    zones: DataFrame,
    distance_m: float,
    res: int | None = None,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """docs(points) within ``distance_m`` of polygon ZONES — the
    geometry×geometry DWithin of the reference
    (``TopologicalRelationships.java:149-179``): JTS ``nearestPoints``
    witness pair + orthodromic distance, lifted to filter-and-refine:

    1. zone side: covering cells of the polygon envelope EXPANDED by the
       distance margin, each flagged full (cell inside the polygon ⇒
       distance 0, refine skipped);
    2. docs equi-join on cell_id;
    3. refine (Arrow batch, grouped by zone): inside test, else the
       planar nearest witness on the rings (vertex/segment projections —
       exactly JTS DistanceOp's reduction) and the exact Vincenty
       distance of the witness pair.

    Returns doc columns… + zone_id + dist_m (0.0 for interior points).

    The zone side (margin-expanded covering cells) follows the size rule
    of :func:`_zone_side`: a zone side Spark would broadcast is packed on
    the driver and its cell and ring tables are broadcast; a larger one
    is packed on the executors in one ``mapInArrow`` — the driver never
    collects a zone, so a 10^6-zone side is just more partitions — and
    both joins hash-partition on their keys.  Rings reach the refine ON
    JOIN ROWS via a (zone_id → rings) attach join.
    """
    if res is None:
        res = cells.res_for_meters(max(distance_m, 500.0) * 4)

    z, _, broadcast = _zone_side(zones, res, margin_m=distance_m)
    zone_cells = _explode_zone_cells(z).select("cell_id", "zone_id", "full")
    flat_ext, flat_int = flat_ring_cols(F.col("_z.exterior"), F.col("_z.interiors"))
    zone_rings = z.select(
        "zone_id", flat_ext.alias("_zext"), flat_int.alias("_zint")
    )
    if broadcast:
        zone_cells = F.broadcast(zone_cells)
        zone_rings = F.broadcast(zone_rings)

    pts = tile_assign(docs.drop("cell_id"), res, lon_col, lat_col)
    cand = pts.join(zone_cells, "cell_id", "inner").join(zone_rings, "zone_id", "inner")
    # full cells never touch the rings (distance 0 short-circuit) — null
    # them out so the Arrow transfer only pays for partial candidates
    cand = cand.withColumn(
        "_zext", F.when(F.col("full"), F.lit(None)).otherwise(F.col("_zext"))
    ).withColumn(
        "_zint", F.when(F.col("full"), F.lit(None)).otherwise(F.col("_zint"))
    )

    from ..kernels import geodesic

    @F.pandas_udf(T.DoubleType())
    def zone_dist(lon: pd.Series, lat: pd.Series, zone_id: pd.Series,
                  full: pd.Series, zext: pd.Series, zint: pd.Series) -> pd.Series:
        lon_np = lon.to_numpy(dtype=np.float64)
        lat_np = lat.to_numpy(dtype=np.float64)
        out = np.full(len(lon_np), np.inf)
        out[full.to_numpy(dtype=bool)] = 0.0
        todo = np.nonzero(~full.to_numpy(dtype=bool))[0]
        if len(todo):
            codes, uniques = pd.factorize(zone_id.to_numpy()[todo])
            for k in range(len(uniques)):
                m = todo[codes == k]
                rings = _rings_from_flat(zext.iloc[m[0]], zint.iloc[m[0]])
                px, py = lon_np[m], lat_np[m]
                inside = geom_k.points_in_polygon(px, py, rings)
                best = np.full(len(m), np.inf)
                bqx = np.zeros(len(m))
                bqy = np.zeros(len(m))
                for r in rings:
                    d2, qx, qy = geom_k._nearest_on_segments(px, py, r[:-1], r[1:])
                    better = d2 < best
                    best = np.where(better, d2, best)
                    bqx = np.where(better, qx, bqx)
                    bqy = np.where(better, qy, bqy)
                dist = geodesic.inverse(py, px, bqy, bqx)
                out[m] = np.where(inside, 0.0, dist)
        return pd.Series(out)

    # single-eval barrier: the refine column feeds BOTH the filter and the
    # output; without this Catalyst inlines the (expensive) Arrow UDF into
    # each consumer and evaluates it twice per candidate
    zone_dist = zone_dist.asNondeterministic()
    cand = cand.withColumn(
        "dist_m",
        zone_dist(F.col(lon_col), F.col(lat_col), F.col("zone_id"),
                  F.col("full"), F.col("_zext"), F.col("_zint")),
    )
    return cand.where(F.col("dist_m") < F.lit(distance_m)).drop("full", "_zext", "_zint")


def beyond_join(
    docs: DataFrame,
    pois: DataFrame,
    distance_m: float,
    res: int | None = None,
    lon_col: str = "lon",
    lat_col: str = "lat",
    id_col: str = "doc_id",
) -> DataFrame:
    """BEYOND: docs with NO poi within ``distance_m`` — the anti-join of
    DWITHIN (reference ``isBeyond``, TopologicalRelationships.java:194-196)."""
    near = dwithin_join(docs, pois, distance_m, res, lon_col, lat_col)
    if id_col not in docs.columns:
        raise ValueError(
            f"beyond anti-join needs a unique id column; {id_col!r} "
            f"not in {docs.columns}"
        )
    return docs.join(near.select(id_col).distinct(), id_col, "left_anti")


def expand_poi_cells(
    pois: DataFrame,
    res: int,
    k_rings: int,
    id_col: str = "poi_id",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """(cell_id, poi_id, poi_lon, poi_lat): each poi exploded into its
    cell disk — pure Column math on the DataFrame side, so a 10^7-poi
    table expands distributed (the driver never materializes it)."""
    from ..functions import disk_cells_col

    return pois.select(
        F.col(id_col).alias("poi_id"),
        F.col(x_col).alias("poi_lon"),
        F.col(y_col).alias("poi_lat"),
        F.explode(
            disk_cells_col(F.col(x_col), F.col(y_col), res, k_rings)
        ).alias("cell_id"),
    )


def dwithin_join(
    docs: DataFrame,
    pois: DataFrame,
    distance_m: float,
    res: int | None = None,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """docs × pois pairs with geodesic distance < distance_m (DWITHIN).

    Reference: ``TopologicalRelationships.isWithinDistance``
    (``TopologicalRelationships.java:149-179``), nearest-points +
    orthodromic distance.  Join shape: cell-disk expansion of the poi side
    within ceil(d/cell_edge) rings (distributed Column math — no driver
    collect, see :func:`expand_poi_cells`) → equi-join on cell →
    haversine prefilter (JVM Column math) → exact Vincenty refine
    (Arrow/numpy UDF).

    The poi side has no pack to place, so the join carries no hint:
    Spark's own join selection broadcasts the expanded poi side when its
    estimate is within ``spark.sql.autoBroadcastJoinThreshold`` (the
    bound :func:`_zone_side` sizes zone sides by) and otherwise
    hash-partitions both sides on cell_id.

    BEYOND (``isBeyond``, :194-196) = anti-join on this result.
    """
    if res is None:
        res = cells.res_for_meters(max(distance_m, 500.0) * 2)
    edge_deg = 180.0 / (1 << res)
    k_rings = int(np.ceil(distance_m / (edge_deg * 111_320.0))) + 1

    poi_cells = expand_poi_cells(pois, res, k_rings)
    # always re-tile at THIS join's resolution: a caller-supplied cell_id
    # tiled at a different res would silently join to nothing (cell ids
    # embed the res in their high bits); the bit math is codegen'd JVM —
    # recomputing is cheaper than trusting
    pts = tile_assign(docs.drop("cell_id"), res, lon_col, lat_col)
    cand = pts.join(poi_cells, "cell_id", "inner")

    from ..functions import haversine_m, vincenty_m_udf

    # spherical prefilter with 0.6% guard band, then exact ellipsoidal refine
    cand = cand.where(
        haversine_m(F.col(lat_col), F.col(lon_col), F.col("poi_lat"), F.col("poi_lon"))
        < F.lit(distance_m * 1.01)
    )
    # single-eval barrier: dist_m feeds both the filter and downstream
    # projections — without this Catalyst inlines the Arrow UDF into each
    # consumer and runs the Vincenty refine twice per candidate
    geo_dist = vincenty_m_udf().asNondeterministic()
    return cand.withColumn(
        "dist_m", geo_dist(F.col(lat_col), F.col(lon_col), F.col("poi_lat"), F.col("poi_lon"))
    ).where(F.col("dist_m") < F.lit(distance_m))
