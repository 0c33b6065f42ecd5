"""The zone pack (``operators.spatial_join._zone_table``, every zone in
one set of numpy passes) against the per-zone reference it replaced:
the per-zone kernel below runs the cell classification, the segment /
box test and the edge-slot bands once per zone, and the packed tables
must be equal, on the driver and on the executors' ``mapInArrow`` path.

Mutations this catches (each checked by hand on a copy of the pack):
dropping a ring's closing edge from the segments, and shifting the
corner grid by one column.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from geomatics_geotk_spark import cells
from geomatics_geotk_spark.kernels import crs as crs_k
from geomatics_geotk_spark.kernels import geometry as geom_k
from geomatics_geotk_spark.operators import spatial_join as sj
from geomatics_geotk_spark.operators.spatial_join import (
    _EDGES,
    _list_array,
    _ring_arrays,
    _zprep_schema,
)

# ---------------------------------------------------------------------------
# The reference: the per-zone kernel
# ---------------------------------------------------------------------------


def _lonlat(rings: list[np.ndarray], crs) -> list[np.ndarray]:
    """(n,2) rings in the CRS's native axes → (n,2) lon/lat rings,
    CRS-harmonized (reference setCRS semantics) and axis-normalized."""
    out = []
    for r in rings:
        lon, lat = crs_k.to_lonlat(r[:, 0], r[:, 1], crs)
        out.append(np.column_stack([lon, lat]))
    return out


def _segs_hit_boxes(rings: list[np.ndarray], x0, y0, x1, y1) -> np.ndarray:
    """(n_cells,) bool: does any ring segment intersect each axis box?

    Vectorized slab clipping over (segments × cells); a segment wholly
    inside a box counts as a hit (strictly more conservative than the
    ring-edge test — such cells classify partial and the exact refine
    decides, so join row sets are unchanged).
    """
    hit = np.zeros(x0.shape, dtype=bool)
    for r in rings:
        ax, ay = r[:-1, 0][:, None], r[:-1, 1][:, None]
        bx, by = r[1:, 0][:, None], r[1:, 1][:, None]
        dx, dy = bx - ax, by - ay
        with np.errstate(divide="ignore", invalid="ignore"):
            tx0 = (x0[None, :] - ax) / dx
            tx1 = (x1[None, :] - ax) / dx
            ty0 = (y0[None, :] - ay) / dy
            ty1 = (y1[None, :] - ay) / dy
        txmin = np.minimum(tx0, tx1)
        txmax = np.maximum(tx0, tx1)
        tymin = np.minimum(ty0, ty1)
        tymax = np.maximum(ty0, ty1)
        # degenerate axes: inside-slab ⇒ (-inf, inf), outside ⇒ empty
        deg_x = dx == 0
        in_x = (ax >= x0[None, :]) & (ax <= x1[None, :])
        txmin = np.where(deg_x, np.where(in_x, -np.inf, np.inf), txmin)
        txmax = np.where(deg_x, np.where(in_x, np.inf, -np.inf), txmax)
        deg_y = dy == 0
        in_y = (ay >= y0[None, :]) & (ay <= y1[None, :])
        tymin = np.where(deg_y, np.where(in_y, -np.inf, np.inf), tymin)
        tymax = np.where(deg_y, np.where(in_y, np.inf, -np.inf), tymax)
        tmin = np.maximum(np.maximum(txmin, tymin), 0.0)
        tmax = np.minimum(np.minimum(txmax, tymax), 1.0)
        hit |= (tmin <= tmax).any(axis=0)
    return hit


def _classify_zone_cells(rings: list[np.ndarray], res: int, margin_m: float = 0.0):
    """Covering cells of a polygon with full/partial classification —
    vectorized numpy over (cells × ring segments).  Returns
    (kept_cell_ids, full_mask) arrays.

    With ``margin_m`` > 0 the covering box expands by the distance margin
    (conservative meridian/parallel degrees) and EVERY cell in the
    expanded box is kept — the DWithin candidate disk, where cells not
    touching the polygon are still within reach of it.  full = cell
    entirely inside the polygon (distance 0; refine skipped).
    """
    xmin, ymin, xmax, ymax = geom_k.envelope_of(rings)
    if margin_m > 0.0:
        mlat = margin_m / 110_000.0  # conservative meridian degree
        max_abs_lat = min(89.9, max(abs(ymin), abs(ymax)) + mlat)
        mlon = margin_m / (111_320.0 * np.cos(np.deg2rad(max_abs_lat)))
        carr = cells.cells_covering(xmin - mlon, ymin - mlat, xmax + mlon, ymax + mlat, res)
    else:
        carr = cells.cells_covering(xmin, ymin, xmax, ymax, res)
    cx0, cy0, cx1, cy1 = cells.cell_bounds_many(carr)
    corners_in = np.ones(len(carr), dtype=bool)
    corners_any = np.zeros(len(carr), dtype=bool)
    for gx, gy in ((cx0, cy0), (cx1, cy0), (cx1, cy1), (cx0, cy1)):
        c_in = geom_k.points_in_polygon(gx, gy, rings)
        corners_in &= c_in
        corners_any |= c_in
    hits = _segs_hit_boxes(rings, cx0, cy0, cx1, cy1)
    full_mask = corners_in & ~hits
    if margin_m > 0.0:
        return carr, full_mask
    fx, fy = rings[0][0, 0], rings[0][0, 1]
    first_in = (fx >= cx0) & (fx <= cx1) & (fy >= cy0) & (fy <= cy1)
    keep = full_mask | corners_any | hits | first_in
    return carr[keep], full_mask[keep]


# far above the double rounding of a cell bound or of a point's cell, far
# below any cell edge (res 28 cells are ~7e-7 degrees)
_BAND_MARGIN_DEG = 1e-9


def _band_edges(rings: list[np.ndarray], cell_ids: np.ndarray):
    """The edge slots of each cell: the ring edges p→c, in ring order,
    with p.y != c.y, whose y-range meets the cell's y-range and whose
    larger x reaches the cell's left side (both widened by
    ``_BAND_MARGIN_DEG``).

    No other edge can satisfy ``(p.y > lat) != (c.y > lat) AND lon <
    xcross`` for a point of the cell, so the crossing count over a cell's
    slots equals the full-ring count for every point that cell_id_col
    puts in it.  A cell on the edge of the lon/lat domain also holds the
    points clamped into it from beyond, so its band is open on that side.
    A cell with no exterior slot has no point inside the exterior, so it
    gets no slot at all.

    Returns (per-cell slot counts, (n,2) p, (n,2) c, (n,) last), slots
    grouped by cell; ``last`` marks the last slot of a ring in its cell.
    """
    x0, y0, _, y1 = cells.cell_bounds_many(cell_ids)
    x_lo = np.where(x0 <= -180.0, -np.inf, x0 - _BAND_MARGIN_DEG)[:, None]
    y_lo = np.where(y0 <= -90.0, -np.inf, y0 - _BAND_MARGIN_DEG)[:, None]
    y_hi = np.where(y1 >= 90.0, np.inf, y1 + _BAND_MARGIN_DEG)[:, None]
    p = np.concatenate([r[:-1] for r in rings])
    c = np.concatenate([r[1:] for r in rings])
    ring = np.repeat(np.arange(len(rings)), [len(r) - 1 for r in rings])
    band = (
        (p[:, 1] != c[:, 1])
        & (np.minimum(p[:, 1], c[:, 1]) <= y_hi)
        & (np.maximum(p[:, 1], c[:, 1]) >= y_lo)
        & (np.maximum(p[:, 0], c[:, 0]) >= x_lo)
    )
    band &= band[:, ring == 0].any(axis=1, keepdims=True)
    row, col = np.nonzero(band)  # row-major: each cell's slots in ring order
    slot_ring = ring[col]
    last = np.ones(len(col), dtype=bool)
    last[:-1] = (row[1:] != row[:-1]) | (slot_ring[1:] != slot_ring[:-1])
    return band.sum(axis=1), p[col], c[col], last


def _prep_zone(rings: list[np.ndarray], crs, res: int, margin_m: float = 0.0,
               slots: bool = False):
    """The per-zone kernel: one zone's [exterior, *interiors] (n,2) rings
    in its CRS → (rings, kept_cell_ids, full_mask, slots) as numpy — the
    harmonized lon/lat rings, the classified covering cells and, when
    ``slots`` is asked for (only :func:`spatial_join` reads them), the
    partial cells' edge slots as :func:`_band_edges` returns them, over
    all kept cells (full cells get none); else ``slots`` is None.
    :func:`reference_zone_table` packs it."""
    rings = _lonlat(rings, crs)
    kept, full_mask = _classify_zone_cells(rings, res, margin_m)
    if slots:
        partial = np.nonzero(~full_mask)[0]
        n, p, c, last = _band_edges(rings, kept[partial])
        counts = np.zeros(len(kept), dtype=np.int64)
        counts[partial] = n
        slots = counts, p, c, last
    else:
        slots = None
    return rings, kept, full_mask, slots


def _points_array(rings: list[np.ndarray]) -> pa.ListArray:
    """(n,2) rings → list<struct<x,y>>, one list per ring."""
    xy = np.concatenate(rings) if rings else np.empty((0, 2))
    return _list_array([len(r) for r in rings],
                       pa.StructArray.from_arrays([xy[:, 0], xy[:, 1]], names=["x", "y"]))


def _concat(parts, dtype, width: int = 0) -> np.ndarray:
    """np.concatenate that also takes no parts (a zone side with no zone)."""
    if parts:
        return np.concatenate(parts).astype(dtype, copy=False)
    return np.empty((0, width) if width else 0, dtype=dtype)


def reference_zone_table(rows, zone_id: pa.DataType, res: int, margin_m: float = 0.0,
                         slots: bool = False) -> pa.Table:
    """The reference packing: :func:`_prep_zone` once per zone, packed
    into the :func:`spatial_join._zprep_schema` carrier by list
    offsets."""
    preps = [
        _prep_zone(_ring_arrays(r["exterior"], r["interiors"]), r["crs"], res, margin_m, slots)
        for r in rows
    ]
    rings, kept, full, zslots = (list(v) for v in zip(*preps)) if preps else ([], [], [], [])
    holes = [h for zr in rings for h in zr[1:]]
    cell_cols = [pa.array(_concat(kept, np.int64)), pa.array(_concat(full, np.bool_))]
    if slots:
        counts, p, c, last = zip(*zslots) if zslots else ([], [], [], [])
        p, c = _concat(p, np.float64, 2), _concat(c, np.float64, 2)
        edges_arr = pa.StructArray.from_arrays(
            [p[:, 0], p[:, 1], c[:, 0], c[:, 1], pa.array(_concat(last, np.bool_))],
            names=_EDGES.elementType.names,
        )
        cell_cols.append(_list_array(_concat(counts, np.int64), edges_arr))
    schema = _zprep_schema(slots)
    cells_arr = pa.StructArray.from_arrays(
        cell_cols, names=schema["cells"].dataType.elementType.names)
    zprep = pa.StructArray.from_arrays(
        [
            _points_array([zr[0] for zr in rings]),
            _list_array([len(zr) - 1 for zr in rings], _points_array(holes)),
            _list_array([len(zk) for zk in kept], cells_arr),
        ],
        names=schema.names,
    )
    return pa.table({"zone_id": pa.array([r["zone_id"] for r in rows], zone_id), "_z": zprep})


# ---------------------------------------------------------------------------
# The pack against the reference
# ---------------------------------------------------------------------------


def _edge_zones(res):
    """Zones at the edges of the grid and of the cell arithmetic: boxes
    past ±180/±90 and on the corner of the domain (their covering cells
    clamp), a triangle with a vertex on a cell corner and a triangle
    inside one cell."""
    w = 360.0 / (1 << (res + 1))
    h = 180.0 / (1 << res)
    x0, y0, _, _ = cells.index_bounds(np.array([7000 >> (14 - res)]), np.array([3000 >> (14 - res)]), res)
    x0, y0 = float(x0[0]), float(y0[0])

    def box(a, b, c, d):
        return np.array([(a, b), (c, b), (c, d), (a, d), (a, b)])

    return {
        "past-east-north": [box(179.0, 88.5, 180.7, 90.4)],
        "past-west-south": [box(-180.6, -90.3, -178.8, -88.9), box(-180.2, -90.1, -179.9, -89.8)],
        "domain-corner": [box(-180.0, -90.0, -180.0 + 2.5 * w, -90.0 + 1.5 * h)],
        "vertex-on-corner": [np.array([(x0, y0), (x0 + 3 * w, y0 + 0.5 * h), (x0 + w, y0 + 2.5 * h), (x0, y0)])],
        "inside-one-cell": [np.array([(x0 + 0.2 * w, y0 + 0.2 * h), (x0 + 0.7 * w, y0 + 0.3 * h),
                                      (x0 + 0.4 * w, y0 + 0.8 * h), (x0 + 0.2 * w, y0 + 0.2 * h)])],
    }


def _zone_rows(zones):
    """(zone_id, crs, exterior, interiors) tuples, every other zone in
    EPSG:4326, whose stored order is (lat, lon)."""
    rows = []
    for i, (zid, rings) in enumerate(zones.items()):
        crs = "EPSG:4326" if i % 2 else "CRS:84"
        pts = [[(float(a), float(b)) for a, b in (r[:, ::-1] if crs == "EPSG:4326" else r)] for r in rings]
        rows.append((zid, crs, pts[0], pts[1:]))
    return rows


@pytest.fixture(scope="module", params=[10, 14], ids=["res10", "res14"])
def zone_set(request, spark):
    from test_pip_cross_impl import _row_of_holes, _star_zones

    from geomatics_geotk_spark.sources import polygon_zones

    res = request.param
    zones = {**_star_zones(np.random.default_rng(200 + res), res),
             "row-of-70-holes": _row_of_holes(), **_edge_zones(res)}
    zdf = polygon_zones(spark, _zone_rows(zones))
    return res, zdf, zdf.select(*sj._ZONE_COLS).collect()


_PACKS = pytest.mark.parametrize("margin_m,slots", [(0.0, False), (0.0, True), (5000.0, False), (5000.0, True)],
                                 ids=["plain", "slots", "margin", "margin-slots"])


@_PACKS
def test_driver_pack_equals_reference(zone_set, monkeypatch, margin_m, slots):
    """The driver's pack (``_driver_zones``) is the reference packing,
    and so it is with passes of a few elements (``_PAIR_CAP``)."""
    res, zdf, rows = zone_set
    want = reference_zone_table(rows, pa.string(), res, margin_m, slots)
    got = sj._driver_zones(zdf, res, margin_m, slots)[1]
    assert got.num_rows == len(rows) and got.equals(want)
    monkeypatch.setattr(sj, "_PAIR_CAP", 7)
    assert sj._zone_table(rows, pa.string(), res, margin_m, slots).equals(want)


@_PACKS
def test_executor_pack_equals_reference(zone_set, margin_m, slots):
    """The executors' pack (``prep_zone_struct``, one ``mapInArrow`` over
    ``to_pylist`` rows) is the reference packing."""
    res, zdf, rows = zone_set
    got = sj.prep_zone_struct(zdf, res, margin_m, slots).toArrow()
    want = reference_zone_table(rows, pa.string(), res, margin_m, slots)
    assert got.num_rows == len(rows) and got.equals(want.cast(got.schema))


@_PACKS
def test_no_zones(spark, zone_set, margin_m, slots):
    """Zero zones pack to the empty carrier, on both paths."""
    res, zdf, _ = zone_set
    want = reference_zone_table([], pa.string(), res, margin_m, slots)
    assert sj._zone_table([], pa.string(), res, margin_m, slots).equals(want)
    none = zdf.limit(0)
    assert sj._driver_zones(none, res, margin_m, slots)[1].equals(want)
    got = sj.prep_zone_struct(none, res, margin_m, slots).toArrow()
    assert got.num_rows == 0 and got.schema.equals(want.cast(got.schema).schema)


def test_zone_set_reaches_every_case(zone_set):
    """The zone set exercises what it is there for: full, partial and
    (for the row of holes) many-slot cells, and clamped covering cells
    in the domain's corner cells."""
    res, _, rows = zone_set
    t = sj._zone_table(rows, pa.string(), res, 0.0, True).column("_z").combine_chunks()
    cell_rows = t.field("cells").flatten()
    full = np.asarray(cell_rows.field("full"))
    assert full.any() and (~full).any()
    assert max(len(e) for e in cell_rows.field("edges").to_pylist()) > 100
    ids = set(np.asarray(cell_rows.field("cell_id")).tolist())
    corners = cells.index_cells(np.array([0, (1 << (res + 1)) - 1]), np.array([0, (1 << res) - 1]), res)
    assert set(corners.tolist()) <= ids
