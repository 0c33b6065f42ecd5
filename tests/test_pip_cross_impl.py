"""Cross-implementation consistency: the JVM Column crossing-number test
(functions.point_in_polygon_col) must agree bit-for-bit with the numpy
kernel (kernels.geometry.points_in_polygon) — the spatial join mixes both
(kernel classifies zone cells, Column refines candidates), so any
divergence silently corrupts join row sets."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from geomatics_geotk_spark.functions import (
    envelope_intersects_polygon_col,
    point_in_polygon_col,
)
from geomatics_geotk_spark.kernels import geometry as geom_k


def _random_polygon(rng, n_verts, with_hole):
    """Random star-shaped polygon (angle-sorted radii) + optional hole."""
    angles = np.sort(rng.uniform(0, 2 * np.pi, n_verts))
    radii = rng.uniform(0.3, 1.0, n_verts)
    xs, ys = radii * np.cos(angles), radii * np.sin(angles)
    ext = np.column_stack([xs, ys])
    ext = np.vstack([ext, ext[:1]])
    rings = [ext]
    if with_hole:
        hr = rng.uniform(0.05, 0.15)
        ha = np.sort(rng.uniform(0, 2 * np.pi, 5))
        hole = np.column_stack([hr * np.cos(ha), hr * np.sin(ha)])
        rings.append(np.vstack([hole, hole[:1]]))
    return rings


@pytest.mark.parametrize("with_hole", [False, True])
def test_column_pip_equals_kernel(spark, with_hole):
    rng = np.random.default_rng(7 if with_hole else 5)
    cases = []
    for case in range(20):
        rings = _random_polygon(rng, int(rng.integers(4, 12)), with_hole)
        px = rng.uniform(-1.2, 1.2, 50)
        py = rng.uniform(-1.2, 1.2, 50)
        expected = geom_k.points_in_polygon(px, py, rings)
        ext = [(float(x), float(y)) for x, y in rings[0]]
        ints = [[(float(x), float(y)) for x, y in r] for r in rings[1:]]
        for x, y, e in zip(px, py, expected):
            cases.append((case, float(x), float(y), ext, ints, bool(e)))
    df = spark.createDataFrame(
        cases,
        "case int, lon double, lat double, "
        "exterior array<struct<x:double,y:double>>, "
        "interiors array<array<struct<x:double,y:double>>>, expected boolean",
    )
    got = df.withColumn(
        "got",
        point_in_polygon_col(
            F.col("lon"), F.col("lat"), F.col("exterior"), F.col("interiors")
        ),
    )
    bad = got.where(F.col("got") != F.col("expected")).count()
    assert bad == 0


def test_column_envelope_refine_equals_kernel(spark):
    rng = np.random.default_rng(11)
    cases = []
    for case in range(30):
        rings = _random_polygon(rng, int(rng.integers(4, 10)), False)
        for _ in range(10):
            x0, y0 = rng.uniform(-1.5, 1.2, 2)
            w, h = rng.uniform(0.05, 0.8, 2)
            env = geom_k.envelope_as_polygon(x0, y0, x0 + w, y0 + h)
            expected = geom_k.polygons_intersect([env], rings)
            ext = [(float(x), float(y)) for x, y in rings[0]]
            cases.append(
                (case, float(x0), float(y0), float(x0 + w), float(y0 + h),
                 ext, [], bool(expected))
            )
    df = spark.createDataFrame(
        cases,
        "case int, xmin double, ymin double, xmax double, ymax double, "
        "exterior array<struct<x:double,y:double>>, "
        "interiors array<array<struct<x:double,y:double>>>, expected boolean",
    )
    got = df.withColumn(
        "got",
        envelope_intersects_polygon_col(
            F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"),
            F.col("exterior"), F.col("interiors"),
        ),
    )
    bad = got.where(F.col("got") != F.col("expected")).count()
    assert bad == 0


# ---------------------------------------------------------------------------
# The spatial join's refine: crossing number over per-cell edge slots
# ---------------------------------------------------------------------------


def _star(rng, cx, cy, r, n, flat=False):
    """Closed star polygon around (cx, cy); with ``flat`` two neighbouring
    vertices share a y (a horizontal edge)."""
    a = np.sort(rng.uniform(0, 2 * np.pi, n))
    rad = rng.uniform(0.4, 1.0, n) * r
    ring = np.column_stack([cx + rad * np.cos(a), cy + rad * np.sin(a)])
    if flat:
        ring[1, 1] = ring[0, 1]
    return np.vstack([ring, ring[:1]])


def _star_zones(rng, res):
    """Seeded star zones with 0-3 holes, about 20-60 cells across at
    ``res``.  Holes are stars around points near the centre, so they
    may overlap each other or poke out of the exterior (invalid
    polygons, where inside-exterior-and-in-no-hole differs from a XOR
    over all rings); zone 0 always has two overlapping holes."""
    cell = 180.0 / (1 << res)
    zones = {}
    for z in range(6):
        cx, cy = 10.0 + 50 * cell * z, 40.0 + rng.uniform(-5, 5) * cell
        r = rng.uniform(10, 30) * cell
        rings = [_star(rng, cx, cy, r, int(rng.integers(5, 16)), flat=z % 2 == 0)]
        for _ in range(2 if z == 0 else int(rng.integers(0, 4))):
            hx, hy = cx + rng.uniform(-0.3, 0.3) * r, cy + rng.uniform(-0.3, 0.3) * r
            rings.append(_star(rng, hx, hy, rng.uniform(0.2, 0.6) * r, int(rng.integers(3, 9))))
        zones[f"star-{z}"] = rings
    return zones


def _row_of_holes(res_fine=14, n_holes=70):
    """A rectangle with ``n_holes`` square holes in one row of cells at
    ``res_fine`` (so in one row at every coarser res): a cell left of the
    holes has a slot for each hole's two vertical edges."""
    h = 180.0 / (1 << res_fine)
    y0 = -90.0 + (int((30.0 + 90.0) / h) + 0.5) * h  # a row centre
    x = 20.0 + 1.2 * h * np.arange(n_holes)
    holes = [np.array([(a, y0 - 0.35 * h), (a + 0.7 * h, y0 - 0.35 * h), (a + 0.7 * h, y0 + 0.35 * h),
                       (a, y0 + 0.35 * h), (a, y0 - 0.35 * h)]) for a in x]
    ext = np.array([(19.9, y0 - 20 * h), (x[-1] + 2 * h, y0 - 20 * h), (x[-1] + 2 * h, y0 + 20 * h),
                    (19.9, y0 + 20 * h), (19.9, y0 - 20 * h)])
    return [ext, *holes]


def _probe_points(rng, zones, res, n_random=400):
    """Random points over each zone's box, plus points snapped onto its
    vertex x and y values (so onto edge y-values and vertices), onto edge
    midpoints and onto the bounds of the cells covering it."""
    from geomatics_geotk_spark import cells

    xs, ys = [], []
    for rings in zones.values():
        allv = np.concatenate(rings)
        x0, y0 = allv.min(axis=0)
        x1, y1 = allv.max(axis=0)
        rx, ry = rng.uniform(x0, x1, n_random), rng.uniform(y0, y1, n_random)
        xs += [rx, allv[:, 0], rx[: len(allv)], allv[:, 0]]
        ys += [ry, ry[: len(allv)], allv[:, 1], allv[:, 1]]
        mid = np.concatenate([(r[:-1] + r[1:]) / 2 for r in rings])
        xs.append(mid[:, 0])
        ys.append(mid[:, 1])
        cov = cells.cells_covering(x0, y0, x1, y1, res)
        cov = cov[rng.choice(len(cov), min(len(cov), n_random), replace=False)]
        bx0, by0, bx1, by1 = cells.cell_bounds_many(cov)
        k = len(cov)
        xs += [bx0, rng.uniform(x0, x1, k), bx0, bx1]
        ys += [rng.uniform(y0, y1, k), by0, by0, by1]
    return np.concatenate(xs), np.concatenate(ys)


def _zones_df(spark, zones):
    from geomatics_geotk_spark.sources import polygon_zones

    def pts(r):
        return [(float(x), float(y)) for x, y in r]

    return polygon_zones(spark, [
        (zid, "CRS:84", pts(rings[0]), [pts(h) for h in rings[1:]])
        for zid, rings in zones.items()
    ])


@pytest.fixture
def ansi(spark):
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    yield
    spark.conf.set("spark.sql.ansi.enabled", prev)


def _check_slot_refine(spark, monkeypatch, zones, res, joins):
    """Tile probe points around ``zones`` at ``res``; on every join
    candidate of the driver prep the slot refine must equal the full-ring
    test, the executor prep must give the same candidates and slot
    count, and each join in ``joins`` must return exactly the candidates
    the full-ring test accepts, both with the slot refine (``MAX_SLOTS``
    at this zone side's slot count) and with the full-ring refine it
    falls back to past ``MAX_SLOTS``."""
    import pandas as pd

    from geomatics_geotk_spark.functions import edge_slot_cols, edge_slots_pip_col
    from geomatics_geotk_spark.operators import spatial_join as sj

    lon, lat = _probe_points(np.random.default_rng(res), zones, res)
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [f"d{i}" for i in range(len(lon))], "lon": lon, "lat": lat,
    }))
    tiled = sj.tile_assign(docs, res).cache()
    zdf = _zones_df(spark, zones)
    key = ["cell_id", "zone_id", "full", "edges"]

    z_drv, k, _ = sj._zone_side(zdf, res, "broadcast", slots=True)
    z_dist, k_dist, _ = sj._zone_side(zdf, res, "shuffle", slots=True)
    drv, dist = sj._explode_zone_cells(z_drv), sj._explode_zone_cells(z_dist)
    assert k_dist == k
    assert sorted(drv.select(key).collect()) == sorted(dist.select(key).collect())
    cand = tiled.join(drv, "cell_id").select(
        "doc_id", "zone_id", "full",
        point_in_polygon_col(
            F.col("lon"), F.col("lat"), F.col("exterior"), F.col("interiors")
        ).alias("ring_pip"),
        F.expr(edge_slots_pip_col("lon", "lat", edge_slot_cols("edges", k))).alias("slot_pip"),
    ).collect()
    partial = [r for r in cand if not r["full"]]
    assert len(partial) > 1000 and sum(r["ring_pip"] for r in partial) > 100
    assert [r for r in partial if r["ring_pip"] != r["slot_pip"]] == []
    assert not any(r["slot_pip"] for r in cand if r["full"])  # no slots
    want = {(r["doc_id"], r["zone_id"]) for r in cand if r["full"] or r["ring_pip"]}
    for max_slots, refine in [(k, "_slot0_0"), (k - 1, "lambdafunction")]:
        monkeypatch.setattr(sj, "MAX_SLOTS", max_slots)
        for kw in joins:
            out = sj.spatial_join(tiled, zdf, res=res, **kw)
            assert refine in out._jdf.queryExecution().analyzed().toString(), (max_slots, kw)
            assert {(r["doc_id"], r["zone_id"]) for r in out.collect()} == want, (max_slots, kw)
    tiled.unpersist()
    return k


_BROADCAST = {"strategy": "broadcast"}
_SHUFFLE = {"strategy": "shuffle"}


@pytest.mark.parametrize("res", [10, 12, 14])
def test_edge_slots_refine_equals_full_ring_test(spark, ansi, monkeypatch, res):
    """The spatial join's slot refine against the full-ring crossing
    number on seeded star zones with 0-3 holes, under ANSI: horizontal
    edges and padding slots (rows with fewer slots than the largest)
    divide by zero only if ``And`` fails to short-circuit."""
    k = _check_slot_refine(spark, monkeypatch, _star_zones(np.random.default_rng(100 + res), res), res,
                           [_BROADCAST, _SHUFFLE])
    assert k >= 3


def test_edge_slots_refine_row_of_70_holes(spark, ansi, monkeypatch):
    """70 holes in one row of cells: a cell left of them carries a slot
    per vertical hole edge, so one row holds 71 rings (past any 64-bit
    ring mask) and the refine unrolls over 140+ slots."""
    k = _check_slot_refine(spark, monkeypatch, {"row-of-70-holes": _row_of_holes()}, 12,
                           [_BROADCAST, _SHUFFLE])
    assert k >= 140
