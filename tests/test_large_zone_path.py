"""Large-zone-side scale path: 10^5 zones with NO driver-side collect.

A zone side too large for the driver must never be collected.  Every
cell join follows one size rule: a zone side Spark would broadcast is
packed on the driver, a larger one on the executors
(spatial_join.prep_zone_struct, one mapInArrow), with rings shipped on
join rows.  These tests run `dwithin_zone_join` and `geometry_join`
with the broadcast bound off (the ``no_broadcast`` fixture) over a
100,000-zone grid built entirely from Column expressions (the zone
table never exists on the driver) and check planted docs land in their
analytically-known zones.  The bound has to be off: under the session
default the size rule estimates this grid within it (see
``test_100k_grid_estimated_within_the_bound``).

Also covers the malformed-WKT routing rule (ADVICE r2): unparseable
geometries are excluded from BOTH the intersects output and the disjoint
anti-join base — a parse failure must not be reported as
disjoint-from-every-zone (the reference throws on unparseable geometry).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from geomatics_geotk_spark.operators import spatial_join as sj
from geomatics_geotk_spark.operators.geometry_join import geometry_join

NX, NY = 400, 250  # 100,000 zones
X0, Y0 = -130.0, 40.0
W, H = 0.05, 0.048


@pytest.fixture(scope="module")
def grid_zones(spark):
    """100k rectangle zones as pure Column math — never driver-materialized."""
    i = (F.col("id") % NX).cast("double")
    j = F.floor(F.col("id") / NX).cast("double")
    x0 = F.lit(X0) + i * W
    y0 = F.lit(Y0) + j * H

    def pt(xx, yy):
        return F.struct(xx.alias("x"), yy.alias("y"))

    exterior = F.array(
        pt(x0, y0), pt(x0 + W, y0), pt(x0 + W, y0 + H), pt(x0, y0 + H), pt(x0, y0)
    )
    return spark.range(NX * NY).select(
        F.concat(F.lit("z"), F.col("id")).alias("zone_id"),
        F.lit("CRS:84").alias("crs"),
        exterior.alias("exterior"),
        F.lit(None).cast("array<array<struct<x:double,y:double>>>").alias("interiors"),
    )


def _center(i: int, j: int) -> tuple[float, float]:
    return X0 + (i + 0.5) * W, Y0 + (j + 0.5) * H


def test_geometry_join_100k_zones_no_driver_collect(spark, grid_zones, no_broadcast):
    # planted docs: points at cell centers (each strictly inside exactly
    # one zone) + one line crossing two horizontally-adjacent zones
    planted = [(7, 11), (123, 99), (399, 249), (0, 0), (200, 125)]
    rows = []
    for n, (i, j) in enumerate(planted):
        cx, cy = _center(i, j)
        rows.append((n, f"POINT ({cx} {cy})"))
    cx, cy = _center(50, 50)
    rows.append((len(rows), f"LINESTRING ({cx} {cy}, {cx + W} {cy})"))
    docs = spark.createDataFrame(rows, "doc_id long, wkt string")

    got = {
        (r["doc_id"], r["zone_id"])
        for r in geometry_join(docs, grid_zones, "intersects", res=10).collect()
    }
    want = {(n, f"z{j * NX + i}") for n, (i, j) in enumerate(planted)}
    # the line starts in (50,50) and ends in (51,50)
    want |= {(5, f"z{50 * NX + 50}"), (5, f"z{50 * NX + 51}")}
    assert got == want


def test_dwithin_zone_join_100k_zones_no_driver_collect(spark, grid_zones, no_broadcast):
    # interior point → dist 0 to its own zone; margin pulls in neighbours
    cx, cy = _center(100, 100)
    docs = spark.createDataFrame([(0, cx, cy)], "doc_id long, lon double, lat double")
    out = sj.dwithin_zone_join(docs, grid_zones, distance_m=500.0).collect()
    by_zone = {r["zone_id"]: r["dist_m"] for r in out}
    home = f"z{100 * NX + 100}"
    assert by_zone[home] == 0.0
    # 500 m < half a cell (~2.6 km), so ONLY the home zone qualifies
    assert set(by_zone) == {home}


def test_100k_grid_estimated_within_the_bound(spark, grid_zones):
    """The gap the two tests above step round with ``no_broadcast``: the
    size rule reads Catalyst's estimate of the raw zones, which counts
    each ring array as one element, so under the session's default bound
    this 100k-zone grid sizes as broadcastable and a sized join would
    collect and pack every zone on the driver.  Sizing the packed side
    instead would make this test fail; then its assertion flips."""
    size = grid_zones._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    bound = int(spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    assert 0 < size <= bound
    assert sj._broadcastable(grid_zones)


def test_malformed_wkt_excluded_from_disjoint(spark):
    from geomatics_geotk_spark.sources.documents import zones_table

    zones = zones_table(spark, grid=4)
    docs = spark.createDataFrame(
        [
            (0, "POINT (-123.2 49.3)"),          # valid, in the fixture area
            (1, "NOT A GEOMETRY"),               # malformed
            (2, "LINESTRING (oops)"),            # malformed
            (3, "POINT (-10.0 10.0)"),           # valid, far from every zone
        ],
        "doc_id long, wkt string",
    )
    inter = {r["doc_id"] for r in geometry_join(docs, zones, "intersects", res=10).collect()}
    dis = {r["doc_id"] for r in geometry_join(docs, zones, "disjoint", res=10).collect()}
    assert 1 not in inter and 2 not in inter
    # malformed rows must NOT come back as disjoint-from-every-zone
    assert 1 not in dis and 2 not in dis
    assert 3 in dis
    assert inter.isdisjoint(dis)
