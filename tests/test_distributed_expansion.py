"""Distributed poi/zone cell expansion: the scale paths that replace the
round-1 driver-side loops.

- expand_poi_cells / disk_cells_col must equal the numpy cells.disk
  expansion exactly;
- dwithin_join at 10^5 POIs runs with NO driver collect (broadcast
  bound off) and matches a numpy brute-force truth on sampled docs;
- the zone packer gives the identical prepared zone side on the driver
  (strategy 'broadcast') and on the executors ('shuffle'), for every
  way interiors arrive;
- a zone with a hole goes through both preps and every join that uses
  them.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geomatics_geotk_spark import cells
from geomatics_geotk_spark.kernels import geodesic
from geomatics_geotk_spark.operators import spatial_join as sj
from geomatics_geotk_spark.sources import synth_documents, zones_table

RES = 11
K = 2


@pytest.fixture(scope="module")
def pois_big(spark):
    # 100k deterministic pois in/around the Vancouver box
    n = 100_000
    df = spark.range(n).select(
        F.format_string("poi-%07d", F.col("id")).alias("poi_id"),
        (F.lit(-123.6) + (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(10**9)) / 1e9) * F.lit(1.3)).alias("x"),
        (F.lit(48.9) + (F.pmod(F.xxhash64("id", F.lit(2)), F.lit(10**9)) / 1e9) * F.lit(1.3)).alias("y"),
    )
    df = df.cache()
    df.count()
    return df


def test_expand_poi_cells_matches_numpy_disk(spark):
    pts = [("p0", -123.21, 49.27), ("p1", -122.6, 49.9), ("p2", 179.99, -45.0), ("p3", 0.0, 89.99)]
    df = spark.createDataFrame(pts, "poi_id string, x double, y double")
    got = {
        (r["poi_id"], r["cell_id"])
        for r in sj.expand_poi_cells(df, RES, K).collect()
    }
    want = set()
    for pid, x, y in pts:
        c = int(cells.cell_of([x], [y], RES)[0])
        for cc in cells.disk(c, K):
            want.add((pid, int(cc)))
    assert got == want


def test_dwithin_100k_pois_no_driver_collect(spark, pois_big, no_broadcast):
    docs = sj.tile_assign(
        sj.decode_geo_spans(synth_documents(spark, 400)), 12
    ).select("doc_id", "lon", "lat", "cell_id")
    dist = 2000.0
    out = sj.dwithin_join(docs, pois_big, distance_m=dist)
    got = {(r["doc_id"], r["poi_id"]) for r in out.collect()}

    # numpy brute-force truth over every (doc, poi) pair
    d = docs.select("doc_id", "lon", "lat").toPandas()
    p = pois_big.toPandas()
    want = set()
    lat1 = d["lat"].to_numpy()[:, None]
    lon1 = d["lon"].to_numpy()[:, None]
    lat2 = p["y"].to_numpy()[None, :]
    lon2 = p["x"].to_numpy()[None, :]
    hav = geodesic.haversine_m(lat1, lon1, lat2, lon2)
    ii, jj = np.nonzero(hav < dist * 1.02)  # shortlist, then exact
    ex = geodesic.inverse(
        lat1[ii, 0], lon1[ii, 0], lat2[0, jj], lon2[0, jj]
    )
    for k in np.nonzero(ex < dist)[0]:
        want.add((d["doc_id"].iloc[ii[k]], p["poi_id"].iloc[jj[k]]))
    assert got == want
    assert len(got) > 0


_TYPED_INTERIORS = "array<array<struct<x:double,y:double>>>"


def _zones_with_interiors(spark, tmp_path, kind):
    """Zones whose interiors arrive as ``kind``: 'typed' (with a zone of
    two holes of different lengths), all-null, or all-empty lists typed
    as a writer infers them: Arrow's list<null> reads as array<void>,
    and through parquet (as perfbench writes its DWithin zones) as
    array<int>."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from geomatics_geotk_spark.sources import polygon_zones

    plain = zones_table(spark, grid=2)
    if kind == "typed":
        outer = [(-123.4, 49.1), (-122.6, 49.1), (-122.6, 49.9), (-123.4, 49.9), (-123.4, 49.1)]
        holes = [[(-123.3, 49.2), (-123.2, 49.2), (-123.25, 49.3), (-123.3, 49.2)],
                 [(-122.9, 49.5), (-122.8, 49.5), (-122.75, 49.6), (-122.8, 49.7),
                  (-122.9, 49.65), (-122.9, 49.5)]]
        return plain.unionByName(polygon_zones(spark, [("two-holes", "CRS:84", outer, holes)]))
    if kind == "null":
        return plain.withColumn("interiors", F.lit(None).cast(_TYPED_INTERIORS))
    table = pa.Table.from_pylist([r.asDict(recursive=True) for r in plain.collect()])
    if kind == "array<void>":
        zones = spark.createDataFrame(table)
    else:
        pq.write_table(table, str(tmp_path / "zones.parquet"))
        zones = spark.read.parquet(str(tmp_path / "zones.parquet"))
    assert zones.schema["interiors"].dataType.simpleString() == kind
    return zones


@pytest.mark.parametrize("margin_m,slots", [(0.0, False), (5000.0, False), (0.0, True)],
                         ids=["plain", "margin", "slots"])
@pytest.mark.parametrize("interiors", ["typed", "null", "array<void>", "array<int>"])
def test_prepare_zones_distributed_equals_driver(spark, tmp_path, interiors, margin_m, slots):
    """The zone packer on the driver (strategy 'broadcast') and on the
    executors ('shuffle') gives the same prepared zone side, field by
    field of ``_z``, and the same slot count; exploded, partial cells
    carry the harmonized rings and full cells carry []."""
    zones = _zones_with_interiors(spark, tmp_path, interiors)
    res = 10
    (drv, k_drv, _), (exe, k_exe, _) = (
        sj._zone_side(zones, res, s, margin_m, slots) for s in ("broadcast", "shuffle")
    )
    assert k_drv == k_exe and (k_drv > 0) == slots
    got_d, got_x = sorted(drv.collect()), sorted(exe.collect())
    assert [r["zone_id"] for r in got_d] == [r["zone_id"] for r in got_x]
    for field in drv.schema["_z"].dataType.names:
        assert [r["_z"][field] for r in got_d] == [r["_z"][field] for r in got_x], field
    if interiors == "typed":
        assert [len(h) for r in got_x if r["zone_id"] == "two-holes" for h in r["_z"]["interiors"]] == [4, 6]
    cells_ = sj._explode_zone_cells(exe).collect()
    assert any(r["full"] for r in cells_) and not all(r["full"] for r in cells_)
    for r in cells_:
        if r["full"]:
            assert r["exterior"] == []
        else:
            assert len(r["exterior"]) >= 4


def test_holed_zone_every_prep_path(spark):
    """A zone with a hole through both zone preps and all three joins
    that use them: driver and executor preps give the same cells, the
    broadcast and shuffle point-in-polygon joins equal the numpy brute
    force (no point in the hole matches), and the DWithin join equals
    the brute-force witness distances.  A plain zone rides in the same
    Arrow batch, so empty and non-empty interiors decode together."""
    from geomatics_geotk_spark.kernels import geometry as geom_k

    outer = [(-123.4, 49.1), (-122.6, 49.1), (-122.6, 49.9), (-123.4, 49.9), (-123.4, 49.1)]
    hole = [(-123.1, 49.4), (-122.9, 49.45), (-122.95, 49.65), (-123.1, 49.4)]
    plain = [(-123.5, 49.0), (-123.3, 49.0), (-123.3, 49.05), (-123.5, 49.0)]
    zones = spark.createDataFrame(
        [("holed", "CRS:84", outer, [hole]), ("plain", "CRS:84", plain, [])],
        "zone_id string, crs string, exterior array<struct<x:double,y:double>>, "
        "interiors array<array<struct<x:double,y:double>>>",
    )
    res = 12
    key = lambda r: (r["cell_id"], r["zone_id"], r["full"])  # noqa: E731
    drv, _ = sj.prepare_zones(zones, res)
    dist = sj._explode_zone_cells(sj.prep_zone_struct(zones, res))
    assert sorted(map(key, drv.collect())) == sorted(map(key, dist.collect()))

    docs = sj.tile_assign(sj.decode_geo_spans(synth_documents(spark, 1500)), res)
    d = docs.select("doc_id", "lon", "lat").toPandas()
    px, py = d["lon"].to_numpy(), d["lat"].to_numpy()
    rings_by_zone = {
        "holed": [np.array(outer), np.array(hole)], "plain": [np.array(plain)],
    }
    want = set()
    for zid, rings in rings_by_zone.items():
        inside = geom_k.points_in_polygon(px, py, rings)
        want |= {(doc, zid) for doc in d["doc_id"][inside]}
    in_hole = set(d["doc_id"][geom_k.points_in_polygon(px, py, [np.array(hole)])])
    assert in_hole and not {doc for doc, _ in want} & in_hole
    for strategy in ("broadcast", "shuffle"):
        out = sj.spatial_join(docs, zones, res=res, strategy=strategy)
        assert {(r["doc_id"], r["zone_id"]) for r in out.collect()} == want

    dist_m = 3000.0
    out = sj.dwithin_zone_join(docs.select("doc_id", "lon", "lat"), zones, distance_m=dist_m)
    got = {(r["doc_id"], r["zone_id"], round(r["dist_m"], 6)) for r in out.collect()}
    want = set()
    for zid, rings in rings_by_zone.items():
        inside = geom_k.points_in_polygon(px, py, rings)
        best = np.full(len(px), np.inf)
        qx, qy = np.zeros(len(px)), np.zeros(len(px))
        for r in rings:
            d2, rx, ry = geom_k._nearest_on_segments(px, py, r[:-1], r[1:])
            better = d2 < best
            best = np.where(better, d2, best)
            qx, qy = np.where(better, rx, qx), np.where(better, ry, qy)
        vd = np.where(inside, 0.0, geodesic.inverse(py, px, qy, qx))
        want |= {
            (d["doc_id"].iloc[i], zid, round(float(vd[i]), 6))
            for i in np.nonzero(vd < dist_m)[0]
        }
    assert got == want
    assert any(doc in in_hole and v > 0.0 for doc, _, v in got)


@pytest.mark.parametrize("strategy", ["broadcast", "shuffle"])
def test_zone_prep_takes_untyped_empty_interiors(spark, tmp_path, request, strategy):
    """Zones written with only empty interiors get whatever type the
    writer infers for an empty list (:func:`_zones_with_interiors`).
    The zone prep of either strategy takes both like typed zones: the
    same DWithin and point-in-polygon join rows.  DWithin sizes its zone
    side, so 'shuffle' turns the broadcast bound off."""
    if strategy == "shuffle":
        request.getfixturevalue("no_broadcast")
    typed = zones_table(spark, grid=2)
    docs = sj.tile_assign(sj.decode_geo_spans(synth_documents(spark, 400)), 12)

    def rows(zones):
        return (
            sorted(map(tuple, sj.dwithin_zone_join(docs, zones, distance_m=3000.0).collect())),
            sorted(map(tuple, sj.spatial_join(docs, zones, res=12, strategy=strategy).collect())),
        )

    want = rows(typed)
    assert all(want)
    for kind in ("array<void>", "array<int>"):
        assert rows(_zones_with_interiors(spark, tmp_path, kind)) == want, kind


def test_dwithin_zone_join_vs_brute_force_pentagon(spark):
    """Geometry×geometry DWITHIN against a non-rectangular (pentagon)
    zone: the cell-prefiltered operator must reproduce the numpy brute
    force exactly — witness on the nearest boundary segment, Vincenty of
    the witness pair, interior points at distance 0."""
    import numpy as np
    from geomatics_geotk_spark.kernels import geometry as geom_k

    pentagon = [
        (-123.4, 49.1), (-122.9, 49.05), (-122.6, 49.4),
        (-122.9, 49.9), (-123.35, 49.7), (-123.4, 49.1),
    ]
    zones = spark.createDataFrame(
        [("pent", "CRS:84", pentagon, [])],
        "zone_id string, crs string, exterior array<struct<x:double,y:double>>, "
        "interiors array<array<struct<x:double,y:double>>>",
    )
    docs = sj.decode_geo_spans(synth_documents(spark, 600)).select("doc_id", "lon", "lat")
    dist = 6000.0
    out = sj.dwithin_zone_join(docs, zones, distance_m=dist)
    got = {(r["doc_id"], round(r["dist_m"], 6)) for r in out.collect()}

    d = docs.toPandas()
    ring = np.array(pentagon, dtype=np.float64)
    px, py = d["lon"].to_numpy(), d["lat"].to_numpy()
    inside = geom_k.points_in_polygon(px, py, [ring])
    d2, qx, qy = geom_k._nearest_on_segments(px, py, ring[:-1], ring[1:])
    vd = geodesic.inverse(py, px, qy, qx)
    vd = np.where(inside, 0.0, vd)
    want = {
        (d["doc_id"].iloc[i], round(float(vd[i]), 6))
        for i in np.nonzero(vd < dist)[0]
    }
    assert got == want
    assert any(v == 0.0 for _, v in got)  # interior points present
    assert any(v > 0.0 for _, v in got)   # exterior-but-near points present


def test_spatial_join_shuffle_2000_zones(spark):
    """Shuffle strategy with a large-ish zone side (2000 rects) prepared
    fully distributed — identical match set to the broadcast path."""
    n = 2000
    zones = spark.range(n).select(
        F.format_string("zz-%04d", F.col("id")).alias("zone_id"),
        F.lit("CRS:84").alias("crs"),
        F.transform(
            F.array(F.lit(0), F.lit(1), F.lit(2), F.lit(3), F.lit(4)),
            lambda i: F.struct(
                (F.lit(-123.5) + (F.col("id") % 50) * F.lit(0.02)
                 + F.when(i.isin(1, 2), F.lit(0.018)).otherwise(F.lit(0.0))).alias("x"),
                (F.lit(49.0) + F.floor(F.col("id") / 50) * F.lit(0.024)
                 + F.when(i.isin(2, 3), F.lit(0.02)).otherwise(F.lit(0.0))).alias("y"),
            ),
        ).alias("exterior"),
        F.array().cast("array<array<struct<x:double,y:double>>>").alias("interiors"),
    )
    docs = sj.tile_assign(sj.decode_geo_spans(synth_documents(spark, 2000)), 12)
    bc = sj.spatial_join(docs, zones, res=12, strategy="broadcast")
    sh = sj.spatial_join(docs, zones, res=12, strategy="shuffle")
    a = {(r["doc_id"], r["zone_id"]) for r in bc.select("doc_id", "zone_id").collect()}
    b = {(r["doc_id"], r["zone_id"]) for r in sh.select("doc_id", "zone_id").collect()}
    assert a == b
    assert len(a) > 500  # dense tiling: most docs land in a zone
