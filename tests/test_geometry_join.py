"""Generic-geometry join vs brute-force kernel evaluation — verifies the
envelope-cover candidate generation + Arrow refine plumbing reproduces
exact pairwise semantics for mixed POINT/LINESTRING/POLYGON docs."""

from __future__ import annotations

import numpy as np
import pytest

from geomatics_geotk_spark.kernels import crs
from geomatics_geotk_spark.kernels import geometry as geom_k
from geomatics_geotk_spark.operators.geometry_join import geometry_join
from geomatics_geotk_spark.operators.spatial_join import _ring_arrays
from geomatics_geotk_spark.sources.documents import zones_table


@pytest.fixture(scope="module")
def mixed_docs(spark):
    rng = np.random.default_rng(3)
    rows = []
    for i in range(60):
        x, y = -123.5 + rng.uniform(0, 1), 49.0 + rng.uniform(0, 1)
        k = i % 3
        if k == 0:
            w = f"POINT ({x} {y})"
        elif k == 1:
            w = f"LINESTRING ({x} {y}, {x + 0.2} {y + 0.15}, {x + 0.3} {y})"
        else:
            w = (
                f"POLYGON (({x} {y}, {x + 0.12} {y}, {x + 0.12} {y + 0.12}, "
                f"{x} {y + 0.12}, {x} {y}))"
            )
        rows.append((i, w))
    return rows, spark.createDataFrame(rows, "doc_id long, wkt string")


@pytest.mark.parametrize("pred", ["intersects", "within", "crosses", "overlaps", "touches"])
def test_matches_brute_force(spark, mixed_docs, pred):
    rows, docs = mixed_docs
    zones = zones_table(spark, grid=4)
    got = {
        (r["doc_id"], r["zone_id"])
        for r in geometry_join(docs, zones, pred, res=10).collect()
    }
    zrows = zones.collect()
    want = set()
    for i, w in rows:
        kind, parts = geom_k.parse_wkt(w)
        for zr in zrows:
            rings = [np.column_stack(crs.to_lonlat(r[:, 0], r[:, 1], zr["crs"]))
                     for r in _ring_arrays(zr["exterior"], zr["interiors"])]
            if getattr(geom_k, pred)(kind, parts, "polygon", rings):
                want.add((i, zr["zone_id"]))
    assert got == want


def test_disjoint_is_complement(spark, mixed_docs):
    rows, docs = mixed_docs
    zones = zones_table(spark, grid=4)
    inter_ids = {
        r["doc_id"] for r in geometry_join(docs, zones, "intersects", res=10).collect()
    }
    dis_ids = {r["doc_id"] for r in geometry_join(docs, zones, "disjoint", res=10).collect()}
    assert dis_ids == {i for i, _ in rows} - inter_ids


@pytest.mark.parametrize("strategy", ["broadcast", "shuffle"])
def test_disjoint_plan_shares_one_envelope(spark, mixed_docs, request, strategy):
    """disjoint = intersects' Arrow stages plus the anti-join base, which
    reuses the intersects pass's enveloped docs: one envelope stage on
    each side of the anti-join and one refine (3 ArrowEvalPython nodes,
    against 2 for intersects alone).  The zone side is sized, so
    'shuffle' turns the broadcast bound off."""
    if strategy == "shuffle":
        request.getfixturevalue("no_broadcast")
    _, docs = mixed_docs
    zones = zones_table(spark, grid=4)

    def arrow_nodes(pred):
        plan = geometry_join(docs, zones, pred, res=10)._jdf \
            .queryExecution().executedPlan().toString()
        return plan.count("ArrowEvalPython"), plan.count("_wkt_envelope")

    assert arrow_nodes("intersects") == (2, 1)
    assert arrow_nodes("disjoint") == (3, 2)
