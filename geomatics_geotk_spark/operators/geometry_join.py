"""Generic-geometry spatial join: documents carrying ANY WKT geometry
(POINT / LINESTRING / POLYGON / MULTI*) joined to zone polygons under any
reference predicate (TopologicalRelationships.java:57-96).

Same filter-and-refine shape as the point fast path
(operators/spatial_join.py), but the filter step covers the geometry's
ENVELOPE (Column math over pre-extracted envelope columns) and the refine
evaluates the DE-9IM predicate with the BATCH kernels
(kernels/geometry_batch.py): candidates factorize by (zone, kind) inside
each Arrow batch and whole same-kind groups evaluate as concatenated
numpy array math — no Python loop over pairs (r2 verdict item 3; multi*
parts and ``touches`` fall back to the per-pair kernels, which remain the
semantic source of truth).

The zone side follows spatial_join's size rule (``_zone_side``): a
zone side Spark would broadcast → driver Arrow table, broadcast; a
larger one → executor ``mapInArrow``, shuffled.  Harmonized rings reach the
refine ON JOIN ROWS via a (zone_id → rings) attach join after the
candidate groupBy — the rings never ride through the explode/shuffle.

Points go through spatial_join's pure-JVM path; this operator is the
general path for the curve/surface geometries the reference flattens
(CurveCoordinateListFactory / SurfaceCoordinateListFactory semantics live
in kernels.geometry.parse_wkt).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import covering_cells_col
from ..kernels import geometry as geom_k
from ..kernels import geometry_batch as gb
from .spatial_join import _explode_zone_cells, _rings_from_flat, _zone_side, flat_ring_cols

DEFAULT_RES = 10

_ENV_SCHEMA = T.StructType([
    T.StructField("xmin", T.DoubleType()), T.StructField("ymin", T.DoubleType()),
    T.StructField("xmax", T.DoubleType()), T.StructField("ymax", T.DoubleType()),
])


def _wkt_envelope(wkt: pd.Series) -> pd.DataFrame:
    """Geometry envelope per WKT (Extents.calculateEnvelopeUsingSingle-
    Geometry semantics, Extents.java:131-183) — Arrow batch, numpy."""
    rows = []
    for w in wkt:
        try:
            kind, parts = geom_k.parse_wkt(w)
            rows.append(geom_k.envelope_of(parts))
        except Exception:  # noqa: BLE001 - malformed WKT → null envelope
            rows.append((np.nan, np.nan, np.nan, np.nan))
    return pd.DataFrame(rows, columns=["xmin", "ymin", "xmax", "ymax"])


def _wkt_envelope_udf():
    """A pandas UDF of :func:`_wkt_envelope`, new per call (a UDF caches
    its JVM twin, which a restarted SparkContext no longer knows).

    Single-eval barrier: _env feeds both the validity filter and the
    covering-cell explode — without it Catalyst inlines the Arrow UDF
    into each consumer and parses every WKT twice (seen as a second
    ArrowEvalPython node in PLANS.md before the fix).
    """
    return F.pandas_udf(_wkt_envelope, _ENV_SCHEMA).asNondeterministic()


def _refine_udf(predicate: str):
    """(wkt, zone_id, exterior, interiors) → bool, batch-vectorized.

    Inside each Arrow batch: parse each distinct WKT once (docs repeat
    across zones), factorize by zone, split each zone group by geometry
    kind, and evaluate whole same-kind groups with
    :func:`geometry_batch.batch_predicate`.  multi* kinds and predicates
    without a batch path evaluate per-pair (same kernels, same results —
    equality property-tested in tests/test_geometry_batch.py).

    NOTE: no full-cell shortcut exists on this path — a cell fully inside
    the zone only proves the geometry's ENVELOPE touches it, not the
    geometry itself (an L-shaped line can cover a cell it never enters),
    so every candidate pair is evaluated exactly.
    """

    @F.pandas_udf(T.BooleanType())
    def refine(wkt: pd.Series, zone_id: pd.Series,
               zext: pd.Series, zint: pd.Series) -> pd.Series:
        n = len(wkt)
        out = np.zeros(n, dtype=bool)
        parsed: dict[str, tuple | None] = {}
        wkt_np = wkt.to_numpy()
        for w in wkt_np:
            if w not in parsed:
                try:
                    parsed[w] = geom_k.parse_wkt(w)
                except Exception:  # noqa: BLE001
                    parsed[w] = None
        codes, uniques = pd.factorize(zone_id.to_numpy())
        for k in range(len(uniques)):
            zidx = np.nonzero(codes == k)[0]
            rings = _rings_from_flat(zext.iloc[zidx[0]], zint.iloc[zidx[0]])
            # split the zone group by kind; batch same-kind groups
            kinds = np.array([
                (parsed[w][0] if parsed[w] is not None else "_bad")
                for w in wkt_np[zidx]
            ])
            for kind in pd.unique(kinds):
                kidx = zidx[kinds == kind]
                if kind == "_bad":
                    continue
                if kind in ("point", "linestring", "polygon") and predicate in gb.BATCHABLE:
                    geoms = [parsed[w][1] for w in wkt_np[kidx]]
                    out[kidx] = gb.batch_predicate(predicate, kind, geoms, rings)
                else:
                    fn = getattr(geom_k, predicate)
                    for i in kidx:
                        kk, parts = parsed[wkt_np[i]]
                        out[i] = bool(fn(kk, parts, "polygon", rings))
        return pd.Series(out)

    return refine


def geometry_join(
    docs: DataFrame,
    zones: DataFrame,
    predicate: str = "intersects",
    res: int = DEFAULT_RES,
    wkt_col: str = "wkt",
    id_col: str = "doc_id",
) -> DataFrame:
    """docs(any WKT geometry) ⋈ zones(polygons) under ``predicate``.

    predicate ∈ intersects | within | contains | touches | crosses |
    overlaps | equals_topo; 'disjoint' = anti-join of intersects
    (TopologicalRelationships.java:71-73).

    A zone side Spark would broadcast is packed on the driver and its
    zone cell + ring tables ship to every executor; a larger one is
    packed on the executors and both joins hash-partition.
    """
    env = docs.withColumn("_env", _wkt_envelope_udf()(F.col(wkt_col)))
    # malformed WKT yields a NaN envelope (which Arrow surfaces as
    # NULL after the pandas round-trip) — route those rows out up
    # front: NaN would clamp covering_cells_col to a bogus max-corner
    # cell, and the reference THROWS on unparseable geometry, so
    # under 'disjoint' the anti-join base must also exclude them or a
    # parse failure would be misreported as disjoint-from-every-zone
    # (ADVICE r2).
    valid = env.where(
        F.col("_env.xmin").isNotNull() & ~F.isnan(F.col("_env.xmin"))
    )
    if predicate != "disjoint":
        return _join_enveloped(valid, zones, predicate, res, wkt_col, id_col)
    # share the enveloped subtree with the intersects pass instead of
    # re-deriving the WKT-envelope Arrow stage a second time
    matched = _join_enveloped(valid, zones, "intersects", res, wkt_col, id_col)
    return valid.drop("_env").join(matched.select(id_col).distinct(), id_col, "left_anti")


def _join_enveloped(valid: DataFrame, zones: DataFrame, predicate: str, res: int,
                    wkt_col: str, id_col: str) -> DataFrame:
    """:func:`geometry_join` over docs that carry a valid ``_env``."""
    z, _, broadcast = _zone_side(zones, res)
    zone_cells = _explode_zone_cells(z).select("cell_id", "zone_id")
    # rings travel flattened ([x0,y0,…] double arrays): Arrow hands the
    # refine numpy, not per-row dict lists — see flat_ring_cols
    flat_ext, flat_int = flat_ring_cols(F.col("_z.exterior"), F.col("_z.interiors"))
    zone_rings = z.select("zone_id", flat_ext.alias("_zext"), flat_int.alias("_zint"))
    if broadcast:
        zone_cells = F.broadcast(zone_cells)
        zone_rings = F.broadcast(zone_rings)

    cand = (
        valid.withColumn(
            "cell_id",
            F.explode(covering_cells_col(
                F.col("_env.xmin"), F.col("_env.ymin"),
                F.col("_env.xmax"), F.col("_env.ymax"), res,
            )),
        )
        .join(zone_cells, "cell_id")
        .groupBy(id_col, "zone_id")
        # min, not first: every candidate row of a (doc, zone) pair holds
        # the SAME wkt, and min() keeps the aggregate hash-based
        # (first() is order-sensitive and forces Sort + SortAggregate)
        .agg(F.min(wkt_col).alias(wkt_col))
        .join(zone_rings, "zone_id")
    )
    refine = _refine_udf(predicate)
    return cand.where(
        refine(F.col(wkt_col), F.col("zone_id"), F.col("_zext"), F.col("_zint"))
    ).select(id_col, "zone_id")
