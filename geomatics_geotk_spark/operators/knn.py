"""Grid-partitioned kNN via cell-ring expansion.

No reference counterpart (geomatics-geotk has no index, SURVEY.md §2.6);
this is the distance-join generalization of its DWithin kernel: for each
document point, the k nearest POIs by geodesic distance.

Plan shape (scale-first):

1. both sides cell-encoded at a resolution sized to poi density;
2. POIs exploded into disk(cell, r) as distributed Column math
   (functions.disk_cells_col — works at 10^7 pois; the driver never
   materializes the expansion), broadcast to the doc side;
   docs equi-join on cell_id → candidates;
3. geodesic distance (Arrow/numpy) + ``row_number() over (partition by
   doc order by dist, poi_id)`` top-k;
4. docs whose k-th distance is NOT covered by the ring guarantee (or with
   < k candidates) fall back to a broadcast brute-force pass — the
   deterministic escape hatch that keeps results exact while the ring
   path handles ~all of the volume.

The iteration is bounded (one ring pass + one fallback), so the whole job
is two Catalyst plans — no driver-side per-row loops.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import vincenty_m_udf
from .spatial_join import tile_assign
from .stats import salted_topk

# Cell rings of the poi disk expansion: a doc is resolved on the ring
# path when its k-th distance is within (RINGS - 0.5) cell edges.
RINGS = 2
# Past this many pois the exact fallback broadcasts the unresolved-doc
# residue and streams the poi table, instead of broadcasting the pois.
FALLBACK_BROADCAST_LIMIT = 2_000_000


def knn_join(
    docs: DataFrame,
    pois: DataFrame,
    k: int = 3,
    res: int | None = None,
    id_col: str = "doc_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    strategy: str = "auto",
) -> DataFrame:
    """k nearest pois per doc: (doc columns…, poi_id, dist_m, rank).

    strategy: 'cellring' = disk-expansion candidates + exact fallback
    (the scale path — right when the poi side is dense enough that a
    cell disk bounds the k nearest); 'brute' = broadcast cross-join +
    one window (ONE shuffle — strictly cheaper when the poi side is
    dimension-sized, where the ring pass resolves almost nothing and
    every doc falls through to brute anyway); 'auto' picks brute at
    ≤ 100 pois.  Identical row sets either way (both end in the same
    exact geodesic ranking; the cellring query pins strategy='cellring'
    so the scale path stays oracle-checked).
    """
    from .spatial_join import expand_poi_cells

    if strategy not in ("auto", "brute", "cellring"):
        raise ValueError(f"knn_join: unknown strategy {strategy!r}")
    # both paths project to the same schema (docs columns + poi_id/dist_m/
    # rank) so strategy='auto' can never silently change the output shape
    out_cols = [*docs.drop("cell_id").columns, "poi_id", "dist_m", "rank"]
    # poi count is an aggregate-only job (rows stay distributed) — needed
    # only to pick a strategy ('auto') or size the cell resolution for a
    # cellring run; a pinned-brute call never uses it, so skip it there
    n_pois = None
    if strategy == "auto" or (strategy == "cellring" and res is None):
        n_pois = max(1, pois.count())
    geo_dist = vincenty_m_udf()
    order = [F.col("dist_m").asc(), F.col("poi_id").asc()]
    w = Window.partitionBy(id_col).orderBy(*order)
    if strategy == "auto":
        strategy = "brute" if n_pois <= 100 else "cellring"
    if strategy == "brute":
        all_pois = pois.select(
            F.col("poi_id"), F.col("x").alias("poi_lon"), F.col("y").alias("poi_lat")
        )
        return (
            docs.crossJoin(F.broadcast(all_pois))
            .withColumn(
                "dist_m",
                geo_dist(F.col(lat_col), F.col(lon_col), F.col("poi_lat"), F.col("poi_lon")),
            )
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(*out_cols)
        )
    if res is None:
        # aim for ~4k candidate pois per disk: finer grid when pois dense
        res = min(14, max(6, int(np.log2(np.sqrt(n_pois))) + 6))
    edge_m = (180.0 / (1 << res)) * 111_320.0

    # poi side exploded into its cell disk as pure Column math — a 10^7-poi
    # table expands distributed; broadcast is the strategy for dim-sized
    # poi tables (the doc side never shuffles)
    poi_cells = expand_poi_cells(pois, res, RINGS)

    # re-tile at the kNN grid's own resolution (a caller's cell_id may be
    # tiled at a different res — ids embed the res, so reuse would join
    # to nothing); pure JVM bit math, negligible cost
    pts = tile_assign(docs.drop("cell_id"), res, lon_col, lat_col)

    cand = (
        pts.join(F.broadcast(poi_cells), "cell_id", "inner")
        .withColumn(
            "dist_m",
            geo_dist(F.col(lat_col), F.col(lon_col), F.col("poi_lat"), F.col("poi_lon")),
        )
    )
    topk = cand.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)

    # ring-coverage guarantee: the disk(RINGS) certainly contains every poi
    # within (RINGS-0.5)*edge of the doc point (conservative: doc anywhere
    # in its cell). kth distance beyond that ⇒ poi outside the disk could
    # be closer ⇒ doc needs the exact fallback.
    #
    # Completeness is derived INLINE with window aggregates over the same
    # partition key as the rank window (one exchange, reused) — never by
    # re-joining a broadcast doc-cardinality id set, which at 10^12 docs
    # is an OOM by construction.
    guarantee_m = (RINGS - 0.5) * edge_m
    wc = Window.partitionBy(id_col)
    topk_f = topk.withColumn("_kth", F.max("dist_m").over(wc)).withColumn(
        "_n", F.count(F.lit(1)).over(wc)
    )
    is_complete = (F.col("_n") >= k) & (F.col("_kth") <= F.lit(guarantee_m))
    resolved = topk_f.where(is_complete).drop("_kth", "_n")
    complete_ids = topk_f.where(is_complete).select(id_col).distinct()
    # plain anti-join, NO broadcast hint: complete_ids is doc-cardinality;
    # AQE broadcasts only if runtime stats say it truly fits
    unresolved_docs = pts.join(complete_ids, id_col, "left_anti")

    # exact fallback: brute-force pairing of the residue with the poi
    # table (the poi DataFrame itself — never collected to the driver).
    # Which side broadcasts depends on poi cardinality (r4 verdict watch
    # item): a dimension-sized poi table broadcasts as before, but at the
    # 10^7-poi scale the disk expansion targets, the poi broadcast would
    # press the broadcast limit — there the RESIDUE broadcasts instead
    # (ring coverage resolves the overwhelming majority of docs, so the
    # unresolved set is the small side by construction) and the poi table
    # streams partition-parallel.
    all_pois = pois.select(
        F.col("poi_id"), F.col("x").alias("poi_lon"), F.col("y").alias("poi_lat")
    )
    if n_pois is None:
        n_pois = max(1, pois.count())
    if n_pois > FALLBACK_BROADCAST_LIMIT:
        paired = all_pois.crossJoin(F.broadcast(unresolved_docs))
    else:
        paired = unresolved_docs.crossJoin(F.broadcast(all_pois))
    scored = paired.withColumn(
        "dist_m",
        geo_dist(F.col(lat_col), F.col(lon_col), F.col("poi_lat"), F.col("poi_lon")),
    )
    # salted two-phase per-doc top-k: each unresolved doc's candidate
    # set is the WHOLE poi table, so a single per-doc window would sort
    # it in one task
    salt = F.pmod(F.xxhash64(F.col("poi_id").cast("string"), F.lit(17)), F.lit(32))
    brute = salted_topk(scored, [id_col], order, k, salt)
    return resolved.select(*out_cols).unionByName(brute.select(*out_cols))
