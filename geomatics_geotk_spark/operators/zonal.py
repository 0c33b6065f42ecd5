"""Raster-tile ↔ vector zonal join: tiles (envelope rows) joined to zone
polygons, then value statistics per zone.

The raster side follows the reference's envelope model (``Extents.java``):
a tile is an (xmin, ymin, xmax, ymax) row.  Join = covering-cell
equi-join prefilter + exact envelope↔polygon intersection refine
(envelope→ring semantics per ``Extents.java:231-243`` envelopeAsPolygon;
decision identical to ``kernels.geometry.polygons_intersect``).

Everything is JVM Column math (whole-stage codegen): covering cells via
``functions.covering_cells_col``, the refine via
``functions.envelope_intersects_polygon_col`` over rings shipped on the
broadcast ``zone_cells`` side — no Python in the per-tile path, so the
operator holds up at raster scale (billions of tiles).

The zone side follows spatial_join's size rule (``_zone_side``): a
zone side Spark would broadcast → driver Arrow table, broadcast; a
larger one → executor ``mapInArrow``, shuffled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import covering_cells_col, envelope_intersects_polygon_col
from .spatial_join import _explode_zone_cells, _zone_side

DEFAULT_RES = 10


def zonal_join(tiles: DataFrame, zones: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """(tile columns…, zone_id) pairs where tile envelope ∩ zone ≠ ∅.

    A zone side Spark would broadcast is packed on the driver and its
    zone cells broadcast.  A larger one is packed on the executors with
    no hint, so both sides exchange on cell_id (AQE picks the physical
    join and splits hot cells).  Row set is identical either way.
    """
    z, _, broadcast = _zone_side(zones, res)
    zone_cells = _explode_zone_cells(z)
    if broadcast:
        zone_cells = F.broadcast(zone_cells)

    tile_cells = tiles.withColumn(
        "cell_id",
        F.explode(covering_cells_col(
            F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"), res
        )),
    )
    cand = (
        tile_cells.join(zone_cells, "cell_id", "inner")
        .drop("cell_id")
        .dropDuplicates(["tile_id", "zone_id"])
    )
    # full cells prove intersection outright (any part of the tile inside
    # the cell lies inside the zone); partial cells carry rings for the
    # exact envelope-vs-polygon refine
    exact = envelope_intersects_polygon_col(
        F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"),
        F.col("exterior"), F.col("interiors"),
    )
    return cand.where(F.col("full") | exact).drop("full", "exterior", "interiors")


def zonal_stats(tiles: DataFrame, zones: DataFrame, res: int = DEFAULT_RES,
                value_col: str = "value") -> DataFrame:
    """Per-zone aggregate of intersecting tile values (count/sum/avg/min/max) —
    hash agg with map-side partials, the Spark lifting of the reference's
    sequential envelope fold (Extents.java:73-120)."""
    pairs = zonal_join(tiles, zones, res)
    return pairs.groupBy("zone_id").agg(
        F.count("*").alias("n_tiles"),
        F.sum(value_col).alias("sum_value"),
        F.avg(value_col).alias("avg_value"),
        F.min(value_col).alias("min_value"),
        F.max(value_col).alias("max_value"),
    )
