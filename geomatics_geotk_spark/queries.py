"""Driver-facing query catalog: every operator from SURVEY.md §2 (plus the
training-data-pipeline operators) as a (spark, sf_dir) -> DataFrame
callable, with an ANSI-SQL DuckDB oracle wherever the semantics are
SQL-expressible.

Oracle-parity rules (the driver hash-compares values):
- integer/string outputs: mirror the exact arithmetic (bit-exact);
- double outputs from +,-,*,/,sqrt,floor only: IEEE-correctly-rounded in
  both engines with identical expression trees → bit-exact;
- transcendental outputs (sin/cos/asin in haversine): rounded to 3
  decimals on both sides (libm last-ulp differences are sub-mm);
- double aggregations: summed as DECIMAL (exact, order-independent) and
  cast back to double — Spark partial-agg order can never change the
  result;
- row_number ties: always broken by a unique key.

Geometry inputs derive deterministically from the driver's TPC-H-ish
tables (pure integer/double arithmetic mirrored in the oracle), so Spark
and DuckDB see identical coordinates bit-for-bit.  Fractions use
denominators 997/991 (coprime to every grid the queries use) and the
offset ``(k % 996) + 1`` keeps points strictly off cell/zone boundaries.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable, Iterable
from pathlib import Path
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions import (
    RES_SHIFT,
    abbreviated_crs_id_col,
    antipode_lat,
    antipode_lon,
    cell_id_col,
    length_in_meters_col,
    round_down_2dp,
    srs_name_to_urn_col,
    vincenty_m_udf,
)
from .operators import (
    dedup,
    knn,
    similarity,
    sketches,
    spatial_join,
    temporal,
    text,
    zonal,
)
from .operators.envelope import envelope_agg
from .sources.documents import polygon_zones

RES = 12

# ---------------------------------------------------------------------------
# Shared SQL fragments
# ---------------------------------------------------------------------------

# Derived point cloud over the Vancouver box (mirrors _pts_from_key below).
_LON = "-123.5 + (({k} % 996 + 1) / 997.0)"
_LAT = "49.0 + ((({k} * 7919 + 13) % 990 + 1) / 991.0)"


def _pts_sql(table: str, key: str) -> str:
    return (
        f"SELECT {key} AS doc_id, "
        f"{_LON.format(k=key)} AS lon, {_LAT.format(k=key)} AS lat FROM {table}"
    )


def _pts_from_key(df: DataFrame, key: str) -> DataFrame:
    """Deterministic lon/lat derived from an integer key — the exact
    Column mirror of :func:`_pts_sql` (same expression tree → same bits)."""
    k = F.col(key)
    lon = F.lit(-123.5) + ((k % 996 + 1) / F.lit(997.0))
    lat = F.lit(49.0) + (((k * 7919 + 13) % 990 + 1) / F.lit(991.0))
    return df.select(k.alias("doc_id"), lon.alias("lon"), lat.alias("lat"))


_SPREAD_MASKS = [
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
]


def _spread_chain_sql(src: str, prefix: str) -> tuple[list[str], str]:
    """Morton bit-spread as a lateral-alias chain (DuckDB SELECT items)."""
    items, prev = [], src
    for i, (shift, mask) in enumerate(_SPREAD_MASKS):
        cur = f"{prefix}{i + 1}"
        items.append(f"(({prev} | ({prev} << {shift})) & {mask}) AS {cur}")
        prev = cur
    return items, prev


def _cell_id_sql(lon: str, lat: str, res: int, out_cols: str) -> str:
    """Subquery text computing xi, yi, cell_id from lon/lat columns —
    mirrors functions.cell_id_col bit-for-bit."""
    nx, ny = 1 << (res + 1), 1 << res
    xi = f"CAST(least(greatest(floor(({lon} + 180.0) / 360.0 * {nx}), 0), {nx - 1}) AS BIGINT)"
    yi = f"CAST(least(greatest(floor(({lat} + 90.0) / 180.0 * {ny}), 0), {ny - 1}) AS BIGINT)"
    sx_items, sx = _spread_chain_sql("xi", "ax")
    sy_items, sy = _spread_chain_sql("yi", "ay")
    inner = ", ".join([f"{out_cols}", f"{xi} AS xi", f"{yi} AS yi"])
    mid = ", ".join([out_cols, "xi", "yi", *sx_items, *sy_items])
    return (
        f"SELECT {out_cols}, xi, yi, ({res << RES_SHIFT} | {sx} | ({sy} << 1)) AS cell_id "
        f"FROM (SELECT {mid} FROM (SELECT {inner} FROM pts))"
    )


def _haversine_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """Mirror of functions.haversine_m (rounded downstream: libm ulp)."""
    rad = "0.017453292519943295"
    dlat = f"(({lat2} - {lat1}) * {rad} / 2)"
    dlon = f"(({lon2} - {lon1}) * {rad} / 2)"
    h = (
        f"power(sin({dlat}), 2) + cos({lat1} * {rad}) * cos({lat2} * {rad}) "
        f"* power(sin({dlon}), 2)"
    )
    return f"12742017.6 * asin(sqrt(least({h}, 1.0)))"


# Convex CCW pentagon inside the Vancouver box (for point-in-polygon with a
# half-plane SQL oracle; semantics = reference TopologicalRelationships
# INTERSECTS of point × surface, TopologicalRelationships.java:57-96).
PENTAGON = [
    (-123.4, 49.1),
    (-122.9, 49.05),
    (-122.6, 49.4),
    (-122.9, 49.9),
    (-123.35, 49.7),
]

POIS = [
    ("poi-atkinson", -123.2646, 49.3304),  # reference gml/Point-PointAtkinson
    ("poi-jericho", -123.2015, 49.2756),   # reference gml/Point-Jericho
    ("poi-center", -123.0, 49.5),
]


def _pois_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(POIS, "poi_id string, poi_lon double, poi_lat double")


_POIS_SQL = "(VALUES " + ", ".join(
    f"('{p}', {x}, {y})" for p, x, y in POIS
) + ") AS pois(poi_id, poi_lon, poi_lat)"


_INFER_FILTERS_RULE = (
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
)


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    # every query funnels through here: pin UTC so timestamp<->micros
    # conversions match the DuckDB oracle even under a driver-created
    # session with a different timezone
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # merge (never clobber) the InferFiltersFromGenerate exclusion so the
    # shingle explodes keep their 12x under ANY caller session, not just
    # ours (see session.py for the root cause); results are unaffected —
    # the rule only prunes empty-array rows early
    excluded = spark.conf.get("spark.sql.optimizer.excludedRules", None) or ""
    if _INFER_FILTERS_RULE not in excluded:
        merged = f"{excluded},{_INFER_FILTERS_RULE}" if excluded else _INFER_FILTERS_RULE
        spark.conf.set("spark.sql.optimizer.excludedRules", merged)
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


# ===========================================================================
# 1. Tile assignment (cell index)  — SURVEY §2 cell/tile; north_rule tiling
# ===========================================================================


def q_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _pts_from_key(_read(spark, sf_dir, "orders"), "o_orderkey")
    nx, ny = 1 << (RES + 1), 1 << RES
    xi = F.least(
        F.greatest(F.floor((F.col("lon") + F.lit(180.0)) / F.lit(360.0) * F.lit(nx)), F.lit(0)),
        F.lit(nx - 1),
    ).cast("long")
    yi = F.least(
        F.greatest(F.floor((F.col("lat") + F.lit(90.0)) / F.lit(180.0) * F.lit(ny)), F.lit(0)),
        F.lit(ny - 1),
    ).cast("long")
    return pts.select(
        "doc_id",
        xi.alias("xi"),
        yi.alias("yi"),
        cell_id_col(F.col("lon"), F.col("lat"), RES).alias("cell_id"),
    )


ORACLE_TILE_ASSIGN = (
    f"WITH pts AS ({_pts_sql('orders', 'o_orderkey')}) "
    + _cell_id_sql("lon", "lat", RES, "doc_id")
)


# ===========================================================================
# 2. Point-in-polygon spatial join (filter-and-refine; broadcast strategy)
# ===========================================================================


def _pentagon_zone(spark: SparkSession) -> DataFrame:
    ring = [*PENTAGON, PENTAGON[0]]
    return polygon_zones(spark, [("pentagon", "CRS:84", [(x, y) for x, y in ring], [])])


def q_pip_convex(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _pts_from_key(_read(spark, sf_dir, "orders"), "o_orderkey")
    joined = spatial_join.spatial_join(
        pts, _pentagon_zone(spark), res=RES, strategy="broadcast"
    )
    return joined.select("doc_id", "zone_id")


def _pentagon_halfplanes(lon: str, lat: str) -> str:
    conds = []
    n = len(PENTAGON)
    for i in range(n):
        x1, y1 = PENTAGON[i]
        x2, y2 = PENTAGON[(i + 1) % n]
        conds.append(
            f"(({x2} - {x1}) * ({lat} - {y1}) - ({y2} - {y1}) * ({lon} - {x1})) > 0"
        )
    return " AND ".join(conds)


ORACLE_PIP_CONVEX = (
    f"WITH pts AS ({_pts_sql('orders', 'o_orderkey')}) "
    f"SELECT doc_id, 'pentagon' AS zone_id FROM pts WHERE "
    + _pentagon_halfplanes("lon", "lat")
)


# ===========================================================================
# 3. Interleaved-document pipeline: spans → decode → tile → pip join
#    (the north_rule flagship shape, span sequence carried opaquely)
# ===========================================================================


def build_interleaved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved text+media+geo documents (input_hint schema) built from
    the driver's documents table; geometry coordinates derive from doc_id
    so the oracle can reproduce them bit-exactly (WKT double→string→double
    round-trips losslessly)."""
    docs = _read(spark, sf_dir, "documents")
    k = F.col("doc_id")
    lon = F.lit(-123.5) + ((k % 996 + 1) / F.lit(997.0))
    lat = F.lit(49.0) + (((k * 7919 + 13) % 990 + 1) / F.lit(991.0))
    spans = F.array(
        F.struct(
            F.lit("text").alias("kind"), F.col("text").alias("text"),
            F.lit("").alias("media_ref"), F.lit(0).cast("int").alias("offset"),
        ),
        F.struct(
            F.lit("geo").alias("kind"),
            F.format_string("POINT (%s %s)", lon.cast("string"), lat.cast("string")).alias("text"),
            F.lit("").alias("media_ref"), F.lit(10).cast("int").alias("offset"),
        ),
        F.struct(
            F.lit("media").alias("kind"), F.lit("").alias("text"),
            F.format_string("media://blob/%d", k).alias("media_ref"),
            F.lit(20).cast("int").alias("offset"),
        ),
    )
    return docs.select(k.alias("doc_id"), spans.alias("spans"))


def _grid_zones(spark: SparkSession) -> DataFrame:
    from .sources.documents import zones_table

    z = zones_table(spark, grid=8)
    return z.where(F.col("zone_id").startswith("zone-grid-"))


def q_interleaved_tile_pip(spark: SparkSession, sf_dir: str) -> DataFrame:
    inter = build_interleaved(spark, sf_dir)
    decoded = spatial_join.decode_geo_spans(inter)
    tiled = spatial_join.tile_assign(decoded, RES)
    joined = spatial_join.spatial_join(
        tiled, _grid_zones(spark), res=RES, strategy="broadcast"
    )
    return joined.select("doc_id", "zone_id", "cell_id")


ORACLE_INTERLEAVED = (
    f"WITH pts AS (SELECT doc_id, {_LON.format(k='doc_id')} AS lon, "
    f"{_LAT.format(k='doc_id')} AS lat FROM documents), "
    "m AS (" + _cell_id_sql("lon", "lat", RES, "doc_id") + "), "
    "g AS (SELECT doc_id, CAST(floor((lon - (-123.5)) / 0.125) AS BIGINT) AS gi, "
    "CAST(floor((lat - 49.0) / 0.125) AS BIGINT) AS gj FROM pts) "
    "SELECT m.doc_id, 'zone-grid-' || gi || '-' || gj AS zone_id, cell_id "
    "FROM m JOIN g ON m.doc_id = g.doc_id"
)


def q_interleaved_gml_pip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship pipeline with GML as the geometry encoding: the geo
    span carries a gml:Point (EPSG:4326, lat lon axis order) instead of
    WKT — decoded by the Arrow GML stage, axis-normalized, tiled, and
    broadcast-pip-joined exactly like the WKT path.  Same oracle row set
    as the WKT flagship: the encoding must not change a single match."""
    from .sources.gml import gml_decode_udf

    docs = _read(spark, sf_dir, "documents")
    k = F.col("doc_id")
    lon = F.lit(-123.5) + ((k % 996 + 1) / F.lit(997.0))
    lat = F.lit(49.0) + (((k * 7919 + 13) % 990 + 1) / F.lit(991.0))
    gml_text = F.format_string(
        f'<gml:Point xmlns:gml="{_GML_NS}" srsName="urn:ogc:def:crs:EPSG::4326">'
        "<gml:pos>%s %s</gml:pos></gml:Point>",
        lat.cast("string"), lon.cast("string"),
    )
    spans = F.array(
        F.struct(
            F.lit("text").alias("kind"), F.col("text").alias("text"),
            F.lit("").alias("media_ref"), F.lit(0).cast("int").alias("offset"),
        ),
        F.struct(
            F.lit("geo").alias("kind"), gml_text.alias("text"),
            F.lit("").alias("media_ref"), F.lit(10).cast("int").alias("offset"),
        ),
    )
    inter = docs.select(k.alias("doc_id"), spans.alias("spans"))
    geo_text = F.element_at(
        F.filter(F.col("spans"), lambda s: s["kind"] == F.lit("geo")), 1
    )["text"]
    decoded = inter.withColumn("g", gml_decode_udf(geo_text))
    # EPSG:4326 stores (lat, lon): first_x is latitude — axis-normalize
    # (transformRingToRightHandedCS semantics) into lon/lat columns
    pts = decoded.select(
        "doc_id", "spans",
        F.col("g.first_y").alias("lon"), F.col("g.first_x").alias("lat"),
    )
    tiled = spatial_join.tile_assign(pts, RES)
    joined = spatial_join.spatial_join(
        tiled, _grid_zones(spark), res=RES, strategy="broadcast"
    )
    return joined.select("doc_id", "zone_id", "cell_id")


# ===========================================================================
# 4. DWITHIN / BEYOND against zones  — SURVEY §2.1 DWithin
# ===========================================================================

# point×POI radius shared by dwithin_exact and beyond
_DIST_M = 8000.0


def q_dwithin_zones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DWITHIN against polygon ZONES (geometry×geometry — the reference's
    real signature): nearest-witness on the zone boundary + exact Vincenty
    distance, interior points at distance 0.  Oracle: for the rectangle
    zones the planar nearest witness is the corner-clamp, and the Vincenty
    chain replays in SQL."""
    pts = _pts_from_key(_read(spark, sf_dir, "orders"), "o_orderkey")
    out = spatial_join.dwithin_zone_join(
        pts, _shifted_zone_rects(spark), distance_m=5000.0
    )
    return out.select("doc_id", "zone_id", F.round("dist_m", 3).alias("dist_m_r"))


def _oracle_dwithin_zones() -> str:
    from .oracle_math import nest_levels, vincenty_inverse_levels

    # cheap planar prefilter before the (expensive) Vincenty chain: any
    # pair within 5000 m geodesic is within 0.05° lat / 0.075° lon at
    # these latitudes — strictly conservative, so the row set is unchanged
    src = (
        f"WITH pts AS ({_pts_sql('orders', 'o_orderkey')}), "
        f"z AS ({_ZRECT_SQL}), "
        "c AS (SELECT doc_id, zone_id, lon, lat, "
        "least(greatest(lon, zxmin), zxmax) AS wlon, "
        "least(greatest(lat, zymin), zymax) AS wlat "
        "FROM pts CROSS JOIN z) "
        "SELECT * FROM c WHERE abs(lat - wlat) <= 0.05 AND abs(lon - wlon) <= 0.075"
    )
    inner = nest_levels(
        src,
        vincenty_inverse_levels("lat", "lon", "wlat", "wlon", "_zd"),
        ["doc_id", "zone_id", "_zd"],
        cte_prefix="_dz",
    )
    return (
        f"SELECT doc_id, zone_id, round(_zd, 3) AS dist_m_r FROM ({inner}) "
        f"WHERE _zd < 5000.0"
    )


def q_beyond_zones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BEYOND against polygon zones: docs farther than d from EVERY zone
    (isBeyond over geometry×geometry, TopologicalRelationships.java:
    194-196) — the anti-join of dwithin_zones."""
    pts = _pts_from_key(_read(spark, sf_dir, "orders"), "o_orderkey")
    # a sparse diagonal of zones, so "beyond every zone" is non-trivial
    zones = _shifted_zone_rects(spark).where(
        F.col("zone_id").isin("zr-0-0", "zr-1-1", "zr-2-2", "zr-3-3", "zr-4-4")
    )
    near = spatial_join.dwithin_zone_join(pts, zones, distance_m=5000.0)
    return pts.join(near.select("doc_id").distinct(), "doc_id", "left_anti").select(
        "doc_id"
    )


def _oracle_beyond_zones() -> str:
    from .oracle_math import nest_levels, vincenty_inverse_levels

    src = (
        f"WITH pts AS ({_pts_sql('orders', 'o_orderkey')}), "
        f"z AS (SELECT * FROM ({_ZRECT_SQL}) WHERE zone_id IN "
        "('zr-0-0', 'zr-1-1', 'zr-2-2', 'zr-3-3', 'zr-4-4')), "
        "c AS (SELECT doc_id, zone_id, lon, lat, "
        "least(greatest(lon, zxmin), zxmax) AS wlon, "
        "least(greatest(lat, zymin), zymax) AS wlat "
        "FROM pts CROSS JOIN z) "
        "SELECT * FROM c WHERE abs(lat - wlat) <= 0.05 AND abs(lon - wlon) <= 0.075"
    )
    near = nest_levels(
        src,
        vincenty_inverse_levels("lat", "lon", "wlat", "wlon", "_bd"),
        ["doc_id", "_bd"],
        cte_prefix="_bz",
    )
    return (
        f"WITH pts AS ({_pts_sql('orders', 'o_orderkey')}) "
        f"SELECT doc_id FROM pts WHERE doc_id NOT IN "
        f"(SELECT doc_id FROM ({near}) WHERE _bd < 5000.0)"
    )


# ===========================================================================
# 5. Envelope operators  — Extents.java:73-120, :191-223, :421-431
# ===========================================================================


def q_envelope_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _pts_from_key(_read(spark, sf_dir, "customer"), "c_custkey").withColumn(
        "grp", F.col("doc_id") % 25
    )
    return envelope_agg(pts, ["grp"])


ORACLE_ENVELOPE_AGG = (
    f"WITH pts AS ({_pts_sql('customer', 'c_custkey')}) "
    "SELECT doc_id % 25 AS grp, min(lon) AS xmin, min(lat) AS ymin, "
    "max(lon) AS xmax, max(lat) AS ymax FROM pts GROUP BY grp"
)


def q_envelope_gml_2dp(spark: SparkSession, sf_dir: str) -> DataFrame:
    env = q_envelope_agg(spark, sf_dir)
    return env.select(
        "grp",
        round_down_2dp(F.col("xmin")).alias("xmin2"),
        round_down_2dp(F.col("ymin")).alias("ymin2"),
        round_down_2dp(F.col("xmax")).alias("xmax2"),
        round_down_2dp(F.col("ymax")).alias("ymax2"),
    )


def _down2(c: str) -> str:
    return (
        f"CASE WHEN {c} >= 0 THEN floor({c} * 100.0) ELSE ceil({c} * 100.0) END / 100.0"
    )


ORACLE_ENVELOPE_GML_2DP = (
    f"WITH e AS ({ORACLE_ENVELOPE_AGG}) "
    f"SELECT grp, {_down2('xmin')} AS xmin2, {_down2('ymin')} AS ymin2, "
    f"{_down2('xmax')} AS xmax2, {_down2('ymax')} AS ymax2 FROM e"
)


def q_envelope_kvp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """envelopeToString KVP serialization (Extents.java:364-382):
    'min1,min2,max1,max2[,crsURN]' with the CRS84 omission rule.
    Ordinates go through DECIMAL(12,2) so Spark and DuckDB print the
    identical digit strings (double→string shortest-repr formatting is
    engine-specific; decimal formatting is not)."""
    from .functions import envelope_to_kvp

    env = q_envelope_gml_2dp(spark, sf_dir)
    crs = F.when(
        F.col("grp") % 2 == 0, F.lit("urn:ogc:def:crs:EPSG::4326")
    ).otherwise(F.lit("urn:ogc:def:crs:OGC:1.3:CRS84"))
    d = lambda c: F.col(c).cast("decimal(12,2)")  # noqa: E731
    return env.select(
        "grp",
        envelope_to_kvp(d("xmin2"), d("ymin2"), d("xmax2"), d("ymax2"), crs).alias("kvp"),
    )


ORACLE_ENVELOPE_KVP = (
    f"WITH e AS ({ORACLE_ENVELOPE_GML_2DP}), "
    "f AS (SELECT grp, "
    "CAST(CAST(xmin2 AS DECIMAL(12,2)) AS VARCHAR) || ',' || "
    "CAST(CAST(ymin2 AS DECIMAL(12,2)) AS VARCHAR) || ',' || "
    "CAST(CAST(xmax2 AS DECIMAL(12,2)) AS VARCHAR) || ',' || "
    "CAST(CAST(ymax2 AS DECIMAL(12,2)) AS VARCHAR) AS base, "
    "CASE WHEN grp % 2 = 0 THEN 'urn:ogc:def:crs:EPSG::4326' "
    "ELSE 'urn:ogc:def:crs:OGC:1.3:CRS84' END AS crs FROM e) "
    "SELECT grp, CASE WHEN crs = 'urn:ogc:def:crs:OGC:1.3:CRS84' THEN base "
    "ELSE base || ',' || crs END AS kvp FROM f"
)


def q_antipode(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _pts_from_key(_read(spark, sf_dir, "customer"), "c_custkey")
    return pts.select(
        "doc_id",
        antipode_lat(F.col("lat")).alias("anti_lat"),
        antipode_lon(F.col("lon")).alias("anti_lon"),
    )


ORACLE_ANTIPODE = (
    f"WITH pts AS ({_pts_sql('customer', 'c_custkey')}) "
    "SELECT doc_id, -lat AS anti_lat, "
    "CASE WHEN lon < 0 THEN lon + 180.0 ELSE lon - 180.0 END AS anti_lon FROM pts"
)


# ===========================================================================
# 6. CRS-id normalization + UCUM units — GeodesyUtils.java:222-271,
#    GmlUtils.java:220-240
# ===========================================================================

_CRS_CASES = [
    ("urn:ogc:def:crs:EPSG::4326", "EPSG:4326", "urn:ogc:def:crs:EPSG::4326"),
    ("http://www.opengis.net/def/crs/EPSG/0/32610", "EPSG:32610", "urn:ogc:def:crs:EPSG::32610"),
    ("urn:ogc:def:crs:OGC:1.3:CRS84", "CRS:84", "urn:ogc:def:crs:OGC:1.3:CRS84"),
    ("http://www.opengis.net/def/crs/OGC/1.3/CRS84", "CRS:84", "urn:ogc:def:crs:OGC:1.3:CRS84"),
    ("urn:ogc:def:crs:EPSG::4258", "EPSG:4258", "urn:ogc:def:crs:EPSG::4258"),
]


def _srs_col():
    c = F.col("n_nationkey") % 5
    out = F.lit(_CRS_CASES[0][0])
    for i in range(1, 5):
        out = F.when(c == i, F.lit(_CRS_CASES[i][0])).otherwise(out)
    return out


def _srs_case_sql(idx: int) -> str:
    whens = " ".join(
        f"WHEN {i} THEN '{_CRS_CASES[i][idx]}'" for i in range(5)
    )
    return f"CASE n_nationkey % 5 {whens} END"


def q_crs_abbrev(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _read(spark, sf_dir, "nation").withColumn("srs", _srs_col())
    return n.select(
        "n_nationkey", "srs", abbreviated_crs_id_col(F.col("srs")).alias("crs_abbrev")
    )


ORACLE_CRS_ABBREV = (
    f"SELECT n_nationkey, {_srs_case_sql(0)} AS srs, {_srs_case_sql(1)} AS crs_abbrev "
    "FROM nation"
)


def q_srs_to_urn(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _read(spark, sf_dir, "nation").withColumn("srs", _srs_col())
    return n.select(
        "n_nationkey", "srs", srs_name_to_urn_col(F.col("srs")).alias("crs_urn")
    )


ORACLE_SRS_TO_URN = (
    f"SELECT n_nationkey, {_srs_case_sql(0)} AS srs, {_srs_case_sql(2)} AS crs_urn "
    "FROM nation"
)


def q_ucum_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _read(spark, sf_dir, "part")
    uom = (
        F.when(F.col("p_partkey") % 4 == 0, F.lit("m"))
        .when(F.col("p_partkey") % 4 == 1, F.lit("km"))
        .when(F.col("p_partkey") % 4 == 2, F.lit("mi"))
        .otherwise(F.lit("NM"))
    )
    p = p.withColumn("uom", uom)
    return p.select(
        "p_partkey", "uom",
        length_in_meters_col(F.col("p_size"), F.col("uom")).alias("meters"),
    )


ORACLE_UCUM_LENGTH = (
    "SELECT p_partkey, CASE p_partkey % 4 WHEN 0 THEN 'm' WHEN 1 THEN 'km' "
    "WHEN 2 THEN 'mi' ELSE 'NM' END AS uom, "
    "p_size * CAST(CASE p_partkey % 4 WHEN 0 THEN 1.0 WHEN 1 THEN 1000.0 "
    "WHEN 2 THEN 1609.34 ELSE 1852.0 END AS DOUBLE) AS meters FROM part"
)


# ===========================================================================
# 7. Temporal operators — TemporalUtils.java (ISO 19108)
# ===========================================================================


def _event_periods(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events")
    dur_h = (F.col("event_id") % 7 + 1).cast("int")
    return ev.select(
        "event_id", "event_type",
        F.col("ts").alias("begin"),
        (F.col("ts") + F.make_interval(hours=dur_h)).alias("end"),
    )


_PER_SQL = (
    "SELECT event_id, event_type, ts AS begin, "
    "ts + (event_id % 7 + 1) * INTERVAL 1 HOUR AS \"end\" FROM events"
)


def q_trajectory_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user geodesic trajectory length: order each user's events by
    (ts, event_id), derive the per-event position from event_id (the
    _pts_sql twin), and Vincenty-sum the consecutive legs.  Legs are
    rounded to 2 dp (cm — far above the ~1e-8 m numpy-vs-SQL mirror
    noise, so no leg sits on a rounding boundary) then DECIMAL-summed —
    order-independent and bit-stable across engines.

    Shape for 100 TB: ONE exchange on user_id (the lag window); the
    Vincenty refine is a single Arrow stage over leg rows
    (asNondeterministic barrier — evaluated once); the rollup reuses
    the window's partitioning.
    """
    ev = _read(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    k = F.col("event_id")
    staged = ev.select(
        "event_id", "user_id", "ts",
        (F.lit(-123.5) + ((k % 996 + 1) / F.lit(997.0))).alias("lon"),
        (F.lit(49.0) + (((k * 7919 + 13) % 990 + 1) / F.lit(991.0))).alias("lat"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    legs = staged.select(
        "user_id", "lat", "lon",
        F.lag("lat").over(w).alias("plat"),
        F.lag("lon").over(w).alias("plon"),
    ).where(F.col("plat").isNotNull())

    geo_dist = vincenty_m_udf().asNondeterministic()
    legd = legs.withColumn(
        "_leg", F.round(geo_dist("plat", "plon", "lat", "lon"), 2)
    )
    return legd.groupBy("user_id").agg(
        F.count("*").alias("n_legs"),
        F.sum(F.col("_leg").cast("decimal(18,6)")).cast("double").alias("dist_m"),
    )


def _oracle_trajectory_length() -> str:
    from .oracle_math import nest_levels, vincenty_inverse_levels

    src = (
        "WITH pts AS (SELECT event_id, user_id, ts, "
        "-123.5 + (event_id % 996 + 1) / 997.0 AS lon, "
        "49.0 + ((event_id * 7919 + 13) % 990 + 1) / 991.0 AS lat FROM events), "
        "lg AS (SELECT user_id, lat, lon, "
        "lag(lat) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS plat, "
        "lag(lon) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS plon "
        "FROM pts) "
        "SELECT user_id, lat, lon, plat, plon FROM lg WHERE plat IS NOT NULL"
    )
    nested = nest_levels(
        src,
        vincenty_inverse_levels("plat", "plon", "lat", "lon", "_vd"),
        ["user_id", "_vd"],
    )
    return (
        f"WITH v AS ({nested}) "
        "SELECT user_id, count(*)::BIGINT AS n_legs, "
        "CAST(sum(CAST(round(_vd, 2) AS DECIMAL(18,6))) AS DOUBLE) AS dist_m "
        "FROM v GROUP BY user_id"
    )


def _event_pts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events + the deterministic per-event position (the
    trajectory_length derivation, kept as one shared helper)."""
    ev = _read(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    k = F.col("event_id")
    return ev.select(
        "event_id", "user_id", "ts",
        (F.lit(-123.5) + ((k % 996 + 1) / F.lit(997.0))).alias("lon"),
        (F.lit(49.0) + (((k * 7919 + 13) % 990 + 1) / F.lit(991.0))).alias("lat"),
    )


_EVENT_PTS_SQL = (
    "SELECT event_id, user_id, ts, "
    f"{_LON.format(k='event_id')} AS lon, {_LAT.format(k='event_id')} AS lat "
    "FROM events"
)


def q_staypoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stay-point detection (trajectory.stay_points): maximal runs of
    consecutive per-user fixes whose every step moves < 0.25
    scaled-degrees — the spatio-temporal gaps-and-islands decomposition.
    Pure rational Column math (no libm in the predicate), one window
    exchange on user_id + one rollup exchange on (user_id, stay_id);
    centroids summed as integer microdegrees for order- and
    engine-independence (round(x*1e6) is the same double → same bigint
    everywhere; a double→decimal cast is not — DuckDB truncates where
    Spark rounds)."""
    from .operators import trajectory

    return trajectory.stay_points(
        _event_pts(spark, sf_dir), max_move_deg=0.25, min_points=2
    )


# the staypoints CTE chain, shared verbatim by the od_matrix oracle
_STAY_CTES = (
    f"WITH pts AS ({_EVENT_PTS_SQL}), "
    "lg AS (SELECT user_id, event_id, ts, lat, lon, "
    "lag(lat) OVER w AS plat, lag(lon) OVER w AS plon FROM pts "
    "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), "
    "brk AS (SELECT user_id, event_id, ts, lat, lon, "
    "CASE WHEN plat IS NULL THEN 1 "
    "WHEN ((lon - plon) * CAST(0.65 AS DOUBLE)) * ((lon - plon) * CAST(0.65 AS DOUBLE)) "
    "+ (lat - plat) * (lat - plat) > CAST(0.25 AS DOUBLE) * CAST(0.25 AS DOUBLE) "
    "THEN 1 ELSE 0 END AS brk FROM lg), "
    "lab AS (SELECT user_id, ts, lat, lon, "
    "CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id "
    "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS stay_id FROM brk), "
    "st AS (SELECT user_id, stay_id, count(*) AS n_points, "
    "min(ts) AS t_start, max(ts) AS t_end, "
    "sum(CAST(round(lat * 1000000.0) AS BIGINT)) AS _slat, "
    "sum(CAST(round(lon * 1000000.0) AS BIGINT)) AS _slon "
    "FROM lab GROUP BY user_id, stay_id), "
    "stays AS (SELECT user_id, stay_id, n_points, t_start, t_end, "
    "_slat / (n_points * 1000000.0) AS clat, "
    "_slon / (n_points * 1000000.0) AS clon "
    "FROM st WHERE n_points >= 2)"
)

ORACLE_STAYPOINTS = (
    f"{_STAY_CTES} SELECT user_id, stay_id, n_points, t_start, t_end, "
    "clat, clon FROM stays"
)


def q_od_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Origin→destination mobility flows (trajectory.od_flows over
    trajectory.stay_points): consecutive stays of a user form a trip;
    flows roll up on 0.5°-grid centroid cells with trip + distinct-user
    counts.  The lead window runs over the already-tiny stay table on
    the partitioning the stay rollup produced; the flow rollup is one
    map-side-combinable exchange on the 4-int cell key."""
    from .operators import trajectory

    stays = trajectory.stay_points(
        _event_pts(spark, sf_dir), max_move_deg=0.25, min_points=2
    )
    return trajectory.od_flows(stays, cell_deg=0.5)


def q_stay_zones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone dwell report — trajectory × spatial-join composition: stay
    centroids (stay_points over the event fixes) broadcast-PIP-joined to
    the 8×8 grid zones, rolled up per zone to stay count, distinct
    users, and total dwell microseconds.  The PIP join is the flagship
    filter-and-refine machinery (covering-cell equi-join + Column
    refine), run on the stay table — already orders of magnitude below
    the fix stream — so the whole report costs one fix-side window
    exchange + one stay rollup + a broadcast join + one zone rollup."""
    from .operators import trajectory

    stays = trajectory.stay_points(
        _event_pts(spark, sf_dir), max_move_deg=0.25, min_points=2
    )
    pts = stays.select(
        F.concat_ws(":", "user_id", "stay_id").alias("stay_key"),
        F.col("user_id"),
        # events ts is TIMESTAMP_NTZ; the session tz is pinned UTC, so the
        # ltz cast is the identity and unix_micros mirrors duckdb epoch_us
        (
            F.unix_micros(F.col("t_end").cast("timestamp"))
            - F.unix_micros(F.col("t_start").cast("timestamp"))
        ).alias("dwell_us"),
        F.col("clon").alias("lon"),
        F.col("clat").alias("lat"),
    )
    joined = spatial_join.spatial_join(
        pts, _grid_zones(spark), res=RES, strategy="broadcast", id_col="stay_key"
    )
    return joined.groupBy("zone_id").agg(
        F.count("*").alias("stays"),
        F.countDistinct("user_id").alias("users"),
        F.sum("dwell_us").alias("dwell_us"),
    )


ORACLE_STAY_ZONES = (
    f"{_STAY_CTES}, "
    "gz AS (SELECT user_id, "
    "CAST(floor((clon - (-123.5)) / 0.125) AS BIGINT) AS gi, "
    "CAST(floor((clat - 49.0) / 0.125) AS BIGINT) AS gj, "
    "epoch_us(t_end) - epoch_us(t_start) AS dwell_us FROM stays) "
    "SELECT 'zone-grid-' || gi || '-' || gj AS zone_id, "
    "CAST(count(*) AS BIGINT) AS stays, "
    "CAST(count(DISTINCT user_id) AS BIGINT) AS users, "
    "CAST(sum(dwell_us) AS BIGINT) AS dwell_us "
    "FROM gz GROUP BY zone_id"
)


ORACLE_OD_MATRIX = (
    f"{_STAY_CTES}, "
    "cells AS (SELECT user_id, t_start, stay_id, "
    "CAST(floor(clat * 2.0) AS BIGINT) AS _olat, "
    "CAST(floor(clon * 2.0) AS BIGINT) AS _olon FROM stays), "
    "trips AS (SELECT user_id, _olat AS o_lat_cell, _olon AS o_lon_cell, "
    "lead(_olat) OVER w AS d_lat_cell, lead(_olon) OVER w AS d_lon_cell "
    "FROM cells WINDOW w AS (PARTITION BY user_id ORDER BY t_start, stay_id)) "
    "SELECT o_lat_cell, o_lon_cell, d_lat_cell, d_lon_cell, "
    "CAST(count(*) AS BIGINT) AS trips, "
    "CAST(count(DISTINCT user_id) AS BIGINT) AS entities "
    "FROM trips WHERE d_lat_cell IS NOT NULL "
    "GROUP BY o_lat_cell, o_lon_cell, d_lat_cell, d_lon_cell"
)


def q_track_simplify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radial-distance track simplification (trajectory.simplify_radial):
    keep a fix iff it moves ≥ 0.45 scaled-degrees from its predecessor,
    endpoints always kept.  One window exchange (lag + lead share the
    spec); the whole predicate is rational Column arithmetic."""
    from .operators import trajectory

    kept = trajectory.simplify_radial(_event_pts(spark, sf_dir), tolerance_deg=0.45)
    return kept.select("user_id", "event_id", "lat", "lon")


ORACLE_TRACK_SIMPLIFY = (
    f"WITH pts AS ({_EVENT_PTS_SQL}), "
    "lg AS (SELECT user_id, event_id, lat, lon, "
    "lag(lat) OVER w AS plat, lag(lon) OVER w AS plon, "
    "lead(lat) OVER w AS nlat FROM pts "
    "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) "
    "SELECT user_id, event_id, lat, lon FROM lg "
    "WHERE plat IS NULL OR nlat IS NULL OR "
    "((lon - plon) * CAST(0.65 AS DOUBLE)) * ((lon - plon) * CAST(0.65 AS DOUBLE)) "
    "+ (lat - plat) * (lat - plat) >= CAST(0.45 AS DOUBLE) * CAST(0.45 AS DOUBLE)"
)


def q_simplify_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplification quality report (trajectory.simplify_error): per
    user, the directed Hausdorff distance from the raw track to its
    tol=0.45 simplify_radial output, in scaled degrees.  Bit-exact
    across engines: fixed-order multiply/add distance, exact min/max
    selection, one final correctly-rounded sqrt — no accumulation.
    Plan: the raw x kept join and BOTH rollups share the user_id
    partitioning (the group keys are supersets of the join key), so the
    whole metric costs the join's two exchanges."""
    from .operators import trajectory

    return trajectory.simplify_error(_event_pts(spark, sf_dir), tolerance_deg=0.45)


ORACLE_SIMPLIFY_ERROR = (
    f"WITH pts AS ({_EVENT_PTS_SQL}), "
    "lg AS (SELECT user_id, event_id, lat, lon, "
    "lag(lat) OVER w AS plat, lag(lon) OVER w AS plon, "
    "lead(lat) OVER w AS nlat FROM pts "
    "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), "
    "kept AS (SELECT user_id, lat, lon FROM lg "
    "WHERE plat IS NULL OR nlat IS NULL OR "
    "((lon - plon) * CAST(0.65 AS DOUBLE)) * ((lon - plon) * CAST(0.65 AS DOUBLE)) "
    "+ (lat - plat) * (lat - plat) >= CAST(0.45 AS DOUBLE) * CAST(0.45 AS DOUBLE)), "
    "md AS (SELECT p.user_id, p.event_id, "
    "min(((p.lon - k.lon) * CAST(0.65 AS DOUBLE)) * ((p.lon - k.lon) * CAST(0.65 AS DOUBLE)) "
    "+ (p.lat - k.lat) * (p.lat - k.lat)) AS mind2 "
    "FROM pts p JOIN kept k ON p.user_id = k.user_id "
    "GROUP BY p.user_id, p.event_id) "
    "SELECT user_id, count(*)::BIGINT AS n_fixes, sqrt(max(mind2)) AS err_sdeg "
    "FROM md GROUP BY user_id"
)


def q_speed_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPS implied-speed QC report (trajectory.speed_flags): per user,
    count fixes whose haversine distance from the previous fix exceeds
    vmax·Δt (division-free form — a dt ≤ 0 leg is always a spike).
    vmax = 0.75 m/s splits the synthetic feed ~15/85 at every SF and the
    closest leg sits 0.068 m·s from the boundary — 5 orders above the
    numpy-vs-DuckDB libm ulp band, so the count is engine-stable.
    ONE window exchange on user_id (lag of lat/lon/epoch share the
    spec), rollup reuses the same key: the QC pass a 100 TB trajectory
    ingest runs before anything else, at scan cost."""
    from .operators import trajectory

    flagged = trajectory.speed_flags(_event_pts(spark, sf_dir), vmax_mps=0.75)
    return flagged.groupBy("user_id").agg(
        F.count("*").alias("n_fixes"),
        F.sum(F.col("is_spike").cast("long")).alias("n_spikes"),
    )


ORACLE_SPEED_SPIKES = (
    f"WITH pts AS ({_EVENT_PTS_SQL}), "
    "lg AS (SELECT user_id, "
    "lag(lat) OVER w AS plat, lag(lon) OVER w AS plon, lat, lon, "
    "(epoch_us(ts) - lag(epoch_us(ts)) OVER w) / 1000000.0 AS dt "
    "FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) "
    "SELECT user_id, count(*)::BIGINT AS n_fixes, "
    "sum(CASE WHEN plat IS NOT NULL AND (dt <= 0.0 OR "
    f"{_haversine_sql('plat', 'plon', 'lat', 'lon')} > 0.75 * dt) "
    "THEN 1 ELSE 0 END)::BIGINT AS n_spikes "
    "FROM lg GROUP BY user_id"
)


def q_colocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatio-temporal co-location (trajectory.colocation_join): pairs of
    users observed within 2 km in the same hour bucket, rolled up per
    pair (meet count + distinct hours).  The engine path is the 3x3
    cell-ring equi-join on (cell, hour) — never all-pairs — while the
    oracle is the readable quadratic within-bucket join; both ends are
    integer-only output and the closest pair distance sits 4.2 mm from
    the 2 km boundary (5 orders above the libm ulp band), so the counts
    are engine-stable.  Time buckets are pure int64 epoch-micros
    division on both sides — no float at bucket edges."""
    from .operators import trajectory

    meets = trajectory.colocation_join(
        _event_pts(spark, sf_dir), radius_m=2000.0, bucket_s=3600
    )
    return meets.groupBy("user_a", "user_b").agg(
        F.count("*").alias("n_meets"),
        F.countDistinct("bucket").alias("n_buckets"),
    )


ORACLE_COLOCATION = (
    f"WITH pts AS ({_EVENT_PTS_SQL}), "
    "b AS (SELECT user_id, event_id, lat, lon, "
    "epoch_us(ts) // 3600000000 AS bkt FROM pts) "
    "SELECT a.user_id AS user_a, c.user_id AS user_b, "
    "count(*)::BIGINT AS n_meets, count(DISTINCT a.bkt)::BIGINT AS n_buckets "
    "FROM b a JOIN b c ON a.bkt = c.bkt AND a.user_id < c.user_id "
    f"WHERE {_haversine_sql('a.lat', 'a.lon', 'c.lat', 'c.lon')} <= 2000.0 "
    "GROUP BY a.user_id, c.user_id"
)


def q_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event_type: merge overlapping-or-touching event periods and
    report merged-run count, total covered seconds, and raw period
    count — the coverage/sweep rollup (``temporal.merge_intervals``).
    One exchange on event_type; the two islands windows and both aggs
    share it.  Oracle replays the identical islands formulation."""
    per = _event_periods(spark, sf_dir)
    runs = temporal.merge_intervals(
        per, ["event_type"], "begin", "end", tiebreak="event_id"
    )
    return runs.groupBy("event_type").agg(
        F.count("*").alias("n_intervals"),
        F.sum(
            F.unix_timestamp("run_end") - F.unix_timestamp("run_begin")
        ).alias("covered_seconds"),
        F.sum("n_merged").alias("n_periods"),
    )


ORACLE_INTERVAL_COVERAGE = (
    f"WITH per AS ({_PER_SQL}), "
    "o AS (SELECT event_type, event_id, begin, \"end\", "
    "max(\"end\") OVER (PARTITION BY event_type "
    "ORDER BY begin, \"end\", event_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax FROM per), "
    "f AS (SELECT *, CASE WHEN pmax IS NULL OR begin > pmax "
    "THEN 1 ELSE 0 END AS brk FROM o), "
    "g AS (SELECT *, sum(brk) OVER (PARTITION BY event_type "
    "ORDER BY begin, \"end\", event_id "
    "ROWS UNBOUNDED PRECEDING) AS grp FROM f), "
    "m AS (SELECT event_type, grp, min(begin) AS b, max(\"end\") AS e, "
    "count(*) AS cnt FROM g GROUP BY 1, 2) "
    "SELECT event_type, count(*)::BIGINT AS n_intervals, "
    "sum(date_diff('second', b, e))::BIGINT AS covered_seconds, "
    "sum(cnt)::BIGINT AS n_periods FROM m GROUP BY event_type"
)


def q_temporal_during(spark: SparkSession, sf_dir: str) -> DataFrame:
    per = _event_periods(spark, sf_dir).select("event_id", "begin", "end")
    anchors = spark.range(8).select(
        F.col("id").alias("anchor_id"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(days=(F.col("id") * 4).cast("int"))
        ).alias("begin"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(days=(F.col("id") * 4 + 3).cast("int"))
        ).alias("end"),
    )
    j = temporal.interval_join(per, anchors, "During")
    return j.select("event_id", F.col("anchor_id_r").alias("anchor_id"))


ORACLE_TEMPORAL_DURING = (
    f"WITH per AS ({_PER_SQL}), "
    "anch AS (SELECT range AS anchor_id, "
    "TIMESTAMP '2024-01-01 00:00:00' + CAST(range * 4 AS INT) * INTERVAL 1 DAY AS ab, "
    "TIMESTAMP '2024-01-01 00:00:00' + CAST(range * 4 + 3 AS INT) * INTERVAL 1 DAY AS ae "
    "FROM range(8)) "
    "SELECT event_id, anchor_id FROM per JOIN anch "
    "ON per.begin > ab AND per.\"end\" < ae"
)


def q_temporal_extent(spark: SparkSession, sf_dir: str) -> DataFrame:
    per = _event_periods(spark, sf_dir)
    return temporal.temporal_extent(per, ["event_type"])


ORACLE_TEMPORAL_EXTENT = (
    f"WITH per AS ({_PER_SQL}) "
    "SELECT event_type, min(begin) - INTERVAL 1 HOUR AS extent_begin, "
    "max(\"end\") + INTERVAL 1 HOUR AS extent_end FROM per GROUP BY event_type"
)


def q_split_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    per = _event_periods(spark, sf_dir).where(F.col("event_id") % 100 == 0)
    out = temporal.split_interval(per.select("event_id", "begin", "end"), 4)
    return out.select("event_id", "sub_index", "sub_begin", "sub_end")


ORACLE_SPLIT_INTERVAL = (
    f"WITH per AS ({_PER_SQL}), "
    "f AS (SELECT event_id, epoch_us(begin) AS b, epoch_us(\"end\") AS e "
    "FROM per WHERE event_id % 100 = 0), "
    "g AS (SELECT event_id, b, e, unnest(generate_series(0, 3)) AS i, "
    "CAST(floor((e - b) / 4) AS BIGINT) AS step FROM f) "
    "SELECT event_id, CAST(i AS INT) AS sub_index, "
    "make_timestamp(b + i * step) AS sub_begin, "
    "CASE WHEN i = 3 THEN make_timestamp(e) "
    "ELSE make_timestamp(b + i * step + step) END AS sub_end FROM g"
)


_REL_NAMES = [
    "Before", "After", "Meets", "MetBy", "Begins", "BegunBy", "Ends",
    "EndedBy", "During", "Contains", "Equals", "Overlaps", "OverlappedBy",
]

_REL_SQL = {
    "Before": "e1 < b2", "After": "b1 > e2", "Meets": "e1 = b2",
    "MetBy": "b1 = e2", "Begins": "b1 = b2 AND e1 < e2",
    "BegunBy": "b1 = b2 AND e1 > e2", "Ends": "e1 = e2 AND b1 > b2",
    "EndedBy": "e1 = e2 AND b1 < b2", "During": "b1 > b2 AND e1 < e2",
    "Contains": "b1 < b2 AND e1 > e2", "Equals": "b1 = b2 AND e1 = e2",
    "Overlaps": "b1 < b2 AND e1 > b2 AND e1 < e2",
    "OverlappedBy": "b1 > b2 AND b1 < e2 AND e1 > e2",
}


def q_temporal_relations_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL 13 ISO 19108 relations (TemporalUtils.java:36-66) evaluated at
    once between each event period and a derived anchor period — every
    relation driver-checked against its interval-algebra SQL mirror
    (boundary-equality cases arise deterministically from the integer
    hour arithmetic)."""
    from .functions import temporal_relation

    per = _event_periods(spark, sf_dir)
    per = per.select(
        "event_id",
        F.col("begin").alias("b1"), F.col("end").alias("e1"),
        (F.col("begin") + F.make_interval(hours=(F.col("event_id") % 5 - 2).cast("int"))).alias("b2"),
    ).withColumn("e2", F.col("b2") + F.make_interval(hours=F.lit(3)))
    cols = [
        temporal_relation(r, F.col("b1"), F.col("e1"), F.col("b2"), F.col("e2")).alias(r.lower())
        for r in _REL_NAMES
    ]
    return per.select("event_id", *cols)


ORACLE_TEMPORAL_RELATIONS_ALL = (
    f"WITH per AS ({_PER_SQL}), "
    "p AS (SELECT event_id, begin AS b1, \"end\" AS e1, "
    "begin + CAST(event_id % 5 - 2 AS INT) * INTERVAL 1 HOUR AS b2 FROM per), "
    "q AS (SELECT *, b2 + INTERVAL 3 HOUR AS e2 FROM p) "
    "SELECT event_id, "
    + ", ".join(f"({_REL_SQL[r]}) AS \"{r.lower()}\"" for r in _REL_NAMES)
    + " FROM q"
)


def q_temporal_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    per = _event_periods(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy(
        F.col("begin").asc(), F.col("end").asc(), F.col("event_id").asc()
    )
    return (
        per.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 5)
        .select("event_type", "event_id", "rnk")
    )


ORACLE_TEMPORAL_RANK = (
    f"WITH per AS ({_PER_SQL}) "
    "SELECT event_type, event_id, CAST(row_number() OVER "
    "(PARTITION BY event_type ORDER BY begin ASC, \"end\" ASC, event_id ASC) AS BIGINT) "
    "AS rnk FROM per QUALIFY rnk <= 5"
)


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase event picks the latest view by the same
    user at or before the purchase timestamp (union-sort-window
    formulation — one exchange on user_id, no candidate blow-up; see
    operators/temporal.py::asof_join).  (user_id, ts) is unique in the
    events table, so the match is deterministic.  Oracle: DuckDB's
    native ASOF JOIN over the same two slices.
    """
    ev = _read(spark, sf_dir, "events")
    left = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    right = ev.where(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("value").alias("view_value")
    )
    j = temporal.asof_join(left, right, on=["user_id"])
    lag = (
        F.unix_micros(F.col("ts").cast("timestamp"))
        - F.unix_micros(F.col("asof_ts").cast("timestamp"))
    ).cast("long")
    return j.select("event_id", "user_id", "value", "view_value", lag.alias("lag_us"))


ORACLE_ASOF_JOIN = (
    "WITH l AS (SELECT event_id, user_id, ts, value FROM events "
    "WHERE event_type = 'purchase'), "
    "r AS (SELECT user_id, ts, value AS view_value FROM events "
    "WHERE event_type = 'view') "
    "SELECT l.event_id, l.user_id, l.value, r.view_value, "
    "epoch_us(l.ts) - epoch_us(r.ts) AS lag_us "
    "FROM l ASOF JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts"
)


# ===========================================================================
# 8. Relational coverage (scan→filter→join→agg→window; SURVEY §2.6)
# ===========================================================================


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _read(spark, sf_dir, "lineitem")
    dec2 = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    disc = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast("decimal(18,6)")
    charge = (
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
        * (F.lit(1.0) + F.col("l_tax"))
    ).cast("decimal(18,6)")
    agg = (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec2("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec2("l_extendedprice")).cast("double").alias("sum_base"),
            F.sum(disc).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            F.count("*").alias("n"),
        )
    )
    return agg.select(
        "l_returnflag", "l_linestatus", "sum_qty", "sum_base",
        "sum_disc_price", "sum_charge",
        (F.col("sum_qty") / F.col("n")).alias("avg_qty"), "n",
    )


ORACLE_PRICING_SUMMARY = (
    "WITH a AS (SELECT l_returnflag, l_linestatus, "
    "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, "
    "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base, "
    "CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price, "
    "CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge, "
    "count(*) AS n FROM lineitem GROUP BY l_returnflag, l_linestatus) "
    "SELECT l_returnflag, l_linestatus, sum_qty, sum_base, sum_disc_price, "
    "sum_charge, sum_qty / n AS avg_qty, n FROM a"
)


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _read(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = orders.join(
        F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"]
    ).join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
    return j.groupBy("n_name").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
        F.count("*").alias("n_orders"),
    )


ORACLE_REVENUE_BY_NATION = (
    "SELECT n_name, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue, "
    "count(*) AS n_orders FROM orders "
    "JOIN customer ON o_custkey = c_custkey "
    "JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name"
)


def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization of the event stream: per-user session windows with
    a 30-minute inactivity gap (Spark's session_window — the streaming-
    capable sessionizer run in batch).  Oracle: the classic
    gaps-and-islands construction (lag + cumulative session counter),
    which is definitionally the same partitioning."""
    ev = _read(spark, sf_dir, "events")
    agg = (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
    )
    return agg.select(
        "user_id",
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        "n_events", "sum_value",
    )


ORACLE_SESSION_WINDOWS = (
    "WITH o AS (SELECT user_id, ts, value, "
    "lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts FROM events), "
    "m AS (SELECT *, CASE WHEN prev_ts IS NULL "
    "OR ts - prev_ts >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s FROM o), "
    "s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM m) "
    "SELECT user_id, min(ts) AS session_start, "
    "max(ts) + INTERVAL 30 MINUTE AS session_end, count(*) AS n_events, "
    "CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value "
    "FROM s GROUP BY user_id, sid"
)


def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id", "user_id",
        F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double").alias("running"),
    )


ORACLE_WINDOW_RUNNING = (
    "SELECT event_id, user_id, CAST(sum(CAST(value AS DECIMAL(18,6))) OVER "
    "(PARTITION BY user_id ORDER BY ts ASC, event_id ASC "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running FROM events"
)


# ===========================================================================
# 9. Zonal raster↔vector join — SURVEY §2 zonal; tiles = envelope rows
# ===========================================================================


def _inline_tiles(spark: SparkSession) -> DataFrame:
    r = spark.range(1024)
    i = F.col("id") % 32
    j = F.floor(F.col("id") / 32)
    return r.select(
        F.col("id").alias("tile_id"),
        (F.lit(-123.5) + i * F.lit(0.03125)).alias("xmin"),
        (F.lit(49.0) + j * F.lit(0.03125)).alias("ymin"),
        (F.lit(-123.5) + (i + 1) * F.lit(0.03125)).alias("xmax"),
        (F.lit(49.0) + (j + 1) * F.lit(0.03125)).alias("ymax"),
        (((F.col("id") * 37) % 1000) / F.lit(1000.0)).alias("value"),
    )


_TILES_SQL = (
    "SELECT range AS tile_id, "
    "-123.5 + (range % 32) * 0.03125 AS xmin, "
    "49.0 + floor(range / 32) * 0.03125 AS ymin, "
    "-123.5 + (range % 32 + 1) * 0.03125 AS xmax, "
    "49.0 + (floor(range / 32) + 1) * 0.03125 AS ymax, "
    "((range * 37) % 1000) / 1000.0 AS value FROM range(1024)"
)


def _shifted_zone_rects(spark: SparkSession) -> DataFrame:
    rows = []
    for i in range(6):
        for j in range(6):
            x0, y0 = -123.47 + i * 0.16, 49.03 + j * 0.16
            x1, y1 = x0 + 0.16, y0 + 0.16
            ring = [(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]
            rows.append((f"zr-{i}-{j}", "CRS:84", ring, []))
    return spark.createDataFrame(
        rows,
        "zone_id string, crs string, exterior array<struct<x:double,y:double>>, "
        "interiors array<array<struct<x:double,y:double>>>",
    )


_ZRECT_SQL = (
    "SELECT 'zr-' || i || '-' || j AS zone_id, "
    "-123.47 + i * 0.16 AS zxmin, 49.03 + j * 0.16 AS zymin, "
    "-123.47 + i * 0.16 + 0.16 AS zxmax, 49.03 + j * 0.16 + 0.16 AS zymax "
    "FROM (SELECT a.range AS i, b.range AS j FROM range(6) a, range(6) b)"
)


def q_zonal_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = zonal.zonal_join(_inline_tiles(spark), _shifted_zone_rects(spark), res=10)
    return pairs.select("tile_id", "zone_id")


ORACLE_ZONAL_PAIRS = (
    f"WITH t AS ({_TILES_SQL}), z AS ({_ZRECT_SQL}) "
    "SELECT tile_id, zone_id FROM t JOIN z ON "
    "t.xmin < z.zxmax AND t.xmax > z.zxmin AND t.ymin < z.zymax AND t.ymax > z.zymin"
)


def q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = zonal.zonal_join(_inline_tiles(spark), _shifted_zone_rects(spark), res=10)
    agg = pairs.groupBy("zone_id").agg(
        F.count("*").alias("n_tiles"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )
    return agg.select(
        "zone_id", "n_tiles", "sum_value",
        (F.col("sum_value") / F.col("n_tiles")).alias("avg_value"),
        "min_value", "max_value",
    )


ORACLE_ZONAL_STATS = (
    f"WITH p AS ({ORACLE_ZONAL_PAIRS.replace('SELECT tile_id, zone_id', 'SELECT tile_id, zone_id, value')}), "
    "a AS (SELECT zone_id, count(*) AS n_tiles, "
    "CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value, "
    "min(value) AS min_value, max(value) AS max_value FROM p GROUP BY zone_id) "
    "SELECT zone_id, n_tiles, sum_value, sum_value / n_tiles AS avg_value, "
    "min_value, max_value FROM a"
)


# ===========================================================================
# 10. Training-data operators: dedup / text / fingerprint / similarity
# ===========================================================================


def q_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return docs.groupBy(F.md5(F.col("text")).alias("content_hash")).agg(
        F.count("*").alias("n_dups"), F.min("doc_id").alias("keeper_id")
    )


ORACLE_EXACT_DUP_GROUPS = (
    "SELECT md5(text) AS content_hash, count(*) AS n_dups, min(doc_id) AS keeper_id "
    "FROM documents GROUP BY md5(text)"
)


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.ngram_jaccard_pairs(docs, threshold=0.4, shingle_n=3)


# shared by ngram_jaccard and dup_components oracles: 3-gram word-shingle
# sets per doc + pairwise overlap counts (mirrors dedup.with_shingles +
# the pair join inside ngram_jaccard_pairs)
_JACCARD_CTES = (
    "toks AS (SELECT doc_id, string_split_regex(text, '\\s+') AS tk FROM documents), "
    "sh AS (SELECT doc_id, list_distinct(list_transform("
    "generate_series(1, greatest(len(tk) - 2, 1)), "
    "i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) AS shingles FROM toks), "
    "ex AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM sh), "
    "ov AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b, "
    "count(*) AS inter FROM ex a JOIN ex b ON a.shingle = b.shingle "
    "AND a.doc_id < b.doc_id GROUP BY 1, 2, 3, 4)"
)

ORACLE_NGRAM_JACCARD = (
    f"WITH {_JACCARD_CTES} "
    "SELECT id_a, id_b, inter / (n_a + n_b - inter) AS jaccard FROM ov "
    "WHERE inter / (n_a + n_b - inter) >= 0.4"
)


def _dup_edges(docs: DataFrame) -> DataFrame:
    """The SHARED duplicate-edge set of ``dup_components`` and
    ``keeper_election``: exact-dup star edges (keeper→member per content
    hash — linear, never the n² clique) unioned with n-gram-Jaccard
    ≥ 0.4 near-dup pairs.  One definition on the Spark side mirroring
    the one ``_CC_CTES`` chain on the SQL side — a threshold or edge
    change desynchronizing the two queries is structurally impossible.
    """
    w = Window.partitionBy(F.md5(F.col("text")))
    exact_edges = docs.select(
        F.min("doc_id").over(w).alias("id_a"), F.col("doc_id").alias("id_b")
    ).where(F.col("id_a") < F.col("id_b"))
    jac = dedup.ngram_jaccard_pairs(docs, threshold=0.4, shingle_n=3).select("id_a", "id_b")
    return exact_edges.union(jac)


def q_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS: connected components over ``_dup_edges``.
    Components computed by distributed min-label propagation with
    pointer doubling (operators/dedup.py::connected_components); the
    oracle replays the same edge set through a recursive-CTE transitive
    closure in DuckDB — an O(n·m) formulation that is only viable at
    oracle scale, which is exactly why the engine side uses label
    propagation instead.
    """
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.dup_components(docs.select("doc_id"), _dup_edges(docs))


# Shared CC CTE chain (exact-dup star edges + Jaccard near-dup pairs →
# recursive transitive closure → per-doc component label) — reused by
# ORACLE_DUP_COMPONENTS and ORACLE_KEEPER_ELECTION.
_CC_CTES = (
    f"{_JACCARD_CTES}, "
    "exd AS (SELECT min(doc_id) OVER (PARTITION BY md5(text)) AS id_a, "
    "doc_id AS id_b FROM documents), "
    "jac AS (SELECT id_a, id_b FROM ov WHERE inter / (n_a + n_b - inter) >= 0.4), "
    "edges AS (SELECT id_a AS a, id_b AS b FROM exd WHERE id_a < id_b "
    "UNION SELECT id_a, id_b FROM jac), "
    "sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges), "
    "reach(a, b) AS (SELECT a, b FROM sym "
    "UNION SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE s.b <> r.a), "
    "comp AS (SELECT a AS node, least(a, min(b)) AS component FROM reach GROUP BY a), "
    "lab AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component "
    "FROM documents d LEFT JOIN comp c ON d.doc_id = c.node)"
)

ORACLE_DUP_COMPONENTS = (
    f"WITH RECURSIVE {_CC_CTES} "
    "SELECT doc_id, component, count(*) OVER (PARTITION BY component) AS cluster_size, "
    "doc_id = component AS is_keeper FROM lab"
)


def q_keeper_election(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-keeper election: for every duplicate CLUSTER (the same
    exact+near-dup components as ``dup_components``), keep the highest
    quality_score member, ties to the smallest doc_id — the "which copy
    survives" policy stage that follows near-dup clustering in a real
    curation pipeline (vs the funnel's min-id-per-md5 exact keeper).

    Scale shape: the election is ONE ``max_by`` aggregation keyed on
    component — partial aggregates combine map-side (each mapper emits
    one candidate per component it sees), so a mega-cluster is one hot
    KEY, never a window over the corpus.  quality_score is the
    oracle-green bit-exact Column tree, so ranking on it is
    cross-engine safe; the doc_id tiebreak makes the argmax total.
    """
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    comps = dedup.dup_components(docs.select("doc_id"), _dup_edges(docs)).select(
        "doc_id", "component"
    )
    qual = text.with_quality_score(docs).select("doc_id", "quality_score")
    j = comps.join(qual, "doc_id")
    best = F.max_by(
        F.struct(F.col("doc_id"), F.col("quality_score")),
        F.struct(F.col("quality_score").alias("q"), (-F.col("doc_id")).alias("neg_id")),
    )
    g = j.groupBy("component").agg(
        F.count("*").alias("cluster_size"), best.alias("_b")
    )
    return g.select(
        "component",
        "cluster_size",
        F.col("_b.doc_id").alias("keeper_id"),
        F.col("_b.quality_score").alias("keeper_quality"),
        (F.col("cluster_size") - 1).cast("long").alias("n_dropped"),
    )


ORACLE_KEEPER_ELECTION = (
    f"WITH RECURSIVE {_CC_CTES}, "
    "qf AS (SELECT doc_id, "
    "CAST(length(text) AS DOUBLE) AS n_chars, "
    "CAST(len(string_split_regex(lower(text), '\\s+')) AS DOUBLE) AS n_tokens, "
    "CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE) AS n_punct, "
    "CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), "
    "x -> x IN ('the', 'and', 'of', 'to', 'is'))) AS DOUBLE) AS n_stop "
    "FROM documents), "
    "q AS (SELECT doc_id, 0.4 * least(n_tokens / 64.0, 1.0) "
    "+ 0.3 * least((CASE WHEN n_tokens > 0 THEN n_stop / n_tokens ELSE 0.0 END) * 4, 1.0) "
    "+ 0.3 * (1.0 - least((CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END) * 5, 1.0)) "
    "AS quality_score FROM qf), "
    "jq AS (SELECT l.doc_id, l.component, q.quality_score "
    "FROM lab l JOIN q ON l.doc_id = q.doc_id), "
    "r AS (SELECT component, doc_id, quality_score, "
    "row_number() OVER (PARTITION BY component "
    "ORDER BY quality_score DESC, doc_id ASC) AS rk, "
    "count(*) OVER (PARTITION BY component) AS cluster_size FROM jq) "
    "SELECT component, cluster_size::BIGINT AS cluster_size, doc_id AS keeper_id, "
    "quality_score AS keeper_quality, (cluster_size - 1)::BIGINT AS n_dropped "
    "FROM r WHERE rk = 1"
)


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: fraction of each training doc's distinct
    3-gram shingles that appear in a held-out eval set (here the
    deterministic ``doc_id % 97 == 0`` slice of the same table — no
    external data).  Eval shingles broadcast; corpus aggregates once on
    doc_id.  Every train doc is reported, zero-hit docs included.
    """
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    ev = docs.where(F.col("doc_id") % 97 == 0)
    tr = docs.where(F.col("doc_id") % 97 != 0)
    rep = text.contamination_report(tr, ev, shingle_n=3)
    return rep.select(
        "doc_id",
        F.col("n_shingles").cast("long").alias("n_shingles"),
        "n_contaminated",
        "contamination",
    )


ORACLE_DECONTAMINATE = (
    # outer LEFT JOIN from the doc base: NULL-text docs have no exploded
    # shingle rows but must still report 0 shingles / 0.0 contamination
    # (the contamination_report every-doc contract)
    f"WITH {_JACCARD_CTES.split(', ov AS')[0]}, "
    "ev AS (SELECT DISTINCT shingle FROM ex WHERE doc_id % 97 = 0), "
    "tr AS (SELECT * FROM ex WHERE doc_id % 97 <> 0), "
    "agg AS (SELECT tr.doc_id AS doc_id, max(tr.n_sh) AS n_shingles, "
    "count(ev.shingle) AS n_contaminated, "
    "count(ev.shingle) / max(tr.n_sh) AS contamination "
    "FROM tr LEFT JOIN ev ON tr.shingle = ev.shingle GROUP BY tr.doc_id) "
    "SELECT d.doc_id, coalesce(agg.n_shingles, 0) AS n_shingles, "
    "coalesce(agg.n_contaminated, 0) AS n_contaminated, "
    "coalesce(agg.contamination, 0.0) AS contamination "
    "FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id "
    "WHERE d.doc_id % 97 <> 0"
)


def q_heavy_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection: 3-gram shingles present in >= 1% of the
    corpus (relative threshold — scale-invariant; corpus N crossed in as
    a broadcast scalar, never collected)."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return text.heavy_hitter_shingles(docs, shingle_n=3, rel_df=0.01)


ORACLE_HEAVY_SHINGLES = (
    f"WITH {_JACCARD_CTES.split(', ov AS')[0]}, "
    "cnt AS (SELECT shingle, count(*) AS df FROM ex GROUP BY 1), "
    "n AS (SELECT count(*) AS n_docs FROM documents) "
    "SELECT shingle, df FROM cnt, n WHERE df >= n_docs * 0.01"
)


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level dedup: fixed 8-token lines, drop lines seen
    in >= 2 distinct docs, reassemble per doc (every doc reported, even
    fully-boilerplate ones).  One distinct-agg exchange on the line key
    + a broadcast anti-marking join + one doc_id exchange — see
    ``text.dedup_lines`` for the 100 TB shape."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return text.dedup_lines(docs, line_tokens=8, min_docs=2)


ORACLE_LINE_DEDUP = (
    "WITH toks AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS tk "
    "FROM documents), "
    "ln AS (SELECT doc_id, i AS line_no, "
    "array_to_string(tk[i*8+1 : i*8+8], ' ') AS line "
    "FROM toks, unnest(generate_series(0, (len(tk)-1)//8)) AS t(i)), "
    "dfq AS (SELECT line, count(DISTINCT doc_id) AS df_line FROM ln GROUP BY 1), "
    "dup AS (SELECT line FROM dfq WHERE df_line >= 2), "
    "mk AS (SELECT l.doc_id, l.line_no, l.line, (d.line IS NOT NULL) AS is_dup "
    "FROM ln l LEFT JOIN dup d USING (line)) "
    ", pd AS (SELECT doc_id, count(*)::BIGINT AS n_lines, "
    "count(CASE WHEN NOT is_dup THEN 1 END)::BIGINT AS n_kept, "
    "md5(coalesce(string_agg(CASE WHEN NOT is_dup THEN line END, ' ' "
    "ORDER BY line_no), '')) AS kept_md5 FROM mk GROUP BY doc_id) "
    # NULL-text docs emit no line rows — restored as 0-line docs (the
    # dedup_lines every-doc contract)
    "SELECT d.doc_id, coalesce(pd.n_lines, 0)::BIGINT AS n_lines, "
    "coalesce(pd.n_kept, 0)::BIGINT AS n_kept, "
    "coalesce(pd.kept_md5, md5('')) AS kept_md5 "
    "FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id"
)


def q_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window token chunking (window 32, stride 24 — 8-token
    overlap): the context-packing stage of a training pipeline.  ZERO
    shuffles — per-row integer chunk math + a narrow explode; chunk
    payloads are md5-hashed so the result stays compact.  See
    ``text.chunk_sliding``."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return text.chunk_sliding(docs, window=32, stride=24)


ORACLE_CHUNK_SLIDING = (
    "WITH toks AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS tk, "
    "len(string_split_regex(lower(text), '\\s+')) AS n FROM documents), "
    "c AS (SELECT doc_id, tk, CASE WHEN n <= 32 THEN 1 "
    "ELSE ((n - 32 + 23) // 24) + 1 END AS n_chunks FROM toks) "
    "SELECT doc_id, i AS chunk_id, (i*24 + 1)::BIGINT AS start_tok, "
    "len(tk[i*24+1 : i*24+32])::BIGINT AS n_chunk_tokens, "
    "md5(array_to_string(tk[i*24+1 : i*24+32], ' ')) AS chunk_md5 "
    "FROM c, unnest(generate_series(0, n_chunks - 1)) AS t(i)"
)


def q_span_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span compaction over the interleaved payload: merge runs of
    adjacent TEXT spans into one (payloads joined by ' '), media spans
    keep their positions and relative order.  Spans are synthesized
    string-encoded ('kind:payload') from doc_id + text so DuckDB can
    rebuild them bit-exactly; three interleaving patterns (doc_id % 3)
    plant runs of 2 and 3 adjacent text spans at different positions.

    Scale shape: the compaction is a narrow per-row Column fold
    (``sources.documents.compact_adjacent_text_spans``) — ZERO shuffles;
    the oracle replays it as gaps-and-islands SQL (boundary flags →
    cumulative run ids → per-run string_agg), proving the fold against
    an independent formulation, not a re-implementation.
    """
    from .sources.documents import compact_adjacent_text_spans

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    staged = docs.withColumn("_toks", F.split(F.lower("text"), r"\s+"))
    chunk = lambda a: F.concat_ws(  # noqa: E731
        " ", *[F.try_element_at("_toks", F.lit(a + j)) for j in range(5)]
    )
    t1 = F.concat(F.lit("text:"), chunk(1))
    t2 = F.concat(F.lit("text:"), chunk(6))
    t3 = F.concat(F.lit("text:"), chunk(11))
    m1 = F.format_string("media:media://blob/%d", F.col("doc_id"))
    spans = (
        F.when(F.col("doc_id") % 3 == 0, F.array(t1, t2, m1, t3))
        .when(F.col("doc_id") % 3 == 1, F.array(t1, m1, t2, t3))
        .otherwise(F.array(m1, t1, t2, t3))
    )
    staged = staged.withColumn("_spans", spans)
    comp = compact_adjacent_text_spans(F.col("_spans"))
    return staged.select(
        "doc_id",
        F.size("_spans").cast("long").alias("n_spans"),
        F.size(comp).cast("long").alias("n_spans_compact"),
        F.md5(F.concat_ws("|", comp)).alias("span_sig"),
    )


ORACLE_SPAN_COMPACT = (
    "WITH toks AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS tk "
    "FROM documents), "
    "sp AS (SELECT doc_id, CASE doc_id % 3 "
    "WHEN 0 THEN ['text:' || coalesce(array_to_string(tk[1:5], ' '), ''), "
    "'text:' || coalesce(array_to_string(tk[6:10], ' '), ''), "
    "'media:media://blob/' || doc_id::VARCHAR, "
    "'text:' || coalesce(array_to_string(tk[11:15], ' '), '')] "
    "WHEN 1 THEN ['text:' || coalesce(array_to_string(tk[1:5], ' '), ''), "
    "'media:media://blob/' || doc_id::VARCHAR, "
    "'text:' || coalesce(array_to_string(tk[6:10], ' '), ''), "
    "'text:' || coalesce(array_to_string(tk[11:15], ' '), '')] "
    "ELSE ['media:media://blob/' || doc_id::VARCHAR, "
    "'text:' || coalesce(array_to_string(tk[1:5], ' '), ''), "
    "'text:' || coalesce(array_to_string(tk[6:10], ' '), ''), "
    "'text:' || coalesce(array_to_string(tk[11:15], ' '), '')] END AS spans FROM toks), "
    "u AS (SELECT doc_id, spans[ord] AS s, ord, "
    "CASE WHEN spans[ord] LIKE 'text:%' THEN 1 ELSE 0 END AS is_t "
    "FROM sp, unnest(generate_series(1, len(spans))) AS t(ord)), "
    "b AS (SELECT *, CASE WHEN is_t = 1 AND lag(is_t) "
    "OVER (PARTITION BY doc_id ORDER BY ord) = 1 THEN 0 ELSE 1 END AS brk FROM u), "
    "g AS (SELECT *, sum(brk) OVER (PARTITION BY doc_id ORDER BY ord) AS grp FROM b), "
    "m AS (SELECT doc_id, grp, min(ord) AS ord0, "
    "CASE WHEN max(is_t) = 1 "
    "THEN 'text:' || string_agg(substr(s, 6), ' ' ORDER BY ord) "
    "ELSE min(s) END AS ms FROM g GROUP BY doc_id, grp) "
    "SELECT sp.doc_id, len(sp.spans)::BIGINT AS n_spans, "
    "pd.n_after::BIGINT AS n_spans_compact, pd.sig AS span_sig "
    "FROM sp JOIN (SELECT doc_id, count(*) AS n_after, "
    "md5(string_agg(ms, '|' ORDER BY ord0)) AS sig FROM m GROUP BY doc_id) pd "
    "ON sp.doc_id = pd.doc_id"
)


def q_selfsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus self-similarity at substring granularity: per doc, the
    fraction of its 16-token stride-1 windows whose text occurs in >= 2
    distinct docs — the duplicated-span fraction of the exact-substring
    dedup literature, computed with window hashes instead of suffix
    arrays.  md5 window hashes here so DuckDB replays the pipeline
    bit-for-bit; ``text.selfsim_report`` defaults to xxhash64 in
    production (identical plan)."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return text.selfsim_report(docs, window=16, min_docs=2, hash_fn="md5")


ORACLE_SELFSIM = (
    "WITH toks AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS tk "
    "FROM documents), "
    "w AS (SELECT doc_id, ('0x' || substr(md5("
    "array_to_string(tk[s : s+15], ' ')), 1, 15))::BIGINT AS h "
    "FROM toks, unnest(generate_series(1, len(tk) - 15)) AS t(s) "
    "WHERE len(tk) >= 16), "
    "dup AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS dfq "
    "FROM w GROUP BY 1) WHERE dfq >= 2), "
    "pd AS (SELECT w.doc_id, count(*) AS n_windows, count(dup.h) AS n_dup_windows "
    "FROM w LEFT JOIN dup ON w.h = dup.h GROUP BY w.doc_id) "
    "SELECT d.doc_id, coalesce(pd.n_windows, 0)::BIGINT AS n_windows, "
    "coalesce(pd.n_dup_windows, 0)::BIGINT AS n_dup_windows, "
    "CASE WHEN coalesce(pd.n_windows, 0) > 0 "
    "THEN pd.n_dup_windows / pd.n_windows ELSE 0.0 END AS dup_fraction "
    "FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id"
)


def q_lsh_band_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stream-static near-dup SIGNATURE path run in batch: per-row
    Column minhash band hashes (``streaming/neardup_stream.py`` — one
    md5 base hash per shingle + 32 affine ``array_min`` lanes, no
    aggregation anywhere), emitting the (doc_id, band, band_hash) index
    a streaming micro-batch joins against.  DuckDB replays the exact
    arithmetic, which oracle-closes the streaming LSH loop: the corpus
    index rows a stream would see are THIS row set (cross-impl equality
    with the batch explode+groupBy pipeline is separately asserted in
    tests/test_streaming_neardup.py)."""
    from .streaming import neardup_stream

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return neardup_stream.minhash_bands(docs, hash_fn="md5")


# ORACLE_LSH_BAND_INDEX is defined after _oracle_band_ctes (section 10).


def q_lsh_band_index_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized twin of ``lsh_band_index`` — bit-identical rows
    (same DuckDB oracle), one mapInPandas stage instead of interpreted
    higher-order Column folds.  Measured 8x faster at sf0.1 (1.4 s vs
    11.5 s): Spark evaluates lambda-function expressions interpreted,
    allocating per-shingle arrays, while the Arrow path md5-hashes each
    shingle once in C and takes all 32 affine minima in one numpy op.
    This is the bulk/corpus-side build; the pure-Column twin remains the
    canonical streaming-legality form."""
    from .streaming import neardup_stream

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return neardup_stream.minhash_bands_arrow(docs)


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — the keyword-extraction /
    relevance primitive.  score = tf · ln(N/df): tf and df are exact
    integers, N crosses in as a broadcast scalar, and the score is ONE
    scalar double op per (doc, token) — no unordered float sums
    anywhere, so the oracle replays it bit-for-bit.  Shuffle profile at
    100 TB: explode → partial-agg tf on (doc_id, token) (one exchange),
    df from tf by dropping the doc key (map-side combine on the already
    co-partitioned token key), broadcast-join df back, one
    WindowGroupLimit top-k per doc."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", r"\s+")).alias("token")
    ).where(F.col("token") != "")
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_docs = docs.select(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_), "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            # rounded to 9 dp BEFORE ranking: JVM Math.log and DuckDB ln
            # disagree by 1 ulp on some inputs (measured ~3% of rows), so
            # the raw double is not cross-engine stable — the rounded
            # score is, and ranking on it keeps the row SET stable too
            "score_r",
            F.round(
                F.col("tf").cast("double")
                * F.log(F.col("n_docs").cast("double") / F.col("df").cast("double")),
                9,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_r"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("doc_id", "rank", "token", "tf", "df", "score_r")
    )


ORACLE_TFIDF_TOPK = (
    "WITH t AS (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS token "
    "FROM documents), "
    "tf AS (SELECT doc_id, token, count(*) AS tf FROM t WHERE token <> '' "
    "GROUP BY 1, 2), "
    "df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1), "
    "n AS (SELECT count(*) AS n_docs FROM documents), "
    "s AS (SELECT tf.doc_id, tf.token, tf.tf, df.df, "
    "round(CAST(tf.tf AS DOUBLE) * ln(CAST(n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)), 9) "
    "AS score_r FROM tf JOIN df USING (token) CROSS JOIN n) "
    "SELECT doc_id, CAST(row_number() OVER (PARTITION BY doc_id "
    "ORDER BY score_r DESC, token ASC) AS INT) AS rank, token, tf, df, score_r "
    "FROM s QUALIFY rank <= 3"
)


def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per doc against a CORPUS-DERIVED top-16
    token vocabulary (count DESC, token ASC tie-break) — the coverage
    check run before committing to a tokenizer vocab.  Shape for 100 TB:
    the vocab is one map-side-combined count exchange reduced to k rows
    (broadcast back); the per-doc rollup is one exchange on doc_id; the
    corpus token stream never self-joins."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("token")
    ).where(F.col("token") != "")
    vocab = (
        toks.groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(16)
        .select("token")
        .withColumn("_in", F.lit(1))
    )
    per_doc = (
        toks.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            (F.count("*") - F.count("_in")).alias("n_oov"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_oov",
        (F.col("n_oov") / F.col("n_tokens")).alias("oov_rate"),
    )


ORACLE_OOV_RATE = (
    "WITH t AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) "
    "AS token FROM documents), "
    "tk AS (SELECT doc_id, token FROM t WHERE token <> ''), "
    "v AS (SELECT token FROM (SELECT token, count(*) AS n FROM tk GROUP BY 1 "
    "ORDER BY n DESC, token ASC LIMIT 16)) "
    "SELECT tk.doc_id, count(*)::BIGINT AS n_tokens, "
    "(count(*) - count(v.token))::BIGINT AS n_oov, "
    "(count(*) - count(v.token)) / count(*) AS oov_rate "
    "FROM tk LEFT JOIN v ON tk.token = v.token GROUP BY tk.doc_id"
)


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary heavy hitters per language stratum: top-20 tokens by
    document-corpus frequency with a deterministic (count DESC, token
    ASC) tie-break.  explode → map-side partial count → one exchange on
    (lang, token) → per-lang window top-k: at 100 TB the token count agg
    combines map-side (hot stopwords are hot KEYS, not hot partitions —
    partials absorb the skew) and the window only ranks the already
    tiny per-lang count table."""
    docs = _read(spark, sf_dir, "documents").select("lang", "text")
    toks = docs.select(
        "lang", F.explode(F.split("text", r"\s+")).alias("token")
    ).where(F.col("token") != "")
    cnt = toks.groupBy("lang", "token").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("token"))
    return (
        cnt.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 20)
        .select("lang", "rank", "token", "n")
    )


ORACLE_VOCAB_TOPK = (
    "WITH t AS (SELECT lang, unnest(string_split_regex(text, '\\s+')) AS token "
    "FROM documents), "
    "c AS (SELECT lang, token, count(*) AS n FROM t WHERE token <> '' GROUP BY 1, 2), "
    "r AS (SELECT lang, token, n, row_number() OVER "
    "(PARTITION BY lang ORDER BY n DESC, token ASC) AS rank FROM c) "
    "SELECT lang, rank, token, n FROM r WHERE rank <= 20"
)


def q_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token-length profile: exact empirical p50/p90/p99
    (quantile_disc semantics — the ceil(p·n)-th order statistic, pure
    integer index math so the oracle is bit-exact with no float
    interpolation).  One exchange on lang for the window rank; at
    100 TB swap the exact window for the same integer-rank pick over a
    per-lang count + a second filtered pass, or an approx sketch —
    the reported STATISTIC is identical."""
    docs = (
        _read(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select(
            "lang", "doc_id", F.size(F.split("text", r"\s+")).alias("n_toks")
        )
    )
    wr = Window.partitionBy("lang").orderBy("n_toks", "doc_id")
    wn = Window.partitionBy("lang")
    ranked = docs.withColumn("rn", F.row_number().over(wr)).withColumn(
        "n", F.count("*").over(wn)
    )
    pick = lambda num, den: F.max(  # noqa: E731 — ceil(n·num/den)-th order stat
        F.when(
            F.col("rn") == F.expr(f"CAST((n * {num} + {den - 1}) DIV {den} AS INT)"),
            F.col("n_toks"),
        )
    )
    return ranked.groupBy("lang").agg(
        pick(1, 2).alias("p50"),
        pick(9, 10).alias("p90"),
        pick(99, 100).alias("p99"),
        F.max("n").alias("n_docs"),
    )


def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB twin of ``length_percentiles``: equi-width histogram
    sketch (bucket = n_toks DIV 16) + percentile estimates read off the
    cumulative histogram — the first bucket whose cumulative count
    reaches ceil(p·n), reported as the bucket's lower edge.  One
    map-side-combined exchange on (lang, bucket); the window ranks
    BUCKETS (bounded by value range / width), never documents, so the
    sort that makes the exact path expensive at scale disappears.
    Estimates are within one bucket width of the exact order statistics
    (cross-checked in tests).  Pure integer math — bit-safe oracle."""
    docs = (
        _read(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select(
            "lang",
            F.floor(F.size(F.split("text", r"\s+")) / 16).alias("bucket"),
        )
    )
    h = docs.groupBy("lang", "bucket").agg(F.count("*").alias("n"))
    wcum = (
        Window.partitionBy("lang")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("lang")
    h = h.withColumn("cum", F.sum("n").over(wcum)).withColumn(
        "ntot", F.sum("n").over(wall)
    )
    pick = lambda num, den: F.min(  # noqa: E731 — first bucket covering ceil(n·p)
        F.when(
            F.col("cum") >= F.expr(f"(ntot * {num} + {den - 1}) DIV {den}"),
            F.col("bucket") * 16,
        )
    )
    return h.groupBy("lang").agg(
        pick(1, 2).alias("p50_est"),
        pick(9, 10).alias("p90_est"),
        pick(99, 100).alias("p99_est"),
        F.max("ntot").alias("n_docs"),
        F.count("*").alias("n_buckets"),
    )


ORACLE_LENGTH_HISTOGRAM = (
    "WITH t AS (SELECT lang, "
    "len(string_split_regex(text, '\\s+')) // 16 AS bucket "
    "FROM documents WHERE text IS NOT NULL), "
    "h AS (SELECT lang, bucket, count(*) AS n FROM t GROUP BY 1, 2), "
    "c AS (SELECT lang, bucket, n, "
    "CAST(sum(n) OVER (PARTITION BY lang ORDER BY bucket "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum, "
    "CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS ntot FROM h) "
    "SELECT lang, "
    "min(CASE WHEN cum >= (ntot * 1 + 1) // 2 THEN bucket * 16 END) AS p50_est, "
    "min(CASE WHEN cum >= (ntot * 9 + 9) // 10 THEN bucket * 16 END) AS p90_est, "
    "min(CASE WHEN cum >= (ntot * 99 + 99) // 100 THEN bucket * 16 END) AS p99_est, "
    "max(ntot) AS n_docs, count(*) AS n_buckets FROM c GROUP BY lang"
)


def q_group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language doc-length quantiles via the AGGREGATE path
    (`operators/stats.py::group_quantiles`): continuous-interpolation
    p50/p90/p99 of n_chars through Spark's ``percentile()`` — ONE
    map-side-combined hash-aggregate exchange, no per-document window at
    all (the third member of the length-profile family: exact window
    order statistics in ``length_percentiles``, histogram sketch in
    ``length_histogram``, aggregate interpolated quantiles here, with
    percentile_approx's mergeable GK sketch as the documented 100 TB
    swap-in, cross-checked vs exact in tests).  Spark ``percentile`` and
    DuckDB ``quantile_cont`` share the interpolation rule pos = p·(n−1);
    results rounded to 6dp to absorb ulp-level fold-order noise."""
    from .operators import stats

    docs = _read(spark, sf_dir, "documents")
    out = stats.group_quantiles(docs, "lang", "n_chars")
    return out.select(
        "lang", F.col("n").alias("n_docs"),
        F.round("p50", 6).alias("p50"),
        F.round("p90", 6).alias("p90"),
        F.round("p99", 6).alias("p99"),
    )


ORACLE_GROUP_QUANTILES = (
    "SELECT lang, COUNT(*) AS n_docs, "
    "round(quantile_cont(n_chars, 0.5), 6) AS p50, "
    "round(quantile_cont(n_chars, 0.9), 6) AS p90, "
    "round(quantile_cont(n_chars, 0.99), 6) AS p99 "
    "FROM documents GROUP BY lang"
)


ORACLE_LENGTH_PERCENTILES = (
    "WITH t AS (SELECT lang, doc_id, len(string_split_regex(text, '\\s+')) AS n_toks "
    "FROM documents WHERE text IS NOT NULL), "
    "r AS (SELECT lang, n_toks, "
    "row_number() OVER (PARTITION BY lang ORDER BY n_toks, doc_id) AS rn, "
    "count(*) OVER (PARTITION BY lang) AS n FROM t) "
    "SELECT lang, "
    "max(CASE WHEN rn = (n * 1 + 1) // 2 THEN n_toks END) AS p50, "
    "max(CASE WHEN rn = (n * 9 + 9) // 10 THEN n_toks END) AS p90, "
    "max(CASE WHEN rn = (n * 99 + 99) // 100 THEN n_toks END) AS p99, "
    "max(n) AS n_docs FROM r GROUP BY lang"
)


def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment (md5-bucket twin
    of the xxhash64 production path), reported as per-(split, lang)
    counts.  Pure per-row Column map + one small groupBy — re-runnable
    and layout-independent, unlike random sampling."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "lang")
    out = text.with_split_assign(docs, hash_fn="md5")
    return (
        out.groupBy("split", "lang")
        .agg(F.count("*").alias("n_docs"))
        .select("split", "lang", "n_docs")
    )


ORACLE_SPLIT_ASSIGN = (
    "WITH b AS (SELECT lang, "
    "('0x' || substr(md5(cast(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000 AS bucket "
    "FROM documents) "
    "SELECT CASE WHEN bucket < 8000 THEN 'train' "
    "WHEN bucket < 9000 THEN 'val' ELSE 'test' END AS split, "
    "lang, count(*) AS n_docs FROM b GROUP BY 1, 2"
)


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition: per doc, 1 − distinct/total over tokens
    and over NON-distinct 3-grams (template/spam signal).  Pure Column,
    zero shuffles."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    out = text.with_repetition(docs, n=3)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "dup_token_ratio",
        "dup_gram_ratio",
    )


ORACLE_REPETITION = (
    "WITH toks AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS tk "
    "FROM documents), "
    "g AS (SELECT doc_id, tk, list_transform("
    "generate_series(1, greatest(len(tk) - 2, 1)), "
    "i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2])) AS grams FROM toks) "
    "SELECT doc_id, len(tk) AS n_tokens, "
    "1 - len(list_distinct(tk)) / len(tk) AS dup_token_ratio, "
    "1 - len(list_distinct(grams)) / len(grams) AS dup_gram_ratio FROM g"
)


def _pii_augmented_text(spark_side: bool):
    """The deterministic PII augmentation (the corpus is synthetic word
    soup with no natural PII): docs with doc_id % 7 in {0, 3, 5} get an
    email / phone / IPv4 appended, derived from doc_id with identical
    string arithmetic on both engines."""
    if spark_side:
        d = F.col("doc_id")
        s = lambda c: c.cast("string")  # noqa: E731
        return (
            F.when(
                d % 7 == 0,
                F.concat(
                    F.col("text"), F.lit(" mail user"), s(d), F.lit("@host"),
                    s(F.pmod(d, F.lit(5))), F.lit(".example.com now"),
                ),
            )
            .when(
                d % 7 == 3,
                F.concat(
                    F.col("text"), F.lit(" call +99-555-"),
                    F.lpad(s(F.pmod(d, F.lit(10000))), 4, "0"), F.lit(" now"),
                ),
            )
            .when(
                d % 7 == 5,
                F.concat(
                    F.col("text"), F.lit(" from 10."), s(F.pmod(d, F.lit(256))),
                    F.lit("."), s(F.pmod(d, F.lit(250))), F.lit("."),
                    s(F.pmod(d, F.lit(17))), F.lit(" logged"),
                ),
            )
            .otherwise(F.col("text"))
        )
    return (
        "CASE WHEN doc_id % 7 = 0 THEN text || ' mail user' || cast(doc_id AS VARCHAR)"
        " || '@host' || cast(doc_id % 5 AS VARCHAR) || '.example.com now' "
        "WHEN doc_id % 7 = 3 THEN text || ' call +99-555-'"
        " || lpad(cast(doc_id % 10000 AS VARCHAR), 4, '0') || ' now' "
        "WHEN doc_id % 7 = 5 THEN text || ' from 10.' || cast(doc_id % 256 AS VARCHAR)"
        " || '.' || cast(doc_id % 250 AS VARCHAR) || '.' || cast(doc_id % 17 AS VARCHAR)"
        " || ' logged' ELSE text END"
    )


def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detect + redact over the deterministically augmented corpus:
    per-doc email/phone/IPv4 match counts and the redacted-text length
    (verifies the replacement logic, not just the counts).  All JVM
    regex Column ops; the patterns are RE2-safe so the oracle runs the
    identical literals."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    aug = docs.withColumn("text", _pii_augmented_text(spark_side=True))
    out = text.with_pii(aug, redact=True)
    return out.select(
        "doc_id",
        F.col("n_email").cast("long").alias("n_email"),
        F.col("n_phone").cast("long").alias("n_phone"),
        F.col("n_ipv4").cast("long").alias("n_ipv4"),
        F.col("n_pii").cast("long").alias("n_pii"),
        F.length("redacted").cast("long").alias("redacted_len"),
    )


ORACLE_PII_SCAN = (
    f"WITH aug AS (SELECT doc_id, {_pii_augmented_text(spark_side=False)} AS t "
    "FROM documents) "
    f"SELECT doc_id, len(regexp_extract_all(t, '{text.PII_EMAIL}')) AS n_email, "
    f"len(regexp_extract_all(t, '{text.PII_PHONE}')) AS n_phone, "
    f"len(regexp_extract_all(t, '{text.PII_IPV4}')) AS n_ipv4, "
    f"len(regexp_extract_all(t, '{text.PII_EMAIL}')) "
    f"+ len(regexp_extract_all(t, '{text.PII_PHONE}')) "
    f"+ len(regexp_extract_all(t, '{text.PII_IPV4}')) AS n_pii, "
    "length(regexp_replace(regexp_replace(regexp_replace(t, "
    f"'{text.PII_EMAIL}', '<EMAIL>', 'g'), "
    f"'{text.PII_PHONE}', '<PHONE>', 'g'), "
    f"'{text.PII_IPV4}', '<IPV4>', 'g')) AS redacted_len FROM aug"
)


def q_url_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus URL-domain frequency over the deterministically augmented
    corpus (every doc_id % 5 == 0 doc carries two synthetic URLs):
    extract → host → count per domain.  Map-side explode, one
    partial-aggregated exchange on the domain key."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    aug = docs.withColumn(
        "text",
        F.when(
            d % 5 == 0,
            F.concat(
                F.col("text"), F.lit(" https://cdn-"), s(F.pmod(d, F.lit(13))),
                F.lit(".example.org/p/"), s(d), F.lit(" http://site-"),
                s(F.pmod(d, F.lit(3))), F.lit(".io/x"),
            ),
        ).otherwise(F.col("text")),
    )
    out = text.url_domain_counts(aug)
    return out.select("domain", F.col("n_urls").cast("long").alias("n_urls"))


ORACLE_URL_DOMAINS = (
    "WITH aug AS (SELECT CASE WHEN doc_id % 5 = 0 THEN text"
    " || ' https://cdn-' || cast(doc_id % 13 AS VARCHAR) || '.example.org/p/'"
    " || cast(doc_id AS VARCHAR) || ' http://site-' || cast(doc_id % 3 AS VARCHAR)"
    " || '.io/x' ELSE text END AS t FROM documents), "
    f"u AS (SELECT unnest(regexp_extract_all(t, '{text.URL_PATTERN}')) AS url FROM aug) "
    f"SELECT regexp_extract(url, '{text.URL_DOMAIN}', 1) AS domain, "
    "count(*) AS n_urls FROM u GROUP BY 1"
)


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language sample: the 20 docs with the smallest
    (md5-bucket, doc_id) per lang.  Salted two-phase top-k — the salt
    bounds every window partition to <= k rows per salt regardless of
    stratum size, and the row set is provably salt-invariant (the oracle
    computes the direct single-window top-k)."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "lang")
    out = text.stratified_topk(docs, "lang", k=20, hash_fn="md5", salts=8)
    return out.select(
        "lang", "doc_id", "sample_bucket",
        F.col("sample_rank").cast("long").alias("sample_rank"),
    )


ORACLE_STRATIFIED_SAMPLE = (
    "WITH b AS (SELECT lang, doc_id, "
    "('0x' || substr(md5(cast(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000 AS sample_bucket "
    "FROM documents), "
    "r AS (SELECT lang, doc_id, sample_bucket, "
    "row_number() OVER (PARTITION BY lang ORDER BY sample_bucket, doc_id) AS sample_rank "
    "FROM b) "
    "SELECT lang, doc_id, sample_bucket, sample_rank FROM r WHERE sample_rank <= 20"
)


def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation funnel — the count of docs surviving each
    stage of a real training-data pipeline, composed from the engine's
    own operators in one program:

      all → quality_score >= 0.5 → lang = 'en' → exact-dedup keeper
      (min doc_id per md5(text)) → contamination < 0.5 vs the
      doc_id % 97 eval slice.

    Plan shape: quality is pure Column on the scan; the keeper is one
    window exchange on md5(text); contamination is the decontaminate
    pipeline (eval shingles broadcast, one agg exchange) left-joined
    back on doc_id; the funnel itself is a single-row conditional agg
    unpivoted with stack — counts only, no per-doc materialization.
    """
    docs = _read(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    enriched = text.with_quality_score(docs).withColumn(
        "keeper_id", F.min("doc_id").over(Window.partitionBy(F.md5("text")))
    )
    ev = docs.where(F.col("doc_id") % 97 == 0)
    cont = text.contamination_report(docs, ev).select("doc_id", "contamination")
    j = enriched.join(cont, "doc_id", "left").na.fill({"contamination": 0.0})
    s1 = F.col("quality_score") >= 0.5
    s2 = s1 & (F.col("lang") == "en")
    s3 = s2 & (F.col("doc_id") == F.col("keeper_id"))
    s4 = s3 & (F.col("contamination") < 0.5)
    agg = j.agg(
        F.count("*").alias("n_all"),
        F.sum(s1.cast("long")).alias("n_quality"),
        F.sum(s2.cast("long")).alias("n_lang"),
        F.sum(s3.cast("long")).alias("n_dedup"),
        F.sum(s4.cast("long")).alias("n_decontam"),
    )
    return agg.selectExpr(
        "stack(5, 'all', n_all, 'quality', n_quality, 'lang', n_lang, "
        "'dedup', n_dedup, 'decontam', n_decontam) AS (stage, n_docs)"
    )


ORACLE_CURATION_FUNNEL = (
    # quality mirror (same tree as ORACLE_QUALITY_SCORE), keeper window,
    # contamination mirror (same tree as ORACLE_DECONTAMINATE over ALL
    # docs — eval-slice docs score 1.0 and fall out at the last stage)
    "WITH f AS (SELECT doc_id, "
    "CAST(len(string_split_regex(lower(text), '\\s+')) AS DOUBLE) AS n_tokens, "
    "CAST(length(text) AS DOUBLE) AS n_chars, "
    "CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE) AS n_punct, "
    "CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), "
    "x -> x IN ('the', 'and', 'of', 'to', 'is'))) AS DOUBLE) AS n_stop "
    "FROM documents), "
    "q AS (SELECT doc_id, 0.4 * least(n_tokens / 64.0, 1.0) "
    "+ 0.3 * least((CASE WHEN n_tokens > 0 THEN n_stop / n_tokens ELSE 0.0 END) * 4, 1.0) "
    "+ 0.3 * (1.0 - least((CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END) * 5, 1.0)) "
    "AS quality_score FROM f), "
    "k AS (SELECT doc_id, lang, min(doc_id) OVER (PARTITION BY md5(text)) AS keeper_id "
    "FROM documents), "
    f"{_JACCARD_CTES.split(', ov AS')[0]}, "
    "ev AS (SELECT DISTINCT shingle FROM ex WHERE doc_id % 97 = 0), "
    "c AS (SELECT ex.doc_id, count(ev.shingle) / max(ex.n_sh) AS contamination "
    "FROM ex LEFT JOIN ev ON ex.shingle = ev.shingle GROUP BY ex.doc_id), "
    "j AS (SELECT k.doc_id, k.lang, k.keeper_id, q.quality_score, "
    "coalesce(c.contamination, 0.0) AS contamination "
    "FROM k JOIN q ON k.doc_id = q.doc_id LEFT JOIN c ON k.doc_id = c.doc_id), "
    # every counter CAST to BIGINT: DuckDB sum() yields HUGEINT, which
    # .df() converts to float64 and breaks the driver's hash compare even
    # when the values equal Spark's bigint (the one red row in r3)
    "s AS (SELECT count(*) AS n_all, "
    "CAST(sum(CASE WHEN quality_score >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality, "
    "CAST(sum(CASE WHEN quality_score >= 0.5 AND lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_lang, "
    "CAST(sum(CASE WHEN quality_score >= 0.5 AND lang = 'en' AND doc_id = keeper_id "
    "THEN 1 ELSE 0 END) AS BIGINT) AS n_dedup, "
    "CAST(sum(CASE WHEN quality_score >= 0.5 AND lang = 'en' AND doc_id = keeper_id "
    "AND contamination < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_decontam FROM j) "
    "SELECT 'all' AS stage, n_all AS n_docs FROM s "
    "UNION ALL SELECT 'quality', n_quality FROM s "
    "UNION ALL SELECT 'lang', n_lang FROM s "
    "UNION ALL SELECT 'dedup', n_dedup FROM s "
    "UNION ALL SELECT 'decontam', n_decontam FROM s"
)


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    out = text.with_token_counts(docs)
    return out.select(
        "doc_id",
        F.col("n_tokens_ws").cast("long").alias("n_tokens_ws"),
        F.col("n_tokens_bpe").cast("long").alias("n_tokens_bpe"),
        F.col("n_chars_calc").cast("long").alias("n_chars_calc"),
    )


ORACLE_TOKEN_COUNTS = (
    "SELECT doc_id, len(string_split_regex(lower(text), '\\s+')) AS n_tokens_ws, "
    "len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_tokens_bpe, "
    "length(text) AS n_chars_calc FROM documents"
)


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    out = text.with_lang_id(docs)
    return out.select(
        "doc_id",
        *[F.col(f"hits_{lang}").cast("long").alias(f"hits_{lang}") for lang in text.LANG_MARKERS],
        "lang_pred",
    )


def _lang_hits_sql(lang: str) -> str:
    markers = ", ".join(f"'{m}'" for m in text.LANG_MARKERS[lang])
    return (
        f"len(list_filter(string_split_regex(lower(text), '\\s+'), "
        f"x -> x IN ({markers}))) AS hits_{lang}"
    )


ORACLE_LANG_ID = (
    "WITH h AS (SELECT doc_id, "
    + ", ".join(_lang_hits_sql(lang) for lang in text.LANG_MARKERS)
    + " FROM documents), "
    "b AS (SELECT *, greatest(hits_en, hits_es, hits_fr, hits_de) AS best FROM h) "
    "SELECT doc_id, hits_en, hits_es, hits_fr, hits_de, "
    "CASE WHEN best = 0 THEN 'und' "
    "WHEN hits_en = best THEN 'en' WHEN hits_es = best THEN 'es' "
    "WHEN hits_fr = best THEN 'fr' WHEN hits_de = best THEN 'de' "
    "ELSE 'und' END AS lang_pred FROM b"
)


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    out = text.with_quality_score(docs)
    return out.select(
        "doc_id", "punct_ratio", "stopword_ratio", "mean_token_len", "quality_score"
    )


ORACLE_QUALITY_SCORE = (
    "WITH f AS (SELECT doc_id, "
    "CAST(length(text) AS DOUBLE) AS n_chars, "
    "CAST(len(string_split_regex(lower(text), '\\s+')) AS DOUBLE) AS n_tokens, "
    "CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE) AS n_punct, "
    "CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), "
    "x -> x IN ('the', 'and', 'of', 'to', 'is'))) AS DOUBLE) AS n_stop "
    "FROM documents), "
    "r AS (SELECT doc_id, n_chars, n_tokens, "
    "CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END AS punct_ratio, "
    "CASE WHEN n_tokens > 0 THEN n_stop / n_tokens ELSE 0.0 END AS stop_ratio FROM f) "
    "SELECT doc_id, punct_ratio, stop_ratio AS stopword_ratio, "
    "CASE WHEN n_tokens > 0 THEN n_chars / n_tokens ELSE 0.0 END AS mean_token_len, "
    "0.4 * least(n_tokens / 64.0, 1.0) + 0.3 * least(stop_ratio * 4, 1.0) "
    "+ 0.3 * (1.0 - least(punct_ratio * 5, 1.0)) AS quality_score FROM r"
)


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return text.with_fingerprint(docs, hash_fn="md5").select("doc_id", "fingerprint")


ORACLE_FINGERPRINT = (
    f"SELECT doc_id, list_reduce(list_transform("
    f"string_split_regex(lower(text), '\\s+'), "
    f"t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % {text.FP_MOD}), "
    f"(a, b) -> (a * 31 + b) % {text.FP_MOD}) AS fingerprint FROM documents"
)


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda v: v.cast("double")).alias("embedding")
    )
    queries = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    topk = similarity.brute_topk(emb, queries, k=5)
    return topk.select(
        "q_id", "vec_id", F.col("rank").cast("long").alias("rank"), "cosine"
    )


_DOT = (
    "list_reduce(list_transform(list_zip({a}, {b}), p -> p[1] * p[2]), (x, y) -> x + y)"
)
_NRM = "sqrt(list_reduce(list_transform({a}, x -> x * x), (x, y) -> x + y))"

def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus k-means over the embedding column (k=4, 3 Lloyd
    iterations, deterministic vec_id<k seeding): the corpus-clustering
    primitive behind topic balancing / diversity sampling and the
    full-data twin of the IVF coarse quantizer.  Per-dim centroid sums
    run in DECIMAL(38,18) — exact decimal arithmetic is order-
    independent, so the run is reproducible at any parallelism AND the
    DuckDB oracle replays all three iterations bit-for-bit (assignment
    folds are left-to-right like list_reduce; argmin ties break to the
    lowest cluster id in both).  Output: final cluster sizes + the
    post-update centroid norms."""
    from .operators import clustering

    emb = _read(spark, sf_dir, "embeddings")
    assigned, cents = clustering.kmeans(emb, k=4, iters=3)
    norms = [(j, clustering.centroid_norm(c)) for j, c in enumerate(cents)]
    norm_col = F.element_at(
        F.array(*[F.lit(n) for _, n in norms]), F.col("cluster") + 1
    )
    # round-9dp at emission: the per-dim centroid mean is float(DECIMAL)/n
    # in Python but CAST(DECIMAL AS DOUBLE)/n in DuckDB, which disagree by
    # 1 ulp on some inputs (seen at sf0.001) — same rule as the ln oracles
    return (
        assigned.groupBy("cluster")
        .agg(F.count("*").alias("n_vecs"))
        .select("cluster", "n_vecs", F.round(norm_col, 9).alias("centroid_norm"))
    )


def _kmeans_ctes(k: int = 4, iters: int = 3, dim: int = 64,
                 src: str | None = None) -> tuple[list, str]:
    """Unrolled Lloyd iterations: c0 → (assign, decimal-sum update) ×
    iters → final assignment.  Mirrors operators/clustering.py exactly:
    same seeding, same fold order, same tie-break, same empty-cluster
    COALESCE fallback.  Returns (cte_list, final_assignment_name) so
    downstream oracles (cluster-balanced sampling, semantic dedup) can
    extend the chain.  ``src`` names an ALREADY-DEFINED CTE with columns
    (vec_id, v double[]) to cluster instead of the embeddings table —
    with the default the generated SQL is byte-identical to before."""
    dist = (
        "list_reduce(list_transform(list_zip({v}, {c}), "
        "p -> (p[1]-p[2])*(p[1]-p[2])), (x, y) -> x + y)"
    )
    rel = src or "e"
    ctes = [] if src else [
        "e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) "
        "AS v FROM embeddings)",
    ]
    ctes += [
        f"c0 AS (SELECT vec_id AS cluster, v AS c FROM {rel} WHERE vec_id < {k})",
        f"ks AS (SELECT unnest(generate_series(0, {k - 1})) AS cluster)",
    ]
    for i in range(1, iters + 2):
        prev = f"c{i - 1}"
        ctes.append(
            f"a{i} AS (SELECT {rel}.vec_id, {rel}.v, {prev}.cluster "
            f"FROM {rel} CROSS JOIN {prev} "
            f"QUALIFY row_number() OVER (PARTITION BY {rel}.vec_id "
            f"ORDER BY {dist.format(v=rel + '.v', c=prev + '.c')} ASC, {prev}.cluster ASC) = 1)"
        )
        if i == iters + 1:
            break  # final assignment only — no further update
        sums = ", ".join(
            f"SUM(CAST(v[{d + 1}] AS DECIMAL(38,18))) AS s{d}" for d in range(dim)
        )
        ctes.append(
            f"g{i} AS (SELECT cluster, count(*) AS n, {sums} FROM a{i} GROUP BY cluster)"
        )
        mean_list = ", ".join(f"CAST(g.s{d} AS DOUBLE) / g.n" for d in range(dim))
        ctes.append(
            f"c{i} AS (SELECT ks.cluster, "
            f"CASE WHEN g.n IS NULL THEN p.c ELSE list_value({mean_list}) END AS c "
            f"FROM ks LEFT JOIN g{i} g USING (cluster) "
            f"JOIN {prev} p USING (cluster))"
        )
    return ctes, f"a{iters + 1}"


def _oracle_kmeans(k: int = 4, iters: int = 3, dim: int = 64) -> str:
    ctes, final = _kmeans_ctes(k, iters, dim)
    norm = "sqrt(list_reduce(list_transform(c, x -> x * x), (x, y) -> x + y))"
    return (
        "WITH " + ", ".join(ctes) + " "
        f"SELECT a.cluster, count(*) AS n_vecs, round(max({norm}), 9) AS centroid_norm "
        f"FROM {final} a JOIN c{iters} USING (cluster) GROUP BY a.cluster"
    )


ORACLE_KMEANS_CLUSTERS = _oracle_kmeans()


def q_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity sampling — the reason a curation pipeline runs k-means:
    a deterministic, layout-independent 10-vector sample from EVERY
    k-means cluster (uniform over clusters, not over the corpus, so
    dominant topics can't crowd out the tail).  Composes the two
    oracle-checked operators verbatim: the kmeans assignment feeds
    ``stratified_topk`` with cluster as the stratum."""
    from .operators import clustering

    emb = _read(spark, sf_dir, "embeddings")
    assigned, _ = clustering.kmeans(emb, k=4, iters=3)
    out = text.stratified_topk(
        assigned.select("vec_id", "cluster"), "cluster", k=10,
        id_col="vec_id", hash_fn="md5", salts=8,
    )
    return out.select(
        "cluster", "vec_id", "sample_bucket",
        F.col("sample_rank").cast("long").alias("sample_rank"),
    )


def _oracle_cluster_balanced_sample() -> str:
    ctes, final = _kmeans_ctes()
    return (
        "WITH " + ", ".join(ctes) + ", "
        f"b AS (SELECT cluster, vec_id, "
        "('0x' || substr(md5(cast(vec_id AS VARCHAR)), 1, 15))::BIGINT % 10000 "
        f"AS sample_bucket FROM {final}), "
        "r AS (SELECT cluster, vec_id, sample_bucket, "
        "row_number() OVER (PARTITION BY cluster ORDER BY sample_bucket, vec_id) "
        "AS sample_rank FROM b) "
        "SELECT cluster, vec_id, sample_bucket, sample_rank FROM r "
        "WHERE sample_rank <= 10"
    )


ORACLE_CLUSTER_BALANCED_SAMPLE = _oracle_cluster_balanced_sample()


ORACLE_COSINE_TOPK = (
    "WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v "
    "FROM embeddings), "
    "q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 8), "
    "s AS (SELECT q_id, vec_id, "
    + _DOT.format(a="v", b="qv")
    + " / (" + _NRM.format(a="v") + " * " + _NRM.format(a="qv") + ") AS cosine "
    "FROM e CROSS JOIN q) "
    "SELECT q_id, vec_id, CAST(row_number() OVER (PARTITION BY q_id "
    "ORDER BY cosine DESC, vec_id ASC) AS BIGINT) AS rank, cosine FROM s "
    "QUALIFY rank <= 5"
)


# ===========================================================================
# 11. Kernel-backed operators (LSH, ANN, geodesic, DE-9IM): oracles replay the kernels
# ===========================================================================


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, md5 lane hashes so DuckDB can replay
    the ENTIRE pipeline (shingle → 32 min-lanes → band hash → band
    self-join → pair counts) bit-for-bit.  Production default stays
    xxhash64 (same plan, faster JVM hash)."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.minhash_lsh_pairs(docs, n_hashes=32, bands=8, hash_fn="md5")


def q_minhash_lsh_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production xxhash64 minhash path with a DRIVER-CHECKABLE contract
    (r4 verdict item 8): the pipeline runs over the REAL corpus ∪
    token-namespaced planted twins (ids offset to 2M/3M so they collide
    with nothing), and the query emits, per planted pair, the bands
    shared in the xxhash64 LSH output (−1 if the pair was missed).
    Oracle: every planted pair found with all 8 bands — a SUPERSET
    assertion on the candidate set that makes this a red/green row
    (the full real-doc pair set itself has no SQL mirror: DuckDB lacks
    xxhash64; the md5 twin ``minhash_lsh`` carries that proof)."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    planted = _planted_twin_docs(spark, sf_dir).withColumn(
        "doc_id", F.col("doc_id") + F.lit(2_000_000)
    )
    pairs = dedup.minhash_lsh_pairs(
        docs.unionByName(planted), n_hashes=32, bands=8, hash_fn="xxhash64"
    )
    expected = docs.where(F.col("doc_id") < 40).select(
        (F.col("doc_id") + 2_000_000).alias("id_a"),
        (F.col("doc_id") + 3_000_000).alias("id_b"),
    )
    return expected.join(pairs, ["id_a", "id_b"], "left").select(
        "id_a", "id_b",
        F.coalesce(F.col("n_bands_shared"), F.lit(-1)).cast("long").alias("n_bands_shared"),
    )


ORACLE_MINHASH_FAST_CONTRACT = (
    "SELECT doc_id + 2000000 AS id_a, doc_id + 3000000 AS id_b, "
    "CAST(8 AS BIGINT) AS n_bands_shared FROM documents WHERE doc_id < 40"
)


def _oracle_band_ctes(n_hashes: int = 32, bands: int = 8) -> str:
    """Shared CTE chain (no leading WITH) replaying the md5 minhash
    signature — shingle → base hash → 32 affine min lanes → per-band
    hash — ending in a ``bands(doc_id, band, band_hash)`` relation.
    Used by both the batch LSH pair oracle and the band-index oracle
    (the streaming signature path run in batch)."""
    from .operators.dedup import MINHASH_P, minhash_lane_params

    rows_per_band = n_hashes // bands
    # affine lane family over one md5-derived base per shingle — the
    # exact arithmetic minhash_signature runs (dedup.MINHASH_P/_lane
    # params are the shared constants)
    base = f"(('0x' || substr(md5(shingle), 1, 15))::BIGINT % {MINHASH_P})"
    lanes_sql = ", ".join(
        "min(({a} * {base} + {b}) % {p}) AS mh{i}".format(
            a=minhash_lane_params(i)[0], b=minhash_lane_params(i)[1],
            base=base, p=MINHASH_P, i=i,
        )
        for i in range(n_hashes)
    )
    band_exprs = []
    for b in range(bands):
        joined = " || ',' || ".join(
            f"CAST(mh{b * rows_per_band + j} AS VARCHAR)" for j in range(rows_per_band)
        )
        band_exprs.append(
            f"WHEN {b} THEN ('0x' || substr(md5('{b}:' || {joined}), 1, 15))::BIGINT"
        )
    return (
        "toks AS (SELECT doc_id, string_split_regex(text, '\\s+') AS tk FROM documents), "
        "sh AS (SELECT doc_id, list_distinct(list_transform("
        "generate_series(1, greatest(len(tk) - 2, 1)), "
        "i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) AS shingles FROM toks), "
        # empty grams filtered on BOTH engines: content-free docs carry
        # NULL lanes and never band (minhash_signature contract)
        "ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh), "
        f"lanes AS (SELECT doc_id, {lanes_sql} FROM ex "
        "WHERE trim(shingle) <> '' GROUP BY doc_id), "
        "bands AS (SELECT doc_id, band, CASE band "
        + " ".join(band_exprs)
        + " END AS band_hash FROM lanes CROSS JOIN "
        f"(SELECT unnest(generate_series(0, {bands - 1})) AS band))"
    )


def _oracle_minhash_lsh(n_hashes: int = 32, bands: int = 8) -> str:
    return (
        f"WITH {_oracle_band_ctes(n_hashes, bands)} "
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_bands_shared "
        "FROM bands a JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash "
        "AND a.doc_id < b.doc_id GROUP BY 1, 2"
    )


ORACLE_LSH_BAND_INDEX = (
    f"WITH {_oracle_band_ctes()} SELECT doc_id, band, band_hash FROM bands"
)


def q_minhash_est_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature-estimated Jaccard for every LSH candidate pair: the
    fraction of equal minhash lanes (the textbook unbiased estimator) —
    the score a 100 TB pipeline ranks candidates by WITHOUT touching
    shingle sets again.  Pure Column zip_with/aggregate over the two
    32-lane arrays per pair; pairs and signatures reuse the oracle-green
    md5 minhash pipeline."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = dedup.minhash_lsh_pairs(docs, n_hashes=32, bands=8, hash_fn="md5")
    sig = dedup.minhash_signature(docs, n_hashes=32, hash_fn="md5")
    j = (
        pairs.join(
            sig.select(F.col("doc_id").alias("id_a"), F.col("minhash").alias("_sa")),
            "id_a",
        ).join(
            sig.select(F.col("doc_id").alias("id_b"), F.col("minhash").alias("_sb")),
            "id_b",
        )
    )
    n_hashes = 32
    eq = F.zip_with("_sa", "_sb", lambda x, y: F.when(x == y, 1).otherwise(0))
    k = F.aggregate(eq, F.lit(0), lambda acc, v: acc + v)
    return j.select(
        "id_a",
        "id_b",
        "n_bands_shared",
        (k / F.lit(float(n_hashes))).alias("est_jaccard"),
    )


def _oracle_minhash_est_jaccard(n_hashes: int = 32, bands: int = 8) -> str:
    eq_terms = " + ".join(
        f"(CASE WHEN la.mh{i} = lb.mh{i} THEN 1 ELSE 0 END)" for i in range(n_hashes)
    )
    return (
        f"WITH {_oracle_band_ctes(n_hashes, bands)}, "
        "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
        "count(*) AS n_bands_shared "
        "FROM bands a JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash "
        "AND a.doc_id < b.doc_id GROUP BY 1, 2) "
        "SELECT p.id_a, p.id_b, p.n_bands_shared, "
        f"({eq_terms}) / {float(n_hashes)} AS est_jaccard "
        "FROM pairs p JOIN lanes la ON p.id_a = la.doc_id "
        "JOIN lanes lb ON p.id_b = lb.doc_id"
    )


def q_simhash_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dups with md5-derived lane bits so DuckDB replays the
    ENTIRE pipeline (token bits → 64 ±1 lane sums → signature → 16-bit
    block LSH → popcount filter) bit-for-bit.  Production default stays
    xxhash64 (`simhash_neardups_fast`)."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.simhash_near_dups(docs, max_hamming=8, hash_fn="md5")


def q_simhash_neardups_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production xxhash64 simhash path with a DRIVER-CHECKABLE contract
    (r4 verdict item 8, same shape as ``minhash_lsh_fast``): real corpus
    ∪ offset planted twins through the full block-LSH pipeline, then a
    left join emits each planted pair's Hamming distance (−1 if missed).
    Oracle: every planted twin at Hamming 0 — identical text ⇒ identical
    signature under ANY hash family, so a miss means the xxhash64
    signature/block path broke."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    planted = _planted_twin_docs(spark, sf_dir).withColumn(
        "doc_id", F.col("doc_id") + F.lit(2_000_000)
    )
    out = dedup.simhash_near_dups(
        docs.unionByName(planted), max_hamming=8, hash_fn="xxhash64"
    )
    expected = docs.where(F.col("doc_id") < 40).select(
        (F.col("doc_id") + 2_000_000).alias("id_a"),
        (F.col("doc_id") + 3_000_000).alias("id_b"),
    )
    return expected.join(out, ["id_a", "id_b"], "left").select(
        "id_a", "id_b",
        F.coalesce(F.col("hamming"), F.lit(-1)).cast("long").alias("hamming"),
    )


ORACLE_SIMHASH_FAST_CONTRACT = (
    "SELECT doc_id + 2000000 AS id_a, doc_id + 3000000 AS id_b, "
    "CAST(0 AS BIGINT) AS hamming FROM documents WHERE doc_id < 40"
)


_PLANTED_TWIN_OFFSET = 1_000_000


def _planted_twin_docs(spark: SparkSession, sf_dir: str, n_base: int = 40,
                       n_tokens: int = 10) -> DataFrame:
    """Planted-ground-truth corpus for the xxhash64 production hash paths
    (r3 verdict item 7): every base doc gets an EXACT-copy twin at
    ``doc_id + offset``, and token text is namespaced per doc
    (``d{id}w{j}``) so distinct docs share ZERO shingles/tokens.  Thus
    under ANY hash family the output pair set is exactly the planted
    twins: identical text ⇒ identical signature ⇒ all bands/blocks
    collide; disjoint token sets ⇒ cross-doc collisions need a full
    64-bit hash coincidence (deterministic per SF; verified absent at the
    driver's SFs by parity runs).  All Column ops — no Python in the
    construction."""
    base = _read(spark, sf_dir, "documents").where(F.col("doc_id") < n_base)
    text = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(0), F.lit(n_tokens - 1)),
            lambda j: F.concat(
                F.lit("d"), F.col("doc_id").cast("string"),
                F.lit("w"), j.cast("string"),
            ),
        ),
    )
    planted = base.select("doc_id", text.alias("text"))
    twins = planted.select(
        (F.col("doc_id") + F.lit(_PLANTED_TWIN_OFFSET)).alias("doc_id"), "text"
    )
    return planted.unionByName(twins)


def q_minhash_fast_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable oracle row for the DEPLOYED minhash hash path
    (xxhash64 lanes): on the planted-twin corpus the xxhash64 LSH pipeline
    must emit exactly the planted pairs, each sharing all 8 bands."""
    docs = _planted_twin_docs(spark, sf_dir)
    out = dedup.minhash_lsh_pairs(docs, n_hashes=32, bands=8, hash_fn="xxhash64")
    return out.select(
        "id_a", "id_b", F.col("n_bands_shared").cast("long").alias("n_bands_shared")
    )


ORACLE_MINHASH_FAST_PLANTED = (
    "SELECT doc_id AS id_a, doc_id + 1000000 AS id_b, "
    "CAST(8 AS BIGINT) AS n_bands_shared "
    "FROM documents WHERE doc_id < 40"
)


def q_simhash_fast_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable oracle row for the DEPLOYED simhash hash path
    (xxhash64 lane bits): planted twins must come back at Hamming 0 and
    nothing else survives the ≤3 filter (cross docs share no tokens)."""
    docs = _planted_twin_docs(spark, sf_dir)
    out = dedup.simhash_near_dups(docs, max_hamming=3, hash_fn="xxhash64")
    return out.select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


ORACLE_SIMHASH_FAST_PLANTED = (
    "SELECT doc_id AS id_a, doc_id + 1000000 AS id_b, "
    "CAST(0 AS BIGINT) AS hamming "
    "FROM documents WHERE doc_id < 40"
)


def _oracle_simhash_neardups(max_hamming: int = 8) -> str:
    lanes = []
    for b in range(64):
        src, off = ("v1", b) if b < 60 else ("v2", b - 60)
        lanes.append(
            f"sum(CASE WHEN (({src} >> {off}) & 1) = 1 THEN 1 ELSE -1 END) AS l{b}"
        )
    # bit 63 can't be built by << (DuckDB range-checks the shift); use the
    # Long.MIN_VALUE constant — two's-complement addition of disjoint bits
    # equals the bitwise OR, so the sum assembles the signature exactly
    sig_terms = " + ".join(
        f"(CASE WHEN l{b} > 0 THEN (-9223372036854775807::BIGINT - 1) ELSE 0::BIGINT END)"
        if b == 63
        else f"(CASE WHEN l{b} > 0 THEN 1::BIGINT ELSE 0::BIGINT END << {b})"
        for b in range(64)
    )
    return (
        "WITH toks AS (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok "
        "FROM documents), "
        "tf AS (SELECT doc_id, tok FROM toks WHERE tok <> ''), "
        "h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS v1, "
        "('0x' || substr(md5(tok), 17, 15))::BIGINT AS v2 FROM tf), "
        f"lanes AS (SELECT doc_id, {', '.join(lanes)} FROM h GROUP BY doc_id), "
        f"sig AS (SELECT doc_id, {sig_terms} AS simhash FROM lanes), "
        "blk AS (SELECT doc_id, simhash, b.block, "
        "((simhash >> (b.block * 16)) & 65535) AS bval FROM sig CROSS JOIN "
        "(SELECT unnest(generate_series(0, 3)) AS block) b), "
        "cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b, "
        "a.simhash AS sig_a, c.simhash AS sig_b "
        "FROM blk a JOIN blk c ON a.block = c.block AND a.bval = c.bval "
        "AND a.doc_id < c.doc_id) "
        "SELECT id_a, id_b, sig_a, sig_b, "
        "CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming FROM cand "
        f"WHERE bit_count(xor(sig_a, sig_b)) <= {max_hamming}"
    )


def _ann_fixture(spark: SparkSession, sf_dir: str):
    """(corpus, queries) with PLANTED ground truth (r2 verdict item 7):
    each query vector (vec_id < 8) gets 4 corpus copies at exactly-
    representable positive scales 1.5/2.0/2.5/3.0 (vec_id 10^6 + q·10 +
    j).  Positive scaling preserves every hyperplane sign and the IVF
    cell (both assign on direction), so LSH and IVF are GUARANTEED to
    surface the copies as candidates, and the true top-5 per query —
    the query vector itself plus its 4 copies, all cosine ≈ 1 — is
    analytically known and SQL-expressible (brute-force top-k oracle)."""
    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda v: v.cast("double")).alias("embedding")
    )
    queries = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    scales = spark.range(1, 5).select(F.col("id").alias("j"))
    planted = queries.crossJoin(scales).select(
        (F.lit(1_000_000) + F.col("q_id") * 10 + F.col("j")).alias("vec_id"),
        F.transform(
            "embedding", lambda v: v * (F.lit(1.0) + F.lit(0.5) * F.col("j"))
        ).alias("embedding"),
    )
    return emb.unionByName(planted), queries


_ANN_PLANTED_SQL = (
    "WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v "
    "FROM embeddings), "
    "q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 8), "
    "pl AS (SELECT 1000000 + q_id * 10 + j AS vec_id, "
    "list_transform(qv, x -> x * (1.0 + 0.5 * j)) AS v "
    "FROM q CROSS JOIN (SELECT unnest(generate_series(1, 4)) AS j)), "
    "c AS (SELECT vec_id, v FROM e UNION ALL SELECT vec_id, v FROM pl), "
    "s AS (SELECT q_id, vec_id, "
    + _DOT.format(a="v", b="qv")
    + " / (" + _NRM.format(a="v") + " * " + _NRM.format(a="qv") + ") AS cosine "
    "FROM c CROSS JOIN q) "
    "SELECT q_id, vec_id, CAST(row_number() OVER (PARTITION BY q_id "
    "ORDER BY cosine DESC, vec_id ASC) AS BIGINT) AS rank, cosine FROM s "
    "QUALIFY rank <= 5"
)


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table hyperplane-LSH ANN over the planted-ground-truth
    fixture: the approximate result must EQUAL the brute-force top-5
    (the planted copies guarantee candidate coverage; see _ann_fixture)."""
    corpus, queries = _ann_fixture(spark, sf_dir)
    out = similarity.ann_topk(corpus, queries, k=5, dim=64, planes_per_table=4, n_tables=24)
    return out.select("q_id", "vec_id", F.col("rank").cast("long").alias("rank"), "cosine")


def q_ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (coarse-quantizer) ANN — the bucketed-layout scale path —
    over the same planted-ground-truth fixture as ``ann_topk``."""
    corpus, queries = _ann_fixture(spark, sf_dir)
    out = similarity.ann_topk_ivf(corpus, queries, k=5, n_centroids=32, nprobe=8)
    return out.select("q_id", "vec_id", F.col("rank").cast("long").alias("rank"), "cosine")


def q_ann_topk_ivf_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed 100 TB retrieval plan — IVF cell pruning → int8
    coarse scoring of probed-cell candidates → exact float rerank — over
    the same planted fixture: positive scaling preserves the IVF cell
    (assignment is directional) AND the quantized signs, so the planted
    truth provably survives both pruning stages and the final rows equal
    the brute-force top-5."""
    corpus, queries = _ann_fixture(spark, sf_dir)
    out = similarity.ann_topk_ivf_int8(
        corpus, queries, k=5, pool=50, n_centroids=32, nprobe=8
    )
    return out.select("q_id", "vec_id", F.col("rank").cast("long").alias("rank"), "cosine")


def q_ann_topk_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ composition (the FAISS-standard 100 TB layout: cell
    pruning × byte-code ADC × pool rerank) over the planted fixture:
    copies share the query's IVF cell (directional assignment) AND its
    PQ codes (unit-normalization collapses positive scalings), so both
    pruning stages provably retain the truth and the final rows equal
    the brute-force top-5."""
    corpus, queries = _ann_fixture(spark, sf_dir)
    out = similarity.ann_topk_ivf_pq(
        corpus, queries, k=5, pool=50, m=8, n_codes=64, n_centroids=32, nprobe=8
    )
    return out.select("q_id", "vec_id", F.col("rank").cast("long").alias("rank"), "cosine")


# Fixed rotation target for the ADVERSARIAL near-dup fixture: a seeded
# standard-normal direction, rounded to 4dp so the literal parses to the
# SAME double in Spark and DuckDB.  Planted vectors are the base vector
# rotated by φ = arccos(0.98) toward w (Gram–Schmidt orthogonalized
# per row), NOT a scaled copy — so their hyperplane signs genuinely
# differ from the base's and single-table LSH provably misses some
# pairs (tests/test_operators_spark.py asserts it) while the
# multi-table OR-amplified join must still find every pair
# (modeled miss ≈ 6e-5/pair at b=12/t=16).
_ND_W = [float(round(x, 4)) for x in np.random.default_rng(7).standard_normal(64)]
_ND_COS = 0.98


def _neardup_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Augmented embeddings: every ``vec_id % 40 == 0`` base vector gets
    a planted near-dup at ``vec_id + 1_000_000`` rotated to EXACTLY
    cosine 0.98 from it: v' = v̂·cosφ + û·sinφ with û the unit rejection
    of the fixed direction w from v̂.  Every step is the identical IEEE
    left-fold in Spark Column math and the DuckDB oracle, so the planted
    arrays are bit-equal across engines."""
    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda v: v.cast("double")).alias("embedding")
    )
    w = F.array(*[F.lit(x) for x in _ND_W])
    v = F.col("embedding")
    nv = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    vh = F.transform(v, lambda x: x / nv)
    # Each stage below ends in a repartition BARRIER: CollapseProject
    # would otherwise inline every upstream scalar fold (nv, wd, nu) into
    # EVERY element of the downstream array expression, compounding to
    # ~64^4 interpreted ops per planted row (the same spread-chain
    # duplication tile_pyramid hit in r4 — measured here as a 170 s
    # fixture at sf0.1).  The barriers exchange ≤ 64 planted rows each:
    # microseconds, and each intermediate evaluates exactly once.
    base = (
        emb.where(F.col("vec_id") % 40 == 0)
        .select("vec_id", vh.alias("_vh"))
        .repartition(4)
    )
    wd = F.aggregate(
        F.zip_with(w, F.col("_vh"), lambda a, b: a * b), F.lit(0.0), lambda a, x: a + x
    )
    withwd = base.select("vec_id", "_vh", wd.alias("_wd")).repartition(4)
    staged = withwd.select("vec_id", "_vh", F.zip_with(
        w, F.col("_vh"), lambda wi, vi: wi - F.col("_wd") * vi
    ).alias("_u")).repartition(4)
    nu = F.sqrt(F.aggregate(F.col("_u"), F.lit(0.0), lambda a, x: a + x * x))
    withnu = staged.select("vec_id", "_vh", "_u", nu.alias("_nu")).repartition(4)
    sinphi = F.sqrt(F.lit(1.0) - F.lit(_ND_COS) * F.lit(_ND_COS))
    planted = withnu.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.zip_with(
            F.col("_vh"), F.col("_u"),
            lambda a, b: a * F.lit(_ND_COS) + (b / F.col("_nu")) * sinphi,
        ).alias("embedding"),
    )
    return emb.unionByName(planted)


def q_embedding_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs via multi-table LSH self-join over
    the ADVERSARIAL rotated fixture (r4 verdict item 2): planted pairs
    sit at cosine 0.98 — above the 0.95 threshold but NOT
    direction-identical, so sign-LSH can genuinely miss them and only
    OR-amplification's modeled recall (≥0.994 at the 0.95 boundary,
    ~1−6e-5 per pair at 0.98) makes the operator complete.  Oracle:
    brute-force all-pairs cosine ≥ threshold over the same augmented
    table — the hash check proves BOTH no false pair and no missed
    planted pair."""
    # localCheckpoint cuts the fixture's lineage BEFORE the self-join:
    # the operator references its input on both join sides, and each
    # side's plan otherwise re-instantiates the whole fixture sub-DAG
    # (union branch × join side = 4 copies of the scan, rotation math,
    # and the two Arrow UDF nodes above it — measured 19.9 s vs 5.8 s
    # at sf0.01, pure fixed stage/Python-worker overhead).  Fixture-only
    # scaffolding: production inputs are parquet scans, which a
    # self-join re-reads for free.
    aug = _neardup_fixture(spark, sf_dir).localCheckpoint(eager=False)
    out = similarity.embedding_near_dups(
        aug, threshold=0.95, dim=64, planes_per_table=12, n_tables=16
    )
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine_r"))


_EDOT = (
    "list_reduce(list_transform(list_zip({a}, {b}), p -> p[1] * p[2]), (x, y) -> x + y)"
)

_ND_W_SQL = "[" + ", ".join(repr(x) for x in _ND_W) + "]"

# Replays _neardup_fixture step-for-step with the identical IEEE
# left-folds (list_reduce with no init starts at the first element,
# which equals Spark's 0.0-seeded fold exactly); the final CTE ``au`` is
# the augmented (vec_id, v double[]) table — shared by the near-dup and
# semantic-dedup oracles.
_ND_FIXTURE_SQL_CTES = (
    "e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v "
    "FROM embeddings), "
    "h AS (SELECT vec_id, list_transform(v, x -> x / "
    + _NRM.format(a="v")
    + ") AS vh FROM e WHERE vec_id % 40 = 0), "
    "d AS (SELECT vec_id, vh, "
    + _EDOT.format(a=_ND_W_SQL, b="vh")
    + " AS wd FROM h), "
    "uu AS (SELECT vec_id, vh, "
    f"list_transform(list_zip({_ND_W_SQL}, vh), p -> p[1] - wd * p[2]) AS u FROM d), "
    "pl AS (SELECT vec_id + 1000000 AS vec_id, "
    "list_transform(list_zip(vh, u), p -> p[1] * 0.98 + (p[2] / "
    + _NRM.format(a="u")
    + ") * sqrt(1.0 - 0.98 * 0.98)) AS v FROM uu), "
    "au AS (SELECT * FROM e UNION ALL SELECT * FROM pl)"
)

ORACLE_EMBEDDING_NEARDUPS = (
    "WITH " + _ND_FIXTURE_SQL_CTES + ", "
    # the operator normalizes once per row before pairing (see
    # similarity.embedding_near_dups) — mirror the exact per-row
    # transform, then pair cosine is the bare dot fold
    "an AS (SELECT vec_id, list_transform(v, x -> x / "
    + _NRM.format(a="v")
    + ") AS vn FROM au), "
    "s AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
    + _EDOT.format(a="a.vn", b="b.vn")
    + " AS cosine "
    "FROM an a JOIN an b ON a.vec_id < b.vec_id) "
    "SELECT id_a, id_b, round(cosine, 6) AS cosine_r FROM s WHERE cosine >= 0.95"
)


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup over the planted near-dup fixture:
    k-means clusters block the candidate space, exact cosine pairs ≥
    0.95 are emitted WITHIN each cluster only.  Planted pairs sit at
    cosine 0.98 — 11.5° apart — so whether a given pair shares a cluster
    is decided by the same Lloyd iterations the oracle replays
    bit-for-bit (exact decimal centroid sums, identical distance folds);
    the hash check therefore proves the cluster-blocked pair set
    EXACTLY, including any pair the clustering legitimately splits."""
    aug = _neardup_fixture(spark, sf_dir).localCheckpoint(eager=False)
    out = similarity.semantic_dedup(aug, k=4, iters=3, threshold=0.95)
    return out.select(
        "cluster", "id_a", "id_b", F.round("cosine", 6).alias("cosine_r")
    )


def _oracle_semantic_dedup() -> str:
    ctes, final = _kmeans_ctes(src="au")
    return (
        "WITH " + _ND_FIXTURE_SQL_CTES + ", "
        + ", ".join(ctes) + ", "
        # mirror similarity.unit_normalize (one normalize per row), then
        # the pair cosine is the bare dot fold — same shape as the
        # embedding_neardups oracle but joined on the final cluster
        f"an AS (SELECT vec_id, cluster, list_transform(v, x -> x / "
        + _NRM.format(a="v")
        + f") AS vn FROM {final}), "
        "s AS (SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b, "
        + _EDOT.format(a="a.vn", b="b.vn")
        + " AS cosine "
        "FROM an a JOIN an b ON a.cluster = b.cluster AND a.vec_id < b.vec_id) "
        "SELECT cluster, id_a, id_b, round(cosine, 6) AS cosine_r FROM s "
        "WHERE cosine >= 0.95"
    )


def q_dwithin_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-prefiltered DWITHIN with the exact geodesic (Vincenty) refine —
    the engine's scale path (TopologicalRelationships.java:149-179)."""
    pts = _pts_from_key(_read(spark, sf_dir, "orders"), "o_orderkey")
    pois = _pois_df(spark).select(
        "poi_id", F.col("poi_lon").alias("x"), F.col("poi_lat").alias("y")
    )
    out = spatial_join.dwithin_join(pts, pois, distance_m=_DIST_M)
    return out.select("doc_id", "poi_id", F.round("dist_m", 3).alias("dist_m_r"))


def _oracle_vincenty_pairs_sql() -> str:
    """pts × POIs with the Vincenty inverse distance mirrored in SQL —
    shared by the dwithin_exact / knn_cellring / beyond oracles."""
    from .oracle_math import nest_levels, vincenty_inverse_levels

    src = (
        f"WITH pts AS ({_pts_sql('orders', 'o_orderkey')}) "
        f"SELECT doc_id, lon, lat, poi_id, poi_lon, poi_lat "
        f"FROM pts CROSS JOIN {_POIS_SQL}"
    )
    return nest_levels(
        src,
        vincenty_inverse_levels("lat", "lon", "poi_lat", "poi_lon", "_vdist"),
        ["doc_id", "poi_id", "_vdist"],
    )


def _oracle_dwithin_exact() -> str:
    return (
        f"WITH v AS ({_oracle_vincenty_pairs_sql()}) "
        f"SELECT doc_id, poi_id, round(_vdist, 3) AS dist_m_r FROM v "
        f"WHERE _vdist < {_DIST_M}"
    )


def _oracle_knn_cellring() -> str:
    return (
        f"WITH v AS ({_oracle_vincenty_pairs_sql()}) "
        "SELECT doc_id, poi_id, CAST(row_number() OVER "
        "(PARTITION BY doc_id ORDER BY _vdist ASC, poi_id ASC) AS BIGINT) AS rank, "
        "round(_vdist, 3) AS dist_m_r FROM v QUALIFY rank <= 2"
    )


def q_knn_cellring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-partitioned kNN via cell-ring expansion + exact fallback.
    strategy pinned to 'cellring' so the SCALE path stays oracle-checked:
    'auto' picks brute for this 3-poi fixture, and rightly so — on
    sf0.001 (4 cores, warm noop runs) brute and cellring gave the same
    3,000 rows in 0.7-1.0 s against 3.2-4.8 s: brute is one cross join
    and one window, cellring adds the disk join and the exact fallback."""
    pts = _pts_from_key(_read(spark, sf_dir, "orders"), "o_orderkey")
    pois = _pois_df(spark).select(
        "poi_id", F.col("poi_lon").alias("x"), F.col("poi_lat").alias("y")
    )
    out = knn.knn_join(pts, pois, k=2, strategy="cellring")
    return out.select(
        "doc_id", "poi_id", F.col("rank").cast("long").alias("rank"),
        F.round("dist_m", 3).alias("dist_m_r"),
    )


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import multimodal

    inter = build_interleaved(spark, sf_dir).withColumn(
        "doc_id", F.col("doc_id").cast("string")
    )
    # content_hash (sha256 of the payload BYTES — the public content
    # address) is not expressible in DuckDB's VARCHAR-only sha256, so the
    # oracle-compared projection carries oracle_hash (hex-domain twin)
    # instead; content_hash is pytest-verified against hashlib directly
    # (tests/test_streaming_sink_multimodal.py).
    return multimodal.media_pipeline(inter).drop("content_hash")


# Mirror of the deterministic fake-codec metadata derivation: the fetch
# stub's payload is sha256(ref)×4 bytes, whose HEX is repeat(sha256(ref), 4)
# as DuckDB computes it; all downstream fields are arithmetic on the hash.
ORACLE_MULTIMODAL_FEATURES = (
    "WITH m AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id, "
    "'media://blob/' || doc_id AS media_ref FROM documents), "
    "h AS (SELECT doc_id, media_ref, "
    "sha256(repeat(sha256(media_ref), 4)) AS oracle_hash FROM m), "
    "s AS (SELECT *, ('0x' || substr(oracle_hash, 1, 8))::BIGINT AS seed FROM h) "
    "SELECT doc_id, media_ref, "
    "CASE seed % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_kind, "
    "CAST(128 AS BIGINT) AS n_bytes, oracle_hash, "
    "CAST(64 + seed % 1920 AS INT) AS width, "
    "CAST(64 + (seed >> 8) % 1080 AS INT) AS height, "
    "CAST(seed % 600 AS DOUBLE) / 10.0 AS duration_s FROM s"
)


def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling (multimodal.sample_frames): one row per
    (doc, frame) every 10 s up to 8 frames, fanned out INSIDE the Arrow
    stage (no JVM explode of binary columns).  Frame count and timing
    derive from the fake-decoded duration, so the oracle replays them
    with generate_series over the same hash arithmetic; frame bytes stay
    pytest-verified (binary is not hash-compared by the driver)."""
    from .operators import multimodal

    inter = build_interleaved(spark, sf_dir).withColumn(
        "doc_id", F.col("doc_id").cast("string")
    )
    spans = multimodal.media_spans(inter)
    frames = multimodal.sample_frames(
        multimodal.fetch_media_stub(spans), every_s=10.0, max_frames=8
    )
    return frames.select("doc_id", "media_ref", "frame_index", "frame_t_s")


ORACLE_MEDIA_FRAMES = (
    "WITH m AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id, "
    "'media://blob/' || doc_id AS media_ref FROM documents), "
    "h AS (SELECT doc_id, media_ref, "
    "('0x' || substr(sha256(repeat(sha256(media_ref), 4)), 1, 8))::BIGINT AS seed FROM m), "
    "d AS (SELECT doc_id, media_ref, "
    "least(8, CAST(floor((CAST(seed % 600 AS DOUBLE) / 10.0) / 10.0) AS INT) + 1) AS n "
    "FROM h), "
    "g AS (SELECT doc_id, media_ref, unnest(generate_series(0, n - 1)) AS i FROM d) "
    "SELECT doc_id, media_ref, CAST(i AS INT) AS frame_index, "
    "CAST(i AS DOUBLE) * 10.0 AS frame_t_s FROM g"
)


def q_span_invariant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-sequence invariant as a driver-visible check: run the full
    decode→tile→join pipeline and emit every doc whose (kind, text,
    media_ref, order) span sequence changed.  MUST be empty — the oracle
    is the empty set (input_hint per-row invariant)."""
    from .sources.documents import with_span_hash

    inter = build_interleaved(spark, sf_dir)
    before = with_span_hash(inter).select("doc_id", F.col("span_hash").alias("h0"))
    out = q_interleaved_tile_pip(spark, sf_dir)  # joined pipeline output
    after_docs = (
        build_interleaved(spark, sf_dir)
        .join(out.select("doc_id").distinct(), "doc_id", "inner")
    )
    after = with_span_hash(after_docs).select("doc_id", F.col("span_hash").alias("h1"))
    return (
        before.join(after, "doc_id", "inner")
        .where(F.col("h0") != F.col("h1"))
        .select("doc_id")
    )


ORACLE_SPAN_INVARIANT = "SELECT doc_id FROM documents WHERE 1 = 0"


def q_geodesic_destination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geodesic direct problem per row (calculateDestination,
    GeodesyUtils.java:110-132) — vectorized Vincenty in numpy over Arrow
    batches.  Oracle: the same fixed-point iteration unrolled in SQL
    (oracle_math.vincenty_direct_levels); outputs rounded to 7 dp (~1 cm,
    far below the reference's 1e-4-deg tolerance) to absorb libm ulp
    noise between the JVM/numpy and DuckDB."""
    from pyspark.sql import types as T

    from .kernels import geodesic

    pts = _pts_from_key(_read(spark, sf_dir, "orders"), "o_orderkey")
    pts = pts.withColumn("azimuth", (F.col("doc_id") % 360).cast("double")).withColumn(
        "dist_m", ((F.col("doc_id") % 10 + 1) * 1852).cast("double")
    )

    @F.pandas_udf(T.StructType([
        T.StructField("dlat", T.DoubleType()), T.StructField("dlon", T.DoubleType()),
    ]))
    def dest(lat: pd.Series, lon: pd.Series, az: pd.Series, d: pd.Series) -> pd.DataFrame:
        dlat, dlon = geodesic.direct(
            lat.to_numpy(), lon.to_numpy(), az.to_numpy(), d.to_numpy()
        )
        return pd.DataFrame({"dlat": dlat, "dlon": dlon})

    out = pts.withColumn("d", dest("lat", "lon", "azimuth", "dist_m"))
    return out.select(
        "doc_id", "azimuth", "dist_m",
        F.round(F.col("d.dlat"), 7).alias("dest_lat"),
        F.round(F.col("d.dlon"), 7).alias("dest_lon"),
    )


def _oracle_geodesic_destination() -> str:
    from .oracle_math import nest_levels, vincenty_direct_levels

    src = (
        f"WITH pts AS ({_pts_sql('orders', 'o_orderkey')}) "
        "SELECT doc_id, lon, lat, CAST(doc_id % 360 AS DOUBLE) AS azimuth, "
        "CAST((doc_id % 10 + 1) * 1852 AS DOUBLE) AS dist_m FROM pts"
    )
    return nest_levels(
        src,
        vincenty_direct_levels("lat", "lon", "azimuth", "dist_m", "_dla", "_dlo"),
        ["doc_id", "azimuth", "dist_m",
         "round(_dla, 7) AS dest_lat", "round(_dlo, 7) AS dest_lon"],
    )


def q_crs_roundtrip_utm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lon/lat → EPSG:32610 (transverse-Mercator forward) → back; emits
    easting/northing and the round-trip error (reference implicit
    reprojection, TopologicalRelationships.java:261-271)."""
    from pyspark.sql import types as T

    from .kernels import crs as crs_k

    pts = _pts_from_key(_read(spark, sf_dir, "orders"), "o_orderkey")

    @F.pandas_udf(T.StructType([
        T.StructField("e", T.DoubleType()), T.StructField("n", T.DoubleType()),
        T.StructField("err_m", T.DoubleType()),
    ]))
    def roundtrip(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
        import numpy as np

        x, y = crs_k.from_lonlat(lon.to_numpy(), lat.to_numpy(), "EPSG:32610")
        lon2, lat2 = crs_k.to_lonlat(x, y, "EPSG:32610")
        err = np.hypot((lon2 - lon.to_numpy()) * 111_320.0,
                       (lat2 - lat.to_numpy()) * 111_320.0)
        return pd.DataFrame({"e": x, "n": y, "err_m": err})

    out = pts.withColumn("u", roundtrip("lon", "lat"))
    return out.select(
        "doc_id",
        F.round(F.col("u.e"), 3).alias("easting"),
        F.round(F.col("u.n"), 3).alias("northing"),
        (F.col("u.err_m") < 0.001).alias("roundtrip_ok"),
    )


def _oracle_crs_roundtrip_utm() -> str:
    """Easting/northing mirrored by the Snyder TM-forward series in SQL
    (bit-exact vs the numpy kernel); ``roundtrip_ok`` is a Spark-side
    invariant (forward∘inverse error < 1 mm) the oracle pins to TRUE —
    any regression in the inverse kernel breaks the hash match."""
    from .oracle_math import nest_levels, tm_forward_levels

    src = f"WITH pts AS ({_pts_sql('orders', 'o_orderkey')}) SELECT doc_id, lon, lat FROM pts"
    return nest_levels(
        src,
        tm_forward_levels("lon", "lat", -123.0, "_e", "_n"),
        ["doc_id", "round(_e, 3) AS easting", "round(_n, 3) AS northing",
         "TRUE AS roundtrip_ok"],
    )


def q_arc_densify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ArcByCenterPoint densification to TOTAL_ARC_POINTS=5
    (GmlUtils.java:98-128), one output row per arc point — scalar columns
    so the driver canonicalizer can sort/hash them, with a DuckDB oracle
    mirroring the Vincenty direct problem at the same swept angles."""
    from pyspark.sql import types as T

    from .kernels import geometry as geom_k

    pts = _pts_from_key(_read(spark, sf_dir, "customer"), "c_custkey")
    pts = pts.withColumn("radius_m", ((F.col("doc_id") % 50 + 1) * 1852).cast("double"))

    schema = T.ArrayType(T.StructType([
        T.StructField("point_idx", T.IntegerType()),
        T.StructField("arc_lat", T.DoubleType()),
        T.StructField("arc_lon", T.DoubleType()),
    ]))

    @F.pandas_udf(schema)
    def arc(lat: pd.Series, lon: pd.Series, r: pd.Series) -> pd.Series:
        out = []
        for la, lo, rr in zip(lat, lon, r):
            alats, alons = geom_k.infer_points_on_arc(la, lo, rr, 0.0, 90.0)
            out.append([
                {"point_idx": i, "arc_lat": round(float(a), 7), "arc_lon": round(float(b), 7)}
                for i, (a, b) in enumerate(zip(alats, alons))
            ])
        return pd.Series(out)

    out = pts.withColumn("p", F.explode(arc("lat", "lon", "radius_m")))
    return out.select(
        "doc_id", "radius_m",
        F.col("p.point_idx").cast("long").alias("point_idx"),
        F.col("p.arc_lat").alias("arc_lat"),
        F.col("p.arc_lon").alias("arc_lon"),
    )


def _oracle_arc_densify() -> str:
    """linspace(0, 90, TOTAL_ARC_POINTS) swept angles (exact dyadic
    doubles) × Vincenty direct in SQL."""
    from .oracle_math import nest_levels, vincenty_direct_levels

    src = (
        f"WITH pts AS ({_pts_sql('customer', 'c_custkey')}), "
        "ang AS (SELECT * FROM (VALUES (0, 0.0), (1, 22.5), (2, 45.0), "
        "(3, 67.5), (4, 90.0)) AS a(point_idx, angle)) "
        "SELECT doc_id, lon, lat, "
        "CAST((doc_id % 50 + 1) * 1852 AS DOUBLE) AS radius_m, "
        "point_idx, angle FROM pts CROSS JOIN ang"
    )
    return nest_levels(
        src,
        vincenty_direct_levels("lat", "lon", "angle", "radius_m", "_ala", "_alo"),
        ["doc_id", "radius_m", "CAST(point_idx AS BIGINT) AS point_idx",
         "round(_ala, 7) AS arc_lat", "round(_alo, 7) AS arc_lon"],
    )


def q_convex_hull_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group planar convex hull (GmlUtils.computeConvexHull,
    GmlUtils.java:138-143) via applyInPandas — grouped-map Arrow path.

    Point clouds are ellipse-parameterized so the hull is ANALYTICALLY
    known and SQL-verifiable: every radius-1.0 point lies on a strictly
    convex curve (⇒ a hull vertex), every radius-0.15 point is strictly
    interior (0.15 < cos(3π/n), the worst-case chord radius when two
    consecutive parameter points are interior) — so DuckDB can replay hull_size (boundary count) and
    hull_area (shoelace over the boundary ring in angle order, which is
    exactly the vertex ring the monotone chain returns)."""
    from pyspark.sql import Window

    from .kernels import geometry as geom_k

    k = F.col("c_custkey")
    base = _read(spark, sf_dir, "customer").select(
        k.alias("k"), (k % 20).alias("grp")
    )
    w = Window.partitionBy("grp").orderBy(F.col("k").asc())
    wn = Window.partitionBy("grp")
    b = base.withColumn("j", F.row_number().over(w) - 1).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )
    theta = F.lit(2.0) * F.lit(np.pi) * F.col("j") / F.col("n")
    rs = F.when(F.col("j") % 3 == 0, F.lit(0.15)).otherwise(F.lit(1.0))
    pts = b.select(
        "grp", "j",
        (F.lit(-123.0) + F.col("grp") * F.lit(0.01)
         + F.lit(0.03) * rs * F.cos(theta)).alias("lon"),
        (F.lit(49.5) + F.lit(0.02) * rs * F.sin(theta)).alias("lat"),
    )

    def hull(pdf: pd.DataFrame) -> pd.DataFrame:
        coords = np.column_stack([pdf["lon"].to_numpy(), pdf["lat"].to_numpy()])
        h = geom_k.convex_hull(coords)
        x, y = h[:, 0], h[:, 1]
        area = 0.5 * abs(np.dot(x[:-1], y[1:]) - np.dot(x[1:], y[:-1])) if len(h) > 2 else 0.0
        return pd.DataFrame({
            "grp": [int(pdf["grp"].iloc[0])],
            "n_points": [len(pdf)],
            "hull_size": [max(0, len(h) - 1)],
            "hull_area_r": [round(float(area), 9)],
        })

    return pts.groupBy("grp").applyInPandas(
        hull, "grp long, n_points long, hull_size long, hull_area_r double"
    )


ORACLE_CONVEX_HULL_GROUPS = (
    "WITH b AS (SELECT c_custkey AS k, c_custkey % 20 AS grp, "
    "row_number() OVER (PARTITION BY c_custkey % 20 ORDER BY c_custkey) - 1 AS j, "
    "count(*) OVER (PARTITION BY c_custkey % 20) AS n FROM customer), "
    "c AS (SELECT grp, j, 2.0 * pi() * j / n AS theta, "
    "CASE WHEN j % 3 = 0 THEN 0.15 ELSE 1.0 END AS rs FROM b), "
    "d AS (SELECT grp, j, (-123.0 + grp * 0.01) + 0.03 * rs * cos(theta) AS x, "
    "49.5 + 0.02 * rs * sin(theta) AS y, rs FROM c), "
    "e AS (SELECT grp, j, x, y, "
    "coalesce(lead(x) OVER wb, first_value(x) OVER wb) AS nx, "
    "coalesce(lead(y) OVER wb, first_value(y) OVER wb) AS ny "
    "FROM d WHERE rs = 1.0 "
    "WINDOW wb AS (PARTITION BY grp ORDER BY j)), "
    "a AS (SELECT grp, sum(x * ny - nx * y) AS s2, count(*) AS hull_size FROM e GROUP BY grp), "
    "t AS (SELECT grp, count(*) AS n_points FROM d GROUP BY grp) "
    "SELECT t.grp, t.n_points, a.hull_size, round(abs(a.s2) / 2.0, 9) AS hull_area_r "
    "FROM t JOIN a ON t.grp = a.grp"
)


def q_ring_dedupe_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-duplicate removal, ppm *ratio* rule incl. the
    ring-closure last-point case (GeodesyUtils.java:283-304).

    Per row a 5-point polyline is built whose 2nd point is within the
    1-ppm tolerance of the 1st iff ``doc_id % 3 <= 1`` (7e-7·(doc_id%3)
    ratio) and whose LAST point is always within tolerance of its
    predecessor — so the kernel must take the drop-PREVIOUS branch and
    the surviving last coordinate proves it.  The oracle mirrors the
    ratio tests and the branch arithmetic exactly (pure +,*,/ — bit-exact
    in both engines)."""
    import numpy as np
    from pyspark.sql import types as T

    from .kernels import geometry as geom_k

    pts = _pts_from_key(_read(spark, sf_dir, "customer"), "c_custkey").withColumn(
        "m3", (F.col("doc_id") % 3).cast("double")
    )

    schema = T.StructType([
        T.StructField("n_after", T.IntegerType()),
        T.StructField("last_lon", T.DoubleType()),
        T.StructField("last_lat", T.DoubleType()),
    ])

    @F.pandas_udf(schema)
    def dedupe(lon: pd.Series, lat: pd.Series, m3: pd.Series) -> pd.DataFrame:
        rows = []
        for lo, la, m in zip(lon, lat, m3):
            ring = np.array([
                [lo, la],                                       # A
                [lo * (1 + 7e-7 * m), la],                      # B: dup iff m<=1
                [lo + 0.1, la + 0.1],                           # C
                [lo - 0.2, la + 0.3],                           # D
                [(lo - 0.2) * (1 + 2e-7), (la + 0.3) * (1 + 2e-7)],  # D' last, dup
            ])
            out = geom_k.remove_consecutive_duplicates(ring, 1.0)
            rows.append({
                "n_after": len(out),
                "last_lon": float(out[-1, 0]),
                "last_lat": float(out[-1, 1]),
            })
        return pd.DataFrame(rows)

    out = pts.withColumn("d", dedupe("lon", "lat", "m3"))
    return out.select(
        "doc_id",
        F.col("d.n_after").cast("long").alias("n_after_dedupe"),
        F.col("d.last_lon").alias("last_lon"),
        F.col("d.last_lat").alias("last_lat"),
    )


ORACLE_RING_DEDUPE_PPM = (
    f"WITH pts AS ({_pts_sql('customer', 'c_custkey')}) "
    "SELECT doc_id, "
    # B survives iff its x-ratio to A exceeds the 1-ppm tolerance
    "CAST(CASE WHEN abs((lon * (1 + 7e-7 * CAST(doc_id % 3 AS DOUBLE))) / lon - 1.0) <= 1e-6 "
    "THEN 4 ELSE 5 END - 1 AS BIGINT) AS n_after_dedupe, "
    # the last point always replaces its predecessor (ring-closure rule)
    "(lon - 0.2) * (1 + 2e-7) AS last_lon, "
    "(lat + 0.3) * (1 + 2e-7) AS last_lat FROM pts"
)


def q_beyond(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BEYOND: docs farther than d from EVERY poi — the anti-join of
    DWITHIN (reference ``isBeyond``, TopologicalRelationships.java:194-196)."""
    pts = _pts_from_key(_read(spark, sf_dir, "orders"), "o_orderkey")
    pois = _pois_df(spark).select(
        "poi_id", F.col("poi_lon").alias("x"), F.col("poi_lat").alias("y")
    )
    out = spatial_join.beyond_join(pts, pois, distance_m=_DIST_M)
    return out.select("doc_id")


def _oracle_beyond() -> str:
    return (
        f"WITH v AS ({_oracle_vincenty_pairs_sql()}) "
        f"SELECT DISTINCT doc_id FROM v WHERE doc_id NOT IN "
        f"(SELECT doc_id FROM v WHERE _vdist < {_DIST_M})"
    )


def q_antipodal_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Envelope on the opposite side of the earth with the corner swap
    (Extents.java:390-413) — per-group over the customer point cloud."""
    from .operators.envelope import with_antipodal_envelope

    env = q_envelope_agg(spark, sf_dir)
    out = with_antipodal_envelope(env)
    return out.select(
        "grp", "anti_xmin", "anti_ymin", "anti_xmax", "anti_ymax"
    )


_ANTI = "CASE WHEN {c} < 0 THEN {c} + 180.0 ELSE {c} - 180.0 END"

ORACLE_ANTIPODAL_ENVELOPE = (
    f"WITH e AS ({ORACLE_ENVELOPE_AGG}) "
    f"SELECT grp, least({_ANTI.format(c='xmax')}, {_ANTI.format(c='xmin')}) AS anti_xmin, "
    "-ymax AS anti_ymin, "
    f"greatest({_ANTI.format(c='xmax')}, {_ANTI.format(c='xmin')}) AS anti_xmax, "
    "-ymin AS anti_ymax FROM e"
)


def q_coalesce_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-CRS coalesceBoundingBoxes (Extents.java:258-274): per-group
    union of envelopes where each box is first transformed into the
    FIRST box's CRS (mixed EPSG:4326 lat,lon / EPSG:32610 boxes here).
    The oracle replays both the TM forward and inverse (bit-exact Snyder
    mirrors) plus the anchor-CRS window rule."""
    import numpy as np
    from pyspark.sql import types as T

    from .kernels import crs as crs_k
    from .operators.envelope import coalesce_boxes_cross_crs

    pts = _pts_from_key(_read(spark, sf_dir, "customer"), "c_custkey")

    corner_schema = T.StructType([
        T.StructField("e1", T.DoubleType()), T.StructField("n1", T.DoubleType()),
        T.StructField("e2", T.DoubleType()), T.StructField("n2", T.DoubleType()),
    ])

    @F.pandas_udf(corner_schema)
    def utm_corners(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
        e1, n1 = crs_k.tm_forward(lon.to_numpy(), lat.to_numpy(), -123.0)
        e2, n2 = crs_k.tm_forward(lon.to_numpy() + 0.03, lat.to_numpy() + 0.02, -123.0)
        return pd.DataFrame({"e1": e1, "n1": n1, "e2": e2, "n2": n2})

    odd = F.col("doc_id") % 2 == 1
    b = pts.withColumn("u", utm_corners("lon", "lat")).select(
        "doc_id",
        (F.col("doc_id") % 25).alias("grp"),
        F.when(odd, F.lit("EPSG:32610")).otherwise(F.lit("EPSG:4326")).alias("crs"),
        F.when(odd, F.col("u.e1")).otherwise(F.col("lat")).alias("x1"),
        F.when(odd, F.col("u.n1")).otherwise(F.col("lon")).alias("y1"),
        F.when(odd, F.col("u.e2")).otherwise(F.col("lat") + F.lit(0.02)).alias("x2"),
        F.when(odd, F.col("u.n2")).otherwise(F.col("lon") + F.lit(0.03)).alias("y2"),
    )
    out = coalesce_boxes_cross_crs(b, group_col="grp", id_col="doc_id")
    return out.select(
        "grp", "anchor_crs",
        F.round("xmin", 6).alias("xmin"), F.round("ymin", 6).alias("ymin"),
        F.round("xmax", 6).alias("xmax"), F.round("ymax", 6).alias("ymax"),
    )


def _oracle_coalesce_boxes() -> str:
    from .oracle_math import nest_levels, tm_forward_levels, tm_inverse_levels

    src = (
        f"WITH pts AS ({_pts_sql('customer', 'c_custkey')}) "
        "SELECT doc_id, doc_id % 25 AS grp, lon, lat, "
        "CASE WHEN doc_id % 2 = 1 THEN 'EPSG:32610' ELSE 'EPSG:4326' END AS crs "
        "FROM pts"
    )
    # native corners (forward TM for odd rows), then anchor + per-row
    # reprojection candidates (forward of the 4326 corners, inverse of
    # the UTM corners), CASE-selected by (crs, anchor_crs)
    levels = []
    levels += tm_forward_levels("lon", "lat", -123.0, "_ue1", "_un1", "_bf1")
    levels += tm_forward_levels("lon + 0.03", "lat + 0.02", -123.0, "_ue2", "_un2", "_bf2")
    levels += [[
        ("x1", "CASE WHEN doc_id % 2 = 1 THEN _ue1 ELSE lat END"),
        ("y1", "CASE WHEN doc_id % 2 = 1 THEN _un1 ELSE lon END"),
        ("x2", "CASE WHEN doc_id % 2 = 1 THEN _ue2 ELSE lat + 0.02 END"),
        ("y2", "CASE WHEN doc_id % 2 = 1 THEN _un2 ELSE lon + 0.03 END"),
    ]]
    levels += [[
        ("anchor_crs", "first_value(crs) OVER (PARTITION BY grp ORDER BY doc_id)"),
    ]]
    # candidate transforms of the native corners into the other CRS
    levels += tm_forward_levels("y1", "x1", -123.0, "_w1e", "_w1n", "_cf1")
    levels += tm_forward_levels("y2", "x2", -123.0, "_w2e", "_w2n", "_cf2")
    levels += tm_inverse_levels("x1", "y1", -123.0, "_i1lon", "_i1lat", "_ci1")
    levels += tm_inverse_levels("x2", "y2", -123.0, "_i2lon", "_i2lat", "_ci2")
    sel = (
        "CASE WHEN crs = anchor_crs THEN {native} "
        "WHEN anchor_crs = 'EPSG:32610' THEN {fwd} ELSE {inv} END"
    )
    levels += [[
        ("tx1", sel.format(native="x1", fwd="_w1e", inv="_i1lat")),
        ("ty1", sel.format(native="y1", fwd="_w1n", inv="_i1lon")),
        ("tx2", sel.format(native="x2", fwd="_w2e", inv="_i2lat")),
        ("ty2", sel.format(native="y2", fwd="_w2n", inv="_i2lon")),
    ]]
    inner = nest_levels(
        src, levels,
        ["grp", "anchor_crs",
         "least(tx1, tx2) AS txmin", "least(ty1, ty2) AS tymin",
         "greatest(tx1, tx2) AS txmax", "greatest(ty1, ty2) AS tymax"],
        cte_prefix="_cb",
    )
    return (
        f"SELECT grp, anchor_crs, round(min(txmin), 6) AS xmin, "
        f"round(min(tymin), 6) AS ymin, round(max(txmax), 6) AS xmax, "
        f"round(max(tymax), 6) AS ymax FROM ({inner}) GROUP BY grp, anchor_crs"
    )


def q_crs_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPSG area-of-use lookup (getDomainOfValidity,
    GeodesyUtils.java:56-66) — broadcast static table keyed by the
    normalized CRS id."""
    from .kernels.crs import DOMAIN_OF_VALIDITY

    dom = spark.createDataFrame(
        [(k, *v) for k, v in sorted(DOMAIN_OF_VALIDITY.items())],
        "crs_abbrev string, dom_xmin double, dom_ymin double, dom_xmax double, dom_ymax double",
    )
    n = q_crs_abbrev(spark, sf_dir)
    return n.join(F.broadcast(dom), "crs_abbrev", "left").select(
        "n_nationkey", "crs_abbrev", "dom_xmin", "dom_ymin", "dom_xmax", "dom_ymax"
    )


def _domain_case_sql(idx: int) -> str:
    from .kernels.crs import DOMAIN_OF_VALIDITY

    whens = " ".join(
        f"WHEN '{k}' THEN {v[idx]}" for k, v in sorted(DOMAIN_OF_VALIDITY.items())
    )
    return f"CASE crs_abbrev {whens} ELSE NULL END"


ORACLE_CRS_DOMAIN = (
    f"WITH a AS ({ORACLE_CRS_ABBREV}) "
    "SELECT n_nationkey, crs_abbrev, "
    + ", ".join(
        f"CAST({_domain_case_sql(i)} AS DOUBLE) AS dom_{n}"
        for i, n in enumerate(["xmin", "ymin", "xmax", "ymax"])
    )
    + " FROM a"
)


def q_pip_salted_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same join as pip_convex but through the shuffle path with explicit
    hot-cell salting (threshold forced low so every busy cell salts) —
    the north-rule skew machinery, verified against the identical oracle
    row set as the broadcast plan."""
    pts = _pts_from_key(_read(spark, sf_dir, "orders"), "o_orderkey")
    joined = spatial_join.spatial_join(
        pts, _pentagon_zone(spark), res=RES, strategy="shuffle",
        salt=4, hot_cell_threshold=50,
    )
    return joined.select("doc_id", "zone_id")


def q_geometry_join_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic-geometry join (non-point path): per-customer LINESTRING
    segments vs the shifted rectangle zones under INTERSECTS — envelope
    covering-cell prefilter + exact DE-9IM kernel refine
    (operators/geometry_join.py).  Oracle: slab segment-box clipping in
    SQL over identical derived endpoints."""
    from .operators.geometry_join import geometry_join

    pts = _pts_from_key(_read(spark, sf_dir, "customer"), "c_custkey")
    docs = pts.select(
        "doc_id",
        F.format_string(
            "LINESTRING (%s %s, %s %s)",
            F.col("lon").cast("string"), F.col("lat").cast("string"),
            (F.col("lon") + F.lit(0.07)).cast("string"),
            (F.col("lat") + F.lit(0.05)).cast("string"),
        ).alias("wkt"),
    )
    return geometry_join(docs, _shifted_zone_rects(spark), "intersects", res=10)


def _slab_sql(px, py, cx, cy) -> str:
    """Segment (p→c) ∩ box (zxmin..zymax) as SQL — mirror of
    functions._seg_box_intersects."""
    dx, dy = f"({cx} - {px})", f"({cy} - {py})"

    def slab(pos, d, lo, hi):
        tmin = (
            f"CASE WHEN {d} = 0 THEN (CASE WHEN {pos} >= {lo} AND {pos} <= {hi} "
            f"THEN -1e308 ELSE 1e308 END) "
            f"ELSE least(({lo} - {pos}) / {d}, ({hi} - {pos}) / {d}) END"
        )
        tmax = (
            f"CASE WHEN {d} = 0 THEN (CASE WHEN {pos} >= {lo} AND {pos} <= {hi} "
            f"THEN 1e308 ELSE -1e308 END) "
            f"ELSE greatest(({lo} - {pos}) / {d}, ({hi} - {pos}) / {d}) END"
        )
        return tmin, tmax

    txmin, txmax = slab(px, dx, "zxmin", "zxmax")
    tymin, tymax = slab(py, dy, "zymin", "zymax")
    return (
        f"greatest({txmin}, {tymin}, 0.0) <= least({txmax}, {tymax}, 1.0)"
    )


ORACLE_GEOMETRY_JOIN_LINES = (
    f"WITH pts AS ({_pts_sql('customer', 'c_custkey')}), "
    f"seg AS (SELECT doc_id, lon AS px, lat AS py, lon + 0.07 AS cx, lat + 0.05 AS cy FROM pts), "
    f"z AS ({_ZRECT_SQL}) "
    f"SELECT doc_id, zone_id FROM seg CROSS JOIN z WHERE "
    + _slab_sql("px", "py", "cx", "cy")
)


def q_geometry_join_polys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic-geometry join, polygon path under OVERLAPS: per-customer
    axis-box POLYGON WKT vs the shifted rectangle zones — envelope
    covering-cell prefilter + exact DE-9IM polygon kernel refine
    (TopologicalRelationships.java:80-82 semantics).  The oracle mirrors
    overlaps for rectangles: interiors intersect AND neither contains."""
    from .operators.geometry_join import geometry_join

    pts = _pts_from_key(_read(spark, sf_dir, "customer"), "c_custkey")
    lon, lat = F.col("lon"), F.col("lat")
    s = lambda c: c.cast("string")  # noqa: E731
    docs = pts.select(
        "doc_id",
        F.format_string(
            "POLYGON ((%s %s, %s %s, %s %s, %s %s, %s %s))",
            s(lon), s(lat),
            s(lon + F.lit(0.06)), s(lat),
            s(lon + F.lit(0.06)), s(lat + F.lit(0.04)),
            s(lon), s(lat + F.lit(0.04)),
            s(lon), s(lat),
        ).alias("wkt"),
    )
    return geometry_join(docs, _shifted_zone_rects(spark), "overlaps", res=10)


ORACLE_GEOMETRY_JOIN_POLYS = (
    f"WITH pts AS ({_pts_sql('customer', 'c_custkey')}), "
    "b AS (SELECT doc_id, lon AS axmin, lat AS aymin, lon + 0.06 AS axmax, "
    "lat + 0.04 AS aymax FROM pts), "
    f"z AS ({_ZRECT_SQL}) "
    "SELECT doc_id, zone_id FROM b CROSS JOIN z WHERE "
    # interiors intersect (strict — derived coords never align exactly)
    "axmin < zxmax AND axmax > zxmin AND aymin < zymax AND aymax > zymin "
    # neither box contains the other
    "AND NOT (axmin > zxmin AND axmax < zxmax AND aymin > zymin AND aymax < zymax) "
    "AND NOT (zxmin > axmin AND zxmax < axmax AND zymin > aymin AND zymax < aymax)"
)


def q_geometry_join_crosses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic-geometry join under CROSSES (interiors intersect in lower
    dimension, TopologicalRelationships.java:83-85): the per-customer
    segments vs the rectangle zones.  Kernel rule (JTS semantics):
    inside-evidence (endpoint strictly inside OR proper boundary-edge
    crossing — catches corner-clipping segments with both endpoints
    outside) AND outside-evidence (endpoint strictly outside the closure
    OR proper crossing).  The oracle mirrors both terms: strict
    point-in-rect endpoints plus the 4 rect-edge orientation products."""
    from .operators.geometry_join import geometry_join

    pts = _pts_from_key(_read(spark, sf_dir, "customer"), "c_custkey")
    docs = pts.select(
        "doc_id",
        F.format_string(
            "LINESTRING (%s %s, %s %s)",
            F.col("lon").cast("string"), F.col("lat").cast("string"),
            (F.col("lon") + F.lit(0.07)).cast("string"),
            (F.col("lat") + F.lit(0.05)).cast("string"),
        ).alias("wkt"),
    )
    return geometry_join(docs, _shifted_zone_rects(spark), "crosses", res=10)


def _proper_cross_rect_sql() -> str:
    """OR over the 4 rect edges of the proper-crossing orientation test
    for segment (x1,y1)-(x2,y2): d1·d2 < 0 AND d3·d4 < 0 — the SQL mirror
    of geometry.segments_cross_proper_any against an axis box."""
    edges = [
        ("zxmin", "zymin", "zxmax", "zymin"),  # bottom
        ("zxmax", "zymin", "zxmax", "zymax"),  # right
        ("zxmax", "zymax", "zxmin", "zymax"),  # top
        ("zxmin", "zymax", "zxmin", "zymin"),  # left
    ]
    terms = []
    for ex1, ey1, ex2, ey2 in edges:
        d1 = f"((x2 - x1) * ({ey1} - y1) - (y2 - y1) * ({ex1} - x1))"
        d2 = f"((x2 - x1) * ({ey2} - y1) - (y2 - y1) * ({ex2} - x1))"
        d3 = f"(({ex2} - {ex1}) * (y1 - {ey1}) - ({ey2} - {ey1}) * (x1 - {ex1}))"
        d4 = f"(({ex2} - {ex1}) * (y2 - {ey1}) - ({ey2} - {ey1}) * (x2 - {ex1}))"
        terms.append(f"({d1} * {d2} < 0 AND {d3} * {d4} < 0)")
    return "(" + " OR ".join(terms) + ")"


ORACLE_GEOMETRY_JOIN_CROSSES = (
    f"WITH pts AS ({_pts_sql('customer', 'c_custkey')}), "
    "seg AS (SELECT doc_id, lon AS x1, lat AS y1, lon + 0.07 AS x2, "
    "lat + 0.05 AS y2 FROM pts), "
    f"z AS ({_ZRECT_SQL}), "
    "t AS (SELECT doc_id, zone_id, "
    "(x1 > zxmin AND x1 < zxmax AND y1 > zymin AND y1 < zymax) AS in1, "
    "(x2 > zxmin AND x2 < zxmax AND y2 > zymin AND y2 < zymax) AS in2, "
    "NOT (x1 >= zxmin AND x1 <= zxmax AND y1 >= zymin AND y1 <= zymax) AS out1, "
    "NOT (x2 >= zxmin AND x2 <= zxmax AND y2 >= zymin AND y2 <= zymax) AS out2, "
    + _proper_cross_rect_sql() + " AS pc "
    "FROM seg CROSS JOIN z) "
    "SELECT doc_id, zone_id FROM t "
    "WHERE (in1 OR in2 OR pc) AND (out1 OR out2 OR pc)"
)


def q_geometry_join_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic-geometry join under WITHIN (g1 ⊆ g2,
    TopologicalRelationships.java:77-79): small per-customer boxes fully
    inside the shifted rectangle zones.  Oracle: strict box containment
    (generic derived coords never touch a boundary)."""
    from .operators.geometry_join import geometry_join

    pts = _pts_from_key(_read(spark, sf_dir, "customer"), "c_custkey")
    lon, lat = F.col("lon"), F.col("lat")
    s = lambda c: c.cast("string")  # noqa: E731
    docs = pts.select(
        "doc_id",
        F.format_string(
            "POLYGON ((%s %s, %s %s, %s %s, %s %s, %s %s))",
            s(lon), s(lat),
            s(lon + F.lit(0.03)), s(lat),
            s(lon + F.lit(0.03)), s(lat + F.lit(0.02)),
            s(lon), s(lat + F.lit(0.02)),
            s(lon), s(lat),
        ).alias("wkt"),
    )
    return geometry_join(docs, _shifted_zone_rects(spark), "within", res=10)


ORACLE_GEOMETRY_JOIN_WITHIN = (
    f"WITH pts AS ({_pts_sql('customer', 'c_custkey')}), "
    "b AS (SELECT doc_id, lon AS axmin, lat AS aymin, lon + 0.03 AS axmax, "
    "lat + 0.02 AS aymax FROM pts), "
    f"z AS ({_ZRECT_SQL}) "
    "SELECT doc_id, zone_id FROM b CROSS JOIN z WHERE "
    "axmin > zxmin AND axmax < zxmax AND aymin > zymin AND aymax < zymax"
)


def q_geometry_join_equals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic-geometry join under EQUALS (topological equality,
    TopologicalRelationships.java:89-91): every 40th customer doc carries
    a polygon BIT-IDENTICAL to one grid zone (same IEEE arithmetic on
    both sides; WKT round-trips losslessly), everyone else a translated
    box — the normalized-ring comparison must match exactly the planted
    docs to exactly their zones."""
    from .operators.geometry_join import geometry_join

    d = F.col("doc_id")
    k = F.floor(d / 40)
    i = (k % 6).cast("double")
    j = (F.floor(k / 6) % 6).cast("double")
    planted = d % 40 == 0
    x0 = F.lit(-123.47) + i * F.lit(0.16) + F.when(planted, F.lit(0.0)).otherwise(F.lit(0.01))
    y0 = F.lit(49.03) + j * F.lit(0.16) + F.when(planted, F.lit(0.0)).otherwise(F.lit(0.01))
    x1, y1 = x0 + F.lit(0.16), y0 + F.lit(0.16)
    s = lambda c: c.cast("string")  # noqa: E731
    pts = _read(spark, sf_dir, "customer").select(F.col("c_custkey").alias("doc_id"))
    docs = pts.select(
        "doc_id",
        F.format_string(
            "POLYGON ((%s %s, %s %s, %s %s, %s %s, %s %s))",
            s(x0), s(y0), s(x1), s(y0), s(x1), s(y1), s(x0), s(y1), s(x0), s(y0),
        ).alias("wkt"),
    )
    return geometry_join(docs, _shifted_zone_rects(spark), "equals_topo", res=10)


ORACLE_GEOMETRY_JOIN_EQUALS = (
    "SELECT c_custkey AS doc_id, "
    "'zr-' || CAST(CAST(floor(c_custkey / 40) AS BIGINT) % 6 AS VARCHAR) || '-' || "
    "CAST(CAST(floor(floor(c_custkey / 40) / 6) AS BIGINT) % 6 AS VARCHAR) AS zone_id "
    "FROM customer WHERE c_custkey % 40 = 0"
)


def q_geometry_join_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic-geometry join over MULTIPOLYGON docs (the multi* member
    loop of TopologicalRelationships — each member evaluated, any match
    counts): two disjoint boxes per customer, INTERSECTS vs the rectangle
    zones.  Oracle: closed-interval box overlap of EITHER member (exact
    for axis-aligned rectangles; the derived coords never align exactly
    so open/closed is immaterial)."""
    from .operators.geometry_join import geometry_join

    pts = _pts_from_key(_read(spark, sf_dir, "customer"), "c_custkey")
    lon, lat = F.col("lon"), F.col("lat")
    s = lambda c: c.cast("string")  # noqa: E731
    docs = pts.select(
        "doc_id",
        F.format_string(
            "MULTIPOLYGON (((%s %s, %s %s, %s %s, %s %s, %s %s)), "
            "((%s %s, %s %s, %s %s, %s %s, %s %s)))",
            # member A: small box at the point
            s(lon), s(lat), s(lon + F.lit(0.04)), s(lat),
            s(lon + F.lit(0.04)), s(lat + F.lit(0.03)),
            s(lon), s(lat + F.lit(0.03)), s(lon), s(lat),
            # member B: disjoint box shifted north-east
            s(lon + F.lit(0.2)), s(lat + F.lit(0.2)),
            s(lon + F.lit(0.24)), s(lat + F.lit(0.2)),
            s(lon + F.lit(0.24)), s(lat + F.lit(0.23)),
            s(lon + F.lit(0.2)), s(lat + F.lit(0.23)),
            s(lon + F.lit(0.2)), s(lat + F.lit(0.2)),
        ).alias("wkt"),
    )
    return geometry_join(docs, _shifted_zone_rects(spark), "intersects", res=10)


def _box_overlap_sql(axmin, aymin, axmax, aymax) -> str:
    return (
        f"({axmin} <= zxmax AND {axmax} >= zxmin AND "
        f"{aymin} <= zymax AND {aymax} >= zymin)"
    )


ORACLE_GEOMETRY_JOIN_MULTI = (
    f"WITH pts AS ({_pts_sql('customer', 'c_custkey')}), "
    f"z AS ({_ZRECT_SQL}) "
    "SELECT doc_id, zone_id FROM pts CROSS JOIN z WHERE "
    + _box_overlap_sql("lon", "lat", "lon + 0.04", "lat + 0.03")
    + " OR "
    + _box_overlap_sql("lon + 0.2", "lat + 0.2", "lon + 0.24", "lat + 0.23")
)


def q_cell_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell occupancy histogram — the skew-detection aggregation that
    feeds the hot-cell salting policy (one exchange, map-side partials)."""
    from .operators import stats

    tiled = q_tile_assign(spark, sf_dir).select("doc_id", "cell_id")
    return stats.cell_histogram(tiled)


ORACLE_CELL_HISTOGRAM = (
    f"WITH pts AS ({_pts_sql('orders', 'o_orderkey')}), "
    "m AS (" + _cell_id_sql("lon", "lat", RES, "doc_id") + ") "
    "SELECT cell_id, count(*) AS n_docs FROM m GROUP BY cell_id"
)


def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import stats

    tiled = q_tile_assign(spark, sf_dir).select("doc_id", "cell_id")
    return stats.skew_report(tiled)


ORACLE_SKEW_REPORT = (
    f"WITH h AS ({ORACLE_CELL_HISTOGRAM}) "
    "SELECT count(*) AS n_cells, CAST(sum(n_docs) AS BIGINT) AS n_docs, "
    "max(n_docs) AS max_cell, "
    "CAST(sum(n_docs) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_cell, "
    "CAST(max(n_docs) AS DOUBLE) / (CAST(sum(n_docs) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS skew_ratio "
    "FROM h"
)


# Expected DE-9IM predicate truth per pair category (the oracle encodes
# the reference semantics, TopologicalRelationships.java:57-96; the Spark
# side evaluates the actual geometry kernels):
#   0: disjoint boxes            1: strictly-overlapping boxes
#   2: box B strictly inside A   3: point strictly inside box A
#   4: line crossing box A (enters and exits)
_PRED_TRUTH = {
    # cat: (intersects, disjoint, touches, overlaps, within, contains, crosses, equals)
    0: (False, True, False, False, False, False, False, False),
    1: (True, False, False, True, False, False, False, False),
    2: (True, False, False, False, False, True, False, False),
    3: (True, False, False, False, True, True, False, False),
    4: (True, False, False, False, False, False, True, False),
}
_PRED_NAMES = [
    "intersects", "disjoint", "touches", "overlaps",
    "within", "contains", "crosses", "equals",
]


def q_spatial_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full spatial-predicate vocabulary (SpatialOperator.java:16-20)
    evaluated by the geometry kernels over categorized pairs — the
    per-pair semantics of TopologicalRelationships.isSpatiallyRelated
    lifted to a column of every predicate at once."""
    import numpy as np
    from pyspark.sql import types as T

    from .kernels import geometry as geom_k

    pts = _pts_from_key(_read(spark, sf_dir, "customer"), "c_custkey").withColumn(
        "cat", (F.col("doc_id") % 5).cast("int")
    )

    schema = T.StructType([T.StructField(n, T.BooleanType()) for n in _PRED_NAMES])

    @F.pandas_udf(schema)
    def preds(lon: pd.Series, lat: pd.Series, cat: pd.Series) -> pd.DataFrame:
        rows = []
        for lo, la, c in zip(lon, lat, cat):
            box = lambda x0, y0, w: [np.array(  # noqa: E731
                [[x0, y0], [x0 + w, y0], [x0 + w, y0 + w], [x0, y0 + w], [x0, y0]]
            )]
            a_kind, a = "polygon", box(lo, la, 0.1)
            if c == 0:
                b_kind, b = "polygon", box(lo + 0.3, la, 0.1)
            elif c == 1:
                b_kind, b = "polygon", box(lo + 0.05, la + 0.05, 0.1)
            elif c == 2:
                b_kind, b = "polygon", box(lo + 0.025, la + 0.025, 0.05)
            elif c == 3:
                b_kind, b = "point", [np.array([[lo + 0.05, la + 0.05]])]
            else:
                # middle vertex strictly inside A: the predicate kernels
                # classify line interiors at vertex granularity
                b_kind, b = "linestring", [np.array(
                    [[lo - 0.05, la + 0.05], [lo + 0.05, la + 0.05],
                     [lo + 0.15, la + 0.05]]
                )]
            rows.append({
                "intersects": geom_k.intersects(a_kind, a, b_kind, b),
                "disjoint": geom_k.disjoint(a_kind, a, b_kind, b),
                "touches": geom_k.touches(b_kind, b, a_kind, a) if c == 3
                else geom_k.touches(a_kind, a, b_kind, b),
                "overlaps": geom_k.overlaps(a_kind, a, b_kind, b),
                "within": geom_k.within(b_kind, b, a_kind, a) if c == 3
                else geom_k.within(a_kind, a, b_kind, b),
                "contains": geom_k.contains(a_kind, a, b_kind, b),
                "crosses": geom_k.crosses(b_kind, b, a_kind, a) if c == 4
                else geom_k.crosses(a_kind, a, b_kind, b),
                "equals": geom_k.equals_topo(a_kind, a, b_kind, b),
            })
        return pd.DataFrame(rows)

    out = pts.withColumn("p", preds("lon", "lat", "cat"))
    return out.select(
        "doc_id", "cat", *[F.col(f"p.{n}").alias(n) for n in _PRED_NAMES]
    )


def _pred_case_sql(col_idx: int) -> str:
    whens = " ".join(
        f"WHEN {c} THEN {str(_PRED_TRUTH[c][col_idx]).upper()}" for c in range(5)
    )
    return f"CASE CAST(c_custkey % 5 AS INT) {whens} END"


ORACLE_SPATIAL_PREDICATES = (
    "SELECT c_custkey AS doc_id, CAST(c_custkey % 5 AS INT) AS cat, "
    + ", ".join(
        f"{_pred_case_sql(i)} AS \"{n}\"" for i, n in enumerate(_PRED_NAMES)
    )
    + " FROM customer"
)


# ===========================================================================
# 12. GML decode / validation operators (kernels.gml + sources.gml)
# ===========================================================================


_GML_NS = "http://www.opengis.net/gml/3.2"


def _gml_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, xml): synthesized GML Point / LineString / Polygon markup
    with coordinates derived from the customer point cloud — shared by
    the gml_decode / gml_envelope queries (and mirrored by their oracles:
    coordinates survive the double→string→double trip losslessly)."""
    pts = _pts_from_key(_read(spark, sf_dir, "customer"), "c_custkey")
    lat, lon = F.col("lat"), F.col("lon")
    s = lambda c: c.cast("string")  # noqa: E731
    point_xml = F.format_string(
        f'<gml:Point xmlns:gml="{_GML_NS}" srsName="urn:ogc:def:crs:EPSG::4326">'
        "<gml:pos>%s %s</gml:pos></gml:Point>",
        s(lat), s(lon),
    )
    line_xml = F.format_string(
        f'<gml:LineString xmlns:gml="{_GML_NS}" '
        'srsName="http://www.opengis.net/def/crs/EPSG/0/4258">'
        "<gml:posList>%s %s %s %s %s %s</gml:posList></gml:LineString>",
        s(lat), s(lon),
        s(lat + F.lit(0.01)), s(lon + F.lit(0.02)),
        s(lat + F.lit(0.03)), s(lon + F.lit(0.01)),
    )
    poly_xml = F.format_string(
        f'<gml:Polygon xmlns:gml="{_GML_NS}" srsName="urn:ogc:def:crs:EPSG::4326">'
        "<gml:exterior><gml:LinearRing>"
        "<gml:posList>%s %s %s %s %s %s %s %s %s %s</gml:posList>"
        "</gml:LinearRing></gml:exterior></gml:Polygon>",
        s(lat), s(lon),
        s(lat + F.lit(0.1)), s(lon),
        s(lat + F.lit(0.1)), s(lon + F.lit(0.1)),
        s(lat), s(lon + F.lit(0.1)),
        s(lat), s(lon),
    )
    m = F.col("doc_id") % 3
    return pts.select(
        "doc_id",
        F.when(m == 0, point_xml).when(m == 1, line_xml).otherwise(poly_xml).alias("xml"),
    )


def q_gml_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-side GML geometry decode (unmarshalGMLGeometry semantics,
    GmlUtils.java:414-433 + the flattening factories): documents carrying
    GML markup decoded by the Arrow pandas-UDF stage into typed columns."""
    from .sources.gml import decode_gml

    out = decode_gml(_gml_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        F.col("geom.kind").alias("kind"),
        F.col("geom.crs").alias("crs"),
        F.col("geom.n_points").cast("long").alias("n_points"),
        F.col("geom.first_x").alias("first_x"),
        F.col("geom.first_y").alias("first_y"),
        F.col("geom.last_x").alias("last_x"),
        F.col("geom.last_y").alias("last_y"),
    )


ORACLE_GML_DECODE = (
    f"WITH pts AS ({_pts_sql('customer', 'c_custkey')}) "
    "SELECT doc_id, "
    "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'Point' WHEN 1 THEN 'LineString' "
    "ELSE 'Polygon' END AS kind, "
    "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'urn:ogc:def:crs:EPSG::4326' "
    "WHEN 1 THEN 'http://www.opengis.net/def/crs/EPSG/0/4258' "
    "ELSE 'urn:ogc:def:crs:EPSG::4326' END AS crs, "
    "CAST(CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 5 END AS BIGINT) "
    "AS n_points, "
    "lat AS first_x, lon AS first_y, "
    "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN lat WHEN 1 THEN lat + 0.03 ELSE lat END "
    "AS last_x, "
    "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN lon WHEN 1 THEN lon + 0.01 ELSE lon END "
    "AS last_y FROM pts"
)


def q_gml_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """calculateEnvelopeUsingSingleGeometry (Extents.java:131-183): the
    MBR of each decoded GML geometry — the envelope columns the scan
    stage emits alongside the flattened coords."""
    from .sources.gml import decode_gml

    # identical GML synthesis as q_gml_decode (same derivations → the
    # oracle reproduces every envelope ordinate bit-exactly)
    docs = _gml_docs(spark, sf_dir)
    out = decode_gml(docs)
    return out.select(
        "doc_id",
        F.col("geom.xmin").alias("xmin"), F.col("geom.ymin").alias("ymin"),
        F.col("geom.xmax").alias("xmax"), F.col("geom.ymax").alias("ymax"),
    )


ORACLE_GML_ENVELOPE = (
    f"WITH pts AS ({_pts_sql('customer', 'c_custkey')}) "
    "SELECT doc_id, "
    "lat AS xmin, lon AS ymin, "
    "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN lat WHEN 1 THEN lat + 0.03 "
    "ELSE lat + 0.1 END AS xmax, "
    "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN lon WHEN 1 THEN lon + 0.02 "
    "ELSE lon + 0.1 END AS ymax FROM pts"
)


def q_gml_arc_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gml:Curve with an ArcByCenterPoint segment through the full GML
    scan stage: the decoder must densify the arc to TOTAL_ARC_POINTS via
    the geodesic direct kernel (GmlUtils.java:98-128; UCUM NM radius,
    4326 lat,lon axis order).  Oracle: the Vincenty direct chain at the
    start/end swept angles."""
    from .sources.gml import decode_gml

    pts = _pts_from_key(_read(spark, sf_dir, "customer"), "c_custkey")
    radius_nm = (F.col("doc_id") % 20 + 1).cast("double")
    xml = F.format_string(
        f'<gml:Curve xmlns:gml="{_GML_NS}" srsName="urn:ogc:def:crs:EPSG::4326">'
        "<gml:segments><gml:ArcByCenterPoint numArc=\"1\">"
        "<gml:pos>%s %s</gml:pos>"
        "<gml:radius uom=\"NM\">%s</gml:radius>"
        "<gml:startAngle uom=\"deg\">30.0</gml:startAngle>"
        "<gml:endAngle uom=\"deg\">210.0</gml:endAngle>"
        "</gml:ArcByCenterPoint></gml:segments></gml:Curve>",
        F.col("lat").cast("string"), F.col("lon").cast("string"),
        radius_nm.cast("string"),
    )
    out = decode_gml(pts.select("doc_id", xml.alias("xml")))
    return out.select(
        "doc_id",
        F.col("geom.n_points").cast("long").alias("n_points"),
        F.round(F.col("geom.first_x"), 7).alias("first_lat"),
        F.round(F.col("geom.first_y"), 7).alias("first_lon"),
        F.round(F.col("geom.last_x"), 7).alias("last_lat"),
        F.round(F.col("geom.last_y"), 7).alias("last_lon"),
    )


def _oracle_gml_arc_decode() -> str:
    from .oracle_math import nest_levels, vincenty_direct_levels

    src = (
        f"WITH pts AS ({_pts_sql('customer', 'c_custkey')}) "
        "SELECT doc_id, lon, lat, "
        "CAST(doc_id % 20 + 1 AS DOUBLE) * 1852.0 AS radius_m FROM pts"
    )
    levels = []
    levels += vincenty_direct_levels("lat", "lon", "30.0", "radius_m", "_f_la", "_f_lo", "_ga")
    levels += vincenty_direct_levels("lat", "lon", "210.0", "radius_m", "_l_la", "_l_lo", "_gb")
    return nest_levels(
        src, levels,
        ["doc_id", "CAST(5 AS BIGINT) AS n_points",
         "round(_f_la, 7) AS first_lat", "round(_f_lo, 7) AS first_lon",
         "round(_l_la, 7) AS last_lat", "round(_l_lo, 7) AS last_lon"],
        cte_prefix="_gad",
    )


_SEG_TYPES = [
    "LineStringSegment", "GeodesicString", "ArcByCenterPoint",
    "CircleByCenterPoint", "ArcString", "Arc", "Circle",
]


def q_min_curve_segment_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """minCurveSegmentLength validation ladder (GmlUtils.java:267-277) as
    a Column expression over a per-row segment-type assignment."""
    from .functions import min_curve_segment_length_col

    p = _read(spark, sf_dir, "part")
    seg = F.element_at(
        F.array(*[F.lit(t) for t in _SEG_TYPES]),
        (F.col("p_partkey") % 7 + 1).cast("int"),
    )
    return p.select(
        "p_partkey", seg.alias("seg_type"),
        min_curve_segment_length_col(seg).cast("long").alias("min_positions"),
    )


ORACLE_MIN_CURVE_SEGMENT_LENGTH = (
    "WITH s AS (SELECT p_partkey, "
    "(['LineStringSegment', 'GeodesicString', 'ArcByCenterPoint', "
    "'CircleByCenterPoint', 'ArcString', 'Arc', 'Circle'])"
    "[CAST(p_partkey % 7 AS INT) + 1] AS seg_type FROM part) "
    "SELECT p_partkey, seg_type, "
    "CAST(CASE WHEN seg_type LIKE '%ByCenterPoint' THEN 1 "
    "WHEN seg_type IN ('ArcString', 'Arc', 'Circle') THEN 3 ELSE 2 END AS BIGINT) "
    "AS min_positions FROM s"
)


def q_create_envelope_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """createEnvelope text parsing (Extents.java:285-326): ows:BoundingBox,
    gml:Envelope, and ows:WGS84BoundingBox (empty CRS ⇒ CRS:84) parsed by
    the kernel inside an Arrow batch."""
    from pyspark.sql import types as T

    from .kernels import gml as gml_k

    pts = _pts_from_key(_read(spark, sf_dir, "customer"), "c_custkey")
    lat, lon = F.col("lat"), F.col("lon")
    s = lambda c: c.cast("string")  # noqa: E731
    ows = F.format_string(
        '<ows:BoundingBox xmlns:ows="http://www.opengis.net/ows/2.0" '
        'crs="urn:ogc:def:crs:EPSG::4326">'
        "<ows:LowerCorner>%s %s</ows:LowerCorner>"
        "<ows:UpperCorner>%s %s</ows:UpperCorner></ows:BoundingBox>",
        s(lat), s(lon), s(lat + F.lit(0.5)), s(lon + F.lit(0.5)),
    )
    gml_env = F.format_string(
        f'<gml:Envelope xmlns:gml="{_GML_NS}" '
        'srsName="http://www.opengis.net/def/crs/EPSG/0/32610">'
        "<gml:lowerCorner>%s %s</gml:lowerCorner>"
        "<gml:upperCorner>%s %s</gml:upperCorner></gml:Envelope>",
        s(F.lit(480000.0) + F.col("doc_id")), s(F.lit(5440000.0) + F.col("doc_id")),
        s(F.lit(500000.0) + F.col("doc_id")), s(F.lit(5460000.0) + F.col("doc_id")),
    )
    wgs84 = F.format_string(
        '<ows:WGS84BoundingBox xmlns:ows="http://www.opengis.net/ows/2.0">'
        "<ows:LowerCorner>%s %s</ows:LowerCorner>"
        "<ows:UpperCorner>%s %s</ows:UpperCorner></ows:WGS84BoundingBox>",
        s(lon), s(lat), s(lon + F.lit(1.0)), s(lat + F.lit(1.0)),
    )
    m = F.col("doc_id") % 3
    docs = pts.select(
        "doc_id",
        F.when(m == 0, ows).when(m == 1, gml_env).otherwise(wgs84).alias("xml"),
    )

    schema = T.StructType([
        T.StructField("crs", T.StringType()),
        T.StructField("l1", T.DoubleType()), T.StructField("l2", T.DoubleType()),
        T.StructField("u1", T.DoubleType()), T.StructField("u2", T.DoubleType()),
    ])

    @F.pandas_udf(schema)
    def parse_env(xml: pd.Series) -> pd.DataFrame:
        rows = []
        for x in xml:
            e = gml_k.create_envelope(x)
            rows.append({
                "crs": e["crs"],
                "l1": e["lower"][0], "l2": e["lower"][1],
                "u1": e["upper"][0], "u2": e["upper"][1],
            })
        return pd.DataFrame(rows)

    out = docs.withColumn("e", parse_env("xml"))
    return out.select(
        "doc_id", F.col("e.crs").alias("crs"),
        F.col("e.l1").alias("l1"), F.col("e.l2").alias("l2"),
        F.col("e.u1").alias("u1"), F.col("e.u2").alias("u2"),
    )


ORACLE_CREATE_ENVELOPE_PARSE = (
    f"WITH pts AS ({_pts_sql('customer', 'c_custkey')}) "
    "SELECT doc_id, "
    "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'EPSG:4326' WHEN 1 THEN 'EPSG:32610' "
    "ELSE 'CRS:84' END AS crs, "
    "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN lat WHEN 1 THEN 480000.0 + doc_id "
    "ELSE lon END AS l1, "
    "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN lon WHEN 1 THEN 5440000.0 + doc_id "
    "ELSE lat END AS l2, "
    "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN lat + 0.5 WHEN 1 THEN 500000.0 + doc_id "
    "ELSE lon + 1.0 END AS u1, "
    "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN lon + 0.5 WHEN 1 THEN 5460000.0 + doc_id "
    "ELSE lat + 1.0 END AS u2 FROM pts"
)


def q_gml_to_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gmlToTemporalGeometricPrimitive (GmlUtils.java:466-506): parse
    gml:TimeInstant / gml:TimePeriod XML from a documents column into
    typed begin/end timestamps, enforcing the ISO-8601 frame rule —
    date-only positions are REJECTED ('Not an ISO instant'), like the
    reference.  Three planted categories per event: valid instant, valid
    period, and a date-only instant exercising the rejection path.
    Oracle: category arithmetic over the same event timestamps."""
    from pyspark.sql import types as T

    from .kernels import gml as gml_k

    per = _event_periods(spark, sf_dir)
    iso = lambda c: F.date_format(c, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")  # noqa: E731
    instant_xml = F.format_string(
        f'<gml:TimeInstant xmlns:gml="{_GML_NS}">'
        '<gml:timePosition frame="#ISO-8601">%s</gml:timePosition>'
        "</gml:TimeInstant>", iso(F.col("begin")),
    )
    period_xml = F.format_string(
        f'<gml:TimePeriod xmlns:gml="{_GML_NS}">'
        "<gml:beginPosition>%s</gml:beginPosition>"
        "<gml:endPosition>%s</gml:endPosition></gml:TimePeriod>",
        iso(F.col("begin")), iso(F.col("end")),
    )
    dateonly_xml = F.format_string(
        f'<gml:TimeInstant xmlns:gml="{_GML_NS}">'
        "<gml:timePosition>%s</gml:timePosition></gml:TimeInstant>",
        F.date_format(F.col("begin"), "yyyy-MM-dd"),
    )
    m = F.col("event_id") % 3
    docs = per.select(
        "event_id",
        F.when(m == 0, instant_xml).when(m == 1, period_xml)
        .otherwise(dateonly_xml).alias("xml"),
    )

    schema = T.StructType([
        T.StructField("kind", T.StringType()),
        T.StructField("begin_iso", T.StringType()),
        T.StructField("end_iso", T.StringType()),
        T.StructField("status", T.StringType()),
    ])

    @F.pandas_udf(schema)
    def parse_temporal(xml: pd.Series) -> pd.DataFrame:
        rows = []
        for x in xml:
            try:
                t = gml_k.gml_to_temporal(x)
                rows.append({
                    "kind": t["kind"], "begin_iso": t["begin"],
                    "end_iso": t.get("end"), "status": "ok",
                })
            except ValueError:
                rows.append({
                    "kind": None, "begin_iso": None, "end_iso": None,
                    "status": "rejected",
                })
        return pd.DataFrame(rows)

    out = docs.withColumn("t", parse_temporal("xml"))
    return out.select(
        "event_id",
        F.col("t.kind").alias("kind"),
        F.to_timestamp(F.col("t.begin_iso")).alias("begin"),
        F.to_timestamp(F.col("t.end_iso")).alias("end"),
        F.col("t.status").alias("status"),
    )


ORACLE_GML_TO_TEMPORAL = (
    f"WITH per AS ({_PER_SQL}) "
    "SELECT event_id, "
    "CASE CAST(event_id % 3 AS INT) WHEN 0 THEN 'instant' WHEN 1 THEN 'period' "
    "ELSE NULL END AS kind, "
    "CASE WHEN CAST(event_id % 3 AS INT) IN (0, 1) THEN begin ELSE NULL END AS begin, "
    "CASE WHEN CAST(event_id % 3 AS INT) = 1 THEN \"end\" ELSE NULL END AS \"end\", "
    "CASE WHEN CAST(event_id % 3 AS INT) = 2 THEN 'rejected' ELSE 'ok' END AS status "
    "FROM per"
)


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language distinct-token count via HyperLogLog registers — the
    100 TB twin of ``count_distinct(token)``.  The exact path shuffles
    every distinct value; this shuffles at most m=256 integer registers
    per language (max-merged, map-side combined, partition-order
    independent).  Output is the integer register summary (the sketch
    STATE, bit-exact in the oracle); the float estimator is driver-side
    (`sketches.hll_estimate`) and test-asserted within 15% of the exact
    distinct count (`tests/test_sketches.py`)."""
    toks = (
        _read(spark, sf_dir, "documents")
        .select("lang", F.explode(F.split("text", r"\s+")).alias("token"))
        .where(F.col("token") != "")
    )
    regs = sketches.hll_registers(toks, ["lang"], "token", m=256)
    return regs.groupBy("lang").agg(
        F.count("*").alias("n_regs"),
        F.sum("rho").alias("sum_rho"),
        F.max("rho").alias("max_rho"),
    )


ORACLE_HLL_DISTINCT = (
    "WITH t AS (SELECT lang, unnest(string_split_regex(text, '\\s+')) AS token "
    "FROM documents), "
    "h AS (SELECT lang, ('0x' || substr(md5(token), 1, 15))::BIGINT AS hv "
    "FROM t WHERE token <> ''), "
    "b AS (SELECT lang, hv % 256 AS bucket, hv // 256 AS v FROM h), "
    "r AS (SELECT lang, bucket, "
    "CASE WHEN v > 0 THEN 53 - len(bin(v)) ELSE 53 END AS rho FROM b), "
    "g AS (SELECT lang, bucket, max(rho) AS rho FROM r GROUP BY 1, 2) "
    "SELECT lang, count(*) AS n_regs, CAST(sum(rho) AS BIGINT) AS sum_rho, "
    "max(rho) AS max_rho FROM g GROUP BY lang"
)


def q_cms_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency estimates for the per-language top-20
    tokens, reported against the exact counts — the scale twin of
    ``vocab_topk``.  The counter table is 4×1024 integers per language
    (broadcast side of the probe join); a hot token is a hot KEY absorbed
    by map-side partials, never a hot partition.  Structural guarantee
    replayed by the oracle: cms_est >= n for every row (counters only
    over-count on hash collisions)."""
    docs = _read(spark, sf_dir, "documents").select("lang", "text")
    toks = docs.select(
        "lang", F.explode(F.split("text", r"\s+")).alias("token")
    ).where(F.col("token") != "")
    cnt = toks.groupBy("lang", "token").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("token"))
    top = (
        cnt.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 20)
        .select("lang", "rank", "token", "n")
    )
    counters = sketches.cms_build(toks, ["lang"], "token", depth=4, width=1024)
    probed = sketches.cms_probe(counters, top, ["lang"], "token", depth=4, width=1024)
    return probed.select("lang", "rank", "token", "n", "cms_est")


ORACLE_CMS_VOCAB = (
    "WITH t AS (SELECT lang, unnest(string_split_regex(text, '\\s+')) AS token "
    "FROM documents), "
    "tk AS (SELECT lang, token FROM t WHERE token <> ''), "
    "c AS (SELECT lang, token, count(*) AS n FROM tk GROUP BY 1, 2), "
    "r AS (SELECT lang, token, n, row_number() OVER "
    "(PARTITION BY lang ORDER BY n DESC, token ASC) AS rank FROM c), "
    "top AS (SELECT lang, rank, token, n FROM r WHERE rank <= 20), "
    "lanes AS (SELECT unnest([0, 1, 2, 3]) AS i), "
    "cms AS (SELECT lang, i AS row, "
    "('0x' || substr(md5(i || ':' || token), 1, 15))::BIGINT % 1024 AS col, "
    "count(*) AS cnt FROM tk, lanes GROUP BY 1, 2, 3), "
    "pr AS (SELECT top.lang, top.rank, top.token, top.n, lanes.i, "
    "('0x' || substr(md5(lanes.i || ':' || top.token), 1, 15))::BIGINT % 1024 "
    "AS pcol FROM top, lanes) "
    "SELECT pr.lang, pr.rank, pr.token, pr.n, "
    "CAST(min(coalesce(cms.cnt, 0)) AS BIGINT) AS cms_est "
    "FROM pr LEFT JOIN cms ON pr.lang = cms.lang AND pr.i = cms.row "
    "AND pr.pcol = cms.col "
    "GROUP BY pr.lang, pr.rank, pr.token, pr.n"
)


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT heavy-hitter word bigrams via Misra-Gries candidate pruning
    + exact recount (`sketches.heavy_hitters_exact`): every bigram in ≥
    1% of all bigram occurrences, with its exact count.

    Substrate: word bigrams of documents ∪ 20 planted hot docs (the
    first 20 doc_ids rewritten to a repeated "hot spark" phrase) — the
    synthetic corpus's 31-word vocabulary yields ~960 distinct bigrams
    at near-uniform ~0.1% each, so only the planted phrase's two
    bigrams cross the 1% line; with k=128 counters the per-partition MG
    trims do real work (960 ≫ 128) while the threshold (0.01 > 1/129)
    keeps the no-false-negative guarantee.  The oracle is the plain
    exact GROUP BY ... HAVING — the pruning provably cannot change the
    answer, which is the operator's whole contract.  Shape at 100 TB:
    pass 1 is map-only (≤ k counters per task, one bounded
    partitions·(k+1)-row collect), pass 2 shuffles only candidate
    bigrams instead of the open n-gram vocabulary."""
    from .operators import sketches

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    hot = (
        docs.orderBy("doc_id").limit(20)
        .select(F.lit(("hot spark " * 50).strip()).alias("text"))
    )
    corpus = docs.select("text").unionByName(hot)
    toks = corpus.select(
        F.filter(F.split("text", r"\s+"), lambda t: t != "").alias("toks")
    )
    bigrams = F.expr(
        "CASE WHEN size(toks) >= 2 THEN "
        "transform(slice(toks, 1, size(toks) - 1), "
        "(t, i) -> concat(t, ' ', element_at(toks, i + 2))) "
        "ELSE array() END"
    )
    items = toks.select(F.explode(bigrams).alias("item"))
    out = sketches.heavy_hitters_exact(items, "item", threshold=0.01, k=128)
    return out.select("item", "n")


ORACLE_HEAVY_HITTERS = (
    "WITH d AS (SELECT text FROM documents "
    "UNION ALL SELECT trim(repeat('hot spark ', 50)) AS text "
    "FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 20)), "
    "t AS (SELECT list_filter(string_split_regex(text, '\\s+'), "
    "x -> x <> '') AS a FROM d), "
    "u AS (SELECT a, unnest(range(1, len(a))) AS i FROM t), "
    "b AS (SELECT a[i] || ' ' || a[i + 1] AS item FROM u), "
    "tot AS (SELECT count(*) AS n FROM b) "
    "SELECT item, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY item "
    "HAVING count(*) >= ceil(0.01 * (SELECT n FROM tot))"
)


def q_pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto frontier (`stats.skyline2`): parts not dominated
    on (price ↓, size ↑) — no other part is both cheaper-or-equal and
    larger-or-equal with one strict.  Maximized size enters the
    minimize-minimize operator negated.  Engine: divide-and-conquer
    skyline — per-partition vectorized prune map-side, exact re-prune
    of the survivor union in one task.  Oracle: the literal NOT EXISTS
    formulation (O(n²), oracle-scale only — the point of the D&C)."""
    from .operators import stats

    p = _read(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size",
        (-F.col("p_size")).alias("_negsize"),
    )
    out = stats.skyline2(p, "p_retailprice", "_negsize")
    return out.select("p_partkey", "p_retailprice", "p_size")


ORACLE_PARETO_PARTS = (
    "SELECT p_partkey, p_retailprice, p_size FROM part p "
    "WHERE NOT EXISTS (SELECT 1 FROM part q "
    "WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size "
    "AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))"
)


def q_track_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user track raster coverage (`trajectory.leg_cells`): every
    0.1°-grid cell each user's trajectory LEGS cross (supercover line
    rasterization — a moving object covers the cells its legs traverse,
    not just the cells its fixes land in), rolled up to (user, cell) →
    leg-crossing count.  One window exchange builds the legs; the
    bbox-candidate explode and the Liang-Barsky keep test are map-side
    Column arithmetic (shared-IEEE, so the oracle replays the slab test
    bit-exactly); the rollup is one map-side-combined exchange."""
    from .operators import trajectory

    pts = _event_pts(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    legs = pts.select(
        "user_id", "lat", "lon",
        F.lag("lat").over(w).alias("plat"),
        F.lag("lon").over(w).alias("plon"),
    ).where(F.col("plat").isNotNull())
    cov = trajectory.leg_cells(legs, 0.1)
    return cov.groupBy("user_id", "cx", "cy").agg(
        F.count("*").alias("n_legs")
    )


ORACLE_TRACK_CELLS = (
    "WITH pts AS (" + _EVENT_PTS_SQL + "), "
    "lg AS (SELECT user_id, lat, lon, "
    "lag(lat) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS plat, "
    "lag(lon) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS plon "
    "FROM pts), "
    "l AS (SELECT user_id, plon AS x1, plat AS y1, lon AS x2, lat AS y2 "
    "FROM lg WHERE plat IS NOT NULL), "
    "cxs AS (SELECT *, unnest(range(CAST(floor(least(x1, x2) / 0.1) AS BIGINT), "
    "CAST(floor(greatest(x1, x2) / 0.1) AS BIGINT) + 1)) AS cx FROM l), "
    "cys AS (SELECT *, unnest(range(CAST(floor(least(y1, y2) / 0.1) AS BIGINT), "
    "CAST(floor(greatest(y1, y2) / 0.1) AS BIGINT) + 1)) AS cy FROM cxs), "
    "t AS (SELECT user_id, cx, cy, "
    "CASE WHEN x2 - x1 <> 0 THEN least((cx * 0.1 - x1) / (x2 - x1), "
    "((cx + 1) * 0.1 - x1) / (x2 - x1)) "
    "WHEN x1 >= cx * 0.1 AND x1 <= (cx + 1) * 0.1 THEN 0.0 ELSE 2.0 END AS txe, "
    "CASE WHEN x2 - x1 <> 0 THEN greatest((cx * 0.1 - x1) / (x2 - x1), "
    "((cx + 1) * 0.1 - x1) / (x2 - x1)) "
    "WHEN x1 >= cx * 0.1 AND x1 <= (cx + 1) * 0.1 THEN 1.0 ELSE -1.0 END AS txx, "
    "CASE WHEN y2 - y1 <> 0 THEN least((cy * 0.1 - y1) / (y2 - y1), "
    "((cy + 1) * 0.1 - y1) / (y2 - y1)) "
    "WHEN y1 >= cy * 0.1 AND y1 <= (cy + 1) * 0.1 THEN 0.0 ELSE 2.0 END AS tye, "
    "CASE WHEN y2 - y1 <> 0 THEN greatest((cy * 0.1 - y1) / (y2 - y1), "
    "((cy + 1) * 0.1 - y1) / (y2 - y1)) "
    "WHEN y1 >= cy * 0.1 AND y1 <= (cy + 1) * 0.1 THEN 1.0 ELSE -1.0 END AS tyx "
    "FROM cys) "
    "SELECT user_id, cx, cy, CAST(count(*) AS BIGINT) AS n_legs FROM t "
    "WHERE greatest(txe, tye, 0.0) <= least(txx, tyx, 1.0) "
    "GROUP BY user_id, cx, cy"
)


def q_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity-resolution self-join (`dedup.fuzzy_edit_join`):
    all customer-name pairs within Levenshtein distance 1 — on the
    zero-padded serial names that is every single-digit-substitution
    pair (19,500 pairs over 1,500 names at sf0.01).  The ED-Join
    rarest-gram prefix filter is what makes this a blocking join
    instead of an all-pairs scan: the constant "Customer#" template
    grams are the corpus's most frequent, so prefixes hold only the
    discriminative digit grams and candidate buckets stay tiny.
    Oracle: the O(n²) literal formulation — viable at oracle scale
    only, which is the point of the blocking."""
    from .operators import dedup

    # the customer dim is one parquet split locally; the operator's
    # parallelism follows the input partitioning (its explodes and the
    # levenshtein refine are map-side), so spread the tiny input first —
    # the one-time 15k-row shuffle is what a multi-file table gives for
    # free at real scale
    cust = (
        _read(spark, sf_dir, "customer")
        .select("c_custkey", "c_name")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    return dedup.fuzzy_edit_join(cust, "c_custkey", "c_name", d=1)


ORACLE_FUZZY_NAME_PAIRS = (
    "SELECT c1.c_custkey AS id_a, c2.c_custkey AS id_b, "
    "CAST(levenshtein(c1.c_name, c2.c_name) AS BIGINT) AS dist "
    "FROM customer c1 JOIN customer c2 ON c1.c_custkey < c2.c_custkey "
    "AND abs(length(c1.c_name) - length(c2.c_name)) <= 1 "
    "WHERE levenshtein(c1.c_name, c2.c_name) <= 1"
)


def _lang_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, item) word-bigram occurrences — the shared substrate of
    the KMV queries (per-language vocabulary richness)."""
    docs = _read(spark, sf_dir, "documents").select("lang", "text")
    toks = docs.select(
        "lang", F.filter(F.split("text", r"\s+"), lambda t: t != "").alias("toks")
    )
    bigrams = F.expr(
        "CASE WHEN size(toks) >= 2 THEN "
        "transform(slice(toks, 1, size(toks) - 1), "
        "(t, i) -> concat(t, ' ', element_at(toks, i + 2))) "
        "ELSE array() END"
    )
    return toks.select("lang", F.explode(bigrams).alias("item"))


_LANG_BIGRAMS_SQL = (
    "t AS (SELECT lang, list_filter(string_split_regex(text, '\\s+'), "
    "x -> x <> '') AS a FROM documents), "
    "u AS (SELECT lang, a, unnest(range(1, len(a))) AS i FROM t), "
    "bg AS (SELECT lang, a[i] || ' ' || a[i + 1] AS item FROM u)"
)


def q_moran_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global Moran's I over the 0.1°-cell event-count surface
    (`stats.morans_i`) — IS the event density spatially autocorrelated,
    the lattice-level complement of the per-cell hotspot z-scores.
    Bit-exact across engines: the rational mean is cleared by
    multiplying deviations by n (all three moments become BIGINT sums,
    order-independent), neighbor pairs come from the 8-offset explode
    equi-join (never a cross join), and the one double division runs on
    the final scalars."""
    from .operators import stats

    pts = _event_pts(spark, sf_dir)
    cells = pts.select(
        F.floor(F.col("lon") / 0.1).cast("long").alias("cx"),
        F.floor(F.col("lat") / 0.1).cast("long").alias("cy"),
    ).groupBy("cx", "cy").agg(F.count("*").alias("n"))
    return stats.morans_i(cells, "cx", "cy", "n")


ORACLE_MORAN_EVENTS = (
    "WITH pts AS (" + _EVENT_PTS_SQL + "), "
    "c AS (SELECT CAST(floor(lon / 0.1) AS BIGINT) AS cx, "
    "CAST(floor(lat / 0.1) AS BIGINT) AS cy, "
    "CAST(count(*) AS BIGINT) AS x FROM pts GROUP BY 1, 2), "
    "tot AS (SELECT CAST(count(*) AS BIGINT) AS n, "
    "CAST(sum(x) AS BIGINT) AS t FROM c), "
    "z AS (SELECT cx, cy, n * x - t AS nz, n FROM c, tot), "
    "num AS (SELECT CAST(count(*) AS BIGINT) AS w_pairs, "
    "CAST(sum(zi.nz * zj.nz) AS BIGINT) AS s_num "
    "FROM z zi JOIN z zj ON abs(zi.cx - zj.cx) <= 1 "
    "AND abs(zi.cy - zj.cy) <= 1 "
    "AND NOT (zi.cx = zj.cx AND zi.cy = zj.cy)), "
    "den AS (SELECT max(n) AS n_cells, "
    "CAST(sum(nz * nz) AS BIGINT) AS s_den FROM z) "
    "SELECT n_cells, w_pairs, "
    "CAST(n_cells AS DOUBLE) * CAST(s_num AS DOUBLE) "
    "/ (CAST(w_pairs AS DOUBLE) * CAST(s_den AS DOUBLE)) AS moran_i "
    "FROM num, den"
)


def q_hotspot_gi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell Getis-Ord Gi* over the 0.1°-cell event-count surface
    (``stats.getis_ord_gi``) — WHICH cells sit in significantly
    high/low-count neighborhoods, the local complement of the global
    `moran_events` statistic (and of `hotspot_cells`' neighborless
    global z-score: Gi* scores the NEIGHBORHOOD sum, so a modest cell
    ringed by hot cells ranks hot).  Bit-exact across engines: the
    n-cleared numerator and all three variance moments are BIGINT
    sums; the one double divide + sqrt run on identical scalars.
    Shape: 9-offset map-side scatter → ONE equi-join on the occupied
    key → one hash-agg; global moments broadcast."""
    from .operators import stats

    pts = _event_pts(spark, sf_dir)
    cells = pts.select(
        F.floor(F.col("lon") / 0.1).cast("long").alias("cx"),
        F.floor(F.col("lat") / 0.1).cast("long").alias("cy"),
    ).groupBy("cx", "cy").agg(F.count("*").alias("n"))
    return stats.getis_ord_gi(cells, "cx", "cy", "n")


ORACLE_HOTSPOT_GI = (
    "WITH pts AS (" + _EVENT_PTS_SQL + "), "
    "c AS (SELECT CAST(floor(lon / 0.1) AS BIGINT) AS cx, "
    "CAST(floor(lat / 0.1) AS BIGINT) AS cy, "
    "CAST(count(*) AS BIGINT) AS x FROM pts GROUP BY 1, 2), "
    "tot AS (SELECT CAST(count(*) AS BIGINT) AS n, "
    "CAST(sum(x) AS BIGINT) AS t, CAST(sum(x * x) AS BIGINT) AS ss FROM c), "
    "off AS (SELECT dx, dy FROM (SELECT unnest([-1, 0, 1]) AS dx), "
    "(SELECT unnest([-1, 0, 1]) AS dy)), "
    "hood AS (SELECT ci.cx + off.dx AS cx, ci.cy + off.dy AS cy, "
    "CAST(sum(ci.x) AS BIGINT) AS g, CAST(count(*) AS BIGINT) AS k "
    "FROM c ci CROSS JOIN off GROUP BY 1, 2) "
    "SELECT c.cx, c.cy, c.x, hood.k AS k_nbrs, "
    "CAST(tot.n * hood.g - hood.k * tot.t AS DOUBLE) / sqrt("
    "CAST(tot.n * tot.ss - tot.t * tot.t AS DOUBLE) "
    "* CAST(tot.n * hood.k - hood.k * hood.k AS DOUBLE) "
    "/ CAST(tot.n - 1 AS DOUBLE)) AS gi "
    "FROM c JOIN hood ON hood.cx = c.cx AND hood.cy = c.cy, tot"
)


def q_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-rate spike/drought detection (``stats.rolling_zscore``):
    hourly counts per event_type scored against a baseline of the
    type's 24 previous series rows — hours with events, so a gapped
    series looks back further than 24 hours — top-20 by |z| — the
    keyed rate monitor that flags a feed going dark or a scraper going
    hot.  Bit-exact across engines: the
    frame sums (s1, s2, m) are BIGINT window aggregates and
    z = (n·m − s1)/sqrt(m·s2 − s1²) is ONE correctly-rounded double
    division + sqrt on identical scalars.  Shape: one exchange to the
    (event_type, hour) count series — window + top-k then run on the
    tiny series frame, never on raw events."""
    from .operators import stats

    ev = _read(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    )
    c = ev.groupBy("event_type", "hour").agg(F.count("*").alias("n"))
    z = stats.rolling_zscore(c, ["event_type"], "hour", "n",
                             trailing=24, min_obs=12)
    return z.orderBy(F.abs(F.col("z")).desc(), "event_type", "hour").limit(20)


ORACLE_RATE_ANOMALY = (
    "WITH c AS (SELECT event_type, date_trunc('hour', ts) AS hour, "
    "CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2), "
    "w AS (SELECT event_type, hour, n, "
    "CAST(count(*) OVER fr AS BIGINT) AS n_base, "
    "CAST(sum(n) OVER fr AS BIGINT) AS sum_base, "
    "CAST(sum(n * n) OVER fr AS BIGINT) AS ss FROM c "
    "WINDOW fr AS (PARTITION BY event_type ORDER BY hour "
    "ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)) "
    "SELECT event_type, hour, n, n_base, sum_base, "
    "CAST(n * n_base - sum_base AS DOUBLE) "
    "/ sqrt(CAST(n_base * ss - sum_base * sum_base AS DOUBLE)) AS z "
    "FROM w WHERE n_base >= 12 AND n_base * ss - sum_base * sum_base > 0 "
    "ORDER BY abs(z) DESC, event_type, hour LIMIT 20"
)


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 two-word collocations by PMI over the document corpus
    (``text.pmi_collocations``) — the phrase-mining signal for tokenizer
    vocab construction and boilerplate phrase discovery.  Every log
    argument is an integer count (the source_kl/lm_logloss trick) and
    the score is rounded at 9 dp before ranking, so order and value are
    engine-identical.  Shape: ONE data-volume exchange (the bigram
    count); all later joins/top-k act on vocab-sized frames with the
    two scalar totals broadcast."""
    from .operators import text

    docs = _read(spark, sf_dir, "documents").select("text")
    return text.pmi_collocations(docs, "text", min_count=5, k=50)


ORACLE_PMI_COLLOCATIONS = (
    "WITH toks AS (SELECT list_filter(string_split_regex(lower(text), "
    "'[^a-z0-9]+'), t -> t <> '') AS toks FROM documents), "
    "uni AS (SELECT token, CAST(count(*) AS BIGINT) AS c_uni FROM "
    "(SELECT unnest(toks) AS token FROM toks) GROUP BY 1), "
    "nu AS (SELECT CAST(sum(c_uni) AS BIGINT) AS nu FROM uni), "
    "bg AS (SELECT unnest(toks[1:len(toks)-1]) AS w1, "
    "unnest(toks[2:len(toks)]) AS w2 FROM toks WHERE len(toks) >= 2), "
    "cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair "
    "FROM bg GROUP BY 1, 2), "
    "nb AS (SELECT CAST(sum(n_pair) AS BIGINT) AS nb FROM cb) "
    "SELECT cb.w1, cb.w2, cb.n_pair, u1.c_uni AS n_w1, u2.c_uni AS n_w2, "
    "round(ln(cb.n_pair) + 2.0 * ln(nu.nu) - ln(u1.c_uni) - ln(u2.c_uni) "
    "- ln(nb.nb), 9) AS pmi_r "
    "FROM cb JOIN uni u1 ON u1.token = cb.w1 "
    "JOIN uni u2 ON u2.token = cb.w2, nu, nb "
    "WHERE cb.n_pair >= 5 "
    "ORDER BY pmi_r DESC, w1, w2 LIMIT 50"
)


def q_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket part affinity (``graph.cooccurrence_pairs``):
    top-25 part pairs by the number of orders containing both, support
    ≥ 3 — the item-item edge builder behind "frequently bought
    together".  Shape: ONE exchange on l_orderkey collapses each order
    to its sorted part set; pairs explode map-side (orders are ≤7
    lineitems so C(b,2) is bounded); pair counts combine partially;
    TakeOrderedAndProject ranks.  The oracle mirrors with a distinct
    self-join — same pair set, oracle-side simplicity."""
    from .operators import graph

    li = _read(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return graph.cooccurrence_pairs(
        li, "l_orderkey", "l_partkey", min_support=3, k=25
    ).select(
        F.col("item_a").alias("part_a"), F.col("item_b").alias("part_b"),
        "n_baskets",
    )


ORACLE_BASKET_PAIRS = (
    "WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), "
    "p AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, "
    "count(*) AS n_baskets FROM d a JOIN d b "
    "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey "
    "GROUP BY 1, 2) "
    "SELECT part_a, part_b, n_baskets FROM p WHERE n_baskets >= 3 "
    "ORDER BY n_baskets DESC, part_a, part_b LIMIT 25"
)


def q_quantile_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source decile calibration of document length against the
    pooled corpus (``stats.quantile_calibration``): row (source, d,
    v_source, v_global) is the rank-normalization map for blending
    sources scored on different scales.  quantile_disc integer-index
    semantics (min value with cum ≥ ceil(d·n/10)) keep it bit-exact.
    Shape: one exchange to (source, n_chars) counts; all windows and
    the decile inequality-joins run on value-cardinality frames."""
    from .operators import stats

    docs = _read(spark, sf_dir, "documents").select("source", "n_chars")
    return stats.quantile_calibration(docs, "source", "n_chars")


ORACLE_QUANTILE_CALIBRATION = (
    "WITH c AS (SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS c "
    "FROM documents GROUP BY 1, 2), "
    "cum AS (SELECT source, v, "
    "CAST(sum(c) OVER (PARTITION BY source ORDER BY v) AS BIGINT) AS cum, "
    "CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n_g FROM c), "
    "spec AS (SELECT unnest([1, 2, 3, 4, 5, 6, 7, 8, 9]) AS decile), "
    "src AS (SELECT source, decile, min(v) AS v_group FROM cum, spec "
    "WHERE cum >= (n_g * decile + 9) // 10 GROUP BY 1, 2), "
    "gc AS (SELECT n_chars AS v, CAST(count(*) AS BIGINT) AS c "
    "FROM documents GROUP BY 1), "
    "gcum AS (SELECT v, CAST(sum(c) OVER (ORDER BY v) AS BIGINT) AS cum, "
    "CAST(sum(c) OVER () AS BIGINT) AS n FROM gc), "
    "gq AS (SELECT decile, min(v) AS v_global FROM gcum, spec "
    "WHERE cum >= (n * decile + 9) // 10 GROUP BY 1) "
    "SELECT src.source, src.decile, src.v_group, gq.v_global "
    "FROM src JOIN gq USING (decile)"
)


def q_trend_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type Mann-Kendall trend test over the hourly event-count
    series (``stats.mann_kendall``) — "is this feed monotonically
    drifting?", the nonparametric complement of `rate_anomaly`'s point
    spikes.  S, n and the tie term are BIGINT sums over the SERIES
    frame (keys × hours, not raw events); z is one correctly-rounded
    double division + sqrt — bit-exact.  Shape: the O(hours²) pair
    compare is an equi-join on event_type over the tiny count series."""
    from .operators import stats

    ev = _read(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    )
    c = ev.groupBy("event_type", "hour").agg(F.count("*").alias("n"))
    return stats.mann_kendall(c, ["event_type"], "hour", "n")


ORACLE_TREND_TEST = (
    "WITH c AS (SELECT event_type, date_trunc('hour', ts) AS h, "
    "CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2), "
    "p AS (SELECT a.event_type, CAST(sum(CAST(sign(b.n - a.n) AS BIGINT)) "
    "AS BIGINT) AS s_stat FROM c a JOIN c b "
    "ON a.event_type = b.event_type AND a.h < b.h GROUP BY 1), "
    "nn AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_obs "
    "FROM c GROUP BY 1), "
    "tt AS (SELECT event_type, CAST(sum(t * (t - 1) * (2 * t + 5)) "
    "AS BIGINT) AS tie18 FROM (SELECT event_type, n, "
    "CAST(count(*) AS BIGINT) AS t FROM c GROUP BY 1, 2) GROUP BY 1), "
    "v AS (SELECT nn.event_type, n_obs, s_stat, "
    "n_obs * (n_obs - 1) * (2 * n_obs + 5) - tie18 AS var18 "
    "FROM nn JOIN p USING (event_type) JOIN tt USING (event_type)) "
    "SELECT event_type, n_obs, s_stat, var18, "
    "CASE WHEN s_stat <> 0 AND var18 > 0 THEN "
    "CAST(s_stat - (CASE WHEN s_stat > 0 THEN 1 ELSE -1 END) AS DOUBLE) "
    "/ sqrt(CAST(var18 AS DOUBLE) / 18.0) ELSE 0.0 END AS z FROM v"
)


def q_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Gini concentration of customer revenue
    (``stats.gini``) — "does one whale dominate the market?", the
    inequality audit over order totals in exact integer cents
    (floor(price·100) — floor, not cast, because double→int casts
    truncate in Spark but round in other engines).  Customers with no
    orders are members at 0 revenue.  Shape: one exchange aggregates
    orders per customer; nation fan-in broadcasts; the rank window
    sorts per nation over customer cardinality."""
    from .operators import stats

    orders = _read(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = _read(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _read(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100)).alias("cents")
    )
    per_cust = (
        cust.join(rev, cust.c_custkey == rev.o_custkey, "left")
        .na.fill({"cents": 0})
        .join(F.broadcast(nation),
              cust.c_nationkey == nation.n_nationkey)
        .select("n_name", "cents")
    )
    return stats.gini(per_cust, "n_name", "cents")


ORACLE_REVENUE_GINI = (
    "WITH rev AS (SELECT o_custkey, CAST(sum(floor(o_totalprice * 100)) "
    "AS BIGINT) AS cents FROM orders GROUP BY 1), "
    "pc AS (SELECT n.n_name, coalesce(rev.cents, 0) AS cents "
    "FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey "
    "LEFT JOIN rev ON rev.o_custkey = c.c_custkey), "
    "rk AS (SELECT n_name, cents, row_number() OVER "
    "(PARTITION BY n_name ORDER BY cents) AS i FROM pc), "
    "ag AS (SELECT n_name, CAST(count(*) AS BIGINT) AS n_members, "
    "CAST(sum(cents) AS BIGINT) AS total, "
    "CAST(sum((2 * i - 1) * cents) AS BIGINT) AS num_part "
    "FROM rk GROUP BY 1) "
    "SELECT n_name, n_members, total, "
    "CASE WHEN total > 0 THEN "
    "CAST(num_part - n_members * total AS DOUBLE) "
    "/ CAST(n_members * total AS DOUBLE) ELSE 0.0 END AS gini FROM ag"
)


def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of lineitem extended prices
    (``stats.benford_audit``) — the fabricated-feed / unit-mixup screen.
    Digits come from the integer-cents decimal STRING (no log10, whose
    last-ulp rounding could flip a boundary value's digit per engine);
    expected masses are shared double literals; the χ² deviation terms
    round at 9 dp.  Shape: map-side digit projection, one 9-key agg,
    scalar total broadcast."""
    from .operators import stats

    li = _read(spark, sf_dir, "lineitem").where(
        F.col("l_extendedprice") > 0
    ).select(F.floor(F.col("l_extendedprice") * 100).alias("cents"))
    return stats.benford_audit(li, "cents")


ORACLE_BENFORD_AUDIT = (
    "WITH v AS (SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS v "
    "FROM lineitem WHERE l_extendedprice > 0), "
    "d AS (SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INT) AS digit "
    "FROM v WHERE v > 0), "
    "obs AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs "
    "FROM d GROUP BY 1), "
    "spec(digit, p) AS (VALUES "
    "(1, 0.3010299956639812), (2, 0.17609125905568124), "
    "(3, 0.12493873660829992), (4, 0.09691001300805642), "
    "(5, 0.07918124604762482), (6, 0.06694678963061322), "
    "(7, 0.05799194697768673), (8, 0.05115252244738129), "
    "(9, 0.04575749056067514)), "
    "n AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM obs) "
    "SELECT spec.digit, coalesce(obs.n_obs, 0) AS n_obs, "
    "round(CAST(n.n AS DOUBLE) * spec.p, 9) AS expected_r, "
    "round((CAST(coalesce(obs.n_obs, 0) AS DOUBLE) "
    "- CAST(n.n AS DOUBLE) * spec.p) "
    "* (CAST(coalesce(obs.n_obs, 0) AS DOUBLE) "
    "- CAST(n.n AS DOUBLE) * spec.p) "
    "/ (CAST(n.n AS DOUBLE) * spec.p), 9) AS dev_r "
    "FROM spec LEFT JOIN obs USING (digit), n"
)


def q_kernel_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epanechnikov KDE over the 0.1°-cell event surface
    (``stats.kernel_density``, R = 2 cells) — the smoothed heatmap
    layer next to `hotspot_gi`'s significance layer.  The numerator is
    a BIGINT sum of count × plan-time integer weight; ONE double
    division by R² — bit-exact.  Shape: 13-offset map-side scatter →
    ONE equi-join on the occupied key → one hash-agg."""
    from .operators import stats

    pts = _event_pts(spark, sf_dir)
    cells = pts.select(
        F.floor(F.col("lon") / 0.1).cast("long").alias("cx"),
        F.floor(F.col("lat") / 0.1).cast("long").alias("cy"),
    ).groupBy("cx", "cy").agg(F.count("*").alias("n"))
    return stats.kernel_density(cells, "cx", "cy", "n", radius=2)


ORACLE_KERNEL_DENSITY = (
    "WITH pts AS (" + _EVENT_PTS_SQL + "), "
    "c AS (SELECT CAST(floor(lon / 0.1) AS BIGINT) AS cx, "
    "CAST(floor(lat / 0.1) AS BIGINT) AS cy, "
    "CAST(count(*) AS BIGINT) AS x FROM pts GROUP BY 1, 2), "
    "off AS (SELECT dx, dy, 4 - dx * dx - dy * dy AS w FROM "
    "(SELECT unnest([-2, -1, 0, 1, 2]) AS dx), "
    "(SELECT unnest([-2, -1, 0, 1, 2]) AS dy) "
    "WHERE dx * dx + dy * dy <= 4), "
    "hood AS (SELECT c.cx + off.dx AS cx, c.cy + off.dy AS cy, "
    "CAST(sum(c.x * off.w) AS BIGINT) AS num "
    "FROM c CROSS JOIN off GROUP BY 1, 2) "
    "SELECT c.cx, c.cy, c.x, CAST(hood.num AS DOUBLE) / 4.0 AS density "
    "FROM c JOIN hood ON hood.cx = c.cx AND hood.cy = c.cy"
)


def q_emerging_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Emerging hot spot analysis (the ArcGIS space-time-cube
    composition, re-expressed as two engine operators): a DAILY Gi*
    surface per cell (``stats.getis_ord_gi`` with ``part_cols=('d',)``)
    feeds a per-cell Mann-Kendall trend test over its gi series
    (``stats.mann_kendall`` — sign comparisons on engine-identical
    doubles stay bit-exact), and cells with a full-month series are
    labeled by the (last gi, trend z) quadrant at the 1.645 (90%)
    thresholds: persistent/intensifying/diminishing hot or cold.

    Bit-exactness chain: daily gi values are n-cleared BIGINT ratios
    (one division + sqrt), MK consumes them verbatim (signs + exact-tie
    groups), var18 is BIGINT, the labels compare identical doubles to
    a shared literal.  Shape: daily Gi* is the 9-offset scatter +
    equi-join per day; MK's O(days²) pair compare is an equi-join on
    the CELL over the days×cells series frame; one max_by picks the
    closing gi."""
    from .operators import stats

    pts = _event_pts(spark, sf_dir)
    cells = (
        pts.select(
            F.date_trunc("day", F.col("ts")).alias("d"),
            F.floor(F.col("lon") / 0.1).cast("long").alias("cx"),
            F.floor(F.col("lat") / 0.1).cast("long").alias("cy"),
        )
        .groupBy("d", "cx", "cy")
        .agg(F.count("*").alias("n"))
    )
    gi = stats.getis_ord_gi(cells, "cx", "cy", "n", part_cols=("d",))
    mk = stats.mann_kendall(gi, ["cx", "cy"], "d", "gi")
    last = gi.groupBy("cx", "cy").agg(F.max_by("gi", "d").alias("gi_last"))
    j = mk.join(last, ["cx", "cy"]).where(F.col("n_obs") >= 10)
    hot = F.col("gi_last") >= 1.645
    cold = F.col("gi_last") <= -1.645
    up = F.col("z") >= 1.645
    down = F.col("z") <= -1.645
    label = (
        F.when(hot & up, F.lit("intensifying_hot"))
        .when(hot & down, F.lit("diminishing_hot"))
        .when(hot, F.lit("persistent_hot"))
        .when(cold & down, F.lit("intensifying_cold"))
        .when(cold & up, F.lit("diminishing_cold"))
        .when(cold, F.lit("persistent_cold"))
        .otherwise(F.lit("none"))
    )
    return j.select(
        "cx", "cy", "n_obs", "s_stat", "var18",
        F.col("z").alias("z_trend"), "gi_last", label.alias("label"),
    )


ORACLE_EMERGING_HOTSPOTS = (
    "WITH pts AS (" + _EVENT_PTS_SQL + "), "
    "c AS (SELECT date_trunc('day', ts) AS d, "
    "CAST(floor(lon / 0.1) AS BIGINT) AS cx, "
    "CAST(floor(lat / 0.1) AS BIGINT) AS cy, "
    "CAST(count(*) AS BIGINT) AS x FROM pts GROUP BY 1, 2, 3), "
    "tot AS (SELECT d, CAST(count(*) AS BIGINT) AS n, "
    "CAST(sum(x) AS BIGINT) AS t, CAST(sum(x * x) AS BIGINT) AS ss "
    "FROM c GROUP BY 1), "
    "off AS (SELECT dx, dy FROM (SELECT unnest([-1, 0, 1]) AS dx), "
    "(SELECT unnest([-1, 0, 1]) AS dy)), "
    "hood AS (SELECT ci.d, ci.cx + off.dx AS cx, ci.cy + off.dy AS cy, "
    "CAST(sum(ci.x) AS BIGINT) AS g, CAST(count(*) AS BIGINT) AS k "
    "FROM c ci CROSS JOIN off GROUP BY 1, 2, 3), "
    "gi AS (SELECT c.d, c.cx, c.cy, "
    "CAST(tot.n * hood.g - hood.k * tot.t AS DOUBLE) / sqrt("
    "CAST(tot.n * tot.ss - tot.t * tot.t AS DOUBLE) "
    "* CAST(tot.n * hood.k - hood.k * hood.k AS DOUBLE) "
    "/ CAST(tot.n - 1 AS DOUBLE)) AS gi "
    "FROM c JOIN hood ON hood.d = c.d AND hood.cx = c.cx AND hood.cy = c.cy "
    "JOIN tot ON tot.d = c.d "
    "WHERE tot.n > 1 AND tot.n * tot.ss - tot.t * tot.t > 0 "
    "AND tot.n * hood.k - hood.k * hood.k > 0), "
    "pairs AS (SELECT a.cx, a.cy, "
    "CAST(sum(CAST(sign(b.gi - a.gi) AS BIGINT)) AS BIGINT) AS s_stat "
    "FROM gi a JOIN gi b ON a.cx = b.cx AND a.cy = b.cy AND a.d < b.d "
    "GROUP BY 1, 2), "
    "nn AS (SELECT cx, cy, CAST(count(*) AS BIGINT) AS n_obs "
    "FROM gi GROUP BY 1, 2), "
    "tt AS (SELECT cx, cy, CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) "
    "AS tie18 FROM (SELECT cx, cy, gi, CAST(count(*) AS BIGINT) AS t "
    "FROM gi GROUP BY 1, 2, 3) GROUP BY 1, 2), "
    "lastgi AS (SELECT cx, cy, arg_max(gi, d) AS gi_last "
    "FROM gi GROUP BY 1, 2), "
    "mk AS (SELECT nn.cx, nn.cy, n_obs, s_stat, "
    "n_obs * (n_obs - 1) * (2 * n_obs + 5) - tie18 AS var18 "
    "FROM nn JOIN pairs USING (cx, cy) JOIN tt USING (cx, cy)), "
    "z AS (SELECT cx, cy, n_obs, s_stat, var18, "
    "CASE WHEN s_stat <> 0 AND var18 > 0 THEN "
    "CAST(s_stat - (CASE WHEN s_stat > 0 THEN 1 ELSE -1 END) AS DOUBLE) "
    "/ sqrt(CAST(var18 AS DOUBLE) / 18.0) ELSE 0.0 END AS z_trend "
    "FROM mk) "
    "SELECT z.cx, z.cy, n_obs, s_stat, var18, z_trend, gi_last, "
    "CASE WHEN gi_last >= 1.645 AND z_trend >= 1.645 "
    "THEN 'intensifying_hot' "
    "WHEN gi_last >= 1.645 AND z_trend <= -1.645 THEN 'diminishing_hot' "
    "WHEN gi_last >= 1.645 THEN 'persistent_hot' "
    "WHEN gi_last <= -1.645 AND z_trend <= -1.645 "
    "THEN 'intensifying_cold' "
    "WHEN gi_last <= -1.645 AND z_trend >= 1.645 THEN 'diminishing_cold' "
    "WHEN gi_last <= -1.645 THEN 'persistent_cold' ELSE 'none' END AS label "
    "FROM z JOIN lastgi USING (cx, cy) WHERE n_obs >= 10"
)


def q_coverage_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing delivery hours per event_type (``stats.coverage_gaps``)
    — which hours inside each feed's observed span produced ZERO
    events, the completeness audit upstream of `rate_anomaly` (a
    missing hour never even reaches the z-score).  Integer timestamp
    arithmetic only.  Shape: distinct (type, hour) with map-side
    combine, series-sized span explode, anti-join on the same key."""
    from .operators import stats

    ev = _read(spark, sf_dir, "events").select("event_type", "ts")
    return stats.coverage_gaps(ev, ["event_type"], "ts", "hour")


ORACLE_COVERAGE_GAPS = (
    "WITH obs AS (SELECT DISTINCT event_type, date_trunc('hour', ts) "
    "AS bucket FROM events), "
    "span AS (SELECT event_type, min(bucket) AS mn, max(bucket) AS mx "
    "FROM obs GROUP BY 1), "
    "f AS (SELECT event_type, unnest(generate_series(mn, mx, "
    "INTERVAL 1 HOUR)) AS bucket FROM span) "
    "SELECT f.event_type, f.bucket AS missing_bucket "
    "FROM f ANTI JOIN obs USING (event_type, bucket)"
)


def q_cusum_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM sustained-shift alarms on the hourly event-rate series
    (``stats.cusum_alarms``, allowance 0.2·mean, threshold 3·mean) —
    the third leg of the rate-monitoring family: `rate_anomaly` flags
    point spikes, `trend_test` whole-series drift, CUSUM a level change
    that HOLDS.  The max(0, ·) recursion is replaced by its closed form
    prefix_sum − min(0, running_min(prefix_sum)) — two stacked windows
    over ONE per-type exchange; everything before the one reporting
    division is 1000·n-cleared BIGINT arithmetic."""
    from .operators import stats

    ev = _read(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    )
    c = ev.groupBy("event_type", "hour").agg(F.count("*").alias("n"))
    return stats.cusum_alarms(c, ["event_type"], "hour", "n",
                              allowance_permille=200,
                              threshold_permille=3000)


ORACLE_CUSUM_ALARM = (
    "WITH c AS (SELECT event_type, date_trunc('hour', ts) AS hour, "
    "CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2), "
    "m AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS t, "
    "CAST(count(*) AS BIGINT) AS nb FROM c GROUP BY 1), "
    "y AS (SELECT c.event_type, hour, n, t, "
    "1000 * nb * n - 1200 * t AS yv FROM c JOIN m USING (event_type)), "
    "p AS (SELECT *, CAST(sum(yv) OVER w AS BIGINT) AS pf FROM y "
    "WINDOW w AS (PARTITION BY event_type ORDER BY hour "
    "ROWS UNBOUNDED PRECEDING)), "
    "s AS (SELECT *, pf - least(0, CAST(min(pf) OVER w AS BIGINT)) AS sc "
    "FROM p WINDOW w AS (PARTITION BY event_type ORDER BY hour "
    "ROWS UNBOUNDED PRECEDING)) "
    "SELECT event_type, hour, n, "
    "CAST(sc AS DOUBLE) / (1000.0 * CAST(t AS DOUBLE)) AS s_means "
    "FROM s WHERE sc >= 3000 * t"
)


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pooled Flesch reading-ease per language (``text.readability``)
    — corpus-mix complexity profile from three split→filter→size
    counts (words / sentence runs / vowel-group syllables), ONE
    map-side-combined exchange, two exact divisions over BIGINT
    totals with shared literal coefficients."""
    from .operators import text

    docs = _read(spark, sf_dir, "documents").select("lang", "text")
    return text.readability(docs, "text", "lang")


ORACLE_READABILITY = (
    "WITH d AS (SELECT lang, lower(text) AS low FROM documents "
    "WHERE text IS NOT NULL), "
    "c AS (SELECT lang, "
    "CAST(len(list_filter(string_split_regex(low, '[^a-z0-9]+'), "
    "t -> t <> '')) AS BIGINT) AS w, "
    "CAST(greatest(1, len(list_filter(string_split_regex(low, "
    "'[.!?]+'), t -> t <> ''))) AS BIGINT) AS s, "
    "CAST(len(list_filter(string_split_regex(low, '[^aeiouy]+'), "
    "t -> t <> '')) AS BIGINT) AS y FROM d), "
    "ag AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(sum(w) AS BIGINT) AS words, CAST(sum(s) AS BIGINT) AS sentences, "
    "CAST(sum(y) AS BIGINT) AS syllables FROM c GROUP BY 1) "
    "SELECT lang, n_docs, words, sentences, syllables, "
    "206.835 - 1.015 * (CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE)) "
    "- 84.6 * (CAST(syllables AS DOUBLE) / CAST(words AS DOUBLE)) "
    "AS flesch FROM ag"
)


def q_media_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document media-asset reuse over the interleaved payload —
    the boilerplate-image detector for interleaved corpora (a media_ref
    shared by many documents is navigation chrome / a tracking pixel,
    not content; dedup pipelines drop or down-weight those spans).
    Spans are synthesized string-encoded ('kind:payload') from doc_id
    with PLANTED reuse (two media spans per doc, refs doc_id mod 97 and
    7·doc_id+13 mod 97) so DuckDB rebuilds them bit-exactly; the audit
    explodes spans, keeps media kind, and reports refs appearing in ≥ 2
    documents.  Shape: map-side span synthesis + explode, ONE
    map-side-combined exchange on media_ref, TakeOrderedAndProject
    top-20."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    spans = docs.select(
        "doc_id",
        F.array(
            F.concat(F.lit("text:"), F.substring("text", 1, 20)),
            F.format_string("media:media://blob/%d",
                            F.pmod(F.col("doc_id"), F.lit(97))),
            F.concat(F.lit("text:"), F.substring("text", 21, 20)),
            F.format_string(
                "media:media://blob/%d",
                F.pmod(F.col("doc_id") * 7 + 13, F.lit(97))),
        ).alias("spans"),
    )
    media = (
        spans.select("doc_id", F.explode("spans").alias("sp"))
        .where(F.col("sp").startswith("media:"))
        .select("doc_id", F.substring("sp", 7, 1000).alias("media_ref"))
    )
    return (
        media.groupBy("media_ref")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_spans"),
        )
        .where(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), F.desc("n_spans"), "media_ref")
        .limit(20)
    )


ORACLE_MEDIA_REUSE = (
    "WITH spans AS (SELECT doc_id, unnest([ "
    "'text:' || substr(text, 1, 20), "
    "'media:media://blob/' || CAST(doc_id % 97 AS VARCHAR), "
    "'text:' || substr(text, 21, 20), "
    "'media:media://blob/' || CAST((doc_id * 7 + 13) % 97 AS VARCHAR)]) "
    "AS sp FROM documents), "
    "media AS (SELECT doc_id, substr(sp, 7) AS media_ref FROM spans "
    "WHERE sp LIKE 'media:%'), "
    "ag AS (SELECT media_ref, CAST(count(DISTINCT doc_id) AS BIGINT) "
    "AS n_docs, CAST(count(*) AS BIGINT) AS n_spans "
    "FROM media GROUP BY 1) "
    "SELECT media_ref, n_docs, n_spans FROM ag WHERE n_docs >= 2 "
    "ORDER BY n_docs DESC, n_spans DESC, media_ref LIMIT 20"
)


def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution with latency buckets: every purchase is
    attributed to the SAME user's most recent prior click — the
    marketing-funnel companion of `event_funnel` (which needs only
    step order, not recency).  The last-click timestamp is a running
    max(CASE click) window over each user's event stream — ONE
    exchange on user_id, no self-join, no as-of shuffle — and the
    click→purchase latency buckets to (≤1 h, 1-6 h, 6-24 h, >24 h,
    never).  Integer microsecond arithmetic end-to-end.  Output:
    (bucket, n_purchases)."""
    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    )
    w = (
        Window.partitionBy("user_id").orderBy("us", "event_type")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    last_click = F.max(
        F.when(F.col("event_type") == "click", F.col("us"))
    ).over(w)
    purchases = (
        ev.withColumn("_lc", last_click)
        .where(F.col("event_type") == "purchase")
        .select((F.col("us") - F.col("_lc")).alias("lat_us"))
    )
    hour_us = 3_600_000_000
    bucket = (
        F.when(F.col("lat_us").isNull(), F.lit("never"))
        .when(F.col("lat_us") <= hour_us, F.lit("within_1h"))
        .when(F.col("lat_us") <= 6 * hour_us, F.lit("1h_to_6h"))
        .when(F.col("lat_us") <= 24 * hour_us, F.lit("6h_to_24h"))
        .otherwise(F.lit("over_24h"))
    )
    return (
        purchases.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_purchases"))
    )


ORACLE_ATTRIBUTION = (
    "WITH ev AS (SELECT user_id, event_type, "
    "epoch_us(ts) AS us FROM events), "
    "lc AS (SELECT user_id, event_type, us, "
    "max(CASE WHEN event_type = 'click' THEN us END) OVER "
    "(PARTITION BY user_id ORDER BY us, event_type "
    "ROWS UNBOUNDED PRECEDING) AS lcus FROM ev), "
    "p AS (SELECT us - lcus AS lat_us FROM lc "
    "WHERE event_type = 'purchase'), "
    "b AS (SELECT CASE WHEN lat_us IS NULL THEN 'never' "
    "WHEN lat_us <= 3600000000 THEN 'within_1h' "
    "WHEN lat_us <= 21600000000 THEN '1h_to_6h' "
    "WHEN lat_us <= 86400000000 THEN '6h_to_24h' "
    "ELSE 'over_24h' END AS bucket FROM p) "
    "SELECT bucket, CAST(count(*) AS BIGINT) AS n_purchases "
    "FROM b GROUP BY 1"
)


def q_zonal_majority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal majority (mode) class per zone — the categorical-raster
    companion of `zonal_stats`' numeric reductions (land-cover class,
    dominant sensor, majority vote): tiles carry a 7-class code derived
    from tile_id, and each zone reports its most frequent class with a
    deterministic (count DESC, class ASC) tie-break plus its share.
    Shape: the zonal_join pair stream collapses to (zone, class) counts
    map-side-combined; the rank window runs per zone over ≤ 7 rows."""
    from .operators import zonal

    pairs = zonal.zonal_join(
        _inline_tiles(spark), _shifted_zone_rects(spark), res=10
    ).select("zone_id", F.pmod(F.col("tile_id"), F.lit(7)).alias("cls"))
    cnt = pairs.groupBy("zone_id", "cls").agg(F.count("*").alias("n"))
    tot = cnt.groupBy("zone_id").agg(F.sum("n").alias("n_total"))
    w = Window.partitionBy("zone_id").orderBy(F.desc("n"), F.asc("cls"))
    top = (
        cnt.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("zone_id", F.col("cls").alias("top_class"),
                F.col("n").alias("n_top"))
    )
    return top.join(tot, "zone_id").select(
        "zone_id", "top_class", "n_top", "n_total",
        (F.col("n_top").cast("double") / F.col("n_total").cast("double"))
        .alias("share"),
    )


ORACLE_ZONAL_MAJORITY = (
    f"WITH p AS ({ORACLE_ZONAL_PAIRS}), "
    "c AS (SELECT zone_id, tile_id % 7 AS cls, CAST(count(*) AS BIGINT) "
    "AS n FROM p GROUP BY 1, 2), "
    "t AS (SELECT zone_id, CAST(sum(n) AS BIGINT) AS n_total "
    "FROM c GROUP BY 1), "
    "r AS (SELECT zone_id, cls, n, row_number() OVER "
    "(PARTITION BY zone_id ORDER BY n DESC, cls ASC) AS rk FROM c) "
    "SELECT r.zone_id, r.cls AS top_class, r.n AS n_top, t.n_total, "
    "CAST(r.n AS DOUBLE) / CAST(t.n_total AS DOUBLE) AS share "
    "FROM r JOIN t USING (zone_id) WHERE rk = 1"
)


def q_behavior_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral diversity: Shannon entropy of the user's
    event-type mix, H = (n·ln n − Σ c·ln c)/n — the engagement-breadth
    feature next to `event_transitions`' sequence structure.  Every log
    argument is an INTEGER count (the source_kl trick): per-term logs
    round at 6 dp into decimals BEFORE the count multiplies them, the
    per-user fold is a decimal sum, and the final division rounds at
    9 dp — bit-exact.  Shape: one (user, type) count exchange, then
    per-user frames of ≤ |event types| rows."""
    ev = _read(spark, sf_dir, "events").select("user_id", "event_type")
    c = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("c"))
    term = (
        F.round(F.log("c"), 6).cast("decimal(18,6)")
        * F.col("c").cast("decimal(18,0)")
    ).cast("decimal(38,6)")
    agg = c.groupBy("user_id").agg(
        F.sum("c").alias("n_events"),
        F.count("*").alias("n_types"),
        F.sum(term).alias("_sum_clnc"),
    )
    nln = (
        F.round(F.log("n_events"), 6).cast("decimal(18,6)")
        * F.col("n_events").cast("decimal(18,0)")
    ).cast("decimal(38,6)")
    h = F.round(
        (nln - F.col("_sum_clnc")).cast("double")
        / F.col("n_events").cast("double"),
        9,
    )
    return agg.select("user_id", "n_events", "n_types",
                      h.alias("entropy_r"))


ORACLE_BEHAVIOR_ENTROPY = (
    "WITH c AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c "
    "FROM events GROUP BY 1, 2), "
    "a AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n_events, "
    "CAST(count(*) AS BIGINT) AS n_types, "
    "CAST(sum(CAST(CAST(round(ln(c), 6) AS DECIMAL(18,6)) "
    "* CAST(c AS DECIMAL(18,0)) AS DECIMAL(38,6))) AS DECIMAL(38,6)) "
    "AS sum_clnc FROM c GROUP BY 1) "
    "SELECT user_id, n_events, n_types, "
    "round(CAST(CAST(CAST(round(ln(n_events), 6) AS DECIMAL(18,6)) "
    "* CAST(n_events AS DECIMAL(18,0)) AS DECIMAL(38,6)) - sum_clnc "
    "AS DOUBLE) / CAST(n_events AS DOUBLE), 9) AS entropy_r FROM a"
)


_ROUTES = [
    (
        r,
        [
            (
                49_000_000 + (r * 7919 + j * 104729 + 13) % 990_000,
                -123_500_000 + (r * 104729 + j * 7919 + 29) % 996_000,
            )
            for j in range(20)
        ],
    )
    for r in range(5)
]


def q_hausdorff_routes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed-Hausdorff route matching (``trajectory.route_hausdorff``):
    each user's downsampled track (every 16th fix) is assigned to the
    canonical route minimizing max-min squared distance — the
    which-corridor-does-this-trace-follow classifier.  Distances are
    squared integer microdegrees, so every fold is BIGINT-exact.

    Shape: the 5×20 route dimension folds INLINE per point row (100
    codegen comparisons — zero joins, zero Python); ONE map-side-
    combined exchange on user_id; the argmin over routes is an
    array_min on the |routes|-wide aggregated row."""
    from .operators import trajectory

    pts = (
        _event_pts(spark, sf_dir)
        .where(F.col("event_id") % 16 == 0)
        .select(
            "user_id",
            F.round(F.col("lat") * 1_000_000.0).cast("long").alias("ilat"),
            F.round(F.col("lon") * 1_000_000.0).cast("long").alias("ilon"),
        )
    )
    out = trajectory.route_hausdorff(pts, _ROUTES)
    return out.select(
        "user_id", "n_points",
        F.col("best_route").cast("long").alias("best_route"), "h_sq_udeg",
    )


ORACLE_HAUSDORFF_ROUTES = (
    f"WITH pts AS ({_EVENT_PTS_SQL}), "
    "ip AS (SELECT event_id, user_id, "
    "CAST(round(lat * 1000000.0) AS BIGINT) AS ilat, "
    "CAST(round(lon * 1000000.0) AS BIGINT) AS ilon "
    "FROM pts WHERE event_id % 16 = 0), "
    "routes AS (SELECT r.r AS rid, "
    "49000000 + (r.r * 7919 + j.j * 104729 + 13) % 990000 AS vlat, "
    "-123500000 + (r.r * 104729 + j.j * 7919 + 29) % 996000 AS vlon "
    "FROM range(5) r(r) CROSS JOIN range(20) j(j)), "
    "pm AS (SELECT user_id, event_id, rid, "
    "min((ilat - vlat) * (ilat - vlat) + (ilon - vlon) * (ilon - vlon)) "
    "AS m FROM ip CROSS JOIN routes GROUP BY 1, 2, 3), "
    "hh AS (SELECT user_id, rid, CAST(max(m) AS BIGINT) AS h "
    "FROM pm GROUP BY 1, 2), "
    "np AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_points "
    "FROM ip GROUP BY 1), "
    "rk AS (SELECT user_id, rid, h, row_number() OVER "
    "(PARTITION BY user_id ORDER BY h, rid) AS rk FROM hh) "
    "SELECT rk.user_id, np.n_points, CAST(rid AS BIGINT) AS best_route, "
    "h AS h_sq_udeg FROM rk JOIN np USING (user_id) WHERE rk.rk = 1"
)


def q_voronoi_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voronoi-partition statistics: every event point is assigned to
    its nearest of 25 facility sites (derived deterministically from the
    nation dimension) and each site reports its demand count + mean
    squared distance — the nearest-facility rollup behind coverage and
    siting analyses.  Distances are squared integer microdegrees with a
    (d², site) struct-min tie-break, so assignment is BIGINT-exact.

    Shape: the site dimension is a bounded 25-row driver collect (the
    clustering-centroid pattern) folded INLINE as an array_min over
    (d², key) structs — zero joins, no per-event exchange; the ONLY
    shuffle is the map-side-combined per-site rollup (≤ 25 rows out).
    Per-site d² sums stay ≤ 2e12 · corpus-rows — BIGINT headroom to
    ~4·10^6 rows/site·partition before the partial would need a decimal
    widening."""
    sites = [
        (
            int(k),
            49_000_000 + (int(k) * 104_729 + 17) % 990_000,
            -123_500_000 + (int(k) * 7_919 + 41) % 996_000,
        )
        for (k,) in _read(spark, sf_dir, "nation")
        .select("n_nationkey").collect()
    ]
    pts = _event_pts(spark, sf_dir).select(
        F.round(F.col("lat") * 1_000_000.0).cast("long").alias("ilat"),
        F.round(F.col("lon") * 1_000_000.0).cast("long").alias("ilon"),
    )
    ila, ilo = F.col("ilat"), F.col("ilon")
    best = F.array_min(
        F.array(*[
            F.struct(
                (
                    (ila - F.lit(slat)) * (ila - F.lit(slat))
                    + (ilo - F.lit(slon)) * (ilo - F.lit(slon))
                ).alias("d2"),
                F.lit(key).cast("long").alias("k"),
            )
            for key, slat, slon in sites
        ])
    )
    assigned = pts.select(
        best["k"].alias("site_key"), best["d2"].alias("_d2")
    )
    return assigned.groupBy("site_key").agg(
        F.count("*").alias("n_events"),
        F.sum("_d2").alias("sum_d2"),
    ).select(
        "site_key", "n_events", "sum_d2",
        F.round(
            F.col("sum_d2").cast("double") / F.col("n_events").cast("double"),
            6,
        ).alias("mean_d2"),
    )


ORACLE_VORONOI_STATS = (
    f"WITH pts AS ({_EVENT_PTS_SQL}), "
    "ip AS (SELECT event_id, "
    "CAST(round(lat * 1000000.0) AS BIGINT) AS ilat, "
    "CAST(round(lon * 1000000.0) AS BIGINT) AS ilon FROM pts), "
    "sites AS (SELECT CAST(n_nationkey AS BIGINT) AS site_key, "
    "49000000 + (CAST(n_nationkey AS BIGINT) * 104729 + 17) % 990000 AS slat, "
    "-123500000 + (CAST(n_nationkey AS BIGINT) * 7919 + 41) % 996000 AS slon "
    "FROM nation), "
    "d AS (SELECT event_id, site_key, "
    "(ilat - slat) * (ilat - slat) + (ilon - slon) * (ilon - slon) AS d2 "
    "FROM ip CROSS JOIN sites), "
    "rk AS (SELECT event_id, site_key, d2, row_number() OVER "
    "(PARTITION BY event_id ORDER BY d2, site_key) AS rk FROM d) "
    "SELECT site_key, CAST(count(*) AS BIGINT) AS n_events, "
    "CAST(sum(d2) AS BIGINT) AS sum_d2, "
    "round(CAST(sum(d2) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) "
    "AS mean_d2 FROM rk WHERE rk = 1 GROUP BY site_key"
)


def q_hex_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hexagonal binning of the event point cloud: pointy-top axial hex
    coordinates at 0.05° size via the classic cube-rounding algorithm
    (fractional axial → cube → round each → fix the largest-residual
    axis), reporting the 30 densest hexes — the honeycomb aggregation
    cartographers prefer over square grids (uniform neighbor distance,
    no visual axis bias).

    Exactness: both engines evaluate the IDENTICAL double expression
    tree (shared literal 1/√3 and 2/3 coefficients, floor(v+0.5)
    half-up rounding, strict > comparisons in the axis fix), so the
    hex ids hash-match bit-for-bit.  Shape: pure map-side Column math,
    ONE map-side-combined exchange on (q, r), TakeOrderedAndProject
    top-30."""
    inv_sqrt3 = 0.5773502691896258
    pts = _event_pts(spark, sf_dir)
    x, y = F.col("lon"), F.col("lat")
    qf = (x * F.lit(inv_sqrt3) - y * F.lit(0.3333333333333333)) * F.lit(20.0)
    rf = (y * F.lit(0.6666666666666666)) * F.lit(20.0)
    staged = pts.select(qf.alias("qf"), rf.alias("rf"))
    yf = -F.col("qf") - F.col("rf")
    rx = F.floor(F.col("qf") + F.lit(0.5))
    ry = F.floor(yf + F.lit(0.5))
    rz = F.floor(F.col("rf") + F.lit(0.5))
    cube = staged.select(
        "qf", "rf", yf.alias("yf"),
        rx.alias("rx"), ry.alias("ry"), rz.alias("rz"),
    )
    dx = F.abs(F.col("rx").cast("double") - F.col("qf"))
    dy = F.abs(F.col("ry").cast("double") - F.col("yf"))
    dz = F.abs(F.col("rz").cast("double") - F.col("rf"))
    hq = F.when(
        (dx > dy) & (dx > dz), -F.col("ry") - F.col("rz")
    ).otherwise(F.col("rx"))
    hr = F.when(
        (dx > dy) & (dx > dz), F.col("rz")
    ).when(dy > dz, F.col("rz")).otherwise(-F.col("rx") - F.col("ry"))
    hexes = cube.select(hq.alias("hex_q"), hr.alias("hex_r"))
    return (
        hexes.groupBy("hex_q", "hex_r")
        .agg(F.count("*").alias("n_events"))
        .orderBy(F.desc("n_events"), "hex_q", "hex_r")
        .limit(30)
    )


ORACLE_HEX_BIN = (
    f"WITH pts AS ({_EVENT_PTS_SQL}), "
    "ax AS (SELECT "
    "(lon * 0.5773502691896258 - lat * 0.3333333333333333) * 20.0 AS qf, "
    "(lat * 0.6666666666666666) * 20.0 AS rf FROM pts), "
    "cb AS (SELECT qf, rf, -qf - rf AS yf, "
    "CAST(floor(qf + 0.5) AS BIGINT) AS rx, "
    "CAST(floor(-qf - rf + 0.5) AS BIGINT) AS ry, "
    "CAST(floor(rf + 0.5) AS BIGINT) AS rz FROM ax), "
    "fx AS (SELECT "
    "CASE WHEN abs(CAST(rx AS DOUBLE) - qf) > abs(CAST(ry AS DOUBLE) - yf) "
    "AND abs(CAST(rx AS DOUBLE) - qf) > abs(CAST(rz AS DOUBLE) - rf) "
    "THEN -ry - rz ELSE rx END AS hex_q, "
    "CASE WHEN abs(CAST(rx AS DOUBLE) - qf) > abs(CAST(ry AS DOUBLE) - yf) "
    "AND abs(CAST(rx AS DOUBLE) - qf) > abs(CAST(rz AS DOUBLE) - rf) "
    "THEN rz "
    "WHEN abs(CAST(ry AS DOUBLE) - yf) > abs(CAST(rz AS DOUBLE) - rf) "
    "THEN rz ELSE -rx - ry END AS hex_r FROM cb) "
    "SELECT hex_q, hex_r, CAST(count(*) AS BIGINT) AS n_events FROM fx "
    "GROUP BY 1, 2 ORDER BY n_events DESC, hex_q, hex_r LIMIT 30"
)


def q_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: for every ordered pair of event types,
    how many users perform both, with the Jaccard of their audiences —
    the cross-feature co-engagement view next to `source_overlap`'s
    vocabulary version (here the SETS are users, not tokens).  Integer
    counts, one mirrored division.

    Shape: the corpus collapses to distinct (type, user) rows in ONE
    exchange; the pair join runs on that membership frame keyed by
    user (each user contributes |their types|² ≤ 25 pairs map-side
    after a per-user collect_set — never a corpus self-join)."""
    ev = _read(spark, sf_dir, "events").select("event_type", "user_id")
    membership = ev.distinct()
    per_user = membership.groupBy("user_id").agg(
        F.array_sort(F.collect_set("event_type")).alias("types")
    )
    pairs = per_user.select(
        F.explode(
            F.expr(
                "flatten(transform(sequence(0, size(types) - 2), "
                "i -> transform(sequence(i + 1, size(types) - 1), "
                "j -> struct(types[i] AS type_a, types[j] AS type_b))))"
            )
        ).alias("p")
    ).select("p.type_a", "p.type_b")
    both = pairs.groupBy("type_a", "type_b").agg(
        F.count("*").alias("n_both")
    )
    aud = membership.groupBy("event_type").agg(
        F.count("*").alias("n_aud")
    )
    a = aud.select(F.col("event_type").alias("type_a"),
                   F.col("n_aud").alias("aud_a"))
    b = aud.select(F.col("event_type").alias("type_b"),
                   F.col("n_aud").alias("aud_b"))
    return (
        both.join(F.broadcast(a), "type_a")
        .join(F.broadcast(b), "type_b")
        .select(
            "type_a", "type_b", "n_both", "aud_a", "aud_b",
            F.round(
                F.col("n_both").cast("double")
                / (F.col("aud_a") + F.col("aud_b") - F.col("n_both"))
                .cast("double"),
                9,
            ).alias("jaccard_r"),
        )
    )


ORACLE_AUDIENCE_OVERLAP = (
    "WITH m AS (SELECT DISTINCT event_type, user_id FROM events), "
    "p AS (SELECT x.event_type AS type_a, y.event_type AS type_b "
    "FROM m x JOIN m y ON y.user_id = x.user_id "
    "AND x.event_type < y.event_type), "
    "b AS (SELECT type_a, type_b, CAST(count(*) AS BIGINT) AS n_both "
    "FROM p GROUP BY 1, 2), "
    "aud AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_aud "
    "FROM m GROUP BY 1) "
    "SELECT b.type_a, b.type_b, b.n_both, "
    "xa.n_aud AS aud_a, xb.n_aud AS aud_b, "
    "round(CAST(b.n_both AS DOUBLE) "
    "/ CAST(xa.n_aud + xb.n_aud - b.n_both AS DOUBLE), 9) AS jaccard_r "
    "FROM b JOIN aud xa ON xa.event_type = b.type_a "
    "JOIN aud xb ON xb.event_type = b.type_b"
)


def q_series_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-peak detection on the hourly rate series: hours whose
    count strictly exceeds BOTH neighbors and is ≥ 2× the trailing mean
    of the type's 24 previous series rows — hours with events, so a
    gapped series looks back further than 24 hours (integer-cleared:
    24·n > 2·trailing_sum with a full baseline) — the discrete-event companion of `rate_anomaly`'s
    z-scores (a peak is shape-local; a z-alarm is variance-relative).
    All-integer predicate — bit-exact.

    Shape: lag, lead, and the trailing frame share ONE window exchange
    per type on the series frame."""
    ev = _read(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    )
    c = ev.groupBy("event_type", "hour").agg(F.count("*").alias("n"))
    w = Window.partitionBy("event_type").orderBy("hour")
    wtr = w.rowsBetween(-24, -1)
    staged = c.select(
        "event_type", "hour", "n",
        F.lag("n").over(w).alias("_prev"),
        F.lead("n").over(w).alias("_next"),
        F.count("n").over(wtr).alias("_m"),
        F.sum("n").over(wtr).alias("_ts"),
    )
    return staged.where(
        F.col("_prev").isNotNull() & F.col("_next").isNotNull()
        & (F.col("n") > F.col("_prev")) & (F.col("n") > F.col("_next"))
        & (F.col("_m") == 24)
        & (F.col("n") * 24 > F.col("_ts") * 2)
    ).select(
        "event_type", "hour", "n",
        F.col("_prev").alias("n_prev"), F.col("_next").alias("n_next"),
        F.col("_ts").alias("trailing_sum"),
    )


ORACLE_SERIES_PEAKS = (
    "WITH c AS (SELECT event_type, date_trunc('hour', ts) AS hour, "
    "CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2), "
    "s AS (SELECT event_type, hour, n, "
    "lag(n) OVER w AS prev, lead(n) OVER w AS next, "
    "CAST(count(n) OVER (PARTITION BY event_type ORDER BY hour "
    "ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS BIGINT) AS m, "
    "CAST(sum(n) OVER (PARTITION BY event_type ORDER BY hour "
    "ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS BIGINT) AS ts "
    "FROM c WINDOW w AS (PARTITION BY event_type ORDER BY hour)) "
    "SELECT event_type, hour, n, prev AS n_prev, next AS n_next, "
    "ts AS trailing_sum FROM s "
    "WHERE prev IS NOT NULL AND next IS NOT NULL "
    "AND n > prev AND n > next AND m = 24 AND n * 24 > ts * 2"
)


def q_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the behavioral Markov chain: from the
    uniform π = round(1/n, 12) over the n event types, 12
    decimal-fixed-point power iterations π ← πP over the event-type
    transition matrix (`event_transitions`' counts row-normalized) —
    the long-run behavioral mix the chain converges to, independent of
    where users start.  Exactness is the pagerank recipe at matrix
    scale: every iteration's terms are round(π·p, 12) DECIMALs summed
    exactly (order-independent), so 12 iterations land on identical
    decimals in any engine; p itself is one rational double n/r shared
    by both sides.

    Shape: the chain is |event types|² rows — every iteration is a
    tiny broadcast join + agg; the ONLY corpus-sized work is the one
    transition-count window `event_transitions` already pays."""
    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = ev.select(
        F.lag("event_type").over(w).alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).where(F.col("from_type").isNotNull())
    cnt = tr.groupBy("from_type", "to_type").agg(F.count("*").alias("n"))
    tot = cnt.groupBy("from_type").agg(F.sum("n").alias("r"))
    p = cnt.join(tot, "from_type").select(
        "from_type", "to_type",
        (F.col("n").cast("double") / F.col("r").cast("double")).alias("p"),
    ).localCheckpoint()
    # uniform start π = round(1/n, 12) over the n states, as the oracle
    n_states = tot.count()
    pi = tot.select(
        F.col("from_type").alias("state"),
        F.round(F.lit(1.0) / F.lit(n_states), 12).cast("decimal(20,12)").alias("pi"),
    )
    for _ in range(12):
        term = (
            pi.join(p, pi["state"] == p["from_type"])
            .select(
                F.col("to_type").alias("state"),
                F.round(
                    F.col("pi").cast("double") * F.col("p"), 12
                ).cast("decimal(20,12)").alias("_t"),
            )
        )
        pi = term.groupBy("state").agg(
            F.sum("_t").cast("decimal(20,12)").alias("pi")
        )
    return pi.select(
        "state", F.col("pi").cast("double").alias("pi_r")
    )


def _oracle_markov_stationary(iters: int = 12) -> str:
    parts = [
        "WITH tr AS (SELECT lag(event_type) OVER "
        "(PARTITION BY user_id ORDER BY ts, event_id) AS from_type, "
        "event_type AS to_type FROM events), "
        "cnt AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n "
        "FROM tr WHERE from_type IS NOT NULL GROUP BY 1, 2), "
        "tot AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS r "
        "FROM cnt GROUP BY 1), "
        "p AS MATERIALIZED (SELECT cnt.from_type, cnt.to_type, "
        "CAST(n AS DOUBLE) / CAST(r AS DOUBLE) AS p "
        "FROM cnt JOIN tot USING (from_type)), "
        "pi0 AS (SELECT from_type AS state, "
        "CAST(round(1.0 / (SELECT count(*) FROM tot), 12) AS DECIMAL(20,12)) "
        "AS pi FROM tot)"
    ]
    for i in range(iters):
        parts.append(
            f"pi{i + 1} AS MATERIALIZED (SELECT p.to_type AS state, "
            f"CAST(sum(CAST(round(CAST(pi{i}.pi AS DOUBLE) * p.p, 12) "
            f"AS DECIMAL(20,12))) AS DECIMAL(20,12)) AS pi "
            f"FROM pi{i} JOIN p ON p.from_type = pi{i}.state GROUP BY 1)"
        )
    return (
        ", ".join(parts)
        + f" SELECT state, CAST(pi AS DOUBLE) AS pi_r FROM pi{iters}"
    )


def q_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar seasonality heatmap: event share by (type, day-of-week,
    hour-of-day) — the weekly rhythm a capacity planner or
    anomaly-baseline needs (rate_anomaly's trailing window deliberately
    forgets it).  Day-of-week computes as (epoch_days + 4) mod 7
    (0 = Sunday) — pure integer arithmetic, immune to the engines'
    different DAYOFWEEK numbering conventions.  One map-side-combined
    exchange on the 7·24·|types| key space; shares are one mirrored
    double division."""
    ev = _read(spark, sf_dir, "events").select(
        "event_type",
        F.pmod(F.unix_date(F.col("ts").cast("date")) + F.lit(4), F.lit(7))
        .alias("dow"),
        F.hour("ts").alias("hod"),
    )
    c = ev.groupBy("event_type", "dow", "hod").agg(
        F.count("*").alias("n")
    )
    tot = c.groupBy("event_type").agg(F.sum("n").alias("_t"))
    return c.join(tot, "event_type").select(
        "event_type", "dow", "hod", "n",
        F.round(
            F.col("n").cast("double") / F.col("_t").cast("double"), 9
        ).alias("share_r"),
    )


ORACLE_SEASONALITY_PROFILE = (
    "WITH e AS (SELECT event_type, "
    "(CAST(epoch_us(CAST(CAST(ts AS DATE) AS TIMESTAMP)) // 86400000000 "
    "AS BIGINT) + 4) % 7 AS dow, "
    "CAST(hour(ts) AS INTEGER) AS hod FROM events), "
    "c AS (SELECT event_type, dow, hod, CAST(count(*) AS BIGINT) AS n "
    "FROM e GROUP BY 1, 2, 3), "
    "t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS tt "
    "FROM c GROUP BY 1) "
    "SELECT c.event_type, c.dow, c.hod, c.n, "
    "round(CAST(c.n AS DOUBLE) / CAST(t.tt AS DOUBLE), 9) AS share_r "
    "FROM c JOIN t USING (event_type)"
)


def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the doc link graph: Pearson r of the
    endpoint degrees over all directed stubs (each undirected edge
    counted both ways — the standard Newman estimator) — do hubs link
    hubs (assortative, r>0) or periphery (disassortative, r<0)?  The
    graph-QC scalar completing `clustering_coeff` (local) and `kcore`
    (mesoscale).  BIGINT moment sums; one double formula mirrored."""
    from .operators import graph  # noqa: F401  (family anchor)

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    n_df = docs.agg(F.count("*").alias("_n"))
    edges = (
        docs.crossJoin(F.broadcast(n_df))
        .select(
            "doc_id", "_n",
            F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("j"),
        )
        .select(
            F.col("doc_id").alias("src"),
            F.expr("(doc_id * 7919 + j * 104729 + 13) % _n").alias("dst"),
        )
    )
    ce = (
        edges.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )
    adj = ce.select(F.col("a").alias("node"), F.col("b").alias("nb")).union(
        ce.select(F.col("b").alias("node"), F.col("a").alias("nb"))
    )
    deg = adj.groupBy("node").agg(F.count("*").alias("d"))
    stubs = (
        adj.join(deg.withColumnRenamed("node", "node"), "node")
        .withColumnRenamed("d", "x")
        .join(
            deg.select(F.col("node").alias("nb"), F.col("d").alias("y")),
            "nb",
        )
    )
    m = stubs.agg(
        F.count("*").alias("n_stubs"),
        F.sum("x").alias("_sx"),
        F.sum("y").alias("_sy"),
        F.sum(F.col("x") * F.col("y")).alias("_sxy"),
        F.sum(F.col("x") * F.col("x")).alias("_sxx"),
        F.sum(F.col("y") * F.col("y")).alias("_syy"),
    )
    num = F.col("n_stubs") * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    den1 = F.col("n_stubs") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    den2 = F.col("n_stubs") * F.col("_syy") - F.col("_sy") * F.col("_sy")
    r = F.round(
        num.cast("double")
        / F.sqrt(den1.cast("double") * den2.cast("double")),
        9,
    )
    return m.select(
        "n_stubs",
        F.when((den1 > 0) & (den2 > 0), r).alias("assortativity_r"),
    )


ORACLE_ASSORTATIVITY = (
    "WITH nn AS (SELECT count(*) AS n FROM documents), "
    "lanes AS (SELECT unnest([0, 1, 2]) AS j), "
    "ed AS (SELECT doc_id AS src, (doc_id * 7919 + j * 104729 + 13) % n "
    "AS dst FROM documents CROSS JOIN nn CROSS JOIN lanes), "
    "ce AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b "
    "FROM ed WHERE src <> dst), "
    "adj AS (SELECT a AS node, b AS nb FROM ce "
    "UNION ALL SELECT b, a FROM ce), "
    "deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d "
    "FROM adj GROUP BY 1), "
    "st AS (SELECT dx.d AS x, dy.d AS y FROM adj "
    "JOIN deg dx ON dx.node = adj.node JOIN deg dy ON dy.node = adj.nb), "
    "m AS (SELECT CAST(count(*) AS BIGINT) AS n_stubs, "
    "CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy, "
    "CAST(sum(x * y) AS BIGINT) AS sxy, "
    "CAST(sum(x * x) AS BIGINT) AS sxx, "
    "CAST(sum(y * y) AS BIGINT) AS syy FROM st) "
    "SELECT n_stubs, "
    "CASE WHEN n_stubs * sxx - sx * sx > 0 "
    "AND n_stubs * syy - sy * sy > 0 THEN "
    "round(CAST(n_stubs * sxy - sx * sy AS DOUBLE) / "
    "sqrt(CAST(n_stubs * sxx - sx * sx AS DOUBLE) "
    "* CAST(n_stubs * syy - sy * sy AS DOUBLE)), 9) END "
    "AS assortativity_r FROM m"
)


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier screen per event type: the
    robust-statistics companion of `robust_stats`' winsorized moments —
    med and MAD are 50%-breakdown estimators, so a contaminated feed
    cannot drag its own fences the way 3σ rules do.  Flags values with
    |v − med| > 3·MAD.  Both quantiles are `percentile`/`quantile_cont`
    mirrors rounded at 6 dp (the group_quantiles convention); every
    comparison then runs on identical doubles.

    Shape: three passes over the keyed corpus (median → deviations+MAD
    → fence count), each ONE map-side-combined agg on event_type with
    the 5-row med/MAD tables broadcast back — no window over corpus
    rows.  At 100 TB swap percentile for percentile_approx (the
    group_quantiles split) — the operator contract keeps the fence
    rule, only the estimator changes."""
    ev = _read(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("med_r")
    )
    d = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "med_r",
        F.abs(F.col("value") - F.col("med_r")).alias("_dev"),
    )
    a = d.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.max("med_r").alias("med_r"),
        F.round(F.expr("percentile(_dev, 0.5)"), 6).alias("mad_r"),
    )
    fenced = d.join(F.broadcast(a.select("event_type", "n", "mad_r")),
                    "event_type")
    return (
        fenced.groupBy("event_type", "n", "mad_r")
        .agg(
            F.sum(
                F.when(F.col("_dev") > 3 * F.col("mad_r"), 1).otherwise(0)
            ).alias("n_outliers")
        )
        .join(F.broadcast(med), "event_type")
        .select("event_type", "n", "med_r", "mad_r", "n_outliers")
    )


ORACLE_MAD_OUTLIERS = (
    "WITH m AS (SELECT event_type, "
    "round(quantile_cont(value, 0.5), 6) AS med_r FROM events GROUP BY 1), "
    "d AS (SELECT e.event_type, m.med_r, "
    "abs(e.value - m.med_r) AS dev FROM events e JOIN m USING (event_type)), "
    "a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, "
    "max(med_r) AS med_r, round(quantile_cont(dev, 0.5), 6) AS mad_r "
    "FROM d GROUP BY 1) "
    "SELECT a.event_type, a.n, a.med_r, a.mad_r, "
    "CAST(sum(CASE WHEN d.dev > 3 * a.mad_r THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_outliers FROM d JOIN a USING (event_type) "
    "GROUP BY 1, 2, 3, 4"
)


def q_anomaly_drilldown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alarm drill-down: for the 5 strongest rate-anomaly hours
    (`rate_anomaly`'s |z| ranking), the top-3 contributing users with
    their share of the hour's volume — the triage view an on-call
    engineer opens next (one scraper account, or organic load?).
    Operator COMPOSITION: the z-score series machinery feeds a
    broadcast semi-join back onto raw events; integer counts, one
    mirrored share division.

    Shape: the alarm table is ≤5 rows (broadcast); events join it
    map-side, user counts partial-combine on (type, hour, user), and
    the top-3 window ranks only each alarm hour's user frame."""
    from .operators import stats

    ev = _read(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour"),
        "user_id",
    )
    c = ev.groupBy("event_type", "hour").agg(F.count("*").alias("n"))
    z = stats.rolling_zscore(c, ["event_type"], "hour", "n",
                             trailing=24, min_obs=12)
    al = (
        z.orderBy(F.abs(F.col("z")).desc(), "event_type", "hour")
        .limit(5)
        .select("event_type", "hour", F.col("n").alias("n_hour"), "z")
    )
    uc = (
        ev.join(F.broadcast(al), ["event_type", "hour"])
        .groupBy("event_type", "hour", "n_hour", "z", "user_id")
        .agg(F.count("*").alias("n_user"))
    )
    w = Window.partitionBy("event_type", "hour").orderBy(
        F.desc("n_user"), F.asc("user_id")
    )
    return (
        uc.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select(
            "event_type", "hour", "z", "rk", "user_id", "n_user", "n_hour",
            F.round(
                F.col("n_user").cast("double")
                / F.col("n_hour").cast("double"), 9
            ).alias("share_r"),
        )
    )


ORACLE_ANOMALY_DRILLDOWN = (
    "WITH c AS (SELECT event_type, date_trunc('hour', ts) AS hour, "
    "CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2), "
    "w AS (SELECT event_type, hour, n, "
    "CAST(count(*) OVER fr AS BIGINT) AS n_base, "
    "CAST(sum(n) OVER fr AS BIGINT) AS sum_base, "
    "CAST(sum(n * n) OVER fr AS BIGINT) AS ss FROM c "
    "WINDOW fr AS (PARTITION BY event_type ORDER BY hour "
    "ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)), "
    "al AS (SELECT event_type, hour, n AS n_hour, "
    "CAST(n * n_base - sum_base AS DOUBLE) "
    "/ sqrt(CAST(n_base * ss - sum_base * sum_base AS DOUBLE)) AS z "
    "FROM w WHERE n_base >= 12 AND n_base * ss - sum_base * sum_base > 0 "
    "ORDER BY abs(z) DESC, event_type, hour LIMIT 5), "
    "uc AS (SELECT e.event_type, al.hour, al.n_hour, al.z, e.user_id, "
    "CAST(count(*) AS BIGINT) AS n_user FROM events e "
    "JOIN al ON al.event_type = e.event_type "
    "AND al.hour = date_trunc('hour', e.ts) GROUP BY 1, 2, 3, 4, 5), "
    "r AS (SELECT *, row_number() OVER (PARTITION BY event_type, hour "
    "ORDER BY n_user DESC, user_id ASC) AS rk FROM uc) "
    "SELECT event_type, hour, z, CAST(rk AS INTEGER) AS rk, user_id, "
    "n_user, n_hour, "
    "round(CAST(n_user AS DOUBLE) / CAST(n_hour AS DOUBLE), 9) AS share_r "
    "FROM r WHERE rk <= 3"
)


def q_leadlag_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead–lag cross-correlation: Pearson r between the CLICK and
    PURCHASE hourly count series at hour-shifts −6..+6 — does one
    metric LEAD the other (peak at a nonzero lag) or do they co-move?
    The cross-series companion of `acf_profile` (self) and
    `attribution` (per-event): same BIGINT moment algebra, one double
    √ at the end, NULL on zero variance.

    Shape: both series collapse in the shared (type, hour) exchange;
    the shift dimension explodes map-side over the CLICK series and
    the alignment is an equi-join on the shifted epoch-hour — all
    frames are series-sized."""
    ev = _read(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    )
    c = (
        ev.groupBy("event_type", "hour")
        .agg(F.count("*").alias("n"))
        .select(
            "event_type", "n",
            F.expr("unix_micros(hour) div 3600000000").alias("eh"),
        )
    )
    x = c.where(F.col("event_type") == "click").select(
        F.col("eh").alias("xeh"), F.col("n").alias("x")
    )
    y = c.where(F.col("event_type") == "purchase").select(
        F.col("eh").alias("yeh"), F.col("n").alias("y")
    )
    shifted = x.select(
        "xeh", "x",
        F.explode(
            F.sequence(F.lit(-6), F.lit(6))
        ).alias("shift"),
    )
    p = shifted.join(y, shifted["xeh"] + shifted["shift"] == y["yeh"])
    m = p.groupBy("shift").agg(
        F.count("*").alias("n_pairs"),
        F.sum("x").alias("_sx"),
        F.sum("y").alias("_sy"),
        F.sum(F.col("x") * F.col("y")).alias("_sxy"),
        F.sum(F.col("x") * F.col("x")).alias("_sxx"),
        F.sum(F.col("y") * F.col("y")).alias("_syy"),
    )
    num = F.col("n_pairs") * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    den1 = F.col("n_pairs") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    den2 = F.col("n_pairs") * F.col("_syy") - F.col("_sy") * F.col("_sy")
    r = F.round(
        num.cast("double")
        / F.sqrt(den1.cast("double") * den2.cast("double")),
        9,
    )
    return m.select(
        "shift", "n_pairs",
        F.when((den1 > 0) & (den2 > 0), r).alias("xcorr_r"),
    )


ORACLE_LEADLAG_XCORR = (
    "WITH c AS (SELECT event_type, "
    "epoch_us(date_trunc('hour', ts)) // 3600000000 AS eh, "
    "CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2), "
    "x AS (SELECT eh AS xeh, n AS x FROM c WHERE event_type = 'click'), "
    "y AS (SELECT eh AS yeh, n AS y FROM c "
    "WHERE event_type = 'purchase'), "
    "sh AS (SELECT xeh, x, unnest(generate_series(-6, 6)) AS shift "
    "FROM x), "
    "p AS (SELECT shift, x, y FROM sh JOIN y ON sh.xeh + sh.shift = y.yeh), "
    "m AS (SELECT shift, CAST(count(*) AS BIGINT) AS n_pairs, "
    "CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy, "
    "CAST(sum(x * y) AS BIGINT) AS sxy, "
    "CAST(sum(x * x) AS BIGINT) AS sxx, "
    "CAST(sum(y * y) AS BIGINT) AS syy FROM p GROUP BY 1) "
    "SELECT CAST(shift AS INTEGER) AS shift, n_pairs, "
    "CASE WHEN n_pairs * sxx - sx * sx > 0 "
    "AND n_pairs * syy - sy * sy > 0 THEN "
    "round(CAST(n_pairs * sxy - sx * sy AS DOUBLE) / "
    "sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE) "
    "* CAST(n_pairs * syy - sy * sy AS DOUBLE)), 9) END AS xcorr_r "
    "FROM m"
)


def q_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user-journey trigrams: the 20 most frequent 3-step
    event-type sequences over per-user (ts, event_id)-ordered streams —
    the path-mining extension of `event_transitions`' bigrams (a
    signup→click→purchase path is a conversion motif; error→error→error
    is a rage loop).

    Shape: two lead() columns share the bigram window's ONE exchange on
    user_id; trigram counts partial-combine; TakeOrderedAndProject
    top-20 — no second corpus exchange, no window over the count
    table."""
    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = ev.select(
        F.col("event_type").alias("step1"),
        F.lead("event_type", 1).over(w).alias("step2"),
        F.lead("event_type", 2).over(w).alias("step3"),
    ).where(F.col("step3").isNotNull())
    return (
        tri.groupBy("step1", "step2", "step3")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "step1", "step2", "step3")
        .limit(20)
    )


ORACLE_PATH_TRIGRAMS = (
    "WITH s AS (SELECT user_id, event_type AS step1, "
    "lead(event_type, 1) OVER w AS step2, "
    "lead(event_type, 2) OVER w AS step3 FROM events "
    "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) "
    "SELECT step1, step2, step3, CAST(count(*) AS BIGINT) AS n "
    "FROM s WHERE step3 IS NOT NULL GROUP BY 1, 2, 3 "
    "ORDER BY n DESC, step1, step2, step3 LIMIT 20"
)


def q_variogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical semivariogram of the event-density surface: cells at
    0.05° carry integer counts; for every cell pair within 5 cells,
    γ(h) = Σ(v_a − v_b)² / (2·N) by squared-distance band h = dx²+dy²
    — the kriging precursor that quantifies HOW FAR spatial correlation
    reaches (Moran's I says whether; the variogram says the range).
    Numerator sums are BIGINT-exact; one double division rounded 9 dp.

    Shape: the corpus collapses to the cell surface in ONE map-side-
    combined exchange; each cell then explodes its 40 CANONICAL offset
    probes (the lexicographically-positive half of the ≤5-cell
    neighborhood, band ≤ 25) and pairs form by EQUI-join on the probed
    coordinate — O(cells·56) rows through a hash join, never a
    cell-table self-cross (a planet-wide 0.05° surface is ~2.6·10⁷
    cells: the cross would be 10¹⁴ compares; the probe join is ~10⁹ rows).  Empty-cell pairs contribute nothing, matching the
    pairs-of-observed-cells estimator the oracle replays."""
    offsets = [
        (dx, dy)
        for dx in range(0, 6)
        for dy in range(-5, 6)
        if (dx > 0 or dy > 0) and dx * dx + dy * dy <= 25
    ]
    pts = _event_pts(spark, sf_dir)
    cells = (
        pts.select(
            F.floor(F.col("lon") * F.lit(20.0)).alias("cx"),
            F.floor(F.col("lat") * F.lit(20.0)).alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count("*").alias("v"))
    )
    probes = cells.select(
        F.col("v").alias("va"),
        F.explode(
            F.array(*[
                F.struct(
                    (F.col("cx") + F.lit(dx)).alias("bx"),
                    (F.col("cy") + F.lit(dy)).alias("by"),
                    F.lit(dx * dx + dy * dy).cast("long").alias("band"),
                )
                for dx, dy in offsets
            ])
        ).alias("p"),
    ).select("va", "p.bx", "p.by", "p.band")
    b = cells.select(
        F.col("cx").alias("bx"), F.col("cy").alias("by"),
        F.col("v").alias("vb"),
    )
    pairs = probes.join(b, ["bx", "by"])
    d2 = (F.col("va") - F.col("vb")) * (F.col("va") - F.col("vb"))
    g = (
        pairs.select("band", d2.alias("_d2"))
        .groupBy("band")
        .agg(F.count("*").alias("n_pairs"), F.sum("_d2").alias("_s"))
    )
    return g.select(
        "band", "n_pairs",
        F.round(
            F.col("_s").cast("double")
            / (F.lit(2.0) * F.col("n_pairs").cast("double")),
            9,
        ).alias("gamma_r"),
    )


ORACLE_VARIOGRAM = (
    f"WITH pts AS ({_EVENT_PTS_SQL}), "
    "cells AS (SELECT CAST(floor(lon * 20.0) AS BIGINT) AS cx, "
    "CAST(floor(lat * 20.0) AS BIGINT) AS cy, "
    "CAST(count(*) AS BIGINT) AS v FROM pts GROUP BY 1, 2), "
    "p AS (SELECT a.v AS va, b.v AS vb, "
    "(a.cx - b.cx) * (a.cx - b.cx) + (a.cy - b.cy) * (a.cy - b.cy) AS band "
    "FROM cells a JOIN cells b ON "
    "(a.cx < b.cx OR (a.cx = b.cx AND a.cy < b.cy)) "
    "AND abs(a.cx - b.cx) <= 5 AND abs(a.cy - b.cy) <= 5), "
    "g AS (SELECT band, CAST(count(*) AS BIGINT) AS n_pairs, "
    "CAST(sum((va - vb) * (va - vb)) AS BIGINT) AS s "
    "FROM p WHERE band <= 25 GROUP BY 1) "
    "SELECT band, n_pairs, "
    "round(CAST(s AS DOUBLE) / (2.0 * CAST(n_pairs AS DOUBLE)), 9) "
    "AS gamma_r FROM g"
)


def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill gap repair of each event type's hourly count series:
    the dense hour grid from the type's first to last hour, observed
    counts where present, the LAST OBSERVED count carried forward into
    gaps, with a was_gap flag — the feed-repair step downstream of
    `coverage_gaps`' detection (a resampler needs a dense series; a
    silent gap poisons rolling stats).  Integer passthrough — bit-exact.

    Shape: the dense grid explodes map-side from one (min, max) row per
    type (sequence + explode — series-sized, never corpus rows); the
    observed series left-joins on (type, hour) and the carry-forward is
    last(ignorenulls) over the type window — ONE series exchange."""
    ev = _read(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    )
    c = (
        ev.groupBy("event_type", "hour")
        .agg(F.count("*").alias("n"))
        .select(
            "event_type", "n",
            F.expr("unix_micros(hour) div 3600000000").alias("eh"),
        )
    )
    span = c.groupBy("event_type").agg(
        F.min("eh").alias("_mn"), F.max("eh").alias("_mx")
    )
    grid = span.select(
        "event_type",
        F.explode(F.sequence(F.col("_mn"), F.col("_mx"))).alias("eh"),
    )
    j = grid.join(c, ["event_type", "eh"], "left")
    w = (
        Window.partitionBy("event_type").orderBy("eh")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = F.last("n", ignorenulls=True).over(w)
    return j.select(
        "event_type", "eh",
        filled.alias("n_filled"),
        F.col("n").isNull().alias("was_gap"),
    )


ORACLE_GAP_FILL = (
    "WITH c AS (SELECT event_type, "
    "epoch_us(date_trunc('hour', ts)) // 3600000000 AS eh, "
    "CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2), "
    "span AS (SELECT event_type, min(eh) AS mn, max(eh) AS mx "
    "FROM c GROUP BY 1), "
    "grid AS (SELECT event_type, unnest(generate_series(mn, mx)) AS eh "
    "FROM span), "
    "j AS (SELECT g.event_type, g.eh, c.n FROM grid g "
    "LEFT JOIN c ON c.event_type = g.event_type AND c.eh = g.eh) "
    "SELECT event_type, eh, "
    "last_value(n IGNORE NULLS) OVER (PARTITION BY event_type "
    "ORDER BY eh ROWS UNBOUNDED PRECEDING) AS n_filled, "
    "n IS NULL AS was_gap FROM j"
)


def q_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve over user lifetimes: duration = days
    between a user's first and last event; a user whose (ts, event_id)-
    last event is an 'error' is a DEATH at that duration, anyone else
    is censored there — the churn-analysis estimator
    S(t) = Π_{t'≤t} (1 − d_t'/n_t').  Exactness is the source_kl
    pattern composed with a cumulative window: every factor is
    ln(n−d) − ln(d's survivors) of INTEGER counts rounded at 6 dp into
    DECIMAL, the running product is a DECIMAL cumsum, and S = exp(·)
    rounds at 9 dp; a band where every at-risk user dies pins S to 0
    from there on (ln is never fed 0).

    Shape: per-user rollup (one corpus exchange on user_id), then the
    risk table is |distinct durations| rows — the window runs on that
    frame."""
    ev = _read(spark, sf_dir, "events").select("user_id", "ts", "event_id",
                                               "event_type")
    wlast = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    per_user = (
        ev.withColumn("_rk", F.row_number().over(wlast))
        .groupBy("user_id")
        .agg(
            F.min(F.col("ts").cast("date")).alias("_first"),
            F.max(F.col("ts").cast("date")).alias("_last"),
            F.max(
                F.when(F.col("_rk") == 1,
                       (F.col("event_type") == "error").cast("int"))
            ).alias("_died"),
        )
        .select(
            F.datediff("_last", "_first").alias("dur"),
            F.col("_died").alias("died"),
        )
    )
    risk = per_user.groupBy("dur").agg(
        F.count("*").alias("_ending"),
        F.sum("died").alias("n_deaths"),
    )
    wcum = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wtot = Window.partitionBy()
    staged = risk.select(
        "dur", "n_deaths",
        (
            F.sum("_ending").over(wtot)
            - F.sum("_ending").over(wcum) + F.col("_ending")
        ).alias("n_risk"),
    )
    term = F.when(
        F.col("n_deaths") < F.col("n_risk"),
        (
            F.round(F.log(F.col("n_risk") - F.col("n_deaths")), 6)
            .cast("decimal(18,6)")
            - F.round(F.log("n_risk"), 6).cast("decimal(18,6)")
        ),
    ).otherwise(F.lit(0).cast("decimal(18,6)"))
    zeroed = F.max(
        (F.col("n_deaths") == F.col("n_risk")).cast("int")
    ).over(wcum)
    cum = F.sum(term).over(wcum)
    out = staged.select(
        "dur", "n_risk", "n_deaths",
        F.when(zeroed == 1, F.lit(0.0)).otherwise(
            F.round(F.exp(cum.cast("double")), 9)
        ).alias("survival_r"),
    )
    return out


ORACLE_SURVIVAL_KM = (
    "WITH ev AS (SELECT user_id, ts, event_id, event_type, "
    "row_number() OVER (PARTITION BY user_id "
    "ORDER BY ts DESC, event_id DESC) AS rk FROM events), "
    "pu AS (SELECT user_id, "
    "date_diff('day', min(CAST(ts AS DATE)), max(CAST(ts AS DATE))) "
    "AS dur, max(CASE WHEN rk = 1 THEN "
    "CAST(event_type = 'error' AS INTEGER) END) AS died FROM ev "
    "GROUP BY 1), "
    "risk AS (SELECT dur, CAST(count(*) AS BIGINT) AS ending, "
    "CAST(sum(died) AS BIGINT) AS n_deaths FROM pu GROUP BY 1), "
    "st AS (SELECT dur, n_deaths, "
    "CAST(sum(ending) OVER () AS BIGINT) "
    "- CAST(sum(ending) OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING) "
    "AS BIGINT) + ending AS n_risk FROM risk), "
    "tm AS (SELECT dur, n_risk, n_deaths, "
    "CASE WHEN n_deaths < n_risk THEN "
    "CAST(round(ln(n_risk - n_deaths), 6) AS DECIMAL(18,6)) "
    "- CAST(round(ln(n_risk), 6) AS DECIMAL(18,6)) "
    "ELSE CAST(0 AS DECIMAL(18,6)) END AS term, "
    "CAST(n_deaths = n_risk AS INTEGER) AS z FROM st), "
    "cm AS (SELECT dur, n_risk, n_deaths, "
    "CAST(sum(term) OVER w AS DECIMAL(38,6)) AS cum, "
    "max(z) OVER w AS zeroed FROM tm "
    "WINDOW w AS (ORDER BY dur ROWS UNBOUNDED PRECEDING)) "
    "SELECT dur, n_risk, n_deaths, "
    "CASE WHEN zeroed = 1 THEN 0.0 "
    "ELSE round(exp(CAST(cum AS DOUBLE)), 9) END AS survival_r FROM cm"
)


def q_haar_multires(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haar multi-resolution rollup of each event type's hourly count
    series — the time-series tile pyramid: for levels 1..4, each
    2^L-hour block's total (approximation coefficient) and its
    left-minus-right half difference (detail coefficient).  A burst
    localizes as a large |detail| at its level; compaction keeps coarse
    levels and drops fine ones.  All-INTEGER arithmetic (sums and
    differences of counts) — bit-exact everywhere.

    Shape: the 4 levels explode MAP-SIDE from the (type, hour) series
    rows (4× a series-sized frame, never corpus rows); ONE
    map-side-combined exchange on (type, level, block)."""
    ev = _read(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    )
    c = (
        ev.groupBy("event_type", "hour")
        .agg(F.count("*").alias("n"))
        .select(
            "event_type", "n",
            F.expr("unix_micros(hour) div 3600000000").alias("eh"),
        )
    )
    lv = c.select(
        "event_type", "n", "eh",
        F.explode(F.array(*[F.lit(i) for i in range(1, 5)])).alias("level"),
    )
    blk = F.expr("eh div cast(pow(2, level) as long)")
    # left half of the block ⇔ bit (level-1) of eh is 0
    left = F.expr("((eh div cast(pow(2, level - 1) as long)) % 2) = 0")
    return (
        lv.select(
            "event_type", "level", blk.alias("block"), "n", left.alias("_l")
        )
        .groupBy("event_type", "level", "block")
        .agg(
            F.sum("n").alias("approx"),
            F.sum(
                F.when(F.col("_l"), F.col("n")).otherwise(-F.col("n"))
            ).alias("detail"),
            F.count("*").alias("n_hours"),
        )
    )


ORACLE_HAAR_MULTIRES = (
    "WITH c AS (SELECT event_type, "
    "epoch_us(date_trunc('hour', ts)) // 3600000000 AS eh, "
    "CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2), "
    "lv AS (SELECT event_type, eh, n, unnest([1, 2, 3, 4]) AS level "
    "FROM c) "
    "SELECT event_type, CAST(level AS INTEGER) AS level, "
    "eh // CAST(pow(2, level) AS BIGINT) AS block, "
    "CAST(sum(n) AS BIGINT) AS approx, "
    "CAST(sum(CASE WHEN ((eh // CAST(pow(2, level - 1) AS BIGINT)) % 2) = 0 "
    "THEN n ELSE -n END) AS BIGINT) AS detail, "
    "CAST(count(*) AS BIGINT) AS n_hours "
    "FROM lv GROUP BY 1, 2, 3"
)


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf tail fit per language: least-squares slope of ln(count) on
    ln(rank) over the top-100 vocabulary ranks — the corpus-health
    fingerprint (natural text sits near slope −1; boilerplate or
    synthetic text bends the curve).  The `source_kl` exactness trick:
    both logs round at 6 dp into DECIMAL before any multiplication, the
    moment sums fold as DECIMAL (order-independent), and only the final
    slope/intercept divisions are doubles rounded at 9 dp.

    Shape: token counts partial-combine map-side (hot stopwords are hot
    KEYS); the rank window and the fit run on the per-lang top-100
    frame — vocabulary-sized, never corpus-sized."""
    docs = _read(spark, sf_dir, "documents").select("lang", "text")
    toks = docs.select(
        "lang", F.explode(F.split("text", r"\s+")).alias("token")
    ).where(F.col("token") != "")
    cnt = toks.groupBy("lang", "token").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("token"))
    top = cnt.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= 100
    )
    lx = F.round(F.log("rank"), 6).cast("decimal(18,6)")
    ly = F.round(F.log("n"), 6).cast("decimal(18,6)")
    staged = top.select(
        "lang", lx.alias("_x"), ly.alias("_y"),
        (lx * ly).cast("decimal(38,12)").alias("_xy"),
        (lx * lx).cast("decimal(38,12)").alias("_xx"),
    )
    m = staged.groupBy("lang").agg(
        F.count("*").alias("n_ranks"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum("_xy").alias("_sxy"),
        F.sum("_xx").alias("_sxx"),
    )
    # decimal sums are exact; their decimal→double casts are correctly
    # rounded in BOTH engines (same decimal ⇒ same double), so the fit
    # algebra below runs in doubles with an identical expression tree
    nn = F.col("n_ranks").cast("double")
    sx, sy = F.col("_sx").cast("double"), F.col("_sy").cast("double")
    sxy, sxx = F.col("_sxy").cast("double"), F.col("_sxx").cast("double")
    num = nn * sxy - sx * sy
    den = nn * sxx - sx * sx
    slope = F.round(num / den, 9)
    intercept = F.round((sy - (num / den) * sx) / nn, 9)
    # a degenerate vocabulary (<3 ranks) has no fittable tail — drop it
    # rather than emit an Inf/NaN slope from a zero denominator
    return m.where(F.col("n_ranks") >= 3).select(
        "lang", "n_ranks", slope.alias("zipf_slope_r"),
        intercept.alias("intercept_r"),
    )


ORACLE_ZIPF_FIT = (
    "WITH t AS (SELECT lang, unnest(string_split_regex(text, '\\s+')) "
    "AS token FROM documents), "
    "c AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS n FROM t "
    "WHERE token <> '' GROUP BY 1, 2), "
    "r AS (SELECT lang, n, row_number() OVER "
    "(PARTITION BY lang ORDER BY n DESC, token ASC) AS rank FROM c), "
    "s AS (SELECT lang, "
    "CAST(round(ln(rank), 6) AS DECIMAL(18,6)) AS x, "
    "CAST(round(ln(n), 6) AS DECIMAL(18,6)) AS y "
    "FROM r WHERE rank <= 100), "
    "m AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_ranks, "
    "CAST(sum(x) AS DECIMAL(38,6)) AS sx, "
    "CAST(sum(y) AS DECIMAL(38,6)) AS sy, "
    "CAST(sum(CAST(x * y AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS sxy, "
    "CAST(sum(CAST(x * x AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS sxx "
    "FROM s GROUP BY 1 HAVING count(*) >= 3), "
    "d AS (SELECT lang, n_ranks, CAST(n_ranks AS DOUBLE) AS nd, "
    "CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd, "
    "CAST(sxy AS DOUBLE) AS sxyd, CAST(sxx AS DOUBLE) AS sxxd FROM m) "
    "SELECT lang, n_ranks, "
    "round((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd), 9) "
    "AS zipf_slope_r, "
    "round((syd - ((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)) "
    "* sxd) / nd, 9) AS intercept_r FROM d"
)


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-core membership (``graph.kcore``) of a deterministic
    hub-concentrated doc graph (3 out-links per doc, all landing in the
    first quarter of the id space — a scale-free-ish core/periphery
    shape where the peel does real work: periphery drops, cascades
    shrink the hubs to a 122-node core at sf0.01).  Spark runs the true
    iterative fixpoint (pagerank-shaped rounds: one degree agg + two
    semi-joins, localCheckpoint per round); the oracle UNROLLS 30 peel
    rounds as nested CTEs — past the fixpoint every extra round is the
    identity, so the hash match verifies the fixpoint itself (the
    operator raises before returning a non-fixpoint)."""
    from .operators import graph

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    n_df = docs.agg(F.count("*").alias("_n"))
    edges = (
        docs.crossJoin(F.broadcast(n_df))
        .select(
            "doc_id", "_n",
            F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("j"),
        )
        .select(
            F.col("doc_id").alias("src"),
            F.expr(
                "(doc_id * 7919 + j * 104729 + 13) % (_n div 4)"
            ).alias("dst"),
        )
    )
    return graph.kcore(edges, k=5)


def _oracle_kcore(k: int = 5, rounds: int = 30) -> str:
    parts = [
        "WITH nn AS (SELECT count(*) AS n FROM documents), "
        "lanes AS (SELECT unnest([0, 1, 2]) AS j), "
        "ed AS (SELECT doc_id AS src, "
        "(doc_id * 7919 + j * 104729 + 13) % (n // 4) AS dst "
        "FROM documents CROSS JOIN nn CROSS JOIN lanes), "
        "e0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, "
        "greatest(src, dst) AS b FROM ed WHERE src <> dst)"
    ]
    for i in range(rounds):
        parts.append(
            f"d{i} AS MATERIALIZED (SELECT node, count(*) AS deg FROM "
            f"(SELECT a AS node FROM e{i} UNION ALL SELECT b FROM e{i}) "
            "GROUP BY 1)"
        )
        parts.append(
            f"e{i + 1} AS MATERIALIZED (SELECT e.a, e.b FROM e{i} e "
            f"JOIN d{i} x ON x.node = e.a JOIN d{i} y ON y.node = e.b "
            f"WHERE x.deg >= {k} AND y.deg >= {k})"
        )
    return (
        ", ".join(parts)
        + f" SELECT node, CAST(count(*) AS BIGINT) AS core_degree FROM "
        f"(SELECT a AS node FROM e{rounds} "
        f"UNION ALL SELECT b FROM e{rounds}) GROUP BY 1"
    )


def q_ewma_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart over each event type's hourly count series
    (α = 0.25 — a BINARY-EXACT smoothing constant): the
    exponentially-weighted level that reacts to small sustained shifts
    faster than `rate_anomaly`'s unweighted window and smoother than
    raw CUSUM.  Truncated to a 32-row memory (weight beyond the frame
    ≤ 0.75³² ≈ 1e-4 — the documented truncation contract); the fold is
    acc·0.75 + x·0.25 left-to-right over the frame array with the
    OLDEST frame row as seed, mirrored exactly by DuckDB's
    ``list_reduce`` (same seed rule, same fold order), so the doubles
    match bit-for-bit before the defensive 9 dp round.

    Shape: the frame array rides the series window's ONE exchange on
    event_type; the fold is plan-time JVM codegen over ≤32 elements —
    never a self-join, never Python."""
    ev = _read(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    )
    c = ev.groupBy("event_type", "hour").agg(F.count("*").alias("n"))
    w = (
        Window.partitionBy("event_type").orderBy("hour")
        .rowsBetween(-31, Window.currentRow)
    )
    arr = F.collect_list(F.col("n").cast("double")).over(w)
    staged = c.select("event_type", "hour", "n", arr.alias("_fr"))
    ewma = F.aggregate(
        F.slice(F.col("_fr"), F.lit(2), F.size("_fr") - F.lit(1)),
        F.element_at("_fr", 1),
        lambda acc, x: acc * F.lit(0.75) + x * F.lit(0.25),
    )
    return staged.select(
        "event_type", "hour", "n", F.round(ewma, 9).alias("ewma_r")
    )


ORACLE_EWMA_CHART = (
    "WITH c AS (SELECT event_type, date_trunc('hour', ts) AS hour, "
    "CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2), "
    "f AS (SELECT event_type, hour, n, "
    "list(CAST(n AS DOUBLE)) OVER (PARTITION BY event_type ORDER BY hour "
    "ROWS BETWEEN 31 PRECEDING AND CURRENT ROW) AS fr FROM c) "
    "SELECT event_type, hour, n, "
    "round(list_reduce(fr, (acc, x) -> acc * 0.75 + x * 0.25), 9) "
    "AS ewma_r FROM f"
)


def q_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction (``graph.common_neighbor_scores``)
    over the deterministic 3-out doc graph (the pagerank/triangles
    fixture taken undirected): top-30 non-adjacent pairs by
    neighborhood Jaccard — the missing-link / entity-merge candidate
    list.  Wedges explode join-free from sorted midpoint adjacency
    arrays (the basket_pairs shape); the oracle is the structurally
    different adjacency SELF-JOIN, so the hash match checks the wedge
    algebra, not a replay."""
    from .operators import graph

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    n_df = docs.agg(F.count("*").alias("_n"))
    edges = (
        docs.crossJoin(F.broadcast(n_df))
        .select(
            "doc_id", "_n",
            F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("j"),
        )
        .select(
            F.col("doc_id").alias("src"),
            F.expr("(doc_id * 7919 + j * 104729 + 13) % _n").alias("dst"),
        )
    )
    out = graph.common_neighbor_scores(edges, min_common=2)
    return out.orderBy(
        F.desc("jaccard"), F.desc("n_common"), "node_a", "node_b"
    ).limit(30)


ORACLE_COMMON_NEIGHBORS = (
    "WITH nn AS (SELECT count(*) AS n FROM documents), "
    "lanes AS (SELECT unnest([0, 1, 2]) AS j), "
    "ed AS (SELECT doc_id AS src, (doc_id * 7919 + j * 104729 + 13) % n "
    "AS dst FROM documents CROSS JOIN nn CROSS JOIN lanes), "
    "ce AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b "
    "FROM ed WHERE src <> dst), "
    "adj AS (SELECT a AS node, b AS nb FROM ce "
    "UNION ALL SELECT b, a FROM ce), "
    "deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree "
    "FROM adj GROUP BY 1), "
    "w AS (SELECT x.nb AS u, y.nb AS v FROM adj x JOIN adj y "
    "ON y.node = x.node AND x.nb < y.nb), "
    "cn AS (SELECT u, v, CAST(count(*) AS BIGINT) AS n_common "
    "FROM w GROUP BY 1, 2 HAVING count(*) >= 2), "
    "ne AS (SELECT cn.* FROM cn WHERE NOT EXISTS "
    "(SELECT 1 FROM ce WHERE ce.a = cn.u AND ce.b = cn.v)) "
    "SELECT ne.u AS node_a, ne.v AS node_b, ne.n_common, "
    "da.degree AS deg_a, db.degree AS deg_b, "
    "CAST(ne.n_common AS DOUBLE) "
    "/ CAST(da.degree + db.degree - ne.n_common AS DOUBLE) AS jaccard "
    "FROM ne JOIN deg da ON da.node = ne.u JOIN deg db ON db.node = ne.v "
    "ORDER BY jaccard DESC, ne.n_common DESC, node_a, node_b LIMIT 30"
)


def q_token_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bursty-vocabulary detection: tokens whose count on one (planted,
    doc_id mod 14) day far exceeds their cross-day average — lift =
    c_td · n_days / c_t, the trending-terms screen next to
    `rate_anomaly`'s volume spikes (a burst is a MIX shift, not a
    volume shift).  Integer counts, one mirrored double division;
    thresholds keep rare-token noise out.

    Shape: explode → map-side partial count on (token, day) — hot
    stopwords are hot KEYS absorbed by partials — then token totals
    roll up from the (token, day) table (vocab × days, NOT corpus
    rows); TakeOrderedAndProject top-30."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        F.pmod(F.col("doc_id"), F.lit(14)).alias("day"),
        F.explode(F.split("text", r"\s+")).alias("token"),
    ).where(F.col("token") != "")
    td = toks.groupBy("token", "day").agg(F.count("*").alias("c_td"))
    tot = td.groupBy("token").agg(F.sum("c_td").alias("c_t"))
    j = td.join(tot, "token").where(
        (F.col("c_td") >= 5) & (F.col("c_t") >= 20)
    )
    return (
        j.select(
            "token", "day", "c_td", "c_t",
            (
                (F.col("c_td") * F.lit(14)).cast("double")
                / F.col("c_t").cast("double")
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.desc("c_td"), "token", "day")
        .limit(30)
    )


ORACLE_TOKEN_BURSTS = (
    "WITH t AS (SELECT doc_id % 14 AS day, "
    "unnest(string_split_regex(text, '\\s+')) AS token FROM documents), "
    "td AS (SELECT token, day, CAST(count(*) AS BIGINT) AS c_td FROM t "
    "WHERE token <> '' GROUP BY 1, 2), "
    "tot AS (SELECT token, CAST(sum(c_td) AS BIGINT) AS c_t "
    "FROM td GROUP BY 1) "
    "SELECT td.token, td.day, td.c_td, tot.c_t, "
    "CAST(td.c_td * 14 AS DOUBLE) / CAST(tot.c_t AS DOUBLE) AS lift "
    "FROM td JOIN tot ON tot.token = td.token "
    "WHERE td.c_td >= 5 AND tot.c_t >= 20 "
    "ORDER BY lift DESC, td.c_td DESC, td.token, td.day LIMIT 30"
)


def q_acf_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation profile (``stats.acf``) of each event type's
    hourly count series at row-lags 1..6 — the persistence /
    seasonality fingerprint completing the rate-monitoring family
    (rate_anomaly: spikes, trend_test: drift, cusum_alarm: level
    shifts, acf: memory).  BIGINT moment sums, one double √ at the
    end; NULL for zero-variance windows."""
    from .operators import stats

    ev = _read(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    )
    c = ev.groupBy("event_type", "hour").agg(F.count("*").alias("n"))
    return stats.acf(c, ["event_type"], "hour", "n", max_lag=6)


ORACLE_ACF_PROFILE = (
    "WITH c AS (SELECT event_type, date_trunc('hour', ts) AS hour, "
    "CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2), "
    "s AS (SELECT event_type, n, row_number() OVER "
    "(PARTITION BY event_type ORDER BY hour) AS rn FROM c), "
    "p AS (SELECT a.event_type, l.l AS lag, a.n AS x, b.n AS y "
    "FROM s a CROSS JOIN range(1, 7) l(l) "
    "JOIN s b ON b.event_type = a.event_type AND b.rn = a.rn - l.l), "
    "m AS (SELECT event_type, lag, CAST(count(*) AS BIGINT) AS n_pairs, "
    "CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy, "
    "CAST(sum(x * y) AS BIGINT) AS sxy, "
    "CAST(sum(x * x) AS BIGINT) AS sxx, "
    "CAST(sum(y * y) AS BIGINT) AS syy "
    "FROM p GROUP BY 1, 2) "
    "SELECT event_type, CAST(lag AS INTEGER) AS lag, n_pairs, "
    "CASE WHEN n_pairs * sxx - sx * sx > 0 "
    "AND n_pairs * syy - sy * sy > 0 THEN "
    "round(CAST(n_pairs * sxy - sx * sy AS DOUBLE) / "
    "sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE) "
    "* CAST(n_pairs * syy - sy * sy AS DOUBLE)), 9) END AS acf_r "
    "FROM m"
)


def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust slope (``stats.theil_sen``) of each event
    type's hourly count series — HOW FAST the rate drifts, immune to
    outlier hours, next to `trend_test`'s WHETHER (Mann-Kendall).
    Hours convert to epoch-hour integers with `div` (the microsecond
    epoch exceeds 2^53, so double division would round); each slope is
    then one double division of exact integers and the lower-median
    pick is permutation-stable."""
    from .operators import stats

    ev = _read(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    )
    c = (
        ev.groupBy("event_type", "hour")
        .agg(F.count("*").alias("n"))
        .select(
            "event_type", "n",
            F.expr("unix_micros(hour) div 3600000000").alias("eh"),
        )
    )
    return stats.theil_sen(c, ["event_type"], "eh", "n")


ORACLE_THEIL_SEN = (
    "WITH c AS (SELECT event_type, "
    "epoch_us(date_trunc('hour', ts)) // 3600000000 AS eh, "
    "CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2), "
    "p AS (SELECT a.event_type, "
    "CAST(b.n - a.n AS DOUBLE) / CAST(b.eh - a.eh AS DOUBLE) AS slope "
    "FROM c a JOIN c b ON b.event_type = a.event_type AND b.eh > a.eh), "
    "r AS (SELECT event_type, slope, row_number() OVER "
    "(PARTITION BY event_type ORDER BY slope) AS rk, "
    "CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_pairs "
    "FROM p) "
    "SELECT event_type, n_pairs, slope AS slope_med FROM r "
    "WHERE rk = CAST(floor((n_pairs + 1) / 2) AS BIGINT)"
)


def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC merge-apply: collapse an insert/update/delete change log
    (synthesized from orders: op = I/I/U/U/U/U/D by o_orderkey mod 7)
    into the final per-key snapshot — last change by (change ts, seq)
    wins, a terminal delete erases the key.  The warehouse MERGE INTO
    pattern as ONE window exchange on the business key: no sort-merge
    against a base table, no per-op dispatch — the log IS the state.

    At 100 TB the log would be bucketed by key so the window exchange
    is a local sort; snapshot rows come out of the same partitioning."""
    log = _read(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("cust_key"),
        F.col("o_orderdate").alias("ts"),
        F.col("o_orderkey").alias("seq"),
        F.col("o_totalprice").alias("price"),
        F.when(F.pmod(F.col("o_orderkey"), F.lit(7)) == 0, F.lit("D"))
        .when(F.pmod(F.col("o_orderkey"), F.lit(7)) <= 2, F.lit("I"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    w = Window.partitionBy("cust_key").orderBy(
        F.desc("ts"), F.desc("seq")
    )
    wall = Window.partitionBy("cust_key")
    ranked = log.select(
        "cust_key", "ts", "seq", "price", "op",
        F.row_number().over(w).alias("_rk"),
        F.count("*").over(wall).alias("n_changes"),
    )
    return ranked.where(
        (F.col("_rk") == 1) & (F.col("op") != "D")
    ).select(
        "cust_key", F.col("ts").alias("last_ts"),
        F.col("op").alias("last_op"), "price", "n_changes",
    )


ORACLE_CDC_APPLY = (
    "WITH log AS (SELECT o_custkey AS cust_key, o_orderdate AS ts, "
    "o_orderkey AS seq, o_totalprice AS price, "
    "CASE WHEN o_orderkey % 7 = 0 THEN 'D' "
    "WHEN o_orderkey % 7 <= 2 THEN 'I' ELSE 'U' END AS op FROM orders), "
    "r AS (SELECT cust_key, ts, seq, price, op, "
    "row_number() OVER (PARTITION BY cust_key "
    "ORDER BY ts DESC, seq DESC) AS rk, "
    "CAST(count(*) OVER (PARTITION BY cust_key) AS BIGINT) AS n_changes "
    "FROM log) "
    "SELECT cust_key, ts AS last_ts, op AS last_op, price, n_changes "
    "FROM r WHERE rk = 1 AND op <> 'D'"
)


def q_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension build from an event stream: per user, collapse
    consecutive events with the SAME event_type into one validity
    interval [valid_from, valid_to) and flag the open (current) row —
    the slowly-changing-dimension snapshot a warehouse derives from a
    change feed.  Gaps-and-islands (change-flag → running sum → run
    rollup) plus one lead() for the closing edge; the lag, running sum,
    and lead all share the user partitioning, so the build is two
    exchanges total (window + rollup) regardless of corpus size."""
    ev = _read(spark, sf_dir, "events").select("event_id", "user_id", "ts", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = F.when(
        F.lag("event_type").over(w).isNull()
        | (F.lag("event_type").over(w) != F.col("event_type")),
        F.lit(1),
    ).otherwise(F.lit(0))
    labeled = ev.select(
        "user_id", "ts", "event_type",
        F.sum(chg).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("version"),
    )
    runs = labeled.groupBy("user_id", "version").agg(
        F.min("ts").alias("valid_from"),
        F.count("*").alias("n_events"),
        F.min("event_type").alias("state"),  # constant within a run
    )
    w2 = Window.partitionBy("user_id").orderBy("version")
    return runs.select(
        "user_id", "version", "state", "valid_from", "n_events",
        F.lead("valid_from").over(w2).alias("valid_to"),
    ).withColumn("is_current", F.col("valid_to").isNull())


ORACLE_SCD2_BUILD = (
    "WITH s AS (SELECT user_id, event_id, ts, event_type, "
    "CASE WHEN lag(event_type) OVER w IS NULL "
    "OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg "
    "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), "
    "l AS (SELECT user_id, ts, event_type, "
    "CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id "
    "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version FROM s), "
    "r AS (SELECT user_id, version, min(ts) AS valid_from, "
    "CAST(count(*) AS BIGINT) AS n_events, min(event_type) AS state "
    "FROM l GROUP BY user_id, version) "
    "SELECT user_id, version, state, valid_from, n_events, "
    "lead(valid_from) OVER (PARTITION BY user_id ORDER BY version) AS valid_to, "
    "lead(valid_from) OVER (PARTITION BY user_id ORDER BY version) IS NULL "
    "AS is_current FROM r"
)


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl snapshot delta: classify every doc_id across two corpus
    snapshots as added / removed / changed / unchanged and count per
    (lang, change) — the incremental-ingest audit that decides how much
    of a recrawl needs reprocessing.  Snapshot B is derived
    deterministically from A (drop id%17==0, rewrite text where
    id%13==0, add id+10M clones where id%29==0).  Shape: ONE full-outer
    shuffle join on doc_id, md5 content compare, map-side-combined
    count — at 10^12 docs both snapshots co-partition on the id, so a
    bucketed store runs it exchange-free."""
    a = _read(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    b_kept = a.where(F.col("doc_id") % 17 != 0).select(
        "doc_id", "lang",
        F.when(F.col("doc_id") % 13 == 0,
               F.concat(F.lit("edited "), F.col("text"))).otherwise(F.col("text"))
        .alias("text"),
    )
    b_new = a.where(F.col("doc_id") % 29 == 0).select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"), "lang", "text"
    )
    b = b_kept.unionByName(b_new)
    al = a.select("doc_id", F.col("lang").alias("lang_a"), F.md5("text").alias("_ha"))
    bl = b.select("doc_id", F.col("lang").alias("lang_b"), F.md5("text").alias("_hb"))
    j = al.join(bl, "doc_id", "full_outer")
    change = (
        F.when(F.col("_ha").isNull(), F.lit("added"))
        .when(F.col("_hb").isNull(), F.lit("removed"))
        .when(F.col("_ha") != F.col("_hb"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select(F.coalesce("lang_a", "lang_b").alias("lang"), change.alias("change"))
        .groupBy("lang", "change")
        .agg(F.count("*").alias("n_docs"))
    )


ORACLE_SNAPSHOT_DIFF = (
    "WITH a AS (SELECT doc_id, lang, text FROM documents), "
    "b AS (SELECT doc_id, lang, "
    "CASE WHEN doc_id % 13 = 0 THEN 'edited ' || text ELSE text END AS text "
    "FROM a WHERE doc_id % 17 <> 0 "
    "UNION ALL SELECT doc_id + 10000000, lang, text FROM a WHERE doc_id % 29 = 0), "
    "al AS (SELECT doc_id, lang AS lang_a, md5(text) AS ha FROM a), "
    "bl AS (SELECT doc_id, lang AS lang_b, md5(text) AS hb FROM b), "
    "j AS (SELECT coalesce(lang_a, lang_b) AS lang, "
    "CASE WHEN ha IS NULL THEN 'added' WHEN hb IS NULL THEN 'removed' "
    "WHEN ha <> hb THEN 'changed' ELSE 'unchanged' END AS change "
    "FROM al FULL OUTER JOIN bl USING (doc_id)) "
    "SELECT lang, change, CAST(count(*) AS BIGINT) AS n_docs "
    "FROM j GROUP BY lang, change"
)


def q_kmv_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-bigram estimate per language
    (`sketches.kmv_registers` + `kmv_distinct_estimate`, k=256) —
    reported against the exact distinct count, the HLL-twin pattern
    with the sketch that additionally supports set intersection.
    Registers are the k smallest md5-60 hashes (bit-exact in DuckDB);
    the salted two-phase k-min keeps a mega-vocabulary group off a
    single sorting task; the estimator (k−1)/θ̂ runs over ≤ k rows per
    group."""
    from .operators import sketches

    bg = _lang_bigrams(spark, sf_dir)
    reg = sketches.kmv_registers(bg, ["lang"], "item", k=256)
    est = sketches.kmv_distinct_estimate(reg, ["lang"], k=256)
    exact = bg.groupBy("lang").agg(
        F.count_distinct("item").alias("exact_distinct")
    )
    return est.join(exact, "lang").select(
        "lang", "n_reg", "h_k", F.round("kmv_est", 6).alias("kmv_est"),
        "exact_distinct",
    )


ORACLE_KMV_VOCAB = (
    "WITH " + _LANG_BIGRAMS_SQL + ", "
    "dh AS (SELECT DISTINCT lang, "
    "('0x' || substr(md5(item), 1, 15))::BIGINT AS h FROM bg), "
    "r AS (SELECT lang, h, row_number() OVER "
    "(PARTITION BY lang ORDER BY h) AS rank FROM dh), "
    "agg AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_reg, max(h) AS h_k "
    "FROM r WHERE rank <= 256 GROUP BY lang), "
    "ex AS (SELECT lang, CAST(count(DISTINCT item) AS BIGINT) "
    "AS exact_distinct FROM bg GROUP BY lang) "
    "SELECT lang, n_reg, h_k, "
    "round(CASE WHEN n_reg < 256 THEN CAST(n_reg AS DOUBLE) "
    "ELSE 255.0 * 1152921504606846976.0 / CAST(h_k AS DOUBLE) END, 6) "
    "AS kmv_est, exact_distinct FROM agg JOIN ex USING (lang)"
)


def q_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set intersection (`sketches.kmv_intersection_estimate`):
    estimated distinct-bigram overlap between the two lexicographically
    first languages, against the exact intersection — the set-algebra
    capability HLL registers cannot compose (inclusion-exclusion error
    explodes when the intersection is small).  The register join is
    k×k rows; everything downstream is scalar."""
    from .operators import sketches

    bg = _lang_bigrams(spark, sf_dir)
    langs = [r["lang"] for r in bg.select("lang").distinct().orderBy("lang").limit(2).collect()]
    la, lb = langs[0], langs[1]
    reg = sketches.kmv_registers(bg, ["lang"], "item", k=256)
    ra = reg.where(F.col("lang") == la).select("rank", "h")
    rb = reg.where(F.col("lang") == lb).select("rank", "h")
    est = sketches.kmv_intersection_estimate(ra, rb, k=256)
    exact = (
        bg.where(F.col("lang") == la).select("item").distinct()
        .join(bg.where(F.col("lang") == lb).select("item").distinct(), "item")
        .agg(F.count("*").alias("exact_inter"))
    )
    return est.crossJoin(exact).select(
        "n_shared", F.round("inter_est", 6).alias("inter_est"), "exact_inter"
    )


ORACLE_KMV_OVERLAP = (
    "WITH " + _LANG_BIGRAMS_SQL + ", "
    "pick AS (SELECT lang, row_number() OVER (ORDER BY lang) AS pr "
    "FROM (SELECT DISTINCT lang FROM bg) ORDER BY lang LIMIT 2), "
    "dh AS (SELECT DISTINCT lang, "
    "('0x' || substr(md5(item), 1, 15))::BIGINT AS h FROM bg "
    "WHERE lang IN (SELECT lang FROM pick)), "
    "r AS (SELECT lang, h, row_number() OVER "
    "(PARTITION BY lang ORDER BY h) AS rank FROM dh), "
    "reg AS (SELECT (SELECT pr FROM pick WHERE pick.lang = r.lang) AS side, "
    "h FROM r WHERE rank <= 256), "
    "th AS (SELECT side, CASE WHEN count(*) >= 256 THEN max(h) "
    "ELSE 1152921504606846976 END AS theta FROM reg GROUP BY side), "
    "tmin AS (SELECT min(theta) AS th FROM th), "
    "sh AS (SELECT h FROM reg WHERE side = 1 INTERSECT "
    "SELECT h FROM reg WHERE side = 2), "
    "ex AS (SELECT CAST(count(*) AS BIGINT) AS exact_inter FROM ("
    "SELECT DISTINCT item FROM bg WHERE lang = "
    "(SELECT lang FROM pick WHERE pr = 1) INTERSECT "
    "SELECT DISTINCT item FROM bg WHERE lang = "
    "(SELECT lang FROM pick WHERE pr = 2))) "
    "SELECT CAST(count(*) AS BIGINT) AS n_shared, "
    "round(CAST(count(*) AS DOUBLE) "
    "/ (min(tmin.th) / 1152921504606846976.0), 6) AS inter_est, "
    "min(exact_inter) AS exact_inter "
    "FROM sh, tmin, ex WHERE sh.h < tmin.th"
)


def q_grid_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid DBSCAN over the event positions
    (`clustering.grid_dbscan`): density clusters as connected
    components of 8-adjacent DENSE cells (eps=0.05°, min_pts=30), every
    dense-cell point labeled with its component, sparse-cell points
    dropped as noise.  Engine side: one map-side-combined per-cell
    count is the only data-sized exchange; adjacency is an 8-offset
    explode + equi-join on the packed cell key over DENSE CELLS ONLY;
    components via pointer-doubling min-label propagation.  Oracle:
    same integer binning and HAVING, recursive-CTE transitive closure —
    viable only at oracle scale, which is why the engine side uses
    label propagation.  All arithmetic integer/IEEE-shared (lon/0.05 is
    the same double op in both engines), so labels are bit-exact."""
    from .operators import clustering

    pts = _event_pts(spark, sf_dir)
    return clustering.grid_dbscan(
        pts, eps=0.05, min_pts=30, id_col="event_id"
    )


ORACLE_GRID_CLUSTERS = (
    "WITH RECURSIVE pts AS (" + _EVENT_PTS_SQL + "), "
    "b AS (SELECT event_id, CAST(floor(lon / 0.05) AS BIGINT) AS cx, "
    "CAST(floor(lat / 0.05) AS BIGINT) AS cy FROM pts), "
    "dense AS (SELECT cx, cy FROM b GROUP BY cx, cy "
    "HAVING count(*) >= 30), "
    "k AS (SELECT cx, cy, cx * 1000000 + cy AS key FROM dense), "
    "e AS (SELECT k1.key AS a, k2.key AS b FROM k k1 JOIN k k2 "
    "ON abs(k1.cx - k2.cx) <= 1 AND abs(k1.cy - k2.cy) <= 1 "
    "AND k1.key <> k2.key), "
    "reach(a, b) AS (SELECT a, b FROM e "
    "UNION SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a "
    "WHERE e.b <> r.a), "
    "comp AS (SELECT a AS node, least(a, min(b)) AS component "
    "FROM reach GROUP BY a), "
    "lab AS (SELECT k.cx, k.cy, coalesce(c.component, k.key) AS cluster "
    "FROM k LEFT JOIN comp c ON k.key = c.node) "
    "SELECT b.event_id, b.cx, b.cy, lab.cluster "
    "FROM b JOIN lab ON b.cx = lab.cx AND b.cy = lab.cy"
)


def q_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup via Bloom filter — dedup an incoming
    batch against a historical corpus WITHOUT joining the corpus: only
    its m-bit filter ships (broadcast; m=4096, k=4 here, sized to the
    sf0.01 corpus and fixed so the oracle replays the identical filter —
    at 100 TB m scales ~10 bits/doc and the bit table stays
    broadcast-sized because it is capped at m rows regardless of corpus
    size).  Probe keys: even doc_ids re-use their corpus text (planted
    re-crawls — the no-false-negative guarantee makes flagged=true
    structural), odd doc_ids probe reversed text (non-members — any
    flagged=true row is a deterministic hash-collision false positive,
    identically replayed by the oracle)."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    corpus_keys = docs.select(F.md5("text").alias("key"))
    bits = sketches.bloom_bits(corpus_keys, "key", m=4096, k=4)
    probes = docs.select(
        "doc_id",
        (F.col("doc_id") % 2 == 0).alias("truth_member"),
        F.when(F.col("doc_id") % 2 == 0, F.md5("text"))
        .otherwise(F.md5(F.reverse("text")))
        .alias("key"),
    )
    out = sketches.bloom_probe(bits, probes, "key", m=4096, k=4)
    return out.select("doc_id", "truth_member", F.col("bloom_hit").alias("flagged"))


ORACLE_BLOOM_DEDUP = (
    "WITH ck AS (SELECT md5(text) AS key FROM documents), "
    "lanes AS (SELECT unnest([0, 1, 2, 3]) AS i), "
    "bits AS (SELECT DISTINCT "
    "('0x' || substr(md5(i || ':' || key), 1, 15))::BIGINT % 4096 AS bit "
    "FROM ck, lanes), "
    "pr AS (SELECT doc_id, doc_id % 2 = 0 AS truth_member, "
    "CASE WHEN doc_id % 2 = 0 THEN md5(text) ELSE md5(reverse(text)) END AS key "
    "FROM documents), "
    "pb AS (SELECT doc_id, truth_member, "
    "('0x' || substr(md5(i || ':' || key), 1, 15))::BIGINT % 4096 AS pbit "
    "FROM pr, lanes), "
    "hits AS (SELECT doc_id, truth_member, "
    "sum(CASE WHEN bits.bit IS NOT NULL THEN 1 ELSE 0 END) AS h "
    "FROM pb LEFT JOIN bits ON pb.pbit = bits.bit GROUP BY 1, 2) "
    "SELECT doc_id, truth_member, h = 4 AS flagged FROM hits"
)


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build over 3-gram shingle terms: term -> document
    frequency + sorted posting list (comma-joined, deterministic).  One
    exchange on the term after a map-side-distinct explode; the df-range
    slice [2, 40] bounds the emitted lists (at 100 TB, high-df terms are
    exactly the boilerplate `heavy_shingles` drops, and posting lists
    above the cap would be chunked into fixed-size segments)."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    sh = dedup.with_shingles(docs, "text", n=3).select(
        "doc_id", F.explode("shingles").alias("term")
    )
    idx = sh.select("term", "doc_id").distinct()
    agg = idx.groupBy("term").agg(
        F.count("*").alias("df"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("doc_id")), lambda x: x.cast("string")
            ),
            ",",
        ).alias("postings"),
    )
    return agg.where((F.col("df") >= 2) & (F.col("df") <= 40))


ORACLE_INVERTED_INDEX = (
    "WITH toks AS (SELECT doc_id, string_split_regex(text, '\\s+') AS tk "
    "FROM documents), "
    "sh AS (SELECT doc_id, unnest(list_distinct(list_transform("
    "generate_series(1, greatest(len(tk) - 2, 1)), "
    "i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2])))) AS term FROM toks), "
    "d AS (SELECT DISTINCT term, doc_id FROM sh), "
    "a AS (SELECT term, count(*) AS df, "
    "string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings "
    "FROM d GROUP BY term) "
    "SELECT term, df, postings FROM a WHERE df BETWEEN 2 AND 40"
)


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier PageRank over a deterministic 3-out link graph
    (dst = (doc_id·7919 + j·104729 + 13) mod N), 3 iterations in
    FIXED-POINT integer arithmetic (rank = BIGINT multiples of 1e-12,
    d = 17/20, integer division throughout — see
    `operators/graph.py::pagerank_fixed`).  Integer sums are associative,
    so the result is bit-identical at any parallelism and the oracle
    replays all three iterations exactly.  Each iteration = one rank⋈edge
    equi-join + one map-side-combined sum exchange on dst."""
    from .operators import graph

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    n_df = docs.agg(F.count("*").alias("_n"))
    edges = (
        docs.crossJoin(F.broadcast(n_df))
        .select(
            "doc_id",
            "_n",
            F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("j"),
        )
        .select(
            F.col("doc_id").alias("src"),
            F.expr("(doc_id * 7919 + j * 104729 + 13) % _n").alias("dst"),
        )
    )
    r = graph.pagerank_fixed(
        docs.select(F.col("doc_id").alias("node")), edges, iters=3, out_deg=3
    )
    return r.select(F.col("node").alias("doc_id"), "rank")


def _oracle_pagerank(iters: int = 3) -> str:
    scale, dnum, dden = 10**12, 17, 20
    ctes = [
        "nn AS (SELECT count(*) AS n FROM documents)",
        "nd AS (SELECT doc_id FROM documents)",
        "lanes AS (SELECT unnest([0, 1, 2]) AS j)",
        "ed AS (SELECT doc_id AS src, "
        "(doc_id * 7919 + j * 104729 + 13) % n AS dst FROM nd CROSS JOIN nn "
        "CROSS JOIN lanes)",
        f"r0 AS (SELECT doc_id AS node, CAST({scale} // n AS BIGINT) AS rank "
        "FROM nd CROSS JOIN nn)",
    ]
    for t in range(iters):
        ctes.append(
            f"s{t + 1} AS (SELECT dst AS node, sum(rank // 3) AS m "
            f"FROM ed JOIN r{t} ON ed.src = r{t}.node GROUP BY dst)"
        )
        ctes.append(
            f"r{t + 1} AS (SELECT nd.doc_id AS node, "
            f"CAST(({dden - dnum} * {scale}) // ({dden} * n) "
            f"+ ({dnum} * coalesce(m, 0)) // {dden} AS BIGINT) AS rank "
            f"FROM nd CROSS JOIN nn LEFT JOIN s{t + 1} ON nd.doc_id = s{t + 1}.node)"
        )
    return (
        "WITH " + ", ".join(ctes)
        + f" SELECT node AS doc_id, rank FROM r{iters}"
    )


# quality-feature CTEs shared by budget_pack (same expression tree as
# ORACLE_QUALITY_SCORE, proven bit-exact there)
_QUALITY_Q_CTES = (
    "f AS (SELECT doc_id, "
    "CAST(length(text) AS DOUBLE) AS n_chars, "
    "CAST(len(string_split_regex(lower(text), '\\s+')) AS DOUBLE) AS n_tokens, "
    "CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE) AS n_punct, "
    "CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), "
    "x -> x IN ('the', 'and', 'of', 'to', 'is'))) AS DOUBLE) AS n_stop, "
    "len(string_split_regex(text, '\\s+')) AS n_toks "
    "FROM documents), "
    "q AS (SELECT doc_id, n_toks, 0.4 * least(n_tokens / 64.0, 1.0) "
    "+ 0.3 * least((CASE WHEN n_tokens > 0 THEN n_stop / n_tokens ELSE 0.0 END) * 4, 1.0) "
    "+ 0.3 * (1.0 - least((CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END) * 5, 1.0)) "
    "AS quality FROM f)"
)


def q_budget_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget packing: fill a token budget (⅓ of the corpus total)
    with the highest-quality documents — the data-mixing primitive for
    "train on the best B tokens".  Selection order is (quality_bucket
    DESC, doc_id ASC), bucket = floor(20·quality).

    Scale shape: the naive form is a GLOBAL cumulative-sum window —
    single-partition at 100 TB.  This runs the two-phase equivalent:
    (1) per-bucket token totals (tiny agg) + running totals across
    buckets (a ~21-row window), (2) whole buckets below the cut are
    taken without any row-level work, and ONLY the boundary bucket gets
    a row-level cumulative window (1/n_buckets of the data; recurse on a
    finer bucket key if still hot).  The oracle runs the naive global
    window — row sets must agree exactly."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    scored = text.with_quality_score(docs).select(
        "doc_id",
        F.size(F.split("text", r"\s+")).alias("n_toks"),
        F.floor(F.col("quality_score") * 20).alias("qb"),
    )
    b_df = scored.agg(F.expr("CAST(sum(n_toks) DIV 3 AS BIGINT)").alias("_budget"))
    bt = scored.groupBy("qb").agg(F.sum("n_toks").alias("t"))
    wb = Window.orderBy(F.desc("qb")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    bt = bt.withColumn("cum_after", F.sum("t").over(wb)).withColumn(
        "cum_before", F.col("cum_after") - F.col("t")
    )
    d = scored.join(F.broadcast(bt), "qb").crossJoin(F.broadcast(b_df))
    wi = (
        Window.partitionBy("qb")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = d.withColumn("_intra", F.sum("n_toks").over(wi))
    selected = (
        F.when(F.col("cum_after") <= F.col("_budget"), F.lit(True))
        .when(F.col("cum_before") >= F.col("_budget"), F.lit(False))
        .otherwise(F.col("cum_before") + F.col("_intra") <= F.col("_budget"))
    )
    return d.where(selected).select("doc_id", "qb", "n_toks")


ORACLE_BUDGET_PACK = (
    f"WITH {_QUALITY_Q_CTES}, "
    "s AS (SELECT doc_id, n_toks, CAST(floor(quality * 20) AS BIGINT) AS qb FROM q), "
    "b AS (SELECT CAST(sum(n_toks) // 3 AS BIGINT) AS budget FROM s), "
    "w AS (SELECT doc_id, qb, n_toks, "
    "CAST(sum(n_toks) OVER (ORDER BY qb DESC, doc_id ASC "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM s) "
    "SELECT doc_id, qb, n_toks FROM w CROSS JOIN b WHERE cum <= budget"
)


def q_mix_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture resampling: deterministic hash-thinning of each
    ``source`` stratum toward a UNIFORM target mix at half the corpus
    size — the data-mixing step that rebalances an over-crawled domain.
    keep-rate cutoff_i = min(10000, (K·10000) DIV (n_sources·n_i)) in
    basis points, keep iff md5-hash(doc_id) % 10000 < cutoff_i — pure
    integer math, layout-independent, replayed by the oracle.  Per-source
    counts are a tiny agg broadcast back onto the scan; the filter is
    map-side (no shuffle of the corpus)."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "source")
    tot = docs.agg(
        F.count("*").alias("_total"),
        F.countDistinct("source").alias("_nsrc"),
    )
    counts = docs.groupBy("source").agg(F.count("*").alias("n_orig"))
    cut = (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_orig",
            F.expr(
                "CAST(least(10000, ((_total DIV 2) * 10000) DIV (_nsrc * n_orig)) "
                "AS BIGINT)"
            ).alias("cutoff"),
        )
    )
    kept = (
        docs.join(F.broadcast(cut), "source")
        .where(
            F.pmod(dedup.md5_long15(F.col("doc_id").cast("string")), F.lit(10000))
            < F.col("cutoff")
        )
        .groupBy("source")
        .agg(F.count("*").alias("n_kept"))
    )
    return (
        cut.join(F.broadcast(kept), "source", "left")
        .select(
            "source",
            "n_orig",
            "cutoff",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        )
    )


ORACLE_MIX_RESAMPLE = (
    "WITH tot AS (SELECT count(*) AS total, count(DISTINCT source) AS nsrc "
    "FROM documents), "
    "c AS (SELECT source, count(*) AS n_orig FROM documents GROUP BY source), "
    "cut AS (SELECT source, n_orig, "
    "CAST(least(10000, ((total // 2) * 10000) // (nsrc * n_orig)) AS BIGINT) "
    "AS cutoff FROM c CROSS JOIN tot), "
    "k AS (SELECT d.source, count(*) AS n_kept FROM documents d "
    "JOIN cut ON d.source = cut.source "
    "WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT "
    "% 10000 < cut.cutoff GROUP BY d.source) "
    "SELECT cut.source, cut.n_orig, cut.cutoff, "
    "CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept "
    "FROM cut LEFT JOIN k ON cut.source = k.source"
)


def q_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter join pruning (`sketches.bloom_filtered_join`):
    the selective build side (high-balance BUILDING customers) is sketched
    into ONE ≤2^16-bit Bloom row, broadcast, and the orders probe side is
    filtered MAP-SIDE before the join shuffles — the explicit version of
    Spark's runtime row-level filtering, sized O(m) regardless of table
    cardinality.  Exactness: no false negatives + the real join removes
    false positives, so the oracle is the PLAIN join (no bloom in SQL)."""
    cust = (
        _read(spark, sf_dir, "customer")
        .where((F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 7500.0))
        .select("c_custkey", "c_acctbal")
    )
    orders = _read(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"), "o_orderkey", "o_totalprice"
    )
    j = sketches.bloom_filtered_join(cust, orders, "c_custkey", m=1 << 16, k=4)
    return j.select("o_orderkey", "c_custkey", "o_totalprice", "c_acctbal")


ORACLE_BLOOM_JOIN = (
    "SELECT o_orderkey, o_custkey AS c_custkey, o_totalprice, c_acctbal "
    "FROM orders JOIN customer ON o_custkey = c_custkey "
    "WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 7500.0"
)


def q_pricing_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation over lineitem: per (returnflag, linestatus),
    per returnflag subtotal, and grand total in ONE pass — Spark expands
    the grouping sets before the exchange, so the three granularities
    share a single shuffle (vs three separate groupBys = three shuffles
    at 100 TB).  grouping_id disambiguates NULL-as-subtotal from a NULL
    key value; DECIMAL sums keep the oracle bit-exact."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_price"),
            F.count("*").alias("n_rows"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "sum_qty", "sum_price", "n_rows")
    )


ORACLE_PRICING_ROLLUP = (
    "SELECT l_returnflag, l_linestatus, "
    "CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid, "
    "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, "
    "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price, "
    "count(*) AS n_rows "
    "FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)"
)


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped three-table join: unshipped-revenue top 10.
    customer (filtered, broadcast) ⨝ orders (date-filtered) ⨝ lineitem
    (date-filtered) — both filters reach the parquet scans (predicate
    pushdown), the dim join broadcasts, and only the orders⨝lineitem
    equi-join shuffles on l_orderkey.  DECIMAL revenue sum ⇒ the top-10
    cutoff is bit-stable across engines; l_orderkey tiebreak makes the
    LIMIT deterministic."""
    cust = (
        _read(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        _read(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    li = (
        _read(spark, sf_dir, "lineitem")
        .where(F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    rev = (
        orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(li, orders["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
                .cast("decimal(18,6)")
            ).cast("double").alias("revenue")
        )
    )
    return rev.orderBy(F.desc("revenue"), "o_orderdate", "o_orderkey").limit(10)


ORACLE_SHIPPING_PRIORITY = (
    "SELECT o_orderkey, o_orderdate, o_orderpriority, "
    "CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) "
    "AS revenue "
    "FROM customer JOIN orders ON c_custkey = o_custkey "
    "JOIN lineitem ON o_orderkey = l_orderkey "
    "WHERE c_mktsegment = 'BUILDING' "
    "AND o_orderdate < TIMESTAMP '1998-01-01' "
    "AND l_shipdate > TIMESTAMP '1998-01-01' "
    "GROUP BY o_orderkey, o_orderdate, o_orderpriority "
    "ORDER BY revenue DESC, o_orderdate, o_orderkey LIMIT 10"
)


def q_tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution tile occupancy pyramid (res 12 / 10 / 8) in ONE
    shuffle: the res-12 cell is computed once (pure Column bit math,
    fused into the scan), coarser cells derive MAP-SIDE by Morton shift
    (parent = res'<<58 | morton >> 2·Δ — floor-division composition makes
    this bit-identical to encoding directly at the coarser res, which is
    exactly what the oracle does), then one explode×3 → one partial-
    aggregated groupBy exchange.  The naive form — three separate
    groupBys — scans and shuffles the 10^12-doc table three times."""
    pts = _pts_from_key(_read(spark, sf_dir, "orders"), "o_orderkey")
    # Materialize the fine cell as a COLUMN before deriving parents:
    # inlining the cell expression into all three struct fields copies
    # the whole spread-bit chain 3x (Catalyst does no CSE across struct
    # fields) — measured 7.5 s vs 0.5 s at sf0.1.  With the projection
    # boundary the chain evaluates once per row.
    base = pts.select(cell_id_col(F.col("lon"), F.col("lat"), RES).alias("c12"))
    morton = F.col("c12").bitwiseAND(F.lit((1 << RES_SHIFT) - 1))
    levels = F.array(*[
        F.struct(
            F.lit(r).cast("long").alias("res"),
            F.lit(r << RES_SHIFT).bitwiseOR(
                F.shiftright(morton, 2 * (RES - r))
            ).alias("cell_id"),
        )
        for r in (RES, RES - 2, RES - 4)
    ])
    return (
        base.select(F.explode(levels).alias("l"))
        .groupBy(F.col("l.res").alias("res"), F.col("l.cell_id").alias("cell_id"))
        .agg(F.count("*").alias("n_docs"))
    )


def _oracle_tile_pyramid() -> str:
    parts = []
    for r in (RES, RES - 2, RES - 4):
        parts.append(
            f"SELECT CAST({r} AS BIGINT) AS res, cell_id, count(*) AS n_docs "
            f"FROM ({_cell_id_sql('lon', 'lat', r, 'doc_id')}) GROUP BY cell_id"
        )
    return (
        f"WITH pts AS ({_pts_sql('orders', 'o_orderkey')}) "
        + " UNION ALL ".join(parts)
    )


ORACLE_TILE_PYRAMID = _oracle_tile_pyramid()


def q_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped EXISTS semi-join: orders placed in 1998 that had
    at least one line item shipped more than 60 days after the order
    date, counted per priority.  The orders date filter pushes to the
    scan; the semi-join shuffles on the order key with NO row
    duplication (left_semi short-circuits on first match — a fat order
    with 7 late lines contributes one row, not 7, so the downstream agg
    never sees join fan-out)."""
    orders = (
        _read(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )
    li = _read(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > F.expr("o_orderdate + INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("n_late_orders"))


ORACLE_ORDER_PRIORITY_CHECK = (
    "SELECT o_orderpriority, count(*) AS n_late_orders FROM orders "
    "WHERE o_orderdate >= TIMESTAMP '1998-01-01' "
    "AND o_orderdate < TIMESTAMP '1999-01-01' "
    "AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey "
    "AND l_shipdate > o_orderdate + INTERVAL 60 DAY) "
    "GROUP BY o_orderpriority"
)


def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped EXISTS + NOT-EXISTS composition: suppliers who
    were the SOLE late supplier on a finished multi-supplier order.
    "Late" = shipped more than 60 days after the order date (this
    schema's lateness signal; TPC-H uses receipt vs commit date).

    Three-join pyramid, each leg a different join flavor on the SAME
    key: inner (lineitem×orders, late-flag), left_semi (another
    supplier exists on the order), left_anti (no OTHER supplier was
    late).  All three shuffle on the order key, so Catalyst reuses one
    exchange partitioning end-to-end; supplier + nation are
    broadcast.  The late pair set is DISTINCT (a supplier with 3 late
    lines on one order waits once — documented deviation from Q21's
    per-line multiplicity)."""
    orders = (
        _read(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = _read(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    late = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .where(F.col("l_shipdate") > F.expr("o_orderdate + INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    other = li.select(
        F.col("l_orderkey").alias("x_orderkey"), F.col("l_suppkey").alias("x_suppkey")
    )
    has_other = late.join(
        other,
        (F.col("l_orderkey") == F.col("x_orderkey"))
        & (F.col("l_suppkey") != F.col("x_suppkey")),
        "left_semi",
    )
    late2 = late.select(
        F.col("l_orderkey").alias("y_orderkey"), F.col("l_suppkey").alias("y_suppkey")
    )
    sole = has_other.join(
        late2,
        (F.col("l_orderkey") == F.col("y_orderkey"))
        & (F.col("l_suppkey") != F.col("y_suppkey")),
        "left_anti",
    )
    sup = _read(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    nat = _read(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        sole.join(F.broadcast(sup), sole["l_suppkey"] == sup["s_suppkey"])
        .join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
        .groupBy("s_name", "n_name")
        .agg(F.count("*").alias("numwait"))
    )


ORACLE_WAITING_SUPPLIERS = (
    "WITH lp AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem "
    "JOIN orders ON l_orderkey = o_orderkey "
    "WHERE o_orderstatus = 'F' "
    "AND l_shipdate > o_orderdate + INTERVAL 60 DAY) "
    "SELECT s_name, n_name, count(*)::BIGINT AS numwait FROM lp "
    "JOIN supplier ON s_suppkey = l_suppkey "
    "JOIN nation ON n_nationkey = s_nationkey "
    "WHERE EXISTS (SELECT 1 FROM lineitem l2 "
    "WHERE l2.l_orderkey = lp.l_orderkey AND l2.l_suppkey <> lp.l_suppkey) "
    "AND NOT EXISTS (SELECT 1 FROM lp lp2 "
    "WHERE lp2.l_orderkey = lp.l_orderkey AND lp2.l_suppkey <> lp.l_suppkey) "
    "GROUP BY s_name, n_name"
)


def q_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped churn report: customers richer than the average
    positive-balance customer with NO order since 2000-01-01, rolled up
    per nation.  (Q22 tests "never ordered"; this corpus's generator
    gives every customer early orders, so the recency cutoff is the
    non-degenerate equivalent — 5/55/646 rows at sf0.001/0.01/0.1.)
    Scalar subquery = 1-row agg broadcast-crossJoined (the distributed
    form of a scalar; no driver collect); the no-recent-orders test is
    a left_anti on the customer key with the date filter pushed into
    the orders scan, NOT applied post-join — an anti-join's filter
    placement changes its meaning.

    Engine-stable money math: the threshold is integer-cent summed
    (sum(round(bal·100))::BIGINT / (100·count) — one IEEE divide) and
    the output balance total is integer-cent summed then /100, so no
    float-summation-order or double→decimal rounding divergence between
    Spark and the oracle."""
    cust = _read(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    thr = (
        cust.where(F.col("c_acctbal") > 0.0)
        .agg(
            (
                F.sum(cents) / (F.lit(100.0) * F.count(F.lit(1)))
            ).alias("_thr")
        )
    )
    rich = cust.crossJoin(F.broadcast(thr)).where(F.col("c_acctbal") > F.col("_thr"))
    recent = (
        _read(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("2000-01-01").cast("date"))
        .select("o_custkey")
    )
    idle = rich.join(recent, rich["c_custkey"] == recent["o_custkey"], "left_anti")
    nat = _read(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        idle.join(F.broadcast(nat), idle["c_nationkey"] == nat["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_custs"),
            (F.sum(cents) / F.lit(100.0)).alias("total_bal"),
        )
    )


ORACLE_IDLE_CUSTOMERS = (
    "WITH thr AS (SELECT sum(CAST(round(c_acctbal * 100) AS BIGINT)) "
    "/ (100.0 * count(*)) AS t FROM customer WHERE c_acctbal > 0.0) "
    "SELECT n_name, count(*)::BIGINT AS n_custs, "
    "sum(CAST(round(c_acctbal * 100) AS BIGINT)) / 100.0 AS total_bal "
    "FROM customer, thr JOIN nation ON n_nationkey = c_nationkey "
    "WHERE c_acctbal > thr.t "
    "AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey "
    "AND o_orderdate >= DATE '2000-01-01') "
    "GROUP BY n_name"
)


def q_cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped argmin-per-group: for every part, the supplier(s)
    observed selling it at the minimum unit price (extendedprice /
    quantity), ties kept — the correlated-min-subquery shape.

    Distributed form: the per-part min is a partial-aggregable groupBy
    joined BACK to the line rows.  The price match is written
    ``unit_price <= min_price`` (equivalent to equality because min is a
    lower bound) so Catalyst keys the join on l_partkey ALONE — writing
    ``==`` would pull the price into the hash key, forcing a
    (partkey, price) exchange pair AND a third exchange for the
    DISTINCT; with the non-equi form the join, the agg, and the
    DISTINCT all run on the single l_partkey partitioning: two hash
    exchanges in the whole plan (plan-asserted in tests).  The float
    comparison is exact by construction: min() SELECTS one of the
    actual division results and the probe recomputes the identical
    division — bit-equal in any IEEE engine, no epsilon needed.
    Supplier + part dims broadcast; DISTINCT collapses repeat
    (part, supplier) observations at the same price."""
    li = _read(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"),
    )
    mins = li.groupBy("l_partkey").agg(F.min("unit_price").alias("min_price"))
    mins = mins.select(F.col("l_partkey").alias("m_partkey"), "min_price")
    best = (
        li.join(
            mins,
            (F.col("l_partkey") == F.col("m_partkey"))
            & (F.col("unit_price") <= F.col("min_price")),
        )
        .select("l_partkey", "l_suppkey", "min_price")
        .distinct()
    )
    part = _read(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand")
    sup = _read(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        best.join(F.broadcast(part), best["l_partkey"] == part["p_partkey"])
        .join(F.broadcast(sup), best["l_suppkey"] == sup["s_suppkey"])
        .select("p_partkey", "p_name", "p_brand", "s_name", "min_price")
    )


ORACLE_CHEAPEST_SUPPLIER = (
    "WITH up AS (SELECT l_partkey, l_suppkey, "
    "l_extendedprice / l_quantity AS unit_price FROM lineitem), "
    "mn AS (SELECT l_partkey, min(unit_price) AS min_price "
    "FROM up GROUP BY l_partkey) "
    "SELECT DISTINCT p_partkey, p_name, p_brand, s_name, min_price "
    "FROM up JOIN mn ON up.l_partkey = mn.l_partkey "
    "AND up.unit_price = mn.min_price "
    "JOIN part ON p_partkey = up.l_partkey "
    "JOIN supplier ON s_suppkey = up.l_suppkey"
)


def q_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shaped distribution: how many customers placed exactly N
    orders, INCLUDING the zero-order customers (left outer join, count of
    the non-null side).  Two hash aggs back to back — the second one
    (distribution) groups on the first's output, so its input is already
    customer-cardinality, never order-cardinality."""
    cust = _read(spark, sf_dir, "customer").select("c_custkey")
    orders = _read(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("n_custs"))


ORACLE_CUSTOMER_DISTRIBUTION = (
    "SELECT c_count, count(*) AS n_custs FROM ("
    "SELECT c_custkey, count(o_orderkey) AS c_count "
    "FROM customer LEFT JOIN orders ON c_custkey = o_custkey "
    "GROUP BY c_custkey) GROUP BY c_count"
)


def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shaped max-revenue supplier: per-supplier revenue over a
    half-year shipping window, then the supplier(s) whose revenue equals
    the global max.  The max crosses back in as ONE broadcast row (the
    scalar-subquery pattern); DECIMAL sums make the equality filter
    bit-stable; supplier dim joins broadcast."""
    li = (
        _read(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1999-07-01").cast("timestamp"))
        )
        .select("l_suppkey", "l_extendedprice", "l_discount")
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum(
            (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
            .cast("decimal(18,6)")
        ).alias("_rev_dec")
    )
    mx = rev.agg(F.max("_rev_dec").alias("_max_dec"))
    supp = _read(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("_rev_dec") == F.col("_max_dec"))
        .join(F.broadcast(supp), rev["l_suppkey"] == supp["s_suppkey"])
        .select(
            "s_suppkey", "s_name",
            F.col("_rev_dec").cast("double").alias("total_revenue"),
        )
    )


ORACLE_TOP_SUPPLIER = (
    "WITH rev AS (SELECT l_suppkey, "
    "sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS r "
    "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1999-01-01' "
    "AND l_shipdate < TIMESTAMP '1999-07-01' GROUP BY l_suppkey) "
    "SELECT s_suppkey, s_name, CAST(r AS DOUBLE) AS total_revenue "
    "FROM rev JOIN supplier ON l_suppkey = s_suppkey "
    "WHERE r = (SELECT max(r) FROM rev)"
)


def q_render_interleaved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved-payload rendering: spans arrive OUT of order (media
    span first in the array regardless of its offset) and the renderer
    must restore offset order, emit text payloads verbatim and media
    spans as '<kind>' sentinels, and join with single spaces — the
    final doc→training-text step of a multimodal pipeline, and a direct
    exercise of the span-sequence invariant (kind, payload, ORDER).

    Scale shape: array_sort on the struct array (offset leads the
    struct, so lexicographic struct order IS offset order) + transform +
    array_join — a narrow per-row Column fold, ZERO shuffles.  The
    oracle rebuilds the spans as rows and replays the render as an
    ordered string_agg — an independent formulation."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    staged = docs.withColumn("_toks", F.split(F.lower("text"), r"\s+"))
    chunk = lambda a: F.concat_ws(  # noqa: E731
        " ", *[F.try_element_at("_toks", F.lit(a + j)) for j in range(5)]
    )
    mk = lambda off, kind, payload: F.struct(  # noqa: E731
        F.lit(off).cast("int").alias("off"),
        F.lit(kind).alias("kind"),
        payload.alias("payload"),
    )
    media_off = (F.col("doc_id") % 3 * 10 + 5).cast("int")
    media = F.struct(
        media_off.alias("off"),
        F.lit("media").alias("kind"),
        F.format_string("media://blob/%d", F.col("doc_id")).alias("payload"),
    )
    # deliberately NOT offset order: media first, then t3, t1, t2
    spans = F.array(media, mk(30, "text", chunk(11)), mk(10, "text", chunk(1)),
                    mk(20, "text", chunk(6)))
    rendered = F.array_join(
        F.transform(
            F.array_sort(spans),
            lambda s: F.when(s["kind"] == "text", s["payload"]).otherwise(
                F.concat(F.lit("<"), s["kind"], F.lit(">"))
            ),
        ),
        " ",
    )
    return staged.select(
        "doc_id",
        rendered.alias("rendered"),
        F.size(spans).cast("long").alias("n_spans"),
    )


ORACLE_RENDER_INTERLEAVED = (
    "WITH toks AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS tk "
    "FROM documents), "
    "u AS ("
    "SELECT doc_id, (doc_id % 3 * 10 + 5) AS off, '<media>' AS piece FROM toks "
    "UNION ALL SELECT doc_id, 10, coalesce(array_to_string(tk[1:5], ' '), '') FROM toks "
    "UNION ALL SELECT doc_id, 20, coalesce(array_to_string(tk[6:10], ' '), '') FROM toks "
    "UNION ALL SELECT doc_id, 30, coalesce(array_to_string(tk[11:15], ' '), '') FROM toks) "
    "SELECT doc_id, string_agg(piece, ' ' ORDER BY off) AS rendered, "
    "CAST(4 AS BIGINT) AS n_spans FROM u GROUP BY doc_id"
)


def q_discount_revenue_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped OR-of-ANDs predicate join: discounted revenue
    for three (brand, size-range, quantity-range) arms.  The part-side
    arms (brand + size) fold into the dim scan filter; the lineitem arm
    predicates apply post-join because each references BOTH tables —
    Catalyst still pushes the disjunction's part-only simplification
    down to the part scan, and the dim side broadcasts."""
    li = _read(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = _read(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    arm = lambda brand, smin, smax, qmin, qmax: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(smin, smax)
        & F.col("l_quantity").between(qmin, qmax)
    )
    j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"]).where(
        arm("Brand#1", 1, 10, 1, 20)
        | arm("Brand#7", 5, 20, 10, 35)
        | arm("Brand#13", 10, 40, 20, 50)
    )
    return j.agg(
        F.sum(
            (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
            .cast("decimal(18,6)")
        ).cast("double").alias("revenue"),
        F.count("*").alias("n_lines"),
    )


ORACLE_DISCOUNT_REVENUE_BRANDS = (
    "SELECT CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) "
    "AS DOUBLE) AS revenue, count(*) AS n_lines "
    "FROM lineitem JOIN part ON l_partkey = p_partkey "
    "WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 "
    "AND l_quantity BETWEEN 1 AND 20) "
    "OR (p_brand = 'Brand#7' AND p_size BETWEEN 5 AND 20 "
    "AND l_quantity BETWEEN 10 AND 35) "
    "OR (p_brand = 'Brand#13' AND p_size BETWEEN 10 AND 40 "
    "AND l_quantity BETWEEN 20 AND 50)"
)


_BM25_TERMS = ["spark", "join", "window", "scan"]


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval (`text.bm25_topk`): top-10 docs for a
    4-term query.  The token explode is filtered to the query terms
    map-side, so only query-matching tokens ever shuffle; (N, avgdl)
    cross in as one broadcast row; top-k is TakeOrderedAndProject, not a
    global window.  Scores rounded 9 dp (JVM log vs DuckDB ln is 1-ulp
    unstable), doc_id tiebreak makes the LIMIT deterministic."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return text.bm25_topk(docs, _BM25_TERMS, k=10, k1=1.2, b=0.75)


ORACLE_BM25_TOPK = (
    "WITH t AS (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS token "
    "FROM documents), "
    "tok AS (SELECT doc_id, token FROM t WHERE token <> ''), "
    "dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id), "
    "stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl), "
    "tf AS (SELECT doc_id, token, count(*) AS tf FROM tok "
    "WHERE token IN ('spark', 'join', 'window', 'scan') GROUP BY 1, 2), "
    "df AS (SELECT token, count(*) AS df FROM tf GROUP BY token), "
    "sc AS (SELECT tf.doc_id, "
    "ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5)) "
    "* (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) "
    "AS term_score "
    "FROM tf JOIN df ON tf.token = df.token "
    "JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats), "
    "agg AS (SELECT doc_id, round(sum(term_score), 9) AS score_r, "
    "count(*) AS n_terms_hit FROM sc GROUP BY doc_id), "
    "r AS (SELECT doc_id, score_r, n_terms_hit, "
    "row_number() OVER (ORDER BY score_r DESC, doc_id) AS rank FROM agg) "
    "SELECT doc_id, CAST(rank AS INT) AS rank, score_r, n_terms_hit "
    "FROM r WHERE rank <= 10"
)


def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped correlated-average join-back: yearly revenue
    that would vanish if small-quantity orders of one brand were
    dropped — lines of Brand#4 MEDIUM parts whose quantity is below
    0.2 × that part's observed average quantity.

    Decorrelated form: the per-part average is a partial-aggregable
    groupBy over the SAME filtered join, joined BACK on l_partkey — so
    the agg, the join-back, and the final sum all run on one l_partkey
    exchange (the part dim broadcasts into both legs).  The threshold is
    exact across engines: quantities are integral doubles, so
    sum/count is order-independent and ``0.2 * avg`` is one IEEE
    product.  Revenue follows the engine money convention
    (per-row DECIMAL(18,6) cast, decimal sum, one final double divide
    by the 7 observed order years)."""
    p = (
        _read(spark, sf_dir, "part")
        .where((F.col("p_brand") == "Brand#4") & (F.col("p_type") == "MEDIUM"))
        .select("p_partkey")
    )
    li = _read(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    lines = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"]).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    avg_q = lines.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        (F.sum("l_quantity") / F.count(F.lit(1))).alias("_avg_qty")
    )
    small = lines.join(
        avg_q, lines["l_partkey"] == avg_q["a_partkey"]
    ).where(F.col("l_quantity") < F.lit(0.2) * F.col("_avg_qty"))
    return small.agg(
        (
            F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).cast("double")
            / F.lit(7.0)
        ).alias("avg_yearly"),
        F.count("*").alias("n_small_lines"),
    )


ORACLE_SMALL_QUANTITY_REVENUE = (
    "WITH pl AS (SELECT l_partkey, l_quantity, l_extendedprice "
    "FROM lineitem JOIN part ON l_partkey = p_partkey "
    "WHERE p_brand = 'Brand#4' AND p_type = 'MEDIUM'), "
    "a AS (SELECT l_partkey AS a_partkey, "
    "sum(l_quantity) / count(*) AS avg_qty FROM pl GROUP BY l_partkey) "
    "SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0 "
    "AS avg_yearly, count(*) AS n_small_lines "
    "FROM pl JOIN a ON l_partkey = a_partkey "
    "WHERE l_quantity < 0.2 * avg_qty"
)


def q_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped HAVING-threshold semi-aggregation: customers
    whose single order totals more than 300 units.

    The groupBy(l_orderkey) pre-aggregates lineitem BEFORE any wide
    table joins it — the filtered agg output is tiny (survivor orders
    only), so AQE converts the orders join to a broadcast at runtime
    while the written plan stays a plain equi-join (no hint; at 100 TB
    the optimizer re-decides from the true post-filter size).  Customer
    is dimension-sized and broadcasts explicitly.  Quantities are
    integral doubles, so the 300-unit threshold is exact."""
    li = _read(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .where(F.col("sum_qty") > 300.0)
    )
    orders = _read(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = _read(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(orders, big["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            "o_totalprice", "sum_qty",
        )
    )


ORACLE_LARGE_VOLUME_CUSTOMERS = (
    "SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty "
    "FROM (SELECT l_orderkey, sum(l_quantity) AS sum_qty FROM lineitem "
    "GROUP BY l_orderkey HAVING sum(l_quantity) > 300.0) "
    "JOIN orders ON l_orderkey = o_orderkey "
    "JOIN customer ON o_custkey = c_custkey"
)


def q_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped bidirectional nation-pair shipping report:
    revenue between NATION_1 and NATION_2 (both directions) per ship
    year.

    Join shape for 100 TB: lineitem⋈orders shuffles on the order key
    (the two fact tables); customer rides the orders side on o_custkey;
    supplier and nation are dimension broadcasts.  The nation-pair
    disjunction applies AFTER both nation names are attached — it
    references both sides, so it cannot push below the join, but the
    per-side nationkey IN (1,2) prefilters DO push into the customer
    and supplier scans, shrinking the fact join's probe input."""
    n1, n2 = "NATION_1", "NATION_2"
    nat = _read(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cust = (
        _read(spark, sf_dir, "customer")
        .where(F.col("c_nationkey").isin(1, 2))
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    sup = (
        _read(spark, sf_dir, "supplier")
        .where(F.col("s_nationkey").isin(1, 2))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    orders = _read(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _read(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    j = (
        li.join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .where(
            ((F.col("supp_nation") == n1) & (F.col("cust_nation") == n2))
            | ((F.col("supp_nation") == n2) & (F.col("cust_nation") == n1))
        )
    )
    return j.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
    ).agg(
        F.sum(
            (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
            .cast("decimal(18,6)")
        ).cast("double").alias("revenue"),
        F.count("*").alias("n_lines"),
    )


ORACLE_NATION_TRADE_VOLUME = (
    "SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation, "
    "CAST(year(l_shipdate) AS INT) AS l_year, "
    "CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) "
    "AS DOUBLE) AS revenue, count(*) AS n_lines "
    "FROM lineitem "
    "JOIN supplier ON l_suppkey = s_suppkey "
    "JOIN orders ON l_orderkey = o_orderkey "
    "JOIN customer ON o_custkey = c_custkey "
    "JOIN nation sn ON s_nationkey = sn.n_nationkey "
    "JOIN nation cn ON c_nationkey = cn.n_nationkey "
    "WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2') "
    "OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1') "
    "GROUP BY 1, 2, 3"
)


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped conditional market share: NATION_3's share of
    ASIA-region customers' MEDIUM-part revenue, per order year.

    Two-level conditional aggregation over one joined stream: the
    numerator is a CASE-gated decimal sum of the same rows as the
    denominator, so the share needs NO self-join or second pass — one
    grouped agg computes both (at 100 TB the alternative
    two-aggregation formulation doubles the fact-scan + shuffle).
    Region gates the customer side through the nation dim (both
    broadcast); the part-type filter pushes into the part scan.  The
    final share is one IEEE divide of two decimal-summed doubles."""
    nat = _read(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    reg = _read(spark, sf_dir, "region").where(F.col("r_name") == "ASIA").select(
        "r_regionkey"
    )
    asia_cust = (
        _read(spark, sf_dir, "customer")
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    p = _read(spark, sf_dir, "part").where(F.col("p_type") == "MEDIUM").select(
        "p_partkey"
    )
    sup = (
        _read(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    orders = _read(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    li = _read(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    vol = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    j = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(asia_cust), orders["o_custkey"] == asia_cust["c_custkey"], "left_semi")
    )
    agg = j.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        F.sum(F.when(F.col("supp_nation") == "NATION_3", vol)).cast("double").alias("_num"),
        F.sum(vol).cast("double").alias("total_volume"),
    )
    return agg.select(
        "o_year",
        (F.coalesce(F.col("_num"), F.lit(0.0)) / F.col("total_volume")).alias("mkt_share"),
        "total_volume",
    )


ORACLE_MARKET_SHARE = (
    "WITH j AS (SELECT year(o_orderdate) AS o_year, sn.n_name AS supp_nation, "
    "CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6)) AS vol "
    "FROM lineitem "
    "JOIN part ON l_partkey = p_partkey AND p_type = 'MEDIUM' "
    "JOIN supplier ON l_suppkey = s_suppkey "
    "JOIN nation sn ON s_nationkey = sn.n_nationkey "
    "JOIN orders ON l_orderkey = o_orderkey "
    "WHERE EXISTS (SELECT 1 FROM customer "
    "JOIN nation cn ON c_nationkey = cn.n_nationkey "
    "JOIN region ON cn.n_regionkey = r_regionkey "
    "WHERE r_name = 'ASIA' AND c_custkey = o_custkey)) "
    "SELECT CAST(o_year AS INT) AS o_year, "
    "coalesce(CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN vol END) "
    "AS DOUBLE), 0.0) / CAST(sum(vol) AS DOUBLE) AS mkt_share, "
    "CAST(sum(vol) AS DOUBLE) AS total_volume "
    "FROM j GROUP BY o_year"
)


def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shaped profit rollup by supplier nation × order year.

    Documented schema deviation: this corpus has no partsupp table, so
    Q9's ps_supplycost is replaced by a retail-anchored cost proxy
    ``0.6 · p_retailprice · l_quantity`` — the aggregation shape (two
    dim broadcasts into the fact stream, group on attributes from two
    different dimensions, signed money sum) is what Q9 exercises.  The
    per-row amount is one IEEE expression, decimal-cast BEFORE the sum
    (signed decimal sum is order-independent — floats would not be)."""
    p = _read(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    sup = _read(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = _read(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = _read(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = _read(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_discount",
    )
    amount = (
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        - F.lit(0.6) * F.col("p_retailprice") * F.col("l_quantity")
    ).cast("decimal(18,6)")
    j = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"])
        .join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
    )
    return j.groupBy(
        F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
    ).agg(
        F.sum(amount).cast("double").alias("sum_profit"),
        F.count("*").alias("n_lines"),
    )


ORACLE_PRODUCT_PROFIT = (
    "SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year, "
    "CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) "
    "- 0.6 * p_retailprice * l_quantity AS DECIMAL(18,6))) AS DOUBLE) "
    "AS sum_profit, count(*) AS n_lines "
    "FROM lineitem "
    "JOIN part ON l_partkey = p_partkey "
    "JOIN supplier ON l_suppkey = s_suppkey "
    "JOIN nation ON s_nationkey = n_nationkey "
    "JOIN orders ON l_orderkey = o_orderkey "
    "GROUP BY 1, 2"
)


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped promo-share time series: the percentage of each
    ship month's revenue that came from PROMO-type parts, over 1996.

    The month filter pushes into the lineitem scan (min/max parquet
    pruning at 100 TB when the table is date-partitioned); part
    broadcasts; numerator and denominator come out of ONE grouped pass
    via a CASE-gated decimal sum — no second scan, no self-join."""
    p = _read(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = (
        _read(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .select("l_partkey", "l_shipdate", "l_extendedprice", "l_discount")
    )
    vol = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    agg = j.groupBy(F.month("l_shipdate").alias("l_month")).agg(
        F.sum(F.when(F.col("p_type") == "PROMO", vol)).cast("double").alias("_promo"),
        F.sum(vol).cast("double").alias("total_revenue"),
        F.count("*").alias("n_lines"),
    )
    return agg.select(
        "l_month",
        (
            F.lit(100.0) * F.coalesce(F.col("_promo"), F.lit(0.0))
            / F.col("total_revenue")
        ).alias("promo_pct"),
        "total_revenue",
        "n_lines",
    )


ORACLE_PROMO_REVENUE = (
    "WITH j AS (SELECT month(l_shipdate) AS l_month, p_type, "
    "CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6)) AS vol "
    "FROM lineitem JOIN part ON l_partkey = p_partkey "
    "WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
    "AND l_shipdate < TIMESTAMP '1997-01-01') "
    "SELECT CAST(l_month AS INT) AS l_month, "
    "100.0 * coalesce(CAST(sum(CASE WHEN p_type = 'PROMO' THEN vol END) "
    "AS DOUBLE), 0.0) / CAST(sum(vol) AS DOUBLE) AS promo_pct, "
    "CAST(sum(vol) AS DOUBLE) AS total_revenue, count(*) AS n_lines "
    "FROM j GROUP BY l_month"
)


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis–Spirakis weighted sample (md5 oracle twin of
    ``text.weighted_sample``): the 50 documents winning the
    length-weighted exponential-key lottery.  Global top-k is
    TakeOrderedAndProject (per-task k-row heaps, no global sort);
    the key is reported rounded 9 dp (JVM log vs DuckDB ln is 1-ulp
    unstable) while ranking uses the unrounded key in both engines."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "n_chars")
    out = text.weighted_sample(docs, "n_chars", k=50, hash_fn="md5")
    return out.select(
        "doc_id", "n_chars", F.round("es_key", 9).alias("es_key_r")
    )


ORACLE_WEIGHTED_SAMPLE = (
    "WITH b AS (SELECT doc_id, n_chars, "
    "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT "
    "% 1099511627776 AS bucket FROM documents WHERE n_chars > 0), "
    "k AS (SELECT doc_id, n_chars, "
    "ln((CAST(bucket AS DOUBLE) + 0.5) / 1099511627776.0) "
    "/ CAST(n_chars AS DOUBLE) AS es_key FROM b) "
    "SELECT doc_id, n_chars, round(es_key, 9) AS es_key_r FROM k "
    "ORDER BY es_key DESC, doc_id ASC LIMIT 50"
)


def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram (whitespace-token) Shannon entropy in bits —
    the vocabulary-flatness quality signal (near-zero entropy flags
    repeated-token spam; high entropy at low length flags gibberish).

    One explode + two partial-aggregable groupBys, both keyed by doc_id
    so the second agg reuses the first's exchange.  The entropy is
    algebraically folded to ``log2(n) − Σ c·log2(c) / n`` so each token's
    contribution is one log of an INTEGER count — identical bits in both
    engines — and the sum is rounded 9 dp before comparison."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token"),
    ).where(F.col("token") != "")
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("c"))
    agg = tf.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.sum(F.col("c").cast("double") * F.log2(F.col("c").cast("double"))).alias("_s"),
    )
    return agg.select(
        "doc_id", "n_tokens", "n_distinct",
        F.round(
            F.log2(F.col("n_tokens").cast("double"))
            - F.col("_s") / F.col("n_tokens").cast("double"),
            9,
        ).alias("entropy_r"),
    )


ORACLE_TOKEN_ENTROPY = (
    "WITH t AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) "
    "AS token FROM documents), "
    "tok AS (SELECT doc_id, token FROM t WHERE token <> ''), "
    "tf AS (SELECT doc_id, token, count(*) AS c FROM tok GROUP BY 1, 2), "
    "a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_distinct, "
    "sum(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))) AS s FROM tf GROUP BY doc_id) "
    "SELECT doc_id, n_tokens, n_distinct, "
    "round(log2(CAST(n_tokens AS DOUBLE)) - s / CAST(n_tokens AS DOUBLE), 9) "
    "AS entropy_r FROM a"
)


def q_hull_perimeter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geodesic perimeter of each group's convex hull — the measure
    companion to ``convex_hull_groups`` (same ellipse-parameterized
    fixture, so the hull ring is analytically known and the oracle
    replays it in angle order).  Each hull edge is a haversine leg
    rounded to 2 dp (cm — far above libm mirror noise), integer-cent
    summed so the ring traversal order cannot perturb the total (the
    monotone-chain ring and the oracle's angle-order ring are the same
    edge SET up to direction)."""
    from .kernels import geometry as geom_k

    k = F.col("c_custkey")
    base = _read(spark, sf_dir, "customer").select(
        k.alias("k"), (k % 20).alias("grp")
    )
    w = Window.partitionBy("grp").orderBy(F.col("k").asc())
    wn = Window.partitionBy("grp")
    b = base.withColumn("j", F.row_number().over(w) - 1).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )
    theta = F.lit(2.0) * F.lit(np.pi) * F.col("j") / F.col("n")
    rs = F.when(F.col("j") % 3 == 0, F.lit(0.15)).otherwise(F.lit(1.0))
    pts = b.select(
        "grp", "j",
        (F.lit(-123.0) + F.col("grp") * F.lit(0.01)
         + F.lit(0.03) * rs * F.cos(theta)).alias("lon"),
        (F.lit(49.5) + F.lit(0.02) * rs * F.sin(theta)).alias("lat"),
    )
    rad = 0.017453292519943295

    def hull_perim(pdf: pd.DataFrame) -> pd.DataFrame:
        coords = np.column_stack([pdf["lon"].to_numpy(), pdf["lat"].to_numpy()])
        h = geom_k.convex_hull(coords)
        cents = 0
        if len(h) >= 2:
            lon1, lat1 = h[:-1, 0], h[:-1, 1]
            lon2, lat2 = h[1:, 0], h[1:, 1]
            dlat = ((lat2 - lat1) * rad) / 2
            dlon = ((lon2 - lon1) * rad) / 2
            hs = np.sin(dlat) ** 2 + np.cos(lat1 * rad) * np.cos(lat2 * rad) * np.sin(dlon) ** 2
            legs = 12742017.6 * np.arcsin(np.sqrt(np.minimum(hs, 1.0)))
            cents = int(np.round(np.round(legs, 2) * 100).sum())
        return pd.DataFrame({
            "grp": [int(pdf["grp"].iloc[0])],
            "hull_size": [max(0, len(h) - 1)],
            "perimeter_m": [cents / 100.0],
        })

    return pts.groupBy("grp").applyInPandas(
        hull_perim, "grp long, hull_size long, perimeter_m double"
    )


ORACLE_HULL_PERIMETER = (
    "WITH b AS (SELECT c_custkey AS k, c_custkey % 20 AS grp, "
    "row_number() OVER (PARTITION BY c_custkey % 20 ORDER BY c_custkey) - 1 AS j, "
    "count(*) OVER (PARTITION BY c_custkey % 20) AS n FROM customer), "
    "c AS (SELECT grp, j, 2.0 * pi() * j / n AS theta, "
    "CASE WHEN j % 3 = 0 THEN 0.15 ELSE 1.0 END AS rs FROM b), "
    "d AS (SELECT grp, j, (-123.0 + grp * 0.01) + 0.03 * rs * cos(theta) AS x, "
    "49.5 + 0.02 * rs * sin(theta) AS y, rs FROM c), "
    "e AS (SELECT grp, j, x, y, "
    "coalesce(lead(x) OVER wb, first_value(x) OVER wb) AS nx, "
    "coalesce(lead(y) OVER wb, first_value(y) OVER wb) AS ny "
    "FROM d WHERE rs = 1.0 "
    "WINDOW wb AS (PARTITION BY grp ORDER BY j)), "
    "legs AS (SELECT grp, CAST(round("
    + _haversine_sql("y", "x", "ny", "nx")
    + ", 2) AS DECIMAL(18,6)) AS leg FROM e) "
    "SELECT grp, count(*) AS hull_size, "
    "CAST(sum(leg) AS DOUBLE) AS perimeter_m FROM legs GROUP BY grp"
)


def q_lm_logloss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM cross-entropy per document — the perplexity-proxy
    quality filter (a doc whose tokens are corpus-improbable reads as
    gibberish; one whose tokens are all stop-words reads as boilerplate).
    xent(d) = ln N − (Σ_tokens ln c_t)/n_d where c_t is the token's
    CORPUS count and N the corpus token total — every log argument is an
    INTEGER, so the per-token terms are bit-identical across engines and
    only the small per-doc sum needs the 9 dp rounding.

    Shape for 100 TB: ONE map-side-combined count exchange builds the
    unigram table (vocabulary-sized — a dimension, broadcast back into
    the token stream so the corpus never shuffles on token), N crosses
    as a broadcast scalar, and the per-doc rollup is one doc_id
    exchange."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("token")
    ).where(F.col("token") != "")
    cnt = toks.groupBy("token").agg(F.count("*").alias("c"))
    tot = toks.agg(F.count("*").alias("N"))
    per_doc = (
        toks.join(F.broadcast(cnt), "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.log(F.col("c").cast("double"))).alias("_s"),
        )
    )
    xent = F.round(
        F.log(F.col("N").cast("double")) - F.col("_s") / F.col("n_tokens").cast("double"),
        9,
    )
    return (
        per_doc.crossJoin(F.broadcast(tot))
        .withColumn("xent_r", xent)
        .select(
            "doc_id", "n_tokens", "xent_r",
            F.round(F.exp(F.col("xent_r")), 6).alias("ppl_r"),
        )
    )


ORACLE_LM_LOGLOSS = (
    "WITH t AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) "
    "AS token FROM documents), "
    "tok AS (SELECT doc_id, token FROM t WHERE token <> ''), "
    "c AS (SELECT token, count(*) AS c FROM tok GROUP BY token), "
    "n AS (SELECT count(*) AS N FROM tok), "
    "p AS (SELECT doc_id, count(*) AS n_tokens, "
    "sum(ln(CAST(c AS DOUBLE))) AS s FROM tok JOIN c USING (token) "
    "GROUP BY doc_id), "
    "x AS (SELECT doc_id, n_tokens, "
    "round(ln(CAST(N AS DOUBLE)) - s / CAST(n_tokens AS DOUBLE), 9) AS xent_r "
    "FROM p CROSS JOIN n) "
    "SELECT doc_id, n_tokens, xent_r, round(exp(xent_r), 6) AS ppl_r FROM x"
)


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-split packing (`text.pack_sequences`) of the documents
    into 256-token training sequences: per doc its sequence id, offset,
    and span count.  The oracle runs the NAIVE global cumulative window
    — the two-phase distributed prefix sum must match it row-for-row
    (integer arithmetic, so exactly)."""
    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.lower("text"), r"\s+")).alias("n_toks")
    )
    out = text.pack_sequences(docs, "n_toks", seq_len=256, hash_fn="md5")
    return out.select("doc_id", "n_toks", "pack_bucket", "seq_id", "seq_offset", "n_seqs")


ORACLE_PACK_SEQUENCES = (
    "WITH d AS (SELECT doc_id, "
    "len(string_split_regex(lower(text), '\\s+')) AS n_toks, "
    "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000 "
    "AS pack_bucket FROM documents), "
    "p AS (SELECT doc_id, n_toks, pack_bucket, "
    "coalesce(sum(n_toks) OVER (ORDER BY pack_bucket, doc_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix "
    "FROM d WHERE n_toks > 0) "
    "SELECT doc_id, CAST(n_toks AS INT) AS n_toks, pack_bucket, "
    "CAST(prefix // 256 AS BIGINT) AS seq_id, "
    "CAST(prefix % 256 AS BIGINT) AS seq_offset, "
    "CAST((prefix + n_toks - 1) // 256 - prefix // 256 + 1 AS BIGINT) AS n_seqs "
    "FROM p"
)


# Fixture road network for the map-matching snap: 4 "avenues"
# (meridional), 2 "streets" (zonal), 2 diagonals — spanning the same
# lon/lat box the deterministic event positions fill, so projections
# exercise both the interior and the clamped-endpoint branches.
_ROAD_SEGS = [
    (0, -123.4, 49.0, -123.4, 50.0),
    (1, -123.2, 49.0, -123.2, 50.0),
    (2, -123.0, 49.0, -123.0, 50.0),
    (3, -122.8, 49.0, -122.8, 50.0),
    (4, -123.5, 49.25, -122.5, 49.25),
    (5, -123.5, 49.75, -122.5, 49.75),
    (6, -123.5, 49.0, -122.5, 50.0),
    (7, -123.5, 50.0, -122.5, 49.0),
]


def q_map_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-matching snap: every GPS fix to its nearest road segment
    (`trajectory.snap_to_segments`) — planar point-to-segment projection
    with clamped parameter, argmin with a deterministic (d2, seg_id)
    tie-break.  The network rides as a literal struct array and the snap
    is ONE per-row Column fold: zero joins, zero shuffles, zero Python
    (the oracle replays every projection in SQL and takes the same
    lexicographic argmin).  d2/t are +,*,/,min,max only — bit-identical
    IEEE in both engines; rounding is belt-and-braces."""
    from .operators import trajectory

    pts = _event_pts(spark, sf_dir)
    out = trajectory.snap_to_segments(pts, _ROAD_SEGS)
    return out.select(
        "event_id",
        F.col("snap.sid").alias("seg_id"),
        F.round("snap.t", 9).alias("t_r"),
        F.round("snap.d2", 12).alias("d2_r"),
    )


def _oracle_map_match() -> str:
    vals = ", ".join(
        f"({sid}, {ax!r}, {ay!r}, {bx!r}, {by!r})"
        for sid, ax, ay, bx, by in _ROAD_SEGS
    )
    return (
        f"WITH segs(sid, ax, ay, bx, by) AS (VALUES {vals}), "
        "pts AS (" + _EVENT_PTS_SQL + "), "
        "proj AS (SELECT event_id, sid, "
        "least(greatest(((lon - ax) * (bx - ax) + (lat - ay) * (by - ay)) "
        "/ ((bx - ax) * (bx - ax) + (by - ay) * (by - ay)), 0.0), 1.0) AS t "
        "FROM pts CROSS JOIN segs), "
        "d AS (SELECT p.event_id, p.sid, p.t, "
        "(lon - (ax + t * (bx - ax))) * (lon - (ax + t * (bx - ax))) "
        "+ (lat - (ay + t * (by - ay))) * (lat - (ay + t * (by - ay))) AS d2 "
        "FROM proj p JOIN pts USING (event_id) JOIN segs USING (sid)) "
        "SELECT event_id, sid AS seg_id, round(t, 9) AS t_r, "
        "round(d2, 12) AS d2_r FROM d "
        "QUALIFY row_number() OVER (PARTITION BY event_id "
        "ORDER BY d2 ASC, sid ASC) = 1"
    )


def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series downsampling to hourly OHLC bars per event_type —
    the telemetry/market resample primitive: open/close by (ts,
    event_id) order via max_by/min_by on an UNAMBIGUOUS integer order
    key (epoch-micros·2^20 + event_id — ties impossible), high/low/sum
    as plain aggregates.  ONE map-side-combined exchange on (event_type,
    hour); no window, no sort — at 100 TB this beats the
    first()/last()-over-window formulation by the whole sort cost.
    Bucket = integer epoch-micros division (no float at bar edges)."""
    ev = _read(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    # collision-proof integer (ts, event_id) order key: rebase micros to
    # the fixture epoch so the 2^20 shift cannot overflow BIGINT (valid
    # for any ts within ±101 days of the base; the generator spans ~30)
    base = 1_700_000_000_000_000
    okey = (
        (F.unix_micros(F.col("ts").cast("timestamp")) - F.lit(base)) * F.lit(1048576)
        + F.col("event_id")
    ).alias("_ok")
    b = ev.select(
        "event_type", "value",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000").alias("bar"),
        okey,
    )
    return b.groupBy("event_type", "bar").agg(
        F.count("*").alias("n_events"),
        F.min_by("value", "_ok").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", "_ok").alias("close"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )


ORACLE_OHLC_BARS = (
    "WITH b AS (SELECT event_type, value, "
    "epoch_us(ts) // 3600000000 AS bar, "
    "(epoch_us(ts) - 1700000000000000) * 1048576 + event_id AS ok FROM events) "
    "SELECT event_type, bar, count(*) AS n_events, "
    "min_by(value, ok) AS open, max(value) AS high, min(value) AS low, "
    "max_by(value, ok) AS close, "
    "CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value "
    "FROM b GROUP BY event_type, bar"
)


def q_hotspot_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid hotspot detection: per-cell point counts standardized
    against the occupied-cell population (z = (c − μ)/σ — the
    Getis-Ord-flavored first pass of spatial anomaly detection),
    reporting cells with z > 2.  Shape: ONE cell-count exchange; μ and
    σ re-aggregate the (tiny) per-cell frame — AQE reuses the cell
    exchange — and cross back as a broadcast scalar.  σ² is computed
    from integer sums (Σc, Σc², n are all BIGINT — bit-stable), so the
    only float ops are two divides, a sqrt, and the final compare, all
    on identical inputs in both engines; the z>2 cut sits far from any
    cell's value at the fixture's scales (counts are small integers, z
    gaps ~0.1)."""
    base_pts = _pts_from_key(_read(spark, sf_dir, "orders"), "o_orderkey")
    # planted hotspot: every customer key also drops a point inside one
    # ~0.016x0.031 deg cell (jitter < half a cell) — the uniform orders
    # background alone never crosses z>2, so the cut would select nothing
    ck = F.col("c_custkey")
    planted = _read(spark, sf_dir, "customer").select(
        (F.lit(-123.25) + ((ck % 97) / F.lit(97.0)) * F.lit(0.0078)).alias("lon"),
        (F.lit(49.3) + (((ck * 31) % 89) / F.lit(89.0)) * F.lit(0.0156)).alias("lat"),
    )
    pts = base_pts.select("lon", "lat").unionAll(planted)
    # 64x32 grid over the fixture's 1-degree box (a world grid would
    # fold the whole box into one cell: zero variance, no z-scores)
    nx, ny = 1 << 6, 1 << 5
    xi = F.least(
        F.greatest(F.floor((F.col("lon") + F.lit(123.5)) * F.lit(float(nx))), F.lit(0)),
        F.lit(nx - 1),
    )
    yi = F.least(
        F.greatest(F.floor((F.col("lat") - F.lit(49.0)) * F.lit(float(ny))), F.lit(0)),
        F.lit(ny - 1),
    )
    cells = pts.select((xi * F.lit(ny) + yi).cast("long").alias("cell"))
    counts = cells.groupBy("cell").agg(F.count("*").alias("c"))
    stats = counts.agg(
        F.count("*").alias("_n"),
        F.sum("c").alias("_s"),
        F.sum(F.col("c") * F.col("c")).alias("_ss"),
    )
    j = counts.crossJoin(F.broadcast(stats))
    mu = F.col("_s") / F.col("_n")
    var = F.col("_ss") / F.col("_n") - mu * mu
    z = (F.col("c") - mu) / F.sqrt(var)
    return j.select("cell", "c", F.round(z, 9).alias("z_r")).where(
        F.col("z_r") > 2.0
    )


ORACLE_HOTSPOT_CELLS = (
    f"WITH bg AS ({_pts_sql('orders', 'o_orderkey')}), "
    "pl AS (SELECT -123.25 + ((c_custkey % 97) / 97.0) * 0.0078 AS lon, "
    "49.3 + (((c_custkey * 31) % 89) / 89.0) * 0.0156 AS lat FROM customer), "
    "pts AS (SELECT lon, lat FROM bg UNION ALL SELECT lon, lat FROM pl), "
    "cl AS (SELECT CAST(least(greatest(floor((lon + 123.5) * 64.0), 0), 63) "
    "* 32 + least(greatest(floor((lat - 49.0) * 32.0), 0), 31) AS BIGINT) "
    "AS cell FROM pts), "
    "co AS (SELECT cell, count(*) AS c FROM cl GROUP BY cell), "
    "st AS (SELECT count(*) AS n, sum(c) AS s, sum(c * c) AS ss FROM co) "
    "SELECT cell, c, round((c - s / n) / sqrt(ss / n - (s / n) * (s / n)), 9) "
    "AS z_r FROM co, st "
    "WHERE round((c - s / n) / sqrt(ss / n - (s / n) * (s / n)), 9) > 2.0"
)


def q_bearing_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user compass rose: initial spherical bearing of every
    consecutive trajectory leg, binned into eight 45° sectors — the
    heading-distribution feature of movement classification (a commuter
    track is bimodal, a survey grid quadrimodal).  Bearing =
    atan2(sin Δλ·cos φ₂, cos φ₁·sin φ₂ − sin φ₁·cos φ₂·cos Δλ) — one
    fixed JVM Column expression per leg, no Python.  Counts are
    integers; the nearest 45° boundary sits ~1e-13° from any leg's
    bearing odds-wise (continuous fixture, libm drift ~1e-15 rel), so
    the histogram is engine-stable.  Shape: ONE window exchange on
    user_id (lag), rollup reuses it."""
    pts = _event_pts(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    legs = pts.select(
        "user_id", "lat", "lon",
        F.lag("lat").over(w).alias("plat"),
        F.lag("lon").over(w).alias("plon"),
    ).where(F.col("plat").isNotNull())
    rad = F.lit(0.017453292519943295)
    phi1, phi2 = F.col("plat") * rad, F.col("lat") * rad
    dl = (F.col("lon") - F.col("plon")) * rad  # same IEEE sequence as the oracle
    theta = F.atan2(
        F.sin(dl) * F.cos(phi2),
        F.cos(phi1) * F.sin(phi2) - F.sin(phi1) * F.cos(phi2) * F.cos(dl),
    )
    deg = F.degrees(theta)
    bearing = F.when(deg < 0, deg + F.lit(360.0)).otherwise(deg)
    sector = F.least(F.floor(bearing / F.lit(45.0)), F.lit(7)).cast("long")
    return (
        legs.select("user_id", sector.alias("sector"))
        .groupBy("user_id", "sector")
        .agg(F.count("*").alias("n_legs"))
    )


ORACLE_BEARING_HISTOGRAM = (
    f"WITH pts AS ({_EVENT_PTS_SQL}), "
    "lg AS (SELECT user_id, lat, lon, lag(lat) OVER w AS plat, "
    "lag(lon) OVER w AS plon FROM pts "
    "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), "
    "b AS (SELECT user_id, degrees(atan2("
    "sin((lon - plon) * 0.017453292519943295) "
    "* cos(lat * 0.017453292519943295), "
    "cos(plat * 0.017453292519943295) * sin(lat * 0.017453292519943295) "
    "- sin(plat * 0.017453292519943295) * cos(lat * 0.017453292519943295) "
    "* cos((lon - plon) * 0.017453292519943295))) AS deg "
    "FROM lg WHERE plat IS NOT NULL), "
    "s AS (SELECT user_id, least(CAST(floor("
    "(CASE WHEN deg < 0 THEN deg + 360.0 ELSE deg END) / 45.0) AS BIGINT), 7) "
    "AS sector FROM b) "
    "SELECT user_id, sector, count(*) AS n_legs FROM s GROUP BY user_id, sector"
)


def q_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts (``graph.triangle_counts``) over the
    pagerank fixture's deterministic 3-out link graph taken undirected —
    the local-clustering ingredient of graph-based quality filtering.
    Engine path = degree-ordered orientation (wedge work bounded
    O(m^1.5) under ANY hub skew); the oracle is the structurally
    DIFFERENT canonical triple-join (a<b<c), so the hash match checks
    the orientation algebra, not a replay of it.  Integer-only output."""
    from .operators import graph

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    n_df = docs.agg(F.count("*").alias("_n"))
    edges = (
        docs.crossJoin(F.broadcast(n_df))
        .select(
            "doc_id", "_n",
            F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("j"),
        )
        .select(
            F.col("doc_id").alias("src"),
            F.expr("(doc_id * 7919 + j * 104729 + 13) % _n").alias("dst"),
        )
    )
    out = graph.triangle_counts(edges)
    return out.select(F.col("node").alias("doc_id"), "n_triangles")


ORACLE_TRIANGLE_COUNTS = (
    "WITH nn AS (SELECT count(*) AS n FROM documents), "
    "lanes AS (SELECT unnest([0, 1, 2]) AS j), "
    "ed AS (SELECT doc_id AS src, (doc_id * 7919 + j * 104729 + 13) % n AS dst "
    "FROM documents CROSS JOIN nn CROSS JOIN lanes), "
    "ce AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b "
    "FROM ed WHERE src <> dst), "
    "tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z "
    "FROM ce e1 JOIN ce e2 ON e2.a = e1.b "
    "JOIN ce e3 ON e3.a = e1.a AND e3.b = e2.b), "
    "roles AS (SELECT x AS node FROM tri UNION ALL "
    "SELECT y FROM tri UNION ALL SELECT z FROM tri) "
    "SELECT node AS doc_id, count(*) AS n_triangles FROM roles GROUP BY node"
)


def q_idw_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDW spatial interpolation (``interpolate.idw_interpolate``):
    estimate a per-doc field value from the 4 nearest POIs, weighted
    1e6/d² with a 1 m exact-hit floor.  Candidates via broadcast POI
    dim + the salted two-phase top-k (never a one-task-per-doc window);
    the scaled weights make every DECIMAL(38,30) cast exact for any
    Earth distance, so the sums are order-independent and the oracle
    (same ranking + same weight algebra in SQL) is hash-exact.  POI
    value = length(poi_id) — deterministic on both sides."""
    from .operators import interpolate

    pts = _pts_from_key(_read(spark, sf_dir, "orders"), "o_orderkey")
    pois = _pois_df(spark).withColumn(
        "poi_value", F.length("poi_id").cast("double")
    )
    out = interpolate.idw_interpolate(pts, pois, k=4)
    # decimal→double casts of 38-digit sums are 1-ulp engine-dependent
    # (Java BigDecimal vs DuckDB int128 path); 6 dp sits 9 orders above
    # that band at the fixture's ~11 magnitude
    return out.select(
        "doc_id", "n_nbrs",
        F.round("idw_value", 6).alias("idw_value_r"),
        "nearest_dist_m",
    )


ORACLE_IDW_INTERPOLATE = (
    f"WITH pts AS ({_pts_sql('orders', 'o_orderkey')}), "
    "c AS (SELECT doc_id, poi_id, CAST(length(poi_id) AS DOUBLE) AS v, "
    f"round({_haversine_sql('lat', 'lon', 'poi_lat', 'poi_lon')}, 3) AS d "
    f"FROM pts CROSS JOIN {_POIS_SQL}), "
    "r AS (SELECT doc_id, v, d FROM c "
    "QUALIFY row_number() OVER (PARTITION BY doc_id "
    "ORDER BY d ASC, poi_id ASC) <= 4), "
    "t AS (SELECT doc_id, d, "
    "CAST(1000000.0 / (greatest(d, 1.0) * greatest(d, 1.0)) "
    "AS DECIMAL(38,30)) AS w, "
    "CAST(v * (1000000.0 / (greatest(d, 1.0) * greatest(d, 1.0))) "
    "AS DECIMAL(38,28)) AS vw FROM r), "
    "a AS (SELECT doc_id, count(*) AS n_nbrs, "
    "CAST(sum(w) AS DOUBLE) AS sw, CAST(sum(vw) AS DOUBLE) AS svw, "
    "min(d) AS nearest_dist_m FROM t GROUP BY doc_id) "
    "SELECT doc_id, n_nbrs, round(svw / sw, 6) AS idw_value_r, "
    "nearest_dist_m FROM a"
)


def q_polygon_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planar shoelace area + area-weighted centroid per ring
    (``measures.ring_measures``) over the star-polygon fixture (the
    hull_perimeter ellipse parameterization with ALL vertices kept —
    star-shaped in angle order, hence simple).  One window exchange on
    the ring gives each vertex its successor; the rollup reuses that
    partitioning.  Edge cross terms are bit-identical IEEE expressions
    rounded 5 orders above the libm ulp band then decimal-summed, so
    the oracle (same generation + same window in SQL) is hash-exact;
    the signed-area convention cancels orientation in the centroid."""
    from .operators import measures

    k = F.col("c_custkey")
    base = _read(spark, sf_dir, "customer").select(
        k.alias("k"), (k % 20).alias("grp")
    )
    w = Window.partitionBy("grp").orderBy(F.col("k").asc())
    wn = Window.partitionBy("grp")
    b = base.withColumn("j", F.row_number().over(w) - 1).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )
    theta = F.lit(2.0) * F.lit(np.pi) * F.col("j") / F.col("n")
    rs = F.when(F.col("j") % 3 == 0, F.lit(0.15)).otherwise(F.lit(1.0))
    pts = b.select(
        F.col("grp").alias("ring_id"), F.col("j").alias("seq"),
        (F.lit(-123.0) + F.col("grp") * F.lit(0.01)
         + F.lit(0.03) * rs * F.cos(theta)).alias("lon"),
        (F.lit(49.5) + F.lit(0.02) * rs * F.sin(theta)).alias("lat"),
    )
    return measures.ring_measures(pts)


ORACLE_POLYGON_MEASURES = (
    "WITH b AS (SELECT c_custkey AS k, c_custkey % 20 AS grp, "
    "row_number() OVER (PARTITION BY c_custkey % 20 ORDER BY c_custkey) - 1 AS j, "
    "count(*) OVER (PARTITION BY c_custkey % 20) AS n FROM customer), "
    "c AS (SELECT grp, j, 2.0 * pi() * j / n AS theta, "
    "CASE WHEN j % 3 = 0 THEN 0.15 ELSE 1.0 END AS rs FROM b), "
    "d AS (SELECT grp AS ring_id, j, "
    "(-123.0 + grp * 0.01) + 0.03 * rs * cos(theta) AS x, "
    "49.5 + 0.02 * rs * sin(theta) AS y FROM c), "
    "e AS (SELECT ring_id, x, y, "
    "coalesce(lead(x) OVER wb, first_value(x) OVER wb) AS nx, "
    "coalesce(lead(y) OVER wb, first_value(y) OVER wb) AS ny "
    "FROM d WINDOW wb AS (PARTITION BY ring_id ORDER BY j)), "
    "t AS (SELECT ring_id, "
    "CAST(round(x * ny - nx * y, 9) AS DECIMAL(28,9)) AS t, "
    "CAST(round((x + nx) * (x * ny - nx * y), 6) AS DECIMAL(28,6)) AS xt, "
    "CAST(round((y + ny) * (x * ny - nx * y), 6) AS DECIMAL(28,6)) AS yt "
    "FROM e), "
    "a AS (SELECT ring_id, count(*) AS n_vertices, "
    "CAST(sum(t) AS DOUBLE) AS s2a, CAST(sum(xt) AS DOUBLE) AS sx, "
    "CAST(sum(yt) AS DOUBLE) AS sy FROM t GROUP BY ring_id) "
    "SELECT ring_id, n_vertices, abs(s2a) / 2.0 AS area, "
    "CASE WHEN abs(s2a) > 0 THEN sx / (3.0 * s2a) END AS cx, "
    "CASE WHEN abs(s2a) > 0 THEN sy / (3.0 * s2a) END AS cy FROM a"
)


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed shingle containment ≥ 0.6
    (``dedup.ngram_containment_pairs``): the asymmetric near-dup
    semantic — a doc quoted inside a larger one has high containment
    but low Jaccard, and curation wants exactly those subset relations.
    Asymmetric ppjoin prefixes probe a full inverted index; the exact
    array_intersect decides.  Containment is an exact rational of two
    integers — hash-stable unrounded."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.ngram_containment_pairs(docs, threshold=0.6, shingle_n=3)


ORACLE_CONTAINMENT_PAIRS = (
    "WITH toks AS (SELECT doc_id, string_split_regex(text, '\\s+') AS tk "
    "FROM documents), "
    "sh AS (SELECT doc_id, list_distinct(list_transform("
    "generate_series(1, greatest(len(tk) - 2, 1)), "
    "i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) AS shingles FROM toks), "
    "ex AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS shingle "
    "FROM sh), "
    "ov AS (SELECT a.doc_id AS src_id, b.doc_id AS dst_id, "
    "a.n_sh AS n_src, count(*) AS inter FROM ex a JOIN ex b "
    "ON a.shingle = b.shingle AND a.doc_id <> b.doc_id GROUP BY 1, 2, 3) "
    "SELECT src_id, dst_id, inter / n_src AS containment FROM ov "
    "WHERE inter / n_src >= 0.6 - 1e-9"
)


def q_source_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary drift: KL(source unigram ‖ corpus unigram)
    = (1/n_s)·Σ_t c_st·(ln c_st − ln n_s − ln c_t + ln N) — every log
    argument is an INTEGER count, so the per-token terms are
    bit-identical across engines (the lm_logloss trick) and only the
    per-source sum needs the 9 dp rounding + decimal fold.  Shape: one
    (source, token) count exchange; corpus token counts re-aggregate
    that (small) frame and join back on token; the n_s/N scalars
    broadcast.  The feed-drift monitor of corpus mixing."""
    docs = _read(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split(F.lower("text"), r"[^a-z0-9]+")).alias("token")
    ).where(F.length("token") >= 1)
    st = toks.groupBy("source", "token").agg(F.count("*").alias("c_st"))
    ct = st.groupBy("token").agg(F.sum("c_st").alias("c_t"))
    ns = st.groupBy("source").agg(F.sum("c_st").alias("n_s"))
    n_tot = ct.agg(F.sum("c_t").alias("n_tot"))
    j = (
        st.join(ct, "token")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(n_tot))
    )
    # round the LOG-SUM (drift ~1e-14) at 6 dp BEFORE the integer count
    # multiplies it — rounding after would shrink the margin by c_st
    lns = F.round(
        F.log(F.col("c_st")) - F.log(F.col("n_s"))
        - F.log(F.col("c_t")) + F.log(F.col("n_tot")),
        6,
    ).cast("decimal(18,6)")
    staged = j.select(
        "source", "n_s",
        (lns * F.col("c_st")).cast("decimal(38,6)").alias("_t"),
    )
    agg = staged.groupBy("source", "n_s").agg(
        F.count("*").alias("n_terms"),
        F.sum("_t").cast("double").alias("_s"),
    )
    return agg.select(
        "source", F.col("n_s").alias("n_tokens"), "n_terms",
        F.round(F.col("_s") / F.col("n_s"), 9).alias("kl_nats_r"),
    )


ORACLE_SOURCE_KL = (
    "WITH toks AS (SELECT source, t.token FROM documents, "
    "unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS t(token) "
    "WHERE length(t.token) >= 1), "
    "st AS (SELECT source, token, count(*) AS c_st FROM toks "
    "GROUP BY source, token), "
    "ct AS (SELECT token, CAST(sum(c_st) AS BIGINT) AS c_t FROM st GROUP BY token), "
    "ns AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s FROM st GROUP BY source), "
    "nt AS (SELECT CAST(sum(c_t) AS BIGINT) AS n_tot FROM ct), "
    "t AS (SELECT source, n_s, CAST(CAST(round(ln(c_st) - ln(n_s) "
    "- ln(c_t) + ln(n_tot), 6) AS DECIMAL(18,6)) * c_st AS DECIMAL(38,6)) "
    "AS term FROM st JOIN ct USING (token) JOIN ns USING (source) CROSS JOIN nt) "
    "SELECT source, n_s AS n_tokens, count(*) AS n_terms, "
    "round(CAST(sum(term) AS DOUBLE) / n_s, 9) AS kl_nats_r "
    "FROM t GROUP BY source, n_s"
)


def q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient over the 3-out link graph: per-node
    triangles / C(deg, 2) — the graph-quality feature that separates
    community hubs from spam hubs.  Composes ``graph.triangle_counts``
    with the canonical-edge degree table (same canonicalization, LEFT
    join so triangle-free nodes report 0); the coefficient is an exact
    rational of two integers rendered at 9 dp — identical in both
    engines.  Only nodes with deg ≥ 2 (coefficient defined)."""
    from .operators import graph

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    n_df = docs.agg(F.count("*").alias("_n"))
    edges = (
        docs.crossJoin(F.broadcast(n_df))
        .select(
            "doc_id", "_n",
            F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("j"),
        )
        .select(
            F.col("doc_id").alias("src"),
            F.expr("(doc_id * 7919 + j * 104729 + 13) % _n").alias("dst"),
        )
    )
    u, v = F.col("src"), F.col("dst")
    canon = (
        edges.where(u != v)
        .select(F.least(u, v).alias("a"), F.greatest(u, v).alias("b"))
        .dropDuplicates(["a", "b"])
    )
    deg = (
        canon.select(F.col("a").alias("node"))
        .unionAll(canon.select(F.col("b").alias("node")))
        .groupBy("node").agg(F.count("*").alias("deg"))
    )
    tri = graph.triangle_counts(edges)
    j = deg.where(F.col("deg") >= 2).join(tri, "node", "left").select(
        "node", "deg",
        F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_tri"),
    )
    return j.select(
        F.col("node").alias("doc_id"), "deg", "n_tri",
        F.round(
            F.col("n_tri") * F.lit(2.0) / (F.col("deg") * (F.col("deg") - 1)),
            9,
        ).alias("coeff_r"),
    )


ORACLE_CLUSTERING_COEFF = (
    "WITH nn AS (SELECT count(*) AS n FROM documents), "
    "lanes AS (SELECT unnest([0, 1, 2]) AS j), "
    "ed AS (SELECT doc_id AS src, (doc_id * 7919 + j * 104729 + 13) % n AS dst "
    "FROM documents CROSS JOIN nn CROSS JOIN lanes), "
    "ce AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b "
    "FROM ed WHERE src <> dst), "
    "dg AS (SELECT node, count(*) AS deg FROM "
    "(SELECT a AS node FROM ce UNION ALL SELECT b FROM ce) GROUP BY node), "
    "tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z "
    "FROM ce e1 JOIN ce e2 ON e2.a = e1.b "
    "JOIN ce e3 ON e3.a = e1.a AND e3.b = e2.b), "
    "tc AS (SELECT node, count(*) AS n_tri FROM "
    "(SELECT x AS node FROM tri UNION ALL SELECT y FROM tri "
    "UNION ALL SELECT z FROM tri) GROUP BY node) "
    "SELECT dg.node AS doc_id, deg, coalesce(n_tri, 0) AS n_tri, "
    "round(coalesce(n_tri, 0) * 2.0 / (deg * (deg - 1)), 9) AS coeff_r "
    "FROM dg LEFT JOIN tc ON dg.node = tc.node WHERE deg >= 2"
)


def q_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized per-language length statistics: clamp n_chars to the
    per-group [p10, p90] band (exact continuous-interpolation
    percentiles — same rule in Spark `percentile` and DuckDB
    `quantile_cont`), then report the robust mean next to the raw mean.
    Two map-side-combined exchanges on lang (percentile agg + clamp
    rollup, the second reusing the first's broadcast join-back);
    integer inputs make every percentile an exact rational."""
    docs = _read(spark, sf_dir, "documents").select("lang", "n_chars")
    q = docs.groupBy("lang").agg(
        F.expr("percentile(n_chars, 0.1)").alias("p10"),
        F.expr("percentile(n_chars, 0.9)").alias("p90"),
    )
    j = docs.join(F.broadcast(q), "lang")
    clamped = F.least(F.greatest(F.col("n_chars").cast("double"), F.col("p10")), F.col("p90"))
    agg = j.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.sum(clamped.cast("decimal(18,6)")).cast("double")
                / F.count("*"), 9).alias("winsor_mean"),
        F.round(F.sum(F.col("n_chars").cast("decimal(18,0)")).cast("double")
                / F.count("*"), 9).alias("raw_mean"),
        F.min("p10").alias("p10"), F.min("p90").alias("p90"),
    )
    return agg


ORACLE_ROBUST_STATS = (
    "WITH q AS (SELECT lang, quantile_cont(n_chars, 0.1) AS p10, "
    "quantile_cont(n_chars, 0.9) AS p90 FROM documents GROUP BY lang), "
    "j AS (SELECT d.lang, n_chars, p10, p90, "
    "least(greatest(CAST(n_chars AS DOUBLE), p10), p90) AS cl "
    "FROM documents d JOIN q USING (lang)) "
    "SELECT lang, count(*) AS n_docs, "
    "round(CAST(sum(CAST(cl AS DECIMAL(18,6))) AS DOUBLE) / count(*), 9) "
    "AS winsor_mean, "
    "round(CAST(sum(CAST(n_chars AS DECIMAL(18,0))) AS DOUBLE) / count(*), 9) "
    "AS raw_mean, min(p10) AS p10, min(p90) AS p90 "
    "FROM j GROUP BY lang"
)


def q_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphaned lineitems (no order),
    childless orders (no lineitem), customers without orders, and
    orders pointing at missing customers — four LEFT-ANTI probes, each
    a single count, unioned into one report.  The anti-joins hash on
    their FK; the build sides are key-only projections so the exchange
    carries 8 bytes/row.  The quality gate every warehouse load runs."""
    li = _read(spark, sf_dir, "lineitem").select("l_orderkey")
    o = _read(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _read(spark, sf_dir, "customer").select("c_custkey")
    checks = [
        ("orphan_lineitems",
         li.join(o, li["l_orderkey"] == o["o_orderkey"], "left_anti")),
        ("childless_orders",
         o.join(li, o["o_orderkey"] == li["l_orderkey"], "left_anti")),
        ("customers_no_orders",
         c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")),
        ("orders_missing_customer",
         o.join(c, o["o_custkey"] == c["c_custkey"], "left_anti")),
    ]
    out = None
    for name, df in checks:
        row = df.agg(F.lit(name).alias("check"), F.count("*").alias("n_bad"))
        out = row if out is None else out.unionAll(row)
    return out


ORACLE_INTEGRITY_AUDIT = (
    "SELECT 'orphan_lineitems' AS check, count(*) AS n_bad FROM lineitem "
    "WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders) "
    "UNION ALL SELECT 'childless_orders', count(*) FROM orders "
    "WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem) "
    "UNION ALL SELECT 'customers_no_orders', count(*) FROM customer "
    "WHERE c_custkey NOT IN (SELECT o_custkey FROM orders) "
    "UNION ALL SELECT 'orders_missing_customer', count(*) FROM orders "
    "WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)"
)


def q_zonal_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Area-weighted zonal mean: each tile contributes to a zone in
    proportion to the OVERLAP area (closed-form rect∩rect — pure Column
    clamps, no geometry kernel needed for the axis-aligned raster case),
    the standard correction for tiles straddling zone borders that the
    plain ``zonal_stats`` count-weighting ignores.  Same broadcast
    covering-cell join as zonal_pairs feeds it; weights and weighted
    values are identical doubles in both engines (no trig), decimal-
    summed, one rollup exchange.  Tiles with zero-area touch-only
    overlap drop out arithmetically (w = 0 excluded to keep the weight
    sum positive)."""
    pairs = zonal.zonal_join(_inline_tiles(spark), _shifted_zone_rects(spark), res=10)
    zr = _shifted_zone_rects(spark).select(
        F.col("zone_id").alias("z_id"),
        F.element_at("exterior", 1).getField("x").alias("zxmin"),
        F.element_at("exterior", 1).getField("y").alias("zymin"),
        F.element_at("exterior", 3).getField("x").alias("zxmax"),
        F.element_at("exterior", 3).getField("y").alias("zymax"),
    )
    j = pairs.join(F.broadcast(zr), pairs["zone_id"] == zr["z_id"])
    iw = F.greatest(
        F.least(F.col("xmax"), F.col("zxmax")) - F.greatest(F.col("xmin"), F.col("zxmin")),
        F.lit(0.0),
    )
    ih = F.greatest(
        F.least(F.col("ymax"), F.col("zymax")) - F.greatest(F.col("ymin"), F.col("zymin")),
        F.lit(0.0),
    )
    w = iw * ih
    staged = j.select(
        "zone_id",
        w.cast("decimal(28,18)").alias("_w"),
        (F.col("value") * w).cast("decimal(28,18)").alias("_vw"),
    ).where(F.col("_w") > 0)
    agg = staged.groupBy("zone_id").agg(
        F.count("*").alias("n_tiles"),
        F.sum("_w").cast("double").alias("_sw"),
        F.sum("_vw").cast("double").alias("_svw"),
    )
    return agg.select(
        "zone_id", "n_tiles",
        F.round(F.col("_svw") / F.col("_sw"), 9).alias("weighted_mean"),
    )


ORACLE_ZONAL_WEIGHTED = (
    f"WITH t AS ({_TILES_SQL}), z AS ({_ZRECT_SQL}), "
    "c AS (SELECT zone_id, value, "
    "greatest(least(xmax, zxmax) - greatest(xmin, zxmin), 0.0) "
    "* greatest(least(ymax, zymax) - greatest(ymin, zymin), 0.0) AS w "
    "FROM t JOIN z ON xmin < zxmax AND xmax > zxmin "
    "AND ymin < zymax AND ymax > zymin), "
    "s AS (SELECT zone_id, CAST(w AS DECIMAL(28,18)) AS dw, "
    "CAST(value * w AS DECIMAL(28,18)) AS dvw FROM c WHERE w > 0) "
    "SELECT zone_id, count(*) AS n_tiles, "
    "round(CAST(sum(dvw) AS DOUBLE) / CAST(sum(dw) AS DOUBLE), 9) "
    "AS weighted_mean FROM s GROUP BY zone_id"
)


def q_geohash_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash cell histogram (``functions.geohash_col``, precision 5):
    the interop twin of the native Z-order ``cell_histogram`` — same
    bit-interleave, industry base-32 alphabet, emitted as a plan-time
    unrolled shift/mask Column program (no UDF, codegen-friendly,
    golden-tested against the canonical u4pruy vector).  Pure integer
    math on identical doubles ⇒ the SQL mirror is bit-exact.  ONE
    map-side-combined exchange."""
    from .functions import geohash_col

    pts = _pts_from_key(_read(spark, sf_dir, "orders"), "o_orderkey")
    gh = pts.select(geohash_col(F.col("lon"), F.col("lat"), 5).alias("gh"))
    return gh.groupBy("gh").agg(F.count("*").alias("n_points"))


def _oracle_geohash_cells(precision: int = 5) -> str:
    alpha = "0123456789bcdefghjkmnpqrstuvwxyz"
    nbits = 5 * precision
    lon_bits = (nbits + 1) // 2
    lat_bits = nbits // 2
    xi = (f"CAST(least(greatest(floor((lon + 180.0) / 360.0 * {float(1 << lon_bits)}), 0), "
          f"{(1 << lon_bits) - 1}) AS BIGINT)")
    yi = (f"CAST(least(greatest(floor((lat + 90.0) / 180.0 * {float(1 << lat_bits)}), 0), "
          f"{(1 << lat_bits) - 1}) AS BIGINT)")
    bits = []
    for k in range(nbits):
        j = k // 2
        if k % 2 == 0:
            bits.append(f"((xi // {1 << (lon_bits - 1 - j)}) % 2) * {1 << (nbits - 1 - k)}")
        else:
            bits.append(f"((yi // {1 << (lat_bits - 1 - j)}) % 2) * {1 << (nbits - 1 - k)}")
    g = " + ".join(bits)
    chars = " || ".join(
        f"substring('{alpha}', CAST((g // {1 << (5 * (precision - 1 - c))}) % 32 AS INT) + 1, 1)"
        for c in range(precision)
    )
    return (
        f"WITH pts AS ({_pts_sql('orders', 'o_orderkey')}), "
        f"q AS (SELECT {xi} AS xi, {yi} AS yi FROM pts), "
        f"ig AS (SELECT {g} AS g FROM q), "
        f"gh AS (SELECT {chars} AS gh FROM ig) "
        "SELECT gh, count(*) AS n_points FROM gh GROUP BY gh"
    )


def q_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding moments (mean / var / min / max / L2
    mass) — the feature-scaling statistics every normalization or
    whitening pass needs.  posexplode → (dim, value) rows → ONE
    map-side-combined exchange on the 64 dims; float32 inputs widen to
    double EXACTLY, per-row decimal casts make the sums
    order-independent, and the mean/var divides run on identical
    decimal-derived doubles in both engines.  At 100 TB the shuffle
    carries 64 partial-agg rows per TASK, not per document — the
    explode never leaves the map side."""
    emb = _read(spark, sf_dir, "embeddings").select(
        F.posexplode("embedding").alias("dim", "v")
    )
    staged = emb.select(
        "dim",
        F.col("v").cast("double").alias("vd"),
        F.col("v").cast("double").cast("decimal(18,9)").alias("_v"),
        (F.col("v").cast("double") * F.col("v").cast("double"))
        .cast("decimal(28,15)").alias("_v2"),
    )
    agg = staged.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum("_v").cast("double").alias("_s"),
        F.sum("_v2").cast("double").alias("_ss"),
        F.min("vd").alias("dim_min"),
        F.max("vd").alias("dim_max"),
    )
    mean = F.col("_s") / F.col("n")
    return agg.select(
        "dim", "n",
        F.round(mean, 9).alias("dim_mean"),
        F.round(F.col("_ss") / F.col("n") - mean * mean, 9).alias("dim_var"),
        "dim_min", "dim_max",
    )


ORACLE_EMBEDDING_STATS = (
    # fixture embeddings are 64-d (the engine side reads the length
    # dynamically via posexplode; the SQL mirror pins the fixture dim)
    "WITH e AS (SELECT embedding[CAST(i AS INT)] AS v, i - 1 AS dim "
    "FROM embeddings CROSS JOIN range(1, 65) t(i)), "
    "s AS (SELECT dim, CAST(v AS DOUBLE) AS vd, "
    "CAST(CAST(v AS DOUBLE) AS DECIMAL(18,9)) AS dv, "
    "CAST(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) AS DECIMAL(28,15)) AS dv2 "
    "FROM e), "
    "a AS (SELECT dim, count(*) AS n, CAST(sum(dv) AS DOUBLE) AS sv, "
    "CAST(sum(dv2) AS DOUBLE) AS svv, min(vd) AS dim_min, max(vd) AS dim_max "
    "FROM s GROUP BY dim) "
    "SELECT dim, n, round(sv / n, 9) AS dim_mean, "
    "round(svv / n - (sv / n) * (sv / n), 9) AS dim_var, "
    "dim_min, dim_max FROM a"
)


def q_resample_track(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-period track regularization (``trajectory.resample_track``):
    one linearly interpolated position per user at every 6-hour
    epoch-aligned grid tick covered by the track.  Each leg owns the
    ticks in (prev, cur] by integer bucket arithmetic (every tick
    emitted exactly once); the generator runs map-side after ONE lag
    window exchange.  No trig — all doubles derive from the same
    integers, so the oracle is bit-exact unrounded."""
    from .operators import trajectory

    return trajectory.resample_track(_event_pts(spark, sf_dir), period_s=21600)


ORACLE_RESAMPLE_TRACK = (
    f"WITH pts AS ({_EVENT_PTS_SQL}), "
    "lg AS (SELECT user_id, epoch_us(ts) AS t, lon AS x, lat AS y, "
    "lag(epoch_us(ts)) OVER w AS pt, lag(lon) OVER w AS px, "
    "lag(lat) OVER w AS py FROM pts "
    "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), "
    "tk AS (SELECT user_id, t, x, y, pt, px, py, unnest("
    "CASE WHEN t // 21600000000 >= pt // 21600000000 + 1 "
    "THEN generate_series(pt // 21600000000 + 1, t // 21600000000) "
    "ELSE [] END) AS k FROM lg WHERE pt IS NOT NULL) "
    "SELECT user_id, k * 21600000000 AS tick_us, "
    "px + ((k * 21600000000 - pt) / (t - pt)) * (x - px) AS lon, "
    "py + ((k * 21600000000 - pt) / (t - pt)) * (y - py) AS lat FROM tk"
)


def q_rolling_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day trailing revenue per order day — the RANGE-frame window
    (RANGE BETWEEN 6 PRECEDING AND CURRENT ROW over integer epoch-days)
    on the PRE-AGGREGATED daily table: the corpus collapses to ≤ #days
    rows in one map-side-combined exchange first, so the range window
    sorts thousands of rows, not billions.  Daily sums are DECIMAL;
    the trailing sum stays decimal until one final double cast."""
    li = _read(spark, sf_dir, "orders").select(
        F.expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000000")
        .alias("day"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("_p"),
    )
    daily = li.groupBy("day").agg(
        F.sum("_p").alias("_rev"), F.count("*").alias("n_orders")
    )
    w = Window.orderBy("day").rangeBetween(-6, 0)
    return daily.select(
        "day", "n_orders",
        F.col("_rev").cast("double").alias("day_revenue"),
        F.sum("_rev").over(w).cast("double").alias("trailing_7d_revenue"),
    )


ORACLE_ROLLING_REVENUE = (
    "WITH d AS (SELECT epoch_us(o_orderdate) // 86400000000 AS day, "
    "sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev, "
    "count(*) AS n_orders FROM orders GROUP BY day) "
    "SELECT day, n_orders, CAST(rev AS DOUBLE) AS day_revenue, "
    "CAST(sum(rev) OVER (ORDER BY day RANGE BETWEEN 6 PRECEDING "
    "AND CURRENT ROW) AS DOUBLE) AS trailing_7d_revenue FROM d"
)


def q_customer_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer revenue quartiles: per-customer order totals (one
    map-side-combined exchange), NTILE(4) over (revenue, custkey) — the
    tie-broken total order makes the quartile assignment deterministic
    across engines — then a 4-row quartile profile.  The NTILE window is
    the one global sort; it runs on the pre-aggregated customer frame,
    orders of magnitude below the fact table."""
    o = _read(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_totalprice").cast("decimal(18,2)").alias("_p")
    )
    per_cust = o.groupBy("o_custkey").agg(
        F.sum("_p").cast("double").alias("revenue"),
        F.count("*").alias("n_orders"),
    )
    w = Window.orderBy(F.col("revenue").asc(), F.col("o_custkey").asc())
    q = per_cust.withColumn("quartile", F.ntile(4).over(w))
    return q.groupBy("quartile").agg(
        F.count("*").alias("n_customers"),
        F.sum(F.col("revenue").cast("decimal(18,2)")).cast("double").alias("revenue_sum"),
        F.min("revenue").alias("revenue_min"),
        F.max("revenue").alias("revenue_max"),
        F.sum("n_orders").alias("n_orders"),
    )


ORACLE_CUSTOMER_QUARTILES = (
    "WITH pc AS (SELECT o_custkey, "
    "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue, "
    "count(*) AS n_orders FROM orders GROUP BY o_custkey), "
    "q AS (SELECT *, ntile(4) OVER (ORDER BY revenue ASC, o_custkey ASC) "
    "AS quartile FROM pc) "
    "SELECT quartile, count(*) AS n_customers, "
    "CAST(sum(CAST(revenue AS DECIMAL(18,2))) AS DOUBLE) AS revenue_sum, "
    "min(revenue) AS revenue_min, max(revenue) AS revenue_max, "
    "CAST(sum(n_orders) AS BIGINT) AS n_orders FROM q GROUP BY quartile"
)


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type transition bigrams (lag over the (ts,
    event_id) order within user) rolled up corpus-wide — the Markov
    transition matrix of behavioral modeling.  ONE window exchange on
    user_id; the 25-cell rollup is map-side combinable.  Integer
    counts."""
    ev = _read(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = ev.select(
        F.lag("event_type").over(w).alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).where(F.col("from_type").isNotNull())
    return tr.groupBy("from_type", "to_type").agg(F.count("*").alias("n"))


ORACLE_EVENT_TRANSITIONS = (
    "WITH tr AS (SELECT lag(event_type) OVER "
    "(PARTITION BY user_id ORDER BY ts, event_id) AS from_type, "
    "event_type AS to_type FROM events) "
    "SELECT from_type, to_type, count(*) AS n FROM tr "
    "WHERE from_type IS NOT NULL GROUP BY from_type, to_type"
)


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel signup → click → purchase: per user,
    each step's timestamp is the EARLIEST occurrence strictly after the
    previous step (min-over-filtered, not sequence scan).  All three
    step aggregates and the join-backs hash on user_id — one logical
    exchange reused by AQE — and the final report is a 3-row rollup.
    Integer counts; step times compare as exact micros."""
    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    t1 = ev.where(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min("us").alias("t1")
    )
    t2 = (
        ev.where(F.col("event_type") == "click")
        .join(t1, "user_id")
        .where(F.col("us") > F.col("t1"))
        .groupBy("user_id").agg(F.min("us").alias("t2"))
    )
    t3 = (
        ev.where(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .where(F.col("us") > F.col("t2"))
        .groupBy("user_id").agg(F.min("us").alias("t3"))
    )
    rows = [
        t1.agg(F.lit(1).alias("step"), F.lit("signup").alias("name"),
               F.count("*").alias("n_users")),
        t2.agg(F.lit(2).alias("step"), F.lit("click").alias("name"),
               F.count("*").alias("n_users")),
        t3.agg(F.lit(3).alias("step"), F.lit("purchase").alias("name"),
               F.count("*").alias("n_users")),
    ]
    out = rows[0].unionAll(rows[1]).unionAll(rows[2])
    return out


ORACLE_EVENT_FUNNEL = (
    "WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events), "
    "t1 AS (SELECT user_id, min(us) AS t1 FROM ev "
    "WHERE event_type = 'signup' GROUP BY user_id), "
    "t2 AS (SELECT ev.user_id, min(us) AS t2 FROM ev JOIN t1 USING (user_id) "
    "WHERE event_type = 'click' AND us > t1 GROUP BY ev.user_id), "
    "t3 AS (SELECT ev.user_id, min(us) AS t3 FROM ev JOIN t2 USING (user_id) "
    "WHERE event_type = 'purchase' AND us > t2 GROUP BY ev.user_id) "
    "SELECT 1 AS step, 'signup' AS name, count(*) AS n_users FROM t1 "
    "UNION ALL SELECT 2, 'click', count(*) FROM t2 "
    "UNION ALL SELECT 3, 'purchase', count(*) FROM t3"
)


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily retention cohorts: users grouped by FIRST-event day, then
    distinct-user activity per (cohort_day, day_offset) — the classic
    triangle matrix.  The first-day table hashes on user_id, joins back
    on the same key (AQE-reused exchange), and the matrix rollup
    dedupes (cohort, offset, user) BEFORE counting — dedupe-then-count,
    no count-distinct Expand.  Day arithmetic is integer epoch-days."""
    ev = _read(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000").alias("day"),
    )
    first = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    act = (
        ev.join(first, "user_id")
        .select("user_id", "cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_offset"))
        .dropDuplicates(["cohort_day", "day_offset", "user_id"])
    )
    return act.groupBy("cohort_day", "day_offset").agg(
        F.count("*").alias("n_users")
    )


ORACLE_RETENTION_COHORTS = (
    "WITH ev AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events), "
    "f AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY user_id), "
    "a AS (SELECT DISTINCT cohort_day, day - cohort_day AS day_offset, ev.user_id "
    "FROM ev JOIN f USING (user_id)) "
    "SELECT cohort_day, day_offset, count(*) AS n_users FROM a "
    "GROUP BY cohort_day, day_offset"
)


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source vocabulary overlap matrix: for every source pair,
    how many distinct tokens both emit — the corpus-mixing diagnostic
    (two crawls sharing most of their vocabulary are near-duplicate
    feeds).  Engine path: dedupe (token, source), ONE exchange on token,
    then the per-token source set expands to its C(s,2) ordered pairs in
    pure Column higher-order math (sorted set → slice/transform fan) —
    bounded by the SOURCE-count squared per token, never by corpus size
    — and the pair rollup is map-side combinable.  The oracle is the
    structurally different distinct-pair self-join."""
    docs = _read(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "source", F.explode(F.split(F.lower("text"), r"[^a-z0-9]+")).alias("token")
        )
        .where(F.length("token") >= 3)
        .dropDuplicates(["token", "source"])
    )
    sets = toks.groupBy("token").agg(
        F.array_sort(F.collect_set("source")).alias("srcs")
    )
    pairs = sets.select(
        F.explode(
            F.expr(
                "flatten(transform(srcs, (s, i) -> "
                "transform(slice(srcs, i + 2, size(srcs)), t -> "
                "struct(s AS s1, t AS s2))))"
            )
        ).alias("p")
    )
    return pairs.groupBy(F.col("p.s1").alias("s1"), F.col("p.s2").alias("s2")).agg(
        F.count("*").alias("n_shared_tokens")
    )


ORACLE_SOURCE_OVERLAP = (
    "WITH toks AS (SELECT DISTINCT source, t.token FROM documents, "
    "unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS t(token) "
    "WHERE length(t.token) >= 3) "
    "SELECT a.source AS s1, b.source AS s2, count(*) AS n_shared_tokens "
    "FROM toks a JOIN toks b ON a.token = b.token AND a.source < b.source "
    "GROUP BY a.source, b.source"
)


def q_geodesic_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spherical-excess ring area (``measures.ring_geodesic_area``) over
    the same star-polygon fixture as ``polygon_measures`` — the
    on-sphere companion to the planar shoelace (Van Oosterom–Strackee
    signed solid-angle fan, anchor-degenerate wrap edges included).
    Terms are quantized to a grid ~9 orders above JVM-vs-libm trig
    drift and ~2 below the per-term signal, then decimal-summed, so the
    SQL replay lands on the same grid points and the hash check is
    exact.  Same one-exchange window shape as polygon_measures."""
    from .operators import measures

    k = F.col("c_custkey")
    base = _read(spark, sf_dir, "customer").select(
        k.alias("k"), (k % 20).alias("grp")
    )
    w = Window.partitionBy("grp").orderBy(F.col("k").asc())
    wn = Window.partitionBy("grp")
    b = base.withColumn("j", F.row_number().over(w) - 1).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )
    theta = F.lit(2.0) * F.lit(np.pi) * F.col("j") / F.col("n")
    rs = F.when(F.col("j") % 3 == 0, F.lit(0.15)).otherwise(F.lit(1.0))
    pts = b.select(
        F.col("grp").alias("ring_id"), F.col("j").alias("seq"),
        (F.lit(-123.0) + F.col("grp") * F.lit(0.01)
         + F.lit(0.03) * rs * F.cos(theta)).alias("lon"),
        (F.lit(49.5) + F.lit(0.02) * rs * F.sin(theta)).alias("lat"),
    )
    out = measures.ring_geodesic_area(pts)
    # area ~3.5e6 m2; 1 dp sits far above the quantization floor and far
    # below any engine-visible difference on the decimal-summed terms
    return out.select(
        "ring_id", "n_vertices", F.round("area_m2", 1).alias("area_m2_r")
    )


_GEOD_XYZ = (
    "cos({lat} * 0.017453292519943295) * cos({lon} * 0.017453292519943295)",
    "cos({lat} * 0.017453292519943295) * sin({lon} * 0.017453292519943295)",
    "sin({lat} * 0.017453292519943295)",
)


def _oracle_geodesic_area() -> str:
    ax, ay, az = (c.format(lon="alon", lat="alat") for c in _GEOD_XYZ)
    bx, by, bz = (c.format(lon="x", lat="y") for c in _GEOD_XYZ)
    cx, cy, cz = (c.format(lon="nx", lat="ny") for c in _GEOD_XYZ)
    return (
        "WITH b AS (SELECT c_custkey AS k, c_custkey % 20 AS grp, "
        "row_number() OVER (PARTITION BY c_custkey % 20 ORDER BY c_custkey) - 1 AS j, "
        "count(*) OVER (PARTITION BY c_custkey % 20) AS n FROM customer), "
        "c AS (SELECT grp, j, 2.0 * pi() * j / n AS theta, "
        "CASE WHEN j % 3 = 0 THEN 0.15 ELSE 1.0 END AS rs FROM b), "
        "d AS (SELECT grp AS ring_id, j, "
        "(-123.0 + grp * 0.01) + 0.03 * rs * cos(theta) AS x, "
        "49.5 + 0.02 * rs * sin(theta) AS y FROM c), "
        "e AS (SELECT ring_id, x, y, "
        "coalesce(lead(x) OVER wb, first_value(x) OVER wb) AS nx, "
        "coalesce(lead(y) OVER wb, first_value(y) OVER wb) AS ny, "
        "first_value(x) OVER wb AS alon, first_value(y) OVER wb AS alat "
        "FROM d WINDOW wb AS (PARTITION BY ring_id ORDER BY j)), "
        "v AS (SELECT ring_id, "
        f"({ax}) AS ax, ({ay}) AS ay, ({az}) AS az, "
        f"({bx}) AS bx, ({by}) AS by, ({bz}) AS bz, "
        f"({cx}) AS cx, ({cy}) AS cy, ({cz}) AS cz FROM e), "
        "t AS (SELECT ring_id, CAST(2000000000.0 * atan2("
        "ax * (by * cz - bz * cy) + ay * (bz * cx - bx * cz) "
        "+ az * (bx * cy - by * cx), "
        "1.0 + (ax * bx + ay * by + az * bz) + (ax * cx + ay * cy + az * cz) "
        "+ (bx * cx + by * cy + bz * cz)) AS DECIMAL(38,2)) AS t9 FROM v), "
        "a AS (SELECT ring_id, count(*) AS n_vertices, "
        "CAST(sum(t9) AS DOUBLE) AS s9 FROM t GROUP BY ring_id) "
        "SELECT ring_id, n_vertices, "
        "round(abs(s9) / 1000000000.0 * 40589753129677.44, 1) AS area_m2_r "
        "FROM a"
    )


def q_focal_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster focal statistics (``raster.focal_stats``): per-cell 3x3
    neighborhood mean/min/max/sum over the inline tile grid — the
    distributed-convolution primitive, expressed as a scatter-explode
    of literal offsets + ONE exchange on the target cell (map-side
    partial combine absorbs the x9 row expansion wherever the grid is
    spatially ordered; see operators/raster.py for why gather-join is
    strictly worse).  Edge cells keep the shrinking-window rule
    (n_nbrs 4/6/9 on the 32x32 fixture).  Values decimal-summed; the
    oracle replays the identical offsets scatter in SQL."""
    from .operators import raster

    tiles = _inline_tiles(spark).select(
        (F.col("tile_id") % 32).alias("i"),
        F.floor(F.col("tile_id") / 32).alias("j"),
        "value",
    )
    return raster.focal_stats(tiles, radius=1)


ORACLE_FOCAL_MEAN = (
    f"WITH t AS ({_TILES_SQL}), "
    "o AS (SELECT a.range AS di, b.range AS dj "
    "FROM range(-1, 2) a CROSS JOIN range(-1, 2) b), "
    "c AS (SELECT (tile_id % 32) + di AS i, "
    "CAST(floor(tile_id / 32) AS BIGINT) + dj AS j, "
    "CAST(value AS DECIMAL(18,6)) AS v FROM t CROSS JOIN o), "
    "a AS (SELECT i, j, count(*) AS n_nbrs, "
    "CAST(sum(v) AS DOUBLE) AS focal_sum, "
    "min(CAST(v AS DOUBLE)) AS focal_min, "
    "max(CAST(v AS DOUBLE)) AS focal_max FROM c GROUP BY i, j) "
    "SELECT i, j, n_nbrs, focal_sum, focal_sum / n_nbrs AS focal_mean, "
    "focal_min, focal_max FROM a"
)


def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped scan-only revenue delta: lines shipped in one
    year, inside a discount band, below a quantity cap — the purest
    predicate-pushdown + map-side-aggregate shape in the suite (zero
    joins, one partial-aggregable sum).  At 100 TB this is the query
    whose entire cost is the parquet scan: the three predicates and the
    two-column projection must reach the reader (plan-asserted in
    tests/test_plans_tpch.py).  Discounts are exact hundredths
    (0.00..0.10) so the band test is exact in IEEE doubles; revenue is
    the engine money convention (per-row DECIMAL(18,6) product, decimal
    sum, one final double cast)."""
    li = _read(spark, sf_dir, "lineitem").select(
        "l_shipdate", "l_discount", "l_quantity", "l_extendedprice"
    )
    picked = li.where(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24.0)
    )
    return picked.agg(
        F.sum(
            (F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(18,6)")
        ).cast("double").alias("revenue"),
        F.count("*").alias("n_lines"),
    )


ORACLE_FORECAST_REVENUE = (
    "SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) "
    "AS DOUBLE) AS revenue, count(*) AS n_lines FROM lineitem "
    "WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01' "
    "AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24.0"
)


def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped returned-item report: per-customer lost revenue
    from 'R'-flagged lines of one order quarter, top 20 by revenue.

    Shape for 100 TB: the quarter filter prunes orders at the scan; the
    orders⋈lineitem join is the only fact-fact exchange (both sides
    hash on orderkey); customer and nation broadcast; the final top-20
    is TakeOrderedAndProject (never a global sort).  Ties broken by
    c_custkey so the LIMIT is deterministic across engines."""
    orders = (
        _read(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= "1997-01-01")
            & (F.col("o_orderdate") < "1997-04-01")
        )
        .select("o_orderkey", "o_custkey")
    )
    li = (
        _read(spark, sf_dir, "lineitem")
        .where(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    cust = _read(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    nation = _read(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
    )
    rev = j.groupBy("c_custkey", "c_name", "n_name").agg(
        F.sum(
            (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
            .cast("decimal(18,6)")
        ).cast("double").alias("revenue"),
        F.count("*").alias("n_lines"),
    )
    return rev.orderBy(F.col("revenue").desc(), F.col("c_custkey").asc()).limit(20)


ORACLE_RETURNED_ITEMS = (
    "SELECT c_custkey, c_name, n_name, "
    "CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) "
    "AS DOUBLE) AS revenue, count(*) AS n_lines "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
    "JOIN customer ON o_custkey = c_custkey "
    "JOIN nation ON c_nationkey = n_nationkey "
    "WHERE l_returnflag = 'R' "
    "AND o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1997-04-01' "
    "GROUP BY c_custkey, c_name, n_name "
    "ORDER BY revenue DESC, c_custkey ASC LIMIT 20"
)


def q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-shaped global-fraction HAVING: parts whose shipped
    value (sum extendedprice·quantity over lineitem — the engine's
    partsupp analog, the testdata has no partsupp table) exceeds
    0.05 %% of the total shipped value.

    Shape for 100 TB: ONE l_partkey exchange produces the per-part
    values; the total side's structurally identical exchange is
    AQE-reused at runtime (ReusedExchange — plan-asserted on the
    EXECUTED plan in tests/test_plans_tpch.py), so lineitem is scanned
    once, and the 1-row total joins back as a broadcast scalar
    (crossJoin), so the threshold compare is map-side.  The per-part
    value is decimal-summed (order-independent); the threshold compare
    0.0005·total is one IEEE product against values ~6 orders above the
    ulp band."""
    li = _read(spark, sf_dir, "lineitem").select(
        "l_partkey",
        (F.col("l_extendedprice") * F.col("l_quantity")).cast("decimal(18,6)").alias("_v"),
    )
    per_part = li.groupBy("l_partkey").agg(
        F.sum("_v").cast("double").alias("part_value")
    )
    total = per_part.agg(
        F.sum(F.col("part_value").cast("decimal(28,6)")).cast("double").alias("_total")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .where(F.col("part_value") > F.lit(0.0005) * F.col("_total"))
        .select("l_partkey", "part_value")
    )


ORACLE_IMPORTANT_PARTS = (
    "WITH pv AS (SELECT l_partkey, "
    "CAST(sum(CAST(l_extendedprice * l_quantity AS DECIMAL(18,6))) AS DOUBLE) "
    "AS part_value FROM lineitem GROUP BY l_partkey), "
    "t AS (SELECT CAST(sum(CAST(part_value AS DECIMAL(28,6))) AS DOUBLE) "
    "AS total FROM pv) "
    "SELECT l_partkey, part_value FROM pv, t "
    "WHERE part_value > 0.0005 * total"
)


def q_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-shaped distinct-count report: for each (p_brand,
    p_type, p_size) bucket outside one excluded brand, how many
    DISTINCT suppliers shipped it (supplier-part pairs observed in
    lineitem — the partsupp analog).

    Shape for 100 TB: supplier multiplicity collapses FIRST
    (dropDuplicates on (l_partkey, l_suppkey) — a partial-aggregable
    exchange on the pair), then the part dim broadcasts in and the
    count(*) per bucket needs no distinct machinery at all — the classic
    rewrite of count(distinct) into dedupe-then-count that AQE cannot
    derive on its own."""
    pairs = (
        _read(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .dropDuplicates(["l_partkey", "l_suppkey"])
    )
    p = (
        _read(spark, sf_dir, "part")
        .where(F.col("p_brand") != "Brand#13")
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    j = pairs.join(F.broadcast(p), pairs["l_partkey"] == p["p_partkey"])
    return j.groupBy("p_brand", "p_type", "p_size").agg(
        F.count("*").alias("supplier_cnt")
    )


ORACLE_SUPPLIER_PART_COUNTS = (
    "WITH sp AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) "
    "SELECT p_brand, p_type, p_size, count(*) AS supplier_cnt "
    "FROM sp JOIN part ON l_partkey = p_partkey "
    "WHERE p_brand <> 'Brand#13' "
    "GROUP BY p_brand, p_type, p_size"
)


def q_linestatus_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-shaped two-branch priority audit: for each line status
    (this schema's ship-mode stand-in — no l_shipmode column), how many
    1998-shipped lines belong to urgent/high-priority orders vs the
    rest.

    Shape for 100 TB: the date band pushes to the lineitem scan and the
    projection is two columns; the orders side prunes to (key,
    priority) before the join.  Both sides are fact-sized, so the join
    is the suite's canonical single fact-fact shuffle on the order key;
    the two conditional counts are ONE partial-aggregable pass over the
    join output (group cardinality 2), so the post-join exchange moves
    at most 2·shuffle_partitions rows.  The priority test is collapsed
    to a 0/1 flag BEFORE the aggregate: sum(flag)/sum(1-flag) instead
    of two count(CASE)s keeps the agg bufferless-simple and
    map-combinable."""
    li = (
        _read(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= "1998-01-01")
            & (F.col("l_shipdate") < "1999-01-01")
        )
        .select("l_orderkey", "l_linestatus")
    )
    o = _read(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    hi = (
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long")
    )
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "l_linestatus", hi.alias("_hi")
    )
    return j.groupBy("l_linestatus").agg(
        F.sum("_hi").alias("high_line_count"),
        F.sum(F.lit(1) - F.col("_hi")).alias("low_line_count"),
    )


ORACLE_LINESTATUS_PRIORITY = (
    "SELECT l_linestatus, "
    "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') "
    "THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, "
    "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') "
    "THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
    "WHERE l_shipdate >= DATE '1998-01-01' "
    "AND l_shipdate < DATE '1999-01-01' "
    "GROUP BY l_linestatus"
)


def q_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-shaped dominance semi-join chain: name the suppliers
    in one nation who shipped MORE THAN HALF of some red-prefixed
    part's total 1998 volume (the partsupp-availability test of Q20
    re-expressed over observed shipments — this schema has no partsupp
    table).

    Shape for 100 TB: the name-prefix part filter broadcasts into the
    date-pruned lineitem scan FIRST (the selective dim cuts the fact
    before any wide exchange); per-(part, supplier) volumes aggregate
    on the pair, and the per-part totals RE-AGGREGATE THE PAIR ROWS
    (Σ supplier volumes ≡ part volume — never a second fact scan), so
    the fact is read once.  The dominance test is division-free integer
    decimal math (2·supp_qty > part_qty — no 0.5·x double rounding),
    the winning pair rows collapse to distinct supplier keys BEFORE
    touching the supplier dim, and nation filter + supplier name arrive
    by broadcast.  Q20's nested IN( IN() ) becomes: broadcast-semi on
    parts, agg, self-join-back on part, semi up to supplier."""
    p = (
        _read(spark, sf_dir, "part")
        .where(F.col("p_name").startswith("red "))
        .select("p_partkey")
    )
    li = (
        _read(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= "1998-01-01")
            & (F.col("l_shipdate") < "1999-01-01")
        )
        .select("l_partkey", "l_suppkey", "l_quantity")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
    )
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,6)")).alias("supp_qty")
    )
    tot = ps.groupBy("l_partkey").agg(
        F.sum("supp_qty").cast("decimal(28,6)").alias("part_qty")
    )
    dom = (
        ps.join(tot, "l_partkey")
        .where(F.col("supp_qty") * F.lit(2) > F.col("part_qty"))
        .select("l_suppkey")
        .distinct()
    )
    s = _read(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = (
        _read(spark, sf_dir, "nation")
        .where(F.col("n_name") == "NATION_3")
        .select("n_nationkey")
    )
    return (
        s.join(dom, s["s_suppkey"] == dom["l_suppkey"], "left_semi")
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"], "left_semi")
        .select("s_suppkey", "s_name")
    )


ORACLE_DOMINANT_SUPPLIERS = (
    "WITH li AS (SELECT l_partkey, l_suppkey, l_quantity FROM lineitem "
    "WHERE l_shipdate >= DATE '1998-01-01' AND l_shipdate < DATE '1999-01-01' "
    "AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red %')), "
    "ps AS (SELECT l_partkey, l_suppkey, "
    "sum(CAST(l_quantity AS DECIMAL(18,6))) AS supp_qty FROM li "
    "GROUP BY l_partkey, l_suppkey), "
    "tot AS (SELECT l_partkey, CAST(sum(supp_qty) AS DECIMAL(28,6)) "
    "AS part_qty FROM ps GROUP BY l_partkey), "
    "dom AS (SELECT DISTINCT l_suppkey FROM ps JOIN tot USING (l_partkey) "
    "WHERE supp_qty * 2 > part_qty) "
    "SELECT s_suppkey, s_name FROM supplier "
    "WHERE s_suppkey IN (SELECT l_suppkey FROM dom) "
    "AND s_nationkey IN (SELECT n_nationkey FROM nation "
    "WHERE n_name = 'NATION_3')"
)


# ===========================================================================
# Catalog
# ===========================================================================


class Entry(NamedTuple):
    """One catalog query: its function, its DuckDB oracle SQL, and whether
    bench.py times it.  The query's name is the function's minus ``q_``."""

    build: Callable[[SparkSession, str], DataFrame]
    oracle: str
    bench: bool = False

    @property
    def name(self) -> str:
        return self.build.__name__.removeprefix("q_")


# The one hand-kept list of queries, in definition order; QUERIES,
# ORACLES and bench.BENCH_QUERIES are all derived from it.
CATALOG = (
    Entry(q_tile_assign, ORACLE_TILE_ASSIGN, bench=True),
    Entry(q_pip_convex, ORACLE_PIP_CONVEX, bench=True),
    Entry(q_interleaved_tile_pip, ORACLE_INTERLEAVED, bench=True),
    # GML-encoded flagship: must produce the identical match set
    Entry(q_interleaved_gml_pip, ORACLE_INTERLEAVED),
    Entry(q_dwithin_zones, _oracle_dwithin_zones(), bench=True),
    Entry(q_beyond_zones, _oracle_beyond_zones()),
    Entry(q_envelope_agg, ORACLE_ENVELOPE_AGG, bench=True),
    Entry(q_envelope_gml_2dp, ORACLE_ENVELOPE_GML_2DP),
    Entry(q_envelope_kvp, ORACLE_ENVELOPE_KVP),
    Entry(q_antipode, ORACLE_ANTIPODE),
    Entry(q_crs_abbrev, ORACLE_CRS_ABBREV),
    Entry(q_srs_to_urn, ORACLE_SRS_TO_URN),
    Entry(q_ucum_length, ORACLE_UCUM_LENGTH),
    Entry(q_trajectory_length, _oracle_trajectory_length()),
    Entry(q_staypoints, ORACLE_STAYPOINTS, bench=True),
    Entry(q_od_matrix, ORACLE_OD_MATRIX, bench=True),
    Entry(q_stay_zones, ORACLE_STAY_ZONES, bench=True),
    Entry(q_track_simplify, ORACLE_TRACK_SIMPLIFY, bench=True),
    Entry(q_simplify_error, ORACLE_SIMPLIFY_ERROR, bench=True),
    Entry(q_speed_spikes, ORACLE_SPEED_SPIKES, bench=True),
    Entry(q_colocation, ORACLE_COLOCATION, bench=True),
    Entry(q_interval_coverage, ORACLE_INTERVAL_COVERAGE),
    Entry(q_temporal_during, ORACLE_TEMPORAL_DURING, bench=True),
    Entry(q_temporal_extent, ORACLE_TEMPORAL_EXTENT),
    Entry(q_split_interval, ORACLE_SPLIT_INTERVAL),
    Entry(q_temporal_relations_all, ORACLE_TEMPORAL_RELATIONS_ALL),
    Entry(q_temporal_rank, ORACLE_TEMPORAL_RANK),
    Entry(q_asof_join, ORACLE_ASOF_JOIN),
    Entry(q_pricing_summary, ORACLE_PRICING_SUMMARY, bench=True),
    Entry(q_revenue_by_nation, ORACLE_REVENUE_BY_NATION, bench=True),
    Entry(q_session_windows, ORACLE_SESSION_WINDOWS),
    Entry(q_window_running, ORACLE_WINDOW_RUNNING, bench=True),
    Entry(q_zonal_pairs, ORACLE_ZONAL_PAIRS),
    Entry(q_zonal_stats, ORACLE_ZONAL_STATS, bench=True),
    Entry(q_exact_dup_groups, ORACLE_EXACT_DUP_GROUPS),
    Entry(q_ngram_jaccard, ORACLE_NGRAM_JACCARD, bench=True),
    Entry(q_dup_components, ORACLE_DUP_COMPONENTS),
    Entry(q_keeper_election, ORACLE_KEEPER_ELECTION),
    Entry(q_decontaminate, ORACLE_DECONTAMINATE, bench=True),
    Entry(q_heavy_shingles, ORACLE_HEAVY_SHINGLES, bench=True),
    Entry(q_line_dedup, ORACLE_LINE_DEDUP, bench=True),
    Entry(q_chunk_sliding, ORACLE_CHUNK_SLIDING, bench=True),
    Entry(q_span_compact, ORACLE_SPAN_COMPACT, bench=True),
    Entry(q_selfsim, ORACLE_SELFSIM, bench=True),
    Entry(q_lsh_band_index, ORACLE_LSH_BAND_INDEX),
    Entry(q_lsh_band_index_arrow, ORACLE_LSH_BAND_INDEX, bench=True),
    Entry(q_tfidf_topk, ORACLE_TFIDF_TOPK, bench=True),
    Entry(q_oov_rate, ORACLE_OOV_RATE),
    Entry(q_vocab_topk, ORACLE_VOCAB_TOPK, bench=True),
    Entry(q_length_percentiles, ORACLE_LENGTH_PERCENTILES),
    Entry(q_length_histogram, ORACLE_LENGTH_HISTOGRAM),
    Entry(q_group_quantiles, ORACLE_GROUP_QUANTILES, bench=True),
    Entry(q_split_assign, ORACLE_SPLIT_ASSIGN),
    Entry(q_repetition, ORACLE_REPETITION, bench=True),
    Entry(q_pii_scan, ORACLE_PII_SCAN, bench=True),
    Entry(q_url_domains, ORACLE_URL_DOMAINS),
    Entry(q_stratified_sample, ORACLE_STRATIFIED_SAMPLE),
    Entry(q_curation_funnel, ORACLE_CURATION_FUNNEL, bench=True),
    Entry(q_token_counts, ORACLE_TOKEN_COUNTS),
    Entry(q_lang_id, ORACLE_LANG_ID),
    Entry(q_quality_score, ORACLE_QUALITY_SCORE, bench=True),
    Entry(q_fingerprint, ORACLE_FINGERPRINT, bench=True),
    Entry(q_cosine_topk, ORACLE_COSINE_TOPK, bench=True),
    Entry(q_kmeans_clusters, ORACLE_KMEANS_CLUSTERS, bench=True),
    Entry(q_cluster_balanced_sample, ORACLE_CLUSTER_BALANCED_SAMPLE),
    Entry(q_minhash_lsh, _oracle_minhash_lsh(), bench=True),
    Entry(q_minhash_lsh_fast, ORACLE_MINHASH_FAST_CONTRACT, bench=True),
    Entry(q_minhash_est_jaccard, _oracle_minhash_est_jaccard()),
    Entry(q_simhash_neardups, _oracle_simhash_neardups(), bench=True),
    Entry(q_simhash_neardups_fast, ORACLE_SIMHASH_FAST_CONTRACT, bench=True),
    Entry(q_minhash_fast_planted, ORACLE_MINHASH_FAST_PLANTED),
    Entry(q_simhash_fast_planted, ORACLE_SIMHASH_FAST_PLANTED),
    Entry(q_ann_topk, _ANN_PLANTED_SQL, bench=True),
    Entry(q_ann_topk_ivf, _ANN_PLANTED_SQL),
    Entry(q_ann_topk_ivf_int8, _ANN_PLANTED_SQL, bench=True),
    Entry(q_ann_topk_ivf_pq, _ANN_PLANTED_SQL, bench=True),
    Entry(q_embedding_neardups, ORACLE_EMBEDDING_NEARDUPS, bench=True),
    Entry(q_semantic_dedup, _oracle_semantic_dedup(), bench=True),
    Entry(q_dwithin_exact, _oracle_dwithin_exact(), bench=True),
    Entry(q_knn_cellring, _oracle_knn_cellring(), bench=True),
    Entry(q_multimodal_features, ORACLE_MULTIMODAL_FEATURES),
    Entry(q_media_frames, ORACLE_MEDIA_FRAMES),
    # span-sequence invariant: must be the empty set (oracle = empty)
    Entry(q_span_invariant, ORACLE_SPAN_INVARIANT),
    Entry(q_geodesic_destination, _oracle_geodesic_destination()),
    Entry(q_crs_roundtrip_utm, _oracle_crs_roundtrip_utm()),
    Entry(q_arc_densify, _oracle_arc_densify()),
    Entry(q_convex_hull_groups, ORACLE_CONVEX_HULL_GROUPS),
    Entry(q_ring_dedupe_ppm, ORACLE_RING_DEDUPE_PPM),
    Entry(q_beyond, _oracle_beyond()),
    Entry(q_antipodal_envelope, ORACLE_ANTIPODAL_ENVELOPE),
    Entry(q_coalesce_boxes, _oracle_coalesce_boxes()),
    Entry(q_crs_domain, ORACLE_CRS_DOMAIN),
    Entry(q_pip_salted_shuffle, ORACLE_PIP_CONVEX, bench=True),
    Entry(q_geometry_join_lines, ORACLE_GEOMETRY_JOIN_LINES, bench=True),
    Entry(q_geometry_join_polys, ORACLE_GEOMETRY_JOIN_POLYS),
    Entry(q_geometry_join_crosses, ORACLE_GEOMETRY_JOIN_CROSSES),
    Entry(q_geometry_join_within, ORACLE_GEOMETRY_JOIN_WITHIN),
    Entry(q_geometry_join_equals, ORACLE_GEOMETRY_JOIN_EQUALS),
    Entry(q_geometry_join_multi, ORACLE_GEOMETRY_JOIN_MULTI),
    Entry(q_cell_histogram, ORACLE_CELL_HISTOGRAM),
    Entry(q_skew_report, ORACLE_SKEW_REPORT),
    Entry(q_spatial_predicates, ORACLE_SPATIAL_PREDICATES),
    Entry(q_gml_decode, ORACLE_GML_DECODE, bench=True),
    Entry(q_gml_envelope, ORACLE_GML_ENVELOPE),
    Entry(q_gml_arc_decode, _oracle_gml_arc_decode()),
    Entry(q_min_curve_segment_length, ORACLE_MIN_CURVE_SEGMENT_LENGTH),
    Entry(q_create_envelope_parse, ORACLE_CREATE_ENVELOPE_PARSE),
    Entry(q_gml_to_temporal, ORACLE_GML_TO_TEMPORAL),
    Entry(q_hll_distinct, ORACLE_HLL_DISTINCT, bench=True),
    Entry(q_cms_vocab, ORACLE_CMS_VOCAB, bench=True),
    Entry(q_heavy_hitters, ORACLE_HEAVY_HITTERS, bench=True),
    Entry(q_pareto_parts, ORACLE_PARETO_PARTS, bench=True),
    Entry(q_track_cells, ORACLE_TRACK_CELLS, bench=True),
    Entry(q_fuzzy_name_pairs, ORACLE_FUZZY_NAME_PAIRS, bench=True),
    Entry(q_moran_events, ORACLE_MORAN_EVENTS, bench=True),
    Entry(q_hotspot_gi, ORACLE_HOTSPOT_GI, bench=True),
    Entry(q_rate_anomaly, ORACLE_RATE_ANOMALY, bench=True),
    Entry(q_pmi_collocations, ORACLE_PMI_COLLOCATIONS, bench=True),
    Entry(q_basket_pairs, ORACLE_BASKET_PAIRS, bench=True),
    Entry(q_quantile_calibration, ORACLE_QUANTILE_CALIBRATION, bench=True),
    Entry(q_trend_test, ORACLE_TREND_TEST, bench=True),
    Entry(q_revenue_gini, ORACLE_REVENUE_GINI, bench=True),
    Entry(q_benford_audit, ORACLE_BENFORD_AUDIT, bench=True),
    Entry(q_kernel_density, ORACLE_KERNEL_DENSITY, bench=True),
    Entry(q_emerging_hotspots, ORACLE_EMERGING_HOTSPOTS, bench=True),
    Entry(q_coverage_gaps, ORACLE_COVERAGE_GAPS, bench=True),
    Entry(q_cusum_alarm, ORACLE_CUSUM_ALARM, bench=True),
    Entry(q_readability, ORACLE_READABILITY, bench=True),
    Entry(q_media_reuse, ORACLE_MEDIA_REUSE, bench=True),
    Entry(q_attribution, ORACLE_ATTRIBUTION, bench=True),
    Entry(q_zonal_majority, ORACLE_ZONAL_MAJORITY, bench=True),
    Entry(q_behavior_entropy, ORACLE_BEHAVIOR_ENTROPY, bench=True),
    Entry(q_hausdorff_routes, ORACLE_HAUSDORFF_ROUTES, bench=True),
    Entry(q_voronoi_stats, ORACLE_VORONOI_STATS, bench=True),
    Entry(q_hex_bin, ORACLE_HEX_BIN, bench=True),
    Entry(q_audience_overlap, ORACLE_AUDIENCE_OVERLAP, bench=True),
    Entry(q_series_peaks, ORACLE_SERIES_PEAKS, bench=True),
    Entry(q_markov_stationary, _oracle_markov_stationary(), bench=True),
    Entry(q_seasonality_profile, ORACLE_SEASONALITY_PROFILE, bench=True),
    Entry(q_assortativity, ORACLE_ASSORTATIVITY, bench=True),
    Entry(q_mad_outliers, ORACLE_MAD_OUTLIERS, bench=True),
    Entry(q_anomaly_drilldown, ORACLE_ANOMALY_DRILLDOWN, bench=True),
    Entry(q_leadlag_xcorr, ORACLE_LEADLAG_XCORR, bench=True),
    Entry(q_path_trigrams, ORACLE_PATH_TRIGRAMS, bench=True),
    Entry(q_variogram, ORACLE_VARIOGRAM, bench=True),
    Entry(q_gap_fill, ORACLE_GAP_FILL, bench=True),
    Entry(q_survival_km, ORACLE_SURVIVAL_KM, bench=True),
    Entry(q_haar_multires, ORACLE_HAAR_MULTIRES, bench=True),
    Entry(q_zipf_fit, ORACLE_ZIPF_FIT, bench=True),
    Entry(q_kcore, _oracle_kcore(), bench=True),
    Entry(q_ewma_chart, ORACLE_EWMA_CHART, bench=True),
    Entry(q_common_neighbors, ORACLE_COMMON_NEIGHBORS, bench=True),
    Entry(q_token_bursts, ORACLE_TOKEN_BURSTS, bench=True),
    Entry(q_acf_profile, ORACLE_ACF_PROFILE, bench=True),
    Entry(q_theil_sen, ORACLE_THEIL_SEN, bench=True),
    Entry(q_cdc_apply, ORACLE_CDC_APPLY, bench=True),
    Entry(q_scd2_build, ORACLE_SCD2_BUILD, bench=True),
    Entry(q_snapshot_diff, ORACLE_SNAPSHOT_DIFF, bench=True),
    Entry(q_kmv_vocab, ORACLE_KMV_VOCAB, bench=True),
    Entry(q_kmv_overlap, ORACLE_KMV_OVERLAP, bench=True),
    Entry(q_grid_clusters, ORACLE_GRID_CLUSTERS, bench=True),
    Entry(q_bloom_dedup, ORACLE_BLOOM_DEDUP),
    Entry(q_inverted_index, ORACLE_INVERTED_INDEX, bench=True),
    Entry(q_pagerank, _oracle_pagerank(), bench=True),
    Entry(q_budget_pack, ORACLE_BUDGET_PACK, bench=True),
    Entry(q_mix_resample, ORACLE_MIX_RESAMPLE),
    Entry(q_bloom_join, ORACLE_BLOOM_JOIN, bench=True),
    Entry(q_pricing_rollup, ORACLE_PRICING_ROLLUP, bench=True),
    Entry(q_shipping_priority, ORACLE_SHIPPING_PRIORITY, bench=True),
    Entry(q_tile_pyramid, ORACLE_TILE_PYRAMID, bench=True),
    Entry(q_order_priority_check, ORACLE_ORDER_PRIORITY_CHECK, bench=True),
    Entry(q_waiting_suppliers, ORACLE_WAITING_SUPPLIERS, bench=True),
    Entry(q_idle_customers, ORACLE_IDLE_CUSTOMERS, bench=True),
    Entry(q_cheapest_supplier, ORACLE_CHEAPEST_SUPPLIER),
    Entry(q_customer_distribution, ORACLE_CUSTOMER_DISTRIBUTION, bench=True),
    Entry(q_top_supplier, ORACLE_TOP_SUPPLIER, bench=True),
    Entry(q_render_interleaved, ORACLE_RENDER_INTERLEAVED, bench=True),
    Entry(q_discount_revenue_brands, ORACLE_DISCOUNT_REVENUE_BRANDS),
    Entry(q_bm25_topk, ORACLE_BM25_TOPK, bench=True),
    Entry(q_small_quantity_revenue, ORACLE_SMALL_QUANTITY_REVENUE, bench=True),
    Entry(q_large_volume_customers, ORACLE_LARGE_VOLUME_CUSTOMERS, bench=True),
    Entry(q_nation_trade_volume, ORACLE_NATION_TRADE_VOLUME, bench=True),
    Entry(q_market_share, ORACLE_MARKET_SHARE, bench=True),
    Entry(q_product_profit, ORACLE_PRODUCT_PROFIT, bench=True),
    Entry(q_promo_revenue, ORACLE_PROMO_REVENUE, bench=True),
    Entry(q_weighted_sample, ORACLE_WEIGHTED_SAMPLE, bench=True),
    Entry(q_token_entropy, ORACLE_TOKEN_ENTROPY, bench=True),
    Entry(q_hull_perimeter, ORACLE_HULL_PERIMETER, bench=True),
    Entry(q_lm_logloss, ORACLE_LM_LOGLOSS, bench=True),
    Entry(q_pack_sequences, ORACLE_PACK_SEQUENCES, bench=True),
    Entry(q_map_match, _oracle_map_match(), bench=True),
    Entry(q_ohlc_bars, ORACLE_OHLC_BARS, bench=True),
    Entry(q_hotspot_cells, ORACLE_HOTSPOT_CELLS, bench=True),
    Entry(q_bearing_histogram, ORACLE_BEARING_HISTOGRAM, bench=True),
    Entry(q_triangle_counts, ORACLE_TRIANGLE_COUNTS, bench=True),
    Entry(q_idw_interpolate, ORACLE_IDW_INTERPOLATE, bench=True),
    Entry(q_polygon_measures, ORACLE_POLYGON_MEASURES, bench=True),
    Entry(q_containment_pairs, ORACLE_CONTAINMENT_PAIRS, bench=True),
    Entry(q_source_kl, ORACLE_SOURCE_KL, bench=True),
    Entry(q_clustering_coeff, ORACLE_CLUSTERING_COEFF, bench=True),
    Entry(q_robust_stats, ORACLE_ROBUST_STATS, bench=True),
    Entry(q_integrity_audit, ORACLE_INTEGRITY_AUDIT, bench=True),
    Entry(q_zonal_weighted, ORACLE_ZONAL_WEIGHTED, bench=True),
    Entry(q_geohash_cells, _oracle_geohash_cells(), bench=True),
    Entry(q_embedding_stats, ORACLE_EMBEDDING_STATS, bench=True),
    Entry(q_resample_track, ORACLE_RESAMPLE_TRACK, bench=True),
    Entry(q_rolling_revenue, ORACLE_ROLLING_REVENUE, bench=True),
    Entry(q_customer_quartiles, ORACLE_CUSTOMER_QUARTILES, bench=True),
    Entry(q_event_transitions, ORACLE_EVENT_TRANSITIONS, bench=True),
    Entry(q_event_funnel, ORACLE_EVENT_FUNNEL, bench=True),
    Entry(q_retention_cohorts, ORACLE_RETENTION_COHORTS, bench=True),
    Entry(q_source_overlap, ORACLE_SOURCE_OVERLAP, bench=True),
    Entry(q_geodesic_area, _oracle_geodesic_area(), bench=True),
    Entry(q_focal_mean, ORACLE_FOCAL_MEAN, bench=True),
    Entry(q_forecast_revenue, ORACLE_FORECAST_REVENUE, bench=True),
    Entry(q_returned_items, ORACLE_RETURNED_ITEMS, bench=True),
    Entry(q_important_parts, ORACLE_IMPORTANT_PARTS, bench=True),
    Entry(q_supplier_part_counts, ORACLE_SUPPLIER_PART_COUNTS, bench=True),
    Entry(q_linestatus_priority, ORACLE_LINESTATUS_PRIORITY, bench=True),
    Entry(q_dominant_suppliers, ORACLE_DOMINANT_SUPPLIERS, bench=True),
)

_CORRECTNESS_FILE = re.compile(r"CORRECTNESS_r(\d+)\.json")


def oldest_checked_first(names: Iterable[str], root: Path) -> list[str]:
    """``names`` ordered oldest-checked first: by the latest round in which
    each was green (hash_match) in ``root``'s CORRECTNESS_r*.json, never
    green first; ties keep the given order.  No files (e.g. the package
    shipped as a ``--py-files`` zip) leaves the order unchanged.

    The correctness pass that records those files walks QUERIES in order
    and stops on a time budget (~50 queries), so this rotates it onto the
    queries whose last green row is oldest."""
    last_green: dict[str, int] = {}
    for path in root.glob("CORRECTNESS_r*.json"):
        m = _CORRECTNESS_FILE.fullmatch(path.name)
        if not m:
            continue
        rnd = int(m.group(1))
        for name, row in json.loads(path.read_text()).items():
            if row.get("hash_match") is True:
                last_green[name] = max(last_green.get(name, 0), rnd)
    return sorted(names, key=lambda n: last_green.get(n, 0))


_BY_NAME = {e.name: e.build for e in CATALOG}
QUERIES = {
    name: _BY_NAME[name]
    for name in oldest_checked_first(_BY_NAME, Path(__file__).resolve().parent.parent)
}
ORACLES = {e.name: e.oracle for e in CATALOG}
