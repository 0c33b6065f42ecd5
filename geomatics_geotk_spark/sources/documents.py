"""Deterministic synthetic tables (seed-free: every value is a pure
function of the row id via xxhash64, so generation is distributed,
re-runnable, and partitioning-independent — the property that lets the
same generator run at sf0.001 locally and 10^12 rows on a cluster).

``documents`` follows BASELINE.json input_hint / FIXTURES.md §1.1:

    documents(doc_id: string,
              spans: array<struct<kind,text,media_ref: string, offset: int>>)

2–8 spans per doc interleaving text/media, exactly one ``kind='geo'`` span
whose text is ``POINT (lon lat)``: 80% uniform in the Vancouver box
(49..50 lat, −123.5..−122.5 lon), 20% concentrated on 3 hot cells to
exercise skew handling (FIXTURES.md §1.1 generation rules).

Everything is Column expressions — the generator itself is a distributed
JVM job with no Python in the row path.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# 3 hot spots inside the Vancouver box (skew exercise, FIXTURES.md §1.1)
HOT_CENTERS = [(-123.12, 49.28), (-123.00, 49.25), (-122.80, 49.19)]
BOX = (-123.5, 49.0, -122.5, 50.0)  # lon_min, lat_min, lon_max, lat_max

_WORDS = (
    "spark shuffle join tile cell geo span media index scan batch arrow "
    "vector kernel envelope polygon point curve surface temporal period"
).split()


def _u(col, salt: int):
    """Deterministic uniform [0,1) from a long column — pure JVM hash."""
    return (F.pmod(F.xxhash64(col, F.lit(salt)), F.lit(1_000_000_000)) / F.lit(1e9)).cast("double")


def synth_documents(spark: SparkSession, n: int, partitions: int | None = None) -> DataFrame:
    """n interleaved documents; deterministic in content regardless of
    parallelism (every column derives from ``id`` alone)."""
    base = spark.range(0, n, 1, partitions or max(8, spark.sparkContext.defaultParallelism))
    idc = F.col("id")

    hot = _u(idc, 1) < F.lit(0.2)
    hot_pick = F.pmod(F.xxhash64(idc, F.lit(2)), F.lit(3))
    hot_lon = (
        F.when(hot_pick == 0, F.lit(HOT_CENTERS[0][0]))
        .when(hot_pick == 1, F.lit(HOT_CENTERS[1][0]))
        .otherwise(F.lit(HOT_CENTERS[2][0]))
    )
    hot_lat = (
        F.when(hot_pick == 0, F.lit(HOT_CENTERS[0][1]))
        .when(hot_pick == 1, F.lit(HOT_CENTERS[1][1]))
        .otherwise(F.lit(HOT_CENTERS[2][1]))
    )
    # hot points jitter ±0.005°; uniform points span the whole box
    lon = F.when(
        hot, hot_lon + (_u(idc, 3) - F.lit(0.5)) * F.lit(0.01)
    ).otherwise(F.lit(BOX[0]) + _u(idc, 4) * F.lit(BOX[2] - BOX[0]))
    lat = F.when(
        hot, hot_lat + (_u(idc, 5) - F.lit(0.5)) * F.lit(0.01)
    ).otherwise(F.lit(BOX[1]) + _u(idc, 6) * F.lit(BOX[3] - BOX[1]))

    geo_text = F.format_string("POINT (%s %s)", F.round(lon, 9).cast("string"), F.round(lat, 9).cast("string"))

    # 1..7 non-geo spans (total 2..8 incl. the geo span), interleaved text/media
    n_other = (F.pmod(F.xxhash64(idc, F.lit(7)), F.lit(7)) + F.lit(1)).cast("int")
    word = lambda s: F.element_at(  # noqa: E731
        F.array(*[F.lit(w) for w in _WORDS]),
        (F.pmod(F.xxhash64(idc, F.lit(s)), F.lit(len(_WORDS))) + 1).cast("int"),
    )
    others = F.array(*[
        F.struct(
            F.when(F.lit(i % 2 == 0), F.lit("text")).otherwise(F.lit("media")).alias("kind"),
            F.when(F.lit(i % 2 == 0), F.concat_ws(" ", word(10 + i), word(20 + i), word(30 + i)))
            .otherwise(F.lit("")).alias("text"),
            F.when(F.lit(i % 2 == 1), F.format_string("media://blob/%d/%d", idc, F.lit(i)))
            .otherwise(F.lit("")).alias("media_ref"),
            F.lit(i).alias("offset"),
        )
        for i in range(7)
    ])
    geo_span = F.struct(
        F.lit("geo").alias("kind"),
        geo_text.alias("text"),
        F.lit("").alias("media_ref"),
        F.lit(0).alias("offset"),
    )
    # geo span inserted at deterministic position p ∈ [0, n_other]
    p = F.pmod(F.xxhash64(idc, F.lit(8)), (n_other + F.lit(1)).cast("long")).cast("int")
    spans = F.concat(
        F.slice(others, 1, p),
        F.array(geo_span),
        F.slice(others, p + F.lit(1), n_other - p),
    )
    # strictly increasing offsets: reindex by position
    spans = F.transform(
        spans,
        lambda s, i: F.struct(
            s["kind"].alias("kind"), s["text"].alias("text"),
            s["media_ref"].alias("media_ref"), (i * 10).cast("int").alias("offset"),
        ),
    )

    return base.select(
        F.format_string("doc-%012d", idc).alias("doc_id"),
        spans.alias("spans"),
    )


def with_span_hash(df: DataFrame, col: str = "span_hash") -> DataFrame:
    """Append the per-document span-sequence fingerprint.

    hash over the ordered (kind, text, media_ref, offset-order) sequence —
    the invariant BASELINE.json input_hint requires every stage to
    preserve.  Computed JVM-side (to_json keeps array order).
    """
    return df.withColumn(col, F.xxhash64(F.to_json(F.col("spans"))))


def assert_spans_preserved(before: DataFrame, after: DataFrame) -> None:
    """Raise if any doc's span sequence changed between two stages."""
    b = with_span_hash(before).select("doc_id", F.col("span_hash").alias("h_before"))
    a = with_span_hash(after).select("doc_id", F.col("span_hash").alias("h_after"))
    bad = (
        b.join(a, "doc_id", "full_outer")
        .where(
            F.col("h_before").isNull()
            | F.col("h_after").isNull()
            | (F.col("h_before") != F.col("h_after"))
        )
        .limit(1)
        .collect()
    )
    if bad:
        raise AssertionError(f"span-sequence invariant violated, e.g. {bad[0]}")


def compact_adjacent_text_spans(spans: Column) -> Column:
    """Merge runs of consecutive ``text:``-prefixed spans in a
    string-encoded span array (``'kind:payload'`` per element) into one
    span whose payload is the run's payloads joined by ' '; every other
    span keeps its position and relative order.  A narrow per-row Column
    fold — no shuffle, no Python; the array is small (input_hint docs
    carry 2-8 spans), so the interpreted lambda is bounded per row.
    """
    def step(acc: Column, s: Column) -> Column:
        last = F.element_at(acc, -1)
        mergeable = (
            s.startswith("text:") & (F.size(acc) > 0) & last.startswith("text:")
        )
        merged = F.concat(
            F.slice(acc, 1, F.size(acc) - 1),
            F.array(F.concat(last, F.lit(" "), F.substring(s, 6, 1 << 24))),
        )
        return F.when(mergeable, merged).otherwise(F.concat(acc, F.array(s)))

    return F.aggregate(spans, F.array().cast("array<string>"), step)


# ---------------------------------------------------------------------------
# Dimension tables (fixture-seeded; FIXTURES.md §1.2–1.5)
# ---------------------------------------------------------------------------


_POINT = pa.struct([("x", pa.float64()), ("y", pa.float64())])
_ZONES_ARROW = pa.schema([
    ("zone_id", pa.string()), ("crs", pa.string()),
    ("exterior", pa.list_(_POINT)), ("interiors", pa.list_(pa.list_(_POINT))),
])
_ZONES_SCHEMA = (
    "zone_id string, crs string, exterior array<struct<x:double,y:double>>, "
    "interiors array<array<struct<x:double,y:double>>>"
)


def polygon_zones(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    """(zone_id, crs, exterior, interiors) tuples, rings as (x, y) tuples
    → a zones DataFrame.  It is handed to Spark as one Arrow table, so it
    plans as a ``LocalTableScan`` and collecting it is a driver-local
    read: no job, no Python worker."""
    table = pa.Table.from_pylist(
        [dict(zip(_ZONES_ARROW.names, r)) for r in rows], schema=_ZONES_ARROW
    )
    return spark.createDataFrame(table, _ZONES_SCHEMA)


def zones_table(spark: SparkSession, grid: int = 8) -> DataFrame:
    """Polygon zones: the reference fixture polygons (verbatim) + a
    ``grid×grid`` rectangle tiling of the Vancouver box.

    Schema: zone_id, crs, exterior array<struct<x,y>>, interiors
    array<array<struct<x,y>>> — x,y in the CRS's native axis order
    (lat,lon for EPSG:4326/4258 per GML fixture convention).  A local
    relation (:func:`polygon_zones`).
    """
    rows = []
    # gml/Polygon-InteriorLinearRing.xml exterior (EPSG:4326, lat,lon)
    bc = [(49.1947, -123.1839), (49.2210, -122.7710), (49.2740, -122.9086),
          (49.3269, -122.9487), (49.3304, -123.2646), (49.1947, -123.1839)]
    rows.append(("zone-bc-fixture", "EPSG:4326", bc, []))
    # gml/AIXMSurface.xml-like FIR ring (EPSG:4326, lat,lon)
    fir = [(57.08, -40.00), (58.00, -30.00), (56.67, -21.13), (52.00, -25.00),
           (50.00, -35.00), (52.31, -37.10), (52.31, -29.69), (54.00, -33.00),
           (56.00, -38.00), (57.08, -40.00)]
    rows.append(("zone-fir-fixture", "EPSG:4326", fir, []))
    # grid tiling of the Vancouver box (CRS:84, lon,lat order)
    lon0, lat0, lon1, lat1 = -123.5, 49.0, -122.5, 50.0
    dx, dy = (lon1 - lon0) / grid, (lat1 - lat0) / grid
    for i in range(grid):
        for j in range(grid):
            x0, y0 = lon0 + i * dx, lat0 + j * dy
            ring = [(x0, y0), (x0 + dx, y0), (x0 + dx, y0 + dy), (x0, y0 + dy), (x0, y0)]
            rows.append((f"zone-grid-{i}-{j}", "CRS:84", ring, []))
    return polygon_zones(spark, rows)


def pois_table(spark: SparkSession, n_random: int = 64) -> DataFrame:
    """POIs: the reference's Point Atkinson / Jericho (verbatim,
    gml/Point-*.xml) + deterministic uniform points in the box."""
    fixed = spark.createDataFrame(
        [
            ("poi-atkinson", "Point Atkinson", "CRS:84", -123.2646, 49.3304),
            ("poi-jericho", "Jericho", "CRS:84", -123.2015, 49.2756),
        ],
        "poi_id string, name string, crs string, x double, y double",
    )
    rand = spark.range(n_random).select(
        F.format_string("poi-%06d", F.col("id")).alias("poi_id"),
        F.format_string("synthetic-%d", F.col("id")).alias("name"),
        F.lit("CRS:84").alias("crs"),
        (F.lit(BOX[0]) + _u(F.col("id"), 41) * F.lit(BOX[2] - BOX[0])).alias("x"),
        (F.lit(BOX[1]) + _u(F.col("id"), 42) * F.lit(BOX[3] - BOX[1])).alias("y"),
    )
    return fixed.unionByName(rand)


def raster_tiles_table(spark: SparkSession, grid: int = 32) -> DataFrame:
    """Regular raster grid over the Vancouver box; one envelope + value per
    tile (envelope semantics per Extents.java)."""
    lon0, lat0, lon1, lat1 = BOX
    dx, dy = (lon1 - lon0) / grid, (lat1 - lat0) / grid
    return (
        spark.range(grid * grid)
        .select(
            F.format_string("tile-%05d", F.col("id")).alias("tile_id"),
            F.lit("CRS:84").alias("crs"),
            (F.lit(lon0) + (F.col("id") % grid) * F.lit(dx)).alias("xmin"),
            (F.lit(lat0) + F.floor(F.col("id") / grid) * F.lit(dy)).alias("ymin"),
            (F.lit(lon0) + (F.col("id") % grid + 1) * F.lit(dx)).alias("xmax"),
            (F.lit(lat0) + (F.floor(F.col("id") / grid) + 1) * F.lit(dy)).alias("ymax"),
            _u(F.col("id"), 43).alias("value"),
        )
    )


def periods_table(spark: SparkSession, n: int = 256) -> DataFrame:
    """Instants (end NULL) and periods around 2015-12-03T10:15:30Z
    (the reference's temporal test anchor, VerifyTemporalUtils.java)."""
    anchor = F.to_timestamp(F.lit("2015-12-03 10:15:30"))
    idc = F.col("id")
    begin = anchor + F.make_interval(hours=(F.pmod(F.xxhash64(idc, F.lit(51)), F.lit(2000)) - 1000).cast("int"))
    dur_h = F.pmod(F.xxhash64(idc, F.lit(52)), F.lit(200)).cast("int")
    is_instant = _u(idc, 53) < 0.3
    return spark.range(n).select(
        F.format_string("per-%06d", idc).alias("id"),
        begin.alias("begin"),
        F.when(is_instant, F.lit(None).cast("timestamp")).otherwise(begin + F.make_interval(hours=dur_h)).alias("end"),
    )
