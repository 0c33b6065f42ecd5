"""JVM-side Column-expression helpers — the engine's hot path.

Everything here is a Catalyst expression: no Python is executed per row.
The plain arithmetic and string helpers compile inside whole-stage
codegen, and so does the spatial join's refine (:func:`edge_slots_pip_col`,
the crossing number unrolled over a cell's edge slots, for zone sides with
few slots per cell).  The helpers built on higher-order functions (the
full-ring point-in-polygon crossing number, covering/disk cell arrays) use
lambdas, which Spark 4.1 runs interpreted (CodegenFallback) and which keep
their operator out of whole-stage codegen.  These re-express the reference
operations that are pure arithmetic/string work:

- WKT POINT decode (regexp) — scan-side geometry extraction;
- Z-order cell id (bit-interleave as Column ops) — mirrors
  :mod:`geomatics_geotk_spark.cells` exactly, so JVM- and numpy-computed
  ids are interchangeable;
- point-in-polygon crossing number, over whole rings and over a cell's
  edge slots;
- antipode (``Extents.java:421-431``);
- CRS-id normalization regexes (``GeodesyUtils.java:222-271``);
- envelope KVP serialization (``Extents.java:364-382``) and GML-style
  round-DOWN-to-2dp ordinates (``Extents.java:191-223``);
- UCUM length conversion ladder (``GmlUtils.java:220-240``);
- haversine distance (spherical) as pure Column math — the cheap
  prefilter for DWITHIN before the exact geodesic refine, which is the
  one Python UDF here (:func:`vincenty_m_udf`, Arrow batches).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

RES_SHIFT = 58

# ---------------------------------------------------------------------------
# WKT POINT decode (hot path: regexp in JVM, no Python)
# ---------------------------------------------------------------------------

_POINT_RE = r"POINT\s*\(\s*([-+0-9.eE]+)\s+([-+0-9.eE]+)\s*\)"


# try_cast: text that is not a WKT POINT extracts "" (or a non-number),
# which must decode to null rather than fail the job under ANSI mode
def wkt_point_lon(wkt: Column) -> Column:
    return F.regexp_extract(wkt, _POINT_RE, 1).try_cast("double")


def wkt_point_lat(wkt: Column) -> Column:
    return F.regexp_extract(wkt, _POINT_RE, 2).try_cast("double")


# ---------------------------------------------------------------------------
# Z-order cell id — Column mirror of cells.cell_of
# ---------------------------------------------------------------------------


def _spread_bits(c: Column) -> Column:
    """Interleave-spread the low 29 bits of a long into even positions."""
    c = c.bitwiseOR(F.shiftleft(c, 16)).bitwiseAND(F.lit(0x0000FFFF0000FFFF))
    c = c.bitwiseOR(F.shiftleft(c, 8)).bitwiseAND(F.lit(0x00FF00FF00FF00FF))
    c = c.bitwiseOR(F.shiftleft(c, 4)).bitwiseAND(F.lit(0x0F0F0F0F0F0F0F0F))
    c = c.bitwiseOR(F.shiftleft(c, 2)).bitwiseAND(F.lit(0x3333333333333333))
    c = c.bitwiseOR(F.shiftleft(c, 1)).bitwiseAND(F.lit(0x5555555555555555))
    return c


def cell_id_col(lon: Column, lat: Column, res: int) -> Column:
    """Cell id at ``res`` as a pure Column expression (codegen'd JVM math).

    Bit-identical to :func:`geomatics_geotk_spark.cells.cell_of` for
    non-null input.  A null lon or lat gives the sentinel ``-1``, which is
    no cell (every cell id is non-negative), so a doc without a point
    joins no zone; unguarded, the clamp's ``greatest``/``least`` would
    skip the null and put a missing point in the real corner cell of
    (-180, -90).  The result is never null, so an equi-join on it infers
    no ``isnotnull`` filter.
    """
    nx = F.lit(1 << (res + 1))
    ny = F.lit(1 << res)
    xi = F.least(
        F.greatest(F.floor((lon + F.lit(180.0)) / F.lit(360.0) * nx), F.lit(0)),
        nx - F.lit(1),
    ).cast("long")
    yi = F.least(
        F.greatest(F.floor((lat + F.lit(90.0)) / F.lit(180.0) * ny), F.lit(0)),
        ny - F.lit(1),
    ).cast("long")
    morton = _spread_bits(xi).bitwiseOR(F.shiftleft(_spread_bits(yi), 1))
    # The range tests always hold after the clamp.  They put xi and yi
    # twice into the CASE condition, which is always evaluated, so
    # subexpression elimination computes them once and the branch reuses
    # them; without that, the branch inlines each 32 times and the
    # generated method is too large to JIT (over 100x slower).
    known = (
        lon.isNotNull() & lat.isNotNull()
        & (xi >= 0) & (xi < nx) & (yi >= 0) & (yi < ny)
    )
    cell = F.lit(res << RES_SHIFT).bitwiseOR(morton)
    return F.when(known, cell).otherwise(F.lit(-1).cast("long")).alias("cell_id")


# ---------------------------------------------------------------------------
# Point-in-polygon as pure Column math
# ---------------------------------------------------------------------------


def _crossing(lon: Column, lat: Column, px: Column, py: Column, cy: Column,
              dx: Column, dy: Column) -> Column:
    """Does the ray x < lon at lat cross edge p→c (``dx``, ``dy`` = c - p)?
    The division stays under ``And``, evaluated only when the edge spans
    lat, so it never divides by zero (ANSI raises on a double division by
    zero)."""
    cond = (py > lat) != (cy > lat)
    return cond & (lon < dx * (lat - py) / dy + px)


def _ring_crossings(lon: Column, lat: Column, ring: Column) -> Column:
    """Crossing-number count of the ray x < lon against a closed ring
    (array<struct<x,y>>, first point repeated last).

    Bit-for-bit the same half-open edge rule as
    kernels.geometry.points_in_ring: ``(yi > y) != (yj > y)`` and strict
    ``x < xcross``.  Degenerate (yi == yj) edges contribute nothing: the
    cond is false.  Under ANSI mode (on by default) a double division by
    zero raises ``DIVIDE_BY_ZERO``; only ``And``'s short-circuit keeps a
    horizontal edge's division from running.
    """

    def edge(i: Column) -> Column:
        p = F.element_at(ring, (i - 1).cast("int"))
        c = F.element_at(ring, i.cast("int"))
        return _crossing(lon, lat, p["x"], p["y"], c["y"], c["x"] - p["x"], c["y"] - p["y"])

    # guard: rings with < 2 points (e.g. empty rings on full-cell rows)
    # would make sequence(2, size) descend to [2, 1, 0] and element_at(0)
    # throw — the result must be a safe 0 regardless of caller short-circuit
    return F.when(
        F.size(ring) >= 2,
        F.size(F.filter(F.sequence(F.lit(2), F.size(ring)), edge)),
    ).otherwise(F.lit(0))


def point_in_polygon_col(lon: Column, lat: Column, exterior: Column,
                         interiors: Column) -> Column:
    """Even-odd point-in-polygon (with holes) over whole rings as a
    Column expression — the corner test of the zonal join's envelope
    refine, the spatial join's refine for zone sides with many edge slots
    per cell, and the reference for :func:`edge_slots_pip_col`.  Its lambdas
    run interpreted (CodegenFallback), but no row crosses into Python;
    the numpy kernel (kernels.geometry.points_in_polygon) is the same
    algorithm for Arrow-batch contexts."""
    inside_ext = F.pmod(_ring_crossings(lon, lat, exterior), F.lit(2)) == 1
    in_hole = F.exists(
        interiors, lambda h: F.pmod(_ring_crossings(lon, lat, h), F.lit(2)) == 1
    )
    return inside_ext & ~F.coalesce(in_hole, F.lit(False))


def edge_slot_cols(edges: Column, k: int) -> list[list[Column]]:
    """The first ``k`` slots of ``edges`` as the Columns
    :func:`edge_slots_pip_col` reads, per slot [py, cy, px, dx, dy, step].

    ``edges`` is a zone-cell row's array<struct<px,py,cx,cy,last>>: the
    ring edges p→c, in ring order, that can cross the ray x < lon for a
    point in the cell (``operators.spatial_join._band_edges``), ``last``
    marking the last slot of each ring.  ``dx``, ``dy`` are c - p, the
    same doubles the full-ring test computes; ``step`` is 4 on a ring's
    last slot, else 0.  No column is null: a slot past the row's own
    count is padding with NaN y-values, which no latitude lies between,
    so it crosses nothing and ends no ring.
    """
    nan = F.lit(float("nan"))
    out = []
    for i in range(k):
        e = F.get(edges, i)
        out.append([
            F.coalesce(e["py"], nan), F.coalesce(e["cy"], nan), F.coalesce(e["px"], nan),
            F.coalesce(e["cx"] - e["px"], nan), F.coalesce(e["cy"] - e["py"], nan),
            F.when(e["last"], 4).otherwise(0),
        ])
    return out


def edge_slots_pip_col(lon: Column, lat: Column, slots: list[list[Column]]) -> Column:
    """Even-odd point-in-polygon over a cell's edge slots
    (:func:`edge_slot_cols`) — the spatial join's refine, one lambda-free
    expression that whole-stage codegen compiles.  Each slot runs the
    same crossing test with the same operands as
    :func:`point_in_polygon_col`, and the answer is the same: inside the
    exterior and in no hole.

    Walking the slots, the running crossing parity must be odd at the end
    of every ring: the exterior's count odd, then each hole adding an even
    count.  The state carries that parity in bit 0 and, in bit 1, whether
    some ring has ended on an even parity; each step is one lookup that
    reads the previous state once, so the expression grows linearly in
    the slot count.
    """
    # indexed by (state XOR crossed) + step: on a ring's last slot (step
    # 4) an even parity sets bit 1, which no later crossing clears
    table = F.array(*map(F.lit, (0, 1, 2, 3, 2, 1, 2, 3)))
    state = F.lit(0)
    for py, cy, px, dx, dy, step in slots:
        crossed = _crossing(lon, lat, px, py, cy, dx, dy).cast("int")
        state = F.get(table, state.bitwiseXOR(crossed) + step)
    return state == 1


def _seg_box_intersects(p: Column, c: Column, x0: Column, y0: Column,
                        x1: Column, y1: Column) -> Column:
    """Segment (p→c) ∩ axis box ≠ ∅ — vectorized slab clipping as Column
    math (the JVM mirror of operators.spatial_join._segs_hit_boxes)."""
    inf = F.lit(float("inf"))
    dx, dy = c["x"] - p["x"], c["y"] - p["y"]

    def slab(pos, d, lo, hi):
        t_a = (lo - pos) / d
        t_b = (hi - pos) / d
        inside = (pos >= lo) & (pos <= hi)
        tmin = F.when(d == 0, F.when(inside, -inf).otherwise(inf)).otherwise(
            F.least(t_a, t_b)
        )
        tmax = F.when(d == 0, F.when(inside, inf).otherwise(-inf)).otherwise(
            F.greatest(t_a, t_b)
        )
        return tmin, tmax

    txmin, txmax = slab(p["x"], dx, x0, x1)
    tymin, tymax = slab(p["y"], dy, y0, y1)
    tmin = F.greatest(txmin, tymin, F.lit(0.0))
    tmax = F.least(txmax, tymax, F.lit(1.0))
    return tmin <= tmax


def _ring_hits_box(ring: Column, x0, y0, x1, y1) -> Column:
    # same < 2-point guard as _ring_crossings: never build a descending
    # sequence over a degenerate ring
    return F.when(
        F.size(ring) >= 2,
        F.exists(
            F.sequence(F.lit(2), F.size(ring)),
            lambda i: _seg_box_intersects(
                F.element_at(ring, (i - 1).cast("int")),
                F.element_at(ring, i.cast("int")),
                x0, y0, x1, y1,
            ),
        ),
    ).otherwise(F.lit(False))


def envelope_intersects_polygon_col(x0, y0, x1, y1, exterior: Column,
                                    interiors: Column) -> Column:
    """Envelope ∩ polygon ≠ ∅ as pure Column math.

    Same decision as kernels.geometry.polygons_intersect(env_ring, rings):
    any box corner inside the polygon (box ⊆ zone), or any ring edge
    meeting the box (all boundary interactions and zone ⊆ box — an edge
    wholly inside the box still hits the slab test).
    """
    corner_in = F.lit(False)
    for cx, cy in ((x0, y0), (x1, y0), (x1, y1), (x0, y1)):
        corner_in = corner_in | point_in_polygon_col(cx, cy, exterior, interiors)
    edge_hit = _ring_hits_box(exterior, x0, y0, x1, y1) | F.coalesce(
        F.exists(interiors, lambda h: _ring_hits_box(h, x0, y0, x1, y1)),
        F.lit(False),
    )
    return corner_in | edge_hit


def covering_cells_col(xmin: Column, ymin: Column, xmax: Column, ymax: Column,
                       res: int) -> Column:
    """array<long> of cell ids covering an envelope — Column mirror of
    cells.cells_covering (flatten of the xi × yi index grid)."""
    nx, ny = 1 << (res + 1), 1 << res

    def clamp(v, n):
        return F.least(F.greatest(v, F.lit(0)), F.lit(n - 1)).cast("long")

    xi0 = clamp(F.floor((xmin + F.lit(180.0)) / F.lit(360.0) * F.lit(nx)), nx)
    xi1 = clamp(F.floor((xmax + F.lit(180.0)) / F.lit(360.0) * F.lit(nx)), nx)
    yi0 = clamp(F.floor((ymin + F.lit(90.0)) / F.lit(180.0) * F.lit(ny)), ny)
    yi1 = clamp(F.floor((ymax + F.lit(90.0)) / F.lit(180.0) * F.lit(ny)), ny)
    return F.flatten(
        F.transform(
            F.sequence(xi0, xi1),
            lambda xi: F.transform(
                F.sequence(yi0, yi1),
                lambda yi: F.lit(res << RES_SHIFT)
                .bitwiseOR(_spread_bits(xi))
                .bitwiseOR(F.shiftleft(_spread_bits(yi), 1)),
            ),
        )
    )


def disk_cells_col(lon: Column, lat: Column, res: int, k: int) -> Column:
    """array<long> of cells within Chebyshev distance ``k`` of the point's
    cell — the Column mirror of ``cells.disk(cells.cell_of(lon,lat), k)``.

    Longitude wraps (pmod), latitude clamps (out-of-range rows filtered).
    This is what lets a 10^7-row poi/query side expand into its join-cell
    disk fully distributed — no driver-side loop over collect() — for
    DWITHIN / kNN joins.
    """
    nx, ny = 1 << (res + 1), 1 << res
    xi = F.least(
        F.greatest(F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(nx)), F.lit(0)),
        F.lit(nx - 1),
    ).cast("long")
    yi = F.least(
        F.greatest(F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(ny)), F.lit(0)),
        F.lit(ny - 1),
    ).cast("long")
    offsets = F.flatten(
        F.transform(
            F.sequence(F.lit(-k), F.lit(k)),
            lambda dx: F.transform(
                F.sequence(F.lit(-k), F.lit(k)),
                lambda dy: F.struct(dx.alias("dx"), dy.alias("dy")),
            ),
        )
    )
    in_lat = F.filter(
        offsets, lambda o: ((yi + o["dy"]) >= 0) & ((yi + o["dy"]) < ny)
    )
    return F.array_distinct(
        F.transform(
            in_lat,
            lambda o: F.lit(res << RES_SHIFT)
            .bitwiseOR(_spread_bits(F.pmod(xi + o["dx"], F.lit(nx))))
            .bitwiseOR(F.shiftleft(_spread_bits(yi + o["dy"]), 1)),
        )
    )


# ---------------------------------------------------------------------------
# Antipode — Extents.java:421-431
# ---------------------------------------------------------------------------


def antipode_lat(lat: Column) -> Column:
    return -lat


def antipode_lon(lon: Column) -> Column:
    return F.when(lon < 0, lon + F.lit(180.0)).otherwise(lon - F.lit(180.0))


# ---------------------------------------------------------------------------
# CRS id normalization — GeodesyUtils.java:222-271, as Column regexes
# ---------------------------------------------------------------------------


def abbreviated_crs_id_col(srs: Column) -> Column:
    """URN or http CRS reference → 'AUTHORITY:CODE' (CRS84 → 'CRS:84')."""
    urn_auth = F.regexp_extract(srs, r"^urn:ogc:def:crs:([^:]+):[^:]*:(.+)$", 1)
    urn_code = F.regexp_extract(srs, r"^urn:ogc:def:crs:([^:]+):[^:]*:(.+)$", 2)
    http_auth = F.regexp_extract(srs, r"^https?://www\.opengis\.net/def/crs/([^/]+)/[^/]*/(.+)$", 1)
    http_code = F.regexp_extract(srs, r"^https?://www\.opengis\.net/def/crs/([^/]+)/[^/]*/(.+)$", 2)
    auth = F.upper(F.when(urn_auth != "", urn_auth).otherwise(http_auth))
    code = F.when(urn_code != "", urn_code).otherwise(http_code)
    out = F.concat_ws(":", auth, code)
    return F.when((auth == "OGC") & F.upper(code).isin("CRS84", "84"), F.lit("CRS:84")).otherwise(out)


def srs_name_to_urn_col(srs: Column) -> Column:
    """http CRS URI → OGC URN (version '0'/empty dropped); URNs pass through."""
    auth = F.regexp_extract(srs, r"^https?://www\.opengis\.net/def/crs/([^/]+)/([^/]*)/(.+)$", 1)
    ver = F.regexp_extract(srs, r"^https?://www\.opengis\.net/def/crs/([^/]+)/([^/]*)/(.+)$", 2)
    code = F.regexp_extract(srs, r"^https?://www\.opengis\.net/def/crs/([^/]+)/([^/]*)/(.+)$", 3)
    ver = F.when(ver == "0", F.lit("")).otherwise(ver)
    built = F.concat(F.lit("urn:ogc:def:crs:"), auth, F.lit(":"), ver, F.lit(":"), code)
    return F.when(F.lower(srs).startswith("urn:"), srs).otherwise(built)


# ---------------------------------------------------------------------------
# Envelope serialization — Extents.java:364-382 (KVP), :191-223 (GML 2dp DOWN)
# ---------------------------------------------------------------------------


def envelope_to_kvp(xmin, ymin, xmax, ymax, crs: Column) -> Column:
    """'min1,min2,max1,max2[,crsURN]' — CRS84 omits the suffix.

    Ordinates are emitted in the CRS's native axis order by the caller
    (the reference stores lat,lon for EPSG:4326).
    """
    base = F.concat_ws(
        ",",
        xmin.cast("string"), ymin.cast("string"),
        xmax.cast("string"), ymax.cast("string"),
    )
    return F.when(
        crs.isin("CRS:84", "urn:ogc:def:crs:OGC:1.3:CRS84", ""), base
    ).otherwise(F.concat_ws(",", base, crs))


def round_down_2dp(x: Column) -> Column:
    """RoundingMode.DOWN to 2 decimals (Extents.java:205) — toward zero,
    which is NOT Spark's bankers/half-up ``round``: floor for positives,
    ceil for negatives."""
    scaled = x * F.lit(100.0)
    return F.when(x >= 0, F.floor(scaled)).otherwise(F.ceil(scaled)) / F.lit(100.0)


# ---------------------------------------------------------------------------
# UCUM length conversion — GmlUtils.java:220-240
# ---------------------------------------------------------------------------


def min_curve_segment_length_col(seg_type: Column) -> Column:
    """Minimum direct positions per GML curve-segment type
    (``GmlUtils.java:267-277``): *ByCenterPoint ⇒ 1, ArcString/Arc/
    Circle ⇒ 3, else 2 — the validation predicate as Column math."""
    return (
        F.when(seg_type.endswith("ByCenterPoint"), F.lit(1))
        .when(seg_type.isin("ArcString", "Arc", "Circle"), F.lit(3))
        .otherwise(F.lit(2))
    )


def length_in_meters_col(value: Column, uom: Column) -> Column:
    sym = F.when(uom.contains("#"), F.substring_index(uom, "#", -1)).otherwise(uom)
    factor = (
        F.when(sym == "m", F.lit(1.0))
        .when(sym == "km", F.lit(1000.0))
        .when(sym == "mi", F.lit(1609.34))
        .when(sym.isin("M", "NM", "[nmi_i]"), F.lit(1852.0))
    )
    return value * factor


# ---------------------------------------------------------------------------
# Haversine (spherical) distance — Column math, DWITHIN prefilter
# ---------------------------------------------------------------------------


def haversine_m(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    rad = F.lit(0.017453292519943295)
    dlat = (lat2 - lat1) * rad / 2
    dlon = (lon2 - lon1) * rad / 2
    h = F.sin(dlat) ** 2 + F.cos(lat1 * rad) * F.cos(lat2 * rad) * F.sin(dlon) ** 2
    return F.lit(2.0 * 6371008.8) * F.asin(F.sqrt(F.least(h, F.lit(1.0))))


def vincenty_m_udf():
    """A pandas UDF (lat1, lon1, lat2, lon2) → WGS84 Vincenty metres, new
    per call: a UDF caches its JVM twin, which a restarted SparkContext no
    longer knows.  Callers add ``.asNondeterministic()`` (a single-eval
    barrier) where the distance feeds more than one consumer."""
    from ..kernels import geodesic

    @F.pandas_udf("double")
    def geo_dist(lat1: pd.Series, lon1: pd.Series, lat2: pd.Series, lon2: pd.Series) -> pd.Series:
        return pd.Series(
            geodesic.inverse(lat1.to_numpy(), lon1.to_numpy(), lat2.to_numpy(), lon2.to_numpy())
        )

    return geo_dist


# ---------------------------------------------------------------------------
# Temporal relation Column builders — TemporalUtils.java:36-66 as SQL
# (instant = row with end IS NULL ⇒ treated as begin==end)
# ---------------------------------------------------------------------------


def _norm_end(b: Column, e: Column) -> Column:
    return F.coalesce(e, b)


def temporal_relation(rel: str, b1: Column, e1: Column, b2: Column, e2: Column) -> Column:
    """Boolean Column: does (b1,e1) stand in ``rel`` to (b2,e2)?

    Mirrors kernels.temporal.relation_mask exactly (ISO 19108 /
    TemporalUtils.java:57-66); usable directly as a join condition.
    """
    e1 = _norm_end(b1, e1)
    e2 = _norm_end(b2, e2)
    exprs = {
        "Before": e1 < b2,
        "After": b1 > e2,
        "Meets": e1 == b2,
        "MetBy": b1 == e2,
        "Begins": (b1 == b2) & (e1 < e2),
        "BegunBy": (b1 == b2) & (e1 > e2),
        "Ends": (e1 == e2) & (b1 > b2),
        "EndedBy": (e1 == e2) & (b1 < b2),
        "During": (b1 > b2) & (e1 < e2),
        "Contains": (b1 < b2) & (e1 > e2),
        "Equals": (b1 == b2) & (e1 == e2),
        "Overlaps": (b1 < b2) & (e1 > b2) & (e1 < e2),
        "OverlappedBy": (b1 > b2) & (b1 < e2) & (e1 > e2),
    }
    try:
        return exprs[rel]
    except KeyError as exc:
        raise ValueError(f"Unknown temporal relation: {rel}") from exc


_GEOHASH32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash_col(lon: Column, lat: Column, precision: int = 6) -> Column:
    """Base-32 geohash of a point — the interop cell index (the engine's
    native grid is the Z-order ``cell_id_col``; geohash is the same
    bit-interleave with the industry alphabet, emitted for systems that
    key on it).  Pure integer Column math: normalized coordinates are
    quantized once (floor to ceil/floor(5p/2) bits), the interleave and
    the 5-bit char extraction are shift/mask expressions unrolled at
    plan-build time — whole-stage-codegen friendly, no UDF, and exactly
    SQL-mirrorable (both engines do identical integer ops on identical
    doubles; no trig anywhere)."""
    if not 1 <= precision <= 12:
        raise ValueError(f"geohash precision must be in [1,12], got {precision}")
    nbits = 5 * precision
    lon_bits = (nbits + 1) // 2
    lat_bits = nbits // 2
    xi = F.least(
        F.greatest(F.floor((lon + F.lit(180.0)) / F.lit(360.0)
                           * F.lit(float(1 << lon_bits))), F.lit(0)),
        F.lit((1 << lon_bits) - 1),
    ).cast("long")
    yi = F.least(
        F.greatest(F.floor((lat + F.lit(90.0)) / F.lit(180.0)
                           * F.lit(float(1 << lat_bits))), F.lit(0)),
        F.lit((1 << lat_bits) - 1),
    ).cast("long")
    # interleave MSB-first, lon first: bit k of the geohash integer
    g = F.lit(0).cast("long")
    for k in range(nbits):
        if k % 2 == 0:  # lon bit
            j = k // 2
            bit = F.shiftright(xi, lon_bits - 1 - j).bitwiseAND(F.lit(1))
        else:           # lat bit
            j = k // 2
            bit = F.shiftright(yi, lat_bits - 1 - j).bitwiseAND(F.lit(1))
        g = g + F.shiftleft(bit.cast("long"), nbits - 1 - k)
    parts = []
    for c in range(precision):
        v = F.shiftright(g, 5 * (precision - 1 - c)).bitwiseAND(F.lit(31))
        parts.append(F.element_at(
            F.split(F.lit("|".join(_GEOHASH32)), r"\|"), v.cast("int") + 1
        ))
    return F.concat(*parts)
