"""Planar geometry kernels (pure numpy) — the engine's DE-9IM/distance core.

Re-expresses the reference's per-pair JTS predicate calls
(``TopologicalRelationships.java:57-96``) and coordinate-list machinery
(``CurveCoordinateListFactory`` / ``SurfaceCoordinateListFactory`` /
``GeodesyUtils.removeConsecutiveDuplicates``) as set-at-a-time numpy
functions.  No shapely/JTS in the container, so the predicates are
implemented directly:

- point-in-polygon: vectorized crossing-number (ray cast), the same edge
  rule the engine's DuckDB oracle SQL uses, so join row sets match exactly;
- segment intersection tests for line/line and line/polygon;
- envelope (MBR) folds — associative+commutative, so Spark's partial
  aggregation reproduces the reference's sequential fold
  (``Extents.java:73-120``) exactly;
- consecutive-duplicate removal with the reference's ppm *ratio* rule and
  last-point ring-closure special case (``GeodesyUtils.java:283-304``);
- arc/circle densification to TOTAL_ARC_POINTS=5 via the geodesic direct
  kernel (``GmlUtils.java:98-128``, const at ``:71``);
- Andrew monotone-chain convex hull (``GmlUtils.java:138-143``).

A geometry here is ``(kind, rings)`` where ``rings`` is a list of (n,2)
float64 arrays (x=lon/easting, y=lat/northing): POINT one 1-row ring;
LINESTRING one polyline; POLYGON ring[0]=exterior + holes; MULTI* handled
by the operator layer as exploded parts.
"""

from __future__ import annotations

import re

import numpy as np

from . import geodesic

TOTAL_ARC_POINTS = 5  # GmlUtils.java:71

# ---------------------------------------------------------------------------
# WKT parsing (batch; regex split per geometry — only used off the hot path:
# the hot path parses POINT wkt via Spark JVM regexp, see functions/__init__)
# ---------------------------------------------------------------------------

_WKT_HEAD = re.compile(r"^\s*([A-Za-z]+)\s*(?:Z|M|ZM)?\s*(EMPTY|\(.*\))\s*$", re.DOTALL)
_NUM = re.compile(r"[-+]?\d*\.?\d+(?:[eE][-+]?\d+)?")


def _coords(text: str) -> np.ndarray:
    vals = np.array([float(v) for v in _NUM.findall(text)], dtype=np.float64)
    return vals.reshape(-1, 2)


def parse_wkt(wkt: str):
    """Parse a WKT string → (kind, parts).

    kind ∈ {point, linestring, polygon, multipoint, multilinestring,
    multipolygon}.  parts: for point/linestring a list with one (n,2)
    array; polygon a list of rings; multi* a list of sub-part lists.
    """
    m = _WKT_HEAD.match(wkt)
    if not m:
        raise ValueError(f"Bad WKT: {wkt[:80]!r}")
    kind = m.group(1).lower()
    body = m.group(2)
    if body == "EMPTY":
        return kind, []
    if kind == "point":
        return kind, [_coords(body)]
    if kind == "linestring":
        return kind, [_coords(body)]
    if kind == "polygon":
        rings = [_coords(r) for r in re.findall(r"\(([^()]*)\)", body)]
        return kind, rings
    if kind == "multipoint":
        return kind, [[_coords(body)]]
    if kind == "multilinestring":
        return kind, [[_coords(r)] for r in re.findall(r"\(([^()]*)\)", body)]
    if kind == "multipolygon":
        parts = []
        for poly in re.findall(r"\(\s*(\([^()]*\)(?:\s*,\s*\([^()]*\))*)\s*\)", body):
            rings = [_coords(r) for r in re.findall(r"\(([^()]*)\)", poly)]
            parts.append(rings)
        return kind, parts
    raise ValueError(f"Unsupported WKT kind: {kind}")


def to_wkt(kind: str, parts) -> str:
    def ring_str(r):
        return ", ".join(f"{x:.10g} {y:.10g}" for x, y in r)

    k = kind.lower()
    if k == "point":
        (r,) = parts
        return f"POINT ({ring_str(r)})"
    if k == "linestring":
        (r,) = parts
        return f"LINESTRING ({ring_str(r)})"
    if k == "polygon":
        return "POLYGON (" + ", ".join(f"({ring_str(r)})" for r in parts) + ")"
    raise ValueError(f"Unsupported kind for to_wkt: {kind}")


# ---------------------------------------------------------------------------
# Envelopes
# ---------------------------------------------------------------------------


def envelope_of(parts) -> tuple[float, float, float, float]:
    """(xmin, ymin, xmax, ymax) of a geometry's coordinate arrays."""
    arrs = []
    for p in parts:
        if isinstance(p, list):
            arrs.extend(p)
        else:
            arrs.append(p)
    allc = np.vstack(arrs)
    return (
        float(allc[:, 0].min()),
        float(allc[:, 1].min()),
        float(allc[:, 0].max()),
        float(allc[:, 1].max()),
    )


def envelopes_intersect(a, b) -> bool:
    """BBOX predicate — interval overlap per dimension.

    Reference: ``SpatialAssert.assertIntersects`` (SpatialAssert.java:39-67).
    """
    return a[0] <= b[2] and a[2] >= b[0] and a[1] <= b[3] and a[3] >= b[1]


def antipode(lat, lon):
    """(φ, θ) → (−φ, θ±180).  Reference: ``Extents.java:421-431``."""
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    return -lat, np.where(lon < 0, lon + 180.0, lon - 180.0)


# ---------------------------------------------------------------------------
# Point-in-polygon (vectorized crossing number over many points × one ring)
# ---------------------------------------------------------------------------


def points_in_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Crossing-number (even-odd) test: True where (px,py) strictly inside.

    Edge rule: half-open in y — ``(yi > y) != (yj > y)`` with strict
    ``x <`` crossing test; identical to the SQL the oracle runs, so
    Spark and DuckDB row sets agree bit-for-bit on non-degenerate input.
    Loops over edges (small m), vectorized over points (large n).
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    inside = np.zeros(px.shape, dtype=bool)
    xs, ys = ring[:, 0], ring[:, 1]
    n = len(ring)
    j = n - 1
    for i in range(n):
        xi, yi, xj, yj = xs[i], ys[i], xs[j], ys[j]
        cond = (yi > py) != (yj > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xcross = (xj - xi) * (py - yi) / (yj - yi) + xi
        inside ^= cond & (px < xcross)
        j = i
    return inside


def points_in_polygon(px, py, rings) -> np.ndarray:
    """Even-odd inside test honoring interior rings (holes)."""
    inside = points_in_ring(px, py, rings[0])
    for hole in rings[1:]:
        inside &= ~points_in_ring(px, py, hole)
    return inside


def points_on_ring(px, py, ring, eps=1e-12) -> np.ndarray:
    """True where a point lies on a ring/polyline segment (within eps)."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    on = np.zeros(px.shape, dtype=bool)
    for i in range(len(ring) - 1):
        x1, y1 = ring[i]
        x2, y2 = ring[i + 1]
        dx, dy = x2 - x1, y2 - y1
        cross = (px - x1) * dy - (py - y1) * dx
        seg2 = dx * dx + dy * dy
        if seg2 == 0.0:
            on |= (np.abs(px - x1) <= eps) & (np.abs(py - y1) <= eps)
            continue
        t = ((px - x1) * dx + (py - y1) * dy) / seg2
        on |= (np.abs(cross) <= eps * np.sqrt(seg2)) & (t >= -eps) & (t <= 1 + eps)
    return on


# ---------------------------------------------------------------------------
# Segment intersection (for line/line, line/polygon predicates)
# ---------------------------------------------------------------------------


def _orient(ax, ay, bx, by, cx, cy):
    return (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)


def segments_intersect_any(a: np.ndarray, b: np.ndarray) -> bool:
    """True if any segment of polyline ``a`` intersects any of ``b``.

    Vectorized all-pairs orientation test (proper + collinear-touch).
    """
    if len(a) < 2 or len(b) < 2:
        return False
    a1, a2 = a[:-1], a[1:]
    b1, b2 = b[:-1], b[1:]
    ax1, ay1 = a1[:, 0][:, None], a1[:, 1][:, None]
    ax2, ay2 = a2[:, 0][:, None], a2[:, 1][:, None]
    bx1, by1 = b1[:, 0][None, :], b1[:, 1][None, :]
    bx2, by2 = b2[:, 0][None, :], b2[:, 1][None, :]

    d1 = _orient(ax1, ay1, ax2, ay2, bx1, by1)
    d2 = _orient(ax1, ay1, ax2, ay2, bx2, by2)
    d3 = _orient(bx1, by1, bx2, by2, ax1, ay1)
    d4 = _orient(bx1, by1, bx2, by2, ax2, ay2)

    proper = ((d1 * d2) < 0) & ((d3 * d4) < 0)
    if proper.any():
        return True

    def on_seg(px, py, qx, qy, rx, ry):
        return (
            (np.minimum(px, qx) <= rx) & (rx <= np.maximum(px, qx))
            & (np.minimum(py, qy) <= ry) & (ry <= np.maximum(py, qy))
        )

    touch = (
        ((d1 == 0) & on_seg(ax1, ay1, ax2, ay2, bx1, by1))
        | ((d2 == 0) & on_seg(ax1, ay1, ax2, ay2, bx2, by2))
        | ((d3 == 0) & on_seg(bx1, by1, bx2, by2, ax1, ay1))
        | ((d4 == 0) & on_seg(bx1, by1, bx2, by2, ax2, ay2))
    )
    return bool(touch.any())


def line_intersects_polygon(line: np.ndarray, rings) -> bool:
    """Line ∩ polygon ≠ ∅: any vertex inside, or any edge crossing."""
    inside = points_in_polygon(line[:, 0], line[:, 1], rings)
    if inside.any():
        return True
    for ring in rings:
        if segments_intersect_any(line, ring):
            return True
    return False


def polygons_intersect(rings_a, rings_b) -> bool:
    ea, eb = envelope_of(rings_a), envelope_of(rings_b)
    if not envelopes_intersect(ea, eb):
        return False
    if points_in_polygon(rings_a[0][:, 0], rings_a[0][:, 1], rings_b).any():
        return True
    if points_in_polygon(rings_b[0][:, 0], rings_b[0][:, 1], rings_a).any():
        return True
    for ra in rings_a:
        for rb in rings_b:
            if segments_intersect_any(ra, rb):
                return True
    return False


# ---------------------------------------------------------------------------
# Generic pairwise predicates on (kind, parts) geometries — used by the
# spatial-join refine UDF for non-point candidates and by kernel tests.
# Semantics: TopologicalRelationships.java:57-96 (JTS DE-9IM calls).
# ---------------------------------------------------------------------------


def _as_parts_list(kind, parts):
    """Normalize to a list of (simple_kind, rings/coords) components."""
    k = kind.lower()
    if k.startswith("multi"):
        sub = k[5:]
        return [(sub, p if isinstance(p, list) else [p]) for p in parts]
    return [(k, parts)]


def _simple_intersects(ka, pa, kb, pb) -> bool:
    order = {"point": 0, "linestring": 1, "polygon": 2}
    if order[ka] > order[kb]:
        ka, pa, kb, pb = kb, pb, ka, pa
    if ka == "point":
        x, y = pa[0][0]
        if kb == "point":
            bx, by = pb[0][0]
            return x == bx and y == by
        if kb == "linestring":
            return bool(points_on_ring(np.array([x]), np.array([y]), pb[0])[0])
        return bool(
            points_in_polygon(np.array([x]), np.array([y]), pb)[0]
            or any(points_on_ring(np.array([x]), np.array([y]), r)[0] for r in pb)
        )
    if ka == "linestring":
        if kb == "linestring":
            return segments_intersect_any(pa[0], pb[0])
        return line_intersects_polygon(pa[0], pb)
    return polygons_intersect(pa, pb)


def intersects(kind_a, parts_a, kind_b, parts_b) -> bool:
    """DE-9IM INTERSECTS (¬disjoint).  Ref: TopologicalRelationships.java:68-69."""
    for ka, pa in _as_parts_list(kind_a, parts_a):
        for kb, pb in _as_parts_list(kind_b, parts_b):
            if _simple_intersects(ka, pa, kb, pb):
                return True
    return False


def disjoint(kind_a, parts_a, kind_b, parts_b) -> bool:
    """Ref: TopologicalRelationships.java:71-73 (¬intersects)."""
    return not intersects(kind_a, parts_a, kind_b, parts_b)


def within(kind_a, parts_a, kind_b, parts_b) -> bool:
    """g1 ⊆ g2.  Ref: TopologicalRelationships.java:77-79.

    Implemented for point/linestring within polygon and point within
    linestring — the combinations the reference tests exercise
    (``VerifyTopologicalRelationships.java:101-116``).
    """
    ka = kind_a.lower()
    for sk, sp in _as_parts_list(kind_a, parts_a):
        ok = False
        for kb, pb in _as_parts_list(kind_b, parts_b):
            if kb != "polygon":
                if sk == "point" and kb == "linestring":
                    x, y = sp[0][0]
                    ok = ok or bool(points_on_ring(np.array([x]), np.array([y]), pb[0])[0])
                continue
            if sk == "point":
                x, y = sp[0][0]
                ok = ok or bool(points_in_polygon(np.array([x]), np.array([y]), pb)[0])
            elif sk == "linestring":
                pts_in = points_in_polygon(sp[0][:, 0], sp[0][:, 1], pb)
                pts_on = np.zeros_like(pts_in)
                for r in pb:
                    pts_on |= points_on_ring(sp[0][:, 0], sp[0][:, 1], r)
                crosses_bounds = any(segments_intersect_any(sp[0], r) for r in pb)
                ok = ok or (bool(np.all(pts_in | pts_on)) and (pts_in.any() and not crosses_bounds or bool(np.all(pts_in))))
            elif sk == "polygon":
                verts = sp[0]
                pts_in = points_in_polygon(verts[:, 0], verts[:, 1], pb)
                no_cross = not any(
                    segments_intersect_any(ra, rb) for ra in sp for rb in pb
                )
                ok = ok or (bool(np.all(pts_in)) and no_cross)
        if not ok:
            return False
    return True


def contains(kind_a, parts_a, kind_b, parts_b) -> bool:
    """g1 ⊇ g2 = within swapped.  Ref: TopologicalRelationships.java:86-88."""
    return within(kind_b, parts_b, kind_a, parts_a)


def equals_topo(kind_a, parts_a, kind_b, parts_b) -> bool:
    """Topological equality via normalized coordinate-ring comparison.

    Ref: TopologicalRelationships.java:89-91 (JTS equalsTopo).  Rings are
    rotated to start at the lexicographically smallest vertex and compared
    in both orientations.
    """
    la = _as_parts_list(kind_a, parts_a)
    lb = _as_parts_list(kind_b, parts_b)
    if len(la) != len(lb):
        return False

    def norm_ring(r):
        r = np.asarray(r, dtype=np.float64)
        closed = len(r) > 1 and np.array_equal(r[0], r[-1])
        if closed:
            r = r[:-1]
            i = np.lexsort((r[:, 1], r[:, 0]))[0]
            fwd = np.roll(r, -i, axis=0)
            rev = np.roll(r[::-1], -np.lexsort((r[::-1][:, 1], r[::-1][:, 0]))[0], axis=0)
            return min(fwd.tobytes(), rev.tobytes())
        return min(r.tobytes(), r[::-1].tobytes())

    def norm_geom(k, parts):
        return (k, sorted(norm_ring(r) for r in parts))

    sa = sorted(norm_geom(k, p) for k, p in la)
    sb = sorted(norm_geom(k, p) for k, p in lb)
    return sa == sb


def touches(kind_a, parts_a, kind_b, parts_b) -> bool:
    """Boundaries meet, interiors don't.  Ref: TopologicalRelationships.java:74-76.

    Implemented for the point/line/polygon combinations the engine's join
    operators emit; conservative (exact for points and convex-cell use).
    """
    if not intersects(kind_a, parts_a, kind_b, parts_b):
        return False
    for ka, pa in _as_parts_list(kind_a, parts_a):
        for kb, pb in _as_parts_list(kind_b, parts_b):
            if not _simple_intersects(ka, pa, kb, pb):
                continue
            if ka == "point" and kb == "polygon":
                x, y = pa[0][0]
                if points_in_polygon(np.array([x]), np.array([y]), pb)[0] and not any(
                    points_on_ring(np.array([x]), np.array([y]), r)[0] for r in pb
                ):
                    return False
            elif ka == "polygon" and kb == "point":
                return touches(kb, pb, ka, pa)
            elif ka == "point" and kb == "linestring":
                x, y = pa[0][0]
                ends = pb[0][[0, -1]]
                if not ((ends == (x, y)).all(axis=1)).any():
                    return False
            elif ka == "linestring" and kb == "polygon":
                inside = points_in_polygon(pa[0][:, 0], pa[0][:, 1], pb)
                if inside.any():
                    return False
            elif ka == "polygon" and kb == "linestring":
                inside = points_in_polygon(pb[0][:, 0], pb[0][:, 1], pa)
                if inside.any():
                    return False
            elif ka == "polygon" and kb == "polygon":
                if points_in_polygon(pa[0][:, 0], pa[0][:, 1], pb).any():
                    return False
                if points_in_polygon(pb[0][:, 0], pb[0][:, 1], pa).any():
                    return False
            else:
                # line/line & point/point: interiors share a point unless
                # every common point is an endpoint — approximate via endpoints.
                if ka == "point" and kb == "point":
                    return False
    return True


def segments_cross_proper_any(a: np.ndarray, b: np.ndarray) -> bool:
    """True if any segment of polyline ``a`` PROPERLY crosses any of ``b``
    (both orientation products strictly negative — transversal crossing
    away from every endpoint).  A proper crossing of a polygon boundary
    edge implies the line passes strictly inside AND strictly outside."""
    if len(a) < 2 or len(b) < 2:
        return False
    a1, a2 = a[:-1], a[1:]
    b1, b2 = b[:-1], b[1:]
    ax1, ay1 = a1[:, 0][:, None], a1[:, 1][:, None]
    ax2, ay2 = a2[:, 0][:, None], a2[:, 1][:, None]
    bx1, by1 = b1[:, 0][None, :], b1[:, 1][None, :]
    bx2, by2 = b2[:, 0][None, :], b2[:, 1][None, :]
    d1 = _orient(ax1, ay1, ax2, ay2, bx1, by1)
    d2 = _orient(ax1, ay1, ax2, ay2, bx2, by2)
    d3 = _orient(bx1, by1, bx2, by2, ax1, ay1)
    d4 = _orient(bx1, by1, bx2, by2, ax2, ay2)
    return bool((((d1 * d2) < 0) & ((d3 * d4) < 0)).any())


def crosses(kind_a, parts_a, kind_b, parts_b) -> bool:
    """Interiors intersect in lower dimension.  Ref: :83-85.

    line×polygon (JTS Geometry.crosses semantics):
      inside-evidence  = any vertex strictly inside OR any segment
                         properly crossing a boundary edge;
      outside-evidence = any vertex strictly outside the closure (not
                         inside, not on the boundary) OR a proper edge
                         crossing (which passes both sides by definition).
      crosses ⟺ both.  This catches corner-clipping segments with both
      endpoints outside (ADVICE r2) and no longer misreports an
      interior-to-boundary line as crossing.  Remaining divergence from
      JTS (documented in COVERAGE.md): tangential entry exactly through a
      ring VERTEX and collinear-overlap entries are not counted as
      inside-evidence — measure-zero configurations on continuous data.
    line×line: proper crossing.
    """
    ka, kb = kind_a.lower(), kind_b.lower()
    if "linestring" in ka and "polygon" in kb:
        line = _as_parts_list(kind_a, parts_a)[0][1][0]
        inside = np.zeros(len(line), dtype=bool)
        on = np.zeros(len(line), dtype=bool)
        proper = False
        for _, pb in _as_parts_list(kind_b, parts_b):
            inside |= points_in_polygon(line[:, 0], line[:, 1], pb)
            for r in pb:
                on |= points_on_ring(line[:, 0], line[:, 1], r)
                proper = proper or segments_cross_proper_any(line, r)
        ins = bool(inside.any()) or proper
        outs = bool((~inside & ~on).any()) or proper
        return ins and outs
    if "polygon" in ka and "linestring" in kb:
        return crosses(kind_b, parts_b, kind_a, parts_a)
    if "linestring" in ka and "linestring" in kb:
        a = _as_parts_list(kind_a, parts_a)[0][1][0]
        b = _as_parts_list(kind_b, parts_b)[0][1][0]
        a1, a2 = a[:-1], a[1:]
        for i in range(len(b) - 1):
            d1 = _orient(a1[:, 0], a1[:, 1], a2[:, 0], a2[:, 1], b[i, 0], b[i, 1])
            d2 = _orient(a1[:, 0], a1[:, 1], a2[:, 0], a2[:, 1], b[i + 1, 0], b[i + 1, 1])
            d3 = _orient(b[i, 0], b[i, 1], b[i + 1, 0], b[i + 1, 1], a1[:, 0], a1[:, 1])
            d4 = _orient(b[i, 0], b[i, 1], b[i + 1, 0], b[i + 1, 1], a2[:, 0], a2[:, 1])
            if (((d1 * d2) < 0) & ((d3 * d4) < 0)).any():
                return True
        return False
    return False


def overlaps(kind_a, parts_a, kind_b, parts_b) -> bool:
    """Interiors overlap, neither contains the other, same dimension.  Ref: :80-82."""
    if not intersects(kind_a, parts_a, kind_b, parts_b):
        return False
    if within(kind_a, parts_a, kind_b, parts_b) or within(kind_b, parts_b, kind_a, parts_a):
        return False
    dim = {"point": 0, "linestring": 1, "polygon": 2}
    da = max(dim[k] for k, _ in _as_parts_list(kind_a, parts_a))
    db = max(dim[k] for k, _ in _as_parts_list(kind_b, parts_b))
    if da != db:
        return False
    if da == 2:
        for _, pa in _as_parts_list(kind_a, parts_a):
            for _, pb in _as_parts_list(kind_b, parts_b):
                if points_in_polygon(pa[0][:, 0], pa[0][:, 1], pb).any():
                    return True
                if points_in_polygon(pb[0][:, 0], pb[0][:, 1], pa).any():
                    return True
                if any(segments_intersect_any(ra, rb) for ra in pa for rb in pb):
                    return True
        return False
    return True


# ---------------------------------------------------------------------------
# Nearest points / distance (DWithin support)
# ---------------------------------------------------------------------------


def _nearest_on_segments(px, py, seg_a, seg_b):
    """For each point (px,py) (vectorized) vs segments seg_a→seg_b (k,2):
    return (min_dist2, qx, qy) nearest witness over all segments."""
    best = np.full(np.shape(px), np.inf)
    bqx = np.zeros(np.shape(px))
    bqy = np.zeros(np.shape(px))
    for i in range(len(seg_a)):
        x1, y1 = seg_a[i]
        x2, y2 = seg_b[i]
        dx, dy = x2 - x1, y2 - y1
        seg2 = dx * dx + dy * dy
        if seg2 == 0.0:
            t = np.zeros(np.shape(px))
        else:
            t = np.clip(((px - x1) * dx + (py - y1) * dy) / seg2, 0.0, 1.0)
        qx, qy = x1 + t * dx, y1 + t * dy
        d2 = (px - qx) ** 2 + (py - qy) ** 2
        m = d2 < best
        best = np.where(m, d2, best)
        bqx = np.where(m, qx, bqx)
        bqy = np.where(m, qy, bqy)
    return best, bqx, bqy


def nearest_points(a: np.ndarray, b: np.ndarray):
    """Planar nearest point pair between polylines/rings a (n,2) and b (m,2).

    JTS ``DistanceOp.nearestPoints`` semantics as used by the reference's
    DWithin/Beyond (``TopologicalRelationships.java:149-196``): the minimum
    planar distance between two non-intersecting geometries is attained at
    a vertex of one against a segment of the other.  Returns
    ``((ax, ay), (bx, by))`` witness points in the common (harmonized) CRS.
    """
    a = np.asarray(a, dtype=np.float64).reshape(-1, 2)
    b = np.asarray(b, dtype=np.float64).reshape(-1, 2)
    if len(a) > 1 and len(b) > 1 and segments_intersect_any(a, b):
        # touching/crossing geometries: distance 0 at any intersection —
        # find one via brute pair scan (small inputs on this path)
        for i in range(len(a) - 1):
            for j in range(len(b) - 1):
                if segments_intersect_any(a[i:i + 2], b[j:j + 2]):
                    p = _segment_intersection_point(a[i], a[i + 1], b[j], b[j + 1])
                    return (p, p)
    sb1 = b[:-1] if len(b) > 1 else b
    sb2 = b[1:] if len(b) > 1 else b
    d2a, qxa, qya = _nearest_on_segments(a[:, 0], a[:, 1], sb1, sb2)
    ia = int(np.argmin(d2a))
    best = (d2a[ia], (a[ia, 0], a[ia, 1]), (qxa[ia], qya[ia]))
    sa1 = a[:-1] if len(a) > 1 else a
    sa2 = a[1:] if len(a) > 1 else a
    d2b, qxb, qyb = _nearest_on_segments(b[:, 0], b[:, 1], sa1, sa2)
    ib = int(np.argmin(d2b))
    if d2b[ib] < best[0]:
        best = (d2b[ib], (qxb[ib], qyb[ib]), (b[ib, 0], b[ib, 1]))
    return best[1], best[2]


def _segment_intersection_point(p1, p2, p3, p4):
    d = (p2[0] - p1[0]) * (p4[1] - p3[1]) - (p2[1] - p1[1]) * (p4[0] - p3[0])
    if d == 0:
        return ((p1[0] + p3[0]) / 2.0, (p1[1] + p3[1]) / 2.0)
    t = ((p3[0] - p1[0]) * (p4[1] - p3[1]) - (p3[1] - p1[1]) * (p4[0] - p3[0])) / d
    return (p1[0] + t * (p2[0] - p1[0]), p1[1] + t * (p2[1] - p1[1]))


# ---------------------------------------------------------------------------
# Coordinate-list operators
# ---------------------------------------------------------------------------


def remove_consecutive_duplicates(coords: np.ndarray, tolerance_ppm: float) -> np.ndarray:
    """Drop P(n+1) when both ordinate *ratios* to P(n) are within tol ppm.

    Faithful to ``GeodesyUtils.java:283-304``: the test is
    ``|x₂/x₁ − 1| ≤ tol·1e-6`` per ordinate (division by zero ⇒ NaN/Inf ⇒
    comparison false ⇒ coordinate kept), and when the duplicate is the
    *last* point, the *previous* point is dropped instead so ring closure
    (first == last) is preserved.  Test vectors:
    ``VerifyGeodesyUtils.java:168-209``.
    """
    coords = np.asarray(coords, dtype=np.float64)
    tol = tolerance_ppm * 1e-6
    out = [coords[0]]
    n = len(coords)
    for i in range(1, n):
        prev = out[-1]
        cur = coords[i]
        with np.errstate(divide="ignore", invalid="ignore"):
            rx = abs(cur[0] / prev[0] - 1.0)
            ry = abs(cur[1] / prev[1] - 1.0)
        dup = (rx <= tol) and (ry <= tol)  # NaN/Inf compare False → kept
        if not dup:
            out.append(cur)
        elif i == n - 1:
            out[-1] = cur  # drop previous, keep last (ring closure)
    return np.array(out)


def infer_points_on_arc(center_lat, center_lon, radius_m, start_angle, end_angle):
    """Densify ArcByCenterPoint/CircleByCenterPoint into TOTAL_ARC_POINTS.

    Ref: ``GmlUtils.java:98-128`` — angles are azimuths from the center;
    endAngle 0 ⇒ 360; Circle ⇒ 0..360; points via geodesic destination at
    equally spaced swept angles.  Returns (lat, lon) arrays (axis order as
    the reference's EPSG:4326 output).
    """
    if end_angle == 0:
        end_angle = 360.0
    angles = np.linspace(float(start_angle), float(end_angle), TOTAL_ARC_POINTS)
    lats = np.full(TOTAL_ARC_POINTS, float(center_lat))
    lons = np.full(TOTAL_ARC_POINTS, float(center_lon))
    dists = np.full(TOTAL_ARC_POINTS, float(radius_m))
    return geodesic.direct(lats, lons, angles, dists)


def convex_hull(coords: np.ndarray) -> np.ndarray:
    """Andrew monotone chain.  Ref: ``GmlUtils.java:138-143`` (JTS ConvexHull).

    Returns hull vertices CCW, closed (first == last) when area > 0.
    """
    pts = np.unique(np.asarray(coords, dtype=np.float64), axis=0)
    if len(pts) <= 2:
        return pts
    # already lexsorted by np.unique
    def half(points):
        out = []
        for p in points:
            while len(out) >= 2 and _orient(*out[-2], *out[-1], *p) <= 0:
                out.pop()
            out.append(tuple(p))
        return out

    lower = half(pts)
    upper = half(pts[::-1])
    hull = lower[:-1] + upper[:-1]
    if len(hull) < 3:
        return np.array(hull)
    return np.array(hull + [hull[0]])


def extract_coords_from_poslist(values, dim: int) -> np.ndarray:
    """Flat posList doubles → (n,2), stride = CRS dimension; 3rd dim dropped.

    Ref: ``GmlUtils.java:250-258``; ``GeodesyUtils.java:278``.
    """
    v = np.asarray(values, dtype=np.float64).reshape(-1, int(dim))
    return v[:, :2]


def envelope_as_polygon(xmin, ymin, xmax, ymax) -> np.ndarray:
    """Envelope → 5-point closed ring, CCW from lower corner.

    Ref: ``Extents.java:231-243``.
    """
    return np.array(
        [[xmin, ymin], [xmax, ymin], [xmax, ymax], [xmin, ymax], [xmin, ymin]],
        dtype=np.float64,
    )
