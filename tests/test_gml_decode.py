"""The GML scan decode (``sources.gml``) on inline documents, through Spark.

Two groups:

* hand-checked fields for one document of each kind the decode handles
  (Point in both axis orders, a 3-D ``pos``, a LineString ``posList``, a
  Polygon with a hole, an Envelope, an ``ArcByCenterPoint`` curve and a
  malformed document), decoded by ``decode_gml`` in a Spark job;
* a seeded cross-implementation check: the batch decode (one RE2 pass
  for simple points, ElementTree for the rest) equals the per-document
  ElementTree decode ``_decode_one`` field by field, as pandas frames
  and as Spark rows.
"""

import math

import numpy as np
import pandas as pd
import pytest

from geomatics_geotk_spark.sources import gml as gml_src

NS = "http://www.opengis.net/gml/3.2"
FIELDS = gml_src.GML_DECODE_SCHEMA.fieldNames()


def point(srs, pos, prefix="gml", ns=NS):
    p = f"{prefix}:" if prefix else ""
    x = f"xmlns:{prefix}" if prefix else "xmlns"
    return f'<{p}Point {x}="{ns}" srsName="{srs}"><{p}pos>{pos}</{p}pos></{p}Point>'


INLINE = {
    "point_4326": point("EPSG:4326", "49.25 -123.1"),
    "point_crs84": point("CRS:84", "-123.1 49.25"),
    "point_3d": point("urn:ogc:def:crs:EPSG::4326", "49.25 -123.1 70.5"),
    "line": (
        f'<gml:LineString xmlns:gml="{NS}" srsName="CRS:84">'
        "<gml:posList>1 2 3 4 5 0</gml:posList></gml:LineString>"
    ),
    "polygon": (
        f'<gml:Polygon xmlns:gml="{NS}" srsName="CRS:84">'
        "<gml:exterior><gml:LinearRing><gml:posList>"
        "0 0 10 0 10 10 0 10 0 0</gml:posList></gml:LinearRing></gml:exterior>"
        "<gml:interior><gml:LinearRing><gml:posList>"
        "2 2 2 4 4 4 4 2 2 2</gml:posList></gml:LinearRing></gml:interior>"
        "</gml:Polygon>"
    ),
    "envelope": (
        f'<gml:Envelope xmlns:gml="{NS}" srsName="urn:ogc:def:crs:EPSG::4326">'
        "<gml:lowerCorner>49 -123</gml:lowerCorner>"
        "<gml:upperCorner>50 -122</gml:upperCorner></gml:Envelope>"
    ),
    # a quarter arc of 1 km around (0, 0) from north (azimuth 0) to east
    # (90), densified to 5 points
    "arc": (
        f'<gml:Curve xmlns:gml="{NS}" srsName="CRS:84"><gml:segments>'
        '<gml:ArcByCenterPoint numArc="1"><gml:pos>0 0</gml:pos>'
        '<gml:radius uom="m">1000</gml:radius>'
        '<gml:startAngle uom="deg">0</gml:startAngle>'
        '<gml:endAngle uom="deg">90</gml:endAngle>'
        "</gml:ArcByCenterPoint></gml:segments></gml:Curve>"
    ),
    "malformed": f'<gml:Point xmlns:gml="{NS}" srsName="CRS:84"><gml:pos>1 2</gml:Point>',
}


def test_decode_gml_inline_documents(spark):
    df = spark.createDataFrame(list(INLINE.items()), "name string, xml string")
    rows = {r["name"]: r["geom"].asDict() for r in gml_src.decode_gml(df).collect()}

    def box(name, first, last, lo, hi):
        r = rows[name]
        assert (r["first_x"], r["first_y"]) == first
        assert (r["last_x"], r["last_y"]) == last
        assert (r["xmin"], r["ymin"], r["xmax"], r["ymax"]) == (*lo, *hi)

    for name, crs, xy in [
        ("point_4326", "EPSG:4326", (49.25, -123.1)),
        ("point_crs84", "CRS:84", (-123.1, 49.25)),
        ("point_3d", "urn:ogc:def:crs:EPSG::4326", (49.25, -123.1)),
    ]:
        r = rows[name]
        assert (r["kind"], r["crs"], r["n_points"], r["error"]) == ("Point", crs, 1, None)
        assert (r["n_interior_rings"], r["n_interior_points"]) == (0, 0)
        box(name, xy, xy, xy, xy)

    r = rows["line"]
    assert (r["kind"], r["crs"], r["n_points"], r["n_interior_rings"]) == ("LineString", "CRS:84", 3, 0)
    box("line", (1.0, 2.0), (5.0, 0.0), (1.0, 0.0), (5.0, 4.0))

    r = rows["polygon"]
    assert (r["kind"], r["n_points"], r["n_interior_rings"], r["n_interior_points"]) == ("Polygon", 5, 1, 5)
    box("polygon", (0.0, 0.0), (0.0, 0.0), (0.0, 0.0), (10.0, 10.0))

    r = rows["envelope"]
    assert (r["kind"], r["crs"], r["n_points"], r["n_interior_rings"]) == ("Envelope", "EPSG:4326", 2, 0)
    box("envelope", (49.0, -123.0), (50.0, -122.0), (49.0, -123.0), (50.0, -122.0))

    # 1 km north of (0, 0) is 1000 / 110574.3 m per degree of latitude,
    # 1 km east along the equator is 1000 / 111319.5 m per degree of longitude
    r = rows["arc"]
    assert (r["kind"], r["crs"], r["n_points"], r["error"]) == ("Curve", "CRS:84", 5, None)
    north, east = 1000 / 110574.3, 1000 / 111319.5
    assert r["first_x"] == pytest.approx(0.0, abs=1e-12)
    assert r["first_y"] == pytest.approx(north, rel=1e-4)
    assert r["last_x"] == pytest.approx(east, rel=1e-4)
    assert r["last_y"] == pytest.approx(0.0, abs=1e-12)
    assert r["xmax"] == pytest.approx(east, rel=1e-4)
    assert r["ymax"] == pytest.approx(north, rel=1e-4)

    r = rows["malformed"]
    assert r["error"].startswith("mismatched tag")
    assert all(r[f] is None for f in FIELDS if f != "error")


# ---------------------------------------------------------------------------
# The batch decode against the per-document decode
# ---------------------------------------------------------------------------

_WS = [" ", "\t", "\r", "\n", "\r\n", " \n\t ", "\f", "\v", "\u00a0", "\x85", ""]
_BAD_TOKENS = ["inf", "-inf", "nan", "NaN", "1_0", "\u0661\u0662", "1,", "0x10",
               "Infinity", "1e", "e5", "--1", "1.2.3", ""]
_SRS = ["EPSG:4326", "CRS:84", "urn:ogc:def:crs:EPSG::4326",
        "urn:ogc:def:crs:OGC:1.3:CRS84", "a&amp;b", "a\tb", "a&#9;b", "a\x7fb",
        "\u00e9\U0001F600", "it's", "", "a\x01b", "x\ufffey", "a>b", " s p "]


def _number(rng) -> str:
    v = rng.normal(0, 10.0 ** rng.integers(-3, 6))
    kind = rng.integers(9)
    if kind == 0:
        return repr(float(v))
    if kind == 1:
        return f"{v:.{rng.integers(0, 12)}f}"
    if kind == 2:
        return f"{v:{'eE'[rng.integers(2)]}}"
    if kind == 3:
        return "+" + f"{abs(v):.6f}"
    if kind == 4:
        return rng.choice([".5", "5.", "-.25", "+5.", "-0", "007", "0.0",
                           "1e400", "-1E-400", "1e+03", "12345678901234567890.5"])
    if kind == 5:
        return f"{v:.17g}"
    return f"{v:.7f}"


def _token(rng) -> str:
    return str(rng.choice(_BAD_TOKENS)) if rng.random() < 0.05 else _number(rng)


def _ws(rng, lo: str = " ") -> str:
    return str(rng.choice(_WS)) if rng.random() < 0.3 else lo


def _point_doc(rng) -> str:
    n = rng.choice([2, 3], p=[0.7, 0.3]) if rng.random() < 0.95 else rng.choice([1, 4])
    lead = _ws(rng, "") if rng.random() < 0.3 else ""
    trail = _ws(rng, "") if rng.random() < 0.3 else ""
    body = lead + _token(rng)
    for _ in range(n - 1):
        body += _ws(rng) + _token(rng)
    body += trail
    srs = str(rng.choice(_SRS)) if rng.random() < 0.2 else str(rng.choice(_SRS[:2]))
    shape = rng.integers(40)
    if shape == 0:
        return point(srs, body, prefix="g")
    if shape == 1:
        return point(srs, body, prefix="")
    if shape == 2:
        return point(srs, body, ns="http://www.opengis.net/gml")
    if shape == 3:
        return '<?xml version="1.0"?>' + point(srs, body)
    if shape == 4:
        return " " + point(srs, body) + "\n"
    if shape == 5:
        return point(srs, body).replace("</gml:pos>", "")
    if shape == 6:
        return (f'<gml:Point srsName="{srs}" xmlns:gml="{NS}"><gml:pos>{body}'
                "</gml:pos></gml:Point>")
    if shape == 7:
        return (f'<gml:Point xmlns:gml="{NS}"><gml:pos srsName="{srs}">{body}'
                "</gml:pos></gml:Point>")
    if shape == 8:
        return point(srs, body).replace("<gml:pos>", "<gml:pos >")
    if shape == 9:
        return "<a>" + point(srs, body) + "</a>"
    if shape == 10:
        return "<a/>" + point(srs, body)
    if shape == 11:
        return point(srs, body) + "<a/>"
    return point(srs, body)


def _other_doc(rng) -> str | None:
    kind = rng.integers(6)
    if kind == 0:
        return None
    if kind == 1:
        return str(rng.choice(["", "not xml", "<gml:Point/>", "<a>1 2</a>"]))
    if kind == 2:
        return INLINE["line"]
    if kind == 3:
        return INLINE["polygon"]
    if kind == 4:
        return INLINE["envelope"]
    return INLINE["arc"]


def _documents(seed: int, n: int) -> list:
    rng = np.random.default_rng(seed)
    return [_point_doc(rng) if rng.random() < 0.9 else _other_doc(rng) for _ in range(n)]


def _norm(field: str, v):
    """One decoded value in a comparable form: null (None or NaN) as None,
    a double by its repr (so -0.0 differs from 0.0), an int as int."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if field in ("kind", "crs", "error"):
        return v
    if field in ("n_points", "n_interior_rings", "n_interior_points"):
        return int(v)
    return repr(float(v))


def _expected(docs: list) -> list[tuple]:
    return [tuple(_norm(f, d[f]) for f in FIELDS) for d in map(gml_src._decode_one, docs)]


def _frame_rows(frame: pd.DataFrame) -> list[tuple]:
    assert list(frame.columns) == FIELDS
    return [tuple(_norm(f, v) for f, v in zip(FIELDS, row)) for row in frame.itertuples(index=False)]


DOCS = _documents(seed=20240, n=10_000)


def test_batch_decode_equals_per_document_decode(monkeypatch):
    decode_one, slow = gml_src._decode_one, []
    monkeypatch.setattr(gml_src, "_decode_one", lambda x: slow.append(x) or decode_one(x))
    got = _frame_rows(gml_src.gml_decode_udf.func(pd.Series(DOCS, dtype=object)))
    monkeypatch.undo()
    want = _expected(DOCS)
    assert len(got) == len(want)
    bad = [(i, DOCS[i], g, w) for i, (g, w) in enumerate(zip(got, want)) if g != w]
    assert not bad, bad[:3]
    # the mix reaches both paths and both outcomes of the slow one
    n_err = sum(w[-1] is not None for w in want)
    assert 0.3 * len(DOCS) < len(DOCS) - len(slow) < 0.7 * len(DOCS)
    assert 0.05 * len(DOCS) < n_err < len(slow)


def test_batch_decode_edge_batches():
    empty = gml_src.gml_decode_udf.func(pd.Series([], dtype=object))
    assert list(empty.columns) == FIELDS and len(empty) == 0
    rest = [INLINE["line"], None, INLINE["malformed"], point("CRS:84", "inf 1"),
            point("CRS:84", "1\f2"), point("a&amp;b", "1 2")]
    assert _frame_rows(gml_src.gml_decode_udf.func(pd.Series(rest, dtype=object))) == _expected(rest)


def test_batch_decode_through_spark(spark):
    df = spark.createDataFrame(list(enumerate(DOCS)), "i int, xml string").repartition(4)
    got = sorted(gml_src.decode_gml(df).select("i", "geom").collect(), key=lambda r: r["i"])
    rows = [tuple(_norm(f, r["geom"][f]) for f in FIELDS) for r in got]
    assert rows == _expected(DOCS)
    # a batch with no fallback row (its int fields carry no null)
    pts = [INLINE[k] for k in ("point_4326", "point_crs84", "point_3d")]
    got = gml_src.decode_gml(spark.createDataFrame([(d,) for d in pts], "xml string").coalesce(1)).collect()
    assert [tuple(_norm(f, r["geom"][f]) for f in FIELDS) for r in got] == _expected(pts)


@pytest.mark.parametrize("seed", [1, 2])
def test_benchmark_documents_take_the_column_path(seed, monkeypatch):
    """Every well-formed document of the benchmark's GML generator is
    decoded without ElementTree; only its malformed ones fall back."""
    from perfbench import gen

    ids = np.arange(5000, dtype=np.int64)
    docs = gen.geo_text(seed, ids, "gml").to_pylist()
    _, bad = gen.gml_flags(seed, ids)
    decode_one, slow = gml_src._decode_one, []
    monkeypatch.setattr(gml_src, "_decode_one", lambda x: slow.append(x) or decode_one(x))
    out = gml_src.gml_decode_udf.func(pd.Series(docs, dtype=object))
    assert slow == [d for d, b in zip(docs, bad) if b]
    assert out["error"].notna().to_numpy().tolist() == bad.tolist()
    monkeypatch.undo()
    assert _frame_rows(out) == _expected(docs)


def test_filtered_decode_evaluates_once(spark):
    """A filter on a decoded field stays above the decode: one
    ``ArrowEvalPython`` node, not a second one below the projection."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(INLINE["point_crs84"],), (INLINE["malformed"],)], "xml string")
    out = gml_src.decode_gml(df).where(F.col("geom.error").isNull()).select(
        F.col("geom.first_x").alias("x"), F.col("geom.first_y").alias("y"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    assert [tuple(r) for r in out.collect()] == [(-123.1, 49.25)]
