"""Spark scan-side GML decode: XML documents → typed geometry columns.

The reference's front door is GML DOM (``GmlUtils.java:414-433``
unmarshalGMLGeometry); here the equivalent is a scan stage: read XML
documents distributed (``spark.read.text(wholetext)`` — one row per
file — or any string column), then one Arrow-batched pandas UDF that
decodes each document into typed columns (kind, crs, counts, envelope,
first/last coordinates).  Downstream stages see only those columns —
the XML never crosses another stage boundary.

The UDF decodes a batch on two paths:

* **Simple points, column-wise.**  One RE2 pass over the Arrow batch
  (``pyarrow.compute.extract_regex``) matches the whole string against
  a strict shape, ``<gml:Point xmlns:gml="http://www.opengis.net/gml/3.2"
  srsName="S"><gml:pos>X Y[ Z]</gml:pos></gml:Point>``: the tags and
  attributes exactly so; whitespace only around and between the numbers,
  and only XML's four (space, tab, CR, LF: a form feed, which the
  parser rejects, falls back); ``S`` non-empty and free of ``" < > &``
  and of control characters, which entity expansion or attribute
  normalisation would change or the parser reject; numbers in ASCII,
  ``[-+]?(digits[.[digits]]|.digits)[(e|E)[-+]digits]``.  The matched
  rows are filled with numpy; each ordinate is Python ``float()`` of
  its token and a third value is ignored, as
  :func:`kernels.gml._pos_coords` does.
* **Everything else, per document.**  Every other row (other prefixes
  or namespaces, an XML declaration, curves, surfaces, envelopes,
  ``inf``/``nan`` tokens, malformed text, null) goes through
  ElementTree and the :mod:`kernels.gml` flattening in
  :func:`_decode_one`, whose error strings are the contract for
  malformed documents.

Both paths give the same row for a document the strict shape matches.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernels import gml as gml_k

GML_DECODE_SCHEMA = T.StructType([
    T.StructField("kind", T.StringType()),
    T.StructField("crs", T.StringType()),
    T.StructField("n_points", T.IntegerType()),
    T.StructField("first_x", T.DoubleType()),
    T.StructField("first_y", T.DoubleType()),
    T.StructField("last_x", T.DoubleType()),
    T.StructField("last_y", T.DoubleType()),
    T.StructField("xmin", T.DoubleType()),
    T.StructField("ymin", T.DoubleType()),
    T.StructField("xmax", T.DoubleType()),
    T.StructField("ymax", T.DoubleType()),
    T.StructField("n_interior_rings", T.IntegerType()),
    T.StructField("n_interior_points", T.IntegerType()),
    T.StructField("error", T.StringType()),
])


def _decode_one(xml_text: str) -> dict:
    try:
        elem = gml_k.unwrap_property(gml_k.parse(xml_text))
        gml_k.set_srs_name_on_collection_members(elem)
        kind = gml_k._local(elem.tag)
        crs = gml_k.find_crs_reference(elem, elem)
        if kind == "Envelope":
            env = gml_k.create_envelope(xml_text)
            coords = np.array([env["lower"], env["upper"]], dtype=np.float64)
            crs = env["crs"]
        else:
            coords = gml_k.geometry_coordinate_list(elem)
        try:
            interiors = (
                gml_k.surface_interior_boundaries(elem)
                if kind not in gml_k.CURVE_KINDS and kind != "Point"
                else []
            )
        except Exception:  # noqa: BLE001 - curves/points have no interiors
            interiors = []
        return {
            "kind": kind,
            "crs": crs,
            "n_points": int(len(coords)),
            "first_x": float(coords[0, 0]),
            "first_y": float(coords[0, 1]),
            "last_x": float(coords[-1, 0]),
            "last_y": float(coords[-1, 1]),
            "xmin": float(coords[:, 0].min()),
            "ymin": float(coords[:, 1].min()),
            "xmax": float(coords[:, 0].max()),
            "ymax": float(coords[:, 1].max()),
            "n_interior_rings": len(interiors),
            "n_interior_points": int(len(interiors[0])) if interiors else 0,
            "error": None,
        }
    except Exception as exc:  # noqa: BLE001 - malformed docs become error rows
        return {
            "kind": None, "crs": None, "n_points": None,
            "first_x": None, "first_y": None, "last_x": None, "last_y": None,
            "xmin": None, "ymin": None, "xmax": None, "ymax": None,
            "n_interior_rings": None, "n_interior_points": None,
            "error": str(exc)[:500],
        }


_WS = r"[ \t\r\n]"
_NUM = r"[-+]?(?:[0-9]+\.?[0-9]*|\.[0-9]+)(?:[eE][-+]?[0-9]+)?"
#: the strict simple-Point shape of the column-wise path (module docstring)
_SIMPLE_POINT_RE = (
    r'\A<gml:Point xmlns:gml="http://www\.opengis\.net/gml/3\.2" '
    r'srsName="(?P<srs>[^"<>&\x00-\x1f\x{FFFE}\x{FFFF}]+)"><gml:pos>'
    rf"{_WS}*(?P<x>{_NUM}){_WS}+(?P<y>{_NUM})(?:{_WS}+{_NUM})?{_WS}*"
    r"</gml:pos></gml:Point>\z"
)


def decode_batch(xml: pd.Series) -> pd.DataFrame:
    """Decode one Arrow batch of GML documents (module docstring)."""
    m = pc.extract_regex(pa.array(xml, pa.string()), _SIMPLE_POINT_RE)
    valid = m.is_valid()
    fast = valid.to_numpy(zero_copy_only=False)
    pts = m.filter(valid)
    x, y = (pts.field(k).to_numpy(zero_copy_only=False).astype(np.float64) for k in "xy")
    point = {
        "kind": "Point", "crs": pts.field("srs").to_numpy(zero_copy_only=False),
        "n_points": 1, "first_x": x, "first_y": y, "last_x": x, "last_y": y,
        "xmin": x, "ymin": y, "xmax": x, "ymax": y,
        "n_interior_rings": 0, "n_interior_points": 0, "error": None,
    }
    rest = np.flatnonzero(~fast)
    slow = [_decode_one(xml.iat[i]) for i in rest]
    cols = {}
    for f in GML_DECODE_SCHEMA.fields:
        # numbers as float64 with NaN for null, as pandas infers an int
        # field with nulls; Arrow casts them back to the schema's ints
        dtype = object if isinstance(f.dataType, T.StringType) else np.float64
        col = np.empty(len(xml), dtype)
        col[fast] = point[f.name]
        col[rest] = np.array([d[f.name] for d in slow], dtype)
        cols[f.name] = col
    return pd.DataFrame(cols)


def gml_decode_udf(xml: Column) -> Column:
    """The decoded-geometry struct of a GML string Column.

    The pandas UDF of :func:`decode_batch` is built per call: a UDF
    object caches its JVM twin, whose accumulator a restarted
    SparkContext no longer knows.  It is a single-eval barrier
    (``asNondeterministic``): a filter on a decoded field would
    otherwise be pushed below the projection and re-run the decode in a
    second ``ArrowEvalPython`` node.  As on a pandas UDF, ``.func`` is
    the batch function and ``.returnType`` its schema.
    """
    return F.pandas_udf(decode_batch, GML_DECODE_SCHEMA).asNondeterministic()(xml)


gml_decode_udf.func = decode_batch
gml_decode_udf.returnType = GML_DECODE_SCHEMA


def decode_gml(df: DataFrame, xml_col: str = "xml", out: str = "geom") -> DataFrame:
    """Append the decoded-geometry struct column for a GML string column."""
    return df.withColumn(out, gml_decode_udf(F.col(xml_col)))


def read_gml_files(spark: SparkSession, path_glob: str) -> DataFrame:
    """(path, xml) rows — one per XML document, read distributed."""
    return (
        spark.read.text(path_glob, wholetext=True)
        .select(
            F.input_file_name().alias("path"),
            F.col("value").alias("xml"),
        )
    )
