"""Envelope/extent operators — the reference's ``Extents.java`` lifted to
grouped aggregations.

``calculateEnvelope`` (``Extents.java:73-120``) is a sequential
``expandToInclude`` fold; envelope union is commutative + associative, so
Spark's partial-then-final min/max hash aggregation reproduces it exactly
while parallelizing across partitions.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import (
    antipode_lon,
    envelope_to_kvp,
    round_down_2dp,
)


def envelope_agg(df: DataFrame, group_cols: list[str] | None = None,
                 lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """MBR of point sets (per group, or global with group_cols=None).

    Reference: Extents.calculateEnvelope (Extents.java:73-120).
    """
    aggs = [
        F.min(lon_col).alias("xmin"),
        F.min(lat_col).alias("ymin"),
        F.max(lon_col).alias("xmax"),
        F.max(lat_col).alias("ymax"),
    ]
    if group_cols:
        return df.groupBy(*group_cols).agg(*aggs)
    return df.agg(*aggs)


def coalesce_boxes_cross_crs(df: DataFrame, group_col: str = "grp",
                             id_col: str = "doc_id") -> DataFrame:
    """Cross-CRS coalesceBoundingBoxes (``Extents.java:258-274``): union
    of envelope rows after transforming EACH box into the first box's CRS
    ("first" = smallest ``id_col`` per group, matching the reference's
    list order).

    Input rows: (group_col, id_col, crs, x1, y1, x2, y2) with corner
    ordinates in the box's native axis order (EPSG:4326 ⇒ (lat, lon)).
    Corner-transform approximation: both corners reproject and min/max
    normalize — exact for the axis swap, and within meters for in-zone
    TM boxes of this size (the same rule the SQL oracle mirrors).

    Output: (group_col, anchor_crs, xmin, ymin, xmax, ymax).
    """
    from pyspark.sql import Window
    from pyspark.sql import types as T

    from ..kernels import crs as crs_k

    w = Window.partitionBy(group_col).orderBy(F.col(id_col).asc())
    boxed = df.withColumn("anchor_crs", F.first("crs").over(w))

    schema = T.StructType([
        T.StructField("txmin", T.DoubleType()), T.StructField("tymin", T.DoubleType()),
        T.StructField("txmax", T.DoubleType()), T.StructField("tymax", T.DoubleType()),
    ])

    @F.pandas_udf(schema)
    def reproject(crs: pd.Series, anchor: pd.Series, x1: pd.Series, y1: pd.Series,
                  x2: pd.Series, y2: pd.Series) -> pd.DataFrame:
        n = len(crs)
        # NaN-init: rows dropped by the groupby (null src/dst CRS) must
        # surface as NaN in the aggregate, not as uninitialized memory
        tx1 = np.full(n, np.nan); ty1 = np.full(n, np.nan)
        tx2 = np.full(n, np.nan); ty2 = np.full(n, np.nan)
        pairs = pd.DataFrame({"src": crs, "dst": anchor})
        for (src, dst), idx in pairs.groupby(["src", "dst"]).groups.items():
            i = np.asarray(idx)
            a, b = crs_k.transform(x1.to_numpy()[i], y1.to_numpy()[i], src, dst)
            c, d = crs_k.transform(x2.to_numpy()[i], y2.to_numpy()[i], src, dst)
            tx1[i], ty1[i], tx2[i], ty2[i] = a, b, c, d
        return pd.DataFrame({
            "txmin": np.minimum(tx1, tx2), "tymin": np.minimum(ty1, ty2),
            "txmax": np.maximum(tx1, tx2), "tymax": np.maximum(ty1, ty2),
        })

    t = boxed.withColumn(
        "t", reproject("crs", "anchor_crs", "x1", "y1", "x2", "y2")
    )
    return t.groupBy(group_col, "anchor_crs").agg(
        F.min("t.txmin").alias("xmin"),
        F.min("t.tymin").alias("ymin"),
        F.max("t.txmax").alias("xmax"),
        F.max("t.tymax").alias("ymax"),
    )


def with_antipodal_envelope(df: DataFrame) -> DataFrame:
    """Envelope on the opposite side of the earth.

    Reference: Extents.antipodalEnvelope (Extents.java:390-413): negate
    latitude, lon ± 180, corners swap on the x axis (lon of the antipode of
    xmax may be smaller than that of xmin).
    """
    ax0 = antipode_lon(F.col("xmax"))
    ax1 = antipode_lon(F.col("xmin"))
    return (
        df.withColumn("anti_xmin", F.least(ax0, ax1))
        .withColumn("anti_ymin", -F.col("ymax"))
        .withColumn("anti_xmax", F.greatest(ax0, ax1))
        .withColumn("anti_ymax", -F.col("ymin"))
    )


def with_envelope_kvp(df: DataFrame, crs: Column | None = None) -> DataFrame:
    """KVP string per envelope row (Extents.java:364-382)."""
    crs = crs if crs is not None else F.lit("")
    return df.withColumn(
        "kvp",
        envelope_to_kvp(F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"), crs),
    )


def with_envelope_gml_corners(df: DataFrame) -> DataFrame:
    """lowerCorner/upperCorner strings with ordinates rounded DOWN to 2dp
    (Extents.java:191-223, RoundingMode.DOWN — not Spark's round)."""
    return (
        df.withColumn(
            "lower_corner",
            F.concat_ws(" ", round_down_2dp(F.col("xmin")).cast("string"),
                        round_down_2dp(F.col("ymin")).cast("string")),
        )
        .withColumn(
            "upper_corner",
            F.concat_ws(" ", round_down_2dp(F.col("xmax")).cast("string"),
                        round_down_2dp(F.col("ymax")).cast("string")),
        )
    )
