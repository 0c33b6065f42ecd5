"""The fixed cost of one Arrow Python operator per Spark job.

    PYTHONPATH=. python scripts/udf_overhead.py [--jobs 8] [--cores 4]

Times, in one session, jobs over the same 4-row DataFrame written to
Spark's ``noop`` sink: with no Python in the plan, and through the
package's GML decode (one ``ArrowEvalPython`` node).  The two kinds
alternate after one untimed warm-up job of each.  Prints one JSON line:
the median seconds of each kind and their difference, the cost of the
Python operator.  To compare two checkouts, run it from each with that
checkout as the working directory and on ``PYTHONPATH``: the Python
workers import the package from there.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import time

from pyspark.sql import functions as F

from geomatics_geotk_spark.session import get_spark
from geomatics_geotk_spark.sources.gml import decode_gml

POINT = ('<gml:Point xmlns:gml="http://www.opengis.net/gml/3.2" srsName="CRS:84">'
         "<gml:pos>%s 49.25</gml:pos></gml:Point>")


def _seconds(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--jobs", type=int, default=8, help="timed jobs of each kind")
    ap.add_argument("--cores", type=int, default=4)
    args = ap.parse_args()
    spark = get_spark("udf_overhead", master=f"local[{args.cores}]")
    try:
        lon = (F.lit(-123.0) - F.col("id") / 10).cast("string")
        docs = spark.range(0, 4, 1, args.cores).select(F.format_string(POINT, lon).alias("xml"))
        kinds = {
            "noop": docs,
            "udf": decode_gml(docs).select(F.col("geom.first_x")),
        }
        first = {k: _seconds(df) for k, df in kinds.items()}
        times = {k: [] for k in kinds}
        for _ in range(args.jobs):
            for k, df in kinds.items():
                times[k].append(_seconds(df))
        med = {k: statistics.median(v) for k, v in times.items()}
        print(json.dumps({
            "root": os.getcwd(), "cores": args.cores, "jobs": args.jobs,
            "first_s": {k: round(v, 4) for k, v in first.items()},
            "median_s": {k: round(v, 4) for k, v in med.items()},
            "udf_minus_noop_s": round(med["udf"] - med["noop"], 4),
            "all_s": {k: [round(x, 4) for x in v] for k, v in times.items()},
        }))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
