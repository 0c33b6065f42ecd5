"""The driver's cost of building the flagship query, next to running it.

    PYTHONPATH=. python scripts/build_overhead.py [--builds 10] [--docs 200000] [--cores 4]

Writes ``synth_documents`` to a temporary parquet table, then, in one
session, repeats: build the flagship pipeline over a scan of it (decode
→ tile → ``spatial_join(strategy="broadcast")`` against
``zones_table(grid=8)``, zone packing included), have the JVM optimize
and plan it (``queryExecution().executedPlan()``), and run it to Spark's
``noop`` sink.  One untimed round comes first.  Prints one JSON line:
the median seconds of the Python build, of the JVM plan and of the run,
and the py4j round trips per build (every ``send_command`` the driver
makes while building, the build's own collect of the zone table among
them, except py4j's releases of dropped Java objects, whose number
depends on when Python frees them).  The driver-side twin of ``scripts/udf_overhead.py``; to
compare two checkouts, run it from each with that checkout as the
working directory and on ``PYTHONPATH``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import tempfile
import time

from py4j.clientserver import ClientServerConnection
from py4j.java_gateway import GatewayConnection

from geomatics_geotk_spark.operators.spatial_join import decode_geo_spans, spatial_join, tile_assign
from geomatics_geotk_spark.session import get_spark
from geomatics_geotk_spark.sources.documents import synth_documents, zones_table


_RELEASE = "m\nd\n"  # py4j's memory command, delete subcommand


class RoundTrips:
    """Counts the driver's py4j commands while in its ``with`` block,
    releases of dropped Java objects left out."""

    def __init__(self):
        self.n = 0
        self._orig = {}

    def __enter__(self):
        self.n = 0
        for cls in (ClientServerConnection, GatewayConnection):
            orig = self._orig[cls] = cls.send_command

            def counted(conn, command, *a, _orig=orig, **kw):
                self.n += not command.startswith(_RELEASE)
                return _orig(conn, command, *a, **kw)

            cls.send_command = counted
        return self

    def __exit__(self, *exc):
        for cls, orig in self._orig.items():
            cls.send_command = orig


def flagship(spark, docs):
    tiled = tile_assign(decode_geo_spans(docs))
    out = spatial_join(tiled, zones_table(spark, grid=8), strategy="broadcast")
    return out.select("doc_id", "zone_id", "cell_id")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--builds", type=int, default=10, help="timed rounds")
    ap.add_argument("--docs", type=int, default=200_000)
    ap.add_argument("--cores", type=int, default=4)
    args = ap.parse_args()
    spark = get_spark("build_overhead", master=f"local[{args.cores}]",
                      shuffle_partitions=args.cores)
    try:
        with tempfile.TemporaryDirectory() as tmp:
            path = os.path.join(tmp, "docs")
            synth_documents(spark, args.docs, args.cores).write.parquet(path)
            docs = spark.read.parquet(path)
            times = {"build_s": [], "plan_s": [], "run_s": []}
            trips = []
            for i in range(args.builds + 1):
                counter = RoundTrips()
                t0 = time.perf_counter()
                with counter:
                    df = flagship(spark, docs)
                t1 = time.perf_counter()
                df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t3 = time.perf_counter()
                if i:  # the first round warms up
                    for k, v in zip(times, (t1 - t0, t2 - t1, t3 - t2)):
                        times[k].append(v)
                    trips.append(counter.n)
        print(json.dumps({
            "root": os.getcwd(), "cores": args.cores, "docs": args.docs, "builds": args.builds,
            "debugging": spark.conf.get("spark.python.sql.dataFrameDebugging.enabled", "true"),
            "median_s": {k: round(statistics.median(v), 4) for k, v in times.items()},
            "round_trips": int(statistics.median(trips)),
            "all_s": {k: [round(x, 4) for x in v] for k, v in times.items()},
        }))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
