"""The package's pandas UDFs keep working across a SparkContext restart.

A UDF object caches its JVM twin, which holds the accumulator of the
SparkContext that made it.  Reused after ``spark.stop()`` and a new
session, such a UDF still returns the right rows, but every task logs
``Failed to update accumulator``.  The GML decode and the WKT envelope
of ``geometry_join`` build their UDF per call.  The test runs in a
subprocess so that the suite's own session is never stopped.
"""

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = textwrap.dedent(
    """
    from geomatics_geotk_spark.operators.geometry_join import geometry_join
    from geomatics_geotk_spark.session import get_spark
    from geomatics_geotk_spark.sources.documents import zones_table
    from geomatics_geotk_spark.sources.gml import decode_gml

    POINT = ('<gml:Point xmlns:gml="http://www.opengis.net/gml/3.2" '
             'srsName="urn:ogc:def:crs:EPSG::4326"><gml:pos>49.25 -123.1</gml:pos></gml:Point>')

    def run():
        spark = get_spark("restart", master="local[2]", shuffle_partitions=2)
        geom = decode_gml(spark.createDataFrame([(POINT,)], "xml string")).first()["geom"]
        wkt = spark.createDataFrame([(1, "POINT (-123.1 49.25)")], "doc_id long, wkt string")
        joined = geometry_join(wkt, zones_table(spark, grid=2), res=10).count()
        return spark, (geom["kind"], geom["first_x"], geom["first_y"], joined)

    spark, first = run()
    spark.stop()
    spark, again = run()
    spark.stop()
    print("ROWS", first, again)
    """
)


def test_udfs_survive_a_context_restart():
    env = dict(os.environ, PYTHONPATH=REPO)
    env.pop("PYSPARK_GATEWAY_PORT", None)
    out = subprocess.run([sys.executable, "-c", SCRIPT], capture_output=True, text=True,
                         timeout=600, env=env, cwd=REPO)
    assert out.returncode == 0, out.stderr[-3000:]
    rows = out.stdout.splitlines()[-1]
    assert rows == "ROWS ('Point', 49.25, -123.1, 2) ('Point', 49.25, -123.1, 2)", out.stdout
    assert "Failed to update accumulator" not in out.stderr, out.stderr[-3000:]
