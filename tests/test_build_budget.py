"""The driver's plan-build budget for the flagship pipeline: the py4j
round trips made while building (not running) decode → tile →
``spatial_join(strategy="broadcast")`` against ``zones_table(grid=8)``.

With DataFrame call-site capture on (pyspark's default), every Column
and ``functions`` call adds a Python stack walk and about five round
trips, and the slot refine built as Columns adds about a hundred more:
one build measured 2,724 round trips that way.  With capture off
(``session.get_spark``) and the refine parsed from SQL text it measures
481.  The ceiling leaves about 35 % headroom over that.

py4j's releases of Java objects the Python side has dropped (memory
"delete" commands) are not counted: they run when Python frees the
objects, often those of an earlier build, so their number varies from
build to build.
"""

from __future__ import annotations

import pytest
from py4j.clientserver import ClientServerConnection

from geomatics_geotk_spark.operators.spatial_join import decode_geo_spans, spatial_join, tile_assign
from geomatics_geotk_spark.sources.documents import synth_documents, zones_table

ROUND_TRIP_CEILING = 650
_RELEASE = "m\nd\n"  # py4j's memory command, delete subcommand


def _flagship(spark, docs):
    tiled = tile_assign(decode_geo_spans(docs))
    return spatial_join(tiled, zones_table(spark, grid=8), strategy="broadcast")


@pytest.fixture
def round_trips(monkeypatch):
    """A list that gains one entry per py4j command the driver sends,
    releases of dropped Java objects left out."""
    sent = []
    orig = ClientServerConnection.send_command

    def counted(conn, command, *a, **kw):
        if not command.startswith(_RELEASE):
            sent.append(command)
        return orig(conn, command, *a, **kw)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    return sent


def test_call_site_capture_is_off(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_flagship_build_round_trips(spark, request):
    docs = synth_documents(spark, 1000, 2)
    _flagship(spark, docs)  # the first build caches what every later one reuses
    sent = request.getfixturevalue("round_trips")
    df = _flagship(spark, docs)
    n = len(sent)
    assert "cell_id" in df.columns
    assert 0 < n <= ROUND_TRIP_CEILING, f"{n} py4j round trips to build the flagship plan"
