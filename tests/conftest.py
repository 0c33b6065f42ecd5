import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from geomatics_geotk_spark import get_spark

    s = get_spark(app="tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def no_broadcast(spark):
    """Spark's broadcast bound off (``autoBroadcastJoinThreshold`` -1)
    until the test ends: every sized cell join packs its zone side on the
    executors and joins it without a broadcast.  A test may request it
    part-way with ``request.getfixturevalue("no_broadcast")``."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
