"""Streaming CDC merge-apply (streaming/cdc_stream.py).

Contract: after the stream drains, the LAST upsert row per key equals
the batch last-change-wins snapshot over the same log for ANY
micro-batching (late rows lose the lexicographic max, they are not
dropped); delete markers surface as last_op='D' where the batch twin
drops the key; state survives a checkpoint restart.
"""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from geomatics_geotk_spark.streaming.cdc_stream import streaming_cdc_apply

SCHEMA = "cust_key long, ts date, seq long, op string, price double"

LOG = [
    # key 1: I then U — U wins
    (1, dt.date(2024, 1, 1), 10, "I", 100.0),
    (1, dt.date(2024, 1, 3), 12, "U", 120.0),
    # key 2: later ts arrives FIRST in stream order (late-data exactness)
    (2, dt.date(2024, 2, 5), 30, "U", 250.0),
    (2, dt.date(2024, 1, 5), 20, "I", 200.0),
    # key 3: terminal delete
    (3, dt.date(2024, 1, 2), 40, "I", 300.0),
    (3, dt.date(2024, 1, 9), 41, "D", 0.0),
    # key 4: same ts, seq breaks the tie
    (4, dt.date(2024, 3, 1), 51, "U", 410.0),
    (4, dt.date(2024, 3, 1), 50, "I", 400.0),
]


def _batch_reference(spark, log=LOG, schema=SCHEMA):
    df = spark.createDataFrame(log, schema)
    w = Window.partitionBy("cust_key").orderBy(F.desc("ts"), F.desc("seq"))
    wall = Window.partitionBy("cust_key")
    r = df.select(
        "cust_key", "ts", "op", "price",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(wall).alias("n_changes"),
    ).where((F.col("rk") == 1) & (F.col("op") != "D"))
    return {
        row["cust_key"]: (row["ts"], row["op"], row["price"],
                          row["n_changes"])
        for row in r.collect()
    }


def _last_emits(spark, name):
    rows = spark.sql(
        f"select * from {name}"
    ).orderBy("n_changes").collect()
    last = {}
    for r in rows:  # n_changes grows monotonically per key
        last[r.cust_key] = r
    return last


@pytest.mark.parametrize("split", [None, 3, 6])
def test_matches_batch_any_batching(spark, tmp_path, split):
    chunks = [LOG] if split is None else [LOG[:split], LOG[split:]]
    src = str(tmp_path / "src")
    name = f"cdc_{split}"
    q = None
    try:
        for chunk in chunks:
            spark.createDataFrame(chunk, SCHEMA).coalesce(1).write.mode(
                "append").parquet(src)
            if q is None:
                stream = spark.readStream.schema(SCHEMA).parquet(src)
                q = (
                    streaming_cdc_apply(stream)
                    .writeStream.format("memory").queryName(name)
                    .option("checkpointLocation", str(tmp_path / "ckpt"))
                    .outputMode("update").start()
                )
            q.processAllAvailable()
    finally:
        if q is not None:
            q.stop()
    last = _last_emits(spark, name)
    want = _batch_reference(spark)
    live = {k: (r.last_ts, r.last_op, r.price, r.n_changes)
            for k, r in last.items() if r.last_op != "D"}
    assert live == want
    assert last[3].last_op == "D" and 3 not in want  # delete marker


def test_decimal_price_keeps_type(spark, tmp_path):
    """A DECIMAL price is carried as DECIMAL, as the batch twin does:
    the last emitted row per key equals the batch snapshot, type and
    value, with no round trip through double."""
    schema = SCHEMA.replace("price double", "price decimal(12,2)")
    log = [(*r[:4], Decimal(str(r[4])) + Decimal("0.01")) for r in LOG]
    src = str(tmp_path / "src")
    spark.createDataFrame(log, schema).coalesce(1).write.parquet(src)
    q = (
        streaming_cdc_apply(spark.readStream.schema(schema).parquet(src))
        .writeStream.format("memory").queryName("cdc_decimal")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("update").start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.sql("select * from cdc_decimal")
    assert out.schema["price"].dataType.simpleString() == "decimal(12,2)"
    live = {k: (r.last_ts, r.last_op, r.price, r.n_changes)
            for k, r in _last_emits(spark, "cdc_decimal").items()
            if r.last_op != "D"}
    want = _batch_reference(spark, log, schema)
    assert live == want
    assert all(isinstance(v[2], Decimal) for v in live.values())
    assert live[1][2] == Decimal("120.01")


def test_restart_resumes_state(spark, tmp_path):
    """Post-restart changes fold into pre-restart state: the counter
    keeps counting and an older post-restart row loses the max."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    outp = str(tmp_path / "out")

    def run_once():
        stream = spark.readStream.schema(SCHEMA).parquet(src)
        q = (
            streaming_cdc_apply(stream)
            .writeStream.foreachBatch(
                lambda df, _id: df.write.mode("append").parquet(outp)
            )
            .option("checkpointLocation", ckpt)
            .outputMode("update").trigger(availableNow=True).start()
        )
        q.awaitTermination()

    pre = [(7, dt.date(2024, 5, 5), 70, "U", 700.0)]
    post = [(7, dt.date(2024, 4, 1), 60, "I", 600.0),   # older: loses
            (7, dt.date(2024, 6, 1), 80, "U", 800.0)]   # newer: wins
    spark.createDataFrame(pre, SCHEMA).coalesce(1).write.mode(
        "append").parquet(src)
    run_once()
    spark.createDataFrame(post, SCHEMA).coalesce(1).write.mode(
        "append").parquet(src)
    run_once()

    rows = sorted(spark.read.parquet(outp).collect(),
                  key=lambda r: r.n_changes)
    assert [r.n_changes for r in rows] == [1, 3]
    final = rows[-1]
    assert (final.last_ts, final.last_op, final.price) == (
        dt.date(2024, 6, 1), "U", 800.0)
