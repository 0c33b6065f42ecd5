"""Streaming tile assignment: the batch decode/tile operators applied to a
readStream source — identical Column expressions, so batch/stream parity
is structural, not re-implemented.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.spatial_join import decode_geo_spans, spatial_join, tile_assign

DOCS_SCHEMA = (
    "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)


def streaming_tile_assign(spark, path: str, res: int = 12,
                          with_event_time: bool = True) -> DataFrame:
    """readStream over a parquet directory of interleaved documents →
    (doc_id, spans, lon, lat, cell_id[, event_time])."""
    stream = spark.readStream.schema(DOCS_SCHEMA).parquet(path)
    out = tile_assign(decode_geo_spans(stream), res)
    if with_event_time:
        # deterministic synthetic event time derived from doc_id (test
        # sources carry no timestamp; real feeds supply their own column)
        out = out.withColumn(
            "event_time",
            F.timestamp_seconds(
                F.lit(1700000000) + F.pmod(F.xxhash64("doc_id"), F.lit(3600))
            ),
        )
    return out


def streaming_spatial_join(assigned: DataFrame, zones: DataFrame,
                           res: int = 12) -> DataFrame:
    """Stream-static point-in-polygon join: the batch
    :func:`spatial_join` applied to the streaming tile-assigned docs
    (which already carry ``cell_id``) — batch/stream parity holds by
    construction.

    Returns the streaming DataFrame of (doc columns…, zone_id) matches.
    """
    return spatial_join(assigned, zones, res)


def streaming_exact_dedup(stream: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id",
                          state_timeout_ms: int = 0) -> DataFrame:
    """Custom STATEFUL streaming operator via ``applyInPandasWithState``:
    exact dedup across micro-batches — the first document carrying each
    content hash is emitted, every later duplicate (same batch or any
    later batch) is dropped.  State = one row per content hash
    (first-seen id + running duplicate count), checkpointed by the
    engine, so a restarted query keeps deduplicating where it left off.

    This is the streaming twin of ``operators.dedup.exact_dedup``; at
    scale the state store shards by the groupBy key exactly like the
    batch hash-aggregate shards its exchange.  ``state_timeout_ms`` > 0
    expires idle hashes (bounded state for unbounded streams).

    Output: (content_hash, doc_id, is_first_batch_emit) — emitted rows
    only.
    """
    from typing import Any, Iterator

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    keyed = stream.select(
        F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col).alias("doc_id")
    )

    def dedup_fn(key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState):
        (content_hash,) = key
        if state.hasTimedOut:
            state.remove()
            return
        seen, n_dups = state.get if state.exists else (False, 0)
        out = []
        for pdf in pdfs:
            for doc_id in pdf["doc_id"]:
                if not seen:
                    out.append((content_hash, doc_id, not state.exists))
                    seen = True
                else:
                    n_dups += 1
        state.update((seen, n_dups))
        if state_timeout_ms > 0:
            state.setTimeoutDuration(state_timeout_ms)
        if out:
            yield pd.DataFrame(out, columns=["content_hash", "doc_id", "is_first_batch_emit"])

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_timeout_ms > 0
        else GroupStateTimeout.NoTimeout
    )
    return keyed.groupBy("content_hash").applyInPandasWithState(
        dedup_fn,
        outputStructType="content_hash string, doc_id string, is_first_batch_emit boolean",
        stateStructType="seen boolean, n_dups long",
        outputMode="append",
        timeoutConf=timeout,
    )


def streaming_cell_counts(assigned: DataFrame, window: str = "5 minutes",
                          watermark: str = "10 minutes") -> DataFrame:
    """Watermarked tumbling-window doc counts per cell — the streaming
    rollup feeding hot-cell (skew) detection."""
    return (
        assigned.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window), F.col("cell_id"))
        .agg(F.count("*").alias("n_docs"))
    )
