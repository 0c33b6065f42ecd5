"""Checkpoint-resumable parquet sink with per-partition lineage/metrics.

The north rule requires jobs "resumable from checkpoint with per-partition
lineage + metrics".  Iceberg jars aren't in this container, so the sink
emulates Iceberg's snapshot/manifest pattern on plain parquet:

- output is written in *chunks* (one per cell-bucket), each a parquet
  partition directory ``data/_bucket=<bucket>``;
- a ``_lineage`` parquet table holds one row per committed chunk —
  ``bucket`` int32, ``rows`` int64 (from the written files' footers),
  ``seconds`` float64 (wall time of the committing write) and
  ``committed_at`` string — the lineage/metrics table.  The driver
  commits it with pyarrow: a ``.``-prefixed temp file renamed into place;
- resuming re-runs ONLY the chunks missing from ``_lineage`` (the
  checkpoint): a crashed job re-invoked with the same args skips
  completed buckets exactly like an Iceberg snapshot-pinned retry.

On a real cluster this maps 1:1 onto Iceberg: chunk → partition commit,
_lineage → snapshot summary + manifest metrics.
"""

from __future__ import annotations

import logging
import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

log = logging.getLogger(__name__)

_HIDDEN = ("_", ".")


def _lineage_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_lineage")


def completed_buckets(out_dir: str) -> set[int]:
    """Buckets committed to ``_lineage`` (the checkpoint).

    A missing lineage means nothing is committed yet.  So does a lineage
    directory holding only hidden or ``_``-prefixed entries (a first
    lineage write that died before its commit).  Any other read failure
    is logged and raised: treating a corrupt lineage as empty would
    silently re-run every bucket.
    """
    path = _lineage_path(out_dir)
    if not os.path.exists(path):
        return set()
    if os.path.isdir(path) and all(f.startswith(_HIDDEN) for f in os.listdir(path)):
        return set()
    try:
        table = pq.read_table(path, columns=["bucket"])
    except Exception:
        log.exception("cannot read sink lineage %s", path)
        raise
    return set(table.column("bucket").to_pylist())


def _bucket_rows(data_dir: str, bucket: int) -> int:
    """Rows in ``data/_bucket=<bucket>``, read from the parquet footers."""
    part = os.path.join(data_dir, f"_bucket={bucket}")
    files = os.listdir(part) if os.path.isdir(part) else []
    return sum(pq.read_metadata(os.path.join(part, f)).num_rows
               for f in files if f.endswith(".parquet") and not f.startswith(_HIDDEN))


def _commit_lineage(out_dir: str, buckets: list[int], rows: list[int], seconds: float) -> None:
    """Append one lineage file: written hidden, then renamed (the commit)."""
    n = len(buckets)
    table = pa.table({
        "bucket": pa.array(buckets, pa.int32()),
        "rows": pa.array(rows, pa.int64()),
        "seconds": pa.array([seconds] * n, pa.float64()),
        "committed_at": pa.array([time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())] * n, pa.string()),
    })
    path = _lineage_path(out_dir)
    os.makedirs(path, exist_ok=True)
    name = f"part-{uuid.uuid4()}.parquet"
    tmp = os.path.join(path, "." + name)
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(path, name))


def checkpointed_write(df: DataFrame, out_dir: str, bucket_col: str,
                       n_buckets: int = 16, resume: bool = True) -> dict:
    """Write ``df`` partitioned by ``pmod(bucket_col, n_buckets)`` with a
    lineage record per bucket; skip buckets already committed.

    Returns a summary dict {written_buckets, skipped_buckets, rows}.
    Rows with a null ``bucket_col`` belong to no bucket: a first write
    stores them under Spark's default partition without counting them,
    and a resume neither rewrites nor duplicates them.  Every bucket of
    one commit records the same ``seconds``: the wall time of the one
    write job that produced them all.
    """
    spark = df.sparkSession
    os.makedirs(out_dir, exist_ok=True)
    work = df.withColumn("_bucket", F.pmod(F.col(bucket_col), F.lit(n_buckets)).cast("int"))
    done = completed_buckets(out_dir) if resume else set()
    todo = [b for b in range(n_buckets) if b not in done]
    if not todo:
        return {"written_buckets": [], "skipped_buckets": sorted(done), "rows": 0}

    # ONE job writes every pending bucket (dynamic partition overwrite =
    # idempotent re-run of uncommitted partitions); lineage is committed
    # only after the write succeeds, so a crash leaves those buckets
    # uncommitted and the next invocation redoes exactly them.
    t0 = time.perf_counter()
    data_dir = os.path.join(out_dir, "data")
    # A first write (every bucket pending) takes no bucket filter: Spark
    # would push it below the projections computing ``bucket_col`` and
    # evaluate them twice per row (for tiled docs: the decode and the cell)
    pending = work if not done else work.where(F.col("_bucket").isin([int(b) for b in todo]))
    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        pending.write.mode("overwrite").partitionBy("_bucket").parquet(data_dir)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
    elapsed = time.perf_counter() - t0

    rows = [_bucket_rows(data_dir, b) for b in todo]
    _commit_lineage(out_dir, todo, rows, elapsed)
    return {"written_buckets": todo, "skipped_buckets": sorted(done), "rows": sum(rows)}
