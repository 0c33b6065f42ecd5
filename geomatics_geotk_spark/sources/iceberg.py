"""Iceberg-first table IO with a parquet fallback.

The north rule targets Iceberg tables (snapshot-pinned reads, hidden
partitioning on the cell bucket, snapshot-checkpoint resume).  This
container ships no Iceberg runtime jars, so every entry point probes for
the DataSourceV2 provider and otherwise degrades to plain parquet.
Writes keep Iceberg's commit/retry semantics through ``sources.sink``'s
chunk lineage (documented there); a snapshot-pinned read has no parquet
equivalent and is refused.

On a real cluster: submit with
``--packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver>``
and a catalog conf; every call below then uses native Iceberg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.source.IcebergSource"
        )
        return True
    except Exception:  # noqa: BLE001
        return False


def read_documents(spark: SparkSession, location: str,
                   snapshot_id: int | None = None) -> DataFrame:
    """Snapshot-pinned read of an interleaved-documents table.

    Iceberg: time-travel via ``snapshot-id``.  The parquet fallback has
    no snapshots, so it reads whatever is on disk and raises
    ``ValueError`` when a ``snapshot_id`` is asked for: a pinned read it
    cannot honour must not return unpinned rows.  (The sink's chunk
    lineage records which buckets a write committed; it does not pin the
    input of a read.)
    """
    if iceberg_available(spark):
        reader = spark.read.format("iceberg")
        if snapshot_id is not None:
            reader = reader.option("snapshot-id", str(snapshot_id))
        return reader.load(location)
    if snapshot_id is not None:
        raise ValueError(
            f"read_documents: snapshot_id={snapshot_id} needs Iceberg; "
            "the parquet fallback cannot pin a snapshot"
        )
    return spark.read.parquet(location)


def write_tiled(df: DataFrame, location: str, cell_buckets: int = 64,
                mode: str = "append") -> None:
    """Write tile-assigned docs partitioned for co-located spatial joins.

    Iceberg: hidden partitioning ``bucket(N, cell_id)`` (no partition
    column materialized, pruning still applies).  Parquet fallback:
    explicit ``pmod(cell_id, N)`` partition directory — same physical
    layout, visible column.
    """
    from pyspark.sql import functions as F

    spark = df.sparkSession
    if iceberg_available(spark):
        (
            df.writeTo(location)
            .partitionedBy(F.bucket(cell_buckets, F.col("cell_id")))
            .createOrReplace()
        )
        return
    (
        df.withColumn("cell_bucket", F.pmod(F.col("cell_id"), F.lit(cell_buckets)))
        .write.mode(mode)
        .partitionBy("cell_bucket")
        .parquet(location)
    )
