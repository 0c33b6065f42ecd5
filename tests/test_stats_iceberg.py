"""Skew statistics and the Iceberg-or-parquet IO shim."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from geomatics_geotk_spark.operators import spatial_join, stats
from geomatics_geotk_spark.sources import iceberg
from geomatics_geotk_spark.sources.documents import synth_documents


class TestStats:
    def test_histogram_counts_sum_to_docs(self, spark):
        docs = spatial_join.tile_assign(
            spatial_join.decode_geo_spans(synth_documents(spark, 2000)), 8
        )
        h = stats.cell_histogram(docs)
        assert h.agg(F.sum("n_docs")).collect()[0][0] == 2000

    def test_hot_cells_found(self, spark):
        """The generator concentrates 20% of docs on 3 hot centers —
        the detector must surface those cells."""
        docs = spatial_join.tile_assign(
            spatial_join.decode_geo_spans(synth_documents(spark, 5000)), 10
        )
        hot = stats.hot_cells(docs, threshold=100)
        assert len(hot) >= 3
        h = {r["cell_id"]: r["n_docs"] for r in stats.cell_histogram(docs).collect()}
        for c in hot:
            assert h[c] > 100

    def test_skew_report_ratio(self, spark):
        # res 12 (~4.9 km cells): the 3 hot centers each concentrate ~7%
        # of all docs into single cells vs ~8 docs/cell uniform
        docs = spatial_join.tile_assign(
            spatial_join.decode_geo_spans(synth_documents(spark, 5000)), 12
        )
        row = stats.skew_report(docs).collect()[0]
        assert row["n_docs"] == 5000
        assert row["skew_ratio"] > 5.0  # hot centers make the grid skewed


class TestIcebergShim:
    def test_fallback_detection(self, spark):
        # no Iceberg jars in this container: the shim must degrade
        assert iceberg.iceberg_available(spark) is False

    def test_parquet_roundtrip_with_bucketing(self, spark, tmp_path):
        docs = spatial_join.tile_assign(
            spatial_join.decode_geo_spans(synth_documents(spark, 500)), 10
        ).select("doc_id", "spans", "cell_id")
        loc = str(tmp_path / "tiled")
        iceberg.write_tiled(docs, loc, cell_buckets=8, mode="overwrite")
        # partition layout exists
        assert any(d.startswith("cell_bucket=") for d in os.listdir(loc))
        back = iceberg.read_documents(spark, loc)
        assert back.count() == 500
        # partition pruning: one bucket reads a subset
        one = back.where(F.col("cell_bucket") == 3)
        assert 0 < one.count() < 500

    def test_parquet_fallback_rejects_snapshot_pin(self, spark, tmp_path):
        """Without Iceberg a pinned read cannot be honoured: it must
        raise, not return whatever is on disk."""
        loc = str(tmp_path / "docs")
        spark.range(3).write.parquet(loc)
        with pytest.raises(ValueError, match="snapshot_id=7"):
            iceberg.read_documents(spark, loc, snapshot_id=7)
        assert iceberg.read_documents(spark, loc).count() == 3
