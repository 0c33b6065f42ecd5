"""Structured-streaming tile assignment, checkpoint-resumable sink, and
multimodal plumbing — the operational surfaces the north rule requires
beyond the batch operators."""

from __future__ import annotations

import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from geomatics_geotk_spark.operators import multimodal, spatial_join
from geomatics_geotk_spark.sources import sink
from geomatics_geotk_spark.sources.documents import synth_documents
from geomatics_geotk_spark.streaming import tile_stream


@pytest.fixture(scope="module")
def docs_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stream") / "docs.parquet")
    synth_documents(spark, 500, partitions=4).write.mode("overwrite").parquet(path)
    return path


class TestStreamingTileAssign:
    def test_stream_matches_batch(self, spark, docs_path):
        """readStream → decode → tile produces the same per-doc cell ids
        as the batch path (structural parity: identical Column exprs)."""
        assigned = tile_stream.streaming_tile_assign(spark, docs_path, res=12)
        q = (
            assigned.select("doc_id", "cell_id")
            .writeStream.format("memory")
            .queryName("t_stream_cells")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {
            (r["doc_id"], r["cell_id"])
            for r in spark.sql("SELECT * FROM t_stream_cells").collect()
        }
        batch = spatial_join.tile_assign(
            spatial_join.decode_geo_spans(spark.read.parquet(docs_path)), 12
        )
        want = {(r["doc_id"], r["cell_id"]) for r in batch.select("doc_id", "cell_id").collect()}
        assert got == want

    def test_stream_static_spatial_join_matches_batch(self, spark, docs_path):
        from geomatics_geotk_spark.sources.documents import zones_table

        zones = zones_table(spark, grid=4).where(
            F.col("zone_id").startswith("zone-grid-")
        )
        assigned = tile_stream.streaming_tile_assign(spark, docs_path, res=12)
        joined = tile_stream.streaming_spatial_join(assigned, zones, res=12)
        q = (
            joined.select("doc_id", "zone_id")
            .writeStream.format("memory")
            .queryName("t_stream_join")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {
            (r["doc_id"], r["zone_id"])
            for r in spark.sql("SELECT * FROM t_stream_join").collect()
        }
        batch = spatial_join.spatial_join(
            spatial_join.tile_assign(
                spatial_join.decode_geo_spans(spark.read.parquet(docs_path)), 12
            ),
            zones, res=12, strategy="broadcast",
        )
        want = {
            (r["doc_id"], r["zone_id"])
            for r in batch.select("doc_id", "zone_id").collect()
        }
        assert got == want

    def test_windowed_cell_counts(self, spark, docs_path):
        assigned = tile_stream.streaming_tile_assign(spark, docs_path, res=8)
        counts = tile_stream.streaming_cell_counts(assigned, "10 minutes", "20 minutes")
        q = (
            counts.writeStream.format("memory")
            .queryName("t_stream_counts")
            .outputMode("update")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        rows = spark.sql(
            "SELECT sum(n_docs) AS total FROM t_stream_counts"
        ).collect()
        assert rows[0]["total"] == 500

    def test_watermark_drops_late_rows(self, spark, tmp_path):
        """Real watermark semantics across micro-batches: an event that
        arrives AFTER the watermark has passed its window must be
        dropped, and append mode must finalize each window exactly once
        with the on-time count only."""
        import datetime as dt
        import os as _os
        import time as _time

        indir = tmp_path / "late_in"
        indir.mkdir()
        ts = lambda h, m: dt.datetime(2026, 1, 1, h, m)  # noqa: E731

        def write_batch(name, rows, mtime):
            p = str(indir / name)
            spark.createDataFrame(
                rows, "cell_id long, event_time timestamp"
            ).coalesce(1).write.mode("overwrite").parquet(p)
            # file source orders micro-batches by mtime — pin it
            for root, _dirs, files in _os.walk(p):
                for f in files:
                    _os.utime(_os.path.join(root, f), (mtime, mtime))
            return p

        t0 = _time.time()
        # batch 1: two on-time events in [10:00,10:10) + one at 10:35
        # (sets max event time; watermark after batch = 10:15)
        write_batch("b1", [(1, ts(10, 2)), (1, ts(10, 7)), (2, ts(10, 35))], t0)
        # batch 2: advances the watermark to 10:40 — the 10:00 window is
        # EMITTED at the end of this batch (append finalization)
        write_batch("b2", [(3, ts(11, 0))], t0 + 10)
        # batch 3: a straggler for the already-emitted 10:00 window (the
        # guaranteed-drop case — a straggler arriving in the very batch
        # that evicts its window may still merge, by Spark's documented
        # best-effort semantics) + a watermark advancer
        write_batch("b3", [(1, ts(10, 5)), (4, ts(12, 0))], t0 + 20)

        stream = (
            spark.readStream.schema("cell_id long, event_time timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(indir) + "/*")
        )
        counts = tile_stream.streaming_cell_counts(
            stream, window="10 minutes", watermark="20 minutes"
        )
        q = (
            counts.writeStream.format("memory")
            .queryName("t_late")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {
            (r["cell_id"], r["window"].start.minute, r["n_docs"])
            for r in spark.sql("SELECT * FROM t_late").collect()
        }
        # the 10:00 window finalized ONCE with the 2 on-time events; the
        # post-emission straggler at 10:05 was dropped — no merged count
        # and no duplicate late finalization of the same window
        assert (1, 0, 2) in got
        assert (1, 0, 3) not in got and (1, 0, 1) not in got


def _jobs_run(spark, fn):
    """(fn's result, number of Spark jobs it ran), counted by job group."""
    sc = spark.sparkContext
    group = f"sink-{uuid.uuid4()}"
    sc.setJobGroup(group, "sink job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _assert_lineage_matches_data(spark, out):
    """Each bucket is committed once, with the rows a re-read of ``data``
    counts for it (null-bucket rows belong to no bucket)."""
    lineage = pq.read_table(os.path.join(out, "_lineage")).to_pylist()
    committed = {r["bucket"]: r["rows"] for r in lineage}
    assert len(committed) == len(lineage)
    counted = {
        r["_bucket"]: r["n"]
        for r in spark.read.parquet(os.path.join(out, "data"))
        .where(F.col("_bucket").isNotNull())
        .groupBy("_bucket").agg(F.count("*").alias("n")).collect()
    }
    assert committed == {b: counted.get(b, 0) for b in committed}
    assert set(counted) <= set(committed)


def _forge_partial_lineage(spark, out, tmp_path, keep):
    """Replace ``_lineage`` with a Spark-written copy of its rows with
    ``bucket < keep`` (as if the job died before the rest committed)."""
    lineage_path = os.path.join(out, "_lineage")
    tmp_lineage = str(tmp_path / "lineage_partial")
    spark.read.parquet(lineage_path).where(F.col("bucket") < keep) \
        .write.mode("overwrite").parquet(tmp_lineage)
    shutil.rmtree(lineage_path)
    shutil.copytree(tmp_lineage, lineage_path)


class TestCheckpointedSink:
    def test_write_then_resume_skips(self, spark, tmp_path):
        out = str(tmp_path / "sink1")
        df = spark.range(1000).select(
            F.col("id"), F.pmod(F.col("id"), F.lit(97)).alias("bucket")
        )
        s1 = sink.checkpointed_write(df, out, "bucket", n_buckets=8)
        assert sorted(s1["written_buckets"]) == list(range(8))
        assert s1["rows"] == 1000
        data = spark.read.parquet(os.path.join(out, "data"))
        assert data.count() == 1000
        _assert_lineage_matches_data(spark, out)
        # second invocation: everything already committed → no-op resume
        s2 = sink.checkpointed_write(df, out, "bucket", n_buckets=8)
        assert s2["written_buckets"] == []
        assert sorted(s2["skipped_buckets"]) == list(range(8))
        assert spark.read.parquet(os.path.join(out, "data")).count() == 1000

    def test_crash_resume_redoes_only_missing(self, spark, tmp_path):
        """Simulate a crash after some buckets committed: lineage rows
        exist for buckets 0..3 only (written by Spark) → resume rewrites
        exactly 4..7 and appends their lineage with pyarrow."""
        out = str(tmp_path / "sink2")
        df = spark.range(1000).select(
            F.col("id"), F.pmod(F.col("id"), F.lit(97)).alias("bucket")
        )
        sink.checkpointed_write(df, out, "bucket", n_buckets=8)
        _forge_partial_lineage(spark, out, tmp_path, keep=4)

        s = sink.checkpointed_write(df, out, "bucket", n_buckets=8)
        assert sorted(s["written_buckets"]) == [4, 5, 6, 7]
        assert sorted(s["skipped_buckets"]) == [0, 1, 2, 3]
        # post-resume: complete, no duplicates
        data = spark.read.parquet(os.path.join(out, "data"))
        assert data.count() == 1000
        assert data.select("id").distinct().count() == 1000
        _assert_lineage_matches_data(spark, out)
        # the Spark-written partial lineage plus the pyarrow append read
        # as one bucket set, the same in both engines
        lineage_path = os.path.join(out, "_lineage")
        assert sink.completed_buckets(out) == set(range(8))
        assert {r["bucket"] for r in spark.read.parquet(lineage_path).collect()} == set(range(8))
        assert pq.read_table(lineage_path).schema.types == [pa.int32(), pa.int64(), pa.float64(), pa.string()]

    def test_first_write_is_one_job_and_full_resume_none(self, spark, tmp_path):
        """The data write is the only Spark job: the counts come from the
        written footers and the lineage is read and committed on the
        driver, so a resume with every bucket done runs no job at all."""
        out = str(tmp_path / "sink_jobs")
        df = spark.range(1000).select(F.col("id"), F.pmod(F.col("id"), F.lit(97)).alias("bucket"))
        s1, jobs = _jobs_run(spark, lambda: sink.checkpointed_write(df, out, "bucket", n_buckets=8))
        assert s1["rows"] == 1000 and jobs == 1
        s2, jobs = _jobs_run(spark, lambda: sink.checkpointed_write(df, out, "bucket", n_buckets=8))
        assert len(s2["skipped_buckets"]) == 8 and jobs == 0

    def test_hidden_lineage_leftover_is_ignored(self, spark, tmp_path):
        """A commit that died between its write and its rename leaves a
        ``.part-*.parquet``: it commits nothing, for pyarrow and Spark."""
        out = str(tmp_path / "sink_leftover")
        df = spark.range(400).select(F.col("id"), F.pmod(F.col("id"), F.lit(13)).alias("bucket"))
        sink.checkpointed_write(df, out, "bucket", n_buckets=4)
        _forge_partial_lineage(spark, out, tmp_path, keep=2)
        lineage_path = os.path.join(out, "_lineage")
        pq.write_table(pa.table({"bucket": pa.array([2, 3], pa.int32())}),
                       os.path.join(lineage_path, f".part-{uuid.uuid4()}.parquet"))
        assert sink.completed_buckets(out) == {0, 1}
        assert {r["bucket"] for r in spark.read.parquet(lineage_path).collect()} == {0, 1}
        s = sink.checkpointed_write(df, out, "bucket", n_buckets=4)
        assert s["written_buckets"] == [2, 3]
        _assert_lineage_matches_data(spark, out)

    def test_corrupt_lineage_raises(self, spark, tmp_path, caplog):
        """A lineage that cannot be read must stop the resume (logged and
        raised), not look empty and silently re-run every bucket."""
        out = str(tmp_path / "sink3")
        df = spark.range(100).select(F.col("id"), F.pmod(F.col("id"), F.lit(7)).alias("bucket"))
        sink.checkpointed_write(df, out, "bucket", n_buckets=4)
        lineage_path = os.path.join(out, "_lineage")
        for f in os.listdir(lineage_path):
            if f.endswith(".parquet"):
                with open(os.path.join(lineage_path, f), "wb") as fh:
                    fh.write(b"not a parquet file")
            elif f.endswith(".crc"):
                os.remove(os.path.join(lineage_path, f))
        with caplog.at_level("ERROR", logger=sink.__name__), pytest.raises(pa.lib.ArrowInvalid):
            sink.checkpointed_write(df, out, "bucket", n_buckets=4)
        assert any(lineage_path in r.getMessage() for r in caplog.records)

    def test_uncommitted_lineage_is_empty(self, spark, tmp_path):
        """A lineage directory holding only an uncommitted ``_temporary``
        (the first lineage write died) means nothing is committed."""
        out = str(tmp_path / "sink4")
        os.makedirs(os.path.join(out, "_lineage", "_temporary", "0"))
        assert sink.completed_buckets(out) == set()
        assert sink.completed_buckets(str(tmp_path / "never-written")) == set()

    def test_docs_without_point_are_written(self, spark, tmp_path):
        """Tiled docs with no geo span (cell id -1) land in a real bucket
        and are written and counted like every other doc."""
        docs = synth_documents(spark, 40, partitions=2)
        docs = docs.withColumn(
            "spans",
            F.when(F.col("doc_id").endswith("0"), F.filter("spans", lambda s: s["kind"] != "geo"))
            .otherwise(F.col("spans")),
        )
        tiled = spatial_join.tile_assign(spatial_join.decode_geo_spans(docs), 12)
        assert tiled.where(F.col("cell_id") == -1).count() == 4
        s = sink.checkpointed_write(tiled, str(tmp_path / "sink5"), "cell_id", n_buckets=8)
        assert s["rows"] == 40
        assert spark.read.parquet(str(tmp_path / "sink5" / "data")).count() == 40

    def test_null_key_rows_written_once_uncounted(self, spark, tmp_path):
        out = str(tmp_path / "sink6")
        df = spark.range(100).select(
            F.col("id"), F.when(F.col("id") % 10 != 0, F.col("id")).alias("bucket")
        )
        s1 = sink.checkpointed_write(df, out, "bucket", n_buckets=4)
        assert s1["rows"] == 90
        _assert_lineage_matches_data(spark, out)
        # forge a lineage missing buckets 2 and 3, then resume
        _forge_partial_lineage(spark, out, tmp_path, keep=2)
        s2 = sink.checkpointed_write(df, out, "bucket", n_buckets=4)
        assert sorted(s2["written_buckets"]) == [2, 3]
        data = spark.read.parquet(os.path.join(out, "data"))
        assert data.count() == 100
        assert data.select("id").distinct().count() == 100
        assert data.where(F.col("_bucket").isNull()).count() == 10
        _assert_lineage_matches_data(spark, out)


class TestMultimodal:
    def test_media_pipeline_rows_and_determinism(self, spark):
        docs = synth_documents(spark, 64, partitions=2).withColumn(
            "doc_id", F.col("doc_id").cast("string")
        )
        n_media = docs.select(
            F.explode(F.filter("spans", lambda s: s["kind"] == F.lit("media")))
        ).count()
        meta = multimodal.media_pipeline(docs)
        rows = meta.collect()
        assert len(rows) == n_media
        assert set(meta.columns) == {
            "doc_id", "media_ref", "media_kind", "n_bytes",
            "content_hash", "oracle_hash", "width", "height", "duration_s",
        }
        # deterministic: same refs → same hashes on a re-run
        again = {r["media_ref"]: r["content_hash"] for r in multimodal.media_pipeline(docs).collect()}
        for r in rows:
            assert again[r["media_ref"]] == r["content_hash"]
        # content_hash is the sha256 of the PAYLOAD BYTES (the public
        # content address — ADVICE r2); oracle_hash is the hex-domain
        # twin the DuckDB oracle mirrors
        import hashlib

        for r in rows[:10]:
            payload = hashlib.sha256(r["media_ref"].encode()).digest() * 4
            assert r["content_hash"] == hashlib.sha256(payload).hexdigest()
            assert r["oracle_hash"] == hashlib.sha256(payload.hex().encode()).hexdigest()

    def test_feature_extraction_shape(self, spark):
        docs = synth_documents(spark, 16, partitions=1).withColumn(
            "doc_id", F.col("doc_id").cast("string")
        )
        spans = multimodal.media_spans(docs)
        feats = multimodal.extract_media_features(
            multimodal.fetch_media_stub(spans), dim=16
        )
        row = feats.limit(1).collect()[0]
        assert len(row["feature"]) == 16
        assert row["decode_ok"] is True

    def test_decode_seam_raises(self):
        with pytest.raises(NotImplementedError):
            multimodal.decode_image(b"\x89PNG")

    def test_resize_images_fixed_shape(self, spark):
        docs = synth_documents(spark, 16, partitions=1).withColumn(
            "doc_id", F.col("doc_id").cast("string")
        )
        spans = multimodal.media_spans(docs)
        out = multimodal.resize_images(
            multimodal.fetch_media_stub(spans), width=32, height=24
        ).collect()
        assert len(out) == len(spans.collect())
        for r in out:
            assert r["width"] == 32 and r["height"] == 24
            assert len(r["pixels"]) == 32 * 24  # fixed-shape tensor per row
            assert r["resize_ok"] is True
        # deterministic: identical payload → identical pixels
        again = multimodal.resize_images(
            multimodal.fetch_media_stub(spans), width=32, height=24
        ).collect()
        assert {r["media_ref"]: bytes(r["pixels"]) for r in out} == {
            r["media_ref"]: bytes(r["pixels"]) for r in again
        }

    def test_sample_frames_counts_and_timing(self, spark):
        import math

        docs = synth_documents(spark, 24, partitions=2).withColumn(
            "doc_id", F.col("doc_id").cast("string")
        )
        spans = multimodal.media_spans(docs)
        fetched = multimodal.fetch_media_stub(spans)
        frames = multimodal.sample_frames(fetched, every_s=10.0, max_frames=8).collect()
        meta = {r["media_ref"]: r for r in multimodal.extract_media_metadata(fetched).collect()}
        by_ref = {}
        for r in frames:
            by_ref.setdefault(r["media_ref"], []).append(r)
        for ref, m in meta.items():
            want = min(8, math.floor(m["duration_s"] / 10.0) + 1)
            got = sorted(by_ref[ref], key=lambda r: r["frame_index"])
            assert len(got) == want, ref
            assert [r["frame_t_s"] for r in got] == [i * 10.0 for i in range(want)]
            assert len({bytes(r["frame"]) for r in got}) == want  # distinct frames


class TestStatefulStreamingDedup:
    def test_dedup_across_micro_batches_with_restart(self, spark, tmp_path):
        """applyInPandasWithState exact dedup: duplicates are dropped
        within a batch, across batches, and across a QUERY RESTART (state
        recovered from the checkpoint)."""
        from geomatics_geotk_spark.streaming.tile_stream import streaming_exact_dedup

        src = str(tmp_path / "src")
        ckpt = str(tmp_path / "ckpt")
        outp = str(tmp_path / "out")
        schema = "doc_id string, text string"

        def run_once():
            stream = spark.readStream.schema(schema).parquet(src)
            q = (
                streaming_exact_dedup(stream)
                .writeStream.format("parquet")
                .option("path", outp)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        # batch 1: alpha (twice — in-batch dup), beta
        spark.createDataFrame(
            [("a1", "alpha"), ("a2", "alpha"), ("b1", "beta")], schema
        ).write.mode("append").parquet(src)
        run_once()

        # batch 2 after restart: alpha again (cross-batch dup) + gamma
        spark.createDataFrame(
            [("a3", "alpha"), ("c1", "gamma")], schema
        ).write.mode("append").parquet(src)
        run_once()

        import hashlib

        rows = spark.read.parquet(outp).collect()
        by_hash = {}
        for r in rows:
            by_hash.setdefault(r["content_hash"], []).append(r["doc_id"])
        h = lambda t: hashlib.md5(t.encode()).hexdigest()  # noqa: E731
        assert sorted(by_hash) == sorted([h("alpha"), h("beta"), h("gamma")])
        # each content hash emitted exactly once, ever
        assert all(len(v) == 1 for v in by_hash.values())
        assert by_hash[h("alpha")][0] in {"a1", "a2"}  # batch-1 winner, not a3
        assert by_hash[h("gamma")] == ["c1"]
