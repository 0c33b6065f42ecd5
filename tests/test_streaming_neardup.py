"""Stream-static LSH near-dup detection (streaming/neardup_stream.py).

Cross-impl: the per-row Column signature path (the stream side) must
reproduce the corpus index, built from the batch explode+groupBy
signature, bit-for-bit; streaming: planted near-dups of corpus docs must
be flagged, fresh docs must not.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from geomatics_geotk_spark.streaming import neardup_stream


def _corpus_rows():
    # deterministic word-soup docs, 40 tokens each, mutually dissimilar
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    rows = []
    for i in range(20):
        toks = [words[(i * 7 + j * (i + 3)) % len(words)] + str((i + j) % 13)
                for j in range(40)]
        rows.append((i, " ".join(toks)))
    return rows


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(_corpus_rows(), "doc_id long, text string")


class TestColumnSignatureParity:
    def test_bands_match_batch_pipeline(self, spark, corpus):
        """The stream side (minhash_bands: per-row folds, no
        aggregation) must emit exactly the (id, band, band_hash) rows of
        the corpus index, which the batch explode+groupBy signature
        builds — the stream-static join rests on this.  Both hash
        backends; includes whitespace tokenization edges (leading,
        trailing and repeated spaces, one- and two-token docs) and
        content-free docs, which emit no rows on either side."""
        edge = spark.createDataFrame(
            [(100, "  leading space"), (101, "trailing space  "),
             (102, "a  b"), (103, "one"), (104, "two tok"),
             (105, None), (106, "")],
            "doc_id long, text string",
        )
        both = corpus.unionByName(edge)
        for hash_fn in ("md5", "xxhash64"):
            fold = {
                tuple(r)
                for r in neardup_stream.minhash_bands(both, hash_fn=hash_fn).collect()
            }
            index = {
                tuple(r)
                for r in neardup_stream.corpus_band_index(both, hash_fn=hash_fn).collect()
            }
            assert len(fold) == 25 * 8, hash_fn
            assert fold == index, hash_fn

    def test_index_skips_the_id_restore(self, corpus):
        """The corpus index bands the signature's lanes aggregate
        directly: no left join restoring one row per id (whose NULL-lane
        rows would band to nothing), and no distinct aggregate for it."""
        plan = neardup_stream.corpus_band_index(corpus)._jdf.queryExecution().executedPlan().toString()
        assert "LeftOuter" not in plan
        assert plan.count("HashAggregate") == 2  # the lanes' partial and final


class TestStreamingNearDup:
    def test_planted_neardups_flagged(self, spark, corpus, tmp_path):
        rows = _corpus_rows()
        near3 = rows[3][1].rsplit(" ", 1)[0] + " changed"   # ~1 token off doc 3
        copy7 = rows[7][1]                                   # exact copy of doc 7
        fresh = " ".join(f"unseen{j}word{j * j % 97}" for j in range(40))
        stream_rows = [(103, near3), (107, copy7), (200, fresh)]
        inp = str(tmp_path / "in")
        spark.createDataFrame(stream_rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(inp)

        index = neardup_stream.corpus_band_index(corpus)
        stream = spark.readStream.schema("doc_id long, text string").parquet(inp)
        assert stream.isStreaming
        cand = neardup_stream.streaming_neardup_candidates(stream, index)
        q = (
            cand.writeStream.format("memory")
            .queryName("t_neardup")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {
            (r["doc_id"], r["corpus_id"])
            for r in spark.sql("SELECT DISTINCT doc_id, corpus_id FROM t_neardup").collect()
        }
        assert (103, 3) in got, "near-dup of corpus doc 3 must be flagged"
        assert (107, 7) in got, "exact copy of corpus doc 7 must be flagged"
        assert not any(d == 200 for d, _ in got), "fresh doc must not match"

    def test_stream_plan_is_stateless_broadcast(self, spark, corpus, tmp_path):
        """The streaming side of the join must contain no aggregation
        (stateless append) and join the batch-built index via
        broadcast."""
        inp = str(tmp_path / "in2")
        spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string").write.mode(
            "overwrite"
        ).parquet(inp)
        stream = spark.readStream.schema("doc_id long, text string").parquet(inp)
        cand = neardup_stream.streaming_neardup_candidates(
            stream, neardup_stream.corpus_band_index(corpus)
        )
        join = cand._jdf.queryExecution().analyzed()
        while join.getClass().getSimpleName() != "Join":
            join = join.children().apply(0)
        stream_side, index_side = join.left(), join.right()
        assert stream_side.isStreaming() and not index_side.isStreaming()
        assert "Aggregate" not in stream_side.toString(), (
            "stream side of the join must be aggregation-free"
        )
        # the corpus index is a batch table: its signature aggregates
        assert "Aggregate" in index_side.toString()
        assert "strategy=broadcast" in index_side.toString()
