"""Streaming near-duplicate detection: stream-static LSH.

The batch minhash pipeline (``operators/dedup.py``) computes signatures
with explode + groupBy — an aggregation, which an append-mode streaming
plan cannot run statelessly.  Here the stream side's signature is a
pure per-row Column program (one base-hash fold plus 32 affine lane
minima over the shingle array), so the stream stays stateless end to
end:

    scan → project (signature) → explode bands → stream-static
    equi-join against the corpus band index

The corpus side of a stream-static join is a batch table, so its index
is built by the batch pipeline (the lanes aggregate of
:func:`operators.dedup.minhash_signature`, whole-stage codegen'd, where
the per-row fold evaluates interpreted).
Both signatures share the base hash (:func:`operators.dedup._base_hash`)
and affine lane params (:func:`operators.dedup.minhash_lane_params`),
and both go through the one band builder
(:func:`operators.dedup.lsh_bands`), so the two sides emit bit-identical
band rows; a cross-impl test asserts equality.

100 TB shape: the corpus index is (corpus_id, band, band_hash) — longs
only, ~3 rows per corpus doc at 8 bands after bucket capping.  For a
dimension-sized reference corpus it broadcasts (each micro-batch joins
map-side, zero stream shuffle); for a corpus-scale index, drop the
broadcast hint and Spark shuffles only the micro-batch side against a
pre-partitioned static side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import (
    MINHASH_P,
    _base_hash,
    _minhash_lanes,
    _shingles_of_tokens,
    cap_buckets,
    lsh_bands,
    minhash_lane_params,
)


def minhash_bands(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id_col, band, band_hash) via per-row Column folds — NO
    aggregation, so it runs identically on static and streaming
    DataFrames (and shuffle-free in batch).  Empty shingles ('' — the
    NULL/empty-text case) are filtered BEFORE the fold, matching the
    batch ``minhash_signature`` contract and its DuckDB oracle:
    content-free docs emit no band rows at all, so they can never form
    the O(k²) spurious empty-doc candidate clique.
    """
    # ALL 32 lane minima in ONE F.aggregate pass over the shingle array.
    # 32 separate array_min(transform(_b, ...)) columns would each inline
    # the base-hash transform after projection collapse — the md5/xxhash
    # of every shingle evaluated 32x (measured 15x slower at sf0.01).
    # Here the base hash binds to the aggregate's lambda variable, so it
    # is computed exactly once per shingle.
    params = [minhash_lane_params(i) for i in range(n_hashes)]
    p = F.lit(MINHASH_P)

    def _merge(acc, h):
        return F.array(
            *[
                F.least(F.element_at(acc, i + 1), (F.lit(a) * h + F.lit(b)) % p)
                for i, (a, b) in enumerate(params)
            ]
        )

    sig = (
        df.withColumn("_toks", F.split(F.col(text_col), r"\s+"))
        .withColumn(
            "_sh",
            F.filter(
                _shingles_of_tokens(F.col("_toks"), shingle_n),
                lambda s: F.trim(s) != "",
            ),
        )
        .where(F.size("_sh") > 0)
        .withColumn(
            "minhash",
            F.aggregate(
                F.transform("_sh", lambda s: _base_hash(s, hash_fn)),
                F.array(*[p.cast("long") for _ in range(n_hashes)]),
                _merge,
            ),
        )
    )
    return lsh_bands(sig, id_col, n_hashes, bands, hash_fn)


def corpus_band_index(
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int | None = 10_000,
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Static LSH index over the reference corpus, renamed to
    ``corpus_id`` and hot-bucket capped (a degenerate boilerplate bucket
    would otherwise match every incoming doc).  The corpus is a batch
    table, so the signature is the batch explode+groupBy one (its lanes
    only: a doc without them has no band either way); the keyword
    arguments must match the stream side's :func:`minhash_bands`."""
    sig = _minhash_lanes(corpus, text_col, n_hashes, shingle_n, id_col, hash_fn)
    idx = lsh_bands(sig, id_col, n_hashes, bands, hash_fn).withColumnRenamed(
        id_col, "corpus_id"
    )
    if max_bucket is not None:
        idx = cap_buckets(idx, ["band", "band_hash"], max_bucket)
    return idx


def streaming_neardup_candidates(
    stream: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_index: bool = True,
    **kw,
) -> DataFrame:
    """Candidate (doc_id, corpus_id, band) matches for each incoming doc
    against the static corpus index — a stateless stream-static
    equi-join on (band, band_hash).  Raw band-level candidates are
    emitted (one row per shared band); dedup/aggregation is the
    downstream consumer's choice of output mode.
    """
    bands = minhash_bands(stream, text_col, id_col, **kw)
    idx = F.broadcast(index) if broadcast_index else index
    return bands.join(idx, ["band", "band_hash"]).select(
        id_col, "corpus_id", "band"
    )
