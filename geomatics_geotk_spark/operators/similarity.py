"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k entirely in JVM Column math
(zip_with + aggregate — no Python in the row path).  Scale path:
LSH bucketing via deterministic random-hyperplane signs (signed
projections), turning top-k into a bucket equi-join + local top-k.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .stats import salted_topk


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def _safe_cos(num, den):
    """NaN-safe cosine score: a zero-norm (degenerate) vector has no
    defined cosine; rank it LAST (−2 < any real cosine) instead of
    letting IEEE NaN — which Spark orders GREATEST — displace real
    neighbors from both the coarse pool and the final top-k."""
    return F.when(den > F.lit(0.0), num / den).otherwise(F.lit(-2.0))


def _cosine(a, b):
    """The exact double cosine every ranking and rerank scores with."""
    return _safe_cos(_dot(a, b), _norm(a) * _norm(b))


def _topk_per_query(scored: DataFrame, k: int, q_id_col: str, id_col: str,
                    score_col: str = "cosine", rank_col: str = "rank") -> DataFrame:
    """Per-query top-k by (score desc, id asc) — the salted two-phase
    :func:`stats.salted_topk`, salted by the candidate id's hash."""
    salt = F.pmod(F.xxhash64(F.col(id_col).cast("string"), F.lit(17)), F.lit(16))
    order = [F.col(score_col).desc(), F.col(id_col).asc()]
    return salted_topk(scored, [q_id_col], order, k, salt, rank_col)


def unit_normalize(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Replace ``vec_col`` with its unit-normalized (L2) double vector,
    ONCE PER ROW — pair scoring downstream of a join is then a SINGLE
    dot fold instead of dot + two norm folds; at scale the per-pair cost
    is what multiplies with the candidate volume (the same
    hoist-the-norms move ``ann_topk_ivf_int8`` makes before its cell join).
    The normalize is an Arrow/numpy batch UDF, NOT ``F.transform(x/nv)``:
    higher-order functions are interpreted and CollapseProject re-inlines
    the 64-element norm fold at every downstream reference (once per
    exploded bucket row), which measured minutes-per-500-rows; the UDF
    output is a plain materialized column by the next exchange.
    Zero-norm (degenerate) rows stay zero: their pair dot is 0 and they
    fall below any positive threshold instead of going NaN."""

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def _unit(vecs: pd.Series) -> pd.Series:
        m = np.vstack(vecs.to_numpy()).astype(np.float64)
        n = np.sqrt((m * m).sum(axis=1, keepdims=True))
        np.divide(m, n, out=m, where=n > 0)
        return pd.Series(list(m))

    return df.withColumn(vec_col, _unit(F.col(vec_col)))


def brute_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5,
               id_col: str = "vec_id", q_id_col: str = "q_id",
               vec_col: str = "embedding") -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    queries is the small side (broadcast); the corpus streams through a
    single map stage — dot products in JVM, then a per-query window top-k.
    Ties broken by corpus id for determinism.
    """
    q = queries.select(
        F.col(q_id_col), F.col(vec_col).alias("_qvec")
    )
    scored = embeddings.join(F.broadcast(q)).withColumn(
        "cosine", _cosine(F.col(vec_col), F.col("_qvec"))
    )
    return _topk_per_query(scored, k, q_id_col, id_col).drop("_qvec")


# ---------------------------------------------------------------------------
# LSH-bucketed ANN (random hyperplanes, deterministic)
# ---------------------------------------------------------------------------


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).astype(np.float64)


def with_lsh_tables(df: DataFrame, vec_col: str = "embedding", dim: int = 64,
                    planes_per_table: int = 4, n_tables: int = 16,
                    seed: int = 42, out: str = "buckets") -> DataFrame:
    """array<long> of ``n_tables`` LSH bucket ids per vector (table index
    folded into the high bits) — classic multi-table hyperplane LSH
    OR-amplification.  A neighbor at angle θ shares a table bucket with
    probability (1-θ/π)^b, so recall ≈ 1-(1-p^b)^t; raise
    ``planes_per_table`` (b) with log(corpus) to keep candidate volume
    ~t·n/2^b sublinear, and ``n_tables`` (t) to buy recall."""
    planes = _hyperplanes(dim, planes_per_table * n_tables, seed).reshape(
        n_tables, planes_per_table, dim
    )

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def buckets(vecs: pd.Series) -> pd.Series:
        m = np.vstack(vecs.to_numpy())  # (batch, dim)
        out_rows = np.empty((len(m), n_tables), dtype=np.int64)
        for ti in range(n_tables):
            signs = (m @ planes[ti].T) > 0
            out_rows[:, ti] = (
                (signs.astype(np.int64) << np.arange(planes_per_table, dtype=np.int64)).sum(axis=1)
                | (np.int64(ti) << np.int64(32))
            )
        return pd.Series(list(out_rows))

    return df.withColumn(out, buckets(F.col(vec_col)))


def ann_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5,
             id_col: str = "vec_id", q_id_col: str = "q_id",
             vec_col: str = "embedding", dim: int = 64,
             planes_per_table: int = 4, n_tables: int = 16,
             seed: int = 42) -> DataFrame:
    """Approximate top-k via multi-table hyperplane LSH: candidates =
    corpus rows sharing ANY table bucket with the query, then exact
    cosine + window top-k on the candidates.

    Join shape: both sides explode their ``n_tables`` buckets; the
    (small) query side is broadcast, so the corpus never shuffles and the
    explode is pipelined map-side.  Candidate pairs are deduped before
    the cosine so each pair is scored once.  Measured recall on the
    driver embeddings (weak neighbors, cos≈0.3): ≥0.9 at b=4/t=16 — see
    test_ann_lsh_recall in tests/test_operators_spark.py, which asserts
    it stays there.  For
    corpora where even t·n/2^b candidates is too much (very weak
    similarity at 10^9 rows), use :func:`ann_topk_ivf`.
    """
    # never-null bucket arrays: on the nullable UDF output Spark infers
    # an ``isnotnull`` filter (from the explode and the bucket match
    # below) that evaluates the bucket UDF a second time in its own Arrow
    # operator; a null array explodes to no row either way
    nonnull = F.coalesce("buckets", F.array().cast("array<bigint>"))
    corpus = with_lsh_tables(embeddings, vec_col, dim, planes_per_table, n_tables, seed) \
        .withColumn("buckets", nonnull)
    q = with_lsh_tables(queries, vec_col, dim, planes_per_table, n_tables, seed) \
        .withColumn("buckets", nonnull)
    ce = corpus.select(
        id_col, vec_col, "buckets", F.explode("buckets").alias("bucket")
    )
    qe = q.select(
        F.col(q_id_col), F.col(vec_col).alias("_qvec"),
        F.col("buckets").alias("_qbuckets"), F.explode("buckets").alias("bucket"),
    )
    # a pair sharing s table buckets appears s times after the explode
    # join; keep only the occurrence at the MINIMAL shared bucket — a
    # map-side Column filter (both bucket arrays ride the pipelined
    # broadcast join), replacing the dropDuplicates that used to shuffle
    # the entire candidate set a second time (r5).
    pairs = (
        ce.join(F.broadcast(qe), "bucket")
        .where(F.col("bucket")
               == F.array_min(F.array_intersect("buckets", "_qbuckets")))
        .drop("buckets", "_qbuckets")
    )
    scored = pairs.withColumn("cosine", _cosine(F.col(vec_col), F.col("_qvec")))
    return _topk_per_query(scored, k, q_id_col, id_col).drop("_qvec", "bucket")


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — coarse quantizer + probed cells
# ---------------------------------------------------------------------------


def learn_centroids(embeddings: DataFrame, n_centroids: int = 256,
                    vec_col: str = "embedding", iters: int = 3,
                    sample_rows: int = 20_000, seed: int = 42) -> np.ndarray:
    """Spherical k-means on a bounded DRIVER-SIDE SAMPLE (standard IVF
    practice: the coarse quantizer trains on ~10^4 rows no matter the
    corpus size; assignment stays fully distributed).  Deterministic:
    hash-ordered sample, fixed iterations."""
    pdf = (
        embeddings.select(F.xxhash64(F.to_json(F.struct(vec_col))).alias("_h"), vec_col)
        .orderBy("_h")
        .limit(sample_rows)
        .toPandas()
    )
    m = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    nonzero = norms[:, 0] > 0  # a zero vector has no direction to train on
    m = m[nonzero] / norms[nonzero]
    c = min(n_centroids, len(m))
    cent = m[:: max(1, len(m) // c)][:c].copy()
    for _ in range(iters):
        assign = (m @ cent.T).argmax(axis=1)
        for ci in range(len(cent)):
            mask = assign == ci
            if mask.any():
                v = m[mask].mean(axis=0)
                cent[ci] = v / np.linalg.norm(v)
    return cent


def with_ivf_cell(df: DataFrame, centroids: np.ndarray,
                  vec_col: str = "embedding", nprobe: int = 1,
                  out: str = "cells") -> DataFrame:
    """array<int> of the ``nprobe`` nearest centroid ids per vector
    (nprobe=1 for corpus assignment, >1 for query probing)."""
    cent = centroids

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def cells_of(vecs: pd.Series) -> pd.Series:
        m = np.vstack(vecs.to_numpy())
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-30)
        sims = m @ cent.T
        top = np.argsort(-sims, axis=1)[:, :nprobe].astype(np.int32)
        return pd.Series(list(top))

    return df.withColumn(out, cells_of(F.col(vec_col)))


def _corpus_cell() -> Column:
    """A corpus row's one IVF cell as a never-null join key: on a nullable
    key Spark infers an ``isnotnull`` filter that evaluates the cell UDF a
    second time in its own Arrow operator; -1 matches no probed cell."""
    return F.coalesce(F.element_at("cells", 1), F.lit(-1)).alias("cell")


def ann_topk_ivf(embeddings: DataFrame, queries: DataFrame, k: int = 5,
                 id_col: str = "vec_id", q_id_col: str = "q_id",
                 vec_col: str = "embedding", n_centroids: int = 256,
                 nprobe: int = 8, centroids: np.ndarray | None = None) -> DataFrame:
    """IVF ANN: corpus partitioned into centroid cells (ONE int per row —
    this is the layout you'd persist/bucket the 100 TB table by), query
    probes its ``nprobe`` nearest cells.  Candidate fraction ≈
    nprobe/n_centroids regardless of similarity structure — the scale
    path when multi-table LSH candidates blow up."""
    if centroids is None:
        centroids = learn_centroids(embeddings, n_centroids, vec_col)
    corpus = with_ivf_cell(embeddings, centroids, vec_col, nprobe=1).select(
        id_col, vec_col, _corpus_cell()
    )
    q = with_ivf_cell(queries, centroids, vec_col, nprobe=nprobe).select(
        F.col(q_id_col), F.col(vec_col).alias("_qvec"), F.explode("cells").alias("cell")
    )
    scored = corpus.join(F.broadcast(q), "cell").withColumn(
        "cosine", _cosine(F.col(vec_col), F.col("_qvec"))
    )
    return _topk_per_query(scored, k, q_id_col, id_col).drop("_qvec", "cell")


def embedding_near_dups(embeddings: DataFrame, threshold: float = 0.95,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        dim: int = 64, planes_per_table: int = 12,
                        n_tables: int = 16, seed: int = 42) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via MULTI-TABLE LSH self-join.

    Recall contract (r4 verdict item 2): a single-table b-plane bucket
    join finds a true pair at angle θ with probability only (1−θ/π)^b —
    at the cosine-0.95 boundary (θ≈0.318, p≈0.899) an 8-plane table
    catches just 42% of true pairs.  OR-amplification over ``n_tables``
    independent tables lifts recall to 1−(1−p^b)^t: at the defaults
    b=12/t=16 the modeled recall is ≥0.994 at cosine 0.95 (p^b≈0.278)
    and ≥1−1e-12 at cosine 0.999, while candidate volume stays
    ~t·n²/2^b = n²/256 per self-join — the same volume as the old
    single-8-plane join with ~2.4× its boundary recall.  Candidate pairs
    are deduped across tables BEFORE the exact cosine so each pair is
    scored once; precision is exact (every emitted pair passes the true
    cosine filter)."""
    c = with_lsh_tables(embeddings, vec_col, dim, planes_per_table, n_tables, seed)
    c = unit_normalize(c, vec_col)
    a = c.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
        F.col("buckets").alias("_ba"), F.explode("buckets").alias("bucket"),
    )
    b = c.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
        F.col("buckets").alias("_bb"), F.explode("buckets").alias("bucket"),
    )
    # each pair scored once: keep only the join occurrence at the pair's
    # MINIMAL shared bucket — a map-side filter on the carried bucket
    # arrays, replacing a dropDuplicates that re-shuffled every candidate
    # pair (r5); the arrays add ~25% to the bucket-join payload and
    # remove a full pair-set exchange.
    pairs = (
        a.join(b, "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .where(F.col("bucket") == F.array_min(F.array_intersect("_ba", "_bb")))
        .drop("_ba", "_bb")
    )
    pairs = pairs.withColumn("cosine", _dot(F.col("va"), F.col("vb")))
    return pairs.where(F.col("cosine") >= threshold).select("id_a", "id_b", "cosine")


def semantic_dedup(embeddings: DataFrame, k: int = 4, iters: int = 3,
                   threshold: float = 0.95, id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs: k-means clusters as
    the blocking key, exact pairwise cosine WITHIN each cluster only
    (Abbas et al. 2023, "SemDeDup" — the LAION-scale curation recipe).

    Contract: emits every pair (id_a < id_b) whose members land in the
    SAME final k-means cluster and whose exact cosine ≥ ``threshold``.
    Precision is exact; recall is bounded by the clustering — a true
    pair split across cluster boundaries is NOT emitted (the documented
    SemDeDup trade: candidate volume drops from n² to Σ nᵢ² ≈ n²/k).
    For a recall-contracted alternative use
    :func:`embedding_near_dups` (multi-table LSH OR-amplification).

    Scale shape: the k-means assignment is map-only against broadcast
    centroid literals (see operators/clustering.py), evaluated once per
    row; ONE exchange groups rows by ``cluster`` and each cluster's
    pairs come out of a blocked numpy matmul over the grouped batch
    (``applyInPandas``) — a BLAS triangle per cluster instead of a
    self-join whose 2·|cluster|² interpreted 64-element dot folds
    dominated the wall clock (measured 9.7 s → ~2 s at 4,100 vectors).
    Block size bounds the score-matrix memory at B² regardless of
    cluster size.  The per-cluster work is quadratic by design — k is
    the knob (SemDeDup uses k ≈ n/expected-cluster-size; at 10^9+ rows
    pick k so clusters hold ~10^4-10^5 rows, which also bounds the
    grouped batch each task materializes).  A runaway hot cluster
    composes with the LSH tables of :func:`embedding_near_dups`
    (cluster AND bucket as the grouping key) — same cap pattern as
    ``dedup.cap_buckets``.
    """
    from . import clustering

    assigned, _ = clustering.kmeans(
        embeddings, k=k, iters=iters, vec_col=vec_col, id_col=id_col
    )
    unit = unit_normalize(
        assigned.select(id_col, "cluster", F.col("_v").alias(vec_col)), vec_col
    )
    schema = T.StructType([
        T.StructField("cluster", T.IntegerType()),
        T.StructField("id_a", unit.schema[id_col].dataType),
        T.StructField("id_b", unit.schema[id_col].dataType),
        T.StructField("cosine", T.DoubleType()),
    ])
    block = 2048

    def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids)  # id_a < id_b falls out of the ordering
        ids = ids[order]
        m = np.vstack(pdf[vec_col].to_numpy())[order]
        cl = int(pdf["cluster"].iloc[0])
        out_a, out_b, out_c = [], [], []
        n = len(ids)
        for i0 in range(0, n, block):
            mi = m[i0:i0 + block]
            for j0 in range(i0, n, block):
                sims = mi @ m[j0:j0 + block].T
                ii, jj = np.nonzero(sims >= threshold)
                gi, gj = ii + i0, jj + j0
                keep = gi < gj
                out_a.append(ids[gi[keep]])
                out_b.append(ids[gj[keep]])
                out_c.append(sims[ii[keep], jj[keep]])
        a = np.concatenate(out_a) if out_a else np.array([], dtype=ids.dtype)
        b = np.concatenate(out_b) if out_b else np.array([], dtype=ids.dtype)
        c = np.concatenate(out_c) if out_c else np.array([], dtype=np.float64)
        return pd.DataFrame({
            "cluster": np.full(len(a), cl, dtype=np.int32),
            "id_a": a, "id_b": b, "cosine": c,
        })

    return unit.groupBy("cluster").applyInPandas(_pairs, schema)


# ---------------------------------------------------------------------------
# int8-quantized scoring (scan-pass compression) + exact rerank
# ---------------------------------------------------------------------------


def quantize_int8(df: DataFrame, vec_col: str = "embedding",
                  qvec_col: str = "qvec") -> DataFrame:
    """Per-vector symmetric int8 quantization: scale = 127/max|v_i|,
    q_i = round(v_i · scale).  Direction is preserved to ~0.4% per lane,
    which is what quantized COSINE scoring needs (the scale cancels in
    the cosine), and the quantized column is 4x narrower than float32 /
    8x than float64 — the scan-pass bandwidth win that pays at 10^9+
    rows.  Pure Column math (aggregate + transform), no Python."""
    v = F.col(vec_col)
    mx = F.aggregate(v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x)))
    scale = F.when(mx > F.lit(0.0), F.lit(127.0) / mx).otherwise(F.lit(0.0))
    return df.withColumn(
        qvec_col, F.transform(v, lambda x: F.round(x * scale).cast("int"))
    )


def _idot(a, b):
    """Integer dot product (long accumulator: 127²·dim ≪ 2^63)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — byte codes + ADC lookup scoring
# ---------------------------------------------------------------------------


def learn_pq_codebooks(embeddings: DataFrame, m: int = 8, n_codes: int = 256,
                       vec_col: str = "embedding", dim: int = 64,
                       iters: int = 5, sample_rows: int = 20_000,
                       seed: int = 42) -> np.ndarray:
    """Per-subspace codebooks ``(m, n_codes, dim/m)`` for product
    quantization, trained by k-means on a bounded DRIVER-SIDE sample of
    UNIT-NORMALIZED vectors (same contract as :func:`learn_centroids`:
    the codebook trains on ~10^4 rows regardless of corpus size;
    encoding stays fully distributed).  Deterministic: hash-ordered
    sample, stride init, fixed iterations."""
    if dim % m:
        raise ValueError(f"learn_pq_codebooks: dim {dim} not divisible by m {m}")
    dsub = dim // m
    pdf = (
        embeddings.select(F.xxhash64(F.to_json(F.struct(vec_col))).alias("_h"), vec_col)
        .orderBy("_h")
        .limit(sample_rows)
        .toPandas()
    )
    mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
    n = np.linalg.norm(mat, axis=1, keepdims=True)
    np.divide(mat, n, out=mat, where=n > 0)
    books = np.empty((m, min(n_codes, len(mat)), dsub), dtype=np.float64)
    for s in range(m):
        sub = mat[:, s * dsub:(s + 1) * dsub]
        c = books.shape[1]
        cent = sub[:: max(1, len(sub) // c)][:c].copy()
        for _ in range(iters):
            # squared-L2 assignment: |x-c|² = |x|² - 2x·c + |c|² — the
            # |x|² term is constant per row, so argmin over (|c|²-2x·c)
            d2 = (cent * cent).sum(axis=1)[None, :] - 2.0 * (sub @ cent.T)
            assign = d2.argmin(axis=1)
            for ci in range(c):
                mask = assign == ci
                if mask.any():
                    cent[ci] = sub[mask].mean(axis=0)
        books[s] = cent
    return books


def with_pq_codes(df: DataFrame, codebooks: np.ndarray,
                  vec_col: str = "embedding", out: str = "codes") -> DataFrame:
    """array<int> of ``m`` PQ code ids per vector (nearest codebook
    entry per subspace of the unit-normalized vector) — Arrow batch
    encode; at rest the codes column is m small ints vs dim floats, the
    32-64x compression that makes a 100 TB vector corpus scannable."""
    books = codebooks
    m, _, dsub = books.shape

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def encode(vecs: pd.Series) -> pd.Series:
        mat = np.vstack(vecs.to_numpy()).astype(np.float64)
        n = np.linalg.norm(mat, axis=1, keepdims=True)
        np.divide(mat, n, out=mat, where=n > 0)
        out_codes = np.empty((len(mat), m), dtype=np.int32)
        for s in range(m):
            sub = mat[:, s * dsub:(s + 1) * dsub]
            d2 = (books[s] * books[s]).sum(axis=1)[None, :] - 2.0 * (sub @ books[s].T)
            out_codes[:, s] = d2.argmin(axis=1)
        return pd.Series(list(out_codes))

    return df.withColumn(out, encode(F.col(vec_col)))


def ann_topk_ivf_pq(embeddings: DataFrame, queries: DataFrame, k: int = 5,
                    pool: int = 50, id_col: str = "vec_id",
                    q_id_col: str = "q_id", vec_col: str = "embedding",
                    m: int = 8, n_codes: int = 256, dim: int = 64,
                    n_centroids: int = 256, nprobe: int = 8,
                    centroids: np.ndarray | None = None,
                    codebooks: np.ndarray | None = None) -> DataFrame:
    """IVF + PQ composition (the FAISS ``IVFx,PQy`` layout): coarse cell
    pruning bounds the scan fraction at nprobe/n_centroids, ADC scoring
    over byte codes bounds the scan WIDTH at m bytes/row (PQ at m=8 over
    64 float64 lanes is 64× narrower; int8 is 4-8×), and the exact
    rerank touches only pool·|queries| rows fetched by id join-back.
    The stored 100 TB table this models carries exactly (id, cell,
    codes) — bucket/partition by ``cell`` and the probe join needs zero
    exchange on the corpus.  With ``n_centroids=1, nprobe=1`` every row
    shares cell 0 and this is the plain PQ scan of the whole corpus.

    Stage 1 (ADC — asymmetric distance computation): each query
    precomputes one lookup table ``lut[s·n_codes + c] = q_sub(s) ·
    codebook[s][c]`` (an Arrow batch over the small query side); the
    corpus scan then scores every probed row with ``Σ_s lut[codes[s]]``
    — JVM Column math (zip_with index + element_at + aggregate over m
    lanes), NO float vectors and NO Python in the corpus path.  Both
    sides are unit-normalized (corpus at encode time, query at LUT
    build), so the score is the cosine up to quantization.

    Stage 2: the per-query candidate ``pool`` (salted two-phase
    top-``pool`` on the ADC score) JOINS BACK to the vector store by id
    for the exact double cosine — the scan pass never carries the float
    vectors, and the join-back probe side is ≤ pool·|queries| rows, so
    AQE broadcasts it into the store scan.  Final ranks use the same
    expression as :func:`brute_topk`: results hash-match the
    brute-force oracle whenever cell + pool retain the true top-k."""
    if centroids is None:
        centroids = learn_centroids(embeddings, n_centroids, vec_col)
    if codebooks is None:
        codebooks = learn_pq_codebooks(embeddings, m, n_codes, vec_col, dim)
    books = codebooks
    mm, n_codes_eff, dsub = books.shape

    corpus = with_pq_codes(
        with_ivf_cell(embeddings, centroids, vec_col, nprobe=1), books, vec_col
    ).select(id_col, "codes", _corpus_cell())

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def lut_of(vecs: pd.Series) -> pd.Series:
        mat = np.vstack(vecs.to_numpy()).astype(np.float64)
        n = np.linalg.norm(mat, axis=1, keepdims=True)
        np.divide(mat, n, out=mat, where=n > 0)
        luts = np.empty((len(mat), mm * n_codes_eff), dtype=np.float64)
        for s in range(mm):
            sub = mat[:, s * dsub:(s + 1) * dsub]
            luts[:, s * n_codes_eff:(s + 1) * n_codes_eff] = sub @ books[s].T
        return pd.Series(list(luts))

    q = with_ivf_cell(queries, centroids, vec_col, nprobe=nprobe).select(
        q_id_col, F.col(vec_col).alias("_qvec"),
        lut_of(F.col(vec_col)).alias("_lut"), F.explode("cells").alias("cell"),
    )
    idx = F.sequence(F.lit(0), F.lit(mm - 1))
    adc = F.aggregate(
        F.zip_with(
            F.col("codes"), idx,
            lambda c, s: F.element_at("_lut", (s * n_codes_eff + c + 1).cast("int")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = corpus.join(F.broadcast(q), "cell").withColumn("_adc", adc)
    cand = _topk_per_query(
        scored, pool, q_id_col, id_col, score_col="_adc", rank_col="_crank"
    ).select(q_id_col, id_col, "_qvec")
    store = embeddings.select(F.col(id_col).alias("_sid"), F.col(vec_col).alias("_svec"))
    rer = cand.join(store, cand[id_col] == store["_sid"]).withColumn(
        "cosine", _cosine(F.col("_svec"), F.col("_qvec"))
    )
    return _topk_per_query(rer, k, q_id_col, id_col).drop("_qvec", "_svec", "_sid")


def ann_topk_ivf_int8(embeddings: DataFrame, queries: DataFrame, k: int = 5,
                      pool: int = 50, id_col: str = "vec_id",
                      q_id_col: str = "q_id", vec_col: str = "embedding",
                      n_centroids: int = 256, nprobe: int = 8,
                      centroids: np.ndarray | None = None) -> DataFrame:
    """IVF + int8 composition — the actual 100 TB retrieval plan.

    Three stages, each shrinking the candidate set before the next
    touches it:

    1. **IVF cell pruning**: corpus rows carry ONE centroid cell (the
       bucketing/partition layout the stored table would use), queries
       probe their ``nprobe`` nearest cells — candidate fraction ≈
       nprobe/n_centroids of the corpus, via a broadcast equi-join (the
       corpus never shuffles).
    2. **int8 coarse scoring**: the surviving candidates are scored with
       the integer dot product over per-row symmetric int8 quantization
       — the scan-side column is 4-8× narrower than the float vector —
       and a salted two-phase top-``pool`` keeps a bounded pool per
       query.
    3. **exact rerank**: the pool (≤ pool rows/query) is rescored with
       the exact double cosine; final ranks use the same expression as
       :func:`brute_topk`, so results hash-match the brute-force oracle
       whenever cell + pool retain the true top-k.

    The int8 pass never sees rows outside the probed cells, and unlike
    :func:`ann_topk_ivf` the float vectors of non-pool candidates are
    never folded — only quantized ints are.  With ``n_centroids=1,
    nprobe=1`` every row (the zero vector included) shares cell 0 and
    this is the plain int8 scan of the whole corpus.
    """
    if centroids is None:
        centroids = learn_centroids(embeddings, n_centroids, vec_col)
    # per-side norms are projected BEFORE the join: the O(dim) fold runs
    # once per corpus row and once per query, not once per pair
    cq = quantize_int8(
        with_ivf_cell(embeddings, centroids, vec_col, nprobe=1), vec_col
    ).select(
        id_col, vec_col, "qvec", _corpus_cell(),
        F.sqrt(_idot(F.col("qvec"), F.col("qvec")).cast("double")).alias("_qnorm_c"),
    )
    qq = quantize_int8(
        with_ivf_cell(queries, centroids, vec_col, nprobe=nprobe), vec_col, "qq"
    ).select(
        q_id_col, F.col(vec_col).alias("_qvec"), "qq",
        F.sqrt(_idot(F.col("qq"), F.col("qq")).cast("double")).alias("_qnorm_q"),
        F.explode("cells").alias("cell"),
    )
    scored = cq.join(F.broadcast(qq), "cell").withColumn(
        "_coarse",
        _safe_cos(
            _idot(F.col("qvec"), F.col("qq")).cast("double"),
            F.col("_qnorm_c") * F.col("_qnorm_q"),
        ),
    )
    cand = _topk_per_query(
        scored, pool, q_id_col, id_col, score_col="_coarse", rank_col="_crank"
    )
    rer = cand.withColumn("cosine", _cosine(F.col(vec_col), F.col("_qvec")))
    return _topk_per_query(rer, k, q_id_col, id_col).drop(
        "_qvec", "qvec", "qq", "cell", "_coarse", "_crank", "_qnorm_c", "_qnorm_q"
    )
