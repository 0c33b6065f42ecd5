"""Deduplication operators for training-data pipelines.

Exact, MinHash+LSH, SimHash, and n-gram-Jaccard near-dup — each designed
shuffle-light: candidate generation is an equi-join on a compact key
(hash / band / shingle), never an O(N²) comparison.  JVM Column
expressions wherever the math allows (exact, minhash, jaccard);
SimHash's 64-lane bit accumulation is a vectorized numpy kernel.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


# ---------------------------------------------------------------------------
# Exact dedup — hash-groupBy, keeper = min(id) per content group
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per distinct text, keeping the smallest id (deterministic)."""
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col).asc())
    return df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")


def exact_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per duplicate-content group: (content_hash, n_dups, keeper_id)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(F.count("*").alias("n_dups"), F.min(id_col).alias("keeper_id"))
        .where(F.col("n_dups") > 1)
    )


# ---------------------------------------------------------------------------
# Shingles (word n-grams) — shared by minhash / jaccard
# ---------------------------------------------------------------------------


def _shingles_of_tokens(toks, n: int):
    """Distinct word n-grams from a materialized token-array column.

    The token array MUST be a real column, not an inline ``split``
    expression: higher-order lambdas are interpreted, and an inlined
    split would re-run its regex for every element_at reference of every
    gram (measured 10x slowdown).
    """
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    # try_element_at: out-of-range gram positions (docs shorter than n
    # tokens) yield NULL — concat_ws skips NULLs, matching the DuckDB
    # oracle — instead of throwing under ANSI mode
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.try_element_at(toks, (i + j + 1).cast("int")) for j in range(n)])
    )
    return F.array_distinct(grams)


def with_shingles(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    return (
        df.withColumn("_toks", F.split(F.col(text_col), r"\s+"))
        .withColumn("shingles", _shingles_of_tokens(F.col("_toks"), n))
        .drop("_toks")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------


def md5_long15(col) -> Column:
    """The DuckDB-mirrorable 60-bit hash: first 15 md5 hex chars as a
    long — SQL twin ``('0x' || substr(md5(x), 1, 15))::BIGINT``.  The
    ONE definition every oracle-checked md5 hash path must share (lane
    hashes, base hashes, fingerprints, bucket ids, window hashes): the
    15-char width and base-16 conversion must match the oracle literal
    everywhere, so don't inline this idiom."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


# Affine minhash permutation family: lane_i(x) = (a_i·x + b_i) mod P over
# ONE base hash per shingle — the classic universal-hashing minhash
# construction.  One md5/xxhash64 call per shingle instead of n_hashes
# calls (the 32-lane variant spent >2x the whole query's time in hashing).
# P < 2^31 keeps every product < 2^62: no BIGINT overflow in Spark
# (which would wrap silently) or DuckDB (which would error), so the SQL
# oracle replays the arithmetic bit-for-bit.
MINHASH_P = 2_147_483_647  # 2^31 - 1 (prime)


def minhash_lane_params(i: int) -> tuple[int, int]:
    """Deterministic (a_i, b_i) for affine lane i, a_i ∈ [1, P)."""
    a = (i * 2_654_435_761 + 0x9E3779B1) % MINHASH_P
    if a == 0:
        a = 1
    b = (i * 40_503 + 17) % MINHASH_P
    return a, b


def _base_hash(shingle, hash_fn: str):
    """Non-negative base hash < P, once per shingle."""
    if hash_fn == "xxhash64":
        return F.pmod(F.xxhash64(shingle), F.lit(MINHASH_P))
    if hash_fn == "md5":
        return F.pmod(md5_long15(shingle), F.lit(MINHASH_P))
    raise ValueError(f"unknown hash_fn: {hash_fn}")


def minhash_signature(df: DataFrame, text_col: str = "text", n_hashes: int = 32,
                      shingle_n: int = 3, id_col: str = "doc_id",
                      hash_fn: str = "xxhash64") -> DataFrame:
    """(id_col, minhash: array<bigint>) — per lane i, min over shingles
    of the affine permutation (a_i·base(shingle) + b_i) mod P
    (:data:`MINHASH_P`, :func:`minhash_lane_params`); ``base`` is ONE
    md5/xxhash64 call per shingle.

    Shape: explode the gram INDEX sequence (cheap JVM Generate), build
    each gram with top-level concat_ws/try_element_at (whole-stage
    codegen — no interpreted transform lambda; measured 7x at sf0.1),
    then one hash-agg on id_col with 32 ``min`` lanes.  Map-side partial
    aggregation collapses each doc to one row per partition before the
    exchange, so shuffle volume is docs × n_hashes longs, not
    docs × shingles.

    Contract: returns exactly (id_col, minhash) — one row per DISTINCT
    input id, including docs whose text is NULL/shingle-free (their
    ``minhash`` lanes are NULL; LSH banding must skip them).  Empty
    grams ('' — the NULL/empty-text case) are FILTERED before hashing
    so content-free docs genuinely carry NULL lanes: without the
    filter, k empty docs would share one signature and band into an
    O(k²) spurious candidate clique.  The md5 oracle chain applies the
    same ``shingle <> ''`` filter.  Non-id input columns are not
    carried — join them back on id_col if needed.
    """
    sig = _minhash_lanes(df, text_col, n_hashes, shingle_n, id_col, hash_fn)
    # docs with NULL text (null shingle array) vanish from the explode —
    # restore the one-row-per-input-id contract with null lanes
    ids = df.select(id_col).distinct()
    return ids.join(sig, id_col, "left")


def _minhash_lanes(df: DataFrame, text_col: str, n_hashes: int, shingle_n: int,
                   id_col: str, hash_fn: str) -> DataFrame:
    """(id_col, minhash) of the docs with at least one non-empty
    shingle, one row per id (the aggregate of :func:`minhash_signature`
    without its restore join).  What the band builders read:
    :func:`lsh_bands` emits nothing for the rows the restore adds, so
    they skip its second scan, distinct aggregate and join.  Rows with a
    NULL id are left out, as the restore's join leaves them without
    lanes."""
    df = df.where(F.col(id_col).isNotNull())
    # Gram building stays entirely inside whole-stage codegen: explode
    # the INDEX sequence (a cheap JVM Generate) and assemble each gram
    # with top-level concat_ws/try_element_at — no interpreted transform
    # lambda anywhere (the with_shingles explode path pays ~14x here).
    # Per-doc gram DISTINCT is deliberately skipped: min over an affine
    # lane is duplicate-invariant, so the signatures are bit-identical
    # to the distinct-shingle definition the oracle replays.
    staged = df.select(id_col, F.split(F.col(text_col), r"\s+").alias("_toks"))
    idx = F.sequence(
        F.lit(0), F.greatest(F.size("_toks") - shingle_n, F.lit(0))
    )
    ex = staged.select(id_col, "_toks", F.explode(idx).alias("_i"))
    gram = F.concat_ws(
        " ",
        *[
            F.try_element_at("_toks", (F.col("_i") + j + 1).cast("int"))
            for j in range(shingle_n)
        ],
    )
    sh = (
        ex.select(id_col, gram.alias("_g"))
        .where(F.trim(F.col("_g")) != "")
        .select(id_col, _base_hash(F.col("_g"), hash_fn).alias("_b"))
    )
    lanes = []
    for i in range(n_hashes):
        a, b = minhash_lane_params(i)
        lanes.append(
            F.min((F.lit(a) * F.col("_b") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"_mh{i}")
        )
    agg = sh.groupBy(id_col).agg(*lanes)
    return agg.select(
        id_col, F.array(*[F.col(f"_mh{i}") for i in range(n_hashes)]).alias("minhash")
    )


def lsh_bands(sig: DataFrame, id_col: str = "doc_id", n_hashes: int = 32,
              bands: int = 8, hash_fn: str = "xxhash64") -> DataFrame:
    """(id_col, band, band_hash) from an (id_col, minhash) signature
    table: the ONE definition of the LSH band format.  Band b joins its
    ``n_hashes // bands`` lanes with "," and hashes the string — md5
    over the ``"{b}:"``-prefixed string (:func:`md5_long15`, replayed by
    the DuckDB oracles) or xxhash64 of the bare string.

    Rows with NULL lanes (shingle-free docs, see
    :func:`minhash_signature`) emit no band rows: they have no content
    to band on.  Per-row only, so it is legal in an append stream.
    """
    if hash_fn not in ("md5", "xxhash64"):
        raise ValueError(f"unknown hash_fn: {hash_fn}")
    rows_per_band = n_hashes // bands

    def band_hash(b):
        joined = F.concat_ws(",", *[
            F.element_at("minhash", b * rows_per_band + j + 1).cast("string")
            for j in range(rows_per_band)
        ])
        if hash_fn == "md5":
            return md5_long15(F.concat(F.lit(f"{b}:"), joined))
        return F.xxhash64(joined)

    # NULL lanes explode a NULL array (no rows) rather than pass a
    # Filter: Catalyst would push a Filter below the caller's signature
    # Project and evaluate a per-row signature fold twice
    banded = F.when(
        F.element_at("minhash", 1).isNotNull(),
        F.array(*[
            F.struct(F.lit(b).alias("band"), band_hash(b).alias("band_hash"))
            for b in range(bands)
        ]),
    )
    return sig.select(id_col, F.explode(banded).alias("bb")).select(
        id_col, "bb.band", "bb.band_hash"
    )


def minhash_lsh_pairs(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                      n_hashes: int = 32, bands: int = 8, shingle_n: int = 3,
                      max_bucket: int | None = 10_000,
                      hash_fn: str = "xxhash64") -> DataFrame:
    """Candidate near-dup pairs via LSH banding: docs sharing any band
    bucket.  Returns (id_a, id_b, n_bands_shared), id_a < id_b.

    Shuffle profile: one exchange on (band, band_hash) — the classic
    minhash join.  ``max_bucket`` guards against a degenerate band bucket
    with B members exploding into B² candidate pairs (boilerplate text at
    web scale): oversized buckets are dropped before the self-join (see
    :func:`cap_buckets`; their content belongs in exact dedup).  None
    disables the guard.
    """
    sig = _minhash_lanes(df, text_col, n_hashes, shingle_n, id_col, hash_fn)
    banded = lsh_bands(sig, id_col, n_hashes, bands, hash_fn)
    if max_bucket is not None:
        banded = cap_buckets(banded, ["band", "band_hash"], max_bucket)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count("*").alias("n_bands_shared"))
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact similarity on shingle sets)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(df: DataFrame, threshold: float = 0.5, id_col: str = "doc_id",
                        text_col: str = "text", shingle_n: int = 3,
                        prefix_filter: bool = True) -> DataFrame:
    """EXACT Jaccard ≥ threshold over word-shingle sets.

    Candidate generation uses ppjoin-style prefix filtering: with shingles
    globally ordered, two sets with Jaccard ≥ t must share an element in
    their first ``|S| - ceil(t·|S|) + 1`` shingles — so only the prefix is
    exploded into the inverted index (shuffle volume shrinks by ~t) and
    the frequent-shingle buckets that make the naive self-join quadratic
    mostly disappear.  Two further exact-preserving prunes run inside the
    index join, before the pair ``distinct`` and the set rejoin:

    - LENGTH filter: J ≥ t ⇒ min(|A|,|B|)/max(|A|,|B|) ≥ t (the
      intersection is at most the smaller set, the union at least the
      larger), so wildly different-sized sets never form a candidate.
    - POSITIONAL filter (ppjoin proper): a shared shingle at 0-based
      sorted positions (i, j) bounds the overlap by
      ``min(i,j) + 1 + min(|A|-i-1, |B|-j-1)`` (common elements below s
      plus s plus common elements above s); a true positive needs
      overlap ≥ t/(1+t)·(|A|+|B|), and since the bound holds for EVERY
      shared element, filtering each index hit independently keeps every
      true pair.

    Both prunes are necessary-condition filters with an epsilon slack
    against float rounding; the full intersection is then computed per
    surviving pair via ``array_intersect`` on the complete sets, so the
    returned row set is identical to the naive join (no approximation).

    Returns (id_a, id_b, jaccard).
    """
    t = float(threshold)
    base = with_shingles(df, text_col, shingle_n).select(
        F.col(id_col),
        F.array_sort("shingles").alias("shingles"),
        F.size("shingles").alias("n_sh"),
    )
    if prefix_filter and threshold >= 0.3:
        # below ~0.3 the prefix is nearly the whole set and the extra
        # distinct+rejoin shuffles cost more than they prune
        prefix_len = (
            F.col("n_sh") - F.ceil(F.col("n_sh") * F.lit(t)) + 1
        ).cast("int")
        inv = base.select(
            id_col,
            "n_sh",
            F.posexplode(F.slice("shingles", F.lit(1), prefix_len)).alias(
                "pos", "shingle"
            ),
        )
    else:
        inv = base.select(
            id_col, "n_sh", F.posexplode("shingles").alias("pos", "shingle")
        )
    cond = (F.col("a.shingle") == F.col("b.shingle")) & (
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    )
    if prefix_filter:
        eps = 1e-9
        n_a, n_b = F.col("a.n_sh"), F.col("b.n_sh")
        pos_a, pos_b = F.col("a.pos"), F.col("b.pos")
        # overlap needed for J ≥ t, and the per-hit positional upper bound
        min_overlap = F.lit(t / (1.0 + t)) * (n_a + n_b) - F.lit(eps)
        pos_bound = (
            F.least(pos_a, pos_b)
            + F.lit(1)
            + F.least(n_a - pos_a - F.lit(1), n_b - pos_b - F.lit(1))
        )
        cond = (
            cond
            & (F.least(n_a, n_b) >= F.lit(t) * F.greatest(n_a, n_b) - F.lit(eps))
            & (pos_bound >= min_overlap)
        )
    pairs = (
        inv.alias("a")
        .join(inv.alias("b"), cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    sets_a = base.select(
        F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"),
        F.col("n_sh").alias("n_a"),
    )
    sets_b = base.select(
        F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"),
        F.col("n_sh").alias("n_b"),
    )
    scored = (
        pairs.join(sets_a, "id_a").join(sets_b, "id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .select(
            "id_a", "id_b",
            (F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))).alias("jaccard"),
        )
    )
    return scored.where(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------------------
# LSH hot-bucket guard (shared by minhash / simhash candidate joins)
# ---------------------------------------------------------------------------


def cap_buckets(df: DataFrame, key_cols: list[str], max_bucket: int) -> DataFrame:
    """Drop rows belonging to LSH buckets with more than ``max_bucket``
    members — the guard against the B² candidate blow-up of a degenerate
    bucket (one boilerplate band shared by millions of docs turns the
    band self-join quadratic).

    Content that saturates a bucket is near-identical boilerplate; route
    it through :func:`exact_dup_groups` instead of pairwise LSH.  The
    count is a window aggregate over the same key the join shuffles on,
    so the exchange is reused (no extra shuffle under AQE).
    """
    w = Window.partitionBy(*key_cols)
    return (
        df.withColumn("_bn", F.count(F.lit(1)).over(w))
        .where(F.col("_bn") <= max_bucket)
        .drop("_bn")
    )


def lsh_bucket_report(df: DataFrame, key_cols: list[str], max_bucket: int) -> DataFrame:
    """(n_buckets, n_hot_buckets, max_bucket_size, rows_dropped) — the
    monitoring companion of :func:`cap_buckets`, for pipelines that need
    to report what the guard suppressed."""
    per = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n"))
    return per.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum((F.col("n") > max_bucket).cast("long")).alias("n_hot_buckets"),
        F.max("n").alias("max_bucket_size"),
        F.sum(F.when(F.col("n") > max_bucket, F.col("n")).otherwise(0)).alias("rows_dropped"),
    )


# ---------------------------------------------------------------------------
# SimHash (64-bit) — numpy kernel (bit-lane accumulation)
# ---------------------------------------------------------------------------


def _simhash64(texts: pd.Series) -> pd.Series:
    """Vectorized-ish simhash: token hashes via numpy, 64-lane majority."""
    out = np.zeros(len(texts), dtype=np.int64)
    for i, t in enumerate(texts):
        toks = (t or "").split()
        if not toks:
            continue
        # FNV-1a 64-bit per token, computed in numpy over the token list
        hs = np.array([_fnv1a64(tok) for tok in toks], dtype=np.uint64)
        bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).astype(np.int64)
        acc = (2 * bits - 1).sum(axis=0)
        sig = np.uint64(0)
        for bit_idx in np.nonzero(acc > 0)[0]:
            sig |= np.uint64(1) << np.uint64(bit_idx)
        out[i] = np.int64(sig.astype(np.int64))
    return pd.Series(out)


def _fnv1a64(s: str) -> int:
    h = 0xCBF29CE484222325
    for ch in s.encode("utf-8"):
        h ^= ch
        h = (h * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


def with_simhash(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-row python/numpy simhash (FNV-1a token hashes) — kept as the
    slow REFERENCE implementation for cross-checking; production paths
    use :func:`with_simhash_columnar` (pure JVM, ~100x at scale)."""
    simhash_udf = F.pandas_udf(_simhash64, T.LongType())
    return df.withColumn("simhash", simhash_udf(F.col(text_col)))


def with_simhash_columnar(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id",
                          hash_fn: str = "xxhash64") -> DataFrame:
    """64-bit simhash as pure Column math — the JVM scale path.

    Shape: tokenize + explode once (JVM split), hash each token with
    ``xxhash64``, then ONE hash-aggregation with 64 ±1 bit-lane sums
    (map-side partials collapse each doc before the exchange — shuffle
    volume is docs × 64 ints), and assemble the signature with shifts.
    No Python executes per row; token hashing is xxhash64 instead of the
    reference implementation's FNV-1a (simhash semantics don't prescribe
    the hash — the near-dup pair decisions agree, cross-checked in
    tests/test_dedup_simhash.py).

    Returns (input columns…, simhash) — docs with no tokens get 0, like
    the reference implementation.
    """
    toks = df.select(
        id_col, F.explode(F.split(F.col(text_col), r"\s+")).alias("_tok")
    ).where(F.col("_tok") != "")
    if hash_fn == "xxhash64":
        h = F.xxhash64(F.col("_tok"))

        def bit(b):
            return F.shiftrightunsigned(h, b).bitwiseAND(F.lit(1))
    elif hash_fn == "md5":
        # two 60-bit integers from the md5 hex → a 120-bit lane pool the
        # DuckDB oracle reproduces exactly (Spark's xxhash64 has no SQL
        # mirror); lanes 0-59 from the first, 60-63 from the second
        md5 = F.md5(F.col("_tok"))
        v1 = F.conv(F.substring(md5, 1, 15), 16, 10).cast("long")
        v2 = F.conv(F.substring(md5, 17, 15), 16, 10).cast("long")
        toks = toks.withColumn("_v1", v1).withColumn("_v2", v2)

        def bit(b):
            src, off = (F.col("_v1"), b) if b < 60 else (F.col("_v2"), b - 60)
            return F.shiftrightunsigned(src, off).bitwiseAND(F.lit(1))
    else:
        raise ValueError(f"unknown hash_fn: {hash_fn}")
    lanes = [
        F.sum(F.when(bit(b) == 1, 1).otherwise(-1)).alias(f"_l{b}")
        for b in range(64)
    ]
    agg = toks.groupBy(id_col).agg(*lanes)
    sig = None
    for b in range(64):
        bit = F.shiftleft(
            F.when(F.col(f"_l{b}") > 0, F.lit(1)).otherwise(F.lit(0)).cast("long"), b
        )
        sig = bit if sig is None else sig.bitwiseOR(bit)
    sigs = agg.select(id_col, sig.alias("simhash"))
    return df.join(sigs, id_col, "left").withColumn(
        "simhash", F.coalesce(F.col("simhash"), F.lit(0).cast("long"))
    )


def simhash_near_dups(df: DataFrame, max_hamming: int = 3, id_col: str = "doc_id",
                      text_col: str = "text",
                      max_bucket: int | None = 10_000,
                      hash_fn: str = "xxhash64") -> DataFrame:
    """Near-dup pairs with simhash Hamming distance ≤ max_hamming.

    Candidates via 4×16-bit block LSH (a pair within distance 3 shares at
    least one exact 16-bit block — pigeonhole), then exact popcount check.
    ``max_bucket`` caps degenerate 16-bit-block buckets (see
    :func:`cap_buckets`); None disables the guard.
    """
    sig = with_simhash_columnar(df, text_col, id_col, hash_fn).select(id_col, "simhash")
    blocks = sig.select(
        id_col, "simhash",
        F.explode(F.array(*[
            F.struct(
                F.lit(bi).alias("block"),
                F.shiftrightunsigned(F.col("simhash"), bi * 16).bitwiseAND(F.lit(0xFFFF)).alias("bval"),
            )
            for bi in range(4)
        ])).alias("blk"),
    ).select(id_col, "simhash", "blk.block", "blk.bval")
    if max_bucket is not None:
        blocks = cap_buckets(blocks, ["block", "bval"], max_bucket)
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return cand.withColumn("hamming", hamming).where(F.col("hamming") <= max_hamming)


# ---------------------------------------------------------------------------
# Connected components over near-dup pair edges — duplicate CLUSTERS
# ---------------------------------------------------------------------------


def connected_components(edges: DataFrame, src: str = "id_a", dst: str = "id_b",
                         max_iter: int = 25) -> DataFrame:
    """Connected components of an undirected edge list → (node, component),
    component = min node id of the component.

    Min-label propagation with pointer doubling: each round every node
    takes the min label over its neighbors (one equi-join + one map-side
    combinable min-agg), then shortcuts through the label table
    (label(n) := label(label(n)) — Shiloach–Vishkin style), so chains
    contract in O(log diameter) rounds rather than O(diameter).  Each
    round is ~2 shuffles on node id; ``localCheckpoint`` truncates the
    lineage so round k doesn't replay rounds 1..k-1.  Converged when no
    label changes (exact, driver sees only a count).

    Dup clusters in web corpora are shallow (near-clique bands/shingle
    buckets), so rounds ≈ 3-5 in practice; the alternating large-star /
    small-star contraction (Kiveris et al., "Connected Components in
    MapReduce and Beyond") is the upgrade path if component diameters
    ever dominate.
    """
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).union(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    )
    sym = sym.where(F.col("a") != F.col("b")).distinct().localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("comp"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels, sym["b"] == labels["node"])
            .groupBy("a").agg(F.min("comp").alias("nbr_comp"))
        )
        stepped = (
            labels.join(nbr_min, labels["node"] == nbr_min["a"], "left")
            .select(
                "node",
                F.least(F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))).alias("comp"),
                F.col("comp").alias("old_comp"),
            )
        )
        # pointer doubling: follow the label one more hop
        lk = labels.select(F.col("node").alias("lk_node"), F.col("comp").alias("lk_comp"))
        doubled = (
            stepped.join(lk, stepped["comp"] == lk["lk_node"], "left")
            .select(
                "node",
                F.least(F.col("comp"), F.coalesce(F.col("lk_comp"), F.col("comp"))).alias("comp"),
                "old_comp",
            )
            .localCheckpoint(eager=True)
        )
        changed = doubled.where(F.col("comp") != F.col("old_comp")).limit(1).count()
        labels = doubled.drop("old_comp")
        if changed == 0:
            break
    return labels.select("node", F.col("comp").alias("component"))


def dup_components(docs: DataFrame, edges: DataFrame, id_col: str = "doc_id",
                   max_iter: int = 25) -> DataFrame:
    """Cluster docs by near-dup edges; every doc gets a component
    (singletons map to themselves), a cluster size, and the keep flag
    (keeper = min PRESENT id of the cluster) — the keep-one-per-cluster
    shape a training-data dedup stage emits.

    The component label is the min node id over the EDGE graph, which
    may reference a doc filtered out upstream; testing ``doc_id ==
    component`` would then leave such a cluster with NO keeper (every
    copy dropped).  The keeper is therefore the min id among docs
    actually present, so every non-empty cluster keeps exactly one.
    """
    comp = connected_components(edges, max_iter=max_iter)
    out = (
        docs.select(id_col)
        .join(comp, docs[id_col] == comp["node"], "left")
        .select(
            id_col,
            F.coalesce(F.col("component"), F.col(id_col)).alias("component"),
        )
    )
    w = Window.partitionBy("component")
    return out.select(
        id_col,
        "component",
        F.count("*").over(w).alias("cluster_size"),
        (F.col(id_col) == F.min(id_col).over(w)).alias("is_keeper"),
    )


def ngram_containment_pairs(df: DataFrame, threshold: float = 0.6,
                            id_col: str = "doc_id", text_col: str = "text",
                            shingle_n: int = 3,
                            max_shingle_df: int | None = None) -> DataFrame:
    """EXACT directed containment C(A→B) = |A∩B| / |A| ≥ threshold over
    word-shingle sets — the ASYMMETRIC near-dup semantic Jaccard misses:
    a paragraph quoted inside a much larger page has high containment but
    tiny Jaccard, and training-data curation wants exactly those
    subset/quote relations (keep the superset, drop the shard).

    Candidate generation is the asymmetric ppjoin prefix rule: C(A→B) ≥ t
    forces A to share an element within the first |A| − ceil(t·|A|) + 1 of
    its sorted shingles with B's FULL set — no constraint on |B|, which is
    the point — so the probe side explodes only prefixes while the index
    side explodes full sets (the same inverted-index shuffle the BM25 /
    inverted_index family already pays).  The per-hit positional bound
    min(i)+1+(|A|−i−1) ≥ t·|A| prunes inside the join; survivors dedupe to
    directed pairs, rejoin their complete sets, and the full
    array_intersect decides — row set identical to the naive join.

    ``max_shingle_df``: optionally drop shingles appearing in more than
    this many docs from the CANDIDATE index (hot-bucket guard for corpora
    where a boilerplate shingle would pair everything with everything —
    the same documented recall trade as ``cap_buckets`` in the LSH path;
    None = fully exact).

    Returns (src_id, dst_id, containment) — src contained in dst.
    """
    t = float(threshold)
    eps = 1e-9
    base = with_shingles(df, text_col, shingle_n).select(
        F.col(id_col).alias("id"),
        F.array_sort("shingles").alias("shingles"),
        F.size("shingles").alias("n_sh"),
    )
    prefix_len = (
        F.col("n_sh") - F.ceil(F.col("n_sh") * F.lit(t)) + 1
    ).cast("int")
    probe = base.select(
        F.col("id").alias("src"), F.col("n_sh").alias("n_src"),
        F.posexplode(F.slice("shingles", F.lit(1), prefix_len)).alias("pos", "shingle"),
    )
    index = base.select(
        F.col("id").alias("dst"), F.explode("shingles").alias("shingle")
    )
    if max_shingle_df is not None:
        hot = (
            index.groupBy("shingle").agg(F.count("*").alias("_df"))
            .where(F.col("_df") > max_shingle_df).select("shingle")
        )
        index = index.join(hot, "shingle", "left_anti")
    # positional bound: elements of src strictly after pos can contribute
    # at most n_src - pos - 1 to the intersection, plus this hit
    pos_bound = F.col("n_src") - F.col("pos")
    cand = (
        probe.join(index, "shingle")
        .where(
            (F.col("src") != F.col("dst"))
            & (pos_bound >= F.lit(t) * F.col("n_src") - F.lit(eps))
        )
        .select("src", "dst")
        .dropDuplicates(["src", "dst"])
    )
    a = base.select(F.col("id").alias("src"), F.col("shingles").alias("_sa"),
                    F.col("n_sh").alias("n_src"))
    b = base.select(F.col("id").alias("dst"), F.col("shingles").alias("_sb"))
    full = cand.join(a, "src").join(b, "dst")
    inter = F.size(F.array_intersect("_sa", "_sb"))
    out = full.select(
        "src", "dst",
        (inter / F.col("n_src")).alias("containment"),
    ).where(F.col("containment") >= F.lit(t) - F.lit(eps))
    return out.select(
        F.col("src").alias("src_id"), F.col("dst").alias("dst_id"), "containment"
    )


def fuzzy_edit_join(df: DataFrame, id_col: str, name_col: str,
                    d: int = 1, q: int = 3) -> DataFrame:
    """Threshold edit-distance self-join: all pairs (id_a < id_b) with
    ``levenshtein(name_a, name_b) <= d`` — EXACT, never all-pairs.

    Two blocking strategies, chosen by ``d``:

    **d ≤ 1 — symmetric-delete neighborhoods** (FastSS / SymSpell):
    every string indexes itself plus its |s| single-character
    deletions; ``lev(s, t) ≤ 1`` implies the two neighborhoods
    intersect (substitution: both delete the differing position;
    insertion/deletion: the longer one deletes the extra character;
    equality: the strings themselves), and sharing a variant implies
    lev ≤ 2, so the exact refine keeps precision.  Delete-variants are
    the right key for DENSE corpora (serials, zero-padded ids) where
    q-gram frequencies are corpus-sized: a variant collides only with
    strings equal-after-one-edit, so buckets hold a handful of rows
    where the rarest digit trigram of 15k serials still held ~2,000
    (measured: the gram path took 63 s at sf0.1; this path ~3 s).
    Index volume is n·(|s|+1) rows — the classic d=1 trade.

    **d ≥ 2 — ED-Join prefix filter** (Xiao, Wang & Lin 2008): every
    edit destroys at most ``q`` of a string's q-grams, so qualifying
    pairs share ≥ max(|G_a|,|G_b|) − d·q distinct grams; ordering grams
    by (global frequency, gram) and indexing only each string's
    ``d·q + 1`` RAREST grams, any qualifying pair must share a prefix
    gram (prefix-filter pigeonhole).  Deletion neighborhoods would need
    O(|s|^d) variants here, so grams win.

    Both paths: pair dedup is a MAP-SIDE filter on carried variant/gram
    arrays (the pair survives only at its minimal shared key — no
    dropDuplicates exchange); the length filter and the exact JVM
    ``levenshtein`` refine run inside the join stage.

    Completeness caveats (documented contract): the gram path excludes
    strings shorter than q and needs |name| ≥ q + d·q for the
    guarantee; the delete path is complete for all non-empty strings.
    """
    if d < 0 or q < 1:
        raise ValueError(f"fuzzy_edit_join: need d >= 0 and q >= 1, got d={d} q={q}")
    if d <= 1:
        base = df.select(
            F.col(id_col).alias("_id"), F.col(name_col).alias("_nm")
        ).where(F.length("_nm") >= 1)
        variants = F.array_distinct(F.concat(
            F.array(F.col("_nm")),
            F.expr(
                "transform(sequence(1, length(_nm)), "
                "p -> concat(substring(_nm, 1, p - 1), "
                "substring(_nm, p + 1, length(_nm))))"
            ),
        ))
        sides = base.select("_id", "_nm", variants.alias("_pg"))
        a = sides.select(
            F.col("_id").alias("id_a"), F.col("_nm").alias("_na"),
            F.col("_pg").alias("_pa"), F.explode("_pg").alias("gram"),
        )
        b = sides.select(
            F.col("_id").alias("id_b"), F.col("_nm").alias("_nb"),
            F.col("_pg").alias("_pb"), F.explode("_pg").alias("gram"),
        )
        cand = (
            a.join(b, "gram")
            .where(F.col("id_a") < F.col("id_b"))
            .where(F.col("gram")
                   == F.array_min(F.array_intersect("_pa", "_pb")))
            .where(F.abs(F.length("_na") - F.length("_nb")) <= d)
        )
        return (
            cand.withColumn("dist", F.levenshtein("_na", "_nb").cast("long"))
            .where(F.col("dist") <= d)
            .select("id_a", "id_b", "dist")
        )
    plen = d * q + 1
    base = df.select(
        F.col(id_col).alias("_id"), F.col(name_col).alias("_nm")
    ).where(F.length("_nm") >= q)
    grams = base.select(
        "_id", "_nm",
        F.explode(F.array_distinct(F.expr(
            f"transform(sequence(1, length(_nm) - {q} + 1), "
            f"i -> substring(_nm, i, {q}))"
        ))).alias("gram"),
    )
    freq = grams.groupBy("gram").agg(F.count("*").alias("_gf"))
    w = Window.partitionBy("_id").orderBy(F.asc("_gf"), F.asc("gram"))
    prefix = (
        grams.join(freq, "gram")
        .withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= plen)
    )
    # each side carries its full prefix-gram array for the map-side
    # pair dedup (same pattern as embedding_near_dups' bucket arrays)
    sides = prefix.groupBy("_id", "_nm").agg(
        F.sort_array(F.collect_list("gram")).alias("_pg")
    )
    a = sides.select(
        F.col("_id").alias("id_a"), F.col("_nm").alias("_na"),
        F.col("_pg").alias("_pa"), F.explode("_pg").alias("gram"),
    )
    b = sides.select(
        F.col("_id").alias("id_b"), F.col("_nm").alias("_nb"),
        F.col("_pg").alias("_pb"), F.explode("_pg").alias("gram"),
    )
    cand = (
        a.join(b, "gram")
        .where(F.col("id_a") < F.col("id_b"))
        .where(F.col("gram")
               == F.array_min(F.array_intersect("_pa", "_pb")))
        .where(F.abs(F.length("_na") - F.length("_nb")) <= d)
    )
    return (
        cand.withColumn("dist", F.levenshtein("_na", "_nb").cast("long"))
        .where(F.col("dist") <= d)
        .select("id_a", "id_b", "dist")
    )
