"""SimHash: columnar (JVM) kernel vs python reference implementation on a
planted near-dup fixture, plus the LSH hot-bucket guards for both simhash
and minhash candidate joins (the B²-pairs degenerate-bucket defense)."""

import pytest
from pyspark.sql import functions as F

from geomatics_geotk_spark.operators import dedup

def _doc_text(i: int, n_words: int = 40) -> str:
    """Docs with essentially disjoint token sets (unrelated pairs sit at
    Hamming ~32; a 1-token-in-40 edit stays under ~8 for any uniform
    64-bit token hash — margins verified offline for FNV-1a and md5)."""
    return " ".join(f"w{(i * 1000003 + j * 7919) % 999983}" for j in range(n_words))


@pytest.fixture(scope="module")
def planted(spark):
    """40 distinct docs + 10 exact-duplicate copies (Hamming 0 — inside
    the 4×16-bit block-LSH guarantee, which only covers distance ≤ 3)."""
    rows = [(i, _doc_text(i)) for i in range(40)]
    for i in range(10):
        rows.append((100 + i, _doc_text(i)))  # exact copy
    df = spark.createDataFrame(rows, "doc_id long, text string").cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def edited(spark):
    """20 distinct docs + 10 one-token-edited copies (Hamming ~3-8 —
    signature-level sensitivity, below any pair-set guarantee)."""
    rows = [(i, _doc_text(i)) for i in range(20)]
    for i in range(10):
        toks = _doc_text(i).split()
        toks[5] = "zulu"
        rows.append((200 + i, " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id long, text string").cache()
    df.count()
    return df


def _pairset(df):
    return {(r["id_a"], r["id_b"]) for r in df.collect()}


def test_columnar_matches_reference_pairs(planted):
    """The columnar kernel's pair set at the guaranteed threshold (≤3)
    equals the all-pairs popcount over the python reference
    signatures: exactly the exact-copy pairs, regardless of which token
    hash (xxhash64 vs FNV-1a) backs the signature."""
    want = {(i, 100 + i) for i in range(10)}
    ref = {
        r["doc_id"]: r["simhash"]
        for r in dedup.with_simhash(planted).select("doc_id", "simhash").collect()
    }
    got_ref = {
        (a, b)
        for a in ref for b in ref
        if a < b and bin((ref[a] ^ ref[b]) & (2**64 - 1)).count("1") <= 3
    }
    got_col = _pairset(dedup.simhash_near_dups(planted, max_hamming=3))
    assert got_col == want == got_ref


def test_columnar_signature_sensitivity(edited):
    """Signature-level margins (deterministic): a 1-token-in-40 edit
    stays within Hamming 12; unrelated docs stay ≥ 14 apart — measured
    8 / 16 for the xxhash64 kernel on this fixture."""
    sigs = {
        r["doc_id"]: r["simhash"]
        for r in dedup.with_simhash_columnar(edited).collect()
    }
    ham = lambda a, b: bin((a ^ b) & (2**64 - 1)).count("1")  # noqa: E731
    for i in range(10):
        assert ham(sigs[i], sigs[200 + i]) <= 12  # near dup
    unrelated = [ham(sigs[a], sigs[b]) for a in range(20) for b in range(20) if a < b]
    assert min(unrelated) >= 14


def test_columnar_signature_properties(planted):
    sigs = dedup.with_simhash_columnar(planted).select("doc_id", "simhash").collect()
    by_id = {r["doc_id"]: r["simhash"] for r in sigs}
    assert len(by_id) == 50
    # identical text ⇒ identical signature
    base = planted.union(planted.limit(1))
    s2 = dedup.with_simhash_columnar(base.dropDuplicates(["doc_id"]))
    assert s2.count() == 50
    # empty/null text ⇒ signature 0 (reference-impl behavior)
    empty = planted.sparkSession.createDataFrame(
        [(1, ""), (2, None), (3, "   ")], "doc_id long, text string"
    )
    vals = {r["doc_id"]: r["simhash"] for r in dedup.with_simhash_columnar(empty).collect()}
    assert vals == {1: 0, 2: 0, 3: 0}


def test_simhash_hot_bucket_guard(spark):
    """500 identical docs share every 16-bit block bucket; the guard must
    keep the candidate join from going quadratic."""
    rows = [(i, "the same boilerplate text repeated everywhere") for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = dedup.simhash_near_dups(df, max_hamming=3, max_bucket=100)
    assert capped.count() == 0  # whole bucket dropped → no pairwise blow-up
    uncapped = dedup.simhash_near_dups(df.limit(50), max_hamming=3, max_bucket=None)
    assert uncapped.count() == 50 * 49 // 2  # guard off → full clique


def test_minhash_hot_bucket_guard(spark):
    rows = [(i, "common boilerplate navigation header text block shared by all pages here") for i in range(400)]
    rows += [(1000, _doc_text(3)), (1001, _doc_text(3))]  # planted pair, normal bucket
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.minhash_lsh_pairs(df, max_bucket=100)
    pairs = _pairset(out)
    assert (1000, 1001) in pairs  # normal buckets unaffected
    assert all(a >= 1000 for a, _ in pairs)  # boilerplate clique suppressed


def test_lsh_bucket_report(spark):
    rows = [(i, "x y z " * 5) for i in range(50)] + [(100, _doc_text(1))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = dedup.with_simhash_columnar(df).select("doc_id", "simhash")
    blocks = sig.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(
                F.lit(bi).alias("block"),
                F.shiftrightunsigned(F.col("simhash"), bi * 16)
                .bitwiseAND(F.lit(0xFFFF)).alias("bval"),
            )
            for bi in range(4)
        ])).alias("blk"),
    ).select("doc_id", "blk.block", "blk.bval")
    rep = dedup.lsh_bucket_report(blocks, ["block", "bval"], max_bucket=10).collect()[0]
    assert rep["n_hot_buckets"] == 4  # the 50-doc clique saturates all 4 blocks
    assert rep["rows_dropped"] == 200
    assert rep["max_bucket_size"] == 50


def test_minhash_planted_near_dup_recall(spark):
    """Recall check on planted near-duplicates: ~90%-overlapping docs
    must surface as band-sharing candidates, and their exact jaccard must
    clear the dedup threshold, under BOTH hash backends."""
    rows = []
    for i in range(30):
        toks = [f"w{(i * 1009 + j * 31) % 49999}" for j in range(60)]
        rows.append((i, " ".join(toks)))
        if i < 12:  # plant a near-dup: replace 2 of 60 tokens (jaccard ~0.8;
            # expected band recall 1-(1-0.8^4)^8 ≈ 0.99 per pair)
            nd = list(toks)
            for k in (10, 40):
                nd[k] = f"z{i}_{k}"
            rows.append((500 + i, " ".join(nd)))
    df = spark.createDataFrame(rows, "doc_id long, text string").cache()
    df.count()
    want = {(i, 500 + i) for i in range(12)}
    for hf in ("xxhash64", "md5"):
        pairs = {
            (r["id_a"], r["id_b"])
            for r in dedup.minhash_lsh_pairs(df, hash_fn=hf).collect()
        }
        recall = len(pairs & want) / len(want)
        assert recall >= 0.9, f"{hf}: recall {recall}"
        assert all(p in want for p in pairs), f"{hf}: false positives {pairs - want}"
    # the exact-jaccard refine confirms every planted pair
    jac = dedup.ngram_jaccard_pairs(df, threshold=0.5)
    got = {(r["id_a"], r["id_b"]) for r in jac.collect()}
    assert got == want


def test_minhash_contentfree_docs_null_lanes_no_pairs(spark):
    """Content-free docs (NULL / empty / whitespace text) carry NULL
    lanes (one row per id contract) and NEVER band — k empty docs must
    not form the O(k^2) spurious candidate clique."""
    from pyspark.sql import functions as F

    from geomatics_geotk_spark.operators import dedup
    from geomatics_geotk_spark.streaming import neardup_stream

    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "real text here okay"),
         (5, "real text here okay")],
        "doc_id long, text string",
    )
    sig = {r["doc_id"]: r["minhash"] for r in
           dedup.minhash_signature(docs, hash_fn="md5").collect()}
    assert set(sig) == {1, 2, 3, 4, 5}, "one row per input id"
    for d in (1, 2, 3):
        assert sig[d] is None or sig[d][0] is None, f"doc {d} must be NULL-lane"
    assert sig[4] is not None and sig[4][0] is not None

    pairs = dedup.minhash_lsh_pairs(docs, hash_fn="md5").collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(4, 5)}, \
        "only the real near-dup pair; no empty-doc clique"

    bands = neardup_stream.minhash_bands(docs, hash_fn="md5").select("doc_id").distinct()
    assert {r["doc_id"] for r in bands.collect()} == {4, 5}
