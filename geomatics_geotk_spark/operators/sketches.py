"""Mergeable-sketch operators: the 100 TB twins of exact statistics.

Three classic sketches, each expressed as pure-Column Spark plans whose
aggregation state is a tiny mergeable table instead of the data itself:

- **HyperLogLog registers** (`hll_registers`) — approximate distinct
  counting.  The exact path (``count_distinct``) shuffles every distinct
  value once; the sketch shuffles at most ``m`` integer registers per
  group, merged with ``max`` (commutative/associative ⇒ map-side
  combined, partition-order independent).
- **Count-min sketch** (`cms_build` / `cms_probe`) — approximate
  frequency counting.  The counter table is ``depth × width`` integers
  per group — broadcastable — while the exact per-token count table is
  vocabulary-sized.
- **Bloom filter** (`bloom_bits` / `bloom_probe`) — approximate set
  membership, the incremental-dedup primitive: dedup a new crawl batch
  against a historical corpus without joining the corpus (only its
  ``m``-bit filter ships, as a broadcast).

Hash construction: the md5-60-bit idiom used across this engine
(``('0x'||substr(md5(x),1,15))::BIGINT``), so every register / counter /
bit replays bit-exactly in DuckDB.  All sketch state is INTEGER — no
float accumulation, so results are independent of partition count and
merge order (see `hll_estimate` for the float estimator, which is
driver-side and test-asserted against the exact count instead of
oracle-compared).

Reference parity note: the reference engine (geomatics-geotk) has no
sketch layer — these operators are part of the training-data-pipeline
family this engine adds for 10^12-row corpora.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F


from .dedup import md5_long15 as _h60  # the ONE md5-hex-to-long definition
from .stats import salted_topk


# ---------------------------------------------------------------------------
# HyperLogLog
# ---------------------------------------------------------------------------

def hll_registers(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    m: int = 256,
) -> DataFrame:
    """Per-group HLL register table: (group..., bucket, rho).

    bucket = h % m (low ``log2 m`` bits), v = h DIV m (the remaining
    ``60 - log2 m`` bits), rho = leading-zero count of v within that
    fixed width + 1 — computed integer-only via ``length(bin(v))``
    (= floor(log2 v) + 1, exact in both engines; no float log).
    Registers merge with ``max`` — one map-side-combined exchange of at
    most ``m`` rows per group, regardless of input size.
    """
    if m & (m - 1) or m < 2:
        raise ValueError("m must be a power of two >= 2")
    width = 60 - int(math.log2(m))  # bit width of the rho field
    d = df.select(*group_cols, _h60(F.col(value_col)).alias("_h"))
    d = d.select(
        *group_cols,
        F.pmod(F.col("_h"), F.lit(m)).alias("bucket"),
        F.expr(f"_h DIV {m}").alias("_v"),
    )
    rho = (
        F.when(F.col("_v") > 0, F.lit(width + 1) - F.length(F.bin(F.col("_v"))))
        .otherwise(F.lit(width + 1))
        .alias("_rho")
    )
    return (
        d.select(*group_cols, "bucket", rho)
        .groupBy(*group_cols, "bucket")
        .agg(F.max("_rho").alias("rho"))
    )


def hll_estimate(registers: dict[int, int], m: int) -> float:
    """Driver-side HLL estimator from a {bucket: rho} register map.

    Standard Flajolet et al. bias-corrected harmonic mean with the
    small-range (linear counting) correction.  Float math lives HERE,
    outside the distributed plan and outside the oracle comparison —
    tests assert the estimate against the exact distinct count.
    """
    if m >= 128:
        alpha = 0.7213 / (1 + 1.079 / m)
    elif m == 64:
        alpha = 0.709
    elif m == 32:
        alpha = 0.697
    else:
        alpha = 0.673
    z = sum(2.0 ** -registers.get(b, 0) for b in range(m))
    est = alpha * m * m / z
    zeros = m - len(registers)
    if est <= 2.5 * m and zeros > 0:
        est = m * math.log(m / zeros)
    return est


# ---------------------------------------------------------------------------
# Count-min sketch
# ---------------------------------------------------------------------------

def _cms_lanes(value_col: str, depth: int, width: int) -> Column:
    """Array of (row, col) counter coordinates for one value."""
    return F.array(*[
        F.struct(
            F.lit(i).alias("row"),
            F.pmod(
                _h60(F.concat(F.lit(f"{i}:"), F.col(value_col))), F.lit(width)
            ).alias("col"),
        )
        for i in range(depth)
    ])


def cms_build(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Count-min counter table: (group..., row, col, cnt).

    Each occurrence increments ``depth`` counters (one per hash row).
    The exchange is on (group, row, col) — at most ``depth × width``
    keys per group, map-side combined, so a hot token is a hot KEY
    absorbed by partial aggregation, never a hot partition.
    """
    e = df.select(
        *group_cols, F.explode(_cms_lanes(value_col, depth, width)).alias("rc")
    )
    return (
        e.select(*group_cols, F.col("rc.row").alias("row"), F.col("rc.col").alias("col"))
        .groupBy(*group_cols, "row", "col")
        .agg(F.count("*").alias("cnt"))
    )


def cms_probe(
    counters: DataFrame,
    probes: DataFrame,
    group_cols: list[str],
    value_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Point-query the sketch: est = min over rows of the value's counter.

    Adds ``cms_est`` to ``probes``.  The counter table is
    depth×width per group — dimension-sized — so the join broadcasts it;
    the probe side never shuffles.  Structural guarantee (test-asserted):
    ``cms_est >= true count`` always (counters only over-count).
    """
    p = probes.select(
        "*", F.explode(_cms_lanes(value_col, depth, width)).alias("_rc")
    ).select(
        *probes.columns,
        F.col("_rc.row").alias("_prow"),
        F.col("_rc.col").alias("_pcol"),
    ).alias("p")
    # explicit aliases: probes and counters share the group-col lineage
    # (both derive from the same source), so df[col] references would
    # collapse to a trivially-true self-equality without them
    c = counters.alias("c")
    joined = p.join(
        F.broadcast(c),
        [
            *[
                F.col(f"p.{g}").eqNullSafe(F.col(f"c.{g}"))
                for g in group_cols
            ],
            F.col("p._prow") == F.col("c.row"),
            F.col("p._pcol") == F.col("c.col"),
        ],
        "left",
    ).select(
        *[F.col(f"p.{name}") for name in probes.columns],
        F.coalesce(F.col("c.cnt"), F.lit(0)).alias("_c"),
    )
    return joined.groupBy(*probes.columns).agg(F.min("_c").alias("cms_est"))


# ---------------------------------------------------------------------------
# Bloom filter
# ---------------------------------------------------------------------------

def _bloom_positions(value_col: str, m: int, k: int) -> Column:
    return F.array(*[
        F.pmod(_h60(F.concat(F.lit(f"{i}:"), F.col(value_col))), F.lit(m))
        for i in range(k)
    ])


def bloom_bits(
    df: DataFrame, value_col: str, m: int = 4096, k: int = 4
) -> DataFrame:
    """The set bits of a Bloom filter over ``df[value_col]``: one column
    ``bit`` (distinct positions in [0, m)).  At most ``m`` rows — the
    broadcastable representation of an arbitrarily large corpus.  Size
    ``m`` to the corpus (m ≈ 10·n for ~2% FP at k=4); it is a plan-time
    constant here so the DuckDB oracle replays the identical filter.
    """
    return (
        df.select(F.explode(_bloom_positions(value_col, m, k)).alias("bit"))
        .distinct()
    )


def bloom_probe(
    bits: DataFrame,
    probes: DataFrame,
    value_col: str,
    m: int = 4096,
    k: int = 4,
) -> DataFrame:
    """Membership-test ``probes[value_col]`` against the filter.

    Adds ``bloom_hit`` (true = all k bits set = "possibly member";
    false = definitely NOT a member — the no-false-negative guarantee the
    incremental-dedup pipeline relies on).  The bits side broadcasts;
    the probe side computes k Column hashes and one map-side-joined
    hit count — no shuffle of the probe data beyond the final group.
    """
    p = probes.select(
        "*", F.explode(_bloom_positions(value_col, m, k)).alias("_bit")
    )
    joined = p.join(F.broadcast(bits), p["_bit"] == bits["bit"], "left").select(
        *[p[c] for c in probes.columns],
        F.when(bits["bit"].isNotNull(), 1).otherwise(0).alias("_hit"),
    )
    return joined.groupBy(*probes.columns).agg(
        (F.sum("_hit") == F.lit(k)).alias("bloom_hit")
    )


def bloom_filtered_join(
    build: DataFrame,
    probe: DataFrame,
    key: str,
    m: int = 1 << 16,
    k: int = 4,
    how: str = "inner",
) -> DataFrame:
    """Runtime Bloom-filter join pruning: an explicit, oracle-checkable
    version of Spark's row-level runtime filtering
    (``spark.sql.optimizer.runtime.bloomFilter.enabled``).

    The ``build`` side's join keys are sketched into the distinct set
    bits of an ``m``-bit Bloom filter (``bloom_bits`` — ≤ m rows by
    construction, no matter how many build rows), COLLECTED, and
    embedded in the probe predicate as one generated SQL ``IN`` list —
    which Catalyst's OptimizeIn rewrites to an InSet hash-set probe,
    O(1) per hash with the set living as one shared reference — exactly
    like Spark's own InjectRuntimeFilter ships its bloom as a
    scalar-subquery result.  The probe filter is then pure scan-stage
    Column math with NO join, applied MAP-SIDE before any shuffle: at
    100 TB the shuffle volume of a selective join drops by the filter's
    selectivity while the filter cost stays O(m) — independent of both
    table sizes.  The collect is bounded at O(m) — the same contract as
    the driver pack of a broadcast-sized zone side.

    Designs that keep the filter inside the plan were measured at sf0.1
    and rejected: membership via ``array_contains`` on the broadcast
    sorted-bits array is an O(m)-per-hash scan (11.9 s); a
    broadcast-crossJoin of a packed ``array<long>`` bitmap materializes
    the 8 KB array into every probe row before the filter can drop it
    (4.7 s); an ``array<long>`` LITERAL explodes whole-stage codegen
    (1024 element assignments × k copies); an m-char string literal
    probed with substring breaks the 64 KB constant-pool limit (32 s).
    InSet runs at 1.4 s against the 0.8 s plain join.

    Exactness: a Bloom filter has no false negatives, and the actual join
    afterwards removes the false positives, so the returned row set is
    IDENTICAL to ``probe.join(build, key, how)`` for inner/semi joins —
    which is exactly what the DuckDB oracle replays (the oracle needs no
    bloom at all).

    ``how`` must be ``inner`` or ``left_semi`` (pruning the probe side is
    only sound when probe rows without a build match are dropped anyway).
    """
    if how not in ("inner", "left_semi"):
        raise ValueError(f"bloom_filtered_join: how must be inner or left_semi, got {how!r}")
    if m <= 0:
        raise ValueError(f"bloom_filtered_join: m must be positive, got {m}")
    # ≤ m rows by construction — the one bounded collect (see docstring).
    # NULL build keys hash to NULL bits: drop them, matching the plain
    # join's behavior (NULL never equi-joins).
    bits = sorted(
        int(r["bit"])
        for r in bloom_bits(build, key, m, k).where(F.col("bit").isNotNull()).collect()
    )
    if not bits:
        return probe.where(F.lit(False)).join(build, key, how)
    # The IN-list is shipped as ONE generated SQL fragment: Column-side
    # .isin(bits) converts every literal through py4j individually
    # (measured ~1.7 s per 2 887-element list, ×k lists), while the SQL
    # parser ingests the same list in one call; OptimizeIn then rewrites
    # both forms to the identical InSet.  The hash text below mirrors
    # _bloom_positions/md5_long15 exactly (concat implicit-casts the key
    # to string in both paths); the planted exactness tests and the
    # FP-heavy tiny-m test would fail loudly on any divergence.
    # the key name is interpolated into generated SQL: backtick-quote it
    # (escaping embedded backticks) so dotted/spaced/reserved-word names
    # parse as one identifier, same as the Column-based build side
    qkey = "`" + key.replace("`", "``") + "`"
    csv = ",".join(map(str, bits))
    terms = []
    for i in range(k):
        h = (
            f"CAST(conv(substring(md5(concat('{i}:', CAST({qkey} AS STRING))), "
            f"1, 15), 16, 10) AS BIGINT)"
        )
        terms.append(f"pmod({h}, {m}) IN ({csv})")
    hit = F.expr(" AND ".join(terms))
    return probe.where(hit).join(build, key, how)


# ---------------------------------------------------------------------------
# Misra-Gries (Frequent) heavy hitters — candidate pruning + exact recount
# ---------------------------------------------------------------------------


def mg_summaries(df: DataFrame, col: str, k: int = 128) -> DataFrame:
    """Per-partition mergeable Misra-Gries ("Frequent") summaries over a
    STRING column: at most ``k`` (item, residual) rows per partition,
    plus one ``item IS NULL`` row carrying the partition's non-null row
    count.

    The per-partition reduction is the batched MG merge (Agarwal et al.
    2012, "Mergeable Summaries"): add the batch's EXACT value counts
    (one vectorized ``value_counts`` per Arrow batch — no per-row
    Python), and whenever more than ``k`` items are held, subtract the
    (k+1)-th largest residual from every counter and drop the
    non-positive.  Each trim removes at least (k+1)·cut total mass, so
    the summed cuts — and therefore any item's undercount — are at most
    n_p/(k+1) for a partition of n_p rows.  Hence every item with
    partition count > n_p/(k+1) keeps a positive residual, and by
    pigeonhole every item with GLOBAL count > N/(k+1) survives in at
    least one partition's summary — the no-false-negative candidate
    guarantee :func:`heavy_hitters_exact` builds on.  State is ≤ k
    counters per task regardless of vocabulary size; NULLs are ignored.
    """
    if k < 1:
        raise ValueError(f"mg_summaries: k must be >= 1, got {k}")
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField(col, T.StringType()),
        T.StructField("est", T.LongType()),
        T.StructField("part_rows", T.LongType()),
    ])

    def summarize(batches):
        counters = None
        total = 0
        for pdf in batches:
            vc = pdf[col].dropna().value_counts()
            total += int(vc.sum())
            counters = vc if counters is None else counters.add(vc, fill_value=0)
            if len(counters) > k:
                cut = counters.nlargest(k + 1).iloc[-1]
                counters = counters - cut
                counters = counters[counters > 0]
        items = counters.index.to_numpy() if counters is not None else []
        ests = counters.to_numpy() if counters is not None else []
        yield pd.DataFrame({
            col: list(items) + [None],
            "est": [int(v) for v in ests] + [0],
            "part_rows": [0] * len(items) + [total],
        })

    return df.select(col).mapInPandas(summarize, schema)


def heavy_hitters_exact(df: DataFrame, col: str, threshold: float,
                        k: int = 128) -> DataFrame:
    """EXACT heavy hitters — every item occurring in at least
    ``threshold`` fraction of non-null rows, with its exact count — via
    two passes: Misra-Gries candidate pruning, then an exact recount of
    candidates only.

    Why not one ``groupBy(col).count()``: at 10^12 rows that shuffles
    the full vocabulary (post-combine, one row per distinct item per
    task — trillions of rows for open vocabularies like n-grams).  Pass
    1 reduces each partition to ≤ k counters map-side
    (:func:`mg_summaries`); the union of partition candidates provably
    contains every item above ``threshold`` whenever ``threshold >
    1/(k+1)`` (enforced), so pass 2's broadcast semi-join recount —
    whose shuffle carries only candidate items, ≤ partitions·k distinct
    — yields EXACTLY the items and counts a full exact groupBy would.
    The summaries collect is bounded at partitions·(k+1) rows (the same
    bounded-driver-traffic contract as the bloom-bits collect above).

    Returns (col, n) — exact counts, SQL-oracle-replayable by plain
    ``GROUP BY ... HAVING count(*) >= ceil(threshold · total)``.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"heavy_hitters_exact: threshold must be in (0, 1], got {threshold}")
    if threshold <= 1.0 / (k + 1):
        raise ValueError(
            f"heavy_hitters_exact: completeness needs threshold > 1/(k+1); "
            f"got threshold={threshold} with k={k} — raise k to at least "
            f"{math.ceil(1.0 / threshold)}"
        )
    # bounded collect: ≤ partitions·(k+1) rows by construction
    rows = mg_summaries(df, col, k).collect()
    n_total = sum(r["part_rows"] for r in rows if r[col] is None)
    cand = sorted({r[col] for r in rows if r[col] is not None})
    need = max(1, math.ceil(threshold * n_total))
    spark = df.sparkSession
    if not cand or n_total == 0:
        return (
            df.select(col).limit(0)
            .withColumn("n", F.lit(0).cast("long"))
        )
    from pyspark.sql import types as T

    cand_df = spark.createDataFrame(
        [(c,) for c in cand], T.StructType([T.StructField(col, T.StringType())])
    )
    return (
        df.join(F.broadcast(cand_df), col, "left_semi")
        .groupBy(col)
        .agg(F.count("*").alias("n"))
        .where(F.col("n") >= F.lit(need))
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values / theta) sketch — distinct counts AND intersections
# ---------------------------------------------------------------------------


def kmv_registers(df: DataFrame, group_cols: list[str], value_col: str,
                  k: int = 256, salts: int = 16) -> DataFrame:
    """KMV sketch per group: the ``k`` smallest DISTINCT 60-bit hashes
    of ``value_col``, as rows (group, rank, h) — the order-statistics
    cousin of the HLL registers whose extra power is SET ALGEBRA: two
    groups' registers compose into intersection/union estimates
    (theta-sketch style), where HLL intersection via inclusion-exclusion
    loses all precision once |A∩B| ≪ |A∪B|.

    Mergeable by construction (k smallest of a union = k smallest of
    the per-part k-smallest).  Shape: one map-side-combinable dedup
    exchange on (group, hash), then the engine's salted two-phase k-min
    (:func:`stats.salted_topk`) — local k-min per (group, salt), global
    k-min over k·salts survivors — so a billion-token group never
    funnels through one sorting task.  Hash is the md5-60-bit idiom:
    every register replays bit-exactly in DuckDB.
    """
    if k < 2:
        raise ValueError(f"kmv_registers: k must be >= 2, got {k}")
    h = _h60(F.col(value_col).cast("string"))
    distinct = (
        df.select(*group_cols, h.alias("h"))
        .groupBy(*group_cols, "h").agg(F.lit(1).alias("_one")).drop("_one")
    )
    salt = F.pmod(F.col("h"), F.lit(salts))
    return salted_topk(distinct, group_cols, [F.asc("h")], k, salt).select(
        *group_cols, "rank", "h"
    )


_KMV_DOMAIN = float(1 << 60)  # md5_long15 hashes are uniform in [0, 2^60)


def kmv_distinct_estimate(registers: DataFrame,
                          group_cols: list[str], k: int = 256) -> DataFrame:
    """Distinct-count estimate from KMV registers: (k−1)/θ̂ with
    θ̂ = h_(k)/2^60 (the classic unbiased KMV estimator); groups holding
    fewer than k distinct hashes are EXACT (their register count IS the
    distinct count).  Pure Column arithmetic over ≤ k rows per group —
    SQL-replayable to the bit."""
    agg = registers.groupBy(*group_cols).agg(
        F.count("*").alias("n_reg"), F.max("h").alias("h_k")
    )
    est = F.when(
        F.col("n_reg") < k, F.col("n_reg").cast("double")
    ).otherwise(
        F.lit(float(k - 1)) * F.lit(_KMV_DOMAIN) / F.col("h_k").cast("double")
    )
    return agg.select(*group_cols, "n_reg", "h_k", est.alias("kmv_est"))


def kmv_intersection_estimate(reg_a: DataFrame, reg_b: DataFrame,
                              k: int = 256) -> DataFrame:
    """Theta-sketch intersection estimate from two single-group KMV
    register sets: θ = min(θ_a, θ_b) (each side's θ is its k-th min
    when full, else the open domain), and
    |A∩B| ≈ |{h ∈ reg_a ∩ reg_b : h < θ}| / (θ/2^60).
    The register join is k-vs-k rows — broadcast-trivial; the estimate
    inherits KMV's ±O(1/√k) relative error INDEPENDENT of how small
    the true intersection is relative to the union (the
    inclusion-exclusion failure mode this sketch exists to avoid)."""
    a_th = reg_a.agg(
        F.when(F.count("*") >= k, F.max("h")).otherwise(F.lit(1 << 60)).alias("_ta")
    )
    b_th = reg_b.agg(
        F.when(F.count("*") >= k, F.max("h")).otherwise(F.lit(1 << 60)).alias("_tb")
    )
    shared = reg_a.select("h").join(reg_b.select("h"), "h")
    theta = F.least(F.col("_ta"), F.col("_tb")).cast("double")
    return (
        shared.crossJoin(F.broadcast(a_th)).crossJoin(F.broadcast(b_th))
        .where(F.col("h") < F.least(F.col("_ta"), F.col("_tb")))
        .agg(
            F.count("*").alias("n_shared"),
            (F.count("*").cast("double")
             / (F.min(theta) / F.lit(_KMV_DOMAIN))).alias("inter_est"),
        )
    )
