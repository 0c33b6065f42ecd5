"""Per-cell occupancy statistics and the salted per-group top-k.

``cell_histogram`` is a plain hash aggregation (map-side partials);
``skew_report`` summarizes the distribution for lineage/metrics (hot
cells in a cell join are split by AQE's skew join, see
:mod:`operators.spatial_join`).  ``salted_topk`` is the skew handling
for ranking windows: every per-group top-k in the engine (ANN, kNN
fallback, IDW, stratified samples, KMV) uses it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def cell_histogram(docs: DataFrame, cell_col: str = "cell_id") -> DataFrame:
    """(cell_id, n_docs) — one exchange, partial aggregation before it."""
    return docs.groupBy(cell_col).agg(F.count("*").alias("n_docs"))


def skew_report(docs: DataFrame, cell_col: str = "cell_id") -> DataFrame:
    """One-row distribution summary: cells, docs, max/avg occupancy and
    the max/avg skew ratio of the hottest cell."""
    h = cell_histogram(docs, cell_col)
    agg = h.agg(
        F.count("*").alias("n_cells"),
        F.sum("n_docs").alias("n_docs"),
        F.max("n_docs").alias("max_cell"),
        (F.sum("n_docs") / F.count("*")).alias("avg_cell"),
    )
    return agg.withColumn("skew_ratio", F.col("max_cell") / F.col("avg_cell"))


def salted_topk(df: DataFrame, keys: list[str], order: list[Column], k: int,
                salt: Column, rank_col: str = "rank") -> DataFrame:
    """The first ``k`` rows per ``keys`` group under ``order``, ranked
    1..k in ``rank_col`` — the engine's one skew-safe ranking window.

    A single ``row_number() OVER (PARTITION BY keys)`` funnels a group's
    rows into ONE task, so one hot group (a query's whole candidate set,
    a stratum over the corpus) is a straggler.  Phase 1 windows over
    ``keys + [salt]``: a member of the true top-k sees, inside its own
    salt group, only a SUBSET of the rows ranked above it, so its local
    rank ≤ its global rank ≤ k and it survives the cut.  Phase 2's exact
    window then sorts at most ``k·salts`` rows per group.  The result is
    identical for ANY salt column (asserted by test_topk_salt_invariance)
    as long as ``order`` is total, which also makes the ranks
    deterministic.
    """
    w1 = Window.partitionBy(*keys, "_tk_salt").orderBy(*order)
    survivors = (
        df.withColumn("_tk_salt", salt)
        .withColumn("_tk_rk", F.row_number().over(w1))
        .where(F.col("_tk_rk") <= k)
        .drop("_tk_rk", "_tk_salt")
    )
    w2 = Window.partitionBy(*keys).orderBy(*order)
    return (
        survivors.withColumn(rank_col, F.row_number().over(w2))
        .where(F.col(rank_col) <= k)
    )


def group_quantiles(df: DataFrame, group_col: str, value_col: str,
                    probs: tuple[float, ...] = (0.5, 0.9, 0.99),
                    exact: bool = True, accuracy: int = 10_000) -> DataFrame:
    """Per-group quantiles of a numeric column — the distribution-monitor
    primitive a curation pipeline runs constantly (doc-length / quality /
    token-count percentiles per language or source).

    Output: (group_col, n, p50, p90, ... one column per prob, named
    ``p{100*prob:g}`` with '.' → '_').

    Scale shape: ONE hash-aggregate exchange either way, partial
    aggregation before it.  ``exact=True`` uses ``percentile()`` —
    correct at any scale but its per-group state is the full value
    multiset, so at 10^12 rows per group it is memory-unbounded.  The
    100 TB path is ``exact=False``: ``percentile_approx`` (the
    Greenwald-Khanna sketch) has O(accuracy) state per group, partials
    MERGE map-side like any sketch, and rank error is bounded by
    1/accuracy — the same exact-small / sketch-large split as
    hll_distinct vs count(distinct).
    """
    def name(p: float) -> str:
        return "p" + f"{100 * p:g}".replace(".", "_")

    parr = "array(" + ", ".join(repr(p) for p in probs) + ")"
    if exact:
        q = F.expr(f"percentile({value_col}, {parr})")
    else:
        q = F.expr(f"percentile_approx({value_col}, {parr}, {accuracy})")
    agg = df.groupBy(group_col).agg(
        F.count("*").alias("n"), q.alias("_q")
    )
    return agg.select(
        group_col, "n",
        *[F.col("_q")[i].alias(name(p)) for i, p in enumerate(probs)],
    )


def skyline2(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """2-D skyline (Pareto frontier), MINIMIZING both columns: rows for
    which no other row is ≤ in both dimensions and < in at least one.
    Ties survive together (neither of two equal points dominates), so
    the result equals the classic ``NOT EXISTS`` formulation exactly.
    To maximize a dimension, pass its negation and keep the original
    column in the output (the operator carries all input columns).

    Divide-and-conquer shape (Börzsönyi et al. 2001, "The Skyline
    Operator", distributed form): pass 1 computes each PARTITION's
    skyline map-side — a vectorized sort + group-min + cumulative-min
    prune per Arrow batch group, O(n log n), no Python row loop — and
    pass 2 re-runs the identical prune over the UNION OF SURVIVORS in
    one task.  Correctness: a globally undominated row is undominated
    in its partition (so it survives pass 1), and
    skyline(∪ local skylines) = skyline(whole) because a dominating
    witness can always be chosen from the skyline itself (dominance is
    transitive).  Scale contract: survivors are tiny for independent or
    correlated dimensions (≈ O(log² n) expected per partition); fully
    ANTI-correlated dimensions degrade the frontier to O(n) — at that
    shape, pre-partition by an x-range grid so pass 2 sees per-range
    frontiers, same as any D&C skyline.
    """
    import numpy as np
    import pandas as pd

    out_schema = df.schema

    def _prune_one(pdf):
        if pdf.empty:
            return pdf
        x = pdf[x_col].to_numpy()
        y = pdf[y_col].to_numpy()
        order = np.lexsort((y, x))  # x asc, then y asc
        xs, ys = x[order], y[order]
        new_x = np.empty(len(xs), dtype=bool)
        new_x[0] = True
        new_x[1:] = xs[1:] != xs[:-1]
        # index of each row's x-run start (run starts are increasing)
        run_start = np.maximum.accumulate(np.where(new_x, np.arange(len(xs)), 0))
        # group min y per distinct x = first y of the run (y asc in-run)
        group_min = ys[run_start]
        # m1 = min y over all strictly-smaller x = cumulative min up to
        # the row just before the current run; inf for the first run
        cummin = np.minimum.accumulate(ys)
        m1 = np.where(
            run_start > 0, cummin[np.maximum(run_start - 1, 0)], np.inf
        )
        keep_sorted = (ys == group_min) & (ys < m1)
        keep = np.zeros(len(xs), dtype=bool)
        keep[order] = keep_sorted
        return pdf[keep]

    def _prune(batches):
        # survivors-only accumulation: each Arrow batch is pruned alone,
        # then the concatenated survivors are pruned once more — peak
        # pandas memory is one batch + the (small) frontier, never the
        # whole partition
        surv = [_prune_one(pdf) for pdf in batches]
        surv = [s for s in surv if not s.empty]
        if not surv:
            return
        yield _prune_one(pd.concat(surv, ignore_index=True))

    local = df.mapInPandas(_prune, out_schema)
    # pass 2: exact skyline of the (small) survivor union in ONE task
    return local.coalesce(1).mapInPandas(_prune, out_schema)


def morans_i(cells: DataFrame, cx_col: str = "cx", cy_col: str = "cy",
             value_col: str = "n") -> DataFrame:
    """Global Moran's I spatial autocorrelation over grid cells with
    binary 8-neighbor (queen) contiguity on the OCCUPIED cells —
    the classic clustered-vs-dispersed statistic complementing the
    per-cell hotspot z-scores.

    I = (n/W) · Σ_ij w_ij·z_i·z_j / Σ_i z_i², z_i = x_i − x̄.

    Bit-exact across engines by integer clearing: with integer cell
    values, n·z_i = n·x_i − T (T = Σx) is an exact BIGINT, and the n²
    factors cancel between numerator and denominator, so
    I = n·Σ_ij (n·x_i−T)(n·x_j−T) / (W·Σ_i (n·x_i−T)²) — every sum is
    an order-independent integer aggregate and the ONE double division
    happens at the end (the same exactness idiom as the engine's
    decimal money sums).  Overflow headroom: |n·x_i−T| ≤ n·max(x); the
    pair-product sum fits BIGINT while n·max(x) < ~3·10⁹ — corpus-scale
    cell COUNTS at planetary grids stay well inside (documented bound,
    enforced via a runtime assert on the inputs' magnitude).

    Shape: the neighbor pairs come from an 8-offset map-side explode +
    equi-join on the cell key (same pattern as grid_dbscan — never a
    distance cross-join); the three moments are map-side-combined
    single-row aggregates.  Output: one row
    (n_cells, w_pairs, moran_i).
    """
    key = (F.col(cx_col) * F.lit(1_000_000) + F.col(cy_col))
    base = cells.select(
        key.alias("key"), F.col(cx_col).alias("_cx"), F.col(cy_col).alias("_cy"),
        F.col(value_col).cast("long").alias("x"),
    )
    tot = base.agg(
        F.count("*").alias("n"), F.sum("x").alias("t"), F.max(F.abs("x")).alias("mx")
    )
    # n·max|x| < 3e9 keeps (n·x−T)² within BIGINT; the assert is FOLDED
    # into the used expression (coalesce(assert_true(...), 0) adds 0 on
    # success) — a free-standing assert column would be pruned away
    guard = F.coalesce(
        F.assert_true(
            F.col("n") * F.col("mx") < F.lit(3_000_000_000),
            F.lit("morans_i: n*max|x| exceeds the BIGINT headroom bound"),
        ).cast("long"),
        F.lit(0),
    )
    b = base.crossJoin(F.broadcast(tot)).select(
        "key", "_cx", "_cy",
        (F.col("n") * F.col("x") - F.col("t") + guard).alias("nz"),
        "n",
    )
    offsets = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx in (-1, 0, 1) for dy in (-1, 0, 1) if (dx, dy) != (0, 0)
    ])
    probe = b.select(
        F.col("nz").alias("nz_i"),
        F.explode(offsets).alias("off"), F.col("_cx"), F.col("_cy"),
    ).select(
        "nz_i",
        ((F.col("_cx") + F.col("off.dx")) * F.lit(1_000_000)
         + (F.col("_cy") + F.col("off.dy"))).alias("key"),
    )
    nbr = b.select("key", F.col("nz").alias("nz_j"))
    num = probe.join(nbr, "key").agg(
        F.count("*").alias("w_pairs"),
        F.sum(F.col("nz_i") * F.col("nz_j")).alias("s_num"),
    )
    den = b.agg(
        F.max("n").alias("n_cells"),
        F.sum(F.col("nz") * F.col("nz")).alias("s_den"),
    )
    return num.crossJoin(den).select(
        "n_cells", "w_pairs",
        (F.col("n_cells").cast("double") * F.col("s_num").cast("double")
         / (F.col("w_pairs").cast("double") * F.col("s_den").cast("double"))
         ).alias("moran_i"),
    )


def getis_ord_gi(cells: DataFrame, cx_col: str = "cx", cy_col: str = "cy",
                 value_col: str = "n",
                 part_cols: tuple[str, ...] = ()) -> DataFrame:
    """Per-cell Getis-Ord Gi* hot/cold-spot statistic over grid cells
    with binary 8-neighbor (queen) contiguity INCLUDING self on the
    OCCUPIED cells — the local complement of :func:`morans_i` (which
    answers "is the surface autocorrelated at all?"; Gi* answers
    "WHICH cells sit in a high-value neighborhood?").

    Gi*_i = (Σ_j w_ij·x_j − x̄·k_i) / (S·sqrt((n·k_i − k_i²)/(n−1))),
    w binary, k_i = Σ_j w_ij, S = sqrt(Σx²/n − x̄²).

    Bit-exact across engines by the same integer clearing as
    :func:`morans_i`: multiplying numerator and denominator by n gives
    Gi*_i = (n·G_i − k_i·T) / sqrt((n·ΣX² − T²)·(n·k_i − k_i²)/(n−1))
    with G_i = Σ_{j∈N(i)∪{i}} x_j — every aggregate is an
    order-independent BIGINT sum and the one double division + sqrt
    run on identical scalars in both engines.  Overflow headroom is
    the morans_i bound (n·max|x| < 3·10⁹, runtime-asserted).

    Shape: each occupied cell scatters its value to its 9 neighbor
    positions via a map-side offset explode; ONE equi-join back on the
    occupied-cell key (never a distance cross-join) and ONE hash-agg
    produce (G_i, k_i); the global moments are a broadcast single-row
    aggregate.  Output: (cx, cy, x, k_nbrs, gi) per occupied cell.

    ``part_cols`` computes an INDEPENDENT surface per partition value
    (e.g. per day for emerging-hotspot analysis): moments, neighbor
    sums, and the join key all carry the partition columns, and the
    per-partition moment table joins by broadcast (partition
    cardinality is time-bucket sized).  Degenerate surfaces — a single
    occupied cell, zero variance, or every cell neighboring every
    other — have no defined Gi* and their rows are dropped rather than
    emitted as NaN/Inf (both engines drop identically).
    """
    pk = list(part_cols)
    key = (F.col(cx_col) * F.lit(1_000_000) + F.col(cy_col))
    base = cells.select(
        *pk, key.alias("key"),
        F.col(cx_col).alias("_cx"), F.col(cy_col).alias("_cy"),
        F.col(value_col).cast("long").alias("x"),
    )
    moments = (
        F.count("*").alias("n"), F.sum("x").alias("t"),
        F.sum(F.col("x") * F.col("x")).alias("ss"),
        F.max(F.abs("x")).alias("mx"),
    )
    tot = base.groupBy(*pk).agg(*moments) if pk else base.agg(*moments)
    guard = F.coalesce(
        F.assert_true(
            F.col("n") * F.col("mx") < F.lit(3_000_000_000),
            F.lit("getis_ord_gi: n*max|x| exceeds the BIGINT headroom bound"),
        ).cast("long"),
        F.lit(0),
    )
    offsets = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx in (-1, 0, 1) for dy in (-1, 0, 1)
    ])
    scatter = base.select(
        *pk, F.col("x").alias("x_j"), F.explode(offsets).alias("off"),
        F.col("_cx"), F.col("_cy"),
    ).select(
        *pk, "x_j",
        ((F.col("_cx") + F.col("off.dx")) * F.lit(1_000_000)
         + (F.col("_cy") + F.col("off.dy"))).alias("key"),
    )
    hood = scatter.groupBy(*pk, "key").agg(
        F.sum("x_j").alias("g"), F.count("*").alias("k")
    )
    j = base.join(hood, pk + ["key"])
    j = (j.join(F.broadcast(tot), pk) if pk
         else j.crossJoin(F.broadcast(tot)))
    a = F.col("n") * F.col("g") - F.col("k") * F.col("t") + guard
    b = F.col("n") * F.col("ss") - F.col("t") * F.col("t")
    c = F.col("n") * F.col("k") - F.col("k") * F.col("k")
    gi = a.cast("double") / F.sqrt(
        b.cast("double") * c.cast("double") / (F.col("n") - F.lit(1)).cast("double")
    )
    return (
        j.where((F.col("n") > 1) & (b > 0) & (c > 0))
        .select(
            *pk, F.col("_cx").alias(cx_col), F.col("_cy").alias(cy_col),
            "x", F.col("k").alias("k_nbrs"), gi.alias("gi"),
        )
    )


def rolling_zscore(series: DataFrame, key_cols: list[str], order_col: str,
                   value_col: str, trailing: int = 24,
                   min_obs: int = 12) -> DataFrame:
    """Per-key rolling z-score of an integer series against its trailing
    baseline — the spike/drought detector for keyed rate monitoring
    (event counts per hour, docs per crawl batch, ...).

    Each row is scored against the ``trailing`` rows BEFORE it (the
    current row is excluded so a spike cannot dilute its own baseline):
    z = (x − μ)/σ over the frame, population σ.  Integer clearing makes
    it bit-exact across engines: with s1 = Σx, s2 = Σx², m = frame rows,
    z = (x·m − s1) / sqrt(m·s2 − s1²) — every aggregate an
    order-independent BIGINT frame sum, then ONE double division + sqrt
    (both IEEE-correctly-rounded) on identical scalars.  Rows with a
    baseline shorter than ``min_obs`` or with zero variance emit no
    score (they are dropped, not NaN — a constant baseline has no σ
    units to measure a spike in).

    Shape for 100 TB: the input is a per-key SERIES (one row per key ×
    bucket — cardinality is keys × time buckets, not raw events), so the
    sort under the window is per-key and small; one exchange on the key.
    Frame sums never exceed trailing·max|x| — BIGINT-safe for any
    realistic bucket count.

    Output: key_cols + (order_col, value_col, n_base, sum_base, z).
    """
    w = (
        Window.partitionBy(*key_cols).orderBy(order_col)
        .rowsBetween(-trailing, -1)
    )
    x = F.col(value_col).cast("long")
    s1 = F.sum(x).over(w)
    s2 = F.sum(x * x).over(w)
    m = F.count(F.lit(1)).over(w)
    scored = series.select(
        *key_cols, order_col, value_col,
        m.alias("n_base"), s1.alias("sum_base"), s2.alias("_ss"),
    )
    den = (
        F.col("n_base") * F.col("_ss") - F.col("sum_base") * F.col("sum_base")
    )
    z = (
        (x * F.col("n_base") - F.col("sum_base")).cast("double")
        / F.sqrt(den.cast("double"))
    )
    return (
        scored.where((F.col("n_base") >= min_obs) & (den > 0))
        .select(*key_cols, order_col, value_col, "n_base", "sum_base",
                z.alias("z"))
    )


def quantile_calibration(df: DataFrame, group_col: str, value_col: str,
                         n_buckets: int = 10) -> DataFrame:
    """Per-group decile calibration table against the pooled
    distribution — the quantile-normalization map for mixing corpora
    whose quality/length scores are scored on different scales: row
    (g, d, v_group, v_global) says "group g's d-th decile value is
    v_group where the pooled corpus has v_global", so replacing
    v_group-scored rows with v_global rank-normalizes the mix.

    Uses quantile_disc semantics throughout (the length_percentiles
    integer-index rule): the p-th quantile is the minimum value whose
    cumulative count reaches ceil(p·n) — pure BIGINT index math, no
    float interpolation, bit-exact across engines.

    Shape for 100 TB: ONE exchange builds the (group, value) count
    table; every window and inequality-filter after that runs on
    value-cardinality frames (distinct values per group), not rows.
    The global cumulative window is a single-partition sort over the
    DISTINCT-value count table — value cardinality, not data volume
    (discretize continuous scores before calling if their cardinality
    is unbounded).  Output: (group_col, decile 1..n_buckets-1,
    v_group, v_global).
    """
    spec = df.sparkSession.range(1, n_buckets).select(
        F.col("id").cast("int").alias("decile")
    )
    cnt = df.groupBy(group_col, value_col).agg(F.count("*").alias("c"))
    wg = Window.partitionBy(group_col).orderBy(value_col)
    cum = cnt.select(
        group_col, value_col,
        F.sum("c").over(wg).alias("cum"),
        F.sum("c").over(Window.partitionBy(group_col)).alias("n_g"),
    )
    idx = F.expr(f"(n_g * decile + {n_buckets - 1}) DIV {n_buckets}")
    src = (
        cum.crossJoin(F.broadcast(spec))
        .where(F.col("cum") >= idx)
        .groupBy(group_col, "decile")
        .agg(F.min(value_col).alias("v_group"))
    )
    gcnt = df.groupBy(value_col).agg(F.count("*").alias("c"))
    wv = Window.orderBy(value_col)
    gcum = gcnt.select(
        value_col,
        F.sum("c").over(wv).alias("cum"),
        F.sum("c").over(
            Window.partitionBy()
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("n"),
    )
    gidx = F.expr(f"(n * decile + {n_buckets - 1}) DIV {n_buckets}")
    glob = (
        gcum.crossJoin(F.broadcast(spec))
        .where(F.col("cum") >= gidx)
        .groupBy("decile")
        .agg(F.min(value_col).alias("v_global"))
    )
    return src.join(F.broadcast(glob), "decile").select(
        group_col, "decile", "v_group", "v_global"
    )


def mann_kendall(series: DataFrame, key_cols: list[str], order_col: str,
                 value_col: str) -> DataFrame:
    """Per-key Mann-Kendall monotonic-trend test over a numeric series —
    the nonparametric "is this feed drifting?" complement of
    :func:`rolling_zscore` (which finds point anomalies): S = Σ_{i<j}
    sign(x_j − x_i), tie-corrected variance Var·18 = n(n−1)(2n+5) −
    Σ_t t(t−1)(2t+5), and the standard continuity-corrected
    z = (S∓1)/sqrt(Var).

    Bit-exact across engines: S and both variance terms are
    order-independent BIGINT sums; z is ONE double division + sqrt
    (sqrt(Var) = sqrt(var18/18.0), same literal both engines).  The
    series may be integer OR double — sign comparisons and tie groups
    consume the values verbatim, so doubles that are themselves
    engine-identical (e.g. a Gi* surface) stay bit-exact.

    Shape for 100 TB: the O(n²) pair comparison runs on the per-key
    SERIES (keys × time buckets), never raw events — the self-join is an
    equi-join on the key with the i<j filter in the condition, so each
    key's pairs materialize inside one task group; tie counts are a
    second value-level aggregate on the same series frame.  A key with
    10^4 buckets makes 5·10^7 sign terms — still a map-side sum.  Output:
    key_cols + (n_obs, s_stat, var18, z).
    """
    a = series.select(
        *key_cols, F.col(order_col).alias("_ta"),
        F.col(value_col).alias("_xa"),
    )
    b = series.select(
        *key_cols, F.col(order_col).alias("_tb"),
        F.col(value_col).alias("_xb"),
    )
    pairs = a.join(b, key_cols).where(F.col("_ta") < F.col("_tb"))
    s = pairs.groupBy(*key_cols).agg(
        F.sum(F.signum(F.col("_xb") - F.col("_xa")).cast("long"))
        .alias("s_stat")
    )
    n = series.groupBy(*key_cols).agg(F.count("*").alias("n_obs"))
    ties = (
        series.groupBy(*key_cols, F.col(value_col).alias("_v"))
        .agg(F.count("*").alias("t"))
        .groupBy(*key_cols)
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("tie18")
        )
    )
    j = n.join(s, key_cols).join(ties, key_cols)
    var18 = (
        F.col("n_obs") * (F.col("n_obs") - 1) * (2 * F.col("n_obs") + 5)
        - F.col("tie18")
    )
    zz = F.when(
        (F.col("s_stat") != 0) & (F.col("var18") > 0),
        (
            F.col("s_stat")
            - F.when(F.col("s_stat") > 0, F.lit(1)).otherwise(F.lit(-1))
        ).cast("double") / F.sqrt(F.col("var18").cast("double") / F.lit(18.0)),
    ).otherwise(F.lit(0.0))
    return (
        j.select(*key_cols, "n_obs", "s_stat", var18.alias("var18"))
        .select(*key_cols, "n_obs", "s_stat", "var18", zz.alias("z"))
    )


def gini(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Per-group Gini concentration of a non-negative integer measure —
    the "is one customer/domain/source dominating?" audit.  With the
    group's values sorted ascending and 1-based rank i:
    G = Σ(2i − n − 1)·x_i / (n·Σx) — the numerator is an
    order-independent BIGINT sum once ranks are fixed (ties contribute
    identically under any tie order, so rank-by-value is deterministic
    ACROSS ENGINES even though row identity is not), and the one double
    division is correctly rounded.  Groups with Σx = 0 report G = 0.

    Shape for 100 TB: ONE exchange on the group for the rank window
    (per-group sort over group cardinality); numerator and totals fold
    in the same aggregation.  Output: (group, n_members, total, gini).
    """
    x = F.col(value_col).cast("long")
    ranked = df.select(group_col, x.alias("_x")).withColumn(
        "_i", F.row_number().over(
            Window.partitionBy(group_col).orderBy("_x")
        )
    )
    agg = ranked.groupBy(group_col).agg(
        F.count("*").alias("n_members"),
        F.sum("_x").alias("total"),
        F.sum(
            (2 * F.col("_i") - 1) * F.col("_x")
        ).alias("_num_part"),  # Σ(2i−1)x; subtract n·Σx after agg
    )
    g = F.when(
        F.col("total") > 0,
        (F.col("_num_part") - F.col("n_members") * F.col("total"))
        .cast("double")
        / (F.col("n_members") * F.col("total")).cast("double"),
    ).otherwise(F.lit(0.0))
    return agg.select(group_col, "n_members", "total", g.alias("gini"))


# Benford expected first-digit probabilities log10(1 + 1/d), written as
# literals so both engines consume the same doubles (log10 is not
# IEEE-correctly-rounded, a computed value could differ in the last ulp)
BENFORD_P = (
    (1, 0.30102999566398120),
    (2, 0.17609125905568124),
    (3, 0.12493873660829992),
    (4, 0.09691001300805642),
    (5, 0.07918124604762482),
    (6, 0.06694678963061322),
    (7, 0.05799194697768673),
    (8, 0.05115252244738129),
    (9, 0.04575749056067514),
)


def benford_audit(df: DataFrame, value_col: str) -> DataFrame:
    """First-significant-digit distribution of a positive BIGINT measure
    vs Benford's law — the classic fabricated-data / unit-mixup audit
    for ingested numeric feeds.  The first digit is taken from the
    integer's decimal STRING (substring — no log10, whose rounding could
    flip a power-of-ten boundary value's digit differently per engine);
    expected masses are shared literals; the per-digit deviation term
    (obs − n·p)² / (n·p) — summing it over digits is the χ² statistic —
    is the same double expression both engines, rounded at 9 dp.

    Shape: one map-side digit projection + one 9-key aggregate; the
    scalar total broadcasts back onto the 9-row frame.  Output:
    (digit, n_obs, expected_r, dev_r) for digits 1-9 (a digit with zero
    observations still reports its row).
    """
    vals = df.select(F.col(value_col).cast("long").alias("_v")).where(
        F.col("_v") > 0
    )
    digits = vals.select(
        F.substring(F.col("_v").cast("string"), 1, 1).cast("int")
        .alias("digit")
    )
    obs = digits.groupBy("digit").agg(F.count("*").alias("n_obs"))
    spec = df.sparkSession.createDataFrame(
        list(BENFORD_P), "digit int, p double"
    )
    n = obs.agg(F.sum("n_obs").alias("n"))
    j = (
        spec.join(obs, "digit", "left")
        .na.fill({"n_obs": 0})
        .crossJoin(F.broadcast(n))
    )
    expected = F.col("n").cast("double") * F.col("p")
    diff = F.col("n_obs").cast("double") - expected
    dev = diff * diff / expected  # plain multiply — pow() is not
    # IEEE-correctly-rounded and could differ across engines

    return j.select(
        "digit", "n_obs",
        F.round(expected, 9).alias("expected_r"),
        F.round(dev, 9).alias("dev_r"),
    )


def kernel_density(cells: DataFrame, cx_col: str = "cx", cy_col: str = "cy",
                   value_col: str = "n", radius: int = 2) -> DataFrame:
    """Per-cell Epanechnikov kernel density over grid-cell counts —
    the smoothed surface behind heatmap rendering and hotspot
    prefiltering (Gi* answers "significant vs global?", KDE answers
    "how much mass is NEAR here?").

    density(i) = Σ_{j: d²(i,j) ≤ R²} x_j·(R² − d²) / R², squared cell
    distance d² = dx² + dy².  Integer clearing: the numerator is an
    order-independent BIGINT sum of count × integer weight (max weight
    R²), so engines agree bit-exactly after the ONE double division
    by R².

    Shape: the kernel footprint is enumerated at PLAN TIME ((2R+1)²
    candidate offsets pruned to d² ≤ R² — 13 for R=2), each occupied
    cell scatters map-side, ONE equi-join back on the occupied-cell
    key and ONE hash-agg — identical topology to :func:`getis_ord_gi`,
    cost linear in occupied cells × footprint.  Output:
    (cx, cy, x, density) per occupied cell.
    """
    r2 = radius * radius
    key = (F.col(cx_col) * F.lit(1_000_000) + F.col(cy_col))
    base = cells.select(
        key.alias("key"), F.col(cx_col).alias("_cx"),
        F.col(cy_col).alias("_cy"),
        F.col(value_col).cast("long").alias("x"),
    )
    offsets = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"),
                 F.lit(r2 - dx * dx - dy * dy).alias("w"))
        for dx in range(-radius, radius + 1)
        for dy in range(-radius, radius + 1)
        if dx * dx + dy * dy <= r2
    ])
    scatter = base.select(
        F.col("x").alias("x_j"), F.explode(offsets).alias("off"),
        F.col("_cx"), F.col("_cy"),
    ).select(
        (F.col("x_j") * F.col("off.w")).alias("wx"),
        ((F.col("_cx") + F.col("off.dx")) * F.lit(1_000_000)
         + (F.col("_cy") + F.col("off.dy"))).alias("key"),
    )
    hood = scatter.groupBy("key").agg(F.sum("wx").alias("num"))
    return base.join(hood, "key").select(
        F.col("_cx").alias(cx_col), F.col("_cy").alias(cy_col), "x",
        (F.col("num").cast("double") / F.lit(float(r2))).alias("density"),
    )


def coverage_gaps(df: DataFrame, key_cols: list[str], ts_col: str,
                  bucket: str = "hour") -> DataFrame:
    """Per-key missing time buckets — the feed-completeness audit that
    answers "which hours did this source simply not deliver?" (the
    set-complement complement of :func:`rolling_zscore`, which needs an
    OBSERVED bucket to score).  A bucket is missing when it lies
    strictly inside the key's [first, last] observed span and no event
    truncates into it.

    Exact by construction: bucket edges are ``date_trunc`` results and
    the full span enumerates with ``sequence`` — integer timestamp
    arithmetic, no floats.

    Shape for 100 TB: events collapse to DISTINCT (key, bucket) first
    (one exchange over data volume, heavy partial combine — the frame
    after it is keys × buckets); the span explode generates
    series-sized rows map-side and the anti-join runs on the same
    (key, bucket) hash.  Output: key_cols + (missing_bucket).
    """
    b = F.date_trunc(bucket, F.col(ts_col))
    obs = df.select(*key_cols, b.alias("bucket")).distinct()
    span = obs.groupBy(*key_cols).agg(
        F.min("bucket").alias("mn"), F.max("bucket").alias("mx")
    )
    full = span.select(
        *key_cols,
        F.explode(
            F.sequence("mn", "mx", F.expr(f"interval 1 {bucket}"))
        ).alias("bucket"),
    )
    return full.join(obs, key_cols + ["bucket"], "left_anti").select(
        *key_cols, F.col("bucket").alias("missing_bucket")
    )


def cusum_alarms(series: DataFrame, key_cols: list[str], order_col: str,
                 value_col: str, allowance_permille: int = 200,
                 threshold_permille: int = 3000) -> DataFrame:
    """Per-key one-sided CUSUM change-point alarms over an integer
    series — the sustained-shift detector that catches what
    :func:`rolling_zscore` (point spikes) and :func:`mann_kendall`
    (whole-series monotone drift) both miss: a level change that holds.

    Textbook recursion S_t = max(0, S_{t−1} + x_t − μ(1 + a)), with
    target μ = the key's series mean and allowance a.  The recursion is
    NOT window-expressible, but its closed form is: with
    y_t = x_t − μ(1+a) and prefix sums P_t, S_t = P_t − min(0, min_j≤t
    P_j) — two stacked window functions over ONE per-key exchange.

    Integer clearing: scaling by 1000·n turns y into
    y' = 1000·n·x_t − (1000 + a‰)·T (BIGINT, since μ = T/n), so prefix
    sums, running mins and the alarm comparison
    S' ≥ threshold‰·T  (threshold in units of μ, per-mille) are all
    exact integer arithmetic; the reported score s = S'/(1000·T) —
    S in units of the mean — is the ONE double division.  Headroom:
    |y'| ≤ 1000·n·max(x) + 2000·T — BIGINT-safe far beyond any
    realistic series.

    Shape for 100 TB: runs on the keys × buckets SERIES frame; both
    windows share the same partitioning (one exchange, one sort).
    Output: key_cols + (order_col, value_col, s_means) for alarm rows
    only.
    """
    t_n = series.groupBy(*key_cols).agg(
        F.sum(F.col(value_col).cast("long")).alias("_t"),
        F.count("*").alias("_n"),
    )
    j = series.join(t_n, key_cols)
    y = (
        F.lit(1000) * F.col("_n") * F.col(value_col).cast("long")
        - F.lit(1000 + allowance_permille) * F.col("_t")
    )
    w = (
        Window.partitionBy(*key_cols).orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    staged = j.select(
        *key_cols, order_col, value_col, "_t",
        F.sum(y).over(w).alias("_pf"),
    )
    sc = F.col("_pf") - F.least(F.lit(0), F.min("_pf").over(w))
    out = staged.select(
        *key_cols, order_col, value_col, "_t", sc.alias("_sc")
    )
    return (
        out.where(F.col("_sc") >= F.lit(threshold_permille) * F.col("_t"))
        .select(
            *key_cols, order_col, value_col,
            (F.col("_sc").cast("double")
             / (F.lit(1000.0) * F.col("_t").cast("double"))).alias("s_means"),
        )
    )


def acf(series: DataFrame, key_cols: list[str], order_col: str,
        value_col: str, max_lag: int = 6) -> DataFrame:
    """Per-key autocorrelation profile of an integer series at row-lags
    1..``max_lag`` — the seasonality / persistence fingerprint next to
    :func:`mann_kendall` (drift) and :func:`cusum_alarms` (level
    shifts): a daily cycle shows as a peak at lag 24 of an hourly
    series, white noise as ≈0 everywhere.

    Pearson r over the lag-aligned pairs via the sums closed form
    r = (n·Σxy − Σx·Σy) / √((n·Σx² − (Σx)²)·(n·Σy² − (Σy)²)) —
    every sum and both variance terms are BIGINT-exact (integer
    series); only the final √ and division are doubles, so any SQL
    oracle running the same algebra matches to the bit.  Zero-variance
    windows (constant series) yield NULL, not NaN.

    Shape for 100 TB: the ``max_lag`` lag columns share ONE window
    spec (one exchange + one sort of the keys × buckets SERIES frame
    — never corpus rows); the lag dimension explodes map-side and the
    moment rollup is a map-side-combined agg on (key, lag).
    """
    if max_lag < 1:
        raise ValueError(f"acf: max_lag must be >= 1, got {max_lag}")
    w = Window.partitionBy(*key_cols).orderBy(order_col)
    x = F.col(value_col).cast("long")
    lag_structs = F.array(*[
        F.struct(
            F.lit(lg).alias("lag"),
            F.lag(x, lg).over(w).alias("y"),
        )
        for lg in range(1, max_lag + 1)
    ])
    staged = (
        series.select(*key_cols, x.alias("_x"), lag_structs.alias("_ls"))
        .select(*key_cols, "_x", F.explode("_ls").alias("_l"))
        .select(
            *key_cols, F.col("_l.lag").alias("lag"),
            "_x", F.col("_l.y").alias("_y"),
        )
        .where(F.col("_y").isNotNull())
    )
    m = staged.groupBy(*key_cols, "lag").agg(
        F.count("*").alias("n_pairs"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
    )
    num = F.col("n_pairs") * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    den1 = F.col("n_pairs") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    den2 = F.col("n_pairs") * F.col("_syy") - F.col("_sy") * F.col("_sy")
    r = F.round(
        num.cast("double")
        / F.sqrt(den1.cast("double") * den2.cast("double")),
        9,
    )
    return m.select(
        *key_cols, "lag", "n_pairs",
        F.when((den1 > 0) & (den2 > 0), r).alias("acf_r"),
    )


def theil_sen(series: DataFrame, key_cols: list[str], order_col: str,
              value_col: str) -> DataFrame:
    """Per-key Theil–Sen robust slope: the LOWER MEDIAN of all pairwise
    slopes (value_j − value_i)/(order_j − order_i), i<j — the
    breakdown-resistant trend estimate that pairs with
    :func:`mann_kendall`'s significance (MK says WHETHER the series
    drifts; Theil–Sen says HOW FAST, immune to ~29% outliers).

    ``order_col`` must be integer (e.g. epoch hours): slopes are then
    one double division of two exact integers, identical in any
    engine, and the lower-median selection (row (m+1)÷2 of the
    slope-ordered pair list) picks a VALUE that is permutation-stable
    even under duplicate slopes.

    Shape: the O(T²) pair generation is a self-equi-join ON THE KEY of
    the keys × buckets series frame (the mann_kendall shape — the
    exchange carries the series, never raw events); the median
    selection windows over each key's pair list, which is
    series-bounded (T² per key, independent of corpus row count), not
    corpus-bounded.  For T beyond ~10⁴ buckets switch to a coarser
    bucketing upstream; the operator guards nothing because T is a
    schema-level contract, not a data property.
    """
    a = series.select(
        *key_cols,
        F.col(order_col).cast("long").alias("_ta"),
        F.col(value_col).cast("long").alias("_va"),
    )
    b = series.select(
        *key_cols,
        F.col(order_col).cast("long").alias("_tb"),
        F.col(value_col).cast("long").alias("_vb"),
    )
    pairs = a.join(b, key_cols).where(F.col("_tb") > F.col("_ta"))
    slopes = pairs.select(
        *key_cols,
        (
            (F.col("_vb") - F.col("_va")).cast("double")
            / (F.col("_tb") - F.col("_ta")).cast("double")
        ).alias("_slope"),
    )

    wrk = Window.partitionBy(*key_cols).orderBy("_slope")
    wm = Window.partitionBy(*key_cols)
    ranked = slopes.select(
        *key_cols, "_slope",
        F.row_number().over(wrk).alias("_rk"),
        F.count("*").over(wm).alias("n_pairs"),
    )
    return ranked.where(
        F.col("_rk") == F.floor((F.col("n_pairs") + F.lit(1)) / F.lit(2))
    ).select(*key_cols, "n_pairs", F.col("_slope").alias("slope_med"))
