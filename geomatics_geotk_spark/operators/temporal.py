"""Temporal operators — ISO 19108 relations as interval joins + aggregates.

The reference evaluates one relation per call
(``TemporalUtils.assertTemporalRelation``, ``TemporalUtils.java:57-66``);
here a relation is a join *condition* (pure Column expressions from
:func:`functions.temporal_relation`) so Catalyst can plan it as a range
join, and the aggregate/bucketing utilities lift ``temporalExtent`` and
``splitInterval``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import temporal_relation


def interval_join(left: DataFrame, right: DataFrame, rel: str,
                  suffix: str = "_r") -> DataFrame:
    """left ⋈ right on temporal relation ``rel`` between (begin,end) pairs.

    Instants are rows with ``end IS NULL``.  Equality-shaped relations
    (Meets/MetBy/Equals/Begins/…) include an equi-key so Catalyst plans a
    hash join instead of a nested-loop: e.g. Meets joins on
    ``coalesce(l.end, l.begin) = r.begin``.
    """
    r = right
    for c in right.columns:
        r = r.withColumnRenamed(c, c + suffix)
    b1, e1 = F.col("begin"), F.col("end")
    b2, e2 = F.col("begin" + suffix), F.col("end" + suffix)
    cond = temporal_relation(rel, b1, e1, b2, e2)
    return left.join(r, cond, "inner")


def temporal_extent(df: DataFrame, group_cols: list[str] | None = None,
                    begin_col: str = "begin", end_col: str = "end") -> DataFrame:
    """min(begin)−1h .. max(end)+1h (TemporalUtils.java:97-125).

    The reference's TreeSet comparator discards DURING/EQUALS members
    (TemporalComparator.java:13-40) but a contained member never extends
    the extent, so plain min/max matches its output exactly.
    """
    end_norm = F.coalesce(F.col(end_col), F.col(begin_col))
    aggs = [
        (F.min(begin_col) - F.expr("INTERVAL 1 HOUR")).alias("extent_begin"),
        (F.max(end_norm) + F.expr("INTERVAL 1 HOUR")).alias("extent_end"),
    ]
    if group_cols:
        return df.groupBy(*group_cols).agg(*aggs)
    return df.agg(*aggs)


def split_interval(df: DataFrame, n: int,
                   begin_col: str = "begin", end_col: str = "end") -> DataFrame:
    """Each period row → n contiguous equal sub-periods (each MEETS next).

    Reference: TemporalUtils.splitInterval (TemporalUtils.java:150-164).
    Implemented as sequence+explode — the tumbling-window bucketing shape.
    Sub-second remainders follow integer microsecond division (step =
    floor(duration/n); the final sub-period absorbs the remainder, ending
    exactly at ``end`` as the reference does).
    """
    # cast: parquet TIMESTAMP_NTZ → session-TZ instant (unix_micros needs it)
    b = F.unix_micros(F.col(begin_col).cast("timestamp"))
    e = F.unix_micros(F.col(end_col).cast("timestamp"))
    step = ((e - b) / n).cast("long")
    idx = F.explode(F.sequence(F.lit(0), F.lit(n - 1)))
    out = df.withColumn("_i", idx)
    sub_b = b + F.col("_i") * step
    sub_e = F.when(F.col("_i") == n - 1, e).otherwise(sub_b + step)
    return (
        out.withColumn("sub_index", F.col("_i").cast("int"))
        .withColumn("sub_begin", F.timestamp_micros(sub_b))
        .withColumn("sub_end", F.timestamp_micros(sub_e))
        .drop("_i")
    )


def asof_join(left: DataFrame, right: DataFrame, on: list[str],
              left_ts: str = "ts", right_ts: str = "ts",
              direction: str = "backward", how: str = "inner",
              tolerance_us: int | None = None,
              matched_ts_col: str = "asof_ts") -> DataFrame:
    """As-of join: each left row picks the single right row with the
    greatest ``right_ts <= left_ts`` (direction='backward') or smallest
    ``right_ts >= left_ts`` ('forward') sharing the equi-keys ``on``.

    Spark has no ASOF JOIN; the naive encoding (range join + window to
    keep the max) shuffles the full candidate cross-section per key.
    This is the union-sort-window formulation instead: tag the two
    inputs, union them, and run ONE window per key ordered by (ts,
    side) — right rows sort before left rows at equal timestamps, so
    ``last(payload, ignoreNulls)`` over rows UNBOUNDED PRECEDING..CURRENT
    ROW is exactly the inclusive as-of match.  Cost: a single exchange
    on ``on`` + an in-partition sort — the same profile as the window
    it already needed, and no candidate blow-up between unevenly sized
    sides.  At 10^12 rows the keys (e.g. user_id) are high-cardinality,
    so the exchange parallelizes; a single pathological key serializes
    only its own events (inherent to per-key ordering — pre-bucket by
    time range within the key if one key exceeds a partition).

    Right payload = every right column not in ``on``/``right_ts``.
    ``tolerance_us`` (microseconds) voids matches farther than the
    tolerance, like pandas ``merge_asof(tolerance=...)``.  ``how`` is
    'inner' (drop unmatched left rows) or 'left'.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    if how not in ("inner", "left"):
        raise ValueError(f"how must be inner|left, got {how!r}")
    payload = [c for c in right.columns if c not in on and c != right_ts]
    clash = set(payload) & set(left.columns)
    if clash:
        raise ValueError(f"right payload columns collide with left: {sorted(clash)}")

    lcols = [c for c in left.columns if c not in on and c != left_ts]
    l_tag = left.select(
        *on,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        *[F.col(c) for c in lcols],
        F.col(left_ts).alias("__lts"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(c) for c in payload],
        F.lit(None).cast(right.schema[right_ts].dataType).alias("__rts"),
    )
    r_tag = right.select(
        *on,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
        F.lit(None).cast(left.schema[left_ts].dataType).alias("__lts"),
        *[F.col(c) for c in payload],
        F.col(right_ts).alias("__rts"),
    )
    u = l_tag.unionByName(r_tag)

    # deterministic tiebreak for duplicate (key, ts) right rows: without
    # it, which duplicate wins depends on shuffle-internal order
    tie = (
        F.xxhash64(F.struct(*[F.col(c) for c in payload], F.col("__rts")))
        if payload
        else F.xxhash64(F.col("__rts"))
    )
    u = u.withColumn("__tie", tie)
    ts_order = F.col("__ts").asc() if direction == "backward" else F.col("__ts").desc()
    w = (
        Window.partitionBy(*on)
        .orderBy(ts_order, F.col("__side").asc(), F.col("__tie").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # the match is ONE struct (ts + payload) taken atomically from the
    # most recent right row — per-column last(ignorenulls) would instead
    # forward-fill a genuinely-NULL payload field from an OLDER right
    # row, pairing values from different rows
    row_struct = F.struct(
        F.col("__rts").alias("__rts"), *[F.col(c).alias(c) for c in payload]
    )
    m = F.last(
        F.when(F.col("__side") == 0, row_struct), ignorenulls=True
    ).over(w)
    out = u.select("*", m.alias("__m")).where(F.col("__side") == 1)
    out = out.select(
        "*",
        *[F.col(f"__m.{c}").alias(f"__m_{c}") for c in payload],
        F.col("__m.__rts").alias("__m_ts"),
    )

    ok = F.col("__m_ts").isNotNull()
    if tolerance_us is not None:
        lag = F.abs(
            F.unix_micros(F.col("__lts").cast("timestamp"))
            - F.unix_micros(F.col("__m_ts").cast("timestamp"))
        )
        ok = ok & (lag <= F.lit(int(tolerance_us)))
    sel = [
        *on,
        F.col("__lts").alias(left_ts),
        *[F.col(c) for c in lcols],
        *[F.when(ok, F.col(f"__m_{c}")).alias(c) for c in payload],
        F.when(ok, F.col("__m_ts")).alias(matched_ts_col),
    ]
    out = out.select(*sel)
    if how == "inner":
        out = out.where(F.col(matched_ts_col).isNotNull())
    return out


def merge_intervals(
    df: DataFrame,
    keys: list[str],
    begin_col: str = "begin",
    end_col: str = "end",
    tiebreak: str | None = None,
) -> DataFrame:
    """Merge overlapping-or-touching [begin, end] intervals per key —
    the coverage/sweep primitive (gaps-and-islands): a new run starts
    where ``begin`` exceeds the running max ``end`` of everything
    before it.  Returns one row per merged run: ``(*keys, run_begin,
    run_end, n_merged)``.

    Shape for 100 TB: ONE exchange on the keys — the previous-max
    window, the run-id cumulative sum, and the per-run aggregation all
    share the same (keys) partitioning; per-key data is sorted once
    in-partition.  ``tiebreak`` (an extra deterministic order column,
    e.g. the row id) makes run assignment reproducible when several
    intervals share (begin, end).
    """
    order = [F.col(begin_col).asc(), F.col(end_col).asc()]
    if tiebreak:
        order.append(F.col(tiebreak).asc())
    w = Window.partitionBy(*keys).orderBy(*order)
    prev_max = F.max(end_col).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = df.withColumn(
        "_brk",
        F.when(prev_max.isNull() | (F.col(begin_col) > prev_max), 1).otherwise(0),
    )
    grp = flagged.withColumn(
        "_grp",
        F.sum("_brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return grp.groupBy(*keys, "_grp").agg(
        F.min(begin_col).alias("run_begin"),
        F.max(end_col).alias("run_end"),
        F.count("*").alias("n_merged"),
    ).drop("_grp")
