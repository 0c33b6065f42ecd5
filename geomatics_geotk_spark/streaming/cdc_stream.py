"""Streaming CDC merge-apply: the last-change-wins snapshot
(`queries.q_cdc_apply`) as a stateful stream — per business key, the
running (ts, seq)-maximal change with its op/value and a change
counter, emitted as an UPSERT row whenever a batch touches the key.

One ordering rule with batch: the winning change is the (ts, seq)
lexicographic maximum over everything seen so far, so after the stream
drains, the LAST emitted row per key equals the batch snapshot row
over the same log (tested for any micro-batching and across a
checkpoint restart).  A terminal delete emits ``last_op = 'D'`` — the
downstream upsert consumer's delete marker (the batch twin simply
drops the key; the streaming contract cannot retract silently, so it
signals instead).

Why this state is streaming-safe: per key it is FIVE scalars
(ts, seq, op, value, n_changes) — constant-size regardless of change
volume, the OHLC-bar argument.  Late changes are handled exactly, not
dropped: lexicographic max is order-independent, so a change arriving
after a newer one simply loses the comparison (only the
``n_changes`` counter is order-sensitive, and it counts every row
exactly once).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def streaming_cdc_apply(stream: DataFrame, key_col: str = "cust_key",
                        ts_col: str = "ts", seq_col: str = "seq",
                        op_col: str = "op",
                        value_col: str = "price") -> DataFrame:
    """(cust_key, last_ts, last_op, price, n_changes) upsert rows —
    one per touched key per micro-batch.  Write with outputMode
    'update' (memory/console) or treat the append stream as an upsert
    feed keyed by cust_key.  ``price`` keeps the input column's type
    (a DECIMAL stays DECIMAL), as in the batch twin."""
    from typing import Any, Iterator

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    keyed = stream.select(
        F.col(key_col).alias("cust_key"),
        F.unix_date(F.col(ts_col).cast("date")).alias("_days"),
        F.col(seq_col).cast("long").alias("seq"),
        F.col(op_col).alias("op"),
        F.col(value_col).alias("price"),
    )
    price_type = keyed.schema["price"].dataType.simpleString()

    def apply_fn(key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState):
        (ckey,) = key
        if state.exists:
            days, seq, op, price, n = state.get
        else:
            days, seq, op, price, n = None, None, None, None, 0
        for pdf in pdfs:
            for d, s, o, p in zip(pdf["_days"], pdf["seq"], pdf["op"],
                                  pdf["price"]):
                n += 1
                d, s = int(d), int(s)
                if days is None or (d, s) > (days, seq):
                    days, seq, op, price = d, s, str(o), p
        state.update((days, seq, op, price, n))
        yield pd.DataFrame({
            "cust_key": [ckey],
            "last_ts": pd.to_datetime([days], unit="D"),
            "last_op": [op],
            "price": [price],
            "n_changes": [n],
        })

    return keyed.groupBy("cust_key").applyInPandasWithState(
        apply_fn,
        outputStructType=(
            f"cust_key long, last_ts date, last_op string, price {price_type}, "
            "n_changes long"
        ),
        stateStructType=(
            f"days long, seq long, op string, price {price_type}, n_changes long"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
