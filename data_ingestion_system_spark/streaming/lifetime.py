"""Lifetime (unbounded-key-state) aggregates: per-user running profiles.

Watermarked windows bound their state by evicting closed windows; some
products genuinely need the UNBOUNDED form — per-user lifetime totals,
first-seen timestamps, monotone high-water marks — where state grows
with the key space forever.  That regime is what the RocksDB state
store exists for (state ≫ executor heap, changelog checkpointing —
pinned in tests/test_streaming_lifetime.py).

``lifetime_profiles`` — ``applyInPandasWithState`` with NoTimeout (state
deliberately never expires) — emits, per micro-batch, one updated
(user_id, n_events, total_value, max_value) row for every user the
batch touched.  State reads/writes are one get/update per key per batch
— O(keys touched in the batch), never O(all keys).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_SCHEMA = T.StructType([
    T.StructField("n_events", T.LongType()),
    T.StructField("total_value", T.DoubleType()),
    T.StructField("max_value", T.DoubleType()),
])

OUTPUT_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("n_events", T.LongType()),
    T.StructField("total_value", T.DoubleType()),
    T.StructField("max_value", T.DoubleType()),
])


def _update_one(key: tuple, pdfs: Iterator[pd.DataFrame],
                state: GroupState) -> Iterator[pd.DataFrame]:
    n, total, mx = 0, 0.0, float("-inf")
    for pdf in pdfs:
        vals = pdf["value"].dropna()
        n += len(pdf)
        total += float(vals.sum())
        if len(vals):
            mx = max(mx, float(vals.max()))
    if state.exists:
        pn, ptotal, pmx = state.get
        n, total, mx = n + pn, total + ptotal, max(mx, pmx)
    mx = 0.0 if mx == float("-inf") else mx  # no non-null value seen yet
    state.update((n, total, mx))
    yield pd.DataFrame({
        "user_id": [key[0]], "n_events": [n],
        "total_value": [total], "max_value": [mx],
    })


def lifetime_profiles(events: DataFrame) -> DataFrame:
    """events: streaming (user_id long, value double, ...) -> one updated
    lifetime profile row per user touched in each micro-batch."""
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _update_one,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
