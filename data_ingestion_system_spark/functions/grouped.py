"""Grouped pandas surface: ``cogroup().applyInPandas`` (COGROUPED_MAP).

Completes the Python-function API family (scalar/GROUPED_AGG pandas UDFs
in functions/udaf.py, UDTF in functions/udtf.py, mapInPandas in
operators/multimodal.py, GROUPED_MAP applyInPandas in
operators/queries_dedup.py, applyInPandasWithState in
streaming/lifetime.py): a grouped pandas function receives whole groups
as pandas DataFrames and returns a DataFrame — the escape hatch for
group-local logic with no built-in decomposition (per-group model fits,
library calls, ...).

Scale notes: every raw row of a group crosses the shuffle into a single
task and materializes as one pandas frame — group size must be bounded
by design (a user's events, a label's vectors), never corpus-scale.
And like the UDAF, anything WITH a built-in decomposition should use it:
the per-user z-score (`zscore_builtin`, run by the declared query
`agg_zscore_by_user`) is two windowed aggregates, not a pandas function.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def zscore_builtin(events: DataFrame) -> DataFrame:
    """Per-user z-score of `value` (stddev_samp) as two windowed
    aggregates over the same partition — one shuffle, fully codegen'd."""
    w = Window.partitionBy("user_id")
    # + 0.0 normalizes IEEE negative zero: round() of a tiny negative
    # deviation yields -0.0, which value-level canonicalizers ("%g")
    # print as "-0" and mismatch the other engine's "0" (surfaced at
    # sf0.1); both this and the oracle SQL add the same term
    return events.select(
        "event_id", "user_id",
        (F.round((F.col("value") - F.avg("value").over(w))
                 / F.stddev_samp("value").over(w), 4) + F.lit(0.0))
        .alias("zscore"),
    )


_INTERP_SCHEMA = "user_id long, ts timestamp_ntz, v_interp double"


def align_interpolate(a: DataFrame, b: DataFrame) -> DataFrame:
    """COGROUPED_MAP: per-key alignment of two time series —
    ``a.cogroup(b).applyInPandas`` hands each key's slice of BOTH
    relations to one Python function, the API for logic that needs two
    whole groups side by side (merge-asof, interpolation, per-key
    reconciliation) where a row-at-a-time join cannot express the
    positional semantics.

    Here: linearly interpolate the `a` series (user_id, ts, value)
    onto the timestamps of the `b` series (user_id, ts) via
    ``np.interp`` — resampling one sensor onto another's clock.
    Outside the known range np.interp clamps to the boundary value;
    a-side duplicate timestamps collapse to their mean so the
    interpolation grid is strictly increasing; users present in only
    one relation emit nothing.

    Scale notes: one shuffle on the cogroup key; each task sees one
    user's two slices as pandas frames (bounded by design — a user's
    events, never corpus-scale), and the arithmetic is one vectorized
    np.interp per group.  Timestamps convert ns→µs by INTEGER division
    before becoming float64: µs epochs (~1.7e15) are exact in a
    double, ns epochs (~1.7e18) are not, and that 512 ns quantization
    would corrupt the interpolation weights."""
    import numpy as np

    def interp(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty or right.empty:
            return pd.DataFrame(
                {"user_id": pd.Series(dtype="int64"),
                 "ts": pd.Series(dtype="datetime64[us]"),
                 "v_interp": pd.Series(dtype="float64")})
        grid = (left.groupby("ts", as_index=False)["value"].mean()
                .sort_values("ts"))
        def us(s: pd.Series) -> "np.ndarray":
            # normalize to µs REGARDLESS of the incoming resolution
            # (Arrow may hand datetime64[ns] or [us] depending on
            # version) — µs epochs are exact in float64, ns are not
            return (s.to_numpy().astype("datetime64[us]").astype("int64")
                    .astype("float64"))

        xp = us(grid["ts"])
        fp = grid["value"].to_numpy(dtype="float64")
        out = right.sort_values("ts")
        x = us(out["ts"])
        return pd.DataFrame({
            "user_id": out["user_id"].to_numpy(),
            "ts": out["ts"].to_numpy(),
            "v_interp": np.round(np.interp(x, xp, fp), 4),
        })

    # Pin the cogroup width to the session's parallelism (r9, measured):
    # the per-GROUP Python dispatch (Arrow slice + function call per
    # user) is the real cost of this stage, and it is NOT proportional
    # to bytes — but AQE coalescing sizes partitions BY bytes, so at
    # bench scale it folded the whole cogroup onto ONE task (1.5k
    # serial dispatches, 8.2s; 32-wide it is ~1.3s).  An explicit
    # user-specified partition count is exempt from AQE coalescing and
    # satisfies the cogroup's required distribution, so no extra
    # exchange appears; at cluster scale defaultParallelism is the
    # same width a plain shuffle would get, and per-task memory stays
    # bounded by the largest single GROUP either way (Arrow streams
    # one group at a time).
    spark = a.sparkSession
    width = max(spark.sparkContext.defaultParallelism,
                int(spark.conf.get("spark.sql.shuffle.partitions", "200")))
    return (a.select("user_id", "ts", "value")
            .repartition(width, "user_id").groupBy("user_id")
            .cogroup(b.select("user_id", "ts")
                     .repartition(width, "user_id").groupBy("user_id"))
            .applyInPandas(interp, _INTERP_SCHEMA))
