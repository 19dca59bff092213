"""Custom aggregate (UDAF) surface: Arrow-batched Pandas GROUPED_AGG UDFs.

The reference has no UDF/UDAF surface at all (SURVEY.md §2.12 — its logic
is host-language TypeScript); this module closes that gap the Spark-native
way.  A GROUPED_AGG pandas_udf receives each group's column as one Arrow
batch and returns a scalar — the idiomatic escape hatch when an aggregate
genuinely isn't expressible with built-ins.

Scale note: GROUPED_AGG has NO partial aggregation — every raw value of a
group crosses the shuffle to one task (unlike built-in aggs, which combine
map-side).  That is acceptable for bounded group sizes and exactly why the
geometric mean below should, in hot paths, be rewritten to the built-in
decomposition ``exp(avg(ln(x)))`` (which is also the DuckDB oracle).  Keep
custom UDAFs for logic with no such decomposition; when one exists,
Catalyst-visible built-ins win.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf


@pandas_udf("double")
def geometric_mean(v: pd.Series) -> float:
    """exp(mean(ln(v))) over one group's POSITIVE values — zeros and
    negatives are excluded (the standard practical treatment: one zero
    would otherwise collapse the whole group's mean to 0/NaN; sf0.1
    events contain genuine zero values).  Mirrors the oracle's
    ``avg(ln(value)) FILTER (WHERE value > 0)`` — including the
    degenerate all-non-positive group, where avg-over-nothing is NULL
    (not NaN, which would break value-hash parity; ADVICE r3)."""
    x = v.to_numpy(dtype="float64")
    x = x[x > 0]
    if x.size == 0:
        return None
    return float(np.exp(np.log(x).mean()))


@pandas_udf("long")
def n_values(v: pd.Series) -> int:
    """Group size.  Exists because Spark disallows mixing GROUPED_AGG
    pandas UDFs with built-in aggregates in one ``agg()`` — a query
    wanting both must express both as pandas UDFs (or split the agg)."""
    return len(v)

