"""Output checks that do not trust the engine.

Every expected value comes from the generator's in-memory records, from
files read with pyarrow, or from DuckDB running the registry's oracle SQL;
none of it comes from Spark.  Each check returns a list of failure
messages, empty when the output is right, so one bad result never hides
another.
"""

from __future__ import annotations

import glob
import math
import os
from collections.abc import Iterable, Sequence
from datetime import date, datetime
from decimal import Decimal

import pyarrow.parquet as pq

from perfbench import gen


def committed_parquet(path: str) -> list[str]:
    """Every committed parquet file under ``path``; hidden and
    ``_``-prefixed entries are uncommitted or metadata, as Spark treats
    them."""
    return [f for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
            if not any(p.startswith(("_", ".")) for p in
                       os.path.relpath(f, path).split(os.sep))]


def parquet_rows(path: str) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows for f in committed_parquet(path))


def json_lines(path: str) -> int:
    """Non-empty lines in every committed JSON part file under ``path``."""
    n = 0
    for f in glob.glob(os.path.join(path, "part-*")):
        with open(f) as fh:
            n += sum(1 for line in fh if line.strip())
    return n


def check_counts(what: str, got: int, want: int) -> list[str]:
    return [] if got == want else [f"{what}: got {got}, want {want}"]


def _norm(v):
    """One comparable Python value per cell, independent of which engine
    or client library produced it."""
    if isinstance(v, (float, Decimal)):
        x = float(v)
        return None if math.isnan(x) else x
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def _sort_key(row: tuple) -> tuple:
    def k(v):
        if v is None:
            return (0, "")
        if isinstance(v, float):
            return (1, f"{v:.4f}")
        if isinstance(v, tuple):
            return (2, repr(tuple(k(x) for x in v)))
        return (3, repr(v))
    return tuple(k(v) for v in row)


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, (float, int)) or \
            isinstance(b, float) and isinstance(a, (float, int)):
        return math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def rows_match(what: str, got_cols: Sequence[str], got: Iterable[Sequence],
               want_cols: Sequence[str], want: Iterable[Sequence],
               ordered: bool = False) -> list[str]:
    """Compare two row sets column-by-name; as multisets unless
    ``ordered``.  Floats match within a relative 1e-6."""
    if sorted(got_cols) != sorted(want_cols):
        return [f"{what}: columns {sorted(got_cols)} != {sorted(want_cols)}"]
    order = sorted(got_cols)
    gi = [list(got_cols).index(c) for c in order]
    wi = [list(want_cols).index(c) for c in order]
    g = [tuple(_norm(r[i]) for i in gi) for r in got]
    w = [tuple(_norm(r[i]) for i in wi) for r in want]
    if len(g) != len(w):
        return [f"{what}: {len(g)} rows, want {len(w)}"]
    if not ordered:
        g.sort(key=_sort_key)
        w.sort(key=_sort_key)
    for n, (x, y) in enumerate(zip(g, w)):
        if not _same(x, y):
            return [f"{what}: row {n} differs: {x} != {y}"]
    return []


def duckdb_oracle(tables_dir: str, sql: str):
    """(columns, rows) of the oracle SQL over the parquet tables in
    ``tables_dir``, one view per table."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        for f in sorted(glob.glob(os.path.join(tables_dir, "*.parquet"))):
            name = os.path.basename(f)[: -len(".parquet")]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
        rel = con.execute(sql)
        cols = [d[0] for d in rel.description]
        return cols, rel.fetchall()
    finally:
        con.close()


def snapshot_search(what: str, rows, filters: dict, lower: Sequence, upper: Sequence,
                    limit: int = 100) -> list[str]:
    """A search that ran while ingest was committing saw some snapshot S of
    the landing objects, with ``lower`` <= S <= ``upper``: ``lower`` holds
    the objects committed before the search began, ``upper`` those whose
    batch had begun before it ended.  Its rows (in ``SILVER_COLUMNS``
    order) must be the top ``limit`` of S's silver view: each a matching
    request of ``upper`` with a latest response S can give it, strictly in
    search order, and no row of ``lower`` that outranks the last one
    missing.  Only objects in flight during the search may go either way."""
    if rows is None:
        return [f"{what}: no result"]
    rows = [tuple(r) for r in rows]
    lo, hi = gen.silver_rows(lower), gen.silver_rows(upper)
    lo_resp, hi_resp = gen.responses(lower), gen.responses(upper)
    for r in rows:
        want = hi.get(r[0])
        if want is None or r[:7] != want[:7] or not gen.matches(want, filters):
            return [f"{what}: {r} is not a matching request of the snapshot"]
        floor = max(lo_resp.get(r[0], ()), default=None)
        allowed = {(s, k) for ms, k, s in hi_resp.get(r[0], ())
                   if floor is None or (ms, k) >= floor[:2]}
        if floor is None:
            allowed.add((None, None))
        if r[7:] not in allowed:
            return [f"{what}: {r} has a response no snapshot gives it"]
    ranks = [gen.rank(r) for r in rows]
    if len(rows) > limit or any(a <= b for a, b in zip(ranks, ranks[1:])):
        return [f"{what}: {len(rows)} rows, not a top-{limit} in search order"]
    got = {r[0] for r in rows}
    for want in gen.expected_search(lo, filters, limit=len(lo)):
        if len(rows) == limit and gen.rank(want) < ranks[-1]:
            break
        if want[0] not in got:
            return [f"{what}: {want} was committed before the search but is missing"]
    return []
