"""The checker accepts right results and rejects deliberately wrong ones."""

from __future__ import annotations

from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import check, gen

COLS = list(gen.SILVER_COLUMNS)


def _row(txn, app, ts, status):
    t = datetime(2024, 3, 1, 10, 0, ts)
    return (txn, app, "/api/x", "wf-000", "read", t,
            f"audit/2024-03-01/{txn}/request.json", status,
            None if status is None else f"audit/2024-03-01/{txn}/response.json")


SILVER = {r[0]: r for r in (_row("t1", "a", 1, 200), _row("t2", "b", 2, None),
                            _row("t3", "a", 3, 500), _row("t4", "a", 3, 404))}


def test_expected_search_filters_and_orders_newest_first():
    got = gen.expected_search(SILVER, {"app_id": "a"})
    assert [r[0] for r in got] == ["t4", "t3", "t1"]  # ts tie broken by id desc
    assert gen.expected_search(SILVER, {"app_id": "a"}, limit=1) == [SILVER["t4"]]
    assert [r[0] for r in gen.expected_search(SILVER, {})] == ["t4", "t3", "t2", "t1"]


def test_rows_match_accepts_any_row_order_and_column_order():
    want = list(SILVER.values())
    cols = COLS[::-1]
    got = [tuple(reversed(r)) for r in reversed(want)]
    assert check.rows_match("silver", cols, got, COLS, want) == []


def test_rows_match_rejects_wrong_results():
    want = gen.expected_search(SILVER, {"app_id": "a"})
    wrong_status = [want[0][:7] + (201,) + want[0][8:]] + want[1:]
    assert check.rows_match("q", COLS, wrong_status, COLS, want)
    assert check.rows_match("q", COLS, want[:-1], COLS, want)
    assert check.rows_match("q", COLS, list(reversed(want)), COLS, want, ordered=True)
    assert check.rows_match("q", COLS[:-1], [r[:-1] for r in want], COLS, want)


def test_rows_match_compares_floats_within_tolerance():
    assert check.rows_match("f", ["x"], [(0.1 + 0.2,)], ["x"], [(0.3,)]) == []
    assert check.rows_match("f", ["x"], [(0.3001,)], ["x"], [(0.3,)])


def test_duckdb_oracle_and_counts(tmp_path):
    pq.write_table(pa.table({"k": [1, 2, 2], "v": [0.5, 1.5, 2.5]}),
                   str(tmp_path / "t.parquet"))
    cols, rows = check.duckdb_oracle(str(tmp_path), "SELECT k, sum(v) AS s FROM t GROUP BY k")
    assert check.rows_match("oracle", ["s", "k"], [(4.0, 2), (0.5, 1)], cols, rows) == []
    assert check.rows_match("oracle", ["s", "k"], [(4.5, 2), (0.5, 1)], cols, rows)
    assert check.check_counts("n", 3, 3) == [] and check.check_counts("n", 2, 3)


def _snapshot_case():
    land = gen.landing(4, 400, "k")
    objs = land.objects
    lower, upper = objs[:500], objs[:560]
    return lower, upper


def test_snapshot_search_accepts_the_top_of_any_snapshot_in_between():
    lower, upper = _snapshot_case()
    for snap in (lower, upper, upper[:530]):
        for filters in ({}, {"action": "read"}, {"app_id": "app-03"}):
            rows = gen.expected_search(gen.silver_rows(snap), filters)
            assert check.snapshot_search("s", rows, filters, lower, upper) == []


def test_snapshot_search_rejects_skipped_stale_or_foreign_rows():
    lower, upper = _snapshot_case()
    silver = gen.silver_rows(lower)
    top = gen.expected_search(silver, {}, limit=101)
    assert len(top) == 101
    assert check.snapshot_search("s", top[1:], {}, lower, upper)  # ranks 2..101
    subset = gen.silver_rows(lower[:300])  # top-100 of part of what was committed
    assert check.snapshot_search("s", gen.expected_search(subset, {}), {}, lower, upper)
    assert check.snapshot_search("s", top[:100][::-1], {}, lower, upper)  # order
    later = gen.silver_rows(gen.landing(4, 400, "k").objects)  # not yet landed
    assert check.snapshot_search("s", gen.expected_search(later, {}), {}, lower, upper)
    answered = next(r for r in top[:100] if r[7] is not None)
    unanswered = [answered[:7] + (None, None) if r is answered else r for r in top[:100]]
    assert check.snapshot_search("s", unanswered, {}, lower, upper)  # lost its response
    assert check.snapshot_search("s", None, {}, lower, upper)
