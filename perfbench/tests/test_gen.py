"""The generator is a pure function of the seed."""

from __future__ import annotations

import json

from perfbench import gen


def test_landing_is_deterministic_per_seed():
    a = gen.landing(7, 200, "t")
    b = gen.landing(7, 200, "t")
    assert a.objects == b.objects
    assert a.silver == b.silver and a.good == b.good and a.bad == b.bad
    assert gen.landing(8, 200, "t").objects != a.objects


def test_landing_injects_faults_and_accounts_for_them():
    land = gen.landing(3, 1500, "f")
    for kind in ("request", "response"):
        lines = [o.line for o in land.objects if o.kind == kind]
        bad = 0
        for line in lines:
            try:
                rec = json.loads(line)
            except json.JSONDecodeError:
                bad += 1
                continue
            bad += "transactionId" not in rec
        assert bad == land.bad[kind] > 0
        assert len(lines) - bad == land.good[kind]
    resp = [o.line for o in land.objects if o.kind == "response"]
    assert len(set(resp)) < len(resp)  # redelivered responses
    assert any(row[7] is None for row in land.silver.values())  # never answered
    seen, late = set(), 0
    for o in land.objects:  # some requests land after their response
        if o.txn is not None:
            late += o.kind == "request" and o.txn in seen
            seen.add(o.txn)
    assert late > 0


def test_search_sequence_is_deterministic_with_a_fixed_repeat_structure():
    silver = gen.landing(5, 500, "s").silver
    seq = gen.search_sequence(5, silver, 100)
    assert seq == gen.search_sequence(5, silver, 100)
    other = gen.search_sequence(6, silver, 100)
    assert other != seq
    distinct = sum(n for _, n in gen.SHAPES)
    for s in (seq, other):
        assert len(s) == 100
        assert len({json.dumps(f, sort_keys=True) for f in s}) == distinct
    shapes = {tuple(sorted(f)) for f in seq}
    assert shapes == {(), ("app_id",), ("action",), ("action", "app_id"),
                      ("app_id", "workflow_id"), ("transaction_id",)}


def test_curation_tables_are_deterministic(tmp_path):
    size = gen.CurationSize(docs=120, vectors=40, orders=200, customers=50, suppliers=10)
    a = gen.curation_tables(str(tmp_path / "a"), 11, size)
    b = gen.curation_tables(str(tmp_path / "b"), 11, size)
    assert a == b
    for name in a:
        assert (tmp_path / "a" / f"{name}.parquet").read_bytes() == \
            (tmp_path / "b" / f"{name}.parquet").read_bytes()
