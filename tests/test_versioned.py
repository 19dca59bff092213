"""Versioned snapshot tables: atomic publish, time travel, rollback,
exactly-once stream commits, vacuum (sources/versioned.py)."""

import os

import pytest

from data_ingestion_system_spark.sources import versioned as V


def _df(spark, rows):
    return spark.createDataFrame([(int(i),) for i in rows], "id long")


def _ids(df):
    return sorted(r.id for r in df.collect())


def test_overwrite_commits_and_time_travel(spark, tmp_path):
    root = str(tmp_path / "t")
    assert V.commit_snapshot(_df(spark, [1, 2]), root) == 1
    assert V.commit_snapshot(_df(spark, [7, 8, 9]), root) == 2
    assert _ids(V.read_snapshot(spark, root)) == [7, 8, 9]
    assert _ids(V.read_snapshot(spark, root, version=1)) == [1, 2]
    assert [r["version"] for r in V.versions(root)] == [1, 2]


def test_append_shares_parent_dirs_without_rewrite(spark, tmp_path):
    root = str(tmp_path / "t")
    V.commit_snapshot(_df(spark, [1]), root)
    V.commit_snapshot(_df(spark, [2, 3]), root, mode="append")
    assert _ids(V.read_snapshot(spark, root)) == [1, 2, 3]
    assert _ids(V.read_snapshot(spark, root, version=1)) == [1]
    v1, v2 = V.versions(root)
    # structural sharing: v2 references v1's directory, no data copy
    assert v1["dirs"][0] in v2["dirs"] and len(v2["dirs"]) == 2


def test_read_snapshot_uses_the_stored_schema(spark, tmp_path):
    """The commit record carries the schema, so resolving a snapshot runs
    no inference job; a record written without one still reads."""
    import json

    from perfbench.tracing import JobCounter

    root = str(tmp_path / "t")
    V.commit_snapshot(_df(spark, [1, 2]), root)
    V.commit_snapshot(_df(spark, [3]), root, mode="append")
    inferred = spark.read.parquet(
        *[os.path.join(root, d) for d in V.versions(root)[-1]["dirs"]])
    jobs = JobCounter(spark, True)
    with jobs.group("test-read-snapshot"):
        snap = V.read_snapshot(spark, root)
    assert jobs.counts("test-read-snapshot")["jobs"] == 0
    assert snap.schema == inferred.schema
    assert _ids(snap) == _ids(inferred) == [1, 2, 3]
    # rollback and checkpoint records carry the schema forward
    V.rollback(root, 1)
    assert V.checkpoint_snapshot(spark, root) == 4
    assert all("schema" in rec for rec in V.versions(root))
    # a record from before schemas were stored reads by inference
    head = V._record_path(root, 4)
    with open(head) as f:
        rec = json.load(f)
    del rec["schema"]
    with open(head, "w") as f:
        json.dump(rec, f)
    assert _ids(V.read_snapshot(spark, root)) == [1, 2]


def test_crashed_writer_is_invisible_and_vacuumable(spark, tmp_path):
    root = str(tmp_path / "t")
    V.commit_snapshot(_df(spark, [1]), root)
    # a writer that staged data but died before publishing its record
    orphan = V._stage(_df(spark, [99]), root)
    assert _ids(V.read_snapshot(spark, root)) == [1]  # reader blind to it
    # the retention guard spares FRESH unreferenced dirs — they may
    # belong to an in-flight writer about to claim a version
    assert V.vacuum(root) == []
    assert V.vacuum(root, min_age_seconds=0) == [orphan]
    assert not os.path.exists(os.path.join(root, orphan))
    assert _ids(V.read_snapshot(spark, root)) == [1]  # live data untouched


def test_rollback_is_a_new_commit_pointing_at_old_dirs(spark, tmp_path):
    root = str(tmp_path / "t")
    V.commit_snapshot(_df(spark, [1, 2]), root)
    V.commit_snapshot(_df(spark, [666]), root)          # the bad deploy
    assert V.rollback(root, 1) == 3
    assert _ids(V.read_snapshot(spark, root)) == [1, 2]
    assert _ids(V.read_snapshot(spark, root, version=2)) == [666]  # audit


def test_version_claim_is_exclusive(spark, tmp_path):
    root = str(tmp_path / "t")
    V.commit_snapshot(_df(spark, [1]), root)
    # another writer claims version 2 out from under us...
    assert V._try_commit(root, {"version": 2, "dirs": [], "mode": "x",
                                "meta": {}})
    # ...the same slot cannot be claimed twice...
    assert not V._try_commit(root, {"version": 2, "dirs": [], "mode": "y",
                                    "meta": {}})
    # ...and a concurrent commit_snapshot retries onto version 3
    assert V.commit_snapshot(_df(spark, [5]), root) == 3


def test_stream_batch_replay_is_exactly_once(spark, tmp_path):
    root = str(tmp_path / "t")
    assert V.commit_stream_batch(_df(spark, [1]), root, batch_id=0) == 1
    assert V.commit_stream_batch(_df(spark, [2]), root, batch_id=1) == 2
    # at-least-once foreachBatch re-delivers batch 1 after a restart
    assert V.commit_stream_batch(_df(spark, [2]), root, batch_id=1) is None
    assert _ids(V.read_snapshot(spark, root)) == [1, 2]


def test_stream_batch_lands_again_after_rollback(spark, tmp_path):
    """A rollback takes the rolled-away batches out of the table's
    history: replaying one of them commits it again, while a batch the
    restored version holds stays a no-op."""
    root = str(tmp_path / "t")
    V.commit_stream_batch(_df(spark, [1]), root, batch_id=0)
    V.commit_stream_batch(_df(spark, [2]), root, batch_id=1)
    V.rollback(root, 1)
    assert V.batch_committed(root, 1) is False
    assert V.commit_stream_batch(_df(spark, [1]), root, batch_id=0) is None
    assert V.commit_stream_batch(_df(spark, [2]), root, batch_id=1) == 4
    assert V.batch_committed(root, 1)
    assert _ids(V.read_snapshot(spark, root)) == [1, 2]


def test_checkpoint_folds_dirs_and_vacuum_reclaims(spark, tmp_path):
    root = str(tmp_path / "t")
    for b in range(4):
        V.commit_stream_batch(_df(spark, [b]), root, batch_id=b)
    assert len(V.versions(root)[-1]["dirs"]) == 4
    v = V.checkpoint_snapshot(spark, root)
    assert len(V._resolve(root, v)["dirs"]) == 1
    assert _ids(V.read_snapshot(spark, root)) == [0, 1, 2, 3]
    # history pre-fold still resolves until vacuumed...
    assert _ids(V.read_snapshot(spark, root, version=2)) == [0, 1]
    # ...then keep only the folded head and reclaim the batch dirs
    gone = V.vacuum(root, keep_versions=1, min_age_seconds=0)
    assert len(gone) == 4
    assert _ids(V.read_snapshot(spark, root)) == [0, 1, 2, 3]
    with pytest.raises(Exception):
        V.read_snapshot(spark, root, version=2).collect()


def test_empty_and_missing_versions_raise(spark, tmp_path):
    root = str(tmp_path / "t")
    with pytest.raises(FileNotFoundError):
        V.read_snapshot(spark, root)
    V.commit_snapshot(_df(spark, [1]), root)
    with pytest.raises(KeyError):
        V.read_snapshot(spark, root, version=9)


def test_stream_to_versioned_table_end_to_end(spark, tmp_path):
    """Integration leg: a real readStream drains into the versioned
    table through commit_stream_batch, each micro-batch becomes one
    append commit, and a full replay of the SAME files from a wiped
    checkpoint (at-least-once redelivery at its worst) changes nothing
    — the log's batch-id ledger absorbs it.  Every intermediate version
    stays time-travel-readable."""
    import json

    landing = tmp_path / "landing"
    landing.mkdir()
    root = str(tmp_path / "table")
    ck1, ck2 = str(tmp_path / "ck1"), str(tmp_path / "ck2")
    for b in range(3):
        (landing / f"f{b}.json").write_text(
            "\n".join(json.dumps({"id": 10 * b + i}) for i in range(2)))

    def drain(ck):
        q = (spark.readStream.schema("id long").option("maxFilesPerTrigger", 1)
             .json(str(landing))
             .writeStream
             .foreachBatch(lambda df, bid: V.commit_stream_batch(df, root, bid))
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        assert q.awaitTermination(120)

    drain(ck1)
    ids = _ids(V.read_snapshot(spark, root))
    assert ids == [0, 1, 10, 11, 20, 21]
    n_versions = V.latest_version(root)
    assert n_versions == 3          # one commit per micro-batch
    # (file->batch order is mtime-dependent, so pin shape, not identity)
    v1 = _ids(V.read_snapshot(spark, root, version=1))
    assert len(v1) == 2 and set(v1) <= set(ids)
    # wiped checkpoint: the stream re-delivers every file as batches 0..2
    drain(ck2)
    assert V.latest_version(root) == n_versions      # ledger absorbed it
    assert _ids(V.read_snapshot(spark, root)) == ids


def test_concurrent_committers_serialize_without_loss(spark, tmp_path):
    """Optimistic concurrency under real contention: 6 threads race 4
    commits each against one table; every commit must land (no lost
    updates), versions must be gap-free and unique, and each append
    commit's parent must be exactly the version below it — the
    linearizability the exclusive-create claim promises."""
    import threading

    root = str(tmp_path / "t")
    V.commit_snapshot(_df(spark, [0]), root)
    errs = []

    def worker(w):
        try:
            for i in range(4):
                V.commit_snapshot(_df(spark, [100 * w + i]), root,
                                  mode="append", _retries=200)
        except Exception as e:          # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=worker, args=(w,)) for w in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    vs = V.versions(root)
    assert [r["version"] for r in vs] == list(range(1, 26))  # 1 + 24, gap-free
    # every commit's dir list extends its parent's by exactly one
    for parent, child in zip(vs, vs[1:]):
        assert child["dirs"][:-1] == parent["dirs"]
    assert len(_ids(V.read_snapshot(spark, root))) == 25


def test_racing_duplicate_batch_commits_exactly_one(spark, tmp_path):
    """The zombie-query race: a restarted stream overlapping its
    not-yet-dead predecessor delivers the SAME batch concurrently.  The
    idempotence key is checked inside the version-claim loop, so of N
    racing commits with one key exactly one lands — a pre-check outside
    the loop would let several pass it before any commits."""
    import threading

    root = str(tmp_path / "t")
    V.commit_snapshot(_df(spark, [0]), root)
    results, errs = [], []

    def deliver():
        try:
            results.append(V.commit_stream_batch(
                _df(spark, [7]), root, batch_id=7))
        except Exception as e:          # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=deliver) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert sorted(r is None for r in results) == [False, True, True, True]
    assert _ids(V.read_snapshot(spark, root)) == [0, 7]  # rows land ONCE
    keyed = [r for r in V.versions(root)
             if r["meta"].get("idempotence_key") == "batch:7"]
    assert len(keyed) == 1


def test_stream_batch_fast_path_reads_only_the_head(spark, tmp_path):
    """Sequential replays short-circuit on the head's max_batch_id (one
    record read, no full log scan), including across an interleaved
    manual commit that carries no batch metadata."""
    root = str(tmp_path / "t")
    V.commit_stream_batch(_df(spark, [1]), root, batch_id=0)
    V.commit_stream_batch(_df(spark, [2]), root, batch_id=1)
    assert V._head(root)["meta"]["max_batch_id"] == 1
    V.commit_snapshot(_df(spark, [3]), root, mode="append")  # no batch meta
    # replay of batch 0 now misses the fast path but still no-ops on
    # the in-loop key scan
    assert V.commit_stream_batch(_df(spark, [1]), root, batch_id=0) is None
    assert V.commit_stream_batch(_df(spark, [4]), root, batch_id=2) == 4
    assert V._head(root)["meta"]["max_batch_id"] == 2


def test_stale_snapshot_key_race_cannot_double_append(spark, tmp_path):
    """Deterministic replay of the TOCTOU the single-snapshot derivation
    closes: a same-key winner commits BETWEEN the loser's log scan and
    its slot claim.  Because the loser's parent comes from the same
    snapshot as its key check, the winner necessarily occupies the slot
    the loser computed (parent+1), the exclusive create fails, and the
    retry's rescan sees the winner's key — the loser returns None.  Two
    separate listings (key scan, then head read) let the loser adopt
    the winner as parent and append the batch twice."""
    root = str(tmp_path / "t")
    V.commit_snapshot(_df(spark, [0]), root)
    winner_df, loser_df = _df(spark, [7]), _df(spark, [7])

    real_versions = V.versions
    fired = {"done": False}

    def versions_with_interleaved_winner(r):
        snap = real_versions(r)
        if not fired["done"]:
            fired["done"] = True
            # winner lands AFTER the loser took its snapshot
            assert V.commit_snapshot(
                winner_df, r, mode="append",
                idempotence_key="batch:7") == 2
        return snap

    orig = V.versions
    V.versions = versions_with_interleaved_winner
    try:
        got = V.commit_snapshot(loser_df, root, mode="append",
                                idempotence_key="batch:7")
    finally:
        V.versions = orig
    assert got is None
    assert _ids(V.read_snapshot(spark, root)) == [0, 7]  # appended ONCE
    keyed = [r for r in V.versions(root)
             if r["meta"].get("idempotence_key") == "batch:7"]
    assert len(keyed) == 1


def test_checkpoint_contention_raises_and_leaves_no_orphan(spark, tmp_path):
    """A checkpoint that loses its slot claim cannot retry usefully (the
    head advanced past the version it folded), so it raises — and it
    deletes its staged fold instead of orphaning it until vacuum."""
    root = str(tmp_path / "t")
    V.commit_snapshot(_df(spark, [1]), root)
    V.commit_snapshot(_df(spark, [2]), root, mode="append")

    real_try = V._try_commit

    def steal_the_slot(r, record):
        # a concurrent append claims the slot first, exactly once
        V._try_commit = real_try
        assert V.commit_snapshot(_df(spark, [9]), r, mode="append") == 3
        return real_try(r, record)

    V._try_commit = steal_the_slot
    try:
        with pytest.raises(RuntimeError, match="advanced during checkpoint"):
            V.checkpoint_snapshot(spark, root)
    finally:
        V._try_commit = real_try
    live = {d for rec in V.versions(root) for d in rec["dirs"]}
    on_disk = {n for n in os.listdir(root) if n.startswith("d-")}
    assert on_disk == live  # the losing fold was cleaned up, not orphaned
    assert _ids(V.read_snapshot(spark, root)) == [1, 2, 9]


def test_vacuum_rescans_when_head_advances_during_live_set(tmp_path, spark):
    """vacuum derives its live set, then re-checks the head: a rollback
    committing in that window resurrects old directories the stale live
    set would have deleted.  Simulated by interleaving the rollback into
    the first versions() scan."""
    root = str(tmp_path / "t")
    V.commit_snapshot(_df(spark, [1]), root)       # v1
    V.commit_snapshot(_df(spark, [2]), root)       # v2 (v1's dir unreferenced
    #                                                 by a keep_versions=1 set)
    real_versions = V.versions
    fired = {"done": False}

    def versions_with_interleaved_rollback(r):
        snap = real_versions(r)
        if not fired["done"]:
            fired["done"] = True
            V.rollback(r, 1)                       # v3 resurrects v1's dir
        return snap

    V.versions = versions_with_interleaved_rollback
    try:
        gone = V.vacuum(root, keep_versions=1, min_age_seconds=0)
    finally:
        V.versions = real_versions
    # the rescan saw v3's live set; v1's resurrected dir survived
    assert _ids(V.read_snapshot(spark, root)) == [1]
    v2_dirs = set(V._resolve(root, 2)["dirs"])
    assert set(gone) <= v2_dirs


def test_snapshot_diff_added_removed_and_dir_pruning(spark, tmp_path):
    """snapshot_diff: append -> pure 'added' rows (the removed side has
    no unique dirs to scan); overwrite -> both sides; identical dir
    lists (rollback target) -> empty diff."""
    root = str(tmp_path / "t")
    V.commit_snapshot(_df(spark, [1, 2, 3]), root)                 # v1
    V.commit_snapshot(_df(spark, [4, 5]), root, mode="append")     # v2
    d12 = V.snapshot_diff(spark, root, 1, 2, ["id"]).collect()
    assert sorted((r.change, r.id) for r in d12) == [
        ("added", 4), ("added", 5)]

    V.commit_snapshot(_df(spark, [2, 3, 9]), root)                 # v3
    d23 = V.snapshot_diff(spark, root, 2, 3, ["id"]).collect()
    assert sorted((r.change, r.id) for r in d23) == [
        ("added", 9), ("removed", 1), ("removed", 4), ("removed", 5)]

    v4 = V.rollback(root, 3)                                       # same dirs
    assert V.snapshot_diff(spark, root, 3, v4, ["id"]).count() == 0
