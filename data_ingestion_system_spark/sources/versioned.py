"""Versioned snapshot tables: atomic publish, time travel, rollback.

A minimal transaction log over plain parquet — the lakehouse primitive
(Delta/Iceberg's core idea, reduced to its load-bearing invariant) that
the sink family needs once readers and writers overlap: writers stage
data invisibly and publish with ONE atomic action, readers resolve a
version via the log only, so every read is a consistent snapshot and
any historical version stays reproducible (the training-data
requirement: "which exact rows did run X train on?").

Layout under a table root::

    <root>/_log/00000001.json   commit records, one per version
    <root>/d-<uuid>/            immutable data directories (parquet)

A commit record lists the data directories that MAKE UP that version —
an overwrite commit lists only its own directory, an append commit
lists its parent's directories plus its own, and a rollback commit
lists exactly the directories of the version it restores (no data is
ever copied or rewritten; versions share directories structurally).
It also carries the version's schema, so a read needs no inference job.
The record is written LAST, with create-exclusive semantics: a crash
anywhere before that leaves at most an orphan data directory that no
reader can ever resolve (vacuum reclaims it), and two racing writers
cannot both claim the same version — the loser re-reads the log and
retries against the new head (optimistic concurrency).  On HDFS the
exclusive create is native; on S3 it maps to put-if-absent — the same
contract Delta's commit protocol requires of its log store.

Scale posture: the log is O(versions) tiny JSON files read driver-side
(one listing + k reads, never a data scan); data directories are opaque
to the log, so a version's read plan is exactly
``spark.read.parquet(*dirs)`` — partition pruning, pushdown, and
schema merge behave as for any parquet table.  Append-heavy tables
compact through ``checkpoint_snapshot`` (fold the current version's
directories into one, commit the fold), bounding both the per-version
directory list and the small-files count — the same maintenance
contract as operators/vector_index.py::compact_vector_index.

Reference parity: the reference keeps one mutable Postgres table and
has no history (src/lambda/processQueue.ts overwrites rows in place);
this module is what that surface needs to become auditable at 100 TB.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_LOG = "_log"


def _log_dir(root: str) -> str:
    return os.path.join(root, _LOG)


def _record_path(root: str, version: int) -> str:
    return os.path.join(_log_dir(root), f"{version:08d}.json")


def versions(root: str) -> list[dict]:
    """All committed records, oldest first (empty for a fresh root)."""
    d = _log_dir(root)
    if not os.path.isdir(d):
        return []
    out = []
    for name in sorted(os.listdir(d)):
        if not name.endswith(".json"):
            continue
        with open(os.path.join(d, name)) as f:
            out.append(json.load(f))
    return out


def _record_names(root: str) -> list[str]:
    d = _log_dir(root)
    if not os.path.isdir(d):
        return []
    return sorted(n for n in os.listdir(d) if n.endswith(".json"))


def latest_version(root: str) -> int:
    """Newest committed version number (0 = empty table).  O(1) reads:
    the zero-padded record names make the head max(listdir), no record
    needs parsing."""
    names = _record_names(root)
    return int(names[-1][:-len(".json")]) if names else 0


def _head(root: str) -> dict | None:
    """The newest committed record, parsing only that one file."""
    names = _record_names(root)
    if not names:
        return None
    with open(os.path.join(_log_dir(root), names[-1])) as f:
        return json.load(f)


def _resolve(root: str, version: int | None) -> dict:
    """One record by number (or the head), reading exactly one file —
    never the whole log (a long-lived stream would otherwise pay
    O(versions) parses per read)."""
    if version is None:
        rec = _head(root)
        if rec is None:
            raise FileNotFoundError(f"no committed versions under {root}")
        return rec
    path = _record_path(root, version)
    if not os.path.exists(path):
        if _head(root) is None:
            raise FileNotFoundError(f"no committed versions under {root}")
        raise KeyError(f"version {version} not committed under {root}")
    with open(path) as f:
        return json.load(f)


def _stage(df: DataFrame, root: str) -> str:
    """Write the data invisibly: a fresh uuid directory no commit record
    references yet.  Fully durable before the caller publishes.

    The parquet write pins an explicit ``file://`` scheme: the log
    operations in this module (open/os.link/listdir) are posix calls on
    the driver's filesystem, so the DATA must land on that same
    filesystem — a scheme-less path resolves against ``fs.defaultFS``
    and would silently split data (HDFS/S3) from log (local disk) on
    any cluster whose defaultFS isn't ``file://``.  This module
    therefore requires a local or shared-posix (NFS) table root
    reachable at the same path from every executor; an object-store
    deployment needs the log I/O ported to the Hadoop FileSystem API
    (put-if-absent on S3), which is a different backend, not a flag."""
    name = f"d-{uuid.uuid4().hex}"
    df.write.mode("overwrite").parquet(
        "file://" + os.path.abspath(os.path.join(root, name)))
    return name


def _try_commit(root: str, record: dict) -> bool:
    """Atomically claim ``record['version']``: create-exclusive write of
    the commit file.  False if another writer already owns the slot."""
    os.makedirs(_log_dir(root), exist_ok=True)
    tmp = _record_path(root, record["version"]) + f".{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as f:
        json.dump(record, f)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, _record_path(root, record["version"]))
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)
    # fsync the directory entry too: without it a power failure can
    # drop an already-acknowledged commit record even though the file
    # contents were fsynced (the classic missing-dir-fsync bug)
    dfd = os.open(_log_dir(root), os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)
    return True


def _lineage_holds_key(vs: list[dict], key: str) -> bool:
    """Whether a commit carrying ``key`` is part of the head version's
    history.  A rollback record restores an older version, so the walk
    jumps to that version: the commits it rolled away no longer count,
    and a batch replayed after a rollback lands again.  ``vs`` is the
    whole log, oldest first (versions are numbered 1..n without gaps)."""
    v = len(vs)
    while v > 0:
        rec = vs[v - 1]
        if rec["mode"] == "rollback":
            v = rec["meta"]["restores"]
            continue
        if rec["meta"].get("idempotence_key") == key:
            return True
        v -= 1
    return False


def commit_snapshot(df: DataFrame, root: str, *, mode: str = "overwrite",
                    meta: dict | None = None,
                    idempotence_key: str | None = None,
                    _retries: int = 20) -> int | None:
    """Publish ``df`` as the table's next version and return it.

    ``mode="overwrite"``: the new version IS this data.
    ``mode="append"``: the new version is the parent's directories plus
    this data — no existing bytes are read or rewritten.

    The data lands fully before the commit record exists, so readers
    never observe a partial version; version claiming is optimistic
    (exclusive-create, retry against the new head on collision).

    ``idempotence_key`` makes the commit at-most-once under RACING
    duplicates, not just sequential replays: the key is checked inside
    the same claim loop that takes the version slot, so of two
    concurrent committers with the same key exactly one lands — the
    loser's failed slot claim forces a log re-read that (because a
    successful exclusive-create happens-before any later read) now
    contains the winner's key, and it returns None.  A plain pre-check
    outside the loop (the previous form) had a window where both
    deliveries of one micro-batch passed the check and both appended.

    The key check and the parent are derived from ONE log snapshot
    (``vs = versions(root)``; ``parent = vs[-1]``) — two separate
    listings had a second, subtler window: a racing same-key committer
    landing between the key scan and the head read becomes the loser's
    PARENT, the loser claims ``parent + 1`` (a genuinely free slot, so
    the exclusive create succeeds), and the batch is appended twice.
    With one snapshot, any commit after the scan necessarily occupies
    ``parent + 1`` itself, the loser's claim fails, and the retry's
    rescan sees the winner's key.
    """
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite|append, got {mode!r}")
    dir_name = _stage(df, root)
    for _ in range(_retries):
        if idempotence_key is not None:
            vs = versions(root)
            if _lineage_holds_key(vs, idempotence_key):
                return None
            parent = vs[-1] if vs else None
        else:
            parent = _head(root)
        dirs = [dir_name]
        if mode == "append" and parent is not None:
            dirs = list(parent["dirs"]) + [dir_name]
        record = {
            "version": (parent["version"] if parent else 0) + 1,
            "dirs": dirs,
            "mode": mode,
            "schema": df.schema.jsonValue(),
            "meta": {**(meta or {}),
                     **({"idempotence_key": idempotence_key}
                        if idempotence_key is not None else {})},
        }
        if _try_commit(root, record):
            return record["version"]
    raise RuntimeError(f"commit contention exhausted {_retries} retries")


def read_snapshot(spark: SparkSession, root: str,
                  version: int | None = None) -> DataFrame:
    """A consistent snapshot: the latest committed version, or the exact
    historical one — immutable data dirs make time travel a plain
    multi-path parquet read.  The record's stored schema spares the read
    the schema-inference job; a record written without one infers."""
    rec = _resolve(root, version)
    reader = spark.read
    if "schema" in rec:
        reader = reader.schema(StructType.fromJson(rec["schema"]))
    return reader.parquet(
        *["file://" + os.path.abspath(os.path.join(root, d))
          for d in rec["dirs"]])


def snapshot_diff(spark: SparkSession, root: str, v_old: int, v_new: int,
                  key_cols: list[str]) -> DataFrame:
    """Row-level diff between two committed versions: one row per
    changed row, with ``change`` = 'removed' (in v_old, not v_new) or
    'added' (in v_new, not v_old), identity decided by ``key_cols``.

    The log's structural sharing makes this cheaper than a naive
    two-sided anti-join: a data directory present in BOTH versions'
    dir lists is byte-identical in both (directories are immutable and
    never rewritten in place), so its rows can't have changed — each
    side's scan is PRUNED to the directories unique to that version
    before any data is read.  After an append commit the 'removed'
    side scans zero directories; after a checkpoint fold both sides
    scan only the fold.  The anti-join itself stays key-partitioned
    (one shuffle per side) and its pruned left legs are usually a tiny
    fraction of the table — the audit "what did this deploy change?"
    costs O(changed dirs), not O(table)."""
    rec_old, rec_new = _resolve(root, v_old), _resolve(root, v_new)
    shared = set(rec_old["dirs"]) & set(rec_new["dirs"])

    def read_dirs(dirs: list[str]) -> DataFrame | None:
        only = [d for d in dirs if d not in shared]
        if not only:
            return None
        return spark.read.parquet(
            *["file://" + os.path.abspath(os.path.join(root, d))
              for d in only])

    def side(label: str, changed: DataFrame | None,
             other_rec: dict) -> DataFrame | None:
        if changed is None:
            return None
        other = spark.read.parquet(
            *["file://" + os.path.abspath(os.path.join(root, d))
              for d in other_rec["dirs"]])
        return (changed.join(other.select(*key_cols), key_cols,
                             "left_anti")
                .select(F.lit(label).alias("change"), "*"))

    removed = side("removed", read_dirs(rec_old["dirs"]), rec_new)
    added = side("added", read_dirs(rec_new["dirs"]), rec_old)
    if removed is not None and added is not None:
        return removed.unionByName(added)
    if removed is not None:
        return removed
    if added is not None:
        return added
    # identical dir lists (e.g. rollback to the same version): empty
    # diff with the right schema
    base = read_snapshot(spark, root, v_old)
    return base.select(F.lit("removed").alias("change"), "*").limit(0)


def rollback(root: str, to_version: int) -> int:
    """Restore a historical version AS a new commit (the audit trail
    keeps the bad versions; nothing is deleted).  Structural: the new
    record points at the old version's directories.

    Retention contract: the target version must still be within the
    vacuum retention window (``keep_versions``) — rollback resurrects
    directories that, from a concurrent vacuum's point of view, were
    unreferenced by any retained version.  vacuum() defends its side by
    re-reading the head after computing the live set and rescanning if
    it advanced, but a rollback to a version whose data a FINISHED
    vacuum already deleted raises at read time; keep ``keep_versions``
    at least as deep as the rollback horizon."""
    target = _resolve(root, to_version)
    for _ in range(20):
        head = _head(root)
        record = {
            "version": head["version"] + 1,
            "dirs": list(target["dirs"]),
            "mode": "rollback",
            "meta": {"restores": to_version},
        }
        if "schema" in target:
            record["schema"] = target["schema"]
        if _try_commit(root, record):
            return record["version"]
    raise RuntimeError("commit contention exhausted retries")


def checkpoint_snapshot(spark: SparkSession, root: str) -> int:
    """Compaction commit: fold the current version's directory list into
    ONE rewritten directory and publish the fold as the next version.
    Bounds the per-version dir list (append-heavy tables) and the
    small-files count; historical versions still resolve — their
    directories are untouched until vacuum."""
    rec = _resolve(root, None)
    snapshot = read_snapshot(spark, root, rec["version"])
    folded = _stage(snapshot, root)
    # Single attempt by design: if the slot claim loses, the head has
    # necessarily advanced past the version we folded, so a "retry"
    # could only ever re-raise the advanced-head error (the old
    # 20-iteration loop was dead code).  Losing means the fold is
    # stale — delete it here rather than leaving an orphan for vacuum,
    # and let the caller re-fold from the new head.
    record = {
        "version": rec["version"] + 1,
        "dirs": [folded],
        "mode": "checkpoint",
        "schema": snapshot.schema.jsonValue(),
        "meta": {"folds": rec["version"]},
    }
    if _try_commit(root, record):
        return record["version"]
    shutil.rmtree(os.path.join(root, folded), ignore_errors=True)
    raise RuntimeError("table advanced during checkpoint; rerun")


def vacuum(root: str, *, keep_versions: int = 0,
           min_age_seconds: float = 3600.0) -> list[str]:
    """Delete data directories no retained version references: orphans
    from crashed writers, plus (with ``keep_versions=k``) directories
    only reachable from versions older than the newest k.  Returns the
    deleted directory names.  Never touches committed log records —
    history stays auditable even after its data ages out; stale commit
    ``.tmp`` spill from crashed claimers is swept on the same age
    policy.

    ``min_age_seconds`` is the retention guard that makes vacuum safe
    against IN-FLIGHT (not just crashed) writers: a committer stages
    its data before claiming a version, so an unreferenced directory
    younger than the longest possible stage-to-commit window may belong
    to a writer about to publish — deleting it would let that commit
    succeed while pointing at vanished data (the same hazard Delta's
    VACUUM documents behind its default 7-day retention).  Set 0 only
    when no writer can be active (the tests do).

    ``min_age_seconds`` does NOT protect directories a concurrent
    rollback() resurrects — those are old.  The head re-read below
    closes that race for any rollback that COMMITS before the delete
    pass starts: the live set is recomputed whenever the head advanced
    after it was derived.  A rollback that commits mid-delete can still
    reference a just-deleted directory, which is why rollback documents
    the retention-window contract on its side."""
    import time

    vs = versions(root)
    for _ in range(20):
        retained = vs[-keep_versions:] if keep_versions > 0 else vs
        live = {d for rec in retained for d in rec["dirs"]}
        if latest_version(root) == (vs[-1]["version"] if vs else 0):
            break  # live set derived from the current head — safe
        vs = versions(root)  # head advanced (commit/rollback): rescan
    else:
        # 20 consecutive head advances: the table is under sustained
        # commit traffic and every derived live set went stale before
        # we could trust it.  Deleting against a stale set could sweep
        # a just-landed commit's directories, so refuse — the same
        # posture as the commit claim loops (raise, don't guess).
        raise RuntimeError(
            "vacuum: table head kept advancing across 20 rescans; "
            "rerun during a quieter window")
    cutoff = time.time() - min_age_seconds
    gone = []
    for name in os.listdir(root):
        if name == _LOG or not name.startswith("d-"):
            continue
        if name not in live and os.path.getmtime(
                os.path.join(root, name)) <= cutoff:
            shutil.rmtree(os.path.join(root, name))
            gone.append(name)
    log = _log_dir(root)
    if os.path.isdir(log):
        for name in os.listdir(log):
            p = os.path.join(log, name)
            if name.endswith(".tmp") and os.path.getmtime(p) <= cutoff:
                os.unlink(p)  # claimer died between write and link
    return sorted(gone)


def batch_committed(root: str, batch_id: int) -> bool:
    """Whether the head already holds micro-batch ``batch_id``, read from
    the head record's ``max_batch_id`` alone (O(1) record reads).  Spark
    batch ids are monotone per checkpoint, so a redelivered id is always
    <= the committed max — one table per stream checkpoint.  A head
    without batch metadata (a manual, checkpoint or rollback commit)
    answers False; ``commit_stream_batch``'s idempotence key still
    catches a replay then."""
    head = _head(root)
    return (head is not None
            and batch_id <= head["meta"].get("max_batch_id", -1))


def commit_stream_batch(df: DataFrame, root: str, batch_id: int) -> int | None:
    """foreachBatch adapter: publish one micro-batch as an append commit,
    exactly once.  foreachBatch is at-least-once, so the batch id rides
    the commit's idempotence key and a replay of an already-committed
    batch is a pure no-op (returns None) — the log IS the idempotence
    ledger.

    Two layers of replay defense: ``batch_committed`` answers the common
    sequential-replay case from the head record, and the in-claim-loop
    idempotence key closes the zombie race where a restarted query
    overlaps its not-yet-dead predecessor and both deliver the same
    batch concurrently."""
    if batch_committed(root, batch_id):
        return None
    return commit_snapshot(
        df, root, mode="append",
        meta={"batch_id": batch_id, "max_batch_id": int(batch_id)},
        idempotence_key=f"batch:{batch_id}")
