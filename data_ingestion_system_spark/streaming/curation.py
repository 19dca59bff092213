"""Streaming corpus curation: ingest-time near-dup rejection.

Wires the incremental MinHash index (operators/dedup_index.py) into a
Structured Streaming pipeline: documents land as JSON, every micro-batch
is (1) exact-deduped within itself, (2) near-dup-deduped WITHIN itself
(banded self-join + exact verify, min-id wins), (3) probed against the
signature index of EVERYTHING accepted so far, (4) split into accepted
docs and a rejected-duplicates audit trail, and (5) the accepted docs'
signatures are appended to the index — so batch N+1's probe sees batch
N without ever rescanning text.  State across batches lives in the
index table (signature rows, ~bands longs/doc), not in streaming state:
restarts recover it from storage, and its size is independent of how
the stream is partitioned or resumed.

Exactly-once effects under foreachBatch's at-least-once contract:

* the clean corpus and the rejects table publish through the snapshot
  log (one append commit per batch, the batch id as the
  idempotence key — sources/versioned.py::commit_stream_batch), so a
  replayed batch's commit is a no-op and readers get consistent,
  time-travelable snapshots; the internal signature index stays
  mb-partitioned with dynamic partition OVERWRITE (a replay replaces
  its own partition);
* the history probe EXCLUDES index rows stamped with the current batch
  id, so a replay that finds its own partial index write cannot reject
  docs as duplicates of their same-batch peers;
* a commit marker (``<index>/_commits/<batch_id>``, written last) makes
  fully-committed batches no-ops on replay.

Together: die at ANY point mid-batch and the replay converges to the
same final state as an uninterrupted run.  Pinned by
tests/test_curation_stream.py (replayed-batch and partial-write cases).

At 100 TB/day the cost per batch is O(batch + candidates): signature
pass over the batch, a band-partition-pruned equi-join against the
index, and point-reads of only the implicated corpus docs for exact
verify (see dedup_index.probe_index).  The reference has no dedup at
all (its at-least-once path duplicates on redelivery —
src/lambda/processQueue.ts:162-198); this closes that hole at the
content level, not just the message level.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from data_ingestion_system_spark.operators.dedup import (
    normalized_text,
    verify_candidates,
    word_shingles,
)
from data_ingestion_system_spark.operators.dedup_index import (
    append_index,
    banded_rows,
    probe_index,
    write_index,
)
from data_ingestion_system_spark.sources.versioned import (
    commit_stream_batch,
    latest_version,
    read_snapshot,
)

DOC_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
])

_EMPTY_CLEAN_SCHEMA = "doc_id long, text string, lang string"


def _clean_store(spark: SparkSession, path: str) -> DataFrame:
    # consistent snapshot through the log: a replay that already
    # committed this batch's accepted docs is visible here, which is
    # harmless — their signatures are mb-excluded from the probe, so
    # they can never surface as candidates against themselves
    if latest_version(path) > 0:
        return read_snapshot(spark, path).select("doc_id", "text", "lang")
    # Empty log + raw parquet on disk = a pre-versioned (r7-) store.
    # Probing against an EMPTY corpus here would silently re-accept every
    # cross-batch duplicate of the legacy history — fail loudly and name
    # the migration instead (ADVICE r8).  Parquet inside d-*/ is NOT
    # legacy: an uncommitted (crashed-before-log-append) write is
    # correctly invisible and must not trip the migration error.
    def _legacy_parquet() -> bool:
        if not os.path.isdir(path):
            return False
        for entry in os.listdir(path):
            if entry.startswith("d-") or entry == "_log":
                continue
            p = os.path.join(path, entry)
            if entry.endswith(".parquet") and os.path.isfile(p):
                return True
            if os.path.isdir(p) and any(
                    f.endswith(".parquet")
                    for _, _, fs in os.walk(p) for f in fs):
                return True
        return False

    if _legacy_parquet():
        raise ValueError(
            f"clean store at {path!r} holds raw parquet but no "
            "snapshot log: it predates the versioned layout. Migrate it "
            "once by committing the raw files as snapshot v1 "
            "(sources/versioned.py::commit_snapshot) before restarting "
            "the stream.")
    return spark.createDataFrame([], _EMPTY_CLEAN_SCHEMA)


def _self_near_dups(batch: DataFrame, threshold: float) -> DataFrame:
    """Verified near-dup pairs WITHIN one batch: banded self-join on
    (band, bh) with id_a < id_b, then exact-Jaccard verify.  min-id
    wins (the same convention as the exact-dedup pass), so the returned
    ``batch_id`` column is the rejected larger id and ``corpus_id`` the
    kept smaller one — schema-identical to the history probe's hits."""
    banded = banded_rows(batch)
    cands = (
        banded.select(F.col("doc_id").alias("id_a"), "band", "bh")
        .join(banded.select(F.col("doc_id").alias("id_b"), "band", "bh"),
              ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sh = word_shingles(batch.select("doc_id", "text"), "doc_id", "text")
    verified = verify_candidates(sh, cands)
    return (verified.filter(F.col("jaccard") >= threshold)
            .select(F.col("id_b").alias("batch_id"),
                    F.col("id_a").alias("corpus_id"),
                    F.round("jaccard", 4).alias("jaccard")))


def start_curation_stream(
    spark: SparkSession,
    landing_dir: str,
    clean_dir: str,
    rejects_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    *,
    threshold: float = 0.7,
    available_now: bool = True,
    processing_time: str = "1 second",
    result_cache=None,
) -> StreamingQuery:
    """Landing JSON docs -> accepted corpus + rejected-dup audit + index.

    Within-batch exact dups collapse first (content fingerprint, min id
    wins), then within-batch NEAR-dups (banded self-probe + exact
    verify — closing the r2 coverage hole where two near-identical docs
    in one batch were both accepted and indexed forever); cross-history
    near-dups are whatever the index probe verifies at ``threshold``.
    Rejects carry the matched doc and the verified Jaccard — the
    human-auditable reason a doc never entered the corpus (O-27's
    quarantine pattern applied to content dedup).

    ``result_cache`` (a plans.cache.ResultCache) is invalidated after
    each committed batch — cached search results over the clean corpus
    must not outlive the data they summarize (the freshness hook
    pipeline.py already gives the bronze stream; SURVEY §7.4).

    ``clean_dir`` and ``rejects_dir`` are versioned table roots: each
    micro-batch is one append commit (sources/versioned.py::
    commit_stream_batch), readers resolve consistent snapshots
    (read_snapshot) and can time-travel any batch boundary, and a
    replayed batch no-ops on the log's ``batch:<id>`` idempotence key
    (a partial write before a crash is an invisible staged directory,
    not a half-table).  The signature index keeps its mb-stamped
    dynamic-overwrite scheme (it is an internal structure, probed with
    same-batch exclusion, not a served table), and the commit marker
    still short-circuits fully-committed batches so a marker-present
    replay skips even the recompute."""
    if not os.path.isdir(index_dir):
        # bootstrap an empty, schema-complete index so the first batch's
        # probe is uniform with every later one
        write_index(spark.createDataFrame([], _EMPTY_CLEAN_SCHEMA),
                    index_dir)

    commits_dir = os.path.join(index_dir, "_commits")
    os.makedirs(commits_dir, exist_ok=True)

    raw = (spark.readStream.schema(DOC_SCHEMA).json(landing_dir))

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        marker = os.path.join(commits_dir, str(batch_id))
        if os.path.exists(marker):
            return  # batch fully committed before a restart: pure no-op
        batch_df.persist()
        try:
            # (1) within-batch exact dedup: min doc_id per normalized text
            fp = batch_df.withColumn(
                "__fp", F.md5(normalized_text(F.col("text"))))
            keep = fp.groupBy("__fp").agg(F.min("doc_id").alias("doc_id"))
            batch = (fp.join(keep, ["__fp", "doc_id"], "left_semi")
                     .drop("__fp"))
            # (2) within-batch near-dup self-probe (min id wins)
            self_hits = _self_near_dups(batch, threshold).persist()
            try:
                self_losers = self_hits.select(
                    F.col("batch_id").alias("doc_id")).distinct()
                survivors = batch.join(self_losers, "doc_id", "left_anti")
                # (3) probe accepted history via the signature index,
                # excluding any partial same-batch write from a replay
                corpus = _clean_store(spark, clean_dir)
                hits = probe_index(spark, index_dir, survivors, corpus,
                                   threshold=threshold,
                                   exclude_mb=batch_id).persist()
                try:
                    dup_ids = hits.select(
                        F.col("batch_id").alias("doc_id")).distinct()
                    accepted = survivors.join(dup_ids, "doc_id", "left_anti")
                    # (4) accepted docs land; rejects carry their evidence
                    all_rejects = (self_hits.unionByName(hits)
                                   .withColumn("micro_batch",
                                               F.lit(batch_id)))
                    stamped = accepted.withColumn("micro_batch",
                                                  F.lit(batch_id))
                    # one append commit per output per batch; the batch
                    # id rides the idempotence key, so a replay whose
                    # commit already landed is a no-op
                    commit_stream_batch(stamped, clean_dir, batch_id)
                    commit_stream_batch(all_rejects, rejects_dir, batch_id)
                    # (5) tomorrow's probe sees today's accepted docs
                    append_index(accepted, index_dir, mb=batch_id)
                    # (6) commit marker LAST: anything before this line can
                    # die and the replay overwrites cleanly
                    with open(marker, "w") as f:
                        f.write("committed")
                    if result_cache is not None:
                        result_cache.invalidate_all()
                finally:
                    hits.unpersist()
            finally:
                self_hits.unpersist()
        finally:
            batch_df.unpersist()

    writer = raw.writeStream.foreachBatch(handle_batch).option(
        "checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
