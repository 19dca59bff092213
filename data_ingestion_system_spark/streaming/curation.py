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

Exactly-once effects under foreachBatch's at-least-once contract come
from one ledger, the snapshot log (sources/versioned.py): the clean
corpus, the rejects table and the signature index each publish one
append commit per batch, keyed by the batch id
(``commit_stream_batch``), in that order, the index last.  A staged
write is invisible until its commit record lands, so a batch that dies
anywhere replays against the index as it stood before the batch; a
batch whose index commit already landed is a no-op
(``batch_committed``).  Die at ANY point mid-batch and the replay
converges to the same final state as an uninterrupted run — pinned by
tests/test_curation_stream.py and tests/test_stream_crash_replay.py.

At 100 TB/day the cost per batch is O(batch + candidates): signature
pass over the batch, an equi-join against the index's committed
snapshot, and point-reads of only the implicated corpus docs for exact
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
    minhash_lsh_pairs,
    word_shingles,
)
from data_ingestion_system_spark.operators.dedup_index import (
    append_index,
    probe_index,
    write_index,
)
from data_ingestion_system_spark.operators.text import fingerprint_md5
from data_ingestion_system_spark.sources.versioned import (
    batch_committed,
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


def _refuse_legacy_parquet(path: str, what: str) -> None:
    """Raise when ``path`` holds parquet but no snapshot log: a store
    written before the versioned layout.  Read (or bootstrapped) as an
    empty table, it would silently re-accept every cross-batch
    duplicate of its history (ADVICE r8).  Parquet inside ``d-*/`` is
    not legacy: an uncommitted (crashed-before-log-append) write is
    correctly invisible and must not trip this."""
    if not os.path.isdir(path):
        return
    for entry in os.listdir(path):
        if entry.startswith("d-") or entry == "_log":
            continue
        p = os.path.join(path, entry)
        if (entry.endswith(".parquet") and os.path.isfile(p)) or (
                os.path.isdir(p) and any(
                    f.endswith(".parquet")
                    for _, _, fs in os.walk(p) for f in fs)):
            raise ValueError(
                f"{what} at {path!r} holds raw parquet but no snapshot "
                "log: it predates the versioned layout. Migrate it once "
                "by committing the raw files as snapshot v1 "
                "(sources/versioned.py::commit_snapshot) before "
                "restarting the stream.")


def _clean_store(spark: SparkSession, path: str) -> DataFrame:
    # consistent snapshot through the log: a replay whose clean commit
    # already landed sees this batch's accepted docs here, which is
    # harmless — candidates come only from the index, and on a replay
    # the index head never holds the batch being redone, so none of its
    # docs can be candidates against themselves
    if latest_version(path) > 0:
        return read_snapshot(spark, path).select("doc_id", "text", "lang")
    _refuse_legacy_parquet(path, "clean store")
    return spark.createDataFrame([], _EMPTY_CLEAN_SCHEMA)


def _self_near_dups(batch: DataFrame, threshold: float) -> DataFrame:
    """Verified near-dup pairs WITHIN one batch: the MinHash-LSH pair
    pipeline (operators/dedup.py::minhash_lsh_pairs, the index's
    banding) over the batch alone.  min-id wins (the same convention as
    the exact-dedup pass), so the returned ``batch_id`` column is the
    rejected larger id and ``corpus_id`` the kept smaller one —
    schema-identical to the history probe's hits."""
    sh = word_shingles(batch.select("doc_id", "text"), "doc_id", "text")
    return (minhash_lsh_pairs(sh).filter(F.col("jaccard") >= threshold)
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

    ``clean_dir``, ``rejects_dir`` and ``index_dir`` are versioned table
    roots: each micro-batch is one append commit to each
    (sources/versioned.py::commit_stream_batch), readers resolve
    consistent snapshots (read_snapshot) and can time-travel any batch
    boundary, and a replayed batch whose index commit landed is skipped
    before any recompute."""
    if latest_version(index_dir) == 0:
        # bootstrap an empty, schema-complete index so the first batch's
        # probe is uniform with every later one — never over a legacy one
        _refuse_legacy_parquet(index_dir, "signature index")
        write_index(spark.createDataFrame([], _EMPTY_CLEAN_SCHEMA),
                    index_dir)

    raw = (spark.readStream.schema(DOC_SCHEMA).json(landing_dir))

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_committed(index_dir, batch_id):
            return  # the index commit lands last: the batch is done
        batch_df.persist()
        try:
            # (1) within-batch exact dedup: min doc_id per normalized text
            fp = batch_df.withColumn(
                "__fp", fingerprint_md5(F.col("text")))
            keep = fp.groupBy("__fp").agg(F.min("doc_id").alias("doc_id"))
            batch = (fp.join(keep, ["__fp", "doc_id"], "left_semi")
                     .drop("__fp"))
            # (2) within-batch near-dup self-probe (min id wins)
            self_hits = _self_near_dups(batch, threshold).persist()
            try:
                self_losers = self_hits.select(
                    F.col("batch_id").alias("doc_id")).distinct()
                survivors = batch.join(self_losers, "doc_id", "left_anti")
                # (3) probe accepted history via the signature index
                corpus = _clean_store(spark, clean_dir)
                hits = probe_index(spark, index_dir, survivors, corpus,
                                   threshold=threshold).persist()
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
                    # (5) tomorrow's probe sees today's accepted docs; the
                    # index commits LAST, so it marks the batch done
                    append_index(accepted, index_dir, batch_id)
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
