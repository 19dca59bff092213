"""Streaming vector-index maintenance: embeddings land, lists stay fresh.

The serving story for ANN at 100 TB is incremental: vectors arrive
continuously and the inverted lists must absorb them at O(batch) cost
with exactly-once effects.  It keeps mb stamps rather than the snapshot
log the other streams commit through: its probe prunes ``cid``
partition directories, while the log stages each commit as one
unpartitioned directory, and its stream has a single sink.

* each micro-batch assigns ITS OWN rows to lists (map-only Arrow pass
  against the versioned centroid sidecar) and lands them under
  ``mb=<batch_id>`` via dynamic partition overwrite — a replayed batch
  (foreachBatch is at-least-once) replaces itself instead of appending
  duplicates, so the index never double-counts a vector;
* probes running mid-ingest pass ``exclude_mb=<batch_id>`` to hide the
  in-flight batch's partial writes.

Batch/stream parity is structural: the writer calls the SAME
``append_vector_index`` the batch path uses, so an index built from N
micro-batches is row-identical to one built in one shot — pinned by
tests/test_vector_index.py.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from data_ingestion_system_spark.operators.vector_index import (
    append_vector_index,
    compact_vector_index,
    load_centroids,
)

VECTOR_SCHEMA = "vec_id long, embedding array<float>"


def start_vector_index_stream(
    spark: SparkSession,
    landing_dir: str,
    index_path: str,
    checkpoint_dir: str,
    centroids: np.ndarray | None = None,
    compact_every: int | None = None,
) -> StreamingQuery:
    """JSON landing stream of (vec_id, embedding) -> mb-stamped IVF
    index appends, exactly-once under replay.

    ``compact_every=N`` folds batches older than the current one into
    the LEGACY partition every N batches (vector_index.py::
    compact_vector_index) — without it, streaming cadence mints one
    ``mb=<id>/cid=<k>`` dir per batch per touched list and the FILE
    COUNT, not the bytes, eventually dominates probe planning.  Safe
    mid-stream: the fold is idempotent, replays of folded batches are
    manifest-guarded no-ops, and the current batch always stays
    replayable in place."""
    cents = load_centroids(spark, index_path) if centroids is None \
        else centroids

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        append_vector_index(batch_df, index_path, cents, mb=int(batch_id))
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            compact_vector_index(spark, index_path,
                                 up_to_mb=int(batch_id) - 1)

    return (
        spark.readStream.schema(VECTOR_SCHEMA).json(landing_dir)
        .writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .foreachBatch(sink)
        .start()
    )
