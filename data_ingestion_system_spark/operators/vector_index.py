"""Incremental IVF vector index: ingest-time ANN maintenance.

The similarity module's ``topk_ivf`` builds its inverted lists from the
full corpus every run — correct for a query, wrong as a SERVING posture
at 100 TB, where re-quantizing the corpus per batch of new vectors costs
O(corpus) daily.  This module is the vector twin of the incremental
dedup index (``dedup_index.py``): the coarse quantizer (centroids) is
trained once and versioned as a tiny sidecar table, each ingest batch
is assigned to lists with one map-only Arrow pass over ITS OWN rows
(O(batch), never O(corpus)), and probes read only the partitions of the
lists they touch.

Layout: parquet under ``path``, rows ``(vec_id, embedding)`` partitioned
by ``mb`` (micro-batch stamp, LEADING key) then ``cid`` (list id):

* ``cid`` partitioning gives probes partition pruning — a query with
  ``nprobe=2`` over 100 lists reads ~2% of the index regardless of
  corpus size;
* the ``mb`` stamp makes streaming appends idempotent under replay
  (foreachBatch is at-least-once): a re-run batch dynamic-overwrites
  exactly its own ``mb=<id>`` partitions instead of appending duplicate
  rows, and an in-flight probe can exclude its own partial writes —
  the same exactly-once discipline ``dedup_index.py`` pins.

Centroids live NEXT TO the index (``<path>__centroids``), not inside it
(a non-partition file under a partitioned root breaks Spark partition
discovery).  They are the index's schema: probing with different
centroids than the writer used returns garbage, so both sides load from
the sidecar.

Parity contract (pinned by tests/test_vector_index.py): a probe over an
index built in ANY number of increments equals ``topk_ivf`` over the
full corpus with the same centroids, row for row.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestion_system_spark.functions.vectors import cosine_fixed
from data_ingestion_system_spark.operators.similarity import (
    DIM,
    ivf_assign_udf,
)

LEGACY_MB = -1  # stamp for rows written without a micro-batch id


def centroids_path(path: str) -> str:
    return path.rstrip("/") + "__centroids"


def compacted_path(path: str) -> str:
    """Sidecar manifest of mb stamps folded into LEGACY by compaction."""
    return path.rstrip("/") + "__compacted"


def compacted_mbs(spark: SparkSession, path: str) -> set:
    """mb stamps already folded into the LEGACY partition (empty set if
    the index has never been compacted).  Only an absent manifest means
    "never compacted": an unreadable one raises, because guessing empty
    would let a replay of a folded batch double-count its rows."""
    manifest = compacted_path(path)
    jpath = spark._jvm.org.apache.hadoop.fs.Path(manifest)
    if not jpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(jpath):
        return set()
    return {int(r.mb) for r in spark.read.parquet(manifest).collect()}


def save_centroids(spark: SparkSession, centroids: np.ndarray,
                   path: str) -> None:
    """Version the coarse quantizer beside the index (one tiny file)."""
    rows = [(int(i), [float(x) for x in c]) for i, c in enumerate(centroids)]
    (spark.createDataFrame(rows, "cid int, centroid array<double>")
     .coalesce(1).write.mode("overwrite").parquet(centroids_path(path)))


def load_centroids(spark: SparkSession, path: str) -> np.ndarray:
    rows = (spark.read.parquet(centroids_path(path))
            .orderBy("cid").collect())
    return np.array([r.centroid for r in rows])


def write_vector_index(vectors: DataFrame, path: str,
                       centroids: np.ndarray, *,
                       mode: str = "overwrite",
                       mb: int | None = None,
                       dim: int = DIM) -> None:
    """Assign ``(vec_id, embedding)`` rows to inverted lists and land
    them partitioned by (mb, cid), sorted by vec_id within partitions.

    One Arrow matmul per batch of rows — map-only, no shuffle except
    the partitioned-write repartition on the (small) list-id key.

    Overwrite semantics: dynamic partition overwrite is applied ONLY to
    mb-stamped replay writes (where "replace your own partitions" is the
    point).  A plain ``mode="overwrite"`` build (mb=None) truncates the
    whole index root, so rebuilding over a previously-appended index
    cannot leave stale (mb, cid) partitions behind to be silently served
    by later probes."""
    assigned = vectors.select(
        "vec_id", "embedding",
        ivf_assign_udf(centroids, 1)(F.col("embedding"))[0].alias("cid"),
    ).withColumn("mb", F.lit(LEGACY_MB if mb is None else mb))
    writer = (assigned
              .repartition("cid")
              .sortWithinPartitions("vec_id")
              .write.mode(mode))
    if mb is not None:
        writer = writer.option("partitionOverwriteMode", "dynamic")
    writer.partitionBy("mb", "cid").parquet(path)


def append_vector_index(vectors: DataFrame, path: str,
                        centroids: np.ndarray, *,
                        mb: int | None = None, dim: int = DIM) -> None:
    """Idempotent append: with an mb stamp this is a dynamic partition
    OVERWRITE of the batch's own partitions — a replayed batch replaces
    itself, never duplicates.  A batch whose stamp has already been
    folded into LEGACY by compact_vector_index is a pure no-op: its
    rows live under mb=-1 now, so re-materializing mb=<id> would
    double-count them."""
    if mb is not None and mb in compacted_mbs(vectors.sparkSession, path):
        return
    mode = "append" if mb is None else "overwrite"
    write_vector_index(vectors, path, centroids, mode=mode, mb=mb, dim=dim)


def compact_vector_index(spark: SparkSession, path: str, *,
                         up_to_mb: int | None = None) -> int:
    """Small-files maintenance: fold committed ``mb=<id>`` partitions
    into the LEGACY (``mb=-1``) partition and drop the per-batch dirs.

    Streaming ingest creates one ``mb=<id>/cid=<k>`` dir per micro-batch
    per touched list — at streaming cadence that is thousands of tiny
    parquet files per list within days, and at 100 TB the file COUNT
    (scan planning, S3 listing) kills probes long before the byte count
    does (same failure mode as sources/writers.py::compact_partitions).
    Folding restores one-dir-per-list while rewriting only
    O(legacy + folded) bytes, never the whole corpus per run.

    ``up_to_mb`` bounds the fold to batches at or below that stamp —
    the replay horizon: leave the most recent (possibly uncommitted)
    batches replayable in place.  Even without the bound, replay of a
    folded batch stays a no-op because the fold is recorded in the
    ``__compacted`` manifest that append_vector_index consults.

    Crash-safe and idempotent: the fold stages to a sibling dir, lands
    via dynamic overwrite of the LEGACY partitions, dedupes on vec_id
    (so a re-run after a crash between the legacy write and the mb-dir
    deletes converges instead of double-counting), and deletes the
    folded dirs last.  Returns the number of mb stamps folded."""
    index = spark.read.parquet(path)
    stamps = sorted(int(r.mb) for r in index.select("mb").distinct()
                    .collect())
    folded = [m for m in stamps
              if m != LEGACY_MB and (up_to_mb is None or m <= up_to_mb)]
    if not folded:
        return 0

    staging = path.rstrip("/") + "__compact_staging"
    (index.filter(F.col("mb").isin(folded + [LEGACY_MB]))
     .select("vec_id", "embedding", "cid")
     .dropDuplicates(["vec_id"])
     .withColumn("mb", F.lit(LEGACY_MB))
     .repartition("cid")
     .sortWithinPartitions("vec_id")
     .write.mode("overwrite").partitionBy("mb", "cid").parquet(staging))

    # land from the staged copy (Spark cannot overwrite a path it is
    # reading), replacing exactly the LEGACY partitions
    (spark.read.parquet(staging)
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("mb", "cid").parquet(path))

    # record the fold BEFORE dropping the dirs: a replay racing the
    # deletes must already see its stamp as compacted
    rows = [(int(m),) for m in folded]
    (spark.createDataFrame(rows, "mb int")
     .coalesce(1).write.mode("append").parquet(compacted_path(path)))

    jpath = spark._jvm.org.apache.hadoop.fs.Path
    fs = jpath(path).getFileSystem(spark._jsc.hadoopConfiguration())
    for m in folded:
        fs.delete(jpath(path.rstrip("/") + f"/mb={m}"), True)
    fs.delete(jpath(staging), True)
    return len(folded)


def probe_vector_index(spark: SparkSession, path: str, queries: DataFrame,
                       *, centroids: np.ndarray | None = None,
                       k: int = 10, nprobe: int = 2,
                       exclude_mb: int | None = None,
                       dim: int = DIM) -> DataFrame:
    """ANN top-k of ``queries`` (qid, qv) against everything indexed.

    The probe side (queries x nprobe list ids) broadcasts; the index
    scan is pruned to the probed ``cid`` partitions (an IN filter on a
    partition column — PartitionFilters in the plan, pinned by the
    tests), so cost is O(touched lists), independent of corpus size.
    ``exclude_mb`` hides an in-flight batch's own partial rows during
    its probe, mirroring ``dedup_index.probe_index``."""
    if centroids is None:
        centroids = load_centroids(spark, path)
    index = spark.read.parquet(path)
    if exclude_mb is not None:
        index = index.filter(F.col("mb") != exclude_mb)
    probes = queries.withColumn(
        "cids", ivf_assign_udf(centroids, nprobe)(F.col("qv"))
    ).select("qid", "qv", F.explode("cids").alias("cid"))
    probed_cids = [int(r.cid) for r in probes.select("cid")
                   .distinct().collect()]
    scored = (
        index.filter(F.col("cid").isin(probed_cids))  # partition pruning
        .join(F.broadcast(probes), "cid")
        .filter(F.col("vec_id") != F.col("qid"))
        .withColumn("cos_raw",
                    cosine_fixed("qv", "embedding", dim))
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cos_raw").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", "vec_id", F.round("cos_raw", 6).alias("cosine"),
                "rnk")
    )


def rebuild_vector_index(spark: SparkSession, src_path: str,
                         dst_path: str, new_centroids: np.ndarray, *,
                         dim: int = DIM) -> None:
    """Re-quantization (centroid drift) as an explicit BLUE/GREEN
    rebuild: read every indexed vector once, re-assign against the new
    codebook, and land a fresh index + centroid sidecar under
    ``dst_path`` — never in place.  Serving flips to the new root only
    when the write completes (at 100 TB the flip is a catalog pointer
    swap; readers on the old root are undisturbed, and a failed rebuild
    leaves nothing half-quantized).  Incremental appends then resume
    against the new sidecar; the mb lineage restarts (the old stamps
    encode replay state of the OLD root and must not carry over)."""
    rows = spark.read.parquet(src_path).select("vec_id", "embedding")
    save_centroids(spark, new_centroids, dst_path)
    write_vector_index(rows, dst_path, new_centroids,
                       mode="overwrite", dim=dim)
