"""Incremental IVF vector index: parity with the one-shot build AND
with topk_ivf over the full corpus, replay idempotence, in-flight
exclusion, and partition-pruned probes."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_ingestion_system_spark.catalog import Catalog
from data_ingestion_system_spark.operators.similarity import (
    DIM,
    label_centroids,
    topk_ivf,
)
from data_ingestion_system_spark.operators.vector_index import (
    append_vector_index,
    load_centroids,
    probe_vector_index,
    save_centroids,
    write_vector_index,
)


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    return Catalog(spark, sf_dir).embeddings.select(
        "vec_id", "embedding", "label")


@pytest.fixture(scope="module")
def centroids(corpus):
    return label_centroids(corpus)


@pytest.fixture(scope="module")
def queries(corpus):
    return (corpus.orderBy("vec_id").limit(5)
            .select(F.col("vec_id").alias("qid"),
                    F.col("embedding").alias("qv")))


def _probe_rows(spark, path, queries, **kw):
    return {(r.qid, r.rnk): (r.vec_id, r.cosine)
            for r in probe_vector_index(spark, path, queries,
                                        k=5, nprobe=2, **kw).collect()}


def test_incremental_build_equals_one_shot_and_topk_ivf(
        spark, corpus, centroids, queries, tmp_path_factory):
    one = str(tmp_path_factory.mktemp("ivf_one") / "idx")
    inc = str(tmp_path_factory.mktemp("ivf_inc") / "idx")
    save_centroids(spark, centroids, one)
    save_centroids(spark, centroids, inc)

    vecs = corpus.select("vec_id", "embedding")
    write_vector_index(vecs, one, centroids)
    # three increments split by id range — arbitrary, disjoint, complete
    for mb, (lo, hi) in enumerate([(0, 600), (600, 1300), (1300, 10**9)]):
        append_vector_index(
            vecs.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)),
            inc, centroids, mb=mb)

    got_one = _probe_rows(spark, one, queries)
    got_inc = _probe_rows(spark, inc, queries)
    assert got_one == got_inc and got_inc

    # and both equal the from-scratch IVF over the full corpus
    want = {(r.qid, r.rnk): (r.vec_id, r.cosine)
            for r in topk_ivf(corpus, centroids, queries,
                              k=5, nprobe=2).collect()}
    assert got_inc == want


def test_replayed_batch_does_not_duplicate(spark, corpus, centroids,
                                           queries, tmp_path):
    path = str(tmp_path / "idx")
    save_centroids(spark, centroids, path)
    vecs = corpus.select("vec_id", "embedding")
    append_vector_index(vecs, path, centroids, mb=0)
    n0 = spark.read.parquet(path).count()
    before = _probe_rows(spark, path, queries)
    append_vector_index(vecs, path, centroids, mb=0)   # at-least-once replay
    assert spark.read.parquet(path).count() == n0
    assert _probe_rows(spark, path, queries) == before


def test_exclude_mb_hides_in_flight_batch(spark, corpus, centroids,
                                          queries, tmp_path):
    path = str(tmp_path / "idx")
    save_centroids(spark, centroids, path)
    vecs = corpus.select("vec_id", "embedding")
    append_vector_index(vecs.filter(F.col("vec_id") % 2 == 0), path,
                        centroids, mb=0)
    committed = _probe_rows(spark, path, queries)
    append_vector_index(vecs.filter(F.col("vec_id") % 2 == 1), path,
                        centroids, mb=1)
    assert _probe_rows(spark, path, queries, exclude_mb=1) == committed


def test_probe_is_partition_pruned(spark, corpus, centroids, queries,
                                   tmp_path):
    path = str(tmp_path / "idx")
    save_centroids(spark, centroids, path)
    write_vector_index(corpus.select("vec_id", "embedding"), path, centroids)
    df = probe_vector_index(spark, path, queries, k=5, nprobe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "cid" in plan.split("PartitionFilters")[1][:200], \
        "probe scan not pruned on the list id"


def test_centroid_sidecar_roundtrip(spark, centroids, tmp_path):
    path = str(tmp_path / "idx")
    save_centroids(spark, centroids, path)
    back = load_centroids(spark, path)
    assert back.shape == centroids.shape
    assert np.allclose(back, centroids)


def test_streaming_ingest_parity_and_replay(spark, corpus, centroids,
                                            queries, tmp_path):
    """An index maintained by the stream (two landing files -> two
    micro-batches) probes identically to the one-shot batch build; a
    checkpoint-restarted drain over the same files is a no-op."""
    from data_ingestion_system_spark.streaming.vectors import (
        start_vector_index_stream,
    )

    batch_path = str(tmp_path / "batch_idx")
    stream_path = str(tmp_path / "stream_idx")
    save_centroids(spark, centroids, batch_path)
    save_centroids(spark, centroids, stream_path)
    vecs = corpus.select("vec_id", "embedding")
    write_vector_index(vecs, batch_path, centroids)

    landing = tmp_path / "landing"
    landing.mkdir()
    (vecs.filter(F.col("vec_id") % 2 == 0).coalesce(1)
     .write.json(str(landing / "f0")))
    (vecs.filter(F.col("vec_id") % 2 == 1).coalesce(1)
     .write.json(str(landing / "f1")))
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = start_vector_index_stream(
            spark, str(landing) + "/*/", stream_path, ckpt)
        assert q.awaitTermination(180)

    drain()
    got = _probe_rows(spark, stream_path, queries)
    assert got == _probe_rows(spark, batch_path, queries)
    n = spark.read.parquet(stream_path).count()
    drain()  # restart over the same files: checkpoint makes it a no-op
    assert spark.read.parquet(stream_path).count() == n


def test_rebuild_blue_green(spark, corpus, centroids, queries, tmp_path):
    """Re-quantizing into a fresh root: probes against the rebuilt index
    equal a from-scratch build with the new centroids; the old root is
    untouched."""
    from data_ingestion_system_spark.operators.vector_index import (
        rebuild_vector_index,
    )

    old = str(tmp_path / "old")
    new = str(tmp_path / "new")
    fresh = str(tmp_path / "fresh")
    save_centroids(spark, centroids, old)
    vecs = corpus.select("vec_id", "embedding")
    write_vector_index(vecs, old, centroids)
    before = _probe_rows(spark, old, queries)

    drifted = centroids + 0.01  # a new codebook version
    rebuild_vector_index(spark, old, new, drifted)
    save_centroids(spark, drifted, fresh)
    write_vector_index(vecs, fresh, drifted)

    assert _probe_rows(spark, new, queries) == _probe_rows(
        spark, fresh, queries)
    assert _probe_rows(spark, old, queries) == before  # blue untouched
    assert np.allclose(load_centroids(spark, new), drifted)


def test_compaction_folds_mbs_keeps_probe_parity(spark, corpus, centroids,
                                                 queries, tmp_path):
    """compact_vector_index (VERDICT r5 #5): folding committed mb
    partitions into LEGACY drops the per-batch file count, leaves probe
    results row-identical, keeps batches above the replay horizon in
    place, and makes a replay of a folded batch a pure no-op."""
    import glob

    from data_ingestion_system_spark.operators.vector_index import (
        compact_vector_index,
        compacted_mbs,
    )

    path = str(tmp_path / "idx")
    save_centroids(spark, centroids, path)
    vecs = corpus.select("vec_id", "embedding")
    splits = [(0, 150), (150, 300), (300, 400), (400, 10**9)]
    for mb, (lo, hi) in enumerate(splits):
        append_vector_index(
            vecs.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)),
            path, centroids, mb=mb)

    before = _probe_rows(spark, path, queries)
    n_before = spark.read.parquet(path).count()
    files_before = len(glob.glob(f"{path}/mb=*/cid=*/*.parquet"))

    # fold mb 0..2; mb=3 is inside the replay horizon and must survive
    assert compact_vector_index(spark, path, up_to_mb=2) == 3
    assert compacted_mbs(spark, path) == {0, 1, 2}

    after = _probe_rows(spark, path, queries)
    assert after == before, "compaction changed probe results"
    assert spark.read.parquet(path).count() == n_before
    files_after = len(glob.glob(f"{path}/mb=*/cid=*/*.parquet"))
    assert files_after < files_before, \
        f"compaction did not reduce file count ({files_before}->{files_after})"
    mb_dirs = {d.rsplit("=", 1)[1] for d in glob.glob(f"{path}/mb=*")}
    assert mb_dirs == {"-1", "3"}, mb_dirs

    # replay of a folded batch: manifest makes it a no-op, not a
    # re-materialized mb=1 dir double-counting the folded rows
    append_vector_index(
        vecs.filter((F.col("vec_id") >= 150) & (F.col("vec_id") < 300)),
        path, centroids, mb=1)
    assert _probe_rows(spark, path, queries) == before
    assert spark.read.parquet(path).count() == n_before

    # compaction is idempotent: nothing left below the horizon
    assert compact_vector_index(spark, path, up_to_mb=2) == 0


def test_unreadable_compaction_manifest_raises_on_replay(spark, corpus,
                                                         centroids, tmp_path):
    """A manifest that exists but cannot be read must stop a replay:
    reading it as "never compacted" would re-materialize a folded batch
    beside its LEGACY copy and double-count its rows."""
    import glob

    from data_ingestion_system_spark.operators.vector_index import (
        compact_vector_index,
        compacted_path,
    )

    path = str(tmp_path / "idx")
    save_centroids(spark, centroids, path)
    vecs = corpus.select("vec_id", "embedding")
    batches = [vecs.filter(F.col("vec_id") % 2 == mb) for mb in (0, 1)]
    for mb, batch in enumerate(batches):
        append_vector_index(batch, path, centroids, mb=mb)
    n = spark.read.parquet(path).count()
    assert compact_vector_index(spark, path, up_to_mb=0) == 1

    parts = glob.glob(f"{compacted_path(path)}/part-*")
    assert parts
    for part in parts:
        with open(part, "wb") as f:
            f.write(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet"):
        append_vector_index(batches[0], path, centroids, mb=0)
    assert spark.read.parquet(path).count() == n


def test_full_overwrite_truncates_stale_mb_partitions(spark, corpus,
                                                      centroids, queries,
                                                      tmp_path):
    """r5 ADVICE #4: a plain mode="overwrite" build over a root that
    holds prior mb-stamped appends must truncate them — dynamic
    overwrite is reserved for replay writes, so no stale (mb, cid)
    partition survives to be silently served by later probes."""
    path = str(tmp_path / "idx")
    save_centroids(spark, centroids, path)
    vecs = corpus.select("vec_id", "embedding")
    # streaming history: two mb-stamped appends covering the corpus
    append_vector_index(vecs.filter(F.col("vec_id") % 2 == 0), path,
                        centroids, mb=7)
    append_vector_index(vecs.filter(F.col("vec_id") % 2 == 1), path,
                        centroids, mb=8)
    # full rebuild over the same root from half the corpus
    half = vecs.filter(F.col("vec_id") % 2 == 0)
    write_vector_index(half, path, centroids, mode="overwrite")
    left = spark.read.parquet(path)
    assert left.count() == half.count()
    assert [r.mb for r in left.select("mb").distinct().collect()] == [-1], \
        "stale mb partitions survived a full overwrite"


def test_streaming_ingest_with_inline_compaction(spark, corpus, centroids,
                                                 queries, tmp_path):
    """compact_every folds aged batches mid-stream: probe parity with
    the one-shot build holds, the mb dirs stay bounded, and a
    checkpoint-restarted drain over the same files is still a no-op."""
    import glob

    from data_ingestion_system_spark.streaming.vectors import (
        start_vector_index_stream,
    )

    batch_path = str(tmp_path / "batch_idx")
    stream_path = str(tmp_path / "stream_idx")
    save_centroids(spark, centroids, batch_path)
    save_centroids(spark, centroids, stream_path)
    vecs = corpus.select("vec_id", "embedding")
    write_vector_index(vecs, batch_path, centroids)

    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = start_vector_index_stream(
            spark, str(landing) + "/*/", stream_path, ckpt,
            compact_every=1)
        assert q.awaitTermination(240)

    # three separate drains -> three micro-batches (availableNow folds
    # everything pending into one batch, so land files incrementally)
    for i in range(3):
        (vecs.filter(F.col("vec_id") % 3 == i).coalesce(1)
         .write.json(str(landing / f"f{i}")))
        drain()
    assert _probe_rows(spark, stream_path, queries) == \
        _probe_rows(spark, batch_path, queries)
    mb_dirs = {d.rsplit("=", 1)[1]
               for d in glob.glob(f"{stream_path}/mb=*")}
    assert "-1" in mb_dirs and len(mb_dirs) <= 2, mb_dirs

    n = spark.read.parquet(stream_path).count()
    drain()  # restart over the same files: no-op (manifest + checkpoint)
    assert spark.read.parquet(stream_path).count() == n
