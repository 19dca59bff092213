"""Streaming ingest-time dedup: the curation stream rejects near-dups of
previously-ACCEPTED docs across micro-batch and restart boundaries,
with state carried by the signature index, not streaming state."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from data_ingestion_system_spark.sources import versioned as V
from data_ingestion_system_spark.streaming.curation import (
    start_curation_stream,
)

DOC_A = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
         "lam mu nu xi omicron pi rho sigma tau upsilon phi chi psi "
         "omega red green blue cyan magenta yellow")


def _perturb(text: str) -> str:
    w = text.split()
    return " ".join(w[:2] + w[3:])


def _drain(q):
    assert q.awaitTermination(120), "curation micro-batch did not finish"


def test_curation_stream_rejects_cross_batch_dups(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    paths = {k: str(tmp_path / k)
             for k in ("clean", "rejects", "index", "ck")}

    def run():
        _drain(start_curation_stream(
            spark, str(landing), paths["clean"], paths["rejects"],
            paths["index"], paths["ck"], threshold=0.7,
            available_now=True))

    # batch 1: two distinct docs + one EXACT within-batch dup of A
    (landing / "b1.json").write_text("\n".join([
        json.dumps({"doc_id": 1, "text": DOC_A, "lang": "en"}),
        json.dumps({"doc_id": 2, "text": "totally different tokens "
                    "one two three four five six seven eight nine ten "
                    "eleven twelve thirteen fourteen fifteen sixteen",
                    "lang": "en"}),
        json.dumps({"doc_id": 3, "text": DOC_A, "lang": "en"}),
    ]))
    run()
    clean = V.read_snapshot(spark, paths["clean"])
    assert {r["doc_id"] for r in clean.collect()} == {1, 2}

    # batch 2: a near-dup of accepted doc 1 + one genuinely new doc
    (landing / "b2.json").write_text("\n".join([
        json.dumps({"doc_id": 10, "text": _perturb(DOC_A), "lang": "en"}),
        json.dumps({"doc_id": 11, "text": "fresh corpus material qq ww "
                    "ee rr tt yy uu ii oo pp aa ss dd ff gg hh jj kk",
                    "lang": "en"}),
    ]))
    run()
    clean = V.read_snapshot(spark, paths["clean"])
    assert {r["doc_id"] for r in clean.collect()} == {1, 2, 11}
    rejects = V.read_snapshot(spark, paths["rejects"])
    rej = {(r["batch_id"], r["corpus_id"]) for r in rejects.collect()}
    assert (10, 1) in rej
    assert rejects.filter(F.col("jaccard") < 0.7).count() == 0

    # restart with no new files: checkpoint prevents reprocessing
    run()
    assert V.read_snapshot(spark, paths["clean"]).count() == 3


def test_curation_stream_rejects_within_batch_near_dups(spark, tmp_path):
    """Two NEAR-duplicate (non-identical) docs arriving in the SAME
    micro-batch: the banded self-probe keeps the min id and rejects the
    other — the r2 coverage hole where both were accepted and indexed
    permanently."""
    landing = tmp_path / "landing"
    landing.mkdir()
    paths = {k: str(tmp_path / k)
             for k in ("clean", "rejects", "index", "ck")}
    (landing / "b1.json").write_text("\n".join([
        json.dumps({"doc_id": 5, "text": DOC_A, "lang": "en"}),
        json.dumps({"doc_id": 6, "text": _perturb(DOC_A), "lang": "en"}),
    ]))
    _drain(start_curation_stream(
        spark, str(landing), paths["clean"], paths["rejects"],
        paths["index"], paths["ck"], threshold=0.7, available_now=True))
    clean = V.read_snapshot(spark, paths["clean"])
    assert {r["doc_id"] for r in clean.collect()} == {5}
    rejects = V.read_snapshot(spark, paths["rejects"])
    rej = {(r["batch_id"], r["corpus_id"]) for r in rejects.collect()}
    assert (6, 5) in rej


def test_curation_stream_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: simulate the worst replay (all
    outputs written, the index rolled back to before the batch AND the
    checkpoint lost) and require the re-run to converge to the identical
    final state — the snapshot log's batch-id keys, not blind appends."""
    import shutil

    landing = tmp_path / "landing"
    landing.mkdir()
    paths = {k: str(tmp_path / k)
             for k in ("clean", "rejects", "index", "ck")}
    (landing / "b1.json").write_text("\n".join([
        json.dumps({"doc_id": 1, "text": DOC_A, "lang": "en"}),
        json.dumps({"doc_id": 2, "text": _perturb(DOC_A), "lang": "en"}),
        json.dumps({"doc_id": 3, "text": "unrelated filler words aa bb "
                    "cc dd ee ff gg hh ii jj kk ll mm nn oo pp qq rr",
                    "lang": "en"}),
    ]))

    def run():
        _drain(start_curation_stream(
            spark, str(landing), paths["clean"], paths["rejects"],
            paths["index"], paths["ck"], threshold=0.7,
            available_now=True))

    run()

    def state():
        clean = {r["doc_id"]
                 for r in V.read_snapshot(spark, paths["clean"]).collect()}
        rejects = [(r["batch_id"], r["corpus_id"]) for r in
                   V.read_snapshot(spark, paths["rejects"]).collect()]
        idx = V.read_snapshot(spark, paths["index"])
        return clean, sorted(rejects), idx.count(), idx.distinct().count()

    first = state()
    assert first[0] == {1, 3}          # 2 rejected as near-dup of 1
    assert first[2] == first[3]        # index has no duplicate rows

    # lose the checkpoint AND roll the index back to before batch 0
    # (v1 is the empty bootstrap): the batch replays fully
    shutil.rmtree(paths["ck"])
    V.rollback(paths["index"], 1)
    run()
    assert state() == first

    # index-committed replay (checkpoint lost, index intact): pure no-op
    heads = {k: V.latest_version(paths[k])
             for k in ("clean", "rejects", "index")}
    shutil.rmtree(paths["ck"])
    run()
    assert state() == first
    assert {k: V.latest_version(paths[k]) for k in heads} == heads


def test_cached_search_not_stale_across_batch_commit(spark, tmp_path):
    """Result-cache freshness under streaming appends (r5 verdict #7):
    a CachedSearchService answer over the clean corpus is invalidated
    when the curation stream commits a batch — within the TTL, the next
    probe re-runs the query and sees the new rows instead of serving
    the pre-batch result."""
    from data_ingestion_system_spark.plans.cache import (
        CachedSearchService,
        ResultCache,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    paths = {k: str(tmp_path / k)
             for k in ("clean", "rejects", "index", "ck")}
    cache = ResultCache(ttl_seconds=3600)  # TTL alone would serve stale

    def run():
        _drain(start_curation_stream(
            spark, str(landing), paths["clean"], paths["rejects"],
            paths["index"], paths["ck"], threshold=0.7,
            available_now=True, result_cache=cache))

    (landing / "b1.json").write_text(json.dumps(
        {"doc_id": 1, "text": DOC_A, "lang": "en"}))
    run()

    def search(filters):
        return (V.read_snapshot(spark, paths["clean"])
                .filter(F.col("lang") == filters["lang"])
                .select("doc_id"))

    svc = CachedSearchService(search, cache=cache)
    assert {r["doc_id"] for r in svc.search({"lang": "en"})} == {1}
    assert {r["doc_id"] for r in svc.search({"lang": "en"})} == {1}
    assert svc.cache.hits == 1  # second call served from cache

    # a new batch lands and commits -> the cached entry must die with it
    (landing / "b2.json").write_text(json.dumps(
        {"doc_id": 2, "text": "fresh corpus material qq ww ee rr tt yy "
         "uu ii oo pp aa ss dd ff gg hh jj kk", "lang": "en"}))
    run()
    assert {r["doc_id"] for r in svc.search({"lang": "en"})} == {1, 2}, \
        "cached search served a pre-batch result after the commit"


def test_legacy_raw_store_raises_migration_error(spark, tmp_path):
    """ADVICE r8 (medium): a pre-versioned clean store (raw parquet,
    no snapshot log) must NOT be probed as an empty corpus (silently
    re-accepting every cross-batch duplicate) — it must raise a loud
    error naming the one-time migration to snapshot v1.
    An uncommitted d-*/ data dir (crash before log append) is not
    legacy and stays invisible without raising."""
    import os

    import pytest

    from data_ingestion_system_spark.streaming.curation import _clean_store

    legacy = str(tmp_path / "legacy_clean")
    spark.createDataFrame(
        [(1, DOC_A, "en")], "doc_id long, text string, lang string"
    ).write.parquet("file://" + legacy)
    with pytest.raises(ValueError, match="predates the versioned") as err:
        _clean_store(spark, legacy)
    assert "snapshot v1" in str(err.value)

    # orphan uncommitted write: d-*/ parquet, empty log -> empty corpus
    orphan = tmp_path / "orphan_clean"
    (orphan / "_log").mkdir(parents=True)
    spark.createDataFrame(
        [(2, DOC_A, "en")], "doc_id long, text string, lang string"
    ).write.parquet("file://" + os.path.join(str(orphan), "d-deadbeef"))
    assert _clean_store(spark, str(orphan)).count() == 0

    # the stream's index bootstrap refuses a pre-versioned index too,
    # instead of shadowing it with an empty v1
    from data_ingestion_system_spark.operators.dedup_index import (
        banded_rows,
    )
    index = str(tmp_path / "legacy_index")
    (banded_rows(spark.createDataFrame([(1, DOC_A)],
                                       "doc_id long, text string"))
     .write.partitionBy("band").parquet("file://" + index))
    (tmp_path / "landing").mkdir()
    with pytest.raises(ValueError, match="signature index"):
        start_curation_stream(
            spark, str(tmp_path / "landing"), str(tmp_path / "c"),
            str(tmp_path / "r"), index, str(tmp_path / "ck"))
    assert V.latest_version(index) == 0
