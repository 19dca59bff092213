"""Crash between sinks: a micro-batch dies right after one of its sink
calls lands, the query restarts from the same checkpoint, and the final
state must equal an uninterrupted run's.

Each case lands two files, one run each, and crashes the batch that
carries the second file — so the replay runs against the state the
first batch left behind.  The crash wraps the sink call: the real call
runs once, then the wrapper raises.

The bronze pipeline (``streaming/pipeline.py``) is not a case: its
bronze sink still appends plain parquet under random file names, so a
replay appends again (ROADMAP item 3), and the benchmark reads bronze as
plain directories, which pins that layout until the benchmark moves.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.errors import StreamingQueryException

from data_ingestion_system_spark.sources import versioned as V

DOC_A = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
         "lam mu nu xi omicron pi rho sigma tau upsilon phi chi psi "
         "omega red green blue cyan magenta yellow")
DOC_B = ("fresh corpus material qq ww ee rr tt yy uu ii oo pp aa ss dd "
         "ff gg hh jj kk ll zz xx cc vv bb nn mm")


def _perturb(text: str) -> str:
    w = text.split()
    return " ".join(w[:2] + w[3:])


class _Crash(RuntimeError):
    pass


def _crash_once_after(monkeypatch, module, name, when):
    """Wrap ``module.name``: the first call ``when`` accepts runs the
    real call and then raises; every other call passes through."""
    real = getattr(module, name)
    fired = []

    def wrapped(*args, **kwargs):
        out = real(*args, **kwargs)
        if not fired and when(*args, **kwargs):
            fired.append(True)
            raise _Crash(f"crash after {name}")
        return out

    monkeypatch.setattr(module, name, wrapped)


def _drain(q):
    assert q.awaitTermination(180), "micro-batch did not finish in 180s"


# --- curation: clean -> rejects -> index, one log ------------------------

def _curation(spark, tmp_path, sf_dir):
    from data_ingestion_system_spark.streaming.curation import (
        start_curation_stream,
    )

    landing = tmp_path / "landing"
    landing.mkdir(parents=True)
    d = {k: str(tmp_path / k) for k in ("clean", "rejects", "index", "ck")}
    docs = [
        [(1, DOC_A), (2, _perturb(DOC_A)), (3, DOC_B)],
        # batch 1: a near-dup of accepted doc 1, a near-dup of doc 3,
        # and a new doc
        [(10, _perturb(DOC_A)), (11, _perturb(DOC_B)),
         (12, "unrelated filler words aa bb cc dd ee ff gg hh ii jj kk "
              "ll mm nn oo pp qq rr")],
    ]

    def feed(i):
        (landing / f"b{i}.json").write_text("\n".join(
            json.dumps({"doc_id": k, "text": t, "lang": "en"})
            for k, t in docs[i]))

    def run():
        _drain(start_curation_stream(
            spark, str(landing), d["clean"], d["rejects"], d["index"],
            d["ck"], threshold=0.7, available_now=True))

    def state():
        def rows(k, cols):
            return sorted(tuple(r) for r in
                          V.read_snapshot(spark, d[k]).select(*cols)
                          .collect())
        return (rows("clean", ["doc_id", "micro_batch"]),
                rows("rejects", ["batch_id", "corpus_id", "jaccard",
                                 "micro_batch"]),
                rows("index", ["band", "bh", "doc_id"]),
                [V.latest_version(d[k])
                 for k in ("clean", "rejects", "index")])

    return feed, run, state, d


# --- vectors: mb-stamped dynamic overwrite -------------------------------

def _vectors(spark, tmp_path, sf_dir):
    from data_ingestion_system_spark.catalog import Catalog
    from data_ingestion_system_spark.operators.similarity import (
        label_centroids,
    )
    from data_ingestion_system_spark.operators.vector_index import (
        save_centroids,
    )
    from data_ingestion_system_spark.streaming.vectors import (
        start_vector_index_stream,
    )

    corpus = Catalog(spark, sf_dir).embeddings.select(
        "vec_id", "embedding", "label")
    index = str(tmp_path / "idx")
    save_centroids(spark, label_centroids(corpus), index)
    landing = tmp_path / "landing"
    landing.mkdir(parents=True)
    vecs = corpus.select("vec_id", "embedding")
    d = {"index": index, "ck": str(tmp_path / "ck")}

    def feed(i):
        (vecs.filter(F.col("vec_id") % 2 == i).coalesce(1)
         .write.json(str(landing / f"f{i}")))

    def run():
        _drain(start_vector_index_stream(
            spark, str(landing) + "/*/", index, d["ck"]))

    def state():
        return sorted(tuple(r) for r in spark.read.parquet(index)
                      .select("mb", "cid", "vec_id").collect())

    return feed, run, state, d


# --- interval enrichment: one versioned sink -----------------------------

def _enrich(spark, tmp_path, sf_dir):
    from data_ingestion_system_spark.catalog import Catalog
    from data_ingestion_system_spark.operators.temporal import scd2_intervals
    from data_ingestion_system_spark.streaming.enrich import (
        TS_NTZ_FORMAT,
        start_interval_enrich,
    )

    cat = Catalog(spark, sf_dir)
    silver = str(tmp_path / "silver")
    scd2_intervals(cat.events).write.parquet(silver)
    probes = (cat.events.filter(F.col("event_type") == "purchase")
              .select("event_id", "user_id", "ts"))
    # split at the median timestamp: batch 1 is never behind the
    # watermark batch 0 leaves, so both batches enrich every event
    mid = sorted(r.ts for r in probes.select("ts").collect())[
        probes.count() // 2]
    halves = [probes.filter(F.col("ts") < mid),
              probes.filter(F.col("ts") >= mid)]
    landing = tmp_path / "landing"
    d = {"out": str(tmp_path / "out"), "ck": str(tmp_path / "ck")}

    def feed(i):
        halves[i].coalesce(1).write.option(
            "timestampNTZFormat", TS_NTZ_FORMAT).json(str(landing / f"b{i}"))

    def run():
        _drain(start_interval_enrich(spark, str(landing) + "/*/", silver,
                                     d["out"], d["ck"]))

    def state():
        return (sorted(tuple(r) for r in V.read_snapshot(spark, d["out"])
                       .select("event_id", "user_id", "ts",
                               "status_at_event").collect()),
                V.latest_version(d["out"]))

    return feed, run, state, d


CASES = {
    # name: (setup, module, sink name, which call of the second run
    # crashes)
    "curation_after_clean": (
        _curation, "data_ingestion_system_spark.streaming.curation",
        "commit_stream_batch", lambda d, a, k: a[1] == d["clean"]),
    "curation_after_index": (
        _curation, "data_ingestion_system_spark.operators.dedup_index",
        "commit_stream_batch", lambda d, a, k: True),
    "vectors_after_append": (
        _vectors, "data_ingestion_system_spark.streaming.vectors",
        "append_vector_index", lambda d, a, k: True),
    # the watermark may add a batch with no data; crash on the data
    "enrich_after_commit": (
        _enrich, "data_ingestion_system_spark.streaming.enrich",
        "commit_stream_batch", lambda d, a, k: not a[0].isEmpty()),
}


@pytest.mark.parametrize("case", list(CASES))
def test_crash_between_sinks_replays_to_clean_run(spark, sf_dir, tmp_path,
                                                  monkeypatch, case):
    import importlib

    setup, module_name, sink, when = CASES[case]

    feed, run, state, _ = setup(spark, tmp_path / "clean_run", sf_dir)
    for i in (0, 1):
        feed(i)
        run()
    want = state()

    feed, run, state, d = setup(spark, tmp_path / "crash_run", sf_dir)
    feed(0)
    run()
    _crash_once_after(monkeypatch, importlib.import_module(module_name),
                      sink, lambda *a, **k: when(d, a, k))
    feed(1)
    with pytest.raises(StreamingQueryException, match="crash after"):
        run()
    if case == "curation_after_index":
        # the index commit landed: the replay must not even re-probe
        from data_ingestion_system_spark.streaming import curation

        probes = []
        real_probe = curation.probe_index
        monkeypatch.setattr(curation, "probe_index",
                            lambda *a, **k: probes.append(1)
                            or real_probe(*a, **k))
        run()
        assert probes == []
    else:
        run()
    assert state() == want
