"""Incremental MinHash index: ingest-time dedup without corpus rescans."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_ingestion_system_spark.catalog import Catalog
from data_ingestion_system_spark.operators.dedup_index import (
    append_index,
    probe_index,
    write_index,
)
from data_ingestion_system_spark.sources import versioned as V


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    return Catalog(spark, sf_dir).documents.select("doc_id", "text")


def _perturb(text: str) -> str:
    """Light edit: drop the 3rd token — Jaccard stays near 1."""
    w = text.split()
    return " ".join(w[:2] + w[3:])


def test_probe_finds_planted_neardup_and_passes_fresh(
        spark, sf_dir, corpus, tmp_path):
    idx = str(tmp_path / "minhash_index")
    write_index(corpus, idx)

    donor = corpus.filter(F.length("text") > 200).first()
    batch = spark.createDataFrame(
        [
            (1_000_001, _perturb(donor["text"])),           # near-dup
            (1_000_002, "entirely novel tokens qq ww ee rr tt yy uu "
                        "ii oo pp aa ss dd ff gg hh jj kk ll zz xx "
                        "cc vv bb nn mm q1 w2 e3 r4 t5 y6 u7 i8 o9"),
        ],
        "doc_id long, text string",
    )
    hits = probe_index(spark, idx, batch, corpus, threshold=0.5).collect()
    pairs = {(r["batch_id"], r["corpus_id"]): r["jaccard"] for r in hits}
    assert (1_000_001, donor["doc_id"]) in pairs
    assert pairs[(1_000_001, donor["doc_id"])] > 0.8
    assert not any(b == 1_000_002 for b, _ in pairs)


def test_append_makes_previous_batch_visible(spark, sf_dir, corpus,
                                             tmp_path):
    idx = str(tmp_path / "minhash_index")
    write_index(corpus, idx)
    day1 = spark.createDataFrame(
        [(2_000_001, "alpha beta gamma delta epsilon zeta eta theta "
                     "iota kappa lam mu nu xi omicron pi rho sigma "
                     "tau upsilon phi chi psi omega one two three")],
        "doc_id long, text string",
    )
    # day 1 is clean against the corpus -> accept it into the index
    assert probe_index(spark, idx, day1, corpus).count() == 0
    append_index(day1, idx, batch_id=0)

    # day 2 re-submits (a light edit of) day 1's doc: the probe must
    # catch it against the APPENDED signatures, with day-1 text coming
    # from the union'd corpus view, not a rescan
    day2 = spark.createDataFrame(
        [(3_000_001, _perturb("alpha beta gamma delta epsilon zeta eta "
                              "theta iota kappa lam mu nu xi omicron pi "
                              "rho sigma tau upsilon phi chi psi omega "
                              "one two three"))],
        "doc_id long, text string",
    )
    hits = probe_index(spark, idx, day2,
                       corpus.unionByName(day1), threshold=0.5).collect()
    assert {(r["batch_id"], r["corpus_id"]) for r in hits} == {
        (3_000_001, 2_000_001)}


def test_index_is_signature_sized(spark, sf_dir, corpus, tmp_path):
    """The index stores bands x docs fixed-width rows — no text."""
    idx = str(tmp_path / "minhash_index")
    write_index(corpus, idx)
    df = V.read_snapshot(spark, idx)
    assert set(df.columns) == {"band", "bh", "doc_id"}
    n_docs = corpus.count()
    assert df.count() == 8 * n_docs          # BANDS rows per doc


def test_staged_uncommitted_index_write_is_invisible(spark, tmp_path):
    """A write staged under the index root but never committed (a crash
    between the data write and the log record) is invisible to a probe;
    once a commit lands, its rows are visible."""
    from data_ingestion_system_spark.operators.dedup_index import (
        banded_rows,
    )

    doc = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
           "lam mu nu xi omicron pi rho sigma tau upsilon phi chi psi")
    idx = str(tmp_path / "idx")
    corpus = spark.createDataFrame([(1, doc)], "doc_id long, text string")
    write_index(corpus.limit(0), idx)                 # v1: empty index
    V._stage(banded_rows(corpus), idx)                # staged, no record
    assert V.latest_version(idx) == 1

    probe_doc = spark.createDataFrame([(2, _perturb(doc))],
                                      "doc_id long, text string")
    assert probe_index(spark, idx, probe_doc, corpus).count() == 0
    append_index(corpus, idx, batch_id=0)
    assert probe_index(spark, idx, probe_doc, corpus).count() == 1
    # a replayed batch id is a no-op: one copy of its signature rows
    append_index(corpus, idx, batch_id=0)
    rows = V.read_snapshot(spark, idx)
    assert rows.count() == rows.distinct().count() == 8  # BANDS per doc
