"""Incremental MinHash index: ingest-time dedup without corpus rescans."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_ingestion_system_spark.catalog import Catalog
from data_ingestion_system_spark.operators.dedup_index import (
    append_index,
    banded_rows,
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


def test_probe_keeps_one_index_root_per_fixture(spark, sf_dir, tmp_path,
                                                monkeypatch):
    """dedup_index_probe's index is derived per fixture content: a
    rewritten fixture (new mtime) gets a fresh root, the old root is
    removed, and the probe's rows are unchanged."""
    import os
    import shutil
    import tempfile

    from data_ingestion_system_spark.operators.queries_dedup import (
        dedup_index_probe,
    )

    fixture = tmp_path / "sf"
    shutil.copytree(sf_dir, fixture)
    Catalog(spark, str(fixture))  # ships the package before tempdir moves
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))

    def roots():
        return [d for d, subdirs, _ in os.walk(tmp) if "_log" in subdirs]

    first = sorted(dedup_index_probe(spark, str(fixture)).collect())
    docs = fixture / "documents.parquet"
    docs.write_bytes(docs.read_bytes())
    st = os.stat(docs)
    os.utime(docs, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    second = sorted(dedup_index_probe(spark, str(fixture)).collect())
    assert len(roots()) == 1
    assert second == first


# (band, bh, doc_id) of the 3-doc corpus below, hard-coded: indexes
# already on disk are probed by rows hashed this way, so the banding
# hash must never drift.
_PINNED_BANDS = [
    (0, -7412870726905375363, 3), (0, -6060656293214025124, 2),
    (0, 1260708420304733487, 1), (1, -4392019293242843723, 3),
    (1, -3944555580378433876, 2), (1, 4943695809189903519, 1),
    (2, -8975777719737466476, 3), (2, 2402449568046257734, 2),
    (2, 8918134733793273666, 1), (3, -7313755866136422478, 1),
    (3, 2299587750219075800, 2), (3, 2956819271111035124, 3),
    (4, -8271432284949871872, 2), (4, -7691564517460524167, 3),
    (4, 3627636644225566618, 1), (5, -7696654032450745501, 1),
    (5, -6866613234037281557, 3), (5, -2173250206064235945, 2),
    (6, -8495754385367698900, 3), (6, -1768720076996990304, 1),
    (6, -659656161174013481, 2), (7, -8659308843637110990, 3),
    (7, 478226448854445937, 2), (7, 4853631893044993807, 1),
]


def test_banded_rows_hash_is_pinned(spark):
    """The index payload of a fixed corpus is bit-identical to the rows
    already-written indexes hold, so new batches still probe them."""
    docs = spark.createDataFrame([
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox leaps over the lazy dog"),
        (3, "pack my box with five dozen liquor jugs"),
    ], "doc_id long, text string")
    got = sorted(tuple(r) for r in banded_rows(docs).collect())
    assert got == _PINNED_BANDS
