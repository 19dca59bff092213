"""Text pipeline ops: sequence packing invariants + stratified sample mix."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_ingestion_system_spark.catalog import Catalog
from data_ingestion_system_spark.operators.queries_text import (
    PACK_TOKENS,
    text_pack_sequences,
    text_stratified_sample,
)


def test_pack_sequences_invariants(spark, sf_dir):
    packed = text_pack_sequences(spark, sf_dir).collect()
    cat = Catalog(spark, sf_dir)
    total_docs = cat.documents.count()

    assert sum(r.n_docs for r in packed) == total_docs  # every doc in one bin
    by_lang = {}
    for r in packed:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, bins in by_lang.items():
        bins.sort(key=lambda r: r.bin_id)
        # bins are contiguous in doc_id order: ranges must not interleave
        for prev, nxt in zip(bins, bins[1:]):
            assert prev.last_doc < nxt.first_doc
        # every bin except possibly the last is filled to >= the target
        # once its first doc lands (cumsum definition: a bin closes only
        # when it has reached PACK_TOKENS)
        for r in bins[:-1]:
            assert r.sum_tokens >= 1
        assert all(r.bin_id >= 0 for r in bins)


def test_pack_sequences_bins_near_target(spark, sf_dir):
    packed = text_pack_sequences(spark, sf_dir)
    # average fill of non-final bins should be around the target: the
    # cumsum packer overshoots by at most one document per bin
    stats = (
        packed.groupBy("lang")
        .agg(F.max("bin_id").alias("last_bin"))
        .join(packed, "lang")
        .filter(F.col("bin_id") < F.col("last_bin"))
        .agg(F.avg("sum_tokens").alias("avg_fill"))
        .first()
    )
    if stats and stats.avg_fill is not None:
        assert PACK_TOKENS * 0.8 <= stats.avg_fill <= PACK_TOKENS * 2.0


def test_stratified_sample_mix(spark, sf_dir):
    cat = Catalog(spark, sf_dir)
    pop = {r.lang: r["count"] for r in cat.documents.groupBy("lang").count().collect()}
    got = {r.lang: r["count"]
           for r in text_stratified_sample(spark, sf_dir).groupBy("lang").count().collect()}
    fractions = {"en": 0.5, "de": 0.25, "es": 0.25, "fr": 0.1, "zh": 0.1}
    for lang, frac in fractions.items():
        if pop.get(lang, 0) >= 50:   # enough mass for a loose Bernoulli bound
            ratio = got.get(lang, 0) / pop[lang]
            assert abs(ratio - frac) < 0.15, (lang, ratio, frac)
    # determinism: same seed, same sample
    again = {r.lang: r["count"]
             for r in text_stratified_sample(spark, sf_dir).groupBy("lang").count().collect()}
    assert got == again


def test_redact_pii_true_positives(spark):
    """The event-table query only exercises number masking (the fixture
    payloads hold no emails/phones), so pin real PII shapes here."""
    from data_ingestion_system_spark.operators.text import redact_pii

    cases = [
        ("contact john.doe+spam@example.co.uk today", "contact <EMAIL> today"),
        ("call +1 555-867-5309 now", "call <PHONE> now"),
        ("call (555) 867-5309 now", "call <PHONE> now"),
        ("pi is 3.14159 exactly", "pi is <NUM> exactly"),
        ('{"k": 69}', '{"k": <NUM>}'),
        ("no pii here", "no pii here"),
    ]
    df = spark.createDataFrame([(s,) for s, _ in cases], ["text"])
    got = [r.red for r in
           df.select(redact_pii(F.col("text")).alias("red")).collect()]
    assert got == [want for _, want in cases]


def test_chunk_udtf_matches_jvm_chunker(spark, sf_dir):
    """The Python UDTF surface and the codegen'd JVM chunker must agree
    row-for-row (same windows, same trailing-chunk behavior)."""
    from data_ingestion_system_spark.functions.udtf import (
        CHUNK_STRIDE,
        CHUNK_WINDOW,
        ChunkWindows,
    )
    from data_ingestion_system_spark.operators.queries_text import (
        text_chunk_windows,
    )

    spark.udtf.register("chunk_windows", ChunkWindows)
    Catalog(spark, sf_dir).register_views(("documents",))
    via_udtf = spark.sql(f"""
        SELECT d.doc_id, c.chunk_id, c.chunk_text
        FROM documents d,
             LATERAL chunk_windows(d.text, {CHUNK_WINDOW}, {CHUNK_STRIDE}) c
    """)
    jvm = text_chunk_windows(spark, sf_dir)
    assert sorted(map(tuple, via_udtf.collect())) == \
        sorted(map(tuple, jvm.collect()))


def test_chunk_windows_shapes(spark, sf_dir):
    from data_ingestion_system_spark.functions.udtf import (
        CHUNK_STRIDE,
        CHUNK_WINDOW,
    )
    from data_ingestion_system_spark.operators.queries_text import (
        text_chunk_windows,
    )

    rows = text_chunk_windows(spark, sf_dir).collect()
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r.doc_id, []).append(r)
    cat = Catalog(spark, sf_dir)
    assert len(per_doc) == cat.documents.count()  # every doc chunked
    for chunks in per_doc.values():
        chunks.sort(key=lambda r: r.chunk_id)
        # contiguous ids from 0; every chunk bounded by the window size
        assert [c.chunk_id for c in chunks] == list(range(len(chunks)))
        for c in chunks:
            assert 1 <= len(c.chunk_text.split()) <= CHUNK_WINDOW
        # consecutive chunks overlap by window - stride tokens
        for a, b in zip(chunks, chunks[1:]):
            a_t, b_t = a.chunk_text.split(), b.chunk_text.split()
            if len(a_t) == CHUNK_WINDOW:
                assert a_t[CHUNK_STRIDE:] == b_t[:CHUNK_WINDOW - CHUNK_STRIDE]


def test_redact_pii_idempotent(spark):
    """Masking already-masked text must be a no-op (the replacement
    tokens contain no digits or @-runs for the patterns to re-match)."""
    import random

    from data_ingestion_system_spark.operators.text import redact_pii

    rng = random.Random(7)
    alphabet = list("abc 0123456789@.-+() ")
    rows = ["".join(rng.choice(alphabet) for _ in range(rng.randint(0, 60)))
            for _ in range(200)]
    df = spark.createDataFrame([(s,) for s in rows], ["text"])
    once_twice = df.select(
        redact_pii(F.col("text")).alias("once"),
    ).select(
        "once", redact_pii(F.col("once")).alias("twice"),
    ).collect()
    for r in once_twice:
        assert r.once == r.twice


def test_hash_sample_monotone_and_partition_invariant(spark, sf_dir):
    """The two guarantees the hash-threshold sampler makes that RNG
    sampling cannot: halving fractions yields a SUBSET, and the kept set
    ignores partitioning/row order entirely."""
    from data_ingestion_system_spark.operators.text import (
        hash_stratified_sample,
    )

    cat = Catalog(spark, sf_dir)
    full = {"en": 0.5, "de": 0.25, "es": 0.25, "fr": 0.1, "zh": 0.1}
    half = {k: v / 2 for k, v in full.items()}

    keep_full = {r.doc_id for r in
                 hash_stratified_sample(cat.documents, full).collect()}
    keep_half = {r.doc_id for r in
                 hash_stratified_sample(cat.documents, half).collect()}
    assert keep_half <= keep_full              # monotone top-up
    assert len(keep_half) < len(keep_full)

    shuffled = cat.documents.repartition(7, "source")
    keep_shuffled = {r.doc_id for r in
                     hash_stratified_sample(shuffled, full).collect()}
    assert keep_shuffled == keep_full          # partitioning-invariant


def test_misra_gries_superset_and_exact_verify(spark):
    """MG candidates must be a superset of every item above N/k even on
    adversarial partitioning; the exact second pass then equals groupBy."""
    from data_ingestion_system_spark.operators.text import misra_gries_sketch

    # 10k tokens: one item at ~5%, a handful at ~1%, long uniform tail —
    # partitioned so the hot item is concentrated in few partitions
    rows = (["hot"] * 500
            + [f"warm{i}" for i in range(5) for _ in range(100)]
            + [f"tail{i}" for i in range(9000)])
    words = spark.createDataFrame([(w,) for w in rows], "word string") \
        .repartition(16)
    mg = misra_gries_sketch(words, k=64).collect()
    cands = {r.word for r in mg if r.word != ""}
    n_total = sum(r.cnt for r in mg if r.word == "")
    assert n_total == len(rows)  # sentinel rows carry exact token count
    exact = {r.word: r.cnt for r in
             words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    over = {w for w, c in exact.items() if c > n_total / 64}
    assert over <= cands          # guarantee: no heavy hitter missed
    assert len(cands) <= 16 * 64  # bounded output: <= k rows/partition


def test_heavy_hitters_equals_plain_groupby(spark, sf_dir):
    from data_ingestion_system_spark.operators.queries_text import (
        text_heavy_hitters,
    )

    got = {(r.word, r.freq) for r in text_heavy_hitters(spark, sf_dir).collect()}
    cat = Catalog(spark, sf_dir)
    words = cat.documents.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("word")
    ).filter(F.col("word") != "")
    n = words.count()
    expect = {(r.word, r.cnt) for r in
              words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
              .filter(F.col("cnt") * 256 > n).collect()}
    assert got == expect and len(got) > 0


def test_bm25_topk_replays_in_python(spark, sf_dir):
    """text_bm25_topk's scores and cut replay exactly in pure Python
    (Okapi BM25, k1=1.2, b=0.75, Lucene idf) over the same corpus."""
    import math
    import re as _re

    from data_ingestion_system_spark.operators.queries_text import (
        _BM25_B, _BM25_K1, _BM25_TERMS, text_bm25_topk)

    got = [(r.doc_id, r.bm25, r.n_terms_hit)
           for r in text_bm25_topk(spark, sf_dir).collect()]

    docs = {r.doc_id: _re.split(r"\s+", r.text.strip().lower())
            for r in Catalog(spark, sf_dir).documents
            .select("doc_id", "text").collect()}
    n_docs = len(docs)
    avgdl = sum(len(w) for w in docs.values()) / n_docs
    df = {t: sum(1 for w in docs.values() if t in w) for t in _BM25_TERMS}
    scores = {}
    for d, w in docs.items():
        s, hits = 0.0, 0
        for t in _BM25_TERMS:
            tf = w.count(t)
            if tf == 0:
                continue
            hits += 1
            idf = math.log(1 + (n_docs - df[t] + 0.5) / (df[t] + 0.5))
            s += (idf * tf * (_BM25_K1 + 1)
                  / (tf + _BM25_K1 * (1 - _BM25_B + _BM25_B
                                      * len(w) / avgdl)))
        if hits:
            scores[d] = (round(s, 4), hits)
    want = sorted(((d, v[0], v[1]) for d, v in scores.items()),
                  key=lambda x: (-x[1], x[0]))[:10]
    assert got == want
