"""Dedup operator tests, including planted-duplicate recall for the
hash-based pipelines the DuckDB oracle can't replicate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_ingestion_system_spark.operators import dedup as D


def _corpus(spark):
    """60 unique docs + 6 near-duplicates (one word changed) + 2 exact dups."""
    base = [
        (i, " ".join(f"w{i}x{j}" for j in range(40)))
        for i in range(60)
    ]
    near = []
    for n, i in enumerate([3, 11, 19, 27, 35, 43]):
        words = base[i][1].split()
        words[5] = "CHANGED"
        near.append((100 + n, " ".join(words)))
    exact = [(200, base[0][1]), (201, base[1][1].upper())]
    return spark.createDataFrame(base + near + exact, ["doc_id", "text"])


def test_exact_dedup(spark):
    df = _corpus(spark)
    survivors = D.exact_dedup_survivors(df, "doc_id", "text")
    ids = {r.doc_id for r in survivors.collect()}
    assert survivors.count() == 66  # 60 unique + 6 near (not exact)
    assert 0 in ids and 200 not in ids          # lowest id wins
    assert 1 in ids and 201 not in ids          # case-insensitive normalization


def test_jaccard_exact_pairs(spark):
    df = _corpus(spark)
    sh = D.word_shingles(df, "doc_id", "text", n=3)
    pairs = D.jaccard_pairs(sh).filter(F.col("jaccard") >= 0.5)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    # every planted near-dup pair found, plus the exact dups at jaccard 1.0
    for n, i in enumerate([3, 11, 19, 27, 35, 43]):
        assert (i, 100 + n) in got
    assert (0, 200) in got and (1, 201) in got


def test_minhash_lsh_recall(spark):
    df = _corpus(spark)
    sh = D.word_shingles(df, "doc_id", "text", n=3)
    exact = {
        (r.id_a, r.id_b)
        for r in D.jaccard_pairs(sh).filter(F.col("jaccard") >= 0.5).collect()
    }
    sig = D.minhash_signatures(sh, num_perm=32)
    cand = D.lsh_candidate_pairs(sig, num_perm=32, bands=8)
    verified = D.verify_candidates(sh, cand).filter(F.col("jaccard") >= 0.5)
    got = {(r.id_a, r.id_b) for r in verified.collect()}
    assert got <= exact  # verify stage guarantees no false positives
    recall = len(got & exact) / len(exact)
    assert recall >= 0.9, f"LSH recall {recall} (got {len(got)}/{len(exact)})"


def test_simhash_finds_near_dups(spark):
    df = _corpus(spark)
    sig = D.simhash64(df, "doc_id", "text")
    # exact dups must collide at hamming 0
    pairs = D.simhash_near_pairs(sig, max_hamming=3)
    got = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    assert got.get((0, 200)) == 0
    assert got.get((1, 201)) == 0
    # near-dups (1 word of 40 changed) should land within hamming 3
    found_near = sum(1 for n, i in enumerate([3, 11, 19, 27, 35, 43])
                     if (i, 100 + n) in got)
    assert found_near >= 4, f"simhash found only {found_near}/6 near-dups"


def test_connected_components_transitive_chain(spark):
    """A-B-C chain collapses to one cluster (min id) even though A,C
    never pair directly; disjoint pair stays its own cluster; convergence
    reached well under max_iter."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        ["id_a", "id_b"])
    got = {r.node: r.cluster_id
           for r in D.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20}


def test_connected_components_label_is_member_min(spark):
    """On the real near-dup graph: every edge joins same-cluster nodes
    and each cluster's label is its minimum member."""
    from data_ingestion_system_spark.catalog import Catalog

    sh = D.word_shingles(
        Catalog(spark, "/root/testdata/sf0.001").documents,
        "doc_id", "text", n=3, hashed=True)
    pairs = D.jaccard_pairs(sh).filter(F.col("jaccard") >= 0.5)
    labels = D.connected_components(pairs)
    lab = {r.node: r.cluster_id for r in labels.collect()}
    for a, b in [(r.id_a, r.id_b) for r in pairs.collect()]:
        assert lab[a] == lab[b]
    by_cluster = {}
    for n, c in lab.items():
        by_cluster.setdefault(c, []).append(n)
    for c, members in by_cluster.items():
        assert c == min(members)


def test_contamination_planted_overlap(spark):
    """A training doc copying a benchmark span is flagged with the exact
    shared-gram count; a disjoint doc is not flagged at all."""
    from data_ingestion_system_spark.operators.dedup import cross_corpus_overlap

    bench_text = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            (1, bench_text, "bench"),
            # copies tokens 1..6 of the benchmark: 6 tokens -> two 5-grams
            (2, "beta gamma delta epsilon zeta eta PAD1 PAD2", "train"),
            (3, "totally different words with no overlap at all", "train"),
        ],
        ["doc_id", "text", "source"],
    )
    got = {r.doc_id: r.n_shared
           for r in cross_corpus_overlap(
               docs, "doc_id", "text", "source", "bench", n=5).collect()}
    assert got == {2: 2}


def test_containment_catches_subset_doc(spark):
    """A short doc quoted verbatim inside a long host: containment 1.0,
    jaccard far below any near-dup threshold — the asymmetric metric is
    the only one that flags the pair."""
    from data_ingestion_system_spark.operators.dedup import (
        containment_pairs,
        word_shingles,
    )

    quote = "alpha beta gamma delta epsilon zeta"
    host = " ".join(f"w{i} x{i} y{i}" for i in range(40)) + " " + quote
    docs = spark.createDataFrame(
        [(1, quote), (2, host), (3, "unrelated text entirely different")],
        "doc_id long, text string")
    sh = word_shingles(docs, "doc_id", "text", n=3, hashed=True)
    got = {(r.id_a, r.id_b): (r.containment, r.jaccard)
           for r in containment_pairs(sh).collect()}
    c, j = got[(1, 2)]
    assert c == 1.0          # every quote shingle inside the host
    assert j < 0.1           # symmetric metric misses the pair
    assert (1, 3) not in got and (2, 3) not in got


def test_semantic_dedup_keeps_one_representative(spark, sf_dir):
    """dedup_semantic: recompute the within-cluster near-dup graph in
    numpy and require (a) a vector is dropped iff it has a near-dup
    neighbor with a smaller id in ITS cluster, (b) the min id of every
    cluster is kept, and (c) at least one vector assigns to a DIFFERENT
    cluster than its source label (the learned assignment is not just
    label blocking)."""
    import numpy as np

    from data_ingestion_system_spark import registry
    from data_ingestion_system_spark.catalog import Catalog
    from data_ingestion_system_spark.operators.queries_dedup import (
        COSINE_NEAR_DUP,
    )

    sem = registry.queries()["dedup_semantic"](spark, sf_dir).collect()
    emb = {r["vec_id"]: (np.array(r["embedding"], dtype=np.float64),
                         r["label"])
           for r in Catalog(spark, sf_dir).embeddings.collect()}

    by_cluster = {}
    for r in sem:
        by_cluster.setdefault(r["cluster_id"], []).append(r["vec_id"])
    expected_drop = set()
    for ids in by_cluster.values():
        ids = sorted(ids)
        for j, b in enumerate(ids):
            vb = emb[b][0]
            for a in ids[:j]:
                va = emb[a][0]
                cos = float(va @ vb) / (np.linalg.norm(va)
                                        * np.linalg.norm(vb))
                if cos >= COSINE_NEAR_DUP:
                    expected_drop.add(b)
                    break

    dropped = {r["vec_id"] for r in sem if not r["keep"]}
    kept = {r["vec_id"] for r in sem if r["keep"]}
    assert dropped == expected_drop
    assert {min(ids) for ids in by_cluster.values()} <= kept
    # the coarse quantizer genuinely re-assigns some boundary vectors
    moved = [r["vec_id"] for r in sem
             if r["cluster_id"] != emb[r["vec_id"]][1]]
    assert moved, "assignment degenerated to label blocking"


# ---- tune_lsh: pure driver-side math, no Spark fixture needed ----

def test_tune_lsh_argmin_and_budget():
    """Returned (b, r) respects the permutation budget and is the true
    argmin of the exported error function over every valid pair."""
    for threshold, num_perm in [(0.5, 32), (0.8, 64), (0.3, 16)]:
        b, r = D.tune_lsh(threshold, num_perm)
        assert b >= 1 and r >= 1 and b * r <= num_perm
        err = D._lsh_error(threshold, b, r, 0.5, 0.5, 200)
        for bb in range(1, num_perm + 1):
            for rr in range(1, num_perm // bb + 1):
                assert err <= D._lsh_error(threshold, bb, rr, 0.5, 0.5, 200) + 1e-12


def test_tune_lsh_threshold_monotonicity():
    """Higher target thresholds need steeper curves: rows-per-band at
    t=0.9 strictly exceeds rows-per-band at t=0.2 (same budget)."""
    _, r_low = D.tune_lsh(0.2, 64)
    _, r_high = D.tune_lsh(0.9, 64)
    assert r_high > r_low


def test_tune_lsh_weights_shift_tradeoff():
    """Weighting FPs harder must not loosen the filter: candidate
    probability below the threshold can only drop (more precision)."""
    b_bal, r_bal = D.tune_lsh(0.5, 64, fp_weight=0.5, fn_weight=0.5)
    b_fp, r_fp = D.tune_lsh(0.5, 64, fp_weight=0.95, fn_weight=0.05)
    s = 0.3  # well below threshold
    assert (D.lsh_candidate_prob(s, b_fp, r_fp)
            <= D.lsh_candidate_prob(s, b_bal, r_bal) + 1e-12)


def test_tune_lsh_scurve_midpoint_near_threshold():
    """The (1/b)^(1/r) S-curve midpoint of the tuned params lands close
    to the requested threshold (within 0.15 at a 128-perm budget)."""
    for t in (0.4, 0.5, 0.7):
        b, r = D.tune_lsh(t, 128)
        midpoint = (1.0 / b) ** (1.0 / r)
        assert abs(midpoint - t) < 0.15


def test_tune_lsh_validates_inputs():
    import pytest
    with pytest.raises(ValueError):
        D.tune_lsh(0.0, 32)
    with pytest.raises(ValueError):
        D.tune_lsh(1.0, 32)
    with pytest.raises(ValueError):
        D.tune_lsh(0.5, 0)


def test_canonical_pick_replays_in_python(spark):
    """dedup_canonical_pick's survivor per cluster equals a pure-Python
    replay of the rule (max n_chars, ties to min doc_id) over the same
    cluster labels, and the rollup fields are internally consistent."""
    from data_ingestion_system_spark.catalog import Catalog
    from data_ingestion_system_spark.operators.queries_dedup import (
        JACCARD_THRESHOLD, dedup_canonical_pick)

    sf = "/root/testdata/sf0.001"
    got = {r.cluster_id: r for r in dedup_canonical_pick(spark, sf).collect()}

    sh = D.word_shingles(Catalog(spark, sf).documents,
                         "doc_id", "text", n=3, hashed=True)
    pairs = D.jaccard_pairs(sh).filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    lab = {r.node: r.cluster_id
           for r in D.connected_components(pairs).collect()}
    chars = {r.doc_id: r.n_chars
             for r in Catalog(spark, sf).documents
             .select("doc_id", "n_chars").collect()}

    by_cluster: dict[int, list[int]] = {}
    for doc, c in lab.items():
        by_cluster.setdefault(c, []).append(doc)
    assert set(got) == set(by_cluster)
    for c, members in by_cluster.items():
        want = min(members, key=lambda d: (-chars[d], d))
        row = got[c]
        assert row.canonical_doc_id == want
        assert row.canonical_chars == chars[want]
        assert row.n_members == len(members)
        assert row.total_chars == sum(chars[d] for d in members)
        assert row.n_members >= 2  # singletons never reach the pair graph


def test_bloom_prefilter_no_false_negatives_and_low_fpr(spark, sf_dir):
    """Bloom ingest prefilter: the maybe-seen candidate set contains
    EVERY truly-seen doc (no false negatives — membership bits were all
    set at build), its false-positive rate on never-seen docs stays
    under 1% at fixture scale, and the bitmap relation respects the m/64
    word bound."""
    from data_ingestion_system_spark.catalog import Catalog
    from data_ingestion_system_spark.operators.dedup import (
        bloom_bit_words,
        bloom_maybe_seen,
    )
    from data_ingestion_system_spark.operators.text import fingerprint_md5

    M, K = 1 << 22, 7
    docs = Catalog(spark, sf_dir).documents
    hist = docs.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id", fingerprint_md5(F.col("text")).alias("fp"))
    inc = docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", fingerprint_md5(F.col("text")).alias("fp"))

    words = bloom_bit_words(hist, "fp", M, K)
    assert words.count() <= M // 64

    cand = {r.doc_id for r in
            bloom_maybe_seen(inc, words, "doc_id", "fp", M, K).collect()}
    seen = {r.doc_id for r in inc.join(hist.select("fp"), "fp").collect()}
    assert seen, "fixture has no already-ingested overlap"
    assert seen <= cand, "bloom dropped a true member (false negative)"
    fresh = {r.doc_id for r in inc.collect()} - seen
    fpr = len(cand - seen) / max(1, len(fresh))
    assert fpr < 0.01, f"false-positive rate {fpr:.3f}"


def test_bloom_query_matches_plain_join(spark, sf_dir):
    """dedup_bloom_ingest == the exact fingerprint join (the oracle's
    claim, checked in-engine too), and the bitmap probe is a broadcast
    join — incoming rows never shuffle for the membership test."""
    import __spark_entry__ as entrymod

    from data_ingestion_system_spark.catalog import Catalog
    from data_ingestion_system_spark.operators.text import fingerprint_md5

    df = entrymod.queries()["dedup_bloom_ingest"](spark, sf_dir)
    got = {(r.doc_id, r.matched_id) for r in df.collect()}

    docs = Catalog(spark, sf_dir).documents
    fp = fingerprint_md5(F.col("text"))
    hist = (docs.filter(F.col("doc_id") % 3 == 0)
            .select(fp.alias("fp"), "doc_id")
            .groupBy("fp").agg(F.min("doc_id").alias("matched_id")))
    want = {(r.doc_id, r.matched_id) for r in
            docs.filter(F.col("doc_id") % 2 == 0)
            .select("doc_id", fp.alias("fp")).join(hist, "fp").collect()}
    assert got == want and got

    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_leakage_safe_split_never_straddles_clusters(spark, sf_dir):
    """Every near-dup pair (the query's own pair graph) lands in ONE
    split, proportions are hash-balanced, and every doc is assigned."""
    import __spark_entry__ as entrymod

    from data_ingestion_system_spark.catalog import Catalog
    from data_ingestion_system_spark.operators.dedup import (
        jaccard_pairs,
        word_shingles,
    )

    rows = entrymod.queries()["dedup_leakage_safe_split"](
        spark, sf_dir).collect()
    split_of = {r.doc_id: r.split for r in rows}
    cluster_of = {r.doc_id: r.cluster_id for r in rows}
    docs = Catalog(spark, sf_dir).documents
    assert len(split_of) == docs.count()

    sh = word_shingles(docs, "doc_id", "text", n=3, hashed=True)
    pairs = [(r.id_a, r.id_b) for r in
             jaccard_pairs(sh).filter(F.col("jaccard") >= 0.5).collect()]
    assert pairs, "fixture has no near-dup pairs"
    for a, b in pairs:
        assert split_of[a] == split_of[b], f"pair ({a},{b}) straddles splits"
        assert cluster_of[a] == cluster_of[b]
    from collections import Counter

    frac = Counter(split_of.values())
    assert frac["train"] > frac["valid"] and frac["train"] > frac["test"]


def test_jaccard_pair_budget_gate(spark):
    """r8: the pair_budget gate on the exact common-shingle join.

    Under budget the exact path runs unchanged; over budget the query
    warns LOUDLY and switches to MinHash-LSH candidates — every
    emitted row must carry the pair's EXACT full Jaccard (identical to
    the exact path's row for that pair), and a planted dup clique of
    identical copies must come back as its COMPLETE pair closure
    (identical docs collide in every band, so LSH recall on cliques
    is 1) — connectivity with room to spare.
    """
    import warnings

    # 3 cliques x 8 copies: every shingle is clique-hot (occ 8), so the
    # mass (3 shingle-groups x C(8,2) x shingles/doc) trips a budget of 50
    rows = []
    for c in range(3):
        text = " ".join(f"c{c}tok{j}" for j in range(12))
        for m in range(8):
            rows.append((c * 100 + m, text))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sh = D.word_shingles(df, "doc_id", "text", n=3, hashed=True)

    exact = {(r.id_a, r.id_b): r.jaccard
             for r in D.jaccard_pairs(sh).collect()}

    # under budget: byte-identical output, no warning
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        # collect()'s result socket is left to GC by PySpark
        # (pyspark/util.py::_load_from_socket), not by the engine
        warnings.filterwarnings("ignore", category=ResourceWarning)
        under = {(r.id_a, r.id_b): r.jaccard
                 for r in D.jaccard_pairs(sh, pair_budget=10**9).collect()}
    assert under == exact

    # over budget: loud switch, LSH-candidate output
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        lsh_df = D.jaccard_pairs(sh, pair_budget=50)
        assert any("pair_budget" in str(x.message) for x in w)
    lsh = {(r.id_a, r.id_b): r.jaccard for r in lsh_df.collect()}
    # every LSH row is a true pair with the exact path's jaccard
    for pair, j in lsh.items():
        assert pair in exact and abs(j - exact[pair]) < 1e-12
    # identical copies collide in every band: each 8-copy clique comes
    # back as its COMPLETE C(8,2) closure, and nothing crosses cliques
    assert lsh == exact


def _text_gate(spark):
    sh = D.word_shingles(_corpus(spark), "doc_id", "text", n=3, hashed=True)
    return lambda key: D.jaccard_pairs(sh, pair_budget=10**9, mass_key=key)


def _media_gate(spark):
    import numpy as np

    from data_ingestion_system_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        media_features,
        near_dup_pairs,
    )

    rng = np.random.default_rng(5)
    blobs = [rng.integers(0, 256, 2048, dtype=np.uint8).tobytes()
             for _ in range(12)]
    blobs += [blobs[0], blobs[1]]  # byte-identical dups of ids 0 and 1
    feats = media_features(spark.createDataFrame(
        [(i, ("image", "audio", "video")[i % 3], b, (None,) * 5)
         for i, b in enumerate(blobs)], MEDIA_SCHEMA))
    return lambda key: near_dup_pairs(feats, threshold=0.999,
                                      pair_budget=10**9, mass_key=key)


@pytest.mark.parametrize("gate", [_text_gate, _media_gate],
                         ids=["text", "media"])
def test_jaccard_mass_memoized_per_session(spark, gate):
    """With ``mass_key`` set, a pair-budget gate's eager candidate-mass
    pre-pass runs ONCE per (application, key) — later builds with the
    same key reuse the memoized mass instead of re-measuring.  Both
    gates: the text one (``jaccard_pairs``) and the media one
    (``near_dup_pairs``).

    Proven behaviorally, not by timing: after the first build memoizes
    the true (tiny) mass, its memo slot is overwritten with a huge
    sentinel — if a second build re-measured, it would see the true
    mass and stay on the exact path; instead it must trust the memo
    and take the gated path (loud warning).  After memo.clear() it
    re-measures and runs exact again.  Every gated row is a true pair
    with the exact path's score (jaccard or cosine, the last column).
    """
    import warnings

    from data_ingestion_system_spark.plans import memo

    build = gate(spark)
    key = ("test-memo", gate.__name__)

    def scored(df):
        return {(r.id_a, r.id_b): r[-1] for r in df.collect()}

    memo.clear()
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # under budget: exact, silent
        # PySpark leaves collect()'s result socket to GC
        warnings.filterwarnings("ignore", category=ResourceWarning)
        first = build(key)
    (slot,) = memo._CACHE  # the first build memoized its mass
    exact = scored(first)
    assert exact

    # poison the slot: a re-measure would restore the true tiny mass
    memo._CACHE[slot] = float(10**12)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        gated = build(key)
        assert any("pair_budget" in str(x.message) for x in w), \
            "second build must USE the memoized mass, not re-measure"
    for pair, score in scored(gated).items():
        assert pair in exact and abs(score - exact[pair]) < 1e-12

    memo.clear()
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # re-measured: exact again
        warnings.filterwarnings("ignore", category=ResourceWarning)
        again = build(key)
    assert list(memo._CACHE) == [slot]
    assert scored(again) == exact
    memo.clear()


def test_cdc_chunks_realign_after_insert(spark):
    """The CDC property fixed windows lack: insert ONE token mid-doc
    and the chunking re-aligns — every chunk strictly after the edited
    chunk is byte-identical between the two versions, so a chunk-level
    store dedups the unchanged tail.  Fixed 8-token windows would shift
    every post-edit window and share nothing."""
    from data_ingestion_system_spark.operators.dedup import cdc_chunks

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon phi chi psi "
            "omega aa bb cc dd ee ff gg hh ii jj kk ll mm nn oo pp")
    w = base.split()
    edited = " ".join(w[:18] + ["INSERTED"] + w[18:])
    docs = spark.createDataFrame(
        [(1, base), (2, edited)], "doc_id long, text string")
    rows = cdc_chunks(docs).collect()
    c1 = [r.chunk for r in rows if r.doc_id == 1]
    c2 = [r.chunk for r in rows if r.doc_id == 2]
    assert " ".join(c1).split() == [t.lower() for t in base.split()]
    assert " ".join(c2).split() == [t.lower() for t in edited.split()]
    shared = set(c1) & set(c2)
    # the edit perturbs at most the chunks overlapping the insertion
    # point; everything before AND after must re-align and dedup
    assert len(shared) >= max(len(c1) - 2, 1), (c1, c2)
    # and the two docs are NOT identical chunkings (the edit is real)
    assert c1 != c2


def test_cdc_chunks_cover_and_match_boundary_rule(spark):
    """Chunks partition the token stream in order (concatenation
    restores the doc) and every non-final chunk ends on a boundary
    token (md5 last hex digit in {0,1}) while containing none before
    its last position — the content-defined invariant."""
    import hashlib

    from data_ingestion_system_spark.operators.dedup import cdc_chunks

    text = ("the quick brown fox jumps over the lazy dog again and "
            "again with many more filler tokens to cross several "
            "boundaries one two three four five six seven eight nine")
    docs = spark.createDataFrame([(7, text)], "doc_id long, text string")
    chunks = [r.chunk for r in cdc_chunks(docs).collect()]

    def is_boundary(tok: str) -> bool:
        return hashlib.md5(tok.encode()).hexdigest()[-1] in "01"

    assert " ".join(chunks).split() == text.lower().split()
    for c in chunks[:-1]:
        toks = c.split()
        assert is_boundary(toks[-1]), c
        assert not any(is_boundary(t) for t in toks[:-1]), c
