"""Similarity-search tests: LSH recall against the exact top-k."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_ingestion_system_spark.operators.similarity import (
    srp_buckets_udf,
    topk_bruteforce,
    topk_lsh,
)


def _load(spark, sf_dir):
    from data_ingestion_system_spark.catalog import Catalog

    cat = Catalog(spark, sf_dir)
    corpus = cat.embeddings.select("vec_id", "embedding")
    queries = cat.embeddings.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    return corpus, queries


def test_bruteforce_topk_shape(spark, sf_dir):
    corpus, queries = _load(spark, sf_dir)
    got = topk_bruteforce(corpus, queries, k=10).collect()
    assert len(got) == 50  # 5 queries x 10
    by_q = {}
    for r in got:
        by_q.setdefault(r.qid, []).append(r)
    for q, rows in by_q.items():
        ranks = sorted(r.rnk for r in rows)
        assert ranks == list(range(1, 11))
        cosines = [r.cosine for r in sorted(rows, key=lambda r: r.rnk)]
        assert cosines == sorted(cosines, reverse=True)
        assert all(r.vec_id != q for r in rows)


def test_lsh_bucket_determinism(spark, sf_dir):
    corpus, _ = _load(spark, sf_dir)
    b = srp_buckets_udf()
    one = corpus.withColumn("bucket", b(F.col("embedding"))).collect()
    two = corpus.withColumn("bucket", b(F.col("embedding"))).collect()
    assert {r.vec_id: r.bucket for r in one} == {r.vec_id: r.bucket for r in two}


def test_ivf_recall_and_validity(spark, sf_dir):
    from data_ingestion_system_spark.catalog import Catalog
    from data_ingestion_system_spark.operators.similarity import (
        label_centroids,
        topk_ivf,
    )

    cat = Catalog(spark, sf_dir)
    corpus, queries = _load(spark, sf_dir)
    cents = label_centroids(cat.embeddings.select("label", "embedding"))
    exact = topk_bruteforce(corpus, queries, k=10).collect()
    ann = topk_ivf(corpus, cents, queries, k=10, nprobe=2).collect()

    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.qid, set()).add(r.vec_id)
    for r in ann:
        assert r.vec_id != r.qid
    by_q = {}
    for r in ann:
        by_q.setdefault(r.qid, []).append(r)
    for q, rows in by_q.items():
        assert sorted(r.rnk for r in rows) == list(range(1, len(rows) + 1))
    # probing 2 of the lists must recover some of the exact top-10
    hits = sum(1 for r in ann if r.vec_id in exact_sets.get(r.qid, set()))
    assert hits >= 5, f"IVF recovered only {hits} exact top-10 members"


def test_lsh_results_subset_and_overlap(spark, sf_dir):
    corpus, queries = _load(spark, sf_dir)
    exact = topk_bruteforce(corpus, queries, k=10).collect()
    ann = topk_lsh(corpus, queries, k=10).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.qid, set()).add(r.vec_id)
    # ANN returns valid neighbors (never the query itself), ranked correctly
    for r in ann:
        assert r.vec_id != r.qid
    # same-bucket-as-query top-1 should usually be in the exact top-10;
    # random near-orthogonal fixture => assert weak overlap, not equality
    top1 = {r.qid: r.vec_id for r in ann if r.rnk == 1}
    hits = sum(1 for q, v in top1.items() if v in exact_sets.get(q, set()))
    assert hits >= 1, f"ANN top-1 never overlapped exact top-10 ({top1})"


def test_pq_adc_recall_and_validity(spark, sf_dir):
    """PQ-ADC with exact re-rank: every returned neighbor is a real
    corpus vector (never the query itself), per-query results are ranked
    1..10 by true cosine, and recall@10 vs brute force clears 0.6 — the
    compressed-domain shortlist plus re-rank recovers most of the exact
    top-k despite 64x code compression."""
    from data_ingestion_system_spark.operators.similarity import topk_pq

    corpus, queries = _load(spark, sf_dir)
    exact = topk_bruteforce(corpus, queries, k=10).collect()
    ann = topk_pq(corpus, queries, k=10, shortlist=50).collect()

    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.qid, set()).add(r.vec_id)
    by_q = {}
    for r in ann:
        assert r.vec_id != r.qid
        by_q.setdefault(r.qid, []).append(r)
    assert set(by_q) == set(exact_sets)
    hits = total = 0
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in rows] == list(range(1, len(rows) + 1))
        cos = [r.cosine for r in rows]
        assert cos == sorted(cos, reverse=True)
        hits += len({r.vec_id for r in rows} & exact_sets[qid])
        total += len(exact_sets[qid])
    assert hits / total >= 0.6, f"recall@10 {hits}/{total}"


def test_pq_codebook_deterministic(spark, sf_dir):
    """Same corpus -> bit-identical codebook (seeded sample + fixed
    iterations), so PQ results are reproducible run to run."""
    import numpy as np

    from data_ingestion_system_spark.operators.similarity import train_pq_codebook

    corpus, _ = _load(spark, sf_dir)
    a = train_pq_codebook(corpus)
    b = train_pq_codebook(corpus)
    assert a.shape[0] == 8 and a.shape[1] == 32
    assert np.array_equal(a, b)


def test_ivf_pq_recall_vs_ivf(spark, sf_dir):
    """The composed IVF+PQ stack returns valid ranked results whose
    recall@10 tracks plain IVF (the PQ shortlist+re-rank may lose only a
    little on top of the probe's own recall)."""
    from data_ingestion_system_spark.catalog import Catalog
    from data_ingestion_system_spark.operators.similarity import (
        label_centroids,
        topk_ivf,
        topk_ivf_pq,
    )

    cat = Catalog(spark, sf_dir)
    corpus, queries = _load(spark, sf_dir)
    cents = label_centroids(cat.embeddings.select("label", "embedding"))
    exact = topk_bruteforce(corpus, queries, k=10).collect()
    ivf = topk_ivf(corpus, cents, queries, k=10, nprobe=2).collect()
    ivfpq = topk_ivf_pq(corpus, cents, queries, k=10, nprobe=2,
                        shortlist=50).collect()

    def recall(rows):
        exact_sets, hit, tot = {}, 0, 0
        for r in exact:
            exact_sets.setdefault(r.qid, set()).add(r.vec_id)
        got = {}
        for r in rows:
            assert r.vec_id != r.qid
            got.setdefault(r.qid, set()).add(r.vec_id)
        for qid, s in exact_sets.items():
            hit += len(s & got.get(qid, set()))
            tot += len(s)
        return hit / tot

    r_ivf, r_ivfpq = recall(ivf), recall(ivfpq)
    # the probe stage bounds recall for both (the fixture's random
    # near-orthogonal vectors make nprobe=2 inherently lossy — same bar
    # the plain-IVF test uses); PQ shortlist+re-rank may cost a little
    # extra on top, never most of it
    assert r_ivfpq >= r_ivf - 0.15, (r_ivf, r_ivfpq)
    assert r_ivfpq >= 0.2, (r_ivf, r_ivfpq)


def test_hard_negatives_exclude_query_label(spark, sf_dir):
    """Every mined hard negative has a label different from its query's,
    ranks descend by cosine, and each ranked list is exactly k deep."""
    import __spark_entry__ as entrymod

    from data_ingestion_system_spark.catalog import Catalog

    rows = entrymod.queries()["sim_hard_negatives"](spark, sf_dir).collect()
    qlabel = {r.vec_id: r.label for r in
              Catalog(spark, sf_dir).embeddings
              .filter(F.col("vec_id") < 5).collect()}
    by_q = {}
    for r in rows:
        assert r.neg_label != qlabel[r.qid], "negative shares query label"
        by_q.setdefault(r.qid, []).append((r.rnk, r.cosine))
    for q, lst in by_q.items():
        lst.sort()
        assert [rk for rk, _ in lst] == list(range(1, 6))
        cosines = [c for _, c in lst]
        assert cosines == sorted(cosines, reverse=True)


def test_progressive_tight_pass_matches_exact_topk(spark):
    """The tight (16-bit x 8-table) pass of the progressive pair search:
    on a corpus whose top-20 is a tie set of exactly-collinear profiles
    (the at-scale regime that short-circuits the dense pass), its
    top-20 equals the exact all-pairs answer — collinear profiles agree
    with every hyperplane, so tight recall is 1 for them by
    construction, which is precisely what the escalation guard relies
    on."""
    import itertools

    import numpy as np

    from data_ingestion_system_spark.operators.queries_similarity import (
        _topk_corr_pairs,
    )
    from data_ingestion_system_spark.operators.similarity import (
        srp_buckets_udf,
    )

    rng = np.random.default_rng(3)
    profiles = {}
    for i in range(25):                   # 25 collinear pairs (corr 1.0)
        base = rng.normal(size=24)
        base -= base.mean()
        profiles[2 * i] = base
        profiles[2 * i + 1] = 2.0 * base  # scaled => correlation exactly 1
    for u in range(50, 80):               # 30 unrelated users
        v = rng.normal(size=24)
        profiles[u] = v - v.mean()

    rows = [(int(u), [float(x) for x in v], float(np.linalg.norm(v)))
            for u, v in profiles.items()]
    nrm = spark.createDataFrame(
        rows, "user_id long, cv array<double>, n double")

    got = [(r.user_a, r.user_b, r.correlation)
           for r in _topk_corr_pairs(nrm, srp_buckets_udf,
                                     n_bits=16, n_tables=8).collect()]

    def corr(a, b):
        va, vb = profiles[a], profiles[b]
        return round(float(va @ vb / (np.linalg.norm(va)
                                      * np.linalg.norm(vb))), 6)

    exact = sorted(
        ((a, b, corr(a, b)) for a, b in
         itertools.combinations(sorted(profiles), 2) if corr(a, b) >= 0.25),
        key=lambda t: (-t[2], t[0], t[1]))[:20]
    assert got == exact
    assert len(got) == 20 and got[-1][2] == 1.0  # the guard regime


def test_progressive_gate_skips_tight_pass_below_min_users(spark, sf_dir):
    """Below _PROGRESSIVE_MIN_USERS the query must go straight to the
    dense config (the tight pass is pure overhead on corpora whose
    top-20 floor cannot clear the finality guard): the graded fixture
    sits under the gate, and its answer equals the dense single-pass
    run of the same profile relation."""
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F

    from data_ingestion_system_spark.catalog import Catalog
    from data_ingestion_system_spark.functions.vectors import dot
    from data_ingestion_system_spark.operators.queries_similarity import (
        _HOURS,
        _PROGRESSIVE_MIN_USERS,
        _topk_corr_pairs,
    )
    from data_ingestion_system_spark.operators.similarity import (
        srp_buckets_udf,
    )

    cat = Catalog(spark, sf_dir)
    n_users = cat.events.select("user_id").distinct().count()
    assert n_users < _PROGRESSIVE_MIN_USERS   # fixture is sub-gate

    got = [tuple(r) for r in entrymod.queries()["sim_user_timeseries"](
        spark, sf_dir).collect()]

    hours = [
        F.coalesce(F.avg(F.when(F.hour("ts") == h, F.col("value"))),
                   F.lit(0.0)).alias(f"h{h}") for h in _HOURS]
    hv = F.array(*[F.col(f"h{h}") for h in _HOURS])
    mu = dot(F.col("hv"), F.array_repeat(F.lit(1.0), 24)) / 24.0
    vec = cat.events.groupBy("user_id").agg(*hours).select(
        "user_id", hv.alias("hv"))
    cent = vec.select("user_id", F.transform("hv", lambda x: x - mu)
                      .alias("cv"))
    nrm = cent.select("user_id", "cv",
                      F.sqrt(dot(F.col("cv"), F.col("cv"))).alias("n")) \
        .filter(F.col("n") > 0)
    dense = [tuple(r) for r in _topk_corr_pairs(
        nrm, srp_buckets_udf, n_bits=4, n_tables=16).collect()]
    assert got == dense


def test_hamming_topk_shape_and_recall(spark, sf_dir):
    """Binary-quantization ANN: valid per-query top-10 (no self, ranks
    1..10, cosine-sorted) and non-trivial recall vs exact brute force —
    sign bits keep enough geometry on the fixture corpus that the
    50-candidate Hamming shortlist recovers a meaningful share of the
    true top-10."""
    from data_ingestion_system_spark.operators.queries_similarity import (
        sim_topk_hamming,
    )

    got = sim_topk_hamming(spark, sf_dir).collect()
    assert len(got) == 50
    by_q = {}
    for r in got:
        by_q.setdefault(r.qid, []).append(r)
    for q, rows in by_q.items():
        assert sorted(r.rnk for r in rows) == list(range(1, 11))
        cosines = [r.cosine for r in sorted(rows, key=lambda r: r.rnk)]
        assert cosines == sorted(cosines, reverse=True)
        assert all(r.vec_id != q for r in rows)
        assert all(0 <= r.hamming <= 64 for r in rows)

    corpus, queries = _load(spark, sf_dir)
    exact = {(r.qid, r.vec_id)
             for r in topk_bruteforce(corpus, queries, k=10).collect()}
    approx = {(r.qid, r.vec_id) for r in got}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.2, f"hamming recall {recall} collapsed"


def test_hamming_codes_pack_sign_bits(spark, sf_dir):
    """The packed halves reproduce the per-component sign test exactly:
    unpacking bit i of (lo, hi) equals embedding[i] > 0 for every
    vector — the integer path is the float sign structure, losslessly."""
    from data_ingestion_system_spark.operators.queries_similarity import (
        _bq_half,
    )

    corpus, _ = _load(spark, sf_dir)
    rows = (corpus.limit(20)
            .select("vec_id", "embedding",
                    _bq_half("embedding", 0).alias("lo"),
                    _bq_half("embedding", 32).alias("hi"))
            .collect())
    assert rows
    for r in rows:
        for i in range(64):
            half, bit = (r.lo, i) if i < 32 else (r.hi, i - 32)
            assert bool((half >> bit) & 1) == (r.embedding[i] > 0), \
                f"vec {r.vec_id} bit {i}"


def test_ivf_recall_curve_monotone(spark, sf_dir):
    """More probes can only widen the candidate set: n_candidates and
    n_hits are non-decreasing in nprobe, recall_micro is exactly
    n_hits * 20000, and nprobe=max covers at least nprobe=1's hits."""
    from data_ingestion_system_spark.operators.queries_similarity import (
        sim_ivf_recall_curve,
    )

    rows = sorted(sim_ivf_recall_curve(spark, sf_dir).collect(),
                  key=lambda r: r.nprobe)
    assert [r.nprobe for r in rows] == [1, 2, 4]
    for r in rows:
        assert r.recall_micro == r.n_hits * 20000
        assert 0 <= r.n_hits <= 50
    for a, b in zip(rows, rows[1:]):
        assert b.n_candidates >= a.n_candidates
        assert b.n_hits >= a.n_hits


def test_quantize_error_sweep_monotone(spark, sf_dir):
    """More bits can only shrink error: mean and worst per-vector
    roundtrip error strictly decrease from int4 to int8, every error
    respects the scale/2 bound implied by its width, and the int8
    row agrees with emb_quantize_roundtrip's per-vector maxima."""
    from data_ingestion_system_spark.operators.queries_similarity import (
        emb_quantize_error_sweep,
        emb_quantize_roundtrip,
    )

    rows = sorted(emb_quantize_error_sweep(spark, sf_dir).collect(),
                  key=lambda r: r.bits)
    assert [r.bits for r in rows] == [4, 6, 8]
    for a, b in zip(rows, rows[1:]):
        assert b.mean_max_err < a.mean_max_err
        assert b.worst_err < a.worst_err
        assert a.n_vectors == b.n_vectors
    worst8 = max(r.max_abs_err for r in
                 emb_quantize_roundtrip(spark, sf_dir).collect())
    assert abs(rows[2].worst_err - worst8) < 1e-5
