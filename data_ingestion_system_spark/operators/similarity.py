"""Similarity search over an embedding column (north-star ops).

Every vector top-k path is a filter-and-refine pair: a **candidate
generator** that decides which (query, vector) pairs get scored, then
ONE shared refine step, ``exact_rerank`` — exact cosine in codegen
(``query_cosine``) and the one per-query rank (``rank_per_query``:
``row_number`` over ``qid`` by score, ties on ascending ``vec_id``).
Each generator also drops the query itself (``vec_id != qid``).

Candidate generators:

* **brute force** — broadcast the (small) query set against every
  vector: one scan, no shuffle of the corpus.  Exact; cost linear in
  corpus x queries.  The right answer when the query set is small,
  even at 100 TB (the scan is embarrassingly parallel).
* **IVF** — coarse-quantize the corpus into inverted lists (map-only
  Arrow assign) and score only each query's ``nprobe`` nearest lists
  (``ivf_probes``), a broadcast equi-join on the list id.
* **multi-table SRP-LSH** — L sign-random-projection hash tables of b
  bits each, computed in ONE vectorized Pandas UDF (a single numpy
  matmul per Arrow batch against the stacked ``L*b x dim`` plane
  matrix); candidates = union over tables of the query's bucket,
  deduped.  The 100 TB path when the query set is large: the (table,
  bucket) equi-join with the broadcast query side replaces the cross
  product.  More tables -> higher recall, more candidates; more bits ->
  smaller buckets.  A per-vector collision with a true neighbor at
  angle theta happens with probability 1-(1-(1-theta/pi)^b)^L.
* **PQ / IVF-PQ** — score pairs in the compressed domain (ADC over
  40-bit codes), cut a per-query shortlist with the same rank, and
  rerank only the shortlist against the raw vectors
  (``rerank_shortlist``).

The hyperplanes and codebooks are derived deterministically (seeded
RNG, fixed init) so results are reproducible run to run.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_ingestion_system_spark.functions.vectors import cosine_fixed

DIM = 64
N_BITS = 8
N_TABLES = 8
SEED = 42


def _hyperplanes(dim: int = DIM, n_bits: int = N_BITS, n_tables: int = N_TABLES) -> np.ndarray:
    """(n_tables * n_bits, dim) stacked plane matrix, deterministic."""
    return np.random.default_rng(SEED).standard_normal((n_tables * n_bits, dim))


def srp_buckets_udf(dim: int = DIM, n_bits: int = N_BITS, n_tables: int = N_TABLES):
    """Pandas UDF: array of L bucket ids (one per hash table) per embedding.

    One numpy matmul over each Arrow batch covers ALL tables — the
    vectorized (not per-row) Python path; planes ship in the closure
    once per executor."""
    planes = _hyperplanes(dim, n_bits, n_tables)
    weights = (1 << np.arange(n_bits)).astype(np.int64)

    @F.pandas_udf("array<long>")
    def buckets(emb: pd.Series) -> pd.Series:
        mat = np.vstack(emb.to_numpy())                    # (batch, dim)
        bits = (mat @ planes.T) > 0                        # (batch, L*b)
        bits = bits.reshape(len(mat), n_tables, n_bits)    # (batch, L, b)
        ids = bits @ weights                               # (batch, L)
        return pd.Series(list(ids))

    return buckets


def query_cosine(dim: int = DIM) -> Column:
    """Exact cosine of each candidate's query vector ``qv`` against its
    ``embedding`` over the first ``dim`` components (codegen'd, see
    functions/vectors.py::cosine_fixed)."""
    return cosine_fixed("qv", "embedding", dim)


def rank_per_query(scored: DataFrame, score: Column | str, k: int) -> DataFrame:
    """The one per-query top-k cut: ``rnk`` = row_number over ``qid``
    ordered by ``score``, then ascending ``vec_id`` (the tie-break every
    path shares), kept where ``rnk <= k``."""
    w = Window.partitionBy("qid").orderBy(score, "vec_id")
    return (scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k))


def exact_rerank(cand: DataFrame, k: int, *cols, dim: int = DIM) -> DataFrame:
    """The refine step of every vector top-k path: exact cosine over the
    candidate (qid, qv) x (vec_id, embedding) rows, the per-query rank,
    then ``qid, vec_id, *cols, cosine, rnk``."""
    scored = cand.withColumn("cos_raw", query_cosine(dim))
    return (rank_per_query(scored, F.col("cos_raw").desc(), k)
            .select("qid", "vec_id", *cols,
                    F.round("cos_raw", 6).alias("cosine"), "rnk"))


def rerank_shortlist(short: DataFrame, corpus: DataFrame, queries: DataFrame,
                     k: int, *cols) -> DataFrame:
    """Exact rerank of a per-query (qid, vec_id, *cols) shortlist: the
    vec_id-keyed join back to the raw vectors, then the broadcast query
    side, so only shortlist rows ever touch a full embedding."""
    return exact_rerank(
        short.join(corpus.select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(queries), "qid"), k, *cols)


def topk_bruteforce(corpus: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Exact cosine top-k: broadcast queries x full corpus, window rank.

    corpus: (vec_id, embedding); queries: (qid, qv).
    """
    return exact_rerank(corpus.crossJoin(F.broadcast(queries))
                        .filter(F.col("vec_id") != F.col("qid")), k)


def ivf_assign_udf(centroids: np.ndarray, nprobe: int = 1):
    """Pandas UDF: indices of the ``nprobe`` nearest centroids (by cosine)
    per embedding.  The codebook rides in the closure — in IVF the coarse
    quantizer is metadata, kept in memory everywhere (faiss does the
    same), so assignment is a map-only pass with one numpy matmul per
    Arrow batch."""
    cn = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)

    @F.pandas_udf("array<int>")
    def assign(emb: pd.Series) -> pd.Series:
        mat = np.vstack(emb.to_numpy()).astype(np.float64)
        mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        sims = mat @ cn.T                               # (batch, n_centroids)
        top = np.argsort(-sims, axis=1)[:, :nprobe]     # stable argmax order
        return pd.Series([row.tolist() for row in top])

    return assign


def label_centroids(corpus_with_label: DataFrame) -> np.ndarray:
    """Coarse codebook: per-label mean embedding, as a (n_labels, dim)
    numpy array ordered by label.  Stand-in for a k-means pass — one
    aggregation over the corpus either way; the codebook itself is tiny
    and driver-resident by design."""
    rows = (
        corpus_with_label.groupBy("label")
        .agg(F.expr("array(" + ", ".join(
            f"avg(CAST(embedding[{i}] AS DOUBLE))" for i in range(DIM))
            + ")").alias("centroid"))
        .orderBy("label")
        .collect()
    )
    return np.array([r.centroid for r in rows])


def ivf_probes(queries: DataFrame, centroids: np.ndarray,
               nprobe: int) -> DataFrame:
    """(qid, qv, cid): each query against its ``nprobe`` nearest lists."""
    return queries.withColumn(
        "cids", ivf_assign_udf(centroids, nprobe)(F.col("qv"))
    ).select("qid", "qv", F.explode("cids").alias("cid"))


def topk_ivf(corpus: DataFrame, centroids: np.ndarray, queries: DataFrame,
             k: int = 10, nprobe: int = 2) -> DataFrame:
    """IVF-style ANN: coarse-quantize the corpus into inverted lists
    (map-only UDF assign, no shuffle), probe each query's ``nprobe``
    nearest lists, exact cosine + top-k on the probed candidates only.
    The corpus⋈probe equi-join on the list id replaces the cross product;
    candidates per query ≈ nprobe/n_lists of the corpus."""
    assigned = corpus.withColumn(
        "cid", ivf_assign_udf(centroids, 1)(F.col("embedding"))[0]
    )
    return exact_rerank(
        assigned.join(F.broadcast(ivf_probes(queries, centroids, nprobe)), "cid")
        .filter(F.col("vec_id") != F.col("qid")), k)


def topk_lsh(corpus: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """ANN top-k: candidates = union of the query's bucket across L tables.

    Plan shape: map-only bucket pass on the corpus -> posexplode to
    (tbl, bucket) -> equi-join with the broadcast query side -> dedup
    (qid, vec_id) -> exact cosine + window rank on candidates only.
    """
    buckets = srp_buckets_udf()
    cb = corpus.withColumn("b", buckets(F.col("embedding"))).select(
        "vec_id", "embedding", F.posexplode("b").alias("tbl", "bucket")
    )
    qb = queries.withColumn("b", buckets(F.col("qv"))).select(
        "qid", "qv", F.posexplode("b").alias("tbl", "bucket")
    )
    cand = (
        cb.join(F.broadcast(qb), ["tbl", "bucket"])
        .filter(F.col("vec_id") != F.col("qid"))
        .dropDuplicates(["qid", "vec_id"])
    )
    return exact_rerank(cand, k)


# ---------------------------------------------------------------------------
# Product quantization (PQ) + asymmetric distance computation (ADC)

PQ_M = 8          # subspaces
PQ_KS = 32        # centroids per subspace -> 5 bits; 8 codes = 40 bits/vector
PQ_SAMPLE = 2048  # training sample (driver-resident, like faiss train())
PQ_ITERS = 10


def train_pq_codebook(corpus: DataFrame, dim: int = DIM,
                      m: int = PQ_M, ks: int = PQ_KS) -> np.ndarray:
    """(m, ks, dim//m) codebook via per-subspace k-means on a
    deterministic corpus sample.

    PQ training mirrors faiss: the codebook is METADATA, trained on a
    small sample driver-side and shipped to executors in a closure —
    at 100 TB the sample stays a few thousand rows (one cheap
    head-scan), while encoding and scoring remain map-only passes over
    the full corpus.  Deterministic init (the first ``ks`` sample rows
    per subspace — the sample is already an arbitrary slice of the
    corpus, so slicing it again loses nothing) + fixed iteration count
    make the codebook bit-reproducible AND exactly replayable by the
    SQL oracle (a seeded numpy ``rng.choice`` init would not be)."""
    rows = (corpus.select("vec_id", "embedding").orderBy("vec_id")
            .limit(PQ_SAMPLE).collect())
    x = np.array([r.embedding for r in rows], dtype=np.float64)
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    d_sub = dim // m
    books = []
    for j in range(m):
        sub = x[:, j * d_sub:(j + 1) * d_sub]
        cents = sub[:ks].copy()
        for _ in range(PQ_ITERS):
            # assign to nearest centroid (L2), then recenter
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            a = d2.argmin(axis=1)
            for c in range(ks):
                mask = a == c
                if mask.any():
                    cents[c] = sub[mask].mean(axis=0)
        books.append(cents)
    return np.stack(books)                     # (m, ks, d_sub)


def pq_encode_udf(codebook: np.ndarray):
    """Pandas UDF: embedding -> array of m codes.  One numpy pass per
    Arrow batch; vectors are L2-normalized first so ADC dot products
    approximate cosine."""
    m, ks, d_sub = codebook.shape

    @F.pandas_udf("array<int>")
    def encode(emb: pd.Series) -> pd.Series:
        mat = np.vstack(emb.to_numpy()).astype(np.float64)
        mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        codes = np.empty((len(mat), m), dtype=np.int64)
        for j in range(m):
            sub = mat[:, j * d_sub:(j + 1) * d_sub]
            d2 = ((sub[:, None, :] - codebook[j][None, :, :]) ** 2).sum(axis=2)
            codes[:, j] = d2.argmin(axis=1)
        return pd.Series([row.tolist() for row in codes])

    return encode


def pq_adc_score_at_udf(luts: np.ndarray):
    """Pandas UDF: (codes, qidx) -> ADC score against query ``qidx`` only.

    ADC: each query precomputes dot(q_sub, centroid) for every (subspace,
    centroid) pair — an (m, ks) table — and scoring a corpus vector is m
    table lookups + a sum over its 40-bit code.  The LUT stack rides in
    the closure (no LUT bytes on the wire), and each candidate row does
    O(m) work — the per-pair scorer for joins that already know which
    query a candidate belongs to (IVF probe output), vs
    ``pq_adc_score_all_udf`` whose O(n_q*m) per row is only right when
    every vector is scored against every query."""
    n_q, m, ks = luts.shape

    @F.pandas_udf("double")
    def score_at(codes: pd.Series, qidx: pd.Series) -> pd.Series:
        c = np.vstack(codes.to_numpy()).astype(np.int64)   # (batch, m)
        qi = qidx.to_numpy().astype(np.int64)              # (batch,)
        tot = np.zeros(len(c))
        for j in range(m):
            tot += luts[qi, j, c[:, j]]
        return pd.Series(tot)

    return score_at


def _pq_queries(queries: DataFrame, codebook: np.ndarray):
    """The driver-resident query set of the PQ paths, in qid order: its
    (qid, qv) rows, their (n_queries, m, ks) LUT stack, and the
    (qid, qv) frame the exact rerank broadcasts."""
    q_rows = sorted(((r[0], list(r[1]))
                     for r in queries.select("qid", "qv").collect()),
                    key=lambda r: r[0])
    m, ks, d_sub = codebook.shape
    luts = np.empty((len(q_rows), m, ks))
    for i, (_qid, qv) in enumerate(q_rows):
        q = np.asarray(qv, dtype=np.float64)
        q = q / max(np.linalg.norm(q), 1e-12)
        for j in range(m):
            luts[i, j] = codebook[j] @ q[j * d_sub:(j + 1) * d_sub]
    qv = queries.sparkSession.createDataFrame(
        q_rows, "qid long, qv array<double>")
    return q_rows, luts, qv


def pq_adc_score_all_udf(luts: np.ndarray):
    """Pandas UDF: codes -> ADC scores against EVERY query at once.

    The full (n_queries, m, ks) LUT stack rides in the closure — doubles
    for a few thousand queries are still well under broadcast scale — so
    the compressed scan is ONE pass over the codes producing all query
    scores per vector; no crossJoin, and no per-candidate LUT bytes on
    the wire (shipping the LUT as a join column costs n_corpus*m*ks
    doubles through Arrow — 64x the codes themselves)."""
    n_q, m, ks = luts.shape

    @F.pandas_udf("array<double>")
    def score_all(codes: pd.Series) -> pd.Series:
        c = np.vstack(codes.to_numpy()).astype(np.int64)       # (batch, m)
        tot = np.zeros((len(c), n_q))
        for j in range(m):
            # luts[:, j, :][:, c[:, j]] -> (n_q, batch): gather then sum
            tot += luts[:, j, c[:, j]].T
        return pd.Series(list(tot))

    return score_all


def topk_pq(corpus: DataFrame, queries: DataFrame, k: int = 10,
            shortlist: int = 50, codebook: np.ndarray | None = None) -> DataFrame:
    """PQ-ADC ANN: encode the corpus to 40-bit codes (map-only), score
    every (query, vector) pair in the compressed domain, take a
    per-query ADC shortlist, then re-rank ONLY the shortlist with exact
    cosine against the original embeddings.

    The two-stage shape is the scale story: stage 1 scans codes (64x
    smaller than raw vectors) in ONE map-only pass that emits all query
    scores per vector from closure-resident LUTs, stage 2 touches full
    vectors for shortlist*n_queries rows only."""
    if codebook is None:
        codebook = train_pq_codebook(corpus)
    q_rows, luts, qv = _pq_queries(queries, codebook)
    qid_arr = F.array(*[F.lit(qid) for qid, _ in q_rows])

    encoded = corpus.withColumn("codes", pq_encode_udf(codebook)(F.col("embedding")))
    adc = (
        encoded.select(
            "vec_id",
            F.posexplode(pq_adc_score_all_udf(luts)(F.col("codes")))
            .alias("qidx", "adc"))
        .withColumn("qid", qid_arr[F.col("qidx")])
        .filter(F.col("vec_id") != F.col("qid"))
    )
    short = (rank_per_query(adc, F.col("adc").desc(), shortlist)
             .select("qid", "vec_id"))
    return rerank_shortlist(short, corpus, qv, k)


def topk_ivf_pq(corpus: DataFrame, centroids: np.ndarray, queries: DataFrame,
                k: int = 10, nprobe: int = 2, shortlist: int = 50,
                codebook: np.ndarray | None = None) -> DataFrame:
    """Composed IVF+PQ ANN — the full 100 TB retrieval stack: the coarse
    quantizer prunes WHICH vectors are scored (nprobe inverted lists per
    query, sub-linear candidate count), PQ-ADC prunes WHAT is read per
    scored vector (40-bit codes, not 512-byte embeddings), and the exact
    cosine re-rank touches raw vectors only for the shortlist.  This is
    the faiss IVFPQ layout expressed as DataFrame ops: list assignment
    and encoding are one map-only pass each, the probe is a broadcast
    equi-join on the list id, and every stage after the probe works on
    candidate-sized data."""
    if codebook is None:
        codebook = train_pq_codebook(corpus)
    q_rows, luts, qv = _pq_queries(queries, codebook)
    qid_of_idx = {qid: i for i, (qid, _) in enumerate(q_rows)}

    assigned = corpus.withColumn(
        "cid", ivf_assign_udf(centroids, 1)(F.col("embedding"))[0]
    ).withColumn("codes", pq_encode_udf(codebook)(F.col("embedding")))

    probes = ivf_probes(queries, centroids, nprobe).select("qid", "cid")
    # qid -> LUT index as a literal map expression (codegen'd element_at;
    # the query set is driver-resident by construction, so no UDF and no
    # extra join)
    qidx_map = F.create_map(
        *[F.lit(x) for qid, i in qid_of_idx.items() for x in (qid, i)])
    probes = probes.withColumn("qidx", qidx_map[F.col("qid")])

    cand = (
        assigned.select("vec_id", "cid", "codes")
        .join(F.broadcast(probes), "cid")
        .filter(F.col("vec_id") != F.col("qid"))
        .withColumn("adc",
                    pq_adc_score_at_udf(luts)(F.col("codes"), F.col("qidx")))
    )
    short = (rank_per_query(cand, F.col("adc").desc(), shortlist)
             .select("qid", "vec_id"))
    return rerank_shortlist(short, corpus, qv, k)
