"""Similarity search over an embedding column (north-star ops).

Two strategies:

* **brute force** — broadcast the (small) query set against every
  vector: one scan, cosine in codegen, per-query top-k via window.
  Exact; cost linear in corpus x queries.  The right answer when the
  query set is small, even at 100 TB (the scan is embarrassingly
  parallel and never shuffles the corpus).
* **multi-table SRP-LSH ANN** — L independent sign-random-projection
  hash tables of b bits each, computed in ONE vectorized Pandas UDF
  (a single numpy matmul per Arrow batch against the stacked
  ``L*b x dim`` plane matrix).  Candidates = union over tables of the
  query's bucket, deduped, then exact cosine + rank on the survivors.
  This is the 100 TB path when the query set is large: bucket
  assignment is a map-only pass over the corpus, and the (table,
  bucket) equi-join with the broadcast query side replaces the cross
  product.  Recall/cost is tuned by (L, b): more tables -> higher
  recall, more candidates; more bits -> smaller buckets.  A per-vector
  collision with a true neighbor at angle theta happens with
  probability 1-(1-(1-theta/pi)^b)^L.

The hyperplanes are derived deterministically (seeded RNG) so results
are reproducible run to run.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
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


def topk_bruteforce(corpus: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Exact cosine top-k: broadcast queries x full corpus, window rank.

    corpus: (vec_id, embedding); queries: (qid, qv).
    """
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("qid"))
        .withColumn("cos_raw", cosine_fixed("qv", "embedding", DIM))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_raw").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", "vec_id", F.round("cos_raw", 6).alias("cosine"), "rnk")
    )


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
    probes = queries.withColumn(
        "cids", ivf_assign_udf(centroids, nprobe)(F.col("qv"))
    ).select("qid", "qv", F.explode("cids").alias("cid"))
    scored = (
        assigned.join(F.broadcast(probes), "cid")
        .filter(F.col("vec_id") != F.col("qid"))
        .withColumn("cos_raw", cosine_fixed("qv", "embedding", DIM))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_raw").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", "vec_id", F.round("cos_raw", 6).alias("cosine"), "rnk")
    )


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
    scored = cand.withColumn("cos_raw", cosine_fixed("qv", "embedding", DIM))
    w = Window.partitionBy("qid").orderBy(F.col("cos_raw").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", "vec_id", F.round("cos_raw", 6).alias("cosine"), "rnk")
    )


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


def query_luts(queries_rows, codebook: np.ndarray) -> np.ndarray:
    """(n_queries, m, ks) LUT stack for a driver-resident query set."""
    m, ks, d_sub = codebook.shape
    luts = np.empty((len(queries_rows), m, ks))
    for i, (_qid, qv) in enumerate(queries_rows):
        q = np.asarray(qv, dtype=np.float64)
        q = q / max(np.linalg.norm(q), 1e-12)
        for j in range(m):
            luts[i, j] = codebook[j] @ q[j * d_sub:(j + 1) * d_sub]
    return luts


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
    spark = corpus.sparkSession
    if codebook is None:
        codebook = train_pq_codebook(corpus)
    q_rows = [(r[0], list(r[1])) for r in queries.select("qid", "qv").collect()]
    q_rows.sort(key=lambda r: r[0])
    luts = query_luts(q_rows, codebook)
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
    w = Window.partitionBy("qid").orderBy(F.col("adc").desc(), F.col("vec_id"))
    short = (adc.withColumn("srnk", F.row_number().over(w))
             .filter(F.col("srnk") <= shortlist)
             .select("qid", "vec_id"))

    # exact re-rank of the shortlist against the raw vectors
    qv = spark.createDataFrame(q_rows, "qid long, qv array<double>")
    rer = (
        short.join(corpus.select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(qv), "qid")
        .withColumn("cos_raw", cosine_fixed("qv", "embedding", DIM))
    )
    w2 = Window.partitionBy("qid").orderBy(F.col("cos_raw").desc(), F.col("vec_id"))
    return (
        rer.withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= k)
        .select("qid", "vec_id", F.round("cos_raw", 6).alias("cosine"), "rnk")
    )


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
    spark = corpus.sparkSession
    if codebook is None:
        codebook = train_pq_codebook(corpus)
    q_rows = [(r[0], list(r[1])) for r in queries.select("qid", "qv").collect()]
    q_rows.sort(key=lambda r: r[0])
    luts = query_luts(q_rows, codebook)
    qid_of_idx = {qid: i for i, (qid, _) in enumerate(q_rows)}

    assigned = corpus.withColumn(
        "cid", ivf_assign_udf(centroids, 1)(F.col("embedding"))[0]
    ).withColumn("codes", pq_encode_udf(codebook)(F.col("embedding")))

    probes = queries.withColumn(
        "cids", ivf_assign_udf(centroids, nprobe)(F.col("qv"))
    ).select("qid", F.explode("cids").alias("cid"))
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
    w = Window.partitionBy("qid").orderBy(F.col("adc").desc(), F.col("vec_id"))
    short = (cand.withColumn("srnk", F.row_number().over(w))
             .filter(F.col("srnk") <= shortlist)
             .select("qid", "vec_id"))

    qv = spark.createDataFrame(q_rows, "qid long, qv array<double>")
    rer = (
        short.join(corpus.select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(qv), "qid")
        .withColumn("cos_raw", cosine_fixed("qv", "embedding", DIM))
    )
    w2 = Window.partitionBy("qid").orderBy(F.col("cos_raw").desc(), F.col("vec_id"))
    return (
        rer.withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= k)
        .select("qid", "vec_id", F.round("cos_raw", 6).alias("cosine"), "rnk")
    )
