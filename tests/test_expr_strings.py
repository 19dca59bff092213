"""r9 optimization guard: the F.expr-string forms of the hot expression
builders (introduced to kill py4j Column-construction chatter — ~80s of
pure driver time across the bench) must be VALUE-IDENTICAL to
independent references.  Results feed bit-exact oracle hashes, so
equality here is exact, not approximate."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from data_ingestion_system_spark.functions.vectors import (
    cosine,
    cosine_fixed,
    dot,
    dot_fixed,
)


def _vec_rows():
    return [(i, [((i * 7 + j * 13) % 19) / 7.0 - 1.3 for j in range(8)],
             [((i * 5 + j * 11) % 17) / 5.0 - 1.1 for j in range(8)])
            for i in range(40)]


def _vec_df(spark):
    return spark.createDataFrame(
        _vec_rows(), "id long, a array<double>, b array<double>")


def _py_dot(a, b):
    """Plain-Python left fold, the order DuckDB's list_dot_product uses."""
    acc = a[0] * b[0]
    for x, y in zip(a[1:], b[1:]):
        acc = acc + x * y
    return acc


def _same(g, w):
    return g == w or (math.isnan(g) and math.isnan(w))


def test_dot_fixed_string_matches_column_form(spark):
    """The unrolled string form equals the higher-order Column form
    (``dot``: the same left fold) and a plain-Python fold, bit for bit."""
    df = _vec_df(spark)
    got = df.orderBy("id").select(dot_fixed("a", "b", 8).alias("d")).collect()
    want = df.orderBy("id").select(
        dot(F.col("a"), F.col("b")).alias("d")).collect()
    assert [r.d for r in got] == [r.d for r in want]  # exact bits
    assert [r.d for r in got] == [_py_dot(a, b) for _, a, b in _vec_rows()]


def test_cosine_fixed_string_matches_column_form(spark):
    df = _vec_df(spark)
    got = df.orderBy("id").select(
        cosine_fixed("a", "b", 8).alias("c")).collect()
    want = df.orderBy("id").select(
        cosine(F.col("a"), F.col("b")).alias("c")).collect()
    py = [_py_dot(a, b) / (math.sqrt(_py_dot(a, a)) * math.sqrt(_py_dot(b, b)))
          for _, a, b in _vec_rows()]
    for g, w, p in zip(got, want, py):
        assert _same(g.c, w.c) and _same(g.c, p)


def test_minhash_signatures_expr_strings(spark):
    """The expr-string aggregates hash the same (seed, shingle) inputs
    the Column form did: min(xxhash64(<int literal i>, sh))."""
    from data_ingestion_system_spark.operators.dedup import (
        minhash_signatures,
    )

    sh = spark.createDataFrame(
        [(d, s) for d in range(5) for s in range(d + 3)],
        "doc_id long, sh long")
    got = {r.doc_id: [r[f"h{i}"] for i in range(4)]
           for r in minhash_signatures(sh, num_perm=4).collect()}
    want = {r.doc_id: [r[f"h{i}"] for i in range(4)]
            for r in sh.groupBy("doc_id").agg(*[
                F.min(F.xxhash64(F.lit(i), F.col("sh"))).alias(f"h{i}")
                for i in range(4)]).collect()}
    assert got == want


def test_simhash_expr_strings_match_column_form(spark):
    """simhash64's vote aggregates + packed-OR signature, expr-string vs
    the replaced Column loop, bit-for-bit."""
    from data_ingestion_system_spark.operators.dedup import simhash64

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma alpha"), (2, "beta beta delta"),
         (3, "Gamma  ALPHA beta")],
        "doc_id long, text string")
    got = {r.doc_id: r.simhash for r in simhash64(
        docs, "doc_id", "text", portable=True).collect()}

    # reference: the pre-r9 Column-object construction
    n_bits = 60
    toks = docs.select(
        F.col("doc_id"),
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
        .alias("tok"))
    th = F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("long")
    counted = (toks.withColumn("th", th)
               .groupBy("doc_id", "th").agg(F.count("*").alias("cnt")))
    votes = counted.groupBy("doc_id").agg(*[
        F.sum(F.when(F.shiftright(F.col("th"), i).bitwiseAND(F.lit(1)) == 1,
                     F.col("cnt")).otherwise(-F.col("cnt"))).alias(f"v{i}")
        for i in range(n_bits)])
    sig = F.lit(0).cast("long")
    for i in range(n_bits):
        sig = sig.bitwiseOR(
            F.when(F.col(f"v{i}") > 0,
                   F.shiftleft(F.lit(1).cast("long"), i))
            .otherwise(F.lit(0).cast("long")))
    want = {r.doc_id: r.simhash
            for r in votes.select("doc_id", sig.alias("simhash")).collect()}
    assert got == want
