"""Anchor the two standalone demonstrators: the pandas geomean UDAF must
give the values of the built-in decomposition ``exp(avg(ln(v)))`` the
oracle uses, and the key-based record classifier must mirror the
reference's `key.includes()` rule."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_geomean_builtin_matches_udaf(spark):
    # udaf.py defines pandas UDFs at module level, which needs the
    # session up — import inside the test
    from data_ingestion_system_spark.functions.udaf import geometric_mean

    df = spark.createDataFrame(
        [("a", float(v)) for v in (1, 2, 4, 8)] +
        [("b", float(v)) for v in (3, 9, 27)],
        "k string, v double")
    udaf = {r.k: round(r.g, 10) for r in
            df.groupBy("k").agg(geometric_mean(F.col("v")).alias("g")).collect()}
    assert udaf["a"] == round(2.8284271247461903, 10)  # (1*2*4*8)^(1/4)
    assert udaf["b"] == 9.0


def test_classify_by_key_request_response(spark):
    from data_ingestion_system_spark.sources.ingest import classify_by_key

    df = spark.createDataFrame(
        [("audit/2024-03-01/t1/request.json",),
         ("audit/2024-03-01/t1/response.json",),
         ("audit/2024-03-01/t2/other.bin",)],
        "key string")
    got = {r.key.rsplit("/", 1)[1]: r.record_type
           for r in classify_by_key(df).collect()}
    assert got == {"request.json": "request",
                   "response.json": "response",
                   "other.bin": "response"}  # reference defaults non-request
