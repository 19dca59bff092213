"""Landing-zone ingestion: schema-on-read JSON -> validated audit rows.

The reference's write path is an HTTP middleware that captures request and
response payloads as JSON objects into S3
(``src/middleware/audit.middleware.ts:44-61,74-83``), and a Lambda that
plucks typed fields back out of the untyped JSON
(``src/lambda/processQueue.ts:114-129``).  Spark-first, the landing
directory of JSON files IS the stream entering the system (O-1); the
Lambda's field-pluck becomes an explicit-schema read + projection (O-12);
its per-record try/catch side channel (O-27,
``processQueue.ts:55-66``) becomes PERMISSIVE corrupt-record capture plus
a quarantine split (O-14).

Explicit schemas matter doubly at scale: they skip the schema-inference
pre-scan (a full extra pass over 100 TB) and make malformed records a
*column* (`_corrupt`) instead of a job failure.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CORRUPT_COL = "_corrupt"

# A.2: request payload (audit.middleware.ts:44-61) — nested map headers,
# array-of-struct files, arbitrary-JSON body kept as raw string.
REQUEST_SCHEMA = T.StructType([
    T.StructField("transactionId", T.StringType()),
    T.StructField("timestamp", T.StringType()),       # ISO-8601; cast in project
    T.StructField("method", T.StringType()),
    T.StructField("url", T.StringType()),
    T.StructField("headers", T.MapType(T.StringType(), T.StringType())),
    T.StructField("body", T.StringType()),            # untyped JSON: parse on demand
    T.StructField("query", T.MapType(T.StringType(), T.StringType())),
    T.StructField("files", T.ArrayType(T.StructType([
        T.StructField("key", T.StringType()),
        T.StructField("originalName", T.StringType()),
    ]))),
    T.StructField("appId", T.StringType()),
    T.StructField("workflowId", T.StringType()),
    T.StructField("action", T.StringType()),
    T.StructField(CORRUPT_COL, T.StringType()),
])

# A.3: response payload (audit.middleware.ts:74-83).
RESPONSE_SCHEMA = T.StructType([
    T.StructField("transactionId", T.StringType()),
    T.StructField("timestamp", T.StringType()),
    T.StructField("statusCode", T.IntegerType()),
    T.StructField("headers", T.MapType(T.StringType(), T.StringType())),
    T.StructField("body", T.StringType()),
    T.StructField("appId", T.StringType()),
    T.StructField("workflowId", T.StringType()),
    T.StructField("action", T.StringType()),
    T.StructField(CORRUPT_COL, T.StringType()),
])


def read_landing(spark: SparkSession, path: str, schema: T.StructType,
                 streaming: bool = False) -> DataFrame:
    """O-1: JSON landing-zone source, batch or streaming, explicit schema.

    PERMISSIVE + corrupt-record column: a malformed file never kills the
    job; it flows to quarantine (O-27)."""
    reader = spark.readStream if streaming else spark.read
    return (
        reader.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def rejected() -> Column:
    """O-14: the reject predicate — corrupt JSON, or a record missing the
    required transaction id (the middleware's 400 path,
    ``audit.middleware.ts:22-26``)."""
    return F.col(CORRUPT_COL).isNotNull() | F.col("transactionId").isNull()


def validate_split(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """O-14 + O-27: (valid, quarantined).  Rejected rows keep every column
    so the quarantine sink preserves evidence."""
    bad = rejected()
    return df.filter(~bad), df.filter(bad)


def s3_style_key(ts_col: str, txn_col: str, leaf: str) -> F.Column:
    """O-38 key construction: ``audit/{yyyy-MM-dd}/{txn}/{leaf}``
    (``src/services/s3.service.ts:33-34``)."""
    return F.concat_ws(
        "/", F.lit("audit"), F.date_format(F.col(ts_col), "yyyy-MM-dd"),
        F.col(txn_col), F.lit(leaf),
    )


def project_requests(df: DataFrame) -> DataFrame:
    """O-12 request branch: pluck + cast the audit columns
    (``processQueue.ts:114-124``); endpoint <- url, string -> timestamp."""
    ts = F.to_timestamp(F.col("timestamp")).cast("timestamp_ntz")
    return df.select(
        F.col("transactionId").alias("transaction_id"),
        F.col("appId").alias("app_id"),
        F.col("url").alias("endpoint"),
        F.col("workflowId").alias("workflow_id"),
        F.col("action"),
        ts.alias("timestamp"),
        s3_style_key("timestamp", "transactionId", "request.json").alias("request_s3_key"),
    )


def project_responses(df: DataFrame) -> DataFrame:
    """O-12 response branch (``processQueue.ts:125-129``)."""
    ts = F.to_timestamp(F.col("timestamp")).cast("timestamp_ntz")
    return df.select(
        F.col("transactionId").alias("transaction_id"),
        F.col("statusCode").alias("status_code"),
        ts.alias("response_ts"),
        s3_style_key("timestamp", "transactionId", "response.json").alias("response_s3_key"),
    )


def classify_by_key(df: DataFrame, key_col: str = "key") -> DataFrame:
    """O-13: request/response discriminator from the object key
    (``processQueue.ts:113`` — ``key.includes('request.json')``)."""
    return df.withColumn(
        "record_type",
        F.when(F.col(key_col).contains("request.json"), F.lit("request"))
        .otherwise(F.lit("response")),
    )
