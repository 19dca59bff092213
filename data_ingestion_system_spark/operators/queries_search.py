"""Declared queries: the reference's search + stats surface on `events`.

Mapping (FIXTURES.md §C): the `events` table plays the `api_audit` role —
event_id≈transaction_id, user_id≈app_id, event_type≈action, value≈status,
ts≈timestamp, props≈payload body.  The six filter combinations mirror the
reference's own smoke matrix (``src/scripts/test-search.ts:4-11``) plus the
no-filter full scan and the JSON-payload predicate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_system_spark.catalog import Catalog
from data_ingestion_system_spark.operators.search import search
from data_ingestion_system_spark.registry import register

_PROJ = ["event_id", "ts", "user_id", "event_type", "value", "props"]

# Shared oracle skeleton for the search family (O-10/11/19/20,
# audit.services.ts:148-163): project, ORDER BY ts DESC, deterministic
# event_id DESC tiebreak, LIMIT 100.
_SEARCH_ORACLE = """
SELECT event_id, ts, user_id, event_type, value, props
FROM events
{where}
ORDER BY ts DESC NULLS LAST, event_id DESC
LIMIT 100
"""


def _search(spark: SparkSession, sf_dir: str, filters: dict) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    return search(cat.events, filters, project=_PROJ,
                  order_col="ts", tiebreak_col="event_id", limit=100)


@register("search_scan", _SEARCH_ORACLE.format(where=""))
def search_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-10 (zero filters) + O-11 + O-19 + O-20: full-scan top-100."""
    return _search(spark, sf_dir, {})


@register("search_app", _SEARCH_ORACLE.format(where="WHERE user_id = 7"))
def search_app(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single equality filter (appId case, test-search.ts:5)."""
    return _search(spark, sf_dir, {"user_id": 7})


@register("search_action", _SEARCH_ORACLE.format(where="WHERE event_type = 'purchase'"))
def search_action(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single equality filter (action/workflow case, test-search.ts:7)."""
    return _search(spark, sf_dir, {"event_type": "purchase"})


@register("search_app_action",
          _SEARCH_ORACLE.format(where="WHERE user_id = 7 AND event_type = 'click'"))
def search_app_action(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-filter conjunction (appId+workflowId case, test-search.ts:9)."""
    return _search(spark, sf_dir, {"user_id": 7, "event_type": "click"})


@register("search_txn", _SEARCH_ORACLE.format(where="WHERE event_id = 42"))
def search_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup by transaction id (test-search.ts:10)."""
    return _search(spark, sf_dir, {"event_id": 42})


@register("search_time_range", _SEARCH_ORACLE.format(
    where="WHERE ts >= TIMESTAMP '2024-01-08 00:00:00' "
          "AND ts < TIMESTAMP '2024-01-15 00:00:00' "
          "AND event_type = 'purchase'"))
def search_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range + equality conjunction: the reference's `idx_timestamp`
    B-tree use case (setup-db.ts:77) re-expressed as parquet min/max
    row-group skipping.  The range is applied in the storage domain
    (raw nanos, ``Catalog.events_between``) so both bounds reach the scan
    as pushable long comparisons — filtering the *converted* timestamp
    would wrap the column in an expression and push nothing."""
    cat = Catalog(spark, sf_dir)
    bounded = cat.events_between("2024-01-08", "2024-01-15").filter(
        F.col("event_type") == "purchase")
    return search(bounded, {}, project=_PROJ,
                  order_col="ts", tiebreak_col="event_id", limit=100)


@register("search_prefix", _SEARCH_ORACLE.format(
    where="WHERE event_type LIKE 'c%' OR event_type LIKE 's%'"))
def search_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-40 startswith as a search predicate: prefix matches compile to
    `StringStartsWith` pushed filters, which parquet answers from
    dictionary/min-max stats — unlike contains/suffix predicates, which
    must scan.  (The reference uses startsWith only for route dispatch,
    app.ts:23; here it's first-class.)"""
    cat = Catalog(spark, sf_dir)
    pred = (F.col("event_type").startswith("c")
            | F.col("event_type").startswith("s"))
    return (
        cat.events.filter(pred).select(*_PROJ)
        .orderBy(F.col("ts").desc_nulls_last(), F.col("event_id").desc())
        .limit(100)
    )


@register("agg_value_histogram", """
SELECT CAST(floor(value / 25) AS BIGINT) AS bucket,
       count(*) AS n, round(avg(value), 4) AS avg_value
FROM events GROUP BY bucket
""")
def agg_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram: bucket id computed map-side, one grouped
    agg — the O(1)-memory alternative to exact percentiles for
    distribution dashboards."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.events
        .groupBy(F.floor(F.col("value") / 25).alias("bucket"))
        .agg(F.count("*").alias("n"),
             F.round(F.avg("value"), 4).alias("avg_value"))
    )


@register("agg_geomean_udaf", """
SELECT event_type,
       round(exp(avg(ln(CASE WHEN value > 0 THEN value END))), 4) AS geo_mean,
       count(*) AS n
FROM events GROUP BY event_type
""")
def agg_geomean_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregate via Arrow-batched GROUPED_AGG pandas UDF
    (functions/udaf.py) — the UDAF surface the reference lacks entirely
    (SURVEY.md §2.12).  The oracle is the decomposed built-in form
    exp(avg(ln x) over the positive subset — sf0.1 contains zero
    values); agreement to 4 decimals also regression-checks the UDAF
    against the shuffle-light rewrite hot paths should use."""
    from data_ingestion_system_spark.functions.udaf import (
        geometric_mean,
        n_values,
    )

    cat = Catalog(spark, sf_dir)
    return cat.events.groupBy("event_type").agg(
        F.round(geometric_mean("value"), 4).alias("geo_mean"),
        n_values("value").alias("n"),
    )


@register("search_json_payload", """
SELECT event_id, ts, user_id, event_type, value,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS payload_k
FROM events
WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) = 7
ORDER BY ts DESC NULLS LAST, event_id DESC
LIMIT 100
""")
def search_json_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-41 schema-on-read JSON predicate over the payload column — the
    Spark analogue of the Lambda's field-pluck from untyped JSON
    (``src/lambda/processQueue.ts:114-129``)."""
    cat = Catalog(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        cat.events
        .withColumn("payload_k", k)
        .filter(F.col("payload_k") == 7)
        .select("event_id", "ts", "user_id", "event_type", "value", "payload_k")
        .orderBy(F.col("ts").desc_nulls_last(), F.col("event_id").desc())
        .limit(100)
    )


@register("search_count", """
SELECT user_id, count(*) AS n
FROM events
WHERE event_type = 'error'
GROUP BY user_id
""")
def search_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-21 count: the `{count: results.length}` / per-batch metric counts
    (``audit.routes.ts:47``, ``processQueue.ts:260-269``) as a grouped count."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.events.filter(F.col("event_type") == "error")
        .groupBy("user_id").agg(F.count("*").alias("n"))
    )


@register("bench_stats", """
SELECT count(*) AS n,
       round(avg(value), 4) AS avg_value,
       round(min(value), 4) AS min_value,
       round(max(value), 4) AS max_value,
       round(quantile_cont(value, 0.95), 4) AS p95_value,
       round(quantile_cont(value, 0.99), 4) AS p99_value
FROM events
""")
def bench_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-22/O-23: avg/min/max + p95/p99 summary — the reference benchmark's
    latency statistics (``src/scripts/benchmark.ts:39-54``) over `value`.

    Exact `percentile` (linear interpolation) matches DuckDB's
    quantile_cont; both sides round to 4 decimals for hash stability."""
    cat = Catalog(spark, sf_dir)
    return cat.events.agg(
        F.count("*").alias("n"),
        F.round(F.avg("value"), 4).alias("avg_value"),
        F.round(F.min("value"), 4).alias("min_value"),
        F.round(F.max("value"), 4).alias("max_value"),
        F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95_value"),
        F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99_value"),
    )


_CURSOR_TS = "2024-01-15 00:00:00"
_CURSOR_ID = 500_000


@register("search_keyset_page", _SEARCH_ORACLE.format(
    where=f"WHERE event_type = 'purchase' AND (ts, -event_id) < "
          f"(TIMESTAMP '{_CURSOR_TS}', -{_CURSOR_ID})"))
def search_keyset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset (cursor) pagination of the flagship search: the next page
    after cursor (ts, event_id) in (ts DESC, event_id DESC) order is
    WHERE (ts, -event_id) < (cursor_ts, -cursor_id) — a pure range
    predicate that reaches the parquet scan via its implied ts <=
    cursor envelope, so page N touches only row groups at or below the
    cursor.  The OFFSET alternative scans and discards N*page_size rows
    per request — quadratic total work across a paging session and the
    classic API-pagination scale bug; keyset pages are O(page) each at
    any depth.  The cursor is a (ts, id) tuple so rows sharing the
    cursor timestamp are neither skipped nor repeated across pages."""
    cat = Catalog(spark, sf_dir)
    cur_ts = F.lit(_CURSOR_TS).cast("timestamp_ntz")
    after_cursor = (F.col("ts") < cur_ts) | (
        (F.col("ts") == cur_ts) & (F.col("event_id") < F.lit(_CURSOR_ID)))
    return (
        cat.events
        .filter((F.col("event_type") == "purchase") & after_cursor)
        .select(*_PROJ)
        .orderBy(F.col("ts").desc_nulls_last(), F.col("event_id").desc())
        .limit(100)
    )


_ASOF_SQL = """
SELECT user_id,
       count(*) AS n_clicks,
       round(sum(value), 6) AS sum_value
FROM events
WHERE event_type = 'click'
GROUP BY user_id
HAVING count(*) >= 3
ORDER BY user_id
"""


@register("search_versioned_asof", _ASOF_SQL)
def search_versioned_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel search over a VERSIONED snapshot table
    (sources/versioned.py) — the "which exact rows did run X see?"
    primitive exercised on the search surface itself (r6 verdict #6).

    Setup (cached per sf_dir, rebuilt when the source parquet changes):
    v1 commits the full events table through the snapshot log; v2
    overwrites it with all click events dropped — the destructive
    deploy that makes history matter.  The query then searches AS OF
    v1: the head would answer ZERO click rows, but the pinned version
    resolves v1's immutable directories and returns exactly the
    original data, which is why the ORACLE is plain SQL over the
    events view — time travel is correct iff the v1 read is
    bit-identical to the source of truth it snapshotted.

    Scale shape: version resolution is one driver-side record read
    (never a data scan); the as-of read IS a plain multi-path parquet
    scan, so the filter pushes down and columns prune exactly as on
    the raw table — history costs nothing at read time.  The agg is
    one map-combined shuffle on user_id."""
    from data_ingestion_system_spark.sources.versioned import read_snapshot

    root = _versioned_events_root(spark, sf_dir)
    return (
        read_snapshot(spark, root, version=1)
        .filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_clicks"),
             F.round(F.sum("value"), 6).alias("sum_value"))
        .filter(F.col("n_clicks") >= 3)
        .orderBy("user_id")
    )


def _versioned_events_root(spark: SparkSession, sf_dir: str) -> str:
    """The two-version events table both versioned queries read, built
    once per fixture content as a Catalog.derived_root: v1 = the full
    events table committed through the snapshot log, v2 = an overwrite
    with every click event dropped (the destructive deploy)."""
    from data_ingestion_system_spark.sources.versioned import commit_snapshot

    cat = Catalog(spark, sf_dir)

    def build(staging: str) -> None:
        commit_snapshot(cat.events, staging)                           # v1
        commit_snapshot(
            cat.events.filter(F.col("event_type") != "click"),
            staging)                                                   # v2

    return cat.derived_root("events", "versioned-events", build)


_DIFF_SQL = """
SELECT 'removed' AS change, event_type,
       count(*) AS n_rows,
       count(DISTINCT user_id) AS n_users,
       min(event_id) AS min_event_id,
       max(event_id) AS max_event_id
FROM events
WHERE event_type = 'click'
GROUP BY event_type
ORDER BY event_type
"""


@register("versioned_diff", _DIFF_SQL)
def versioned_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff audit: WHAT did the deploy change?  Runs
    sources/versioned.py::snapshot_diff between v1 (full events) and
    v2 (clicks dropped) of the shared versioned table and summarizes
    the changed rows per (change, event_type).

    The diff exploits the log's structural sharing: directories listed
    by BOTH versions are immutable and identical, so each side's scan
    prunes to the dirs unique to that version before the key
    anti-join — after an append the removed side scans nothing; here
    (an overwrite) both sides scan once, key-partitioned.  The oracle
    is plain SQL over the source table because v1 \\ v2 is exactly the
    click rows and v2 \\ v1 is empty — the diff is correct iff it
    reconstructs that set precisely from the two snapshots alone."""
    from data_ingestion_system_spark.sources.versioned import snapshot_diff

    root = _versioned_events_root(spark, sf_dir)
    return (
        snapshot_diff(spark, root, 1, 2, ["event_id"])
        .groupBy("change", "event_type")
        .agg(F.count("*").alias("n_rows"),
             F.countDistinct("user_id").alias("n_users"),
             F.min("event_id").alias("min_event_id"),
             F.max("event_id").alias("max_event_id"))
        .orderBy("change", "event_type")
    )
